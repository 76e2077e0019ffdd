package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Caches, Session, SparkEntry, Tables}
import graft.etl.{CsvIngest, Pipeline, Schemas, Sinks}
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What each workload runs. The query workload reads a generated
  * dataset; the seed permutes its op order each pass. The ETL workload's
  * CSV is generated from the seed itself.
  */
object Workloads {
  /** The query dataset is fixed, so its expected digests can be
    * stored with the benchmark. Changing either value means re-recording
    * `expected/ops.json`. At scale 0.02 lineitem has 119,240 rows in one
    * row group, enough for `Tables` to repair its layout during set-up.
    */
  val dataSeed: Long = 20261017L
  val scale: Gen.Scale = Gen.Scale(0.02, 500, 500)

  def tablesDir(data: String): String = new File(data, s"tables_${scale.tag}").getPath
  val etlRows: Int = 150000

  /** Consumers of per-JVM derived artifacts (cluster labels, IVF
    * centroids, BPE merges, the co-purchase pair and triangle indexes,
    * the corpus card's inputs, the time-sliced event files a multi-batch
    * streaming twin reads), built once per JVM by whichever consumer
    * runs first. Each was chosen because its warm cost is small next to
    * its cold one, so the builds dominate the cold pass while a warm
    * pass stays short (METRICS.md lists the measured costs). The
    * streaming twin is also the benchmark's only path through
    * `graft.streaming`.
    */
  val derivedCold: Seq[String] = Seq(
    "dedup_cluster_components", "dedup_cluster_stats", "dedup_embedding", "text_bpe_tokenize",
    "basket_pairs", "graph_clustering_coeff", "pipeline_corpus_card", "stream_sessionize_mb")

  def ops(w: String): Seq[String] = w match {
    case "derived_cold" => derivedCold
    case "etl_reference" => Nil
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def tables(w: String): Seq[String] = if (w == "etl_reference") Nil else Gen.tableNames
}

object Main {

  private def parse(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq.drop(1))
    args.headOption match {
      case Some("gen") => gen(a)
      case Some("run") => new Run(a).apply()
      case Some("record") => record(a)
      case _ =>
        System.err.println("usage: Main gen|run|record --key value ...")
        sys.exit(2)
    }
  }

  private def secsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, secsSince(t))
  }

  /** Seconds since this JVM started. */
  def uptimeS(): Double = {
    val rt = ManagementFactory.getRuntimeMXBean
    (System.currentTimeMillis() - rt.getStartTime) / 1e3
  }

  /** Generates whatever inputs are named: the query dataset (once per
    * checkout; skipped when its marker is present) and the seed's CSV.
    */
  private def gen(a: Map[String, String]): Unit = {
    a.get("data").map(d => new File(Workloads.tablesDir(d))).filterNot(d => new File(d, "_DONE").exists()).foreach { d =>
      val spark = SparkSession.builder().master("local[4]").appName("graftbench-gen")
        .config("spark.ui.enabled", "false").getOrCreate()
      try Gen.writeTables(spark, d, Workloads.dataSeed, Workloads.scale)
      finally spark.stop()
    }
    a.get("csv").foreach { c =>
      Gen.writeListings(new File(c), new File(a("expected")), a("seed").toLong, Workloads.etlRows)
    }
  }

  /** Runs every query op once and stores its result digest. Digests are
    * recorded from one commit and checked on every later run.
    */
  private def record(a: Map[String, String]): Unit = {
    val spark = Session.local()
    val dir = Workloads.tablesDir(a("data"))
    val ds = Workloads.derivedCold.map { n =>
      val (d, s) = timed(Check.digest(SparkEntry.queries(n)(spark, dir)))
      Caches.releaseAll(); spark.catalog.clearCache()
      System.err.println(Json.fmt("[record] %-28s %8.3f s %8d rows", n, s, d.rows))
      n -> d
    }
    Check.writeDigests(new File(a("out")), Workloads.scale.tag, ds)
    spark.stop()
  }
}

/** One pass: its wall time, each op's wall time, and (traced) its layer values. */
final case class PassStat(idx: Int, traced: Boolean, wall: Double,
                          opWalls: Seq[(String, Double)], layer: Map[String, Double])

/** One measured run of one workload in a fresh JVM. */
final class Run(a: Map[String, String]) {
  import Main.{timed, uptimeS}

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val out = new File(a("out"))
  private val dir = a.get("data").map(Workloads.tablesDir).getOrElse("")
  private val ops = Workloads.ops(workload)

  private val tracer = new Tracer(a("nonce"), System.nanoTime())
  private val meter = new Meter
  private val outcome = new Outcome

  private lazy val spark: SparkSession = Session.local()

  private def fail(msg: String): Unit = outcome.fail(msg)

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(Gen.mix(seed, 30, pass.toLong)).shuffle(ops)

  private def drained[A](body: => A): A = { BenchBus.drain(spark.sparkContext); body }

  /** Runs `body` as one pass, with the listener installed when traced. */
  private def withMeter[A](on: Boolean)(body: => A): (A, Map[String, Double]) =
    if (!on) (body, Map.empty)
    else {
      drained(meter.reset())
      spark.sparkContext.addSparkListener(meter)
      try {
        val r = body
        drained(())
        val c = meter.synchronized(meter.c.toMap.withDefaultValue(0.0))
        val b = meter.synchronized(meter.batchS.toSeq)
        (r, Map(
          "spark.jobs" -> c("jobs"), "spark.stages" -> c("stages"), "spark.tasks" -> c("tasks"),
          "spark.task_cpu_s" -> c("task_cpu_s"),
          "spark.shuffle_write_bytes" -> c("shuffle_write_bytes"),
          "spark.shuffle_read_bytes" -> c("shuffle_read_bytes"),
          "spark.shuffle_fetch_wait_s" -> c("shuffle_fetch_wait_s"),
          "spark.spill_bytes" -> c("spill_bytes"), "spark.task_skew" -> meter.taskSkew,
          "ingest.parse_s" -> meter.csvParseS,
          "stream.batches" -> c("stream_batches"),
          "stream.batch_s_p50" -> (if (b.isEmpty) 0.0 else Stats.median(b)),
          "stream.batch_s_sum" -> b.sum,
          "stream.state_rows" -> meter.synchronized(meter.lastStateRows.values.sum.toDouble),
          "stream.state_commit_s" -> c("stream_commit_s"),
          "stream.late_dropped" -> c("stream_late_dropped")))
      } finally spark.sparkContext.removeSparkListener(meter)
    }

  // ------------------------------------------------------------------
  // query workloads
  // ------------------------------------------------------------------

  private lazy val expectedDigests = Check.readDigests(new File(a("expected")))

  /** One pass over the workload's ops in the seed's order for this pass.
    * Every execution's result digest is compared with the stored one;
    * a wrong result counts as a failed op.
    */
  private def queryPass(idx: Int, on: Boolean): PassStat = {
    tracer.enabled = on
    val walls = mutable.ArrayBuffer.empty[(String, Double)]
    var plan = 0.0; var exec = 0.0; var ncg = 0.0
    val t = System.nanoTime()
    val (_, m) = withMeter(on) {
      tracer.span("pass", idx.toString) {
        order(idx).foreach { name =>
          outcome.attempt()
          try {
            val t0 = System.nanoTime()
            val (df, got) = tracer.span("op", name) {
              val df = tracer.span("build", name)(SparkEntry.queries(name)(spark, dir))
              if (on) tracer.span("plan", name)(df.queryExecution.executedPlan)
              val (got, e) = timed(tracer.span("execute", name)(Check.digest(df)))
              tracer.count("rows", got.rows.toDouble)
              exec += e
              (df, got)
            }
            walls += name -> (System.nanoTime() - t0) / 1e9
            Check.query(expectedDigests, name, got).foreach(p => fail(s"$p (pass $idx)"))
            if (on) {
              plan += df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
              ncg += PlanShape.nonCodegenOps(df.queryExecution.executedPlan)
            }
          } catch { case NonFatal(e) => fail(s"$name (pass $idx): ${e.getClass.getSimpleName}: ${e.getMessage}") }
          finally { Caches.releaseAll(); spark.catalog.clearCache() }
        }
      }
    }
    val wall = (System.nanoTime() - t) / 1e9
    val streamWall = walls.collect { case (n, w) if n.startsWith("stream_") => w }.sum
    val layer = if (!on) Map.empty[String, Double] else m ++ Map(
      "spark.plan_s" -> plan, "spark.exec_s" -> exec, "spark.non_codegen_ops" -> ncg,
      "spark.cpu_per_wall" -> m("spark.task_cpu_s") / wall,
      "stream.overhead_s" -> (if (m("stream.batches") > 0) streamWall - m("stream.batch_s_sum") else 0.0))
    PassStat(idx, on, wall, walls.toSeq, layer)
  }

  // ------------------------------------------------------------------
  // the reference pipeline
  // ------------------------------------------------------------------

  private lazy val etlExpected = Check.readEtlExpected(new File(a("expected")))
  private lazy val etlOut = new File(out.getParentFile, "etl_out")
  private val aggTable = "graftbench_listings_by_neighbourhood"
  private lazy val listingSchema = Schemas.fromBigQueryJson(Gen.listingSchemaJson)

  private def sinkDirs: Seq[File] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(new File(etlOut, "raw"), new File(etlOut, "dead_letter"), new File(wh, aggTable))
  }

  private def etlPass(idx: Int, on: Boolean): PassStat = {
    tracer.enabled = on
    outcome.attempt()
    val first = tracer.spans.size
    val read0 = localBytesRead()
    val t = System.nanoTime()
    val (counts, m) = withMeter(on) {
      try tracer.span("pass", idx.toString) {
        val (good, dead) = tracer.span("ingest") {
          CsvIngest.deadLetterSplit(CsvIngest.readWithCorrupt(spark, a("csv"), listingSchema))
        }
        def enter(b: String): Unit = {
          if (tracer.openName.contains("branch")) tracer.close()
          tracer.open("branch", b)
        }
        val c = tracer.span("pipeline") {
          val r = Pipeline.from(_ => good)
            .branch("raw") { df => enter("raw"); df } { df =>
              tracer.span("sink", "raw")(Sinks.parquet(df, new File(etlOut, "raw").getPath, Sinks.Truncate))
            }
            .branch("agg") { df =>
              enter("agg")
              df.groupBy(col("neighbourhood"))
                .agg(count(lit(1)).as("n"), sum(col("calculated_host_listings_count")).as("listings"))
            } { df => tracer.span("sink", "agg")(Sinks.table(df, aggTable, Sinks.Truncate)) }
            .branch("dead_letter") { _ => enter("dead_letter"); dead } { df =>
              tracer.span("sink", "dead_letter")(
                Sinks.csv(df, new File(etlOut, "dead_letter").getPath, Sinks.Truncate))
            }
            .run(spark)
          if (tracer.openName.contains("branch")) tracer.close()
          r.foreach { case (b, n) => tracer.count(s"rows.$b", n.toDouble) }
          r
        }
        Caches.releaseAll()
        Some(c)
      } catch { case NonFatal(e) => fail(s"etl pass $idx: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    }
    val wall = (System.nanoTime() - t) / 1e9
    val bytesRead = localBytesRead() - read0
    counts.foreach { c =>
      val p = Check.etlCounts(etlExpected, c)
      if (p.nonEmpty) { fail(s"etl pass $idx: ${p.mkString("; ")}") }
    }
    val layer = if (!on) Map.empty[String, Double] else {
      val mine = tracer.spans.drop(first)
      def dur(name: String, label: String) =
        mine.filter(s => s.name == name && s.label == label).map(s => (s.end - s.start) / 1e9).sum
      val (bytes, files) = sinkDirs.map(Fs.usage).foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
      val csvBytes = etlExpected.bytes.toDouble
      m ++ Map(
        "ingest.dead_letter_rows" -> counts.flatMap(_.get("dead_letter")).getOrElse(-1L).toDouble,
        "pipeline.branch_s.raw" -> dur("branch", "raw"),
        "pipeline.branch_s.agg" -> dur("branch", "agg"),
        "pipeline.branch_s.dead_letter" -> dur("branch", "dead_letter"),
        "pipeline.scan_amplification" -> bytesRead / csvBytes,
        "pipeline.rows_per_s" -> etlExpected.rows / wall,
        "sinks.write_s" -> mine.filter(_.name == "sink").map(s => (s.end - s.start) / 1e9).sum,
        "sinks.bytes_written" -> bytes.toDouble, "sinks.files_written" -> files.toDouble,
        "sinks.out_bytes_per_in_byte" -> bytes / csvBytes,
        "spark.cpu_per_wall" -> m("spark.task_cpu_s") / wall)
    }
    PassStat(idx, on, wall, Seq("pipeline" -> wall), layer)
  }

  /** Bytes read through Hadoop's local file system so far. In an ETL pass
    * the only file input is the CSV (sinks write, the parse cache and
    * shuffles bypass Hadoop), so the difference over a pass is the CSV
    * bytes the pass read.
    */
  @annotation.nowarn("cat=deprecation")
  private def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  /** Reads the sinks back after the last pass and compares them with the
    * generator's expected results.
    */
  private def checkEtl(): Unit = {
    tracer.enabled = false
    val e = etlExpected
    val problems =
      try {
        val groups = spark.table(aggTable).collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val raw = spark.read.parquet(new File(etlOut, "raw").getPath).count()
        val dead = spark.read.option("header", "true").csv(new File(etlOut, "dead_letter").getPath).count()
        Check.etlGroups(e, groups) ++
          (if (raw != e.good) Seq(s"raw sink holds $raw rows, expected ${e.good}") else Nil) ++
          (if (dead != e.malformed) Seq(s"dead-letter sink holds $dead rows, expected ${e.malformed}") else Nil)
      } catch { case NonFatal(x) => Seq(s"etl check: ${x.getClass.getSimpleName}: ${x.getMessage}") }
    if (problems.nonEmpty) fail(problems.take(5).mkString("; "))
  }

  // ------------------------------------------------------------------

  def apply(): Unit = {
    tracer.enabled = traced
    tracer.open("workload", workload)
    val isEtl = workload == "etl_reference"
    val (sessionS, firstAccess) = tracer.span("setup") {
      val (_, s) = timed(tracer.span("session")(spark))
      (s, Workloads.tables(workload).map { t =>
        val (df, s) = timed(tracer.span("table", t)(Tables.apply(spark, dir, t)))
        (t, s, df.inputFiles.length)
      })
    }
    val setupS = uptimeS()
    def catalogTables = spark.catalog.listTables().count()
    val passOf = if (isEtl) etlPass _ else queryPass _
    // every pass's wall and the JIT compile time spent during it, the cold
    // pass first and the warm passes last: shows how far the JIT has
    // settled when timing starts
    val trail = mutable.ArrayBuffer.empty[(Double, Double)]
    def pass(idx: Int, on: Boolean): PassStat = {
      val j0 = jitS()
      val p = passOf(idx, on)
      trail += p.wall -> (jitS() - j0)
      p
    }

    val tablesBefore = catalogTables
    val cold = pass(0, traced)
    val tablesBuilt = catalogTables - tablesBefore
    // untimed warm-up, at least one pass and half the measured window:
    // passes after the cold one get faster for about ten passes while the
    // JIT compiles, and how fast varies from JVM to JVM
    var idx = 1
    val w0 = System.nanoTime()
    while (idx == 1 || (System.nanoTime() - w0) / 1e9 < seconds / 2) { pass(idx, false); idx += 1 }
    val warm = mutable.ArrayBuffer.empty[PassStat]
    val t0 = System.nanoTime()
    // at least two warm passes; in a traced run they alternate traced /
    // untraced so the difference of their medians is the tracing overhead
    while (warm.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      warm += pass(idx, traced && warm.size % 2 == 0)
      idx += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    tracer.close()
    if (isEtl) checkEtl()

    val opWarm = warm.flatMap(_.opWalls.map(_._2)).toSeq
    val warmByOp = warm.flatMap(_.opWalls).groupMap(_._1)(_._2).view.mapValues(v => Stats.median(v.toSeq)).toMap
    val buildS = cold.opWalls.map { case (n, s) => math.max(0.0, s - warmByOp.getOrElse(n, s)) }.sum
    val rssMb = vmHwmMb()
    val jvm = jvmLayer()
    val wallS = uptimeS()
    val cpuS = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

    val e2e: Seq[(String, Double, Int)] = Seq(
      ("setup_s", setupS, 1),
      ("cold_pass_s", cold.wall, 1),
      ("pass_s", Stats.median(warm.map(_.wall).toSeq), warm.size),
      ("op_s_p50", Stats.median(opWarm), opWarm.size),
      ("peak_rss_mb", rssMb, 1))

    val tracedWarm = warm.filter(_.traced).toSeq
    val untracedWarm = warm.filterNot(_.traced).toSeq
    // per-pass layer values: the median over the traced warm passes
    val perPass = tracedWarm.flatMap(_.layer.keys).distinct.map(k =>
      k -> Stats.median(tracedWarm.map(_.layer.getOrElse(k, 0.0))))
    val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val perRun = Seq(
      "session.start_s" -> sessionS,
      "tables.first_access_s" -> firstAccess.map(_._2).sum,
      "tables.scan_splits" -> firstAccess.map(_._3).sum.toDouble,
      "derived.build_s" -> buildS,
      "derived.tables_built" -> tablesBuilt.toDouble,
      "derived.warehouse_bytes" -> Fs.usage(wh)._1.toDouble,
      "trace.overhead_s" -> (if (tracedWarm.isEmpty || untracedWarm.isEmpty) 0.0
        else Stats.median(tracedWarm.map(_.wall)) - Stats.median(untracedWarm.map(_.wall)))
    ) ++ jvm

    // every value this workload measured, by name; the runner picks the
    // ones BENCHMARK.json names and attaches their units
    val metrics: Seq[(String, Double, Int)] =
      if (!traced) e2e
      else (perPass ++ perRun).map { case (k, v) => (k, v, tracedWarm.size) }

    val result = mutable.LinkedHashMap[String, Any](
      "nonce" -> a("nonce"), "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cores" -> spark.sparkContext.defaultParallelism,
      "correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "failed_frac" -> outcome.failedFrac,
      "metrics" -> metrics.map { case (k, v, n) => k -> Map("value" -> v, "n" -> n) }.toMap,
      "detail" -> Map(
        "measured_s" -> measuredS, "warm_passes" -> warm.size,
        "every_pass_s" -> trail.map(_._1), "every_pass_jit_s" -> trail.map(_._2), "cold_ops" -> cold.opWalls.toMap, "warm_op_medians" -> warmByOp,
        "tables" -> firstAccess.map { case (t, s, n) => t -> Map("first_access_s" -> s, "splits" -> n) }.toMap,
        "proc_cpu_s" -> cpuS, "wall_s" -> wallS, "cpu_wall_ratio" -> (if (cpuS >= 0) cpuS / wallS else -1.0),
        "self_s" -> (if (traced) tracer.selfTimes else Map.empty),
        "failures" -> outcome.messages.toSeq))
    if (traced) tracer.writeJsonl(new File(out.getParentFile, "spans.jsonl"))
    val line = Json.render(result)
    java.nio.file.Files.writeString(out.toPath, line)
    println(line)
    spark.stop()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def jitS(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  private def jvmLayer(): Seq[(String, Double)] = {
    val jit = jitS()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    Seq("jvm.jit_s" -> jit, "jvm.gc_s" -> gc, "jvm.heap_peak_mb" -> heap)
  }
}
