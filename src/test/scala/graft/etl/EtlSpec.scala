package graft.etl

import graft.{Caches, SparkTestSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class EtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Schemas parses BigQuery JSON regardless of key order") {
    val st = Schemas.fromBigQueryJson(
      """{"fields": [
        |  {"type": "INTEGER", "name": "id", "mode": "REQUIRED"},
        |  {"name": "name", "mode": "NULLABLE", "type": "STRING"},
        |  {"name": "score", "type": "FLOAT"}
        |]}""".stripMargin)
    assert(st === StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("score", DoubleType))))
  }

  test("Schemas handles braces inside strings and nested RECORDs") {
    val st = Schemas.fromBigQueryJson(
      """{"fields": [
        |  {"name": "weird}", "type": "STRING"},
        |  {"name": "nested", "type": "RECORD", "mode": "REPEATED",
        |   "fields": [{"name": "x", "type": "INTEGER"}]}
        |]}""".stripMargin)
    assert(st.fieldNames.toSeq === Seq("weird}", "nested"))
    assert(st("nested").dataType ===
      ArrayType(StructType(Seq(StructField("x", LongType)))))
  }

  test("Schemas rejects unknown types and empty field lists") {
    intercept[IllegalArgumentException] {
      Schemas.fromBigQueryJson("""{"fields": [{"name": "x", "type": "BLOB"}]}""")
    }
    intercept[IllegalArgumentException] {
      Schemas.fromBigQueryJson("""{"fields": []}""")
    }
  }

  test("CsvIngest round-trips typed rows incl quoted commas") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath,
      "id,name,score\n1,\"a,b\",1.5\n2,plain,2.25\n")
    val df = CsvIngest.readWithJsonSchema(spark, f.getAbsolutePath,
      """{"fields": [
        |  {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
        |  {"name": "name", "type": "STRING"},
        |  {"name": "score", "type": "FLOAT"}
        |]}""".stripMargin)
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows(0).getString(1) === "a,b")
    assert(rows(1).getDouble(2) === 2.25)
  }

  test("CsvIngest multiLine opt-in parses quoted embedded newlines") {
    val dir = Files.createTempDirectory("graft_csv_ml").toFile
    val f = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath, "id,name\n1,\"line1\nline2\"\n2,plain\n")
    val df = CsvIngest.read(spark, f.getAbsolutePath,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      header = true, multiLine = true)
    val rows = df.orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).getString(1) === "line1\nline2")
  }

  test("Pipeline fans one source out to two sinks, counts = rows written") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_pipe").toFile
    val rawPath = s"$out/raw"
    val aggPath = s"$out/agg"
    val counts = Pipeline
      .from(s => s.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .branch("raw")(identity)(df => Sinks.parquet(df, rawPath))
      .branch("agg")(df => df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs")))(df => Sinks.csv(df, aggPath))
      .run(spark, cacheSource = true)
    assert(counts("raw") === spark.read.parquet(rawPath).count())
    assert(counts("agg") ===
      spark.read.option("header", "true").csv(aggPath).count())
    assert(counts("raw") > 0 && counts("agg") > 0)
  }

  test("Pipeline.run: counts are rows read back, and run adds no job beyond its sinks'") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_pipe_contract").toFile
    val table = "graft_test.pipeline_contract"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // start from an empty cache so the check below sees only what run leaves
    spark.catalog.clearCache()
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val branches: Seq[(String, DataFrame => DataFrame, DataFrame => Unit)] = Seq(
      ("raw", identity, df => Sinks.parquet(df, s"$out/raw")),
      ("agg", _.groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
        df => Sinks.table(df, table, Sinks.Truncate)),
      ("even", _.filter(col("doc_id") % 2 === 0), df => Sinks.csv(df, s"$out/even")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def withJobs[A](body: => A): (A, Int) = {
      ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      val a = body
      ListenerBusDrain(spark.sparkContext)
      (a, jobs.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (counts, runJobs) = withJobs(Pipeline(_ => src, branches).run(spark))
      assert(spark.sharedState.cacheManager.isEmpty, "run must leave nothing cached")
      assert(counts("raw") === spark.read.parquet(s"$out/raw").count())
      assert(counts("agg") === spark.table(table).count())
      assert(counts("even") === spark.read.option("header", "true").csv(s"$out/even").count())
      assert(counts.values.forall(_ > 0))
      val (_, sinkJobs) = withJobs(branches.foreach { case (_, transform, sink) => sink(transform(src)) })
      assert(runJobs === sinkJobs, s"run launched $runJobs jobs, its sinks alone $sinkJobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      val _ = spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("Pipeline.run fails, naming the branch, when a sink never runs its frame") {
    val e = intercept[IllegalStateException] {
      Pipeline.from(_.range(10).toDF())
        .branch("never_written")(identity)(_ => ())
        .run(spark)
    }
    assert(e.getMessage.contains("never_written"))
  }

  test("dirTag is unique per absolute path, not just basename") {
    // same basename, different parents -> distinct tables
    assert(Bucketing.dirTag("/a/data") !== Bucketing.dirTag("/b/data"))
    // names differing only in non-word chars -> distinct tables
    assert(Bucketing.dirTag("/x/data-1") !== Bucketing.dirTag("/x/data_1"))
    // deterministic and identifier-safe
    assert(Bucketing.dirTag("/a/data") === Bucketing.dirTag("/a/data"))
    assert(Bucketing.dirTag("/a/sf0.01").matches("[A-Za-z0-9_]+"))
  }

  test("bucketed tables join without a shuffle exchange") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 4)
    Bucketing.writeBucketed(customer, "b_customer", "c_custkey", 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      val _ = spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("Sinks.compact merges a fragmented table without changing its rows") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath + "/t"
    // simulate incremental appends: 20 tiny files
    (0 until 20).foreach(i =>
      Sinks.parquet(Seq(i * 2, i * 2 + 1).toDF("x"), p, Sinks.Append))
    val beforeRows = spark.read.parquet(p).as[Int].collect().sorted.toSeq
    val (nBefore, nAfter) = Sinks.compact(spark, p, maxRecordsPerFile = 1000)
    assert(nBefore >= 20)
    assert(nAfter === 1, s"expected one compacted file, got $nAfter")
    assert(spark.read.parquet(p).as[Int].collect().sorted.toSeq === beforeRows)
    // backup dir must be gone after a successful swap
    assert(!new java.io.File(p + ".compact_bak").exists())
  }

  test("Sinks dispositions: truncate replaces, append adds") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath + "/t"
    Sinks.parquet(Seq(1, 2, 3).toDF("x"), p, Sinks.Truncate)
    Sinks.parquet(Seq(4).toDF("x"), p, Sinks.Append)
    assert(spark.read.parquet(p).count() === 4)
    Sinks.parquet(Seq(9).toDF("x"), p, Sinks.Truncate)
    assert(spark.read.parquet(p).count() === 1)
  }

  test("Sinks.table: managed-table dispositions mirror the reference's named sink") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val t = "graft_test.sink_table"
    try {
      // CREATE_IF_NEEDED + WRITE_TRUNCATE on a fresh table
      Sinks.table(Seq(1, 2, 3).toDF("x"), t, Sinks.Truncate)
      assert(spark.table(t).count() === 3)
      // WRITE_APPEND adds
      Sinks.table(Seq(4).toDF("x"), t, Sinks.Append)
      assert(spark.table(t).count() === 4)
      // WRITE_TRUNCATE replaces existing contents
      Sinks.table(Seq(9, 10).toDF("x"), t, Sinks.Truncate)
      assert(spark.table(t).as[Int].collect().sorted.toSeq === Seq(9, 10))
      // WRITE_EMPTY fails when data is already present
      intercept[Exception] { Sinks.table(Seq(0).toDF("x"), t, Sinks.FailIfExists) }
    } finally { val _ = spark.sql(s"DROP TABLE IF EXISTS $t") }
  }

  test("CsvIngest dead-letter branch routes malformed rows visibly") {
    // every deadLetterSplit scopes a parse cache in graft.Caches; release
    // them so they do not outlive this test in the shared session
    try {
      val dir = Files.createTempDirectory("graft_csv_dl").toFile
      val f = new java.io.File(dir, "in.csv")
      // row 3 has a non-numeric id, row 5 a non-numeric score
      Files.writeString(f.toPath,
        "id,name,score\n1,ok,1.5\n2,fine,2.0\nnot_a_number,bad,3.0\n4,also ok,4.5\n5,bad2,NaNope\n")
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("score", DoubleType)))
      val (good, bad) = CsvIngest.deadLetterSplit(
        CsvIngest.readWithCorrupt(spark, f.getAbsolutePath, schema))
      assert(good.count() === 3)
      assert(good.columns.toSeq === Seq("id", "name", "score"))
      val badLines = bad.select("_corrupt_record").collect().map(_.getString(0)).sorted
      assert(badLines.length === 2)
      assert(badLines.exists(_.startsWith("not_a_number")))
      assert(badLines.exists(_.endsWith("NaNope")))

      // the reference pipeline shape: one parsed source fanned out to a
      // clean sink and a quarantine sink
      val out = Files.createTempDirectory("graft_dl_out").toFile
      val counts = Pipeline
        .from(s => CsvIngest.readWithCorrupt(s, f.getAbsolutePath, schema))
        .branch("clean")(df => CsvIngest.deadLetterSplit(df)._1)(
          df => Sinks.parquet(df, s"$out/clean"))
        .branch("quarantine")(df => CsvIngest.deadLetterSplit(df)._2)(
          df => Sinks.json(df, s"$out/quarantine"))
        .run(spark)
      assert(counts("clean") === 3 && counts("quarantine") === 2)
    } finally Caches.releaseAll()
  }

  test("etl_rowgroup_audit lists through the Hadoop FS layer (file: URI) and guards empty dirs") {
    import spark.implicits._
    val audit = IngestQueries.entries.toMap.apply("etl_rowgroup_audit").fn
    val dir = TmpDirs.dir("rg_audit_uri")
    Seq.tabulate(100)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    // the parquet "file" the gate dir holds is a directory of part files;
    // mirror the testdata layout with one real .parquet FILE instead
    val part = new java.io.File(s"$dir/part.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val flat = new java.io.File(dir, "tbl.parquet")
    java.nio.file.Files.copy(part.toPath, flat.toPath)
    // an explicit file:-scheme URI only resolves through FileSystem.get;
    // java.io.File("file:/...").listFiles() would return null
    val rows = audit(spark, s"file:$dir").collect()
    val row = rows.find(_.getString(0) == "tbl").get
    assert(row.getLong(2) === 100L)        // n_rows
    assert(row.getLong(1) >= 1L)           // n_row_groups
    val empty = TmpDirs.dir("rg_audit_empty")
    new java.io.File(empty).mkdirs()
    intercept[IllegalArgumentException] { audit(spark, empty) }
  }

  test("Sinks.backfillPartitions rewrites only the touched partition") {
    import spark.implicits._
    val out = TmpDirs.dir("backfill")
    Sinks.parquet(Seq((1, "d1", 10), (2, "d2", 20), (3, "d3", 30)).toDF("id", "day", "v"),
      out, partitionBy = Seq("day"))
    // reprocess day d2: one replacement row; other days must survive
    Sinks.backfillPartitions(Seq((9, "d2", 99)).toDF("id", "day", "v"),
      out, Seq("day"))
    val got = spark.read.parquet(out).select("id", "day", "v")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(got === Set((1, "d1", 10), (9, "d2", 99), (3, "d3", 30)))
    // idempotent: running the same backfill again changes nothing
    Sinks.backfillPartitions(Seq((9, "d2", 99)).toDF("id", "day", "v"),
      out, Seq("day"))
    assert(spark.read.parquet(out).count() === 3)
    // session default untouched
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }
}
