package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType}
import scala.util.control.NonFatal

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every operator in the engine takes `(SparkSession, sfDir)` and reads
  * `$sfDir/<table>.parquet`; on a real cluster the same code reads the
  * distributed store path. Scans stay lazy so Catalyst pushes filters and
  * prunes columns into the parquet reader.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = Derived("layout", dir, name)(repairLayout(spark, dir, name))
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The schema Spark infers for the parquet at `path`, inferred once
    * per JVM: inference runs a one-task footer job, and the inputs do
    * not change under a running JVM. The inferred `ts` type depends on
    * `nanosAsLong` (see [[Session]]), so its value is part of the key.
    */
  private[graft] def schema(s: SparkSession, path: String): StructType = {
    val nanosAsLong = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    Derived("schema", path, nanosAsLong)(s.read.parquet(path).schema)
  }

  /** Ingest-side LAYOUT REPAIR (r15): a parquet file with ONE row group
    * caps every scan of it at ONE task no matter how many cores or
    * executors exist — the exact `single_task_risk` condition
    * etl_rowgroup_audit flags, measured for three rounds as the sf0.1
    * scan bottleneck (20 queries read the 10× corpus FASTER than sf0.1
    * in the r15 sweeps because the driver's sf0.1 files are single-RG).
    * Production fixes this at ingest: compact bad layouts ONCE, then
    * amortize over every downstream read (the Sinks.compact /
    * etl_compact_exec contract, applied to our own inputs). So: on the
    * first access of each table per JVM, a footer-only preflight (one
    * driver-side read of ~kB) detects the single-file single-row-group
    * ≥100k-row shape and rewrites it as 8 ORDER-PRESERVING chunk files
    * (coalesce(1) + maxRecordsPerFile — see the inline comment for why
    * repartition(32) was reverted) into per-JVM scratch; every later
    * scan of that table in this JVM gets 8 independent splits with the
    * original row order/locality intact chunk by chunk. Row SET is
    * identical, so row sets and integer/decimal-exact aggregates are
    * unchanged — the DuckDB oracles keep reading the original files.
    * CAVEAT (floating point): the repair turns a 1-partition scan into
    * up to 8, which reorders partial-aggregate combination, so any
    * query summing DOUBLES can drift by ulps between a repaired and a
    * raw read or versus pre-repair rounds' hashes; comparing such
    * queries across the two takes a numeric tolerance, not bit-exact
    * hashes.
    * Multi-row-group files (the sf1 stress corpora),
    * directory outputs, and small tables pass through untouched, and
    * a non-fatal preflight/rewrite failure falls back to the raw path
    * with a WARN naming the table and the cause.
    */
  private def repairLayout(s: SparkSession, dir: String, name: String): String = {
    val src = s"$dir/$name.parquet"
    try {
      val p = new org.apache.hadoop.fs.Path(src)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.getFileStatus(p).isFile) return src
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, s.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val (nrg, rows) = try {
        import scala.jdk.CollectionConverters._
        val b = r.getFooter.getBlocks.asScala.toSeq
        (b.size, b.map(_.getRowCount).sum)
      } finally r.close()
      if (nrg > 1 || rows < 100000L) return src
      val out = graft.etl.TmpDirs.dir(
        s"layout_${graft.etl.Bucketing.dirTag(dir)}_$name")
      // chunked split, NOT round-robin: one writer task emits ~8
      // sequential files via maxRecordsPerFile, so rows keep their
      // original order/locality (a generator-sorted events file stays
      // time-clustered chunk by chunk — zone-map friendly) and the
      // scan gets 8 independent splits. The first cut of this repair
      // used repartition(32) and measured a NET LOSS on the full
      // sweep: +1-1.6 s wins on the heavy aggs but a ~50-100 ms
      // per-query tax on ~150 small queries (2x total sweep CPU) from
      // per-task scan overhead at 3k-row partitions plus destroyed
      // row locality. 8 order-preserving chunks keep the parallel-scan
      // win where it matters and the tax negligible.
      s.read.parquet(src).coalesce(1).write
        .option("maxRecordsPerFile", math.max(1L, (rows + 7) / 8))
        .mode("overwrite").parquet(out)
      out
    } catch {
      case NonFatal(e) =>
        log.warn(s"layout repair of table '$name' ($src) failed, reading the raw path: $e")
        src
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** Events with `ts` normalized to int64 UTC NANOSECONDS — the engine's
    * ts contract (every temporal operator does integer `ts div 1000` µs
    * arithmetic, and the DuckDB oracles read the same instants via
    * `epoch_us`/`epoch_ns`). Generator output has varied by round
    * between timestamp[ns] parquet (read raw via the `nanosAsLong`
    * session flag → already long) and timestamp[us] (read as
    * TIMESTAMP_NTZ → converted here; the session timezone is pinned
    * UTC, so the NTZ wall clock IS the epoch instant).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // Guard against a generator round writing plain int64 MICROS
        // with no timestamp logical type: that would be silently
        // mis-scaled 1000x here while the DuckDB oracles (epoch_us on
        // real timestamps) stay right. One sampled row per directory
        // (memoized) distinguishes ns-era (~1e18) from µs-era (~1e15).
        Derived("events_ts_checked", d) {
          raw.select(col("ts")).limit(1).collect().headOption.foreach { r =>
            val v = math.abs(r.getLong(0))
            require(v > 1e16,
              s"events.ts at $d is int64 but |$v| is not nanosecond-era; " +
                "generator likely wrote epoch micros without a timestamp type")
          }
          true
        }
        raw
      case _ => raw.withColumn(
        "ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
