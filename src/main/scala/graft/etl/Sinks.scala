package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Table sinks with the reference's write dispositions.
  *
  * The reference writes to BigQuery with CREATE_IF_NEEDED +
  * WRITE_TRUNCATE (reference dataflow_pipeline.py:167-179) and to local
  * CSV in DirectRunner mode (local_directrunner_pipeline.py:112-114).
  * Spark's equivalent warehouse-grade sink is partitioned parquet;
  * csv/json cover the export paths.
  */
object Sinks {

  sealed trait Disposition { def mode: SaveMode }
  /** WRITE_TRUNCATE: replace table contents. */
  case object Truncate extends Disposition { val mode = SaveMode.Overwrite }
  /** WRITE_APPEND: add to existing contents. */
  case object Append extends Disposition { val mode = SaveMode.Append }
  /** WRITE_EMPTY: fail if data already present. */
  case object FailIfExists extends Disposition { val mode = SaveMode.ErrorIfExists }

  /** Managed-catalog-table sink — the closest Spark analog of the
    * reference's named-table write (`BigQuerySink(dataset.table,
    * CREATE_IF_NEEDED, WRITE_TRUNCATE)`, reference
    * dataflow_pipeline.py:167-179): `saveAsTable` creates the table if
    * absent (CREATE_IF_NEEDED), and the disposition decides what happens
    * to existing contents (Truncate replaces them, Append adds,
    * FailIfExists errors). On a cluster the same call targets the shared
    * metastore; locally it is the session catalog + warehouse dir.
    */
  def table(df: DataFrame, name: String, disposition: Disposition = Truncate): Unit =
    df.write.mode(disposition.mode).saveAsTable(name)

  def parquet(df: DataFrame, path: String, disposition: Disposition = Truncate,
              partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(disposition.mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Small-files compaction — the maintenance pass every long-lived
    * 100 TB table needs: streaming/incremental appends leave thousands
    * of KB-sized files whose open/seek overhead eventually dominates
    * scans. Rewrites `path` with AQE-coalesced partitions bounded by
    * `maxRecordsPerFile`, preserving the data exactly. Returns
    * (files before, files after). The write goes through a temp dir +
    * atomic-ish swap so a failed compaction never loses the original.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              maxRecordsPerFile: Long): (Int, Int) = {
    def dataFiles(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles(f => f.getName.endsWith(".parquet"))
    val parts = new java.io.File(path).listFiles(f => f.isDirectory && f.getName.contains("="))
    require(parts == null || parts.isEmpty,
      s"$path has a partitioned layout — compact each partition directory instead")
    val before = dataFiles(path).length
    val tmp = path.stripSuffix("/") + ".compact_tmp"
    spark.read.parquet(path)
      .coalesce(1) // local compaction unit; a cluster-size job uses AQE target sizes
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(tmp)
    val dst = new java.io.File(path)
    val bak = new java.io.File(path + ".compact_bak")
    if (bak.exists()) throw new IllegalStateException(s"stale backup at $bak")
    if (!dst.renameTo(bak)) throw new IllegalStateException(s"cannot move $dst aside")
    if (!new java.io.File(tmp).renameTo(dst)) {
      val _ = bak.renameTo(dst) // best-effort roll back
      throw new IllegalStateException(s"cannot promote $tmp")
    }
    TmpDirs.deleteRecursively(bak)
    (before, dataFiles(path).length)
  }

  /** Partition-scoped backfill: overwrite ONLY the partitions present in
    * `df`, leaving every other partition untouched — the idempotent
    * reprocess-one-day write a scheduled batch pipeline needs (re-running
    * yesterday's load must not truncate the table, and append would
    * double-count). Uses dynamic partition-overwrite, scoped to this one
    * write so the session default stays untouched.
    */
  def backfillPartitions(df: DataFrame, path: String,
                         partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "backfill needs a partition layout")
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def csv(df: DataFrame, path: String, disposition: Disposition = Truncate): Unit =
    df.write.mode(disposition.mode).option("header", "true").csv(path)

  def json(df: DataFrame, path: String, disposition: Disposition = Truncate): Unit =
    df.write.mode(disposition.mode).json(path)
}
