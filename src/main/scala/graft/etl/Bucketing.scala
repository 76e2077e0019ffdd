package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed managed tables — the pre-shuffle that makes repeated joins
  * and aggregations on the same key shuffle-free at read time.
  *
  * At 100 TB the dominant cost of fact⋈fact joins is the shuffle; a
  * table bucketed (and sorted) on the join key is hash-partitioned on
  * disk once, so every later join/agg on that key reads co-located
  * buckets with NO Exchange in the plan (verified in EtlSpec).
  */
object Bucketing {

  /** Bucket count for a materialized index whose downstream work is
    * JOIN-dominated, derived from the index's estimated row volume and
    * clamped by the session's parallelism (r18).
    *
    * A bucketed scan schedules exactly ONE task per bucket, and every
    * exchange-free operator downstream of it (the co-bucketed
    * self-join, the pair aggregation above it) inherits that
    * partitioning — so the bucket count IS the parallelism ceiling of
    * the whole shuffle-free chain. The former constant 8 capped the
    * 10x shingle-index self-join at 8 of 32 cores (measured: the one
    * family member whose cost is join-dominated rather than
    * build-dominated, dedup_ngram_jaccard, got SLOWER when it moved
    * onto the 8-bucket index — 10.2 → 13.2 s in the r18 sf1 block
    * sweep — while its build-dominated siblings improved).
    *
    * Buckets must track the DATA, not just cores: a parallelism-only
    * rule (max(8, slots) = 32 here, measured first) HURT the
    * small-corpus bench — iterative consumers reschedule the
    * bucket-count tasks every iteration (graph_katz +1.4 s at sf0.1)
    * and queries that rebuild an index in their timed body pay a
    * 4x-wider bucketed write (dedup_incremental +2.9 s) — so only the
    * indexes whose consumers are single-pass heavy self-joins use this
    * rule, sized by estimated rows, and everything else keeps the
    * measured-fine constant 8. Floor 8 (a tiny local[2] probe session
    * must not write a 2-bucket index a later 32-core session would be
    * stuck with); cap at `defaultParallelism` (more buckets than slots
    * buys nothing locally and shrinks files).
    */
  def adaptiveBuckets(s: org.apache.spark.sql.SparkSession,
                      estRows: Long, rowsPerBucket: Long): Int = {
    val byData = math.ceil(estRows.toDouble / rowsPerBucket).toInt
    math.max(8, math.min(s.sparkContext.defaultParallelism, byData))
  }

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sorted: Boolean = true): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Unique managed-table suffix for a data dir: sanitized basename
    * (readable) + first 8 md5 hex chars of the ABSOLUTE path (unique).
    * Basename alone collides: two dirs with the same leaf name — or
    * names differing only in non-word chars (`data-1` vs `data_1`) —
    * would share a table, and the second build would silently serve
    * the first dir's queries the second dir's rows.
    */
  def dirTag(d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(d).getName.replaceAll("\\W", "_") + "_" +
      digest.take(4).map(b => f"$b%02x").mkString
  }
}
