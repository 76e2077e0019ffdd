package graft

import org.apache.spark.sql.DataFrame

/** Ownership registry for the DataFrames registered queries persist.
  *
  * Several queries cache an intermediate that feeds 2+ consumers (the
  * dedup band/shingle indexes, the range-sorted rank base). The returned
  * result is LAZY, so the query itself can never unpersist — only the
  * caller knows when materialization finished. This registry makes that
  * contract explicit: queries persist through `scoped`, and the caller
  * (Verify, graftbench, or any library user composing these frames) calls
  * `releaseAll()` once the results are materialized. Without it a
  * long-lived session leaks executor storage one query at a time.
  */
object Caches {
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` and register it for the next `releaseAll()`. */
  def scoped(df: DataFrame): DataFrame = {
    df.persist()
    pending.add(df)
    df
  }

  /** Unpersist every scoped frame registered since the last call. Safe to
    * call at any time — dropping a cache is a performance event, not a
    * correctness one (lineage recomputes).
    */
  def releaseAll(): Unit = {
    var d = pending.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = pending.poll()
    }
  }
}
