package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-JVM memo for derived artifacts: layout-repaired input
  * paths, inferred input schemas, corpus counts, trained quantizers
  * and BPE merges, adaptive decisions, stream fixture dirs and
  * materialized bucketed index tables. Every artifact is deterministic
  * in its data dir, so the memo cannot change an output; it only makes
  * a JVM pay each build once. Nothing persists across JVMs.
  *
  * Keyed by (kind, data dir, params), with one locking rule:
  *  - a hit is a lock-free read (a map `get` and a volatile field);
  *  - a miss runs the build under that key's own monitor, never inside
  *    a map bin lock (the map's `computeIfAbsent` only allocates the
  *    key's empty cell). Concurrent first callers of one key wait for
  *    one build, builds of different keys run in parallel, and a build
  *    may read other keys: a Spark job under a bin lock would stall
  *    unrelated keys and deadlock on such a nested read;
  *  - a build that throws stores nothing, so the next call rebuilds.
  * A build must not return null (null reads as "not built").
  */
object Derived {
  private final case class Key(kind: String, dir: String, params: String)

  /** One key's slot; also the monitor its build runs under. */
  private final class Cell { @volatile var value: AnyRef = _ }

  private val cells = new java.util.concurrent.ConcurrentHashMap[Key, Cell]()

  private def memo[T](k: Key, valid: AnyRef => Boolean)(build: => T): T = {
    val c0 = cells.get(k)
    val c = if (c0 != null) c0 else cells.computeIfAbsent(k, _ => new Cell)
    val hit = c.value
    if (hit != null && valid(hit)) hit.asInstanceOf[T]
    else c.synchronized {
      val v = c.value
      if (v != null && valid(v)) v.asInstanceOf[T]
      else {
        val b = build
        c.value = b.asInstanceOf[AnyRef]
        b
      }
    }
  }

  /** `build`'s value, computed once per JVM for (kind, dir, params). */
  def apply[T](kind: String, dir: String, params: String = "")(build: => T): T =
    memo(Key(kind, dir, params), _ => true)(build)

  /** Managed table name of a derived table: `graft_<kind>_<dirTag>`. */
  private[graft] def tableName(kind: String, dir: String): String =
    s"graft_${kind}_" + graft.etl.Bucketing.dirTag(dir)

  /** `fresh` written once per JVM as the bucketed managed table
    * [[tableName]], then read from the catalog. The memo is JVM-global
    * but managed tables live in a session's catalog, so a hit whose
    * table is missing from `s`'s catalog (a fresh session in the same
    * JVM: new warehouse, new catalog) rebuilds instead of failing with
    * TABLE_OR_VIEW_NOT_FOUND. A fresh JVM always rebuilds (Overwrite),
    * so a warehouse left by another build or bucket rule cannot leak
    * its layout; two sessions with different core counts in one JVM
    * share the first one's bucket count (layout only, never rows).
    */
  def table(s: SparkSession, kind: String, dir: String, key: String,
            buckets: Int)(fresh: => DataFrame): DataFrame = {
    val name = tableName(kind, dir)
    s.table(memo(Key("table", dir, kind), _ => s.catalog.tableExists(name)) {
      graft.etl.Bucketing.writeBucketed(fresh, name, key, buckets)
      name
    })
  }
}
