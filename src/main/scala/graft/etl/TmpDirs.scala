package graft.etl

/** Per-JVM-unique scratch space for the sink round-trip queries.
  *
  * Paths are stable WITHIN a JVM (a warm-up and a timed bench run of the
  * same query overwrite one directory instead of accumulating) but unique
  * ACROSS JVMs, so two graft JVMs running concurrently on the same
  * sf-dir (a Verify and a test suite, say) can't race on each other's
  * output.
  */
object TmpDirs {
  private lazy val base: String = {
    // r15: prefer tmpfs (/dev/shm) when present — everything under this
    // root is ephemeral per-JVM scratch by contract (streaming
    // checkpoints for the AvailableNow twins, sink round-trips, sliced
    // fixtures), the exact state a production cluster puts on fast
    // local disks. Deleted on JVM exit either way; falls back to
    // java.io.tmpdir where shm is absent or read-only. The durable
    // kill-and-restart RECOVERY guarantees are exercised by the
    // StreamingSpec checkpoint tests, not by scratch-media choice.
    // Capacity guard (r16): tmpfs is typically sized at half of RAM but
    // can be mounted small or already near-full, and this root receives
    // whole repaired-table copies (Tables.repairLayout) plus streaming
    // checkpoints and sink round-trips — on a small/full shm those
    // writes would hard-fail mid-sweep. Only prefer shm when its USABLE
    // space covers an expected-scratch budget (default 8 GiB ≈ 2× the
    // largest observed per-JVM scratch footprint: repaired sf1-scale
    // tables + sliced streaming fixtures + sink outputs); otherwise use
    // java.io.tmpdir. Overridable for ops via SPARK_GRAFT_SCRATCH_MIN_GB.
    val budgetBytes = scratchMinGb(sys.env.get("SPARK_GRAFT_SCRATCH_MIN_GB")) << 30
    val shm = new java.io.File("/dev/shm")
    val root =
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= budgetBytes)
        shm
      else new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val d = new java.io.File(root, s"graft-${ProcessHandle.current().pid()}")
    d.mkdirs()
    // scratch is per-JVM by construction, so it is garbage the moment
    // this JVM exits — reap it then, or repeated bench/verify runs grow
    // /tmp by one warehouse per JVM forever
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(d)))
    d.getAbsolutePath
  }

  /** The shm scratch budget in GiB: 8 when unset, else `raw` as a
    * positive whole number of GiB. Anything else fails naming the
    * variable: "8g" or "abc" must not silently become the default, and
    * 0 or a negative budget would make every shm check pass.
    */
  private[etl] def scratchMinGb(raw: Option[String]): Long = raw.fold(8L) { v =>
    v.trim.toLongOption.filter(g => g > 0 && g <= (Long.MaxValue >> 30)).getOrElse(
      sys.error(s"SPARK_GRAFT_SCRATCH_MIN_GB must be a positive integer (GiB), got '$v'"))
  }

  /** Deletes `f` and everything under it, best effort: a directory
    * that cannot be listed (`listFiles` returns null) is skipped, not
    * thrown on.
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  def dir(tag: String): String = s"$base/$tag"
}
