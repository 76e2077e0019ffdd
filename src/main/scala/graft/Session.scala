package graft

import org.apache.spark.sql.SparkSession

/** Single configuration point for every session graft starts (Verify,
  * graftbench, tests).
  *
  * The oracle-parity-critical settings live here so they cannot drift
  * between the correctness gate and the benchmark:
  *  - UTC session timezone (timestamps hash identically vs DuckDB),
  *  - `nanosAsLong` (when events.parquet stores timestamp[ns], Spark reads
  *    the raw int64 nanos — exactly DuckDB's `epoch_ns(ts)`; either way
  *    `Tables.events` normalizes ts to int64 UTC nanos),
  *  - AQE on (runtime skew/coalesce handling — the same knob a 1000-executor
  *    cluster run would rely on),
  *  - shuffle partitions sized to local cores, not the 200 default.
  *
  * Two settings keep local file I/O from starting a process per file
  * (README, "Fork-free local file I/O"): streaming checkpoints use
  * Spark's `FileSystem`-based checkpoint manager, whose renames do not
  * fork `readlink` the way the default `FileContext` one does, and
  * `file:` is served by [[etl.LocalFs]], which sets permissions without
  * forking `chmod` when libhadoop is absent. Where libhadoop is loaded
  * `LocalFs` behaves exactly like Hadoop's `LocalFileSystem`.
  *
  * Generated code is compiled once per JVM (README, "Generated code
  * compiled once per JVM"). Spark's `CodeGenerator` caches compiled
  * classes under the key (class loader of the compiling thread, source
  * text). With `spark.sql.artifact.isolation.enabled` on (Spark's
  * default), every job carries its session's artifact id and an
  * executor gives each id its own class loader, so a task that compiles
  * in a new session misses the cache even for byte-identical source.
  * graft opens new sessions on every streaming twin run
  * (`StreamTwinQueries.twinSession`, and the streaming engine clones
  * that session again), and it adds no per-session jars or artifacts,
  * so isolation is off. Measured at local[4] on the sf0.001 test data
  * (`CodegenReuseSpec`): a second `stream_sessionize_mb` run compiled
  * 16 classes with isolation on and 0 with it off, and a shuffle query
  * re-run in a second new session 5 and 0. The entries of dead
  * sessions' class loaders also pushed other queries' classes out of
  * the 100-entry cache (`spark.sql.codegen.cache.maxEntries`, left at
  * its default).
  */
object Session {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val s = SparkSession
      .builder()
      .withExtensions(new plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4's ICU case mappings route every lower()/upper() through
      // CollationAwareUTF8String, whose STATIC INIT builds a titlecase
      // table by calling UCharacter.toTitleCase on all 1,114,112 code
      // points (a fresh BreakIterator per call) — a per-JVM tax on the
      // first case-mapped row: ~4s with a healthy JIT, observed minutes
      // when the compiler is busy/starved (exactly the state of a busy
      // executor mid-job). JVM simple case mapping (the Spark 3.x
      // behavior) is byte-identical on this corpus and matches DuckDB's
      // lower(). It is a runtime SQL conf: a caller whose corpus needs
      // Turkish-dotted-I / final-sigma semantics more than it needs to
      // dodge the init tax sets it back to true on the returned
      // session. Trade-off also surfaced in README ("Unicode case
      // semantics").
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // HotSpot refuses to JIT methods over 8000 bytecodes
      // (-XX:DontCompileHugeMethods), but Spark's default
      // hugeMethodLimit (65535) happily EMITS them — the stage then
      // runs interpreted-bytecode forever. Measured here on the k=100
      // literal-centroid assignment expression (pipeline_semdedup /
      // ann_ivf_trained at sf0.1): whole suite healthy with the limit
      // at 8000 (semdedup 4.9s); the huge emitted method left the same
      // stage orders of magnitude slower. With the limit at 8000 Spark
      // falls back to volcano eval for exactly the stages the JIT
      // would abandon. Ships with the library onto any cluster.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // managed-table data (catalog sinks, the bucketed dedup index)
      // lands in per-JVM scratch, not whatever cwd the caller ran from
      .config("spark.sql.warehouse.dir", etl.TmpDirs.dir("warehouse"))
      .config("spark.ui.enabled", "false")
      // FileContext renames stat the source and destination as links,
      // which forks `readlink` twice per checkpoint-file commit without
      // libhadoop; the FileSystem manager's temp-file rename is atomic
      // on the local POSIX file system TmpDirs puts checkpoints on
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[etl.LocalFs].getName)
      // one class loader for every session's tasks, so compiled
      // generated classes are shared across sessions (scaladoc above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
