package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the ingest-side layout repair (Tables.repairLayout):
  * a single-file single-row-group >=100k-row table is rewritten into
  * multiple ORDER-PRESERVING chunk files (same row set, contiguous
  * non-overlapping ranges per chunk), the repair is memoized per JVM,
  * and — the r16 ADVICE fix — concurrent first accesses run the repair
  * job OUTSIDE the memo map's bin lock, under a per-key monitor, so
  * they all resolve to ONE repaired copy without racing duplicate
  * rewrites.
  */
class TablesLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Write n sequential rows as ONE parquet file with ONE row group at
    * `$dir/$name.parquet` (the generator shape the repair targets).
    */
  private def writeSingleRowGroup(dir: java.io.File, name: String, n: Int): Unit = {
    import spark.implicits._
    val stage = new java.io.File(dir, s"_stage_$name")
    (0 until n).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(stage.getAbsolutePath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(stage)
  }

  test("single-row-group table is repaired into contiguous multi-file chunks") {
    val dir = java.nio.file.Files.createTempDirectory("layoutspec").toFile
    writeSingleRowGroup(dir, "t", 120000)
    val df = Tables(spark, dir.getAbsolutePath, "t")
    val files = df.inputFiles
    assert(files.length > 1, s"repair should split the scan; got ${files.toSeq}")
    assert(!files.exists(_.endsWith("/t.parquet")),
      "repaired scan must read scratch, not the original file")
    // same row set
    assert(df.count() === 120000L)
    import org.apache.spark.sql.functions.{min, max, count, lit}
    // order-preserving chunking: each chunk covers a contiguous id range
    // and the ranges tile [0, n) without overlap
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("id"), max("id"), count(lit(1))).head()
      (r.getInt(0), r.getInt(1), r.getLong(2))
    }.sortBy(_._1)
    ranges.foreach { case (lo, hi, c) =>
      assert(c === (hi - lo + 1).toLong, s"chunk [$lo,$hi] must be contiguous")
    }
    ranges.sliding(2).foreach {
      case Seq((_, hi1, _), (lo2, _, _)) => assert(lo2 === hi1 + 1)
      case _ =>
    }
    assert(ranges.head._1 === 0 && ranges.last._2 === 119999)
    // the repair's contract, pinned as a spec: repaired-read row set ≡
    // raw-read row set
    val raw = spark.read.parquet(new java.io.File(dir, "t.parquet").getAbsolutePath)
    assert(df.exceptAll(raw).isEmpty && raw.exceptAll(df).isEmpty,
      "repaired scan must return exactly the raw file's row multiset")
    // memoized: a second access resolves to the same repaired files
    assert(Tables(spark, dir.getAbsolutePath, "t").inputFiles.sorted
      .sameElements(files.sorted))
  }

  test("small and multi-row-group tables pass through untouched") {
    val dir = java.nio.file.Files.createTempDirectory("layoutspec").toFile
    writeSingleRowGroup(dir, "small", 5000) // below the 100k floor
    val files = Tables(spark, dir.getAbsolutePath, "small").inputFiles
    assert(files.length === 1 && files.head.contains(dir.getName))
  }

  test("concurrent first access repairs once under the per-key lock") {
    val dir = java.nio.file.Files.createTempDirectory("layoutspec").toFile
    writeSingleRowGroup(dir, "c", 120000)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Set[String]] {
          def call(): Set[String] =
            Tables(spark, dir.getAbsolutePath, "c").inputFiles.toSet
        })
      }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every thread must see the SAME single repaired copy — a racing
      // duplicate rewrite would surface as divergent scratch file sets
      assert(results.toSet.size === 1,
        s"threads resolved to ${results.toSet.size} distinct file sets")
      assert(results.head.size > 1)
    } finally { pool.shutdownNow(): Unit }
  }
}
