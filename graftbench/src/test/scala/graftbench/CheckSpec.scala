package graftbench

import java.io.File

import graft.Caches
import graft.etl.{CsvIngest, Schemas}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = SparkSession.builder().master("local[2]").appName("checkspec")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(200).select(col("id"), (col("id") * 3).as("x"),
    concat(lit("k"), (col("id") % 7).cast("string")).as("k"))

  test("the digest ignores row order and partitioning") {
    val d = Check.digest(frame)
    assert(d.rows == 200)
    assert(Check.digest(frame.repartition(5, col("k"))) == d)
    assert(Check.digest(frame.orderBy(col("x").desc).coalesce(1)) == d)
  }

  test("a corrupted output row makes failed_frac > 0") {
    val expected = Map("op" -> Check.digest(frame))
    val corrupted = frame.withColumn("x", when(col("id") === 17, col("x") + 1).otherwise(col("x")))
    val o = new Outcome
    Seq(frame, corrupted).foreach { df =>
      o.attempt()
      Check.query(expected, "op", Check.digest(df)).foreach(o.fail)
    }
    assert(o.failed == 1 && o.failedFrac == 0.5)
  }

  test("a corrupted expected hash makes failed_frac > 0") {
    val good = Check.digest(frame)
    val o = new Outcome
    o.attempt()
    Check.query(Map("op" -> good.copy(hash = good.hash + "1")), "op", good).foreach(o.fail)
    assert(o.failedFrac == 1.0)
  }

  test("the ETL check catches a corrupted aggregate row and a wrong branch count") {
    val e = Gen.EtlExpected(1, 10, 9, 1, 100, Map("a" -> (4L, 40L), "b" -> (5L, 50L)))
    val ok = Seq(("a", 4L, 40L), ("b", 5L, 50L))
    assert(Check.etlGroups(e, ok).isEmpty)
    assert(Check.etlCounts(e, Map("raw" -> 9L, "agg" -> 2L, "dead_letter" -> 1L)).isEmpty)
    val o = new Outcome
    o.attempt()
    Check.etlGroups(e, Seq(("a", 4L, 41L), ("b", 5L, 50L))).foreach(o.fail)
    o.attempt()
    Check.etlCounts(e, Map("raw" -> 9L, "agg" -> 2L, "dead_letter" -> 0L)).foreach(o.fail)
    assert(o.failed == 2 && o.failedFrac > 0)
  }

  test("graft's dead-letter split agrees with the generator's expected file") {
    val base = new File(sys.props("java.io.tmpdir"))
    base.mkdirs()
    val d = java.nio.file.Files.createTempDirectory(base.toPath, "checkspec").toFile
    try {
      val csv = new File(d, "l.csv")
      val e = Gen.writeListings(csv, new File(d, "e.json"), 3, 4000)
      val schema = Schemas.fromBigQueryJson(Gen.listingSchemaJson)
      val (good, dead) = CsvIngest.deadLetterSplit(CsvIngest.readWithCorrupt(spark, csv.getPath, schema))
      assert(good.count() == e.good)
      assert(dead.count() == e.malformed)
      val groups = good.groupBy(col("neighbourhood"))
        .agg(count(lit(1)), sum(col("calculated_host_listings_count"))).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(Check.etlGroups(e, groups).isEmpty)
      Caches.releaseAll()
    } finally Fs.deleteTree(d)
  }
}
