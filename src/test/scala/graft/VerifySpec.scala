package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class VerifySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** What `Verify.dump` left in `out`: its subdirectories and files. */
  private def listing(out: String): (Set[String], Set[String]) = {
    val (dirs, files) = new java.io.File(out).listFiles().toSeq.partition(_.isDirectory)
    (dirs.map(_.getName).toSet, files.map(_.getName).toSet)
  }

  test("Verify.q output round-trips quotes, backslashes and control chars through Jackson") {
    val s = "a\"b\\c\td\re\nf\u0001g"
    val m = new ObjectMapper()
    assert(m.readValue(Verify.q(s), classOf[String]) === s)
    val obj = m.readTree(s"{${Verify.q(s)}: ${Verify.q(s)}}")
    assert(obj.get(s).asText() === s)
  }

  test("a prefix that matches no query writes no query and the full oracle_sql.json") {
    val out = etl.TmpDirs.dir("verify_spec_none")
    Verify.dump(spark, sf, out, Some(Seq("no_such_prefix")))
    assert(listing(out) === (Set.empty[String], Set("oracle_sql.json")))
    val oracles = new ObjectMapper()
      .readValue(new java.io.File(out, "oracle_sql.json"), classOf[java.util.Map[String, String]])
      .asScala.toMap
    assert(oracles.keySet === SparkEntry.oracleSql.keySet)
    assert(oracles === SparkEntry.oracleSql)
  }

  test("an exact query name as the prefix writes exactly the queries it matches") {
    val name = "q1_agg"
    val matching = SparkEntry.queries.keySet.filter(_.startsWith(name))
    assert(matching === Set(name))
    val out = etl.TmpDirs.dir("verify_spec_one")
    Verify.dump(spark, sf, out, Some(Seq(name)))
    assert(listing(out) === (matching, Set("oracle_sql.json")))
    assert(spark.read.parquet(s"$out/$name").count() ===
      SparkEntry.queries(name)(spark, sf).count())
  }
}
