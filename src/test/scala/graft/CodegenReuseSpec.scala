package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the per-JVM reuse a warm run relies on: generated classes
  * compiled in one session serve every later session (see [[Session]]),
  * and a table's schema is inferred once, so re-reading it runs no job.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** `body`'s value and the classes it compiled, from Spark's codegen
    * compile counter.
    */
  private def compiles[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a query compiled in one new session compiles nothing in the next") {
    def run(): Unit = {
      val s = spark.newSession()
      s.range(0, 5000, 1, 4)
        .select((col("id") % 13).as("k"), (col("id") * 7 + 1).as("v"))
        .groupBy("k").agg(sum("v").as("sv"))
        .collect(): Unit
    }
    run()
    val (_, second) = compiles(run())
    assert(second === 0L, s"the second session compiled $second classes")
  }

  test("a second stream_sessionize_mb run compiles no class") {
    val q = SparkEntry.queries("stream_sessionize_mb")
    val first = q(spark, sf).count()
    val (again, second) = compiles(q(spark, sf).count())
    assert(again === first)
    assert(second === 0L, s"the second run compiled $second classes")
  }

  test("a second Tables.apply of one table runs no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Tables(spark, sf, "orders")
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Tables(spark, sf, "orders")
      ListenerBusDrain(spark.sparkContext)
      assert(jobs.get === 0, s"the second Tables.apply ran ${jobs.get} jobs")
      assert(df.schema === spark.read.parquet(s"$sf/orders.parquet").schema)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
