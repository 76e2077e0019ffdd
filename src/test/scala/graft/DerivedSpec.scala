package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Pins `graft.Derived`'s one locking rule: one build per key under
  * concurrent first calls, no serialization across keys, nested reads
  * of other keys from inside a build, and nothing stored by a build
  * that throws; plus the per-session catalog guard of `Derived.table`.
  */
class DerivedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A data-dir key no other test uses (Derived is JVM-global). */
  private def freshDir(): String = "/derived-spec/" + java.util.UUID.randomUUID()

  /** Run `body` with an 8-thread pool, shut down afterwards. */
  private def withPool[T](body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(8)
    try body(ExecutionContext.fromExecutorService(pool))
    finally pool.shutdownNow(): Unit
  }

  test("8 concurrent first calls on one key build once and share one object") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val got = withPool { implicit ec =>
      val fs = (1 to 8).map { _ =>
        Future {
          go.await()
          Derived("spec", dir) {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }
      go.countDown()
      fs.map(Await.result(_, 60.seconds))
    }
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head))
  }

  test("a build held on one key does not block builds of other keys") {
    val held = freshDir()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool { implicit ec =>
      try {
        val a = Future {
          Derived("spec", held) { started.countDown(); release.await(); "a" }
        }
        assert(started.await(60, TimeUnit.SECONDS))
        // many keys, so some share the held key's hash bin
        val others = (1 to 64).map(i => Future(Derived("spec", freshDir())(s"b$i")))
        assert(others.map(Await.result(_, 60.seconds)) === (1 to 64).map(i => s"b$i"))
        assert(!a.isCompleted)
        release.countDown()
        assert(Await.result(a, 60.seconds) === "a")
      } finally release.countDown()
    }
  }

  test("a build may read other keys from Derived") {
    val (outer, inner) = (freshDir(), freshDir())
    val v = withPool { implicit ec =>
      Await.result(Future {
        Derived("spec", outer) {
          Derived("spec", inner)(1) + Derived("spec", inner, "p")(10) + 100
        }
      }, 60.seconds)
    }
    assert(v === 111)
    assert(Derived("spec", inner)(-1) === 1)
    assert(Derived("spec", outer)(-1) === 111)
  }

  test("a build that throws stores nothing and the next call rebuilds") {
    val dir = freshDir()
    var builds = 0
    val e = intercept[IllegalStateException] {
      Derived[String]("spec", dir) { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(Derived("spec", dir) { builds += 1; "ok" } === "ok")
    assert(builds === 2)
    assert(Derived("spec", dir) { builds += 1; "again" } === "ok")
    assert(builds === 2)
  }

  test("Derived.table rebuilds when the memo hits but the catalog lacks the table") {
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    var builds = 0
    def src = { builds += 1; spark.range(3).select(col("id").as("k")) }
    def read() = Derived.table(spark, "test_memo_guard", dir, "k", 2)(src)
    val t = Derived.tableName("test_memo_guard", dir)
    assert(read().count() === 3)
    assert(builds === 1)
    // memo hit + table present: no rebuild
    assert(read().count() === 3)
    assert(builds === 1)
    // simulate a fresh-session catalog (table dropped): memo still hits,
    // guard must rebuild instead of failing with TABLE_OR_VIEW_NOT_FOUND
    spark.sql(s"DROP TABLE $t")
    assert(read().count() === 3)
    assert(builds === 2)
    spark.sql(s"DROP TABLE $t")
  }
}
