package graft.etl

import java.util.concurrent.TimeoutException
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.concurrent.Await
import scala.concurrent.duration._

/** Composable batch pipeline: one source fanned out to N transformed
  * sinks — the reference's shape (raw branch + aggregated branch off one
  * CSV read, reference dataflow_pipeline.py:149-222), generalized.
  *
  * The source DataFrame is shared across branches; Spark recomputes or
  * reuses the scan per action, and callers can `.persist()` the source
  * when branch count × scan cost justifies caching. Runs identically on
  * local[N] and a cluster (the reference needs two separate scripts for
  * DirectRunner vs Dataflow; here the runner is just the master URL).
  */
final case class Pipeline(
    source: SparkSession => DataFrame,
    branches: Seq[(String, DataFrame => DataFrame, DataFrame => Unit)] = Nil
) {

  def branch(name: String)(transform: DataFrame => DataFrame)(sink: DataFrame => Unit): Pipeline =
    copy(branches = branches :+ ((name, transform, sink)))

  /** Execute all branches; returns branch name → row count written.
    *
    * Contract: a sink runs its frame. Each branch frame carries an
    * `Observation` counting its rows, so the sink's own write is the
    * only job over the branch — no persist, no separate `count()` — and
    * the count reported is the row count of the first action the sink
    * runs on the frame. Spark delivers observed metrics on the listener
    * bus after that action returns, so `run` waits for them, for at most
    * 30 s per branch. A sink that returns without running its frame gets
    * no count and fails the run with an `IllegalStateException` naming
    * the branch.
    */
  def run(spark: SparkSession, cacheSource: Boolean = false): Map[String, Long] = {
    val src = if (cacheSource && branches.size > 1) source(spark).persist() else source(spark)
    try branches.map { case (name, transform, sink) =>
      val rows = Observation()
      sink(transform(src).observe(rows, count(lit(1))))
      name -> Pipeline.observedCount(name, rows)
    }.toMap
    finally if (cacheSource && branches.size > 1) { src.unpersist(); () }
  }
}

object Pipeline {
  def from(source: SparkSession => DataFrame): Pipeline = Pipeline(source)

  /** How long `run` waits for a branch's observed count after its sink
    * returns. Delivery normally takes milliseconds; the bound only
    * matters for a sink that never ran its frame, whose count never
    * arrives.
    */
  private val CountWait: FiniteDuration = 30.seconds

  private def observedCount(branch: String, rows: Observation): Long =
    try Await.result(rows.future, CountWait).getLong(0)
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"Pipeline branch '$branch': no row count ${CountWait.toSeconds} s after its sink " +
          "returned; a sink must run an action on the frame it is given")
    }
}
