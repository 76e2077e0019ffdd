package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Spans of one run share `run`; `parent` is the
  * span that caused this one (-1 at the root).
  */
final case class Span(id: Int, parent: Int, name: String, label: String, start: Long,
                      var end: Long, counts: mutable.LinkedHashMap[String, Double])

/** In-memory span recorder, written out once when the run ends. When
  * disabled, `span` only runs its body.
  */
final class Tracer(val run: String, val t0: Long) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()

  def span[A](name: String, label: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = open(name, label)
      try body finally closeTo(id)
    }

  /** Opens a span that `close` ends, for intervals that are not one
    * block of the benchmark's code (a pipeline branch starts in one
    * callback and ends in the next).
    */
  def open(name: String, label: String = ""): Int =
    if (!enabled) -1
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, label, System.nanoTime() - t0,
        -1L, mutable.LinkedHashMap.empty)
      spans += s
      stack.push(s.id)
      s.id
    }

  def close(): Unit =
    if (stack.nonEmpty) spans(stack.pop()).end = System.nanoTime() - t0

  /** Ends span `id` and any span still open inside it (an exception can
    * leave a callback-opened span behind).
    */
  private def closeTo(id: Int): Unit =
    while (stack.nonEmpty && stack.contains(id)) close()

  def openName: Option[String] = stack.headOption.map(spans(_).name)

  /** Adds a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled && stack.nonEmpty) {
      val c = spans(stack.head).counts
      c(key) = c.getOrElse(key, 0.0) + v
    }

  /** Self time per span name: a span's duration minus the part of its
    * interval that its children cover.
    */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += math.max(0L, curE - curS)
      s.name -> (s.end - s.start - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.render(Map("run" -> run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "label" -> s.label, "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "counts" -> s.counts)))
    } finally w.close()
  }
}

/** Counters from Spark's own listener events: jobs, stages, tasks, task
  * CPU, shuffle, spill, per-stage task durations, the run time of the
  * stage that parses a CSV, and streaming progress. Installed by the
  * benchmark only in traced passes.
  */
final class Meter extends SparkListener {
  val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val batchS = mutable.ArrayBuffer.empty[Double]
  val lastStateRows = mutable.HashMap.empty[String, Long]
  private val csvStages = mutable.HashSet.empty[Int]
  private val stageRunS = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)

  def reset(): Unit = synchronized {
    c.clear(); stageTaskMs.clear(); batchS.clear(); lastStateRows.clear(); csvStages.clear()
    stageRunS.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs") += 1
    e.stageInfos.foreach { si =>
      if (si.rddInfos.exists(r => r.name.toLowerCase.contains("csv") ||
            r.scope.exists(_.name.toLowerCase.contains("csv")))) csvStages += si.stageId
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c("tasks") += 1
    if (m != null) {
      c("task_cpu_s") += m.executorCpuTime / 1e9
      c("task_run_s") += m.executorRunTime / 1e3
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
      c("shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      stageRunS(e.stageId) += m.executorRunTime / 1e3
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val pr = p.progress
      c("stream_batches") += 1
      Option(pr.durationMs.get("triggerExecution")).foreach(ms => batchS += ms.longValue / 1e3)
      pr.stateOperators.foreach { so =>
        c("stream_commit_s") += so.commitTimeMs / 1e3
        c("stream_late_dropped") += so.numRowsDroppedByWatermark.toDouble
      }
      lastStateRows(pr.runId.toString) = pr.stateOperators.map(_.numRowsTotal).sum
    }
    case _ => ()
  }

  /** Run time of the first stage whose lineage holds a CSV scan. With a
    * cached parse (graft's dead-letter split) later stages read the cache,
    * so this is the stage that parses, together with whatever the first
    * branch pipelines into the same tasks.
    */
  def csvParseS: Double = synchronized {
    if (csvStages.isEmpty) 0.0 else stageRunS(csvStages.min)
  }

  /** Worst stage's max ÷ median task time (stages with ≥ 2 tasks). */
  def taskSkew: Double = synchronized {
    val rs = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    if (rs.isEmpty) 1.0 else rs.max
  }
}

object PlanShape {
  /** Final-plan operators that run outside whole-stage codegen, skipping
    * the structural nodes (exchanges, stage wrappers, adapters) that are
    * never code-generated by design.
    */
  def nonCodegenOps(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nonCodegenOps(a.executedPlan)
    case q: QueryStageExec => nonCodegenOps(q.plan)
    case w: WholeStageCodegenExec => inputs(w.child)
    case _: ReusedExchangeExec => 0
    case _: Exchange | _: AQEShuffleReadExec | _: ColumnarToRowExec | _: InputAdapter =>
      p.children.map(nonCodegenOps).sum
    case _ => 1 + p.children.map(nonCodegenOps).sum
  }

  /** Inside a codegen stage only the InputAdapter boundaries lead out. */
  private def inputs(p: SparkPlan): Int = p match {
    case i: InputAdapter => i.children.map(nonCodegenOps).sum
    case _ => p.children.map(inputs).sum
  }
}
