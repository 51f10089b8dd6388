package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one call into a layer, made while serving `request` and
  * starting `startMs` after the tracer was created. `idleMs` is the part of
  * the span's wall time during which no task ran: the engine's front end,
  * Catalyst, scheduling and driver-side collects. `catalystMs` sums the
  * analysis, optimization and planning phases of the queries the span
  * executed. */
final case class SpanRecord(name: String, request: String, startMs: Double, ms: Double,
                            jobs: Long, tasks: Long, taskMs: Long, idleMs: Double,
                            shuffleBytes: Long, catalystMs: Long)

/** Wraps calls into the engine's layers. Untraced, a span only runs its
  * body. Traced, it registers a `SparkListener` and a
  * `QueryExecutionListener` on the session and keeps one [[SpanRecord]]
  * per call in memory. Spans do not nest. The listener bus is drained at
  * both span edges, so every event a span caused is delivered while that
  * span is the current one and nothing else is. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val records = mutable.ArrayBuffer.empty[SpanRecord]
  /** Spans closed while this is false (warm-up) are not kept. */
  var keep = true
  /** The request the next spans serve: a question id, or a batch job. */
  var request = "setup"
  private val created = System.nanoTime()

  // mutated on the listener thread, read on the caller's after a drain
  @volatile private var jobs, tasks, taskMs, shuffleBytes, catalystMs = 0L
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private object Listener extends SparkListener with QueryExecutionListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
      taskIntervals.synchronized {
        taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      catalystMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(Listener)
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    jobs = 0; tasks = 0; taskMs = 0; shuffleBytes = 0; catalystMs = 0
    taskIntervals.synchronized(taskIntervals.clear())
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      val wall1 = System.currentTimeMillis()
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      val busy = taskIntervals.synchronized(Tracer.covered(taskIntervals.toSeq, wall0, wall1))
      if (keep)
        records += SpanRecord(name, request, (t0 - created) / 1e6, ms, jobs, tasks,
          taskMs, math.max(0.0, ms - busy), shuffleBytes, catalystMs)
    }
  }

  def spans: Seq[SpanRecord] = records.toSeq
}

object Tracer {
  /** Milliseconds of [from, to] covered by at least one interval. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total, end = 0L
    var start = -1L
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val (a, b) = (math.max(a0, from), math.min(b0, to))
      if (b > a) {
        if (start < 0 || a > end) {
          if (start >= 0) total += end - start
          start = a; end = b
        } else end = math.max(end, b)
      }
    }
    if (start >= 0) total += end - start
    total
  }
}
