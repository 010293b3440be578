package perfbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into each layer. A
  * span's name is `layer.call`; `parent` is the enclosing span's id (-1 at
  * the top). Spans stay in memory and are written out with the results.
  * A disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private val origin = System.nanoTime()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the id so child spans can point at it
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans(id) = Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
      }
    }

  /** Self time per span name: duration minus the time covered by children. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }
}

/** Spark scheduler and SQL counters, registered on the session only
  * around traced work. Events reach listeners asynchronously, so counts
  * are read after the listener bus is drained. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val names = Seq("jobs", "stages", "tasks", "failed_tasks", "task_run_ms",
    "task_cpu_ns", "task_gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b",
    "input_b", "output_b", "plan_ms")
  private val c: Map[String, LongAdder] = names.map(_ -> new LongAdder).toMap
  private def add(n: String, v: Long): Unit = c(n).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("task_gc_ms", m.jvmGCTime)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_b", m.inputMetrics.bytesRead)
      add("output_b", m.outputMetrics.bytesWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
  /** analysis + optimization + physical planning, from the query's tracker */
  private def planned(qe: QueryExecution): Unit =
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  /** Totals so far; read after [[unregister]] or [[drained]]. */
  def totals: Map[String, Long] = c.map { case (k, v) => k -> v.sum }
  def drained(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    totals
  }
}
