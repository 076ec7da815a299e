package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkShim
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The benchmark's own counters: one Spark listener for jobs, stages,
  * tasks, task metrics and SQL-execution intervals, one query-execution
  * listener for planning phases, and JVM MXBeans for GC and codegen.
  * [[attach]] registers both listeners on a session at most once.
  *
  * A task that ends without metrics makes every metric-derived counter
  * of that window unreported: [[Counts]] carries −1 for it rather than
  * an undercounted sum that would read like a measurement.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, tasksWithoutMetrics = new AtomicLong
  private val taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, spill, input = new AtomicLong

  /** A finished SQL execution: times in epoch ms, plan text for attribution. */
  final case class SqlExec(id: Long, startMs: Long, endMs: Long, plan: String)
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  val sqlExecs = new ConcurrentLinkedQueue[SqlExec]()

  /** Planning phases of one executed query: name -> (start ms, end ms). */
  val phases = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  def jobsSoFar: Long = jobs.get

  def attach(spark: SparkSession): Unit = {
    SparkShim.addListenerOnce(spark.sparkContext, this)
    SparkShim.addQueryListenerOnce(spark, this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m == null) tasksWithoutMetrics.incrementAndGet()
    else {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStarts.put(s.executionId, (s.time, s.physicalPlanDescription))
    case end: SparkListenerSQLExecutionEnd =>
      val st = sqlStarts.remove(end.executionId)
      if (st != null) sqlExecs.add(SqlExec(end.executionId, st._1, end.time, st._2))
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases.add(qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Current totals; listener-fed values are exact only after a bus drain. */
  def counts(): Counts = {
    val unreported = tasksWithoutMetrics.get > 0
    def m(v: Double): Double = if (unreported) -1.0 else v
    val mb = 1024.0 * 1024.0
    val (compiles, meanMs) = SparkShim.codegen()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Counts(Map(
      "execution.jobs" -> jobs.get.toDouble,
      "execution.stages" -> stages.get.toDouble,
      "execution.tasks" -> tasks.get.toDouble,
      "execution.task_run_ms" -> m(taskRunMs.get.toDouble),
      "execution.task_cpu_ms" -> m(taskCpuNs.get / 1e6),
      "execution.shuffle_write_mb" -> m(shuffleWrite.get / mb),
      "execution.shuffle_read_mb" -> m(shuffleRead.get / mb),
      "execution.spill_mb" -> m(spill.get / mb),
      "execution.input_mb" -> m(input.get / mb),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_ms" -> compiles * meanMs,
      "jvm.gc_ms" -> gcMs.toDouble))
  }
}

/** A snapshot of named counters; −1 marks a value that was not reported. */
final case class Counts(values: Map[String, Double]) {
  def -(earlier: Counts): Counts = Counts(values.map { case (k, v) =>
    val w = earlier.values.getOrElse(k, 0.0)
    k -> (if (v < 0 || w < 0) -1.0 else v - w)
  })
}
