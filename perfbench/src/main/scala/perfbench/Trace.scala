package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark work counters, as the listener bus reports them. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleReadB: Long = 0, shuffleWriteB: Long = 0, spillB: Long = 0,
    sqlExecs: Long = 0, planMs: Long = 0, planNodes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, sqlExecs - o.sqlExecs, planMs - o.planMs, planNodes - o.planNodes)
}

/** Accumulates [[Counters]] from scheduler events and, for every finished
  * SQL execution, its Catalyst phase times (analysis + optimization +
  * planning, from `QueryExecution.tracker`) and optimized-plan size.
  * Updated on the bus thread; read after [[BusDrain]]. */
final class CounterListener extends SparkListener with QueryExecutionListener {
  @volatile private var c = Counters()
  def snapshot: Counters = c

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c = c.copy(jobs = c.jobs + 1)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    c = c.copy(stages = c.stages + 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) c = c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleReadB = c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      c = c.copy(sqlExecs = c.sqlExecs + 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    val nodes = qe.optimizedPlan.collect { case p => p }.size
    c = c.copy(planMs = c.planMs + ms, planNodes = c.planNodes + nodes)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One timed region. `op` names the call or query the span belongs to;
  * `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long, work: Counters,
                      attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer is the name up to the first dot (`federate.load` →
    * `federate`); operation roots (`api.*`, `q.*`) count as `api`. */
  def layer: String = if (parent < 0) "api" else name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled, every method runs its body and
  * records nothing, so the untraced path pays only a branch. Enabled, each
  * span boundary drains the listener bus so the span's [[Counters]] delta
  * holds exactly the Spark work started inside it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new CounterListener
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, ArrayBuffer[(String, Double)])] = Nil
  private var op = ""

  private def counters(): Counters = { BusDrain(spark.sparkContext); listener.snapshot }

  /** Root span of one call or query. */
  def operation[A](name: String, opId: String)(body: => A): A = {
    op = opId
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(-1)(_._1)
      val attrs = ArrayBuffer.empty[(String, Double)]
      val c0 = counters()
      stack = (id, attrs) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, t1, counters() - c0, attrs.toMap)
      }
    }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_._2 += key -> value)

  /** Record a child of the innermost open span whose duration was measured
    * elsewhere (Catalyst phases reported by the query-execution tracker),
    * placed at the current instant. */
  def derived(name: String, seconds: Double, attrs: Map[String, Double]): Unit =
    if (enabled) {
      val end = System.nanoTime()
      spans += Span(nextId, stack.headOption.fold(-1)(_._1), name, op,
        end - (seconds * 1e9).toLong, end, Counters(), attrs)
      nextId += 1
    }

  /** Counter snapshot, and the work done since an earlier one. */
  def mark(): Counters = if (enabled) counters() else Counters()
  def since(before: Counters): Counters = if (enabled) counters() - before else Counters()

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    def s(x: String) = graft.result.Json.str(x)
    val lines = spans.sortBy(_.id).map { sp =>
      val w = sp.work
      val attrs = sp.attrs.map { case (k, v) => s"${s(k)}:$v" }.mkString(",")
      s"""{"id":${sp.id},"parent":${sp.parent},"name":${s(sp.name)},"op":${s(sp.op)},""" +
        s""""start_ns":${sp.startNs},"end_ns":${sp.endNs},"jobs":${w.jobs},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
        s""""cpu_ns":${w.cpuNs},"gc_ms":${w.gcMs},"shuffle_read_b":${w.shuffleReadB},""" +
        s""""shuffle_write_b":${w.shuffleWriteB},"spill_b":${w.spillB},""" +
        s""""sql_execs":${w.sqlExecs},"plan_ms":${w.planMs},"plan_nodes":${w.planNodes},""" +
        s""""attrs":{$attrs}}"""
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
