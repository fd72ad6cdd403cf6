package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Records what one run did, from outside the program.
  *
  * Spans come from two sources. The benchmark wraps each call into a
  * layer of the program in [[span]] (a stack, so parents are exact). Spark
  * reports SQL executions (with their QueryExecution, the object a
  * QueryExecutionListener receives), planning phases and jobs to the
  * listener registered here, and codegen work through Spark's
  * CodegenMetrics; parents of these records are assigned afterwards by
  * time containment (`metrics.py`), since listener callbacks arrive
  * asynchronously on Spark's bus thread.
  *
  * Every timestamp is epoch milliseconds, the clock Spark's own events use.
  * Recording is gated by [[on]]; when it is off the listener returns
  * immediately, so untraced iterations of a traced run cost what an
  * untraced run costs plus one volatile read per event.
  */
final class Trace(spark: SparkSession) {
  @volatile var on = false

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, name: String, start: Double, var end: Double, parent: Int)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  /** Runs `body` inside a span named `layer.what`; the root span of an
    * iteration is named `iteration`.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, nowMs, 0.0, stack.headOption.getOrElse(-1))
      spans += s
      stack.push(s.id)
      try body
      finally { s.end = nowMs; stack.pop() }
    }

  // ---- listener records -------------------------------------------------

  private val actions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long, Seq[Int])]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

  final class StageAcc {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var gcMs, shuffleWrite, shuffleRead, spill = 0L
  }

  /** Codegen work as running totals: classes compiled (the count of Spark's
    * compile-time histogram) and compile nanoseconds (CodeGenerator's own
    * accumulator). The histogram's values are a sample, so they are not used.
    */
  private val compileHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private def compileTotals(): (Long, Long) = (compileHist.getCount, CodeGenerator.compileTime)
  private var compileSeen = compileTotals()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      openJobs.put(e.jobId, (e.time.toDouble, exec, e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val acc = stageTasks.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          acc.gcMs += m.jvmGCTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(openJobs.remove(e.jobId)).foreach {
      case (start, exec, stageIds) =>
        val stages = stageIds.flatMap(id => Option(stageTasks.remove(id))).filter(_.taskMs.nonEmpty)
        jobs.add(Map("start" -> start, "end" -> e.time.toDouble, "exec" -> exec,
          "stages" -> stages.map(s => Map("task_ms" -> s.taskMs.toSeq, "gc_ms" -> s.gcMs,
            "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
            "spill" -> s.spill))))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time.toDouble)
      case s: SparkListenerSQLExecutionEnd =>
        for (qe <- SparkAccess.queryExecution(s); start <- Option(execStarts.remove(s.executionId)))
          actions.add(action(qe, s.executionId, start, s.time.toDouble))
      case _ => ()
    }
  }

  /** One SQL execution: its planning phases (Spark's QueryPlanningTracker),
    * the executed plan's size and exchanges, the path it wrote, and the
    * codegen compile work since the previous execution ended.
    */
  private def action(qe: QueryExecution, exec: Long, start: Double, end: Double) = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val plan = qe.executedPlan
    val nodes = PlanWalk.nodes(plan)
    val output = (qe.logical +: qe.logical.collect { case p => p }).collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
    val rows = nodes.collectFirst { case w: DataWritingCommandExec => w }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).getOrElse(-1L)
    val (count, nanos) = compileTotals()
    val compiled = (count - compileSeen._1, (nanos - compileSeen._2) / 1e6)
    compileSeen = (count, nanos)
    Map("exec" -> exec, "root" -> plan.nodeName, "exec_start" -> start, "exec_end" -> end, "phases" -> phases,
      "nodes" -> nodes.size, "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "output" -> output.getOrElse(""), "rows_written" -> rows,
      "compile_ms" -> compiled._2, "classes" -> compiled._1)
  }

  /** Walks adaptive plans into their query stages. */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def nodes(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }
  }

  /** Registers the listener; a run that never calls this records nothing. */
  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Waits until Spark has delivered every queued event to the listener,
    * so switching [[on]] cleanly splits traced and untraced iterations.
    */
  def drain(): Unit = SparkAccess.drain(spark.sparkContext)

  /** Resets the codegen baseline; called when tracing switches on. */
  def resync(): Unit = { drain(); compileSeen = compileTotals() }

  def result(): Map[String, Any] = {
    drain()
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent)),
      "actions" -> actions.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq)
  }
}
