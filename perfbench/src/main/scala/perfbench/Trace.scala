package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed call into a layer, made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Counters for one step (a Spark job group), summed over its jobs, tasks
  * and SQL executions. */
final class StepCounters {
  var jobs, stages, sqlQueries = 0L
  var taskMs, cpuNs, gcMs, inBytes, shuffleWrite, shuffleRead, spill = 0L
  var writeMs = 0L
  var sqlExecNs, analysisMs, optimizationMs, planningMs = 0L
  /** Task run times of each stage, for the skew of the widest stage. */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** In-memory tracer for one operation at a time. The benchmark runs an
  * operation's steps one after another, each under its own job group
  * ([[step]]); the listeners below attribute every job, task and SQL
  * execution to the step that launched it. Nothing is written until the
  * run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  @volatile private var current = "driver"
  private val steps = mutable.LinkedHashMap[String, StepCounters]()
  private val stageStep = mutable.Map[Int, String]()
  private val sqlStart = mutable.Map[Long, Long]()
  /** File scans of the current operation, each counted once even when a
    * cached plan shows up in several queries. */
  private val scans = new java.util.IdentityHashMap[SparkPlan, Unit]()
  /** SQL execution intervals (epoch ms) of the current operation. */
  private val sqlIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def counters(step: String): StepCounters = synchronized(steps.getOrElseUpdate(step, new StepCounters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val step = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)
      counters(step).jobs += 1
      e.stageIds.foreach(stageStep(_) = step)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counters(stageStep.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(stageStep.getOrElse(e.stageId, current))
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inBytes += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
        case s: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(s.executionId).foreach(t0 => sqlIntervals += ((t0, s.time)))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = Tracer.this.synchronized {
      val c = counters(current)
      c.sqlQueries += 1
      c.sqlExecNs += durationNs
      val phases = qe.tracker.phases
      def phase(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += phase("analysis")
      c.optimizationMs += phase("optimization")
      c.planningMs += phase("planning")
      val nodes = Tracer.nodes(qe.executedPlan)
      nodes.filter(_.isInstanceOf[FileSourceScanExec]).foreach(scans.put(_, ()))
      if (nodes.exists(n => n.isInstanceOf[DataWritingCommandExec] || n.isInstanceOf[V2CommandExec]))
        c.writeMs += durationNs / 1000000L
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false

  /** Start tracing one operation. */
  def begin(): Unit = {
    require(!attached)
    steps.clear(); stageStep.clear(); sqlIntervals.clear(); sqlStart.clear(); scans.clear()
    drainNs = 0L
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Stop tracing; every event of the operation has been delivered. */
  def end(): Unit = {
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Time `f` as a span; nested calls become child spans. */
  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      open.pop()
    }
  }

  /** Nanoseconds spent waiting for listeners since [[begin]]: tracing's
    * own cost, kept out of the driver residual. */
  var drainNs = 0L

  /** A step: a span whose Spark jobs carry the step's name as job group. */
  def step[A](name: String)(f: => A): A = span(name) {
    current = name
    sc.setJobGroup(name, name)
    try f
    finally {
      val t0 = System.nanoTime()
      PerfbenchBridge.drainListeners(sc)
      drainNs += System.nanoTime() - t0
      sc.clearJobGroup()
      current = "driver"
    }
  }

  def stepCounters: Map[String, StepCounters] = synchronized(steps.toMap)

  /** Rows the operation's file scans produced. */
  def scanRows: Long = synchronized {
    scans.keySet.iterator.asScala.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
  def allSpans: Seq[Span] = spans.toSeq

  /** Milliseconds of `[t0, t1]` (epoch ms) covered by SQL executions. */
  def sqlCoveredMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = sqlIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = t0
    clipped.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    covered
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }
}
