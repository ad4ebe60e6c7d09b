package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. `parent` is 0 for the
  * run span. */
final class Span(val id: Long, val parent: Long, val name: String,
    val kind: String, val startMs: Double, var endMs: Double) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durMs: Double = endMs - startMs
}

/** Facts read from one executed physical plan. */
final case class PlanStats(
    nodes: Int,
    codegenStages: Int,
    interpretedNodes: Int,
    /** output rows of the smallest (id_a, id_b)-keyed hash aggregate: the
      * distinct candidate-pair set of the pair-producing operators */
    pairKeyRows: Option[Long])

object PlanStats {
  /** Operators that have no whole-stage-codegen form by design (data
    * movement, scans, writes), so sitting outside a codegen stage is not a
    * fallback. */
  private def exempt(p: SparkPlan): Boolean = p match {
    case _: Exchange | _: AQEShuffleReadExec | _: LeafExecNode |
        _: ColumnarToRowExec | _: RowToColumnarExec |
        _: DataWritingCommandExec | _: ExecutedCommandExec |
        _: WriteFilesExec | _: V2CommandExec | _: CollectLimitExec |
        _: InMemoryTableScanExec | _: SubqueryExec |
        _: SubqueryBroadcastExec | _: ReusedSubqueryExec => true
    case _ => false
  }

  def of(plan: SparkPlan): PlanStats = {
    var nodes = 0
    var stages = 0
    var interpreted = 0
    val pairRows = mutable.ArrayBuffer.empty[Long]
    def visit(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, inCodegen)
      case q: QueryStageExec => visit(q.plan, inCodegen)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec =>
        stages += 1
        visit(w.child, inCodegen = true)
      case i: InputAdapter => visit(i.child, inCodegen = false)
      case other =>
        nodes += 1
        if (!inCodegen && !exempt(other)) interpreted += 1
        interpreted += other.expressions
          .map(_.collect { case e: CodegenFallback => e }.size).sum
        other match {
          case h: HashAggregateExec
              if h.groupingExpressions.map(_.name).toSet == Set("id_a", "id_b") =>
            h.metrics.get("numOutputRows").foreach(m => pairRows += m.value)
          case _ => ()
        }
        other.children.foreach(visit(_, inCodegen))
        other.subqueries.foreach(visit(_, inCodegen = false))
    }
    visit(plan, inCodegen = false)
    PlanStats(nodes, stages, interpreted, pairRows.minOption)
  }
}

/** Spark-side totals accumulated while one operation runs. */
final class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  /** max over stages (>= 2 tasks, slowest task >= 20 ms) of
    * slowest / median task run time */
  var maxSkew = 0.0
  /** wall time while at least one job was running */
  var jobBusyMs = 0.0
}

/** In-memory span recorder plus the Spark listeners that feed it. Spans
  * nest run -> op -> build/plan/execute -> Spark job -> stage; jobs find
  * their parent through a local property set on the client thread. Nothing
  * is written until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 0L
  private val stack = mutable.Stack.empty[Span]

  private def newSpan(parent: Long, name: String, kind: String,
      start: Double, end: Double): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, parent, name, kind, start, end)
    spans += s
    s
  }

  def begin(name: String, kind: String): Span = {
    val now = nowMs
    val s = newSpan(stack.headOption.map(_.id).getOrElse(0L), name, kind, now, now)
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  def end(s: Span): Unit = {
    s.endMs = nowMs
    stack.pop()
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
  }

  def span[T](name: String, kind: String)(body: => T): T = {
    val s = begin(name, kind)
    try body finally end(s)
  }

  // ---- listener side (Spark's listener bus thread) ----
  private var totals = new SparkTotals
  private val plans = mutable.ArrayBuffer.empty[PlanStats]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val stageRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var openJobs = 0
  private var busySince = 0.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      val s = newSpan(parent, s"job ${e.jobId}", "job", e.time.toDouble, e.time.toDouble)
      jobSpans(e.jobId) = s
      e.stageIds.foreach(stageParent(_) = s.id)
      totals.jobs += 1
      if (openJobs == 0) busySince = e.time.toDouble
      openJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
      openJobs = math.max(0, openJobs - 1)
      if (openJobs == 0) totals.jobBusyMs += e.time - busySince
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        totals.tasks += 1
        totals.taskRunMs += m.executorRunTime
        totals.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        totals.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        totals.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        stageRuns.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      totals.stages += 1
      val runs = stageRuns.remove((info.stageId, info.attemptNumber()))
        .getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      val s = newSpan(stageParent.getOrElse(info.stageId, 0L), s"stage ${info.stageId}",
        "stage", info.submissionTime.getOrElse(0L).toDouble,
        info.completionTime.getOrElse(0L).toDouble)
      s.attrs("tasks") = info.numTasks
      s.attrs("task_run_ms") = runs.sum.toDouble
      if (runs.size >= 2 && runs.last >= 20) {
        val med = math.max(1.0, Stats.median(runs.map(_.toDouble).toSeq))
        s.attrs("skew") = runs.last / med
        totals.maxSkew = math.max(totals.maxSkew, runs.last / med)
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val st = PlanStats.of(qe.executedPlan)
      Tracer.this.synchronized { plans += st }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    attached = false
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Drains the bus, then returns and resets what accumulated since the
    * last call. */
  def take(): (SparkTotals, Seq[PlanStats]) = {
    drain()
    synchronized {
      val out = (totals, plans.toList)
      totals = new SparkTotals
      plans.clear()
      out
    }
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    s.durMs - covered
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}","start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}"""
      s.attrs.foreach { case (k, v) => sb ++= s""","$k":${Json.num(v)}""" }
      sb ++= (if (i + 1 < spans.size) "},\n" else "}\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
