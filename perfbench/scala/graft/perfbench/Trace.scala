package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec

/** One harness-side span around a call into graft. `startMs`/`endMs` use
  * the wall clock Spark stamps its events with; `durS` uses nanoTime. */
final class Span(val id: Long, val name: String, val tag: String,
                 val parent: Long, val op: Int, val startMs: Long,
                 val t0: Long, val snap0: Array[Double]) {
  var endMs = 0L
  var durS = 0.0
  /** Driver-side counter deltas, in the order of [[Tracer.SnapNames]]. */
  var snapDelta: Array[Double] = Array.fill(Tracer.SnapNames.size)(0.0)
}

/** Listener-fed counts of the jobs, tasks and SQL executions that ran
  * while a span was the innermost open one. */
final class SparkCounts {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

object Tracer {
  val SpanProp = "perfbench.span"
  val SnapNames = Seq("codegen.compiles", "codegen.compile_ms",
    "fs.files_discovered", "fs.listing_jobs")
  val CountNames = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.task_busy_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
    "spark.output_mb", "catalyst.actions", "catalyst.plan_ms",
    "catalyst.exchanges", "catalyst.sort_merge_joins",
    "catalyst.broadcast_joins", "catalyst.windows")
  private val MB = 1024.0 * 1024.0

  /** Operator counts of the final (post-AQE) physical plan. */
  def planShape(plan: SparkPlan): Map[String, Double] = {
    val n = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case _: ReusedExchangeExec =>
      case other =>
        other match {
          case _: ShuffleExchangeLike => n("catalyst.exchanges") += 1
          case _: SortMergeJoinExec => n("catalyst.sort_merge_joins") += 1
          case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
            n("catalyst.broadcast_joins") += 1
          case _: WindowExec => n("catalyst.windows") += 1
          case _ =>
        }
        other.children.foreach(visit)
        other.subqueries.foreach(visit)
    }
    visit(plan)
    n.toMap
  }
}

/** Harness-side spans. With `enabled` false a span only times its body;
  * with it true the tracer also tags Spark jobs with the span id (a local
  * property, which AQE's stage submissions inherit), listens to the
  * scheduler and to finished SQL executions (whose end event carries the
  * QueryExecution a QueryExecutionListener would get, plus the execution
  * id that ties it to a span), and snapshots the codegen and
  * file-listing counters at each span boundary. Spans stay in memory until
  * [[finish]]. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextId = 1L
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  private val lock = new Object
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val counts = mutable.Map.empty[Long, SparkCounts]
  private val execStartMs = mutable.Map.empty[Long, Long]
  private val execStats = mutable.Map.empty[Long, Map[String, Double]]
  private val compileMicros = new AtomicLong

  private def countsOf(span: Long): SparkCounts =
    counts.getOrElseUpdate(span, new SparkCounts)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)

  private object Scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = (s, e.time)
      countsOf(s).c("spark.jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) =>
        countsOf(s).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val s = spanOf(e.properties)
        stageSpan(e.stageInfo.stageId) = s
        countsOf(s).c("spark.stages") += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = countsOf(stageSpan.getOrElse(e.stageId, 0L)).c
      c("spark.tasks") += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c("spark.failed_tasks") += 1
      c("spark.task_busy_s") += e.taskInfo.duration / 1000.0
      val m = e.taskMetrics
      if (m != null) {
        c("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / MB
        c("spark.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / MB
        c("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / MB
        c("spark.input_mb") += m.inputMetrics.bytesRead / MB
        c("spark.output_mb") += m.outputMetrics.bytesWritten / MB
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized { execStartMs(s.executionId) = s.time }
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val planMs = Seq("analysis", "optimization", "planning")
            .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
          val shape = try planShape(qe.executedPlan) catch {
            case _: Throwable => Map.empty[String, Double]
          }
          lock.synchronized {
            execStats(end.executionId) = shape ++ Map(
              "catalyst.actions" -> 1.0, "catalyst.plan_ms" -> planMs.toDouble)
          }
        }
      case _ =>
    }
  }

  /** Adds up CodeGenerator's "Code generated in X ms" lines, the only
    * exact per-compile time Spark exposes (CodegenMetrics keeps a sampled
    * histogram). */
  private object CodegenLog extends AbstractAppender("perfbench-codegen",
      null, null, true, Property.EMPTY_ARRAY) {
    private val Re = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case Re(ms) => compileMicros.addAndGet((ms.toDouble * 1000).toLong)
        case _ =>
      }
  }

  if (enabled) {
    sc.addSparkListener(Scheduler)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    CodegenLog.start()
    cfg.addAppender(CodegenLog)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(CodegenLog, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  private def snapshot(): Array[Double] = Array(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    compileMicros.get / 1000.0,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble)

  /** Runs `body` inside a span and returns its result with its seconds. */
  def span[T](name: String, op: Int = -1, tag: String = "")(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val parent = stack.headOption
    val s = new Span(nextId, name, tag, parent.fold(0L)(_.id), op,
      System.currentTimeMillis(), System.nanoTime(), snapshot())
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try {
      val r = body
      (r, (System.nanoTime() - s.t0) / 1e9)
    } finally {
      s.durS = (System.nanoTime() - s.t0) / 1e9
      s.endMs = System.currentTimeMillis()
      val snap = snapshot()
      s.snapDelta = snap.zip(s.snap0).map { case (a, b) => a - b }
      stack = stack.tail
      sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
    }
  }

  /** Inclusive per-span counters, ready once [[finish]] has run. */
  private val inclusive = mutable.Map.empty[Long, Map[String, Double]]
  private val inJobS = mutable.Map.empty[Long, Double]
  private val children = mutable.Map.empty[Long, Seq[Span]]

  /** Drains the listener bus and folds every count into its span. */
  def finish(): Unit = if (enabled) {
    PerfbenchAccess.drain(sc)
    lock.synchronized {
      // A SQL execution belongs to the innermost span open when it began.
      execStats.foreach { case (exec, stats) =>
        val t = execStartMs.getOrElse(exec, -1L)
        val open = spans.filter(s => s.startMs <= t && t <= s.endMs)
        val owner = if (open.isEmpty) 0L else open.maxBy(s => (s.startMs, s.id)).id
        val c = countsOf(owner).c
        stats.foreach { case (k, v) => c(k) += v }
      }
    }
    children ++= spans.groupBy(_.parent).view.mapValues(_.toSeq)
    def fold(s: Span): (Map[String, Double], Seq[(Long, Long)]) = {
      val own = counts.get(s.id)
      val kids = children.getOrElse(s.id, Nil).map(fold)
      val base = CountNames.map(n => n -> own.fold(0.0)(_.c(n))).toMap
      val sum = kids.foldLeft(base) { case (acc, (m, _)) =>
        acc.map { case (k, v) => k -> (v + m.getOrElse(k, 0.0)) }
      }
      val ivs = own.fold(Seq.empty[(Long, Long)])(_.jobIntervals.toSeq) ++
        kids.flatMap(_._2)
      val snaps = SnapNames.zip(s.snapDelta).toMap
      inclusive(s.id) = sum ++ snaps
      inJobS(s.id) = unionMs(ivs, s.startMs, s.endMs) / 1000.0
      (sum, ivs)
    }
    spans.filter(_.parent == 0L).foreach(fold)
  }

  private def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (a, b) => (a max lo, b min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = curE max b
      }
    if (curE > curS) total += curE - curS
    total
  }

  def selfS(s: Span): Double =
    s.durS - children.getOrElse(s.id, Nil).map(_.durS).sum

  def counters(s: Span): Map[String, Double] =
    inclusive.getOrElse(s.id, Map.empty) +
      ("spark.in_job_s" -> inJobS.getOrElse(s.id, 0.0))

  /** Descendants of `root` (itself excluded). */
  def under(root: Span): Seq[Span] = {
    val kids = children.getOrElse(root.id, Nil)
    kids ++ kids.flatMap(under)
  }

  /** One span as a JSON line: identity, times, self time and counters. */
  def spanJson(s: Span, workload: String): String = {
    val cs = counters(s).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":${Json.str(s.name)},"tag":${Json.str(s.tag)},"parent":${s.parent},""" +
      s""""workload":${Json.str(workload)},"op":${s.op},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"dur_s":${Json.num(s.durS)},""" +
      s""""self_s":${Json.num(selfS(s))},"counters":{$cs}}"""
  }
}
