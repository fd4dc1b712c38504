package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Explode}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from the monotonic clock, anchored once, so op spans
  * (timed here) and job/stage spans (Spark's millisecond event times) share
  * one time axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** One traced interval: workload, setup, pass, op, job or stage. */
final class Span(val id: Long, val parent: Long, val kind: String,
                 val name: String, val start: Long) {
  @volatile var end: Long = start
  val attrs: mutable.Map[String, Any] = TrieMap.empty[String, Any]
  def add(k: String, v: Double): Unit = attrs.synchronized {
    attrs(k) = attrs.getOrElse(k, 0.0).asInstanceOf[Double] + v
  }
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def open(parent: Long, kind: String, name: String,
           start: Long = Clock.nowUs): Span = synchronized {
    val s = new Span(next.getAndIncrement(), parent, kind, name, start)
    buf += s; s
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Counts of the physical plan a query actually executed, read from the
  * `QueryExecution` Spark hands its listeners — AQE's final plan, walked
  * through query stages — plus the planning phases Catalyst tracked. */
object PlanStats extends AdaptiveSparkPlanHelper {
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }


  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows entering `p`: the nearest descendant along a single-child chain
    * that counts its output rows (projections count nothing). */
  private def rowsIn(p: SparkPlan): Option[Long] = kids(p) match {
    case Seq(c) => rows(c).orElse(rowsIn(c))
    case _ => None
  }

  private def keyed(j: SparkPlan, name: String): Boolean = {
    val keys: Seq[Expression] = j match {
      case h: HashJoin => h.leftKeys
      case s: SortMergeJoinExec => s.leftKeys
      case _ => Nil
    }
    keys.exists(_.references.exists(_.name == name))
  }

  def of(qe: QueryExecution): Map[String, Double] = {
    val all = collectWithSubqueries(qe.executedPlan) { case p => p }
    def sum(xs: Seq[Long]) = xs.sum.toDouble
    // the interval join's bin explode: a Generate whose output column is
    // the engine's bin key (`__bin`/`__bin2`)
    val bins = all.collect {
      case g: GenerateExec if g.generator.isInstanceOf[Explode] &&
          g.generatorOutput.exists(_.name.startsWith("__bin")) =>
        (rows(g).getOrElse(0L), rowsIn(g).getOrElse(0L))
    }
    val joins = all.collect { case j: BaseJoinExec => j }
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs / 1000.0).getOrElse(0.0)
    Map(
      "queries" -> 1.0,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.exchanges" -> all.count(_.isInstanceOf[Exchange]).toDouble,
      "plan.reused_exchanges" -> all.count(_.isInstanceOf[ReusedExchangeExec]).toDouble,
      "plan.codegen_stages" -> all.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble,
      "ops.bin_out_rows" -> sum(bins.map(_._1)),
      "ops.bin_in_rows" -> sum(bins.map(_._2)),
      "ops.join_rows" -> sum(joins.collect {
        case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) => rows(j).getOrElse(0L)
      }),
      "dedup.candidate_pairs" ->
        sum(joins.filter(keyed(_, "__band")).flatMap(rows)),
      "ann.candidate_rows" ->
        sum(joins.filter(keyed(_, "centroid_id")).flatMap(rows)),
    )
  }
}

/** The traced run's hooks: a SparkListener for jobs, stages and tasks and a
  * QueryExecutionListener for executed plans. Jobs carry the op span id in
  * a local property; plans are charged to the op running when they end
  * (the harness drains the listener bus before moving to the next op). */
final class Tracer(spans: Spans) extends SparkListener with QueryExecutionListener {
  @volatile var currentOp: Span = _

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var readBytes = 0L; var writeBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = TrieMap.empty[Int, Span]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stages = TrieMap.empty[(Int, Int), StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { op =>
      val s = spans.open(op.toLong, "job", s"job ${e.jobId}", e.time * 1000L)
      s.attrs("phase") = e.properties.getProperty(Tracer.PhaseKey, "")
      jobs(e.jobId) = s
      e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageJob.contains(e.stageId)) return
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.durations += e.taskInfo.duration
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.readBytes += m.inputMetrics.bytesRead
        a.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); start <- info.submissionTime) {
      val parent = jobs.get(jobId)
      val a = stages.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAgg)
      parent.foreach { p =>
        val s = spans.open(p.id, "stage", s"stage ${info.stageId}", start * 1000L)
        s.end = info.completionTime.getOrElse(start) * 1000L
        val d = a.durations.sorted
        s.attrs ++= Map(
          "tasks" -> a.tasks.toDouble, "run_s" -> a.runMs / 1000.0,
          "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1000.0,
          "shuffle_write_mb" -> a.shuffleWrite / 1e6,
          "shuffle_read_mb" -> a.shuffleRead / 1e6, "spill_mb" -> a.spill / 1e6,
          "read_mb" -> a.readBytes / 1e6, "write_mb" -> a.writeBytes / 1e6,
          "task_max_s" -> d.lastOption.getOrElse(0L) / 1000.0,
          "task_median_s" -> (if (d.isEmpty) 0.0 else d(d.length / 2) / 1000.0))
      }
    }
  }

  private def charge(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op != null) PlanStats.of(qe).foreach { case (k, v) => op.add(k, v) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    charge(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    charge(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
}

/** Counts codegen compile failures and fallbacks to interpreted execution,
  * which otherwise only change speed, silently. Attached to the loggers
  * Spark reports them on; charged to the op running at the time. */
final class CodegenFallbacks extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  private val patterns = Seq("Failed to compile", "codegen disabled for plan",
    "whole-stage codegen was disabled", "falling back to interpreter")
  @volatile var count = 0L

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    if (patterns.exists(msg.contains)) synchronized { count += 1 }
  }

  def attach(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    Seq("org.apache.spark.sql.execution.WholeStageCodegenExec" -> Level.INFO,
        "org.apache.spark.sql.catalyst.expressions" -> Level.WARN).foreach {
      case (name, level) =>
        val lc = new LoggerConfig(name, level, true)
        lc.addAppender(this, level, null)
        cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}

/** Live heap at the end of a pass: the heap in use after full collections,
  * repeated with short pauses until three readings in a row agree. One
  * collection is not enough: it only queues Spark's weakly referenced
  * shuffles and broadcasts for the ContextCleaner, whose thread frees them
  * afterwards, so a single reading varied by tens of MB with the cleaner's
  * timing. Heap use after young collections is not sampled: it includes
  * old-generation garbage, which varies with collection timing rather than
  * with the work. */
object LiveHeap {
  val PauseMs = 200L
  val MaxCollections = 12
  /** Readings closer than this count as agreeing. */
  val SettledMb = 1.0

  def settledMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = collect()
    var agreeing = 0
    var n = 1
    while (agreeing < 2 && n < MaxCollections) {
      Thread.sleep(PauseMs)
      val cur = collect()
      agreeing = if (math.abs(cur - last) < SettledMb) agreeing + 1 else 0
      last = cur
      n += 1
    }
    last
  }
}
