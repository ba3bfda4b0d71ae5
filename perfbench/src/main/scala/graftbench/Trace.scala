package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.{QueryExecutionMetering, RuleExecutor}
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{BenchSqlAccess, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. `kind` is "layer" (a harness call into a
  * graft module), "sql" (one query-execution action) or "job" (one
  * Spark job). Times are epoch milliseconds; `req` is the traced
  * operation the span belongs to.
  */
final case class Span(id: Int, kind: String, name: String, start: Double,
    end: Double, var parent: Int = 0, var req: Long = 0L,
    planMs: Double = 0.0, scanRows: Long = 0L) {
  def ms: Double = end - start
}

/** The traced run's recorder. Layer spans come from the harness's own
  * calls into graft; job and query-execution spans, scheduler counters
  * and planning times come from a SparkListener that is attached only
  * while a traced operation runs ([[traced]]). Untraced operations of
  * the same run pay nothing, so comparing the two arms gives the
  * tracing overhead.
  * Spans stay in memory until the run ends.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val layerSpans = mutable.ArrayBuffer[Span]()
  private val sqlSpans = mutable.Map[Long, Span]()
  private val jobSpans = mutable.ArrayBuffer[(Span, Option[Long])]()
  private val jobStart = mutable.Map[Int, (Double, Option[Long])]()
  private val sqlStart = mutable.Map[Long, Double]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  @volatile private var on = false
  private var req = 0L

  /** Counters summed over traced operations since [[resetCounters]]. */
  val counts: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)
  /** Counters that keep a maximum rather than a sum. */
  val maxima: mutable.Map[String, Double] =
    mutable.Map[String, Double]().withDefaultValue(0.0)
  var tracedOps = 0
  /** Start of the timed window; spans before it belong to set-up. */
  var windowStart = 0.0

  def isOn: Boolean = on
  def add(name: String, v: Double): Unit = synchronized {
    if (on) counts(name) += v
  }
  def resetCounters(): Unit = synchronized {
    counts.clear(); maxima.clear(); tracedOps = 0; windowStart = nowMs
  }

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Time `f` as a span of layer `name` when a traced operation is on. */
  def layer[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val start = nowMs
      stack = Span(newId(), "layer", name, start, start, parent, req) :: stack
      try f
      finally {
        val open = stack.head
        stack = stack.tail
        synchronized { layerSpans += open.copy(end = nowMs) }
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        jobStart(e.jobId) = (e.time.toDouble, exec)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (t0, exec) =>
          jobSpans += ((Span(newId(), "job", s"job-${e.jobId}", t0,
            e.time.toDouble), exec))
          counts("jobs") += 1
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { counts("stages") += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        counts("tasks") += 1
        val m = e.taskMetrics
        if (m != null) {
          counts("task_run_ms") += m.executorRunTime
          counts("task_cpu_ms") += m.executorCpuTime / 1e6
          counts("gc_ms") += m.jvmGCTime
          counts("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          counts("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counts("spill_mem_bytes") += m.memoryBytesSpilled
          counts("spill_disk_bytes") += m.diskBytesSpilled
          maxima("peak_exec_mem_bytes") = math.max(
            maxima("peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { sqlStart(s.executionId) = s.time.toDouble }
      case s: SparkListenerSQLExecutionEnd =>
        // planning time from the execution's own tracker, input rows
        // from its file scans
        val qe = BenchSqlAccess.queryExecution(s)
        val planMs = qe.map(q => Seq("analysis", "optimization", "planning")
          .flatMap(q.tracker.phases.get)
          .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum).getOrElse(0.0)
        val rows = qe.flatMap(q => scala.util.Try(Trace.scanRows(q.executedPlan))
          .toOption).getOrElse(0L)
        Trace.this.synchronized {
          counts("actions") += 1
          counts("plan_ms") += planMs
          sqlStart.remove(s.executionId).foreach { t0 =>
            sqlSpans(s.executionId) = Span(newId(), "sql",
              s"sql-${s.executionId}", t0, s.time.toDouble, planMs = planMs,
              scanRows = rows)
          }
        }
      case _ =>
    }
  }

  private var codegen0 = 0L
  private var rule0 = 0L
  private var graftRule0 = 0L

  /** Run one operation with every recorder attached, or plainly when
    * tracing is off or `arm` is false (the untraced arm of the overhead
    * comparison). `countOp` is false for set-up work that is traced but
    * is not one of the timed window's operations.
    */
  def traced[A](arm: Boolean, countOp: Boolean = true)(f: => A): A =
    if (!enabled || !arm) f
    else {
      begin()
      try f
      finally { finish(); if (countOp) synchronized { tracedOps += 1 } }
    }

  private def begin(): Unit = {
    req += 1
    // events of the untraced op just before must not reach the listener
    BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(sparkListener)
    codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    rule0 = RuleExecutor.getCurrentMetrics().time
    graftRule0 = Trace.graftRuleNanos()
    on = true
  }

  private def finish(): Unit = {
    BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    synchronized {
      counts("codegen_compiles") +=
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
      counts("rule_ms") +=
        (RuleExecutor.getCurrentMetrics().time - rule0) / 1e6
      counts("graft_rule_ms") += (Trace.graftRuleNanos() - graftRule0) / 1e6
      maxima("cached_bytes") =
        math.max(maxima("cached_bytes"), cached.toDouble)
      on = false
    }
  }

  /** Every span with its parent and request id resolved: a job belongs
    * to its query execution when it has one, otherwise (like every
    * query execution) to the innermost layer span open when it started.
    */
  def spans: Seq[Span] = synchronized {
    val layers = layerSpans.toSeq
    def innermost(t: Double): Option[Span] =
      layers.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)
    val sqls = sqlSpans.toSeq.map { case (exec, s) =>
      innermost(s.start).foreach { p => s.parent = p.id; s.req = p.req }
      exec -> s
    }.toMap
    val jobs = jobSpans.toSeq.map { case (j, exec) =>
      exec.flatMap(sqls.get).orElse(innermost(j.start)).foreach { p =>
        j.parent = p.id; j.req = p.req
      }
      j
    }
    (layers ++ sqls.values ++ jobs).sortBy(_.start)
  }
}

object Trace {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part covered by its
    * direct children.
    */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - covered(children.map(c =>
      (math.max(c.start, s.start), math.min(c.end, s.end))))

  /** All descendants of `root` in `byParent`. */
  def descendants(root: Span, byParent: Map[Int, Seq[Span]]): Seq[Span] = {
    val kids = byParent.getOrElse(root.id, Nil)
    kids ++ kids.flatMap(descendants(_, byParent))
  }

  /** The data-source scans of an executed plan, adaptive stages and
    * subqueries included; a reused exchange's scans are counted once.
    */
  def scans(p: SparkPlan): Seq[DataSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _: ReusedExchangeExec => Nil
    case s: DataSourceScanExec => Seq(s)
    case other =>
      other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Rows produced by the file scans of an executed plan: the input
    * side of `rows_scanned_per_result`.
    */
  def scanRows(p: SparkPlan): Long =
    scans(p).map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum

  // the metering object is protected in Scala terms; its per-rule time
  // map is private, so both are read reflectively
  private val meter = RuleExecutor.getClass
    .getMethod("queryExecutionMeter").invoke(RuleExecutor)
  private val timeMap = {
    val f = classOf[QueryExecutionMetering].getDeclaredField("timeMap")
    f.setAccessible(true)
    f
  }

  /** Cumulative analyzer/optimizer time of graft's own injected rules
    * (IndexedKnnRule, SummaryRewriteRule), from RuleExecutor metering.
    */
  def graftRuleNanos(): Long = {
    val m = timeMap.get(meter).asInstanceOf[
      org.sparkproject.guava.util.concurrent.AtomicLongMap[String]]
    m.asMap().asScala.collect {
      case (k, v) if k.startsWith("graft.") => v.longValue
    }.sum
  }
}
