package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State shared by a run's set-up, timed window and checks. */
final class Run(val spark: SparkSession, val trace: Trace, val work: String,
    val seed: Long, val seconds: Double, val tiny: Boolean,
    val corruptTruth: Boolean) {
  val rng = new java.util.Random(seed)
  var attempted = 0L
  var failed = 0L
  /** End-to-end values the workload measured (setup_s and rss_peak_mb
    * are added by [[Main]]).
    */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Workload-specific numbers that are reported but not gated. */
  val extra = mutable.LinkedHashMap[String, Double]()
  /** Per-layer numbers the workload computes itself (per op). */
  val layer = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, String]()
  private var bad = List.empty[String]
  /** Latency samples of the workload's latency operation, in order,
    * and whether each ran traced.
    */
  val lat = mutable.ArrayBuffer[(Double, Boolean)]()

  def path(name: String): String = s"$work/$name"

  private val t0 = System.nanoTime()
  /** Progress note on standard error, with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = (if (ok) "ok: " else "FAILED: ") + detail
    if (!ok) bad ::= name
  }
  def correct: Boolean = bad.isEmpty

  /** Whether op `i` of the timed window runs traced. A traced run
    * alternates in the order traced, untraced, untraced, traced, … so
    * that a latency drift over the window falls on both arms alike and
    * the untraced ops give the overhead baseline.
    */
  def arm(i: Int): Boolean = trace.enabled && (i % 4 == 0 || i % 4 == 3)
  /** Ops a traced run needs: one round of the pattern above. */
  def minOps: Int = if (trace.enabled) 4 else 1

  def latency(traced: Boolean, ms: Double): Unit = lat += ((ms, traced))
  def latencies: Seq[Double] = lat.map(_._1).toSeq
}

trait Workload {
  /** Make inputs, build what the timed window needs, warm up. */
  def setup(r: Run): Unit
  /** The timed window: run operations until `r.seconds` of them have
    * been measured, then check the answers.
    */
  def measure(r: Run): Unit
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {
  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private var sink = 0.0
  /** A fixed pure-JVM workload (no Spark, no I/O): its time at the start
    * and at the end of a run shows whether the host was contended.
    */
  private def calibMs(): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0.0
    var i = 0
    while (i < 15000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += math.sqrt((x >>> 11).toDouble)
      i += 1
    }
    sink += acc
    (System.nanoTime() - t0) / 1e6
  }.min

  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }

  val Workloads: Map[String, Workload] = Map(
    "ingest_pipeline" -> IngestPipeline,
    "knn_serve" -> KnnServe)

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // exit at once: Spark's non-daemon threads would keep the JVM up
        e.printStackTrace()
        System.exit(3)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val out = Paths.get(opts("out"))
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val load0 = loadavg()
    val calib0 = calibMs()
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.register(spark)

    val trace = new Trace(spark, tracing)
    val r = new Run(spark, trace, work, seed, seconds,
      opts.getOrElse("tiny", "0") == "1",
      opts.getOrElse("corrupt-truth", "0") == "1")
    r.log("session up")
    wl.setup(r)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    trace.resetCounters()
    wl.measure(r)
    r.log("window done")
    val calib1 = calibMs()
    val load1 = loadavg()

    r.e2e("setup_s") = setupS
    r.e2e("rss_peak_mb") = peakRssMb()
    val spans = if (tracing) trace.spans else Nil
    val perLayer = if (tracing) PerLayer(r, spans) else Map.empty[String, Double]
    val context = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "trace" -> (if (tracing) 1 else 0),
      "calib_ms" -> Seq(calib0, calib1), "loadavg" -> Seq(load0, load1),
      "ops" -> r.latencies.size) ++ r.extra
    val record = Json.obj(
      "context" -> context,
      "correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "end_to_end" -> r.e2e, "per_layer" -> perLayer,
      "checks" -> r.checks,
      "latencies_ms" -> r.latencies,
      "spans" -> spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent,
        "req" -> s.req, "plan_ms" -> s.planMs, "scan_rows" -> s.scanRows)))
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out, record)
    r.log("record written")
    spark.stop()
    r.log("session stopped")
    System.exit(if (r.correct) 0 else 1)
  }
}

/** Per-layer numbers of a traced run, each normalised per traced
  * operation of the timed window unless its name says otherwise.
  */
object PerLayer {
  def apply(r: Run, all: Seq[Span]): Map[String, Double] = {
    val t = r.trace
    val ops = math.max(t.tracedOps, 1).toDouble
    val inWindow = all.filter(_.start >= t.windowStart)
    val byParent = all.groupBy(_.parent)
    def layers(name: String, spans: Seq[Span] = inWindow) =
      spans.filter(s => s.kind == "layer" && s.name == name)
    def perOp(name: String) = layers(name).map(_.ms).sum / ops
    def perCall(spans: Seq[Span]) =
      if (spans.isEmpty) 0.0 else spans.map(_.ms).sum / spans.size
    def self(names: String*) = names.flatMap(layers(_)).map(s =>
      Trace.selfMs(s, byParent.getOrElse(s.id, Nil))).sum / ops
    // the serving workload builds in set-up, so build numbers are per
    // build over the whole run
    val builds = layers("ivf.build", all)
    val buildJobs = builds.map(b => Trace.descendants(b, byParent)
      .count(_.kind == "job")).sum
    val searches = layers("ivf.search")
    // single-vector searches over REST run inside the http span
    val searchSql = (searches ++ layers("http"))
      .flatMap(Trace.descendants(_, byParent)).filter(_.kind == "sql")
    val c = t.counts
    val results = c("search_results")
    val traced = Stats.median(r.lat.filter(_._2).map(_._1).toSeq)
    val untraced = Stats.median(r.lat.filterNot(_._2).map(_._1).toSeq)
    Map(
      "embed_ms" -> perOp("embed"),
      "embed_self_ms" -> self("embed"),
      "dedup_ms" -> perOp("dedup"),
      "dedup_self_ms" -> self("dedup"),
      "build_ms" -> perCall(builds),
      "build_jobs" -> (if (builds.isEmpty) 0.0 else buildJobs.toDouble / builds.size),
      "build_self_ms" -> (if (builds.isEmpty) 0.0 else builds.map(b =>
        Trace.selfMs(b, byParent.getOrElse(b.id, Nil))).sum / builds.size),
      "search_ms" -> perCall(searches),
      "search_self_ms" -> self("ivf.search"),
      "rows_scanned_per_result" ->
        (if (results == 0) 0.0 else searchSql.map(_.scanRows).sum / results),
      "append_ms" -> perCall(layers("ivf.append")),
      "delete_ms" -> perCall(layers("ivf.delete")),
      "compact_ms" -> perCall(layers("ivf.compact")),
      "maint_self_ms" -> self("ivf.append", "ivf.delete", "ivf.compact"),
      "http_self_ms" -> self("http"),
      "plan_ms" -> c("plan_ms") / ops,
      "rule_ms" -> c("rule_ms") / ops,
      "graft_rule_ms" -> c("graft_rule_ms") / ops,
      "actions_per_op" -> c("actions") / ops,
      "codegen_compiles" -> c("codegen_compiles") / ops,
      "action_ms" -> inWindow.filter(_.kind == "sql").map(_.ms).sum / ops,
      "job_ms" -> inWindow.filter(_.kind == "job").map(_.ms).sum / ops,
      "peak_exec_mem_bytes" -> t.maxima("peak_exec_mem_bytes"),
      "cached_bytes" -> t.maxima("cached_bytes"),
      "traced_ops" -> t.tracedOps.toDouble,
      "trace_overhead_pct" ->
        (if (untraced.isNaN || traced.isNaN) 0.0
         else (traced - untraced) / untraced * 100.0)
    ) ++ Seq("embed_rows", "embed_tokens", "dedup_pairs", "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
      "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_mem_bytes", "spill_disk_bytes").map(n => n -> c(n) / ops) ++
      // measured by the workload itself; zero where it does not apply
      Seq("dedup_precision", "files_per_cell", "bytes_written_per_row")
        .map(n => n -> r.layer.getOrElse(n, 0.0))
  }
}

/** Just enough JSON output for the record file. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + graft.util.Json.escape(s) + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
