package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.http.HttpApi

/** `knn_serve`: one client sends single-vector
  * `POST /collections/{c}/search` requests (k=10, fixed nprobe) to the
  * REST server over loopback, in a closed loop. Each request is
  * dominated by fixed cost — planning, codegen, job scheduling, file
  * listing — while per-row work is small, so this isolates the
  * per-request floor.
  */
object KnnServe extends Workload {
  private final case class Size(vectors: Int, centers: Int, sigma: Double,
      cells: Int, nprobe: Int, warmup: Int, pool: Int)
  private def size(r: Run) =
    if (r.tiny) Size(3000, 100, 0.8, 8, 2, 5, 40)
    else Size(20000, 1000, 0.8, 64, 16, 24, 500)

  private val K = 10
  private var api: HttpApi = _
  private var client: HttpClient = _
  private var base: String = _
  private var queries: Seq[(Long, Array[Float])] = Nil
  private var truth: Map[Long, Seq[Long]] = Map.empty

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def searchBody(v: Array[Float], nprobe: Int): String =
    v.mkString("{\"vector\":[", ",", "]") +
      s""","k":$K,"nprobe":$nprobe,"vector_column":"embedding","id_column":"vec_id"}"""

  private val IdPattern = "\"id\":(-?\\d+)".r

  /** Root paths of the file scans in the queries `f` runs, seen through
    * a QueryExecutionListener.
    */
  private def scannedRoots(r: Run)(f: => Unit): Seq[String] = {
    val roots = mutable.LinkedHashSet[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        roots.synchronized {
          roots ++= Trace.scans(qe.executedPlan).collect {
            case s: FileSourceScanExec => s.relation.location.rootPaths
          }.flatten.map(_.toUri.getPath)
        }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    r.spark.listenerManager.register(listener)
    try f
    finally {
      BenchAccess.drainListeners(r.spark.sparkContext)
      r.spark.listenerManager.unregister(listener)
    }
    roots.synchronized(roots.toSeq)
  }

  // bytes of the files the served search reads, from the last warm-up
  // request's scans; None if it read no files
  private var indexBytes: Option[Long] = None

  def setup(r: Run): Unit = {
    val sz = size(r)
    val spark = r.spark
    val mix = new Gen.Mixture(r.rng, sz.centers, 64, sz.sigma)
    val vecs = Seq.fill(sz.vectors)(mix.next())
    Gen.writeVectors(spark, r.path("serve/vectors"),
      (0 until sz.vectors).map(_.toLong), vecs, 8)
    queries = (0 until sz.warmup + sz.pool).map(q => (10000000L + q, mix.next()))
    r.log("vectors written")
    val corpus = (0 until sz.vectors).map(_.toLong).zip(vecs)
    truth = queries.map { case (q, v) =>
      q -> Gen.exactTopK(corpus, v, K).map(i => if (r.corruptTruth) i + 1 else i)
    }.toMap
    r.log("ground truth computed")

    spark.read.parquet(r.path("serve/vectors")).createOrReplaceTempView("corpus")
    api = new HttpApi(spark).start()
    base = s"http://localhost:${api.boundPort}"
    client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val built = r.trace.traced(arm = true, countOp = false) {
      r.trace.layer("ivf.build") {
        post("/collections/corpus/index",
          s"""{"n_cells":${sz.cells},"vector_column":"embedding","id_column":"vec_id"}""")
      }
    }
    require(built.statusCode == 201, s"index build failed: ${built.body}")
    r.log("index built")
    // warm-up until timing starts: the per-request latency keeps falling
    // while the JIT and Spark's codegen caches fill
    def warm(q: Long, v: Array[Float]): Unit = {
      val res = post("/collections/corpus/search", searchBody(v, sz.nprobe))
      require(res.statusCode == 200, s"warm-up search failed: ${res.body}")
      answered(q, res.body)
    }
    queries.take(sz.warmup - 1).foreach { case (q, v) => warm(q, v) }
    // the served index is wherever the last warm-up search reads its
    // rows; graft does not publish the path
    val roots = scannedRoots(r) {
      val (q, v) = queries(sz.warmup - 1)
      warm(q, v)
    }
    r.log(s"served search reads ${roots.mkString(", ")}")
    indexBytes = Some(roots.map(Dirs.dataBytes).sum).filter(_ > 0)
  }

  // recall counts the warm-up answers too: answers do not depend on
  // timing, and more of them make the figure steadier
  private var hits = 0L
  private var asked = 0L
  private def answered(q: Long, body: String): Seq[Long] = {
    val ids = IdPattern.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    hits += (ids.toSet & truth.getOrElse(q, Nil).toSet).size
    asked += 1
    ids
  }

  def measure(r: Run): Unit = {
    val sz = size(r)
    val timed = queries.drop(sz.warmup).toIndexedSeq
    var busy = 0.0
    var i = 0
    // fresh query vectors only: none repeats within a run
    // the pool only runs dry if requests get ~20x faster; the window
    // then ends early rather than repeating a query
    while (i < timed.size && (busy < r.seconds * 1000 ||
        i < r.minOps)) {
      val (qid, v) = timed(i)
      val traced = r.arm(i)
      val t0 = System.nanoTime()
      val res = scala.util.Try(r.trace.traced(traced) {
        r.trace.add("search_results", K)
        r.trace.layer("http") {
          post("/collections/corpus/search", searchBody(v, sz.nprobe))
        }
      })
      val ms = (System.nanoTime() - t0) / 1e6
      busy += ms
      r.attempted += 1
      r.latency(traced, ms)
      val ids = answered(qid, res.toOption.filter(_.statusCode == 200)
        .map(_.body).getOrElse(""))
      if (ids.size != K) r.failed += 1
      i += 1
    }
    api.stop()
    val lat = r.latencies
    val recall = hits.toDouble / (asked * K)
    r.e2e("throughput") = r.attempted / (busy / 1000)
    r.e2e("latency_p50_ms") = Stats.median(lat)
    r.e2e("recall_at_10") = recall
    indexBytes match {
      case Some(b) => r.e2e("index_bytes_per_row") = b.toDouble / sz.vectors
      case None => r.log("index_bytes_per_row left out: the served search " +
        "read no parquet files, so the index's size is unknown")
    }
    r.extra("serve_p90_ms") = Stats.quantile(lat, 0.9)
    r.extra("requests") = r.attempted.toDouble
    r.check("recall_at_10", recall >= 0.5,
      f"serve recall@10 $recall%.4f (floor 0.5)")
    r.check("requests_ok", r.failed == 0,
      s"${r.failed} of ${r.attempted} requests failed or returned fewer than $K results")
  }
}
