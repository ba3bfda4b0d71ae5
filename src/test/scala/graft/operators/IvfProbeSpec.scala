package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-side probe every IVF search path shares: each path must
  * probe exactly a brute-force argmin's cells (ties to the lower cell
  * index), reject malformed query vectors, and plan without running a
  * Spark job when its queries are a local relation.
  */
class IvfProbeSpec extends SparkSuite {
  import spark.implicits._

  // six centroids on the ±2 axes of the first three dimensions: easy to
  // place a query exactly equidistant from several of them
  private val cents: Array[Array[Float]] = Array(
    Array(2f, 0f, 0f, 0f), Array(-2f, 0f, 0f, 0f),
    Array(0f, 2f, 0f, 0f), Array(0f, -2f, 0f, 0f),
    Array(0f, 0f, 2f, 0f), Array(0f, 0f, -2f, 0f))

  private lazy val corpus = {
    val rnd = new scala.util.Random(11)
    (0 until 240).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextFloat() * 6f - 3f))).toDF("vec_id", "v")
  }

  // random queries share cells with each other; qid 100 is equidistant
  // (squared distance 5) from all six centroids, so at nprobe 2 the tie
  // rule alone decides its cells: {0, 1}
  private lazy val queryRows: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(5)
    (0 until 6).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextFloat() * 6f - 3f))) :+
      (100L -> Seq(0f, 0f, 0f, 1f))
  }
  private lazy val queries = queryRows.toDF("vec_id", "v")

  private val nprobe = 2

  /** A brute-force argmin probe: squared L2 in double, ties to the
    * lower cell index.
    */
  private def argminCells(q: Seq[Float], n: Int): Seq[Int] =
    cents.indices.map { i =>
      (cents(i).zip(q).map { case (c, x) =>
        val d = x.toDouble - c; d * d }.sum, i)
    }.sorted.take(n).map(_._2)

  private def rows(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select($"qid", $"nid", $"rank", $"dist")
      .as[(Long, Long, Int, Double)].collect().toSet

  /** What `run` returns when each query is searched alone over only its
    * brute-force cells (every remaining cell probed).
    */
  private def oracle(run: (Seq[Int], DataFrame) => DataFrame)
      : Set[(Long, Long, Int, Double)] =
    queryRows.flatMap { case (qid, v) =>
      rows(run(argminCells(v, nprobe), Seq((qid, v)).toDF("vec_id", "v")))
    }.toSet

  private def restrict(df: DataFrame, cells: Seq[Int]): DataFrame =
    df.where(col("cell_id").isin(cells: _*))

  private def restrict(m: IvfIndex.Model, cells: Seq[Int]): IvfIndex.Model =
    m.copy(assigned = restrict(m.assigned, cells))

  private lazy val f32 = IvfIndex.buildWithCentroids(corpus, "vec_id", "v",
    cents)

  test("a query equidistant from two centroids probes the lower cell") {
    // (1,1,0,0) is at squared distance 2 from both cell 0 and cell 2
    assert(argminCells(Seq(1f, 1f, 0f, 0f), 1) === Seq(0))
    val q = Seq((0L, Seq(1f, 1f, 0f, 0f))).toDF("vec_id", "v")
    val got = IvfIndex.search(f32, q, k = 5, nprobe = 1)
      .select($"nid").as[Long].collect().toSet
    val cell0 = f32.assigned.where($"cell_id" === 0)
      .select($"vec_id").as[Long].collect().toSet
    val cell2 = f32.assigned.where($"cell_id" === 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(got.size === 5 && got.subsetOf(cell0), s"$got not in cell 0")
    assert((got & cell2).isEmpty)
  }

  test("search, rangeSearch and rangeCandidates probe the argmin cells") {
    val all = cents.length
    assert(argminCells(Seq(0f, 0f, 0f, 1f), nprobe) === Seq(0, 1))
    val search = rows(IvfIndex.search(f32, queries, 5, nprobe))
    assert(search.map(_._1) === queryRows.map(_._1).toSet)
    assert(search === oracle((cells, q) =>
      IvfIndex.search(restrict(f32, cells), q, 5, all)))
    val range = rows(IvfIndex.rangeSearch(f32, queries, 4.0, nprobe))
    assert(range.nonEmpty)
    assert(range === oracle((cells, q) =>
      IvfIndex.rangeSearch(restrict(f32, cells), q, 4.0, all)))
    val cand = IvfIndex.rangeCandidates(f32, queries, 4.0, nprobe)
      .select($"qid", $"nid", $"dist").as[(Long, Long, Double)]
      .collect().toSet
    assert(cand === range.map(r => (r._1, r._2, r._4)))
  }

  test("searchF16, searchBqRefine and searchSq8 probe the argmin cells") {
    val all = cents.length
    val f16 = IvfIndex.buildF16WithCentroids(corpus, "vec_id", "v", cents)
    assert(rows(IvfIndex.searchF16(f16, queries, 5, nprobe)) ===
      oracle((cells, q) =>
        IvfIndex.searchF16(restrict(f16, cells), q, 5, all)))
    val bq = IvfIndex.buildBqWithCentroids(corpus, "vec_id", "v", cents)
    assert(rows(IvfIndex.searchBqRefine(bq, queries, 5, nprobe, 12)) ===
      oracle((cells, q) =>
        IvfIndex.searchBqRefine(restrict(bq, cells), q, 5, all, 12)))
    val (sq, mn, mx) = IvfIndex.buildSq8WithCentroids(corpus, "vec_id",
      "v", cents)
    assert(rows(IvfIndex.searchSq8(sq, mn, mx, queries, "v", 5, nprobe)) ===
      oracle((cells, q) =>
        IvfIndex.searchSq8(restrict(sq, cells), mn, mx, q, "v", 5, all)))
  }

  test("searchAdc and searchAdcRefine probe the argmin cells") {
    val all = cents.length
    val cb = ProductQuantizer.fitCodebook(corpus, "vec_id", "v",
      clusters = 8, splits = 2, maxIter = 5)
    val quantized = ProductQuantizer.quantizeColumn(f32.assigned, "v",
      "codes", cb)
    assert(rows(IvfIndex.searchAdc(f32, quantized, "codes", cb, queries,
      5, nprobe)) === oracle((cells, q) =>
        IvfIndex.searchAdc(restrict(f32, cells), restrict(quantized, cells),
          "codes", cb, q, 5, all)))
    assert(rows(IvfIndex.searchAdcRefine(f32, quantized, "codes", cb,
      queries, 5, nprobe, shortlist = 12)) === oracle((cells, q) =>
        IvfIndex.searchAdcRefine(restrict(f32, cells),
          restrict(quantized, cells), "codes", cb, q, 5, all,
          shortlist = 12)))
  }

  test("a null or wrong-dimension query vector fails naming its qid") {
    val nullVec = Seq((1L, Seq(0f, 0f, 0f, 0f)), (7L, null: Seq[Float]))
      .toDF("vec_id", "v")
    val e1 = intercept[IllegalArgumentException](
      IvfIndex.search(f32, nullVec, 5, nprobe))
    assert(e1.getMessage.contains("query 7") &&
      e1.getMessage.contains("null"), e1.getMessage)
    for (v <- Seq(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f, 4f, 5f))) {
      val bad = Seq((9L, v)).toDF("vec_id", "v")
      val e = intercept[IllegalArgumentException](
        IvfIndex.search(f32, bad, 5, nprobe))
      assert(e.getMessage.contains("query 9") &&
        e.getMessage.contains(s"dimension ${v.length}"), e.getMessage)
    }
  }

  test("planning a search over a local query relation runs no Spark job") {
    val q = Seq((0L, Seq(0.5f, -1f, 0.25f, 2f))).toDF("vec_id", "v")
    val (res, planJobs) = countingJobs(IvfIndex.search(f32, q, 5, nprobe))
    assert(planJobs === 0)
    val (out, runJobs) = countingJobs(rows(res))
    assert(runJobs > 0 && out.size === 5)
  }
}
