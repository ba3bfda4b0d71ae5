package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything a workload feeds the program is
  * made here from the run's seed and written to parquet before timing
  * starts; the program under test only ever sees those files.
  */
object Gen {
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))
  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Gaussian mixture: `nCenters` random centres, each point a centre
    * plus isotropic noise of `sigma`. With noise comparable to the
    * centre spacing the clusters overlap, so an IVF probe of a few
    * cells misses some true neighbours and recall@10 stays below 1.
    */
  final class Mixture(rng: java.util.Random, nCenters: Int, dim: Int,
      sigma: Double) {
    private val centers =
      Array.fill(nCenters, dim)(rng.nextGaussian().toFloat)
    def next(): Array[Float] = {
      val c = centers(rng.nextInt(nCenters))
      Array.tabulate(dim)(d => (c(d) + sigma * rng.nextGaussian()).toFloat)
    }
  }

  /** Write rows made in the harness as `files` parquet files; the rows
    * are converted inside the write's tasks, in parallel.
    */
  def write(spark: SparkSession, path: String, rows: Seq[Row],
      schema: StructType, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.parquet(path)

  def writeVectors(spark: SparkSession, path: String, ids: Seq[Long],
      vecs: Seq[Array[Float]], files: Int): Unit =
    write(spark, path, ids.zip(vecs).map { case (i, v) => Row(i, v.toSeq) },
      VecSchema, files)

  def writeDocs(spark: SparkSession, path: String,
      docs: Seq[(Long, String)], files: Int): Unit =
    write(spark, path, docs.map { case (i, t) => Row(i, t) }, DocSchema, files)

  /** Exact k nearest neighbours by squared L2 distance, ties broken by
    * id, computed by brute force in the harness: the ground truth, made
    * without any graft code path.
    */
  def exactTopK(corpus: Iterable[(Long, Array[Float])], q: Array[Float],
      k: Int): Seq[Long] = {
    val heap = scala.collection.mutable.PriorityQueue[(Double, Long)]()
    corpus.foreach { case (id, v) =>
      var d = 0.0
      var j = 0
      while (j < v.length) { val x = v(j) - q(j); d += x * x; j += 1 }
      if (heap.size < k) heap.enqueue((d, id))
      else if (d < heap.head._1 || (d == heap.head._1 && id < heap.head._2)) {
        heap.dequeue(); heap.enqueue((d, id))
      }
    }
    heap.toSeq.sorted.map(_._2)
  }

  /** A text corpus with topical structure (so hash embeddings have
    * meaningful neighbours) and planted near-duplicate clusters: each
    * planted copy is its original with one word substituted, so every
    * pair inside a cluster has word-3-shingle Jaccard well above 0.5.
    */
  final case class Corpus(docs: Seq[(Long, String)],
      clusters: Seq[Seq[Long]], queries: Seq[(Long, String)],
      arrivals: Seq[(Long, String)]) {
    /** Every unordered pair inside a planted cluster, (lo, hi). */
    lazy val plantedPairs: Set[(Long, Long)] = clusters.flatMap { c =>
      val s = c.sorted
      for (i <- s.indices; j <- (i + 1) until s.size) yield (s(i), s(j))
    }.toSet
    /** Ids that connected-components dedup keeps: everything outside a
      * cluster plus each cluster's smallest id.
      */
    lazy val survivors: Set[Long] = {
      val dropped = clusters.flatMap(c => c.sorted.tail).toSet
      docs.map(_._1).filterNot(dropped).toSet
    }
  }

  /** `nBase` documents plus their planted copies, `nQueries` held-out
    * query documents and `nArrivals` late documents for an append.
    */
  def corpus(rng: java.util.Random, nBase: Int, nQueries: Int,
      nArrivals: Int, dupFrac: Double): Corpus = {
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < 20000) {
        val len = 3 + rng.nextInt(7)
        seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    val nTopics = 40
    val topicWords = Array.fill(nTopics, 150)(vocab(rng.nextInt(vocab.length)))
    def doc(): Array[String] = {
      val t = topicWords(rng.nextInt(nTopics))
      Array.fill(40 + rng.nextInt(21)) {
        if (rng.nextDouble() < 0.6) t(rng.nextInt(t.length))
        else vocab(rng.nextInt(vocab.length))
      }
    }
    val base = Array.fill(nBase)(doc())
    val nOrig = (nBase * dupFrac).toInt
    // (base index, copy words) for every planted copy
    val copies = (0 until nOrig).flatMap { b =>
      val positions = scala.util.Random.javaRandomToRandom(rng)
        .shuffle((0 until base(b).length).toList)
      (0 until 1 + rng.nextInt(2)).map { c =>
        val w = base(b).clone()
        w(positions(c)) = vocab(rng.nextInt(vocab.length))
        (b, w)
      }
    }
    val all = base.indices.map(b => (b, base(b))) ++ copies
    // ids in shuffled order, so a cluster's members are scattered
    val ids = scala.util.Random.javaRandomToRandom(rng)
      .shuffle(all.indices.map(_.toLong).toList).toArray
    val docs = all.indices.map(i => (ids(i), all(i)._2.mkString(" ")))
    val clusters = all.indices.groupBy(i => all(i)._1).values
      .filter(_.size > 1).map(_.map(ids(_)).toSeq).toSeq
    def fresh(base: Long, n: Int) =
      (0 until n).map(i => (base + i, doc().mkString(" ")))
    Corpus(docs, clusters, fresh(all.size + 1000000L, nQueries),
      fresh(all.size + 500000L, nArrivals))
  }
}
