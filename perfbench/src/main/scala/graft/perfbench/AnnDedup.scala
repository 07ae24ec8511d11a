package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Hnsw, Similarity}

/** The `operators` and `functions` layers: a persisted HNSW index over
  * clustered embeddings and a persisted MinHash index over documents.
  * Each loop step probes both indexes with a small batch, then adds a
  * small batch to each. Half of every MinHash probe
  * batch are planted near-duplicates (one word changed) of indexed
  * documents, including documents added during the loop.
  */
final class AnnDedup(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  import AnnDedup._
  import spark.implicits._

  private var base: String = _
  private def annDir = s"$base/hnsw"
  private def dedupDir = s"$base/minhash"
  private var rnd: SplittableRandom = _
  private var centroids: Array[Array[Float]] = _
  private val vectors = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private val docs = mutable.ArrayBuffer.empty[(Long, Array[String])]
  private var nextProbeId = ProbeIdBase
  // (vectors indexed at probe time, queries, top-k ids per query)
  private val annProbes =
    mutable.ArrayBuffer.empty[(Int, Seq[(Long, Array[Float])], Map[Long, Seq[Long]])]
  private val wrong = mutable.ArrayBuffer.empty[String]
  private var buildS = Map.empty[String, Double]
  private var recall = 0.0
  private var plantedFound = 0
  private var plantedTotal = 0

  private def word(r: SplittableRandom): String = s"w${Integer.toString(r.nextInt(Vocabulary), 36)}"
  private def doc(r: SplittableRandom): Array[String] = Array.fill(DocWords)(word(r))

  private def vector(r: SplittableRandom, around: Array[Float], noise: Double): Array[Float] =
    around.map(x => (x + noise * r.nextGaussian()).toFloat)

  private def clustered(r: SplittableRandom): Array[Float] =
    vector(r, centroids(r.nextInt(Clusters)), 0.35)

  private def vecDf(vs: Seq[(Long, Array[Float])]): DataFrame = vs.toDF("vec_id", "embedding")
  private def docDf(ds: Seq[(Long, Array[String])]): DataFrame =
    ds.map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")

  def setup(rep: Int): Unit = {
    base = s"$workDir/ann-$rep"
    val r = new SplittableRandom(seed)
    rnd = new SplittableRandom(seed ^ 0xa77)
    centroids = Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
    vectors.clear(); docs.clear(); annProbes.clear()
    vectors ++= (0 until BaseVectors).map(i => i.toLong -> clustered(r))
    docs ++= (0 until BaseDocs).map(i => i.toLong -> doc(r))
    nextProbeId = ProbeIdBase
    plantedFound = 0; plantedTotal = 0
    val t0 = System.nanoTime()
    Hnsw.buildHnswIndex(spark, vecDf(vectors.toSeq), annDir, numShards = Shards)
    val t1 = System.nanoTime()
    Dedup.buildMinhashIndex(spark, docDf(docs.toSeq), dedupDir)
    val t2 = System.nanoTime()
    buildS = Map("ann.build_s" -> (t1 - t0) / 1e9, "dedup.build_s" -> (t2 - t1) / 1e9)
  }

  private def probeIds(n: Int): Seq[Long] = (0 until n).map { _ => nextProbeId += 1; nextProbeId }

  def step(rec: Recorder): Unit = {
    annProbe(rec)
    dedupProbe(rec)
    annAdd(rec)
    dedupAdd(rec)
  }

  private def annProbe(rec: Recorder): Unit = {
    val qs = probeIds(ProbeBatch).map(id =>
      id -> vector(rnd, vectors(rnd.nextInt(vectors.size))._2, 0.1))
    val indexed = vectors.size
    rec.op("read", "ann.probe") {
      rec.span("ann.probe_ms") {
        Hnsw.hnswTopKPersisted(spark, annDir, vecDf(qs), k = K).collect()
      }
    }.foreach { rows =>
      val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      }
      annProbes += ((indexed, qs, got))
    }
  }

  private def dedupProbe(rec: Recorder): Unit = {
    val planted = probeIds(ProbeBatch / 2).map { id =>
      val (src, ws) = docs(rnd.nextInt(docs.size))
      val copy = ws.clone()
      copy(rnd.nextInt(copy.length)) = word(rnd)
      (id, copy, src, ws)
    }
    val fresh = probeIds(ProbeBatch - planted.size).map(_ -> doc(rnd))
    val batch = planted.map(p => p._1 -> p._2) ++ fresh
    rec.op("read", "dedup.probe") {
      rec.span("dedup.probe_ms")(Dedup.minhashProbe(spark, docDf(batch), dedupDir).collect())
    }.foreach { rows =>
      val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = planted.map { case (id, copy, src, ws) =>
        (math.min(id, src), math.max(id, src)) -> jaccard(copy, ws)
      }.filter(_._2 >= Threshold).toMap
      plantedTotal += want.size
      plantedFound += want.keys.count(got.contains)
      if (got.keySet != want.keySet ||
          want.exists { case (p, j) => math.abs(got(p) - j) > 1e-9 })
        if (wrong.size < 20) wrong += s"ann_dedup: near-duplicate probe found ${got.keys.toSeq.sorted}, want ${want.toSeq.sorted}"
    }
  }

  private def annAdd(rec: Recorder): Unit = {
    val batch = (0 until AddBatch).map(i => (BaseVectors + 1000000L + vectors.size + i) -> clustered(rnd))
    rec.op("write", "ann.add") {
      rec.span("ann.add_ms")(Hnsw.addToHnswIndex(spark, vecDf(batch), annDir))
    }.foreach(_ => vectors ++= batch)
  }

  private def dedupAdd(rec: Recorder): Unit = {
    val batch = (0 until AddBatch).map(i => (BaseDocs + 1000000L + docs.size + i) -> doc(rnd))
    rec.op("write", "dedup.add") {
      rec.span("dedup.add_ms")(Dedup.addToMinhashIndex(spark, docDf(batch), dedupDir))
    }.foreach(_ => docs ++= batch)
  }

  def verify(): Seq[String] = {
    // the exact top-k, in plain Scala, against the corpus each probe saw
    val exact = annProbes.map { case (n, qs, _) =>
      qs.map { case (q, v) => q -> topK(v, n) }.toMap
    }
    val hits = annProbes.zip(exact).flatMap { case ((_, qs, got), ex) =>
      qs.map { case (q, _) => got.getOrElse(q, Nil).count(ex(q).contains) }
    }
    recall = if (hits.isEmpty) 0.0 else hits.sum.toDouble / (hits.size * K)
    // the plain-Scala reference must agree with the engine's exact operator
    annProbes.lastOption.foreach { case (n, qs, _) =>
      val brute = Similarity.bruteForceTopK(vecDf(vectors.take(n).toSeq), vecDf(qs), k = K)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      qs.foreach { case (q, v) =>
        val mine = exact.last(q).toSet
        val differ = (mine diff brute.getOrElse(q, Set.empty)).toSeq
        val kth = cosineOf(v, exact.last(q).last)
        if (differ.exists(id => math.abs(cosineOf(v, id) - kth) > 1e-5) && wrong.size < 20)
          wrong += s"ann_dedup: bruteForceTopK for query $q differs from the exact top-$K"
      }
    }
    if (recall < MinRecall)
      wrong += f"ann_dedup: HNSW recall@$K $recall%.3f is below $MinRecall"
    if (plantedTotal == 0) wrong += "ann_dedup: no near-duplicate probe completed"
    wrong.toSeq
  }

  private lazy val indexOf: Map[Long, Int] = vectors.indices.map(i => vectors(i)._1 -> i).toMap
  private def cosineOf(v: Array[Float], id: Long): Double = cosine(v, vectors(indexOf(id))._2)

  private def topK(v: Array[Float], n: Int): Seq[Long] =
    (0 until n).map(i => vectors(i)._1 -> cosine(v, vectors(i)._2))
      .sortBy(x => (-x._2, x._1)).take(K).map(_._1)

  override def extras(): Map[String, Double] = buildS ++ Map(
    "recall_at_10" -> recall,
    "dedup.planted_found_ratio" -> (if (plantedTotal == 0) 0.0 else plantedFound.toDouble / plantedTotal))
}

object AnnDedup {
  val Dim = 32
  val Clusters = 20
  val BaseVectors = 600
  val BaseDocs = 600
  val DocWords = 40
  val Vocabulary = 5000
  val Shards = 4
  val K = 10
  val ProbeBatch = 8
  val AddBatch = 8
  val Threshold = 0.7
  val MinRecall = 0.9
  val ProbeIdBase = 100000000L

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Jaccard similarity of the distinct 3-word shingle sets. */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    def sh(ws: Array[String]) = ws.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
