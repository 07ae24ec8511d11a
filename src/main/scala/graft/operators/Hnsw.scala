package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSim
import graft.sources.Snapshots

/** Graph ANN (HNSW) serving — the shard-and-merge vector tier for the
  * regime where IVF's cell-probe recall ceiling is not enough.
  *
  * Why a graph index at 100 TB: IVF recall is capped by the coarse
  * quantizer — a query that probes nProbe of k cells never sees a true
  * neighbor assigned elsewhere, and raising nProbe converges to a scan.
  * An HNSW graph reaches any neighbor reachable by greedy descent in
  * O(ef·M·log n) distance evaluations regardless of where it "landed",
  * which is why serving tiers layer graphs over/instead of IVF when
  * recall floors tighten.
  *
  * The distributed shape is SHARD-AND-MERGE, the same layout every
  * horizontally-scaled graph-ANN deployment uses: vectors are
  * hash-sharded (`pmod(id, numShards)`), each shard holds an
  * independent graph bounded to one executor's memory, a query batch
  * searches every shard in parallel (one task per shard, the graph
  * built/loaded once per task and amortized over the whole batch), and
  * the per-shard top-k streams merge through the repo's two-phase
  * bounded-heap aggregation ([[Similarity.rankTopK]]). Scale-out is
  * linear: corpus growth adds shards, per-shard search cost stays
  * O(ef·M·log shardN), and the merge moves at most (k+1)·shards rows
  * per query.
  *
  * Everything is DETERMINISTIC — the property the repo's oracle gates
  * and the persisted roundtrip depend on:
  *   - node levels draw from a splitmix64 hash of the vector id
  *     ([[levelFor]]), not a session RNG, so a node's level survives
  *     rebuilds, shard moves, and insert-order changes;
  *   - shard builds insert in ascending id order (callers sort), so
  *     internal-index tie-breaks equal id tie-breaks and a shard graph
  *     is a pure function of its (id, vec) set and (M, efC);
  *   - every heap/selection tie breaks by (similarity desc, id asc).
  *
  * Persisted lifecycle (the pattern shared with the IVF/minhash/text/
  * span families, adapted to a graph's non-local updates):
  *   - [[buildHnswIndex]]: per-shard graphs committed as adjacency rows
  *     through the snapshot layer, shard-identity partition spec.
  *   - [[addToHnswIndex]]: a graph insert REWIRES existing nodes'
  *     neighbor lists, so an in-place add would rewrite touched shards
  *     on every batch. Instead adds land in a PENDING side table —
  *     an O(new) scoped merge — and serves treat pending vectors as an
  *     exact brute-force freshness tier (the DiskANN-style fresh/LTI
  *     split): correct immediately, graph-cheap later.
  *   - [[foldHnswIndex]]: rebuilds ONLY the shards pending touches
  *     (graph ∪ pending per shard), merges file-scoped on the shard
  *     envelope, truncates pending. Because a shard build is a pure
  *     function of its node set, a folded index is BYTE-IDENTICAL to a
  *     fresh build over the union — HnswSpec pins exactly that.
  *   - [[removeFromHnswIndex]]: O(keys) merge-on-read retraction; the
  *     loader tolerates the dangling edges until the next fold.
  *   - [[hnswTopKPersisted]]: loads shard graphs (no re-insertion — the
  *     adjacency is the data), searches the broadcast query batch,
  *     unions the pending tier, merges top-k. Pending ids override
  *     graph rows (anti-join), so a re-added id serves its new vector.
  *     `asOf` pins serving to an INDEX version from the manifest every
  *     mutating op appends ([[stampVersion]]) — the graph and pending
  *     tables mutate in dependent pairs, so the coherent pin is one
  *     handle naming both table versions, not a per-table pin.
  *
  * Driver-bounded collects, per the repo's O(1)-scalars budget: the
  * query batch (ANN serving contract — queries are the small side),
  * the one-row params table, and fold's distinct touched-shard list
  * (≤ numShards).
  *
  * The reference engine (amoilanen/simple-query-engine) has no vector
  * surface; this extends the training-data-pipeline layer alongside
  * [[Similarity]]'s brute-force/SRP/IVF paths.
  */
object Hnsw {

  /** Hard cap on layer height: log_M(shardN) stays far below this for
    * any real shard; it only guards the geometric draw's tail. */
  private val MaxLevel = 24

  /** splitmix64 finalizer — the deterministic per-id uniform draw. */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Geometric level assignment floor(-ln(1-u)/ln(M)), seeded by the
    * vector id alone — reproducible across builds and insert orders. */
  private[operators] def levelFor(id: Long, m: Int): Int = {
    val u = (mix64(id) >>> 11).toDouble / (1L << 53).toDouble // [0, 1)
    math.min(MaxLevel, (-math.log1p(-u) / math.log(m.toDouble)).toInt)
  }

  /** One shard's in-memory graph. Inserts MUST arrive in ascending id
    * order; arrays are indexed by insertion order, so internal-index
    * ordering equals id ordering and every tie-break below is stable.
    * Layer-0 degree cap is 2M, upper layers M (the standard split).
    */
  private[operators] final class ShardGraph(val m: Int, val efC: Int) {
    private val mmax0 = 2 * m
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val norms = mutable.ArrayBuffer.empty[Double]
    val levels = mutable.ArrayBuffer.empty[Int]
    /** links(node)(level) = neighbor internal indices. */
    val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entryPoint = -1

    def size: Int = ids.length

    private def norm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      math.sqrt(s)
    }

    /** Cosine similarity between a probe vector and a stored node. */
    private def simTo(q: Array[Float], qn: Double, node: Int): Double = {
      val v = vecs(node)
      var s = 0.0; var i = 0
      while (i < v.length) { s += q(i).toDouble * v(i); i += 1 }
      val d = qn * norms(node)
      if (d == 0) 0.0 else s / d
    }

    private def cmpBest(a: (Double, Int), b: (Double, Int)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // higher sim first
      if (c != 0) c else Integer.compare(a._2, b._2) // then lower id
    }

    /** The `ef` best nodes at `level` reachable greedily from `eps`,
      * best-first. Standard HNSW layer search: best-first candidate
      * expansion against a bounded worst-out result heap.
      */
    private def searchLayer(
        q: Array[Float], qn: Double, eps: Seq[Int], ef: Int,
        level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.BitSet(size)
      val cand = new java.util.PriorityQueue[(Double, Int)](
        (a: (Double, Int), b: (Double, Int)) => cmpBest(a, b))
      val res = new java.util.PriorityQueue[(Double, Int)](
        (a: (Double, Int), b: (Double, Int)) => -cmpBest(a, b))
      eps.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val s = simTo(q, qn, e)
          cand.add((s, e)); res.add((s, e))
          if (res.size > ef) res.poll()
        }
      }
      var done = false
      while (!done && !cand.isEmpty) {
        val (cs, c) = cand.poll()
        if (res.size >= ef && cs < res.peek()._1) done = true
        else {
          val nbrs = links(c)(level)
          var i = 0
          while (i < nbrs.length) {
            val n = nbrs(i)
            if (!visited.get(n)) {
              visited.set(n)
              val s = simTo(q, qn, n)
              if (res.size < ef || s > res.peek()._1) {
                cand.add((s, n)); res.add((s, n))
                if (res.size > ef) res.poll()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      while (!res.isEmpty) out += res.poll()
      // res drains worst-first; reverse to best-first
      val rev = out.reverse
      rev
    }

    /** Insert one node (ids must arrive ascending — callers sort). */
    def insert(id: Long, vec: Array[Float]): Unit = {
      val lvl = levelFor(id, m)
      val idx = size
      ids += id; vecs += vec; norms += norm(vec); levels += lvl
      links += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
      if (idx == 0) { entryPoint = 0; return }
      val qn = norms(idx)
      val topL = levels(entryPoint)
      var ep = entryPoint
      var l = topL
      while (l > lvl) {
        ep = searchLayer(vec, qn, Seq(ep), 1, l).head._2
        l -= 1
      }
      var eps: Seq[Int] = Seq(ep)
      var lev = math.min(topL, lvl)
      while (lev >= 0) {
        val w = searchLayer(vec, qn, eps, efC, lev)
        val nbrs = w.take(m).map(_._2)
        links(idx)(lev) ++= nbrs
        val cap = if (lev == 0) mmax0 else m
        nbrs.foreach { n =>
          val nl = links(n)(lev)
          nl += idx
          if (nl.length > cap) {
            // prune to the cap best by similarity TO n, ties by id
            val nv = vecs(n); val nn = norms(n)
            val kept = nl.map(x => (simTo(nv, nn, x), x))
              .sortWith(cmpBest(_, _) < 0).take(cap).map(_._2)
            nl.clear(); nl ++= kept
          }
        }
        eps = w.map(_._2).toSeq
        lev -= 1
      }
      if (lvl > topL) entryPoint = idx
    }

    /** Greedy top-k search: descend to layer 0 with ef=1, then a full
      * ef-bounded layer-0 sweep. Self-matches are NOT excluded here —
      * the DataFrame layer filters `query_id =!= neighbor_id`.
      */
    def searchTopK(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (size == 0) return Nil
      val qn = norm(q)
      var ep = entryPoint
      var l = levels(entryPoint)
      while (l > 0) {
        ep = searchLayer(q, qn, Seq(ep), 1, l).head._2
        l -= 1
      }
      searchLayer(q, qn, Seq(ep), math.max(ef, k), 0)
        .take(k).map { case (s, i) => (ids(i), s) }.toSeq
    }

    // ---- persisted-roundtrip loading (no re-insertion) ----

    /** Append a node shell without wiring (fromRows fills links). */
    def load(id: Long, vec: Array[Float], lvl: Int): Unit = {
      ids += id; vecs += vec; norms += norm(vec); levels += lvl
      links += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
    }

    def setLinks(node: Int, level: Int, nbrs: Seq[Int]): Unit = {
      links(node)(level).clear(); links(node)(level) ++= nbrs
    }

    /** Entry point = max level, ties lowest id — exactly what the
      * insert path converges to under ascending-id insertion (entry
      * only moves when a STRICTLY higher level appears). */
    def resetEntry(): Unit = {
      var best = 0; var i = 1
      while (i < size) { if (levels(i) > levels(best)) best = i; i += 1 }
      entryPoint = if (size == 0) -1 else best
    }
  }

  /** Fresh shard graph over a node set (sorted ascending before
    * insertion — the determinism contract). */
  private[operators] def buildGraph(
      m: Int, efC: Int, nodes: Seq[(Long, Array[Float])]): ShardGraph = {
    val g = new ShardGraph(m, efC)
    nodes.sortBy(_._1).foreach { case (id, v) => g.insert(id, v) }
    g
  }

  /** Shard graph from persisted adjacency rows — the graph IS the
    * data; no edges are recomputed. Neighbor ids with no surviving row
    * are DROPPED: a merge-on-read retraction removes a node's row but
    * leaves edges pointing at it in its neighbors' lists, and tolerating
    * the dangling slot (slightly thinner graph until the next fold
    * rebuilds the shard) is what makes retraction an O(keys) sidecar
    * instead of a shard rewrite. */
  private[operators] def fromRows(
      m: Int, efC: Int,
      rows: Seq[(Long, Array[Float], Seq[Seq[Long]])]): ShardGraph = {
    val g = new ShardGraph(m, efC)
    val sorted = rows.sortBy(_._1)
    sorted.foreach { case (id, v, nbrs) => g.load(id, v, nbrs.length - 1) }
    val byId = mutable.LongMap.empty[Int]
    var i = 0
    while (i < g.size) { byId(g.ids(i)) = i; i += 1 }
    sorted.zipWithIndex.foreach { case ((_, _, nbrs), node) =>
      nbrs.zipWithIndex.foreach { case (ns, lev) =>
        g.setLinks(node, lev, ns.flatMap(byId.get))
      }
    }
    g.resetEntry()
    g
  }

  /** `(shard, id, vec)` rows: hash-sharded corpus in the layout every
    * path below consumes. */
  private def shardRows(
      corpus: DataFrame, numShards: Int, idCol: String,
      vecCol: String): DataFrame =
    Corpus.spread(corpus).select(
      pmod(col(idCol).cast("long"), lit(numShards)).cast("int").as("shard"),
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))

  /** The broadcastable query batch — ANN serving's small side by
    * contract (the same driver budget as the repo's other probes);
    * sorted by id so per-task iteration order is deterministic. */
  private def collectQueries(
      queries: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Array[Float])] =
    queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Group a task's rows by shard (hash repartitioning can co-locate
    * shards), ascending shard order for stable output. */
  private def groupShards[T](it: Iterator[(Int, T)]): Seq[(Int, Seq[T])] = {
    val byShard = mutable.Map.empty[Int, mutable.ArrayBuffer[T]]
    it.foreach { case (sh, row) =>
      byShard.getOrElseUpdate(sh, mutable.ArrayBuffer.empty) += row
    }
    byShard.toSeq.sortBy(_._1).map { case (sh, rows) => (sh, rows.toSeq) }
  }

  /** In-memory shard-and-merge HNSW top-k: one graph built per shard
    * per task (amortized over the whole query batch), per-shard top
    * (k+1) candidates (the +1 absorbs the query's own self-match),
    * global two-phase merge. roundDecimals rounds the OUTPUT cosine
    * (both this and the persisted path round through the same Spark
    * expression, so the two paths stay bit-identical).
    */
  def shardedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      numShards: Int = 8,
      m: Int = 8,
      efConstruction: Int = 40,
      efSearch: Int = 40,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      roundDecimals: Int = -1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(
      collectQueries(queries, idCol, vecCol))
    val (mm, efc, efs, kk) = (m, efConstruction, efSearch, k)
    val cand = shardRows(corpus, numShards, idCol, vecCol)
      .repartition(numShards, col("shard"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        groupShards(it.map { case (sh, id, v) => (sh, (id, v)) })
          .iterator.flatMap { case (_, nodes) =>
            val g = buildGraph(mm, efc, nodes)
            qB.value.iterator.flatMap { case (qid, qv) =>
              g.searchTopK(qv, kk + 1, efs)
                .map { case (nid, s) => (qid, nid, s) }
            }
          }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    mergeRanked(cand, k, roundDecimals)
  }

  private def mergeRanked(
      scored: DataFrame, k: Int, roundDecimals: Int): DataFrame = {
    val noSelf = scored.filter(col("query_id") =!= col("neighbor_id"))
    val rounded =
      if (roundDecimals >= 0)
        noSelf.withColumn("cosine", round(col("cosine"), roundDecimals))
      else noSelf
    Similarity.rankTopK(rounded, k)
  }

  /** Shard-local graph construction as a DataFrame stage: (shard, id,
    * vec) rows → adjacency rows `(shard, id, vec, nbrs)` with each
    * shard's graph built inside one task. Shared by [[buildHnswIndex]]
    * and [[foldHnswIndex]] — the "fold == fresh build byte-identical"
    * invariant depends on the two paths serializing IDENTICALLY, so
    * there is exactly one copy of this block. */
  private def adjacencyRows(
      spark: SparkSession,
      nodes: DataFrame,
      numShards: Int, m: Int, efC: Int): DataFrame = {
    import spark.implicits._
    nodes
      .repartition(numShards, col("shard"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        groupShards(it.map { case (sh, id, v) => (sh, (id, v)) })
          .iterator.flatMap { case (sh, ns) =>
            val g = buildGraph(m, efC, ns)
            (0 until g.size).iterator.map { i =>
              (sh, g.ids(i), g.vecs(i),
                g.links(i).toSeq.map(_.toSeq.map(x => g.ids(x))))
            }
          }
      }
      .toDF("shard", "id", "vec", "nbrs")
  }

  /** Build the persisted index: per-shard graphs as adjacency rows
    * `(shard, id, vec, nbrs: array<array<bigint>>)` (nbrs(l) = neighbor
    * ids at level l), shard-identity partition spec, plus a one-row
    * params table — serve-time hyperparameters travel with the index,
    * the same params-table contract as the span index. A REBUILD into
    * an existing dir also truncates the pending tier: stale pending
    * rows would otherwise override the fresh graph rows at serve time
    * (the pending-wins anti-join), resurrecting pre-rebuild vectors.
    */
  def buildHnswIndex(
      spark: SparkSession,
      corpus: DataFrame,
      indexDir: String,
      numShards: Int = 8,
      m: Int = 8,
      efConstruction: Int = 40,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    import spark.implicits._
    val graphRows = adjacencyRows(spark,
      shardRows(corpus, numShards, idCol, vecCol),
      numShards, m, efConstruction)
    Snapshots.commit(spark,
      Seq((m, efConstruction, numShards))
        .toDF("m", "ef_construction", "num_shards"),
      s"$indexDir/params")
    // truncate pending BEFORE committing the fresh graph: the two
    // commits are not atomic, and pending WINS at serve time, so the
    // crash window must leave (old graph, empty pending) — losing
    // unfolded adds — rather than (new graph, stale pending), which
    // would serve pre-rebuild vectors resurrected over the new graph
    val pendDir = s"$indexDir/pending"
    if (Snapshots.version(spark, pendDir) >= 1)
      Snapshots.commit(spark,
        Snapshots.read(spark, pendDir).limit(0), pendDir,
        statsColumns = Seq("shard", "id"))
    Snapshots.commit(spark, graphRows, s"$indexDir/graph",
      statsColumns = Seq("shard", "id"),
      partitionSpec = Seq(Snapshots.Transform.Identity("shard")))
    stampVersion(spark, indexDir)
  }

  /** The index-level VERSION MANIFEST: the graph and pending tables
    * mutate in dependent pairs (build/add/fold/retract), so a coherent
    * as-of pin needs one handle naming BOTH table versions — the same
    * reason real table formats keep a snapshot log above their data
    * files. Every mutating op appends `(index_version, graph_v,
    * pending_v)` here and returns the new index version; [[
    * hnswTopKPersisted]] resolves an `asOf` pin through it. The table
    * is O(mutations) tiny — the read is the same driver-bounded budget
    * as the params row. pending_v = 0 records "tier not created yet".
    * The append is COMPARE-AND-SWAP ([[Snapshots.commitIfVersion]]),
    * re-derived from the fresh tip on every lost race: two racing
    * mutations each land their OWN manifest row with distinct
    * index_versions and freshly re-read (graph_v, pending_v) — no row
    * is silently replaced, so a returned handle always resolves to the
    * pair it named (HnswSpec races two adds to pin exactly that).
    */
  private def stampVersion(spark: SparkSession, indexDir: String): Long = {
    import spark.implicits._
    val dir = s"$indexDir/versions"
    var attempt = 0
    while (attempt < 10) {
      val base = Snapshots.version(spark, dir)
      // re-read INSIDE the attempt: a lost race means another mutation
      // moved a table under us, and the loser's row must pair the
      // versions as of ITS retry, not its first read
      val gv = Snapshots.version(spark, s"$indexDir/graph")
      val pv = Snapshots.version(spark, s"$indexDir/pending")
      val cur =
        if (base >= 1)
          Snapshots.readVersion(spark, dir, base)
            .select("index_version", "graph_v", "pending_v")
            .as[(Long, Long, Long)].collect().toSeq
        else Nil
      val next = if (cur.isEmpty) 1L else cur.map(_._1).max + 1
      val df = (cur :+ ((next, gv, math.max(pv, 0L))))
        .toDF("index_version", "graph_v", "pending_v")
      if (Snapshots.commitIfVersion(spark, df, dir, base).nonEmpty)
        return next
      attempt += 1
    }
    throw new IllegalStateException(
      s"version stamp on $indexDir lost 10 optimistic races; giving up")
  }

  /** Row count of one immutable snapshot version, memoized per
    * (table, version): the count can never change once a version is
    * committed, and the underlying manifest aggregation — while
    * metadata-priced — is still a small Spark job (~1 s on rootless
    * manifests), which a per-SERVE probe must not re-pay (profiling
    * showed the un-memoized probes tripling the pending-serve
    * steady state). First probe per version pays the read; the tip
    * resolution itself is one tiny pointer-file read per call. An
    * empty (truncated) table aggregates to NULL → 0. */
  private val rowsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  private def rowsOf(
      spark: SparkSession, tableDir: String, v: Long = 0L): Long = {
    val ver = if (v >= 1) v else Snapshots.version(spark, tableDir)
    if (ver < 1) 0L
    else rowsMemo.computeIfAbsent((tableDir, ver), _ => {
      val r = Snapshots.tableStats(spark, tableDir, Nil, v = ver).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })
  }

  /** O(new) index maintenance: a graph insert rewires existing nodes,
    * so in-place adds would rewrite touched shards per batch. Adds land
    * in the PENDING side table instead (scoped merge on the id
    * envelope — an append batch carries every base file by reference),
    * serves brute-force the pending tier exactly, and [[foldHnswIndex]]
    * graduates it into the graph. Re-adding an id updates its pending
    * row (merge key) and overrides its graph row at serve time.
    *
    * THE TIER IS BOUNDED BY POLICY, not caller discipline: serving
    * brute-forces pending exactly (cost grows linearly with unfolded
    * adds — correct but degenerating toward a scan), so after each add
    * the two tables' MANIFEST row counts (O(metadata), never a data
    * read) are compared and the fold triggers itself once pending
    * exceeds `foldAt` × graph rows. The default 1.0 is the break-even
    * point where brute-forcing pending costs as much as searching the
    * graph; latency-tight deployments pass something like 0.1.
    * `foldAt = Double.PositiveInfinity` disables the policy (the
    * lifecycle entries that serve a deliberately-pending state use it).
    */
  def addToHnswIndex(
      spark: SparkSession,
      newVectors: DataFrame,
      indexDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      foldAt: Double = 1.0): Long = {
    val numShards = Snapshots.read(spark, s"$indexDir/params")
      .collect().head.getAs[Int]("num_shards")
    val rows = shardRows(newVectors, numShards, idCol, vecCol)
    val dir = s"$indexDir/pending"
    // tier creation is CAS'd, not checked-then-committed: two racing
    // FIRST adds would otherwise both take a plain-commit branch and
    // the second would replace the first's rows (the racing-adds spec
    // caught exactly that). The create loser falls through to the
    // OCC merge like any add against an existing tier.
    val created = Snapshots.version(spark, dir) < 1 &&
      Snapshots.commitIfVersion(spark, rows, dir, 0L,
        statsColumns = Seq("shard", "id")).nonEmpty
    if (!created)
      Snapshots.merge(spark, dir, rows, key = Seq("id"),
        statsColumns = Seq("shard", "id"), scoped = true)
    val stamped = stampVersion(spark, indexDir)
    if (foldAt.isFinite && foldAt > 0 &&
        rowsOf(spark, dir) > foldAt * rowsOf(spark, s"$indexDir/graph"))
      // two racing adds can BOTH cross the threshold; the fold loser
      // finds the pending table already truncated and its requires
      // fire — that is the RACE WON (the data folded), not a failure,
      // so the add must still return its own committed stamp rather
      // than throw after its merge landed
      try foldHnswIndex(spark, indexDir)
      catch { case _: IllegalArgumentException => stamped }
    else stamped
  }

  /** Retract vectors: an O(keys) merge-on-read delete on the graph
    * rows (and any same-id pending rows) — no shard rewrite. Edges
    * pointing at retracted nodes dangle until the next fold rebuilds
    * their shards; the serve-side loader drops dangling neighbor ids
    * ([[fromRows]]), so retracted vectors vanish from every result
    * immediately while the graph only thins slightly. Same fold-first
    * revision flow as the other families: compaction folds the delete
    * sidecars before a scoped merge touches the table again.
    */
  def removeFromHnswIndex(
      spark: SparkSession,
      indexDir: String,
      vecIds: Seq[Long]): Long = {
    require(vecIds.nonEmpty, "empty retraction batch")
    Snapshots.deleteMergeOnRead(spark, s"$indexDir/graph",
      col("id").isin(vecIds: _*),
      key = Seq("id"), statsColumns = Seq("shard", "id"))
    if (Snapshots.version(spark, s"$indexDir/pending") >= 1)
      Snapshots.deleteMergeOnRead(spark, s"$indexDir/pending",
        col("id").isin(vecIds: _*),
        key = Seq("id"), statsColumns = Seq("shard", "id"))
    stampVersion(spark, indexDir)
  }

  /** Fold pending adds into the shard graphs: rebuild ONLY the shards
    * pending touches (their committed nodes ∪ pending, read through a
    * manifest-pruned shard IN-list), merge file-scoped, truncate
    * pending. A shard graph is a pure function of its node set, so the
    * folded table equals a fresh [[buildHnswIndex]] over the union —
    * HnswSpec pins that equality byte-for-byte.
    */
  def foldHnswIndex(spark: SparkSession, indexDir: String): Long = {
    import spark.implicits._
    val pendDir = s"$indexDir/pending"
    // the fold folds exactly the version it PINS here: the read, the
    // graph merge, and the truncation below all reference pv0, so an
    // add landing mid-fold can never have its rows silently truncated
    val pv0 = Snapshots.version(spark, pendDir)
    require(pv0 >= 1, s"no pending adds to fold in $indexDir")
    val prow = Snapshots.read(spark, s"$indexDir/params").collect().head
    val (mm, efc, numShards) = (prow.getAs[Int]("m"),
      prow.getAs[Int]("ef_construction"), prow.getAs[Int]("num_shards"))
    val pend = Snapshots.readVersion(spark, pendDir, pv0)
      .select(col("shard").cast("int"), col("id").cast("long"), col("vec"))
    // bounded driver list: ≤ numShards distinct values
    val touched = pend.select("shard").distinct()
      .collect().map(_.getInt(0)).toSeq
    require(touched.nonEmpty, s"pending table in $indexDir is empty")
    // composite-scoped merge: row identity is still the id (shard is a
    // function of it), but leading with `shard` lets the layer's
    // per-column envelope intersection carry every shard OUTSIDE the
    // touched-shard interval by reference — with hash sharding the id
    // envelopes interleave across shards, so scoping on id alone would
    // touch every file.
    // The touched shards are rebuilt from the graph version the merge
    // attempt lands on, not from a read before it: of two racing
    // folds, the one that commits second would otherwise write its
    // older rebuild over the first one's shards, and the nodes only
    // the first one graduated would keep rows no other node links to
    // (present, never served).
    Snapshots.mergeDerived(spark, s"$indexDir/graph",
      key = Seq("shard", "id"), statsColumns = Seq("shard", "id"),
      scoped = true) { gv =>
      // PENDING WINS on id collision, at fold exactly like at serve: a
      // re-added id has both a stale graph row and a fresh pending row,
      // and folding both would rebuild the shard with two nodes per id
      // (duplicate (shard, id) keys through the merge, the stale vector
      // permanently back in the graph once pending truncates)
      val base = Snapshots
        .readPartitionedIn(spark, s"$indexDir/graph", "shard", touched, v = gv)
        .select(col("shard").cast("int"), col("id").cast("long"), col("vec"))
        .join(broadcast(pend.select("id")), Seq("id"), "left_anti")
        .select("shard", "id", "vec")
      adjacencyRows(spark, base.unionByName(pend), numShards, mm, efc)
    }
    // CONDITIONAL truncation (CAS on the pinned version): an
    // unconditional commit here would clobber any add that merged into
    // pending between this fold's read and now — silent vector loss
    // exactly when the add-time fold policy makes concurrent add+fold
    // common. On a lost race the tier is left untruncated: the folded
    // rows stay pending-redundant (same vectors now in the graph —
    // pending-wins serves identical content) alongside the new add,
    // and the next fold graduates both.
    if (Snapshots.commitIfVersion(spark, pend.limit(0), pendDir, pv0,
        statsColumns = Seq("shard", "id")).isEmpty)
      System.err.println(s"[graft.Hnsw] fold of $indexDir raced a " +
        "concurrent add: pending left untruncated (folded rows stay " +
        "redundant until the next fold); no vectors lost")
    stampVersion(spark, indexDir)
  }

  /** Serve top-k from a persisted index: load shard graphs (adjacency
    * rows, no re-insertion), search the broadcast batch per shard, add
    * the pending tier's EXACT scores (pending overrides same-id graph
    * rows), merge. The graph candidate and pending tiers round through
    * one Spark expression, so path choice never flips a rounded score.
    */
  def hnswTopKPersisted(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int = 10,
      efSearch: Int = 40,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      roundDecimals: Int = -1,
      asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val prow = Snapshots.read(spark, s"$indexDir/params").collect().head
    val (mm, efc, numShards) = (prow.getAs[Int]("m"),
      prow.getAs[Int]("ef_construction"), prow.getAs[Int]("num_shards"))
    // `asOf` is an INDEX version from the manifest [[stampVersion]]
    // writes — one handle pinning the (graph, pending) table pair
    // coherently, since the two mutate together (a graph-v pin alone
    // would serve yesterday's graph against today's pending tier)
    val pinned = asOf.map { iv =>
      val row = Snapshots.read(spark, s"$indexDir/versions")
        .filter(col("index_version") === iv).collect()
      require(row.nonEmpty, s"no index version $iv in $indexDir/versions")
      (row.head.getAs[Long]("graph_v"), row.head.getAs[Long]("pending_v"))
    }
    val qs = collectQueries(queries, idCol, vecCol)
    require(qs.nonEmpty, "empty query batch")
    val qB = spark.sparkContext.broadcast(qs)
    val (efs, kk) = (efSearch, k)
    val graphDf = pinned match {
      case Some((gv, _)) =>
        Snapshots.readVersion(spark, s"$indexDir/graph", gv)
      case None => Snapshots.read(spark, s"$indexDir/graph")
    }
    val graphCand = graphDf
      .select(col("shard").cast("int"), col("id").cast("long"),
        col("vec").cast("array<float>"), col("nbrs"))
      .repartition(numShards, col("shard"))
      .as[(Int, Long, Array[Float], Seq[Seq[Long]])]
      .mapPartitions { it =>
        groupShards(it.map { case (sh, id, v, nb) => (sh, (id, v, nb)) })
          .iterator.flatMap { case (_, rows) =>
            val g = fromRows(mm, efc, rows)
            qB.value.iterator.flatMap { case (qid, qv) =>
              g.searchTopK(qv, kk + 1, efs)
                .map { case (nid, s) => (qid, nid, s) }
            }
          }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val pendDir = s"$indexDir/pending"
    val pendDf = pinned match {
      case Some((_, pv)) =>
        if (pv < 1) None else Some(Snapshots.readVersion(spark, pendDir, pv))
      case None =>
        if (Snapshots.version(spark, pendDir) < 1) None
        else Some(Snapshots.read(spark, pendDir))
    }
    val cand = pendDf match {
      case None => graphCand
      case Some(pend) =>
        // the policy bound ([[addToHnswIndex]] foldAt) keeps this tier
        // small; still, a policy-disabled index could grow it, so the
        // serve (a) warns loudly past the brute-force break-even and
        // (b) stops HINTING broadcast for the pending-id anti-join past
        // a row bound — both from manifest counts, never a data read
        val pendRows = rowsOf(spark, pendDir,
          v = pinned.map(_._2).getOrElse(0L))
        val graphRows = rowsOf(spark, s"$indexDir/graph",
          v = pinned.map(_._1).getOrElse(0L))
        if (pendRows > graphRows)
          System.err.println(s"[graft.Hnsw] pending tier of $indexDir " +
            s"($pendRows rows) exceeds the graph ($graphRows): serving " +
            "is brute-forcing more than it searches — run foldHnswIndex")
        // same array<float> normalization as every other vector path
        // (shardRows / collectQueries / the graph read): cosineSim
        // type-checks (array<float>, array<float>), so an uncast
        // array<double> query column would fail analysis here — and
        // only once a pending tier exists
        val qdf = queries
          .select(col(idCol).cast("long").as("query_id"),
            col(vecCol).cast("array<float>").as("qvec"))
        val pendScored = pend
          .join(broadcast(qdf), col("query_id") =!= col("id"))
          .select(col("query_id"), col("id").as("neighbor_id"),
            cosineSim(col("qvec"), col("vec")).cast("double").as("cosine"))
        // pending wins on id collision (a re-added vector's new value
        // must serve); the anti-join side is broadcast only while the
        // tier is genuinely bounded — past ~5M ids the hint would
        // gamble driver memory, so the planner chooses (AQE can still
        // pick a broadcast from measured sizes)
        val pendIds = pend.select(col("id").as("neighbor_id")).distinct()
        val pendIdsSide =
          if (pendRows <= 5000000L) broadcast(pendIds) else pendIds
        graphCand.join(pendIdsSide, Seq("neighbor_id"), "left_anti")
          .unionByName(pendScored)
    }
    mergeRanked(cand, k, roundDecimals)
  }
}
