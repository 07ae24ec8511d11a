package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Model-based ScalaCheck law for incremental view maintenance: any
  * random interleaving of pre-imaged MERGEs (inserts AND updates —
  * updates that move rows between groups included, since grp derives
  * from the updated value), POST-ONLY upserts under the r16
  * declared-key contract (group-preserving by construction — the
  * contract's premise), range DELETEs, and REFRESHes against a
  * snapshotted source must keep BOTH maintained views — the pure-delta
  * count/sum view and the touched-group-rescan min/max view — equal to
  * a trivial in-memory model's rollup at every refresh point. This is
  * the shape that catches delta-algebra corruption no single-scenario
  * spec sees: an update pre-image subtracted from the wrong group, a
  * delete arriving in the same window as the insert it cancels, a
  * refresh window spanning several versions, a group emptied and then
  * re-created.
  */
class ViewsModelSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private case class MergeOp(rows: Map[Long, Long]) extends Op
  // a POST-ONLY merge (no pre-images) on key (id, grp) — the r16
  // upsert contract's model op; rows are re-aimed at apply time so an
  // existing id keeps its group (the contract's premise: the merge
  // key pins every group column, so pre and post agree on grp)
  private case class UpsertOp(rows: Map[Long, Long]) extends Op
  private case class DeleteOp(lo: Long, hi: Long) extends Op
  private case object RefreshOp extends Op

  private val genRows: Gen[Map[Long, Long]] = for {
    n <- Gen.chooseNum(1, 10)
    pairs <- Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 25L), Gen.chooseNum(0L, 99L)))
  } yield pairs.toMap

  private val genOp: Gen[Op] = Gen.frequency(
    4 -> genRows.map(MergeOp),
    2 -> genRows.map(UpsertOp),
    2 -> Gen.zip(Gen.chooseNum(0L, 25L), Gen.chooseNum(0L, 8L))
      .map { case (lo, w) => DeleteOp(lo, lo + w) },
    3 -> Gen.const(RefreshOp))

  // grp derives from v, so an UPDATE can move a row between groups —
  // the pre-image must leave the old group and the post-image land in
  // the new one. `w` is a NULL-BEARING second measure (NULL whenever
  // v % 4 == 0, else 2v — derived, so pre/post images stay coherent):
  // the SQL-fidelity law for cnt_/avg_ needs NULLs in the measure.
  private def toDf(rows: Map[Long, Long]) =
    rows.toSeq.sortBy(_._1).toDF("id", "v")
      .withColumn("grp", concat(lit("g"), col("v") % 3))
      .withColumn("w",
        when(col("v") % 4 === 0, lit(null).cast("long"))
          .otherwise(col("v") * 2))

  private def wOf(v: Long): Option[Long] =
    if (v % 4 == 0) None else Some(v * 2)

  // SQL AVG law: sum over non-null w divided by COUNT(w), NULL when
  // the group holds no non-null w — exactly what readView serves from
  // (sum_w, cnt_w)
  private def avgRollup(model: Map[Long, Long])
      : Map[String, (Long, Option[Double])] =
    model.values.groupBy(v => s"g${v % 3}").map { case (g, vs) =>
      val ws = vs.flatMap(wOf(_))
      g -> ((ws.size.toLong,
        if (ws.isEmpty) None
        else Some(ws.sum.toDouble / ws.size.toDouble)))
    }

  private def avgState(dir: String): Map[String, (Long, Option[Double])] =
    Views.readView(spark, dir, withAvg = true).collect().map { r =>
      r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("cnt_w")),
          if (r.isNullAt(r.fieldIndex("avg_w"))) None
          else Some(r.getDouble(r.fieldIndex("avg_w")))))
    }.toMap

  private def rollup(model: Map[Long, Long])
      : Map[String, (Long, Long, Long, Long)] =
    model.values.groupBy(v => s"g${v % 3}").map { case (g, vs) =>
      g -> ((vs.size.toLong, vs.sum, vs.min, vs.max))
    }

  private def viewState(dir: String, minmax: Boolean)
      : Map[String, (Long, Long, Long, Long)] =
    Views.readView(spark, dir).collect().map { r =>
      val g = r.getString(r.fieldIndex("grp"))
      if (minmax)
        g -> ((r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("sum_v")),
          r.getLong(r.fieldIndex("min_v")),
          r.getLong(r.fieldIndex("max_v"))))
      else
        g -> ((r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("sum_v")), 0L, 0L))
    }.toMap

  private def zeroMinMax(m: Map[String, (Long, Long, Long, Long)]) =
    m.map { case (g, (n, s, _, _)) => g -> ((n, s, 0L, 0L)) }

  // ---- the QH bucket law in model form (mirrors Sketches.qhBucketSql
  // / qhRep — exact below 16, then 16 slots per octave) ----

  private def qhBucket(v: Long): Long =
    if (v < 16) v
    else {
      val len = 64 - java.lang.Long.numberOfLeadingZeros(v)
      (len - 5).toLong * 16 + 16 + (v >> (len - 5)) - 16
    }

  private def qhRep(b: Long): Long =
    if (b < 16) b
    else (1L << ((b - 16) / 16 + 4)) +
      ((b - 16) % 16) * (1L << ((b - 16) / 16))

  private def qhQuantile(vs: Iterable[Long], q: Double): Long = {
    val counts = vs.groupBy(qhBucket).toSeq.sortBy(_._1)
      .map { case (b, g) => (b, g.size.toLong) }
    val t = math.ceil(q * vs.size).toLong
    var c = 0L
    qhRep(counts.find { case (_, n) => c += n; c >= t }.get._1)
  }

  private def quantileRollup(model: Map[Long, Long])
      : Map[String, (Long, Long, Long)] =
    model.values.groupBy(v => s"g${v % 3}").map { case (g, vs) =>
      g -> ((vs.size.toLong, qhQuantile(vs, 0.5), qhQuantile(vs, 0.95)))
    }

  private def quantileState(dir: String): Map[String, (Long, Long, Long)] =
    Views.readView(spark, dir).collect().map { r =>
      r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("p50_v")),
          r.getLong(r.fieldIndex("p95_v"))))
    }.toMap

  // ---- variance model (the serve expression replayed in Scala:
  // exact integer sums cast once to double, fixed IEEE ops, round 4) ----

  private def rd4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def varRollup(model: Map[Long, Long]): Map[String, (Double, Double)] =
    model.values.groupBy(v => s"g${v % 3}").map { case (g, vs) =>
      val n = vs.size.toDouble
      val m = vs.sum.toDouble / n
      val v0 = vs.map(x => BigInt(x) * BigInt(x)).sum.toDouble / n - m * m
      g -> ((rd4(v0), rd4(math.sqrt(math.max(v0, 0.0)))))
    }

  private def varState(dir: String): Map[String, (Double, Double)] =
    Views.readView(spark, dir).collect().map { r =>
      r.getString(r.fieldIndex("grp")) ->
        ((r.getDouble(r.fieldIndex("var_v")),
          r.getDouble(r.fieldIndex("std_v"))))
    }.toMap

  // ---- heavy-hitter (count-min) law: every served candidate's
  // estimate equals the model's exact count of that value (signed
  // cell deltas track arbitrary insert/update/delete interleavings),
  // served in (n_est desc, value asc) rank order. Candidate coverage
  // is the family's heuristic (per-window top-16) and is not modeled;
  // what IS exact — and what r16 claims — is the maintained counts. ----

  private def topkLaw(dir: String, model: Map[Long, Long]): Boolean = {
    val counts = model.values.groupBy(v => (s"g${v % 3}", v.toString))
      .map { case (k, vs) => k -> vs.size.toLong }
    val rows = Views.topkValues(spark, dir, "v", k = Int.MaxValue)
      .collect()
      .map(r => (r.getString(r.fieldIndex("grp")),
        r.getLong(r.fieldIndex("rk")),
        r.getString(r.fieldIndex("top_v")),
        r.getLong(r.fieldIndex("n_est"))))
    val exact = rows.forall { case (g, _, v, est) =>
      est == counts.getOrElse((g, v), 0L) }
    val ranked = rows.groupBy(_._1).values.forall { grp =>
      val sorted = grp.sortBy(_._2)
      sorted.map(_._2).toSeq == (1L to grp.length.toLong) &&
        sorted.sliding(2).forall {
          case Array((_, _, v1, e1), (_, _, v2, e2)) =>
            e1 > e2 || (e1 == e2 && v1 < v2)
          case _ => true
        }
    }
    exact && ranked
  }

  // ---- join-view model: aggregates over left(id, grp) ⋈ right(rid, id, v) ----

  private sealed trait JOp
  private case class MergeLeftOp(rows: Map[Long, Long]) extends JOp
  private case class MergeRightOp(rows: Map[Long, (Long, Long)]) extends JOp
  // POST-ONLY right-side merge on key (rid, id) — the r16 upsert
  // contract's join op: the merge key carries the join key, and no
  // group column is resident on the right, so the post-image
  // determines the touched groups; an existing rid keeps its id at
  // apply time (the contract's premise)
  private case class UpsertRightOp(rows: Map[Long, (Long, Long)]) extends JOp
  private case class DeleteLeftOp(lo: Long, hi: Long) extends JOp
  private case class DeleteRightOp(lo: Long, hi: Long) extends JOp
  private case object JRefreshOp extends JOp

  private val genJRightRows: Gen[Map[Long, (Long, Long)]] = for {
    n <- Gen.chooseNum(1, 8)
    trips <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 30L),
      Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 99L)))
  } yield trips.map { case (rid, id, v) => rid -> ((id, v)) }.toMap

  private val genJOp: Gen[JOp] = Gen.frequency(
    3 -> (for {
      n <- Gen.chooseNum(1, 6)
      pairs <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 99L)))
    } yield MergeLeftOp(pairs.toMap)),
    3 -> genJRightRows.map(MergeRightOp),
    2 -> genJRightRows.map(UpsertRightOp),
    1 -> Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 4L))
      .map { case (lo, w) => DeleteLeftOp(lo, lo + w) },
    1 -> Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 8L))
      .map { case (lo, w) => DeleteRightOp(lo, lo + w) },
    3 -> Gen.const(JRefreshOp))

  private def lDf(rows: Map[Long, Long]) =
    rows.toSeq.sortBy(_._1).toDF("id", "gseed")
      .select(col("id"), concat(lit("g"), col("gseed") % 3).as("grp"))

  private def rDf(rows: Map[Long, (Long, Long)]) =
    rows.toSeq.sortBy(_._1).map { case (rid, (id, v)) => (rid, id, v) }
      .toDF("rid", "id", "v")

  private def jRollup(lm: Map[Long, Long], rm: Map[Long, (Long, Long)])
      : Map[String, (Long, Long, Long, Long)] =
    rm.values.flatMap { case (id, v) =>
      lm.get(id).map(g => (s"g${g % 3}", v)) }
      .groupBy(_._1).map { case (g, pairs) =>
        val vs = pairs.map(_._2)
        g -> ((vs.size.toLong, vs.sum, vs.min, vs.max))
      }

  test("property: the JOIN view (count/sum/min/max) tracks the model") {
    val prop = Prop.forAll(Gen.listOfN(6, genJOp)) { ops =>
      val l = Files.createTempDirectory("graft-jvm-l").toString
      val r = Files.createTempDirectory("graft-jvm-r").toString
      val v = Files.createTempDirectory("graft-jvm-v").toString
      var lm = Map(0L -> 0L)
      var rm = Map(0L -> ((0L, 5L)))
      Snapshots.commit(spark, lDf(lm), l)
      Snapshots.commit(spark, rDf(rm), r)
      // the batch ≡ stream law: a stream-maintained twin of the view,
      // drained at every refresh point, must track the model too
      val sv = Files.createTempDirectory("graft-jvm-sv").toString
      val ck = Files.createTempDirectory("graft-jvm-ck").toString
      Seq(v, sv).foreach(Views.createJoinView(spark, l, r, _, Seq("id"),
        Seq("grp"), sumCols = Seq("v"), minCols = Seq("v"),
        maxCols = Seq("v")))
      var ok = true
      (ops :+ JRefreshOp).foreach {
        case MergeLeftOp(rows) =>
          lm = lm ++ rows
          Snapshots.merge(spark, l, lDf(rows), Seq("id"),
            recordChanges = true, preImages = true)
        case MergeRightOp(rows) =>
          rm = rm ++ rows
          Snapshots.merge(spark, r, rDf(rows), Seq("rid"),
            recordChanges = true, preImages = true)
        case UpsertRightOp(rows) =>
          // an existing rid keeps its join key; fresh rids insert
          val adj = rows.map { case (rid, (id, v)) =>
            rid -> ((rm.get(rid).map(_._1).getOrElse(id), v)) }
          rm = rm ++ adj
          Snapshots.merge(spark, r, rDf(adj), Seq("rid", "id"),
            recordChanges = true)
        case DeleteLeftOp(lo, hi) =>
          lm = lm.filterNot { case (id, _) => id >= lo && id <= hi }
          Snapshots.delete(spark, l, col("id").between(lo, hi),
            recordChanges = true)
        case DeleteRightOp(lo, hi) =>
          rm = rm.filterNot { case (rid, _) => rid >= lo && rid <= hi }
          Snapshots.delete(spark, r, col("rid").between(lo, hi),
            recordChanges = true)
        case JRefreshOp =>
          Views.refreshJoinView(spark, v,
            upsertKeyRight = Seq("rid", "id"))
          Views.streamRefreshJoinView(spark, sv, ck,
            upsertKeyRight = Seq("rid", "id")).awaitTermination()
          def got(dir: String) = Views.readJoinView(spark, dir).collect()
            .map { x =>
              x.getString(x.fieldIndex("grp")) ->
                ((x.getLong(x.fieldIndex("n_rows")),
                  x.getLong(x.fieldIndex("sum_v")),
                  x.getLong(x.fieldIndex("min_v")),
                  x.getLong(x.fieldIndex("max_v"))))
            }.toMap
          ok = ok && got(v) == jRollup(lm, rm) && got(sv) == jRollup(lm, rm)
      }
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: both view strategies track the model through any op sequence") {
    val prop = Prop.forAll(Gen.listOfN(7, genOp)) { ops =>
      def tmp(name: String) = Files.createTempDirectory(name).toString
      val src = tmp("graft-vm-src")
      var model = Map(0L -> 0L)
      Snapshots.commit(spark, toDf(model), src)
      // (delta, minmax, quantile, topk) views; the batch ≡ stream law
      // keeps a stream-maintained twin of each, drained at every
      // refresh point, which must track the model too
      def create(tag: String): Seq[String] = {
        val Seq(dv, mm, qv, tv) = Seq("delta", "minmax", "quantile", "topk")
          .map(k => tmp(s"graft-vm-$tag$k"))
        // the delta view also carries VARIANCE state (sum + exact
        // decimal sum-of-squares) — delta-invertible like its sums —
        // and the NULL-bearing measure w, whose served avg_ must divide
        // by the maintained non-null count cnt_w (SQL AVG)
        Views.createView(spark, src, dv, Seq("grp"),
          sumCols = Seq("v", "w"), varCols = Seq("v"))
        Views.createView(spark, src, mm, Seq("grp"), sumCols = Seq("v"),
          minCols = Seq("v"), maxCols = Seq("v"))
        // the quantile view is PURE DELTA like dv — bucket counts
        // subtract exactly, so deletes never trigger a rescan
        Views.createView(spark, src, qv, Seq("grp"),
          quantileCols = Seq("v"))
        // the heavy-hitter view is PURE DELTA too — count-min cell
        // counts subtract exactly
        Views.createView(spark, src, tv, Seq("grp"), topkCols = Seq("v"))
        Seq(dv, mm, qv, tv)
      }
      val batchViews = create("")
      val streamViews = create("stream-").map(_ -> tmp("graft-vm-ck"))
      def tracks(views: Seq[String]): Boolean = {
        val Seq(dv, mm, qv, tv) = views
        val want = rollup(model)
        viewState(dv, minmax = false) == zeroMinMax(want) &&
          viewState(mm, minmax = true) == want &&
          quantileState(qv) == quantileRollup(model) &&
          varState(dv) == varRollup(model) &&
          avgState(dv) == avgRollup(model) &&
          topkLaw(tv, model)
      }
      var ok = true
      (ops :+ RefreshOp).foreach {
        case MergeOp(rows) =>
          model = model ++ rows
          Snapshots.merge(spark, src, toDf(rows), Seq("id"),
            recordChanges = true, preImages = true)
        case UpsertOp(rows) =>
          // grp derives from v % 3, so keep an existing id's residue:
          // the post-only feed then satisfies the declared-key
          // contract (grp bitwise-equal between hidden pre and
          // visible post), while fresh ids insert as-is
          val adj = rows.map { case (id, v) =>
            id -> model.get(id)
              .map(old => v - (v % 3) + (old % 3)).getOrElse(v) }
          model = model ++ adj
          Snapshots.merge(spark, src, toDf(adj), Seq("id", "grp"),
            recordChanges = true)
        case DeleteOp(lo, hi) =>
          model = model.filterNot { case (id, _) => id >= lo && id <= hi }
          Snapshots.delete(spark, src, col("id").between(lo, hi),
            recordChanges = true)
        case RefreshOp =>
          // the declared key makes post-only upsert windows digest;
          // windows without update rows route exactly as before
          batchViews.foreach(
            Views.refreshView(spark, src, _, upsertKey = Seq("id", "grp")))
          streamViews.foreach { case (sv, ck) =>
            Views.streamRefreshView(spark, src, sv, ck,
              upsertKey = Seq("id", "grp")).awaitTermination()
          }
          ok = ok && tracks(batchViews) && tracks(streamViews.map(_._1))
      }
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
