package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized views ([[Views]]): delta refresh never
  * reads the source data (proven by deleting it), racing refreshes
  * serialize through CAS, min/max shrink correctly through the
  * touched-group rescan, and non-invertible feeds fail loudly.
  */
class ViewsSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-views-$name").toString

  private def rows(pairs: (Long, String, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toSeq.toDF("id", "grp", "v")
  }

  private def viewMap(viewDir: String): Map[String, (Long, Long)] =
    Views.readView(spark, viewDir).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        (r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("sum_v")))).toMap

  test("pure-delta refresh reads no source data: survives its deletion") {
    val src = tmp("src"); val mv = tmp("mv")
    Snapshots.commit(spark,
      rows((1, "a", 10), (2, "a", 20), (3, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src,
      rows((2, "a", 200), (4, "b", 7)), Seq("id"),
      recordChanges = true, preImages = true)
    Snapshots.delete(spark, src, col("id") === 1, recordChanges = true)
    // brutal pin: remove every data file of every source version (the
    // recorded `_changes` sidecars stay). A refresh that re-reads the
    // source in ANY form now throws; the delta path must not notice.
    val dir = new java.io.File(src)
    dir.listFiles().filter(_.getName.startsWith("snap-")).foreach { sd =>
      sd.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete(), s"could not delete $f"))
    }
    Views.refreshView(spark, src, mv)
    assert(viewMap(mv) === Map("a" -> ((1L, 200L)), "b" -> ((2L, 12L))))
    assert(Views.staleness(spark, src, mv) === 0L)
  }

  test("racing refreshes serialize: one delta application, no double-count") {
    val src = tmp("rsrc"); val mv = tmp("rmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 20)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src, rows((3, "a", 30)), Seq("id"),
      recordChanges = true, preImages = true)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val refreshes = Seq.fill(2)(Future(Views.refreshView(spark, src, mv)))
    refreshes.foreach(Await.result(_, 120.seconds))
    // a lost-update double application would read a -> (2, 70)
    assert(viewMap(mv) === Map("a" -> ((2L, 40L)), "b" -> ((1L, 20L))))
    // exactly one refresh commit landed (the other saw tip==applied or
    // lost the CAS and re-derived to a no-op)
    assert(Snapshots.version(spark, mv) === 2L)
  }

  test("min/max shrink when the group's max row is deleted (rescan path)") {
    val src = tmp("msrc"); val mv = tmp("mmv")
    Snapshots.commit(spark,
      rows((1, "a", 10), (2, "a", 99), (3, "b", 50)), src)
    Views.createView(spark, src, mv, Seq("grp"),
      minCols = Seq("v"), maxCols = Seq("v"))
    val before = Views.readView(spark, mv).filter(col("grp") === "a").head()
    assert(before.getAs[Long]("max_v") === 99L)
    Snapshots.delete(spark, src, col("id") === 2, recordChanges = true)
    Views.refreshView(spark, src, mv)
    val after = Views.readView(spark, mv).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        (r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))).toMap
    // pure deltas cannot produce 10: only a recompute of the touched
    // group can — and the untouched group must carry over unchanged
    assert(after === Map("a" -> ((10L, 10L)), "b" -> ((50L, 50L))))
  }

  test("a group emptied by deletes leaves the view; refresh is a no-op when fresh") {
    val src = tmp("esrc"); val mv = tmp("emv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 20)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.delete(spark, src, col("grp") === "a", recordChanges = true)
    val v = Views.refreshView(spark, src, mv)
    assert(viewMap(mv) === Map("b" -> ((1L, 20L))))
    // fresh view: refresh returns the same version, commits nothing
    assert(Views.refreshView(spark, src, mv) === v)
    assert(Snapshots.version(spark, mv) === v)
  }

  test("post-only update rows (no preImages) fail the delta refresh loudly") {
    val src = tmp("psrc"); val mv = tmp("pmv")
    Snapshots.commit(spark, rows((1, "a", 10)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    // insert-only merges ARE invertible without pre-images
    Snapshots.merge(spark, src, rows((2, "b", 5)), Seq("id"),
      recordChanges = true)
    Views.refreshView(spark, src, mv)
    assert(viewMap(mv) === Map("a" -> ((1L, 10L)), "b" -> ((1L, 5L))))
    // a matched-key merge without preImages records a bare `update` row
    Snapshots.merge(spark, src, rows((1, "a", 999)), Seq("id"),
      recordChanges = true)
    val e = intercept[Exception](Views.refreshView(spark, src, mv))
    assert(e.getMessage.contains("preImages"),
      s"expected the non-invertible-feed error, got: ${e.getMessage}")
  }

  test("post-only update rows fail the min/max RESCAN refresh loudly too") {
    // the rescan path's hazard is subtler than the delta path's: a
    // post-only update that MOVED a row across groups names only the
    // new group, so the old group would silently keep its stale
    // aggregates — the refresh must refuse rather than under-touch
    val src = tmp("pmsrc"); val mv = tmp("pmmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      maxCols = Seq("v"))
    // a matched-key merge without preImages records a bare `update`
    // row that moves id=1 from group a to group b
    Snapshots.merge(spark, src, rows((1, "b", 999)), Seq("id"),
      recordChanges = true)
    val e = intercept[Exception](Views.refreshView(spark, src, mv))
    assert(e.getMessage.contains("preImages"),
      s"expected the non-invertible-feed error, got: ${e.getMessage}")
    // and with pre-images the same move refreshes correctly: group a
    // empties out, group b absorbs the row
    val src2 = tmp("pm2src"); val mv2 = tmp("pm2mv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src2)
    Views.createView(spark, src2, mv2, Seq("grp"), sumCols = Seq("v"),
      maxCols = Seq("v"))
    Snapshots.merge(spark, src2, rows((1, "b", 999)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.refreshView(spark, src2, mv2)
    val got = Views.readView(spark, mv2).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        (r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("max_v")))).toMap
    assert(got === Map("b" -> ((2L, 999L))))
  }

  test("insert-only min/max+distinct windows refresh with ZERO source reads") {
    // the strongest possible pin, same as the count/sum test: delete
    // every source data file after the recorded inserts — the
    // insert-only classification must route min/max AND hll columns
    // through the pure delta path, which never touches them
    val src = tmp("zmsrc"); val mv = tmp("zmmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"), distinctCols = Seq("v"))
    Snapshots.merge(spark, src, rows((3, "a", 30), (4, "b", 2)),
      Seq("id"), recordChanges = true, preImages = true)
    val dir = new java.io.File(src)
    dir.listFiles().filter(_.getName.startsWith("snap-")).foreach { sd =>
      sd.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete(), s"could not delete $f"))
    }
    Views.refreshView(spark, src, mv)
    val got = Views.readView(spark, mv).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("min_v")),
          r.getLong(r.fieldIndex("max_v")),
          r.getDouble(r.fieldIndex("distinct_v"))))).toMap
    assert(got("a")._1 === 2L); assert(got("a")._2 === 10L)
    assert(got("a")._3 === 30L)
    assert(math.abs(got("a")._4 - 2.0) <= 0.10, got)
    assert(got("b") === ((2L, 2L, 5L, got("b")._4)))
    assert(math.abs(got("b")._4 - 2.0) <= 0.10, got)
  }

  test("distinct columns: delta merge equals recompute; rescan under deletes; ±5% law") {
    def state(dir: String) = Views.readView(spark, dir).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("n_rows")),
          r.getDouble(r.fieldIndex("distinct_v"))))).toMap
    val src = tmp("dcsrc"); val mv = tmp("dcmv")
    Snapshots.commit(spark,
      rows((1, "a", 10), (2, "a", 20), (3, "b", 5), (7, "a", 10)), src)
    Views.createView(spark, src, mv, Seq("grp"), distinctCols = Seq("v"))
    // insert-only window: the HLL register maps merge on the DELTA
    // path — and must equal a full recompute (a fresh view over the
    // final state) BIT-EXACTLY, not within a tolerance
    Snapshots.merge(spark, src,
      rows((4, "a", 10), (5, "a", 30), (6, "b", 7)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.refreshView(spark, src, mv)
    val fresh1 = tmp("dcf1")
    Views.createView(spark, src, fresh1, Seq("grp"),
      distinctCols = Seq("v"))
    assert(state(mv) === state(fresh1))
    // the ±5% law against exact distincts (a: {10,20,30}, b: {5,7})
    val got1 = state(mv)
    assert(math.abs(got1("a")._2 - 3.0) <= 0.15, got1)
    assert(math.abs(got1("b")._2 - 2.0) <= 0.10, got1)
    // a delete routes through the rescan (registers cannot forget):
    // the recomputed sketch must again equal a fresh build
    Snapshots.delete(spark, src, col("id") === 5, recordChanges = true)
    Views.refreshView(spark, src, mv)
    val fresh2 = tmp("dcf2")
    Views.createView(spark, src, fresh2, Seq("grp"),
      distinctCols = Seq("v"))
    assert(state(mv) === state(fresh2))
    assert(math.abs(state(mv)("a")._2 - 2.0) <= 0.10, state(mv))
  }

  test("streaming maintenance: drain equals recompute, second drain is a no-op") {
    val src = tmp("ssrc"); val mv = tmp("smv"); val ckpt = tmp("sckpt")
    Snapshots.commit(spark, rows().limit(0), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src, rows((1, "a", 10), (2, "b", 20)),
      Seq("id"), recordChanges = true, preImages = true)
    Snapshots.merge(spark, src, rows((2, "b", 200), (3, "a", 30)),
      Seq("id"), recordChanges = true, preImages = true)
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    assert(viewMap(mv) === Map("a" -> ((2L, 40L)), "b" -> ((1L, 200L))))
    val v = Snapshots.version(spark, mv)
    // nothing new: the checkpointed second drain must not commit
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    assert(Snapshots.version(spark, mv) === v)
    // new commit: only the unseen version folds in
    Snapshots.delete(spark, src, col("id") === 1, recordChanges = true)
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    assert(viewMap(mv) === Map("a" -> ((1L, 30L)), "b" -> ((1L, 200L))))
  }

  test("streaming min/max: inserts extend extrema; retraction digests via rescan") {
    val src = tmp("smmsrc"); val mv = tmp("smmmv"); val ckpt = tmp("smmckpt")
    Snapshots.commit(spark, rows().limit(0), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      maxCols = Seq("v"))
    Snapshots.merge(spark, src, rows((1, "a", 10), (2, "a", 30)),
      Seq("id"), recordChanges = true, preImages = true)
    Snapshots.merge(spark, src, rows((3, "a", 20), (4, "b", 7)),
      Seq("id"), recordChanges = true, preImages = true)
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    def got: Map[String, (Long, Long)] = Views.readView(spark, mv).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        (r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("max_v")))).toMap
    // the second batch's 20 must NOT shrink a's max (greatest-merge)
    assert(got === Map("a" -> ((3L, 30L)), "b" -> ((1L, 7L))))
    // a delete of the current max reaches the maintainer: the
    // retraction-bearing micro-batch routes through the touched-group
    // rescan IN-STREAM (pre-r16 this refused loudly) — a's max must
    // SHRINK to the runner-up, which no delta can produce, and the
    // untouched group must carry over
    Snapshots.delete(spark, src, col("id") === 2, recordChanges = true)
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    assert(got === Map("a" -> ((2L, 20L)), "b" -> ((1L, 7L))))
    // the maintainer left nothing behind: batch refresh is a no-op
    val v = Snapshots.version(spark, mv)
    assert(Views.refreshView(spark, src, mv) === v)
    // post-only update rows STILL refuse (the row's previous group is
    // genuinely unrecoverable) — the refusal survives only for them
    Snapshots.merge(spark, src, rows((3, "a", 999)), Seq("id"),
      recordChanges = true)
    val e = intercept[Exception](
      Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("preImages"),
      s"expected the post-only-update refusal, got: ${msgs(e)}")
  }

  test("join view: bilinear refresh equals recompute across asymmetric appends") {
    import spark.implicits._
    val l = tmp("jl"); val r = tmp("jr"); val v = tmp("jv")
    def lrows(p: (Long, String)*) = p.toSeq.toDF("id", "grp")
    def rrows(p: (Long, Long)*) = p.toSeq.toDF("id", "v")
    Snapshots.commit(spark, lrows((1, "a"), (2, "b")), l)
    Snapshots.commit(spark, rrows((1, 10), (1, 20), (2, 5)), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    def state = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("grp")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    assert(state === Map("a" -> ((2L, 30L)), "b" -> ((1L, 5L))))
    // left-only window: the new left row joins EXISTING right rows
    Snapshots.merge(spark, l, lrows((3, "a")), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, r, rrows((3, 7)), Seq("id"),
      recordChanges = true)
    Views.refreshJoinView(spark, v)
    assert(state === Map("a" -> ((3L, 37L)), "b" -> ((1L, 5L))))
    // both sides move across the SAME window, including the ΔL ⋈ ΔR
    // cross term (new left id 4 matches only the new right rows)
    Snapshots.merge(spark, l, lrows((4, "b")), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, r, rrows((4, 100), (4, 1)), Seq("id"),
      recordChanges = true)
    Views.refreshJoinView(spark, v)
    assert(state === Map("a" -> ((3L, 37L)), "b" -> ((3L, 106L))))
    // fresh: no-op
    val ver = Snapshots.version(spark, s"$v/rows")
    assert(Views.refreshJoinView(spark, v) === ver)
  }

  test("join-view refresh prunes the unchanged side to the delta's key envelope") {
    import spark.implicits._
    val l = tmp("prl"); val r = tmp("prr"); val v = tmp("prv")
    Snapshots.commit(spark, spark.range(0, 512)
      .select(col("id"), (col("id") % 4).cast("string").as("grp")), l)
    // right side: key-clustered into 8 files with id stats — the
    // precondition the manifest prune needs (and the layout a real
    // key-clustered fact table has)
    Snapshots.commit(spark, spark.range(0, 1024)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("id")), r, statsColumns = Seq("id"))
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    // the CDC batch: 8 new left rows whose matches live in ONE band of
    // the right side
    val batch = spark.range(512, 520)
      .select(col("id"), (col("id") % 4).cast("string").as("grp"))
    Snapshots.merge(spark, l, batch, Seq("id"), recordChanges = true)
    // the file-count pin: the refresh's ΔL ⋈ R_new read selects
    // O(matching files) of R, not all 8
    val full = Snapshots.read(spark, r).inputFiles.toSet
    val pruned = Views.readMatching(spark, r, 1L, batch, Seq("id"))
      .inputFiles.toSet
    assert(full.size === 8)
    assert(pruned.subsetOf(full))
    assert(pruned.size <= 2,
      s"expected the 8-row delta to read <=2 of 8 right files, " +
        s"got ${pruned.size}")
    // and the pruned refresh still equals the full recompute
    Views.refreshJoinView(spark, v)
    val got = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("grp")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    val want = spark.range(0, 520)
      .select(col("id"), (col("id") % 4).cast("string").as("grp"))
      .join(spark.range(0, 1024)
        .select(col("id"), (col("id") % 7).as("v")), Seq("id"))
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(got === want)
    // a probe with NO non-null keys proves the join empty: zero files
    assert(Views.readMatching(spark, r, 1L,
      Seq[Option[Long]](None).toDF("id"), Seq("id"))
      .inputFiles.isEmpty)
  }

  test("streaming join-view maintenance: drain equals recompute, replay-guarded, rescan on retraction") {
    import spark.implicits._
    val l = tmp("sjl"); val r = tmp("sjr"); val v = tmp("sjv")
    val ckpt = tmp("sjc")
    def lrows(p: (Long, String)*) = p.toSeq.toDF("id", "grp")
    def rrows(p: (Long, Long)*) = p.toSeq.toDF("id", "v")
    Snapshots.commit(spark, lrows((1, "a"), (2, "b")), l)
    Snapshots.commit(spark, rrows((1, 10), (1, 20), (2, 5)), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    def state = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("grp")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    // two insert waves on both sides, then ONE maintainer drains both
    // feeds through one checkpoint — including the ΔL ⋈ ΔR cross term
    Snapshots.merge(spark, l, lrows((3, "a")), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, r, rrows((3, 7)), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, l, lrows((4, "b")), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, r, rrows((4, 100), (4, 1)), Seq("id"),
      recordChanges = true)
    Views.streamRefreshJoinView(spark, v, ckpt).awaitTermination()
    assert(state === Map("a" -> ((3L, 37L)), "b" -> ((3L, 106L))))
    // caught up: a batch refresh is a no-op, and a second drain from
    // the same checkpoint (the at-least-once replay window) commits
    // nothing
    val ver = Snapshots.version(spark, s"$v/rows")
    assert(Views.refreshJoinView(spark, v) === ver)
    Views.streamRefreshJoinView(spark, v, ckpt).awaitTermination()
    assert(Snapshots.version(spark, s"$v/rows") === ver)
    // a retraction reaches the maintainer: routed through the SAME
    // touched-group rescan the batch refresh runs (r15 — previously a
    // loud refusal) — the drain digests the delete and a subsequent
    // batch refresh finds nothing left to do
    Snapshots.delete(spark, r, col("id") === 1, recordChanges = true)
    Views.streamRefreshJoinView(spark, v, ckpt).awaitTermination()
    assert(state === Map("a" -> ((1L, 7L)), "b" -> ((3L, 106L))))
    val ver2 = Snapshots.version(spark, s"$v/rows")
    assert(Views.refreshJoinView(spark, v) === ver2)
    // only a post-only update refuses (the retracted pair's join key
    // is unrecoverable without a pre-image)
    Snapshots.merge(spark, r, rrows((3, 9)), Seq("id"),
      recordChanges = true)
    val e = intercept[Exception](
      Views.streamRefreshJoinView(spark, v, ckpt).awaitTermination())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("preImages"), msgs(e))
  }

  test("view retention: compact + expire reclaim refresh history, serves stay green") {
    val src = tmp("rtsrc"); val mv = tmp("rtmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 20)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    (3 to 7).foreach { i =>
      Snapshots.merge(spark, src, rows((i.toLong, "a", i.toLong * 10)),
        Seq("id"), recordChanges = true, preImages = true)
      Views.refreshView(spark, src, mv)
    }
    val want = viewMap(mv)
    def snapDirs = new java.io.File(mv).listFiles()
      .count(_.getName.startsWith("snap-"))
    assert(snapDirs === 6) // create + 5 refreshes: a version per commit
    // the standing repair: bin-pack the tip, then expire the history
    Views.compactView(spark, mv)
    assert(viewMap(mv) === want)
    val expired = Views.expireView(spark, mv, keepLast = 1)
    assert(expired("view").nonEmpty)
    assert(snapDirs <= 2, s"expected the history reclaimed, got $snapDirs")
    assert(viewMap(mv) === want)
    // group-column stats survive the rewrite: pruned group reads of
    // the view keep their manifest envelope
    assert(Snapshots.statsCover(spark, mv, Seq("grp")))
    // and maintenance continues across the reclaim
    Snapshots.merge(spark, src, rows((99, "b", 1)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.refreshView(spark, src, mv)
    assert(viewMap(mv)("b") === ((2L, 21L)))
    // join-view layout: rows + params expire together
    import spark.implicits._
    val l = tmp("rtl"); val r = tmp("rtr"); val jv = tmp("rtjv")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "grp"), l)
    Snapshots.commit(spark, Seq((1L, 10L)).toDF("id", "v"), r,
      statsColumns = Seq("id"))
    Views.createJoinView(spark, l, r, jv, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    Snapshots.append(spark, r, Seq((1L, 5L)).toDF("id", "v"),
      Seq("id"), recordChanges = true)
    Views.refreshJoinView(spark, jv)
    val je = Views.expireView(spark, jv, keepLast = 1)
    assert(je.keySet === Set("rows", "params"))
    assert(je("rows").nonEmpty)
    val got = Views.readJoinView(spark, jv).collect()
    assert(got.length === 1 &&
      got.head.getLong(got.head.fieldIndex("sum_v")) === 15L)
  }

  test("streaming auto-maintenance: versions stay bounded across a long drain") {
    val src = tmp("amsrc"); val mv = tmp("ammv"); val ckpt = tmp("amckpt")
    Snapshots.commit(spark, rows().limit(0), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    // 6 waves, each drained separately through the SAME checkpoint
    // (batch ids 0..5); every 2nd batch the maintainer itself compacts
    // the tip and expires history to keepVersions — the closed loop a
    // continuously-maintained view needs (pre-r16 the repair was
    // manual and versions accumulated one per micro-batch forever)
    (1 to 6).foreach { i =>
      Snapshots.merge(spark, src, rows((i.toLong, "a", i.toLong * 10)),
        Seq("id"), recordChanges = true, preImages = true)
      Views.streamRefreshView(spark, src, mv, ckpt,
        maintainEvery = 2, keepVersions = 1).awaitTermination()
      // serves stay green mid-repair, after every wave
      assert(viewMap(mv)("a")._1 === i.toLong)
    }
    assert(viewMap(mv) === Map("a" -> ((6L, 210L))))
    // without maintenance: create + 6 folds = 7 snap dirs (plus the
    // repair commits). With keepVersions=1 and the last cadence point
    // at batch 5, at most the post-repair tail survives.
    val snapDirs = new java.io.File(mv).listFiles()
      .count(_.getName.startsWith("snap-"))
    assert(snapDirs <= 3, s"expected bounded version history, got $snapDirs")
    // maintenance continues after the reclaim
    Snapshots.merge(spark, src, rows((99, "b", 1)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    assert(viewMap(mv)("b") === ((1L, 1L)))
  }

  test("join view general changes: deletes and updates via touched-group rescan") {
    import spark.implicits._
    val l = tmp("dl"); val r = tmp("dr"); val v = tmp("dv")
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp"), l)
    Snapshots.commit(spark,
      Seq((1L, 10L), (2L, 20L), (2L, 1L), (3L, 5L)).toDF("id", "v"), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    def state = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("grp")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    assert(state === Map("a" -> ((3L, 31L)), "b" -> ((1L, 5L))))
    // a DELETE on the left retracts every pair of id 1; an UPDATE on
    // the right (pre-imaged) replaces id 2's rows; group b untouched
    Snapshots.delete(spark, l, col("id") === 1, recordChanges = true)
    Snapshots.merge(spark, r, Seq((2L, 100L)).toDF("id", "v"),
      Seq("id"), recordChanges = true, preImages = true)
    Views.refreshJoinView(spark, v)
    assert(state === Map("a" -> ((1L, 100L)), "b" -> ((1L, 5L))))
    // a group can vanish entirely when its last pairs retract
    Snapshots.delete(spark, r, col("id") === 3, recordChanges = true)
    Views.refreshJoinView(spark, v)
    assert(state === Map("a" -> ((1L, 100L))))
  }

  test("join view grouped by a RIGHT-side column: rescan resolves and recomputes") {
    import spark.implicits._
    val l = tmp("rgl"); val r = tmp("rgr"); val v = tmp("rgv")
    val ckpt = tmp("rgc")
    // the group column lives on the RIGHT input — legal (the
    // definition validates against the joined schema); the rescan's
    // touched-group semi-join must land after the right join, where
    // the column resolves (r15 self-review regression: the
    // left-semi-first prune crashed this shape)
    Snapshots.commit(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 5L)).toDF("id", "v"), l)
    Snapshots.commit(spark,
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "rcat"), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("rcat"),
      sumCols = Seq("v"))
    def state = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("rcat")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    assert(state === Map("x" -> ((2L, 15L)), "y" -> ((1L, 20L))))
    // a delete-bearing window routes through the rescan
    Snapshots.delete(spark, l, col("id") === 1, recordChanges = true)
    Views.refreshJoinView(spark, v)
    assert(state === Map("x" -> ((1L, 5L)), "y" -> ((1L, 20L))))
    // and the STREAMING maintainer's in-batch rescan resolves too
    Snapshots.delete(spark, l, col("id") === 2, recordChanges = true)
    Views.streamRefreshJoinView(spark, v, ckpt).awaitTermination()
    assert(state === Map("x" -> ((1L, 5L))))
  }

  test("join view refuses post-only update feeds loudly") {
    import spark.implicits._
    val l = tmp("pl"); val r = tmp("pr"); val v = tmp("pv")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "grp"), l)
    Snapshots.commit(spark, Seq((1L, 10L)).toDF("id", "v"), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    // matched-key merge WITHOUT preImages: a bare 'update' row
    Snapshots.merge(spark, r, Seq((1L, 99L)).toDF("id", "v"),
      Seq("id"), recordChanges = true)
    val e = intercept[Exception](Views.refreshJoinView(spark, v))
    assert(e.getMessage.contains("preImages"),
      s"expected the pre-image requirement, got: ${e.getMessage}")
  }

  test("quantile columns: delete-bearing windows stay on the delta path (source deleted)") {
    val src = tmp("qsrc"); val mv = tmp("qmv")
    Snapshots.commit(spark,
      rows((1, "a", 3), (2, "a", 7), (3, "a", 12), (4, "b", 100),
        (5, "b", 200)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      quantileCols = Seq("v"))
    Snapshots.merge(spark, src, rows((6, "a", 9), (7, "b", 50)),
      Seq("id"), recordChanges = true, preImages = true)
    Snapshots.delete(spark, src, col("id").isin(2, 4),
      recordChanges = true)
    // expected = the sketch family's own estimator over the final
    // state (ONE arithmetic definition — Sketches.qhQuantiles)
    val fin = Snapshots.read(spark, src)
    val want = graft.operators.Sketches
      .qhQuantiles(fin, Seq("grp"), col("v"), Seq(0.5, 0.95))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // the money pin: remove every source data file — a delete-bearing
    // refresh on a count/sum/QUANTILE view must not read the source
    // (bucket counts subtract exactly; min/max/HLL would rescan here)
    val dir = new java.io.File(src)
    dir.listFiles().filter(_.getName.startsWith("snap-")).foreach { sd =>
      sd.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete(), s"could not delete $f"))
    }
    Views.refreshView(spark, src, mv)
    val got = Views.readView(spark, mv).collect().map { r =>
      r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("p50_v")),
          r.getLong(r.fieldIndex("p95_v"))))
    }.toMap
    assert(got === Map(
      "a" -> ((3L, want(("a", 0.5)), want(("a", 0.95)))),
      "b" -> ((2L, want(("b", 0.5)), want(("b", 0.95))))))
  }

  test("variance columns: delete-bearing windows stay on the delta path (source deleted)") {
    val src = tmp("vsrc"); val mv = tmp("vmv")
    Snapshots.commit(spark,
      rows((1, "a", 3), (2, "a", 7), (3, "a", 12), (4, "b", 100),
        (5, "b", 200)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      varCols = Seq("v"))
    Snapshots.merge(spark, src, rows((6, "a", 9), (7, "b", 50)),
      Seq("id"), recordChanges = true, preImages = true)
    Snapshots.delete(spark, src, col("id").isin(2, 4),
      recordChanges = true)
    // expected via the SAME serve expression over the final state
    val fin = Snapshots.read(spark, src).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        r.getLong(r.fieldIndex("v")))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSeq }
    def rd4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def varStd(vs: Seq[Long]): (Double, Double) = {
      val n = vs.size.toDouble
      val m = vs.sum.toDouble / n
      val v0 = vs.map(x => BigInt(x) * BigInt(x)).sum.toDouble / n - m * m
      (rd4(v0), rd4(math.sqrt(math.max(v0, 0.0))))
    }
    // the money pin: remove every source data file — variance sums
    // subtract exactly, so even the delete wave refreshes with zero
    // source reads (min/max/HLL would rescan here)
    val dir = new java.io.File(src)
    dir.listFiles().filter(_.getName.startsWith("snap-")).foreach { sd =>
      sd.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete(), s"could not delete $f"))
    }
    Views.refreshView(spark, src, mv)
    val got = Views.readView(spark, mv).collect().map { r =>
      r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("n_rows")),
          r.getDouble(r.fieldIndex("var_v")),
          r.getDouble(r.fieldIndex("std_v"))))
    }.toMap
    assert(got === Map(
      "a" -> ((3L, varStd(fin("a"))._1, varStd(fin("a"))._2)),
      "b" -> ((2L, varStd(fin("b"))._1, varStd(fin("b"))._2))))
  }

  test("quantile columns: a group emptied by deletes vanishes; re-created groups restart") {
    val src = tmp("qesrc"); val mv = tmp("qemv")
    Snapshots.commit(spark, rows((1, "a", 5), (2, "b", 20)), src)
    Views.createView(spark, src, mv, Seq("grp"), quantileCols = Seq("v"))
    Snapshots.delete(spark, src, col("id") === 2, recordChanges = true)
    Views.refreshView(spark, src, mv)
    val after = Views.readView(spark, mv).collect()
    assert(after.map(_.getString(0)).toSeq === Seq("a"))
    assert(after.head.getLong(after.head.fieldIndex("p50_v")) === 5L)
    Snapshots.merge(spark, src, rows((3, "b", 7)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.refreshView(spark, src, mv)
    val back = Views.readView(spark, mv).collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("p50_v"))).toMap
    assert(back === Map("a" -> 5L, "b" -> 7L))
  }

  test("quantileBuckets serves the sketch-family bucket shape from view state") {
    val src = tmp("qbsrc"); val mv = tmp("qbmv")
    Snapshots.commit(spark,
      rows((1, "a", 3), (2, "a", 40), (3, "b", 7)), src)
    Views.createView(spark, src, mv, Seq("grp"), quantileCols = Seq("v"))
    Snapshots.delete(spark, src, col("id") === 2, recordChanges = true)
    Views.refreshView(spark, src, mv) // delta even for the delete
    val got = Views.quantileBuckets(spark, mv, "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Sketches.qhBuckets(
        Snapshots.read(spark, src), Seq("grp"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    intercept[IllegalArgumentException](
      Views.quantileBuckets(spark, mv, "nope"))
  }

  test("legacy hll_-named scalar group column parses as a group column") {
    import spark.implicits._
    // a view created before sketch columns existed could legally hold
    // a group column named hll_*; sketch state is recognized by
    // prefix AND MapType, so the legacy layout must read back intact
    val legacy = Seq(
      (Option("x"), 2L, 30L, 1L, -1L),
      (Option.empty[String], 0L, 0L, 1L, -1L)) // sentinel
      .toDF("hll_tag", "n_rows", "sum_v", "_mv_src_version",
        "_mv_batch_id")
    val dir = tmp("legacy")
    Snapshots.commit(spark, legacy, dir)
    val got = Views.readView(spark, dir).collect()
    assert(got.length === 1)
    assert(got.head.getString(got.head.fieldIndex("hll_tag")) === "x")
    assert(!Views.readView(spark, dir).columns.exists(
      _.startsWith("distinct_")))
  }

  test("batch refresh carries the streaming sentinel batch id forward") {
    val src = tmp("bbsrc"); val mv = tmp("bbmv"); val ckpt = tmp("bbckpt")
    Snapshots.commit(spark, rows((1, "a", 10)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src, rows((2, "a", 5)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.streamRefreshView(spark, src, mv, ckpt).awaitTermination()
    def lastBatch: Long = Snapshots.read(spark, mv)
      .filter(col("n_rows") === 0).select("_mv_batch_id").head().getLong(0)
    val streamed = lastBatch
    assert(streamed >= 0L, s"maintainer should have stamped a batch id")
    // a BATCH refresh in between must not reset the replay guard
    Snapshots.merge(spark, src, rows((3, "b", 7)), Seq("id"),
      recordChanges = true, preImages = true)
    Views.refreshView(spark, src, mv)
    assert(lastBatch === streamed)
    assert(viewMap(mv) === Map("a" -> ((2L, 15L)), "b" -> ((1L, 7L))))
  }

  test("readMatching prefers the IN-list bucket route on hash-partitioned sides") {
    import spark.implicits._
    val r = tmp("bkr")
    // hash-bucketed layout with NO id stats: a min/max envelope would
    // span the whole key range (and statsCover is false here anyway —
    // pre-IN-list readMatching fell back to the FULL scan), while the
    // bucket transform envelope selects O(touched buckets) of files.
    // The commit clusters by the session's shuffle parallelism — use
    // enough partitions that each file holds ~one bucket id (the
    // layout a production bucketed table has); restore the test
    // default after.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      Snapshots.commit(spark,
        spark.range(0, 1024).select(col("id"), (col("id") % 7).as("v")),
        r, statsColumns = Seq("v"),
        partitionSpec = Seq(Snapshots.Transform.Bucket("id", 8)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val full = Snapshots.read(spark, r).inputFiles.toSet
    assert(full.size >= 4, s"expected a multi-file bucket layout, got ${full.size}")
    val probe = Seq(5L, 700L).toDF("id")
    val pruned = Views.readMatching(spark, r, 1L, probe, Seq("id"))
    assert(pruned.inputFiles.toSet.subsetOf(full))
    assert(pruned.inputFiles.length < full.size &&
      pruned.inputFiles.length <= 2,
      s"expected <=2 bucket files for a 2-key delta, " +
        s"got ${pruned.inputFiles.length} of ${full.size}")
    // the IN route's residual makes the frame EXACTLY the matching
    // keys' rows — a (tighter) superset of any equi-join match
    assert(pruned.select("id").collect().map(_.getLong(0)).toSet ===
      Set(5L, 700L))
    // a NULL-keyed probe row still matches nothing under the equi
    // contract: null keys drop from the IN list
    val withNull = Seq(Option(5L), Option.empty[Long]).toDF("id")
    assert(Views.readMatching(spark, r, 1L, withNull, Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSet === Set(5L))
  }

  test("join-view RESCAN route prunes BOTH side reads to the touched envelope") {
    import spark.implicits._
    val l = tmp("rpl"); val r = tmp("rpr"); val v = tmp("rpv")
    // left: 4 RANGE-clustered groups (grp = id div 128) across 4
    // files with grp stats; right: key-clustered into 8 files with id
    // stats — both layouts a real clustered table has
    Snapshots.commit(spark, spark.range(0, 512)
      .select(col("id"), (col("id") / 128).cast("long").as("grp"))
      .repartitionByRange(4, col("id")), l,
      statsColumns = Seq("id", "grp"))
    Snapshots.commit(spark, spark.range(0, 1024)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("id")), r, statsColumns = Seq("id"))
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    // a range DELETE of a narrow id band: the feed carries
    // retractions, so the refresh takes the touched-group rescan —
    // touched = {grp 0}; deleteRange carries the 3 untouched left
    // files by reference with their stats intact (the retention shape)
    Snapshots.deleteRange(spark, l, "id", 100L, 107L,
      statsColumns = Seq("id", "grp"), recordChanges = true)
    val tipL = Snapshots.version(spark, l)
    val tipR = Snapshots.version(spark, r)
    // the file-count pins, mirroring the refresh's internal route:
    // LEFT tip read bounded by the touched groups' envelope…
    val feed = Snapshots.changesFeed(spark, l, 1L, tipL)
    val touched = feed.select("grp").distinct()
    val fullL = Snapshots.readVersion(spark, l, tipL).inputFiles.toSet
    // the left pin checks the readMatching frame itself (the semi join
    // below would fold the feed sidecar's files into inputFiles)
    val prunedL = Views.readMatching(spark, l, tipL, touched,
      Seq("grp"), nullSafe = true)
    assert(fullL.size === 4)
    assert(prunedL.inputFiles.toSet.subsetOf(fullL))
    assert(prunedL.inputFiles.length <= 2,
      s"expected the touched-group left read to take <=2 of 4 files, " +
        s"got ${prunedL.inputFiles.length}")
    val prunedLeft = prunedL.join(
      touched.select(col("grp").as("_t_grp")),
      col("grp") <=> col("_t_grp"), "left_semi")
    // …and the RIGHT tip read bounded by the PRUNED left's key
    // envelope (the r14 weak mark: this read used to be O(|R|))
    val fullR = Snapshots.read(spark, r).inputFiles.toSet
    val prunedR = Views.readMatching(spark, r, tipR,
      prunedLeft.select("id"), Seq("id"))
    assert(fullR.size === 8)
    assert(prunedR.inputFiles.toSet.subsetOf(fullR))
    assert(prunedR.inputFiles.length <= 2,
      s"expected the rescan's right read to take <=2 of 8 files, " +
        s"got ${prunedR.inputFiles.length}")
    // and the pruned rescan still equals the full recompute
    Views.refreshJoinView(spark, v)
    val got = Views.readJoinView(spark, v).collect()
      .map(x => x.getLong(x.fieldIndex("grp")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    val want = spark.range(0, 512)
      .filter(!col("id").between(100, 107))
      .select(col("id"), (col("id") / 128).cast("long").as("grp"))
      .join(spark.range(0, 1024)
        .select(col("id"), (col("id") % 7).as("v")), Seq("id"))
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(got === want)
  }

  test("join view sketch columns: distinct + quantile through delta and rescan") {
    import spark.implicits._
    val l = tmp("jsl"); val r = tmp("jsr"); val v = tmp("jsv")
    def lrows(p: (Long, String)*) = p.toSeq.toDF("id", "grp")
    def rrows(p: (Long, Long)*) = p.toSeq.toDF("id", "v")
    Snapshots.commit(spark, lrows((1, "a"), (2, "b")), l)
    Snapshots.commit(spark, rrows((1, 10), (1, 20), (2, 5)), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"), distinctCols = Seq("id"),
      quantileCols = Seq("v"))
    def check(): Unit = {
      val fin = Snapshots.read(spark, l)
        .join(Snapshots.read(spark, r), Seq("id"))
      val wantQ = graft.operators.Sketches
        .qhQuantiles(fin, Seq("grp"), col("v"), Seq(0.5, 0.95))
        .collect()
        .map(x => (x.getString(0), x.getDouble(1)) -> x.getLong(2)).toMap
      val wantD = fin.groupBy("grp")
        .agg(countDistinct(col("id")).as("nd")).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      val got = Views.readJoinView(spark, v).collect()
      got.foreach { x =>
        val g = x.getString(x.fieldIndex("grp"))
        assert(x.getLong(x.fieldIndex("p50_v")) === wantQ((g, 0.5)), g)
        assert(x.getLong(x.fieldIndex("p95_v")) === wantQ((g, 0.95)), g)
        // tiny cardinalities sit in HLL's exact linear-counting range
        assert(x.getDouble(x.fieldIndex("distinct_id")).round ===
          wantD(g), g)
      }
      assert(got.map(_.getString(0)).toSet === wantD.keySet)
    }
    check()
    // insert wave (bilinear delta path: registers max-merge, bucket
    // counts add)
    Snapshots.merge(spark, l, lrows((3, "a")), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, r, rrows((3, 40), (3, 7)), Seq("id"),
      recordChanges = true)
    Views.refreshJoinView(spark, v)
    check()
    // delete wave (touched-group rescan: both sketches recompute)
    Snapshots.delete(spark, r, col("id") === 1, recordChanges = true)
    Views.refreshJoinView(spark, v)
    check()
  }

  test("readJoinView asOf pins a pre-refresh version after later refreshes") {
    import spark.implicits._
    val l = tmp("aol"); val r = tmp("aor"); val v = tmp("aov")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "grp"), l)
    Snapshots.commit(spark, Seq((1L, 10L)).toDF("id", "v"), r,
      statsColumns = Seq("id"))
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    Snapshots.append(spark, r, Seq((1L, 32L)).toDF("id", "v"),
      Seq("id"), recordChanges = true)
    Views.refreshJoinView(spark, v)
    def sums(asOf: Option[Long]) =
      Views.readJoinView(spark, v, asOf = asOf).collect()
        .map(x => x.getLong(x.fieldIndex("sum_v"))).toSeq
    assert(sums(Some(1L)) === Seq(10L))
    assert(sums(Some(2L)) === Seq(42L))
    assert(sums(None) === Seq(42L))
  }

  test("createView rejects colliding group names and non-integral sums") {
    val src = tmp("vsrc")
    import spark.implicits._
    Snapshots.commit(spark,
      Seq((1L, "a", 1.5)).toDF("sum_x", "grp", "f"), src)
    intercept[IllegalArgumentException](
      Views.createView(spark, src, tmp("v1"), Seq("sum_x")))
    intercept[IllegalArgumentException](
      Views.createView(spark, src, tmp("v2"), Seq("grp"),
        sumCols = Seq("f")))
    // r16 reservations: the cnt_ state prefix, the derived avg_/top_
    // names, and ANY parametric quantile serve name (p<digits>_)
    val more = Seq((1L, 2L, 3L, 4L)).toDF("cnt_v", "avg_v", "p99_v", "v")
    val src2 = tmp("vsrc2")
    Snapshots.commit(spark, more, src2)
    for (bad <- Seq("cnt_v", "avg_v", "p99_v"))
      intercept[IllegalArgumentException](
        Views.createView(spark, src2, tmp(s"vbad-$bad"), Seq(bad),
          sumCols = Seq("v")))
  }

  test("avg/var/std divide by the measure's NON-NULL count (SQL fidelity)") {
    import spark.implicits._
    // v is NULL-bearing: SQL AVG/VAR_POP exclude NULL rows from the
    // denominator — served numbers must match Spark's own avg/var_pop
    // over the final state, through a delete wave that stays on the
    // delta path (cnt deltas subtract exactly)
    val src = tmp("cnsrc"); val mv = tmp("cnmv")
    val data = Seq(
      (1L, "a", Option(10L)), (2L, "a", Option.empty[Long]),
      (3L, "a", Option(20L)), (4L, "b", Option(5L)),
      (5L, "b", Option.empty[Long]), (6L, "b", Option(11L)))
      .toDF("id", "grp", "v")
    Snapshots.commit(spark, data, src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      varCols = Seq("v"))
    // delete one NULL row and one non-null row: both cnt and n_rows
    // must fall by exactly what SQL says
    Snapshots.delete(spark, src, col("id").isin(2L, 3L),
      recordChanges = true)
    Views.refreshView(spark, src, mv)
    def rd4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val want = Snapshots.read(spark, src).groupBy("grp")
      .agg(count(col("v")).as("cnt"), avg(col("v")).as("a"),
        var_pop(col("v")).as("vp"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), rd4(r.getDouble(3))))).toMap
    val got = Views.readView(spark, mv, withAvg = true).collect().map { r =>
      r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("cnt_v")),
          r.getDouble(r.fieldIndex("avg_v")),
          r.getDouble(r.fieldIndex("var_v"))))
    }.toMap
    assert(got === want)
    // a group whose values are ALL NULL serves NULL avg/var/std, like
    // SQL over an empty set — not 0, not NaN
    val src2 = tmp("cnsrc2"); val mv2 = tmp("cnmv2")
    Snapshots.commit(spark,
      Seq((1L, "z", Option.empty[Long])).toDF("id", "grp", "v"), src2)
    Views.createView(spark, src2, mv2, Seq("grp"), sumCols = Seq("v"),
      varCols = Seq("v"))
    val r0 = Views.readView(spark, mv2, withAvg = true).head()
    assert(r0.isNullAt(r0.fieldIndex("avg_v")))
    assert(r0.isNullAt(r0.fieldIndex("var_v")))
    assert(r0.isNullAt(r0.fieldIndex("std_v")))
    assert(r0.getLong(r0.fieldIndex("cnt_v")) === 0L)
  }

  test("overflow raises loudly: long sums and decimal sums-of-squares") {
    import spark.implicits._
    // Σx past LONG range at create time: the wide sum narrows through
    // the guarded cast and must raise, not wrap
    val src = tmp("ofsrc")
    Snapshots.commit(spark, Seq(
      (1L, "a", Long.MaxValue), (2L, "a", Long.MaxValue))
      .toDF("id", "grp", "v"), src)
    val e1 = intercept[Exception](
      Views.createView(spark, src, tmp("ofmv"), Seq("grp"),
        sumCols = Seq("v")))
    assert(e1.getMessage.contains("overflow"),
      s"expected the overflow raise, got: ${e1.getMessage}")
    // Σx wrapping through a DELTA refresh: create near the edge, then
    // feed the straw — the fold must raise, not serve a wrapped sum
    val src2 = tmp("ofsrc2"); val mv2 = tmp("ofmv2")
    Snapshots.commit(spark,
      Seq((1L, "a", Long.MaxValue - 5L)).toDF("id", "grp", "v"), src2)
    Views.createView(spark, src2, mv2, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src2, Seq((2L, "a", 100L)).toDF("id", "grp", "v"),
      Seq("id"), recordChanges = true, preImages = true)
    val e2 = intercept[Exception](Views.refreshView(spark, src2, mv2))
    assert(e2.getMessage.contains("overflow"),
      s"expected the overflow raise, got: ${e2.getMessage}")
    // Σx² past DECIMAL(38,0): two near-Long.Max squares sum to
    // ~1.7e38 > 10^38 — must raise at create, never serve NULL var
    val src3 = tmp("ofsrc3")
    Snapshots.commit(spark, Seq(
      (1L, "a", Long.MaxValue - 1L), (2L, "a", Long.MaxValue - 2L))
      .toDF("id", "grp", "v"), src3)
    val e3 = intercept[Exception](
      Views.createView(spark, src3, tmp("ofmv3"), Seq("grp"),
        varCols = Seq("v")))
    assert(e3.getMessage.contains("overflow"),
      s"expected the vsq overflow raise, got: ${e3.getMessage}")
    // and through a delta refresh: start with one big square, add one
    val src4 = tmp("ofsrc4"); val mv4 = tmp("ofmv4")
    Snapshots.commit(spark,
      Seq((1L, "a", Long.MaxValue - 1L)).toDF("id", "grp", "v"), src4)
    Views.createView(spark, src4, mv4, Seq("grp"), varCols = Seq("v"))
    Snapshots.merge(spark, src4,
      Seq((2L, "a", Long.MaxValue - 2L)).toDF("id", "grp", "v"),
      Seq("id"), recordChanges = true, preImages = true)
    val e4 = intercept[Exception](Views.refreshView(spark, src4, mv4))
    assert(e4.getMessage.contains("overflow"),
      s"expected the vsq fold overflow raise, got: ${e4.getMessage}")
  }

  test("parametric quantiles: any q in (0,1) serves from the same state") {
    val src = tmp("pqsrc"); val mv = tmp("pqmv")
    // values below 16 sit in exact buckets, so every served quantile
    // is the exact rank statistic — assertable without the estimator
    Snapshots.commit(spark,
      rows((1, "a", 1), (2, "a", 2), (3, "a", 3), (4, "a", 4),
        (5, "a", 5), (6, "a", 6), (7, "a", 7), (8, "a", 8),
        (9, "a", 9), (10, "a", 10)), src)
    Views.createView(spark, src, mv, Seq("grp"), quantileCols = Seq("v"))
    val r = Views.readView(spark, mv,
      quantiles = Seq(0.5, 0.9, 0.99, 0.999)).head()
    assert(r.getLong(r.fieldIndex("p50_v")) === 5L)
    assert(r.getLong(r.fieldIndex("p90_v")) === 9L)
    assert(r.getLong(r.fieldIndex("p99_v")) === 10L)
    assert(r.getLong(r.fieldIndex("p99_9_v")) === 10L)
    // the defaults stay p50/p95
    val cols = Views.readView(spark, mv).columns.toSet
    assert(cols.contains("p50_v") && cols.contains("p95_v"))
    intercept[IllegalArgumentException](
      Views.readView(spark, mv, quantiles = Seq(1.5)).head())
    assert(Views.quantileName(0.999, "x") === "p99_9_x")
  }

  test("heavy-hitter columns: delete-bearing windows stay on the delta path (source deleted)") {
    val src = tmp("cmsrc"); val mv = tmp("cmmv")
    // duplicated values per group: 7×3 + 5×2 + 9×1 in a; b gets 2×2+4
    Snapshots.commit(spark,
      rows((1, "a", 7), (2, "a", 7), (3, "a", 5), (4, "a", 9),
        (5, "b", 2), (6, "b", 2), (7, "b", 4)), src)
    Views.createView(spark, src, mv, Seq("grp"), topkCols = Seq("v"))
    // insert wave: +counts, candidates union
    Snapshots.merge(spark, src, rows((8, "a", 7), (9, "a", 5)),
      Seq("id"), recordChanges = true, preImages = true)
    // delete wave: −counts, exact inverses
    Snapshots.delete(spark, src, col("id").isin(4, 7),
      recordChanges = true)
    // the money pin: remove every source data file — count-min cell
    // counts subtract exactly, so even the delete wave refreshes with
    // zero source reads (min/max/HLL would rescan here)
    val dir = new java.io.File(src)
    dir.listFiles().filter(_.getName.startsWith("snap-")).foreach { sd =>
      sd.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete(), s"could not delete $f"))
    }
    Views.refreshView(spark, src, mv)
    // final state: a = {7×3, 5×2}, b = {2×2}; the count-min law says
    // n_est ≥ true count, and with this tiny domain the estimates are
    // exact (no cell collisions among 4 values)
    val got = Views.topkValues(spark, mv, "v", k = 2).collect()
      .map(r => (r.getString(r.fieldIndex("grp")),
        r.getLong(r.fieldIndex("rk"))) ->
        ((r.getString(r.fieldIndex("top_v")),
          r.getLong(r.fieldIndex("n_est"))))).toMap
    assert(got(("a", 1L)) === (("7", 3L)))
    assert(got(("a", 2L)) === (("5", 2L)))
    assert(got(("b", 1L)) === (("2", 2L)))
    // the deleted-away value 4 fell out of b's ranking (estimate 0);
    // it may remain a CANDIDATE but must rank below the live value
    assert(got.get(("b", 2L)).forall(_._2 === 0L))
    // readView keeps the sketch state internal
    val served = Views.readView(spark, mv).columns.toSet
    assert(!served.exists(c => c.startsWith("cm_") || c.startsWith("cmc_")))
    intercept[IllegalArgumentException](
      Views.topkValues(spark, mv, "nope", 1))
  }

  test("upsert contract: post-only update rows digest when the merge key pins the group") {
    val src = tmp("upsrc"); val mv = tmp("upmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      maxCols = Seq("v"))
    // merge on (id, grp): the post-image's group IS the pre-image's
    // group by construction — the contract's premise. One window
    // mixing an upsert (1,a: 10→100), a fresh insert and a delete.
    Snapshots.merge(spark, src, rows((1, "a", 100), (3, "a", 7)),
      Seq("id", "grp"), recordChanges = true)
    Snapshots.delete(spark, src, col("id") === 2, recordChanges = true)
    // undeclared: the refusal survives verbatim (classification and
    // the sidecar check are never paid without the opt-in)
    val e0 = intercept[Exception](Views.refreshView(spark, src, mv))
    assert(e0.getMessage.contains("preImages"), e0.getMessage)
    // GROUND TRUTH: the merge RECORDED (id, grp), so even a narrower
    // declaration digests — the recorded key, not the claim, is what
    // the contract checks (post-sidecar feeds have no trust boundary)
    Views.refreshView(spark, src, mv, upsertKey = Seq("id"))
    val got = Views.readView(spark, mv).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("n_rows")),
          r.getLong(r.fieldIndex("sum_v")),
          r.getAs[Long]("max_v")))).toMap
    assert(got === Map("a" -> ((2L, 107L, 100L))))
    assert(Views.staleness(spark, src, mv) === 0L)
  }

  test("upsert contract: a declaration cannot override recorded ground truth") {
    val src = tmp("ulsrc"); val mv = tmp("ulmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    // the merge ACTUALLY used key (id) — it could have moved the
    // row's group — and recorded that; a declaration claiming
    // (id, grp) is a lie the sidecar catches loudly
    Snapshots.merge(spark, src, rows((1, "a", 42)), Seq("id"),
      recordChanges = true)
    val e = intercept[Exception](Views.refreshView(spark, src, mv,
      upsertKey = Seq("id", "grp")))
    assert(e.getMessage.contains("ground truth"), e.getMessage)
    assert(e.getMessage.contains("preImages"), e.getMessage)
  }

  test("upsert contract: legacy feeds (no recorded key) fall back to the declaration") {
    val src = tmp("uvsrc"); val mv = tmp("uvmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src, rows((1, "a", 42)), Seq("id", "grp"),
      recordChanges = true)
    // simulate a pre-sidecar commit: physically remove the recorded
    // key, leaving only the post-only feed
    val v = Snapshots.version(spark, src)
    val f = new java.io.File(s"$src/snap-$v/_update_key")
    assert(f.exists() && f.delete(), s"could not delete $f")
    // the declaration is now the only evidence: a loose one refuses
    // with the underdetermined diagnosis, a pinning one digests
    val e = intercept[Exception](Views.refreshView(spark, src, mv,
      upsertKey = Seq("id")))
    assert(e.getMessage.contains("underdetermined"), e.getMessage)
    Views.refreshView(spark, src, mv, upsertKey = Seq("id", "grp"))
    assert(viewMap(mv) === Map("a" -> ((1L, 42L)), "b" -> ((1L, 5L))))
  }

  test("upsert contract: pure-delta view routes updates through the rescan (not the fold)") {
    val src = tmp("udsrc"); val mv = tmp("udmv")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    // sum-only view: no rescan aggs, so without the contract the
    // delta fold would meet the update row and refuse at evaluation
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"))
    Snapshots.merge(spark, src, rows((1, "a", 42)), Seq("id", "grp"),
      recordChanges = true)
    Views.refreshView(spark, src, mv, upsertKey = Seq("id", "grp"))
    assert(viewMap(mv) === Map("a" -> ((1L, 42L)), "b" -> ((1L, 5L))))
  }

  test("upsert contract: join view digests a per-side upsert wave, refuses the loose side") {
    import spark.implicits._
    val l = tmp("ujl"); val r = tmp("ujr"); val v = tmp("ujv")
    def lrows(p: (Long, String)*) = p.toSeq.toDF("id", "grp")
    def rrows(p: (Long, Long)*) = p.toSeq.toDF("id", "v")
    Snapshots.commit(spark, lrows((1, "a"), (2, "b")), l)
    Snapshots.commit(spark, rrows((1, 10), (2, 5)), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    def state = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("grp")) ->
        (x.getLong(x.fieldIndex("n_rows")),
          x.getLong(x.fieldIndex("sum_v")))).toMap
    assert(state === Map("a" -> ((1L, 10L)), "b" -> ((1L, 5L))))
    // RIGHT-side upsert on the join key alone: grp lives on the left,
    // so the right side's needed set is just the join key — the
    // post-image finds the same left rows the pre-image paired with
    Snapshots.merge(spark, r, rrows((1, 99)), Seq("id"),
      recordChanges = true)
    val e0 = intercept[Exception](Views.refreshJoinView(spark, v))
    assert(e0.getMessage.contains("preImages"), e0.getMessage)
    Views.refreshJoinView(spark, v, upsertKeyRight = Seq("id"))
    assert(state === Map("a" -> ((1L, 99L)), "b" -> ((1L, 5L))))
    // LEFT-side upsert: grp is resident on the left, so the merge
    // key must pin it — merged on (id, grp), recorded. With the
    // sidecar deleted (legacy simulation) a loose declaration
    // refuses; with it present even a narrow declaration digests
    // (ground truth)
    Snapshots.merge(spark, l, lrows((2, "b")), Seq("id", "grp"),
      recordChanges = true)
    val lv = Snapshots.version(spark, l)
    val kf = new java.io.File(s"$l/snap-$lv/_update_key")
    assert(kf.exists() && kf.delete(), s"could not delete $kf")
    val e1 = intercept[Exception](
      Views.refreshJoinView(spark, v, upsertKeyLeft = Seq("id")))
    assert(e1.getMessage.contains("underdetermined"), e1.getMessage)
    Views.refreshJoinView(spark, v, upsertKeyLeft = Seq("id", "grp"))
    assert(state === Map("a" -> ((1L, 99L)), "b" -> ((1L, 5L))))
  }

  test("upsert contract: streaming maintainers digest upsert waves in-stream") {
    import spark.implicits._
    // single-table maintainer with a max column (rescan family)
    val src = tmp("ussrc"); val mv = tmp("usmv")
    val ckpt = tmp("usck")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "b", 5)), src)
    Views.createView(spark, src, mv, Seq("grp"), sumCols = Seq("v"),
      maxCols = Seq("v"))
    Snapshots.merge(spark, src, rows((1, "a", 3), (3, "b", 8)),
      Seq("id", "grp"), recordChanges = true)
    Views.streamRefreshView(spark, src, mv, ckpt,
      upsertKey = Seq("id", "grp")).awaitTermination()
    val got = Views.readView(spark, mv).collect()
      .map(r => r.getString(r.fieldIndex("grp")) ->
        ((r.getLong(r.fieldIndex("sum_v")),
          r.getAs[Long]("max_v")))).toMap
    // the upsert SHRANK a's max from 10 to 3: only the rescan can
    assert(got === Map("a" -> ((3L, 3L)), "b" -> ((13L, 8L))))
    // join maintainer: an upsert wave on the right (key = join key)
    val l = tmp("usjl"); val r = tmp("usjr"); val v = tmp("usjv")
    val jck = tmp("usjck")
    def lrows(p: (Long, String)*) = p.toSeq.toDF("id", "grp")
    def rrows(p: (Long, Long)*) = p.toSeq.toDF("id", "v")
    Snapshots.commit(spark, lrows((1, "a"), (2, "b")), l)
    Snapshots.commit(spark, rrows((1, 10), (2, 5)), r)
    Views.createJoinView(spark, l, r, v, Seq("id"), Seq("grp"),
      sumCols = Seq("v"))
    Snapshots.merge(spark, r, rrows((1, 99), (3, 1)), Seq("id"),
      recordChanges = true)
    Views.streamRefreshJoinView(spark, v, jck,
      upsertKeyRight = Seq("id")).awaitTermination()
    val jgot = Views.readJoinView(spark, v).collect()
      .map(x => x.getString(x.fieldIndex("grp")) ->
        x.getLong(x.fieldIndex("sum_v"))).toMap
    assert(jgot === Map("a" -> 99L, "b" -> 5L))
  }

  test("job counts: refresh and stream-drain routes of both view kinds") {
    import spark.implicits._
    val sc = spark.sparkContext
    def jobs(body: => Unit): Int = org.apache.spark.TestJobs.count(sc)(body)
    def drain(q: => org.apache.spark.sql.streaming.StreamingQuery): Int =
      org.apache.spark.TestJobs.countStream(sc)(q)
    // single-table: a sum view on the delta route, a min/max view on
    // the rescan route, and a min/max stream twin draining both windows
    val src = tmp("jcsrc"); val dv = tmp("jcdv"); val mm = tmp("jcmm")
    val smm = tmp("jcsmm")
    Snapshots.commit(spark, rows((1, "a", 10), (2, "a", 99), (3, "b", 50)),
      src, statsColumns = Seq("grp"))
    Views.createView(spark, src, dv, Seq("grp"), sumCols = Seq("v"))
    Views.createView(spark, src, mm, Seq("grp"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"))
    Views.createView(spark, src, smm, Seq("grp"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"))
    Snapshots.merge(spark, src, rows((4, "b", 7)), Seq("id"),
      recordChanges = true, preImages = true)
    val delta = jobs(Views.refreshView(spark, src, dv))
    Views.refreshView(spark, src, mm)
    Snapshots.delete(spark, src, col("id") === 2, recordChanges = true)
    val rescan = jobs(Views.refreshView(spark, src, mm))
    val stream = drain(
      Views.streamRefreshView(spark, src, smm, tmp("jcck")))
    assert(Views.readView(spark, smm).collect().toSet ===
      Views.readView(spark, mm).collect().toSet)
    // join: an insert-only window (bilinear delta), then a delete
    // (rescan), and a stream twin draining both sides' windows
    val l = tmp("jcl"); val r = tmp("jcr")
    val jv = tmp("jcjv"); val sjv = tmp("jcsjv")
    def lrows(p: (Long, String)*) = p.toSeq.toDF("id", "grp")
    def rrows(p: (Long, Long)*) = p.toSeq.toDF("id", "v")
    Snapshots.commit(spark, lrows((1, "a"), (2, "b")), l)
    Snapshots.commit(spark, rrows((1, 10), (1, 20), (2, 5)), r,
      statsColumns = Seq("id"))
    Views.createJoinView(spark, l, r, jv, Seq("id"), Seq("grp"),
      sumCols = Seq("v"), maxCols = Seq("v"))
    Views.createJoinView(spark, l, r, sjv, Seq("id"), Seq("grp"),
      sumCols = Seq("v"), maxCols = Seq("v"))
    Snapshots.merge(spark, l, lrows((3, "a")), Seq("id"),
      recordChanges = true)
    Snapshots.merge(spark, r, rrows((3, 7)), Seq("id"),
      recordChanges = true)
    val jInsert = jobs(Views.refreshJoinView(spark, jv))
    Snapshots.delete(spark, r, col("id") === 1, recordChanges = true)
    val jRescan = jobs(Views.refreshJoinView(spark, jv))
    val jStream = drain(Views.streamRefreshJoinView(spark, sjv, tmp("jcjck")))
    assert(Views.readJoinView(spark, sjv).collect().toSet ===
      Views.readJoinView(spark, jv).collect().toSet)
    assert((delta, rescan, jInsert, jRescan, stream, jStream) ===
      ((4, 3, 6, 9, 11, 22)))
  }
}
