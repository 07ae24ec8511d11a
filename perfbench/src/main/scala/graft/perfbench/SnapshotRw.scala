package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.sources.{Snapshots, Views}

/** Writes beside reads on the lakehouse layer. Two committed tables,
  * `acct` and `txn`, with stats and bloom filters on their keys, and a
  * join view summing `txn.amount` per `acct.branch`. Each loop step is
  * one scoped upsert merge into `txn` (recording changes and pre-images)
  * followed by point reads, a range read, an as-of read of an older
  * version and a view refresh; then `txn` is compacted, expired and
  * vacuumed, and a second merge and refresh follow. Tables are read from
  * disk on every call. Compaction runs once per step, every second
  * merge, so that each timed run, which holds one step, has the same mix.
  *
  * A refresh whose change window spans a compaction throws (the
  * compaction commits no change feed). It counts as a failed operation
  * and the view is rebuilt with `createJoinView`, timed as its own
  * operation, which is what a user of the engine has to do.
  */
final class SnapshotRw(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  import SnapshotRw._
  import spark.implicits._

  private var base: String = _
  private def acctDir = s"$base/acct"
  private def txnDir = s"$base/txn"
  private var viewDir: String = _
  private var views = 0

  // the model: txn_id -> (acct_id, amount), and per-version fingerprints
  private var branchOf: Array[Int] = _
  private val txn = mutable.LongMap.empty[(Long, Long)]
  private var nextId = 0L
  private var tip = 0L
  private var firstRetained = 1L
  private var viewApplied = 0L
  private val prints = mutable.LongMap.empty[(Long, Long, Long)]
  private val viewChecks = mutable.ArrayBuffer.empty[(String, Long, Map[String, (Long, Long)])]
  private var merges = 0
  private var rnd: SplittableRandom = _
  private val wrong = mutable.ArrayBuffer.empty[String]
  private var bytesPerRow = 0.0
  private var extra = Map.empty[String, Double]

  def setup(rep: Int): Unit = {
    base = s"$workDir/snap-$rep"
    val r = new SplittableRandom(seed)
    rnd = new SplittableRandom(seed ^ 0x7a11)
    branchOf = Array.fill(Accounts)(r.nextInt(Branches))
    txn.clear(); prints.clear(); viewChecks.clear()
    (0 until TxnRows).foreach(i => txn(i.toLong) = (r.nextLong(Accounts), r.nextLong(100000)))
    nextId = TxnRows
    merges = 0
    val acct = branchOf.toSeq.zipWithIndex.map { case (b, i) => (i.toLong, s"b$b") }
      .toDF("acct_id", "branch")
    Snapshots.commit(spark, acct, acctDir,
      statsColumns = Seq("acct_id"), bloomColumns = Seq("acct_id"))
    tip = Snapshots.commit(spark, rowsOf(txn.toSeq).repartitionByRange(8, col("txn_id")), txnDir,
      statsColumns = Seq("txn_id", "acct_id"), bloomColumns = Seq("txn_id"))
    firstRetained = tip
    prints(tip) = fingerprint()
    bytesPerRow = dirBytes(txnDir).toDouble / TxnRows
    views = 0
    createView()
  }

  private def rowsOf(rows: Seq[(Long, (Long, Long))]): DataFrame =
    rows.map { case (id, (a, amt)) => (id, a, amt) }.toDF("txn_id", "acct_id", "amount")

  private def createView(): Long = {
    views += 1
    viewDir = s"$base/view-$views"
    val v = Views.createJoinView(spark, acctDir, txnDir, viewDir,
      joinKeys = Seq("acct_id"), groupCols = Seq("branch"), sumCols = Seq("amount"))
    viewApplied = tip
    viewChecks += ((viewDir, v, groups()))
    v
  }

  /** (rows, sum of amounts, sum of row hashes mod a prime), as the as-of
    * read computes it in Spark. */
  private def fingerprint(): (Long, Long, Long) = {
    var sum = 0L; var hs = 0L
    txn.foreach { case (id, (a, amt)) => sum += amt; hs += rowHash(id, a, amt) }
    (txn.size.toLong, sum, hs)
  }

  private def groups(): Map[String, (Long, Long)] = {
    val g = mutable.Map.empty[String, (Long, Long)]
    txn.valuesIterator.foreach { case (a, amt) =>
      val b = s"b${branchOf(a.toInt)}"
      val (n, s) = g.getOrElse(b, (0L, 0L))
      g(b) = (n + 1, s + amt)
    }
    g.toMap
  }

  private def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok && wrong.size < 20) wrong += s"snapshot_rw: $what: $detail"

  /** Merge, read, refresh, compact; then merge and refresh again. The
    * second refresh's change window holds the compaction, so at this
    * engine version it fails and the view is rebuilt. */
  def step(rec: Recorder): Unit = {
    merge(rec)
    (0 until PointReads).foreach(_ => point(rec))
    range(rec)
    asOf(rec)
    refresh(rec)
    maintain(rec)
    merge(rec)
    refresh(rec)
  }

  /** Upserts [[MergeRows]] rows: half rewrite amounts of recent keys,
    * half insert new keys. */
  private def merge(rec: Recorder): Unit = {
    val recent = math.max(0L, nextId - RecentKeys)
    val updated = Iterator.continually(recent + rnd.nextLong(nextId - recent))
      .distinct.take(MergeRows / 2).toSeq
    val batch = updated.map(id => id -> (txn(id)._1, rnd.nextLong(100000))) ++
      (0 until MergeRows / 2).map(i => (nextId + i) -> (rnd.nextLong(Accounts), rnd.nextLong(100000)))
    val df = rowsOf(batch)
    val before = if (rec.traced) dirBytes(txnDir) else 0L
    rec.op("write", "snapshots.merge") {
      Snapshots.merge(spark, txnDir, df, key = Seq("txn_id"),
        statsColumns = Seq("txn_id", "acct_id"), bloomColumns = Seq("txn_id"),
        recordChanges = true, scoped = true, preImages = true)
    }.foreach { v =>
      merges += 1
      batch.foreach { case (id, row) => txn(id) = row }
      nextId += MergeRows / 2
      tip = v
      prints(v) = fingerprint()
      if (rec.traced) {
        rec.add("snapshots.written_bytes", dirBytes(txnDir) - before)
        rec.add("snapshots.written_user_bytes", batch.size * bytesPerRow)
      }
    }
  }

  private def sameRows(got: Array[Row], want: Seq[(Long, (Long, Long))]): Boolean =
    got.map(r => (r.getAs[Long]("txn_id"), (r.getAs[Long]("acct_id"), r.getAs[Long]("amount"))))
      .sortBy(_._1).toSeq == want.sortBy(_._1)

  private def point(rec: Recorder): Unit = {
    // one read in eight misses: a key past the end of the table
    val key = if (rnd.nextInt(8) == 0) nextId + rnd.nextLong(1000) else rnd.nextLong(nextId)
    rec.op("read", "snapshots.point") {
      Snapshots.readPoint(spark, txnDir, "txn_id", key).collect()
    }.foreach { got =>
      check(s"point read of $key", sameRows(got, txn.get(key).map(key -> _).toSeq),
        got.mkString(","))
    }
    if (rec.traced) {
      val (files, total) = Snapshots.selectFilesPoint(spark, txnDir, tip, "txn_id", key)
      rec.add("snapshots.point.files", files.size)
      rec.add("snapshots.point.files_total", total)
    }
  }

  private def range(rec: Recorder): Unit = {
    val lo = rnd.nextLong(nextId)
    val hi = lo + RangeWidth - 1
    rec.op("read", "snapshots.range") {
      Snapshots.readRange(spark, txnDir, "txn_id", lo, hi).collect()
    }.foreach { got =>
      val want = (lo to math.min(hi, nextId - 1)).flatMap(k => txn.get(k).map(k -> _))
      check(s"range read [$lo, $hi]", sameRows(got, want), s"${got.length} rows, want ${want.size}")
    }
    if (rec.traced) {
      val (files, total) = Snapshots.selectFiles(spark, txnDir, tip, "txn_id", lo, hi)
      rec.add("snapshots.range.files", files.size)
      rec.add("snapshots.range.files_total", total)
    }
  }

  /** Reads the tip version, then an aggregate over a random older
    * retained version. */
  private def asOf(rec: Recorder): Unit = {
    val older = math.max(firstRetained, tip - AsOfDepth)
    val v = if (older >= tip) tip else older + rnd.nextLong(tip - older)
    rec.op("read", "snapshots.asof") {
      val t = rec.span("snapshots.version_ms")(Snapshots.version(spark, txnDir))
      require(t == tip, s"tip version $t, want $tip")
      Snapshots.readVersion(spark, txnDir, v)
        .agg(count(lit(1)), sum("amount"),
          sum(pmod(xxhash64(col("txn_id"), col("acct_id"), col("amount")), lit(Prime))))
        .collect().head
    }.foreach { r =>
      val got = (r.getLong(0), r.getLong(1), r.getLong(2))
      check(s"as-of read of version $v", prints.get(v).contains(got),
        s"$got, want ${prints.get(v)}")
    }
  }

  private def refresh(rec: Recorder): Unit = {
    if (rec.traced) {
      val feed =
        try Snapshots.changesFeed(spark, txnDir, viewApplied, tip).count()
        catch { case scala.util.control.NonFatal(_) => 0L }
      rec.add("views.feed_rows", feed)
    }
    rec.op("refresh", "views.refresh")(Views.refreshJoinView(spark, viewDir)) match {
      case Some(v) =>
        viewApplied = tip
        viewChecks += ((viewDir, v, groups()))
      case None =>
        rec.op("rebuild", "views.rebuild")(createView())
    }
  }

  private def maintain(rec: Recorder): Unit =
    rec.op("maintenance", "snapshots.compact") {
      rec.span("snapshots.compact_ms") {
        Snapshots.compact(spark, txnDir, sortCols = Seq("txn_id"),
          targetFileBytes = CompactFileBytes, statsColumns = Seq("txn_id", "acct_id"), bloomColumns = Seq("txn_id"))
      }
    }.foreach { v =>
      prints(v) = fingerprint()
      tip = v
      rec.op("maintenance", "snapshots.expire") {
        val expired = Snapshots.expire(spark, txnDir, keepLast = KeepVersions)
        Snapshots.vacuum(spark, txnDir, olderThanMs = 0L)
        expired
      }.filter(_.nonEmpty).foreach(expired => firstRetained = expired.max + 1)
    }

  def verify(): Seq[String] = {
    viewChecks.foreach { case (dir, v, want) =>
      val got = Views.readJoinView(spark, dir, asOf = Some(v)).collect()
        .map(r => r.getAs[String]("branch") -> (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_amount")))
        .filter(_._2._1 > 0).toMap
      check(s"join view $dir at version $v", got == want, s"${got.size} groups differ")
    }
    val table = Snapshots.read(spark, txnDir).collect()
    check("final txn table", sameRows(table, txn.toSeq), s"${table.length} rows, want ${txn.size}")
    val recompute = Snapshots.read(spark, acctDir).join(Snapshots.read(spark, txnDir), "acct_id")
      .groupBy("branch").agg(count(lit(1)), sum("amount")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    check("join view recompute", recompute == groups(), "recompute differs from the model")
    // space: bytes in the table directories over the live tables' bytes
    val live = s"$workDir/snap-live"
    Snapshots.read(spark, txnDir).write.parquet(s"$live/txn")
    Snapshots.read(spark, acctDir).write.parquet(s"$live/acct")
    extra = Map("bytes_stored_per_user_byte" ->
      (dirBytes(txnDir) + dirBytes(acctDir)).toDouble / dirBytes(live))
    wrong.toSeq
  }

  override def extras(): Map[String, Double] = extra
}

object SnapshotRw {
  val Accounts = 10000
  val Branches = 50
  val TxnRows = 30000
  val MergeRows = 500
  val RecentKeys = 3000L
  val PointReads = 20
  val RangeWidth = 200
  val AsOfDepth = 6L
  val KeepVersions = 4
  val CompactFileBytes = 128L * 1024
  val Prime = 1000000007L

  def rowHash(id: Long, a: Long, amt: Long): Long =
    Math.floorMod(XXH64.hashLong(amt, XXH64.hashLong(a, XXH64.hashLong(id, 42L))), Prime)

  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }
}
