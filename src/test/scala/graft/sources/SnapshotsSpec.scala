package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The snapshot-isolation contract of [[Snapshots]]: published versions
  * are immutable, the pointer flip is all-or-nothing, and time travel
  * reads exactly what each commit published.
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  test("commits version, time-travels, and isolates readers from later commits") {
    val dir = Files.createTempDirectory("graft-snap").toString
    assert(Snapshots.version(spark, dir) == 0L)
    intercept[IllegalArgumentException](Snapshots.read(spark, dir))

    val v1 = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    assert(v1 == 1L && Snapshots.version(spark, dir) == 1L)

    // a reader resolves v1 BEFORE the next commit...
    val readerOnV1 = Snapshots.read(spark, dir)

    val v2 = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"), dir)
    assert(v2 == 2L && Snapshots.version(spark, dir) == 2L)

    // ...and still sees v1's rows after v2 published (immutable files)
    assert(readerOnV1.count() == 2L)
    assert(readerOnV1.filter($"v" === "B").count() == 0L)

    // the pointer now resolves v2; v1 stays reachable by time travel
    assert(Snapshots.read(spark, dir).count() == 3L)
    val old = Snapshots.readVersion(spark, dir, 1L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(old.toSeq == Seq((1L, "a"), (2L, "b")))

    // no half-committed state left behind: every tmp pointer is gone
    val leftovers = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("_latest.tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("manifest stats prune files before the scan; results stay exact") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-snap-stats").toString
    // 8 range-clustered files over id 0..799: each file covers a ~100-id
    // band, so a narrow range predicate can only intersect a few
    val data = spark.range(0, 800).toDF("id")
      .withColumn("v", col("id") * 3)
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
    val v = Snapshots.commit(spark, data, dir, statsColumns = Seq("id"))

    // planning: the manifest keeps only files whose [min,max] intersect
    val (files, total) = Snapshots.selectFiles(spark, dir, v, "id", 150L, 250L)
    assert(total == 8L, s"expected 8 data files, manifest has $total")
    assert(files.nonEmpty && files.size < total,
      s"${files.size} of $total files selected — no pruning happened")

    // execution: the pruned read touches exactly the selected files and
    // returns the same rows as a full filtered scan
    val pruned = Snapshots.readRange(spark, dir, "id", 150L, 250L)
    assert(pruned.inputFiles.length == files.size)
    val full = Snapshots.read(spark, dir).filter(col("id").between(150, 250))
    assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      full.orderBy("id").collect().map(_.getLong(0)).toSeq)
    assert(pruned.count() == 101L)

    // an empty-range read survives (zero files selected)
    assert(Snapshots.readRange(spark, dir, "id", 5000L, 6000L).count() == 0L)

    // a stats-free snapshot of the same table still answers correctly
    // through the fallback path
    val dir2 = Files.createTempDirectory("graft-snap-nostats").toString
    Snapshots.commit(spark, data, dir2)
    assert(Snapshots.readRange(spark, dir2, "id", 150L, 250L).count() == 101L)
  }

  test("hidden partitioning prunes by transforms of raw columns; results stay exact") {
    val dir = Files.createTempDirectory("graft-snap-hidden").toString
    // 30 days × 64 users; the spec clusters the write by (day, bucket)
    val data = spark.range(0, 6000).toDF("i")
      .select(
        col("i").as("event_id"),
        // days 2024-01-01 .. 2024-01-30
        expr("timestamp '2024-01-01 06:00:00' + make_interval(0,0,0, CAST(i % 30 AS INT),0,0,0)").as("ts"),
        // decoupled from the day cycle so every (day, user) pair occurs
        ((col("i") / 30).cast("long") % 64).as("user_id"))
    // commit at a 32-way layout: the write pins file granularity to the
    // session's shuffle parallelism (see stage()), and pruning is only
    // observable when files outnumber the probe's partition tuples
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val v =
      try Snapshots.commit(spark, data, dir,
        partitionSpec = Seq(
          Snapshots.Transform.Day("ts"),
          Snapshots.Transform.Bucket("user_id", 8)))
      finally spark.conf.set("spark.sql.shuffle.partitions", before)

    // the spec rides the snapshot: readers resolve it from the table
    val spec = Snapshots.partitionSpec(spark, dir)
    assert(spec == Seq(
      Snapshots.Transform.Day("ts"),
      Snapshots.Transform.Bucket("user_id", 8)), spec)

    // a two-transform point probe keeps strictly fewer files than the
    // snapshot holds, and never fewer than the day probe alone
    val witness = java.sql.Timestamp.valueOf("2024-01-05 23:59:59")
    val (both, total) = Snapshots.selectFilesPartitioned(
      spark, dir, v, Seq("ts" -> witness, "user_id" -> 7L))
    val (dayOnly, _) = Snapshots.selectFilesPartitioned(
      spark, dir, v, Seq("ts" -> witness))
    assert(total > 4, s"layout too coarse to test pruning: $total files")
    assert(both.size < total, s"${both.size} of $total files survived")
    assert(both.size <= dayOnly.size && dayOnly.size < total,
      s"day=${dayOnly.size} both=${both.size} total=$total")

    // exactness: the pruned equality read equals the full-scan filter
    val got = Snapshots.readPartitioned(spark, dir,
      Seq("user_id" -> 7L, "ts" -> witness))
    // witness equality matches nothing (no event at 23:59:59) — the
    // residual keeps the read exact even when pruning said "maybe"
    assert(got.count() == 0L)
    val day5 = Snapshots
      .scanPartitioned(spark, dir, Seq("ts" -> witness, "user_id" -> 7L))
      .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-05"))
        && col("user_id") === 7L)
    val expected = Snapshots.read(spark, dir)
      .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-05"))
        && col("user_id") === 7L)
    assert(day5.orderBy("event_id").collect().toSeq ==
      expected.orderBy("event_id").collect().toSeq)
    assert(day5.count() > 0, "probe day/user combination is empty — bad fixture")

    // a probe on an un-specced column prunes nothing but stays correct
    val (noSpec, t2) = Snapshots.selectFilesPartitioned(
      spark, dir, v, Seq("event_id" -> 5L))
    assert(noSpec.size == t2.toInt)
  }

  test("merge inherits the hidden partition spec; pruning survives the update") {
    val dir = Files.createTempDirectory("graft-snap-spec-merge").toString
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val data = spark.range(0, 4000).toDF("i")
        .select(col("i").as("id"), (col("i") % 10).as("cat"),
          (col("i") * 2).as("v"))
      Snapshots.commit(spark, data, dir,
        statsColumns = Seq("cat"),
        partitionSpec = Seq(Snapshots.Transform.Identity("cat")))
      // an update batch: 100 upserted rows + 50 fresh inserts
      val ups = spark.range(3950, 4100).toDF("i")
        .select(col("i").as("id"), (col("i") % 10).as("cat"),
          (col("i") * 3).as("v"))
      val v2 = Snapshots.merge(spark, dir, ups, Seq("id"),
        statsColumns = Seq("cat"))

      // the spec is TABLE metadata: the merged version re-publishes it
      assert(Snapshots.partitionSpec(spark, dir, v2) ==
        Seq(Snapshots.Transform.Identity("cat")))
      // and the merged layout still prunes a single-category probe
      val (files, total) = Snapshots.selectFilesPartitioned(
        spark, dir, v2, Seq("cat" -> 3L))
      assert(total > 4, s"layout too coarse to test pruning: $total files")
      assert(files.nonEmpty && files.size < total,
        s"${files.size} of $total files survived")
      // exactness across the merge: pruned read == plain filter
      val got = Snapshots.readPartitioned(spark, dir, Seq("cat" -> 3L))
        .orderBy("id").collect().toSeq
      val want = Snapshots.read(spark, dir).filter(col("cat") === 3L)
        .orderBy("id").collect().toSeq
      assert(got == want && got.nonEmpty)
      // merge semantics themselves are untouched by the re-clustering:
      // 4000 base rows + 100 inserts (ids 4000-4099), 50 in-place updates
      assert(Snapshots.read(spark, dir).count() == 4100)
      assert(Snapshots.read(spark, dir).filter(col("id") === 3960L)
        .head().getAs[Long]("v") == 3960L * 3)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("partition-spec evolution prunes each file by its own spec without rewrites") {
    val dir = Files.createTempDirectory("graft-snap-specevo").toString
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      // era A: days 2024-01-01..10, clustered by day(ts)
      def era(lo: Int, hi: Int) = spark.range(lo, hi).toDF("i")
        .select(
          col("i").as("event_id"),
          expr("timestamp '2024-01-01 06:00:00' + " +
            s"make_interval(0,0,0, CAST(i % ${hi / 300} AS INT),0,0,0)").as("ts"),
          (col("i") % 64).as("user_id"))
      val v1 = Snapshots.commit(spark, era(0, 3000), dir,
        partitionSpec = Seq(Snapshots.Transform.Day("ts")))
      val snap1 = new java.io.File(s"$dir/snap-$v1")
      def dataFileNames(d: java.io.File) = d.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
      val filesA = dataFileNames(snap1)

      // era B appends under bucket(user_id): NO spec-A file is rewritten
      val v2 = Snapshots.evolvePartitionSpec(spark, dir, era(3000, 6000),
        newSpec = Seq(Snapshots.Transform.Bucket("user_id", 8)))
      assert(dataFileNames(snap1) == filesA, "spec evolution rewrote base files")

      // the sidecar now lists BOTH specs; the new one is the default
      val (specs, cur) = Snapshots.partitionSpecs(spark, dir)
      assert(specs == Seq(
        0 -> Seq(Snapshots.Transform.Day("ts")),
        1 -> Seq(Snapshots.Transform.Bucket("user_id", 8))), specs)
      assert(cur == 1)
      assert(Snapshots.partitionSpec(spark, dir) ==
        Seq(Snapshots.Transform.Bucket("user_id", 8)))

      // every manifest row carries the spec id of its file's layout
      val m = spark.read.parquet(s"$dir/snap-$v2/_manifest").cache()
      val nA = m.filter(col("spec_id") === 0).count()
      val nB = m.filter(col("spec_id") === 1).count()
      val total = m.count()
      assert(nA > 2 && nB > 2 && nA + nB == total, s"A=$nA B=$nB total=$total")

      // a day probe prunes spec-A files by their day envelope and keeps
      // every spec-B file (B doesn't cover ts — correct superset)
      val witness = java.sql.Timestamp.valueOf("2024-01-03 12:00:00")
      val (dayFiles, t1) = Snapshots.selectFilesPartitioned(
        spark, dir, v2, Seq("ts" -> witness))
      assert(t1 == total)
      assert(dayFiles.size < total && dayFiles.size >= nB,
        s"day probe kept ${dayFiles.size} of $total (B=$nB)")
      assert(dayFiles.size - nB < nA, "day probe pruned no spec-A file")

      // a user probe prunes spec-B files by bucket and keeps every
      // spec-A file
      val (userFiles, _) = Snapshots.selectFilesPartitioned(
        spark, dir, v2, Seq("user_id" -> 7L))
      assert(userFiles.size < total && userFiles.size >= nA,
        s"user probe kept ${userFiles.size} of $total (A=$nA)")
      assert(userFiles.size - nA < nB, "user probe pruned no spec-B file")

      // exactness under both layouts
      val full = Snapshots.read(spark, dir)
      val gotUser = Snapshots.readPartitioned(spark, dir, Seq("user_id" -> 7L))
      assert(gotUser.orderBy("event_id").collect().toSeq ==
        full.filter(col("user_id") === 7L).orderBy("event_id").collect().toSeq)
      val day3 = lit(java.sql.Date.valueOf("2024-01-03"))
      val gotDay = Snapshots.scanPartitioned(spark, dir, Seq("ts" -> witness))
        .filter(to_date(col("ts")) === day3)
      assert(gotDay.count() ==
        full.filter(to_date(col("ts")) === day3).count())
      assert(gotDay.count() > 0, "day probe empty — bad fixture")

      // a later OCC rewrite inherits the FULL spec set (both ids, same
      // default) so older readers' spec ids keep resolving
      Snapshots.merge(spark, dir,
        full.filter(col("event_id") < 10).withColumn("user_id", lit(63L)),
        key = Seq("event_id"))
      val (specs3, cur3) = Snapshots.partitionSpecs(spark, dir)
      assert(specs3 == specs && cur3 == cur)
      // the rewrite re-clustered everything under the default spec: the
      // user probe still prunes on the fresh manifest
      val v3 = Snapshots.version(spark, dir)
      val (after, t3) = Snapshots.selectFilesPartitioned(
        spark, dir, v3, Seq("user_id" -> 7L))
      assert(after.size < t3, s"${after.size} of $t3 after rewrite")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("merge-on-read delete rewrites nothing, reads exactly, and folds away") {
    val dir = Files.createTempDirectory("graft-snap-mor").toString
    val data = spark.range(0, 1000).toDF("i")
      .select(col("i").as("id"), (col("i") % 7).as("grp"), (col("i") * 2).as("v"))
    Snapshots.commit(spark, data, dir, statsColumns = Seq("id"))
    val v1Files = Snapshots.read(spark, dir).inputFiles.toSet

    // delete ~1/7 of the table: only a key sidecar commits
    val v2 = Snapshots.deleteMergeOnRead(spark, dir, col("grp") === 3L,
      key = Seq("id"), statsColumns = Seq("id"))
    assert(v2 == 2L)
    val live = Snapshots.read(spark, dir)
    assert(live.filter(col("grp") === 3L).count() == 0)
    assert(live.count() == 1000 - data.filter(col("grp") === 3L).count())
    // no data rewrite: every v1 data file is still what the read scans
    assert(v1Files.subsetOf(live.inputFiles.toSet))

    // accumulation: a second MoR delete unions the pending set
    Snapshots.deleteMergeOnRead(spark, dir, col("id") < 10, Seq("id"),
      statsColumns = Seq("id"))
    val live3 = Snapshots.read(spark, dir)
    assert(live3.count() ==
      1000 - data.filter(col("grp") === 3L || col("id") < 10).count())

    // pruned readers apply the delete set too (readRange bypasses
    // readVersion's assembly — a resurrected row here is the bug)
    val ranged = Snapshots.readRange(spark, dir, "id", 0L, 49L)
    assert(ranged.filter(col("grp") === 3L || col("id") < 10).count() == 0)
    assert(ranged.count() ==
      data.filter(col("id") <= 49 && !(col("grp") === 3L || col("id") < 10))
        .count())

    // time travel still sees the pre-delete state
    assert(Snapshots.readVersion(spark, dir, 1L).count() == 1000)

    // a full rewrite folds the set: no sidecar survives, counts agree
    val v4 = Snapshots.compact(spark, dir, statsColumns = Seq("id"))
    val folded = s"$dir/snap-$v4/_mor_deletes"
    assert(!new java.io.File(folded).exists())
    assert(Snapshots.read(spark, dir).count() == live3.count())

    // scoped merge refuses a pending delete set (raw file reuse would
    // resurrect rows); after folding it proceeds
    Snapshots.deleteMergeOnRead(spark, dir, col("id") === 500L, Seq("id"),
      statsColumns = Seq("id"))
    val ups = Seq((501L, 1L, -1L)).toDF("id", "grp", "v")
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, dir, ups, Seq("id"),
        statsColumns = Seq("id"), scoped = true)
    }
    Snapshots.compact(spark, dir, statsColumns = Seq("id"))
    Snapshots.merge(spark, dir, ups, Seq("id"),
      statsColumns = Seq("id"), scoped = true)
    assert(Snapshots.read(spark, dir).filter(col("id") === 501L)
      .head().getAs[Long]("v") == -1L)
    assert(Snapshots.read(spark, dir).filter(col("id") === 500L).count() == 0)
  }

  test("merge-on-read upsert supersedes by file position and accumulates correctly") {
    val dir = Files.createTempDirectory("graft-snap-mor-upsert").toString
    val data = spark.range(0, 1000).toDF("i")
      .select(col("i").as("id"), (col("i") * 2).as("v"))
    Snapshots.commit(spark, data, dir, statsColumns = Seq("id"))
    val v1Files = Snapshots.read(spark, dir).inputFiles.toSet

    // upsert 1: update ids 900-999, insert 1000-1099 — base files shared
    val ups1 = spark.range(900, 1100).toDF("i")
      .select(col("i").as("id"), lit(-1L).as("v"))
    Snapshots.mergeOnRead(spark, dir, ups1, Seq("id"),
      statsColumns = Seq("id"))
    val live2 = Snapshots.read(spark, dir)
    assert(live2.count() == 1100)
    assert(live2.filter(col("id") === 950L).head().getAs[Long]("v") == -1L)
    assert(live2.filter(col("id") === 100L).head().getAs[Long]("v") == 200L)
    assert(v1Files.subsetOf(live2.inputFiles.toSet), "base files rewritten")

    // upsert 2 hits keys from BOTH v1 files and upsert 1's own files —
    // positional scoping must supersede each key's PREVIOUS row only
    val ups2 = spark.range(950, 1050).toDF("i")
      .select(col("i").as("id"), lit(-2L).as("v"))
    Snapshots.mergeOnRead(spark, dir, ups2, Seq("id"),
      statsColumns = Seq("id"))
    val live3 = Snapshots.read(spark, dir)
    assert(live3.count() == 1100)
    assert(live3.filter(col("id") === 960L).head().getAs[Long]("v") == -2L)
    assert(live3.filter(col("id") === 940L).head().getAs[Long]("v") == -1L)
    assert(live3.filter(col("id") === 1070L).head().getAs[Long]("v") == -1L)
    // exactly one row per key despite three generations of files
    assert(live3.groupBy("id").count().filter(col("count") > 1).count() == 0)

    // a keyed MoR delete rides on top and carries the vectors forward
    Snapshots.deleteMergeOnRead(spark, dir, col("id") < 10, Seq("id"),
      statsColumns = Seq("id"))
    val live4 = Snapshots.read(spark, dir)
    assert(live4.count() == 1090)
    assert(live4.filter(col("id") === 960L).head().getAs[Long]("v") == -2L)

    // compaction folds everything; counts and values survive
    Snapshots.compact(spark, dir, statsColumns = Seq("id"))
    val folded = Snapshots.read(spark, dir)
    assert(folded.count() == 1090)
    assert(folded.filter(col("id") === 960L).head().getAs[Long]("v") == -2L)
    assert(folded.filter(col("id") === 940L).head().getAs[Long]("v") == -1L)

    // write-time feed continuity: a recorded mergeOnRead fills its slot
    // in the window — changesFeed refuses gaps, so this would throw if
    // the MoR commit recorded nothing
    val vBefore = Snapshots.version(spark, dir)
    // id 100 is live; id 0 was MoR-deleted above, so re-upserting it is
    // an INSERT against the live view — the classification the feed
    // must report
    val ups3 = Seq((100L, 7L), (0L, 7L)).toDF("id", "v")
    Snapshots.mergeOnRead(spark, dir, ups3, Seq("id"),
      statsColumns = Seq("id"), recordChanges = true)
    val feed = Snapshots.changesFeed(spark, dir, vBefore, vBefore + 1)
      .collect().map(r => (r.getAs[String]("change_type"), r.getAs[Long]("id")))
      .toSet
    assert(feed == Set(("update", 100L), ("insert", 0L)), feed)
    assert(Snapshots.read(spark, dir).filter(col("id") === 0L)
      .head().getAs[Long]("v") == 7L)
  }

  test("restore publishes an old version's state as a new metadata-only commit") {
    val dir = Files.createTempDirectory("graft-snap-restore").toString
    val v1Data = spark.range(0, 500).toDF("i")
      .select(col("i").as("id"), (col("i") * 2).as("v"))
    Snapshots.commit(spark, v1Data, dir, statsColumns = Seq("id"))
    val v1Files = Snapshots.read(spark, dir).inputFiles.toSet

    // damage the table: a bad merge (v2) and a bad delete (v3)
    Snapshots.merge(spark, dir,
      Seq((10L, -999L)).toDF("id", "v"), Seq("id"), statsColumns = Seq("id"))
    Snapshots.delete(spark, dir, col("id") >= 400, statsColumns = Seq("id"))
    assert(Snapshots.read(spark, dir).count() == 400)

    // rollback: v4 = v1's logical state, files SHARED not copied
    val v4 = Snapshots.restore(spark, dir, 1L)
    assert(v4 == 4L)
    val restored = Snapshots.read(spark, dir)
    assert(restored.count() == 500)
    assert(restored.filter(col("id") === 10L).head().getAs[Long]("v") == 20L)
    assert(v1Files.subsetOf(restored.inputFiles.toSet), "restore copied data")

    // forensics intact: the bad versions still time-travel
    assert(Snapshots.readVersion(spark, dir, 3L).count() == 400)
    assert(Snapshots.readVersion(spark, dir, 2L)
      .filter(col("id") === 10L).head().getAs[Long]("v") == -999L)

    // the carried manifest keeps range skipping working on the restore
    val (files, total) = Snapshots.selectFiles(spark, dir, v4, "id", 0L, 0L)
    assert(files.nonEmpty && files.size < total.toInt || total == 1,
      s"${files.size} of $total")

    // restoring a MoR version carries its delete sidecar
    Snapshots.deleteMergeOnRead(spark, dir, col("id") < 5, Seq("id"),
      statsColumns = Seq("id"))
    val v5 = Snapshots.version(spark, dir)
    Snapshots.merge(spark, dir, Seq((7L, 0L)).toDF("id", "v"), Seq("id"),
      statsColumns = Seq("id"))
    Snapshots.restore(spark, dir, v5)
    assert(Snapshots.read(spark, dir).count() == 495)
    assert(Snapshots.read(spark, dir).filter(col("id") === 7L)
      .head().getAs[Long]("v") == 14L)
  }

  test("restore of a hidden-partitioned version keeps its spec and pruning") {
    val dir = Files.createTempDirectory("graft-snap-restore-spec").toString
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val data = spark.range(0, 4000).toDF("i")
        .select(col("i").as("id"), (col("i") % 10).as("cat"), col("i").as("v"))
      Snapshots.commit(spark, data, dir,
        statsColumns = Seq("cat"),
        partitionSpec = Seq(Snapshots.Transform.Identity("cat")))
      // damage: an unpartitioned full overwrite drops the spec
      Snapshots.commit(spark, data.filter(col("cat") =!= 3L), dir)
      assert(Snapshots.partitionSpec(spark, dir).isEmpty)

      val v3 = Snapshots.restore(spark, dir, 1L)
      // the restore re-publishes the TARGET's spec, not the base's
      assert(Snapshots.partitionSpec(spark, dir, v3) ==
        Seq(Snapshots.Transform.Identity("cat")))
      assert(Snapshots.read(spark, dir).count() == 4000)
      val (files, total) = Snapshots.selectFilesPartitioned(
        spark, dir, v3, Seq("cat" -> 3L))
      assert(total > 4 && files.nonEmpty && files.size < total,
        s"${files.size} of $total")
      val got = Snapshots.readPartitioned(spark, dir, Seq("cat" -> 3L))
      assert(got.count() == 400)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("merge-on-read hardening: stats/bloom carry, null keys, schema guard, empty-file bound") {
    val dir = Files.createTempDirectory("graft-snap-mor-hard").toString
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val data = spark.range(0, 2000).toDF("i")
        .select(col("i").as("id"), (col("i") % 8).as("cat"), col("i").as("v"))
      Snapshots.commit(spark, data, dir,
        statsColumns = Seq("id"), bloomColumns = Seq("id"),
        partitionSpec = Seq(Snapshots.Transform.Identity("cat")))

      // a MoR delete is a pure-reference commit: the carried manifest
      // must keep stats AND blooms verbatim, and the empty own data
      // must not fan out into shuffle-partition-count empty files
      val v2 = Snapshots.deleteMergeOnRead(spark, dir, col("id") < 100,
        Seq("id"))
      val snap2 = new java.io.File(s"$dir/snap-$v2")
      val ownData = snap2.listFiles.filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(ownData.length <= 1, s"${ownData.length} empty data files")
      // bloom point read still prunes and still applies the delete set
      assert(Snapshots.readPoint(spark, dir, "id", 50L).count() == 0)
      assert(Snapshots.readPoint(spark, dir, "id", 150L).count() == 1)
      // range stats survived the carry too
      assert(Snapshots.readRange(spark, dir, "id", 140L, 160L).count() == 21)
      // and so did the partition-spec envelope
      val got = Snapshots.readPartitioned(spark, dir, Seq("cat" -> 3L))
      assert(got.count() == data.filter(col("cat") === 3L && col("id") >= 100)
        .count())

      // restore of the stats+bloom+spec version keeps all three
      val v3 = Snapshots.restore(spark, dir, 1L)
      assert(Snapshots.readPoint(spark, dir, "id", 50L, v3).count() == 1)
      assert(Snapshots.readRange(spark, dir, "id", 0L, 9L, v3).count() == 10)

      // a NULL-keyed row must be deletable (null-safe anti-join)
      val withNull = data.select(
        when(col("id") === 1500L, lit(null).cast("long")).otherwise(col("id"))
          .as("id"), col("cat"), col("v"))
      Snapshots.commit(spark, withNull, dir, statsColumns = Seq("id"))
      Snapshots.deleteMergeOnRead(spark, dir, col("v") === 1500L, Seq("id"))
      assert(Snapshots.read(spark, dir).filter(col("v") === 1500L).count() == 0)
      assert(Snapshots.read(spark, dir).count() == 1999)

      // merge-on-read upsert refuses schema drift instead of corrupting
      intercept[IllegalArgumentException] {
        Snapshots.mergeOnRead(spark, dir,
          Seq((1L, 1L)).toDF("id", "wrong"), Seq("id"))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("tags pin versions by name, survive expiry as retention roots, and are immutable") {
    val dir = Files.createTempDirectory("graft-snap-tags").toString
    Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Snapshots.tag(spark, dir, "train-run-1")
    // the table moves on: three more versions, then aggressive expiry
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"), dir)
    Snapshots.commit(spark, Seq((4L, "d")).toDF("id", "v"), dir)
    Snapshots.commit(spark, Seq((5L, "e")).toDF("id", "v"), dir)
    val expired = Snapshots.expire(spark, dir, keepLast = 1)
    // v1 survives BY NAME, the untagged middle history is gone
    assert(expired.toSet == Set(2L, 3L))
    assert(Snapshots.readTag(spark, dir, "train-run-1")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(Snapshots.tags(spark, dir) == Map("train-run-1" -> 1L))
    // immutability: re-tagging the same name is a refused overwrite
    intercept[Exception] { Snapshots.tag(spark, dir, "train-run-1", 4L) }
    // drop + expire collects the now-unprotected version
    assert(Snapshots.dropTag(spark, dir, "train-run-1"))
    assert(Snapshots.expire(spark, dir, keepLast = 1).toSet == Set(1L))
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSet
      == Set(5L))
  }

  test("a commit that fails before the claim leaves only an invisible staging orphan") {
    val dir = Files.createTempDirectory("graft-snap-crash").toString
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate the crash window: data staged, claim rename never ran —
    // exactly the state a failed commit(…) leaves behind
    Seq((9L, "z")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/_stage-dead-writer")
    assert(Snapshots.version(spark, dir) == 1L)
    assert(Snapshots.read(spark, dir).count() == 1L)
    // the next successful commit claims version 2; the orphan stays
    // invisible in the staging namespace until the janitor collects it
    val v = Snapshots.commit(spark, Seq((2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    assert(v == 2L)
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // a fresh orphan is protected by the age guard; an old one is swept
    assert(Snapshots.vacuum(spark, dir) == 0)
    assert(Snapshots.vacuum(spark, dir, olderThanMs = -1L) == 1)
    assert(!new java.io.File(s"$dir/_stage-dead-writer").exists())
    assert(Snapshots.version(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir).count() == 2L)
  }

  test("a claimed snapshot is durable even if the pointer refresh never ran") {
    val dir = Files.createTempDirectory("graft-snap-ptr").toString
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate a writer that died between claim and pointer refresh:
    // snap-2 exists (claim rename is atomic → always complete), the
    // _latest cache still says 1
    Seq((2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/snap-2")
    // the claim is the commit point — version() reconciles the stale cache
    assert(Snapshots.version(spark, dir) == 2L)
    assert(Snapshots.read(spark, dir).count() == 2L)
    // and the NEXT commit claims 3, never clobbering the durable 2
    val v = Snapshots.commit(spark, Seq((4L, "d")).toDF("id", "v"), dir)
    assert(v == 3L)
    assert(Snapshots.readVersion(spark, dir, 2L).count() == 2L)
  }

  test("merge replaces matched keys, inserts unmatched; delete keeps NULL-predicate rows") {
    val dir = Files.createTempDirectory("graft-snap-merge").toString
    Snapshots.commit(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "n"), dir)
    // matched id=2 replaced, unmatched id=4 inserted — as ONE new version
    val v2 = Snapshots.merge(spark,
      dir, Seq((2L, "B", 99L), (4L, "d", 40L)).toDF("id", "v", "n"), Seq("id"))
    assert(v2 == 2L)
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a", 10L), (2L, "B", 99L), (3L, "c", 30L), (4L, "d", 40L)))
    // v1 is untouched (copy-on-write): time travel still sees the original
    assert(Snapshots.readVersion(spark, dir, 1L).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b", "c"))

    // DELETE WHERE n > 25: a NULL predicate must KEEP the row (SQL
    // semantics), so make one n null via a merge first
    Snapshots.merge(spark, dir,
      Seq((5L, "e")).toDF("id", "v").selectExpr("id", "v", "CAST(NULL AS BIGINT) AS n"),
      Seq("id"))
    val v4 = Snapshots.delete(spark, dir, col("n") > 25)
    assert(v4 == 4L)
    // n>25 deletes ids 2 (99), 3 (30), 4 (40); id 1 (10) stays and the
    // NULL-n id 5 must stay too — a NULL predicate never deletes
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 5L))
  }

  test("changes() emits exactly the keyed diff between two versions") {
    val dir = Files.createTempDirectory("graft-snap-cdf").toString
    Snapshots.commit(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "n"), dir)
    Snapshots.merge(spark, dir,
      Seq((2L, "B", 20L), (4L, "d", 40L)).toDF("id", "v", "n"), Seq("id"))
    Snapshots.delete(spark, dir, col("id") === 3L)
    val diff = Snapshots.changes(spark, dir, 1L, 3L, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // id=1 unchanged → absent; id=2 updated (post-image); id=3 deleted
    // (pre-image); id=4 inserted (post-image)
    assert(diff == Seq((2L, "update", "B"), (3L, "delete", "c"), (4L, "insert", "d")))
    // identical endpoints diff to nothing
    assert(Snapshots.changes(spark, dir, 2L, 2L, Seq("id")).isEmpty)
  }

  test("bloom manifest prunes point lookups on an unclustered column") {
    val dir = Files.createTempDirectory("graft-snap-bloom").toString
    // random layout: ids scattered across 16 files, so min/max spans
    // overlap everywhere and range stats could prune nothing
    val data = spark.range(0, 4000).toDF("id")
      .withColumn("v", col("id") * 7).repartition(16)
    val v = Snapshots.commit(spark, data, dir,
      statsColumns = Seq("id"), bloomColumns = Seq("id"))

    // range stats are useless on this layout (sanity of the setup)...
    val (rangeSel, total) = Snapshots.selectFiles(spark, dir, v, "id", 137L, 137L)
    assert(total == 16L && rangeSel.size == 16)
    // ...but the bloom prunes to (almost) only the file holding the id
    val (sel, _) = Snapshots.selectFilesPoint(spark, dir, v, "id", 137L)
    assert(sel.nonEmpty && sel.size < 16, s"${sel.size} of 16 selected")

    // no false negative: the lookup is exact through the pruned read
    val hit = Snapshots.readPoint(spark, dir, "id", 137L).collect()
    assert(hit.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((137L, 959L)))
    // absent values read empty (bloom may pass a file; equality cleans up)
    assert(Snapshots.readPoint(spark, dir, "id", 99999L).isEmpty)
    // a bloom-less snapshot answers through the fallback
    val dir2 = Files.createTempDirectory("graft-snap-nobloom").toString
    Snapshots.commit(spark, data, dir2, statsColumns = Seq("id"))
    assert(Snapshots.readPoint(spark, dir2, "id", 137L).count() == 1L)
  }

  test("scoped merge rewrites only touched files and references the rest") {
    val dir = Files.createTempDirectory("graft-snap-scoped").toString
    // 8 range-clustered files over id 0..799 (~100-id bands), stats on id
    val data = spark.range(0, 800).toDF("id").withColumn("v", col("id") * 3)
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
    Snapshots.commit(spark, data, dir, statsColumns = Seq("id"))
    val baseFiles = Snapshots.read(spark, dir).inputFiles.toSet
    assert(baseFiles.size == 8)

    // update envelope [650, 820]: touches the top band(s) only — the
    // low bands must be carried by reference, not rewritten
    val updates = spark.range(650, 821).toDF("id").withColumn("v", lit(-1L))
    val v2 = Snapshots.merge(spark, dir, updates, Seq("id"),
      statsColumns = Seq("id"), scoped = true)
    assert(v2 == 2L)

    val v2Files = Snapshots.read(spark, dir).inputFiles.toSet
    val reused = v2Files.filter(_.contains("/snap-1/"))
    val rewritten = v2Files.filterNot(_.contains("/snap-1/"))
    assert(reused.nonEmpty, "no file-level reuse happened")
    assert(reused.subsetOf(baseFiles))
    assert(rewritten.size < baseFiles.size,
      s"${rewritten.size} new files — the rewrite was not scoped")

    // content is exactly the unscoped MERGE semantics
    val got = Snapshots.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 821)
    assert(got.forall { case (id, v) => if (id >= 650) v == -1L else v == id * 3 })

    // the carried manifest still prunes: a low-band range resolves to
    // reused snap-1 paths only, and the pruned read stays exact
    val (files, total) = Snapshots.selectFiles(spark, dir, v2, "id", 100L, 150L)
    assert(files.nonEmpty && files.size < total)
    assert(files.forall(_.contains("/snap-1/")), files.mkString(","))
    assert(Snapshots.readRange(spark, dir, "id", 100L, 150L).count() == 51L)
    // and an updated-band range reads the new values through the manifest
    assert(Snapshots.readRange(spark, dir, "id", 700L, 710L)
      .collect().forall(_.getLong(1) == -1L))

    // time travel: v1 is untouched by the partial rewrite
    assert(Snapshots.readVersion(spark, dir, 1L).count() == 800L)
    assert(Snapshots.readVersion(spark, dir, 1L)
      .filter(col("v") === -1L).count() == 0L)
  }

  test("scoped merge on a composite key intersects per-column envelopes") {
    val dir = Files.createTempDirectory("graft-snap-scoped2").toString
    // 4 tenants × 100 days, range-clustered (tenant, day) → 16 files of
    // ~25 rows: tenant t spans ~4 files, each a ~25-day band
    val data = spark.range(0, 400).toDF("i")
      .select((col("i") / 100).cast("long").as("tenant"),
        (col("i") % 100).as("day"), (col("i") * 3).as("v"))
      .repartitionByRange(16, col("tenant"), col("day"))
      .sortWithinPartitions("tenant", "day")
    Snapshots.commit(spark, data, dir, statsColumns = Seq("tenant", "day"))
    val baseFiles = Snapshots.read(spark, dir).inputFiles.toSet
    assert(baseFiles.size == 16)

    // update envelope (tenant=2) × (day 80..99): a tenant-only envelope
    // would rewrite all ~4 tenant-2 files, a day-only envelope one file
    // per tenant — the intersection must touch only their overlap
    val updates = spark.range(280, 300).toDF("i")
      .select((col("i") / 100).cast("long").as("tenant"),
        (col("i") % 100).as("day"), lit(-1L).as("v"))
    val v2 = Snapshots.merge(spark, dir, updates, Seq("tenant", "day"),
      statsColumns = Seq("tenant", "day"), scoped = true)
    assert(v2 == 2L)

    val v2Files = Snapshots.read(spark, dir).inputFiles.toSet
    val reused = v2Files.filter(_.contains("/snap-1/"))
    assert(reused.subsetOf(baseFiles))
    // touched = base files NOT carried. The overlap is ~1 band (+2 for
    // range-split straddles); 4+ touched means the partition
    // degenerated to a single-column envelope (all of tenant 2, or one
    // band per tenant)
    val touched = baseFiles.size - reused.size
    assert(touched <= 3 && touched >= 1,
      s"touched $touched of 16 base files (reused ${reused.size})")

    // content is exactly the unscoped composite-key MERGE semantics
    val got = Snapshots.read(spark, dir).orderBy("tenant", "day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 400)
    assert(got.forall { case (t, dy, v) =>
      if (t == 2L && dy >= 80L) v == -1L else v == (t * 100 + dy) * 3 })

    // pruning still works across carried rows on BOTH key columns
    val (sel, total) = Snapshots.selectFiles(spark, dir, v2, "day", 10L, 20L)
    assert(sel.nonEmpty && sel.size < total)

    // a key column missing from statsColumns refuses loudly
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, dir, updates, Seq("tenant", "day"),
        statsColumns = Seq("tenant"), scoped = true)
    }
  }

  test("compact collapses a scattered layout transactionally; pruning survives") {
    val dir = Files.createTempDirectory("graft-snap-compact").toString
    val data = spark.range(0, 4000).toDF("id").withColumn("v", col("id") * 3)
    Snapshots.commit(spark, data.repartition(32), dir)
    val before = Snapshots.read(spark, dir).inputFiles.length
    assert(before == 32)
    val v2 = Snapshots.compact(spark, dir, sortCols = Seq("id"),
      targetFileBytes = 16L * 1024, statsColumns = Seq("id"))
    assert(v2 == 2L)
    val after = Snapshots.read(spark, dir).inputFiles.length
    assert(after < before, s"$after files after compacting $before")
    // not a row touched, clustering restored, manifest prunes again
    assert(Snapshots.read(spark, dir).count() == 4000L)
    val (files, total) = Snapshots.selectFiles(spark, dir, v2, "id", 100L, 200L)
    assert(files.nonEmpty && files.size < total)
    assert(Snapshots.readRange(spark, dir, "id", 100L, 200L).count() == 101L)
    // time travel still reads the scattered physical history
    assert(Snapshots.readVersion(spark, dir, 1L).inputFiles.length == 32)
  }

  test("bin-pack compaction rewrites only the small-file tail and carries the rest") {
    val dir = Files.createTempDirectory("graft-snap-binpack").toString
    // one healthy file (10k dense rows) + 8 fragments (50 rows each)
    val big = spark.range(0, 10000).toDF("id").withColumn("v", col("id") * 3)
      .coalesce(1)
    val frags = spark.range(10000, 10400).toDF("id")
      .withColumn("v", col("id") * 3).repartition(8)
    Snapshots.commit(spark, big.unionByName(frags), dir,
      statsColumns = Seq("id"))
    val v1Files = Snapshots.read(spark, dir).inputFiles.toSet
    assert(v1Files.size == 9)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = v1Files.map(f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).toMap
    val bigFile = sizes.maxBy(_._2)._1
    // threshold strictly between the largest fragment and the big file
    val cut = (sizes.values.toSeq.sorted.takeRight(2).sum + 1) / 2
    val v2 = Snapshots.compactBinPack(spark, dir, minFileBytes = cut,
      targetFileBytes = 16L * 1024 * 1024, statsColumns = Seq("id"))
    assert(v2 == 2L)
    val v2Files = Snapshots.read(spark, dir).inputFiles.toSet
    // the healthy file rides BY REFERENCE; every fragment is gone,
    // repacked into one coalesced file
    assert(v2Files.contains(bigFile))
    assert((v1Files - bigFile).intersect(v2Files).isEmpty)
    assert(v2Files.size == 2, s"expected big + 1 repacked, got $v2Files")
    // logically a no-op
    assert(Snapshots.read(spark, dir).count() == 10400L)
    assert(Snapshots.readRange(spark, dir, "id", 10100L, 10150L).count() == 51L)
    // nothing left to repack (one small repacked file < 2) → the next
    // run short-circuits WITHOUT committing
    assert(Snapshots.compactBinPack(spark, dir, minFileBytes = cut,
      targetFileBytes = 16L * 1024 * 1024,
      statsColumns = Seq("id")) == v2)
    assert(Snapshots.version(spark, dir) == v2)
    // pending merge-on-read deletes refuse loudly (carried-raw files
    // would resurrect deleted rows)
    Snapshots.deleteMergeOnRead(spark, dir, col("id") === 5L, Seq("id"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.compactBinPack(spark, dir, minFileBytes = 1024L * 1024,
        statsColumns = Seq("id"))
    }
    assert(e.getMessage.contains("merge-on-read"))
    // a manifest-less table cannot size-select
    val bare = Files.createTempDirectory("graft-snap-binpack-bare").toString
    Snapshots.commit(spark, frags, bare)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.compactBinPack(spark, bare, minFileBytes = 1L)
    }
    assert(e2.getMessage.contains("manifest"))
  }

  test("deleteRange drops contained files unread, carries disjoint ones, rewrites straddlers") {
    val dir = Files.createTempDirectory("graft-snap-delrange").toString
    // 4 range-clustered files over id 0..3999 (boundaries are sampled,
    // so expectations derive from the ACTUAL file envelopes) — delete
    // [f0.max, f2.min]: f0 and f2 straddle (rewrite), f1 is contained
    // (metadata-only DROP), f3 is disjoint (carry by reference)
    val data = spark.range(0, 4000).toDF("id").withColumn("v", col("id") * 7)
    Snapshots.commit(spark,
      data.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      dir, statsColumns = Seq("id"))
    val v1Files = Snapshots.read(spark, dir).inputFiles.toSet
    assert(v1Files.size == 4)
    val envs = Snapshots.read(spark, dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("id").as("mn"), max("id").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    val (lo, hi) = (envs(0)._3, envs(2)._2)
    val nGone = hi - lo + 1
    val v2 = Snapshots.deleteRange(spark, dir, "id", lo, hi,
      statsColumns = Seq("id"), recordChanges = true)
    assert(v2 == 2L)
    val v2Files = Snapshots.read(spark, dir).inputFiles.toSet
    assert(!v2Files.contains(envs(1)._1), "contained file must drop")
    assert(v2Files.contains(envs(3)._1), "disjoint file must carry by reference")
    // only the disjoint file survives verbatim: the dropped file's path
    // is gone and neither straddler original remains
    assert(v1Files.intersect(v2Files) == Set(envs(3)._1))
    // row semantics: exactly the range is gone
    assert(Snapshots.read(spark, dir).count() == 4000L - nGone)
    assert(Snapshots.read(spark, dir)
      .filter(col("id").between(lo, hi)).count() == 0L)
    // the change feed enumerated every deleted row
    assert(Snapshots.changesFeed(spark, dir, 1L, 2L).count() == nGone)
    // pruning still works across carried + rewritten manifest rows
    val probe = envs(3)._2 + (envs(3)._3 - envs(3)._2) / 2
    val (files, total) =
      Snapshots.selectFiles(spark, dir, v2, "id", probe, probe + 10L)
    assert(files.nonEmpty && files.size < total)
    // NULL rows survive a range delete (SQL DELETE semantics), and a
    // file of matching values + one NULL cannot drop whole
    val dir2 = Files.createTempDirectory("graft-snap-delrange-null").toString
    val withNull = spark.range(0, 100).toDF("id")
      .select(when(col("id") === 50L, lit(null)).otherwise(col("id")).as("id"))
    Snapshots.commit(spark, withNull.coalesce(1), dir2,
      statsColumns = Seq("id"))
    Snapshots.deleteRange(spark, dir2, "id", 0L, 99L,
      statsColumns = Seq("id"))
    val left = Snapshots.read(spark, dir2).collect()
    assert(left.length == 1 && left.head.isNullAt(0),
      "the NULL row must survive an all-covering range delete")
    // both-bounds-null refuses
    intercept[IllegalArgumentException] {
      Snapshots.deleteRange(spark, dir2, "id", null, null,
        statsColumns = Seq("id"))
    }
    // column missing from statsColumns refuses (rewritten files would
    // lose prunability)
    intercept[IllegalArgumentException] {
      Snapshots.deleteRange(spark, dir, "id", 0L, 1L, statsColumns = Nil)
    }
  }

  test("expire respects file-level references; unreferenced history is deleted") {
    val dir = Files.createTempDirectory("graft-snap-expire").toString
    // v1: clustered base with stats; v2: scoped merge that REFERENCES
    // v1's low bands; v3/v4: full rewrites referencing nothing
    val data = spark.range(0, 800).toDF("id").withColumn("v", col("id") * 3)
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
    Snapshots.commit(spark, data, dir, statsColumns = Seq("id"))
    Snapshots.merge(spark, dir,
      spark.range(700, 800).toDF("id").withColumn("v", lit(-1L)),
      Seq("id"), statsColumns = Seq("id"), scoped = true)
    Snapshots.commit(spark, Seq((1L, 1L)).toDF("id", "v"), dir)
    Snapshots.commit(spark, Seq((2L, 2L)).toDF("id", "v"), dir)

    // keeping the last 3 (v2..v4): v1 is OLD but v2's refs reach into it
    assert(Snapshots.expire(spark, dir, keepLast = 3) == Seq.empty)
    assert(Snapshots.readVersion(spark, dir, 2L).count() == 800L)

    // keeping the last 2 (v3, v4): nothing references v1/v2 → both go
    assert(Snapshots.expire(spark, dir, keepLast = 2) == Seq(1L, 2L))
    assert(!new java.io.File(s"$dir/snap-1").exists())
    assert(!new java.io.File(s"$dir/snap-2").exists())
    intercept[Exception](Snapshots.readVersion(spark, dir, 2L).count())
    // the retained window reads exactly as before
    assert(Snapshots.readVersion(spark, dir, 3L).count() == 1L)
    assert(Snapshots.read(spark, dir).count() == 1L)
    assert(Snapshots.version(spark, dir) == 4L)
  }

  test("write-time feed records each transaction's changes; gaps throw") {
    val dir = Files.createTempDirectory("graft-snap-feed").toString
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Snapshots.merge(spark, dir,
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"), recordChanges = true)
    Snapshots.delete(spark, dir, col("id") === 3L, recordChanges = true)
    val feed = Snapshots.changesFeed(spark, dir, 1L, 3L)
      .orderBy("version", "id").collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("id"),
        r.getAs[String]("change_type"), r.getAs[String]("v"))).toSeq
    // unlike the net diff, the inserted-then-deleted id=3 appears TWICE
    assert(feed == Seq(
      (2L, 2L, "update", "B"), (2L, 3L, "insert", "c"),
      (3L, 3L, "delete", "c")))
    // v1 was a plain commit with no recorded feed: a window crossing it
    // must refuse rather than silently under-report
    intercept[IllegalArgumentException](
      Snapshots.changesFeed(spark, dir, 0L, 3L))
  }

  test("transact serializes concurrent read-modify-writes (no lost updates)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-snap-occ").toString
    Snapshots.commit(spark, Seq((1L, 0L)).toDF("id", "n"), dir)
    // 4 concurrent transactions, 3 increments each: every increment is
    // fn(predecessor), so losing even one to a stale read would show in
    // the final count — the lost-update anomaly OCC must prevent
    val threads = 4
    val perThread = 3
    val futures = (1 to threads).map { _ =>
      Future {
        (1 to perThread).foreach { _ =>
          Snapshots.transact(spark, dir, maxRetries = 100)(cur =>
            cur.withColumn("n", col("n") + 1))
        }
      }
    }
    Await.result(Future.sequence(futures), 10.minutes)
    assert(Snapshots.version(spark, dir) == (threads * perThread + 1).toLong)
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(1)).toSeq ==
      Seq((threads * perThread).toLong))
    // the lineage really is fn-chained: each version holds its index - 1
    assert(Snapshots.readVersion(spark, dir, 5L).collect().head.getLong(1) == 4L)
  }

  test("plain commit racing a widen never reverts the DDL") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a plain commit reads the table metadata (column map), stages,
    // then claims — a DDL landing inside that window must not be
    // silently reverted by the commit republishing the stale pre-DDL
    // map at a higher version (the commit loop re-derives metadata on
    // a lost claim). widenColumn is the racing DDL because its effect
    // (read_type on 'keep') must survive EVERY interleaving, whatever
    // columns the full-state-replacing plain commit writes: widen
    // first → the commit inherits and republishes the widened map;
    // commit first → widen's ddlLoop retries past the lost claim.
    (1 to 2).foreach { round =>
      val dir = Files.createTempDirectory(s"graft-snap-ddlrace$round").toString
      Snapshots.commit(spark,
        Seq((1L, 10), (2L, 20)).toDF("id", "keep"), dir)
      val plain = Future {
        Snapshots.commit(spark,
          (0L until 50L).map(i => (i, i.toInt)).toDF("id", "keep"), dir)
      }
      val ddl = Future {
        Thread.sleep(50L * round) // vary the interleaving per round
        Snapshots.widenColumn(spark, dir, "keep", "bigint")
      }
      Await.result(Future.sequence(Seq(plain, ddl)), 5.minutes)
      assert(Snapshots.read(spark, dir).schema("keep").dataType ==
        org.apache.spark.sql.types.LongType,
        s"round $round: the widen was reverted by the racing plain commit")
    }
  }

  test("concurrent writers each claim a unique version; nothing is lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-snap-concurrent").toString
    val writers = 8
    // all 8 commit at once, racing for versions — each must land on its
    // own snap-<v> (the no-overwrite claim arbitrates; losers retry)
    val futures = (0 until writers).map { w =>
      Future {
        val df = (0 until 10).map(i => (w.toLong, w * 100L + i)).toDF("writer", "x")
        w.toLong -> Snapshots.commit(spark, df, dir)
      }
    }
    val claims = Await.result(Future.sequence(futures), 5.minutes)
    // versions are exactly 1..8, no duplicates, no gaps
    assert(claims.map(_._2).sorted == (1L to writers.toLong))
    assert(Snapshots.version(spark, dir) == writers.toLong)
    // every writer's snapshot holds precisely that writer's rows —
    // no commit overwrote another's claim
    claims.foreach { case (w, v) =>
      val snap = Snapshots.readVersion(spark, dir, v)
      assert(snap.count() == 10L)
      assert(snap.select("writer").distinct().collect().map(_.getLong(0)).toSeq == Seq(w))
    }
    // no staging orphans remain after a fully successful race
    val stages = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("_stage-"))
    assert(stages.isEmpty, stages.mkString(","))
  }

  test("history reports metadata-only rows: refs counted, MoR rows marked unknown") {
    val dir = Files.createTempDirectory("graft-snap-history").toString
    val data = spark.range(0, 4000).toDF("id").withColumn("v", col("id"))
    Snapshots.commit(spark,
      data.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      dir, statsColumns = Seq("id"), commitMillis = Some(1000L))
    // scoped merge: most files carried by reference — n_files must
    // count them, n_rows must still sum carried + own manifest rows
    Snapshots.merge(spark, dir,
      spark.range(0, 10).toDF("id").withColumn("v", col("id") + 5000L),
      key = Seq("id"), statsColumns = Seq("id"), scoped = true)
    // merge-on-read delete: the manifest count is pre-delete → unknown
    Snapshots.deleteMergeOnRead(spark, dir, col("id") === 7L, Seq("id"))
    val h = Snapshots.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    assert(h(0).getAs[Long]("commit_ms") == 1000L)
    assert(h(0).getAs[Long]("n_files") == 4L)
    assert(h(0).getAs[Long]("n_rows") == 4000L)
    // v2 rewrote the touched band and references the rest
    assert(h(1).getAs[Long]("n_files") >= 4L)
    assert(h(1).getAs[Long]("n_rows") == 4000L)
    // v3 carries everything but its manifest count would lie → null
    assert(h(2).isNullAt(h(2).fieldIndex("n_rows")))
    assert(!h(2).isNullAt(h(2).fieldIndex("commit_ms")))
  }

  test("bin-pack and deleteRange serialize against racing merges through the OCC loop") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // base: fragmented layout with a disjoint high band
    val dir = Files.createTempDirectory("graft-snap-race-maint").toString
    val low = spark.range(0, 400).toDF("id").withColumn("v", col("id"))
      .repartition(6)
    val high = spark.range(10000, 12000).toDF("id").withColumn("v", col("id"))
      .coalesce(1)
    Snapshots.commit(spark, low.unionByName(high), dir,
      statsColumns = Seq("id"))
    // race a keyed MERGE (updates v for ids 100..109) against a
    // bin-pack of the fragment tail: both run occLoop, so whichever
    // loses the claim re-derives from the winner's tip — the final
    // state must show BOTH effects regardless of arrival order
    val updates = spark.range(100, 110).toDF("id")
      .withColumn("v", col("id") + 1000000L)
    val f1 = Future {
      Snapshots.merge(spark, dir, updates, key = Seq("id"),
        statsColumns = Seq("id"))
    }
    val f2 = Future {
      Snapshots.compactBinPack(spark, dir, minFileBytes = 1024L * 1024,
        targetFileBytes = 16L * 1024 * 1024, statsColumns = Seq("id"))
    }
    Await.result(Future.sequence(Seq(f1, f2)), 5.minutes)
    val fin = Snapshots.read(spark, dir)
    assert(fin.count() == 2400L)
    assert(fin.filter(col("v") >= 1000000L).count() == 10L)
    // now race a retention deleteRange against another merge on a
    // disjoint band — both effects must land
    val updates2 = spark.range(11000, 11010).toDF("id")
      .withColumn("v", col("id") + 2000000L)
    val f3 = Future {
      Snapshots.merge(spark, dir, updates2, key = Seq("id"),
        statsColumns = Seq("id"))
    }
    val f4 = Future {
      Snapshots.deleteRange(spark, dir, "id", 0L, 399L,
        statsColumns = Seq("id"))
    }
    Await.result(Future.sequence(Seq(f3, f4)), 5.minutes)
    val fin2 = Snapshots.read(spark, dir)
    assert(fin2.count() == 2000L, "the low band must be gone")
    assert(fin2.filter(col("v") >= 2000000L).count() == 10L,
      "the racing merge's updates must survive the delete")
    assert(fin2.filter(col("id") < 400).count() == 0L)
  }

  test("branches isolate their history from main and merge back as a MERGE") {
    val dir = Files.createTempDirectory("graft-snap-branch").toString
    val docs = spark.range(0, 400).toDF("id")
      .withColumn("v", col("id") * 2)
    Snapshots.commit(spark, docs, dir, statsColumns = Seq("id"))
    // branch at v1: O(metadata) — no data file is copied
    assert(Snapshots.createBranch(spark, dir, "dev") == 1L)
    assert(Snapshots.branches(spark, dir) == Map("dev" -> 1L))
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 400L)
    // re-creating an existing branch is refused atomically
    intercept[Exception] { Snapshots.createBranch(spark, dir, "dev") }

    // branch work: update a range, add new rows — main must not move
    val branched = Snapshots.readBranch(spark, dir, "dev")
      .withColumn("v", when(col("id") >= 200, col("v") + 1000).otherwise(col("v")))
      .unionByName(spark.range(400, 500).toDF("id")
        .withColumn("v", col("id") * 2 + 1000))
    Snapshots.commitToBranch(spark, branched, dir, "dev")
    assert(Snapshots.branchVersion(spark, dir, "dev") == 2L)
    assert(Snapshots.version(spark, dir) == 1L,
      "a branch commit moved MAIN's version")
    assert(Snapshots.read(spark, dir).filter(col("v") >= 1000).count() == 0L,
      "branch rows leaked into main")
    // main keeps committing without seeing the branch
    Snapshots.commit(spark, docs.filter(col("id") < 300), dir,
      statsColumns = Seq("id"))
    assert(Snapshots.version(spark, dir) == 2L)
    assert(Snapshots.readBranch(spark, dir, "dev").count() == 500L)

    // main GC cannot break the branch: v1 (the branch's ref target)
    // survives expire because branch refs are retention roots
    assert(!Snapshots.expire(spark, dir, keepLast = 1).contains(1L))
    assert(Snapshots.readBranch(spark, dir, "dev", 1L).count() == 400L)

    // merge-back IS a snapshot MERGE into main's OCC loop
    Snapshots.mergeBranch(spark, dir, "dev", key = Seq("id"),
      statsColumns = Seq("id"))
    val merged = Snapshots.read(spark, dir)
    assert(merged.count() == 500L)
    assert(merged.filter(col("id") >= 200 && col("id") < 400)
      .filter(col("v") =!= col("id") * 2 + 1000).count() == 0L)
    // branch is untouched by the merge; drop removes its claims only
    assert(Snapshots.branchVersion(spark, dir, "dev") == 2L)
    assert(Snapshots.dropBranch(spark, dir, "dev") == 2)
    assert(Snapshots.branches(spark, dir).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 500L)
  }

  test("8 writers across two branches: claims stay isolated per branch") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-snap-branch-race").toString
    Snapshots.commit(spark, Seq((0L, 0L)).toDF("id", "v"), dir)
    Snapshots.createBranch(spark, dir, "red")
    Snapshots.createBranch(spark, dir, "blue")
    // 4 writers per branch, all racing at once: the no-overwrite claim
    // arbitrates WITHIN each branch namespace; the other branch (and
    // main) are never even contended
    val futures = (0 until 8).map { w =>
      val branch = if (w % 2 == 0) "red" else "blue"
      Future {
        val df = Seq((w.toLong, w * 100L)).toDF("id", "v")
        (branch, w.toLong,
          Snapshots.commitToBranch(spark, df, dir, branch))
      }
    }
    val claims = Await.result(Future.sequence(futures), 5.minutes)
    // each branch advanced 2..5 with no duplicates and no gaps
    Seq("red", "blue").foreach { b =>
      val vs = claims.filter(_._1 == b).map(_._3).sorted
      assert(vs == Seq(2L, 3L, 4L, 5L), s"$b claimed $vs")
      assert(Snapshots.branchVersion(spark, dir, b) == 5L)
    }
    // every claimed branch snapshot holds exactly its writer's row —
    // nothing overwrote anything across 8 concurrent claims
    claims.foreach { case (b, w, v) =>
      val rows = Snapshots.readBranch(spark, dir, b, v).collect()
      assert(rows.length == 1 && rows.head.getLong(0) == w, s"$b v$v")
    }
    // main never moved and holds its own row only
    assert(Snapshots.version(spark, dir) == 1L)
    assert(Snapshots.read(spark, dir).count() == 1L)
    val stages = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("_stage-"))
    assert(stages.isEmpty, stages.mkString(","))
  }

  test("timestamp time travel resolves the version current at an instant") {
    val dir = Files.createTempDirectory("graft-snap-asof").toString
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"), dir,
      commitMillis = Some(1000L))
    Snapshots.commit(spark, Seq((1L, "b")).toDF("id", "v"), dir,
      commitMillis = Some(2000L))
    Snapshots.commit(spark, Seq((1L, "c")).toDF("id", "v"), dir,
      commitMillis = Some(3000L))

    // between v2 and v3 the current table was v2; the boundary is
    // inclusive (a commit AT the instant is visible)
    assert(Snapshots.versionAt(spark, dir, 2500L) == 2L)
    assert(Snapshots.readAsOf(spark, dir, 2500L)
      .collect().head.getString(1) == "b")
    assert(Snapshots.versionAt(spark, dir, 2000L) == 2L)
    assert(Snapshots.versionAt(spark, dir, Long.MaxValue) == 3L)

    // before the first commit the table did not exist — must throw,
    // not silently read v1
    intercept[IllegalArgumentException](Snapshots.versionAt(spark, dir, 500L))

    // OCC writes stamp the wall clock: a fresh merge resolves at "now"
    Snapshots.merge(spark, dir, Seq((2L, "d")).toDF("id", "v"), Seq("id"))
    assert(Snapshots.versionAt(spark, dir,
      System.currentTimeMillis() + 60_000L) == 4L)
  }

  test("zorder compaction prunes range reads on both dimensions") {
    val dir = Files.createTempDirectory("graft-snap-zorder").toString
    // two independent uniform dimensions over a 64x64 grid: a 1-D sort
    // on `a` would leave every file spanning all of `b`
    val grid = (0 until 4096).map(i => (i / 64L, i % 64L, i.toLong))
      .toDF("a", "b", "payload")
    Snapshots.commit(spark, grid.repartition(16), dir)
    Snapshots.compact(spark, dir, zorderCols = Seq("a", "b"),
      targetFileBytes = 8L * 1024, statsColumns = Seq("a", "b"))
    val v = Snapshots.version(spark, dir)

    val (filesA, totalA) = Snapshots.selectFiles(spark, dir, v, "a", 3L, 6L)
    val (filesB, totalB) = Snapshots.selectFiles(spark, dir, v, "b", 3L, 6L)
    assert(totalA > 4, s"compaction produced too few files ($totalA) to prove pruning")
    // the z-curve keeps BOTH per-file ranges tight: each narrow slice
    // must skip files (a 1-D sort would pass only the first assert)
    assert(filesA.size < totalA, s"a-dim did not prune: ${filesA.size}/$totalA")
    assert(filesB.size < totalB, s"b-dim did not prune: ${filesB.size}/$totalB")

    // pruned reads stay row-exact on both dimensions
    assert(Snapshots.readRange(spark, dir, "a", 3L, 6L).count() == 4 * 64L)
    assert(Snapshots.readRange(spark, dir, "b", 3L, 6L).count() == 4 * 64L)

    // compound AND-of-ranges: the intersection rectangle selects no
    // more files than EITHER single-column probe and stays row-exact
    val both = Snapshots.readRanges(spark, dir,
      Seq(("a", 3L, 6L), ("b", 3L, 6L)))
    assert(both.count() == 16L)
    assert(both.inputFiles.length <= math.min(filesA.size, filesB.size),
      s"${both.inputFiles.length} files for the intersection vs " +
        s"${filesA.size}/${filesB.size} per-dimension")
  }

  test("tableStats answers count/min/max from the manifest and stays exact under deletes") {
    val dir = Files.createTempDirectory("graft-snap-stats").toString
    val data = spark.range(0, 500).toDF("id")
      .withColumn("v", col("id").cast("double") * 1.5)
      .repartitionByRange(8, col("id"))
    Snapshots.commit(spark, data, dir, statsColumns = Seq("id", "v"))

    def truth(): (Long, Long, Long, Double, Double) = {
      val r = Snapshots.read(spark, dir)
        .agg(count(lit(1)), min("id"), max("id"), min("v"), max("v")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    def meta(): (Long, Long, Long, Double, Double) = {
      val r = Snapshots.tableStats(spark, dir, Seq("id", "v")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    assert(meta() == ((500L, 0L, 499L, 0.0, 499 * 1.5)))
    assert(meta() == truth())

    // a merge-on-read delete invalidates manifest counts: tableStats
    // must fall back to the scan-side answer and stay exact
    Snapshots.deleteMergeOnRead(spark, dir, col("id") < 100L, Seq("id"))
    assert(meta() == truth())
    assert(meta()._1 == 400L && meta()._2 == 100L)

    // folding the deletes away (copy-on-write rewrite) restores the
    // metadata-only path, now over the post-delete truth
    Snapshots.compact(spark, dir, statsColumns = Seq("id", "v"))
    assert(meta() == truth())
    assert(meta()._1 == 400L)
  }

  test("3-d zorder compaction prunes range reads on all three dimensions") {
    val dir = Files.createTempDirectory("graft-snap-zorder3").toString
    // three independent dimensions over a 16x16x16 cube: a 2-D
    // interleave of (a, b) would leave every file spanning all of `c`
    val cube = (0 until 4096).map(i =>
      (i / 256L, i / 16L % 16L, i % 16L, i.toLong))
      .toDF("a", "b", "c", "payload")
    // ~24 output files: k-dim pruning needs file granularity FINER than
    // the curve's octants (a 6-file layout leaves every file spanning
    // the a-probe — verified by simulation; at ≥12 files all three
    // dimensions prune)
    Snapshots.commit(spark, cube.repartition(16), dir)
    Snapshots.compact(spark, dir, zorderCols = Seq("a", "b", "c"),
      targetFileBytes = 2L * 1024, statsColumns = Seq("a", "b", "c"))
    val v = Snapshots.version(spark, dir)

    val (filesA, total) = Snapshots.selectFiles(spark, dir, v, "a", 1L, 2L)
    val (filesB, _) = Snapshots.selectFiles(spark, dir, v, "b", 1L, 2L)
    val (filesC, _) = Snapshots.selectFiles(spark, dir, v, "c", 1L, 2L)
    assert(total > 4, s"compaction produced too few files ($total) to prove pruning")
    assert(filesA.size < total, s"a-dim did not prune: ${filesA.size}/$total")
    assert(filesB.size < total, s"b-dim did not prune: ${filesB.size}/$total")
    assert(filesC.size < total, s"c-dim did not prune: ${filesC.size}/$total")

    // pruned reads stay row-exact on every dimension
    assert(Snapshots.readRange(spark, dir, "a", 1L, 2L).count() == 2 * 256L)
    assert(Snapshots.readRange(spark, dir, "b", 1L, 2L).count() == 2 * 256L)
    assert(Snapshots.readRange(spark, dir, "c", 1L, 2L).count() == 2 * 256L)
  }

  test("merge evolves the schema on opt-in and stays strict by default") {
    val dir = Files.createTempDirectory("graft-snap-evo").toString
    Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val widened = Seq((2L, "B", 20L), (3L, "c", 30L)).toDF("id", "v", "n")

    // strict default: column drift must throw, not fork the schema
    intercept[org.apache.spark.sql.AnalysisException](
      Snapshots.merge(spark, dir, widened, Seq("id")))
    assert(Snapshots.version(spark, dir) == 1L)

    // opt-in: schema becomes the union, pre-evolution rows read NULL
    Snapshots.merge(spark, dir, widened, Seq("id"), evolveSchema = true)
    val rows = Snapshots.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", -1L), (2L, "B", 20L), (3L, "c", 30L)))

    // the reverse direction also evolves: a NARROW source is null-filled
    Snapshots.merge(spark, dir, Seq((4L, "d")).toDF("id", "v"), Seq("id"),
      evolveSchema = true)
    assert(Snapshots.read(spark, dir).filter($"id" === 4L && $"n".isNull)
      .count() == 1L)

    // type clashes and scoped evolution are rejected up front
    intercept[IllegalArgumentException](Snapshots.merge(spark, dir,
      Seq((5L, "e", "not-a-long")).toDF("id", "v", "n"), Seq("id"),
      evolveSchema = true))
    intercept[IllegalArgumentException](Snapshots.merge(spark, dir,
      widened, Seq("id"), statsColumns = Seq("id"), scoped = true,
      evolveSchema = true))
  }

  test("expectations gate every write path and ride the snapshot chain") {
    val dir = Files.createTempDirectory("graft-snap-expect").toString
    Snapshots.commit(spark, Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), dir,
      addExpectations = Seq("x_positive" -> "x > 0"))
    assert(Snapshots.expectations(spark, dir) == Seq("x_positive" -> "x > 0"))

    // a violating COMMIT is rejected with per-expectation counts and
    // leaves no staging residue; the tip does not move
    val e = intercept[Snapshots.CommitRejectedException](
      Snapshots.commit(spark, Seq((3L, -5L), (4L, 0L)).toDF("id", "x"), dir))
    assert(e.violations == Seq("x_positive" -> 2L))
    assert(Snapshots.version(spark, dir) == 1L)
    assert(!new java.io.File(dir).listFiles().map(_.getName)
      .exists(_.startsWith("_stage-")))

    // CHECK semantics: NULL passes; the invariant is inherited by a
    // MERGE that never re-declared it
    Snapshots.merge(spark, dir,
      Seq((3L, Option.empty[Long])).toDF("id", "x"), Seq("id"))
    assert(Snapshots.version(spark, dir) == 2L)
    intercept[Snapshots.CommitRejectedException](Snapshots.merge(spark, dir,
      Seq((4L, Option(-1L))).toDF("id", "x"), Seq("id")))

    // transact enforces too, and a same-named re-declaration REPLACES
    intercept[Snapshots.CommitRejectedException](
      Snapshots.transact(spark, dir)(_.withColumn("x", -abs($"x"))))
    Snapshots.commit(spark, Seq((9L, 100L)).toDF("id", "x"), dir,
      addExpectations = Seq("x_positive" -> "x > 50"))
    assert(Snapshots.expectations(spark, dir) == Seq("x_positive" -> "x > 50"))
    intercept[Snapshots.CommitRejectedException](
      Snapshots.commit(spark, Seq((10L, 49L)).toDF("id", "x"), dir))
  }

  test("changesStream drains the feed incrementally across restarts") {
    val dir = Files.createTempDirectory("graft-snap-stream").toString
    val ckpt = Files.createTempDirectory("graft-snap-stream-ckpt").toString
    val out = Files.createTempDirectory("graft-snap-stream-out").toString
    Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Snapshots.merge(spark, dir, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      Seq("id"), recordChanges = true)
    Snapshots.delete(spark, dir, $"id" === 1L, recordChanges = true)

    // file sink + checkpoint = the resumable exactly-once pair; each
    // drain APPENDS only what the checkpoint has not yet seen
    def drain(): Seq[(Long, Long, String, String)] = {
      val q = Snapshots.changesStream(spark, dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("version"), r.getAs[Long]("id"),
          r.getAs[String]("change_type"), r.getAs[String]("v")))
        .toSeq.sorted
    }

    // first drain sees exactly the recorded feed, batch-identical
    assert(drain() == Seq((2L, 2L, "update", "B"), (2L, 3L, "insert", "c"),
      (3L, 1L, "delete", "a")))

    // later commits are picked up INCREMENTALLY by the same checkpoint:
    // re-draining after a new commit adds exactly that commit's rows —
    // nothing is reprocessed, nothing is missed
    Snapshots.merge(spark, dir, Seq((4L, "d")).toDF("id", "v"), Seq("id"),
      recordChanges = true)
    assert(drain() == Seq((2L, 2L, "update", "B"), (2L, 3L, "insert", "c"),
      (3L, 1L, "delete", "a"), (4L, 4L, "insert", "d")))
  }

  test("append carries every base file by reference and writes only the batch") {
    val dir = Files.createTempDirectory("graft-snap-append").toString
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir,
      statsColumns = Seq("id"))
    val v1Files = Snapshots.readVersion(spark, dir, 1L).inputFiles.toSet
    Snapshots.append(spark, dir,
      Seq((3L, "c"), (4L, "d")).toDF("id", "v"), Seq("id"),
      recordChanges = true)
    // state = union; the batch is recorded as insert feed rows
    assert(Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(Snapshots.changesFeed(spark, dir, 1L, 2L)
      .select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("insert", 3L), ("insert", 4L)))
    // ZERO rewrite: every v1 data file is still part of v2's scan set
    val v2Files = Snapshots.readVersion(spark, dir, 2L).inputFiles.toSet
    assert(v1Files.subsetOf(v2Files), "append rewrote base files")
    // time travel untouched; range pruning still works over the
    // merged manifest (carried rows + the batch's new rows)
    assert(Snapshots.readVersion(spark, dir, 1L).count() == 2L)
    assert(Snapshots.readRange(spark, dir, "id", 3L, 4L).count() == 2L)
    // refusal without a manifest (nothing to carry by)
    val bare = Files.createTempDirectory("graft-snap-append-bare").toString
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"), bare)
    val e = intercept[IllegalArgumentException](
      Snapshots.append(spark, bare, Seq((2L, "b")).toDF("id", "v")))
    assert(e.getMessage.contains("stats manifest"))
    // refusal on a divergent TYPE: the batch's files would land beside
    // the carried base files with a different physical schema, and the
    // committed _schema (declared from the batch alone) would corrupt
    // every later mixed-footer read — same strict contract as
    // mergeOnRead
    val e2 = intercept[IllegalArgumentException](
      Snapshots.append(spark, dir,
        Seq((5, "e")).toDF("id", "v"), Seq("id")))
    assert(e2.getMessage.contains("diverges"),
      s"expected the type-divergence error, got: ${e2.getMessage}")
  }

  // ---- the per-session metadata cache ------------------------------

  private def idV(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSeq.sorted

  /** 4 range-clustered files over `ids`, stats and a bloom on `id`. */
  private def commitIdV(dir: String, ids: Range, mult: Long): Long =
    Snapshots.commit(spark,
      ids.map(i => (i.toLong, i * mult)).toDF("id", "v")
        .repartitionByRange(4, col("id")),
      dir, statsColumns = Seq("id"), bloomColumns = Seq("id"))

  test("metadata cache: an expired and vacuumed version is never served") {
    val dir = Files.createTempDirectory("graft-snap-cache-expire").toString
    commitIdV(dir, 0 until 40, 1L)
    commitIdV(dir, 0 until 40, 2L)
    commitIdV(dir, 0 until 40, 3L)
    // every read path decodes and caches version 1
    assert(idV(Snapshots.readPoint(spark, dir, "id", 7L, v = 1L)) == Seq((7L, 7L)))
    assert(idV(Snapshots.readRange(spark, dir, "id", 3L, 4L, v = 1L)) ==
      Seq((3L, 3L), (4L, 4L)))
    assert(Snapshots.readVersion(spark, dir, 1L).count() == 40L)
    assert(Snapshots.metaCached(spark, dir, 1L))

    assert(Snapshots.expire(spark, dir, keepLast = 1) == Seq(1L, 2L))
    Snapshots.vacuum(spark, dir, olderThanMs = 0L)
    assert(!Snapshots.metaCached(spark, dir, 1L) && !Snapshots.metaCached(spark, dir, 2L))
    intercept[java.io.FileNotFoundException](Snapshots.readVersion(spark, dir, 1L))
    intercept[java.io.FileNotFoundException](
      Snapshots.readPoint(spark, dir, "id", 7L, v = 1L))
    intercept[java.io.FileNotFoundException](
      Snapshots.readRange(spark, dir, "id", 3L, 4L, v = 2L))
    intercept[java.io.FileNotFoundException](
      Snapshots.selectFilesPoint(spark, dir, 1L, "id", 7L))
    assert(idV(Snapshots.readPoint(spark, dir, "id", 7L)) == Seq((7L, 21L)))
  }

  test("metadata cache: a table deleted and recommitted at the same path reads the new rows") {
    val dir = Files.createTempDirectory("graft-snap-cache-recommit").toString
    assert(commitIdV(dir, 0 until 40, 1L) == 1L)
    assert(idV(Snapshots.readPoint(spark, dir, "id", 9L)) == Seq((9L, 9L)))
    assert(idV(Snapshots.readRange(spark, dir, "id", 38L, 50L)) ==
      Seq((38L, 38L), (39L, 39L)))
    assert(Snapshots.readVersion(spark, dir, 1L).count() == 40L)

    val hp = new org.apache.hadoop.fs.Path(dir)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    // same path, same version number, different rows and files
    assert(commitIdV(dir, 30 until 60, 5L) == 1L)
    assert(idV(Snapshots.readPoint(spark, dir, "id", 9L)).isEmpty)
    assert(idV(Snapshots.readPoint(spark, dir, "id", 45L)) == Seq((45L, 225L)))
    assert(idV(Snapshots.readRange(spark, dir, "id", 38L, 39L)) ==
      Seq((38L, 190L), (39L, 195L)))
    assert(idV(Snapshots.readVersion(spark, dir, 1L)) ==
      (30 until 60).map(i => (i.toLong, i * 5L)))
    val (files, total) = Snapshots.selectFiles(spark, dir, 1L, "id", 0L, 100L)
    assert(total >= 1L && files.size.toLong == total)
  }

  test("metadata cache: a version read before and after a commit keeps its own rows") {
    val dir = Files.createTempDirectory("graft-snap-cache-versions").toString
    commitIdV(dir, 0 until 40, 1L)
    assert(idV(Snapshots.readPoint(spark, dir, "id", 5L)) == Seq((5L, 5L)))
    val v2 = Snapshots.merge(spark, dir, Seq((5L, -5L), (100L, -100L)).toDF("id", "v"),
      Seq("id"), statsColumns = Seq("id"), bloomColumns = Seq("id"), scoped = true)
    assert(v2 == 2L)
    // the tip moved: a default read resolves v2, time travel keeps v1
    assert(idV(Snapshots.readPoint(spark, dir, "id", 5L)) == Seq((5L, -5L)))
    assert(idV(Snapshots.readPoint(spark, dir, "id", 100L)) == Seq((100L, -100L)))
    assert(idV(Snapshots.readPoint(spark, dir, "id", 5L, v = 1L)) == Seq((5L, 5L)))
    assert(idV(Snapshots.readPoint(spark, dir, "id", 100L, v = 1L)).isEmpty)
    assert(idV(Snapshots.readRange(spark, dir, "id", 4L, 5L, v = 1L)) ==
      Seq((4L, 4L), (5L, 5L)))
    assert(idV(Snapshots.readRange(spark, dir, "id", 4L, 5L)) ==
      Seq((4L, 4L), (5L, -5L)))
    assert(Snapshots.readVersion(spark, dir, 1L).count() == 40L)
    assert(Snapshots.readVersion(spark, dir, 2L).count() == 41L)
  }

  test("driver-side probe hash equals the xxhash64 job hash, Int literal on a Long column included") {
    import org.apache.spark.sql.types._
    val day = java.time.LocalDate.of(2024, 1, 2)
    val cases: Seq[(Any, DataType)] = Seq(
      (42L, LongType), (42, LongType), (-7, IntegerType), (7L, IntegerType),
      ("k-17", StringType), (17, StringType), (java.sql.Date.valueOf(day), DateType),
      (day, DateType), ("2024-01-02", DateType))
    for (ansi <- Seq("true", "false")) {
      val prev = spark.conf.getOption("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try cases.foreach { case (value, t) =>
        val job = spark.range(1).select(xxhash64(lit(value).cast(t))).head().getLong(0)
        assert(Snapshots.probeHash(spark, value, t) == job, s"$value as $t, ansi=$ansi")
      } finally prev match {
        case Some(p) => spark.conf.set("spark.sql.ansi.enabled", p)
        case None => spark.conf.unset("spark.sql.ansi.enabled")
      }
    }
    // end to end: each bloom column finds its row (no false negative),
    // and an Int literal probes a Long bloom column correctly
    val dir = Files.createTempDirectory("graft-snap-hash-types").toString
    val rows = (0 until 64).map(i =>
      (i.toLong, i, s"k-$i", java.sql.Date.valueOf(day.plusDays(i.toLong))))
    Snapshots.commit(spark, rows.toDF("l", "i", "s", "d").repartition(4), dir,
      bloomColumns = Seq("l", "i", "s", "d"))
    def hit(c: String, value: Any): Seq[Long] =
      Snapshots.readPoint(spark, dir, c, value).collect().map(_.getAs[Long]("l")).toSeq
    assert(hit("l", 17L) == Seq(17L) && hit("l", 17) == Seq(17L))
    assert(hit("i", 17) == Seq(17L))
    assert(hit("s", "k-17") == Seq(17L))
    assert(hit("d", day.plusDays(17)) == Seq(17L))
  }

  test("conf slice: cached snapshot reads answer alike under ANSI on/off and the java8 datetime API") {
    val dir = Files.createTempDirectory("graft-snap-conf-slice").toString
    val day0 = java.time.LocalDate.of(2024, 3, 1)
    val data = (0 until 60).map(i =>
      (i.toLong, java.sql.Date.valueOf(day0.plusDays(i.toLong)), s"r$i"))
      .toDF("id", "d", "s").repartitionByRange(6, col("d"))
    val v = Snapshots.commit(spark, data, dir,
      statsColumns = Seq("d", "id"), bloomColumns = Seq("d", "id"))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getAs[Long]("id")).toSeq.sorted
    def reads(): Seq[Seq[Long]] = Seq(
      ids(Snapshots.readRange(spark, dir, "d", day0.plusDays(10), day0.plusDays(12))),
      ids(Snapshots.readPoint(spark, dir, "d", day0.plusDays(33))),
      ids(Snapshots.readPoint(spark, dir, "id", 44L, v = v)),
      ids(Snapshots.readRange(spark, dir, "id", 58L, 70L)))
    val want = Seq(Seq(10L, 11L, 12L), Seq(33L), Seq(44L), Seq(58L, 59L))
    assert(reads() == want)
    val cells = Seq(
      "spark.sql.ansi.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.datetime.java8API.enabled" -> "true")
    for ((key, value) <- cells) {
      val prev = spark.conf.getOption(key)
      // the same cached version read before and after the flip
      assert(reads() == want, s"before $key=$value")
      spark.conf.set(key, value)
      try assert(reads() == want, s"$key=$value")
      finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      assert(reads() == want, s"after $key=$value")
    }
    assert(Snapshots.metaCached(spark, dir, v))
  }

  test("merge keys past the byte bound take the shuffled shape with the same result") {
    val cap = Snapshots.LocalSidecarBytesConf
    val ups = spark.range(0, 300).select(col("id"), (col("id") * -1).as("v"))
    assert(Snapshots.localKeyFrame(spark, ups, Seq("id")).isDefined)
    // a batch whose plan aggregates is not probed at all
    assert(Snapshots.localKeyFrame(spark,
      ups.groupBy("id").agg(max("v").as("v")), Seq("id")).isEmpty)
    def mergeInto(bytesMax: Option[String]): Seq[(Long, Long)] = {
      val dir = Files.createTempDirectory("graft-snap-keybytes").toString
      commitIdV(dir, 0 until 400, 1L)
      val prev = spark.conf.getOption(cap)
      bytesMax.foreach(spark.conf.set(cap, _))
      try {
        // 300 Long keys ≈ 2.4 KB: over a 1 KB bound, under the default
        assert(Snapshots.localKeyFrame(spark, ups, Seq("id")).isDefined == bytesMax.isEmpty)
        Snapshots.merge(spark, dir, ups, Seq("id"),
          statsColumns = Seq("id"), bloomColumns = Seq("id"), scoped = true,
          recordChanges = true)
      } finally prev match {
        case Some(p) => spark.conf.set(cap, p)
        case None => spark.conf.unset(cap)
      }
      idV(Snapshots.read(spark, dir))
    }
    val local = mergeInto(None)
    val shuffled = mergeInto(Some("1024"))
    assert(shuffled == local)
    assert(local == (0 until 400).map(i => (i.toLong, if (i < 300) -i.toLong else i.toLong)))
  }

  test("java8 datetime API: Date/Timestamp commits, recorded merges and MoR deletes read as under the default conf") {
    val day0 = java.time.LocalDate.of(2024, 1, 2)
    val t0 = java.time.Instant.parse("2024-01-02T03:04:05.123456Z")
    def rows(ids: Range, shift: Long) = ids.map(i =>
      (i.toLong, day0.plusDays(i.toLong), t0.plusSeconds(i * 60L + shift)))
    /** Every read's rows, rendered conf-independently. */
    def run(): Seq[Seq[String]] = {
      val dir = Files.createTempDirectory("graft-snap-java8").toString
      Snapshots.commit(spark, rows(0 until 6, 0L).toDF("id", "d", "ts"), dir,
        statsColumns = Seq("id"), bloomColumns = Seq("id"))
      Snapshots.merge(spark, dir, rows(4 until 8, 7L).toDF("id", "d", "ts"),
        Seq("id"), statsColumns = Seq("id"), bloomColumns = Seq("id"),
        recordChanges = true)
      Snapshots.deleteMergeOnRead(spark, dir, col("d") === lit(day0.plusDays(1)),
        Seq("d"), statsColumns = Seq("id"), recordChanges = true)
      def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(col("id"), col("d").cast("string"), col("ts").cast("string"))
          .collect().map(_.mkString("|")).toSeq.sorted
      Seq(render(Snapshots.read(spark, dir))) ++
        (1L to 3L).map(v => render(Snapshots.readVersion(spark, dir, v))) ++
        Seq(5L, 1L, 7L).map(k => render(Snapshots.readPoint(spark, dir, "id", k)))
    }
    val want = run()
    val key = "spark.sql.datetime.java8API.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try assert(run() == want)
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
    def row(i: Int): String = s"$i|${day0.plusDays(i.toLong)}|" +
      fmt.format(t0.plusSeconds(i * 60L + (if (i >= 4) 7L else 0L)))
    assert(want.head == Seq(0, 2, 3, 4, 5, 6, 7).map(row))
    assert(want.drop(4) == Seq(Seq(row(5)), Nil, Seq(row(7))))
  }

  test("job counts: local commit with stats, scoped recorded merge, point read") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-snap-jobs").toString
    val commit = org.apache.spark.TestJobs.count(sc)(Snapshots.commit(spark,
      (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir,
      statsColumns = Seq("id"), bloomColumns = Seq("id")))
    val merge = org.apache.spark.TestJobs.count(sc)(Snapshots.merge(spark, dir,
      Seq((5L, "x"), (500L, "y")).toDF("id", "v"), Seq("id"),
      statsColumns = Seq("id"), bloomColumns = Seq("id"),
      recordChanges = true, scoped = true))
    var hit = Seq.empty[String]
    val point = org.apache.spark.TestJobs.count(sc) {
      hit = Snapshots.readPoint(spark, dir, "id", 5L).collect().map(_.getString(1)).toSeq
    }
    assert(hit == Seq("x"))
    // the counts of the hand-written sidecar codec this one replaced:
    // no sidecar of this sequence may move onto the Spark path
    assert((commit, merge, point) == (2, 10, 1))
  }

  test("job counts: plain commit, CAS commit with stats and a change feed") {
    val sc = spark.sparkContext
    def df = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v")
    val dir = Files.createTempDirectory("graft-snap-cjobs").toString
    val plain = org.apache.spark.TestJobs.count(sc)(
      Snapshots.commit(spark, df, dir))
    var v = Option.empty[Long]
    val cas = org.apache.spark.TestJobs.count(sc) {
      v = Snapshots.commitIfVersion(spark, df, dir, 1L,
        statsColumns = Seq("id"),
        changes = Some(df.withColumn("change_type", lit("insert"))))
    }
    assert(v === Some(2L))
    // both stay driver-side: a small local frame writes no Spark job
    assert((plain, cas) === ((0, 0)))
  }
}
