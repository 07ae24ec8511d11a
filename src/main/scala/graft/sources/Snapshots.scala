package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-snapshot table layout: the minimal commit protocol under
  * every lakehouse format, demonstrated at the raw-filesystem layer the
  * formats sit on (no Delta/Iceberg jars in this container — SURVEY
  * §8.5).
  *
  * Layout: `tableDir/snap-<v>/` holds snapshot v's parquet plus its
  * `_manifest` statistics (immutable once published); `tableDir/_latest`
  * caches the current version number.
  *
  * Commit protocol (stage → claim → refresh):
  *  1. The writer materializes data AND manifest into a private staging
  *     directory `_stage-<uuid>` — invisible to every reader.
  *  2. It CLAIMS a version with an atomic no-overwrite rename of the
  *     staging directory to `snap-<v>`; the rename throws
  *     `FileAlreadyExistsException` if another writer claimed `v`
  *     first, and the loser simply retries at the next free version.
  *     The successful rename IS the commit point: `snap-<v>` either
  *     doesn't exist or is a complete snapshot, and version numbers are
  *     unique under CONCURRENT writers with no lock service — the same
  *     optimistic-concurrency shape as Delta's `_delta_log/<v>.json`
  *     put-if-absent or an Iceberg catalog CAS, expressed with the one
  *     atomic primitive a filesystem gives you (see [[tryClaim]] for
  *     how: the HDFS namenode makes check+rename one op; local paths
  *     use raw `rename(2)` via NIO ATOMIC_MOVE because the Hadoop
  *     local adapter's copy fallback would break claim exclusivity.
  *     On S3 a real deployment swaps a catalog entry instead, which is
  *     exactly where the formats put their commit too).
  *  3. It refreshes the `_latest` pointer cache, monotonically.
  *
  * Readers resolve a version once and then read an immutable directory,
  * so a reader mid-scan of v1 is undisturbed by the v2 commit (snapshot
  * isolation). A crash anywhere before the claim leaves only an
  * invisible `_stage-*` orphan for [[vacuum]] — never a half-visible
  * snapshot; a crash after the claim but before the pointer refresh is
  * already durable, because [[version]] reconciles the pointer against
  * the claimed directories.
  *
  * Metadata cache: what a read derives from a version's metadata — the
  * column map, the committed schema, the manifest rows with their bloom
  * sketches, and which ref and delete sidecars exist — is decoded once
  * per SparkSession and held as plain values ([[versionMeta]]). Reuse
  * is safe because the claim rename publishes an immutable directory:
  * every sidecar is staged before the claim and none is written after
  * it. The key holds the `snap-<v>` directory's modification time, so a
  * table deleted and recommitted at the same path never matches an old
  * entry, and the stat that reads it makes a missing version fail
  * loudly. [[expire]] drops the entries of the versions it deletes and
  * [[vacuum]] those whose directories are gone. The cache holds only
  * what `graft.sidecar.localBytesMax` lets the driver decode, holds
  * manifest rows only for single-leaf manifests (a two-level manifest
  * keeps its root-list pruning), and is bounded in bytes with LRU
  * eviction. Its rows are the `UnsafeRow`s Spark's own parquet codec
  * decodes: small flat sidecars are read and written on the driver
  * with the same codec Spark's jobs use for the big ones, so a sidecar
  * is one file format and one row form whichever path touched it.
  */
object Snapshots {

  /** Iceberg-style partition transforms — the "hidden partitioning"
    * half of a table format. A transform maps a SOURCE column to a
    * partition value; the SAME function is applied to data at write
    * time (clustering + per-file partition-value stats in the
    * manifest) and to probe literals at read time (predicate
    * rewriting), so users query raw columns (`user_id = 7`,
    * `ts` on a given day) and pruning happens on the transform —
    * they never see, name, or maintain a partition column. That is
    * the contract Hive-style `dt=` path partitioning breaks (users
    * must know the layout and filter the derived column themselves)
    * and Iceberg's partition specs restore.
    *
    * The spec is persisted as a `_partition_spec` sidecar inside the
    * snapshot (published by the same atomic claim), so readers
    * resolve it from the table — a probe names only raw columns.
    * Transforms must be engine-stable: `bucket` uses xxhash64 (the
    * same hash the bloom manifest probes with), `day`/`truncate` are
    * plain SQL functions.
    */
  sealed trait Transform {
    def column: String
    /** manifest stat key: per-file min/max land as `min_pt_<…>` */
    def name: String
    def apply(c: Column): Column
    /** (kind, param) for the `_partition_spec` sidecar */
    def spec: (String, Int)
  }
  object Transform {
    /** stable hash-bucket: `pmod(xxhash64(col), n)` */
    final case class Bucket(column: String, n: Int) extends Transform {
      require(n > 0, s"bucket count must be positive: $n")
      val name = s"pt_bucket${n}_$column"
      def apply(c: Column): Column = pmod(xxhash64(c), lit(n.toLong))
      def spec: (String, Int) = ("bucket", n)
    }
    /** calendar-day of a timestamp column */
    final case class Day(column: String) extends Transform {
      val name = s"pt_day_$column"
      def apply(c: Column): Column = to_date(c)
      def spec: (String, Int) = ("day", 0)
    }
    /** leading `width` characters of a string column */
    final case class Truncate(column: String, width: Int) extends Transform {
      require(width > 0, s"truncate width must be positive: $width")
      val name = s"pt_trunc${width}_$column"
      def apply(c: Column): Column = substring(c, 1, width)
      def spec: (String, Int) = ("truncate", width)
    }
    /** the raw column itself (Iceberg's identity transform) */
    final case class Identity(column: String) extends Transform {
      val name = s"pt_id_$column"
      def apply(c: Column): Column = c
      def spec: (String, Int) = ("identity", 0)
    }

    private[Snapshots] def fromSpec(kind: String, column: String, param: Int): Transform =
      kind match {
        case "bucket"   => Bucket(column, param)
        case "day"      => Day(column)
        case "truncate" => Truncate(column, param)
        case "identity" => Identity(column)
        case other => throw new IllegalArgumentException(
          s"unknown partition transform kind '$other' in _partition_spec")
      }
  }

  /** The partition spec in force for version `v` of the table (empty
    * when the snapshot was not committed through a spec) — the DEFAULT
    * spec, the one new data files are clustered under. `v = 0` resolves
    * the latest version. Older files may live under earlier specs after
    * an [[evolvePartitionSpec]]; [[partitionSpecs]] lists them all.
    */
  def partitionSpec(
      spark: SparkSession, tableDir: String, v: Long = 0L): Seq[Transform] = {
    val (specs, defaultId) = partitionSpecs(spark, tableDir, v)
    specs.find(_._1 == defaultId).map(_._2).getOrElse(Nil)
  }

  /** ALL partition specs known to version `v`, as (specId, transforms)
    * plus the DEFAULT spec id — the Iceberg spec-evolution model: a
    * spec change ([[evolvePartitionSpec]]) registers a new spec for NEW
    * files while existing files keep the layout (and manifest envelope)
    * of the spec they were written under, each manifest row tagged with
    * its `spec_id`. Readers prune each file against ITS OWN spec and
    * union the per-spec selections. Legacy single-spec sidecars (no
    * `spec_id` column) read as spec 0.
    */
  def partitionSpecs(
      spark: SparkSession,
      tableDir: String,
      v: Long = 0L): (Seq[(Int, Seq[Transform])], Int) = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    val p = new Path(s"$tableDir/snap-$ver/_partition_spec")
    if (ver < 1 || !fc(spark).util().exists(p)) (Nil, 0)
    else {
      val df = readSidecar(spark, p.toString)
      if (!df.columns.contains("spec_id")) {
        val ts = df.collect().toSeq.sortBy(_.getAs[Int]("pos")).map(r =>
          Transform.fromSpec(r.getAs[String]("kind"),
            r.getAs[String]("column"), r.getAs[Int]("param")))
        (Seq(0 -> ts), 0)
      } else {
        val rows = df.collect().toSeq
          .sortBy(r => (r.getAs[Int]("spec_id"), r.getAs[Int]("pos")))
        val specs = rows.groupBy(_.getAs[Int]("spec_id")).toSeq.sortBy(_._1)
          .map { case (id, rs) =>
            id -> rs.sortBy(_.getAs[Int]("pos")).map(r =>
              Transform.fromSpec(r.getAs[String]("kind"),
                r.getAs[String]("column"), r.getAs[Int]("param")))
          }
        val defaultId = rows.find(_.getAs[Boolean]("is_default"))
          .map(_.getAs[Int]("spec_id"))
          .getOrElse(specs.map(_._1).max)
        (specs, defaultId)
      }
    }
  }

  private def fc(spark: SparkSession): FileContext =
    FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)

  private val SnapName = "snap-(\\d+)".r

  private def pointerValue(ctx: FileContext, tableDir: String): Long = {
    val pointer = new Path(tableDir, "_latest")
    if (!ctx.util().exists(pointer)) 0L
    else
      // the exists/open pair can race a concurrent refresh: the local
      // FS implements the rename-OVERWRITE swap as delete-then-rename,
      // so a reader can catch the instant the pointer is absent. The
      // pointer is only a seek cache and the claim listing (always >=
      // the pointer, since the pointer refreshes after the claim) is
      // authoritative in [[version]] — losing the race safely reads 0.
      try {
        val in = ctx.open(pointer)
        try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Highest claimed `snap-<v>` in the table directory (0 if none). One
    * directory listing — the claim rename publishes complete snapshots
    * only, so every listed version is readable.
    */
  private def claimedVersion(ctx: FileContext, tableDir: String): Long = {
    val dir = new Path(tableDir)
    if (!ctx.util().exists(dir)) 0L
    else
      ctx.util().listStatus(dir).iterator.map(_.getPath.getName).collect {
        case SnapName(v) => v.toLong
      }.foldLeft(0L)(math.max)
  }

  /** Current committed version, or 0 if the table has no snapshot yet.
    *
    * The pointer file is only a CACHE: the claim rename is the commit
    * point, so the listing is authoritative and the max of the two
    * covers a writer that crashed (or lost a refresh race) between
    * claim and pointer refresh.
    */
  def version(spark: SparkSession, tableDir: String): Long = {
    val ctx = fc(spark)
    math.max(pointerValue(ctx, tableDir), claimedVersion(ctx, tableDir))
  }

  /** Manifest location inside a snapshot directory. The leading
    * underscore keeps it out of data scans (Spark's hidden-file
    * filter), and living INSIDE the staged directory means it is
    * published by the same atomic claim as the data and shares the
    * snapshot's immutability — the statistics can never disagree with
    * the files they describe.
    */
  private def manifestDir(snapDir: String): String = s"$snapDir/_manifest"

  /** Session conf naming how many manifest rows land in one leaf
    * manifest file (default 4096). At production file counts this makes
    * the manifest a PARTITIONED structure — Iceberg's two-level layout —
    * and the root list below prunes whole leaves before any leaf row is
    * read; tests lower it to exercise multi-leaf layouts at toy scale.
    */
  private[sources] val ManifestRowsPerLeafConf =
    "graft.snapshots.manifestRowsPerLeaf"
  private val ManifestRowsPerLeafDefault = 4096

  /** A schema as the parquet read-back presents it (all-nullable) —
    * passing it to `spark.read.schema(...)` skips the footer-sampling
    * inference job an unschema'd read of freshly written files pays.
    */
  private def nullableSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  /** Total row count of a parquet directory from file FOOTERS, read on
    * the driver — zero Spark jobs. Only used where the directory is
    * O(few files) by construction (a coalesce(1) manifest build).
    */
  private def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    fc(spark).util().listStatus(new Path(dir)).iterator
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Publish a snapshot's manifest as range-clustered LEAF files plus a
    * `_root` manifest list (manifest-of-manifests): one row per leaf
    * carrying `n_files` and, for every `min_x`/`max_x` stats pair, the
    * leaf's envelope `lo_x`/`hi_x`. Range reads prune at MANIFEST
    * granularity against the root (O(leaves) driver rows) before any
    * leaf is opened — at 10⁶ files with 4096-row leaves that is ~250
    * root rows gating which of the ~250 leaf parquet files are read at
    * all. Leaves are clustered by the first stats column's `min_` (the
    * table's declared pruning key), so leaf envelopes stay tight
    * exactly when the data is clustered — the same precondition file-
    * level pruning itself has. Costs two extra manifest-sized jobs per
    * commit (read-back + root aggregation), never a data-sized one.
    */
  private def writeManifest(
      spark: SparkSession, m: DataFrame, stageDir: String): Unit = {
    val ctx = fc(spark)
    val dir = manifestDir(stageDir)
    val build = s"$stageDir/_manifest_build"
    val perLeaf = spark.conf.getOption(ManifestRowsPerLeafConf)
      .map(_.toInt).getOrElse(ManifestRowsPerLeafDefault)
    // a manifest whose rows are already driver-resident (footer stats
    // rows, possibly unioned with a locally read carried manifest — the
    // scoped-merge/append shape) writes its single leaf driver-side:
    // zero Spark jobs instead of the coalesce(1)-write round-trip.
    // Multi-leaf layouts keep the distributed writer (they need the
    // range clustering + `_root`).
    localWritableRows(m).filter(_.size <= perLeaf) match {
      case Some(rows) =>
        writeLocal(spark, nullableSchema(m.schema), rows, dir)
        return
      case None =>
    }
    m.coalesce(1).write.mode("overwrite").parquet(build)
    // row count from the single build file's FOOTER, driver-side — the
    // leaf-count decision needs only n, and a Spark count() job (plus
    // the footer-inference job of an unschema'd read-back) was two of
    // the ~8 fixed jobs every small stats commit paid
    val n = parquetRowCount(spark, build)
    val leaves = math.max(1L, (n + perLeaf - 1) / perLeaf).toInt
    val orderCol = m.schema.fieldNames.find(_.startsWith("min_"))
    if (leaves == 1 || orderCol.isEmpty) {
      // single leaf (or nothing to cluster by — bloom-only manifests,
      // which this same branch has always kept as ONE coalesced leaf
      // file, so no per-leaf bloom-union root is lost here: a bloom
      // union over one leaf never pruned anything): adopt the build
      // dir and write NO `_root`. A one-leaf root prunes nothing (the leaf
      // is read either way) and totals from the leaf cost the same one
      // tiny read, while skipping it saves the read-back + union-agg +
      // write job chain on every small-table commit — measured at
      // ~1.7× on the r9 pruned/bloom read entries, whose per-commit
      // fixed cost this was. Every root consumer already falls back to
      // reading the (single) leaf when `_root` is absent.
      ctx.rename(new Path(build), new Path(dir), Options.Rename.NONE)
      return
    }
    val back = spark.read.schema(nullableSchema(m.schema)).parquet(build)
    back.repartitionByRange(leaves, col(orderCol.get))
      .write.mode("overwrite").parquet(dir)
    ctx.delete(new Path(build), true)
    val leafRows = spark.read.parquet(dir)
      .withColumn("mfile", element_at(split(input_file_name(), "/"), -1))
    val envelopes = leafRows.columns.filter(_.startsWith("min_"))
      .map(_.stripPrefix("min_"))
      .filter(c => leafRows.columns.contains(s"max_$c"))
    // per-leaf row-count sum rides the root so metadata-only stats
    // ([[tableStats]]) can answer COUNT(*) from O(leaves) rows
    val rowSum =
      if (leafRows.columns.contains("n_rows"))
        Seq(sum(col("n_rows")).as("n_rows"))
      else Nil
    // per-leaf bloom UNION rides the root too: membership has no
    // envelope, so without this a point probe reads EVERY leaf; the
    // OR-union of a leaf's file sketches answers "can this leaf hold
    // the value" at the same O(leaves) root scan that prunes ranges.
    // All sketches share the layer's fixed (items, bits) parameters —
    // mergeInPlace throws loudly if that invariant is ever broken.
    val bloomCols = leafRows.columns.filter(_.startsWith("bloom_")).toSeq
    val bloomUnion = udf((bs: Seq[Array[Byte]]) => {
      val nonNull = bs.filter(_ != null)
      if (nonNull.isEmpty) null
      else {
        val acc = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(nonNull.head))
        nonNull.tail.foreach(b => acc.mergeInPlace(
          org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(b))))
        val out = new java.io.ByteArrayOutputStream()
        acc.writeTo(out)
        out.toByteArray
      }
    })
    val aggs = (count(lit(1)).as("n_files") +: rowSum) ++
      envelopes.toSeq.flatMap(c =>
        Seq(min(col(s"min_$c")).as(s"lo_$c"), max(col(s"max_$c")).as(s"hi_$c"))) ++
      bloomCols.map(c => bloomUnion(collect_list(col(c))).as(c))
    leafRows.groupBy(col("mfile")).agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_root")
  }

  /** The snapshot's leaf-manifest rows, pruned at manifest granularity
    * first: `rootKeep` inspects the root list's schema and returns the
    * envelope condition a leaf must satisfy to possibly hold a
    * surviving row (None → no root-level pruning, every leaf is read —
    * always a correct superset). Surviving-leaf names are the only
    * driver-side list here, and it is O(manifest files), not O(data
    * files).
    */
  private[sources] def manifestLeaves(
      spark: SparkSession,
      snapDir: String,
      rootKeep: DataFrame => Option[Column]): DataFrame = {
    val dir = manifestDir(snapDir)
    val rootP = new Path(s"$dir/_root")
    val pruned =
      if (!fc(spark).util().exists(rootP)) None
      else {
        val root = readSidecar(spark, rootP.toString)
        rootKeep(root).map { keep =>
          val surviving = root.filter(keep).select("mfile").collect()
            .map(r => s"$dir/${r.getString(0)}")
          if (surviving.isEmpty) readSidecar(spark, dir).limit(0)
          else spark.read.parquet(surviving.toIndexedSeq: _*)
        }
      }
    pruned.getOrElse(readSidecar(spark, dir))
  }

  /** Total files in a snapshot, from the root list when present (one
    * tiny read) instead of counting every leaf row.
    */
  private def manifestTotal(spark: SparkSession, snapDir: String): Long = {
    val rootP = new Path(s"${manifestDir(snapDir)}/_root")
    if (fc(spark).util().exists(rootP))
      longSum(readSidecar(spark, rootP.toString), "n_files").getOrElse(0L)
    else {
      val leaf = readSidecar(spark, manifestDir(snapDir))
      localPlanRows(leaf).map(_.size.toLong).getOrElse(leaf.count())
    }
  }

  /** Root-list envelope condition for a range probe, when the root
    * carries the column's envelope (older or bloom-only manifests may
    * not — then every leaf is read, still a correct superset).
    */
  private def rangeRootKeep(colName: String, lower: Any, upper: Any)(
      root: DataFrame): Option[Column] =
    if (root.columns.contains(s"lo_$colName") &&
        root.columns.contains(s"hi_$colName"))
      Some(col(s"hi_$colName") >= lit(lower) && col(s"lo_$colName") <= lit(upper))
    else None

  /** Root-list envelope condition for hidden-partitioning probes,
    * SINGLE-spec tables only: a leaf can hold a matching file only if
    * some probe value's transformed literal lands inside the leaf's
    * `lo_`/`hi_` envelope for every covering transform (AND over
    * transforms of OR over values — implied by the row-level OR-of-ANDs,
    * so always a correct superset). Multi-spec manifests skip root
    * pruning entirely: a root row aggregates leaves that may mix specs,
    * and per-spec conditions cannot be judged against a blended
    * envelope. Null envelopes (a leaf whose files carry only null
    * values for the column) fail the condition exactly like the
    * row-level filter drops those files — an equality probe never
    * matches null.
    */
  private[sources] def partitionedRootKeep(
      spark: SparkSession,
      specs: Seq[(Int, Seq[Transform])],
      schema: org.apache.spark.sql.types.StructType,
      probes: Seq[(String, Seq[Any])])(root: DataFrame): Option[Column] =
    if (specs.size != 1) None
    else {
      val ts = specs.head._2
      val conds = for {
        (c, values) <- probes
        t <- ts if t.column == c &&
          root.columns.contains(s"lo_${t.name}") &&
          root.columns.contains(s"hi_${t.name}")
      } yield
        // same batching as the leaf-level keep — [[transformedTuples]]
        // (one local job for the whole value list, distinct collapses a
        // Bucket(n) IN-list to ≤ n terms), orTree keeps the disjunction
        // balanced below the column converter's recursion limit
        orTree(transformedTuples(spark, values, schema(c).dataType, Seq(t))
          .map(row => col(s"lo_${t.name}") <= lit(row.get(0)) &&
            col(s"hi_${t.name}") >= lit(row.get(0))))
      conds.reduceOption(_ && _)
    }

  /** Resolve a manifest `file` entry to a full path: bare names are the
    * snapshot's own files, slashed paths are table-root-relative
    * references into earlier snapshots, and absolute paths (URI or
    * rooted — written by [[cloneTable]]) pass through verbatim.
    */
  private def resolveDataPath(
      tableDir: String, snapDir: String, f: String): String =
    if (f.contains("/")) absoluteDataPath(tableDir, f) else s"$snapDir/$f"

  /** A slashed reference resolved against the table root — unless it is
    * already absolute (a [[cloneTable]] reference into another table's
    * files), in which case it is used verbatim.
    */
  private def absoluteDataPath(tableDir: String, f: String): String =
    if (f.startsWith("/") || f.contains(":/")) f else s"$tableDir/$f"

  // ------------------------- column mapping -------------------------
  //
  // RENAME WITHOUT REWRITE (Iceberg's field-id indirection, spelled
  // with names instead of ids): data files and manifest statistics
  // always carry a column's ORIGINAL (physical) name — immutable once
  // first committed — while readers see the current LOGICAL names
  // through a `_column_map` sidecar (pos, logical, physical) that every
  // commit republishes, like expectations. A rename is therefore a
  // metadata-only commit that carries every data file by reference and
  // rewrites nothing — O(manifest) on a 100 TB table, where a
  // rewrite-based rename would never be run. Write paths accept logical
  // names and NORMALIZE them back to physical before staging (the
  // physical schema of a table's files never forks), and probe APIs
  // (readRange/readPoint/readPartitionedIn/tableStats/...) accept
  // logical names and translate them before consulting the manifest's
  // physical stats columns. Reference behavior studied:
  // /root/reference has no schema evolution at all (tables are
  // immutable CSV loads, src/table.rs); this is the §2-extension layer.

  private val ColumnMapName = "_column_map"

  /** A snapshot's column mapping: active (logical, physical) pairs in
    * declared order, plus the physical names of DROPPED columns —
    * explicit tombstones, because an unmapped column must still pass
    * through the logical view (schema-evolution additions) while a
    * dropped one must be hidden even when old files still carry it.
    */
  private[sources] final case class ColMap(
      pairs: Seq[(String, String)],
      dropped: Seq[String],
      // physical name → widened read type (DDL string): the column's
      // declared type is now WIDER than what older files physically
      // store; every raw scan pins the wide schema so narrow files
      // upcast at read ([[widenColumn]])
      widened: Seq[(String, String)] = Nil) {
    def renames: Seq[(String, String)] = pairs.filter(p => p._1 != p._2)
    def isIdentity: Boolean =
      renames.isEmpty && dropped.isEmpty && widened.isEmpty
  }

  /** The raw `_column_map` sidecar of a snapshot, if present. */
  private def columnMapDfAt(
      spark: SparkSession, snapDir: String): Option[DataFrame] = {
    val p = new Path(s"$snapDir/$ColumnMapName")
    if (!fc(spark).util().exists(p)) None
    else Some(readSidecar(spark, p.toString))
  }

  /** The column mapping a snapshot publishes; None when the table has
    * never been renamed or dropped a column (logical == physical
    * everywhere). Pre-drop sidecars have no `dropped` column and read
    * back as all-active.
    */
  private def columnMapPairs(
      spark: SparkSession, snapDir: String): Option[ColMap] =
    columnMapDfAt(spark, snapDir).map(fromMapDf)

  /** [[ColMap]] of a `_column_map` sidecar frame's rows (any order). */
  private def fromMapDf(df: DataFrame): ColMap = {
    val columns = df.columns.toSeq
    val pos = columns.indexOf("pos")
    val lgI = columns.indexOf("logical")
    val phI = columns.indexOf("physical")
    val drI = columns.indexOf("dropped")
    val wtI = columns.indexOf("read_type")
    val posType = df.schema(pos).dataType
    val unordered = localPlanRows(df)
      .getOrElse(df.queryExecution.executedPlan.executeCollect().toSeq)
    val rows = unordered.sortBy(_.get(pos, posType).asInstanceOf[Number].longValue).map { r =>
      val dr = drI >= 0 && !r.isNullAt(drI) && r.getBoolean(drI)
      val wt =
        if (wtI < 0 || r.isNullAt(wtI)) None else Some(r.getUTF8String(wtI).toString)
      (r.getUTF8String(lgI).toString, r.getUTF8String(phI).toString, dr, wt)
    }
    ColMap(
      rows.collect { case (lg, ph, false, _) => (lg, ph) },
      rows.collect { case (_, ph, true, _) => ph },
      rows.collect { case (_, ph, false, Some(t)) => (ph, t) })
  }

  /** Version `v`'s column map (from the metadata cache); None when the
    * version never published one or its directory is gone. */
  private def mapAt(
      spark: SparkSession,
      tableDir: String,
      v: Long): Option[ColMap] =
    if (v < 1) None
    else try versionMeta(spark, tableDir, v).map
    catch { case _: java.io.FileNotFoundException => None }

  private def columnMapDf(spark: SparkSession, m: ColMap): DataFrame = {
    import spark.implicits._
    val wide = m.widened.toMap
    (m.pairs.map { case (lg, ph) => (lg, ph, false, wide.get(ph)) } ++
      m.dropped.map(ph => (ph, ph, true, Option.empty[String])))
      .zipWithIndex.map { case ((lg, ph, dr, wt), i) => (i, lg, ph, dr, wt) }
      .toDF("pos", "logical", "physical", "dropped", "read_type").coalesce(1)
  }

  /** A physical schema with widened read types pinned — the ONE place
    * the (physical name → DDL) override is interpreted, shared by the
    * plain-path scans here and [[ManifestFileIndex.scan]]'s pruned
    * scans so the two can never diverge.
    */
  private[sources] def applyWiden(
      schema: org.apache.spark.sql.types.StructType,
      widen: Seq[(String, String)]): org.apache.spark.sql.types.StructType =
    if (widen.isEmpty) schema
    else {
      val byPh = widen.toMap
      org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        byPh.get(f.name)
          .map(t => f.copy(
            dataType = org.apache.spark.sql.types.DataType.fromDDL(t)))
          .getOrElse(f)))
    }

  /** Raw parquet scan of snapshot data files with the map's widened
    * schema PINNED: after [[widenColumn]] a version legitimately mixes
    * narrow old files and wide new files under one physical name, and
    * an inferred schema (sampled from one footer) would make the scan
    * fail — or worse, downcast — depending on which file it sampled.
    * Pinning costs one extra footer read only when something is
    * actually widened.
    */
  private def readParquetRaw(
      spark: SparkSession,
      m: Option[ColMap],
      paths: Seq[String],
      pinned: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    pinned match {
      case Some(s) =>
        // committed-schema path: zero footer-sampling jobs, and the
        // scan cannot depend on WHICH file would have been sampled
        spark.read
          .schema(applyWiden(s, m.map(_.widened).getOrElse(Nil)))
          .parquet(paths: _*)
      case None =>
        val plain = spark.read.parquet(paths: _*)
        if (m.exists(_.widened.nonEmpty))
          spark.read
            .schema(applyWiden(plain.schema, m.map(_.widened).getOrElse(Nil)))
            .parquet(paths: _*)
        else plain
    }

  /** The physical schema the commit published (`_schema` sidecar,
    * written by [[stage]]): scans plan from THIS instead of sampling a
    * data-file footer — no extra planning job, no dependence on which
    * file the sampler happened to open. None for pre-sidecar
    * snapshots, which keep the footer-sampled path.
    */
  private def committedSchema(
      ctx: FileContext,
      snapDir: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = new Path(s"$snapDir/_schema")
    if (!ctx.util().exists(p)) None
    else {
      val in = ctx.open(p)
      try Some(org.apache.spark.sql.types.DataType
        .fromJson(new String(in.readAllBytes(), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      finally in.close()
    }
  }

  /** The merge key version `v`'s post-only CDC merge recorded
    * (`_update_key` sidecar, written by every `recordChanges` merge
    * without pre-images since r16) -- ground truth for the Views
    * upsert contract. None for commits that predate the sidecar or
    * whose feeds cannot carry post-only `update` rows (pre-imaged
    * merges, plain commits, deletes). */
  private[sources] def recordedUpdateKey(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      presentAt: Long): Option[Seq[String]] = {
    val ctx = fc(spark)
    val p = new Path(s"$tableDir/snap-$v/_update_key")
    if (!ctx.util().exists(p)) None
    else {
      val in = ctx.open(p)
      try Some {
        val names = new String(in.readAllBytes(), StandardCharsets.UTF_8)
          .split(",").toSeq
        // recorded under version v's LOGICAL names; a rename inside
        // the consumer's stale window would desynchronize the raw
        // strings from its current columns, so present them the way
        // [[changesFeed]] presents feed columns: logical@v ->
        // physical -> logical@presentAt. A column dropped by
        // presentAt keeps its physical name (it can then never match
        // a needed column -- conservative refusal, never unsound).
        val atV = mapAt(spark, tableDir, v)
        val atP = mapAt(spark, tableDir, presentAt)
        names.map { n =>
          val ph = atV.flatMap(_.pairs.find(_._1 == n).map(_._2))
            .getOrElse(n)
          atP.flatMap(_.pairs.find(_._2 == ph).map(_._1)).getOrElse(ph)
        }
      }
      finally in.close()
    }
  }

  /** Present a physical-named frame under its logical names.
    * Order-preserving (columns keep the frame's order; unmapped columns
    * — feed markers, provenance columns, schema-evolution additions —
    * pass through untouched), dropped physicals excluded, and ATOMIC
    * (one select), so even a swap-chain map (y→x published after an
    * earlier x→y) resolves correctly where sequential per-column
    * renames would collide.
    */
  private def mapLogical(df: DataFrame, m: Option[ColMap]): DataFrame =
    m.filterNot(_.isIdentity).fold(df) { cm =>
      val byPhys = cm.pairs.map { case (lg, ph) => ph -> lg }.toMap
      val gone = cm.dropped.toSet
      df.select(df.columns.filterNot(gone).map(c =>
        byPhys.get(c).filter(_ != c).map(lg => col(c).as(lg))
          .getOrElse(col(c))).toIndexedSeq: _*)
    }

  /** Normalize a logical-named frame back to physical names before it
    * is staged — the write half of the mapping contract. The staging
    * convention keeps this total: every frame reaching stage() is
    * LOGICAL-named (occLoop hands out mapped reads; internal raw file
    * scans are [[mapLogical]]'d first), except pure-reference staging,
    * which passes raw physical frames and skips this entirely. A frame
    * with no renamed logical name present (unmapped columns only) is a
    * no-op; one that also carries a physical-only name — possible only
    * if a caller breaks the convention by mixing spaces — is refused
    * loudly rather than mis-renamed.
    */
  private def unmapToPhysical(df: DataFrame, m: Option[ColMap]): DataFrame =
    m.filter(_.renames.nonEmpty).fold(df) { cm =>
      val renames = cm.renames
      val logicalSet = renames.map(_._1).toSet
      // physical names that are not ALSO logical names (a swap chain
      // reuses freed names, so the sets can overlap)
      val physOnly = renames.map(_._2).toSet -- logicalSet
      if (!df.columns.exists(logicalSet)) df
      else {
        val mixed = df.columns.filter(physOnly)
        require(mixed.isEmpty,
          "frame mixes logical and physical names of renamed columns " +
            s"(physical: ${mixed.mkString(", ")}) — ambiguous write")
        val byLogical = renames.toMap
        val out = df.columns.map(c => byLogical.getOrElse(c, c))
        require(out.distinct.length == out.length,
          s"normalizing logical names to physical would collide: ${out.mkString(", ")}")
        df.select(df.columns.zip(out).map { case (c, o) =>
          if (c == o) col(c) else col(c).as(o) }.toIndexedSeq: _*)
      }
    }

  /** The physical name behind a (possibly renamed) logical column;
    * unmapped names are their own physical name. Dropped columns have
    * no logical name, so a probe can never reach them through here.
    */
  private def physicalOf(m: Option[ColMap], name: String): String =
    m.flatMap(_.pairs.find(_._1 == name)).map(_._2).getOrElse(name)

  /** Caller-facing partition transforms translated to physical column
    * names — specs are table metadata keyed physically (like stats
    * columns), but a user naturally names the LOGICAL column after a
    * rename. Historical specs read back from sidecars are already
    * physical and must not pass through this (a freed-name-reuse map
    * would mis-translate them).
    */
  private def toPhysicalSpec(
      m: Option[ColMap], ts: Seq[Transform]): Seq[Transform] =
    if (m.isEmpty) ts
    else ts.map {
      case Transform.Bucket(c, n) => Transform.Bucket(physicalOf(m, c), n)
      case Transform.Day(c) => Transform.Day(physicalOf(m, c))
      case Transform.Truncate(c, w) => Transform.Truncate(physicalOf(m, c), w)
      case Transform.Identity(c) => Transform.Identity(physicalOf(m, c))
    }

  /** Plan a scan over exactly the files a manifest selection kept: the
    * survivors — path plus committed `size_bytes` — are collected into
    * the `FileStatus` list Spark's planner needs and handed to a
    * [[ManifestFileIndex]], so the driver never holds the UNPRUNED file
    * list and never re-lists the filesystem per file (the cost
    * `spark.read.parquet(paths: _*)` would pay twice at 10⁶ files).
    * Returns None when nothing survives — the caller supplies its
    * empty-but-schema'd frame.
    */
  private def prunedScan(
      spark: SparkSession,
      tableDir: String,
      snapDir: String,
      selected: DataFrame,
      m: Option[ColMap] = None): Option[DataFrame] =
    scanFiles(spark, tableDir, snapDir, fileSizes(selected), m,
      committedSchema(fc(spark), snapDir))

  /** `(file, committed size_bytes)` of each selected manifest row: one
    * collect of O(selected) rows (zero jobs over a LocalRelation). */
  private def fileSizes(selected: DataFrame): Seq[(String, Option[Long])] = {
    val projected =
      if (selected.columns.contains("size_bytes"))
        selected.select(col("file"), col("size_bytes"))
      else selected.select(col("file"), lit(null).cast("long").as("size_bytes"))
    projected.collect().map(r =>
      (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
  }

  /** [[prunedScan]] over an already-collected `(file, size)` selection,
    * planned from the given committed schema. */
  private def scanFiles(
      spark: SparkSession,
      tableDir: String,
      snapDir: String,
      files: Seq[(String, Option[Long])],
      m: Option[ColMap],
      committed: Option[org.apache.spark.sql.types.StructType])
      : Option[DataFrame] = {
    val ctx = fc(spark)
    val statuses = files.map { case (f, size) =>
      val p = ctx.makeQualified(new Path(resolveDataPath(tableDir, snapDir, f)))
      // carried rows from a pre-size manifest chain fall back to one
      // getFileStatus — O(selected), never O(total)
      val len = size.getOrElse(ctx.getFileStatus(p).getLen)
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 134217728L, 0L, p)
    }
    if (statuses.isEmpty) None
    else Some(ManifestFileIndex.scan(spark, statuses.toIndexedSeq,
      m.map(_.widened).getOrElse(Nil), committed))
  }

  /** Sidecars a transaction can publish along with its data, all
    * landing by the same atomic claim:
    *  - `changes`: write-time CDF rows → `_changes`
    *  - `refs`: table-root-relative paths of data files this snapshot
    *    REUSES from earlier snapshots (never copied — the file-level
    *    sharing under every real format's manifests) → `_refs`
    *  - `carriedManifest`: the stats rows of those reused files, taken
    *    from the predecessor's manifest with their paths rebased to
    *    table-root-relative form, so skipping keeps covering them
    */
  private case class Sidecars(
      changes: Option[DataFrame] = None,
      // reference paths as a single-column ("path") FRAME — a 100 TB
      // table's reference list is file-count-sized and must not ride
      // the driver on every metadata commit
      refs: Option[DataFrame] = None,
      carriedManifest: Option[DataFrame] = None,
      morDeletes: Option[DataFrame] = None,
      posDeletes: Option[DataFrame] = None,
      // a commit that publishes NO data rows of its own (MoR delete,
      // restore): the staged frame is empty by construction, so stage()
      // writes the carried manifest VERBATIM (every stats/bloom/envelope
      // column survives — aligning it to an own-manifest built over zero
      // rows would project carried columns away) and skips the
      // spec-clustering repartition (which would fan an empty frame into
      // shuffle-partition-count empty files, one per task)
      pureReference: Boolean = false,
      // the `_column_map` this snapshot publishes (rename-without-
      // rewrite). None on OCC paths means "inherit the base version's
      // map" ([[commitIfVersionWith]]); [[renameColumn]]/[[restore]]/
      // [[cloneTable]] set it explicitly.
      columnMap: Option[DataFrame] = None,
      // override of the expectation list this snapshot publishes and
      // enforces; None = inherit the base's ([[dropExpectation]] sets it)
      expectations: Option[Seq[(String, String)]] = None,
      // the merge key a post-only CDC merge used (`_update_key`
      // sidecar): ground truth for the Views upsert contract --
      // downstream incremental consumers verify the key actually
      // used instead of trusting a caller's declaration
      updateKey: Option[Seq[String]] = None,
      // small named text sidecars (name → content), written driver-side
      // and atomic with the claim like `_commit_ts`: a consumer layer
      // (e.g. Views' sentinel meta) can duplicate tiny per-version
      // metadata here so its readers resolve it with one fs read
      // instead of a Spark head() job per refresh. Names must start
      // with "_" so data scans never see them.
      notes: Seq[(String, String)] = Nil)

  /** A write whose staged rows violate a table expectation. The staging
    * directory is already cleaned up when this reaches the caller — a
    * rejected commit leaves no trace and the table tip is unchanged.
    */
  final class CommitRejectedException(
      val violations: Seq[(String, Long)], table: String)
    extends RuntimeException(
      s"commit to $table rejected by expectations: " +
        violations.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))

  /** The expectations in force for the CURRENT version of the table
    * (name → boolean SQL expression). Empty when none were declared.
    */
  def expectations(spark: SparkSession, tableDir: String): Seq[(String, String)] = {
    val ctx = fc(spark)
    loadExpectations(spark, ctx, tableDir, version(spark, tableDir))
  }

  private def loadExpectations(
      spark: SparkSession,
      ctx: FileContext,
      tableDir: String,
      v: Long): Seq[(String, String)] = {
    val p = new Path(s"$tableDir/snap-$v/_expectations")
    if (v < 1 || !ctx.util().exists(p)) Nil
    else readSidecar(spark, p.toString)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq
  }

  /** Per-file bloom sizing: 64 Kibit (8 KiB) per sketch, expecting up
    * to ~100k hashed values per file — at a healthy 128 MB file size
    * that keeps the false-positive rate low single-digit percent, and
    * a manifest row stays KB-sized. Spurious files only cost a read
    * (the residual filter discards their rows); misses are impossible
    * by the bloom contract.
    */
  private val BloomBits = 64L * 1024
  private val BloomExpectedItems = 100L * 1000

  /** Stage data (+ optional stats manifest and sidecars) into a
    * private `_stage-<uuid>` directory, invisible to readers and other
    * writers until the claim rename publishes it.
    *
    * `statsColumns` opts into the statistics half of a lakehouse
    * manifest: one manifest row per data file with its row count and
    * per-column min/max (native types, stored as parquet so no stats
    * parser exists anywhere). [[readRange]] then prunes files whose
    * range cannot intersect a predicate BEFORE the scan — the
    * mechanism behind Iceberg/Delta data skipping. `bloomColumns` adds
    * a per-file membership sketch per column (`bloom_<c>`), the
    * point-lookup complement for high-cardinality UNCLUSTERED columns
    * where min/max spans prune nothing ([[readPoint]]). A snapshot's
    * OWN files are recorded by bare name (relative to the snapshot
    * directory — names must survive the claim rename, and relative
    * names make a snapshot relocatable); REUSED files appear as
    * `snap-<v>/name` paths relative to the table root. Stats are
    * collected with one distributed pass over the freshly staged files
    * (`input_file_name()` groupBy); a production writer lifts the same
    * numbers from write-task results or parquet footers instead of
    * re-reading, but the manifest contract — immutable per-file
    * min/max published atomically with the snapshot — is identical.
    */
  /** Driver-side per-file stats from the freshly staged parquet
    * FOOTERS — the zero-job manifest build for the common small-commit
    * shape (stats columns only): per-column min/max/null-count and
    * per-file row counts are already in every footer the writer just
    * produced, so the Spark re-aggregation (read-back + shuffle, two
    * AQE jobs) only re-derives them. Correctness gates, each falling
    * back to the aggregation (None) rather than guessing:
    *
    *  - only String/Long/Integer stats columns (exactly what the
    *    lakehouse layer clusters by). Parquet row-group stats store
    *    binary values WHOLE (only the column-index form truncates;
    *    oversized values make the writer drop the stats entirely,
    *    which the usability gate catches), and parquet's unsigned
    *    byte comparator for UTF8 is UTF8String's ordering, so string
    *    envelopes are bit-identical to the aggregation's;
    *  - every chunk must carry usable statistics: null count set, and
    *    values present unless the chunk is provably all-NULL —
    *    stats-suppressed writers or exotic encodings land in the
    *    fallback, never in a wrong envelope;
    *  - zero-row files emit no manifest row, mirroring the groupBy.
    *
    * Returns a LocalRelation with the exact column order and types
    * the aggregation produces, so the carried-manifest union and
    * every pruned reader are none the wiser. */
  private def footerOwnStats(
      spark: SparkSession,
      stageDir: String,
      stagedSchema: org.apache.spark.sql.types.StructType,
      statsColumns: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType => IntT, LongType => LongT, StringType => StrT}
    import org.apache.spark.unsafe.types.UTF8String
    val typeOf = stagedSchema.map(f => f.name -> f.dataType).toMap
    val supported = statsColumns.forall(c => typeOf.get(c).exists {
      case StrT | LongT | IntT => true
      case _ => false
    })
    if (!supported) return None
    val conf = spark.sessionState.newHadoopConf()
    val files = fc(spark).util().listStatus(new Path(stageDir)).iterator
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq.sortBy(_.getPath.getName)
    val rows = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.catalyst.InternalRow]
    for (st <- files) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val blocks =
        try scala.jdk.CollectionConverters
          .ListHasAsScala(reader.getFooter.getBlocks).asScala.toSeq
        finally reader.close()
      val nRows = blocks.map(_.getRowCount).sum
      if (nRows > 0) {
        val vals = new scala.collection.mutable.ArrayBuffer[Any]
        vals += UTF8String.fromString(st.getPath.getName)
        vals += nRows
        for (c <- statsColumns) {
          var mn: AnyRef = null
          var mx: AnyRef = null
          var nulls = 0L
          for (b <- blocks) {
            val chunk = scala.jdk.CollectionConverters
              .ListHasAsScala(b.getColumns).asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(return None)
            val s = chunk.getStatistics
            if (s == null || !s.isNumNullsSet) return None
            if (!s.hasNonNullValue && s.getNumNulls != chunk.getValueCount)
              return None
            nulls += s.getNumNulls
            if (s.hasNonNullValue) {
              val cmp = s.comparator()
                .asInstanceOf[java.util.Comparator[AnyRef]]
              val bmn = s.genericGetMin.asInstanceOf[AnyRef]
              val bmx = s.genericGetMax.asInstanceOf[AnyRef]
              if (mn == null || cmp.compare(bmn, mn) < 0) mn = bmn
              if (mx == null || cmp.compare(bmx, mx) > 0) mx = bmx
            }
          }
          def conv(v: AnyRef): Any =
            if (v == null) null
            else typeOf(c) match {
              case StrT => UTF8String.fromBytes(
                v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
              case _ => v
            }
          vals += conv(mn)
          vals += conv(mx)
          vals += nulls
        }
        vals += st.getLen
        rows += new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vals.toArray)
      }
    }
    import org.apache.spark.sql.types.{StructField, StructType}
    val fields = (StructField("file", StrT) ::
      StructField("n_rows", LongT) :: Nil) ++
      statsColumns.flatMap(c => Seq(
        StructField(s"min_$c", typeOf(c)),
        StructField(s"max_$c", typeOf(c)),
        StructField(s"nulls_$c", LongT))) :+
      StructField("size_bytes", LongT)
    Some(localFrame(spark, StructType(fields), rows.toSeq))
  }

  // ---- driver-local sidecar parquet I/O -------------------------------
  //
  // The METADATA PLANE must not ride the cluster: every `spark.read
  // .parquet` of a KB-sized sidecar pays a footer-sampling inference
  // job at plan time, every `.collect()` of it another job, and every
  // `coalesce(1).write.parquet` of a driver-resident frame a third —
  // each ~30-80 ms of pure scheduling at local[*], and at production
  // scale a cluster round-trip on the commit/refresh critical path.
  // Real formats read and write their manifests driver-side (Iceberg's
  // manifest I/O is plain parquet-mr) for exactly this reason. These
  // helpers do the same for the engine's small flat sidecars, with ONE
  // codec for both paths: Spark's own parquet row codec. The driver
  // writes through the record writer `ParquetUtils.prepareWrite` sets
  // up for Spark's write tasks, and reads through `ParquetReadSupport`
  // under the session's schema-converter flags and rebase modes, as
  // Spark's scan does. A sidecar file is therefore the same file
  // whichever path wrote it, and rows stay `InternalRow`s end to end.
  // The Spark job path is kept as the fallback for anything big or
  // non-flat — never a different answer, only a cheaper derivation.

  /** Size guard for driver-side sidecar reads: beyond this many bytes
    * the Spark reader keeps the job (a delete set or a carried manifest
    * CAN be executor-sized at 100 TB — the fast path must not pull
    * that onto the driver). A memory bound, not a core-count constant.
    */
  private[sources] val LocalSidecarBytesConf = "graft.sidecar.localBytesMax"
  private val LocalSidecarBytesDefault: Long = 8L << 20

  /** Whether every column is of a flat type the driver-side path takes;
    * anything else (nested, decimal, interval, NTZ, …) keeps Spark's
    * reader and writer jobs. */
  private def localCodecAdmits(
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    schema.fields.forall(_.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | StringType | BinaryType | DateType |
          TimestampType => true
      case _ => false
    })
  }

  /** Driver-resident rows as a LocalRelation: zero Spark jobs to plan
    * or collect, and a join side that broadcasts without an exchange. */
  private def localFrame(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    org.apache.spark.sql.GraftShims.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows))

  /** Decoded rows of a small flat sidecar directory: what
    * [[readSidecarRows]] returns and the metadata cache holds. */
  private[sources] final case class SidecarRows(
      schema: org.apache.spark.sql.types.StructType,
      rows: IndexedSeq[org.apache.spark.sql.catalyst.expressions.UnsafeRow]) {

    def toDF(spark: SparkSession): DataFrame = localFrame(spark, schema, rows)

    /** The rows' exact byte size, for the cache's byte bound. */
    lazy val bytes: Long = rows.iterator.map(_.getSizeInBytes.toLong).sum
  }

  /** Driver-side read of a small flat parquet directory, each footer
    * opened once. None when the directory exceeds the size guard, holds
    * no data file, has a column [[localCodecAdmits]] refuses, or mixes
    * per-file schemas — the caller then keeps the Spark reader.
    */
  private[sources] def readSidecarRows(
      spark: SparkSession, dir: String): Option[SidecarRows] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.api.InitContext
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
      ParquetReadSupport, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.internal.SQLConf
    val ctx = fc(spark)
    val dirP = new Path(dir)
    if (!ctx.util().exists(dirP)) return None
    val files = ctx.util().listStatus(dirP).iterator.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq.sortBy(_.getPath.getName)
    if (files.isEmpty) return None
    if (files.map(_.getLen).sum > localSidecarBytes(spark)) return None
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    // the flags Spark's scan hands its schema converter
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
      .foreach(e => conf.setBoolean(e.key, sqlConf.getConf(e)))
    val options = new ParquetOptions(Map.empty[String, String], sqlConf)
    var fileSchema: org.apache.parquet.schema.MessageType = null
    var schema: org.apache.spark.sql.types.StructType = null
    var toUnsafe: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = null
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.catalyst.expressions.UnsafeRow]
    for (st <- files) {
      val reader = ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val meta = reader.getFooter.getFileMetaData
        if (fileSchema == null) {
          fileSchema = meta.getSchema
          schema = new ParquetToSparkSchemaConverter(conf).convert(fileSchema)
          if (!localCodecAdmits(schema)) return None
          conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
          toUnsafe = org.apache.spark.sql.catalyst.expressions
            .UnsafeProjection.create(schema)
        } else if (meta.getSchema != fileSchema) return None
        val kv = meta.getKeyValueMetaData
        val support = new ParquetReadSupport(None, false,
          DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead),
          DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead))
        val read = support.init(new InitContext(conf,
          java.util.Collections.emptyMap[String, java.util.Set[String]](), fileSchema))
        val materializer = support.prepareForRead(conf, kv, fileSchema, read)
        val columns = new ColumnIOFactory(meta.getCreatedBy)
          .getColumnIO(read.getRequestedSchema, fileSchema, true)
        reader.setRequestedSchema(read.getRequestedSchema)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = columns.getRecordReader(pages, materializer, FilterCompat.NOOP)
          for (_ <- 0L until pages.getRowCount) out += toUnsafe(records.read()).copy()
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    Some(SidecarRows(schema, out.toIndexedSeq))
  }

  private def localSidecarBytes(spark: SparkSession): Long =
    spark.conf.getOption(LocalSidecarBytesConf)
      .map(_.toLong).getOrElse(LocalSidecarBytesDefault)

  /** A sidecar directory as a DataFrame: driver-local when small and
    * flat, the Spark reader (under `schema` when given) otherwise.
    * Drop-in for `spark.read.parquet(dir)` on sidecar paths.
    */
  private[sources] def readSidecar(
      spark: SparkSession,
      dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readSidecarRows(spark, dir).map(_.toDF(spark)).getOrElse(
      schema.fold(spark.read)(spark.read.schema(_)).parquet(dir))

  /** Rows of an already-driver-resident logical plan — a LocalRelation
    * or a union of them (scoped-merge refs and carried manifests fold
    * to exactly these shapes once sidecar READS are local) — with zero
    * Spark jobs. None on any plan that might touch the cluster.
    */
  private[sources] def localPlanRows(df: DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = p match {
      case lr: LocalRelation => Some(lr.data)
      case u: Union =>
        val parts = u.children.map(walk)
        if (parts.forall(_.nonEmpty)) Some(parts.flatMap(_.get)) else None
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Sum of a Long column, None when every value is null (or there is
    * no row): on the driver for a local plan, one Spark job otherwise. */
  private def longSum(df: DataFrame, c: String): Option[Long] =
    localPlanRows(df) match {
      case Some(rows) =>
        val i = df.schema.fieldIndex(c)
        val vs = rows.filterNot(_.isNullAt(i)).map(_.getLong(i))
        if (vs.isEmpty) None else Some(vs.sum)
      case None =>
        Option(df.agg(sum(c)).head().get(0)).map(_.asInstanceOf[Long])
    }

  /** A frame's rows the driver-side writer can take: a local plan of
    * columns [[localCodecAdmits]] accepts. */
  private[sources] def localWritableRows(df: DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    if (localCodecAdmits(df.schema)) localPlanRows(df) else None

  /** Driver-side write of `rows` as one parquet file in `dir`, through
    * the record writer Spark's own write tasks open: the Hadoop conf is
    * prepared by `ParquetUtils.prepareWrite` from the session conf
    * (timestamp type, rebase modes, compression, write support), so the
    * file is the one Spark's writer would produce for the same rows.
    */
  private[sources] def writeLocal(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      dir: String): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val sqlConf = spark.sessionState.conf
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val task = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val name =
      s"part-00000-${java.util.UUID.randomUUID()}${factory.getFileExtension(task)}"
    val writer = factory.newInstance(new Path(dir, name).toString, schema, task)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Publish `df` as a sidecar directory: driver-side when its rows are
    * already local and flat ([[localWritableRows]]), else with Spark's
    * writer — coalesced to one file, or as-is when `coalesce` is false
    * (delete sets and change feeds can be executor-sized).
    */
  private[sources] def writeSidecar(
      spark: SparkSession, df: DataFrame, dir: String,
      coalesce: Boolean = true): Unit =
    localWritableRows(df) match {
      case Some(rows) => writeLocal(spark, nullableSchema(df.schema), rows, dir)
      case None =>
        (if (coalesce) df.coalesce(1) else df).write.mode("overwrite").parquet(dir)
    }

  // ---- end driver-local sidecar I/O ----------------------------------

  // ---- per-session cache of decoded version metadata ------------------
  //
  // A claimed `snap-<v>` never changes, so what a read derives from its
  // metadata — column map, committed schema, manifest rows with their
  // bloom sketches, which delete/ref sidecars exist — is decoded once
  // per session and reused by every later read of that version (the
  // per-table snapshot and manifest caches of Delta and Iceberg). See
  // the safety argument in [[versionMeta]].

  /** One committed version's metadata as plain values. `manifest` holds
    * the manifest rows only for a single-leaf manifest (no `_root`
    * list) that [[readSidecarRows]] decodes on the driver (under
    * `graft.sidecar.localBytesMax`, flat columns) into at most
    * [[MetaManifestBytes]]. Any other manifest keeps the Spark-side
    * readers, whose root list prunes whole leaves before one is read.
    */
  private final case class VersionMeta(
      map: Option[ColMap],
      schema: Option[org.apache.spark.sql.types.StructType],
      hasManifest: Boolean,
      manifest: Option[SidecarRows],
      hasRefs: Boolean,
      hasMorDeletes: Boolean,
      hasPosDeletes: Boolean) {
    def bytes: Long = 4096L + manifest.map(_.bytes).getOrElse(0L)

    /** The committed physical schema with widened read types pinned —
      * the schema every raw scan of this version presents. */
    def readSchema: Option[org.apache.spark.sql.types.StructType] =
      schema.map(applyWiden(_, map.map(_.widened).getOrElse(Nil)))
  }

  /** Bound on the decoded bytes one session's cache holds (LRU beyond). */
  private val MetaCacheBytes: Long = 32L << 20

  /** Bound on one version's decoded manifest rows: bloom sketches are
    * 8 KB each decoded but compress well on disk, so a manifest under
    * the on-disk sidecar cap can decode far larger. */
  private val MetaManifestBytes: Long = MetaCacheBytes / 4

  /** Key: qualified `snap-<v>` path, its modification time, and the
    * sidecar byte cap the entry was decoded under (an entry never
    * serves rows the session's current cap would refuse). */
  private type MetaKey = (String, Long, Long)

  private final class MetaCache {
    private val entries =
      new java.util.LinkedHashMap[MetaKey, VersionMeta](16, 0.75f, true)
    private var bytes = 0L

    def get(k: MetaKey): Option[VersionMeta] = synchronized(Option(entries.get(k)))

    def put(k: MetaKey, m: VersionMeta): Unit = synchronized {
      if (m.bytes <= MetaCacheBytes) {
        Option(entries.put(k, m)).foreach(old => bytes -= old.bytes)
        bytes += m.bytes
        val it = entries.values.iterator
        while (bytes > MetaCacheBytes && it.hasNext) {
          bytes -= it.next().bytes
          it.remove()
        }
      }
    }

    def holds(path: String): Boolean = synchronized {
      scala.jdk.CollectionConverters.SetHasAsScala(entries.keySet).asScala
        .exists(_._1 == path)
    }

    def drop(path: String => Boolean): Unit = synchronized {
      val it = entries.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (path(e.getKey._1)) { bytes -= e.getValue.bytes; it.remove() }
      }
    }
  }

  private val metaCaches = new java.util.WeakHashMap[SparkSession, MetaCache]()

  private def metaCache(spark: SparkSession): MetaCache =
    metaCaches.synchronized(metaCaches.computeIfAbsent(spark, _ => new MetaCache))

  /** Version `v`'s decoded metadata, from the session cache or decoded
    * now. Safe to reuse because:
    *  - the claim rename publishes a COMPLETE, immutable `snap-<v>`
    *    (every sidecar is staged before the claim, none is written
    *    after it);
    *  - the directory's modification time is part of the key, so a
    *    table deleted and recommitted at the same path — a new
    *    directory — never matches an old entry (this needs a file
    *    system that keeps directory mtimes, as local and HDFS paths,
    *    where the claim rename runs, do);
    *  - [[expire]] drops the entries of the versions it deletes, and
    *    [[vacuum]] drops entries whose directories are gone.
    * The one stat that reads the mtime also makes a missing (expired,
    * vacuumed, never committed) version fail loudly with
    * `FileNotFoundException`.
    */
  private def versionMeta(
      spark: SparkSession, tableDir: String, v: Long): VersionMeta = {
    val ctx = fc(spark)
    val dir = ctx.makeQualified(new Path(s"$tableDir/snap-$v"))
    val key = (dir.toString, ctx.getFileStatus(dir).getModificationTime,
      localSidecarBytes(spark))
    val cache = metaCache(spark)
    cache.get(key).getOrElse {
      val m = decodeVersionMeta(spark, ctx, dir)
      cache.put(key, m)
      m
    }
  }

  private def decodeVersionMeta(
      spark: SparkSession, ctx: FileContext, dir: Path): VersionMeta = {
    val names = ctx.util().listStatus(dir).iterator.map(_.getPath.getName).toSet
    val snapDir = dir.toString
    val map =
      if (!names(ColumnMapName)) None
      else Some(fromMapDf(readSidecar(spark, s"$snapDir/$ColumnMapName")))
    val hasManifest = names("_manifest")
    VersionMeta(
      map = map,
      schema = if (names("_schema")) committedSchema(ctx, snapDir) else None,
      hasManifest = hasManifest,
      manifest =
        if (!hasManifest ||
            ctx.util().exists(new Path(s"${manifestDir(snapDir)}/_root"))) None
        else readSidecarRows(spark, manifestDir(snapDir))
          .filter(_.bytes <= MetaManifestBytes),
      hasRefs = names("_refs"),
      hasMorDeletes = names("_mor_deletes"),
      hasPosDeletes = names("_pos_deletes"))
  }

  /** Whether this session's metadata cache holds version `v`. */
  private[sources] def metaCached(
      spark: SparkSession, tableDir: String, v: Long): Boolean =
    metaCache(spark).holds(
      fc(spark).makeQualified(new Path(s"$tableDir/snap-$v")).toString)

  /** Drop the cached entries of `tableDir`'s versions that `gone` names
    * (by version number), e.g. the ones [[expire]] deleted. */
  private def dropCachedVersions(
      spark: SparkSession, tableDir: String, gone: Seq[Long]): Unit =
    if (gone.nonEmpty) {
      val ctx = fc(spark)
      val dirs = gone.map(v =>
        ctx.makeQualified(new Path(s"$tableDir/snap-$v")).toString).toSet
      metaCache(spark).drop(dirs)
    }

  private def stage(
      spark: SparkSession,
      df0: DataFrame,
      tableDir: String,
      statsColumns0: Seq[String],
      bloomColumns0: Seq[String],
      sidecars: Sidecars,
      expectations: Seq[(String, String)] = Nil,
      commitMillis: Option[Long] = None,
      partitionSpec: Seq[Transform] = Nil,
      allSpecs: Seq[(Int, Seq[Transform])] = Nil,
      currentSpecId: Int = 0): Path = {
    // rename-without-rewrite normalization: the staged rows, the keyed
    // delete sidecar, and the change feed all land under PHYSICAL
    // column names (the immutable on-disk schema), whatever logical
    // names the caller's frames carry; stats/bloom configs are
    // likewise accepted as logical names and translated — pre-rename
    // tables have an empty map and every translation is the identity
    val mapPairs = sidecars.columnMap.map(fromMapDf)
    // pure-reference frames are raw PHYSICAL by convention (their empty
    // marker file must carry the on-disk schema verbatim); everything
    // else arrives logical and is normalized here
    val df =
      if (sidecars.pureReference) df0 else unmapToPhysical(df0, mapPairs)
    // a dropped column's PHYSICAL name must not be re-introduced by a
    // write: old files still store bytes under it, so the new column
    // would silently read as a mix of live and tombstoned data
    mapPairs.filter(_ => !sidecars.pureReference).foreach { cm =>
      val clash = df.columns.filter(cm.dropped.toSet)
      require(clash.isEmpty,
        s"column(s) ${clash.mkString(", ")} were dropped from this " +
          "table; re-using the physical name would resurrect hidden " +
          "bytes from old files — pick a different name")
    }
    val statsColumns = statsColumns0.map(physicalOf(mapPairs, _))
    val bloomColumns = bloomColumns0.map(physicalOf(mapPairs, _))
    // the spec set this version publishes: every spec any carried file
    // was written under plus the current one ([[evolvePartitionSpec]]);
    // the common single-spec case derives it from `partitionSpec`
    val specSet =
      if (allSpecs.nonEmpty) allSpecs
      else if (partitionSpec.nonEmpty) Seq(currentSpecId -> partitionSpec)
      else Nil
    val stageDir = s"$tableDir/_stage-${java.util.UUID.randomUUID()}"
    // hidden partitioning: cluster the write by the transform tuple so
    // each file holds (at most a few) partition values — the manifest's
    // per-file transform min/max then prunes sharply. Hash clustering,
    // not partitionBy subdirs: file layout stays flat and relocatable,
    // and a file mixing two tuples only WEAKENS pruning, never breaks
    // it (min/max stays a correct envelope). The partition count is
    // pinned to the session's shuffle parallelism: letting AQE coalesce
    // a small commit into one file would silently defeat pruning — file
    // granularity IS the product here, not an execution detail.
    val clustered =
      if (sidecars.pureReference) df.coalesce(1)
      else if (partitionSpec.isEmpty) df
      else df.repartition(
        spark.sessionState.conf.numShufflePartitions,
        partitionSpec.map(t => t(col(t.column))): _*)
    // tiny driver-resident commits (params tables, version manifests,
    // limit(0) truncations — all optimizer-folded to a LocalRelation)
    // write their one data file driver-side, no Spark job; everything
    // cluster-sized keeps the Spark writer.
    if (!sidecars.pureReference && partitionSpec.isEmpty)
      writeSidecar(spark, clustered, stageDir, coalesce = false)
    else clustered.write.mode("overwrite").parquet(stageDir)
    // the staged files' schema, known WITHOUT a footer-sampling job:
    // every read-back below (stats, expectation check) passes it
    // explicitly — at ~50 ms per inference job this is a measurable
    // slice of the per-commit fixed cost
    val stagedSchema = nullableSchema(clustered.schema)
    // committed physical schema (`_schema` sidecar): every later scan
    // of this version plans from the schema the commit DECLARED,
    // instead of paying a footer-sampling job and depending on which
    // file the sampler opens. Nullable-normalized to match what the
    // parquet read-back presents. Tiny driver-side write, atomic with
    // the claim like every sidecar.
    locally {
      val ctx = fc(spark)
      val out = ctx.create(new Path(stageDir, "_schema"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(stagedSchema.json.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    if (specSet.nonEmpty) {
      import spark.implicits._
      val specDf = specSet.flatMap { case (id, ts) =>
        ts.zipWithIndex.map { case (t, i) =>
          val (kind, param) = t.spec
          (id, i, kind, t.column, param, id == currentSpecId)
        }
      }.toDF("spec_id", "pos", "kind", "column", "param", "is_default")
      writeSidecar(spark, specDf, s"$stageDir/_partition_spec")
    }
    // commit timestamp, published by the same atomic claim as the data
    // (timestamp time travel resolves against THIS, not file mtimes —
    // mtimes don't survive a directory copy/restore, the sidecar does).
    // Injectable for deterministic tests; wall clock in production.
    locally {
      val ctx = fc(spark)
      val out = ctx.create(new Path(stageDir, "_commit_ts"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(commitMillis.getOrElse(System.currentTimeMillis())
        .toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // the merge key this commit's post-only `update` feed rows used
    // (`_update_key` sidecar): tiny driver-side text write, atomic
    // with the claim like every sidecar. Recorded under the LOGICAL
    // names the merge was issued with (same space the consumer's
    // group/join columns live in).
    // small named text sidecars (see [[Sidecars.notes]]): tiny
    // driver-side writes, atomic with the claim like every sidecar
    sidecars.notes.foreach { case (name, content) =>
      require(name.startsWith("_"),
        s"note sidecar name must start with '_' (got $name) — data " +
          "scans must never see it")
      val ctx = fc(spark)
      val out = ctx.create(new Path(stageDir, name),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    sidecars.updateKey.foreach { k =>
      val ctx = fc(spark)
      val out = ctx.create(new Path(stageDir, "_update_key"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(k.mkString(",").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    if (expectations.nonEmpty) {
      // Table expectations (the Delta CHECK-constraint analog): every
      // write path enforces the table's declared invariants on the rows
      // it is about to publish, and the declarations ride inside the
      // snapshot (`_expectations` sidecar) so they are versioned,
      // atomic with the data, and carried forward by every commit.
      // CHECK semantics: a row violates only when the predicate is
      // FALSE — NULL passes, exactly like SQL CHECK. The staged files
      // are re-read for the check (one cheap scan of freshly written
      // local data); a production writer folds the same predicates into
      // the write tasks themselves (Delta's per-row invariant check)
      // and keeps this commit-point gate as the backstop.
      import spark.implicits._
      val expDf = expectations.toDF("name", "expr")
      writeSidecar(spark, expDf, s"$stageDir/_expectations")
      val checks = expectations.map { case (n, e) =>
        sum(when(coalesce(expr(e), lit(true)) === false, 1L).otherwise(0L)).as(n)
      }
      // the check view carries BOTH name spaces of a renamed column —
      // expectations declared before the rename resolve the physical
      // name, ones declared after resolve the logical alias. A logical
      // name shadowed by another column's physical name (swap chains)
      // keeps the physical meaning — deterministic, and the rare case
      // where re-declaring the expectation is the honest fix.
      val stagedData = spark.read.schema(stagedSchema).parquet(stageDir)
      val aliasable = mapPairs.map(_.renames).getOrElse(Nil)
        .filter { case (lg, ph) =>
          !stagedData.columns.contains(lg) &&
            stagedData.columns.contains(ph)
        }
      val checkView = stagedData.select(
        (stagedData.columns.map(col).toSeq ++
          aliasable.map { case (lg, ph) => col(ph).as(lg) }): _*)
      val row = checkView.agg(checks.head, checks.tail: _*).head()
      val failed = expectations.indices.map { i =>
        expectations(i)._1 -> (if (row.isNullAt(i)) 0L else row.getLong(i))
      }.filter(_._2 > 0)
      if (failed.nonEmpty) {
        fc(spark).delete(new Path(stageDir), true)
        throw new CommitRejectedException(failed, tableDir)
      }
    }
    if (sidecars.pureReference)
      // no own data rows: the predecessor's manifest IS this version's —
      // re-publish it verbatim so stats, blooms, and transform envelopes
      // all survive regardless of this commit's (empty) manifest config
      sidecars.carriedManifest.foreach(writeManifest(spark, _, stageDir))
    else if (statsColumns.nonEmpty || bloomColumns.nonEmpty || partitionSpec.nonEmpty) {
      // FOOTER FAST PATH for the common small-commit shape (stats
      // columns only — no blooms, no partition transforms): the
      // staged files' footers already hold exactly the per-file
      // min/max/null-count/row-count the manifest needs, so the
      // shuffle re-aggregation below (two AQE jobs on EVERY commit —
      // the largest slice of the per-commit fixed cost after the data
      // write itself) only re-derives what the writer just
      // serialized. Falls back to the aggregation on any type or
      // stats-quality doubt ([[footerOwnStats]]) — never a different
      // answer, only a cheaper derivation of the same one.
      val fastStats =
        if (bloomColumns.nonEmpty || specSet.nonEmpty) None
        else footerOwnStats(spark, stageDir, stagedSchema, statsColumns)
      val own0 = fastStats.getOrElse {
      val data = spark.read.schema(stagedSchema).parquet(stageDir)
      val aggs: Seq[Column] = (count(lit(1)).as("n_rows") +:
        (statsColumns.flatMap(c =>
          // nulls_<c> rides with the envelope: min/max ignore NULLs, so
          // containment alone cannot prove "every row matches" — the
          // metadata-only drop in [[deleteRange]] needs to know the
          // file holds no NULL the SQL predicate would have kept
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))) ++
          // per-file partition-value envelope: the transform evaluated
          // over the file's rows — no partition column is stored in data
          partitionSpec.flatMap(t => Seq(
            min(t(col(t.column))).as(s"min_${t.name}"),
            max(t(col(t.column))).as(s"max_${t.name}"))))) ++
        // per-file membership sketches: any column type, hashed to LONG
        // with the same xxhash64 the point probe applies to its literal
        bloomColumns.map(c =>
          graft.functions.BloomFunctions
            .bloomAgg(xxhash64(col(c)), BloomExpectedItems, BloomBits)
            .as(s"bloom_$c"))
      val ownStats = data
        .groupBy(
          element_at(split(input_file_name(), "/"), -1).as("file"))
        .agg(aggs.head, aggs.tail: _*)
      // per-file byte size, lifted from the freshly written staging
      // listing (one directory RPC) — the manifest carries it so the
      // pruned-scan planner never issues a per-file getFileStatus; at
      // 10⁶ selected files that is the difference between zero and 10⁶
      // namenode calls at planning time (Iceberg stores file sizes in
      // its manifests for the same reason)
      val sizes = fc(spark).util().listStatus(new Path(stageDir)).iterator
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(st => (st.getPath.getName, st.getLen)).toMap
      // the sizes ride a broadcast VARIABLE into a column lookup, not
      // a broadcast JOIN: the driver already holds the listing, and a
      // broadcast-exchange build is one more ~50 ms job on every
      // commit's fixed bill (manifest rows are file-count-sized, so
      // the non-codegen lookup is never the term that matters)
      val bySize = spark.sparkContext.broadcast(sizes)
      val lookup = udf((f: String) => bySize.value.get(f))
      ownStats.withColumn("size_bytes", lookup(col("file")))
      }
      // per-file spec id (the Iceberg spec-evolution contract): own
      // files were clustered under the CURRENT spec; carried files keep
      // whatever spec id their manifest row already records
      val own =
        if (specSet.isEmpty) own0
        else own0.withColumn("spec_id", lit(currentSpecId))
      // carried rows (scoped merge / spec evolution) align to the OWN
      // manifest's columns for everything SPEC-INDEPENDENT: stats/bloom
      // configs must agree across the chain (loud error otherwise),
      // surplus base columns (e.g. blooms the new write didn't build)
      // are dropped. Transform-envelope columns (`min_pt_*`/`max_pt_*`)
      // and `spec_id` legitimately DIFFER across specs, so they union
      // by name with null fill — each row is only ever pruned against
      // its own spec's columns, never a null of another spec's.
      def isSpecCol(n: String) = n == "spec_id" ||
        n.startsWith("min_pt_") || n.startsWith("max_pt_")
      val full = sidecars.carriedManifest
        .fold(own) { c =>
          val ownData = own.columns.filterNot(isSpecCol)
          val cData = c.columns.filterNot(isSpecCol).toSet
          require(ownData.forall(cData),
            s"carried manifest on $tableDir lacks stats columns the new " +
              s"write declares (${ownData.filterNot(cData).mkString(", ")}) " +
              "— stats configs must agree across the commit chain")
          val aligned = c.select(
            (ownData ++ c.columns.filter(isSpecCol)).map(col).toIndexedSeq: _*)
          val u = own.unionByName(aligned, allowMissingColumns = true)
          // legacy carried rows predate per-row spec ids: they can only
          // come from a single-spec chain, which partitionSpecs reads
          // back as spec 0
          if (u.columns.contains("spec_id"))
            u.withColumn("spec_id", coalesce(col("spec_id"), lit(0)))
          else u
        }
      // footer-fast-path rows (with any locally read carried rows)
      // stay a local plan, so a one-leaf manifest is written
      // driver-side by [[writeManifest]] — zero Spark jobs
      writeManifest(spark, full, stageDir)
    } else sidecars.carriedManifest.foreach { c =>
      // a pure-reference commit (merge-on-read delete) with no manifest
      // config of its own still re-publishes the carried stats verbatim.
      // A commit that writes its OWN data files must not take this path:
      // the carried manifest would list only the base's files, and every
      // manifest-pruned reader (readRange/readPoint/readPartitionedIn/
      // scanPartitioned) selects files FROM the manifest — the new rows
      // would silently vanish from pruned reads. Refuse loudly instead;
      // the caller passes the base's stats config (the merge/compact
      // convention) so own-file rows land in the carried columns.
      require(sidecars.pureReference,
        s"commit on $tableDir carries a stats manifest but declares no " +
          "stats/bloom/partition config for its own data files — pruned " +
          "reads would silently skip the new rows; pass the base's " +
          s"statsColumns (carried manifest columns: ${c.columns.mkString(", ")})")
      writeManifest(spark, c, stageDir)
    }
    // the column map this snapshot publishes (rename-without-rewrite):
    // tiny, rides the same atomic claim as everything else
    sidecars.columnMap.foreach(writeSidecar(spark, _, s"$stageDir/$ColumnMapName"))
    // write-time CDF: the change rows this commit applies, published by
    // the same atomic claim as the data (underscore dir → hidden from
    // data scans), so feed and snapshot can never disagree. Stored
    // under PHYSICAL names like the data — [[changesFeed]] presents
    // them under the current logical names. The same pure-reference
    // convention as df0 applies: carried sidecars are already physical
    // and must NOT be unmapped (under a freed-name-reuse map a second
    // unmap would mis-rename a physical column).
    sidecars.changes
      .map(c => if (sidecars.pureReference) c else unmapToPhysical(c, mapPairs))
      .foreach(writeSidecar(spark, _, s"$stageDir/_changes", coalesce = false))
    // merge-on-read delete set: key rows readers must anti-join away
    // (physical names — the anti-join runs against raw file scans; the
    // producer [[deleteMergeOnRead]] normalizes its own fresh keys, so
    // every morDeletes frame reaching here is physical already).
    // Deliberately NOT coalesced — a 100 TB table's delete batch can be
    // executor-sized even when the commit writes no data files.
    sidecars.morDeletes.foreach(
      writeSidecar(spark, _, s"$stageDir/_mor_deletes", coalesce = false))
    // positional delete set: (file, idx) coordinates of superseded base
    // rows — the deletion-vector form that stays correct under
    // accumulation because positions are scoped to a single immutable file
    sidecars.posDeletes.foreach(
      writeSidecar(spark, _, s"$stageDir/_pos_deletes", coalesce = false))
    sidecars.refs.foreach(r =>
      writeSidecar(spark, r.select(col("path")), s"$stageDir/_refs"))
    new Path(stageDir)
  }

  /** The claim primitive: atomically rename `src` onto a destination
    * that must not exist; returns false iff another writer holds the
    * destination. `FileContext.rename(NONE)` is atomic where the
    * filesystem's own rename is (HDFS: one namenode op under its lock)
    * — but the LOCAL adapter (`RawLocalFileSystem.rename`) falls back
    * to a FULL COPY when `rename(2)` fails, so a claim-race loser
    * would silently copy its staging directory into the winner's
    * published snapshot instead of failing (caught intermittently by
    * the 8-writer race spec). On `file:` URIs we therefore go straight
    * to NIO `ATOMIC_MOVE` — raw `rename(2)`, no fallback, refuses an
    * existing destination (EEXIST/ENOTEMPTY; a claimed snapshot
    * directory is never empty, so the empty-dir replacement corner of
    * `rename(2)` cannot arise).
    */
  private def tryClaim(ctx: FileContext, src: Path, dst: Path): Boolean = {
    val qSrc = ctx.makeQualified(src)
    if (qSrc.toUri.getScheme == "file") {
      val dstNio = java.nio.file.Paths.get(ctx.makeQualified(dst).toUri.getPath)
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(qSrc.toUri.getPath), dstNio,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.nio.file.FileSystemException =>
          // the JDK surfaces rename(2)'s ENOTEMPTY as this general
          // type; it means "lost the claim" ONLY if the destination
          // really exists — anything else is a genuine IO failure
          if (java.nio.file.Files.exists(dstNio)) false else throw e
      }
    } else {
      try {
        ctx.rename(src, dst, Options.Rename.NONE)
        true
      } catch {
        case _: FileAlreadyExistsException
            | _: org.apache.hadoop.fs.PathExistsException => false
      }
    }
  }

  /** Refresh the `_latest` pointer cache, monotonically and
    * BEST-EFFORT: the claim already committed, so a failed or lost
    * refresh only leaves the CACHE stale and [[version]] reconciles
    * against the claimed directories. The synchronized block
    * serializes refreshes within one JVM; a cross-process race (or the
    * local filesystem's non-atomic .crc sidecar rename) surfaces as an
    * IOException that is deliberately swallowed for the same
    * only-a-cache reason.
    */
  private def refreshPointer(ctx: FileContext, tableDir: String, v: Long): Unit =
    Snapshots.synchronized {
      val tmp = new Path(tableDir, s"_latest.tmp-$v")
      try {
        if (pointerValue(ctx, tableDir) < v) {
          val out = ctx.create(tmp,
            java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
              org.apache.hadoop.fs.CreateFlag.OVERWRITE))
          try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          ctx.rename(tmp, new Path(tableDir, "_latest"), Options.Rename.OVERWRITE)
        }
      } catch {
        case _: java.io.IOException =>
          try ctx.delete(tmp, false) catch { case _: java.io.IOException => () }
      }
    }

  /** Canonical content of a column-map sidecar for change detection:
    * rows in `pos` order, columns in name order (older sidecars lack
    * `dropped`/`read_type` — a schema difference fingerprints as a
    * change, which only costs a benign re-stage). Driver-small by
    * construction: one row per table column.
    */
  private def mapFingerprint(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).orderBy("pos")
      .collect().map(_.mkString("\u0000")).toSeq

  def commit(
      spark: SparkSession,
      df: DataFrame,
      tableDir: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      addExpectations: Seq[(String, String)] = Nil,
      commitMillis: Option[Long] = None,
      partitionSpec: Seq[Transform] = Nil,
      notes: Seq[(String, String)] = Nil): Long = {
    val ctx = fc(spark)
    var base = version(spark, tableDir)
    while (true) {
      // effective expectations = the current table's, with same-named
      // new declarations replacing old ones and fresh names appended;
      // the staged snapshot both ENFORCES and RE-PUBLISHES the list,
      // so the invariants follow the table through every commit
      val inherited = loadExpectations(spark, ctx, tableDir, base)
      val eff = inherited.filterNot(e =>
        addExpectations.exists(_._1 == e._1)) ++ addExpectations
      // the column map is table metadata like expectations: a plain
      // commit re-publishes the current version's map (and normalizes
      // its own rows through it)
      val cmap =
        if (base < 1) None else columnMapDfAt(spark, s"$tableDir/snap-$base")
      val baseMapFp = cmap.map(mapFingerprint)
      val staged = stage(spark, df, tableDir, statsColumns, bloomColumns,
        Sidecars(columnMap = cmap, notes = notes), eff, commitMillis,
        toPhysicalSpec(cmap.map(fromMapDf), partitionSpec))
      // claim: atomic no-overwrite rename — the commit point. Plain
      // commit publishes a FULL table state, so any free version is
      // acceptable for the DATA — but the staged snapshot also carries
      // the table METADATA (column map + expectations) read at `base`.
      // A concurrent DDL landing between that read and our claim must
      // not be silently reverted by republishing the stale map at a
      // higher version, so each lost claim re-checks the tip's
      // metadata: unchanged → just move past the claimed versions;
      // changed → discard the staged snapshot and re-stage from the
      // new tip. Use [[commitIfVersion]]/[[transact]] when the new
      // DATA was derived from a read of the old state.
      var v = base + 1
      var restage = false
      while (!restage) {
        if (tryClaim(ctx, staged, new Path(tableDir, s"snap-$v"))) {
          refreshPointer(ctx, tableDir, v)
          return v
        }
        val tip = claimedVersion(ctx, tableDir)
        val tipExp = loadExpectations(spark, ctx, tableDir, tip)
        val tipMapFp =
          if (tip < 1) None
          else columnMapDfAt(spark, s"$tableDir/snap-$tip").map(mapFingerprint)
        if (tipExp == inherited && tipMapFp == baseMapFp) {
          // pure data commit(s) landed — our metadata is still the
          // table's; move past everything claimed by now and retry
          v = math.max(v + 1, tip + 1)
        } else {
          try ctx.delete(staged, true)
          catch { case _: java.io.IOException => () }
          base = tip
          restage = true
        }
      }
    }
    -1L // unreachable: the claim loop returns
  }

  /** Conditional commit (the compare-and-swap half of optimistic
    * concurrency): claim exactly version `expectedBase + 1`, or give
    * up. Returns `Some(version)` on success; `None` — with the staged
    * data cleaned up — when another writer claimed that version first,
    * which means the state this write was derived from is no longer
    * the table tip and the caller must re-derive (see [[transact]]).
    * This is the filesystem spelling of Delta's "try to write
    * `<v+1>.json`, abort the transaction if it exists".
    */
  def commitIfVersion(
      spark: SparkSession,
      df: DataFrame,
      tableDir: String,
      expectedBase: Long,
      statsColumns: Seq[String] = Nil,
      changes: Option[DataFrame] = None,
      bloomColumns: Seq[String] = Nil,
      notes: Seq[(String, String)] = Nil): Option[Long] =
    commitIfVersionWith(spark, df, tableDir, expectedBase, statsColumns,
      bloomColumns, Sidecars(changes = changes, notes = notes))

  /** A committed version's named note sidecar ([[Sidecars.notes]]):
    * one driver-side fs read, None when the version never published
    * it. The consumer owns the content format.
    */
  def noteAt(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      name: String): Option[String] = {
    val p = new Path(s"$tableDir/snap-$v/$name")
    val ctx = fc(spark)
    if (!ctx.util().exists(p)) None
    else {
      val in = ctx.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def commitIfVersionWith(
      spark: SparkSession,
      df: DataFrame,
      tableDir: String,
      expectedBase: Long,
      statsColumns: Seq[String],
      bloomColumns: Seq[String],
      sidecars: Sidecars,
      spec: Seq[Transform] = Nil,
      allSpecs: Seq[(Int, Seq[Transform])] = Nil,
      currentSpecId: Int = 0): Option[Long] = {
    val ctx = fc(spark)
    // OCC writes enforce and carry forward the BASE version's
    // expectations — the base is pinned, so the list cannot drift
    // between check and claim (a lost claim re-derives from the new
    // base and re-checks against ITS expectations). The base's column
    // map rides forward the same way unless the caller publishes a new
    // one ([[renameColumn]]/[[restore]]).
    val eff =
      if (sidecars.columnMap.nonEmpty || expectedBase < 1) sidecars
      else sidecars.copy(columnMap =
        columnMapDfAt(spark, s"$tableDir/snap-$expectedBase"))
    val staged = stage(spark, df, tableDir, statsColumns, bloomColumns,
      eff, sidecars.expectations.getOrElse(
        loadExpectations(spark, ctx, tableDir, expectedBase)),
      partitionSpec = spec, allSpecs = allSpecs, currentSpecId = currentSpecId)
    val v = expectedBase + 1
    if (tryClaim(ctx, staged, new Path(tableDir, s"snap-$v"))) {
      refreshPointer(ctx, tableDir, v)
      Some(v)
    } else {
      ctx.delete(staged, true)
      None
    }
  }

  /** Serializable read-modify-write: run `fn` on the current snapshot
    * and commit its result iff the table hasn't moved — otherwise
    * re-read the NEW tip and re-derive, up to `maxRetries` times. Every
    * committed version is therefore `fn` applied to its immediate
    * predecessor (no lost updates under concurrent transactions): the
    * optimistic-concurrency loop of every lakehouse format. [[merge]]
    * and [[delete]] are specializations of this loop.
    */
  def transact(
      spark: SparkSession,
      tableDir: String,
      maxRetries: Int = 10)(fn: DataFrame => DataFrame): Long =
    occLoop(spark, tableDir, Nil, Nil, maxRetries)((_, cur) => (fn(cur), Sidecars()))

  private def occLoop(
      spark: SparkSession,
      tableDir: String,
      statsColumns: Seq[String],
      bloomColumns: Seq[String],
      maxRetries: Int,
      inheritSpec: Boolean = true,
      specOverride: Long => (Seq[(Int, Seq[Transform])], Int) =
        _ => (Nil, 0))(
      fn: (Long, DataFrame) => (DataFrame, Sidecars)): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val base = version(spark, tableDir)
      // the partition spec is TABLE metadata: a derived commit keeps the
      // base version's FULL spec set — every spec id a carried file may
      // still be tagged with, plus the default the rewrite re-clusters
      // under — so hidden-partition pruning survives MERGE/DELETE/
      // transact instead of silently degrading to full scans after the
      // first update. [[compact]] opts out — its explicit file layout is
      // the point; [[restore]] overrides with the TARGET version's
      // specs; [[evolvePartitionSpec]] overrides with base + new.
      val (specsAll, curId) =
        if (inheritSpec) partitionSpecs(spark, tableDir, base)
        else specOverride(base)
      val spec = specsAll.find(_._1 == curId).map(_._2).getOrElse(Nil)
      val (next, sidecars) = fn(base, readVersion(spark, tableDir, base))
      commitIfVersionWith(
        spark, next, tableDir, base, statsColumns, bloomColumns, sidecars,
        spec, allSpecs = specsAll, currentSpecId = curId) match {
        case Some(v) => return v
        case None => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"transaction on $tableDir lost $maxRetries optimistic races; giving up")
  }

  /** Read the current snapshot (resolves the version once — the frame
    * keeps reading that snapshot's immutable files even if a newer
    * version commits while the scan runs).
    */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir, version(spark, tableDir))

  /** Time travel: read a specific committed version — the snapshot's
    * own data files plus any files it REUSES from earlier snapshots
    * (`_refs`, written by a scoped [[merge]]). Resolving the ref list
    * costs one file-count-sized parquet read at planning time, the
    * manifest-resolution cost every real format pays.
    */
  def readVersion(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    require(v >= 1, s"no committed snapshot (version $v) in $tableDir")
    readVersionWith(spark, tableDir, v, versionMeta(spark, tableDir, v))
  }

  // rename-without-rewrite: the assembled physical-named frame is
  // presented under the version's logical names
  private def readVersionWith(
      spark: SparkSession, tableDir: String, v: Long, meta: VersionMeta): DataFrame =
    mapLogical(readVersionRawWith(spark, tableDir, v, meta), meta.map)

  /** [[readVersion]] under PHYSICAL column names (delete sidecars
    * applied, column map not): the frame internal write paths rebuild
    * raw files against, and the authority for a version's physical
    * schema.
    */
  private def readVersionRaw(
      spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    require(v >= 1, s"no committed snapshot (version $v) in $tableDir")
    readVersionRawWith(spark, tableDir, v, versionMeta(spark, tableDir, v))
  }

  private def readVersionRawWith(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      meta: VersionMeta): DataFrame = {
    val snapDir = s"$tableDir/snap-$v"
    val m = meta.map
    val pinned = meta.schema
    val base =
      if (!meta.hasRefs)
        readParquetRaw(spark, m, Seq(snapDir), pinned)
      else if (meta.hasManifest)
        // ref-carrying snapshot WITH a manifest: plan the full scan
        // through the manifest-backed FileIndex — path + committed
        // size per file, no per-file filesystem re-listing (the cost
        // `spark.read.parquet(paths: _*)` pays once per file at
        // planning). The pure-reference marker file is not in the
        // manifest, but it holds zero rows by construction. A row-less
        // manifest (everything deleted) falls back to the path list,
        // which still supplies the schema via the marker.
        scanFiles(spark, tableDir, snapDir,
            fileSizes(leafRows(spark, snapDir, meta, _ => None)), m, pinned)
          .getOrElse(
            readParquetRaw(spark, m, dataFiles(spark, tableDir, v), pinned))
      else readParquetRaw(spark, m, dataFiles(spark, tableDir, v), pinned)
    // merge-on-read: a snapshot may carry delete sidecars instead of
    // rewritten data files; every reader applies them (positional
    // first — it needs the raw scan's _metadata — then keyed)
    applyDeleteSidecarsWith(spark, snapDir, base,
      meta.hasPosDeletes, meta.hasMorDeletes)
  }

  /** A version's leaf-manifest rows: the cached rows of a single-leaf
    * manifest (a LocalRelation), else [[manifestLeaves]] with
    * `rootKeep`.
    */
  private def leafRows(
      spark: SparkSession,
      snapDir: String,
      meta: VersionMeta,
      rootKeep: DataFrame => Option[Column]): DataFrame =
    meta.manifest.map(_.toDF(spark))
      .getOrElse(manifestLeaves(spark, snapDir, rootKeep))

  /** Files in a version: cached manifest rows, or [[manifestTotal]]. */
  private def manifestTotalOf(
      spark: SparkSession, snapDir: String, meta: VersionMeta): Long =
    meta.manifest.map(_.rows.size.toLong)
      .getOrElse(manifestTotal(spark, snapDir))

  /** A version's raw data file list: own files plus `_refs`. */
  private def dataFiles(
      spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    dataFilesAt(spark, tableDir, s"$tableDir/snap-$v")

  /** Raw data files of an arbitrary snapshot directory (main version or
    * branch claim): own non-hidden files plus `_refs` resolved against
    * the TABLE root — reference paths are table-root-relative whichever
    * namespace the referencing snapshot lives in.
    */
  private def dataFilesAt(
      spark: SparkSession, tableDir: String, snapDir: String): Seq[String] = {
    val ctx = fc(spark)
    val own = ctx.util().listStatus(new Path(snapDir)).iterator
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath.toString).toSeq
    val reused =
      if (!ctx.util().exists(new Path(s"$snapDir/_refs"))) Nil
      else readSidecar(spark, s"$snapDir/_refs")
        .collect().map(r => absoluteDataPath(tableDir, r.getString(0))).toSeq
    own ++ reused
  }

  /** Bare filename of the scanned file. Positional sidecars address
    * files by NAME: part files carry their write job's UUID, so names
    * are unique across a table's history, and name-scoped addressing
    * survives a table relocation where absolute URIs would not.
    */
  private def scanFileName: Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  /** Apply a snapshot's pending merge-on-read delete sidecars (if any)
    * to a frame assembled from its raw data files. Every read path that
    * bypasses [[readVersion]]'s assembly (the manifest-pruned readers)
    * MUST route its result through this, or pruning would resurrect
    * deleted rows. The input must be a raw file scan — the positional
    * half resolves `_metadata` against it.
    */
  private def applyDeleteSidecars(
      spark: SparkSession, snapDir: String, raw: DataFrame): DataFrame = {
    val ctx = fc(spark)
    applyDeleteSidecarsWith(spark, snapDir, raw,
      ctx.util().exists(new Path(s"$snapDir/_pos_deletes")),
      ctx.util().exists(new Path(s"$snapDir/_mor_deletes")))
  }

  private def applyDeleteSidecarsWith(
      spark: SparkSession,
      snapDir: String,
      raw: DataFrame,
      hasPos: Boolean,
      hasKeyed: Boolean): DataFrame = {
    val keyedP = new Path(s"$snapDir/_mor_deletes")
    val afterPos =
      if (!hasPos) raw
      else applyPosDeletes(spark, snapDir,
          raw.withColumn("_graft_f", scanFileName)
            .withColumn("_graft_i", col("_metadata.row_index")))
        .drop("_graft_f", "_graft_i")
    if (!hasKeyed) afterPos
    else {
      // NULL-SAFE anti-join: a plain USING-columns anti-join never
      // matches NULL = NULL, so a predicate-matched row with a NULL key
      // would land in the sidecar (and the change feed) yet stay
      // visible forever — the keyed delete must drop exactly the rows
      // whose key tuple null-safely equals a sidecar row's
      val dels = readSidecar(spark, keyedP.toString)
      val renamed = dels.columns.foldLeft(dels)((d, c) =>
        d.withColumnRenamed(c, s"_graft_d_$c"))
      val cond = dels.columns.map(c =>
        afterPos(c) <=> renamed(s"_graft_d_$c")).reduce(_ && _)
      afterPos.join(renamed, cond, "left_anti")
    }
  }

  /** Positional-delete anti-join over a frame that already carries
    * `_graft_f`/`_graft_i` provenance columns (kept in the output).
    */
  private def applyPosDeletes(
      spark: SparkSession, snapDir: String, withProv: DataFrame): DataFrame = {
    val p = new Path(s"$snapDir/_pos_deletes")
    if (!fc(spark).util().exists(p)) withProv
    else withProv.join(
      readSidecar(spark, p.toString)
        .select(col("file").as("_graft_f"), col("idx").as("_graft_i")),
      Seq("_graft_f", "_graft_i"), "left_anti")
  }

  /** Timestamp time travel (the `TIMESTAMP AS OF` half, complementing
    * [[readVersion]]'s `VERSION AS OF`): the highest committed version
    * whose recorded commit timestamp is ≤ `tsMillis`. Resolution walks
    * the claimed versions' `_commit_ts` sidecars — O(versions) tiny
    * reads at planning time, the history-walk cost every format pays
    * for a timestamp lookup. Versions without a sidecar (committed
    * before the feature) are skipped. Under concurrent writers commit
    * timestamps can interleave across versions (two clocks, one claim
    * order); the contract is the same as the real formats': the answer
    * is the LATEST version not after the instant, with version order
    * breaking timestamp ties. Throws when the instant predates every
    * commit — "the table did not exist yet" must not read as v1.
    */
  def versionAt(spark: SparkSession, tableDir: String, tsMillis: Long): Long = {
    val ctx = fc(spark)
    val hit = (1L to version(spark, tableDir)).foldLeft(0L) { (best, v) =>
      val p = new Path(s"$tableDir/snap-$v/_commit_ts")
      if (!ctx.util().exists(p)) best
      else {
        val in = ctx.open(p)
        val ts =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong
          finally in.close()
        if (ts <= tsMillis) v else best
      }
    }
    require(hit >= 1,
      s"no snapshot of $tableDir had committed at t=$tsMillis")
    hit
  }

  /** Read the snapshot that was current at `tsMillis` (see
    * [[versionAt]] for the resolution contract).
    */
  def readAsOf(spark: SparkSession, tableDir: String, tsMillis: Long): DataFrame =
    readVersion(spark, tableDir, versionAt(spark, tableDir, tsMillis))

  /** DESCRIBE HISTORY: one metadata-only row per committed version —
    * `(version, commit_ms, n_files, n_rows)`. Everything comes from
    * sidecars and manifests, never a data scan: `commit_ms` from the
    * `_commit_ts` sidecar (null for pre-feature versions), `n_files`
    * from the version's own listing plus its `_refs` (so file-scoped
    * merges/compactions report their true logical file count),
    * `n_rows` from the manifest's per-file counts (root-list sums when
    * the two-level layout is present) — null when the version has no
    * manifest or when pending merge-on-read delete sidecars make the
    * manifest count a pre-delete number (the [[tableStats]] staleness
    * rule; a history row must not lie). The audit surface every
    * format exposes as `DESCRIBE HISTORY`, priced at O(versions)
    * metadata reads.
    */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val ctx = fc(spark)
    val tip = version(spark, tableDir)
    require(tip >= 1, s"no committed snapshot in $tableDir")
    (1L to tip).map { v =>
      val snapDir = s"$tableDir/snap-$v"
      val tsP = new Path(s"$snapDir/_commit_ts")
      val ts: Option[Long] =
        if (!ctx.util().exists(tsP)) None
        else {
          val in = ctx.open(tsP)
          try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)
            .trim.toLong)
          finally in.close()
        }
      val nFiles = dataFiles(spark, tableDir, v).size.toLong
      val hasDeletes =
        ctx.util().exists(new Path(s"$snapDir/_mor_deletes")) ||
          ctx.util().exists(new Path(s"$snapDir/_pos_deletes"))
      val nRows: Option[Long] =
        if (hasDeletes || !ctx.util().exists(new Path(manifestDir(snapDir))))
          None
        else {
          val rootP = new Path(s"${manifestDir(snapDir)}/_root")
          val src =
            if (ctx.util().exists(rootP)) readSidecar(spark, rootP.toString)
            else readSidecar(spark, manifestDir(snapDir))
          if (!src.columns.contains("n_rows")) None
          else longSum(src, "n_rows")
        }
      (v, ts, nFiles, nRows)
    }.toDF("version", "commit_ms", "n_files", "n_rows")
  }

  /** Manifest-driven file selection for `colName` ∈ [lower, upper]:
    * (surviving file paths, total files in the snapshot). A file
    * survives iff its [min, max] can intersect the range; files whose
    * stats are NULL (all-null column) are correctly excluded — NULL
    * never satisfies a range predicate. The file list is
    * coordinator-sized (one string per data file), the same planning
    * cost every manifest-based format pays.
    */
  def selectFiles(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      colName: String,
      lower: Any,
      upper: Any): (Seq[String], Long) = {
    val snapDir = s"$tableDir/snap-$v"
    val meta = versionMeta(spark, tableDir, v)
    val ph = physicalOf(meta.map, colName)
    val total = manifestTotalOf(spark, snapDir, meta)
    val sel = fileSizes(rangeSelection(spark, snapDir, meta, ph, lower, upper))
      .map(f => resolveDataPath(tableDir, snapDir, f._1))
    (sel, total)
  }

  /** The manifest rows surviving a range probe: the per-file min/max
    * filter over the cached manifest rows (a LocalRelation, so no job),
    * or, for a manifest the cache does not hold, root-list pruning
    * first (whole leaves whose envelope misses the range are never
    * read) and then the same filter, both in Spark.
    */
  private def rangeSelection(
      spark: SparkSession,
      snapDir: String,
      meta: VersionMeta,
      colName: String,
      lower: Any,
      upper: Any): DataFrame =
    leafRows(spark, snapDir, meta, rangeRootKeep(colName, lower, upper))
      .filter(col(s"max_$colName") >= lit(lower) &&
        col(s"min_$colName") <= lit(upper))

  /** Scan the selected `files` of version `ver`, apply its delete
    * sidecars, present logical names and keep the rows `residual`
    * matches; an empty selection is the version's empty frame.
    */
  private def prunedRead(
      spark: SparkSession,
      tableDir: String,
      ver: Long,
      meta: VersionMeta,
      files: Seq[(String, Option[Long])],
      residual: Column): DataFrame = {
    val snapDir = s"$tableDir/snap-$ver"
    scanFiles(spark, tableDir, snapDir, files, meta.map, meta.schema)
      .map(raw => mapLogical(applyDeleteSidecarsWith(spark, snapDir, raw,
          meta.hasPosDeletes, meta.hasMorDeletes), meta.map)
        .filter(residual))
      .getOrElse(readVersionWith(spark, tableDir, ver, meta).filter(lit(false)))
  }

  /** Range read through the statistics manifest: prune data files by
    * their committed min/max BEFORE the scan, then apply the residual
    * predicate to the survivors (stats narrow the file set; the filter
    * stays for row-level exactness, and parquet row-group stats prune
    * further inside each surviving file). Falls back to a plain
    * filtered scan when the snapshot has no manifest. `v = 0` reads
    * the latest committed version.
    */
  def readRange(
      spark: SparkSession,
      tableDir: String,
      colName: String,
      lower: Any,
      upper: Any,
      v: Long = 0L): DataFrame = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val snapDir = s"$tableDir/snap-$ver"
    val meta = versionMeta(spark, tableDir, ver)
    val ph = physicalOf(meta.map, colName)
    val residual = col(colName).between(lit(lower), lit(upper))
    if (!meta.hasManifest) readVersionWith(spark, tableDir, ver, meta).filter(residual)
    else prunedRead(spark, tableDir, ver, meta,
      fileSizes(rangeSelection(spark, snapDir, meta, ph, lower, upper)), residual)
  }

  /** Compound range read: AND of `[lower, upper]` predicates over
    * several stats columns, pruned in ONE manifest pass (a file
    * survives only when EVERY column's envelope can intersect its
    * range — on a z-ordered layout that intersection is the
    * multi-dimensional rectangle the curve exists to serve, far
    * sharper than either range alone). For a manifest the metadata
    * cache does not hold, root-list envelopes prune whole leaves first for
    * every column the root covers; the conjunction of residuals keeps
    * rows exact. Falls back to a plain filtered scan
    * when the snapshot has no manifest. `v = 0` reads the latest.
    */
  def readRanges(
      spark: SparkSession,
      tableDir: String,
      ranges: Seq[(String, Any, Any)],
      v: Long = 0L): DataFrame = {
    require(ranges.nonEmpty, "readRanges needs at least one range")
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val snapDir = s"$tableDir/snap-$ver"
    val meta = versionMeta(spark, tableDir, ver)
    val phRanges = ranges.map { case (c, lo, hi) =>
      (physicalOf(meta.map, c), lo, hi) }
    val residual = ranges
      .map { case (c, lo, hi) => col(c).between(lit(lo), lit(hi)) }
      .reduce(_ && _)
    if (!meta.hasManifest) readVersionWith(spark, tableDir, ver, meta).filter(residual)
    else {
      val rootKeep = (root: DataFrame) => phRanges.flatMap {
        case (c, lo, hi) => rangeRootKeep(c, lo, hi)(root)
      }.reduceOption(_ && _)
      val rowKeep = phRanges.map { case (c, lo, hi) =>
        col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
      }.reduce(_ && _)
      prunedRead(spark, tableDir, ver, meta,
        fileSizes(leafRows(spark, snapDir, meta, rootKeep).filter(rowKeep)), residual)
    }
  }

  /** Whether version `v` publishes a partition-spec transform over
    * `column` (logical name) alongside a stats manifest — the
    * precondition for an IN-list partition prune
    * ([[readPartitionedIn]]) to consult transform envelopes. Callers
    * that can route a read several ways (e.g. a view refresh bounding
    * the unchanged join side) ask this to prefer the bucket route on
    * hash-clustered layouts, where a min/max envelope spans the whole
    * key range and prunes nothing. O(sidecar read), never O(data).
    */
  private[sources] def partitionCovers(
      spark: SparkSession,
      tableDir: String,
      column: String,
      v: Long = 0L): Boolean = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val snapDir = s"$tableDir/snap-$ver"
    fc(spark).util().exists(new Path(manifestDir(snapDir))) && {
      val pairs = mapAt(spark, tableDir, ver)
      val ph = physicalOf(pairs, column)
      partitionSpecs(spark, tableDir, ver)._1
        .exists(_._2.exists(_.column == ph))
    }
  }

  /** Whether version `v`'s stats manifest publishes a min/max envelope
    * for EVERY one of `cols` (logical names) — the precondition for a
    * [[readRange]]/[[readRanges]] prune to consult file stats at all.
    * Callers that can route a read either way (e.g. a view refresh
    * bounding the unchanged join side by the delta's key envelope) ask
    * this first and fall back to the plain scan on false. One
    * manifest-schema read — O(manifest), never O(data). `v = 0` checks
    * the latest version.
    */
  def statsCover(
      spark: SparkSession,
      tableDir: String,
      cols: Seq[String],
      v: Long = 0L): Boolean = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val meta = versionMeta(spark, tableDir, ver)
    meta.hasManifest && {
      val names = meta.manifest.map(_.schema)
        .getOrElse(readSidecar(spark, manifestDir(s"$tableDir/snap-$ver")).schema)
        .map(_.name).toSet
      cols.forall { c =>
        val ph = physicalOf(meta.map, c)
        names(s"min_$ph") && names(s"max_$ph")
      }
    }
  }

  /** Metadata-only table statistics: `(n_rows, min_c, max_c, ...)` for
    * the requested stats columns, answered from the MANIFEST — O(root
    * list) when the two-level layout is present, O(manifest rows)
    * otherwise, never O(data). This is the `SELECT COUNT(*)/MIN/MAX`
    * a real format serves from its log or manifests: per-file row
    * counts and envelopes were computed exactly at commit time, and
    * MIN/MAX over envelopes equals MIN/MAX over rows because both
    * ignore nulls. Falls back to a full scan aggregation — same
    * answer, data-sized cost — when the snapshot carries merge-on-read
    * delete sidecars (manifest counts don't see pending deletes), has
    * no manifest, or lacks a requested column's stats. `v = 0` reads
    * the latest version.
    */
  def tableStats(
      spark: SparkSession,
      tableDir: String,
      cols: Seq[String],
      v: Long = 0L): DataFrame = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val snapDir = s"$tableDir/snap-$ver"
    val ctx = fc(spark)
    // probes arrive as logical names; manifest stats live under
    // physical names; output columns use the names the caller passed
    val pairs = mapAt(spark, tableDir, ver)
    val phOf = cols.map(c => c -> physicalOf(pairs, c)).toMap
    def scanAgg(): DataFrame = {
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      readVersion(spark, tableDir, ver).agg(aggs.head, aggs.tail: _*)
    }
    val hasDeletes =
      ctx.util().exists(new Path(s"$snapDir/_mor_deletes")) ||
        ctx.util().exists(new Path(s"$snapDir/_pos_deletes"))
    if (hasDeletes || !ctx.util().exists(new Path(manifestDir(snapDir))))
      scanAgg()
    else {
      val rootP = new Path(s"${manifestDir(snapDir)}/_root")
      val root =
        if (!ctx.util().exists(rootP)) None
        else Some(readSidecar(spark, rootP.toString))
      val fromRoot = root.filter(r =>
        r.columns.contains("n_rows") &&
          cols.forall(c => r.columns.contains(s"lo_${phOf(c)}") &&
            r.columns.contains(s"hi_${phOf(c)}")))
        .map { r =>
          val aggs = sum("n_rows").as("n_rows") +: cols.flatMap(c =>
            Seq(min(col(s"lo_${phOf(c)}")).as(s"min_$c"),
              max(col(s"hi_${phOf(c)}")).as(s"max_$c")))
          r.agg(aggs.head, aggs.tail: _*)
        }
      fromRoot.getOrElse {
        val m = readSidecar(spark, manifestDir(snapDir))
        if (!cols.forall(c => m.columns.contains(s"min_${phOf(c)}") &&
            m.columns.contains(s"max_${phOf(c)}")))
          scanAgg()
        else {
          val aggs = sum("n_rows").as("n_rows") +: cols.flatMap(c =>
            Seq(min(col(s"min_${phOf(c)}")).as(s"min_$c"),
              max(col(s"max_${phOf(c)}")).as(s"max_$c")))
          m.agg(aggs.head, aggs.tail: _*)
        }
      }
    }
  }

  /** Point-lookup file selection via the per-file bloom sketches:
    * (surviving file paths, total files). A file survives iff its
    * sketch MAY contain `value` — no false negatives by the bloom
    * contract, so the selection is always a superset of the files
    * holding the value; false positives only cost a spurious read.
    * This is the skipping complement to [[selectFiles]]: min/max spans
    * prune RANGES on clustered columns, blooms prune EQUALITY on
    * high-cardinality columns in any layout.
    */
  def selectFilesPoint(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      colName: String,
      value: Any): (Seq[String], Long) = {
    val snapDir = s"$tableDir/snap-$v"
    val meta = versionMeta(spark, tableDir, v)
    val ph = physicalOf(meta.map, colName)
    val total = manifestTotalOf(spark, snapDir, meta)
    val sel = pointSelection(spark, tableDir, v, meta, ph, value)
      .map(f => resolveDataPath(tableDir, snapDir, f._1))
    (sel, total)
  }

  /** `(file, size_bytes)` of the manifest rows surviving a bloom point
    * probe on the PHYSICAL column `colName`. The literal is hashed on
    * the driver ([[probeHash]]). A manifest held in the metadata cache
    * is probed on the driver too: one sketch deserialization per file,
    * no Spark job. Any other manifest is probed by a UDF on the
    * EXECUTORS after the root's per-leaf bloom unions prune whole
    * leaves, and only survivors reach the driver ([[bloomProbe]]).
    */
  private def pointSelection(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      meta: VersionMeta,
      colName: String,
      value: Any): Seq[(String, Option[Long])] = {
    // xxhash64 is TYPE-sensitive: the probe literal must hash as the
    // same type the sketch was built over, or every lookup would be a
    // silent false negative — cast to the column's actual type first.
    val schema = meta.readSchema
      .getOrElse(readVersionRawWith(spark, tableDir, v, meta).schema)
    val hashed = probeHash(spark, value, schema(colName).dataType)
    val bloom = s"bloom_$colName"
    def noBloom = s"version $v of $tableDir has no bloom sketch for $colName"
    meta.manifest match {
      case Some(m) =>
        val names = m.schema.fieldNames
        val bi = names.indexOf(bloom)
        require(bi >= 0, noBloom)
        val fi = names.indexOf("file")
        val si = names.indexOf("size_bytes")
        m.rows.filter(r =>
          // a null sketch means a zero-row file: nothing to contain
          !r.isNullAt(bi) && graft.functions.BloomFunctions
            .mightContainSerialized(r.getBinary(bi), hashed))
          .map(r => (r.getUTF8String(fi).toString,
            if (si < 0 || r.isNullAt(si)) None else Some(r.getLong(si))))
      case None =>
        val probed = bloomProbe(spark, s"$tableDir/snap-$v", bloom, hashed)
        require(probed.columns.contains(bloom), noBloom)
        fileSizes(probed)
    }
  }

  /** xxhash64 of `value` as column type `t`, evaluated on the driver
    * with what `xxhash64(lit(value).cast(t))` plans to: `Literal(value)`,
    * a `Cast` under the session time zone and the session eval mode
    * (ANSI or legacy), and `XxHash64` with its default seed — the hash
    * the sketch's writer applied to the column.
    */
  private[sources] def probeHash(
      spark: SparkSession, value: Any, t: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, XxHash64}
    val conf = spark.sessionState.conf
    val cast = Cast(Literal(value), t, Some(conf.sessionLocalTimeZone),
      EvalMode.fromSQLConf(conf))
    require(cast.checkInputDataTypes().isSuccess,
      s"cannot cast probe value $value to $t")
    new XxHash64(Seq(Literal(cast.eval(), t))).eval().asInstanceOf[Long]
  }

  /** Executor-side bloom probe of the manifest leaves, for manifests
    * the metadata cache does not hold: per-row sketches can't use the
    * BloomFilterMightContain EXPRESSION (it requires a constant
    * sketch), so a deserialize UDF probes them and only survivors are
    * collected — the driver cost is O(selected paths), not O(total
    * files × sketch bytes). The UDF is interpreted, but it runs over
    * manifest rows (one per file), never data rows.
    */
  private def bloomProbe(
      spark: SparkSession, snapDir: String, bloom: String, hashed: Long): DataFrame = {
    val probe = udf((sketch: Array[Byte]) =>
      sketch != null &&
        graft.functions.BloomFunctions.mightContainSerialized(sketch, hashed))
    // leaf-granularity pruning first: the root's per-leaf bloom UNION
    // rules out whole manifest leaves before any leaf row is read —
    // the membership complement of the range probes' lo_/hi_ envelopes
    // (older roots without the column read every leaf, still correct)
    val m = manifestLeaves(spark, snapDir, root =>
      if (!root.columns.contains(bloom)) None else Some(probe(col(bloom))))
    if (m.columns.contains(bloom)) m.filter(probe(col(bloom))) else m
  }

  /** Equality read through the bloom manifest: prune files whose
    * sketch rules the value out ([[pointSelection]]: a driver-side hash
    * and, for a manifest in the metadata cache, a driver-side probe),
    * then scan the survivors with the exact equality as a residual —
    * one Spark job, the data scan. Falls back to a plain filtered scan
    * when the snapshot has no bloom for the column. `v = 0` reads the
    * latest version.
    */
  def readPoint(
      spark: SparkSession,
      tableDir: String,
      colName: String,
      value: Any,
      v: Long = 0L): DataFrame = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val meta = versionMeta(spark, tableDir, ver)
    val ph = physicalOf(meta.map, colName)
    val residual = col(colName) === lit(value)
    val hasBloom = meta.hasManifest && meta.manifest.map(_.schema.fieldNames.toSeq)
      .getOrElse(spark.read.parquet(manifestDir(s"$tableDir/snap-$ver")).columns.toSeq)
      .contains(s"bloom_$ph")
    if (!hasBloom) readVersionWith(spark, tableDir, ver, meta).filter(residual)
    else prunedRead(spark, tableDir, ver, meta,
      pointSelection(spark, tableDir, ver, meta, ph, value), residual)
  }

  /** Partition-pruned file selection for equality probes on RAW
    * columns: (surviving files, total). For each `(column, value)`
    * probe, every spec transform over that column is applied to the
    * literal and files whose manifest transform-envelope cannot
    * contain the transformed value are dropped — the reader never
    * names a partition column, which is the "hidden" contract.
    * Transformed literals are evaluated by Catalyst itself (a 1-row
    * local plan), so write side and probe side cannot diverge on
    * hash/date semantics. Probes on columns the spec doesn't cover
    * simply don't prune (correct superset, like an unindexed
    * predicate anywhere else).
    */
  def selectFilesPartitioned(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      probes: Seq[(String, Any)]): (Seq[String], Long) = {
    val snapDir = s"$tableDir/snap-$v"
    val total = manifestTotal(spark, snapDir)
    val sel = partitionedSelection(spark, tableDir, v, probes)
      .select("file").collect()
      .map(r => resolveDataPath(tableDir, snapDir, r.getString(0))).toSeq
    (sel, total)
  }

  /** The manifest rows surviving a hidden-partitioning probe (shared by
    * [[selectFilesPartitioned]] and [[scanPartitioned]]). Root-level
    * pruning is not attempted here: transform envelopes are judged
    * per-SPEC, and a root row aggregates leaves that may mix specs —
    * reading every leaf is the correct superset.
    */
  private def partitionedSelection(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      probes0: Seq[(String, Any)]): DataFrame = {
    val snapDir = s"$tableDir/snap-$v"
    val (specs, _) = partitionSpecs(spark, tableDir, v)
    // probes arrive as logical names; spec transforms and the raw
    // schema speak physical — translate once here for both callers
    val pairs = mapAt(spark, tableDir, v)
    val probes = probes0.map { case (c, x) => (physicalOf(pairs, c), x) }
    val schema = readVersionRaw(spark, tableDir, v).schema
    val m = manifestLeaves(spark, snapDir,
      partitionedRootKeep(spark, specs, schema,
        probes.map { case (c, value) => (c, Seq(value)) }))
    // per-SPEC pruning (spec evolution): each file is judged against the
    // spec it was written under — a probe a spec doesn't cover keeps that
    // spec's files (correct superset), and a spec_id the sidecar doesn't
    // list (legacy pre-spec files carried across an evolution) is never
    // pruned at all: you must not prune what you cannot interpret
    val keep = specKeepCondition(m.columns.toSet, specs) { ts =>
      (for {
        (c, value) <- probes
        t <- ts if t.column == c && m.columns.contains(s"min_${t.name}")
      } yield {
        // evaluate transform(literal) with the column's exact type — a
        // LONG user_id probed as INT would xxhash64 differently and
        // silently prune the wrong files
        val lit0 = lit(value).cast(schema(c).dataType)
        val tv = spark.range(1).select(t(lit0)).head().get(0)
        col(s"min_${t.name}") <= lit(tv) && col(s"max_${t.name}") >= lit(tv)
      }).reduceOption(_ && _).getOrElse(lit(true))
    }
    m.filter(keep)
  }

  /** Every probe value evaluated through `transforms` in ONE local
    * projection, deduplicated on the transformed tuple — the shared
    * mechanism behind both manifest keep-conditions (leaf and root).
    * The first cut ran one driver job per value per transform (a
    * 4 000-key minhash probe meant 4 000 tiny jobs); batching them
    * into a single exploded-literal projection costs one job total,
    * and the distinct bounds the resulting OR by the transforms'
    * cardinality, not the probe width (a Bucket(n) transform maps an
    * IN-list of any width onto ≤ n ids).
    */
  private def transformedTuples(
      spark: SparkSession,
      values: Seq[Any],
      colType: org.apache.spark.sql.types.DataType,
      transforms: Seq[Transform]): IndexedSeq[org.apache.spark.sql.Row] =
    spark.range(1)
      .select(explode(array(
        values.map(v => lit(v).cast(colType)): _*)).as("_v"))
      .select(transforms.zipWithIndex.map { case (t, i) =>
        t(col("_v")).as(s"_tv$i") }: _*)
      .distinct().collect().toIndexedSeq

  /** Balanced disjunction: pairwise-fold the terms so the column tree
    * is O(log n) deep. Spark's column-node→expression conversion
    * recurses per node, so the natural `reduce(_ || _)` left-deep chain
    * overflows the driver stack once a probe carries a few thousand
    * terms; depth 12 covers 4 096 of them.
    */
  private def orTree(cs: IndexedSeq[Column]): Column =
    if (cs.isEmpty) lit(false)
    else if (cs.length == 1) cs.head
    else orTree(cs.grouped(2).map(g =>
      if (g.length == 2) g(0) || g(1) else g(0)).toIndexedSeq)

  /** Assemble a manifest keep-predicate from per-spec conditions: rows
    * tagged with a spec id satisfy THAT spec's condition; rows whose id
    * the spec list doesn't name — legacy rows read back as spec 0, or
    * files older than the sidecar's knowledge — are always kept.
    * Manifests without a `spec_id` column are single-spec by
    * construction: the sole spec's condition applies to every row.
    */
  private def specKeepCondition(
      manifestCols: Set[String],
      specs: Seq[(Int, Seq[Transform])])(
      condFor: Seq[Transform] => Column): Column =
    if (!manifestCols.contains("spec_id"))
      // untagged rows are only interpretable under a single-spec table;
      // a multi-spec sidecar over an untagged manifest cannot prune
      if (specs.size == 1) condFor(specs.head._2) else lit(true)
    else {
      val sid = coalesce(col("spec_id"), lit(0))
      val known = specs.map { case (id, ts) => (sid === id) && condFor(ts) }
      val unknown = !sid.isin(specs.map(_._1): _*)
      (known :+ unknown).reduce(_ || _)
    }

  /** IN-list equality read through hidden partitioning: ONE manifest
    * pass selects every file whose transform envelope admits ANY of the
    * probe values, then the exact `column IN (values)` residual keeps
    * rows precise. Equivalent to unioning [[readPartitioned]] over the
    * values but with planning cost independent of the list size — the
    * shape a multi-point serving read (e.g. an IVF probe over nProbe
    * cells) wants: one manifest read, one pruned scan, not one of each
    * per value. Falls back to a residual-filtered full read when the
    * version has no spec or manifest.
    */
  def readPartitionedIn(
      spark: SparkSession,
      tableDir: String,
      column: String,
      values: Seq[Any],
      v: Long = 0L): DataFrame = {
    require(values.nonEmpty, s"empty IN-list probe on $column")
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val snapDir = s"$tableDir/snap-$ver"
    val pairs = mapAt(spark, tableDir, ver)
    val ph = physicalOf(pairs, column)
    val residual = col(column).isin(values: _*)
    val (specs, _) = partitionSpecs(spark, tableDir, ver)
    val covering = specs.filter(_._2.exists(_.column == ph))
    val full = readVersion(spark, tableDir, ver)
    if (!fc(spark).util().exists(new Path(manifestDir(snapDir))) ||
        covering.isEmpty) full.filter(residual)
    else {
      val rawSchema = readVersionRaw(spark, tableDir, ver).schema
      val m = manifestLeaves(spark, snapDir,
        partitionedRootKeep(spark, specs, rawSchema, Seq(ph -> values)))
      val colType = rawSchema(ph).dataType
      // per-spec conditions (spec evolution): a file survives when SOME
      // probe value fits ALL the envelopes of ITS OWN spec's transforms
      // over the column; a spec with no transform on the column keeps
      // its files (correct superset). transform(value) literals are
      // evaluated with the column's exact type (the same type
      // discipline as the point read); bounded driver work — one tiny
      // local projection per probe value per transform per spec
      val keep = specKeepCondition(m.columns.toSet, specs) { ts =>
        val covered = ts.filter(t =>
          t.column == ph && m.columns.contains(s"min_${t.name}"))
        if (covered.isEmpty) lit(true)
        else
          // distinct transformed tuples via [[transformedTuples]]; the
          // per-tuple AND-over-transforms keeps the original semantics
          // exactly (a file survives when SOME value fits ALL its
          // spec's envelopes), and orTree keeps the disjunction
          // balanced — the left-deep reduce overflowed the column-node
          // converter's recursion near ~3 000 terms.
          orTree(transformedTuples(spark, values, colType, covered)
            .map(row => covered.indices.map { i =>
              col(s"min_${covered(i).name}") <= lit(row.get(i)) &&
                col(s"max_${covered(i).name}") >= lit(row.get(i))
            }.reduce(_ && _)))
      }
      prunedScan(spark, tableDir, snapDir, m.filter(keep), pairs)
        .map(raw => mapLogical(applyDeleteSidecars(spark, snapDir, raw), pairs)
          .filter(residual))
        .getOrElse(full.filter(lit(false)))
    }
  }

  /** Partition-pruned scan WITHOUT a residual: the returned frame is a
    * guaranteed SUPERSET of the rows whose transform values match the
    * probes' (pruning only ever drops files that cannot match). Use
    * this when the caller's real predicate lives at the transform
    * level — e.g. probe `("ts", anyInstantOfTheDay)` to prune to one
    * day's files, then filter `to_date(ts) = day` — and
    * [[readPartitioned]] when the predicate IS raw-column equality.
    * Falls back to the full snapshot when the version has no spec or
    * no manifest.
    */
  def scanPartitioned(
      spark: SparkSession,
      tableDir: String,
      probes: Seq[(String, Any)],
      v: Long = 0L): DataFrame = {
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1, s"no committed snapshot in $tableDir")
    val snapDir = s"$tableDir/snap-$ver"
    val prunable = fc(spark).util().exists(new Path(manifestDir(snapDir))) &&
      partitionSpecs(spark, tableDir, ver)._1.exists(_._2.nonEmpty)
    if (!prunable) readVersion(spark, tableDir, ver)
    else {
      val pairs = mapAt(spark, tableDir, ver)
      prunedScan(spark, tableDir, snapDir,
        partitionedSelection(spark, tableDir, ver, probes), pairs)
        .map(raw => mapLogical(applyDeleteSidecars(spark, snapDir, raw), pairs))
        .getOrElse(readVersion(spark, tableDir, ver).filter(lit(false)))
    }
  }

  /** Equality read through hidden partitioning: prune files via the
    * spec's transforms, then apply the exact raw-column equalities to
    * the survivors. `v = 0` reads the latest.
    */
  def readPartitioned(
      spark: SparkSession,
      tableDir: String,
      probes: Seq[(String, Any)],
      v: Long = 0L): DataFrame = {
    val residual = probes.map { case (c, x) => col(c) === lit(x) }
      .reduceOption(_ && _).getOrElse(lit(true))
    scanPartitioned(spark, tableDir, probes, v).filter(residual)
  }

  /** Cap on the raw key rows a merge will pull to the driver to build
    * the broadcast-local probe side (see [[mergeDerived]]). A memory
    * bound, not a core-count constant: ≤ cap rows × key width live
    * once on the driver and once per executor (the broadcast hash
    * relation) — 1M narrow keys is tens of MB. The key bytes are
    * bounded too, by `graft.sidecar.localBytesMax` (wide or composite
    * keys reach the byte bound first). Batches beyond either bound
    * keep the shuffled shape, which is the correct degradation for
    * executor-sized updates at any scale.
    */
  private[sources] val MergeLocalKeysConf = "graft.merge.localKeyRowsMax"
  private val MergeLocalKeysDefault = 1000000

  /** The update batch's key projection as a broadcast LOCAL relation,
    * when provably small: ONE capped limit-collect job, `None` past the
    * row or byte bound. `coalesce(1)` pins the take to a single task —
    * the default executeTake escalation (1, then 4×… partitions) would
    * spend 2-3 scheduling rounds on any multi-partition batch, which
    * is exactly the fixed cost this path exists to remove — and the
    * take's iterator early-aborts past the row limit, so an over-cap
    * batch costs O(cap) rows of serial read, never a full pass. That
    * early abort only pays off on a scan-shaped plan: a batch whose
    * plan holds an exchange or an aggregate would run its whole
    * upstream once for the probe and again inside the merge, so such
    * batches take the shuffled shape without a probe.
    * Duplicate or null key tuples ride along untouched — an anti/semi
    * equi-join's result is insensitive to build-side duplicates, and
    * null keys match nothing on either shape, so the substitution is
    * exact.
    */
  private[sources] def localKeyFrame(
      spark: SparkSession,
      ups: DataFrame,
      key: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val rowCap = spark.conf.getOption(MergeLocalKeysConf)
      .map(_.toInt).getOrElse(MergeLocalKeysDefault)
    val byteCap = localSidecarBytes(spark)
    val proj = ups.select(key.map(col): _*)
    val plan = proj.queryExecution.optimizedPlan
    plan match {
      // a batch that is ALREADY a local relation (Seq.toDF ingest, tiny
      // derived frames the optimizer constant-folded) needs no collect
      // at all — zero jobs, straight to the broadcast hint
      case lr: LocalRelation =>
        val bytes = lr.data.iterator
          .map(r => keyRowBytes(r.toSeq(lr.schema))).sum
        return if (lr.data.length > rowCap || bytes > byteCap) None
          else Some(broadcast(proj))
      case _ => ()
    }
    val shuffles = plan.exists {
      case _: Aggregate | _: RepartitionOperation | _: RebalancePartitions
          | _: Join | _: Window => true
      case s: Sort => s.global
      case _ => false
    }
    if (shuffles) return None
    // every key column estimates at 8 bytes or more, so this row limit
    // keeps the collect itself inside the byte bound for fixed-width
    // keys; wider (string, binary) keys are measured once collected
    val limit = math.min(rowCap.toLong, byteCap / (8L * math.max(1, key.size))).toInt
    val rows = proj.coalesce(1).limit(limit + 1).collect()
    if (rows.length > limit ||
        rows.iterator.map(r => keyRowBytes(r.toSeq)).sum > byteCap) None
    else Some(broadcast(spark.createDataFrame(
      java.util.Arrays.asList(rows.distinct.toIndexedSeq: _*),
      proj.schema)))
  }

  /** Estimated bytes of one key row: 8 per field plus the length of a
    * string or binary value (the UnsafeRow layout, roughly). */
  private def keyRowBytes(values: Seq[Any]): Long = values.iterator.map {
    case s: String => 8L + s.length
    case u: org.apache.spark.unsafe.types.UTF8String => 8L + u.numBytes
    case b: Array[Byte] => 8L + b.length
    case _ => 8L
  }.sum

  /** Copy-on-write MERGE (the upsert half of `MERGE INTO`): rows of the
    * latest snapshot whose `key` matches a row in `updates` are
    * REPLACED by that row, unmatched update rows are INSERTED, and the
    * result commits as a new version — the current snapshot is never
    * mutated, so readers mid-scan and time travel are untouched.
    *
    * Cost model: one anti-join of the table against the updates on
    * `key` (Spark broadcasts the update side automatically when it is
    * small — the common CDC-batch case) plus a rewrite of the
    * surviving rows — FULL by default (the copy-on-write trade every
    * format makes before deletion vectors / merge-on-read), or
    * FILE-SCOPED with `scoped = true`: the base manifest's min/max on
    * EVERY key column bounds which files the update-key envelope can
    * touch — a file is rewritten only when its per-file interval
    * intersects the update envelope on ALL key columns (so a
    * composite (tenant, day) merge rewrites only files matching BOTH
    * bounds, not every file of the tenant OR the day) — and every
    * untouched file is carried into the new snapshot BY REFERENCE
    * (`_refs`) with its manifest row intact — the file-level sharing
    * that makes a 100 TB merge cost O(touched files), not O(table).
    * The intersection is a correct superset of the matching files: an
    * equi-match on the full key puts each of its column values inside
    * that column's update envelope, so a file failing ANY column's
    * test can hold no matching row. The envelope is tight for
    * clustered updates (the common recent-partition CDC batch) and
    * degrades to a full rewrite, never to a wrong answer, when update
    * keys span the table. Scoped mode requires the base to have been
    * committed with `statsColumns` covering every key column, and
    * keeps publishing stats for the same columns.
    */
  def merge(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      key: Seq[String],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      scoped: Boolean = false,
      evolveSchema: Boolean = false,
      maxRetries: Int = 10,
      preImages: Boolean = false): Long =
    mergeDerived(spark, tableDir, key, statsColumns, bloomColumns,
      recordChanges, scoped, evolveSchema, maxRetries,
      preImages)(_ => updates)

  /** [[merge]] whose update rows are a FUNCTION OF THE BASE VERSION,
    * re-derived inside every optimistic attempt. This closes the
    * read-then-write race that a version-derived column in the update
    * rows (the sketch families' generation stamps) would otherwise
    * have: two writers that read the same tip before merging would
    * both stamp the same value, and the loser's retry would re-merge
    * its STALE rows over the winner's same-key rows. Deriving from the
    * attempt's own base means every committed merge stamped from the
    * version it actually landed on — the same re-derive contract as
    * [[transact]].
    */
  def mergeDerived(
      spark: SparkSession,
      tableDir: String,
      key: Seq[String],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      scoped: Boolean = false,
      evolveSchema: Boolean = false,
      maxRetries: Int = 10,
      preImages: Boolean = false)(updatesOf: Long => DataFrame): Long = {
    require(!scoped || (key.nonEmpty && key.forall(statsColumns.contains)),
      s"scoped merge needs every key column present in statsColumns " +
        s"(key=$key, statsColumns=$statsColumns)")
    require(!(scoped && evolveSchema),
      "schema evolution needs a full rewrite: scoped merge shares data " +
        "files with the previous version, and a shared file cannot hold " +
        "two schemas — run an unscoped merge to evolve, then re-cluster")
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) { (base, cur0) =>
      val updates = updatesOf(base)
      // schema evolution (opt-in, the Delta `mergeSchema` trade): the
      // committed schema becomes the UNION of target and source columns,
      // each side null-filled where the other introduced a column. Types
      // of shared columns must agree — silent widening hides bugs; a
      // caller who means it casts explicitly. Default stays STRICT:
      // unionByName throws on any column drift, so a typo'd producer
      // cannot quietly fork the table schema.
      val (cur, ups) =
        if (!evolveSchema) (cur0, updates)
        else {
          val curT = cur0.schema.map(f => f.name -> f.dataType).toMap
          val updT = updates.schema.map(f => f.name -> f.dataType).toMap
          val clash = cur0.columns.filter(c =>
            updT.contains(c) && updT(c) != curT(c))
          require(clash.isEmpty,
            s"schema evolution cannot change column types: ${clash.mkString(", ")}")
          require(key.forall(k => curT.contains(k) && updT.contains(k)),
            s"merge key $key must exist on both sides")
          val outCols = cur0.columns ++ updates.columns.filterNot(curT.contains)
          def widen(df: DataFrame, own: Map[String, org.apache.spark.sql.types.DataType]) =
            df.select(outCols.map(c =>
              if (own.contains(c)) col(c)
              else lit(null).cast((curT ++ updT)(c)).as(c)).toIndexedSeq: _*)
          (widen(cur0, curT), widen(updates, updT))
        }
      // what this MERGE writes, classified by whether the key existed:
      // one left join of the updates against `probe`'s key projection.
      // `probe` is the narrowest frame that provably holds every base
      // row an update key could match: the full base for an unscoped
      // merge (which rewrites it anyway), the manifest-pruned TOUCHED
      // rows for a scoped merge — equality probes cannot match a file
      // whose key envelope misses the update envelope, so classifying
      // against the pruned scan is the same answer for O(touched) read
      // instead of a second O(|table|) pass (r16: the feed was the one
      // table-sized term left in the scoped-merge path).
      // With `preImages` (the Delta CDF spelling), matched keys record
      // BOTH sides — the replaced base row as `update_preimage` and the
      // incoming row as `update_postimage` — which is what makes the
      // feed algebraically invertible: a consumer maintaining a
      // downstream aggregate ([[Views.refreshView]]) subtracts the pre
      // row and adds the post row, so updates cost O(|changes|) with no
      // base re-read. Default stays the compact post-only `update` row.
      // distinct: a non-unique-key base (several rows per key) must
      // not fan each update row out per matching base row — the feed
      // records what the MERGE wrote, once
      // r17: when the batch keys collected to a local relation (see
      // below), the feed's existence probe narrows the base side FIRST
      // with a broadcast semi-join — the probe is never shuffled; the
      // distinct runs over O(matched rows). Identical classification:
      // an update row can only match its own key, so restricting the
      // marked set to batch keys changes nothing.
      val localKeys = localKeyFrame(spark, ups, key)
      def feedOf(probe: DataFrame): Option[DataFrame] =
        if (!recordChanges) None else Some {
          val probeN = localKeys
            .map(lk => probe.join(lk, key, "left_semi")).getOrElse(probe)
          val marked = probeN.select(key.map(col): _*).distinct()
            .withColumn("_graft_matched", lit(1))
          val post = ups.join(marked, key, "left")
            .withColumn("change_type",
              when(col("_graft_matched").isNull, lit("insert"))
                .otherwise(lit(if (preImages) "update_postimage" else "update")))
            .select(col("change_type") +: ups.columns.toSeq.map(col): _*)
          if (!preImages) post
          else post.unionByName(
            probe.join(localKeys.getOrElse(
                ups.select(key.map(col): _*).distinct()), key,
              "left_semi")
              .select(lit("update_preimage").as("change_type") +:
                ups.columns.toSeq.map(col): _*))
        }
      // the anti-join's probe side is the updates' DISTINCT KEY
      // projection, not the full update rows (r16, guide §2.3/§3.1):
      // semantically identical for a left_anti equi-join, but the
      // narrower pre-aggregated side shuffles O(distinct keys × key
      // width) instead of full rows, and AQE sees its true (small)
      // materialized size and converts the join to broadcast-hash at
      // runtime — measured 0.50 → 0.22 s per merge write at bench
      // sizes (tools/ProfileMergeShape), with no forced broadcast, so
      // an executor-sized batch still degrades gracefully to SMJ.
      //
      // r17 (guide §3.1, §2.4): when the batch's key projection is
      // provably small — one capped limit-collect, early-exit on
      // overflow ([[localKeyFrame]] above feedOf) — the keys become a
      // broadcast LOCAL relation and the anti-join plans as a straight
      // broadcast-hash join: the base side is never shuffled AT ALL
      // (the r16 shape still paid the base-side exchange
      // materialization before AQE's local read), and the write
      // collapses to one stage. Over-cap batches keep the r16 shape —
      // the guard that makes executor-sized updates degrade to a
      // shuffle instead of an executor OOM.
      def upsKeys = localKeys.getOrElse(
        ups.select(key.map(col): _*).distinct())
      if (!scoped) {
        val feed = feedOf(cur)
        val merged = cur.join(upsKeys, key, "left_anti").unionByName(ups)
        (merged, Sidecars(changes = feed,
          updateKey = if (recordChanges && !preImages) Some(key) else None))
      } else {
        val snapDir = s"$tableDir/snap-$base"
        require(fc(spark).util().exists(new Path(manifestDir(snapDir))),
          s"scoped merge needs a stats manifest on ${key.mkString(", ")} " +
            s"in version $base")
        // a scoped merge reuses base files RAW (no readVersion in the
        // touched-row path), so a pending merge-on-read delete set —
        // keyed or positional — would resurrect deleted rows; fold it
        // first with a full rewrite
        require(!fc(spark).util().exists(new Path(s"$snapDir/_mor_deletes")),
          s"scoped merge on $tableDir with a pending merge-on-read " +
            "delete set: fold it first (compact or an unscoped write)")
        require(!fc(spark).util().exists(new Path(s"$snapDir/_pos_deletes")),
          s"scoped merge on $tableDir with pending positional delete " +
            "vectors: fold them first (compact or an unscoped write)")
        // the touched/untouched decision runs IN SPARK over the
        // (rebased) manifest frame: only the TOUCHED selection — the
        // small side of a scoped CDC merge by construction — reaches
        // the driver, as the FileStatus list the pruned scan needs
        // anyway. The untouched majority stays a frame end to end:
        // carried manifest rows and the reference list write back
        // without ever materializing O(table files) on the driver.
        val pairs = mapAt(spark, tableDir, base)
        val pkey = key.map(k => k -> physicalOf(pairs, k))
        val rebased = carriedManifestOf(spark, tableDir, base).get
        // the update-key envelope: 2·|key| scalars to the driver
        val envAggs = key.flatMap(k => Seq(min(col(k)), max(col(k))))
        val env = updates.agg(envAggs.head, envAggs.tail: _*).head()
        val bounds = key.indices.map(i => (env.get(2 * i), env.get(2 * i + 1)))
        // composite intersection: touched iff EVERY key column's file
        // interval intersects that column's update envelope. NULL
        // stats (all-null key in that file) can never match an
        // equi-key update — the isNotNull guards park those rows on
        // the carried side. A column whose update envelope is all-NULL
        // means no update row carries a complete key (equi-join on the
        // full key can match nothing) → every file is carried
        // untouched. Literal comparisons coerce across the narrow/wide
        // manifest generations type widening creates.
        val touchCond = pkey.zip(bounds).map { case ((_, pk), (lo, hi)) =>
          col(s"min_$pk").isNotNull && col(s"max_$pk").isNotNull &&
            col(s"max_$pk") >= lit(lo) && col(s"min_$pk") <= lit(hi)
        }.reduce(_ && _)
        val noCompleteKey = bounds.exists(_._1 == null)
        val touchedSel =
          if (noCompleteKey) rebased.limit(0) else rebased.filter(touchCond)
        val untouchedSel =
          if (noCompleteKey) rebased else rebased.filter(!touchCond)
        val touchedRows =
          prunedScan(spark, tableDir, snapDir, touchedSel, pairs)
            // pruned raw scan (widened schema pinned) → logical names
            // before the logical-keyed anti-join
            .map(raw => mapLogical(raw, pairs))
            .getOrElse(cur.limit(0))
        val merged = touchedRows.join(upsKeys, key, "left_anti")
          .unionByName(updates)
        // feed classification probes only the TOUCHED rows — the same
        // manifest-pruned scan the merge itself reads (see [[feedOf]])
        (merged, Sidecars(changes = feedOf(touchedRows),
          updateKey = if (recordChanges && !preImages) Some(key) else None,
          refs = Some(untouchedSel.select(col("file").as("path"))),
          carriedManifest = Some(untouchedSel)))
      }
    }
  }

  /** O(batch) APPEND — the most common lake write: the batch's rows
    * land as this commit's OWN data files and EVERY base data file is
    * carried by reference with its manifest row intact — zero base
    * reads, zero rewrites, write cost O(batch) at any table size
    * (the insert-only path copy-on-write [[merge]] pays an anti-join
    * and a full rewrite for). Requires a stats manifest on the base
    * (any `statsColumns` commit publishes one — the carried rows ARE
    * the manifest) and, like the scoped merge, refuses pending
    * merge-on-read sidecars (carrying a base file raw under a pending
    * delete set would resurrect deleted rows — fold first).
    * `recordChanges` records the batch as `insert` feed rows, which
    * keeps [[Views.refreshView]] maintenance O(batch) end to end:
    * O(batch) write, O(changes) view delta, zero table-size terms
    * anywhere in the ingest path. The batch must match the table's
    * columns (strict — appends cannot evolve schema); expectations are
    * enforced on the new rows (the carried rows passed at their own
    * commit time).
    */
  def append(
      spark: SparkSession,
      tableDir: String,
      rows: DataFrame,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      maxRetries: Int = 10): Long =
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) {
      (base, cur) =>
        val snapDir = s"$tableDir/snap-$base"
        require(cur.columns.toSet == rows.columns.toSet,
          s"append batch columns ${rows.columns.toSeq} do not match the " +
            s"table's ${cur.columns.toSeq} (appends cannot evolve schema)")
        // strict TYPE contract, same as mergeOnRead's and for the same
        // mixed-footer reason: the batch's files land NEXT TO base files
        // carried by reference, and stage() declares the version's
        // _schema from the new rows alone — a divergent type (IntegerType
        // beside the base's LongType) would commit fine and then corrupt
        // or fail every later read of the carried files
        locally {
          val curT = cur.schema.map(f => f.name -> f.dataType).toMap
          val rowsT = rows.schema.map(f => f.name -> f.dataType).toMap
          val diverged = curT.collect {
            case (c, t) if rowsT(c) != t => s"$c: ${rowsT(c)} vs table $t"
          }
          require(diverged.isEmpty,
            s"append batch schema diverges from the table's on $tableDir " +
              s"(${diverged.mkString("; ")}) — appends cannot evolve types")
        }
        require(!fc(spark).util().exists(new Path(s"$snapDir/_mor_deletes")),
          s"append on $tableDir with a pending merge-on-read delete " +
            "set: fold it first (compact or a full rewrite)")
        require(!fc(spark).util().exists(new Path(s"$snapDir/_pos_deletes")),
          s"append on $tableDir with pending positional delete vectors: " +
            "fold them first (compact or a full rewrite)")
        val rebased = carriedManifestOf(spark, tableDir, base).getOrElse(
          throw new IllegalArgumentException(
            s"append needs a stats manifest on $tableDir version $base " +
              "(commit/merge with statsColumns): the carried-by-" +
              "reference rows are the manifest"))
        val aligned = rows.select(cur.columns.map(col).toIndexedSeq: _*)
        val feed = if (!recordChanges) None else Some(
          aligned.select(lit("insert").as("change_type") +:
            aligned.columns.toSeq.map(col): _*))
        (aligned, Sidecars(changes = feed,
          refs = Some(rebased.select(col("file").as("path"))),
          carriedManifest = Some(rebased)))
    }

  /** Copy-on-write DELETE: rows where `predicate` is TRUE are dropped;
    * rows where it is FALSE **or NULL** are kept (SQL `DELETE WHERE`
    * semantics — a NULL predicate never deletes). Commits the survivors
    * as a new version; same copy-on-write cost note as [[merge]].
    */
  def delete(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      maxRetries: Int = 10): Long =
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) { (_, cur) =>
      val hit = coalesce(predicate, lit(false))
      val feed = if (!recordChanges) None else Some(
        cur.filter(hit).select(
          lit("delete").as("change_type") +: cur.columns.toSeq.map(col): _*))
      (cur.filter(!hit), Sidecars(changes = feed))
    }

  /** Manifest-pruned range DELETE — the RETENTION op: `DELETE WHERE
    * lo <= column <= hi` (a `null` bound is unbounded on that side),
    * deciding each file's fate from its manifest row alone:
    *
    *  - envelope DISJOINT from the range (or all-NULL stats: the file
    *    holds only NULLs, which SQL DELETE keeps) → carried into the
    *    new version BY REFERENCE, never read;
    *  - envelope CONTAINED in the range and `nulls_column = 0` → the
    *    file is DROPPED from the manifest whole — no read, no write,
    *    no reference (history still holds it until [[expire]]);
    *  - anything else (straddlers, or contained files whose NULL rows
    *    the predicate must keep, or legacy manifests without the
    *    `nulls_` stat) → rewritten with the row-level filter.
    *
    * Evicting an expired time band from a 100 TB table this way costs
    * O(straddling files) — with a day-clustered layout that is the two
    * boundary files, where [[delete]] pays a full table rewrite. NULL
    * semantics are SQL DELETE's: a NULL `column` never matches the
    * predicate and survives. With `recordChanges` the feed must
    * enumerate the deleted rows, so dropped and rewritten files ARE
    * read once — the documented price of CDF on an otherwise
    * metadata-sized commit.
    */
  def deleteRange(
      spark: SparkSession,
      tableDir: String,
      column: String,
      lo: Any,
      hi: Any,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      maxRetries: Int = 10): Long = {
    require(lo != null || hi != null,
      "deleteRange with both bounds null would delete every non-NULL row" +
        " — use delete(col.isNotNull) if that is really meant")
    require(statsColumns.contains(column),
      s"deleteRange decides file fates from $column's manifest stats — " +
        s"pass it in statsColumns (got $statsColumns) so the rewritten " +
        "files' rows stay prunable")
    val ctx = fc(spark)
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) {
      (base, cur) =>
        val snapDir = s"$tableDir/snap-$base"
        require(ctx.util().exists(new Path(manifestDir(snapDir))),
          s"deleteRange prunes from the manifest — version $base of " +
            s"$tableDir has none (commit with statsColumns first)")
        require(!ctx.util().exists(new Path(s"$snapDir/_mor_deletes")),
          s"deleteRange on $tableDir with a pending merge-on-read delete " +
            "set: fold it first (compact or an unscoped write)")
        require(!ctx.util().exists(new Path(s"$snapDir/_pos_deletes")),
          s"deleteRange on $tableDir with pending positional delete " +
            "vectors: fold them first (compact or an unscoped write)")
        // fates run IN SPARK over the rebased manifest frame: only the
        // selections that must be READ reach the driver (straddlers
        // always — O(boundary files); dropped files only under
        // recordChanges, the documented price of CDF on an otherwise
        // metadata-sized commit). Carried rows — the bulk of a
        // retention delete on a big table — stay a frame end to end.
        val pairs = mapAt(spark, tableDir, base)
        val ph = physicalOf(pairs, column)
        val rebased = carriedManifestOf(spark, tableDir, base).get
        val hasNullStat = rebased.columns.contains(s"nulls_$ph")
        val mn = col(s"min_$ph"); val mx = col(s"max_$ph")
        // all-NULL stats → the file holds only NULLs, which SQL DELETE
        // keeps; literal comparisons coerce across narrow/wide manifest
        // generations (type widening)
        val disjoint =
          (if (lo == null) lit(false) else mx < lit(lo)) ||
            (if (hi == null) lit(false) else mn > lit(hi))
        val carryCond = mn.isNull || mx.isNull || disjoint
        val contained =
          (if (lo == null) lit(true) else mn >= lit(lo)) &&
            (if (hi == null) lit(true) else mx <= lit(hi))
        // a NULL nulls_ stat (legacy carried row from a pre-nulls
        // chain) means UNKNOWN — the metadata-only drop is only sound
        // when the zero is a recorded fact, so such files rewrite
        val dropCond = !carryCond && contained &&
          (if (hasNullStat) coalesce(col(s"nulls_$ph") === 0L, lit(false))
           else lit(false))
        val carriedSel = rebased.filter(carryCond)
        val droppedSel = rebased.filter(dropCond)
        val straddlerSel = rebased.filter(!carryCond && !dropCond)
        val c = col(ph)
        val matches = (if (lo == null) lit(true) else c >= lit(lo)) &&
          (if (hi == null) lit(true) else c <= lit(hi))
        val kept = prunedScan(spark, tableDir, snapDir, straddlerSel, pairs)
          .map(raw => mapLogical(raw.filter(!coalesce(matches, lit(false))), pairs))
          .getOrElse(cur.limit(0))
        val feed = if (!recordChanges) None else Some {
          val gone = prunedScan(spark, tableDir, snapDir,
              droppedSel.unionByName(straddlerSel), pairs)
            .map(raw => mapLogical(raw.filter(coalesce(matches, lit(false))), pairs))
            .getOrElse(cur.limit(0))
          gone.select(lit("delete").as("change_type") +:
            gone.columns.toSeq.map(col): _*)
        }
        (kept, Sidecars(changes = feed,
          refs = Some(carriedSel.select(col("file").as("path"))),
          carriedManifest = Some(carriedSel)))
    }
  }

  /** MERGE-ON-READ delete (the deletion-vector trade, vs [[delete]]'s
    * copy-on-write): rows matching `predicate` are recorded as a
    * delete-KEY sidecar (`_mor_deletes`, the projection of the matched
    * rows onto `key`), every data file of the base version is carried
    * into the new snapshot BY REFERENCE, and readers anti-join the
    * sidecar at scan time. Write cost is O(matched keys) — no data
    * file is rewritten, the trade that makes a small delete on a
    * 100 TB table a metadata-sized commit. Read cost is one hash
    * anti-join until a full rewrite ([[merge]], [[delete]],
    * [[compact]]) folds the set away — exactly the write-amplification
    * / read-amplification dial real formats expose. Repeated MoR
    * deletes ACCUMULATE (the sidecar unions, distinct on key); the
    * predicate evaluates against the LIVE view, so re-deleting
    * already-deleted rows is a no-op. `key` must uniquely identify
    * rows for the anti-join to delete exactly the matched rows.
    * Scoped merges refuse a table with a pending delete set (fold
    * first — their raw-file row reuse would resurrect deleted rows);
    * stats/bloom manifests are carried forward untouched, so file
    * skipping keeps working over the referenced layout.
    */
  def deleteMergeOnRead(
      spark: SparkSession,
      tableDir: String,
      predicate: Column,
      key: Seq[String],
      statsColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      maxRetries: Int = 10): Long = {
    require(key.nonEmpty, "merge-on-read delete needs delete keys")
    val ctx = fc(spark)
    // statsColumns follows the merge/compact convention: pass the same
    // columns the base writes so the (empty) own manifest's columns align
    // with the carried rows and nothing is projected away
    occLoop(spark, tableDir, statsColumns, Nil, maxRetries) { (base, cur) =>
      val snapDir = s"$tableDir/snap-$base"
      val morMap = mapAt(spark, tableDir, base)
      // feed rows are built logical and normalized HERE — this commit
      // is pure-reference, so stage leaves its sidecars untouched
      val feed = if (!recordChanges) None else Some(
        unmapToPhysical(cur.filter(predicate), morMap).select(
          lit("delete").as("change_type") +:
            unmapToPhysical(cur, morMap).columns.toSeq.map(col): _*))
      // delete keys from the LIVE view (existing sidecar already applied
      // by readVersion), unioned with the pending set, distinct per key.
      // The pending sidecar is stored under PHYSICAL names — present it
      // logically before the logical-keyed union (stage normalizes the
      // result back).
      val fresh = cur.filter(predicate).select(key.map(col): _*)
      val pendingP = new Path(s"$snapDir/_mor_deletes")
      val dels =
        (if (!ctx.util().exists(pendingP)) fresh
         else fresh.unionByName(
           mapLogical(readSidecar(spark, pendingP.toString), morMap)
             .select(key.map(col): _*)))
          .distinct()
      // a pending POSITIONAL sidecar must ride along — this commit
      // re-references the same files, so dropping it would resurrect
      // positionally-deleted rows
      val pendingPos = new Path(s"$snapDir/_pos_deletes")
      val posCarry =
        if (!ctx.util().exists(pendingPos)) None
        else Some(readSidecar(spark, pendingPos.toString))
      // normalize the fresh logical keys to physical HERE (stage treats
      // pure-reference sidecars as already-physical — carried sets must
      // not be re-unmapped under a freed-name-reuse map). The staged
      // marker is the RAW (physical-named) empty frame, per the
      // pure-reference convention: the marker file and the `_schema`
      // sidecar derived from it sit next to physical-named data files,
      // and a logical-named marker would poison any schema taken from
      // this commit (the r10 committed-schema path caught this).
      (readVersionRaw(spark, tableDir, base).limit(0),
        Sidecars(changes = feed, refs = Some(rootRelativeFiles(spark, tableDir, base)),
          carriedManifest = carriedManifestOf(spark, tableDir, base),
          morDeletes = Some(unmapToPhysical(dels, morMap)),
          posDeletes = posCarry,
          pureReference = true))
    }
  }

  /** A version's data files as table-root-relative reference paths —
    * a DATAFRAME, never a driver-side list: own files (one driver
    * directory listing, O(this commit's own files) — bounded by a
    * single write's fan-out, not table size) unioned with the
    * inherited `_refs` sidecar read AS-IS. A pure-reference commit on
    * a 10⁶-file table therefore re-publishes its reference list
    * without ever materializing 10⁶ paths on the driver.
    */
  private def rootRelativeFiles(
      spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    import spark.implicits._
    val snapDir = s"$tableDir/snap-$v"
    val ctx = fc(spark)
    val own = ctx.util().listStatus(new Path(snapDir)).iterator
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(st => s"snap-$v/${st.getPath.getName}").toSeq
    val ownDf = own.toDF("path")
    if (!ctx.util().exists(new Path(s"$snapDir/_refs"))) ownDf
    else ownDf.unionByName(
      readSidecar(spark, s"$snapDir/_refs").select(col("path")))
  }

  /** A version's stats manifest with its file paths rebased to
    * table-root-relative form — the carry every pure-reference commit
    * republishes so file skipping keeps covering the shared layout.
    * Pure column transform — the manifest never rides the driver.
    */
  private def carriedManifestOf(
      spark: SparkSession, tableDir: String, v: Long): Option[DataFrame] = {
    val snapDir = s"$tableDir/snap-$v"
    if (!fc(spark).util().exists(new Path(manifestDir(snapDir)))) None
    else Some(readSidecar(spark, manifestDir(snapDir))
      .withColumn("file",
        when(col("file").contains("/"), col("file"))
          .otherwise(concat(lit(s"snap-$v/"), col("file")))))
  }

  /** MERGE-ON-READ upsert (the positional-deletion-vector MERGE of the
    * v2 table formats, complementing [[deleteMergeOnRead]]'s keyed
    * deletes): update rows land as this commit's OWN data files,
    * matched base rows are superseded by `(file, row_index)`
    * coordinates appended to the `_pos_deletes` sidecar, and every
    * base data file rides by reference. Write cost is O(updates +
    * matched coordinates) — a CDC batch against a 100 TB table commits
    * in seconds where copy-on-write rewrites files. Positional (not
    * keyed) addressing is what keeps ACCUMULATION correct: a key
    * updated again later supersedes the PREVIOUS update's row by its
    * file coordinates, never its own newest row, because part-file
    * names are write-job-unique. Readers pay one anti-join until
    * [[compact]] (or any full rewrite) folds the vectors away — the
    * standard read-amplification dial. Refuses a pending KEYED delete
    * set (its key-wide anti-join would also delete this commit's new
    * rows — fold first); [[merge]]'s scoped mode refuses pending
    * vectors for the mirror reason.
    */
  def mergeOnRead(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      key: Seq[String],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      maxRetries: Int = 10): Long = {
    require(key.nonEmpty, "merge-on-read upsert needs merge keys")
    val ctx = fc(spark)
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) { (base, cur0) =>
      val snapDir = s"$tableDir/snap-$base"
      require(!ctx.util().exists(new Path(s"$snapDir/_mor_deletes")),
        s"merge-on-read upsert on $tableDir with a pending keyed delete " +
          "set: fold it first (compact or an unscoped write)")
      // strict schema contract, same as copy-on-write merge's unionByName:
      // update files land NEXT TO referenced base files, so a silently
      // divergent schema would corrupt every later mixed-footer read
      val curT = cur0.schema.map(f => f.name -> f.dataType).toMap
      val updT = updates.schema.map(f => f.name -> f.dataType).toMap
      require(curT.keySet == updT.keySet &&
          curT.forall { case (c, t) => updT(c) == t },
        s"merge-on-read upsert schema mismatch on $tableDir: table has " +
          s"${cur0.schema.simpleString}, updates have " +
          s"${updates.schema.simpleString}")
      // stage the updates in the TABLE's column order
      val ups = updates.select(cur0.columns.map(col).toIndexedSeq: _*)
      // live base rows WITH file coordinates: raw scan + provenance
      // columns, pending positional deletes applied on those columns,
      // presented under logical names for the logical-keyed semi-join
      // (provenance columns are unmapped and pass through).
      //
      // r16 PRUNED PROBE: the matched coordinates (and the feed's
      // key-existence classification below) can only come from files
      // whose per-key stats envelope intersects the update batch's —
      // an equality probe cannot match a file the envelope rules out.
      // With a manifest carrying every merge key's envelope the probe
      // therefore reads O(touched files) instead of the whole table
      // (the scoped merge's envelope rule applied to the MoR probe);
      // tables without one keep the full-file probe. `None` means the
      // probe is PROVABLY empty (no touched file, or no update row
      // carries a complete key — an equi-join can match nothing).
      val morMap = mapAt(spark, tableDir, base)
      val pkeyM = key.map(k => physicalOf(morMap, k))
      val probeRaw: Option[DataFrame] =
        carriedManifestOf(spark, tableDir, base)
          .filter(man => pkeyM.forall(pk =>
            man.columns.contains(s"min_$pk") &&
              man.columns.contains(s"max_$pk"))) match {
          case None =>
            Some(readParquetRaw(spark, morMap,
              dataFiles(spark, tableDir, base)))
          case Some(man) =>
            val envAggs = key.flatMap(k => Seq(min(col(k)), max(col(k))))
            val env = ups.agg(envAggs.head, envAggs.tail: _*).head()
            val bounds = key.indices.map(i =>
              (env.get(2 * i), env.get(2 * i + 1)))
            if (bounds.exists(_._1 == null)) None
            else {
              val touchCond = pkeyM.zip(bounds).map { case (pk, (lo, hi)) =>
                col(s"min_$pk").isNotNull && col(s"max_$pk").isNotNull &&
                  col(s"max_$pk") >= lit(lo) && col(s"min_$pk") <= lit(hi)
              }.reduce(_ && _)
              prunedScan(spark, tableDir, snapDir, man.filter(touchCond),
                morMap)
            }
        }
      val live: Option[DataFrame] = probeRaw.map(raw =>
        mapLogical(applyPosDeletes(spark, snapDir,
          raw.withColumn("_graft_f", scanFileName)
            .withColumn("_graft_i", col("_metadata.row_index"))),
          morMap))
      // r17: same broadcast-local key probe as the copy-on-write merge
      // ([[localKeyFrame]]) — the matched-coordinate semi-join and the
      // feed's existence probe never shuffle the live side when the
      // batch keys collect under the cap
      val localKeys = localKeyFrame(spark, ups, key)
      val matched = live
        .map(_.join(localKeys.getOrElse(
            ups.select(key.map(col): _*).distinct()), key,
          "left_semi")
          .select(col("_graft_f").as("file"), col("_graft_i").as("idx")))
        .getOrElse(spark.range(0).select(
          col("id").cast("string").as("file"), col("id").as("idx")))
      // write-time CDF, same classification as the copy-on-write merge
      // ([[feedOf]] there): a mergeOnRead inside a recorded window must
      // not tear a hole in the feed ([[changesFeed]] refuses gapped
      // windows by design). The existence probe is the same pruned
      // live frame as the coordinates — a key outside every touched
      // file's envelope classifies `insert`, which is exactly what the
      // full probe would have concluded.
      val feed = if (!recordChanges) None else Some {
        val marked = live.map { lv =>
          val lvN = localKeys
            .map(lk => lv.join(lk, key, "left_semi")).getOrElse(lv)
          lvN.select(key.map(col): _*)
        }
          .getOrElse(cur0.select(key.map(col): _*).limit(0))
          .distinct().withColumn("_graft_matched", lit(1))
        ups.join(marked, key, "left")
          .withColumn("change_type",
            when(col("_graft_matched").isNull, lit("insert"))
              .otherwise(lit("update")))
          .select(col("change_type") +: ups.columns.toSeq.map(col): _*)
      }
      val pendingP = new Path(s"$snapDir/_pos_deletes")
      val dels =
        (if (!ctx.util().exists(pendingP)) matched
         else matched.unionByName(readSidecar(spark, pendingP.toString)))
          .distinct()
      (ups,
        Sidecars(changes = feed,
          updateKey = if (recordChanges) Some(key) else None,
          refs = Some(rootRelativeFiles(spark, tableDir, base)),
          carriedManifest = carriedManifestOf(spark, tableDir, base),
          posDeletes = Some(dels)))
    }
  }

  /** RESTORE TO VERSION (Delta `RESTORE`, Iceberg rollback): publish
    * version `toVersion`'s logical state as a NEW commit that
    * REFERENCES its files — history stays intact (the bad versions
    * remain time-travelable for forensics), the rollback costs
    * O(metadata) regardless of table size, and concurrent writers are
    * arbitrated by the same optimistic claim as every other commit.
    * The restored commit carries the target's manifest, delete
    * sidecars, and partition spec, so skipping, merge-on-read
    * semantics, and hidden-partition pruning all behave exactly as
    * they did at `toVersion`; reference-aware retention GC keeps the
    * shared files alive for as long as the restore is retained.
    */
  def restore(
      spark: SparkSession,
      tableDir: String,
      toVersion: Long,
      maxRetries: Int = 10): Long = {
    val cap = version(spark, tableDir)
    require(toVersion >= 1 && toVersion <= cap,
      s"cannot restore $tableDir to version $toVersion (latest: $cap)")
    val ctx = fc(spark)
    val snapDir = s"$tableDir/snap-$toVersion"
    def sidecar(name: String): Option[DataFrame] = {
      val p = new Path(s"$snapDir/$name")
      if (!ctx.util().exists(p)) None else Some(readSidecar(spark, p.toString))
    }
    occLoop(spark, tableDir, Nil, Nil, maxRetries, inheritSpec = false,
      specOverride = _ => partitionSpecs(spark, tableDir, toVersion)) { (base, _) =>
      // the TARGET version's column map must be restored too — inheriting
      // the (possibly renamed) base's map would misname the restored
      // state. When the target predates every rename but the base has a
      // map, publish the target's identity map explicitly: leaving the
      // sidecar unset would inherit the base's.
      val targetMap = columnMapDfAt(spark, snapDir).orElse {
        if (mapAt(spark, tableDir, base).isEmpty) None
        else Some(columnMapDf(spark, ColMap(
          readVersionRaw(spark, tableDir, toVersion).schema.fieldNames.toSeq
            .map(c => (c, c)), Nil)))
      }
      (readVersionRaw(spark, tableDir, toVersion).limit(0),
        Sidecars(
          refs = Some(rootRelativeFiles(spark, tableDir, toVersion)),
          carriedManifest = carriedManifestOf(spark, tableDir, toVersion),
          morDeletes = sidecar("_mor_deletes"),
          posDeletes = sidecar("_pos_deletes"),
          pureReference = true,
          columnMap = targetMap))
    }
  }

  /** RENAME WITHOUT REWRITE (`ALTER TABLE RENAME COLUMN`): a
    * metadata-only OCC commit that carries every data file, manifest
    * row, and delete sidecar of the base version BY REFERENCE and
    * publishes an updated `_column_map` — data files keep their
    * immutable physical column names, readers see the new logical name,
    * probe APIs translate, and subsequent writes normalize back to the
    * physical schema (see the column-mapping block above). Cost is
    * O(manifest) whatever the table size — the Iceberg field-id
    * contract, which Hive-style rename-by-rewrite breaks at 100 TB.
    * Renames COMPOSE (a→b then b→c), names freed by an earlier rename
    * can be reused, and time travel / RESTORE read each version under
    * the names it had when committed. Refuses an unknown source column
    * or a target name already in use.
    */
  def renameColumn(
      spark: SparkSession,
      tableDir: String,
      from: String,
      to: String,
      maxRetries: Int = 10): Long = {
    require(from != to, s"rename of '$from' to itself")
    require(to.nonEmpty && !to.contains(".") && !to.contains("/"),
      s"bad column name '$to'")
    val ctx = fc(spark)
    ddlLoop(spark, tableDir, maxRetries) { base =>
      val raw = readVersionRaw(spark, tableDir, base)
      val cm = effectiveMap(spark, tableDir, base, raw)
      require(cm.pairs.exists(_._1 == from),
        s"no column '$from' on $tableDir " +
          s"(columns: ${cm.pairs.map(_._1).mkString(", ")})")
      require(!cm.pairs.exists(_._1 == to),
        s"column '$to' already exists on $tableDir")
      val renamed = cm.copy(pairs = cm.pairs.map { case (lg, ph) =>
        (if (lg == from) to else lg, ph) })
      // stage from the RAW schema: the commit's (empty) own parquet
      // must carry physical names so mixed-footer reads never fork
      (raw.limit(0),
        pureRefSidecars(spark, ctx, tableDir, base, raw)
          .copy(columnMap = Some(columnMapDf(spark, renamed))))
    }
  }

  /** DROP COLUMN WITHOUT REWRITE: a metadata-only commit that carries
    * every file by reference and publishes a column map with the
    * column TOMBSTONED — readers hide it immediately (even though old
    * files still store its bytes), and subsequent rewrites (merge,
    * delete, compact) physically shed it file by file. The dropped
    * logical name is reusable as a RENAME TARGET only: [[stage]]
    * refuses any write that directly re-introduces a column named
    * like the dropped PHYSICAL name (for a never-renamed column that
    * is the same string), because old files still carry bytes under
    * it — re-add under a fresh name, then rename onto the freed one
    * (RenameCloneSpec pins both sides). This is Iceberg/Delta
    * drop-column semantics:
    * O(manifest) at any table size, with the physical bytes reclaimed
    * lazily by normal rewrite churn rather than an eager table rewrite.
    * Refused while table metadata still depends on the column: a
    * pending keyed merge-on-read delete sidecar on it, a table
    * expectation naming it, or a partition-spec transform over it —
    * each would break loudly later, so the drop fails loudly now.
    */
  def dropColumn(
      spark: SparkSession,
      tableDir: String,
      name: String,
      maxRetries: Int = 10): Long = {
    val ctx = fc(spark)
    ddlLoop(spark, tableDir, maxRetries) { base =>
      val snapDir = s"$tableDir/snap-$base"
      val raw = readVersionRaw(spark, tableDir, base)
      val cm = effectiveMap(spark, tableDir, base, raw)
      require(cm.pairs.exists(_._1 == name),
        s"no column '$name' on $tableDir " +
          s"(columns: ${cm.pairs.map(_._1).mkString(", ")})")
      require(cm.pairs.size > 1,
        s"cannot drop the last column of $tableDir")
      val ph = cm.pairs.find(_._1 == name).get._2
      // dependency guards — each of these would fail at a later read
      // or write in a confusing place; refuse here with the cause
      val morP = new Path(s"$snapDir/_mor_deletes")
      if (ctx.util().exists(morP))
        require(!readSidecar(spark, morP.toString).columns.contains(ph),
          s"cannot drop '$name': a pending merge-on-read delete set is " +
            "keyed by it — fold the deletes first (compact or rewrite)")
      val exps = loadExpectations(spark, ctx, tableDir, base)
      val depExp = exps.filter { case (_, e) =>
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(e).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.name
          }.exists(r => r == name || r == ph)
      }
      require(depExp.isEmpty,
        s"cannot drop '$name': table expectation(s) " +
          s"${depExp.map(_._1).mkString(", ")} reference it — " +
          "re-declare or remove them first")
      val (specs, _) = partitionSpecs(spark, tableDir, base)
      require(!specs.exists(_._2.exists(_.column == ph)),
        s"cannot drop '$name': a partition spec transforms it — " +
          "evolve the spec first")
      // copy, not construct: `widened` must survive the drop — losing
      // it would stop pinning wide schemas and break mixed-file scans
      (raw.limit(0),
        pureRefSidecars(spark, ctx, tableDir, base, raw)
          .copy(columnMap = Some(columnMapDf(spark, cm.copy(
            pairs = cm.pairs.filterNot(_._1 == name),
            dropped = (cm.dropped :+ ph).distinct,
            widened = cm.widened.filterNot(_._1 == ph))))))
    }
  }

  /** Safe type promotions for [[widenColumn]] (Iceberg/Delta's
    * type-widening whitelist): every value of the narrow type is
    * exactly representable in the wide one, so old files' bytes read
    * back unchanged. Narrow types stay ≤ 32 bits — that also keeps
    * mixed-width stat comparisons exact when Spark's literal/union
    * type coercion widens them in the manifest filter conditions.
    */
  private val WidenOk: Map[String, Set[String]] = Map(
    "tinyint" -> Set("smallint", "int", "bigint", "double"),
    "smallint" -> Set("int", "bigint", "double"),
    "int" -> Set("bigint", "double"),
    "float" -> Set("double"))

  /** WIDEN COLUMN TYPE without rewrite (`ALTER COLUMN ... TYPE`,
    * Iceberg type promotion / Delta type widening): a metadata-only
    * commit records the column's new READ type in the column map;
    * every raw scan thereafter pins the wide schema, so pre-widening
    * files' narrow values upcast at read while post-widening writes
    * store the wide type physically — the table legitimately mixes
    * narrow and wide files under one physical name, and no file is
    * rewritten. Only exact promotions are allowed ([[WidenOk]]).
    * Refused when the column carries a BLOOM sketch (xxhash64 is
    * type-sensitive: probes cast to the wide type would silently miss
    * every pre-widening file — a correctness bug, not a perf one) or a
    * partition-spec transform (bucket hashing is type-sensitive the
    * same way). Range stats stay sound: min/max prune by VALUE —
    * mixed-generation manifest rows meet the probe through Spark's own
    * literal/union type coercion in the pruning filter conditions and
    * through `unionByName` widening, both exact over the ≤ 32-bit
    * narrow side.
    */
  def widenColumn(
      spark: SparkSession,
      tableDir: String,
      name: String,
      toType: String,
      maxRetries: Int = 10): Long = {
    val ctx = fc(spark)
    val target = org.apache.spark.sql.types.DataType.fromDDL(toType)
    ddlLoop(spark, tableDir, maxRetries) { base =>
      val snapDir = s"$tableDir/snap-$base"
      val raw = readVersionRaw(spark, tableDir, base)
      val cm = effectiveMap(spark, tableDir, base, raw)
      require(cm.pairs.exists(_._1 == name),
        s"no column '$name' on $tableDir " +
          s"(columns: ${cm.pairs.map(_._1).mkString(", ")})")
      val ph = cm.pairs.find(_._1 == name).get._2
      val cur = raw.schema(ph).dataType.simpleString
      val tgt = target.simpleString
      require(cur != tgt, s"column '$name' is already $tgt")
      require(WidenOk.get(cur).exists(_.contains(tgt)),
        s"cannot widen '$name' from $cur to $tgt — allowed: " +
          WidenOk.getOrElse(cur, Set.empty[String]).mkString(", "))
      val manifestP = new Path(manifestDir(snapDir))
      if (ctx.util().exists(manifestP))
        require(!readSidecar(spark, manifestP.toString).columns
            .contains(s"bloom_$ph"),
          s"cannot widen '$name': the manifest carries a bloom sketch " +
            "for it, and membership hashes are type-sensitive — wide " +
            "probes would silently miss pre-widening files. Rebuild " +
            "the table's blooms (full compact) first")
      val (specs, _) = partitionSpecs(spark, tableDir, base)
      require(!specs.exists(_._2.exists(t =>
          t.column == ph && t.spec._1 == "bucket")),
        s"cannot widen '$name': a bucket partition transform hashes it " +
          "and xxhash64 is type-sensitive — evolve the spec first")
      (raw.limit(0),
        pureRefSidecars(spark, ctx, tableDir, base, raw)
          .copy(columnMap = Some(columnMapDf(spark, cm.copy(widened =
            cm.widened.filterNot(_._1 == ph) :+ (ph -> tgt))))))
    }
  }

  /** The base version's map, identity-extended over the raw schema so
    * columns that joined after the last rename (schema evolution) are
    * renameable/droppable too. Dropped physicals never re-enter.
    */
  private def effectiveMap(
      spark: SparkSession,
      tableDir: String,
      v: Long,
      raw: DataFrame): ColMap = {
    val existing = mapAt(spark, tableDir, v).getOrElse(ColMap(Nil, Nil))
    val covered = existing.pairs.map(_._2).toSet ++ existing.dropped
    existing.copy(pairs = existing.pairs ++
      raw.schema.fieldNames.toSeq.filterNot(covered).map(c => (c, c)))
  }

  /** OCC loop for metadata-only DDL commits: no table read is built per
    * attempt (the generic [[occLoop]] constructs one — analysis cost a
    * pure-metadata commit never needs); spec inheritance matches
    * [[occLoop]]'s. `fn` resolves the base's raw frame ONCE and reuses
    * it for the map, the staged marker, and the empty feed.
    */
  private def ddlLoop(
      spark: SparkSession,
      tableDir: String,
      maxRetries: Int)(fn: Long => (DataFrame, Sidecars)): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val base = version(spark, tableDir)
      val (specsAll, curId) = partitionSpecs(spark, tableDir, base)
      val spec = specsAll.find(_._1 == curId).map(_._2).getOrElse(Nil)
      val (frame, sidecars) = fn(base)
      commitIfVersionWith(spark, frame, tableDir, base, Nil, Nil, sidecars,
        spec, allSpecs = specsAll, currentSpecId = curId) match {
        case Some(v) => return v
        case None => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"DDL on $tableDir lost $maxRetries optimistic races; giving up")
  }

  /** The standard carry set of a metadata-only DDL commit: every file
    * by reference, manifest verbatim, pending delete sidecars intact —
    * plus an explicitly EMPTY change feed, so a [[changesFeed]] window
    * spanning the DDL stays reconstructible ("this commit changed no
    * rows" is a recorded fact, not a gap).
    */
  private def pureRefSidecars(
      spark: SparkSession,
      ctx: FileContext,
      tableDir: String,
      base: Long,
      raw: DataFrame): Sidecars = {
    val snapDir = s"$tableDir/snap-$base"
    def sidecar(name: String): Option[DataFrame] = {
      val p = new Path(s"$snapDir/$name")
      if (!ctx.util().exists(p)) None
      else Some(readSidecar(spark, p.toString))
    }
    val emptyFeed = raw.limit(0).select(
      lit("ddl").cast("string").as("change_type") +:
        raw.columns.toSeq.map(col): _*)
    Sidecars(
      refs = Some(rootRelativeFiles(spark, tableDir, base)),
      carriedManifest = carriedManifestOf(spark, tableDir, base),
      morDeletes = sidecar("_mor_deletes"),
      posDeletes = sidecar("_pos_deletes"),
      pureReference = true,
      changes = Some(emptyFeed))
  }

  /** Remove a table expectation by name (the other half of
    * `addExpectations` — without it an expectation referencing a
    * column you want to drop pins the column forever): a metadata-only
    * OCC commit republishing the base's list minus `name`. All other
    * invariants keep enforcing; history still shows the expectation in
    * the versions that declared it.
    */
  def dropExpectation(
      spark: SparkSession,
      tableDir: String,
      name: String,
      maxRetries: Int = 10): Long = {
    val ctx = fc(spark)
    ddlLoop(spark, tableDir, maxRetries) { base =>
      val cur = loadExpectations(spark, ctx, tableDir, base)
      require(cur.exists(_._1 == name),
        s"no expectation '$name' on $tableDir " +
          s"(declared: ${cur.map(_._1).mkString(", ")})")
      val raw = readVersionRaw(spark, tableDir, base)
      (raw.limit(0),
        pureRefSidecars(spark, ctx, tableDir, base, raw)
          .copy(expectations = Some(cur.filterNot(_._1 == name))))
    }
  }

  /** The current (logical → physical) column mapping, identity when the
    * table has never been renamed — the introspection surface for
    * tooling and specs. Dropped columns do not appear.
    */
  def columnMapping(
      spark: SparkSession, tableDir: String): Seq[(String, String)] = {
    val v = version(spark, tableDir)
    require(v >= 1, s"no committed snapshot in $tableDir")
    effectiveMap(spark, tableDir, v, readVersionRaw(spark, tableDir, v)).pairs
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`, an Iceberg
    * snapshot-ref table): publish the source table's CURRENT state as
    * version 1 of a NEW table whose manifest and `_refs` point at the
    * source's data files by ABSOLUTE path — zero data bytes copied, so
    * cloning a 100 TB table costs O(manifest). The clone then evolves
    * independently: its commits claim versions in its own directory,
    * rewrites land clone-local files next to carried source references,
    * and the source never observes any of it. Everything the source
    * version pins rides along — stats/bloom manifest (file skipping
    * keeps pruning through the clone), partition specs, expectations,
    * column map, pending merge-on-read delete sidecars.
    *
    * Retention caveat (same as Delta's): the clone REFERENCES, it does
    * not pin. [[expire]] on the clone never deletes source files
    * (absolute references resolve outside its directory and are skipped
    * as GC roots by construction), but expire on the SOURCE does not
    * know about clones — retain (or [[tag]]) the cloned source version
    * for as long as any clone lives.
    */
  def cloneTable(
      spark: SparkSession,
      srcTableDir: String,
      dstTableDir: String,
      commitMillis: Option[Long] = None): Long = {
    val ctx = fc(spark)
    val v = version(spark, srcTableDir)
    require(v >= 1, s"no committed snapshot in $srcTableDir to clone")
    require(version(spark, dstTableDir) == 0,
      s"clone target $dstTableDir already has committed snapshots")
    val snapSrc = s"$srcTableDir/snap-$v"
    // absolute, scheme-qualified source root: references must resolve
    // from the CLONE's directory, so table-root-relative form won't do
    val qSrc = ctx.makeQualified(new Path(srcTableDir)).toString
    def sidecar(name: String): Option[DataFrame] = {
      val p = new Path(s"$snapSrc/$name")
      if (!ctx.util().exists(p)) None
      else Some(readSidecar(spark, p.toString))
    }
    val absRefs = rootRelativeFiles(spark, srcTableDir, v)
      .withColumn("path",
        when(col("path").startsWith("/") || col("path").contains(":/"),
          col("path"))
          .otherwise(concat_ws("/", lit(qSrc), col("path"))))
    val absManifest = carriedManifestOf(spark, srcTableDir, v).map(m =>
      m.withColumn("file",
        when(col("file").startsWith("/") || col("file").contains(":/"),
          col("file"))
          .otherwise(concat_ws("/", lit(qSrc), col("file")))))
    val (specs, curId) = partitionSpecs(spark, srcTableDir, v)
    val staged = stage(spark,
      readVersionRaw(spark, srcTableDir, v).limit(0), dstTableDir, Nil, Nil,
      Sidecars(
        refs = Some(absRefs),
        carriedManifest = absManifest,
        morDeletes = sidecar("_mor_deletes"),
        posDeletes = sidecar("_pos_deletes"),
        pureReference = true,
        columnMap = sidecar(ColumnMapName)),
      expectations = loadExpectations(spark, ctx, srcTableDir, v),
      commitMillis = commitMillis,
      allSpecs = specs,
      currentSpecId = curId)
    if (!tryClaim(ctx, staged, new Path(dstTableDir, "snap-1"))) {
      ctx.delete(staged, true)
      throw new FileAlreadyExistsException(
        s"clone target $dstTableDir was claimed concurrently")
    }
    refreshPointer(ctx, dstTableDir, 1L)
    1L
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's spec-id-per-file model): append
    * `rows` clustered under `newSpec` while every existing data file is
    * carried BY REFERENCE in the layout — and with the manifest
    * envelope — of the spec it was originally written under. No file is
    * rewritten: the commit costs O(new rows), which is the entire point
    * of spec evolution on a 100 TB table (a layout change that forced a
    * rewrite would never be run). The new spec is registered with a
    * fresh spec id and becomes the table DEFAULT — subsequent commits
    * (OCC rewrites inherit the full spec set) cluster under it, while
    * pruned readers ([[selectFilesPartitioned]], [[readPartitionedIn]],
    * [[scanPartitioned]]) judge each file against ITS OWN spec via the
    * manifest's per-row `spec_id` and union the per-spec selections.
    * Files whose spec doesn't cover a probed column are kept (correct
    * superset) — old-layout data never silently vanishes from pruned
    * reads, it just prunes on its own spec's terms.
    *
    * `statsColumns` follows the merge/compact convention: pass the same
    * columns the base writes so new-file manifest rows align with the
    * carried rows.
    */
  def evolvePartitionSpec(
      spark: SparkSession,
      tableDir: String,
      rows: DataFrame,
      newSpec: Seq[Transform],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      maxRetries: Int = 10): Long = {
    require(newSpec.nonEmpty, "evolvePartitionSpec needs a non-empty spec")
    val ctx = fc(spark)
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries,
      inheritSpec = false,
      specOverride = base => {
        val (specs, _) = partitionSpecs(spark, tableDir, base)
        // fresh id ABOVE every known spec; pre-spec files read back as
        // spec 0, so id 0 is never reused for a real spec. The NEW
        // spec's columns translate logical→physical (historical specs
        // are already physical).
        val newId = specs.map(_._1).foldLeft(0)(math.max) + 1
        (specs :+
          (newId -> toPhysicalSpec(mapAt(spark, tableDir, base), newSpec)),
          newId)
      }) { (base, cur0) =>
      val snapDir = s"$tableDir/snap-$base"
      // appended files land NEXT TO referenced base files: same strict
      // schema contract as merge-on-read
      val curT = cur0.schema.map(f => f.name -> f.dataType).toMap
      val rowT = rows.schema.map(f => f.name -> f.dataType).toMap
      require(curT == rowT,
        s"spec evolution schema mismatch on $tableDir: table has " +
          s"${cur0.schema.simpleString}, new rows have ${rows.schema.simpleString}")
      // every manifest-pruned reader selects files FROM the manifest, so
      // the carried files must have rows to carry
      val carried = carriedManifestOf(spark, tableDir, base)
      require(carried.nonEmpty,
        s"spec evolution on $tableDir needs a stats manifest on the base " +
          "version (commit with statsColumns or a partition spec first)")
      // pending merge-on-read sidecars ride along — this commit
      // re-references the same files, so dropping them would resurrect
      // deleted rows (same carry as deleteMergeOnRead)
      def sidecar(name: String): Option[DataFrame] = {
        val p = new Path(s"$snapDir/$name")
        if (!ctx.util().exists(p)) None
        else Some(readSidecar(spark, p.toString))
      }
      (rows.select(cur0.columns.map(col).toIndexedSeq: _*),
        Sidecars(
          refs = Some(rootRelativeFiles(spark, tableDir, base)),
          carriedManifest = carried,
          morDeletes = sidecar("_mor_deletes"),
          posDeletes = sidecar("_pos_deletes")))
    }
  }

  /** Change data feed: the row-level diff between two committed
    * versions, keyed by `key` — one output row per inserted, deleted,
    * or updated key, with the post-image for inserts/updates and the
    * pre-image for deletes:
    *
    * {{{ key…, change_type ∈ {insert,delete,update}, value… }}}
    *
    * Both versions shuffle once on `key` into a full-outer join of
    * their (key, value-struct) projections; unchanged rows (null-safe
    * struct equality, so all-null values compare equal) are dropped.
    * This is the READ-side diff — O(|v_from| + |v_to|) whatever
    * changed, but it needs nothing recorded in advance and yields the
    * NET change per key across the window. The write-side alternative
    * is [[changesFeed]]: commits record their own changes
    * (`recordChanges = true`), reading costs only O(|changes|), and
    * every intermediate write is preserved — the right trade when
    * diffs are consumed often.
    */
  def changes(
      spark: SparkSession,
      tableDir: String,
      fromV: Long,
      toV: Long,
      key: Seq[String]): DataFrame = {
    // both versions present under the TO version's logical names —
    // physical names are the stable identity, so a rename inside the
    // window diffs correctly and reports the current schema (the
    // "CDF reads with the latest schema" contract of the real formats)
    val toPairs = mapAt(spark, tableDir, toV)
    val pre = mapLogical(readVersionRaw(spark, tableDir, fromV), toPairs)
    val valueCols = pre.columns.filterNot(key.contains).toSeq
    def imaged(df: DataFrame, img: String) =
      df.select(key.map(col) :+ struct(valueCols.map(col): _*).as(img): _*)
    val post = imaged(
      mapLogical(readVersionRaw(spark, tableDir, toV), toPairs), "_post")
    imaged(pre, "_pre").join(post, key, "full_outer")
      .withColumn("change_type",
        when(col("_pre").isNull, lit("insert"))
          .when(col("_post").isNull, lit("delete"))
          .when(!(col("_pre") <=> col("_post")), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(key.map(col) ++ (col("change_type") +:
        valueCols.map(c => coalesce(col(s"_post.$c"), col(s"_pre.$c")).as(c))): _*)
  }

  /** Fold the current snapshot's pending merge-on-read delete sidecars
    * into the data: commit the LOGICAL row set (sidecars applied) as a
    * full rewrite through the optimistic loop, so the new tip carries
    * no `_mor_deletes`/`_pos_deletes` and every file can again ride
    * raw through reference-carrying commits — the precondition
    * [[compactBinPack]] and the scoped [[merge]] enforce (carrying a
    * base file raw under a pending delete set would resurrect deleted
    * rows). The rewrite inherits the table's partition spec (the OCC
    * loop re-clusters under it), so hidden-partition pruning survives;
    * pass the table's own `statsColumns`/`bloomColumns` so the fresh
    * manifest keeps data skipping working. No-op (current tip
    * returned, no commit) when nothing is pending. This is the
    * Iceberg "rewrite position deletes" / Delta purge maintenance
    * action: retractions stay O(keys) at write time, and the fold
    * amortizes their read-side anti-join away on the operator's
    * schedule, not the writer's.
    */
  def foldDeletes(
      spark: SparkSession,
      tableDir: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      maxRetries: Int = 10): Long = {
    val ctx = fc(spark)
    val tip = version(spark, tableDir)
    require(tip >= 1, s"no committed snapshot in $tableDir")
    def pending(v: Long): Boolean = {
      val sd = s"$tableDir/snap-$v"
      ctx.util().exists(new Path(s"$sd/_mor_deletes")) ||
        ctx.util().exists(new Path(s"$sd/_pos_deletes"))
    }
    if (!pending(tip)) return tip
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) {
      (base, cur) =>
        // a full rewrite stores logical names as the physical ones —
        // when the base carried a rename map, publish the identity map
        // explicitly (inheriting the base's would misname every column
        // of the freshly written files; same contract as [[restore]])
        val side =
          if (mapAt(spark, tableDir, base).isEmpty) Sidecars()
          else Sidecars(columnMap = Some(columnMapDf(spark, ColMap(
            cur.schema.fieldNames.toSeq.map(c => (c, c)), Nil))))
        (cur, side)
    }
  }

  /** Compact the current snapshot's layout into ~`targetFileBytes`
    * files and commit the rewrite as a NEW version through the
    * optimistic loop — logically a no-op (row set unchanged, which is
    * what makes racing it against concurrent merges safe: if a merge
    * claims first, the compaction re-reads and re-compacts the new
    * tip), physically fewer/larger files with a refreshed stats
    * manifest so data skipping keeps working on the compacted layout.
    * The file count derives from the snapshot's ACTUAL on-disk bytes
    * (never a row-count guess), and `sortCols` range-clusters the
    * rewrite so per-file min/max ranges stay disjoint — compaction
    * that destroys clustering quietly destroys pruning. Time travel
    * still reads the pre-compaction layout. Small files are the 100 TB
    * killer (footer reads, task schedule, object-store round trips);
    * a snapshotted table needs compaction as a TRANSACTION, not the
    * bare directory rewrite of [[Sinks.compact]], or readers observe a
    * half-rewritten layout.
    */
  def compact(
      spark: SparkSession,
      tableDir: String,
      sortCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      maxRetries: Int = 10): Long = {
    require(targetFileBytes > 0, s"bad targetFileBytes=$targetFileBytes")
    require(zorderCols.isEmpty || (zorderCols.size >= 2 && zorderCols.size <= 8),
      s"zorderCols interleaves 2 to 8 dimensions, got $zorderCols")
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "sortCols and zorderCols are alternative clustering strategies")
    val ctx = fc(spark)
    // inheritSpec = false: compaction's explicit layout (file count,
    // range/Z-order clustering) is the authority; re-clustering by an
    // inherited partition spec would undo it. Compacting a
    // hidden-partitioned table therefore trades its transform pruning
    // for the compacted layout's — use sortCols/zorderCols on the same
    // columns to keep skipping effective.
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries,
      inheritSpec = false) { (_, cur) =>
      // the frame being compacted already knows its own data files —
      // no directory re-listing that could race the OCC base version
      val bytes = cur.inputFiles.iterator
        .map(f => ctx.getFileStatus(new Path(f)).getLen).sum
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val laidOut =
        if (zorderCols.nonEmpty) {
          // multi-dimensional clustering: range-partition and sort by
          // the Morton interleave of ALL the named columns, so each
          // file covers a compact hyper-rectangle in that space and the
          // SAME min/max manifest prunes range reads on ANY dimension —
          // the OPTIMIZE ZORDER BY of the real formats. A 1-D sort
          // prunes only its leading column; at 100 TB the other
          // dimensions' full-scan cost is what this buys back. The 2-D
          // case keeps the mask-spread [[graft.functions.ZOrder2]] fast
          // path (identical bit layout to ZOrderK at k=2); 3+ columns
          // interleave through [[graft.functions.ZOrderK]], each
          // contributing its low 64/k bits.
          val zk =
            if (zorderCols.size == 2)
              graft.functions.ZOrder2.zorder2(
                col(zorderCols(0)), col(zorderCols(1)))
            else graft.functions.ZOrderK.zorderK(zorderCols.map(col): _*)
          cur.repartitionByRange(nFiles, zk).sortWithinPartitions(zk)
        } else if (sortCols.nonEmpty)
          cur.repartitionByRange(nFiles, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else cur.repartition(nFiles)
      (laidOut, Sidecars())
    }
  }

  /** BIN-PACK compaction: rewrite ONLY the files smaller than
    * `minFileBytes` — coalesced into ~`targetFileBytes` outputs — and
    * carry every already-well-sized file into the new version BY
    * REFERENCE with its manifest row intact. [[compact]] is the full
    * rewrite (re-cluster everything, pay O(table)); this is the
    * steady-state maintenance pass a 100 TB table actually runs: after
    * a day of small streaming/merge commits the small-file tail is a
    * sliver of the table, and rewriting the healthy 99% to fix the 1%
    * is pure write amplification. Cost is O(small files), decided from
    * the manifest's committed `size_bytes` — no file is stat'ed or
    * opened to make the selection. The rewrite inherits the table's
    * partition spec (stage re-clusters the repacked rows), so hidden-
    * partition pruning survives; carried files keep their stats,
    * blooms, and transform envelopes verbatim. Pass the SAME
    * `statsColumns`/`bloomColumns` the table's manifest was built with
    * — the rewritten files' fresh manifest rows must line up with the
    * carried ones. Returns the committed version — the CURRENT version
    * unchanged (no commit) when fewer than two files qualify, since
    * repacking one file buys nothing.
    */
  def compactBinPack(
      spark: SparkSession,
      tableDir: String,
      minFileBytes: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      maxRetries: Int = 10): Long = {
    require(minFileBytes > 0, s"bad minFileBytes=$minFileBytes")
    require(targetFileBytes >= minFileBytes,
      s"targetFileBytes=$targetFileBytes below minFileBytes=$minFileBytes " +
        "would re-create the small files it is repacking")
    val ctx = fc(spark)
    // the small/large split runs IN SPARK over the rebased manifest:
    // the driver sees only the small-file stats it needs to size the
    // repack (count + byte sum — two scalars) and the pruned-scan
    // FileStatus list of the small files themselves; the healthy
    // majority of a 10⁶-file table stays a frame end to end
    def selection(base: Long) = {
      val snapDir = s"$tableDir/snap-$base"
      require(ctx.util().exists(new Path(manifestDir(snapDir))),
        s"bin-pack compaction selects files from the manifest — version " +
          s"$base of $tableDir has none (commit with statsColumns first)")
      val rebased = carriedManifestOf(spark, tableDir, base).get
      require(rebased.columns.contains("size_bytes"),
        s"version $base of $tableDir predates size-bearing manifests — " +
          "run a full compact() once to refresh")
      val smallSel = rebased.filter(col("size_bytes") < minFileBytes)
      val stats = smallSel
        .agg(count(lit(1)), coalesce(sum("size_bytes"), lit(0L))).head()
      (rebased, smallSel, stats.getLong(0), stats.getLong(1))
    }
    val tip = version(spark, tableDir)
    require(tip >= 1, s"no committed snapshot in $tableDir")
    if (selection(tip)._3 < 2) return tip
    occLoop(spark, tableDir, statsColumns, bloomColumns, maxRetries) {
      (base, cur) =>
        val snapDir = s"$tableDir/snap-$base"
        // carried files ride RAW: a pending merge-on-read delete set
        // would resurrect deleted rows — fold it first (same contract
        // as the scoped merge)
        require(!ctx.util().exists(new Path(s"$snapDir/_mor_deletes")),
          s"bin-pack compaction on $tableDir with a pending merge-on-" +
            "read delete set: fold it first (full compact or rewrite)")
        require(!ctx.util().exists(new Path(s"$snapDir/_pos_deletes")),
          s"bin-pack compaction on $tableDir with pending positional " +
            "delete vectors: fold them first (full compact or rewrite)")
        val (rebased, smallSel, nSmall, smallBytes) = selection(base)
        val largeSel = rebased.filter(col("size_bytes") >= minFileBytes)
        val bm = mapAt(spark, tableDir, base)
        val repacked =
          if (nSmall == 0) cur.limit(0)
          else {
            val nFiles = math.max(1L,
              (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
            // coalesce, not repartition: concatenating small files is a
            // NARROW op — no shuffle; on a spec'd table stage's own
            // transform clustering supersedes this layout anyway.
            // Presented logically (staging convention) — stage
            // normalizes back to the physical on-disk schema.
            prunedScan(spark, tableDir, snapDir, smallSel, bm)
              .map(raw => mapLogical(raw.coalesce(nFiles), bm))
              .getOrElse(cur.limit(0))
          }
        (repacked, Sidecars(
          refs = Some(largeSel.select(col("file").as("path"))),
          carriedManifest = Some(largeSel)))
    }
  }

  /** Write-time change data feed over `(fromV, toV]`: the concatenation
    * of the change rows each commit in the window RECORDED at write
    * time (`recordChanges = true` on [[merge]]/[[delete]], published
    * inside `snap-<v>/_changes` by the same atomic claim as the data),
    * stamped with the committing version:
    *
    * {{{ change_type ∈ {insert,delete,update}, value…, version }}}
    *
    * Reading costs O(|changes|) — no diff computation, the trade Delta
    * CDF makes — and unlike the net diff of [[changes]] it preserves
    * every intermediate write (a key updated twice appears twice, at
    * two versions). Throws if a version in the window recorded no feed
    * (e.g. a plain full-state [[commit]]): a silent gap would make the
    * feed lie about the window it claims to cover.
    */
  def changesFeed(
      spark: SparkSession,
      tableDir: String,
      fromV: Long,
      toV: Long): DataFrame = {
    require(0 <= fromV && fromV < toV && toV <= version(spark, tableDir),
      s"invalid change window ($fromV, $toV] for $tableDir")
    val ctx = fc(spark)
    // allowMissingColumns: a dropColumn inside the window legitimately
    // changes the physical width of later commits' feeds — older rows
    // null-fill the gap, and the mapLogical below hides tombstoned
    // physicals from the presented feed anyway
    val feed = ((fromV + 1) to toV).map { v =>
      val p = s"$tableDir/snap-$v/_changes"
      require(ctx.util().exists(new Path(p)),
        s"version $v of $tableDir recorded no change feed " +
          "(committed without recordChanges); the window is not reconstructible")
      // the feed's schema is change_type + the version's committed
      // data schema by construction (every producer selects exactly
      // the table's columns, and stage() normalizes to physical names)
      // — passing it skips one footer-inference job per window version,
      // a real slice of a refresh loop's fixed cost; parquet matches
      // columns by NAME, so field order in the files is irrelevant
      val sch = committedSchema(ctx, s"$tableDir/snap-$v").map { ds =>
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType) +: ds.fields)
      }
      // small feed sidecars read driver-side (LocalRelation) — the
      // whole window then folds locally, windowKinds needs no job, and
      // delta applications broadcast without an exchange
      readSidecar(spark, p, sch).withColumn("version", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // feed rows are stored physical (like the data); present under the
    // window-end version's logical names — change_type/version pass
    // through unmapped
    mapLogical(feed, mapAt(spark, tableDir, toV))
  }

  /** Structured-streaming consumer of the write-time change feed: a
    * file source globbing every version's `_changes` directory (the
    * code below) whose discovery unit is the
    * atomic claim itself — a snapshot's feed files appear all at once
    * when the claim rename publishes the directory, never partially —
    * with the committing version recovered from the file path. The
    * checkpoint makes consumption INCREMENTAL and exactly-once: a
    * restarted stream resumes at the first unseen commit, which is how
    * a 100 TB pipeline processes only the rows that changed since its
    * last run instead of re-scanning the table (pair with
    * `Trigger.AvailableNow` for the batch-cadence variant).
    *
    * The feed schema is pinned from the table tip at stream START
    * (change_type + the table's columns); like any file source the
    * stream does not follow later schema evolution — restart it to pick
    * up an evolved schema. Only sound on tables whose data-changing
    * commits all set `recordChanges = true`: a feedless commit has no
    * `_changes` directory and the glob silently skips it (the batch
    * [[changesFeed]] throws on such gaps — use it when auditability
    * beats liveness).
    */
  def changesStream(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // the user-specified schema must name the PHYSICAL columns the feed
    // files store (a logical name would silently read as null); the
    // stream is then presented under the tip's logical names — pinned
    // at start like the schema itself
    val tip = version(spark, tableDir)
    val feedSchema = StructType(
      StructField("change_type", StringType) +:
        readVersionRaw(spark, tableDir, tip).schema.fields)
    mapLogical(
      spark.readStream.schema(feedSchema)
        .parquet(s"$tableDir/snap-*/_changes")
        .withColumn("version",
          regexp_extract(input_file_name(), "snap-(\\d+)/_changes", 1)
            .cast("long")),
      mapAt(spark, tableDir, tip))
  }

  /** Retention GC: expire committed versions older than the last
    * `keepLast`, RESPECTING file-level reuse — an old snapshot
    * directory survives as long as ANY retained version's `_refs`
    * still points into it (a scoped [[merge]] shares files across
    * versions, so blind age-based deletion would corrupt the current
    * table, the classic lakehouse GC bug real formats guard against
    * with manifest reachability walks). Reference lists are direct
    * file paths — reachability is one pass over the retained versions'
    * `_refs`, no transitive walk. Time travel to an expired version
    * fails afterwards, by design; the tip and every retained version
    * read exactly as before. Returns the versions whose directories
    * were deleted.
    *
    * Run this only when no reader is mid-scan of an expiring version —
    * the same "readers within the retention window" contract every
    * format's VACUUM documents.
    */
  /** Pin a human-readable NAME to a committed version (Iceberg tags /
    * Delta named snapshots): `_tag-<name>` lands by a create-only write
    * — the same no-overwrite claim discipline as the snapshot commit,
    * so concurrent taggers race safely and a tag is IMMUTABLE once
    * placed ([[dropTag]] + re-tag to move it). Tagged versions are
    * retention ROOTS: [[expire]] keeps them (and every file they
    * reference) alive regardless of `keepLast`, which is the actual
    * point of a tag — "this exact state is someone's reproducibility
    * contract (a training-run input, an audit snapshot), don't GC it."
    * `v = 0` tags the current version. Returns the tagged version.
    */
  def tag(
      spark: SparkSession,
      tableDir: String,
      name: String,
      v: Long = 0L): Long = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name '$name' (allowed: letters, digits, dot, underscore, dash)")
    val ctx = fc(spark)
    val ver = if (v >= 1) v else version(spark, tableDir)
    require(ver >= 1 && ctx.util().exists(new Path(s"$tableDir/snap-$ver")),
      s"cannot tag $tableDir version $ver: no such committed snapshot")
    // write-then-claim, NOT create-then-write: FileContext.create(CREATE)
    // on the local filesystem is check-then-create, and the version bytes
    // land after the create — a concurrent reader could observe an empty
    // or torn _tag- file. The complete bytes are staged first and the
    // name is claimed atomically. The claim primitive differs from
    // [[tryClaim]] because the target is a FILE: rename(2)/ATOMIC_MOVE
    // silently REPLACES an existing file (the directory no-overwrite
    // trick relies on ENOTEMPTY), so the local path claims via link(2)
    // (`Files.createLink` — atomic, EEXIST if the tag exists); the HDFS
    // path keeps the namenode-atomic no-overwrite rename, which does
    // refuse existing file destinations. The temp name uses the
    // `_stage-` prefix so a crashed tagger's orphan is collected by
    // [[vacuum]] like any other staging leftover.
    val tagPath = new Path(tableDir, s"_tag-$name")
    def refuse() = throw new FileAlreadyExistsException(
      s"tag '$name' already exists on $tableDir (tags are immutable; " +
        "dropTag + re-tag to move it)")
    val qTag = ctx.makeQualified(tagPath)
    if (qTag.toUri.getScheme == "file") {
      val dstNio = java.nio.file.Paths.get(qTag.toUri.getPath)
      val tmpNio = dstNio.resolveSibling(
        s"_stage-tag-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmpNio,
        ver.toString.getBytes(StandardCharsets.UTF_8))
      try java.nio.file.Files.createLink(dstNio, tmpNio)
      catch { case _: java.nio.file.FileAlreadyExistsException => refuse() }
      finally java.nio.file.Files.deleteIfExists(tmpNio)
    } else {
      val tmp = new Path(tableDir, s"_stage-tag-${java.util.UUID.randomUUID()}")
      val out = ctx.create(tmp,
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(ver.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      try ctx.rename(tmp, tagPath, Options.Rename.NONE)
      catch {
        case _: FileAlreadyExistsException
            | _: org.apache.hadoop.fs.PathExistsException =>
          try ctx.delete(tmp, false) catch { case _: java.io.IOException => () }
          refuse()
      }
    }
    ver
  }

  /** All tags of the table: name → version. */
  def tags(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val ctx = fc(spark)
    if (!ctx.util().exists(new Path(tableDir))) Map.empty
    else ctx.util().listStatus(new Path(tableDir)).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("_tag-") => n.stripPrefix("_tag-") }
      .flatMap { name =>
        val in = ctx.open(new Path(tableDir, s"_tag-$name"))
        val bytes =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
          finally in.close()
        // published tags are complete by the claim rename, but a file
        // some other process damaged must degrade to "tag unreadable",
        // not poison every tags()/expire() call with NumberFormatException
        bytes.toLongOption.map(name -> _)
      }.toMap
  }

  /** Read the snapshot a tag pins. */
  def readTag(spark: SparkSession, tableDir: String, name: String): DataFrame = {
    val ver = tags(spark, tableDir).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $tableDir"))
    readVersion(spark, tableDir, ver)
  }

  /** Remove a tag (the version becomes expirable again). Returns
    * whether the tag existed.
    */
  def dropTag(spark: SparkSession, tableDir: String, name: String): Boolean =
    fc(spark).delete(new Path(tableDir, s"_tag-$name"), false)

  // ---------------------------- branches ----------------------------
  //
  // A branch is an independent line of snapshots over the same table
  // (Iceberg branches / Delta's branch-by-clone): created FROM a main
  // version by reference (O(metadata) — no file is copied), advanced by
  // its own commits, merged back as a standard snapshot MERGE. The
  // claim NAMESPACE is what isolates branches: branch commits claim
  // `snap-<branch>-<v>` with the same atomic no-overwrite rename CAS as
  // main commits, and main's version listing (`snap-(\d+)`, full-match)
  // can never parse a branch claim — so concurrent writers on main and
  // any number of branches race only within their own namespace, with
  // no lock service anywhere. Branch history is invisible to main
  // readers and vice versa; [[expire]] treats every branch's references
  // as retention roots so main GC cannot corrupt a branch. Partition
  // specs and table expectations are main-line contracts (a branch
  // commit publishes neither); merging back re-enters main's OCC loop,
  // which enforces both.

  private def branchSnapName(branch: String, v: Long) = s"snap-$branch-$v"

  private def requireBranchName(branch: String): Unit =
    require(branch.matches("[A-Za-z0-9._-]*[A-Za-z._-][A-Za-z0-9._-]*"),
      s"branch name '$branch' (letters, digits, dot, underscore, dash; " +
        "not all digits — all-digit names would shadow main's claims)")

  /** Current committed version of `branch`, 0 if the branch does not
    * exist. Listing-only: the claim rename is the commit point and the
    * listing is authoritative (main's `_latest` is just a seek cache).
    */
  def branchVersion(spark: SparkSession, tableDir: String, branch: String): Long = {
    requireBranchName(branch)
    val ctx = fc(spark)
    val dir = new Path(tableDir)
    if (!ctx.util().exists(dir)) 0L
    else {
      val pat = ("snap-" + java.util.regex.Pattern.quote(branch) + "-(\\d+)").r
      ctx.util().listStatus(dir).iterator.map(_.getPath.getName).collect {
        case pat(v) => v.toLong
      }.foldLeft(0L)(math.max)
    }
  }

  /** Create `branch` at main version `fromV` (default: current): a
    * pure-reference claim of `snap-<branch>-1` whose `_refs` point at
    * the source version's files, carrying its manifest and any pending
    * merge-on-read delete sidecars — dropping those would resurrect
    * deleted rows on the branch. Creation is atomic and refused if the
    * branch exists.
    */
  def createBranch(
      spark: SparkSession,
      tableDir: String,
      branch: String,
      fromV: Long = 0L): Long = {
    requireBranchName(branch)
    val ctx = fc(spark)
    val src = if (fromV >= 1) fromV else version(spark, tableDir)
    require(src >= 1 && ctx.util().exists(new Path(s"$tableDir/snap-$src")),
      s"cannot branch $tableDir at version $src: no such committed snapshot")
    val srcDir = s"$tableDir/snap-$src"
    def sidecar(name: String): Option[DataFrame] = {
      val p = new Path(s"$srcDir/$name")
      if (!ctx.util().exists(p)) None else Some(readSidecar(spark, p.toString))
    }
    val staged = stage(spark,
      readVersionRaw(spark, tableDir, src).limit(0), tableDir, Nil, Nil,
      Sidecars(
        refs = Some(rootRelativeFiles(spark, tableDir, src)),
        carriedManifest = carriedManifestOf(spark, tableDir, src),
        morDeletes = sidecar("_mor_deletes"),
        posDeletes = sidecar("_pos_deletes"),
        pureReference = true,
        // the branch sees the source version's logical names
        columnMap = sidecar(ColumnMapName)))
    if (!tryClaim(ctx, staged, new Path(tableDir, branchSnapName(branch, 1L)))) {
      ctx.delete(staged, true)
      throw new FileAlreadyExistsException(
        s"branch '$branch' already exists on $tableDir")
    }
    1L
  }

  /** Read version `v` of a branch (`v = 0`: the branch tip) — own files
    * plus references into main history, pending delete sidecars applied,
    * exactly like a main-version read.
    */
  def readBranch(
      spark: SparkSession,
      tableDir: String,
      branch: String,
      v: Long = 0L): DataFrame = {
    val ver = if (v >= 1) v else branchVersion(spark, tableDir, branch)
    require(ver >= 1, s"no branch '$branch' on $tableDir")
    val snapDir = s"$tableDir/${branchSnapName(branch, ver)}"
    val bm = columnMapPairs(spark, snapDir)
    mapLogical(
      applyDeleteSidecars(spark, snapDir,
        readParquetRaw(spark, bm, dataFilesAt(spark, tableDir, snapDir))),
      bm)
  }

  /** Commit a FULL branch state: stage privately, claim the branch's
    * next version with the same no-overwrite rename as a main commit —
    * concurrent branch writers land on unique branch versions, and
    * writers on OTHER branches or main are not even in the same
    * namespace. Returns the claimed branch version.
    */
  def commitToBranch(
      spark: SparkSession,
      df: DataFrame,
      tableDir: String,
      branch: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    val ctx = fc(spark)
    val tipV = branchVersion(spark, tableDir, branch)
    require(tipV >= 1,
      s"no branch '$branch' on $tableDir — createBranch first")
    // carry the branch tip's column map (normalizes this commit's
    // logical-named rows back to physical, like every main commit)
    val staged = stage(spark, df, tableDir, statsColumns, bloomColumns,
      Sidecars(columnMap = columnMapDfAt(
        spark, s"$tableDir/${branchSnapName(branch, tipV)}")))
    var v = branchVersion(spark, tableDir, branch) + 1
    while (!tryClaim(ctx, staged,
        new Path(tableDir, branchSnapName(branch, v)))) {
      v = math.max(v + 1, branchVersion(spark, tableDir, branch) + 1)
    }
    v
  }

  /** Merge the branch TIP back into main — literally a snapshot MERGE
    * ([[merge]]) whose update set is the branch's current state, so it
    * inherits main's OCC arbitration, expectations enforcement, spec
    * inheritance, and optional change capture. The branch itself is
    * untouched (drop it separately once merged).
    */
  def mergeBranch(
      spark: SparkSession,
      tableDir: String,
      branch: String,
      key: Seq[String],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      recordChanges: Boolean = false,
      maxRetries: Int = 10): Long =
    merge(spark, tableDir, readBranch(spark, tableDir, branch), key,
      statsColumns, bloomColumns, recordChanges, maxRetries = maxRetries)

  /** All branches of the table: name → tip version. Claim names parse
    * greedily (`snap-<branch>-<v>`, version = the trailing digit run),
    * so a dash inside a branch name cannot split another branch's tip.
    */
  def branches(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val ctx = fc(spark)
    if (!ctx.util().exists(new Path(tableDir))) Map.empty
    else {
      val pat = "snap-(.+)-(\\d+)".r
      ctx.util().listStatus(new Path(tableDir)).iterator
        .map(_.getPath.getName)
        .collect { case pat(name, v) => name -> v.toLong }
        .toSeq.groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).max }
    }
  }

  /** Delete a branch: every `snap-<branch>-<v>` claim directory. Files
    * the branch merely REFERENCED live in main snapshots and are
    * untouched. Returns the number of branch versions removed.
    */
  def dropBranch(spark: SparkSession, tableDir: String, branch: String): Int = {
    requireBranchName(branch)
    val ctx = fc(spark)
    if (!ctx.util().exists(new Path(tableDir))) 0
    else {
      val pat = ("snap-" + java.util.regex.Pattern.quote(branch) + "-(\\d+)").r
      val dirs = ctx.util().listStatus(new Path(tableDir)).iterator
        .filter(st => pat.pattern.matcher(st.getPath.getName).matches())
        .map(_.getPath).toSeq
      dirs.foreach(p => ctx.delete(p, true))
      dirs.size
    }
  }

  def expire(
      spark: SparkSession,
      tableDir: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"must keep at least the tip (keepLast=$keepLast)")
    val ctx = fc(spark)
    val tip = version(spark, tableDir)
    val all = ctx.util().listStatus(new Path(tableDir)).iterator
      .map(_.getPath.getName).collect { case SnapName(v) => v.toLong }
      .toSeq.sorted
    // tags are named retention roots alongside the recency window
    val tagged = tags(spark, tableDir).values.toSet
    val retained = all.filter(v => v > tip - keepLast || tagged(v))
    // every BRANCH claim is a retention root too: its refs reach into
    // main snapshots, and age-based main GC must not break a live
    // branch (the same file-sharing hazard as scoped-merge refs). The
    // claim dirs themselves never parse as main versions, so they are
    // never expired here — dropBranch removes them.
    val branchPat = "snap-(.+)-(\\d+)".r
    val branchDirs = ctx.util().listStatus(new Path(tableDir)).iterator
      .map(_.getPath.getName)
      .filter(n => branchPat.pattern.matcher(n).matches()).toSeq
    // dirs still needed: every retained dir + every dir a retained
    // version's (or branch's) refs reach into ("snap-<v>/file" → snap-<v>)
    val needed = retained.map(v => s"snap-$v").toSet ++
      (retained.map(v => s"snap-$v") ++ branchDirs).flatMap { d =>
        val refs = new Path(s"$tableDir/$d/_refs")
        if (!ctx.util().exists(refs)) Nil
        else readSidecar(spark, refs.toString).collect()
          .map(r => r.getString(0).split("/").head).toSeq
      }
    val expired = all.filter(v => !needed(s"snap-$v"))
    expired.foreach(v => ctx.delete(new Path(s"$tableDir/snap-$v"), true))
    dropCachedVersions(spark, tableDir, expired)
    expired
  }

  /** Janitor: delete staging orphans (writers that crashed before their
    * claim) and leftover pointer temp files. `olderThanMs` guards
    * IN-FLIGHT writers — an orphan is collected only once its directory
    * has been unmodified for that long (default 1h, the usual lakehouse
    * retention posture of "vacuum nothing a live writer could still
    * own"). Committed snapshots are never touched: the claim rename
    * moved them OUT of the staging namespace. Returns the number of
    * paths deleted.
    */
  def vacuum(
      spark: SparkSession,
      tableDir: String,
      olderThanMs: Long = 60L * 60 * 1000): Int = {
    val ctx = fc(spark)
    val dir = new Path(tableDir)
    if (!ctx.util().exists(dir)) 0
    else {
      val cutoff = System.currentTimeMillis() - olderThanMs
      val stale = ctx.util().listStatus(dir).iterator.filter { st =>
        val n = st.getPath.getName
        (n.startsWith("_stage-") || n.startsWith("_latest.tmp-")) &&
          st.getModificationTime < cutoff
      }.toSeq
      stale.foreach(st => ctx.delete(st.getPath, true))
      // release cached metadata of versions whose directories are gone
      // (e.g. expired by another process)
      val snaps = ctx.makeQualified(dir).toString + "/snap-"
      metaCache(spark).drop(p =>
        p.startsWith(snaps) && !ctx.util().exists(new Path(p)))
      stale.size
    }
  }
}
