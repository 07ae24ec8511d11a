package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Incrementally-maintained materialized views over snapshot tables —
  * the missing half of the CDF story: [[Snapshots.changesFeed]] records
  * what changed, this layer keeps a grouped aggregate CURRENT by
  * applying those records, so a standing rollup over a 100 TB table
  * refreshes in O(|changes|) instead of O(table). The reference engine
  * re-aggregates from scratch on every query
  * (/root/reference/src/query_engine.rs:62-76 — per-query full scan);
  * at lake scale the recompute IS the cost, and incremental view
  * maintenance is the standard cure (the DBSP/Materialize delta
  * algebra, Delta Live Tables' incremental refresh).
  *
  * Design:
  *  - The view is itself a snapshot table (OCC commits, time travel,
  *    as-of reads all inherited). Its rows are one per group:
  *    `groupCols ++ n_rows ++ sum_<c>... ++ min_<c>... ++ max_<c>...`,
  *    plus two constant bookkeeping columns (`_mv_src_version` — the
  *    source version the state reflects — and `_mv_batch_id` for the
  *    streaming path's replay guard) and ONE sentinel row
  *    (`n_rows = 0`, null group keys) so the bookkeeping survives even
  *    when the aggregate itself is empty. [[readView]] filters the
  *    sentinel and bookkeeping out.
  *  - The view definition is SELF-DESCRIBING: it is parsed back from
  *    the view's own schema (`sum_x` ⇒ SUM(x), …), so refresh takes no
  *    re-statement of the definition that could drift from the built
  *    state.
  *  - COUNT/SUM refresh is PURE DELTA: insert and `update_postimage`
  *    feed rows add, delete and `update_preimage` rows subtract
  *    (merges must record with `preImages = true` — a post-only
  *    `update` row is not invertible and the refresh throws loudly on
  *    one). The refresh plan reads ONLY the feed and the view — never
  *    the source data files; ViewsSpec proves it by deleting them.
  *  - MIN/MAX are not delta-invertible (deleting the current max needs
  *    the runner-up, which no feed row carries — the classic IVM
  *    limitation) — but INSERT-ONLY windows can only EXTEND extrema,
  *    so those stay on the delta path (least/greatest merge, zero
  *    source reads — the append-only cadence). Windows carrying
  *    retractions refresh by TOUCHED-GROUP RESCAN: the feed's distinct
  *    group keys select which groups to re-aggregate from the source
  *    tip; untouched groups carry over unread, and the tip read is
  *    manifest-pruned to the touched keys' envelope. O(|changes| +
  *    touched-group rows) — on a source clustered by the group columns
  *    the rescan reads only the touched files.
  *  - SUM columns are maintained in LONG (integral source columns
  *    only, enforced at create): delta maintenance of a floating-point
  *    sum would drift from a full recompute by fp non-associativity,
  *    turning "incremental equals recompute" from a theorem into a
  *    tolerance. Integer deltas keep it exact — the DuckDB oracle
  *    replays the full recompute and the hashes must match.
  *  - ONE fold per view kind ([[foldView]], [[foldJoinView]]) applies
  *    a feed window, whatever produced it — the DBSP incremental
  *    operator is the same whether its input delta comes from a batch
  *    window or a stream. The fold routes the window, then commits
  *    through [[Snapshots.commitIfVersion]] (CAS): racing folds re-read
  *    and re-derive, so every committed view version is the delta
  *    application to its immediate predecessor — a lost update would
  *    silently double- or under-count.
  *  - The entry points only build the window. [[refreshView]] reads
  *    [[Snapshots.changesFeed]] over `(applied, tip]`;
  *    [[streamRefreshView]] takes each `foreachBatch` micro-batch of
  *    [[Snapshots.changesStream]] past `applied`. Deltas are additive,
  *    so any micro-batch split yields the same state
  *    (batch-invariance); `version > applied` filtering makes a fresh
  *    checkpoint safe against re-reading already-applied versions, and
  *    the sentinel's `_mv_batch_id` makes a replayed batch (the
  *    at-least-once window after a commit-then-crash) a no-op —
  *    exactly-once maintenance end to end.
  */
object Views {

  private val MetaCols = Seq("_mv_src_version", "_mv_batch_id")
  private val JoinMetaCols =
    Seq("_mv_srcl_version", "_mv_srcr_version", "_mv_batch_id")

  private def dropMeta(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("_mv_")).toIndexedSeq: _*)

  /** A view definition parsed back from the view table's own schema.
    * `hasRescanAggs` marks aggregates a retraction cannot invert
    * (min/max lose their extremum, HLL registers cannot forget a
    * value) — such views delta-refresh only under insert-only windows
    * and rescan otherwise. Quantile columns (`qh_<c>` log-bucket
    * count maps), variance columns (`vsum_<c>`/`vsq_<c>` exact
    * sums and sums-of-squares), and heavy-hitter columns (`cm_<c>`
    * count-min cell maps) are deliberately NOT rescan aggregates:
    * counts and sums add AND subtract exactly, so all three keep
    * DELETE-bearing windows on the zero-source-read delta path.
    * `cntCols` are per-measure NON-NULL counts (`cnt_<c>`) riding
    * beside every sum/var column — the SQL-faithful denominator for
    * the served `avg_`/`var_`/`std_` (SQL AVG/VAR_POP exclude NULL
    * rows; `n_rows` does not). Signed deltas subtract them exactly.
    */
  case class MvDef(
      groupCols: Seq[String],
      sumCols: Seq[String],
      minCols: Seq[String],
      maxCols: Seq[String],
      distinctCols: Seq[String],
      quantileCols: Seq[String],
      varCols: Seq[String],
      cntCols: Seq[String],
      topkCols: Seq[String],
      types: Map[String, DataType]) {
    def hasRescanAggs: Boolean =
      minCols.nonEmpty || maxCols.nonEmpty || distinctCols.nonEmpty
  }

  private def parseDef(df: DataFrame): MvDef = {
    val names = df.columns.toSeq
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    // sketch-state columns are recognized by prefix AND type: the
    // maintained register/bucket maps are MapType, which no group
    // column can be — a LEGACY view (created before the sketch
    // columns existed, when `hll_*`/`qh_*` group names were legal)
    // parses its scalar hll_-named group column back as a group
    // column instead of failing at refresh with an analysis error
    def isHll(c: String) = c.startsWith("hll_") &&
      types(c).isInstanceOf[org.apache.spark.sql.types.MapType]
    def isQh(c: String) = c.startsWith("qh_") &&
      types(c).isInstanceOf[org.apache.spark.sql.types.MapType]
    // heavy-hitter state: the count-min cell map plus its candidate
    // array, the latter recognized only as a PAIR with the map
    def isCm(c: String) = c.startsWith("cm_") &&
      types(c).isInstanceOf[org.apache.spark.sql.types.MapType]
    val topkCols = names.filter(isCm).map(_.stripPrefix("cm_"))
    def isCmc(c: String) = c.startsWith("cmc_") &&
      types(c).isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      topkCols.contains(c.stripPrefix("cmc_"))
    // variance state: the sum-of-squares column is DecimalType (no
    // group column can be — same legacy-name defense as the maps),
    // and its vsum_ sibling is recognized only as a PAIR
    def isVsq(c: String) = c.startsWith("vsq_") &&
      types(c).isInstanceOf[org.apache.spark.sql.types.DecimalType]
    val varCols = names.filter(isVsq).map(_.stripPrefix("vsq_"))
    def isVsum(c: String) = c.startsWith("vsum_") &&
      varCols.contains(c.stripPrefix("vsum_"))
    val sumCols =
      names.filter(_.startsWith("sum_")).map(_.stripPrefix("sum_"))
    // non-null-count state: recognized only as a PAIR with a
    // maintained sum/var measure AND by LongType — a legacy view's
    // scalar group column that happens to start with cnt_ but names
    // no measure stays a group column. KNOWN RESIDUAL HAZARD: a
    // pre-r16 view whose group column was literally `cnt_<m>` for a
    // measure <m> it ALSO summed is indistinguishable from r16 state
    // (same name, same LongType) and would reparse as the non-null
    // count — no in-band marker can separate them after the fact.
    // Such views must be rebuilt; every r16+ create refuses the name
    // up front (reservedGroupNames), so the exposure is closed going
    // forward.
    def isCnt(c: String) = c.startsWith("cnt_") &&
      types(c) == LongType &&
      (sumCols ++ varCols).contains(c.stripPrefix("cnt_"))
    MvDef(
      groupCols = names.filterNot(c => c == "n_rows" ||
        c.startsWith("sum_") || c.startsWith("min_") ||
        c.startsWith("max_") || isHll(c) || isQh(c) ||
        isCm(c) || isCmc(c) || isCnt(c) ||
        isVsq(c) || isVsum(c) ||
        c.startsWith("_mv_")),
      sumCols = sumCols,
      minCols = names.filter(_.startsWith("min_")).map(_.stripPrefix("min_")),
      maxCols = names.filter(_.startsWith("max_")).map(_.stripPrefix("max_")),
      distinctCols = names.filter(isHll).map(_.stripPrefix("hll_")),
      quantileCols = names.filter(isQh).map(_.stripPrefix("qh_")),
      varCols = varCols,
      cntCols = names.filter(isCnt).map(_.stripPrefix("cnt_")),
      topkCols = topkCols,
      types = types)
  }

  // ---------- approximate COUNT DISTINCT columns (HLL registers) ----------
  //
  // The rollup column pure deltas cannot maintain exactly: COUNT
  // (DISTINCT x) needs the full value set to deduplicate. The standard
  // production cure is mergeable sketch STATE in the view row — here a
  // per-group HLL register map `hll_<c>: map<int,int>` (j → max rho),
  // the same md5-60/1024-register arithmetic as [[
  // graft.operators.Sketches]], so the estimate is replayed EXACTLY by
  // the DuckDB oracle. Register max-merge is associative, commutative,
  // and IDEMPOTENT — insert-only windows merge `least cost` deltas
  // (and the streaming path's at-least-once replays are harmless even
  // before the batch-id guard); a retraction can't un-insert a value,
  // so delete-bearing windows route through the touched-group rescan
  // like min/max. Values hash as STRINGS (`cast(x as string)`) so any
  // engine re-derives positions identically; NULLs contribute nothing
  // (SQL COUNT DISTINCT semantics).

  private val HllM: Long = graft.operators.Sketches.Registers.toLong
  private val HllRhoMax: Int = graft.operators.Sketches.RhoMax

  /** Per-group register map of `c`'s values: `(groupCols…, hll_<c>)`
    * — [[graft.operators.Sketches.hllRegisters]]' sparse (j, r) rows
    * collected into a map column (ONE arithmetic definition; a drift
    * between two spellings would silently break the oracle's replay).
    * Values hash as strings; NULLs contribute nothing. Groups none of
    * whose rows carry a non-null `c` are absent — callers left-join
    * and read null as the empty sketch. */
  private def hllMapOf(
      df: DataFrame, groupCols: Seq[String], c: String): DataFrame =
    graft.operators.Sketches.hllRegisters(
      df.filter(col(c).isNotNull), groupCols, col(c).cast("string"))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("j"), col("r"))))).as(s"hll_$c"))

  /** Left-join each sketch column's map (register or bucket-count)
    * onto per-group agg rows (null-safe keys — a NULL group is a
    * group). `mapped` names the produced map column per source column.
    */
  private def joinMapCols(base: DataFrame, src: DataFrame,
      groupCols: Seq[String], cols: Seq[String],
      mapOf: (DataFrame, Seq[String], String) => DataFrame,
      mapped: String => String): DataFrame =
    cols.foldLeft(base) { (acc, c) =>
      val m = mapOf(src, groupCols, c).select(
        groupCols.map(cc => col(cc).as(s"_hm_$cc")) :+ col(mapped(c)): _*)
      acc.join(m,
        groupCols.map(cc => col(cc) <=> col(s"_hm_$cc")).reduce(_ && _),
        "left")
        .drop(groupCols.map(cc => s"_hm_$cc"): _*)
    }

  // ---------- approximate-percentile columns (QH log-bucket maps) ----------
  //
  // The DELTA-INVERTIBLE approximate aggregate: per-group sparse
  // histogram state `qh_<c>: map<bigint,bigint>` (bucket → count)
  // under [[graft.operators.Sketches.qhBucketSql]]'s log-bucket law
  // (exact below 16, then 16 slots per octave — the same ONE
  // arithmetic definition the sketch family serves, so the DuckDB
  // oracle replays the estimate bit-for-bit). Unlike min/max (the
  // retracted extremum's runner-up is unknowable) and HLL registers
  // (a max can't forget), bucket counts ADD AND SUBTRACT exactly —
  // insert rows +1 their bucket, delete/pre-image rows −1 it — so
  // percentile view columns stay on the ZERO-SOURCE-READ delta path
  // even under delete-bearing windows, the only approximate aggregate
  // family with that property. Served at read as `p50_<c>`/`p95_<c>`
  // (bucket representative at the ceil(q·n) rank — all-integer, one
  // deterministic fold). NULLs contribute nothing (SQL percentile
  // semantics); values must be non-negative longs (the family law,
  // enforced loudly).

  /** Per-group bucket-count map of `c`'s values: `(groupCols…,
    * qh_<c>)`. Groups none of whose rows carry a non-null `c` are
    * absent — callers left-join and read null as the empty histogram.
    */
  private def qhMapOf(
      df: DataFrame, groupCols: Seq[String], c: String): DataFrame =
    graft.operators.Sketches.qhBuckets(
      df.filter(col(c).isNotNull), groupCols, col(c))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("b"), col("cnt"))))).as(s"qh_$c"))

  /** The served name of quantile `q` over measure `c`: `p50_<c>`,
    * `p95_<c>`, `p99_<c>`, `p99_9_<c>` — decimal-string arithmetic so
    * 0.99 names p99, not p98_999…; rejects anything outside (0, 1). */
  private[graft] def quantileName(q: Double, c: String): String = {
    require(q > 0.0 && q < 1.0, s"quantile must be in (0, 1), got $q")
    val pct = (BigDecimal(q.toString) * 100)
      .bigDecimal.stripTrailingZeros.toPlainString
    s"p${pct.replace(".", "_")}_$c"
  }

  /** Serve quantile estimates from a bucket-count map column: for
    * each q, the representative of the first bucket whose cumulative
    * count reaches `ceil(q·n)` — the same rank law as
    * [[graft.operators.Sketches.qhEstimate]], evaluated as one
    * deterministic fold over the sorted entries (a map has at most
    * 16·octaves ≈ a few hundred). The sort and the total-count fold
    * run ONCE and feed every requested quantile — |qs| is free. NULL
    * when the group holds no values. Temp columns use the `_mv_`
    * namespace, which no group column can occupy ([[
    * reservedGroupNames]]) — the pre-r16 `_qe`/`_qn`/`_qb50` temps
    * could clobber a same-named group column at read time. */
  private def withQuantileCols(
      df: DataFrame, c: String, qs: Seq[Double]): DataFrame = {
    val entries = s"sort_array(map_entries(coalesce(`qh_$c`, " +
      "cast(map() as map<bigint,bigint>))))"
    def rankFold(q: Double): String =
      "aggregate(_mv_qe, named_struct('c', CAST(0 AS BIGINT), " +
        "'f', CAST(-1 AS BIGINT)), " +
        "(a, e) -> IF(a.f >= 0, a, named_struct(" +
        "'c', a.c + e.value, " +
        s"'f', IF(a.c + e.value >= CAST(ceil($q * _mv_qn) AS BIGINT), " +
        "e.key, CAST(-1 AS BIGINT)))), " +
        "a -> a.f)"
    def served(b: String): Column =
      when(col("_mv_qn") === 0, lit(null).cast(LongType))
        .otherwise(expr(graft.operators.Sketches.qhRep(b)))
    val tmp = qs.indices.map(i => s"_mv_qb_$i")
    val folded = qs.zip(tmp).foldLeft(
      df.withColumn("_mv_qe", expr(entries))
        .withColumn("_mv_qn", expr(
          "aggregate(_mv_qe, CAST(0 AS BIGINT), (a, e) -> a + e.value)"))) {
      case (acc, (q, t)) => acc.withColumn(t, expr(rankFold(q)))
    }
    qs.zip(tmp).foldLeft(folded) { case (acc, (q, t)) =>
      acc.withColumn(quantileName(q, c), served(t))
    }.drop("_mv_qe" +: "_mv_qn" +: tmp: _*)
  }

  /** The served estimate over a register-map column — the exact
    * integer harmonic sum, one IEEE division, the small-range linear-
    * counting correction, rounded to 4 decimals: bit-identical to
    * [[graft.operators.Sketches.hllEstimate]] and to the oracle's SQL
    * replay. A null map (no values ever inserted) estimates 0.0. */
  private def hllEstimateOf(name: String): Column = {
    val vals = s"map_values(coalesce(`$name`, cast(map() as map<int,int>)))"
    val sFilled =
      expr(s"aggregate($vals, 0L, (acc, r) -> acc + shiftleft(1L, 51 - r))")
    val nFilled = expr(s"size($vals)").cast(LongType)
    val zeros = lit(HllM) - nFilled
    val total = zeros * lit(1L << HllRhoMax) + sFilled
    val raw = lit(graft.operators.Sketches.AlphaM2Scaled) / total
    when(zeros > 0 && raw <= lit(2.5 * HllM),
      round(lit(HllM.toDouble) * log(lit(HllM.toDouble) / zeros), 4))
      .otherwise(round(raw, 4))
  }

  private val integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  // ---------- exact VARIANCE / STDDEV columns ----------
  //
  // The other delta-invertible family besides the quantile histogram:
  // VAR/STDDEV derive from (n, Σx, Σx²), and SUMS subtract exactly —
  // so variance view columns stay on the zero-source-read delta path
  // under deletes, like count/sum and unlike min/max/HLL. State per
  // column: `vsum_<c>` (LONG — the integral-source contract sums
  // share) and `vsq_<c>` (DECIMAL(38,0) — a long's square reaches
  // 8.5e37, one decimal digit under the cap, and the decimal sum
  // stays EXACT while Σx² < 10^38; fp sums would drift from a
  // recompute by non-associativity, the same reason sum_ is integer).
  // Served at read as `var_<c>`/`std_<c>`: population variance
  // Σx²/n − (Σx/n)², every operand an exact integer cast once to
  // double, the same fixed IEEE expression in both engines, rounded
  // to 4 — bit-replayable like avg_<c>. NULLs contribute nothing to
  // either sum but DO count in n_rows (the avg/var denominator is the
  // group's row count, matching the delta algebra's n — document
  // accordingly; columns without NULLs are the intended use).

  private val VarDec = org.apache.spark.sql.types.DecimalType(38, 0)

  /** x² as an exact decimal — both factors cast to DECIMAL(19,0) so
    * the product's natural precision (39) caps to 38 with the value
    * always representable. NULL x contributes 0. */
  private def squareOf(c: String): Column =
    coalesce(col(c).cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
      col(c).cast(org.apache.spark.sql.types.DecimalType(19, 0)),
      lit(0L).cast(VarDec)).cast(VarDec)

  // ---------- loud overflow guards ----------
  //
  // The view layer raises on every other contract breach (negative
  // counts, min/max retraction, negative buckets); arithmetic
  // overflow gets the same treatment instead of Spark's silent
  // non-ANSI behavior (long sums WRAP, decimal sums go NULL). Sums
  // are computed WIDE — DECIMAL(38,0), exact for any realistic input
  // — and narrowed back to the stored LONG through a guarded cast:
  // a sum past either bound raises at refresh/create time, never
  // serving a wrapped or silently-NULL number.

  /** Narrow a wide (DECIMAL(38,0)) sum to the stored LONG, raising
    * loudly when the value left LONG range (narrow cast → NULL under
    * non-ANSI) or the wide sum itself overflowed (wide IS NULL —
    * inputs are coalesced non-null, so NULL proves overflow). */
  private def longFromWide(wide: Column, what: String): Column = {
    val narrowed = wide.cast(LongType)
    when(wide.isNull || narrowed.isNull,
      raise_error(lit(s"view state overflow: $what left LONG range — " +
        "the exact-delta contract cannot hold; drop the column or " +
        "pre-scale the measure")).cast(LongType))
      .otherwise(narrowed)
  }

  /** Guard a DECIMAL(38,0) sum/fold result: inputs are coalesced
    * non-null, so a NULL result proves the non-ANSI decimal sum
    * overflowed past 10^38 — raise instead of serving NULL var/std. */
  private def decGuarded(d: Column, tpe: DataType, what: String): Column =
    when(d.isNull,
      raise_error(lit(s"view state overflow: $what exceeded " +
        "DECIMAL(38,0) — the exact sum-of-squares contract cannot " +
        "hold; drop the column or pre-scale the measure")).cast(tpe))
      .otherwise(d.cast(tpe))

  // ---------- heavy-hitter columns (count-min cell maps) ----------
  //
  // The THIRD delta-invertible family (after quantile histograms and
  // variance sums): count-min cell counts ADD AND SUBTRACT exactly —
  // insert rows +1 their 4 cells, delete/pre-image rows −1 them — so
  // `cm_<c>: map<bigint,bigint>` (flattened cell i·1024+j → count)
  // stays on the ZERO-SOURCE-READ delta path under delete-bearing
  // windows, like count/sum and unlike min/max/HLL. The same
  // md5-60/4×1024 arithmetic as [[graft.operators.Sketches]] (ONE
  // hash law via [[graft.operators.Sketches.cmCellKeys]]), values
  // hashed as STRINGS, NULLs contributing nothing — so the DuckDB
  // oracle replays every estimate exactly, and the count-min law
  // (estimate ≥ true count, always) gates alongside.
  //
  // Serving "top values per group" needs a CANDIDATE set beside the
  // counts (a count-min map cannot enumerate its keys) — the standard
  // companion the CM index family already keeps: `cmc_<c>:
  // array<string>`, each refresh window's per-group top-[[CmCandK]]
  // values by exact batch count, union-merged (sorted, deterministic).
  // A global heavy hitter is heavy in some batch, so the union is a
  // conservative superset re-ranked by the maintained counts at read
  // ([[topkValues]]); DELETE windows leave candidates in place — a
  // retracted value's estimate shrinks and it falls out of the
  // re-ranking naturally, which is also why deletes never force a
  // rescan here.

  private val CmCandK = 16

  /** Per-group count-min cell map of `c`'s values: `(groupCols…,
    * cm_<c>)`. Groups none of whose rows carry a non-null `c` are
    * absent — callers left-join and read null as the empty sketch. */
  private def cmMapOf(
      df: DataFrame, groupCols: Seq[String], c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .select(groupCols.map(col) :+ explode(
        graft.operators.Sketches.cmCellKeys(col(c).cast("string")))
        .as("_mv_ck"): _*)
      .groupBy((groupCols :+ "_mv_ck").map(col): _*)
      .agg(count(lit(1)).as("_mv_cc"))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("_mv_ck"), col("_mv_cc"))))).as(s"cm_$c"))

  /** Per-group top-[[CmCandK]] candidate values of `c` by exact batch
    * count (deterministic — rank ties break on the value itself),
    * collected sorted: `(groupCols…, cmc_<c>)`. */
  private def cmcArrayOf(
      df: DataFrame, groupCols: Seq[String], c: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.filter(col(c).isNotNull)
      .select(groupCols.map(col) :+ col(c).cast("string").as("_mv_v"): _*)
      .groupBy((groupCols :+ "_mv_v").map(col): _*)
      .agg(count(lit(1)).as("_mv_cc"))
      .withColumn("_mv_rk", row_number().over(
        Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("_mv_cc").desc, col("_mv_v"))))
      .filter(col("_mv_rk") <= CmCandK)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("_mv_v"))).as(s"cmc_$c"))
  }

  /** Group-column names that collide with the view's aggregate naming
    * contract — the definition is parsed back from the rows table's
    * own schema, so such a column would silently reclassify on
    * refresh. ONE list for both create surfaces: a prefix added for a
    * new aggregate family must not be rememberable in two places. */
  private def reservedGroupNames(groupCols: Seq[String]): Seq[String] =
    groupCols.filter(c => c == "n_rows" ||
      c.startsWith("sum_") || c.startsWith("min_") ||
      c.startsWith("max_") || c.startsWith("hll_") ||
      c.startsWith("qh_") || c.startsWith("cm_") ||
      c.startsWith("cmc_") || c.startsWith("cnt_") ||
      c.startsWith("avg_") || c.startsWith("top_") ||
      // any parametric quantile serve name (p50_, p95_, p99_, p99_9_)
      c.matches("p\\d+(_\\d+)?_.*") ||
      c.startsWith("vsum_") || c.startsWith("vsq_") ||
      c.startsWith("var_") || c.startsWith("std_") ||
      c.startsWith("distinct_") || c.startsWith("_mv_"))

  /** One aggregation pass under the view's column-naming contract.
    * Sums are computed WIDE (DECIMAL(38,0)) and narrowed through the
    * guarded cast, so a create/rescan over inputs whose sum leaves
    * LONG range raises instead of wrapping. */
  private def aggregate(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String],
      maxCols: Seq[String], distinctCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      varCols: Seq[String] = Nil,
      cntCols: Seq[String] = Nil,
      topkCols: Seq[String] = Nil): DataFrame = {
    def wideSum(c: String): Column =
      sum(coalesce(col(c).cast(LongType), lit(0L)).cast(VarDec))
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        (cntCols.map(c => count(col(c)).as(s"cnt_$c")) ++
          sumCols.map(c => wideSum(c).as(s"_mv_wsum_$c")) ++
          minCols.map(c => min(col(c)).as(s"min_$c")) ++
          maxCols.map(c => max(col(c)).as(s"max_$c")) ++
          varCols.flatMap(c => Seq(
            wideSum(c).as(s"_mv_wvsum_$c"),
            sum(squareOf(c)).as(s"_mv_wvsq_$c"))))
    val base = df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((groupCols.map(col) ++
        Seq(col("n_rows")) ++
        cntCols.map(c => col(s"cnt_$c")) ++
        sumCols.map(c =>
          longFromWide(col(s"_mv_wsum_$c"), s"sum_$c").as(s"sum_$c")) ++
        minCols.map(c => col(s"min_$c")) ++
        maxCols.map(c => col(s"max_$c")) ++
        varCols.flatMap(c => Seq(
          longFromWide(col(s"_mv_wvsum_$c"), s"vsum_$c").as(s"vsum_$c"),
          decGuarded(col(s"_mv_wvsq_$c"), VarDec, s"vsq_$c")
            .as(s"vsq_$c")))): _*)
    val withSketches = joinMapCols(
      joinMapCols(base, df, groupCols, distinctCols, hllMapOf,
        c => s"hll_$c"),
      df, groupCols, quantileCols, qhMapOf, c => s"qh_$c")
    joinMapCols(
      joinMapCols(withSketches, df, groupCols, topkCols, cmMapOf,
        c => s"cm_$c"),
      df, groupCols, topkCols, cmcArrayOf, c => s"cmc_$c")
  }

  /** Stamp bookkeeping columns and append the sentinel row. */
  private def withMetaCols(spark: SparkSession, rows: DataFrame, d: MvDef,
      metas: Seq[(String, Long)]): DataFrame = {
    val stamped = metas.foldLeft(rows) {
      case (df, (c, v)) => df.withColumn(c, lit(v))
    }
    val sentinel = spark.range(1).select(
      (d.groupCols.map(c => lit(null).cast(d.types(c)).as(c)) ++
        Seq(lit(0L).as("n_rows")) ++
        d.cntCols.map(c => lit(0L).as(s"cnt_$c")) ++
        d.sumCols.map(c => lit(0L).as(s"sum_$c")) ++
        d.minCols.map(c => lit(null).cast(d.types(s"min_$c")).as(s"min_$c")) ++
        d.maxCols.map(c => lit(null).cast(d.types(s"max_$c")).as(s"max_$c")) ++
        d.distinctCols.map(c =>
          lit(null).cast(d.types(s"hll_$c")).as(s"hll_$c")) ++
        d.quantileCols.map(c =>
          lit(null).cast(d.types(s"qh_$c")).as(s"qh_$c")) ++
        d.topkCols.flatMap(c => Seq(
          lit(null).cast(d.types(s"cm_$c")).as(s"cm_$c"),
          lit(null).cast(d.types(s"cmc_$c")).as(s"cmc_$c"))) ++
        d.varCols.flatMap(c => Seq(
          lit(0L).as(s"vsum_$c"),
          lit(0L).cast(d.types(s"vsq_$c")).as(s"vsq_$c"))) ++
        metas.map { case (c, v) => lit(v).as(c) }): _*)
    stamped.unionByName(sentinel)
  }

  private def withMeta(spark: SparkSession, rows: DataFrame, d: MvDef,
      srcV: Long, batchId: Long): DataFrame =
    withMetaCols(spark, rows, d, MetaCols.zip(Seq(srcV, batchId)))

  /** Materialize `SELECT groupCols, COUNT(*), SUM(sumCols…),
    * MIN(minCols…), MAX(maxCols…) FROM src GROUP BY groupCols` at the
    * source's current version. The view directory must be empty; stats
    * are published on the group columns so pruned/point reads of the
    * view itself work. Returns the view's committed version (1).
    */
  def createView(
      spark: SparkSession,
      srcDir: String,
      viewDir: String,
      groupCols: Seq[String],
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      varCols: Seq[String] = Nil,
      topkCols: Seq[String] = Nil): Long = {
    require(groupCols.nonEmpty, "a view needs at least one group column")
    require(Snapshots.version(spark, viewDir) == 0L,
      s"$viewDir already holds a committed view")
    val reserved = reservedGroupNames(groupCols)
    require(reserved.isEmpty,
      s"group column names collide with the view's aggregate naming " +
        s"contract: ${reserved.mkString(", ")}")
    val srcV = Snapshots.version(spark, srcDir)
    require(srcV >= 1, s"no committed snapshot in $srcDir")
    val cur = Snapshots.readVersion(spark, srcDir, srcV)
    val srcT = cur.schema.map(f => f.name -> f.dataType).toMap
    val badSum = sumCols.filterNot(c => integral(srcT(c)))
    require(badSum.isEmpty,
      s"sum columns must be integral (exact delta maintenance): " +
        s"${badSum.mkString(", ")}")
    val missing = (distinctCols ++ quantileCols ++ varCols ++ topkCols)
      .filterNot(srcT.contains)
    require(missing.isEmpty,
      s"sketch columns absent from the source: ${missing.mkString(", ")}")
    val badQ = quantileCols.filterNot(c => integral(srcT(c)))
    require(badQ.isEmpty,
      s"quantile columns must be integral (exact log-bucket " +
        s"maintenance): ${badQ.mkString(", ")}")
    val badV = varCols.filterNot(c => integral(srcT(c)))
    require(badV.isEmpty,
      s"variance columns must be integral (exact sum-of-squares " +
        s"maintenance): ${badV.mkString(", ")}")
    // the register derivation (Sketches.hllRegisters) works in j/r/h/w
    // and the bucket derivation in v/b/cnt — same reservations as the
    // index builders, only needed when sketch columns ride the view
    require(distinctCols.isEmpty || groupCols.forall(c =>
      !Seq("gen", "j", "r", "h", "w").contains(c)),
      s"group columns collide with sketch register columns: $groupCols")
    require(quantileCols.isEmpty || groupCols.forall(c =>
      !Seq("gen", "v", "b", "cnt").contains(c)),
      s"group columns collide with sketch bucket columns: $groupCols")
    val rows = aggregate(cur, groupCols, sumCols, minCols, maxCols,
      distinctCols, quantileCols, varCols,
      cntCols = (sumCols ++ varCols).distinct, topkCols = topkCols)
    val d = parseDef(rows)
    Snapshots.commit(spark, withMeta(spark, rows, d, srcV, -1L), viewDir,
      statsColumns = groupCols, notes = metaNote(srcV, -1L))
  }

  /** The view's group rows (sentinel and bookkeeping filtered out);
    * `asOf` pins a committed view version — every refresh is one
    * commit, so a pin names exactly "the rollup as of source version
    * X" for whichever X that refresh applied. `withAvg` appends a
    * derived `avg_<c>` (double) for every maintained sum column —
    * AVG is not delta-maintained state, it is sum/count AT READ TIME,
    * which is both exact and free; materializing it would only invite
    * drift. `quantiles` picks the served quantiles of every `qh_`
    * column (any q in (0,1) — the maintained histogram supports all
    * of them; |quantiles| costs nothing extra, one sort + one total
    * fold per column either way).
    *
    * SQL fidelity: `avg_`/`var_`/`std_` divide by the measure's
    * NON-NULL count (the maintained `cnt_<c>` — SQL AVG/VAR_POP
    * exclude NULL rows) and serve NULL for a group with no non-null
    * values, exactly like SQL over an empty set. Views created before
    * cnt_ columns existed fall back to the old n_rows denominator.
    * A NULL `vsq_<c>` on a populated group proves decimal overflow
    * (the fold guards every sum; this is the serve-time backstop for
    * legacy state) — raised loudly, never served as NULL. */
  def readView(spark: SparkSession, viewDir: String,
      asOf: Option[Long] = None, withAvg: Boolean = false,
      quantiles: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    val raw = dropMeta((asOf match {
      case Some(v) => Snapshots.readVersion(spark, viewDir, v)
      case None => Snapshots.read(spark, viewDir)
    }).filter(col("n_rows") > 0))
    val d = parseDef(raw)
    // the SQL denominator: the measure's non-null count when the view
    // maintains it, the group's row count for legacy views
    def denom(c: String): Column =
      if (d.cntCols.contains(c)) col(s"cnt_$c") else col("n_rows")
    // register/bucket/cell maps are maintenance STATE, not the
    // product: serve the estimates (`distinct_<c>` via the
    // exact-arithmetic HLL estimator; `p<q>_<c>` via the rank fold)
    // and keep the sketches internal — heavy-hitter candidates serve
    // through [[topkValues]] (per-group top rows do not fit a
    // one-row-per-group frame)
    val rows0 = d.distinctCols.foldLeft(raw)((df, c) =>
      df.withColumn(s"distinct_$c", hllEstimateOf(s"hll_$c"))
        .drop(s"hll_$c"))
    val rows1 = d.quantileCols.foldLeft(rows0)((df, c) =>
      withQuantileCols(df, c, quantiles).drop(s"qh_$c"))
    val rows2 = d.topkCols.foldLeft(rows1)((df, c) =>
      df.drop(s"cm_$c", s"cmc_$c"))
    // variance state serves as var/std AT READ: population variance
    // Σx²/n − (Σx/n)² over the NON-NULL count, every operand an exact
    // integer cast once to double, one fixed IEEE expression (both
    // engines spell it identically), rounded to 4 — never
    // materialized fp state
    val rows = d.varCols.foldLeft(rows2) { (df, c) =>
      val vsq = when(col(s"vsq_$c").isNull && col("n_rows") > 0,
        raise_error(lit(s"view state overflow: vsq_$c is NULL on a " +
          "populated group — Σx² exceeded DECIMAL(38,0)"))
          .cast(d.types(s"vsq_$c")))
        .otherwise(col(s"vsq_$c"))
      val n = denom(c).cast("double")
      val m = col(s"vsum_$c").cast("double") / n
      val v0 = vsq.cast("double") / n - m * m
      df.withColumn(s"var_$c",
          when(denom(c) === 0, lit(null).cast("double"))
            .otherwise(round(v0, 4)))
        .withColumn(s"std_$c",
          when(denom(c) === 0, lit(null).cast("double"))
            .otherwise(round(sqrt(greatest(v0, lit(0.0))), 4)))
        .drop(s"vsum_$c", s"vsq_$c")
    }
    if (!withAvg) rows
    else d.sumCols.foldLeft(rows)((df, c) =>
      df.withColumn(s"avg_$c",
        when(denom(c) === 0, lit(null).cast("double"))
          .otherwise(
            col(s"sum_$c").cast("double") / denom(c).cast("double"))))
  }

  /** The maintained histogram of a quantile view column, exposed as
    * the sketch family's sparse bucket rows `(groupCols…, b, cnt)` —
    * so the QH probes ([[graft.operators.Sketches.qhCdfProbe]] /
    * `qhEstimate`) serve directly from VIEW state: a standing
    * reference distribution (the C4-style length filter's) that
    * refreshes in O(changes) — deletes included, bucket counts
    * subtract — instead of a sketch table rebuilt or re-added per
    * wave. `asOf` pins a committed view version. */
  def quantileBuckets(spark: SparkSession, viewDir: String, c: String,
      asOf: Option[Long] = None): DataFrame = {
    val raw = dropMeta((asOf match {
      case Some(v) => Snapshots.readVersion(spark, viewDir, v)
      case None => Snapshots.read(spark, viewDir)
    }).filter(col("n_rows") > 0))
    val d = parseDef(raw)
    require(d.quantileCols.contains(c),
      s"$viewDir maintains no quantile column qh_$c " +
        s"(has: ${d.quantileCols.mkString(", ")})")
    raw.select(d.groupCols.map(col) :+
        explode(map_entries(col(s"qh_$c"))).as("e"): _*)
      .select(d.groupCols.map(col) :+ col("e.key").as("b")
        :+ col("e.value").as("cnt"): _*)
  }

  /** The served HEAVY HITTERS of a topk view column: every maintained
    * candidate of `cmc_<c>` re-ranked by its count-min estimate from
    * the maintained `cm_<c>` cell map (min over the value's 4 cells —
    * the same law as [[graft.operators.Sketches.cmEstimates]], so the
    * DuckDB oracle replays `n_est` exactly; the count-min law
    * guarantees `n_est ≥` the value's true count). Output one row per
    * served value: `(groupCols…, rk, top_<c>, n_est)`, `rk ≤ k` per
    * group, ranked by estimate descending with ties broken on the
    * value (deterministic). `asOf` pins a committed view version.
    * Candidates are the union of each refresh window's per-group
    * top-[[CmCandK]] values by exact window count — the standard
    * count-min companion set (a global heavy hitter is heavy in some
    * window); a value never inserted is never served, and a deleted
    * value's estimate shrinks until the ranking drops it. */
  def topkValues(spark: SparkSession, viewDir: String, c: String,
      k: Int, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val raw = dropMeta((asOf match {
      case Some(v) => Snapshots.readVersion(spark, viewDir, v)
      case None => Snapshots.read(spark, viewDir)
    }).filter(col("n_rows") > 0))
    val d = parseDef(raw)
    require(d.topkCols.contains(c),
      s"$viewDir maintains no heavy-hitter column cm_$c " +
        s"(has: ${d.topkCols.mkString(", ")})")
    val keys = graft.operators.Sketches.cmCellKeys(col("_mv_v"))
    val est = least((0 until graft.operators.Sketches.CmRows).map(i =>
      coalesce(element_at(col(s"cm_$c"), element_at(keys, i + 1)),
        lit(0L))): _*)
    raw.select(d.groupCols.map(col) :+ col(s"cm_$c")
        :+ explode(col(s"cmc_$c")).as("_mv_v"): _*)
      .withColumn("n_est", est)
      .withColumn("rk", row_number().over(
        Window.partitionBy(d.groupCols.map(col): _*)
          .orderBy(col("n_est").desc, col("_mv_v"))))
      .filter(col("rk") <= k)
      .select(d.groupCols.map(col) :+ col("rk").cast(LongType).as("rk")
        :+ col("_mv_v").as(s"top_$c") :+ col("n_est"): _*)
  }

  /** The source version the view currently reflects. */
  def appliedSrcVersion(spark: SparkSession, viewDir: String): Long = {
    val v = Snapshots.version(spark, viewDir)
    appliedMeta(spark, viewDir, v, Snapshots.readVersion(spark, viewDir, v),
      MetaCols).head
  }

  /** How many source commits the view is behind. */
  def staleness(spark: SparkSession, srcDir: String, viewDir: String): Long =
    Snapshots.version(spark, srcDir) - appliedSrcVersion(spark, viewDir)

  /** The sentinel meta duplicated as a `_mv_meta` note sidecar (r16
    * optimization): every refresh/stream fold used to pay one Spark
    * head() job just to learn the applied source version(s) + batch id
    * it had itself committed — the same numbers now ride the commit as
    * a tiny driver-side text note ([[Snapshots.Sidecars.notes]]), so
    * readers resolve them with one fs read. The sentinel ROW stays the
    * durable source of truth (it survives compaction rewrites and
    * pre-note versions, where the note is absent and readers fall back
    * to the head() job) — the note is a derived fast path, never a
    * second authority: both are written by the same commit from the
    * same values.
    */
  private val MvMetaNote = "_mv_meta"

  private def metaNote(vals: Long*): Seq[(String, String)] =
    Seq(MvMetaNote -> vals.mkString(","))

  /** The join view's params row duplicated as a `_mv_params` note on
    * the ROWS table (same rationale as [[MvMetaNote]]): the refresh
    * loop used to pay one collect() job per call just to re-learn the
    * immutable (left_dir, right_dir, join_keys) triple. The note is
    * written by createJoinView's initial rows commit and copied
    * forward by every refresh/stream fold; the params TABLE stays the
    * durable source of truth — a rows version without the note (older
    * views, compaction rewrites) falls back to the table read and the
    * next refresh re-establishes the chain. Tab-separated (dir paths
    * may themselves contain commas).
    */
  private val MvParamsNote = "_mv_params"

  private def paramsNote(
      leftDir: String, rightDir: String,
      joinKeys: Seq[String]): (String, String) =
    MvParamsNote -> Seq(leftDir, rightDir, joinKeys.mkString(","))
      .mkString("\t")

  private def joinViewParams(
      spark: SparkSession, viewDir: String,
      rowsTip: Long): (String, String, Seq[String]) =
    Snapshots.noteAt(spark, s"$viewDir/rows", rowsTip, MvParamsNote) match {
      case Some(s) if s.split("\t", -1).length == 3 =>
        val a = s.split("\t", -1)
        (a(0), a(1), a(2).split(",").toSeq)
      case _ =>
        val p = Snapshots.read(spark, s"$viewDir/params").collect().head
        (p.getAs[String]("left_dir"), p.getAs[String]("right_dir"),
          p.getAs[String]("join_keys").split(",").toSeq)
    }

  /** The bookkeeping values (`cols`, in order) that view version `v`
    * of `tableDir` committed: its `_mv_meta` note, or the sentinel row
    * `mv` where the version has no note (a [[compactView]] rewrite). */
  private def appliedMeta(
      spark: SparkSession, tableDir: String, v: Long, mv: => DataFrame,
      cols: Seq[String]): Seq[Long] =
    Snapshots.noteAt(spark, tableDir, v, MvMetaNote)
      .map(_.trim.split(",").map(_.toLong).toSeq)
      .filter(_.length == cols.length)
      .getOrElse {
        val row = mv.filter(col("n_rows") === 0)
          .select(cols.map(col): _*).head()
        cols.indices.map(row.getLong)
      }

  /** Null-safe equi-join condition on the group columns (a NULL group
    * key is a legitimate group — a plain equi-join would orphan it).
    */
  private def keyCond(groupCols: Seq[String], rightPrefix: String): Column =
    groupCols.map(c => col(c) <=> col(s"$rightPrefix$c")).reduce(_ && _)

  /** The documented UPSERT CONTRACT that lets a refresh digest
    * post-only `update` rows (a `Snapshots.merge` recorded WITHOUT
    * `preImages` — the compact feed) through the touched-group rescan:
    * the caller DECLARES the merge key its upserts used, and this
    * check verifies the declaration determines the hidden pre-image's
    * touched groups from the post-image alone. A merge on key K
    * replaces the row matching on K, so pre- and post-image agree
    * bitwise on every column of K; when every column the touched-set
    * derivation consults (`needed` — the view's group columns for a
    * single-table view, the join keys plus the side's RESIDENT group
    * columns for a join view) is part of K, the post-image names
    * exactly the groups the vanished pre-image could have lived in,
    * and the rescan's conservative-superset argument goes through
    * unchanged. The declaration itself is the trust boundary — the
    * feed does not record which key a merge used — so it is an
    * explicit refresh argument, never inferred; with no declaration
    * (the default) or a key that leaves a needed column loose, the
    * refresh refuses exactly as before: an upsert that moved a row
    * across groups would silently strand the old group's aggregates.
    */
  private def upsertDetermined(
      upsertKey: Seq[String], needed: Seq[String], what: String): Unit = {
    require(upsertKey.nonEmpty,
      s"$what needs invertible feeds: a post-only 'update' row hides " +
        "the retracted row — record merges with preImages = true, or " +
        "declare the merge key (upsertKey) so the rescan can prove the " +
        "post-image determines the touched groups")
    val loose = needed.filterNot(upsertKey.contains)
    require(loose.isEmpty,
      s"$what: upsert contract underdetermined — columns " +
        s"${loose.mkString(", ")} are not part of the declared merge " +
        s"key ${upsertKey.mkString(", ")}, so a post-only 'update' row " +
        "may have moved the row across groups; record merges with " +
        "preImages = true or merge on a key that pins them")
  }

  /** ONE action over a window's feed: the change kinds mapped to the
    * versions that carried them. Replaces the former pair of jobs
    * (kinds distinct + update-version distinct) — collect_set keeps
    * the result window-version-sized, never row-sized. */
  private def windowKinds(feed: DataFrame): Map[String, Seq[Long]] =
    // a window whose feed sidecars were read driver-side folds to
    // a local plan — classify on the driver, zero jobs; the Spark
    // aggregation stays the fallback for executor-sized feeds
    Snapshots.localPlanRows(feed) match {
      case Some(rows) =>
        val ct = feed.schema.fieldIndex("change_type")
        val vi = feed.schema.fieldIndex("version")
        rows.groupBy(_.getUTF8String(ct).toString).map { case (k, rs) =>
          k -> rs.map(_.getLong(vi)).distinct.sorted }.toMap
      case None =>
        feed.groupBy("change_type")
          .agg(collect_set(col("version")).as("vs"))
          .collect()
          .map(r => r.getString(0) ->
            r.getSeq[Long](r.fieldIndex("vs")).sorted)
          .toMap
    }

  /** [[upsertDetermined]] upgraded with GROUND TRUTH: since r16 every
    * post-only `recordChanges` merge records the key it actually used
    * (`Snapshots.recordedUpdateKey`, the `_update_key` sidecar), so
    * for each window version carrying `update` rows the contract is
    * checked against the RECORDED key — a declaration claiming more
    * than the merge pinned is caught loudly instead of trusted.
    * Feeds predating the sidecar fall back to the declared key (the
    * original trust boundary, now confined to legacy commits). The
    * declaration stays the OPT-IN either way: with none, the refusal
    * is byte-for-byte the undeclared one — classification (and this
    * check) are never paid on the undeclared fast path. `vers` is the
    * update-bearing version list from the window's ONE classification
    * action ([[windowKinds]]); `presentAt` is the window-end version
    * under whose logical names the recorded key is presented
    * (rename-proof, like the feed itself). */
  private def upsertWindowVerified(
      spark: SparkSession, srcDir: String, vers: Seq[Long],
      declared: Seq[String], needed: Seq[String], what: String,
      presentAt: Long): Unit = {
    upsertDetermined(declared, Nil, what) // the opt-in gate
    vers.foreach { v =>
      Snapshots.recordedUpdateKey(spark, srcDir, v, presentAt) match {
        case Some(k) =>
          val loose = needed.filterNot(k.contains)
          require(loose.isEmpty,
            s"$what: version $v of $srcDir merged on recorded key " +
              s"${k.mkString(", ")}, which leaves " +
              s"${loose.mkString(", ")} underdetermined (the declaration " +
              s"${declared.mkString(", ")} does not override ground " +
              "truth) — a post-only 'update' row may have moved the " +
              "row across groups; record merges with preImages = true " +
              "or merge on a key that pins them")
        case None =>
          upsertDetermined(declared, needed,
            s"$what (version $v of $srcDir predates the recorded-" +
              "merge-key sidecar; verifying the declaration instead)")
      }
    }
  }

  /** Apply one batch of feed rows to the view's group rows as pure
    * deltas. Throws on a post-only `update` row (not invertible) and on
    * any group whose maintained count would go negative (a feed that
    * deletes rows the view never saw — a definition/window mismatch).
    *
    * MIN/MAX columns are maintained here too, under the one law that
    * makes them delta-able: an INSERT-ONLY batch can only EXTEND a
    * group's extrema (`least`/`greatest` against the batch's own
    * min/max — associative, commutative, and split-invariant, so the
    * streaming path's micro-batch boundaries don't matter). Any
    * retraction in the batch makes the old extremum unrecoverable (the
    * classic IVM limitation), so a min/max view meeting a non-insert
    * row here fails loudly at evaluation — the batch refresh routes
    * such windows through [[rescanTouched]] instead.
    */
  private def applyDeltas(aggRows: DataFrame, feed: DataFrame,
      d: MvDef): DataFrame = {
    val sign = when(col("change_type").isin("insert", "update_postimage"),
        lit(1L))
      .when(col("change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(raise_error(concat(
        lit("non-invertible change feed row (change_type="),
        col("change_type"),
        lit("); record merges with preImages = true"))).cast(LongType))
    val mmNames: Seq[String] =
      if (!d.hasRescanAggs) Nil
      else "_dsgn" +: (d.minCols.map(c => s"_dmin_$c") ++
        d.maxCols.map(c => s"_dmax_$c"))
    val mmCols: Seq[Column] =
      if (!d.hasRescanAggs) Nil
      else min(sign).as("_dsgn") +:
        (d.minCols.map(c => min(col(c)).as(s"_dmin_$c")) ++
          d.maxCols.map(c => max(col(c)).as(s"_dmax_$c")))
    // signed LONG products cannot overflow (|x| ≤ Long.Max, sign ±1);
    // the SUM over them can — so every sum delta is accumulated WIDE
    // (DECIMAL(38,0), exact) and the fold below narrows through the
    // guarded cast. Variance deltas are plain signed sums too: the
    // retraction subtracts the row's value AND its square exactly.
    // cnt deltas are signed NON-NULL indicators — the SQL AVG/VAR
    // denominator, subtracting exactly under deletes.
    def wideSigned(c: String): Column =
      sum((sign * coalesce(col(c).cast(LongType), lit(0L))).cast(VarDec))
    val varNames: Seq[String] =
      d.varCols.flatMap(c => Seq(s"_dvsum_$c", s"_dvsq_$c"))
    val cntNames: Seq[String] = d.cntCols.map(c => s"_dcnt_$c")
    val deltaAggs: Seq[Column] =
      (sum(sign).as("_dn") +:
        (d.cntCols.map(c => sum(sign *
          col(c).isNotNull.cast(LongType)).as(s"_dcnt_$c")) ++
          d.sumCols.map(c => wideSigned(c).as(s"_dsum_$c")) ++
          d.varCols.flatMap(c => Seq(
            wideSigned(c).as(s"_dvsum_$c"),
            sum(sign.cast(org.apache.spark.sql.types.DecimalType(1, 0)) *
              squareOf(c)).cast(VarDec).as(s"_dvsq_$c"))))) ++
        mmCols
    val deltas = feed
      .groupBy(d.groupCols.map(col): _*).agg(deltaAggs.head, deltaAggs.tail: _*)
      .select((d.groupCols.map(c => col(c).as(s"_d_$c")) ++
        (col("_dn") +: (cntNames.map(col) ++
          d.sumCols.map(c => col(s"_dsum_$c")) ++
          varNames.map(col))) ++
        mmNames.map(col)): _*)
    // per-group delta register maps ride the same full-outer join:
    // rename to `_dhll_<c>` so the old map column keeps its name
    val deltas2 = d.distinctCols.foldLeft(deltas) { (acc, c) =>
      val m = hllMapOf(feed, d.groupCols, c).select(
        d.groupCols.map(cc => col(cc).as(s"_dh_$cc"))
          :+ col(s"hll_$c").as(s"_dhll_$c"): _*)
      acc.join(m,
        d.groupCols.map(cc => col(s"_d_$cc") <=> col(s"_dh_$cc"))
          .reduce(_ && _), "left")
        .drop(d.groupCols.map(cc => s"_dh_$cc"): _*)
    }
    // per-group SIGNED bucket-count deltas: insert rows +1 their
    // bucket, retraction rows −1 it — the exact inverse, so quantile
    // columns never leave the delta path. Same bucket law as the
    // recompute (Sketches.qhBucketSql); NULL values contribute
    // nothing; zero-sum buckets drop before the map builds.
    val deltas3 = d.quantileCols.foldLeft(deltas2) { (acc, c) =>
      val m = feed.filter(col(c).isNotNull)
        .select(d.groupCols.map(col) :+ sign.as("_sg")
          :+ col(c).cast(LongType).as("v"): _*)
        .withColumn("v", when(col("v") >= 0, col("v")).otherwise(
          raise_error(concat(
            lit("quantile sketch value must be >= 0, got "),
            col("v").cast("string")))))
        .withColumn("b", expr(graft.operators.Sketches.qhBucketSql("v")))
        .groupBy((d.groupCols :+ "b").map(col): _*)
        .agg(sum(col("_sg")).as("cnt"))
        .filter(col("cnt") =!= 0)
        .groupBy(d.groupCols.map(col): _*)
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("b"), col("cnt"))))).as(s"_dqh_$c"))
        .select(d.groupCols.map(cc => col(cc).as(s"_dq_$cc"))
          :+ col(s"_dqh_$c"): _*)
      acc.join(m,
        d.groupCols.map(cc => col(s"_d_$cc") <=> col(s"_dq_$cc"))
          .reduce(_ && _), "left")
        .drop(d.groupCols.map(cc => s"_dq_$cc"): _*)
    }
    // per-group SIGNED count-min cell deltas (the heavy-hitter
    // family): insert rows +1 their 4 cells, retraction rows −1 them
    // — exact inverses, so cm_ columns never leave the delta path.
    // The candidate union takes only the window's POST-state rows
    // (inserts/post-images): a delete adds no candidate, it just
    // shrinks the retracted value's estimate until the read-time
    // re-ranking drops it.
    val deltas4 = d.topkCols.foldLeft(deltas3) { (acc, c) =>
      val m = feed.filter(col(c).isNotNull)
        .select(d.groupCols.map(col) :+ sign.as("_sg") :+ explode(
          graft.operators.Sketches.cmCellKeys(col(c).cast("string")))
          .as("_mv_ck"): _*)
        .groupBy((d.groupCols :+ "_mv_ck").map(col): _*)
        .agg(sum(col("_sg")).as("_mv_cc"))
        .filter(col("_mv_cc") =!= 0)
        .groupBy(d.groupCols.map(col): _*)
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("_mv_ck"), col("_mv_cc"))))).as(s"_dcm_$c"))
        .select(d.groupCols.map(cc => col(cc).as(s"_dc_$cc"))
          :+ col(s"_dcm_$c"): _*)
      val cands = cmcArrayOf(
        feed.filter(col("change_type").isin("insert", "update_postimage")),
        d.groupCols, c)
        .select(d.groupCols.map(cc => col(cc).as(s"_dk_$cc"))
          :+ col(s"cmc_$c").as(s"_dcmc_$c"): _*)
      acc.join(m,
        d.groupCols.map(cc => col(s"_d_$cc") <=> col(s"_dc_$cc"))
          .reduce(_ && _), "left")
        .drop(d.groupCols.map(cc => s"_dc_$cc"): _*)
        .join(cands,
          d.groupCols.map(cc => col(s"_d_$cc") <=> col(s"_dk_$cc"))
            .reduce(_ && _), "left")
        .drop(d.groupCols.map(cc => s"_dk_$cc"): _*)
    }
    val joined =
      aggRows.join(deltas4, keyCond(d.groupCols, "_d_"), "full_outer")
    val n2 = coalesce(col("n_rows"), lit(0L)) + coalesce(col("_dn"), lit(0L))
    // a min/max delta batch containing any retraction (sign < 1) is
    // unsound — refuse at evaluation, pointing at the rescan route
    def mmGuard(c: Column, tpe: DataType): Column =
      when(coalesce(col("_dsgn"), lit(1L)) < 1L, raise_error(lit(
        "min/max delta maintenance is insert-only: this feed window " +
          "carries deletes/updates — run batch refreshView (touched-" +
          "group rescan)")).cast(tpe)).otherwise(c)
    // a delta sum that went NULL while the group HAS delta rows (_dn
    // non-null) proves the wide decimal sum overflowed — inputs are
    // coalesced non-null, so NULL has exactly one cause
    def dWide(name: String, what: String): Column =
      when(col("_dn").isNotNull && col(name).isNull,
        raise_error(lit(s"view state overflow: $what exceeded " +
          "DECIMAL(38,0) in the feed window")).cast(VarDec))
        .otherwise(coalesce(col(name), lit(0L).cast(VarDec)))
    def negGuard(c: Column, what: String): Column =
      when(c < 0, raise_error(lit(
        s"view $what went negative: feed window does not match the " +
          "view's applied source version")).cast(LongType))
        .otherwise(c)
    joined.select(
      (d.groupCols.map(c => coalesce(col(c), col(s"_d_$c")).as(c)) ++
        Seq(negGuard(n2, "count").as("n_rows")) ++
        d.cntCols.map(c => negGuard(
          coalesce(col(s"cnt_$c"), lit(0L)) +
            coalesce(col(s"_dcnt_$c"), lit(0L)), s"non-null count cnt_$c")
          .as(s"cnt_$c")) ++
        d.sumCols.map(c => longFromWide(
          coalesce(col(s"sum_$c"), lit(0L)).cast(VarDec) +
            dWide(s"_dsum_$c", s"sum_$c"), s"sum_$c").as(s"sum_$c")) ++
        d.varCols.flatMap { c =>
          val zero = lit(0L).cast(d.types(s"vsq_$c"))
          Seq(
            longFromWide(
              coalesce(col(s"vsum_$c"), lit(0L)).cast(VarDec) +
                dWide(s"_dvsum_$c", s"vsum_$c"), s"vsum_$c")
              .as(s"vsum_$c"),
            decGuarded(
              coalesce(col(s"vsq_$c"), zero) +
                dWide(s"_dvsq_$c", s"vsq_$c"),
              d.types(s"vsq_$c"), s"vsq_$c").as(s"vsq_$c"))
        } ++
        d.minCols.map(c => mmGuard(least(col(s"min_$c"), col(s"_dmin_$c")),
          d.types(s"min_$c")).as(s"min_$c")) ++
        d.maxCols.map(c => mmGuard(greatest(col(s"max_$c"), col(s"_dmax_$c")),
          d.types(s"max_$c")).as(s"max_$c")) ++
        d.distinctCols.map { c =>
          // register max-merge, key-union over the two maps; null side
          // reads as the empty sketch
          val empty = expr("cast(map() as map<int,int>)")
          val merged = map_zip_with(
            coalesce(col(s"hll_$c"), empty),
            coalesce(col(s"_dhll_$c"), empty),
            (_, a, b) => greatest(a, b))
          mmGuard(merged, d.types(s"hll_$c")).as(s"hll_$c")
        } ++
        d.quantileCols.map { c =>
          // bucket-count ADD (signed deltas subtract exactly — no
          // insert-only guard here, by design); a negative merged
          // count is a feed/window mismatch, refused like n_rows < 0;
          // zeroed buckets drop so the state equals a recompute's
          val empty = expr("cast(map() as map<bigint,bigint>)")
          val summed = map_zip_with(
            coalesce(col(s"qh_$c"), empty),
            coalesce(col(s"_dqh_$c"), empty),
            (_, a, b) => coalesce(a, lit(0L)) + coalesce(b, lit(0L)))
          val merged = when(
            exists(map_values(summed), v => v < 0), raise_error(lit(
              "view bucket count went negative: feed window does not " +
                "match the view's applied source version"))
              .cast(d.types(s"qh_$c")))
            .otherwise(map_filter(summed, (_, v) => v =!= 0))
          merged.as(s"qh_$c")
        } ++
        d.topkCols.flatMap { c =>
          // cell-count ADD (signed deltas subtract exactly — no
          // insert-only guard, by design, same as qh_); candidates
          // union-merge sorted (deterministic state)
          val empty = expr("cast(map() as map<bigint,bigint>)")
          val summed = map_zip_with(
            coalesce(col(s"cm_$c"), empty),
            coalesce(col(s"_dcm_$c"), empty),
            (_, a, b) => coalesce(a, lit(0L)) + coalesce(b, lit(0L)))
          val merged = when(
            exists(map_values(summed), v => v < 0), raise_error(lit(
              "view cell count went negative: feed window does not " +
                "match the view's applied source version"))
              .cast(d.types(s"cm_$c")))
            .otherwise(map_filter(summed, (_, v) => v =!= 0))
          val emptyA = expr("cast(array() as array<string>)")
          val mergedC = array_sort(array_distinct(concat(
            coalesce(col(s"cmc_$c"), emptyA),
            coalesce(col(s"_dcmc_$c"), emptyA))))
          Seq(merged.as(s"cm_$c"), mergedC.as(s"cmc_$c"))
        }): _*)
      .filter(col("n_rows") > 0)
  }

  /** How many distinct probe keys the IN-list route will collect to
    * the driver before falling back to the envelope/full read — a CDC
    * delta's key set by contract; a Bucket(n) transform maps any
    * IN-list onto ≤ n bucket ids, so the pruning keep-condition stays
    * bounded regardless. */
  private val MaxInListKeys = 1024

  /** A versioned read of `dir` restricted to rows whose `keys` values
    * can match some row of `probe` — the manifest-pruned half of every
    * delta join, picking the tightest route version `v` supports:
    *
    *  - a PARTITION TRANSFORM over a join key (bucket/identity/…)
    *    routes through [[Snapshots.readPartitionedIn]] with the
    *    probe's distinct keys (collected when ≤ [[MaxInListKeys]]):
    *    on a hash-bucketed layout a min/max envelope spans the whole
    *    key range and prunes NOTHING, while the transform envelope
    *    selects O(touched buckets) of files — the right route for a
    *    CDC delta against a bucketed fact/dimension side;
    *  - otherwise, covering file stats route the probe's per-key
    *    envelope (ONE tiny aggregate over the probe) through
    *    [[Snapshots.readRanges]] — the key-clustered layout's route;
    *  - otherwise the plain versioned scan — never a wrong answer,
    *    only a wider read.
    *
    * Correctness: transform envelopes, file envelopes, and both
    * residuals only drop rows that cannot equi-match any probe row,
    * so the pruned frame is a superset of everything a null-unsafe
    * equi-match on `keys` could select (probe rows with a NULL key
    * match nothing under `=`; the IN-list drops NULL keys for the
    * same reason). Callers matching null-safely (`<=>`, the
    * touched-group rescan) pass `nullSafe = true`: min/max ignore
    * NULLs, so a NULL-keyed probe row forces the full read there. A
    * probe with no non-null value on some key proves the equi-join
    * empty — an empty local relation, zero files planned or read.
    */
  private[graft] def readMatching(
      spark: SparkSession,
      dir: String,
      v: Long,
      probe: DataFrame,
      keys: Seq[String],
      nullSafe: Boolean = false): DataFrame = {
    def full = Snapshots.readVersion(spark, dir, v)
    val statsOk = Snapshots.statsCover(spark, dir, keys, v)
    val bucketKey = keys.find(k =>
      Snapshots.partitionCovers(spark, dir, k, v))
    if (!statsOk && bucketKey.isEmpty) full
    else {
      val aggs = keys.flatMap(k => Seq(
        min(col(k)).as(s"_lo_$k"), max(col(k)).as(s"_hi_$k"),
        max(col(k).isNull.cast(LongType)).as(s"_null_$k")))
      val env = probe.select(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*).head()
      val anyNull = keys.indices.exists(i =>
        !env.isNullAt(3 * i + 2) && env.getLong(3 * i + 2) == 1L)
      def ranges = Snapshots.readRanges(spark, dir,
        keys.zipWithIndex.map { case (k, i) =>
          (k, env.get(3 * i), env.get(3 * i + 1)) }, v)
      if (nullSafe && anyNull) full
      else if (keys.indices.exists(i => env.isNullAt(3 * i)))
        // some key has no non-null probe value: nothing can equi-match
        // — an empty LOCAL relation, zero files planned or read
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          full.schema)
      else bucketKey match {
        case Some(k) =>
          // bounded distinct-key collect (the second tiny probe pass
          // after the envelope — a delta is small by contract, and
          // the envelope already paid the null/emptiness checks)
          val vals = probe.select(col(k)).filter(col(k).isNotNull)
            .distinct().limit(MaxInListKeys + 1)
            .collect().map(_.get(0)).toIndexedSeq
          if (vals.size <= MaxInListKeys)
            Snapshots.readPartitionedIn(spark, dir, k, vals, v)
          else if (statsOk) ranges
          else full
        case None => ranges
      }
    }
  }

  /** Re-aggregate only the groups the feed touched from the source tip;
    * carry every untouched group's row over unread. Exact for ALL
    * aggregate kinds (it recomputes), at O(|changes| + touched-group
    * rows) — the strategy min/max views need.
    */
  private def rescanTouched(aggRows: DataFrame, feed: DataFrame,
      srcTip: DataFrame, d: MvDef): DataFrame = {
    val touched = feed.select(d.groupCols.map(col): _*).distinct()
    val tKeyed = touched
      .select(d.groupCols.map(c => col(c).as(s"_t_$c")): _*)
    val recomputed = aggregate(
      srcTip.join(tKeyed, keyCond(d.groupCols, "_t_"), "left_semi"),
      d.groupCols, d.sumCols, d.minCols, d.maxCols, d.distinctCols,
      d.quantileCols, d.varCols, d.cntCols, d.topkCols)
    val untouched = aggRows
      .join(tKeyed, keyCond(d.groupCols, "_t_"), "left_anti")
    untouched.unionByName(recomputed)
  }

  /** The one maintenance fold of a single-table view: apply a feed
    * window to the view's tip and commit through CAS, re-deriving on a
    * lost race. `window` maps the tip's (applied source version, last
    * stream batch id) to the window to fold: its feed rows (shaped like
    * [[Snapshots.changesFeed]]: `change_type`, the source columns,
    * `version`), the source version they reach, and the batch id to
    * record; None means there is nothing to fold. Routing: pure delta
    * for delta-invertible views and for insert-only windows of
    * min/max/HLL views (inserts only extend them, zero source reads);
    * the touched-group rescan for windows with retractions, and for
    * post-only `update` rows once [[upsertWindowVerified]] accepts the
    * declared key. A pure-delta view with no declared key skips the
    * classification ([[applyDeltas]] itself refuses `update` rows).
    * Returns the view version holding the window, None when every
    * attempt lost its race. */
  private def foldView(spark: SparkSession, srcDir: String,
      viewDir: String, retries: Int, upsertKey: Seq[String], what: String)(
      window: (Long, Long) => Option[(DataFrame, Long, Long)])
      : Option[Long] = retried(retries) {
    val base = Snapshots.version(spark, viewDir)
    require(base >= 1, s"no committed view in $viewDir")
    val mv = Snapshots.readVersion(spark, viewDir, base)
    val d = parseDef(mv.drop(MetaCols: _*))
    val Seq(applied, lastBatch) =
      appliedMeta(spark, viewDir, base, mv, MetaCols)
    window(applied, lastBatch).fold(Option(base)) { case (feed, tip, batchId) =>
      val aggRows = mv.filter(col("n_rows") > 0).drop(MetaCols: _*)
      val kindVers =
        if (d.hasRescanAggs || upsertKey.nonEmpty) windowKinds(feed)
        else Map.empty[String, Seq[Long]]
      kindVers.get("update").foreach(vers => upsertWindowVerified(spark,
        srcDir, vers, upsertKey, d.groupCols, what, tip))
      val delta =
        if (d.hasRescanAggs) kindVers.keySet.subsetOf(Set("insert"))
        else !kindVers.contains("update")
      // the rescan's source read is bounded by the touched groups' key
      // envelope (null-safe: a NULL touched key falls back to full)
      val next =
        if (delta) applyDeltas(aggRows, feed, d)
        else rescanTouched(aggRows, feed, readMatching(spark, srcDir, tip,
          feed, d.groupCols, nullSafe = true), d)
      Snapshots.commitIfVersion(spark, withMeta(spark, next, d, tip, batchId),
        viewDir, base, statsColumns = d.groupCols,
        notes = metaNote(tip, batchId))
    }
  }

  /** Run one CAS attempt (None: it lost the race) until one commits or
    * `retries` attempts have lost. */
  private def retried(retries: Int)(attempt: => Option[Long]): Option[Long] =
    Iterator.fill(retries)(attempt).collectFirst { case Some(v) => v }

  /** Bring the view up to the source's current version: [[foldView]]
    * over the window `(applied, tip]` of [[Snapshots.changesFeed]]. A
    * no-op (current view version returned) when already fresh. Every
    * data-changing source commit inside the window must have recorded
    * its feed (`recordChanges = true`; merges with `preImages = true`,
    * or an `upsertKey` the rescan can verify) — the feed throws on a
    * gap rather than silently under-applying. The stream's last batch
    * id is carried forward, so a maintainer stream's replay guard holds
    * across interleaved batch refreshes.
    */
  def refreshView(
      spark: SparkSession,
      srcDir: String,
      viewDir: String,
      maxRetries: Int = 10,
      upsertKey: Seq[String] = Nil): Long =
    foldView(spark, srcDir, viewDir, maxRetries, upsertKey, "view refresh") {
      (applied, lastBatch) =>
        val tip = Snapshots.version(spark, srcDir)
        require(tip >= applied,
          s"source $srcDir is at $tip, behind the view's applied $applied " +
            "(restored source? rebuild the view)")
        if (tip == applied) None
        else Some((Snapshots.changesFeed(spark, srcDir, applied, tip), tip,
          lastBatch))
    }.getOrElse(throw new IllegalStateException(
      s"view refresh on $viewDir lost $maxRetries optimistic races; giving up"))

  /** Continuous maintenance: drain the source's write-time change feed
    * ([[Snapshots.changesStream]]) through a checkpointed stream, and
    * fold each micro-batch with [[foldView]] — the window is the
    * batch's rows past the applied version, ending at their highest
    * version. Exactly-once under the file-source contract: versions
    * already applied are filtered (`version > applied`), a replayed
    * micro-batch (batch id at or below the recorded one — the
    * at-least-once window after a commit-then-crash) folds nothing,
    * and commits CAS against racing [[refreshView]] calls. ONE
    * maintainer stream per view: batch ids are only monotone within a
    * single checkpoint, so a second stream on another checkpoint would
    * read the first stream's ids as "already applied" and skip real
    * work (restarting the SAME checkpoint is fine — that is the replay
    * the guard exists for). Pass `Trigger.AvailableNow` for the
    * catch-up-and-stop cadence.
    *
    * `maintainEvery > 0` closes the retention loop: every N folded
    * micro-batches the maintainer itself runs the standing repair —
    * [[compactView]] + [[expireView]](`keepVersions`) — post-commit
    * and BEST-EFFORT (never inside the CAS retry loop; a failed
    * repair never fails the fold, the next cadence point retries).
    * Without it a continuously-maintained view accumulates a version
    * per micro-batch forever. `keepVersions = 1` is safe (maintenance
    * only reads the tip); the price is as-of reads older than the
    * window.
    */
  def streamRefreshView(
      spark: SparkSession,
      srcDir: String,
      viewDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maintainEvery: Int = 0,
      keepVersions: Int = 1,
      upsertKey: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    maintainStream(spark, viewDir, Snapshots.changesStream(spark, srcDir),
      checkpointDir, trigger, maintainEvery, keepVersions) { (batch, batchId) =>
      foldView(spark, srcDir, viewDir, 10, upsertKey,
        "streaming view maintenance") { (applied, lastBatch) =>
        if (batchId <= lastBatch) None
        else pastApplied(batch, applied).map { case (f, t) => (f, t, batchId) }
      }.getOrElse(throw new IllegalStateException(
        s"streaming view maintenance on $viewDir lost 10 optimistic races"))
    }

  /** A micro-batch's feed rows past `applied` and the highest version
    * among them; None when it holds none. */
  private def pastApplied(
      rows: DataFrame, applied: Long): Option[(DataFrame, Long)] = {
    val fresh = rows.filter(col("version") > applied)
    val top = fresh.agg(max("version")).head()
    if (top.isNullAt(0)) None else Some((fresh, top.getLong(0)))
  }

  /** Run a view maintainer stream: each micro-batch is pinned in memory
    * while `onBatch` consumes it, then the retention cadence runs — every
    * `maintainEvery` batches, bin-pack the tip and expire history,
    * best-effort and after the batch's commit landed (a repair failure
    * must never fail the fold; the next cadence point retries, and
    * batch ids are monotone so the cadence survives restarts). */
  private def maintainStream(spark: SparkSession, viewDir: String,
      feed: DataFrame, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      maintainEvery: Int, keepVersions: Int)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def repair(batchId: Long): Unit =
      if (maintainEvery > 0 && batchId % maintainEvery == maintainEvery - 1)
        try {
          compactView(spark, viewDir)
          expireView(spark, viewDir, keepVersions)
        } catch {
          case scala.util.control.NonFatal(_) => // retried next cadence
        }
    feed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try onBatch(batch, batchId)
        finally batch.unpersist()
        repair(batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  // ---------- join views (append-only sources) ----------
  //
  // Aggregates OVER A JOIN, maintained incrementally — the common
  // production MV ("revenue per priority" = orders ⋈ lineitem rolled
  // up), where the full recompute is a join of two 100 TB tables. The
  // bilinear delta rule (DBSP/Materialize):
  //
  //   L_new ⋈ R_new = L_old ⋈ R_old  +  ΔL ⋈ R_new  +  L_old ⋈ ΔR
  //
  // so a refresh adds two SMALL joins — each delta against one full
  // side, never full ⋈ full. Snapshot time travel is what makes the
  // asymmetry exact: `L_old` is literally `readVersion(leftDir,
  // appliedLeftVersion)` — no bookkeeping copies, the lakehouse layer
  // already stores every version. The unchanged side is read through
  // [[readMatching]]: the delta's join-key envelope consults the
  // side's stats manifest, so a key-clustered side scans O(matching
  // files), not O(table) — with the full scan as the stats-less
  // fallback. Cost is O(|Δ| × matching rows + matching files' read) —
  // NOT the zero-source-read of the single-table delta path, and
  // documented as such.
  //
  // The PURE-DELTA path is append-only: retracting a historical pair
  // would need the exact other-side version it joined against. Feeds
  // carrying deletes/updates take the TOUCHED-GROUP RESCAN route
  // instead: any group whose aggregate changed must contain a pair
  // involving a Δrow, and that pair is visible in Δside ⋈ the version
  // of the other side it paired with — deleted pairs in the OLD
  // versions, inserted pairs in the NEW — so
  //   touched ⊇ groups( ΔL⋈R_old ∪ ΔL⋈R_new ∪ L_old⋈ΔR ∪ L_new⋈ΔR )
  // is a conservative superset, and the refresh re-joins ONLY those
  // groups' rows at both tips (semi-join pushdown), carrying every
  // untouched group unread. O(|Δ| × matches + touched-group join
  // volume) — still never full ⋈ full.
  //
  // Layout: `viewDir/params` (sources, keys, definition — refresh
  // takes only the viewDir) + `viewDir/rows` (the agg rows, sentinel
  // carrying BOTH applied source versions). `mv_read('<dir>/rows')`
  // serves it like any other view.

  /** Materialize `SELECT groupCols, COUNT(*), SUM(sumCols…),
    * MIN(minCols…), MAX(maxCols…) FROM left JOIN right USING
    * (joinKeys) GROUP BY groupCols` at both sources' current versions.
    * Join keys must be same-named on both sides; non-key column names
    * must not collide. Min/max columns refresh on the bilinear delta
    * path for all-insert windows (inserts only extend extrema) and on
    * the touched-group rescan otherwise — same routing as the
    * single-table view. `distinctCols` (HLL register maps, served as
    * `distinct_<c>`) merge on the delta path for all-insert windows
    * and recompute through the rescan; `quantileCols` (log-bucket
    * count maps, served as `p50_<c>`/`p95_<c>`) ride whichever route
    * the window picks — their signed counts are exact either way. */
  def createJoinView(
      spark: SparkSession,
      leftDir: String,
      rightDir: String,
      viewDir: String,
      joinKeys: Seq[String],
      groupCols: Seq[String],
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      varCols: Seq[String] = Nil,
      topkCols: Seq[String] = Nil): Long = {
    import spark.implicits._
    require(joinKeys.nonEmpty && groupCols.nonEmpty,
      "a join view needs join keys and at least one group column")
    require(Snapshots.version(spark, s"$viewDir/rows") == 0L,
      s"$viewDir already holds a committed view")
    // same naming contract as createView (one shared list)
    val reservedJ = reservedGroupNames(groupCols)
    require(reservedJ.isEmpty,
      s"group column names collide with the view's aggregate naming " +
        s"contract: ${reservedJ.mkString(", ")}")
    val vL = Snapshots.version(spark, leftDir)
    val vR = Snapshots.version(spark, rightDir)
    require(vL >= 1 && vR >= 1, "both join inputs need a committed snapshot")
    val l = Snapshots.readVersion(spark, leftDir, vL)
    val r = Snapshots.readVersion(spark, rightDir, vR)
    val clash = l.columns.filterNot(joinKeys.contains)
      .intersect(r.columns.filterNot(joinKeys.contains))
    require(clash.isEmpty,
      s"non-key columns collide across the join inputs: ${clash.mkString(", ")}")
    val jT = (l.schema ++ r.schema).map(f => f.name -> f.dataType).toMap
    val badSum = sumCols.filterNot(c => integral(jT(c)))
    require(badSum.isEmpty,
      s"sum columns must be integral (exact delta maintenance): " +
        s"${badSum.mkString(", ")}")
    val missing = (distinctCols ++ quantileCols ++ varCols ++ topkCols)
      .filterNot(jT.contains)
    require(missing.isEmpty,
      s"sketch columns absent from the join schema: ${missing.mkString(", ")}")
    val badQ = quantileCols.filterNot(c => integral(jT(c)))
    require(badQ.isEmpty,
      s"quantile columns must be integral (exact log-bucket " +
        s"maintenance): ${badQ.mkString(", ")}")
    val badV = varCols.filterNot(c => integral(jT(c)))
    require(badV.isEmpty,
      s"variance columns must be integral (exact sum-of-squares " +
        s"maintenance): ${badV.mkString(", ")}")
    require(distinctCols.isEmpty || groupCols.forall(c =>
      !Seq("gen", "j", "r", "h", "w").contains(c)),
      s"group columns collide with sketch register columns: $groupCols")
    require(quantileCols.isEmpty || groupCols.forall(c =>
      !Seq("gen", "v", "b", "cnt").contains(c)),
      s"group columns collide with sketch bucket columns: $groupCols")
    Snapshots.commit(spark,
      Seq((leftDir, rightDir, joinKeys.mkString(","),
        groupCols.mkString(","), sumCols.mkString(",")))
        .toDF("left_dir", "right_dir", "join_keys", "group_cols",
          "sum_cols"),
      s"$viewDir/params")
    val rows = aggregate(l.join(r, joinKeys), groupCols, sumCols,
      minCols, maxCols, distinctCols, quantileCols, varCols,
      cntCols = (sumCols ++ varCols).distinct, topkCols = topkCols)
    val d = parseDef(rows)
    Snapshots.commit(spark,
      withMetaCols(spark, rows, d, JoinMetaCols.zip(Seq(vL, vR, -1L))),
      s"$viewDir/rows", statsColumns = groupCols,
      notes = metaNote(vL, vR, -1L) :+
        paramsNote(leftDir, rightDir, joinKeys))
  }

  /** The join view's group rows; `asOf` pins a committed view version
    * (each refresh is one commit of `viewDir/rows`, so a pin names
    * "the rollup as of applied source pair (X, Y)" for whichever pair
    * that refresh applied) — the same passthrough [[readView]] always
    * had, now exposed on the join wrapper too. */
  def readJoinView(spark: SparkSession, viewDir: String,
      asOf: Option[Long] = None, withAvg: Boolean = false,
      quantiles: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    readView(spark, s"$viewDir/rows", asOf = asOf, withAvg = withAvg,
      quantiles = quantiles)

  /** The touched-group RESCAN for a join view ([[foldJoinView]]'s
    * route for windows with retractions). Any
    * group whose aggregate changed must contain a pair involving a
    * Δrow, and that pair is visible in Δside ⋈ the version of the
    * other side it paired with (deleted pairs in the OLD versions,
    * inserted pairs in the NEW), so the touched set is a conservative
    * superset; those groups recompute from the two tips, untouched
    * groups carry over unread. BOTH recompute reads are pruned: the
    * left tip read by the touched groups' key envelope, the right tip
    * read by the PRUNED left's join-key envelope (one tiny
    * column-pruned aggregate over O(touched files)) — before r15 the
    * right read was the view layer's one unpruned scan, paying O(|R|)
    * on every delete-bearing window. Equi-join, so the null-unsafe
    * right prune is exact. Returns the next agg rows plus the
    * PERSISTED touched frame — touched is consumed three times
    * (envelope aggregate, semi join, anti join) and each consumption
    * would otherwise re-run the four delta joins; the CALLER must
    * unpersist it after the commit attempt (this function itself
    * releases it if it throws before returning — the right-prune
    * envelope below runs an eager action that can fail).
    */
  private def rescanJoinTouched(
      spark: SparkSession,
      leftDir: String,
      rightDir: String,
      joinKeys: Seq[String],
      d: MvDef,
      aggRows: DataFrame,
      dL: Option[DataFrame],
      dR: Option[DataFrame],
      aL: Long, tipL: Long, aR: Long, tipR: Long)
      : (DataFrame, DataFrame) = {
    val touched = (dL.toSeq.flatMap(f => Seq(
      f.join(readMatching(spark, rightDir, aR, f, joinKeys), joinKeys),
      f.join(readMatching(spark, rightDir, tipR, f, joinKeys),
        joinKeys))) ++
      dR.toSeq.flatMap(f => Seq(
        readMatching(spark, leftDir, aL, f, joinKeys)
          .join(f, joinKeys),
        readMatching(spark, leftDir, tipL, f, joinKeys)
          .join(f, joinKeys))))
      .map(_.select(d.groupCols.map(col): _*))
      .reduce(_ unionByName _).distinct().persist()
    try {
      val tKeyed = touched
        .select(d.groupCols.map(c => col(c).as(s"_t_$c")): _*)
      // the recompute's LEFT read is bounded by the touched groups'
      // key envelope — on a group-clustered left the rescan reads
      // O(touched files). Group columns usually live on the left
      // input; when they do, the touched-group semi-join lands
      // BEFORE the right join so the right probe below sees only
      // touched rows. A view grouped by a RIGHT-side column (legal —
      // the definition validates against the joined schema) keeps
      // the semi-join AFTER the right join, where the column
      // resolves; the right prune then bounds by the full (not
      // semi'd) left read's keys — wider, never wrong.
      val lHasGroups = {
        val lCols = Snapshots.readVersion(spark, leftDir, tipL)
          .columns.toSet
        d.groupCols.forall(lCols)
      }
      val prunedL0 = readMatching(spark, leftDir, tipL, touched,
        d.groupCols, nullSafe = true)
      val prunedLeft =
        if (lHasGroups)
          prunedL0.join(tKeyed, keyCond(d.groupCols, "_t_"), "left_semi")
        else prunedL0
      val rNew = readMatching(spark, rightDir, tipR, prunedLeft, joinKeys)
      val joined = prunedLeft.join(rNew, joinKeys)
      val recomputed = aggregate(
        if (lHasGroups) joined
        else joined.join(tKeyed, keyCond(d.groupCols, "_t_"), "left_semi"),
        d.groupCols, d.sumCols, d.minCols, d.maxCols,
        d.distinctCols, d.quantileCols, d.varCols, d.cntCols, d.topkCols)
      (aggRows.join(tKeyed, keyCond(d.groupCols, "_t_"), "left_anti")
        .unionByName(recomputed), touched)
    } catch {
      case e: Throwable => touched.unpersist(); throw e
    }
  }

  /** The one maintenance fold of a join view, the join-view twin of
    * [[foldView]]: `window` maps the tip's (applied left, applied
    * right, last stream batch id) to the window to fold — per side,
    * the feed rows past the applied version (shaped like
    * [[Snapshots.changesFeed]], restricted to that side's columns;
    * None for a side that did not move) and the version they reach,
    * plus the batch id to record; None means nothing to fold. Each
    * moved side's feed is classified (one tiny action per side) to
    * pick the cheapest sound route:
    *
    *  - ALL-INSERT windows: the bilinear delta —
    *    `Δ = agg(ΔL ⋈ R_new) + agg(L_old ⋈ ΔR)`, with `L_old`
    *    time-traveled to the applied version. Two small joins, no group
    *    recomputed, and each "other side" read manifest-pruned to the
    *    delta's join-key envelope ([[readMatching]]).
    *  - windows with deletes or pre/post-imaged updates: the
    *    touched-group rescan ([[rescanJoinTouched]]).
    *  - post-only `update` rows: validated PER SIDE — the side that
    *    carried them must have a declared merge key pinning the join
    *    keys and that side's RESIDENT group columns
    *    ([[upsertWindowVerified]]); the post-image then finds the
    *    hidden pre-image's pairs through the rescan's other-side
    *    joins. Refused loudly otherwise.
    *
    * Commits via CAS with re-derive; returns the rows version holding
    * the window, None when every attempt lost its race. */
  private def foldJoinView(spark: SparkSession, viewDir: String,
      leftDir: String, rightDir: String, joinKeys: Seq[String],
      retries: Int, upsertKeyLeft: Seq[String],
      upsertKeyRight: Seq[String], what: String)(
      window: (Long, Long, Long) => Option[
        (Option[(DataFrame, Long)], Option[(DataFrame, Long)], Long)])
      : Option[Long] = retried(retries) {
    val rowsDir = s"$viewDir/rows"
    val base = Snapshots.version(spark, rowsDir)
    require(base >= 1, s"no committed join view in $viewDir")
    val mv = Snapshots.readVersion(spark, rowsDir, base)
    val d = parseDef(mv)
    val Seq(aL, aR, lastBatch) =
      appliedMeta(spark, rowsDir, base, mv, JoinMetaCols)
    window(aL, aR, lastBatch).fold(Option(base)) { case (wL, wR, batchId) =>
      val (tipL, tipR) = (wL.fold(aL)(_._2), wR.fold(aR)(_._2))
      val aggRows = dropMeta(mv.filter(col("n_rows") > 0))
      val kinds = Seq((wL, leftDir, upsertKeyLeft, "left"),
        (wR, rightDir, upsertKeyRight, "right")).flatMap {
        case (w, dir, key, side) => w.toSeq.flatMap { case (f, tip) =>
          val kv = windowKinds(f)
          kv.get("update").foreach(vers =>
            upsertWindowVerified(spark, dir, vers, key,
              (joinKeys ++ d.groupCols.filter(f.columns.contains)).distinct,
              s"$what ($side side)", tip))
          kv.keySet
        }
      }
      val dL = wL.map(_._1.drop("change_type", "version"))
      val dR = wR.map(_._1.drop("change_type", "version"))
      val (next, touched) =
        if (kinds.forall(_ == "insert")) {
          val deltaRows = (dL.map(f => f.join(
            readMatching(spark, rightDir, tipR, f, joinKeys), joinKeys)) ++
            dR.map(f => readMatching(spark, leftDir, aL, f, joinKeys)
              .join(f, joinKeys)))
            .reduce(_ unionByName _)
          // every delta row is an insert by construction
          (applyDeltas(aggRows,
            deltaRows.withColumn("change_type", lit("insert")), d), None)
        } else {
          val (nx, t) = rescanJoinTouched(spark, leftDir, rightDir,
            joinKeys, d, aggRows, dL, dR, aL, tipL, aR, tipR)
          (nx, Some(t))
        }
      try Snapshots.commitIfVersion(spark,
        withMetaCols(spark, next, d,
          JoinMetaCols.zip(Seq(tipL, tipR, batchId))),
        rowsDir, base, statsColumns = d.groupCols,
        notes = metaNote(tipL, tipR, batchId) :+
          paramsNote(leftDir, rightDir, joinKeys))
      finally touched.foreach(_.unpersist())
    }
  }

  /** Bring the join view up to both sources' current versions:
    * [[foldJoinView]] over each moved side's [[Snapshots.changesFeed]]
    * window `(applied, tip]`. A no-op when both sides are fresh.
    * Sources and definition come from the view's own params; the
    * stream's last batch id is carried forward. */
  def refreshJoinView(
      spark: SparkSession,
      viewDir: String,
      maxRetries: Int = 10,
      upsertKeyLeft: Seq[String] = Nil,
      upsertKeyRight: Seq[String] = Nil): Long = {
    val (leftDir, rightDir, joinKeys) = joinViewParams(spark, viewDir,
      Snapshots.version(spark, s"$viewDir/rows"))
    foldJoinView(spark, viewDir, leftDir, rightDir, joinKeys, maxRetries,
      upsertKeyLeft, upsertKeyRight, "join-view refresh") {
      (aL, aR, lastBatch) =>
        val tipL = Snapshots.version(spark, leftDir)
        val tipR = Snapshots.version(spark, rightDir)
        require(tipL >= aL && tipR >= aR,
          s"a join input moved backwards ($leftDir $tipL<$aL or " +
            s"$rightDir $tipR<$aR): rebuild the view")
        def side(dir: String, a: Long, tip: Long) =
          if (tip == a) None
          else Some((Snapshots.changesFeed(spark, dir, a, tip), tip))
        if (tipL == aL && tipR == aR) None
        else Some((side(leftDir, aL, tipL), side(rightDir, aR, tipR),
          lastBatch))
    }.getOrElse(throw new IllegalStateException(
      s"join-view refresh on $viewDir lost $maxRetries optimistic races"))
  }

  /** Continuous maintenance of a JOIN view: ONE maintainer drains BOTH
    * sources' write-time change feeds (side-tagged union of the two
    * [[Snapshots.changesStream]]s, one checkpoint) and folds each
    * micro-batch with [[foldJoinView]] — per side, the batch's rows
    * past the applied version, ending at their highest version, so
    * both "other side" terms are pinned by time travel to the batch's
    * own window ends. Exactly-once with the three guards of
    * [[streamRefreshView]] (`version > applied` per side, the batch-id
    * replay guard, CAS commits) and the same one-maintainer-per-view
    * contract; a batch [[refreshJoinView]] racing the maintainer CASes
    * safely and preserves the guard. */
  def streamRefreshJoinView(
      spark: SparkSession,
      viewDir: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maintainEvery: Int = 0,
      keepVersions: Int = 1,
      upsertKeyLeft: Seq[String] = Nil,
      upsertKeyRight: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (leftDir, rightDir, joinKeys) = joinViewParams(spark, viewDir,
      Snapshots.version(spark, s"$viewDir/rows"))
    val feed = Snapshots.changesStream(spark, leftDir)
      .withColumn("_side", lit("L"))
      .unionByName(
        Snapshots.changesStream(spark, rightDir)
          .withColumn("_side", lit("R")),
        allowMissingColumns = true)
    maintainStream(spark, viewDir, feed, checkpointDir, trigger,
      maintainEvery, keepVersions) { (batch, batchId) =>
      foldJoinView(spark, viewDir, leftDir, rightDir, joinKeys, 10,
        upsertKeyLeft, upsertKeyRight, "streaming join-view maintenance") {
        (aL, aR, lastBatch) =>
          // the union null-fills the other side's columns into each
          // side's rows: keep only the side's own (at its window end)
          def side(tag: String, dir: String, a: Long) =
            pastApplied(batch.filter(col("_side") === tag), a).map {
              case (f, t) =>
                val own = "change_type" +:
                  Snapshots.readVersion(spark, dir, t).columns :+ "version"
                (f.select(own.map(col).toIndexedSeq: _*), t)
            }
          if (batchId <= lastBatch) None
          else Some((side("L", leftDir, aL), side("R", rightDir, aR),
            batchId)).filter(w => w._1.nonEmpty || w._2.nonEmpty)
      }.getOrElse(throw new IllegalStateException(
        s"streaming join-view maintenance on $viewDir lost 10 races"))
    }
  }

  // ---------- view-table retention ----------
  //
  // Every refresh is one snapshot commit, so a view maintained per
  // micro-batch accumulates a version per refresh FOREVER — thousands
  // of full copies of a small rollup after a day of continuous
  // maintenance. The standing repair is the same pair every persisted
  // index runs: bin-pack the tip's sliver files (each refresh commit
  // writes one file per shuffle partition of a tiny frame), then
  // expire the refresh history down to a retention window. Both are
  // ordinary snapshot ops — time travel inside the window, group-key
  // stats, and the sentinel all survive because compaction restates
  // the group-column stats and rewrites rows verbatim.

  /** Resolve a view directory to its snapshot table: the viewDir
    * itself for a single-table view, `viewDir/rows` for a join view.
    */
  private def viewRowsDir(spark: SparkSession, viewDir: String): String =
    if (Snapshots.version(spark, viewDir) >= 1) viewDir
    else {
      val rows = s"$viewDir/rows"
      require(Snapshots.version(spark, rows) >= 1,
        s"no committed view in $viewDir")
      rows
    }

  /** Bin-pack the view's tip (group-column stats restated, so pruned
    * group reads keep pruning); works on single-table AND join views.
    * Returns the committed version (unchanged tip when fewer than two
    * files qualified). */
  def compactView(
      spark: SparkSession,
      viewDir: String,
      minFileBytes: Long = 4L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val dir = viewRowsDir(spark, viewDir)
    val d = parseDef(Snapshots.read(spark, dir))
    Snapshots.compactBinPack(spark, dir, minFileBytes, targetFileBytes,
      statsColumns = d.groupCols)
  }

  /** Expire the view's refresh history down to the last `keepLast`
    * versions and sweep staging leftovers. Maintenance only ever
    * reads the TIP (the sentinel carries the applied source versions),
    * so `keepLast = 1` is safe for a continuously-maintained view —
    * the price is as-of reads older than the window. A join view's
    * params table expires alongside its rows. Returns
    * `table -> expired versions`. */
  def expireView(
      spark: SparkSession,
      viewDir: String,
      keepLast: Int = 1): Map[String, Seq[Long]] = {
    val dir = viewRowsDir(spark, viewDir)
    def one(d: String): Seq[Long] = {
      val e = Snapshots.expire(spark, d, keepLast)
      Snapshots.vacuum(spark, d)
      e
    }
    if (dir == viewDir) Map("view" -> one(viewDir))
    else Map("rows" -> one(dir),
      "params" -> one(s"$viewDir/params"))
  }
}
