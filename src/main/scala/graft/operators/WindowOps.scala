package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** OpenMLDB window semantics on Spark.
  *
  * Plain `ROWS` / `ROWS_RANGE` frames map 1:1 onto Spark's
  * `rowsBetween` / `rangeBetween` over a millisecond-epoch long order
  * key (reference: docs/en/openmldb_sql/dql/WINDOW_CLAUSE.md:5-31,
  * hybridse/include/node/node_enum.h:248-265). The extensions —
  * `MAXSIZE`, `EXCLUDE CURRENT_TIME`, `EXCLUDE CURRENT_ROW`,
  * `WINDOW ... UNION`, `INSTANCE_NOT_IN_WINDOW`
  * (WINDOW_CLAUSE.md:18,219-264; physical_op.h:1137-1186;
  * runner.cc:2036-2047) — have no Spark primitive. We express them as
  * a frame-array pipeline built ONLY from codegen'd built-ins:
  * `collect_list(struct(...)) OVER range-frame` → higher-order
  * `filter`/`slice`/`aggregate`. This stays inside whole-stage codegen
  * (no UDF, no JVM closure per row) and distributes exactly like any
  * window: one shuffle on the partition keys.
  *
  * Scale note: the collected frame array is bounded by the frame span
  * (and MAXSIZE caps it further) — the same working set the reference's
  * `HistoryWindow` buffer holds per row (include/vm/mem_catalog.h:344).
  */
object WindowOps {

  /** ROWS_RANGE frame: range over a millis long order key.
    *
    * KNOWN DEVIATION for tied order keys: Spark's `rangeBetween` (like
    * ANSI RANGE and DuckDB) includes ALL peers of the current order value
    * — including rows that sort after the current row — whereas the
    * reference's HistoryWindow buffer only holds rows at-or-before the
    * current row in partition order (runner.cc:624, mem_catalog.h:344).
    * When exact at-or-before semantics matter under ties, use
    * [[frameArray]] with `strictRowOrder = true` and a unique `uid`
    * consistent with ingestion order. */
  def rowsRange(partition: Seq[Column], orderMs: Column,
      precedingMs: Long, followingMs: Long = 0): WindowSpec =
    Window.partitionBy(partition: _*).orderBy(orderMs)
      .rangeBetween(-precedingMs, followingMs)

  /** ROWS frame with deterministic tie-break columns. */
  def rows(partition: Seq[Column], order: Seq[Column],
      preceding: Int, following: Int = 0): WindowSpec =
    Window.partitionBy(partition: _*).orderBy(order: _*)
      .rowsBetween(-preceding.toLong, following.toLong)

  /** Frame-entry struct: (ts, uid, flag, v). `uid` must be unique per
    * row (used to identify "the current row" among same-ts peers);
    * `flag` marks primary-table rows for WINDOW UNION semantics.
    */
  private def entry(ts: Column, uid: Column, flag: Column, v: Column): Column =
    struct(ts.as("ts"), uid.as("uid"), flag.as("flag"), v.as("v"))

  /** Sentinel threshold: a `precedingMs` at or above this is treated as
    * "no range bound" (pure row-count frame). */
  val UnboundedMs: Long = graft.functions.FrameKernel.UnboundedMs

  /** Collect the ROWS_RANGE frame of `v` as an array, newest-first,
    * applying the OpenMLDB window attributes. Returns a Column of
    * array<struct<ts,uid,flag,v>> ready for [[aggSum]] etc.
    *
    * @param isPrimary the WINDOW UNION provenance flag (true = primary
    *   table row); null when there is no union.
    * @param instanceNotInWindow when true (WINDOW UNION
    *   INSTANCE_NOT_IN_WINDOW, request mode), frame rows are restricted
    *   to NON-primary rows plus the current row.
    */
  def frameArray(
      v: Column, tsMs: Column, uid: Column,
      partition: Seq[Column],
      precedingMs: Long,
      maxSize: Int = 0,
      excludeCurrentTime: Boolean = false,
      excludeCurrentRow: Boolean = false,
      isPrimary: Column = null,
      instanceNotInWindow: Boolean = false,
      strictRowOrder: Boolean = false,
      hiPrecedingMs: Long = 0,
      skipNewest: Int = 0,
      narrowEntry: Boolean = false): Column = {
    val hasUnion = isPrimary != null
    // Fast path: a row-capped strict frame with no flag- or
    // time-dependent membership is exactly the newest `maxSize`
    // at-or-before rows — a native ROWS frame over (ts, uid). The
    // per-row buffer is bounded by maxSize regardless of partition
    // history (the collect-then-slice slow path buffers the whole range
    // span), and collect order follows the frame order so no array_sort
    // is needed. Requires strictRowOrder because a ROWS frame cannot see
    // ANSI RANGE peers that sort after the current row; strict
    // at-or-before IS the reference's tie handling (mem_catalog.h:344).
    if (strictRowOrder && maxSize > 0 && hiPrecedingMs == 0 &&
        !excludeCurrentTime && !instanceNotInWindow && !hasUnion) {
      val skip = math.max(skipNewest, if (excludeCurrentRow) 1 else 0)
      val lo = -(maxSize - 1 + skip).toLong
      val hi = -skip.toLong
      val spec = Window.partitionBy(partition: _*)
        .orderBy(tsMs.asc, uid.asc).rowsBetween(lo, hi)
      // entry keeps the full ts/uid/flag/v shape BY DEFAULT: SkewWindow's
      // chunk merge reads uid and WINDOW UNION reads flag. Consumers that
      // only fold over v (the plain MAXSIZE aggregates) opt into
      // `narrowEntry` — a (ts, v) struct — because every higher-order
      // pass over array<struct> deep-copies each element, so halving the
      // struct width is a measured win (q_window_maxsize ratio
      // 1.18 → ~1.0 at sf0.1); ts stays for the range bound below.
      val e = if (narrowEntry) struct(tsMs.as("ts"), v.as("v"))
        else entry(tsMs, uid, lit(true), v)
      return graft.functions.FrameAgg.newestFirst(
        collect_list(e).over(spec),
        if (precedingMs < UnboundedMs) (tsMs - precedingMs).cast("long")
        else lit(Long.MinValue))
    }
    require(!narrowEntry,
      "narrowEntry is only valid on the bounded-ROWS fast path " +
        "(strict row order + maxSize, no union/time exclusions)")
    // general path: collect the range frame, then the frame kernel's
    // membership rules (strict ties, INSTANCE_NOT_IN_WINDOW, EXCLUDE
    // CURRENT_TIME / CURRENT_ROW, upper bound, skipped newest rows, row
    // cap) in one pass over the (ts, uid)-sorted entries
    val spec = rowsRange(partition, tsMs, precedingMs)
    val flag = if (hasUnion) isPrimary else lit(true)
    graft.functions.FrameAgg.members(
      collect_list(entry(tsMs, uid, flag, v)).over(spec), tsMs, uid,
      graft.functions.FrameKernel.Frame(precedingMs, maxSize,
        hiPrecedingMs, skipNewest, exclSelf = excludeCurrentRow,
        exclCT = excludeCurrentTime, inw = instanceNotInWindow,
        strict = strictRowOrder))
  }

  /** Strict-tie plain RANGE frame for decomposable aggregates
    * (sum/count/avg), without buffering the frame: the reference's
    * ROWS_RANGE frame holds the rows at-or-before the current row in
    * ingestion order (mem_catalog.h:344) with ts in
    * [curTs − preceding, curTs − hi], which ANSI RANGE peers cannot
    * express — the ANSI frame would also include same-ts peers that
    * come AFTER the current row. Decompose by timestamp strictness:
    *
    *  - hi > 0: every qualifying row has ts < curTs, so it precedes the
    *    current row in ingestion order regardless of ties — the plain
    *    ANSI frame RANGE [−preceding, −hi] is EXACT. One native window.
    *  - hi = 0: rows with ts < curTs come from the ANSI frame
    *    RANGE [−preceding, −1]; the at-or-before subset of the same-ts
    *    peer group comes from a running prefix over the narrow
    *    (partition, ts) group ordered by uid. agg = before ⊕ tie.
    *
    * Both specs cluster by the window partition keys —
    * HashPartitioning(partition) satisfies the (partition, ts) tie
    * clustering — and the tie stage's (ts, uid) sort covers the range
    * stage's (ts) ordering, so the whole thing is ONE shuffle and ONE
    * sort at any scale, with no prefix-difference and therefore no
    * DECIMAL widening: sums stay in the input's native type, exactly as
    * a direct frame sum would.
    *
    * Returns (prep, agg): `prep` (the tie prefix pair, shared across
    * aggregates over the same (window, argument) via the caller's `id`
    * key) materializes in a first projection stage, `agg` in the
    * second.
    *
    * @param precedingMs frame span (open-adjusted); Long >= UnboundedMs
    *   means UNBOUNDED PRECEDING
    * @param hiMs frame upper offset (0 = CURRENT ROW)
    */
  def strictRangeAgg(fn: String, id: String, v: Column, tsMs: Column,
      uid: Column, partition: Seq[Column],
      precedingMs: Long, hiMs: Long,
      integral: Boolean = false): (Seq[(String, Column)], Column) = {
    val lo: Long =
      if (precedingMs >= UnboundedMs) Window.unboundedPreceding
      else -precedingMs
    def rangeAgg(f: Column => Column, hi: Long): Column =
      f(v).over(Window.partitionBy(partition: _*).orderBy(tsMs.asc)
        .rangeBetween(lo, hi))
    if (precedingMs < hiMs) {
      // degenerate span (e.g. OPEN 0 PRECEDING): empty frame always.
      // The never-true aggregate must still sit inside a window spec —
      // Spark rejects a bare aggregate in a projection.
      val empty = fn match {
        case "count" => lit(0L)
        case _       => when(lit(false),
          sum(v).over(Window.partitionBy(partition: _*)))
      }
      return (Seq.empty, empty)
    }
    if (hiMs > 0) {
      val agg = fn match {
        case "count" => rangeAgg(count, -hiMs)
        case "sum"   => rangeAgg(sum, -hiMs)
        case "avg"   => rangeAgg(avg, -hiMs)
        case other   => throw new IllegalArgumentException(
          s"strictRangeAgg: unsupported $other")
      }
      return (Seq.empty, agg)
    }
    // hi = 0: before-frame + same-ts prefix
    val wTie = Window.partitionBy((partition :+ tsMs): _*)
      .orderBy(uid.asc).rowsBetween(Window.unboundedPreceding, 0)
    val sumName = s"__graft_rts_$id"
    val cntName = s"__graft_rtc_$id"
    // count never sums the raw value — it may be a date/bool
    // (test_count_where.yaml id 0 count_where over c8)
    val prep =
      if (fn == "count") Seq(cntName -> count(v).over(wTie))
      else Seq(
        sumName -> sum(v).over(wTie),
        cntName -> count(v).over(wTie))
    // frames [lo, −1]: with lo = CURRENT ROW (preceding = 0) the
    // before-frame is empty by construction — skip it entirely
    val hasBefore = precedingMs > 0 || precedingMs >= UnboundedMs
    def addNullable(a: Column, b: Column): Column = coalesce(a + b, a, b)
    val agg = fn match {
      case "count" =>
        if (hasBefore) rangeAgg(count, -1) + col(cntName) else col(cntName)
      case "sum" =>
        if (hasBefore) addNullable(rangeAgg(sum, -1), col(sumName))
        else col(sumName)
      case "avg" =>
        val s = if (hasBefore) addNullable(rangeAgg(sum, -1), col(sumName))
          else col(sumName)
        val c = if (hasBefore) rangeAgg(count, -1) + col(cntName)
          else col(cntName)
        when(c > 0, s.cast("double") / c)
      case other => throw new IllegalArgumentException(
        s"strictRangeAgg: unsupported $other")
    }
    (prep, agg)
  }

  /** Effectively-unbounded frame + simple aggregate, without buffering
    * history: decompose into a native running aggregate over
    * STRICTLY-PRIOR rows (constant per-row state at any scale) plus the
    * current row's own contribution. Covers every attribute combo:
    *
    *  - EXCLUDE CURRENT_TIME → prior window is RANGE (-inf, ts-1] (all
    *    same-ts peers drop; the current row stays unless excluded);
    *    otherwise prior window is ROWS (-inf, -1) over (ts, uid) —
    *    the reference's at-or-before ingestion order.
    *  - `memberFlag` (INSTANCE_NOT_IN_WINDOW / request mode): prior rows
    *    count only when the predicate holds; the current row is always
    *    its own frame member.
    *  - EXCLUDE CURRENT_ROW → skip the current row's contribution.
    *
    * Output types match the frame-array aggregates: sum/avg are double,
    * count is long, min/max keep the value type.
    */
  def unboundedAgg(fn: String, v: Column, tsMs: Column, uid: Column,
      partition: Seq[Column],
      excludeCurrentTime: Boolean,
      excludeCurrentRow: Boolean,
      memberFlag: Option[Column]): Column = {
    val wPrior =
      if (excludeCurrentTime)
        Window.partitionBy(partition: _*).orderBy(tsMs)
          .rangeBetween(Window.unboundedPreceding, -1)
      else
        Window.partitionBy(partition: _*).orderBy(tsMs.asc, uid.asc)
          .rowsBetween(Window.unboundedPreceding, -1)
    val vp = memberFlag.map(m => when(m, v)).getOrElse(v)
    val cur: Column => Column = c => if (excludeCurrentRow) lit(null) else c
    fn match {
      case "sum" =>
        val sp = sum(vp.cast("double")).over(wPrior)
        val cv = cur(v.cast("double"))
        when(cv.isNotNull, coalesce(sp, lit(0.0)) + cv).otherwise(sp)
      case "count" =>
        count(vp).over(wPrior) +
          (if (excludeCurrentRow) lit(0L)
           else when(v.isNotNull, lit(1L)).otherwise(lit(0L)))
      case "min" => least(min(vp).over(wPrior), cur(v))
      case "max" => greatest(max(vp).over(wPrior), cur(v))
      case "avg" =>
        val s = unboundedAgg("sum", v, tsMs, uid, partition,
          excludeCurrentTime, excludeCurrentRow, memberFlag)
        val c = unboundedAgg("count", v, tsMs, uid, partition,
          excludeCurrentTime, excludeCurrentRow, memberFlag)
        when(c > 0, s / c)
      case other =>
        throw new IllegalArgumentException(s"unboundedAgg: unsupported $other")
    }
  }

  /** SUM over a frame array (null values ignored, like SQL SUM), via
    * the one-pass imperative [[graft.functions.FrameAggExpr]] scorer —
    * NOT interpreted higher-order lambdas (those re-evaluate a Catalyst
    * tree per element; measured as the engine's one scale-killer eval
    * class on the reference's benchmark shape). Integral inputs
    * accumulate in a native Long whose two's-complement overflow IS
    * the reference's 2^64 wraparound (udf sum wrap semantics) — the
    * same final value the old exact-DECIMAL + [[wrapToLongRange]]
    * pair produced, in one pass. NULL on an empty/all-null frame. */
  def aggSum(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "sum")

  /** Reduce an exact DECIMAL(38,0) total into Long range with 2^64
    * wraparound (the reference's integral-sum overflow behavior), so
    * the final cast to long cannot throw under ANSI. */
  def wrapToLongRange(c: Column): Column = {
    val t = org.apache.spark.sql.types.DecimalType(38, 0)
    val full = lit(new java.math.BigDecimal("18446744073709551616")).cast(t)
    val half = lit(new java.math.BigDecimal("9223372036854775808")).cast(t)
    val d = c.cast(t)
    ((((d + half) % full + full) % full) - half).cast("long")
  }

  /** COUNT of non-null values. */
  def aggCount(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "count")

  def aggAvg(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "avg")

  def aggMin(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "min")

  def aggMax(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "max")

  /** distinct_count counts NULL as a distinct value
    * (test_udaf_function.yaml id 5 row 4). */
  def aggDistinctCount(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "distinct_count")

  /** top1_ratio over a frame: most-common-value count / total, 0.0 when
    * empty (feature_zero_def.cc:426-471). Quadratic in the frame span —
    * frames are MAXSIZE/TTL-bounded, and the grouped path keeps its
    * map-accumulator UDAF. */
  def aggTop1Ratio(arr: Column): Column =
    graft.functions.FrameAgg.agg(arr, "top1_ratio") // boxed-equality groups: any type

  /** nth_value_where over a frame array whose `v` entries are
    * `struct(value, cond)`: the idx-th row matching cond, counted from
    * the frame START for idx > 0 and from the frame END for idx < 0;
    * NULL when idx = 0 or there are fewer than |idx| matches
    * (window_functions_def.cc:113-205,342-365 NthValueWhere).
    */
  def aggNthValueWhere(arr: Column, idx: Int): Column = {
    if (idx == 0) lit(null)
    else {
      // arr is newest-first; matches keeps that order
      val matches = filter(arr, x => x("v")("cond"))
      val n = size(matches)
      if (idx > 0) // from frame start = oldest
        when(n >= idx, element_at(matches, -idx)("v")("value"))
      else // from frame end = newest
        when(n >= -idx, element_at(matches, -idx)("v")("value"))
    }
  }

  /** window_split_by_key / _by_value(str, delim, kv_delim): every row's
    * split list, concatenated in frame order (newest first, matching the
    * reference's reverse-ts iteration — feature_zero_def.cc window_split
    * family). Return array<string>. */
  def aggWindowSplitByKey(arr: Column, delim: String, kvDelim: String): Column =
    flatten(transform(arr,
      x => graft.functions.GraftScalars.fz_split_by_key(x("v"), delim, kvDelim)))

  def aggWindowSplitByValue(arr: Column, delim: String, kvDelim: String): Column =
    flatten(transform(arr,
      x => graft.functions.GraftScalars.fz_split_by_value(x("v"), delim, kvDelim)))

  /** Union the primary table with WINDOW UNION side tables
    * (schema-aligned by name), tagging provenance. Output rows are
    * produced only for primary rows — callers window over the union
    * then `filter(col(flagCol))` (reference:
    * WindowAggPlanUtil.windowUnionTables, WindowAggPlan.scala:72-76).
    */
  def windowUnion(primary: DataFrame, unions: Seq[DataFrame],
      flagCol: String = "__graft_primary"): DataFrame = {
    val p = primary.withColumn(flagCol, lit(true))
    unions.foldLeft(p)((acc, u) =>
      acc.unionByName(u.withColumn(flagCol, lit(false)), allowMissingColumns = true))
  }
}
