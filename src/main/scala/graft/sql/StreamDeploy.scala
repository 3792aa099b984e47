package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.FrameKernel
import graft.operators.Ttl

/** Generic streaming DEPLOY: serve an arbitrary deployed SELECT over a
  * stream of events, where every arriving event is simultaneously an
  * insert into its key's history and a request row answered against
  * that history — the reference's online request loop
  * (hybridse/src/vm/runner.cc:1984-2123, DEPLOY_STATEMENT.md).
  *
  * Compilation strategy (Spark-first):
  *   1. Every scalar sub-expression — window-aggregate arguments and
  *      `*_where` guard conditions — is compiled to a native Column and
  *      materialized BEFORE the key shuffle, so the per-event scalar
  *      work stays inside whole-stage codegen.
  *   2. One `groupByKey(partition keys)` shuffle feeds
  *      `flatMapGroupsWithState`; per-key state is the ts-descending
  *      buffer of pre-computed argument values only (not whole rows),
  *      TTL-bounded exactly like the reference's index eviction
  *      (fe_type.proto:35-41).
  *   3. Frame membership and the aggregates per request are the batch
  *      path's own: [[graft.functions.FrameKernel]] (range bound,
  *      EXCLUDE CURRENT_TIME / CURRENT_ROW, ROWS caps, OPEN / PRECEDING
  *      upper bounds, MAXSIZE) over the buffer slice at-or-before the
  *      request.
  *   4. Outer projections (scalar expressions wrapping window results)
  *      are evaluated AFTER the stateful stage as native Columns again.
  *
  * The default TTL is derived from the deployed windows — the widest
  * RANGE span and the deepest ROWS/lag lookback, kept with AND
  * semantics — mirroring how the reference's DEPLOY derives index TTL
  * from the window clauses it serves (DEPLOY_STATEMENT.md:97-168).
  *
  * Deviation (inherent to streaming): a row arriving AFTER a request
  * with an OLDER timestamp is not retroactively added to that request's
  * frame; the batch planner, seeing all rows at once, would include it.
  * Per-key in-order feeds (the reference's assumption for its online
  * index) make streaming and batch answers identical — asserted in
  * StreamDeploySpec.
  */
object StreamDeploy {
  import GraftSql._

  private val KeyCol = "__graft_skey"
  private val TsCol = "__graft_sts"
  private val UidCol = "__graft_suid"

  /** One compiled window-aggregate output column. `lwBucket` != 0 marks
    * a long-window spec: answered from per-bucket partials (the
    * streaming MV — [[graft.operators.LongWindow.buildPreAgg]]'s
    * (key, bucket) rows, maintained incrementally in state exactly
    * like the reference's in-memory aggregator buckets,
    * src/storage/aggregator.cc) plus raw head/tail edge scans.
    * Positive = time bucket (ms, serves RANGE frames); negative -n =
    * row-count bucket of n rows by arrival ordinal (the reference's
    * WindowType::kRowsNum, serves ROWS frames). */
  private case class WinSpec(id: String, fn: String, argIdx: Int,
      frameless: Boolean, p: FrameKernel.Frame, argType: DataType,
      arg: Double, lwBucket: Long = 0L, run: String = "") {
    def metrics: LwMetrics.Counters = LwMetrics.forRun(run)
    def outType: DataType = FrameKernel.resultType(fn, argType)
    @transient lazy val score: FrameKernel.Values => Any =
      FrameKernel.agg(fn, argType, arg)
    @transient lazy val partials = new FrameKernel.Partials(argType)
  }

  /** Observability for the long-window serving path (read by
    * LongWindowServeSpec to prove requests are answered from the MV
    * partials, not full-frame scans). Shared-JVM counters — exact
    * under local[*], indicative on a real cluster. LongAdder, not
    * AtomicLong: these sit in the per-row serving loop, and a single
    * CAS cell would cache-line ping-pong across every stateful task.
    *
    * Counters are scoped PER PLAN BUILD: each `serve` mints a run id
    * ([[newRun]]) carried by its WinSpecs (a String, so closure
    * serialization copies only the id and increments still land on
    * the shared registry entry in this JVM), and [[reset]] bumps an
    * epoch so the reader facades sum only runs registered after it.
    * A leftover streaming query from an earlier suite keeps writing
    * to its pre-epoch instance and cannot pollute a later suite's
    * reset/assert pair, even under parallel test execution. */
  object LwMetrics {
    import java.util.concurrent.atomic.{LongAdder, AtomicLong}
    import scala.jdk.CollectionConverters._
    final class Counters {
      val preAggRequests = new LongAdder
      val preAggRowsScanned = new LongAdder
      val rawRowsScanned = new LongAdder
    }
    private val runs =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Counters)]()
    private val epoch = new AtomicLong(0L)
    /** Register a fresh counter instance for one plan build. */
    private[sql] def newRun(): String = {
      val id = java.util.UUID.randomUUID().toString
      runs.put(id, (epoch.get, new Counters)); id
    }
    /** Counters for a run id. An id minted before the registry was
      * last pruned re-registers as pre-epoch: still counted nowhere,
      * never lost to an NPE in the serving loop. */
    private[sql] def forRun(id: String): Counters =
      runs.computeIfAbsent(id, _ => (epoch.get - 1, new Counters))._2
    private def live: Iterable[Counters] = {
      val e = epoch.get
      runs.values.asScala.collect { case (`e`, c) => c }
    }
    /** New epoch: runs built from now on count, earlier ones do not.
      * Prunes registrations older than the previous epoch (their
      * closures re-register as pre-epoch if still running). */
    def reset(): Unit = {
      val e = epoch.incrementAndGet()
      runs.entrySet().removeIf(kv => kv.getValue._1 < e - 1)
    }
    object preAggRequests { def sum: Long = live.map(_.preAggRequests.sum).sum }
    object preAggRowsScanned { def sum: Long = live.map(_.preAggRowsScanned.sum).sum }
    object rawRowsScanned { def sum: Long = live.map(_.rawRowsScanned.sum).sum }
  }

  /** ms view of the ORDER BY key: a native TimestampType key reads as
    * epoch MILLISECONDS — `.cast(LongType)` would truncate to seconds
    * and silently widen every range frame 1000× (caught by
    * TrainServeConsistencySpec vs the batch planner's orderMs). */
  private def orderMsCol(base: DataFrame, text: String): Column =
    GraftSql.resolveTypeCached(base, text) match {
      case Some(TimestampType) => unix_millis(expr(text))
      case _                   => expr(text)
    }

  /** Buffered history row: event-time, per-key arrival sequence (the
    * ingestion-order uid of the batch path), pre-computed arg values
    * (Catalyst-internal, as the frame kernel reads them), and whether
    * the row came from the PRIMARY table (WINDOW UNION side-table rows
    * buffer as history but never answer requests). Public only because
    * the Kryo state encoder requires it. */
  case class BufRow(ts: Long, seq: Long, args: Array[Any],
      primary: Boolean = true)
  /** `ordered` tracks whether every arrival so far came in per-key
    * event-time order. Row-count pre-agg buckets assign rows to buckets
    * by arrival ordinal (`seq`), exactly like the reference's
    * kRowsNum aggregator fills buffers by insertion
    * (src/storage/aggregator.cc CheckBufferFilled) — an out-of-order
    * arrival makes ordinal order diverge from (ts, seq) frame order, so
    * the key permanently falls back to raw serving for row-bucket specs
    * (time-bucket partials key by ts and are unaffected). */
  case class Buf(seq: Long, rows: List[BufRow],
      partials: Map[(Long, Long, Int), FrameKernel.Partial] = Map.empty,
      ordered: Boolean = true)

  /** Count-retention membership. With `exclCTSlack` (some served
    * window EXCLUDEs CURRENT_TIME), rows at the buffer's newest ts
    * must not crowd out the strictly-older rows a same-ts request
    * still needs: a request at the head ts excludes the whole head-ts
    * group from its frame, so retention keeps the newest n of the
    * head-ts group PLUS the newest n below it (≤ 2n total). */
  private def countKeep(rows: List[BufRow], n: Int,
      exclCTSlack: Boolean): Set[Long] =
    if (!exclCTSlack) rows.take(n).map(_.seq).toSet
    else {
      val headTs = rows.headOption.map(_.ts).getOrElse(0L)
      val (head, rest) = rows.span(_.ts == headTs)
      (head.take(n) ::: rest.take(n)).map(_.seq).toSet
    }

  private def evict(rows: List[BufRow], ttl: Ttl, nowMs: Long,
      exclCTSlack: Boolean = false): List[BufRow] = {
    val keep =
      if (ttl.lat > 0) countKeep(rows, ttl.lat, exclCTSlack) else Set.empty[Long]
    rows.filterNot(r => ttl.expires(r.ts < nowMs - ttl.absMs, !keep(r.seq)))
  }

  /** TTL derived from the deployed windows (reference: DEPLOY builds
    * index TTL from its window clauses). Rows are kept while inside the
    * widest RANGE span OR among the newest maxRows — AND-eviction.
    * A ROWS frame with an UNBOUNDED lower bound and no MAXSIZE has no
    * finite row cap (frameOf reports cap 0, which means "no cap",
    * not "keep 1"): its retention is the full history. */
  private[sql] def deriveTtl(specs: Seq[WinDef], lagDepth: Int): Ttl = {
    val spans = specs.map { w =>
      if (w.isRows) 0L
      else w.lo match {
        case Prec(n, open) => n - (if (open) 1 else 0) + 1
        case Unbounded     => Long.MaxValue / 4
        case CurrentRow    => 1L
      }
    }
    val rowCounts = specs.map { w =>
      val fp = frameOf(w)
      if (w.isRows) {
        if (w.lo == Unbounded && fp.rowCap == 0) Int.MaxValue
        else fp.rowCap + fp.skipNewest + 1
      } else math.max(fp.rowCap, 0) + 1 // MAXSIZE on a range frame
    } :+ (lagDepth + 1)
    Ttl.AbsAndLat(spans.foldLeft(1L)(math.max),
      rowCounts.foldLeft(1)(math.max))
  }

  /** Serve `events` through a deployment previously registered with
    * `DEPLOY name SELECT ...`, in the deployment's home db. */
  def serveDeployment(spark: SparkSession, name: String, events: DataFrame,
      ttl: Option[Ttl] = None,
      tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    // DEPLOY ... OPTIONS(long_windows="w:1d") routes the named windows
    // through the pre-agg partials (the reference's
    // LongWindowOptimized rewrite, long_window_optimized.h:29-50)
    val opts = GraftSql.deploymentOptions(spark, name)
    val lw = opts.get("long_windows")
      .map(GraftSql.parseLongWindows).getOrElse(Map.empty)
    // engine extension: OPTIONS(idle_state_gc='true') opts into
    // wall-clock expulsion of idle keys' state (pure-time TTLs only) —
    // pair with a processing-time trigger on the sink
    val gc = opts.get("idle_state_gc").exists(_.equalsIgnoreCase("true"))
    serve(spark, GraftSql.deployment(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no deployment named '$name'")),
      events, ttl, tables, lw, gc, GraftSql.deploymentDb(spark, name))
  }

  /** Compile `sqlText` (a deployable SELECT) into a streaming (or
    * batch — flatMapGroupsWithState runs in both modes) DataFrame over
    * `events`. Dimension tables for LAST JOIN resolve from `tables` or
    * the session catalog, in `db` or, when it is None, in the session's
    * current db; joins run stream-static before the stateful stage. */
  def serve(spark: SparkSession, sqlText: String, events: DataFrame,
      ttl: Option[Ttl] = None,
      tables: Map[String, DataFrame] = Map.empty,
      longWindows: Map[String, Long] = Map.empty,
      idleStateGc: Boolean = false,
      db: Option[String] = None): DataFrame = {
    ensureFunctions(spark)
    val ctx = planCtx(spark, db)
    val q = parseQueryText(sqlText)
    validateRequestQuery(q)
    val sel = q.selects.head
    // the reference's long-window limitation: a SELECT with JOIN or
    // WINDOW UNION cannot be pre-aggregated (DEPLOY_STATEMENT.md:131)
    if (longWindows.nonEmpty && (sel.joins.nonEmpty ||
        sel.windows.values.exists(_.unions.nonEmpty)))
      throw new IllegalArgumentException(
        "long_windows: SELECT with JOIN or WINDOW UNION is unsupported")

    var base = events
    sel.fromAlias.foreach(a => base = base.alias(a))
    base = applyJoins(ctx, base, sel.joins, tables)

    // LAST JOIN flattening: the stateful stage serializes rows, which
    // drops column QUALIFIERS — after a join, `t1.col1` would either
    // fail to resolve or turn ambiguous when both sides share a name.
    // Flatten the joined schema to unique plain names up front and
    // rewrite every qualified reference (projections, window
    // partition/order keys) to its flat name; the whole pipeline then
    // speaks unqualified names that survive serialization.
    var sel1 = sel
    if (sel.joins.nonEmpty) {
      def strip(t: String): String =
        if (t.length >= 2 && t.head == '`' && t.last == '`') t.tail.init
        else t
      val attrs = base.queryExecution.analyzed.output
      val dup = attrs.groupBy(_.name.toLowerCase)
        .filter(_._2.length > 1).keySet
      val flat = attrs.zipWithIndex.map { case (a, i) =>
        if (dup(a.name.toLowerCase)) s"${a.name}__q$i" else a.name }
      val qmap: Map[(String, String), String] =
        attrs.zip(flat).flatMap { case (a, f) =>
          a.qualifier.lastOption.map(q =>
            (q.toLowerCase, a.name.toLowerCase) -> f) }.toMap
      def rewriteToks(toks: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]; var i = 0
        while (i < toks.length) {
          val key =
            if (i + 2 < toks.length && toks(i + 1) == ".")
              qmap.get((strip(toks(i)).toLowerCase,
                strip(toks(i + 2)).toLowerCase))
            else None
          key match {
            case Some(f) => out += f; i += 3
            case None    => out += toks(i); i += 1
          }
        }
        out.result()
      }
      def rewriteText(s: String): String =
        rewriteToks(tokenize(s)).mkString(" ")
      def rewriteW(w: WinDef): WinDef = w.copy(
        partition = w.partition.map(rewriteText),
        order = w.order.map(rewriteText))
      sel1 = sel.copy(
        projs = sel.projs.map(p => p.copy(tokens = rewriteToks(p.tokens),
          over = p.over.map(_.map(rewriteW)))),
        windows = sel.windows.map { case (k, w) => k -> rewriteW(w) })
      base = base.toDF(flat.toSeq: _*)
    }

    // the same dialect token rewrites the batch planner applies
    // (CAST(float AS STRING) → %g rendering, ts-cast ms semantics,
    // operand coercions) — without them serving would render values
    // differently than training (udaf corpus id 44)
    val sel2 = sel1.copy(projs = sel1.projs.map(p =>
      p.copy(tokens = rewriteDialect(p.tokens))))
    val (outerTokens, winExprs) = extractWinCalls(sel2, base)
    // long-window buckets by resolved window definition (named windows
    // only — an inline OVER(...) cannot be named in the option)
    val lwByDef: Map[WinDef, Long] = sel2.windows.collect {
      case (n, w) if longWindows.contains(n) => w -> longWindows(n)
    }

    // ---- streamability checks beyond request-mode legality ----
    def notStreamable(msg: String) = throw new IllegalArgumentException(
      s"not streamable: $msg")
    val windows = winExprs.map(_._3)
    windows.foreach { w =>
      // WINDOW ... UNION serves: side-table rows replay into per-key
      // history alongside the stream (buffered, never answered) —
      // the reference's online union-window DEPLOY (runner.cc
      // RequestUnionRunner over union indexes). INSTANCE_NOT_IN_WINDOW
      // is meaningful only against union sides.
      if (w.inw && w.unions.isEmpty) notStreamable("INSTANCE_NOT_IN_WINDOW")
      if (w.orderDesc) notStreamable("ORDER BY ... DESC")
      if (w.order.isEmpty) notStreamable("window without ORDER BY")
    }
    val partitions = windows.map(_.partition).distinct

    if (winExprs.isEmpty) // no windows: a pure per-event projection
      // output names come from the ORIGINAL projections — the flatten
      // rewrite may have renamed duplicate join columns (col1__qN), but
      // the served schema must match the batch planner's names
      return base.select(outerTokens.zip(sel.projs).zipWithIndex.map {
        case ((toks, pr), i) => expr(toks.mkString(" ")).as(projName(pr, i))
      }: _*)

    // window signatures: (PARTITION BY, ORDER BY) pairs. One stateful
    // stage serves one signature; a deployment spanning several (the
    // reference's request engine seeks several indexes per request)
    // runs one stage per signature in BATCH request mode and joins on
    // a per-event uid. A true stream keeps the one-signature limit:
    // stream-stream self-joins would need watermarks the deploy
    // surface does not define.
    val sigGroups = winExprs
      .groupBy(e => (e._3.partition, e._3.order, e._3.unions)).values.toSeq
      .sortBy(_.head._1)
    val withIds: DataFrame =
      if (sigGroups.length == 1)
        runSignature(ctx, base, winExprs, ttl, tables, lwByDef, idleStateGc)
      else {
        if (events.isStreaming)
          notStreamable("multiple window signatures over a stream " +
            s"(batch request mode supports them): $partitions")
        val uid = "__graft_msig"
        val tagged = base.withColumn(uid, monotonically_increasing_id())
          .localCheckpoint(true)
        sigGroups.zipWithIndex.map { case (g, gi) =>
          val out = runSignature(ctx, tagged, g, ttl, tables, lwByDef,
            idleStateGc)
          if (gi == 0) out
          else out.select(col(uid) +: g.map(e => col(e._1)): _*)
        }.reduce((a, b) => a.join(b, uid)).drop(uid)
      }

    // the stateful stage drops column qualifiers (SerializeFromObject
    // rebuilds plain attributes): re-alias so qualified outer
    // projections like `t0.id` still resolve (udaf corpus)
    val projSrc = sel.fromAlias.orElse(sel.fromTable.left.toOption)
      .map(a => withIds.alias(a)).getOrElse(withIds)
    projSrc.select(outerTokens.zip(sel.projs).zipWithIndex.map {
      case ((toks, pr), i) => expr(toks.mkString(" ")).as(projName(pr, i))
    }: _*)
  }


  /** Compile and run the stateful stage for ONE window signature
    * (shared PARTITION BY + ORDER BY): pre-shuffle arg projection,
    * groupByKey + flatMapGroupsWithState buffer replay, integral-sum
    * wraparound. Returns the base columns plus one column per window
    * id in `winExprs`. */
  private def runSignature(ctx: PlanCtx, base: DataFrame,
      winExprs: Seq[(String, String, WinDef)],
      ttl: Option[Ttl],
      tables: Map[String, DataFrame] = Map.empty,
      lwByDef: Map[WinDef, Long] = Map.empty,
      idleStateGc: Boolean = false): DataFrame = {
    def notStreamable(msg: String) = throw new IllegalArgumentException(
      s"not streamable: $msg")
    val windows = winExprs.map(_._3)
    val partExprs = winExprs.head._3.partition
    val orderExpr = winExprs.head._3.order.get
    val unions = winExprs.head._3.unions
    val hasUnion = unions.nonEmpty

    // ---- compile each window call ----
    // distinct argument expressions share one buffered slot
    val argSlots = scala.collection.mutable.LinkedHashMap[String, Int]()
    def slot(argText: String): Int =
      argSlots.getOrElseUpdate(argText, argSlots.size)

    case class Pre(id: String, fn: String, argText: String, lagK: Int,
        frameless: Boolean, w: WinDef, ignoreNulls: Boolean = false)
    val pres = winExprs.map { case (id, fnText0, w) =>
      val (fnRaw, argRaw) = splitCall(fnText0)
      if (refsWindowResult(argRaw))
        notStreamable(s"nested window call in '$fnText0'")
      val (fn, argText0) =
        if (fnRaw.endsWith("_where") && extAggs(fnRaw.stripSuffix("_where"))) {
          val as = splitArgs(argRaw)
          (fnRaw.stripSuffix("_where"),
            s"CASE WHEN ${as(1)} THEN ${as(0)} END")
        } else (fnRaw, argRaw)
      // the aggregates served online — narrower than the batch extAggs
      // (no top1_ratio, topn_frequency, top, ew_avg, drawdown, ...)
      val streamableAggs = Set("sum", "count", "avg", "min", "max",
        "distinct_count", "median", "lag", "at", "first_value",
        "last_value")
      if (!streamableAggs(fn)) notStreamable(s"aggregate '$fn' online")
      val isOffset = fn == "lag" || fn == "at"
      val args = splitArgs(argText0)
      val lagK =
        if (!isOffset) 0
        else if (args.length > 1) args(1).trim.toInt else 1
      val argText =
        if (argText0 == "*") "1L"
        // a NULL bool reads as false in the reference's distinct set
        // (test_udaf_function.yaml id 6 row 4), like the batch path
        else if (fn == "distinct_count" &&
            resolveTypeCached(base, args.head).contains(BooleanType))
          s"coalesce(${args.head}, false)"
        else args.head
      // first_value(c, true)/last_value(c, true): ignore-null variant
      // (test_window.yaml id 38) — the flag is a literal second arg
      val ign = (fn == "first_value" || fn == "last_value") &&
        args.length > 1 && args(1).trim.equalsIgnoreCase("true")
      // under WINDOW UNION or EXCLUDE CURRENT_TIME the batch planner
      // serves lag through the frame array (its native frameless branch
      // requires neither) — frame-bounded positions, mirrored here
      Pre(id, if (fn == "at") "lag" else fn, argText, lagK,
        isOffset && !hasUnion && !w.exclCT, w, ignoreNulls = ign)
    }
    pres.foreach(p => slot(p.argText))

    // ---- WINDOW UNION side tables: schema-aligned history rows,
    // flagged by source (0 = primary, k+1 = side k). They buffer into
    // per-key state like any arriving row but never answer requests —
    // the reference's union-index request discipline
    // (WindowAggPlanUtil.windowUnionTables; runner.cc union windows).
    val FlagCol2 = "__graft_sflag"
    val alignCols = base.columns.filterNot(_.startsWith("__graft")).toSeq
    val src =
      if (!hasUnion) base.withColumn(FlagCol2, lit(0))
      else unions.zipWithIndex.foldLeft(
          base.withColumn(FlagCol2, lit(0))) { case (acc, (u, k)) =>
        val side0 = resolveRef(ctx, u, tables)
        val missing = alignCols.filterNot(side0.columns.contains)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"WINDOW UNION side is missing columns $missing of the " +
              "primary table")
        acc.unionByName(
          side0.select(alignCols.map(col): _*)
            .withColumn(FlagCol2, lit(k + 1)),
          allowMissingColumns = true)
      }

    // ---- pre-shuffle projection: key, ts, argument values ----
    val keyCol = to_json(struct(partExprs.map(p => expr(p)): _*))
    var prep0 = src
      .withColumn(KeyCol, keyCol)
      .withColumn(TsCol, orderMsCol(src, orderExpr).cast(LongType))
    argSlots.foreach { case (argText, i) =>
      prep0 = prep0.withColumn(s"__graft_sa_$i", expr(argText))
    }

    // Ingestion-order uid, materialized BEFORE the key shuffle so
    // same-ts ties sort deterministically inside the stateful stage —
    // the same (partition << 33 | offset) shape as the batch planner's
    // monotonically_increasing_id, built per-partition by hand because
    // the MonotonicallyIncreasingID expression is rejected in streaming
    // plans.
    val prepSchema = StructType(prep0.schema.fields :+
      StructField(UidCol, LongType, nullable = false))
    val prepEnc: Encoder[Row] = Encoders.row(prepSchema)
    val flagIdx0 = prep0.schema.fieldIndex(FlagCol2)
    val prep = prep0.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var off = 0L
      it.map { r =>
        // WINDOW UNION tie order replicates the batch planner's uid
        // blocks (side k offset by -(k+1)·2^50, below every primary
        // uid): at equal ts, side rows buffer BEFORE primary rows,
        // later side tables first — the reference's same-ts buffer
        // order (test_window_union.yaml ids 18-x/19-x)
        val block = -r.getInt(flagIdx0).toLong << 50
        val uid = block + ((pid << 33) | off); off += 1
        new GenericRowWithSchema((r.toSeq :+ uid).toArray, prepSchema): Row
      }
    }(prepEnc)

    val baseWidth = base.schema.length
    val keyIdx = prepSchema.fieldIndex(KeyCol)
    val tsIdx = prepSchema.fieldIndex(TsCol)
    val uidIdx = prepSchema.fieldIndex(UidCol)
    val flagIdx = prepSchema.fieldIndex(FlagCol2)
    val slotIdx: Map[Int, Int] = argSlots.values.map(i =>
      i -> prepSchema.fieldIndex(s"__graft_sa_$i")).toMap
    val argTypes: Map[Int, DataType] = argSlots.values.map(i =>
      i -> prepSchema(slotIdx(i)).dataType).toMap

    // the retention the stateful stage will actually run under — needed
    // by the eligibility check below, so derived from the pre-compile
    // info (same arithmetic as the post-spec derivation it replaces)
    val effTtl = ttl.getOrElse(
      deriveTtl(windows, pres.filter(_.frameless).map(_.lagK)
        .foldLeft(0)(math.max)))

    // long-window eligibility mirrors the reference's rewrite
    // conditions (long_window_optimized.h CheckSupported + the
    // DEPLOY_STATEMENT.md limitation list): a pre-aggregable fn
    // (sum/count/avg/min/max — the *_where forms already rewrote to a
    // CASE-guarded arg above), a plain RANGE frame ending at CURRENT
    // ROW, no MAXSIZE/EXCLUDE/UNION, and a bucket no wider than the
    // frame. The retention must also COVER the frame span: the raw
    // path truncates frames to whatever survives eviction, while
    // bucket partials never forget — an explicit count-limited TTL
    // (LatestCount / AbsOrLat) or an absolute span narrower than the
    // frame would make the two paths answer differently, so those
    // serve raw. Anything else falls back to the raw full-frame path.
    // Covered: no row within `span` of the newest expires, however far
    // past the count bound it ranks.
    def ttlCovers(span: Long): Boolean =
      !effTtl.expires(pastTime = effTtl.absMs < span, pastCount = true)
    // row-count coverage: the raw path truncates a ROWS frame to the
    // surviving newest-n rows; bucket partials never forget. Only a
    // retention that always keeps the newest `cap` rows, however old,
    // makes the two paths agree.
    def ttlCoversRows(cap: Int): Boolean =
      !effTtl.expires(pastTime = true, pastCount = effTtl.lat < cap)
    def lwBucketFor(p: Pre): Long = lwByDef.get(p.w) match {
      // time bucket (+ms): plain RANGE frame ending at CURRENT ROW
      case Some(bms) if bms > 0 && !p.frameless && !p.w.isRows &&
          p.w.unions.isEmpty && !p.w.inw && !p.w.exclCT && !p.w.exclCR &&
          p.w.maxSize == 0 && p.w.hi == CurrentRow &&
          FrameKernel.decomposable(p.fn) =>
        val fp = frameOf(p.w)
        if (fp.precedingMs >= bms &&
            fp.precedingMs < graft.operators.WindowOps.UnboundedMs &&
            ttlCovers(fp.precedingMs)) bms
        else 0L
      // row-count bucket (-n): plain bounded ROWS frame ending at
      // CURRENT ROW — the reference's kRowsNum aggregator
      // (aggregator.cc:1249-1251, buckets of n rows by insertion order)
      case Some(bneg) if bneg < 0 && !p.frameless && p.w.isRows &&
          p.w.unions.isEmpty && !p.w.inw && !p.w.exclCT && !p.w.exclCR &&
          p.w.maxSize == 0 && p.w.hi == CurrentRow &&
          FrameKernel.decomposable(p.fn) =>
        val fp = frameOf(p.w)
        if (fp.rowCap > 0 && fp.rowCap >= -bneg && fp.skipNewest == 0 &&
            ttlCoversRows(fp.rowCap)) bneg
        else 0L
      case _ => 0L
    }

    val lwRun = LwMetrics.newRun() // one counter scope per plan build
    val specs: Seq[WinSpec] = pres.map { p =>
      val si = argSlots(p.argText)
      // frameless lag/at see the whole at-or-before history
      // (window_attributes.yaml id 0)
      val frame =
        if (p.frameless) FrameKernel.Frame(FrameKernel.UnboundedMs)
        else frameOf(p.w)
      WinSpec(p.id, p.fn, si, p.frameless, frame, argTypes(si),
        // the kernel's literal parameter: lag's frame position, or
        // first/last_value's ignore-nulls flag
        if (p.fn == "lag") frame.lagPosition(p.lagK)
        else if (p.ignoreNulls) 1.0 else 0.0,
        lwBucket = lwBucketFor(p), run = lwRun)
    }

    val outSchema = StructType(base.schema.fields ++
      specs.map(s => StructField(s.id, s.outType)))
    val anyExclCT = windows.exists(_.exclCT)
    val nSlots = argSlots.size

    // ---- long-window MV maintenance plan: which (bucketMs, argSlot)
    // partials to keep in state, with the slot's partial arithmetic
    case class LwMaint(bms: Long, si: Int, ops: FrameKernel.Partials)
    val lwMaints: Seq[LwMaint] = specs.filter(_.lwBucket != 0)
      .map(s => (s.lwBucket, s.argIdx)).distinct.map { case (bms, si) =>
        LwMaint(bms, si, new FrameKernel.Partials(argTypes(si)))
      }

    // ---- stateful stage ----
    implicit val bufEnc: Encoder[Buf] = Encoders.kryo[Buf]
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val strEnc: Encoder[String] = Encoders.STRING

    // Idle-key state cleanup (OPT-IN via idleStateGc): keys the stream
    // never touches again would otherwise hold their Buf forever — at
    // production key cardinality the state store only shrinks if
    // someone expels them, exactly the reference's memtable
    // absolute-TTL gc (wall-clock expiry sweeps, src/storage/
    // mem_table.cc SchedGc). Eligible only when EVERY row expires by
    // time alone (AbsoluteTime / AbsOrLat): under the real-time-feed
    // assumption a key wall-idle past the span has no surviving rows,
    // so dropping its Buf is invisible to later arrivals (they would
    // start from an empty frame either way). Count-retention TTLs keep
    // rows indefinitely and must keep their state.
    //
    // Opt-in, not automatic: with processing-time timeouts configured,
    // Spark's micro-batch engine considers another batch warranted at
    // EVERY trigger (shouldRunAnotherBatch) — under the default
    // continuous trigger that is a busy-loop of no-data batches. Pair
    // the flag with an explicit processing-time trigger on the sink.
    // Timeouts never fire in batch mode, so corpus/spec replays keep
    // exact event-time semantics either way.
    // Slack avoids expelling a key racing its own eviction boundary;
    // proportional for short spans so the behavior stays testable.
    def withSlack(ms: Long): Long = ms + math.min(60000L, math.max(ms, 500L))
    val idleTimeoutMs: Option[Long] =
      if (idleStateGc && effTtl.expires(pastTime = true, pastCount = false))
        Some(withSlack(effTtl.absMs))
      else None
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    val served = prep.groupByKey(_.getString(keyIdx))
      .flatMapGroupsWithState[Buf, Row](
        OutputMode.Append, timeoutConf) {
        (_: String, it: Iterator[Row], state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty[Row] }
          else {
          var st = state.getOption.getOrElse(Buf(0L, Nil))
          var rows = st.rows
          var seq = st.seq
          var partials = st.partials
          var ordered = st.ordered
          val hasRowBuckets = lwMaints.exists(_.bms < 0)
          val out = Vector.newBuilder[Row]
          // (event-time, ingestion-uid) order within the micro-batch:
          // the pre-shuffle uid makes tie order deterministic instead
          // of shuffle-fetch order
          it.toVector.sortBy(r => (r.getLong(tsIdx), r.getLong(uidIdx)))
            .foreach { r =>
            val ts = r.getLong(tsIdx)
            val isPrimary = r.getInt(flagIdx) == 0
            seq += 1
            val args = new Array[Any](nSlots)
            var i = 0
            while (i < nSlots) {
              val fi = slotIdx(i)
              args(i) = if (r.isNullAt(fi)) null
                else CatalystTypeConverters.convertToCatalyst(r.get(fi))
              i += 1
            }
            val (newer, older) = rows.span(b => b.ts > ts)
            // an insert below the buffer head breaks ordinal/ts-order
            // alignment: row-bucket partials become unusable for this
            // key (and are dropped below); time buckets are unaffected
            if (newer.nonEmpty && ordered && hasRowBuckets) {
              ordered = false
              partials = partials.filter { case ((bms, _, _), _) => bms > 0 }
            }
            val cur = BufRow(ts, seq, args, isPrimary)
            rows = newer ::: (cur :: older)
            rows = evict(rows, effTtl, rows.head.ts, anyExclCT)
            // an out-of-order event older than the TTL span can be
            // evicted by its own insert; it must still serve its own
            // request, so re-admit it (as the oldest row — it only
            // drops when beyond every retention bound)
            if (!rows.exists(_.seq == seq)) rows = rows :+ cur
            // MV maintenance: fold the arriving row into its bucket's
            // partials (one updated entry per (bucketMs, slot) — the
            // reference's aggregator does the same per-row bucket
            // update, src/storage/aggregator.cc), then prune buckets
            // wholly older than the oldest surviving raw row — no
            // future frame can reach them (raw retention >= frame span)
            if (lwMaints.nonEmpty) {
              lwMaints.foreach { m =>
                val v = args(m.si)
                // a row-count bucket (bms < 0) assigns by arrival
                // ordinal — floorDiv(seq-1, n) — and is maintained only
                // while the key's feed has stayed in order
                if (v != null && (m.bms > 0 || ordered)) {
                  val key =
                    if (m.bms > 0) (m.bms, Math.floorDiv(ts, m.bms), m.si)
                    else (m.bms, Math.floorDiv(seq - 1, -m.bms), m.si)
                  partials = partials.updated(key, m.ops.add(
                    partials.getOrElse(key, FrameKernel.EmptyPartial), v))
                }
              }
              // prune buckets no future frame can reach: time buckets
              // wholly older than the oldest surviving ts; row buckets
              // wholly below the oldest surviving arrival ordinal
              val minTs = rows.last.ts
              val minSeq = rows.last.seq
              partials = partials.filter { case ((bms, b, _), _) =>
                if (bms > 0) (b + 1) * bms > minTs
                else (b + 1) * (-bms) >= minSeq }
            }
            // WINDOW UNION side rows are history only: buffered above,
            // never answered (the reference's union indexes feed
            // frames; requests come from the primary stream alone)
            if (isPrimary) {
              // history at-or-before the request (strict (ts, seq) order)
              val basis = rows.dropWhile(b =>
                b.ts > ts || (b.ts == ts && b.seq > seq)).toArray
              val outVals = new Array[Any](baseWidth + specs.length)
              var j = 0
              while (j < baseWidth) { outVals(j) = r.get(j); j += 1 }
              specs.zipWithIndex.foreach { case (sp, k) =>
                outVals(baseWidth + k) = CatalystTypeConverters.convertToScala(
                  evalSpec(sp, basis, ts, seq, partials, ordered), sp.outType)
              }
              out += new GenericRowWithSchema(outVals, outSchema)
            }
          }
          state.update(Buf(seq, rows, partials, ordered))
          idleTimeoutMs.foreach(ms => state.setTimeoutDuration(ms))
          out.result().iterator
          }
      }

    served
  }

  /** The buffered history, newest first, as the frame kernel's rows. */
  private final class BufRows(rows: Array[BufRow]) extends FrameKernel.Rows {
    def length: Int = rows.length
    def ts(i: Int): Long = rows(i).ts
    def seq(i: Int): Long = rows(i).seq
    def primary(i: Int): Boolean = rows(i).primary
  }

  /** Evaluate one window aggregate for the request at (ts, seq) over
    * `basis` = buffered rows at-or-before the request, newest-first:
    * the frame kernel's membership, then its aggregate. */
  private def evalSpec(sp: WinSpec, basis: Array[BufRow], ts: Long,
      seq: Long, partials: Map[(Long, Long, Int), FrameKernel.Partial],
      ordered: Boolean): Any = {
    if (sp.lwBucket > 0) return evalLongWindow(sp, basis, ts, partials)
    // row-bucket pre-agg requires the key's feed to have stayed in
    // order (ordinal buckets align with frame order); otherwise fall
    // through to the raw full-frame path below — correct, unoptimized
    if (sp.lwBucket < 0 && ordered)
      return evalLongWindowRows(sp, basis, seq, partials)
    val picked = new Array[Int](basis.length)
    val m = FrameKernel.members(sp.p, new BufRows(basis), ts, seq, picked)
    if (!sp.frameless) sp.metrics.rawRowsScanned.add(m)
    sp.score(new FrameKernel.ArrayValues(
      Array.tabulate[Any](m)(j => basis(picked(j)).args(sp.argIdx))))
  }

  /** Long-window evaluation: raw tail (request bucket, a prefix of the
    * at-or-before basis) + Σ full-bucket partials + raw head
    * (frame-start bucket) — the reference's RequestAggUnionRunner
    * merge of pre-agg buckets with raw index edges (runner.cc:1504+,
    * src/storage/aggregator.cc) over the state-held MV. Per-request
    * aggregate work is O(rows-in-edge-buckets + buckets-in-frame)
    * instead of O(rows-in-frame).
    *
    * Double-typed sums accumulate bucket-wise here but row-wise on the
    * raw path — a last-ulp association difference inherent to
    * pre-aggregation (the reference's pre-agg has the same property);
    * integral sums/counts/min/max are exact. */
  private def evalLongWindow(sp: WinSpec, basis: Array[BufRow], ts: Long,
      partials: Map[(Long, Long, Int), FrameKernel.Partial]): Any = {
    val bms = sp.lwBucket
    val hb = Math.floorDiv(ts, bms)
    val lb = Math.floorDiv(ts - sp.p.precedingMs, bms)
    // eligibility guarantees precedingMs >= bucket, so lb < hb and the
    // whole tail prefix lies inside the frame's range bound
    val tail = basis.takeWhile(b => Math.floorDiv(b.ts, bms) == hb)
    // TTL consistency under out-of-order requests: eviction is relative
    // to the NEWEST buffered ts, so a late request's frame can reach
    // below the surviving raw window — rows there are gone from the
    // buffer but their bucket partial still counts them (partials are
    // never retracted). The oldest surviving row's bucket is therefore
    // the boundary: full-bucket partials serve only buckets STRICTLY
    // newer (absolute-span eviction can never have removed rows from
    // those), and everything at or below it reads from the raw basis,
    // which reflects eviction exactly like the raw path.
    val b0 = basis.lastOption.map(r => Math.floorDiv(r.ts, bms)).getOrElse(lb)
    val bEdge = math.max(lb, b0)
    val rawEdge = basis.dropWhile(b => Math.floorDiv(b.ts, bms) > bEdge)
      .takeWhile(b => Math.floorDiv(b.ts, bms) >= lb)
      .filter(b => b.ts >= ts - sp.p.precedingMs &&
        Math.floorDiv(b.ts, bms) < hb)
    sp.metrics.preAggRequests.increment()
    sp.metrics.preAggRowsScanned.add(tail.length + rawEdge.length)
    mergeLw(sp, tail ++ rawEdge, (bEdge + 1) until hb map (b => (bms, b)),
      partials)
  }

  /** Row-bucket long-window evaluation (the reference's kRowsNum
    * pre-agg, aggregator.cc:1249-1251): buckets of n rows by arrival
    * ordinal. Only reached while the key's feed has stayed in per-key
    * event-time order, so the surviving basis is a contiguous ordinal
    * range [minSeq, seq] and ordinal position == frame position. Frame
    * = newest `rowCap` ordinals at-or-before the request; full aligned
    * buckets inside it answer from partials, the two cut edges scan
    * raw. Per-request work is O(edge rows + buckets-in-frame). */
  private def evalLongWindowRows(sp: WinSpec, basis: Array[BufRow],
      seq: Long, partials: Map[(Long, Long, Int), FrameKernel.Partial]): Any = {
    val c = -sp.lwBucket
    val minSeq = basis.lastOption.map(_.seq).getOrElse(seq)
    // raw-path truncation: the frame holds the surviving newest rows
    val lo = math.max(minSeq, seq - sp.p.rowCap + 1)
    // full buckets: ordinal span [b*c+1, (b+1)*c] inside [lo, seq]
    val bLo = Math.floorDiv(lo - 2 + c, c) // ceil((lo-1)/c), lo >= 1
    val bHi = Math.floorDiv(seq, c) - 1
    sp.metrics.preAggRequests.increment()
    if (bHi < bLo) {
      // frame narrower than one aligned bucket: all raw (still <= cap)
      val edge = basis.takeWhile(_.seq >= lo)
      sp.metrics.preAggRowsScanned.add(edge.length)
      mergeLw(sp, edge, Nil, partials)
    } else {
      // newest-first basis: tail edge above the last full bucket, head
      // edge below the first full bucket down to the frame start
      val tail = basis.takeWhile(_.seq > (bHi + 1) * c)
      val head = basis.dropWhile(_.seq > bLo * c).takeWhile(_.seq >= lo)
      sp.metrics.preAggRowsScanned.add(tail.length + head.length)
      mergeLw(sp, tail ++ head, bLo to bHi map (b => (sp.lwBucket, b)),
        partials)
    }
  }

  /** Merge raw edge rows with full-bucket partials — the reference's
    * RequestAggUnionRunner combine of base-table edges and agg-table
    * rows (runner.cc:1571+) — through the frame kernel's partials. */
  private def mergeLw(sp: WinSpec, edge: Array[BufRow],
      buckets: Seq[(Long, Long)],
      partials: Map[(Long, Long, Int), FrameKernel.Partial]): Any = {
    val ops = sp.partials
    var p = FrameKernel.EmptyPartial
    buckets.foreach { case (bms, b) =>
      partials.get((bms, b, sp.argIdx)).foreach(q => p = ops.merge(p, q))
    }
    edge.foreach { r =>
      val v = r.args(sp.argIdx)
      if (v != null) p = ops.add(p, v)
    }
    ops.finish(sp.fn, p)
  }
}
