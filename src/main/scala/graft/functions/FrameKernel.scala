package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one frame kernel: window-frame membership and the frame
  * aggregates, written once and shared by every backend — the batch
  * planner ([[FrameMemberExpr]] / [[FrameAggExpr]] over a collected
  * frame array) and the streaming DEPLOY evaluator
  * ([[graft.sql.StreamDeploy]] over its per-key history buffer). The
  * reference scores a frame with one walk over its HistoryWindow buffer
  * (hybridse/include/vm/mem_catalog.h:344) and one UDAF library online
  * and offline; this is that walk and that library.
  *
  * Values are Catalyst-internal (UTF8String, epoch-day Int, micros
  * Long, Decimal), so one ordering per type — Catalyst's interpreted
  * ordering — decides min/max in every backend, and one equality
  * (boxed, with the two zeros and all NaNs folded) decides distinct
  * counts. Plain Scala: no Spark job, no Catalyst expression tree.
  */
object FrameKernel {

  /** A range span at or above this is "no range bound" (a pure
    * row-count frame). */
  val UnboundedMs: Long = Long.MaxValue / 8

  // ---------------------------------------------------------------
  // membership
  // ---------------------------------------------------------------

  /** One window's frame rules (the planner's bound arithmetic already
    * applied): range span and upper offset in order-key units, row cap
    * (0 = none), newest positions skipped (a ROWS upper bound), EXCLUDE
    * CURRENT_ROW / CURRENT_TIME, INSTANCE_NOT_IN_WINDOW, and whether
    * same-ts rows that come AFTER the current row are cut (the
    * reference's at-or-before buffer; request frames keep them). */
  final case class Frame(precedingMs: Long, rowCap: Int = 0,
      hiMs: Long = 0L, skipNewest: Int = 0, exclSelf: Boolean = false,
      exclCT: Boolean = false, inw: Boolean = false,
      strict: Boolean = true) {
    /** Frame position of `lag(v, k)`: lag counts from the current row,
      * so every cut newest position shifts it (test_current_row.yaml
      * ids 24-27); negative = before the frame = NULL. */
    def lagPosition(k: Int): Int =
      k - math.max(skipNewest, if (exclSelf) 1 else 0)
  }

  /** Candidate rows, newest first by (ts, seq); `seq` is unique
    * (ingestion order) and identifies the current row. */
  trait Rows {
    def length: Int
    def ts(i: Int): Long
    def seq(i: Int): Long
    def primary(i: Int): Boolean
  }

  /** Members of the frame of the row at (curTs, curSeq): their indices
    * in `rows`, newest first, written to `out`; returns their count.
    * The rules apply in this order: range bound, strict row order,
    * INSTANCE_NOT_IN_WINDOW (union-side rows plus the current row),
    * EXCLUDE CURRENT_TIME, EXCLUDE CURRENT_ROW, upper bound, skipped
    * newest positions, row cap. */
  def members(f: Frame, rows: Rows, curTs: Long, curSeq: Long,
      out: Array[Int]): Int = {
    val n = rows.length
    val bounded = f.precedingMs < UnboundedMs
    val minTs = curTs - f.precedingMs
    val maxTs = curTs - f.hiMs
    var skipped = 0; var m = 0; var i = 0
    while (i < n) {
      val t = rows.ts(i)
      // newest first: every later row is older still
      if (bounded && t < minTs) return m
      val s = rows.seq(i)
      val self = s == curSeq
      val in =
        !(f.strict && (t > curTs || (t == curTs && s > curSeq))) &&
        !(f.inw && !self && rows.primary(i)) &&
        !(f.exclCT && t == curTs && !self) &&
        !(f.exclSelf && self) &&
        !(f.hiMs > 0 && t > maxTs)
      if (in) {
        if (skipped < f.skipNewest) skipped += 1
        else {
          out(m) = i; m += 1
          if (f.rowCap > 0 && m == f.rowCap) return m
        }
      }
      i += 1
    }
    m
  }

  // ---------------------------------------------------------------
  // aggregates
  // ---------------------------------------------------------------

  /** A frame's values, newest first. `double` / `long` are the numeric
    * views (Cast semantics: integrals widen, booleans read 1/0) and are
    * read only where `isNull` is false; `get` is the internal value. */
  trait Values {
    def length: Int
    def isNull(i: Int): Boolean
    def double(i: Int): Double
    def long(i: Int): Long
    def get(i: Int): Any
  }

  /** Values held as internal objects (the streaming buffer). */
  final class ArrayValues(vals: Array[Any]) extends Values {
    def length: Int = vals.length
    def isNull(i: Int): Boolean = vals(i) == null
    def double(i: Int): Double = toDouble(vals(i))
    def long(i: Int): Long = toLong(vals(i))
    def get(i: Int): Any = vals(i)
  }

  /** Numeric views of a boxed internal value. */
  def toDouble(x: Any): Double = x match {
    case n: java.lang.Number  => n.doubleValue
    case d: Decimal           => d.toDouble
    case b: java.lang.Boolean => if (b) 1.0 else 0.0
    case other => throw new IllegalArgumentException(
      s"non-numeric frame value $other")
  }

  def toLong(x: Any): Long = x match {
    case n: java.lang.Number  => n.longValue
    case b: java.lang.Boolean => if (b) 1L else 0L
    case other => throw new IllegalArgumentException(
      s"non-integral frame value $other")
  }

  /** Types whose sum accumulates exactly in a Long and wraps back into
    * the input type (the reference's 2^64 / 2^32 / 2^16 wraparound);
    * also the types `top` renders without decimals. */
  def integral(t: DataType): Boolean = t match {
    case IntegerType | ShortType | LongType => true
    case _                                  => false
  }

  /** Result type of `fn` over values of type `t` — the one set of
    * typing rules: integral sums keep their type (wrapping), float sums
    * stay float, other sums and the statistics are double, counts are
    * long, and selections keep the value type. */
  def resultType(fn: String, t: DataType): DataType = fn match {
    case "sum" =>
      if (integral(t) || t == FloatType) t else DoubleType
    case "avg" | "median" | "top1_ratio" | "drawdown" | "ew_avg" =>
      DoubleType
    case "count" | "distinct_count" | "dcount" => LongType
    case "min" | "max" | "lag" | "first_value" | "last_value" => t
    case "topn_frequency" | "top" => StringType
    case other => throw new IllegalArgumentException(
      s"unknown frame aggregate '$other'")
  }

  /** Catalyst's interpreted ordering for `t` (NaN sorts above every
    * double, longs compare exactly). */
  def ordering(t: DataType): Ordering[Any] =
    TypeUtils.getInterpretedOrdering(t)

  private val CanonNaN   = java.lang.Double.valueOf(Double.NaN)
  private val CanonZeroD = java.lang.Double.valueOf(0.0d)
  private val CanonNaNF  = java.lang.Float.valueOf(Float.NaN)
  private val CanonZeroF = java.lang.Float.valueOf(0.0f)

  /** Grouping key of a value: boxed equality, except that -0.0 and
    * 0.0 are one value (SQL equality, and the reference's C++
    * unordered_set over primitive doubles) and every NaN is one value. */
  private def canonKey(v: Any): Any = v match {
    case d: java.lang.Double =>
      val x = d.doubleValue
      if (java.lang.Double.isNaN(x)) CanonNaN
      else if (x == 0.0d) CanonZeroD else d
    case f: java.lang.Float =>
      val x = f.floatValue
      if (java.lang.Float.isNaN(x)) CanonNaNF
      else if (x == 0.0f) CanonZeroF else f
    case other => other
  }

  /** String rendering for topn_frequency, for the types whose
    * rendering equals Catalyst's Cast to string (other types are cast
    * to string before they are collected). */
  private def renderer(t: DataType): Any => UTF8String = t match {
    case StringType => v => v.asInstanceOf[UTF8String]
    case LongType | IntegerType | ShortType | ByteType | BooleanType =>
      v => UTF8String.fromString(v.toString)
    case DoubleType => v =>
      UTF8String.fromString(java.lang.Double.toString(
        v.asInstanceOf[Double]))
    case FloatType => v =>
      UTF8String.fromString(java.lang.Float.toString(v.asInstanceOf[Float]))
    case other => throw new IllegalArgumentException(
      s"topn_frequency: unsupported value type $other")
  }

  /** `fn` over values of type `t`, resolved once: the returned
    * function scores one frame and answers a Catalyst-internal value
    * of [[resultType]] (or null). `arg` is the aggregate's literal
    * parameter: ew_avg's alpha, topn_frequency's / top's k, lag's
    * frame position, first/last_value's ignore-nulls flag (1). */
  def agg(fn: String, t: DataType, arg: Double = 0.0): Values => Any = {
    resultType(fn, t) // rejects an unknown fn up front
    fn match {
      case "count" => v => count(v)
      case "sum" =>
        if (integral(t)) {
          val narrow: Long => Any = t match {
            case IntegerType => _.toInt
            case ShortType   => _.toShort
            case _           => identity
          }
          v => {
            var s = 0L; var any = false; var i = 0
            while (i < v.length) {
              if (!v.isNull(i)) { s += v.long(i); any = true }
              i += 1
            }
            if (any) narrow(s) else null
          }
        } else v => {
          var s = 0.0; var any = false; var i = 0
          while (i < v.length) {
            if (!v.isNull(i)) { s += v.double(i); any = true }
            i += 1
          }
          if (!any) null else if (t == FloatType) s.toFloat else s
        }
      case "avg" => v => {
        var s = 0.0; var c = 0L; var i = 0
        while (i < v.length) {
          if (!v.isNull(i)) { s += v.double(i); c += 1L }
          i += 1
        }
        if (c > 0L) s / c else null
      }
      case "min" | "max" =>
        val ord = ordering(t)
        val sign = if (fn == "min") -1 else 1
        v => {
          var best: Any = null; var i = 0
          while (i < v.length) {
            if (!v.isNull(i)) {
              val x = v.get(i)
              if (best == null || ord.compare(x, best) * sign > 0) best = x
            }
            i += 1
          }
          best
        }
      case "distinct_count" | "dcount" =>
        // distinct_count counts NULL as a value (test_udaf_function.yaml
        // id 5 row 4); dcount counts non-null values only
        val nullCounts = fn == "distinct_count"
        v => {
          val seen = new java.util.HashSet[Any]()
          var sawNull = false; var i = 0
          while (i < v.length) {
            if (v.isNull(i)) sawNull = true else seen.add(canonKey(v.get(i)))
            i += 1
          }
          seen.size.toLong + (if (nullCounts && sawNull) 1L else 0L)
        }
      case "median" => v => {
        // non-null values ascending: the middle one, or the mean of the
        // two middles
        val xs = doubles(v)
        if (xs.isEmpty) null
        else {
          java.util.Arrays.sort(xs)
          val m = xs.length
          if (m % 2 == 1) xs(m / 2) else (xs(m / 2 - 1) + xs(m / 2)) / 2.0
        }
      }
      case "top1_ratio" => v => {
        // most-common non-null value's count / non-null total, 0.0 when
        // empty (feature_zero_def.cc:426-471)
        val counts = new java.util.HashMap[Any, java.lang.Long]()
        var total = 0L; var i = 0
        while (i < v.length) {
          if (!v.isNull(i)) {
            counts.merge(canonKey(v.get(i)), 1L, (a, b) => a + b)
            total += 1L
          }
          i += 1
        }
        if (total == 0L) 0.0
        else {
          var mx = 0L
          val it = counts.values().iterator()
          while (it.hasNext) { val c = it.next().longValue; if (c > mx) mx = c }
          mx.toDouble / total
        }
      }
      case "drawdown" => v => {
        // newest-first walk keeping the running min of NEWER values
        // (DrawdownUdafDef, default_udf_library.cc:609-655): negatives
        // skipped, the decline measured against the pre-update min
        var mnSet = false; var mn = 0.0
        var ddSet = false; var dd = 0.0
        var i = 0
        while (i < v.length) {
          if (!v.isNull(i)) {
            val x = v.double(i)
            if (x >= 0.0) {
              val cur = if (mnSet && mn < x && x != 0.0) (x - mn) / x else 0.0
              dd = math.max(if (ddSet) dd else 0.0, cur); ddSet = true
              if (!mnSet || x <= mn) { mn = x; mnSet = true }
            }
          }
          i += 1
        }
        if (ddSet) dd else null
      }
      case "ew_avg" =>
        // weight (1-alpha)^k for the k-th NEWEST non-null value
        // (EwAvgUdafDef, default_udf_library.cc:280-325)
        val a = arg
        v => {
          var s = 0.0; var c = 0.0; var k = 0; var i = 0
          while (i < v.length) {
            if (!v.isNull(i)) {
              val w = math.pow(1.0 - a, k)
              s += v.double(i) * w; c += w; k += 1
            }
            i += 1
          }
          if (k == 0) null else s / c
        }
      case "topn_frequency" =>
        // the k most frequent non-null values (count desc, rendering asc
        // in binary order), comma-joined, padded with "NULL"; an EMPTY
        // frame renders "" (test_feature_zero_function.yaml id 4 row 4)
        val k = arg.toInt
        val render = if (k > 0) renderer(t) else null
        v => {
          if (k <= 0 || v.length == 0) UTF8String.EMPTY_UTF8
          else {
            val counts = new java.util.HashMap[UTF8String, java.lang.Long]()
            var i = 0
            while (i < v.length) {
              if (!v.isNull(i)) counts.merge(render(v.get(i)), 1L, (a, b) => a + b)
              i += 1
            }
            val entries = new java.util.ArrayList(counts.entrySet())
            entries.sort((a, b) => {
              val c = java.lang.Long.compare(b.getValue, a.getValue)
              if (c != 0) c else a.getKey.compareTo(b.getKey)
            })
            val sb = new java.lang.StringBuilder
            var j = 0
            while (j < k) {
              if (j > 0) sb.append(',')
              sb.append(if (j < entries.size) entries.get(j).getKey.toString
                else "NULL")
              j += 1
            }
            UTF8String.fromString(sb.toString)
          }
        }
      case "top" =>
        // the k largest non-null values descending, comma-joined (TopKDef,
        // containers.h:72-160): integrals exactly (a double round-trip
        // loses units past 2^53), everything else as %.6f of its double
        // value — numerics directly, other types (strings, dates) in
        // their own order through Cast(AS DOUBLE), "null" where that
        // cast has no value
        val k = arg.toInt
        def fmt(d: Any): String =
          if (d == null) "null"
          else String.format(java.util.Locale.US, "%.6f",
            d.asInstanceOf[AnyRef])
        t match {
          case _ if integral(t) => v => {
            val xs = longs(v)
            java.util.Arrays.sort(xs)
            joinNewest(math.min(k, xs.length), j => xs(xs.length - 1 - j).toString)
          }
          case _: NumericType => v => {
            val xs = doubles(v)
            java.util.Arrays.sort(xs)
            joinNewest(math.min(k, xs.length), j => fmt(xs(xs.length - 1 - j)))
          }
          case _ =>
            val ord = ordering(t)
            val cast = Cast(BoundReference(0, t, nullable = true), DoubleType,
              Some("UTC"), EvalMode.LEGACY)
            v => {
              val xs = (0 until v.length).filterNot(v.isNull).map(v.get)
                .sorted(ord.reverse)
              joinNewest(math.min(k, xs.length), j =>
                fmt(cast.eval(InternalRow(xs(j)))))
            }
        }
      case "lag" =>
        // the value at frame position `arg` (0 = newest member)
        val pos = arg.toInt
        v => if (pos >= 0 && pos < v.length && !v.isNull(pos)) v.get(pos) else null
      case "first_value" | "last_value" =>
        // first_value = the OLDEST member (window_functions_def.cc:276),
        // last_value = the newest; arg 1 skips NULL values
        val ignoreNulls = arg != 0.0
        val oldest = fn == "first_value"
        v => {
          val n = v.length
          var j = 0
          var found = -1
          while (j < n && found < 0) {
            val i = if (oldest) n - 1 - j else j
            if (!ignoreNulls || !v.isNull(i)) found = i
            j += 1
          }
          if (found < 0 || v.isNull(found)) null else v.get(found)
        }
    }
  }

  private def count(v: Values): Long = {
    var c = 0L; var i = 0
    while (i < v.length) { if (!v.isNull(i)) c += 1L; i += 1 }
    c
  }

  /** Non-null values as doubles, newest first. */
  private def doubles(v: Values): Array[Double] = {
    val out = new Array[Double](v.length)
    var m = 0; var i = 0
    while (i < v.length) {
      if (!v.isNull(i)) { out(m) = v.double(i); m += 1 }
      i += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** Non-null values as longs, newest first. */
  private def longs(v: Values): Array[Long] = {
    val out = new Array[Long](v.length)
    var m = 0; var i = 0
    while (i < v.length) {
      if (!v.isNull(i)) { out(m) = v.long(i); m += 1 }
      i += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  private def joinNewest(k: Int, item: Int => String): UTF8String = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < k) { if (j > 0) sb.append(','); sb.append(item(j)); j += 1 }
    UTF8String.fromString(sb.toString)
  }

  // ---------------------------------------------------------------
  // decomposable partials (long-window buckets)
  // ---------------------------------------------------------------

  /** A frame slice folded into what count, sum, avg, min and max need:
    * non-null count, exact Long sum (integral types), double sum, min
    * and max. */
  final case class Partial(cnt: Long, lsum: Long, dsum: Double,
      mn: Any, mx: Any)

  val EmptyPartial: Partial = Partial(0L, 0L, 0.0, null, null)

  /** The aggregates a [[Partial]] answers. */
  val decomposable: Set[String] = Set("count", "sum", "avg", "min", "max")

  /** Partial arithmetic over values of one type. */
  final class Partials(t: DataType) extends Serializable {
    @transient private lazy val ord = ordering(t)
    private val isIntegral = integral(t)
    private val numeric = t match {
      case _: NumericType | BooleanType => true
      case _                            => false
    }

    /** `p` with the non-null value `x` folded in. */
    def add(p: Partial, x: Any): Partial = Partial(p.cnt + 1,
      if (isIntegral) p.lsum + toLong(x) else 0L,
      if (numeric) p.dsum + toDouble(x) else 0.0,
      if (p.mn == null || ord.compare(x, p.mn) < 0) x else p.mn,
      if (p.mx == null || ord.compare(x, p.mx) > 0) x else p.mx)

    def merge(a: Partial, b: Partial): Partial = Partial(
      a.cnt + b.cnt, a.lsum + b.lsum, a.dsum + b.dsum,
      if (a.mn == null || (b.mn != null && ord.compare(b.mn, a.mn) < 0)) b.mn
      else a.mn,
      if (a.mx == null || (b.mx != null && ord.compare(b.mx, a.mx) > 0)) b.mx
      else a.mx)

    /** `fn` (count, sum, avg, min or max) of the folded slice, typed by
      * [[resultType]]. */
    def finish(fn: String, p: Partial): Any = fn match {
      case "count" => p.cnt
      case "sum" =>
        if (p.cnt == 0) null
        else t match {
          case IntegerType => p.lsum.toInt
          case ShortType   => p.lsum.toShort
          case LongType    => p.lsum
          case FloatType   => p.dsum.toFloat
          case _           => p.dsum
        }
      case "avg" => if (p.cnt == 0) null else p.dsum / p.cnt
      case "min" => p.mn
      case "max" => p.mx
      case other => throw new IllegalArgumentException(
        s"non-decomposable frame aggregate '$other'")
    }
  }
}
