package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One-pass scorer over a collected window frame array: the SQL face
  * of [[FrameKernel]]'s aggregates, over an `ArrayData` view of the
  * frame with no copy. Replaces per-element Catalyst higher-order
  * lambdas (`aggregate`/`filter`/`transform`), which are interpreted
  * and rebuild expression state per ELEMENT; type dispatch is resolved
  * ONCE at plan time.
  *
  * Input: `array<struct<..., v: T>>` — the frame-entry shape
  * [[graft.operators.WindowOps.frameArray]] produces (full
  * `(ts,uid,flag,v)` or the narrowed `(ts,v)`), newest first. When
  * `vField` is set, `v` is a struct and the aggregate reads
  * `v.<vField>` — this lets the SQL planner score a SHARED
  * multi-aggregate frame without a per-aggregate `transform` copy.
  *
  * Functions ([[FrameKernel.agg]] has their semantics and
  * [[FrameKernel.resultType]] their types): sum, count, avg, min, max,
  * distinct_count (NULL counts as a value), dcount (non-null values
  * only), median, top1_ratio, drawdown, ew_avg (`arg` = alpha),
  * topn_frequency and top (`arg` = k), lag (`arg` = frame position),
  * first_value and last_value (`arg` 1 = ignore nulls).
  *
  * Evaluated via CodegenFallback: the surrounding projection stays
  * whole-stage-codegen'd and calls this eval once per ROW; the loop
  * body is plain JIT-compiled Scala, not interpreted Catalyst.
  */
case class FrameAggExpr(child: Expression, fn: String,
    vField: Option[String], arg: Double = 0.0)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val entryType: StructType =
    child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  @transient private lazy val vOrd: Int = entryType.fieldIndex("v")
  @transient private lazy val vType: DataType = entryType(vOrd).dataType
  @transient private lazy val valType: DataType = vField match {
    case Some(f) =>
      val st = vType.asInstanceOf[StructType]
      st(st.fieldIndex(f)).dataType
    case None => vType
  }
  @transient private lazy val layout = vField match {
    case Some(f) =>
      val st = vType.asInstanceOf[StructType]
      new EntryLayout(entryType.length, vOrd, st.length, st.fieldIndex(f),
        valType)
    case None => new EntryLayout(entryType.length, vOrd, 0, vOrd, valType)
  }
  @transient private lazy val score = FrameKernel.agg(fn, valType, arg)

  override def dataType: DataType = FrameKernel.resultType(fn, valType)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    score(new EntryValues(input.asInstanceOf[ArrayData], layout))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = s"frame_$fn"
}

/** Where a frame entry keeps its value (`vStructLen` > 0: in field
  * `valOrd` of the struct at `vOrd`), and the value's getters —
  * resolved once per expression. */
private final class EntryLayout(val entryLen: Int, val vOrd: Int,
    val vStructLen: Int, val valOrd: Int, val vt: DataType) {
  val isNested: Boolean = vStructLen > 0
  // numeric getters: Cast-to-double / Cast-to-long semantics for the
  // numeric and boolean types (non-numeric values are cast before they
  // are collected)
  val getD: (InternalRow, Int) => Double = vt match {
    case DoubleType  => (r, o) => r.getDouble(o)
    case FloatType   => (r, o) => r.getFloat(o).toDouble
    case LongType    => (r, o) => r.getLong(o).toDouble
    case IntegerType => (r, o) => r.getInt(o).toDouble
    case ShortType   => (r, o) => r.getShort(o).toDouble
    case ByteType    => (r, o) => r.getByte(o).toDouble
    case BooleanType => (r, o) => if (r.getBoolean(o)) 1.0 else 0.0
    case d: DecimalType =>
      (r, o) => r.getDecimal(o, d.precision, d.scale).toDouble
    case other => (_, _) => throw new IllegalArgumentException(
      s"frame aggregate: non-numeric value type $other")
  }
  val getL: (InternalRow, Int) => Long = vt match {
    case LongType    => (r, o) => r.getLong(o)
    case IntegerType => (r, o) => r.getInt(o).toLong
    case ShortType   => (r, o) => r.getShort(o).toLong
    case ByteType    => (r, o) => r.getByte(o).toLong
    case BooleanType => (r, o) => if (r.getBoolean(o)) 1L else 0L
    case other => (_, _) => throw new IllegalArgumentException(
      s"frame aggregate: non-integral value type $other")
  }
}

/** [[FrameKernel.Values]] over a frame array, without copying: the
  * row holding element i's value is fetched once and reused by the
  * null test and the getter that follows it. */
private final class EntryValues(arr: ArrayData, l: EntryLayout)
    extends FrameKernel.Values {
  private var at = -1
  private var row: InternalRow = _
  private def valRow(i: Int): InternalRow = {
    if (i != at) {
      at = i
      val e = arr.getStruct(i, l.entryLen)
      row =
        if (e == null || !l.isNested) e
        else if (e.isNullAt(l.vOrd)) null
        else e.getStruct(l.vOrd, l.vStructLen)
    }
    row
  }
  def length: Int = arr.numElements()
  def isNull(i: Int): Boolean = {
    val r = valRow(i); r == null || r.isNullAt(l.valOrd)
  }
  def double(i: Int): Double = l.getD(valRow(i), l.valOrd)
  def long(i: Int): Long = l.getL(valRow(i), l.valOrd)
  def get(i: Int): Any = valRow(i).get(l.valOrd, l.vt)
}

/** Frame membership over a collected frame array: the entries of the
  * current row's frame under [[FrameKernel.members]], newest first by
  * (ts, uid). One sort by (ts, uid), skipped when the collect order
  * already is, and one pass with no interpreted per-element lambda.
  * Entries are REFERENCED, not copied — the same lifetime contract as
  * Catalyst's own ArrayFilter. Children: the array of
  * `struct<ts, uid, flag, v>` entries, the current row's ts and uid. */
case class FrameMemberExpr(arr: Expression, curTs: Expression,
    curUid: Expression, frame: FrameKernel.Frame)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
  @transient private lazy val entryType: StructType =
    arr.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  @transient private lazy val entryLen: Int = entryType.length
  @transient private lazy val tsOrd: Int = entryType.fieldIndex("ts")
  @transient private lazy val uidOrd: Int = entryType.fieldIndex("uid")
  @transient private lazy val flagOrd: Int = entryType.fieldIndex("flag")
  @transient private lazy val getTs = FrameMemberExpr.integral(
    entryType(tsOrd).dataType, "ts")
  @transient private lazy val getUid = FrameMemberExpr.integral(
    entryType(uidOrd).dataType, "uid")

  override def first: Expression = arr
  override def second: Expression = curTs
  override def third: Expression = curUid
  override def dataType: DataType = arr.dataType
  override def nullable: Boolean = arr.nullable

  // a row with a NULL order key has no frame
  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) return null
    val t = curTs.eval(input); val u = curUid.eval(input)
    if (t == null || u == null)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else nullSafeEval(a, t, u)
  }

  override def nullSafeEval(arrIn: Any, tsIn: Any, uidIn: Any): Any = {
    val a = arrIn.asInstanceOf[ArrayData]
    val n = a.numElements()
    val entries = new Array[InternalRow](n)
    val tsA = new Array[Long](n)
    val uidA = new Array[Long](n)
    var ascending = true
    var i = 0
    while (i < n) {
      val e = a.getStruct(i, entryLen)
      entries(i) = e
      tsA(i) = getTs(e, tsOrd); uidA(i) = getUid(e, uidOrd)
      if (i > 0 && (tsA(i) < tsA(i - 1) ||
          (tsA(i) == tsA(i - 1) && uidA(i) < uidA(i - 1)))) ascending = false
      i += 1
    }
    // newest first: the collect order reversed, or sorted when ties
    // arrived out of uid order
    val order = new Array[Int](n)
    i = 0
    while (i < n) { order(i) = n - 1 - i; i += 1 }
    if (!ascending) {
      val boxed = order.map(Int.box)
      java.util.Arrays.sort(boxed, (x: Integer, y: Integer) => {
        val c = java.lang.Long.compare(tsA(y), tsA(x))
        if (c != 0) c else java.lang.Long.compare(uidA(y), uidA(x))
      })
      i = 0
      while (i < n) { order(i) = boxed(i); i += 1 }
    }
    val rows = new FrameKernel.Rows {
      def length: Int = n
      def ts(k: Int): Long = tsA(order(k))
      def seq(k: Int): Long = uidA(order(k))
      def primary(k: Int): Boolean = {
        val e = entries(order(k))
        e.isNullAt(flagOrd) || e.getBoolean(flagOrd)
      }
    }
    val picked = new Array[Int](n)
    val m = FrameKernel.members(frame, rows, FrameMemberExpr.asLong(tsIn),
      FrameMemberExpr.asLong(uidIn), picked)
    val out = new Array[Any](m)
    i = 0
    while (i < m) { out(i) = entries(order(picked(i))); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(a: Expression,
      t: Expression, u: Expression): Expression =
    copy(arr = a, curTs = t, curUid = u)
  override def prettyName: String = "frame_members"
}

object FrameMemberExpr {
  private[functions] def integral(t: DataType,
      what: String): (InternalRow, Int) => Long = t match {
    case LongType    => (r, o) => r.getLong(o)
    case IntegerType => (r, o) => r.getInt(o).toLong
    case other => throw new IllegalArgumentException(
      s"frame array: $what must be an epoch-ms integral, got $other")
  }
  private def asLong(x: Any): Long = x match {
    case l: java.lang.Long    => l
    case i: java.lang.Integer => i.toLong
  }
}

/** The bounded-ROWS fast path's frame: the collected ROWS frame
  * (ascending by (ts, uid)) reversed to newest first, without the
  * entries older than `minTs` (the range bound), in one imperative
  * pass — no interpreted per-element lambda and one array, not a
  * `reverse` copy and then a filtered one. Entries are REFERENCED, not
  * copied — same lifetime contract as Catalyst's own ArrayFilter. */
case class FrameNewestExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  @transient private lazy val entryType: StructType =
    left.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  @transient private lazy val entryLen: Int = entryType.length
  @transient private lazy val tsOrd: Int = entryType.fieldIndex("ts")
  @transient private lazy val getTs =
    FrameMemberExpr.integral(entryType(tsOrd).dataType, "ts")

  override def dataType: DataType = left.dataType
  override def nullable: Boolean = left.nullable

  override def nullSafeEval(arrIn: Any, minTsIn: Any): Any = {
    val arr = arrIn.asInstanceOf[ArrayData]
    val minTs = minTsIn.asInstanceOf[Long]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var m = 0
    var i = n - 1
    while (i >= 0) {
      val e = arr.getStruct(i, entryLen)
      if (e != null && getTs(e, tsOrd) >= minTs) { out(m) = e; m += 1 }
      i -= 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (m == n) out else out.take(m))
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
  override def prettyName: String = "frame_newest"
}

/** Column-level face of [[FrameAggExpr]], [[FrameMemberExpr]] and
  * [[FrameNewestExpr]]. */
object FrameAgg {
  def agg(arr: Column, fn: String, vField: Option[String] = None): Column =
    CatalystBridge.column(
      FrameAggExpr(CatalystBridge.expression(arr), fn, vField))

  /** Parameterized aggregates (ew_avg alpha, topn_frequency/top k, lag
    * position, first/last_value ignore-nulls flag). */
  def aggArg(arr: Column, fn: String, arg: Double,
      vField: Option[String] = None): Column =
    CatalystBridge.column(
      FrameAggExpr(CatalystBridge.expression(arr), fn, vField, arg))

  def members(arr: Column, curTs: Column, curUid: Column,
      frame: FrameKernel.Frame): Column =
    CatalystBridge.column(FrameMemberExpr(CatalystBridge.expression(arr),
      CatalystBridge.expression(curTs), CatalystBridge.expression(curUid),
      frame))

  def newestFirst(arr: Column, minTs: Column): Column =
    CatalystBridge.column(FrameNewestExpr(
      CatalystBridge.expression(arr), CatalystBridge.expression(minTs)))
}
