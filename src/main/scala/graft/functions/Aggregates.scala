package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Custom UDAFs matching the reference's SQL-callable aggregate
  * semantics (SURVEY §2.3). Implemented as typed
  * `org.apache.spark.sql.expressions.Aggregator`s — Spark's partial/
  * final split applies automatically (reduce runs map-side), so each
  * aggregate shuffles only its buffer, not its input rows.
  *
  * Order-sensitive aggregates (ew_avg, drawdown — the reference feeds
  * rows newest-first: default_udf_library.cc:303 "data is fed in the
  * reverse order of timestamp") take a (ts, value) pair and sort
  * newest-first in `finish`, making them order-insensitive to Spark's
  * partial aggregation while reproducing the reference's fold order.
  *
  * String-emitting aggregates reproduce the reference's exact
  * formatting: doubles as C "%f" (6 decimals, udf.cc:1298), no
  * trailing comma (containers.h:138-140), cate maps sorted by key
  * ascending (std::map iteration, containers.h:203+).
  */
object GraftAggregates {

  /** C "%f" double formatting used by all string-emitting UDAFs. */
  def fmtDouble(v: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, v)

  case class TsVal(ts: Long, v: java.lang.Double)
  case class TsValBuf(items: Seq[TsVal])

  private def tsValEnc: Encoder[TsValBuf] = Encoders.product[TsValBuf]

  /** ew_avg(value, alpha): exponentially-weighted average, weight
    * (1-alpha)^i for the i-th newest row
    * (default_udf_library.cc:280-325, EwAvgUdafDef). */
  class EwAvg(alpha: Double) extends Aggregator[TsVal, TsValBuf, java.lang.Double] {
    def zero: TsValBuf = TsValBuf(Nil)
    def reduce(b: TsValBuf, a: TsVal): TsValBuf =
      // PREPEND: default Seq is List, so :+ is O(n) and a hot
      // key would cost O(n^2) buffer work; finish() sorts anyway
      if (a == null || a.v == null) b else TsValBuf(a +: b.items)
    def merge(x: TsValBuf, y: TsValBuf): TsValBuf = TsValBuf(x.items ++ y.items)
    def finish(b: TsValBuf): java.lang.Double = {
      val sorted = b.items.sortBy(t => (-t.ts, t.v.doubleValue))
      if (sorted.isEmpty) null
      else {
        var sum = 0.0; var cnt = 0.0; var w = 1.0
        sorted.foreach { t => sum += w * t.v; cnt += w; w *= (1 - alpha) }
        if (cnt == 0) null else java.lang.Double.valueOf(sum / cnt)
      }
    }
    def bufferEncoder: Encoder[TsValBuf] = tsValEnc
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** drawdown(value): max peak-to-trough decline ratio where the
    * trough is NEWER than the peak (default_udf_library.cc:609-655,
    * DrawdownUdafDef: processes newest-first keeping the running min;
    * for each older value t with min<t, dd=(t-min)/t). */
  class Drawdown extends Aggregator[TsVal, TsValBuf, java.lang.Double] {
    def zero: TsValBuf = TsValBuf(Nil)
    def reduce(b: TsValBuf, a: TsVal): TsValBuf =
      // PREPEND: default Seq is List, so :+ is O(n) and a hot
      // key would cost O(n^2) buffer work; finish() sorts anyway
      if (a == null || a.v == null) b else TsValBuf(a +: b.items)
    def merge(x: TsValBuf, y: TsValBuf): TsValBuf = TsValBuf(x.items ++ y.items)
    def finish(b: TsValBuf): java.lang.Double = {
      val sorted = b.items.sortBy(t => (-t.ts, t.v.doubleValue))
      var dd = -1.0
      var mn = Double.MaxValue
      sorted.foreach { t =>
        val v = t.v.doubleValue
        if (v >= 0) { // reference rejects negatives (logs error, skips)
          var cur = 0.0
          if (mn < v) { if (v != 0) cur = (v - mn) / v }
          else mn = v
          dd = math.max(dd, cur)
        }
      }
      if (dd < 0) null else java.lang.Double.valueOf(dd)
    }
    def bufferEncoder: Encoder[TsValBuf] = tsValEnc
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  case class KeyCountBuf(m: Map[String, Long])
  private def kcEnc: Encoder[KeyCountBuf] = Encoders.product[KeyCountBuf]
  private def addKey(b: KeyCountBuf, k: String): KeyCountBuf =
    if (k == null) b else KeyCountBuf(b.m.updated(k, b.m.getOrElse(k, 0L) + 1L))
  private def mergeKC(x: KeyCountBuf, y: KeyCountBuf): KeyCountBuf =
    KeyCountBuf(y.m.foldLeft(x.m) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) })

  /** entropy(x): Shannon entropy -Σ p·log2(p) over the value histogram
    * (aggregate_def.cc:114-158, ShannonEntropy). Null when empty. */
  class Entropy extends Aggregator[String, KeyCountBuf, java.lang.Double] {
    def zero: KeyCountBuf = KeyCountBuf(Map.empty)
    def reduce(b: KeyCountBuf, k: String): KeyCountBuf = addKey(b, k)
    def merge(x: KeyCountBuf, y: KeyCountBuf): KeyCountBuf = mergeKC(x, y)
    def finish(b: KeyCountBuf): java.lang.Double = {
      val n = b.m.values.sum
      if (n == 0) null
      else {
        val total = n.toDouble
        var h = 0.0
        b.m.values.foreach { c => val p = c / total; h -= p * (math.log(p) / math.log(2)) }
        java.lang.Double.valueOf(h)
      }
    }
    def bufferEncoder: Encoder[KeyCountBuf] = kcEnc
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** top1_ratio(x): frequency of the most common value / total; 0.0
    * (not null) when empty (feature_zero_def.cc:426-471). */
  class Top1Ratio extends Aggregator[String, KeyCountBuf, Double] {
    def zero: KeyCountBuf = KeyCountBuf(Map.empty)
    def reduce(b: KeyCountBuf, k: String): KeyCountBuf = addKey(b, k)
    def merge(x: KeyCountBuf, y: KeyCountBuf): KeyCountBuf = mergeKC(x, y)
    def finish(b: KeyCountBuf): Double =
      if (b.m.isEmpty) 0.0
      else b.m.values.max.toDouble / b.m.values.sum
    def bufferEncoder: Encoder[KeyCountBuf] = kcEnc
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** topn_frequency(x, n): the n most frequent values (count desc, key
    * asc), comma-joined, padded with "NULL" to exactly n entries
    * (feature_zero_def.cc:473-588). */
  class TopNFrequency(n: Int) extends Aggregator[String, KeyCountBuf, String] {
    def zero: KeyCountBuf = KeyCountBuf(Map.empty)
    def reduce(b: KeyCountBuf, k: String): KeyCountBuf = addKey(b, k)
    def merge(x: KeyCountBuf, y: KeyCountBuf): KeyCountBuf = mergeKC(x, y)
    def finish(b: KeyCountBuf): String = {
      if (n <= 0) return ""
      val keys = b.m.toSeq.sortBy { case (k, c) => (-c, k) }.take(n).map(_._1)
      (keys ++ Seq.fill(n - keys.size)("NULL")).mkString(",")
    }
    def bufferEncoder: Encoder[KeyCountBuf] = kcEnc
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Misra–Gries heavy-hitters sketch of capacity `k` (Misra & Gries
    * 1982 "Finding repeated elements"; the count-preserving merge rule
    * from Agarwal et al. 2012 "Mergeable summaries", PODS). Bounded
    * state: the buffer NEVER holds more than k entries, so the
    * partial/final aggregation ships k counters per partition instead
    * of shuffling every distinct term — the shape that finds frequent
    * tokens/domains/urls over 100 TB where an exact groupBy would
    * shuffle billions of distinct keys. Guarantee (spec'd + oracle-
    * gated): after any reduce/merge tree, every item with true count
    * > N/(k+1) is present, and each estimate satisfies
    * true − N/(k+1) ≤ est ≤ true. */
  class HeavyHitters(k: Int) extends Aggregator[String, KeyCountBuf, KeyCountBuf] {
    require(k >= 1, s"capacity must be >= 1, got $k")
    def zero: KeyCountBuf = KeyCountBuf(Map.empty)
    def reduce(b: KeyCountBuf, item: String): KeyCountBuf = {
      if (item == null) return b // null never counts (sibling-aggregate rule)
      val m = b.m
      m.get(item) match {
        case Some(c) => KeyCountBuf(m.updated(item, c + 1))
        case None if m.size < k => KeyCountBuf(m.updated(item, 1L))
        case None =>
          // decrement-all step: one "vote" of every stored item and
          // the arriving one cancel out
          KeyCountBuf(m.flatMap { case (key, c) =>
            if (c > 1) Some(key -> (c - 1)) else None
          })
      }
    }
    def merge(x: KeyCountBuf, y: KeyCountBuf): KeyCountBuf = {
      val sum = mergeKC(x, y).m
      if (sum.size <= k) KeyCountBuf(sum)
      else {
        // subtract the (k+1)-th largest count from everything; at most
        // k entries stay positive (ties at the pivot all drop to <= 0)
        val pivot = sum.valuesIterator.toSeq.sorted(Ordering[Long].reverse)(k)
        KeyCountBuf(sum.flatMap { case (key, c) =>
          if (c > pivot) Some(key -> (c - pivot)) else None
        })
      }
    }
    def finish(b: KeyCountBuf): KeyCountBuf = b
    def bufferEncoder: Encoder[KeyCountBuf] = kcEnc
    def outputEncoder: Encoder[KeyCountBuf] = kcEnc
  }

  // ----- the *_cate family -------------------------------------------------

  case class CateIn(k: String, v: java.lang.Double)
  case class CateAcc(cnt: Long, sum: Double, mn: Double, mx: Double)
  case class CateBuf(m: Map[String, CateAcc])
  case class CateBufN(buf: CateBuf, n: Int)

  /** sum/count/avg/min/max_cate(value, key): per-category aggregate
    * rendered as "k1:v1,k2:v2" sorted by key ascending
    * ({sum,avg,...}_by_category_def.cc via BoundedGroupByDict,
    * containers.h:203-300). `mode` ∈ sum|count|avg|min|max;
    * `integral` formats values as integers ("%d") instead of "%f".
    * The *_cate_where variants are this aggregate over rows whose
    * condition holds (callers mask non-matching rows to null key).
    *
    * `order` selects the output ordering/truncation:
    *  - "key_asc": all keys ascending (plain *_cate family)
    *  - "key_desc": top `topN` keys, descending key order
    *    (top_n_key_*_cate_where, containers.h OutputString is_desc)
    *  - "value_desc": top `topN` entries by aggregate value descending,
    *    value ties broken by key descending
    *    (top_n_value_*_cate_where, containers.h OutputTopNByValue) */
  class Cate(mode: String, integral: Boolean,
      order: String = "key_asc", topN: Int = -1)
      extends Aggregator[CateIn, CateBuf, String] {
    def zero: CateBuf = CateBuf(Map.empty)
    def reduce(b: CateBuf, a: CateIn): CateBuf = {
      if (a == null || a.k == null || a.v == null) b
      else {
        val v = a.v.doubleValue
        val acc = b.m.getOrElse(a.k, CateAcc(0, 0.0, Double.MaxValue, Double.MinValue))
        CateBuf(b.m.updated(a.k,
          CateAcc(acc.cnt + 1, acc.sum + v, math.min(acc.mn, v), math.max(acc.mx, v))))
      }
    }
    def merge(x: CateBuf, y: CateBuf): CateBuf =
      CateBuf(y.m.foldLeft(x.m) { case (m, (k, a)) =>
        val acc = m.getOrElse(k, CateAcc(0, 0.0, Double.MaxValue, Double.MinValue))
        m.updated(k, CateAcc(acc.cnt + a.cnt, acc.sum + a.sum,
          math.min(acc.mn, a.mn), math.max(acc.mx, a.mx)))
      })
    private def fmt(v: Double): String =
      if (integral) v.toLong.toString else fmtDouble(v)
    private def aggValue(a: CateAcc): Double = mode match {
      case "sum"   => a.sum
      case "count" => a.cnt.toDouble
      case "avg"   => a.sum / a.cnt
      case "min"   => a.mn
      case "max"   => a.mx
    }
    def finish(b: CateBuf): String = {
      val entries = order match {
        case "key_asc"  => b.m.toSeq.sortBy(_._1)
        case "key_desc" =>
          val s = b.m.toSeq.sortBy(_._1)(Ordering[String].reverse)
          if (topN >= 0) s.take(topN) else s
        case "value_desc" =>
          val s = b.m.toSeq.sortBy { case (k, a) => (aggValue(a), k) }(
            Ordering.Tuple2(Ordering[Double].reverse, Ordering[String].reverse))
          if (topN >= 0) s.take(topN) else s
      }
      entries.map { case (k, a) =>
        val v = mode match {
          case "count" => a.cnt.toString
          case "avg"   => fmtDouble(a.sum / a.cnt)
          case _       => fmt(aggValue(a))
        }
        s"$k:$v"
      }.mkString(",")
    }
    def bufferEncoder: Encoder[CateBuf] = Encoders.product[CateBuf]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  // ----- Column-level helpers (registered udafs) ---------------------------

  def ew_avg(ts: Column, v: Column, alpha: Double): Column =
    udaf(new EwAvg(alpha)).apply(ts.cast("long"), v.cast("double"))

  def drawdown(ts: Column, v: Column): Column =
    udaf(new Drawdown).apply(ts.cast("long"), v.cast("double"))

  def entropy(x: Column): Column = udaf(new Entropy).apply(x.cast("string"))

  /** heavy_hitters(x, k): Misra–Gries summary as map<string, bigint>
    * (see [[HeavyHitters]]). */
  def heavy_hitters(x: Column, k: Int): Column =
    udaf(new HeavyHitters(k)).apply(x.cast("string"))("m")

  case class HHIn(item: String, k: Int)
  case class KeyCountBufK(m: Map[String, Long], k: Int)

  /** [[HeavyHitters]] with the capacity as a (constant) SECOND input
    * column instead of a constructor parameter — the shape a SQL
    * registration needs (`heavy_hitters(x, 16)` through the dialect;
    * registered as `__graft_heavy_hitters`). The capacity rides in the
    * buffer: first reduce pins it, merge keeps the max (all inputs
    * carry the same literal). */
  class HeavyHittersK extends Aggregator[HHIn, KeyCountBufK, KeyCountBuf] {
    def zero: KeyCountBufK = KeyCountBufK(Map.empty, 0)
    private def hh(k: Int) = new HeavyHitters(math.max(1, k))
    def reduce(b: KeyCountBufK, a: HHIn): KeyCountBufK = {
      if (a == null) return b
      require(a.k >= 1, s"heavy_hitters capacity must be >= 1, got ${a.k}")
      val k = if (b.k == 0) a.k else b.k
      KeyCountBufK(hh(k).reduce(KeyCountBuf(b.m), a.item).m, k)
    }
    def merge(x: KeyCountBufK, y: KeyCountBufK): KeyCountBufK = {
      val k = math.max(x.k, y.k)
      if (k == 0) KeyCountBufK(Map.empty, 0)
      else KeyCountBufK(
        hh(k).merge(KeyCountBuf(x.m), KeyCountBuf(y.m)).m, k)
    }
    def finish(b: KeyCountBufK): KeyCountBuf = KeyCountBuf(b.m)
    def bufferEncoder: Encoder[KeyCountBufK] = Encoders.product[KeyCountBufK]
    def outputEncoder: Encoder[KeyCountBuf] = kcEnc
  }

  def top1_ratio(x: Column): Column = udaf(new Top1Ratio).apply(x.cast("string"))

  def topn_frequency(x: Column, n: Int): Column =
    udaf(new TopNFrequency(n)).apply(x.cast("string"))

  def cate(mode: String, v: Column, k: Column, integral: Boolean = false): Column =
    udaf(new Cate(mode, integral)).apply(k.cast("string"), v.cast("double"))

  /** top_n_key_{mode}_cate_where: condition-masked key (pass
    * `when(cond, key)`), top n keys in DESCENDING key order
    * (sum_by_category_def.cc:275-305). */
  def top_n_key_cate(mode: String, v: Column, k: Column, n: Int,
      integral: Boolean = false): Column =
    udaf(new Cate(mode, integral, "key_desc", n))
      .apply(k.cast("string"), v.cast("double"))

  /** top_n_value_{mode}_cate_where: top n entries by aggregate value
    * descending (sum_by_category_def.cc:307-339). */
  def top_n_value_cate(mode: String, v: Column, k: Column, n: Int,
      integral: Boolean = false): Column =
    udaf(new Cate(mode, integral, "value_desc", n))
      .apply(k.cast("string"), v.cast("double"))

  /** SQL-callable *_cate adapter: the dialect call order is
    * (value, key) while [[Cate]]'s input is (key, value). */
  case class CateVK(v: java.lang.Double, k: String)
  class CateVKAgg(mode: String, integral: Boolean)
      extends Aggregator[CateVK, CateBuf, String] {
    private val inner = new Cate(mode, integral)
    def zero: CateBuf = inner.zero
    def reduce(b: CateBuf, a: CateVK): CateBuf =
      if (a == null) b else inner.reduce(b, CateIn(a.k, a.v))
    def merge(x: CateBuf, y: CateBuf): CateBuf = inner.merge(x, y)
    def finish(b: CateBuf): String = inner.finish(b)
    def bufferEncoder: Encoder[CateBuf] = Encoders.product[CateBuf]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** top_n_key_* via SQL: the top-n count rides along as a constant
    * third input column (SQL UDAFs cannot take constructor params). */
  case class CateVKN(k: String, v: java.lang.Double, n: Int)
  class TopNKeyCateAgg(mode: String, integral: Boolean,
      order: String = "key_desc")
      extends Aggregator[CateVKN, CateBufN, String] {
    private def inner(n: Int) = new Cate(mode, integral, order, n)
    // n sentinel Int.MinValue = "no rows seen"; a NEGATIVE requested n
    // means "all entries" (Cate.topN semantics — corpus id 66 n=-1)
    def zero: CateBufN = CateBufN(CateBuf(Map.empty), Int.MinValue)
    def reduce(b: CateBufN, a: CateVKN): CateBufN =
      if (a == null) b
      else CateBufN(inner(a.n).reduce(b.buf, CateIn(a.k, a.v)), a.n)
    def merge(x: CateBufN, y: CateBufN): CateBufN =
      CateBufN(inner(1).merge(x.buf, y.buf), math.max(x.n, y.n))
    def finish(b: CateBufN): String =
      if (b.n == Int.MinValue) ""
      else inner(if (b.n < 0) -1 else b.n).finish(b.buf)
    def bufferEncoder: Encoder[CateBufN] = Encoders.product[CateBufN]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Expose the UDAFs to SQL texts. The *_cate family registers twice:
    * `__graft_<m>_cate` formats values as doubles, `__graft_<m>_cate_int`
    * as integers — the dialect's `<m>_cate` builder picks by the value
    * operand's resolved type (the reference formats by input type,
    * containers.h OutputString; graft.sql.DialectFunctions). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("entropy", udaf(new Entropy))
    spark.udf.register("top1_ratio", udaf(new Top1Ratio))
    spark.udf.register("drawdown", udaf(new Drawdown))
    Seq("sum", "count", "avg", "min", "max").foreach { m =>
      spark.udf.register(s"__graft_${m}_cate", udaf(new CateVKAgg(m, false)))
      spark.udf.register(s"__graft_${m}_cate_int", udaf(new CateVKAgg(m, true)))
      spark.udf.register(s"__graft_topnk_$m", udaf(new TopNKeyCateAgg(m, false)))
      spark.udf.register(s"__graft_topnk_${m}_int",
        udaf(new TopNKeyCateAgg(m, true)))
      spark.udf.register(s"__graft_topnv_$m",
        udaf(new TopNKeyCateAgg(m, false, "value_desc")))
      spark.udf.register(s"__graft_topnv_${m}_int",
        udaf(new TopNKeyCateAgg(m, true, "value_desc")))
    }
    spark.udf.register("__graft_heavy_hitters", udaf(new HeavyHittersK))
  }

  /** top(value, k): the k largest values desc (dups kept), comma-joined
    * (TopKDef, containers.h:72-160). Pure built-in pipeline. */
  def topStr(v: Column, k: Int, integral: Boolean = false): Column = {
    val topVals = slice(reverse(array_sort(collect_list(v))), 1, k)
    val fmted =
      if (integral) transform(topVals, x => x.cast("long").cast("string"))
      else transform(topVals, x => format_string("%.6f", x.cast("double")))
    array_join(fmted, ",")
  }
}
