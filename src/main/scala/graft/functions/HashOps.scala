package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass imperative evaluation of the dedup family's hash pipelines —
  * the [[FrameAggExpr]] treatment applied to the OTHER hot loops the
  * r18 audit left interpreted: MinHash signatures, band hashes, and
  * shingle hashing were Catalyst higher-order-function chains
  * (`transform`/`aggregate`/`array_min` are CodegenFallback: they
  * rebuild interpreted expression state per ELEMENT and allocate an
  * array per pass, so a k=24 signature paid 24 interpreted walks plus
  * 24 array copies per document). Each expression here is one
  * monomorphic JVM loop; the surrounding projection stays whole-stage-
  * codegen'd and calls `eval` once per row.
  *
  * Every expression is a BIT-IDENTICAL replacement of a specific
  * Column formulation (named in its scaladoc); HashOpsSpec pins the
  * equality on randomized corpora including the null/empty/unicode
  * edges. The xxhash64 arithmetic is Spark's own [[XXH64]] (seed 42,
  * null children skipped — the same contract as the `xxhash64`
  * function), so values replay identically anywhere Spark's do.
  */
object HashOps {

  private[functions] val Seed = 42L

  /** split(trim(text), "\\s+") — the exact `TextOps.words` tokens. */
  @inline private[functions] def splitWords(text: UTF8String): Array[String] =
    text.trim().toString.split("\\s+", -1)

  /** xxhash64 over a string value (seed 42), as `xxhash64(col)`. */
  @inline private[functions] def hashStr(s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), Seed)

  def shingleHashes(text: Column, n: Int): Column =
    CatalystBridge.column(
      ShingleHashesExpr(CatalystBridge.expression(text), n))

  def minhashSig(hashes: Column, k: Int): Column =
    CatalystBridge.column(
      MinHashSigExpr(CatalystBridge.expression(hashes), k))

  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    CatalystBridge.column(
      MinHashBandsExpr(CatalystBridge.expression(sig), bands, rowsPerBand))

  def matchCount(a: Column, b: Column): Column =
    CatalystBridge.column(MatchCountExpr(
      CatalystBridge.expression(a), CatalystBridge.expression(b)))

  def md5MinhashBuckets(text: Column, bands: Int, rowsPerBand: Int,
      shingleN: Int): Column =
    CatalystBridge.column(Md5MinHashBucketsExpr(
      CatalystBridge.expression(text), bands, rowsPerBand, shingleN))

  def simhash64(hashes: Column): Column =
    CatalystBridge.column(SimHash64Expr(CatalystBridge.expression(hashes)))

  def fieldSum(arr: Column, field: String): Column =
    CatalystBridge.column(
      StructFieldSumExpr(CatalystBridge.expression(arr), field))

  def firstBandMatch(bandsA: Column, bandsB: Column, band: Column): Column =
    CatalystBridge.column(FirstBandMatchExpr(
      CatalystBridge.expression(bandsA), CatalystBridge.expression(bandsB),
      CatalystBridge.expression(band)))

  def sortedFieldSum(arr: Column, field: String): Column =
    CatalystBridge.column(
      SortedStructFieldSumExpr(CatalystBridge.expression(arr), field))

  def distinctSize(arr: Column): Column =
    CatalystBridge.column(DistinctSizeExpr(CatalystBridge.expression(arr)))

  def distinctNgramSize(ws: Column, n: Int): Column =
    CatalystBridge.column(
      DistinctNgramSizeExpr(CatalystBridge.expression(ws), n))
}

/** The first-match pre-drop of `Dedup.minhashLshPairs` (uncapped path):
  * TRUE iff no band BEFORE `band` already matched for this pair —
  * `forall b < band: a(b) != b(b)` with null band hashes never matching
  * (a null `xxhash64` band hash cannot arise from [[MinHashBandsExpr]],
  * whose output array is containsNull=false, but the check is total).
  * Conjoined into the band self-join's condition it is evaluated per
  * PROBED candidate, so each candidate pair is emitted exactly once —
  * from its smallest matching band — and the post-join
  * groupBy(id1,id2) pair-distinct (and its O(candidates) exchange)
  * disappears. One imperative walk of at most `band` longs. */
case class FirstBandMatchExpr(bandsA: Expression, bandsB: Expression,
    band: Expression) extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(bandsA, bandsB, band)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = bandsA.eval(input)
    val b = bandsB.eval(input)
    val k = band.eval(input)
    // a joined row always carries both arrays and its band position
    // (posexplode of a null array emits no rows) — but stay total
    if (a == null || b == null || k == null) return true
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lim = math.min(k.asInstanceOf[Int],
      math.min(x.numElements(), y.numElements()))
    var i = 0
    while (i < lim) {
      if (!x.isNullAt(i) && !y.isNullAt(i) &&
          x.getLong(i) == y.getLong(i)) return false
      i += 1
    }
    true
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression =
    copy(bandsA = cs(0), bandsB = cs(1), band = cs(2))
  override def prettyName: String = "first_band_match"
}

/** `aggregate(arr, 0.0, (acc, x) => acc + x.<field>)` — the bit-
  * deterministic in-array-order double fold the perplexity / BM25
  * scorers run per document over a sorted struct list. One imperative
  * walk; a NULL element or NULL field poisons the fold to NULL and an
  * empty array folds to 0.0, exactly like the Column form. */
case class StructFieldSumExpr(child: Expression, field: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val entryType: StructType =
    child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  @transient private lazy val ord: Int = entryType.fieldIndex(field)
  @transient private lazy val entryLen: Int = entryType.length
  @transient private lazy val isDouble: Boolean = {
    val dt = entryType(ord).dataType
    require(dt == DoubleType,
      s"struct_field_sum: field '$field' must be double, got $dt")
    true
  }

  override def nullSafeEval(input: Any): Any = {
    require(isDouble)
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, entryLen)
      if (e == null || e.isNullAt(ord)) return null
      s += e.getDouble(ord)
      i += 1
    }
    s
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "struct_field_sum"
}

/** `Dedup.shingleHashes(text, n)` in one pass: distinct xxhash64 word
  * n-gram shingle hashes of `split(trim(text), "\\s+")` —
  *  - n = 1: `transform(array_distinct(words), w => xxhash64(w))`
  *    (distinct WORDS first, then hash — order preserved);
  *  - n > 1: hash every word, n-grams hash the word-hash slice
  *    (`xxhash64(slice(wh, i+1, n))` = fold of hashLong over the
  *    window, seed 42); a doc shorter than n yields ONE whole-sequence
  *    gram; `array_distinct` last, first-occurrence order.
  * NULL text: n = 1 → NULL (the chain nulls through split/transform);
  * n > 1 → the single-element array [42] — the legacy size(null) = -1
  * semantics send the `when(size(wh) < n, ...)` into its then-branch,
  * and xxhash64 over an all-null child list returns the bare seed. */
case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"shingle n must be positive, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable && n == 1

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) {
      return if (n == 1) null
      else new GenericArrayData(Array(HashOps.Seed))
    }
    nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val words = HashOps.splitWords(input.asInstanceOf[UTF8String])
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (n == 1) {
      // distinct words first (string equality), then hash — identical
      // to hashing distinct words since xxhash64 is deterministic, but
      // keep the dedup on the string side to preserve first-occurrence
      // ORDER of the hashes exactly as the Column form produces it
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i < words.length) {
        if (seen.add(words(i))) out.add(HashOps.hashStr(words(i)))
        i += 1
      }
    } else {
      val m = words.length
      val wh = new Array[Long](m)
      var i = 0
      while (i < m) { wh(i) = HashOps.hashStr(words(i)); i += 1 }
      if (m < n) {
        // whole word-hash array as one gram: xxhash64(array<long>)
        var h = HashOps.Seed
        i = 0
        while (i < m) { h = XXH64.hashLong(wh(i), h); i += 1 }
        out.add(h)
      } else {
        i = 0
        while (i <= m - n) {
          var h = HashOps.Seed
          var j = i
          while (j < i + n) { h = XXH64.hashLong(wh(j), h); j += 1 }
          out.add(h)
          i += 1
        }
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue; i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** `Dedup.minhashSignature(hashes, k)` in one pass:
  * `array((0 until k).map(i => array_min(transform(hashes, h =>
  * xxhash64(lit(i), h)))))` — permutation i of shingle hash h is
  * hashLong(h, hashLong(i, 42)); the k permutation seeds are folded at
  * plan time and the k minima accumulate in ONE walk over the array
  * (the Column form walked it k times through interpreted lambdas).
  * NULL/empty input → array of k NULLs (array_min of an empty
  * transform), exactly the Column form's output — never a NULL array. */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be positive, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  // xxhash64(lit(i), h) = hashLong(h, hashLong(i, seed)) — the per-
  // permutation seeds are constants
  @transient private lazy val permSeed: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashLong(i.toLong, HashOps.Seed))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(new Array[Any](k))
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      // a NULL element hashes to the bare permutation seed (xxhash64
      // skips null children), same as the Column chain
      val isNull = arr.isNullAt(j)
      val h = if (isNull) 0L else arr.getLong(j)
      var i = 0
      while (i < k) {
        val x = if (isNull) permSeed(i) else XXH64.hashLong(h, permSeed(i))
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** The band-hash fanout of `Dedup.minhashLshPairs`:
  * `transform(sequence(0, bands-1), b => xxhash64(slice(sig,
  * b*rowsPerBand+1, rowsPerBand)))` — per band, one xxhash64 fold over
  * the band's signature slice (seed 42, null entries skipped). */
case class MinHashBandsExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  require(bands >= 1 && rowsPerBand >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[ArrayData]
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = HashOps.Seed
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, n)
      while (j < end) {
        if (!sig.isNullAt(j)) h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "minhash_bands"
}

/** The signature-agreement count of `Dedup.minhashLshPairs`:
  * `size(filter(zip_with(a, b, (x, y) => x === y), v => v))` — the
  * number of positions where BOTH sides are non-null and equal
  * (null === anything is null, and `filter` drops nulls). A NULL input
  * array yields -1 — this session runs the legacy size(null) = -1
  * semantics (non-ANSI dialect), and the downstream threshold filter
  * drops the pair either way. Returns int, like `size`. */
case class MatchCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) return -1
    nullSafeEval(a, b)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) &&
          x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
  override def prettyName: String = "sig_match_count"
}

/** The ENTIRE per-document pipeline of `Dedup.lshBuckets` (batch path)
  * in one pass — words, n-gram strings, the portable md5 double-hash,
  * the k per-permutation minima, and the per-band md5 bucket keys:
  *
  *   ws    = filter(split(trim(text), "\\s+"), w != "")
  *   grams = filter(wordNgramsOf(ws, shingleN), g != "")
  *           (a doc shorter than n yields its whole word sequence as
  *            one gram; n-gram strings are space-joined)
  *   per gram: m = md5(gram);  h0 = conv(m[0,8), 16, 10),
  *                             h1 = conv(m[8,16), 16, 10)
  *   sig_i = min over grams of pmod(h0 + i*h1, 4294967291)   i < k
  *   band_b = md5(concat_ws(",", sig[b*r .. b*r+r-1]))       b < bands
  *
  * Returns the array<string> of band bucket hashes, or NULL when the
  * doc has no grams (the Column pipeline's `where(size(toks) > 0)` —
  * posexplode of NULL emits no rows, so bucket rows match exactly).
  * The md5/conv arithmetic replays what Spark's own `md5`/`conv`
  * produce (HashOpsSpec pins it), so the DuckDB oracle recomputes the
  * same buckets it always has. Replaces an explode of every gram, a
  * k-column groupBy shuffle, and interpreted n-gram string building —
  * the whole signature now rides the scan projection.
  */
case class Md5MinHashBucketsExpr(child: Expression, bands: Int,
    rowsPerBand: Int, shingleN: Int)
    extends UnaryExpression with CodegenFallback {
  require(bands >= 1 && rowsPerBand >= 1 && shingleN >= 1)
  private val k = bands * rowsPerBand
  private val P = 4294967291L // largest prime below 2^32

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  /** (h0, h1) of one gram: unsigned 32-bit halves of md5's first 8
    * bytes — exactly conv(substring(hex, 1, 8), 16, 10) and
    * conv(substring(hex, 9, 8), 16, 10) of Spark's md5 hex string. */
  @inline private def mix(mins: Array[Long], digest: Array[Byte]): Unit = {
    val h0 = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
    val h1 = ((digest(4) & 0xffL) << 24) | ((digest(5) & 0xffL) << 16) |
      ((digest(6) & 0xffL) << 8) | (digest(7) & 0xffL)
    var i = 0
    var acc = h0 // h0 + i*h1 never exceeds k * 2^32 — no overflow
    while (i < k) {
      val x = acc % P
      if (x < mins(i)) mins(i) = x
      acc += h1
      i += 1
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val words0 = HashOps.splitWords(input.asInstanceOf[UTF8String])
    // filter(words, w != "")
    var m = 0
    var i = 0
    while (i < words0.length) {
      if (!words0(i).isEmpty) { words0(m) = words0(i); m += 1 }
      i += 1
    }
    if (m == 0) return null // no grams → no bucket rows
    val md = Md5MinHashBucketsExpr.digest.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    if (m < shingleN) {
      // whole-sequence gram (never empty here: m >= 1 non-empty words)
      val sb = new java.lang.StringBuilder
      i = 0
      while (i < m) {
        if (i > 0) sb.append(' ')
        sb.append(words0(i))
        i += 1
      }
      md.reset()
      mix(mins, md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    } else {
      i = 0
      while (i <= m - shingleN) {
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < i + shingleN) {
          if (j > i) sb.append(' ')
          sb.append(words0(j))
          j += 1
        }
        md.reset()
        mix(mins, md.digest(
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        i += 1
      }
    }
    // per-band bucket key: md5 hex of the comma-joined decimal minima
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var j = b * rowsPerBand
      val end = j + rowsPerBand
      while (j < end) {
        if (j > b * rowsPerBand) sb.append(',')
        sb.append(mins(j))
        j += 1
      }
      md.reset()
      out(b) = UTF8String.fromString(Md5MinHashBucketsExpr.hex(md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "md5_minhash_buckets"
}

object Md5MinHashBucketsExpr {
  /** MessageDigest is stateful and not thread-safe; expression
    * instances can be shared across tasks in local mode. */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray
  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

/** `Dedup.simhashOfHashes(hashes)` in one pass: per-bit ±1 votes of
  * every token hash, bit b of the result set iff its vote sum is
  * positive. The Column form is a 64-lane zip_with fold per token —
  * interpreted, with two array allocations per token; this is one
  * int[64] walk. NULL array → NULL; NULL elements vote like the
  * Column form (h & mask is null → when(null, 1).otherwise(-1) = -1 on
  * every bit). */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        // null & mask → null → otherwise(-1): every bit votes -1
        var b = 0
        while (b < 64) { votes(b) -= 1; b += 1 }
      } else {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "simhash64"
}

/** `struct_field_sum(array_sort(arr), field)` fused — the per-group
  * sorted fold of LangModel.perplexity (`array_sort`) and
  * TextOps.bm25TopK (`sort_array`). Both sort ascending by the struct
  * ordering and differ only in null-ELEMENT placement, which cannot
  * change the result here: a null element (or null field) poisons the
  * fold to NULL wherever it sorts (and `collect_list` never emits one).
  * One walk validates and copies, one stable sort under the interpreted
  * struct ordering (exactly the comparisons `array_sort`'s default
  * comparator lowers to), one primitive summing walk — the Column chain
  * paid an interpreted comparator lambda PER COMPARISON plus an
  * intermediate sorted-array allocation. Empty array → 0.0, like the
  * Column form. */
case class SortedStructFieldSumExpr(child: Expression, field: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val entryType: StructType =
    child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
  @transient private lazy val ord: Int = entryType.fieldIndex(field)
  @transient private lazy val entryLen: Int = entryType.length
  @transient private lazy val isDouble: Boolean = {
    val dt = entryType(ord).dataType
    require(dt == DoubleType,
      s"sorted_field_sum: field '$field' must be double, got $dt")
    true
  }
  @transient private lazy val ordering =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(entryType)

  override def nullSafeEval(input: Any): Any = {
    require(isDouble)
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val rows = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, entryLen)
      if (e == null || e.isNullAt(ord)) return null
      rows(i) = e
      i += 1
    }
    if (n > 1)
      java.util.Arrays.sort(rows,
        ordering.asInstanceOf[java.util.Comparator[
          org.apache.spark.sql.catalyst.InternalRow]])
    var s = 0.0
    i = 0
    while (i < n) { s += rows(i).getDouble(ord); i += 1 }
    s
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "sorted_field_sum"
}

/** `size(array_distinct(ws))` for array<string> in one pass — the
  * duplicate-word counter of TextOps.dupWordFractionOf. Distinctness is
  * binary string equality (UTF8String), with a null element counting as
  * one distinct value, exactly like `array_distinct`; a NULL array
  * returns -1 (this session's legacy size(null) semantics). Returns
  * int, like `size`. */
case class DistinctSizeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return -1
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    var sawNull = false
    var c = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        if (!sawNull) { sawNull = true; c += 1 }
      } else if (seen.add(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "distinct_size"
}

/** `size(array_distinct(TextOps.wordNgramsOf(ws, n)))` in one pass for
  * n >= 2 — the duplicate-n-gram counter of TextOps.dupNgramFractionOf.
  * N-grams compare as the bytes of their space-joined strings
  * (`array_join` skips null words), identically to the Column form,
  * so two windows whose joins collide count once and words that differ
  * only in invalid UTF-8 bytes count apart; a document shorter than n
  * yields ONE whole-sequence gram. A NULL array returns -1 (the callers' `when`
  * guard keeps the Column form's null path; the value only documents
  * size-of-null). Returns int, like `size`. */
case class DistinctNgramSizeExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 2, s"n must be >= 2, got $n (n = 1 is distinct_size)")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return -1
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    // one gram = words [i, i+n) space-joined, nulls skipped (array_join
    // and concatWs both skip them)
    val words = new Array[UTF8String](math.min(m, n))
    @inline def gram(start: Int, end: Int): UTF8String = {
      var j = start
      while (j < end) {
        words(j - start) = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
        j += 1
      }
      UTF8String.concatWs(DistinctNgramSizeExpr.Space, words: _*)
    }
    if (m < n) { seen.add(gram(0, m)); return 1 }
    var i = 0
    while (i <= m - n) { seen.add(gram(i, i + n)); i += 1 }
    seen.size
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "distinct_ngram_size"
}

object DistinctNgramSizeExpr {
  private val Space = UTF8String.fromString(" ")
}
