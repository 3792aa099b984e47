package graft.functions

/** FarmHash `Fingerprint64` (= farmhashna::Hash64), the reference's
  * `hash64`/`farm_fingerprint` and the fingerprint behind `discrete`
  * feature signatures (hybridse/src/udf/udf.cc:1444 FarmFingerprint →
  * contrib/farmhash Fingerprint64). Implemented from the published
  * FarmHash algorithm (Google, MIT license); platform-independent and
  * seedless by definition. Bit-compatibility is pinned by the
  * reference's own corpus vectors (feature_signature_query.yaml id 23:
  * hash64(int32 3) = 2681491882390849628, hash64(int64 3) =
  * 7262150054277104024).
  *
  * Inputs hash their little-endian value bytes, exactly the reference's
  * `CCallDataTypeTrait::to_bytes_ref` (literal_traits.h:467): int16 → 2
  * bytes, int32/date → 4, int64/timestamp → 8, float → 4, double → 8,
  * bool → 1, string → UTF-8 bytes.
  */
object FarmHash extends Serializable {
  private val k0 = 0xc3a5c85c97cb3127L
  private val k1 = 0xb492b66fbe98f273L
  private val k2 = 0x9ae16a3b2f90404fL

  @inline private def fetch64(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  @inline private def fetch32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  @inline private def rotate(v: Long, s: Int): Long =
    java.lang.Long.rotateRight(v, s)

  @inline private def shiftMix(v: Long): Long = v ^ (v >>> 47)

  private def hashLen16(u: Long, v: Long, mul: Long): Long = {
    var a = (u ^ v) * mul
    a ^= (a >>> 47)
    var b = (v ^ a) * mul
    b ^= (b >>> 47)
    b * mul
  }

  private def hashLen0to16(b: Array[Byte], len: Int): Long = {
    if (len >= 8) {
      val mul = k2 + len * 2L
      val a = fetch64(b, 0) + k2
      val bb = fetch64(b, len - 8)
      val c = rotate(bb, 37) * mul + a
      val d = (rotate(a, 25) + bb) * mul
      hashLen16(c, d, mul)
    } else if (len >= 4) {
      val mul = k2 + len * 2L
      val a = fetch32(b, 0)
      hashLen16(len + (a << 3), fetch32(b, len - 4), mul)
    } else if (len > 0) {
      val a = b(0) & 0xffL
      val bb = b(len >> 1) & 0xffL
      val c = b(len - 1) & 0xffL
      val y = a + (bb << 8)
      val z = len + (c << 2)
      shiftMix(y * k2 ^ z * k0) * k2
    } else k2
  }

  private def hashLen17to32(b: Array[Byte], len: Int): Long = {
    val mul = k2 + len * 2L
    val a = fetch64(b, 0) * k1
    val bb = fetch64(b, 8)
    val c = fetch64(b, len - 8) * mul
    val d = fetch64(b, len - 16) * k2
    hashLen16(rotate(a + bb, 43) + rotate(c, 30) + d,
      a + rotate(bb + k2, 18) + c, mul)
  }

  private def hashLen33to64(b: Array[Byte], len: Int): Long = {
    val mul = k2 + len * 2L
    val a = fetch64(b, 0) * k2
    val bb = fetch64(b, 8)
    val c = fetch64(b, len - 8) * mul
    val d = fetch64(b, len - 16) * k2
    val y = rotate(a + bb, 43) + rotate(c, 30) + d
    val z = hashLen16(y, a + rotate(bb + k2, 18) + c, mul)
    val e = fetch64(b, 16) * mul
    val f = fetch64(b, 24)
    val g = (y + fetch64(b, len - 32)) * mul
    val h = (z + fetch64(b, len - 24)) * mul
    hashLen16(rotate(e + f, 43) + rotate(g, 30) + h,
      e + rotate(f + a, 18) + g, mul)
  }

  // (a', b') weak hash of 32 bytes at off with seeds
  private def weakA(b: Array[Byte], off: Int, a0: Long, b0: Long): Long = {
    val w = fetch64(b, off); val x = fetch64(b, off + 8)
    val y = fetch64(b, off + 16); val z = fetch64(b, off + 24)
    var a = a0 + w
    a += x; a += y
    a + z
  }
  private def weakB(b: Array[Byte], off: Int, a0: Long, b0: Long): Long = {
    val w = fetch64(b, off); val x = fetch64(b, off + 8)
    val y = fetch64(b, off + 16); val z = fetch64(b, off + 24)
    var a = a0 + w
    var bb = rotate(b0 + a + z, 21)
    val c = a
    a += x; a += y
    bb += rotate(a, 44)
    bb + c
  }

  /** Fingerprint64 over raw bytes. */
  def hash64(bytes: Array[Byte]): Long = {
    val len = bytes.length
    if (len <= 16) return hashLen0to16(bytes, len)
    if (len <= 32) return hashLen17to32(bytes, len)
    if (len <= 64) return hashLen33to64(bytes, len)

    val seed = 81L
    var x = seed
    var y = seed * k1 + 113L
    var z = shiftMix(y * k2 + 113L) * k2
    var v1 = 0L; var v2 = 0L
    var w1 = 0L; var w2 = 0L
    x = x * k2 + fetch64(bytes, 0)

    val endBlocks = ((len - 1) / 64) * 64
    val last64 = len - 64
    var s = 0
    while (s != endBlocks) {
      x = rotate(x + y + v1 + fetch64(bytes, s + 8), 37) * k1
      y = rotate(y + v2 + fetch64(bytes, s + 48), 42) * k1
      x ^= w2
      y += v1 + fetch64(bytes, s + 40)
      z = rotate(z + w1, 33) * k1
      val nv1 = weakA(bytes, s, v2 * k1, x + w1)
      val nv2 = weakB(bytes, s, v2 * k1, x + w1)
      val nw1 = weakA(bytes, s + 32, z + w2, y + fetch64(bytes, s + 16))
      val nw2 = weakB(bytes, s + 32, z + w2, y + fetch64(bytes, s + 16))
      v1 = nv1; v2 = nv2; w1 = nw1; w2 = nw2
      val t = z; z = x; x = t
      s += 64
    }
    val mul = k1 + ((z & 0xff) << 1)
    s = last64
    w1 += ((len - 1) & 63)
    v1 += w1
    w1 += v1
    x = rotate(x + y + v1 + fetch64(bytes, s + 8), 37) * mul
    y = rotate(y + v2 + fetch64(bytes, s + 48), 42) * mul
    x ^= w2 * 9
    y += v1 * 9 + fetch64(bytes, s + 40)
    z = rotate(z + w1, 33) * mul
    val nv1 = weakA(bytes, s, v2 * mul, x + w1)
    val nv2 = weakB(bytes, s, v2 * mul, x + w1)
    val nw1 = weakA(bytes, s + 32, z + w2, y + fetch64(bytes, s + 16))
    val nw2 = weakB(bytes, s + 32, z + w2, y + fetch64(bytes, s + 16))
    val t = z; z = x; x = t
    hashLen16(hashLen16(nv1, nw1, mul) + shiftMix(y) * k0 + z,
      hashLen16(nv2, nw2, mul) + x, mul)
  }

  // ---- typed encodings (LE value bytes, literal_traits.h) ----
  private def le(n: Long, width: Int): Array[Byte] = {
    val b = new Array[Byte](width)
    var i = 0
    while (i < width) { b(i) = ((n >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }
  def ofString(s: String): Long = hash64(s.getBytes("UTF-8"))
  def ofShort(v: Short): Long = hash64(le(v.toLong, 2))
  def ofInt(v: Int): Long = hash64(le(v.toLong, 4))
  def ofLong(v: Long): Long = hash64(le(v, 8))
  def ofFloat(v: Float): Long =
    hash64(le(java.lang.Float.floatToIntBits(v).toLong, 4))
  def ofDouble(v: Double): Long =
    hash64(le(java.lang.Double.doubleToLongBits(v), 8))
  def ofBool(v: Boolean): Long = hash64(Array[Byte](if (v) 1 else 0))
  /** openmldb Date stores `(year-1900)<<16 | (month-1)<<8 | day` in an
    * int32 (fe_row_codec.cc:328). */
  def ofDate(d: java.sql.Date): Long = {
    val ld = d.toLocalDate
    val enc = ((ld.getYear - 1900) << 16) | ((ld.getMonthValue - 1) << 8) |
      ld.getDayOfMonth
    hash64(le(enc.toLong, 4))
  }
}
