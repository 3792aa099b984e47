package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** An index's retention — the reference's TTL kinds (hybridse
  * fe_type.proto:35-41 TTLType; docs/en/openmldb_sql/ddl/
  * CREATE_TABLE_STATEMENT.md "Configuration Rules for TTL and
  * TTL_TYPE"; cases/function/ddl/test_ttl.yaml):
  *
  *  - absolute:  expire rows older than `now - absMs`
  *  - latest:    keep only the newest `lat` rows per key
  *  - absandlat: expire only rows that are BOTH old AND beyond `lat`
  *  - absorlat:  expire rows that are old OR beyond `lat`
  *
  * A 0 component is "no bound on that dimension": its test never
  * fires ([[expires]]). Tables apply it at read time ([[Ttl.expire]]);
  * streaming deployments evict their per-key state by it. */
sealed trait Ttl extends Serializable {
  /** The TTL_TYPE name. */
  def kind: String
  /** The time bound in ms; 0 when none. */
  def absMs: Long
  /** The count bound; 0 when none. */
  def lat: Int

  /** The time bound in whole minutes, rounded up — the reference
    * stores minutes, and a 0 there means no bound, so 30s reads as 1
    * (test_create_index.yaml id 9). */
  def absMinutes: Long = (absMs + 59999L) / 60000L

  /** Whether a row expires, given whether it is older than the time
    * bound and whether it ranks past the count bound. A 0 component
    * never fires. */
  def expires(pastTime: Boolean, pastCount: Boolean): Boolean = {
    val t = pastTime && absMs > 0
    val c = pastCount && lat > 0
    this match {
      case _: Ttl.AbsoluteTime => t
      case _: Ttl.LatestCount  => c
      case _: Ttl.AbsAndLat    => t && c
      case _: Ttl.AbsOrLat     => t || c
    }
  }

  /** Whether any row can ever expire. */
  def hasBound: Boolean = expires(pastTime = true, pastCount = true)
}

object Ttl {
  final case class AbsoluteTime(absMs: Long) extends Ttl {
    def kind: String = "absolute"
    def lat: Int = 0
  }
  final case class LatestCount(lat: Int) extends Ttl {
    def kind: String = "latest"
    def absMs: Long = 0L
  }
  final case class AbsAndLat(absMs: Long, lat: Int) extends Ttl {
    def kind: String = "absandlat"
  }
  final case class AbsOrLat(absMs: Long, lat: Int) extends Ttl {
    def kind: String = "absorlat"
  }

  /** The reference's default: nothing expires. */
  val Never: Ttl = AbsoluteTime(0L)

  private val unbounded: Seq[Ttl] =
    Seq(Never, LatestCount(0), AbsAndLat(0L, 0), AbsOrLat(0L, 0))

  /** The kind a TTL_TYPE option names, with no bound; absolute when
    * the option is absent. An unknown name is an error. */
  def ofKind(kindRaw: Option[String]): Ttl = kindRaw.fold(Never) { k =>
    unbounded.find(_.kind == k.trim.toLowerCase).getOrElse(
      throw new IllegalArgumentException(s"unknown TTL_TYPE '$k'"))
  }

  private val timeRe = "^(\\d+)(s|m|min|h|d)$".r

  // the reference's configurable maxima (CREATE_TABLE_STATEMENT.md:
  // latest up to 1000; absolute up to 15768000m)
  private val maxAbsMs = 15768000L * 60000L
  private val maxLat = 1000L

  private def timeMs(s: String): Long = {
    val ms = s.toLowerCase match {
      case timeRe(n, u) =>
        val unit = u match {
          case "s" => 1000L
          case "m" | "min" => 60000L
          case "h" => 3600000L
          case "d" => 86400000L
        }
        n.toLong * unit
      case other => throw new IllegalArgumentException(
        s"TTL time value '$other' must be an integer with a unit (s/m/h/d)")
    }
    if (ms > maxAbsMs) throw new IllegalArgumentException(
      s"TTL time exceeds the ${maxAbsMs / 60000L}m maximum")
    ms
  }

  private def countOf(s: String): Int = {
    if (s.isEmpty || !s.forall(_.isDigit)) throw new IllegalArgumentException(
      s"TTL latest value '$s' must be a bare integer (no unit)")
    if (s.toLong > maxLat) throw new IllegalArgumentException(
      s"TTL latest count exceeds the $maxLat maximum")
    s.toInt
  }

  /** Parse + validate a TTL value as written in an INDEX(...) clause:
    * `3650d`, `0m`, `(3650m)`, `100`, `(10)`, `(10m,10)`. Kind rules
    * (test_ttl.yaml): absolute takes one time-with-unit; latest takes
    * one bare count <= 1000; absandlat/absorlat take a
    * (time-with-unit, count) 2-tuple in that order. */
  def parse(value: String, kindRaw: Option[String]): Ttl = {
    val kind = ofKind(kindRaw)
    val v = value.trim
    val inner = if (v.startsWith("(") && v.endsWith(")"))
      v.substring(1, v.length - 1) else v
    val parts = inner.split(",").map(_.trim).toSeq
    def one(): String = {
      if (parts.length != 1) throw new IllegalArgumentException(
        s"TTL '$value' must be a single value for ttl_type=${kind.kind}")
      parts.head
    }
    def two(): (Long, Int) = {
      if (parts.length != 2) throw new IllegalArgumentException(
        s"TTL '$value' must be a (time, count) 2-tuple for " +
          s"ttl_type=${kind.kind}")
      (timeMs(parts(0)), countOf(parts(1)))
    }
    kind match {
      case _: AbsoluteTime => AbsoluteTime(timeMs(one()))
      case _: LatestCount  => LatestCount(countOf(one()))
      case _: AbsAndLat    => val (t, n) = two(); AbsAndLat(t, n)
      case _: AbsOrLat     => val (t, n) = two(); AbsOrLat(t, n)
    }
  }

  /** Apply index expiry to a snapshot. `indexes` are
    * (key columns, ts column, ttl); a row survives if ANY index
    * retains it (each reference index keeps its own row copies), so an
    * index with no effective bound retains everything. Insertion order
    * breaks ts ties: the later row is "newer".
    *
    * The reference GCs expired data in the background so readers never
    * see it; here expiry is a DataFrame transform: one bounded window
    * plus one semi-join per read. A production deployment pushes TTL to
    * the table format's compaction (Delta/Iceberg retention) instead. */
  def expire(df: DataFrame,
      indexes: Seq[(Seq[String], String, Ttl)],
      nowMs: Long): DataFrame = {
    if (indexes.isEmpty || indexes.exists(!_._3.hasBound)) return df
    val uid = "__ttl_uid"
    val rn = "__ttl_rn"
    val tagged = df.withColumn(uid, monotonically_increasing_id())
    def msCol(c: String): Column =
      if (df.schema.fields.exists(f =>
        f.name.equalsIgnoreCase(c) && f.dataType == TimestampType))
        unix_millis(col(c))
      else col(c).cast("long")
    val kept = indexes.map { case (keys, ts, ttl) =>
      // an index may have no ts column ("null" — fz_ddl corpus
      // index1:reqId:null:1:latest): latest ranks by insertion order
      // alone and time-based expiry cannot fire
      val hasTs = ts.nonEmpty && !ts.equalsIgnoreCase("null")
      val ord = (if (hasTs) Seq(col(ts).desc) else Seq.empty) :+
        col(uid).desc
      val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      val withRn = if (ttl.lat > 0)
        tagged.withColumn(rn, row_number().over(w)) else tagged
      val pastCount: Column =
        if (ttl.lat > 0) col(rn) > lit(ttl.lat) else lit(false)
      val pastTime: Column =
        if (hasTs) msCol(ts) < lit(nowMs - ttl.absMs) else lit(false)
      // the kind's rule over the two tests; a null test (null ts) is
      // false, so a null ts never expires
      val expired =
        when(pastTime && pastCount, ttl.expires(true, true))
          .when(pastTime, ttl.expires(true, false))
          .when(pastCount, ttl.expires(false, true))
          .otherwise(false)
      withRn.filter(!expired).select(col(uid))
    }.reduce(_ union _).distinct()
    tagged.join(kept, Seq(uid), "left_semi").drop(uid)
  }
}
