package graft

import org.apache.spark.sql.DataFrame
import graft.sql.{GraftSql, StreamDeploy}

case class DEv(id: Int, k: String, ts: Long, i: Option[Int], l: Option[Long],
    d: Option[Double], f: Option[Float], s: Option[String])

/** Differential check of the one frame kernel, with no corpus: seeded
  * random events through the batch window planner vs StreamDeploy.serve
  * (StreamDeploySpec's `check` shape), over every streamable frame shape
  * — ROWS_RANGE span, ROWS, MAXSIZE, EXCLUDE CURRENT_TIME, EXCLUDE
  * CURRENT_ROW and an `n PRECEDING` upper bound, on and off — times every
  * streamable aggregate. Events carry NULLs, NaN, same-ts ties, BIGINTs
  * past 2^53, integral sums that overflow, and FLOAT columns. Doubles and
  * floats are small multiples of 1/4, so every summation order is exact
  * and the two backends must agree bit for bit. */
class FrameKernelDiffSpec extends SparkSpec {
  import spark.implicits._

  private val Seed = 20261019L

  private def events(seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    def opt[T](v: => T): Option[T] = if (r.nextInt(7) == 0) None else Some(v)
    (for ((k, ki) <- Seq("a", "b", "c").zipWithIndex) yield {
      var ts = 0L
      (0 until 24).map { j =>
        ts += r.nextInt(4) // 0 = a same-ts tie
        DEv(ki * 100 + j, k, ts,
          opt(Int.MaxValue / 3 + r.nextInt(5)),
          opt(if (r.nextInt(4) == 0) Long.MaxValue / 3 + r.nextInt(9)
            else (1L << 53) + r.nextInt(4)),
          opt(if (r.nextInt(12) == 0) Double.NaN else (r.nextInt(41) - 20) / 4.0),
          opt((r.nextInt(41) - 20) / 2.0f),
          opt(Seq("x", "y", "z")(r.nextInt(3))))
      }
    }).flatten.toDF()
  }

  private val aggs = Seq(
    "sum(i)", "sum(l)", "sum(d)", "sum(f)", "count(d)", "count(*)",
    "avg(i)", "avg(d)", "min(l)", "max(l)", "min(d)", "max(d)", "min(f)",
    "max(s)", "distinct_count(d)", "distinct_count(s)", "median(d)",
    "median(l)", "lag(s, 1)", "at(d, 2)", "first_value(l)",
    "last_value(d)", "first_value(d, true)", "last_value(s, true)")

  /** Every streamable frame shape, with seeded bounds. */
  private def frames(seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    val flags = for (a <- Seq(false, true); b <- Seq(false, true);
      c <- Seq(false, true)) yield (a, b, c)
    def excl(ct: Boolean, cr: Boolean) =
      (if (ct) " EXCLUDE CURRENT_TIME" else "") +
        (if (cr) " EXCLUDE CURRENT_ROW" else "")
    val range = for ((hi, ct, cr) <- flags; ms <- Seq(false, true)) yield {
      val span = 4 + r.nextInt(12)
      val upper = if (hi) s"${1 + r.nextInt(3)} PRECEDING" else "CURRENT ROW"
      s"ROWS_RANGE BETWEEN $span PRECEDING AND $upper" +
        (if (ms) s" MAXSIZE ${2 + r.nextInt(4)}" else "") + excl(ct, cr)
    }
    val rows = for ((hi, ct, cr) <- flags) yield {
      val n = 2 + r.nextInt(4)
      val upper = if (hi) s"${1 + r.nextInt(2)} PRECEDING" else "CURRENT ROW"
      s"ROWS BETWEEN $n PRECEDING AND $upper" + excl(ct, cr)
    }
    range ++ rows
  }

  private def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double if d.isNaN => "NaN"
      case f: Float if f.isNaN  => "NaN"
      case x                    => String.valueOf(x)
    }).sortBy(_.head.toInt)

  test("batch planner and StreamDeploy agree on every streamable frame " +
      "shape and aggregate") {
    val ev = events(Seed)
    val failures = frames(Seed).grouped(4).flatMap { group =>
      val ws = group.indices.map(j => s"w$j")
      val cols = for (w <- ws; (a, ai) <- aggs.zipWithIndex)
        yield s"$a OVER $w AS ${w}_$ai"
      val sql = s"SELECT id, k, ts, ${cols.mkString(", ")} FROM events WINDOW " +
        ws.zip(group).map { case (w, f) =>
          s"$w AS (PARTITION BY k ORDER BY ts $f)" }.mkString(", ")
      val batch = GraftSql.sql(spark, sql, Map("events" -> ev))
      val streamed = StreamDeploy.serve(spark, sql, ev)
      val (b, s) = (canon(batch), canon(streamed))
      val names = batch.columns
      val types = streamed.schema.map(_.dataType) ==
        batch.schema.map(_.dataType)
      val diffs = b.zip(s).flatMap { case (x, y) =>
        names.indices.filter(c => x(c) != y(c)).map(c =>
          s"  id=${x(0)} ts=${x(2)} ${names(c)}: batch ${x(c)}, stream ${y(c)}")
      }
      if (types && b.length == s.length && diffs.isEmpty) None
      else Some(s"sql: $sql\n" +
        (if (types) "" else s"  types: ${streamed.schema} vs ${batch.schema}\n") +
        diffs.take(12).mkString("\n"))
    }.toList
    assert(failures.isEmpty, s"seed $Seed\n${failures.mkString("\n")}")
  }
}
