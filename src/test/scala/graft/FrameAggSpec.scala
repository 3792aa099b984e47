package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.FrameAgg
import graft.operators.WindowOps

/** Direct edge-case pins for the imperative frame scorer
  * (FrameAggExpr) — the corpus/fuzz/oracle suites cover it end to end;
  * these pin the boundary semantics the Column formulations defined:
  * empty/all-null frames, NULL-as-distinct counting, the 2^64 integral
  * sum wraparound, field navigation, and the statistic family's exact
  * values on a hand-checked frame. */
class FrameAggSpec extends SparkSpec {
  import spark.implicits._

  // a (ts, v) frame array column built per row from literals (an empty
  // frame keeps the struct element type, like a real collected frame)
  private def frameDf(vals: Seq[java.lang.Double]) = {
    val entries = vals.zipWithIndex.map { case (v, i) =>
      struct(lit(i.toLong).as("ts"),
        (if (v == null) lit(null).cast("double") else lit(v.doubleValue))
          .as("v"))
    }
    val arr =
      if (entries.nonEmpty) array(entries: _*)
      else slice(array(struct(lit(0L).as("ts"),
        lit(null).cast("double").as("v"))), 1, 0)
    Seq(1).toDF("one").select(arr.as("arr"))
  }

  test("empty and all-null frames: sum/avg/min/max NULL, counts zero, " +
      "dcount_null counts the null") {
    for (df <- Seq(frameDf(Nil), frameDf(Seq(null, null)))) {
      val r = df.select(
        FrameAgg.agg(col("arr"), "sum").as("s"),
        FrameAgg.agg(col("arr"), "avg").as("a"),
        FrameAgg.agg(col("arr"), "min").as("mn"),
        FrameAgg.agg(col("arr"), "max").as("mx"),
        FrameAgg.agg(col("arr"), "count").as("c"),
        FrameAgg.agg(col("arr"), "dcount").as("d"),
        FrameAgg.agg(col("arr"), "distinct_count").as("dn"),
        FrameAgg.agg(col("arr"), "median").as("md"),
        FrameAgg.agg(col("arr"), "top1_ratio").as("t1"),
        FrameAgg.agg(col("arr"), "drawdown").as("dd")).collect()(0)
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
      assert(r.getLong(4) == 0L && r.getLong(5) == 0L)
      assert(r.getLong(6) == (if (df.select(size(col("arr")))
        .collect()(0).getInt(0) == 0) 0L else 1L))
      assert(r.isNullAt(7))
      assert(r.getDouble(8) == 0.0)
      // drawdown: no valid value → NULL (matches the old fold's
      // null-initial dd)
      assert(r.isNullAt(9))
    }
  }

  test("statistic family on a hand-checked frame (newest-first order)") {
    // newest-first: 4.0, 1.0, null, 2.0, 1.0
    val df = frameDf(Seq(4.0, 1.0, null, 2.0, 1.0))
    val r = df.select(
      FrameAgg.agg(col("arr"), "sum").as("s"),
      FrameAgg.agg(col("arr"), "median").as("md"),
      FrameAgg.agg(col("arr"), "top1_ratio").as("t1"),
      FrameAgg.agg(col("arr"), "dcount").as("d"),
      FrameAgg.agg(col("arr"), "distinct_count").as("dn"),
      // drawdown walks newest-first keeping min of NEWER values:
      // 4: cur 0 (no newer min < 4 yet) mn=4; 1: mn 4>1 → cur 0, mn=1;
      // 2: mn=1 < 2 → (2-1)/2 = 0.5; 1: mn 1 !< 1 → 0 ⇒ dd = 0.5
      FrameAgg.agg(col("arr"), "drawdown").as("dd"),
      FrameAgg.aggArg(col("arr"), "ew_avg", 0.5).as("ew"),
      FrameAgg.aggArg(col("arr"), "topn_frequency", 2).as("tf"),
      FrameAgg.aggArg(col("arr"), "top", 2).as("tk")).collect()(0)
    assert(r.getDouble(0) == 8.0)
    assert(r.getDouble(1) == 1.5) // sorted 1,1,2,4 → (1+2)/2
    assert(r.getDouble(2) == 0.5) // two 1.0s of four
    assert(r.getLong(3) == 3L && r.getLong(4) == 4L)
    assert(r.getDouble(5) == 0.5)
    // ew_avg(0.5): weights 1,.5,.25,.125 over 4,1,2,1 →
    // (4 + .5 + .5 + .125) / 1.875
    assert(math.abs(r.getDouble(6) - (5.125 / 1.875)) < 1e-12)
    assert(r.getString(7) == "1.0,2.0") // count desc, then key asc
    assert(r.getString(8) == "4.000000,2.000000")
  }

  test("integral sum wraps at 2^64 exactly like the old DECIMAL+wrap " +
      "pair; long values keep unit precision in top-k") {
    val big = Long.MaxValue - 1L
    val df = Seq((1L, big), (2L, big), (3L, 5L))
      .toDF("uid", "v")
      .agg(collect_list(struct(col("uid").as("ts"), col("v").as("v")))
        .as("arr"))
    val r = df.select(
      WindowOps.wrapToLongRange(
        FrameAgg.agg(col("arr"), "sum")).as("s"),
      FrameAgg.aggArg(col("arr"), "top", 2).as("tk")).collect()(0)
    // exact: (2^63-2)*2 + 5 ≡ 1 mod 2^64... compute via BigInt
    val expect = ((BigInt(big) * 2 + 5) mod (BigInt(1) << 64)).toLong
    assert(r.getLong(0) == expect)
    assert(r.getString(1) == s"$big,$big")
  }

  test("field navigation reads v.<field> and null slots stay skipped") {
    val df = Seq(1).toDF("one").select(array(
      struct(lit(1L).as("ts"),
        struct(lit(10.0).as("a"), lit("x").as("b")).as("v")),
      struct(lit(2L).as("ts"),
        lit(null).cast("struct<a:double,b:string>").as("v")),
      struct(lit(3L).as("ts"),
        struct(lit(null).cast("double").as("a"), lit("y").as("b")).as("v"))
    ).as("arr"))
    val r = df.select(
      FrameAgg.agg(col("arr"), "sum", Some("a")).as("s"),
      FrameAgg.agg(col("arr"), "count", Some("b")).as("c"),
      FrameAgg.agg(col("arr"), "distinct_count", Some("a")).as("dn"))
      .collect()(0)
    assert(r.getDouble(0) == 10.0)
    assert(r.getLong(1) == 2L) // "x" and "y"; the null struct skipped
    assert(r.getLong(2) == 2L) // {10.0, null}
  }

  test("signed zeros collapse to ONE distinct value for doubles and " +
      "floats (SQL equality, not boxed Double.equals)") {
    // boxed -0.0 != 0.0 under Double.equals; the scorer must normalize
    // (the replaced array_distinct formulation and the reference's C++
    // unordered_set both treat them as equal)
    val df = Seq(1).toDF("one").select(array(
      struct(lit(1L).as("ts"), lit(0.0d).as("v")),
      struct(lit(2L).as("ts"), lit(-0.0d).as("v")),
      struct(lit(3L).as("ts"), lit(1.0d).as("v"))).as("arr"))
    val r = df.select(
      FrameAgg.agg(col("arr"), "dcount").as("d"),
      FrameAgg.agg(col("arr"), "distinct_count").as("dn"),
      FrameAgg.agg(col("arr"), "top1_ratio").as("t1")).collect()(0)
    assert(r.getLong(0) == 2L)   // {0.0, 1.0} — not three
    assert(r.getLong(1) == 2L)
    assert(r.getDouble(2) == 2.0 / 3.0) // the two zeros are one class
    val ff = Seq(1).toDF("one").select(array(
      struct(lit(1L).as("ts"), lit(0.0f).as("v")),
      struct(lit(2L).as("ts"), lit(-0.0f).as("v"))).as("arr"))
    assert(ff.select(FrameAgg.agg(col("arr"), "dcount"))
      .collect()(0).getLong(0) == 1L)
  }

  test("NaN values group as one distinct class") {
    // two NaNs from different constructions (literal + Math.sqrt(-1))
    // — boxed-equality grouping must see ONE class
    val df = Seq(1).toDF("one").select(array(
      struct(lit(1L).as("ts"), lit(Double.NaN).as("v")),
      struct(lit(2L).as("ts"), sqrt(lit(-1.0d)).as("v")),
      struct(lit(3L).as("ts"), lit(7.0d).as("v"))).as("arr"))
    val r = df.select(
      FrameAgg.agg(col("arr"), "dcount").as("d"),
      FrameAgg.agg(col("arr"), "top1_ratio").as("t1")).collect()(0)
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 2.0 / 3.0)
  }
}
