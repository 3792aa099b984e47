package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"
  private lazy val docs =
    spark.read.parquet(s"$sfDir/documents.parquet").persist()

  test("hashSample is invariant under repartitioning and re-runs") {
    val a = Sampling.hashSample(docs, col("doc_id"), 0.3)
      .select("doc_id").as[Long].collect().sorted
    val b = Sampling.hashSample(docs.repartition(17), col("doc_id"), 0.3)
      .select("doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("hashSample rate lands near the target; salts are independent") {
    val n = docs.count().toDouble
    val k = Sampling.hashSample(docs, col("doc_id"), 0.5, "a").count()
    // binomial(n, .5): 5 sigma ≈ 5*sqrt(n)/2
    assert(math.abs(k - n / 2) < 5 * math.sqrt(n) / 2,
      s"rate 0.5 kept $k of $n")
    val sa = Sampling.hashSample(docs, col("doc_id"), 0.5, "a")
      .select("doc_id").as[Long].collect().toSet
    val sb = Sampling.hashSample(docs, col("doc_id"), 0.5, "b")
      .select("doc_id").as[Long].collect().toSet
    val overlap = sa.intersect(sb).size.toDouble
    // independent halves overlap ~ n/4
    assert(math.abs(overlap - n / 4) < 5 * math.sqrt(n) / 2,
      s"salt overlap $overlap of $n")
  }

  test("sub-sample nesting: a 0.1 sample is a subset of the 0.3 sample") {
    val s01 = Sampling.hashSample(docs, col("doc_id"), 0.1)
      .select("doc_id").as[Long].collect().toSet
    val s03 = Sampling.hashSample(docs, col("doc_id"), 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(s01.subsetOf(s03))
  }

  test("stratified takes exactly min(quota, |stratum|) per stratum") {
    val out = Sampling.stratified(docs, col("lang"), col("doc_id"), 20)
    val got = out.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    sizes.foreach { case (lang, sz) =>
      assert(got(lang) == math.min(20L, sz), s"stratum $lang")
    }
    // deterministic: same selection on a different partitioning
    val again = Sampling.stratified(docs.repartition(13), col("lang"),
        col("doc_id"), 20)
      .select("doc_id").as[Long].collect().sorted
    val first = out.select("doc_id").as[Long].collect().sorted
    assert(first.sameElements(again))
  }
  test("weightedSample: clamped per-row keep probability, monotone in weight") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    // weight 0 keeps nothing, weight >= 1 keeps everything
    assert(Sampling.weightedSample(df, col("id"), lit(0.0)).isEmpty)
    assert(Sampling.weightedSample(df, col("id"), lit(1.0)).count() == 2000L)
    assert(Sampling.weightedSample(df, col("id"), lit(7.5)).count() == 2000L)
    // per-row weight: rate ~ w for a uniform coordinate
    val kept = Sampling.weightedSample(df, col("id"), lit(0.3)).count()
    assert(kept > 450 && kept < 750, s"0.3-weight kept $kept of 2000")
    // monotone: the 0.2-weight selection is a subset of the 0.5 one
    val a = Sampling.weightedSample(df, col("id"), lit(0.2))
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedSample(df, col("id"), lit(0.5))
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(b))
    // agrees with hashSample at the same uniform rate (same coordinate)
    val hs = Sampling.hashSample(df, col("id"), 0.5)
      .collect().map(_.getLong(0)).toSet
    val diff = (b -- hs) ++ (hs -- b)
    // hashSample truncates to 8 nibbles lexicographically; the
    // fraction form divides the SAME 8 nibbles — identical decisions
    assert(diff.isEmpty, s"coordinate forms disagree on ${diff.take(5)}")
  }
  test("rebalance hits the target mix in expectation, drops unlisted strata") {
    import spark.implicits._
    val df = (0L until 3000L).map(i =>
      (i, if (i % 6 < 3) "a" else if (i % 6 < 5) "b" else "c"))
      .toDF("id", "s") // a: 1500, b: 1000, c: 500
    val out = Sampling.rebalance(df, col("s"), col("id"),
      Map("a" -> 0.5, "b" -> 0.5)).cache()
    // N' = min(1500/0.5, 1000/0.5) = 2000 → a keeps 2/3, b keeps all
    val n = out.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!n.contains("c"), "unlisted stratum must drop")
    assert(n("b") == 1000L, s"limiting stratum keeps everything, got $n")
    assert(n("a") > 850 && n("a") < 1150, s"a should keep ~1000, got $n")
    // deterministic under repartitioning
    val again = Sampling.rebalance(df.repartition(7), col("s"), col("id"),
      Map("a" -> 0.5, "b" -> 0.5)).collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getLong(0)).toSet)
  }
  test("temperatureMix: T=1 keeps everything; T=2 flattens the mix; " +
      "deterministic under repartitioning") {
    import spark.implicits._
    val df = (0L until 3000L).map(i =>
      (i, if (i % 6 < 4) "big" else "small")).toDF("id", "s")
    // big: 2000, small: 1000
    // T=1: p_s = natural shares -> every rate is 1.0, identity keep
    val t1 = Sampling.temperatureMix(df, col("s"), col("id"), 1.0)
    assert(t1.count() == 3000L)
    // T=2: p ∝ sqrt(n): p_big ≈ 0.5858, p_small ≈ 0.4142;
    // N' = min(2000/p_big ≈ 3414, 1000/p_small ≈ 2414) — SMALL is the
    // limiting stratum and keeps all 1000; big keeps with rate
    // p_big·N'/2000 ≈ 0.7071 → ~1414 rows in expectation
    val out = Sampling.temperatureMix(df, col("s"), col("id"), 2.0,
      salt = "tm").cache()
    val n = out.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n("small") == 1000L, s"limiting stratum keeps everything: $n")
    assert(n("big") > 1280 && n("big") < 1550,
      s"big should keep ~1414 in expectation, got $n")
    // the kept mix flattened toward the sqrt shares (natural small
    // share was 1/3; target ≈ 0.414)
    val smallShare = n("small").toDouble / n.values.sum
    assert(smallShare > 0.37 && smallShare < 0.46,
      s"small share should flatten toward 0.414, got $smallShare ($n)")
    // deterministic under repartitioning
    val again = Sampling.temperatureMix(df.repartition(7), col("s"),
      col("id"), 2.0, salt = "tm").collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getLong(0)).toSet)
  }

  test("rebalance leaves no persisted RDD behind") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "s")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Sampling.rebalance(df, col("s"), col("id"),
      Map("a" -> 0.5, "b" -> 0.5)).collect()
    assert(out.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("rebalance fails fast on a target stratum absent from the corpus") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "s")
    val e = intercept[IllegalArgumentException] {
      Sampling.rebalance(df, col("s"), col("id"),
        Map("a" -> 0.5, "zz_missing" -> 0.5))
    }
    assert(e.getMessage.contains("zz_missing"), e.getMessage)
    assert(e.getMessage.contains("absent"), e.getMessage)
  }
}