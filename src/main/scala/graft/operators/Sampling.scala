package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Reproducible sampling for training-data pipelines.
  *
  * `rand()`-based sampling is not stable under retries, speculative
  * tasks, or repartitioning — at 100 TB a resubmitted stage would
  * sample DIFFERENT rows, breaking train/eval splits and incremental
  * reruns. Both operators here are content-addressed: the keep/drop
  * decision is a pure function of the row key and a salt, so any
  * cluster, partitioning, or re-run selects the identical subset, and
  * changing the salt draws an independent sample.
  *
  * The decision hash is md5 (hex-string order) rather than a native
  * 64-bit hash solely so the SAME selection is expressible in any
  * engine (the DuckDB oracle gate recomputes it verbatim); one md5 per
  * row is scan-linear and vectorizes in codegen.
  */
object Sampling {

  /** Hex threshold for `rate` over the first 8 md5 nibbles. */
  private[graft] def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0,1]")
    f"${math.min((rate * 4294967296.0).toLong, 4294967295L)}%08x"
  }

  /** The row's decision coordinate: md5("<key>:<salt>") as lowercase
    * hex — uniform over [0, 16^32) in lexicographic order. */
  def sampleKey(key: Column, salt: String): Column =
    md5(concat(key.cast("string"), lit(":" + salt)))

  /** Keep each row iff its decision coordinate < rate — a stable
    * Bernoulli(rate) sample keyed by `key`. Pure filter: predicate
    * pushdown and partition pruning still apply upstream. */
  def hashSample(df: DataFrame, key: Column, rate: Double,
      salt: String = "graft"): DataFrame =
    df.filter(substring(sampleKey(key, salt), 1, 8)
      .lt(lit(hexThreshold(rate))))

  /** The decision coordinate as an exact dyadic fraction in [0, 1):
    * first 8 md5 nibbles / 2^32. Both operands are integer-valued
    * doubles, so any IEEE engine computes the identical value — the
    * DuckDB gate recompares it bit-for-bit. */
  def sampleFraction(key: Column, salt: String): Column =
    conv(substring(sampleKey(key, salt), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Weighted (importance) sample: keep each row with ITS OWN
    * probability `weight` (clamped to [0, 1]) — quality-curriculum
    * selection, e.g. keep long/high-scoring documents preferentially.
    * Same content-addressed decision as [[hashSample]], so retries,
    * repartitions, and engines agree row-by-row; still a pure filter,
    * so pushdown and pruning apply upstream. */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
      salt: String = "graft"): DataFrame =
    df.filter(sampleFraction(key, salt) <
      least(lit(1.0), greatest(lit(0.0), weight)))

  /** Mixture rebalancing: downsample strata so the kept corpus matches
    * `targetShares` (stratum → fraction) in expectation — the standard
    * domain/language remixing step before pretraining. The largest
    * achievable total under downsampling-only is
    * N' = min over strata of (n_s / p_s); each stratum keeps with rate
    * p_s · N' / n_s (the limiting stratum keeps everything). Strata
    * absent from the map are dropped. Scale: [[downsample]].
    *
    * Every target stratum must be PRESENT in the corpus: a requested
    * stratum with zero rows makes the mix unsatisfiable (its n_s/p_s
    * bound is 0), so rather than silently ignoring it and shipping a
    * corpus that cannot match the requested shares, this fails fast
    * on the collected counts. */
  def rebalance(df: DataFrame, stratum: Column, key: Column,
      targetShares: Map[String, Double],
      salt: String = "graft"): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0.0),
      "target shares must be positive")
    downsample(df, stratum, key, salt, quantize = false) { counts =>
      val missing = targetShares.keySet -- counts.map(_._1)
      require(missing.isEmpty,
        "rebalance: target strata absent from the corpus (unsatisfiable " +
          s"mix): ${missing.toSeq.sorted.mkString(", ")}")
      counts.map(c => targetShares.getOrElse(c._1, 0.0))
    }
  }

  /** Temperature-flattened mixture sampling — the multilingual/T5
    * mixing rule: the kept corpus follows shares p_s ∝ n_s^(1/T)
    * (T = 1 keeps the natural mix, i.e. everything; T → ∞ approaches
    * uniform shares), realized by downsampling only, so the largest
    * achievable total is N' = min_s(n_s / p_s) and stratum s keeps
    * with rate p_s · N' / n_s — the limiting stratum keeps all rows.
    *
    * Scale: [[downsample]], as [[rebalance]]; n_s^(1/T) is
    * `StrictMath.pow`, as Spark's `pow`. Unlike rebalance's dyadic
    * literal shares, the pow() rates are NOT binary-exact across
    * runtimes, so rates quantize to 1e-6 before the coordinate compare
    * — the same discipline as the suite's quality-score gates — and
    * any engine replays the identical keep set. */
  def temperatureMix(df: DataFrame, stratum: Column, key: Column,
      temperature: Double, salt: String = "graft"): DataFrame = {
    require(temperature > 0.0, "temperature must be positive")
    downsample(df, stratum, key, salt, quantize = true) { counts =>
      val w = counts.map(c => StrictMath.pow(c._2, 1.0 / temperature))
      val tot = w.sum
      w.map(_ / tot)
    }
  }

  /** The downsample-to-shares path of [[rebalance]] and
    * [[temperatureMix]]: the (stratum as string, n_s) counts come to
    * the driver once, `shares` maps them to p_s, and stratum s keeps
    * with rate min(1, p_s · N' / n_s) (floored to 1e-6 if `quantize`).
    * The rates join back as a broadcast literal relation, so the corpus
    * side stays a pure filter on the content-addressed coordinate. The
    * corpus is read for the counts and the filter: [[Materialize.once]]. */
  private def downsample(df: DataFrame, stratum: Column, key: Column,
      salt: String, quantize: Boolean)(
      shares: Seq[(String, Double)] => Seq[Double]): DataFrame = {
    val in = Materialize.once(df)
    val counts = in.groupBy(stratum.as("__rate_s"))
      .agg(count(lit(1)).cast("double").as("__n"))
    val rows = counts.select(col("__rate_s"),
      col("__rate_s").cast("string"), col("__n")).collect().toSeq
    val ns = rows.map(_.getDouble(2))
    val ps = shares(rows.map(_.getString(1)).zip(ns))
    // an empty corpus has no strata, no rates and keeps nothing
    val nPrime = ns.zip(ps).map(np => np._1 / np._2)
      .foldLeft(Double.PositiveInfinity)(math.min)
    val rates = rows.indices.map { i =>
      val r = math.min(1.0, ps(i) * nPrime / ns(i))
      Row(rows(i).get(0), if (quantize) math.floor(r * 1e6) / 1e6 else r)
    }
    val rel = in.sparkSession.createDataFrame(rates.asJava, StructType(Seq(
      counts.schema("__rate_s"), StructField("__rate", DoubleType))))
    in.join(broadcast(rel), stratum === col("__rate_s"), "inner")
      .where(sampleFraction(key, salt) < col("__rate"))
      .drop("__rate", "__rate_s")
  }

  /** Stratified fixed-quota sample: the `quota` rows of each stratum
    * whose decision coordinate orders first (key tiebreak). One
    * hash-shuffle on the stratum column + one in-partition sort —
    * skewed strata cost their own partition only, and the per-stratum
    * quota bounds the output regardless of stratum size. */
  def stratified(df: DataFrame, stratum: Column, key: Column,
      quota: Int, salt: String = "graft"): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(sampleKey(key, salt).asc, key.asc)
    df.withColumn("__s_rn", row_number().over(w))
      .filter(col("__s_rn") <= quota)
      .drop("__s_rn")
  }
}
