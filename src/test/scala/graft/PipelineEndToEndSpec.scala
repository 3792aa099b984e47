package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LangModel, Packing, Sampling, TextOps}

/** The full LLM-training-data pipeline as ONE composed flow over the
  * driver's documents table — the integration the engine exists for:
  *
  *   exact dedup → semantic-family near-dedup (jaccard components +
  *   keep policy) → benchmark decontamination → perplexity quality
  *   filter → temperature-flattened language mix → sequence packing →
  *   sharded manifest accounting.
  *
  * Each stage is individually oracle-verified elsewhere; this spec
  * pins the COMPOSITION: stage-by-stage row accounting, no document
  * invented or duplicated anywhere, end-to-end determinism across
  * runs, and that chaining the stages lazily costs what running them
  * one by one over materialized inputs costs (plan size and jobs add
  * up across stages instead of multiplying). */
class PipelineEndToEndSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** One pipeline run: the corpus and stage row counts, the packs, the
    * kept corpus's token total, each stage output's exchange count,
    * the exchanges of every plan the stage handed to `hold`, and the
    * Spark jobs from packing to counting the packs. */
  private case class Run(counts: Seq[Long], packs: DataFrame,
      keptTokens: Long, exchanges: Seq[Int], heldExchanges: Seq[Int],
      packJobs: Int)

  /** The lazily chained pipeline: stages read each other's plans. */
  private lazy val lazyRun = runPipeline(checkpointed = false)

  /** Each stage output (and the perplexity scores) checkpointed before
    * the next stage reads it — the form perfbench's llm_pipeline runs. */
  private lazy val checkpointedRun = runPipeline(checkpointed = true)

  private def runPipeline(checkpointed: Boolean): Run = {
    val docs = Tables.load(spark, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("text")).cache()
    try runStages(docs, checkpointed) finally docs.unpersist(false)
  }

  private def runStages(docs: DataFrame, checkpointed: Boolean): Run = {
    var held = 0
    def hold(df: DataFrame): DataFrame =
      if (!checkpointed) df
      else { held += exchanges(df); df.localCheckpoint() }

    val stages: Seq[DataFrame => DataFrame] = Seq(
      // 1. exact dedup (identical text → keep smallest id)
      in => in.join(Dedup.exact(in, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), "doc_id"),
      // 2. near-dedup: jaccard components, keep the smallest member
      in => in.join(Dedup.jaccardComponents(in, "doc_id", "text", 0.8)
        .groupBy("component").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"), "doc_id"),
      // 3. decontamination: the 5 lowest-id docs play the benchmark set
      in => Dedup.decontaminate(in,
          docs.orderBy("doc_id").limit(5).select(col("doc_id"), col("text")),
          "doc_id", "text", n = 3)
        .filter(!col("contaminated")).drop("contaminated"),
      // 4. quality: keep the lower-perplexity half (bigram LM scored on
      //    the surviving corpus itself)
      in => {
        val ppl = hold(LangModel.perplexity(in, col("doc_id"), col("text"),
          vocabSize = 64).filter(col("ppl").isNotNull))
        val cut = ppl.agg(percentile_approx(col("ppl"), lit(0.5),
          lit(1000))).head.getDouble(0)
        in.join(ppl.filter(col("ppl") <= cut).select("doc_id"), "doc_id")
      },
      // 5. temperature-flattened language mix (T = 2)
      in => Sampling.temperatureMix(in, col("lang"), col("doc_id"),
        temperature = 2.0, salt = "e2e"))

    var cur = docs
    val counts = Seq.newBuilder[Long] += docs.count()
    val outEx, heldEx = Seq.newBuilder[Int]
    stages.foreach { f =>
      held = 0
      val out = f(cur)
      outEx += exchanges(out)
      cur = hold(out)
      heldEx += held
      counts += cur.count()
    }
    // 6. pack into 256-token sequences over 32 shards
    held = 0
    val (packs, jobs) = jobsDuring {
      val p = Packing.packTexts(cur, col("doc_id"), col("text"),
        budget = 256, shards = 32, salt = "e2e")
      outEx += exchanges(p)
      val h = hold(p)
      h.count()
      h
    }
    heldEx += held
    val keptTokens = cur
      .agg(sum(TextOps.tokenCount(col("text")))).head.getLong(0)
    Run(counts.result(), packs, keptTokens, outEx.result(), heldEx.result(),
      jobs)
  }

  /** Exchanges in `df`'s physical plan, adaptive query stages and
    * subqueries included. */
  private def exchanges(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = {
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children ++ p.subqueries
      }
      (p match { case _: Exchange => 1; case _ => 0 }) +
        next.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  /** `f`'s value and the Spark jobs it started (its job group's). A
    * listener sees events in posting order, so once it has seen a marker
    * job submitted after `f`, it has seen every job of `f`. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val (group, marker) = ("pipeline-spec-jobs", "pipeline-spec-marker")
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** (shard:pack_id, text hash), sorted — order-free pack identity. */
  private def fingerprint(packs: DataFrame): Seq[(String, Long)] =
    packs.select(concat_ws(":", col("shard"), col("pack_id")).as("k"),
        xxhash64(col("text")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

  test("stage accounting: monotone, nothing invented, nothing dropped silently") {
    val Run(counts, packs, keptTokens, _, _, _) = lazyRun
    info(s"pipeline counts: ${counts.mkString(" -> ")}")
    // each stage only removes documents
    assert(counts.sliding(2).forall(p => p(1) <= p(0)), counts.toString)
    // every stage keeps something (the fixture is not degenerate)
    assert(counts.last > 0)
    // dedup stages actually removed near-dups on this dup-dense corpus
    assert(counts(2) < counts(0))
    // packing loses no tokens: the packed token total equals the kept
    // corpus's token total (spans cover every doc exactly once)
    val packedTokens =
      packs.agg(sum(col("n_tokens"))).head.getLong(0)
    assert(packedTokens == keptTokens,
      s"packed $packedTokens != kept $keptTokens")
    // every pack except possibly one per shard is exactly the budget
    val short = packs.filter(col("n_tokens") =!= 256)
      .groupBy("shard").count().filter(col("count") > 1).count()
    assert(short == 0, "more than one under-budget pack in a shard")
  }

  test("deterministic end-to-end: two runs agree pack-for-pack") {
    assert(fingerprint(lazyRun.packs) ==
      fingerprint(runPipeline(checkpointed = false).packs))
  }

  test("the lazy chain and the stage-checkpointed chain agree") {
    assert(lazyRun.counts == checkpointedRun.counts)
    assert(lazyRun.keptTokens == checkpointedRun.keptTokens)
    assert(fingerprint(lazyRun.packs) == fingerprint(checkpointedRun.packs))
  }

  test("composed plans add up: no stage multiplies its upstream plan") {
    // a stage output's exchanges are at most the exchanges every stage
    // up to it plans over checkpointed inputs
    val budget = checkpointedRun.heldExchanges.scanLeft(0)(_ + _).tail
    info(s"lazy exchanges ${lazyRun.exchanges.mkString(", ")}; " +
      s"cumulative checkpointed budget ${budget.mkString(", ")}")
    info(s"jobs to pack and count: ${lazyRun.packJobs}")
    lazyRun.exchanges.zip(budget).zipWithIndex.foreach {
      case ((got, cap), i) =>
        assert(got <= cap, s"stage ${i + 1}: $got exchanges > budget $cap")
    }
    // packing the lazily mixed corpus, through counting the packs
    assert(lazyRun.packJobs <= 10,
      s"${lazyRun.packJobs} Spark jobs to pack and count the lazy chain")
  }
}
