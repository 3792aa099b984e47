package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LangModel, Packing, Sampling, TextOps}

/** llm_pipeline: the composition of PipelineEndToEndSpec — exact dedup,
  * jaccard near-dedup, decontamination, perplexity quality filter,
  * temperature language mix, packing — with its per-stage row
  * accounting. Each stage's output is materialized (localCheckpoint)
  * before the next operator reads it: the lazily chained form re-runs
  * every upstream stage inside each downstream operator and takes about
  * two minutes per pass even on 500 documents. */
final class LlmPipeline(o: Opts, spark: SparkSession) extends BatchWorkload(spark) {

  /** Documents taken from the corpus: those with the lowest ids. */
  private val Docs = if (o.tiny) 100 else 500

  /** Stage counts and packs at the default seed. */
  private val Recorded: Map[String, (Seq[Long], Long)] = Map(
    "full" -> (Seq(500L, 500L, 152L, 129L, 65L, 43L), 23L),
    "tiny" -> (Seq(100L, 100L, 36L, 27L, 14L, 6L), 6L))

  private var docs: DataFrame = _
  private var probeIds: Seq[Long] = Nil
  private var executions = 0L
  private var exchangesPerExecution = 0.0

  def setup(tr: Tracer): Unit = {
    if (docs != null) docs.unpersist(true)
    docs = spark.read.parquet(s"${o.data}/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
      .orderBy("doc_id").limit(Docs)
      .cache()
    docs.count()
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // the decontamination benchmark set: 5 documents chosen by the seed
    probeIds = new scala.util.Random(o.seed).shuffle(ids).take(5).sorted
  }

  protected def execution(tr: Tracer, phase: Phase): Unit = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var exchanges = 0
    /** Run one operator stage and materialize its output. */
    def stage(name: String)(f: => DataFrame): DataFrame = tr.span(name) {
      val out = f
      val cp = out.localCheckpoint()
      exchanges += Plans.exchanges(out.queryExecution.executedPlan)
      held += cp
      cp
    }
    def acct[A](f: => A): A = tr.span("pipeline.count")(f)

    val t0 = System.nanoTime()
    val (counts, nPacks, packed, kept, shortShards) =
      tr.span("pipeline.execution", executions) {
        val n0 = acct(docs.count())
        val d1 = stage("Dedup.exact") {
          docs.join(Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id")),
            "doc_id")
        }
        val n1 = acct(d1.count())
        val d2 = stage("Dedup.jaccardComponents") {
          val comp = Dedup.jaccardComponents(d1, "doc_id", "text", 0.8)
          d1.join(comp.groupBy("component").agg(min(col("doc_id")).as("doc_id"))
            .select("doc_id"), "doc_id")
        }
        val n2 = acct(d2.count())
        val probes = docs.filter(col("doc_id").isin(probeIds: _*))
          .select(col("doc_id"), col("text"))
        val d3 = stage("Dedup.decontaminate") {
          Dedup.decontaminate(d2, probes, "doc_id", "text", n = 3)
            .filter(!col("contaminated")).drop("contaminated")
        }
        val n3 = acct(d3.count())
        val ppl = stage("LangModel.perplexity") {
          LangModel.perplexity(d3, col("doc_id"), col("text"), vocabSize = 64)
            .filter(col("ppl").isNotNull)
        }
        val d4 = acct {
          val cut = ppl.agg(percentile_approx(col("ppl"), lit(0.5), lit(1000))).head.getDouble(0)
          val d = d3.join(ppl.filter(col("ppl") <= cut).select("doc_id"), "doc_id").localCheckpoint()
          held += d
          d
        }
        val n4 = acct(d4.count())
        val d5 = stage("Sampling.temperatureMix") {
          Sampling.temperatureMix(d4, col("lang"), col("doc_id"), temperature = 2.0, salt = "e2e")
        }
        val n5 = acct(d5.count())
        val packs = stage("Packing.packTexts") {
          Packing.packTexts(d5, col("doc_id"), col("text"), budget = 256, shards = 32, salt = "e2e")
        }
        acct {
          val kept = d5.agg(sum(TextOps.tokenCount(col("text")))).head.getLong(0)
          val p = packs.agg(count(lit(1)), sum(col("n_tokens"))).head
          val short = packs.filter(col("n_tokens") =!= 256).groupBy("shard").count()
            .filter(col("count") > 1).count()
          (Seq(n0, n1, n2, n3, n4, n5), p.getLong(0), p.getLong(1), kept, short)
        }
      }
    val ms = (System.nanoTime() - t0) / 1e6
    executions += 1
    exchangesPerExecution = exchanges
    held.foreach(_.unpersist(true))
    val (recCounts, recPacks) = Recorded(o.scale)
    val problems = Seq(
      !counts.sliding(2).forall(p => p(1) <= p(0)) -> s"stage counts grew: ${counts.mkString(" -> ")}",
      (packed != kept) -> s"packed tokens $packed != kept tokens $kept",
      (shortShards != 0) -> s"$shortShards shards hold more than one under-budget pack",
      (o.defaultSeed && (counts != recCounts || nPacks != recPacks)) ->
        (s"counts ${counts.mkString(" -> ")} with $nPacks packs != recorded " +
          s"${recCounts.mkString(" -> ")} with $recPacks packs")
    ).collect { case (true, why) => why }
    phase.record("op", ms, problems.isEmpty, problems.mkString("; "))
  }

  def layers(tr: Tracer, c: SparkCounters, untraced: Phase, traced: Phase,
      replay: Phase): Map[String, Double] = {
    val n = math.max(1, traced.count)
    Seq("Dedup.exact", "Dedup.jaccardComponents", "Dedup.decontaminate",
      "LangModel.perplexity", "Sampling.temperatureMix", "Packing.packTexts")
      .flatMap { op =>
        Seq(s"${op}_s" -> tr.named(op).map(_.ms).sum / 1000 / n,
          s"$op.jobs" -> c.jobsOf(op).toDouble / n)
      }.toMap + ("spark.exchanges" -> exchangesPerExecution)
  }

  def close(): Unit = if (docs != null) docs.unpersist(false)
}
