package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    scale: String, cores: Int, data: String, work: String, result: String,
    traceDir: String) {
  def tiny: Boolean = scale == "tiny"
  /** The seed every recorded checksum and count was taken with. */
  def defaultSeed: Boolean = seed == 1L
}

/** Latencies and outcomes of one measured phase; safe to record into
  * from several client threads. `kind` is "op" for the workload's unit
  * of work (a complete batch execution, a served request) and "put" for
  * an online_ingest write. */
final class Phase {
  private val lat = new ConcurrentLinkedQueue[(String, Double)]()
  private val problems = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  @volatile var wallS = 0.0

  def record(kind: String, ms: Double, ok: Boolean, why: => String = ""): Unit = {
    attempted.incrementAndGet()
    lat.add((kind, ms))
    if (!ok) fail(why)
  }

  /** A failed check that is not tied to one timed operation. */
  def fail(why: String): Unit = {
    failed.incrementAndGet()
    if (problems.size < 20) problems.add(why)
  }

  def ms(kinds: String*): Seq[Double] =
    lat.asScala.collect { case (k, v) if kinds.isEmpty || kinds.contains(k) => v }.toSeq
  def count: Int = lat.size
  def failures: Seq[String] = problems.asScala.toSeq
}

/** One workload: inputs, the closed-loop measured phase, its checks and
  * the per-layer numbers its spans give. */
trait Workload {
  /** Load and prepare everything the measured phase needs. Every call
    * starts from freshly loaded inputs. */
  def setup(tr: Tracer): Unit
  /** Unmeasured operations, so that caches fill and code is compiled. */
  def warmup(): Unit
  /** Run operations, closed loop, until `seconds` have passed. With an
    * enabled tracer, record spans (serving also replays its requests
    * through the embedded API into `replay`). */
  def measure(seconds: Double, tr: Tracer, phase: Phase, replay: Phase): Unit
  /** True when an operation is a complete batch execution. */
  def batch: Boolean
  /** Workload-specific per-layer metrics of a traced run. */
  def layers(tr: Tracer, c: SparkCounters, untraced: Phase, traced: Phase,
      replay: Phase): Map[String, Double]
  def close(): Unit
}

/** A workload whose operation is one complete batch execution, run back
  * to back by a single client. */
abstract class BatchWorkload(spark: SparkSession) extends Workload {
  protected def execution(tr: Tracer, phase: Phase): Unit

  def batch: Boolean = true

  def warmup(): Unit = execution(new Tracer(false, spark.sparkContext), new Phase)

  def measure(seconds: Double, tr: Tracer, phase: Phase, replay: Phase): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    do execution(tr, phase) while (System.nanoTime() < end)
    phase.wallS = (System.nanoTime() - t0) / 1e9
  }
}

object Main {
  private val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "p95_ms" -> "ms",
    "ops_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sql.plan_ms" -> "ms", "sql.optimize_ms" -> "ms", "sql.execute_ms" -> "ms",
    "sql.deploy_ms" -> "ms", "sql.serve_ms" -> "ms",
    "sql.jobs_per_request" -> "count", "serving.http_overhead_ms" -> "ms",
    "catalog.put_ms" -> "ms", "catalog.plan_nodes" -> "count",
    "Dedup.exact_s" -> "s", "Dedup.exact.jobs" -> "count",
    "Dedup.jaccardComponents_s" -> "s", "Dedup.jaccardComponents.jobs" -> "count",
    "Dedup.decontaminate_s" -> "s", "Dedup.decontaminate.jobs" -> "count",
    "LangModel.perplexity_s" -> "s", "LangModel.perplexity.jobs" -> "count",
    "Sampling.temperatureMix_s" -> "s", "Sampling.temperatureMix.jobs" -> "count",
    "Packing.packTexts_s" -> "s", "Packing.packTexts.jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_ms" -> "ms", "spark.task_skew" -> "ratio",
    "spark.exchanges" -> "count",
    "e2e.batch_s" -> "s", "e2e.serve_p50_ms" -> "ms", "e2e.serve_p95_ms" -> "ms",
    "e2e.serve_p99_ms" -> "ms", "e2e.serve_rps" -> "1/s",
    "e2e.put_p50_ms" -> "ms", "e2e.put_p95_ms" -> "ms",
    "e2e.error_ratio" -> "ratio",
    "trace.overhead_ms" -> "ms", "trace.root_self_ms" -> "ms",
    "trace.spans" -> "count")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("scale"), need("cores").toInt, need("data"),
      need("work"), need("result"), need("trace-dir"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = GraftSession.builder(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.local.dir", s"${o.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    GraftSession.tune(spark)
    val code =
      try run(o, spark)
      finally spark.stop()
    sys.exit(code)
  }

  private val start = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2f s] $msg")

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def run(o: Opts, spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val off = new Tracer(false, sc)
    val w: Workload = o.workload match {
      case "offline_features" => new OfflineFeatures(o, spark)
      case "llm_pipeline"     => new LlmPipeline(o, spark)
      case "online_serve"     => new OnlineServing(o, spark, ingest = false, serialPuts = false)
      case "online_ingest"    => new OnlineServing(o, spark, ingest = true, serialPuts = true)
      case "online_ingest_concurrent" =>
        new OnlineServing(o, spark, ingest = true, serialPuts = false)
      case other              => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val untraced, traced, replay = new Phase
    val metrics =
      try {
        log("session ready")
        val setups = (1 to SetupReps).map(_ => timeS(w.setup(off)))
        log(s"set-up times ${setups.mkString(", ")} s")
        val setupS = Stats.median(setups)
        w.warmup()
        log("warm-up done")
        if (!o.trace) {
          w.measure(o.seconds, off, untraced, replay)
          endToEnd(setupS, untraced)
        } else {
          // first half untraced, second half traced, each from a fresh set-up:
          // their difference is the tracing overhead
          w.measure(o.seconds / 2.0, off, untraced, replay)
          w.setup(off)
          val counters = new SparkCounters
          sc.addSparkListener(counters)
          val tr = new Tracer(true, sc)
          w.measure(o.seconds / 2.0, tr, traced, replay)
          org.apache.spark.perfbench.Bus.drain(sc)
          sc.removeSparkListener(counters)
          tr.write(Paths.get(o.traceDir, s"${o.workload}-seed${o.seed}.json"))
          val all = Seq(untraced, traced, replay)
          val ops = math.max(1, traced.count + replay.count)
          def perOp(v: Double) = v / ops
          common(w.batch, untraced) ++ Map(
            "spark.jobs" -> perOp(counters.jobs.get.toDouble),
            "spark.stages" -> perOp(counters.stages.get.toDouble),
            "spark.tasks" -> perOp(counters.tasks.get.toDouble),
            "spark.shuffle_write_mb" -> perOp(counters.shuffleWriteBytes.get / 1048576.0),
            "spark.spill_mb" -> perOp(counters.spillBytes.get / 1048576.0),
            "spark.gc_ms" -> perOp(counters.gcMs.get.toDouble),
            "spark.task_skew" -> counters.taskSkew,
            "e2e.error_ratio" ->
              all.map(_.failed.get).sum.toDouble / math.max(1L, all.map(_.attempted.get).sum),
            "trace.overhead_ms" ->
              (Stats.median(traced.ms("op")) - Stats.median(untraced.ms("op"))),
            "trace.root_self_ms" -> tr.rootSelfMs,
            "trace.spans" -> tr.all.size.toDouble
          ) ++ w.layers(tr, counters, untraced, traced, replay)
        }
      } finally w.close()

    log("measured")
    val phases = Seq(untraced, traced, replay)
    val attempted = phases.map(_.attempted.get).sum
    val failed = phases.map(_.failed.get).sum
    phases.flatMap(_.failures).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val names = if (o.trace) PerLayer else EndToEnd
    val body = names.map { case (n, unit) =>
      s""""$n": {"value": ${Json.num(metrics.getOrElse(n, 0.0))}, "unit": "$unit"}"""
    }.mkString(", ")
    val correct = failed == 0 && attempted > 0
    val json = s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}"""
    Files.write(Paths.get(o.result), json.getBytes(StandardCharsets.UTF_8))
    if (correct) 0 else 1
  }

  /** Heap still in use after a full collection, in MB. Spark frees
    * broadcast and shuffle state asynchronously once a collection finds
    * it unreferenced, so collect a few times with pauses. */
  private def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def endToEnd(setupS: Double, p: Phase): Map[String, Double] = {
    val all = p.ms()
    Map(
      "setup_s" -> setupS,
      "p50_ms" -> Stats.median(all),
      "p95_ms" -> Stats.pct(all, 0.95),
      "ops_per_s" -> all.size / math.max(1e-9, p.wallS),
      "retained_heap_mb" -> retainedHeapMb())
  }

  /** The per-workload end-to-end figures from the untraced half of a
    * traced run, under their serving / batch names. */
  private def common(batch: Boolean, p: Phase): Map[String, Double] = {
    val ops = p.ms("op")
    val puts = p.ms("put")
    if (batch) Map("e2e.batch_s" -> Stats.median(ops) / 1000)
    else Map(
      "e2e.serve_p50_ms" -> Stats.median(ops),
      "e2e.serve_p95_ms" -> Stats.pct(ops, 0.95),
      "e2e.serve_p99_ms" -> Stats.pct(ops, 0.99),
      "e2e.serve_rps" -> ops.size / math.max(1e-9, p.wallS),
      "e2e.put_p50_ms" -> Stats.median(puts),
      "e2e.put_p95_ms" -> Stats.pct(puts, 0.95))
  }
}
