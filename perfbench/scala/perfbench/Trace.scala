package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** One timed call into a layer. `request` groups the spans of one
  * operation (an execution or a served request); `parent` is 0 for a
  * root span. */
final case class Span(name: String, id: Long, parent: Long, request: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body. Spans
  * stay in memory until [[write]]; a span also tags the Spark jobs its
  * thread starts (local property [[Tracer.SpanKey]]) so that the
  * listener can count jobs per layer. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]

  def span[A](name: String, request: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val id = ids.incrementAndGet()
      val req = if (request >= 0) request else if (parent != null) parent.request else id
      val open = Span(name, id, if (parent == null) 0L else parent.id, req, System.nanoTime(), 0L)
      val prevTag = sc.getLocalProperty(Tracer.SpanKey)
      current.set(open)
      sc.setLocalProperty(Tracer.SpanKey, name)
      try body
      finally {
        spans.add(open.copy(endNs = System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, prevTag)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the time covered by direct children (children of
    * one span run on its thread, one after another). */
  def selfMs(s: Span, children: Map[Long, Seq[Span]]): Double =
    math.max(0.0, s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum)

  def selfTimes: Map[String, Double] = {
    val sp = all
    val children = sp.groupBy(_.parent)
    sp.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(selfMs(_, children)).sum }
  }

  /** Median self time of the root spans: benchmark glue not covered by
    * any layer span. */
  def rootSelfMs: Double = {
    val sp = all
    val children = sp.groupBy(_.parent)
    Stats.median(sp.filter(_.parent == 0L).map(selfMs(_, children)))
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"name":"${s.name}","id":${s.id},"parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("],\"self_ms\":{")
    sb.append(selfTimes.toSeq.sortBy(_._1).map { case (n, v) =>
      s""""$n":${Json.num(v)}""" }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark execution counters for the traced phase, plus jobs per span
  * name (from the span tag the job's thread carried). */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  private val jobsBySpan = mutable.Map.empty[String, Long]
  private val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    tag.foreach(t => synchronized { jobsBySpan(t) = jobsBySpan.getOrElse(t, 0L) + 1 })
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
    if (e.taskInfo != null) synchronized {
      taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def jobsOf(span: String): Long = synchronized { jobsBySpan.getOrElse(span, 0L) }

  /** Max over median task time of the stage with the most task time. */
  def taskSkew: Double = synchronized {
    if (taskMsByStage.isEmpty) 0.0
    else {
      val longest = taskMsByStage.values.maxBy(_.sum)
      val med = Stats.median(longest.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else longest.max / med
    }
  }
}

object Plans {
  /** Exchanges in the plan as it finally ran: under adaptive execution
    * the exchanges sit inside query stages of the final plan, which a
    * plain `executedPlan.collect` does not descend into. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: Exchange => 1
      case _           => 0
    }
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => p.children ++ p.subqueries
    }
    own + next.map(exchanges).sum
  }
}

object Stats {
  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
}
