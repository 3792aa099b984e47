package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCatalog
import graft.serving.ApiServer
import graft.sql.GraftSql

/** online_serve and online_ingest: the feature query of
  * offline_features (without UNION) DEPLOYed over the cached events
  * history and served over HTTP to `cores` closed-loop clients. Each
  * client sends seeded real-key request rows, stamped after the newest
  * history row. With `ingest`, after every 4th request a client PUTs one
  * new event for the key it just requested, and its next request, for
  * the same key, must count exactly one more row in cnt_w0. Keys are
  * split between clients so that no other client writes them.
  *
  * With `serialPuts` no two PUTs overlap: a client holds a lock for its
  * PUT (the wait counts in the PUT's latency); reads still run beside
  * writes. Concurrent PUTs to one table lose rows today (each insert
  * re-registers the table's view from the one it read), so
  * online_ingest serializes them and online_ingest_concurrent, which
  * does not, reproduces the loss. */
final class OnlineServing(o: Opts, spark: SparkSession, ingest: Boolean,
    serialPuts: Boolean) extends Workload {
  import FeatureSql._

  private val Deployment = "pb_dep"
  private val History = "pb_hist"
  private val PoolSize = 2048
  private val M = new ObjectMapper()

  private val clients = o.cores
  private var cached: Seq[DataFrame] = Nil
  private var server: ApiServer.Handle = _
  private var http: HttpClient = _
  private var url: URI = _
  private var putUrl: URI = _
  private var body: String = _
  private var reqSchema: org.apache.spark.sql.types.StructType = _
  private var pool: IndexedSeq[Row] = IndexedSeq.empty
  private var maxTs = 0L
  private var maxEventId = 0L
  private val puts = new AtomicLong
  private val acked = new AtomicLong
  private var nBase = 0L
  private val requestIds = new AtomicLong
  private val putLock = new Object
  private val deployMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  def batch: Boolean = false

  /** Requests are stamped this long after the newest history row; PUT
    * rows fall between the two, inside both 30-day windows. */
  private val RequestLagMs = 1000000L

  def setup(tr: Tracer): Unit = {
    close()
    puts.set(0)
    acked.set(0)
    cached = loadTables(spark, o.data, History)
    val ev = cached.head
    nBase = ev.count()
    val mx = ev.agg(max(col("ts_ms")), max(col("event_id"))).head
    maxTs = mx.getLong(0)
    maxEventId = mx.getLong(1)
    val t0 = System.nanoTime()
    tr.span("sql.deploy") {
      GraftSql.statement(spark,
        s"DEPLOY $Deployment OPTIONS(overwrite=true)\n" + query(History, None))
    }
    deployMs += (System.nanoTime() - t0) / 1e6
    body = GraftSql.callableBody(spark, Deployment).get
    reqSchema = spark.table(History).schema
    // request rows: real history rows chosen by the seed, stamped "now"
    val rows = ev.select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect()
    val rnd = new scala.util.Random(o.seed)
    pool = rnd.shuffle(rows.toIndexedSeq).take(PoolSize).map(r =>
      Row(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), maxTs + RequestLagMs))
    server = ApiServer.start(spark, threads = clients)
    http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    url = URI.create(s"http://127.0.0.1:${server.port}/dbs/default/deployments/$Deployment")
    putUrl = URI.create(s"http://127.0.0.1:${server.port}/dbs/default/tables/$History")
  }

  /** The request rows of one client, in its seeded order. With ingest,
    * a client only gets keys no other client gets. */
  private def clientRows(c: Int): IndexedSeq[Row] = {
    val mine =
      if (ingest) pool.filter(r => Math.floorMod(r.getLong(1), clients.toLong) == c)
      else pool
    new scala.util.Random(o.seed * 7919 + c).shuffle(mine)
  }

  private def json(v: Any): String = v match {
    case s: String => M.writeValueAsString(s)
    case other     => other.toString
  }

  /** POST one request; returns (ok, cnt_w0, why). */
  private def httpServe(r: Row): (Boolean, Long, String) = {
    val payload = s"""{"input": [[${r.toSeq.map(json).mkString(", ")}]]}"""
    val resp = http.send(HttpRequest.newBuilder(url)
      .POST(HttpRequest.BodyPublishers.ofString(payload, StandardCharsets.UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
    val doc = M.readTree(resp.body())
    val rows = doc.path("data").path("data")
    if (doc.path("code").asInt(-1) != 0 || !rows.isArray || rows.size != 1)
      (false, -1L, s"request ${r.getLong(0)}: ${resp.body().take(200)}")
    else (true, rows.get(0).get(CntW0).asLong(), "")
  }

  private def embeddedServe(r: Row): (Boolean, Long, String) = {
    val req = spark.createDataFrame(java.util.Arrays.asList(r), reqSchema)
    val out = GraftSql.serveRequest(spark, body, req).collect()
    if (out.length != 1) (false, -1L, s"request ${r.getLong(0)}: ${out.length} rows")
    else (true, out(0).getLong(CntW0), "")
  }

  private def httpPut(r: Row): (Boolean, String) = {
    val payload = s"""{"value": [[${r.toSeq.map(json).mkString(", ")}]]}"""
    val resp = http.send(HttpRequest.newBuilder(putUrl)
      .PUT(HttpRequest.BodyPublishers.ofString(payload, StandardCharsets.UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
    val ok = M.readTree(resp.body()).path("code").asInt(-1) == 0
    (ok, if (ok) "" else s"PUT ${r.getLong(0)}: ${resp.body().take(200)}")
  }

  private def embeddedPut(r: Row): (Boolean, String) = {
    GraftCatalog.insertValues(spark, History, Seq(r))
    (true, "")
  }

  /** A new event for the key of `req`: fresh id, a seeded type and
    * value, stamped between the history and the requests. */
  private def newEvent(req: Row, rnd: scala.util.Random): Row = {
    val n = puts.incrementAndGet()
    Row(maxEventId + n, req.getLong(1), pool(rnd.nextInt(pool.size)).getString(2),
      math.round(rnd.nextDouble() * 100000) / 100.0, maxTs + n)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** `clients` closed-loop clients until the deadline; `put` is None
    * for reads only. */
  private def drive(seconds: Double, phase: Phase, tr: Tracer, root: String,
      serve: Row => (Boolean, Long, String), put: Option[Row => (Boolean, String)]): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rows = clientRows(c)
        val rnd = new scala.util.Random(o.seed * 31 + c)
        var i = 0
        var reads = 0
        var again: Row = null // after a PUT: the same key once more
        var expect = -1L      // and the cnt_w0 it must then return
        while (System.nanoTime() < end && rows.nonEmpty) {
          val r = if (again != null) again else { i += 1; rows((i - 1) % rows.size) }
          val rid = requestIds.incrementAndGet()
          val ((ok, cnt, why), ms) = timed(tr.span(s"$root.request", rid)(serve(r)))
          phase.record("op", ms, ok && (again == null || cnt == expect),
            if (!ok) why else s"read-your-writes: key ${r.getLong(1)} counted $cnt, expected $expect")
          again = null
          reads += 1
          if (put.isDefined && ok && reads % 4 == 0 && System.nanoTime() < end) {
            val ev = newEvent(r, rnd)
            val ((pok, pwhy), pms) = timed(tr.span(s"$root.put", rid) {
              if (serialPuts) putLock.synchronized(put.get(ev)) else put.get(ev)
            })
            phase.record("put", pms, pok, pwhy)
            if (pok) { acked.incrementAndGet(); again = r; expect = cnt + 1 }
          }
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    phase.wallS = (System.nanoTime() - t0) / 1e9
    if (put.isDefined) {
      // every acknowledged PUT must be in the table
      val n = spark.table(History).count()
      if (n != nBase + acked.get)
        phase.fail(s"table holds $n rows after ${acked.get} acknowledged PUTs on $nBase")
    }
  }

  def warmup(): Unit = {
    // reads only: the measured phase starts from the freshly loaded table
    val scratch = new Phase
    val off = new Tracer(false, spark.sparkContext)
    (0 until 2).foreach(_ => drive(1.0, scratch, off, "warmup", httpServe, None))
    drive(1.0, scratch, off, "warmup", embeddedServe, None)
  }

  def measure(seconds: Double, tr: Tracer, phase: Phase, replay: Phase): Unit =
    if (!tr.enabled) drive(seconds, phase, tr, "http", httpServe, writes(httpPut))
    else {
      // half over HTTP, half through the embedded API on the same clients
      drive(seconds / 2, phase, tr, "http", httpServe, writes(httpPut))
      drive(seconds / 2, replay, tr, "replay",
        r => tr.span("sql.serve")(embeddedServe(r)),
        writes(r => tr.span("catalog.put")(embeddedPut(r))))
    }

  private def writes(put: Row => (Boolean, String)) = if (ingest) Some(put) else None

  def layers(tr: Tracer, c: SparkCounters, untraced: Phase, traced: Phase,
      replay: Phase): Map[String, Double] = {
    val serve = tr.named("sql.serve").map(_.ms)
    val planNodes = {
      var n = 0
      spark.table(History).queryExecution.analyzed.foreach(_ => n += 1)
      n.toDouble
    }
    Map(
      "sql.deploy_ms" -> Stats.median(deployMs.toSeq),
      "sql.serve_ms" -> Stats.median(serve),
      "sql.jobs_per_request" -> c.jobsOf("sql.serve").toDouble / math.max(1, serve.size),
      "serving.http_overhead_ms" -> (Stats.median(untraced.ms("op")) - Stats.median(serve)),
      "catalog.put_ms" -> Stats.median(tr.named("catalog.put").map(_.ms)),
      "catalog.plan_nodes" -> planNodes)
  }

  def close(): Unit = {
    if (server != null) server.stop()
    server = null
    cached.foreach(_.unpersist(true))
    cached = Nil
  }
}
