package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sql.{GraftSql, StreamDeploy}

/** The long-window serving path (DEPLOY OPTIONS(long_windows="w:1s")):
  * eligible window aggregates answer from state-held per-bucket
  * partials — the streaming form of the reference's pre-agg MV
  * (hybridse/src/passes/physical/long_window_optimized.h:29-50,
  * src/storage/aggregator.cc) — while everything else falls back to
  * the raw full-frame path. Every case here asserts equality against
  * the batch planner AND, where relevant, that the MV path actually
  * ran (LwMetrics). */
class LongWindowServeSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(n: Int = 800): DataFrame =
    (for (k <- Seq("k1", "k2"); i <- 0 until n) yield (
      k, i.toLong * 10 + (if (k == "k2") 3 else 0),
      (i % 23).toLong,
      if (i % 11 == 0) null else java.lang.Double.valueOf((i % 7) * 0.5),
      if (i % 3 == 0) "hot" else "cold"
    )).toDF("key", "ts", "qty", "amt", "tag")

  private def canon(d: DataFrame): Seq[Seq[String]] =
    d.collect().toSeq.map(_.toSeq.map {
      case null => "null"
      case d0: Double => f"$d0%.6f"
      case f: Float => f"$f%.4f"
      case x => String.valueOf(x)
    }).sortBy(_.mkString("|"))

  /** serve with the option ≡ serve without ≡ batch; assert MV usage. */
  private def check(sql: String, lw: Map[String, Long],
      events: DataFrame, expectMv: Boolean = true): Unit = {
    StreamDeploy.LwMetrics.reset()
    val batch = GraftSql.sql(spark, sql, Map("events" -> events))
    val servedLw = StreamDeploy.serve(spark, sql, events, longWindows = lw)
    val b = canon(batch); val s = canon(servedLw)
    assert(b == s, s"\nsql: $sql\nbatch: ${b.take(6).mkString("\n  ")}\n" +
      s"lw:    ${s.take(6).mkString("\n  ")}")
    if (expectMv)
      assert(StreamDeploy.LwMetrics.preAggRequests.sum > 0,
        "expected the pre-agg MV path to answer requests")
    else
      assert(StreamDeploy.LwMetrics.preAggRequests.sum == 0,
        "expected fallback to the raw path")
  }

  test("sum/count/avg/min/max over the MV, nulls skipped like batch") {
    check("""SELECT key, ts, sum(amt) OVER w AS s, count(amt) OVER w AS c,
      avg(amt) OVER w AS a, min(amt) OVER w AS mn, max(amt) OVER w AS mx
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)""",
      Map("w" -> 1000L), mkEvents())
  }

  test("integral sum accumulates in Long through the partials") {
    check("""SELECT key, ts, sum(qty) OVER w AS s, count(*) OVER w AS c
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)""",
      Map("w" -> 1000L), mkEvents())
  }

  test("*_where aggregates pre-aggregate via their CASE-guarded slot") {
    check("""SELECT key, ts, sum_where(qty, tag = 'hot') OVER w AS sw,
      count_where(amt, qty > 10) OVER w AS cw,
      max_where(qty, tag = 'cold') OVER w AS mw
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)""",
      Map("w" -> 1000L), mkEvents())
  }

  test("mixed SELECT: eligible fns use the MV, others fall back, same row") {
    StreamDeploy.LwMetrics.reset()
    val events = mkEvents()
    val sql = """SELECT key, ts, sum(qty) OVER w AS s,
      distinct_count(tag) OVER w AS dc, lag(qty, 2) OVER w AS lg
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)"""
    val batch = GraftSql.sql(spark, sql, Map("events" -> events))
    val served = StreamDeploy.serve(spark, sql, events,
      longWindows = Map("w" -> 1000L))
    assert(canon(batch) == canon(served))
    // sum went through the MV; distinct_count scanned raw frames
    assert(StreamDeploy.LwMetrics.preAggRequests.sum > 0)
    assert(StreamDeploy.LwMetrics.rawRowsScanned.sum > 0)
  }

  test("ineligible shapes fall back to raw serving (still correct)") {
    val events = mkEvents(200)
    // MAXSIZE
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW MAXSIZE 5)""",
      Map("w" -> 1000L), events, expectMv = false)
    // ROWS frame
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS BETWEEN 50 PRECEDING AND CURRENT ROW)""",
      Map("w" -> 1000L), events, expectMv = false)
    // frame narrower than the bucket
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)""",
      Map("w" -> 1000L), events, expectMv = false)
    // window not named in the option
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)""",
      Map("other" -> 1000L), events, expectMv = false)
  }

  test("true streaming run: MemoryStream micro-batches hit the MV path") {
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents(300)
    val sql = """SELECT key, ts, sum(qty) OVER w AS s, avg(amt) OVER w AS a
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)"""
    val batch = GraftSql.sql(spark, sql, Map("events" -> events))
    StreamDeploy.LwMetrics.reset()
    val mem = MemoryStream[(String, Long, Long, java.lang.Double, String)]
    val stream = mem.toDF().toDF("key", "ts", "qty", "amt", "tag")
    val out = StreamDeploy.serve(spark, sql, stream,
      longWindows = Map("w" -> 1000L))
      .writeStream.format("memory").queryName("lw_stream_out")
      .outputMode("append").start()
    val rows = events.collect().toSeq.map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.get(3).asInstanceOf[java.lang.Double], r.getString(4)))
    // feed in event-time order (the per-key in-order discipline the
    // reference's online index assumes), in several micro-batches
    rows.sortBy(t => (t._2, t._1)).grouped(100).foreach { g =>
      mem.addData(g); out.processAllAvailable()
    }
    val served = spark.table("lw_stream_out")
    assert(canon(batch) == canon(served))
    assert(StreamDeploy.LwMetrics.preAggRequests.sum > 0)
    out.stop()
  }

  test("count-limited TTLs force the raw path (partials never forget)") {
    import graft.operators.Ttl.{AbsoluteTime, LatestCount}
    val events = mkEvents(300)
    val sql = """SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)"""
    // LatestCount can evict mid-frame rows the partials would still
    // count: the option must fall back to raw serving, answers equal
    // to the raw path under the SAME TTL
    StreamDeploy.LwMetrics.reset()
    val lwServed = StreamDeploy.serve(spark, sql, events,
      ttl = Some(LatestCount(7)), longWindows = Map("w" -> 1000L))
    val rawServed = StreamDeploy.serve(spark, sql, events,
      ttl = Some(LatestCount(7)))
    assert(canon(lwServed) == canon(rawServed))
    assert(StreamDeploy.LwMetrics.preAggRequests.sum == 0,
      "count-limited TTL must not take the MV path")
    // an absolute TTL narrower than the frame also serves raw
    StreamDeploy.LwMetrics.reset()
    StreamDeploy.serve(spark, sql, events,
      ttl = Some(AbsoluteTime(1500L)), longWindows = Map("w" -> 1000L))
      .collect()
    assert(StreamDeploy.LwMetrics.preAggRequests.sum == 0)
    // a covering absolute TTL keeps the MV path
    StreamDeploy.LwMetrics.reset()
    val cov = StreamDeploy.serve(spark, sql, events,
      ttl = Some(AbsoluteTime(3000L)), longWindows = Map("w" -> 1000L))
    val covRaw = StreamDeploy.serve(spark, sql, events,
      ttl = Some(AbsoluteTime(3000L)))
    assert(canon(cov) == canon(covRaw))
    assert(StreamDeploy.LwMetrics.preAggRequests.sum > 0)
  }

  test("out-of-order feed: MV path agrees with the raw path") {
    // GENUINELY out-of-order: micro-batches arrive in shuffled chunks,
    // so later batches carry older timestamps (a single batch would be
    // re-sorted inside the stateful stage). Stream answers differ from
    // batch here (documented deviation), but the MV and raw paths must
    // agree with each other row-for-row.
    implicit val sqlCtx = spark.sqlContext
    val sql = """SELECT key, ts, sum(amt) OVER w AS s, count(amt) OVER w AS c,
      min(amt) OVER w AS mn FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)"""
    val rows = mkEvents(400).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.get(3).asInstanceOf[java.lang.Double], r.getString(4)))
    val chunks = rows.grouped(40).toSeq
    // deterministic shuffle of the chunk order
    val order = chunks.indices.sortBy(i => (i * 37) % chunks.length)
    def runStream(lw: Map[String, Long], name: String): Seq[Seq[String]] = {
      val mem = MemoryStream[(String, Long, Long, java.lang.Double, String)]
      val stream = mem.toDF().toDF("key", "ts", "qty", "amt", "tag")
      val q = StreamDeploy.serve(spark, sql, stream, longWindows = lw)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      order.foreach { i => mem.addData(chunks(i)); q.processAllAvailable() }
      val out = canon(spark.table(name))
      q.stop(); out
    }
    StreamDeploy.LwMetrics.reset()
    val lw = runStream(Map("w" -> 1000L), "lw_ooo_mv")
    val raw = runStream(Map.empty, "lw_ooo_raw")
    assert(lw == raw, "MV and raw paths diverged on out-of-order input")
    assert(StreamDeploy.LwMetrics.preAggRequests.sum > 0)
  }

  test("DEPLOY rejects long_windows with JOIN; bad bucket fails at DEPLOY") {
    val events = mkEvents(50)
    events.createOrReplaceTempView("lw_ev")
    Seq(("d1", "dim1")).toDF("key", "name").createOrReplaceTempView("lw_dim")
    GraftSql.resetDeployments(spark)
    val joinSql = """DEPLOY lwj OPTIONS(long_windows="w:1d")
      SELECT lw_ev.key, sum(qty) OVER w AS s FROM lw_ev
      LAST JOIN lw_dim ON lw_ev.key = lw_dim.key
      WINDOW w AS (PARTITION BY lw_ev.key ORDER BY ts
        ROWS_RANGE BETWEEN 1d PRECEDING AND CURRENT ROW)"""
    val e1 = intercept[IllegalArgumentException](
      GraftSql.statement(spark, joinSql))
    assert(e1.getMessage.contains("JOIN"))
    val e2 = intercept[IllegalArgumentException](
      GraftSql.statement(spark, """DEPLOY lwb OPTIONS(long_windows="w:1x")
        SELECT key, sum(qty) OVER w AS s FROM lw_ev
        WINDOW w AS (PARTITION BY key ORDER BY ts
          ROWS_RANGE BETWEEN 1d PRECEDING AND CURRENT ROW)"""))
    assert(e2.getMessage.contains("bucket"))
    GraftSql.resetDeployments(spark)
  }

  test("parseLongWindows: intervals, defaults, row-count buckets") {
    assert(GraftSql.parseLongWindows("w1:1d") == Map("w1" -> 86400000L))
    assert(GraftSql.parseLongWindows("w1:30m,w2:2h") ==
      Map("w1" -> 1800000L, "w2" -> 7200000L))
    assert(GraftSql.parseLongWindows("w1:") == Map("w1" -> 86400000L))
    assert(GraftSql.parseLongWindows("w1") == Map("w1" -> 86400000L))
    // a row-count bucket is the reference's kRowsNum pre-agg
    // (aggregator.cc:1249-1251), encoded as a negative size
    assert(GraftSql.parseLongWindows("w1:100") == Map("w1" -> -100L))
    intercept[IllegalArgumentException](GraftSql.parseLongWindows("w1:5y"))
    intercept[IllegalArgumentException](GraftSql.parseLongWindows("w1:0"))
  }

  test("row-count buckets: ROWS frames answer from ordinal partials") {
    // all five pre-aggregable fns over a 120-row frame, 25-row buckets
    check("""SELECT key, ts, sum(amt) OVER w AS s, count(amt) OVER w AS c,
      avg(amt) OVER w AS a, min(amt) OVER w AS mn, max(amt) OVER w AS mx,
      sum(qty) OVER w AS sq
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS BETWEEN 119 PRECEDING AND CURRENT ROW)""",
      Map("w" -> -25L), mkEvents())
  }

  test("row-count buckets: ineligible shapes fall back to raw") {
    val events = mkEvents(200)
    // RANGE frame with a rows bucket: mismatched frame type
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS_RANGE BETWEEN 3000 PRECEDING AND CURRENT ROW)""",
      Map("w" -> -25L), events, expectMv = false)
    // frame narrower than one bucket
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
      Map("w" -> -25L), events, expectMv = false)
    // EXCLUDE CURRENT_ROW changes frame membership per request
    check("""SELECT key, ts, sum(qty) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS BETWEEN 50 PRECEDING AND CURRENT ROW EXCLUDE CURRENT_ROW)""",
      Map("w" -> -25L), events, expectMv = false)
  }

  test("row-count buckets: out-of-order feed falls back, stays correct") {
    // chunk-shuffled micro-batches: once a key sees an out-of-order
    // arrival, its ordinal buckets no longer align with frame order —
    // the key must permanently serve raw (and agree with the raw path)
    implicit val sqlCtx = spark.sqlContext
    val sql = """SELECT key, ts, sum(qty) OVER w AS s, count(amt) OVER w AS c
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS BETWEEN 79 PRECEDING AND CURRENT ROW)"""
    val rows = mkEvents(400).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.get(3).asInstanceOf[java.lang.Double], r.getString(4)))
    val chunks = rows.grouped(40).toSeq
    val order = chunks.indices.sortBy(i => (i * 37) % chunks.length)
    def runStream(lw: Map[String, Long], name: String): Seq[Seq[String]] = {
      val mem = MemoryStream[(String, Long, Long, java.lang.Double, String)]
      val stream = mem.toDF().toDF("key", "ts", "qty", "amt", "tag")
      val q = StreamDeploy.serve(spark, sql, stream, longWindows = lw)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      order.foreach { i => mem.addData(chunks(i)); q.processAllAvailable() }
      val out = canon(spark.table(name))
      q.stop(); out
    }
    val lw = runStream(Map("w" -> -25L), "lwrows_ooo_mv")
    val raw = runStream(Map.empty, "lwrows_ooo_raw")
    assert(lw == raw,
      "row-bucket MV and raw paths diverged on out-of-order input")
  }

  test("row-count buckets scan far fewer raw rows than the frame") {
    StreamDeploy.LwMetrics.reset()
    val events = mkEvents(600)
    val sql = """SELECT key, ts, sum(qty) OVER w AS s
      FROM events WINDOW w AS (PARTITION BY key ORDER BY ts
        ROWS BETWEEN 499 PRECEDING AND CURRENT ROW)"""
    val batch = GraftSql.sql(spark, sql, Map("events" -> events))
    val served = StreamDeploy.serve(spark, sql, events,
      longWindows = Map("w" -> -50L))
    assert(canon(batch) == canon(served))
    val reqs = StreamDeploy.LwMetrics.preAggRequests.sum
    val scanned = StreamDeploy.LwMetrics.preAggRowsScanned.sum
    assert(reqs == 1200L) // 2 keys x 600 requests
    // raw serving would scan ~frame rows per request (up to 500);
    // bucketed serving scans only the two cut edges (< 2 buckets)
    assert(scanned < reqs * 100,
      s"expected <100 raw rows/request via partials, got ${scanned / reqs}")
  }
}
