package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sql.{GraftSql, StreamDeploy}
import graft.operators.Ttl
import graft.operators.Ttl.{AbsAndLat, AbsoluteTime, AbsOrLat, LatestCount}

case class Ev(user: String, ts: Long, amt: Double, qty: Long, tag: String)

/** Train/serve consistency for the generic streaming deploy: the SAME
  * deployed SELECT, run (a) through the batch window planner over the
  * full event log and (b) through StreamDeploy.serve over the events
  * as a stream, must produce identical rows — the reference's
  * one-plan-two-backends guarantee (README.md:58), held here as
  * one-semantics-two-run-modes. */
class StreamDeploySpec extends SparkSpec {
  import spark.implicits._

  private val evs = Seq(
    Ev("u1", 10L, 1.0, 1L, "a"), Ev("u1", 20L, 2.5, 2L, "b"),
    Ev("u1", 20L, 3.0, 3L, "a"), Ev("u1", 35L, 4.0, 4L, "c"),
    Ev("u1", 50L, 5.5, 5L, "a"), Ev("u2", 15L, 10.0, 6L, "x"),
    Ev("u2", 40L, 20.0, 7L, "y"), Ev("u3", 5L, 7.0, 8L, "z"))

  // NaN != NaN under ==: compare it by name
  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double if d.isNaN => "NaN"
      case x                    => x
    }).sortBy(_.mkString("|"))

  /** serve() on the batch DataFrame (flatMapGroupsWithState executes
    * identically in batch mode) vs the plain batch window planner. */
  private def check(sql: String, events: DataFrame = evs.toDF()): Unit = {
    val batch = GraftSql.sql(spark, sql, Map("events" -> events))
    val streamed = StreamDeploy.serve(spark, sql, events)
    // nullability is advisory in Spark; compare names + types
    assert(streamed.schema.map(f => (f.name, f.dataType)) ==
      batch.schema.map(f => (f.name, f.dataType)),
      s"schema: ${streamed.schema} vs ${batch.schema}")
    assert(sorted(streamed) == sorted(batch),
      s"\nsql: $sql\nstream: ${sorted(streamed).mkString("\n        ")}" +
        s"\nbatch:  ${sorted(batch).mkString("\n        ")}")
  }

  test("multi-column aggregates over a ROWS_RANGE frame") {
    check("""SELECT user, ts, sum(amt) OVER w AS s, avg(qty) OVER w AS a,
      min(amt) OVER w AS mn, max(qty) OVER w AS mx, count(*) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 25 PRECEDING AND CURRENT ROW)""")
  }

  test("nav functions online: lag, first_value, last_value") {
    check("""SELECT user, ts, lag(tag, 1) OVER w AS prev_tag,
      at(amt, 2) OVER w AS amt2,
      first_value(amt) OVER w AS fv, last_value(qty) OVER w AS lv
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""")
  }

  test("conditional aggregates online: *_where") {
    check("""SELECT user, ts, count_where(qty, amt > 2.0) OVER w AS cw,
      sum_where(amt, tag = 'a') OVER w AS sw
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""")
  }

  test("window attributes online: MAXSIZE + EXCLUDE CURRENT_TIME / ROW") {
    check("""SELECT user, ts, sum(amt) OVER w1 AS s1, count(qty) OVER w2 AS c2,
      sum(qty) OVER w3 AS s3
      FROM events
      WINDOW w1 AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW MAXSIZE 2),
      w2 AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW EXCLUDE CURRENT_TIME),
      w3 AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW EXCLUDE CURRENT_ROW)""")
  }

  test("ROWS frames and scalar outer expressions") {
    check("""SELECT user, ts, round(sum(amt) OVER w, 2) AS s2,
      distinct_count(tag) OVER w AS dc, qty * 10 AS q10
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""")
  }

  // One value ordering per type (Catalyst's): longs compare exactly past
  // 2^53 and NaN sorts above every double, online as in batch.
  private val big = Seq(Ev("u1", 1L, 1.0, (1L << 53) + 1, "a"),
    Ev("u1", 2L, Double.NaN, 1L << 53, "b"))
  private val minMaxSql = """SELECT user, ts, max(qty) OVER w AS mxq,
    min(qty) OVER w AS mnq, min(amt) OVER w AS mna, max(amt) OVER w AS mxa
    FROM events
    WINDOW w AS (PARTITION BY user ORDER BY ts
      ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)"""
  private def assertMinMax(r: Row): Unit = {
    assert(r.getAs[Long]("mxq") == (1L << 53) + 1, s"max(qty): $r")
    assert(r.getAs[Long]("mnq") == (1L << 53), s"min(qty): $r")
    assert(r.getAs[Double]("mna") == 1.0, s"min(amt): $r")
    assert(r.getAs[Double]("mxa").isNaN, s"max(amt): $r")
  }

  test("min/max: BIGINT past 2^53 and NaN order like the batch planner") {
    check(minMaxSql, big.toDF())
    val served = StreamDeploy.serve(spark, minMaxSql, big.toDF())
    assertMinMax(served.filter(col("ts") === 2L).head())
  }

  test("min/max through long-window partials: BIGINT past 2^53 and NaN") {
    // bucket 10: the first value sits in a full-bucket partial of the
    // second row's frame [11, 51], the second is its raw edge; the row
    // at ts 0 is outside that frame but, under the explicit TTL, still
    // buffered, so the partial is not cut to raw
    val evs2 = (Ev("u1", 0L, 5.0, 5L, "f") +:
      Seq(big(0).copy(ts = 25L), big(1).copy(ts = 51L))).toDF()
    val sql = minMaxSql.replace("100 PRECEDING", "40 PRECEDING")
    StreamDeploy.LwMetrics.reset()
    val served = StreamDeploy.serve(spark, sql, evs2,
      ttl = Some(AbsoluteTime(1000L)), longWindows = Map("w" -> 10L))
    assert(sorted(served) == sorted(GraftSql.sql(spark, sql,
      Map("events" -> evs2))))
    assertMinMax(served.filter(col("ts") === 51L).head())
    assert(StreamDeploy.LwMetrics.preAggRequests.sum > 0)
  }

  test("integral sum keeps its type (wraparound cast)") {
    check("""SELECT user, ts, sum(qty) OVER w AS sq
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""")
  }

  test("LAST JOIN to a dimension table before the stateful stage") {
    val dims = Seq(("u1", "gold", 1L), ("u2", "silver", 2L),
      ("u1", "plat", 3L)).toDF("duser", "tier", "ver")
    dims.createOrReplaceTempView("dims")
    check("""SELECT user, ts, tier, sum(amt) OVER w AS s
      FROM events
      LAST JOIN dims ORDER BY ver ON user = duser
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 25 PRECEDING AND CURRENT ROW)""")
  }

  test("true streaming run (MemoryStream) carries state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val sql = """SELECT user, ts, sum(amt) OVER w AS s, lag(tag, 1) OVER w AS p
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 25 PRECEDING AND CURRENT ROW)"""
    val mem = MemoryStream[Ev]
    val q = StreamDeploy.serve(spark, sql, mem.toDF())
      .writeStream.format("memory").queryName("sd_out")
      .outputMode("append").start()
    // per-key in-order feed, split mid-key so state must carry over
    mem.addData(evs.take(4): _*)
    q.processAllAvailable()
    mem.addData(evs.drop(4): _*)
    q.processAllAvailable()
    val streamed = sorted(spark.table("sd_out"))
    q.stop()
    val batch = sorted(GraftSql.sql(spark, sql, Map("events" -> evs.toDF())))
    assert(streamed == batch)
  }

  test("out-of-order arrival answers each row at insertion time " +
      "(reference request_expect)") {
    // integration_test/ut_case/test_unique_expect.yaml id 0: rows
    // inserted OUT of ts order; the online answer for each row uses
    // only the rows inserted so far (ts-ordered buffer), so it differs
    // from batch — the reference pins both via unequalExpect. Feeding
    // one row per micro-batch reproduces request_expect exactly.
    implicit val sqlCtx = spark.sqlContext
    val sql = """SELECT qty, user, sum(amt) OVER w1 AS s FROM events
      WINDOW w1 AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 6 PRECEDING AND CURRENT ROW MAXSIZE 3)"""
    // (user=c1, ts=c7 low bits, amt=c4, qty=id)
    val ins = Seq(
      Ev("aa", 1590738990003L, 33.0, 4L, "-"),
      Ev("aa", 1590738990002L, 32.0, 3L, "-"),
      Ev("aa", 1590738990000L, 30.0, 1L, "-"),
      Ev("aa", 1590738990001L, 31.0, 2L, "-"),
      Ev("aa", 1590738990004L, 34.0, 5L, "-"))
    val mem = MemoryStream[Ev]
    val q = StreamDeploy.serve(spark, sql, mem.toDF())
      .writeStream.format("memory").queryName("sd_ooo")
      .outputMode("append").start()
    ins.foreach { e => mem.addData(e); q.processAllAvailable() }
    val got = spark.table("sd_ooo").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq.sortBy(_._1)
    q.stop()
    // request_expect: 1->30, 2->61, 3->32 (only itself inserted in
    // range), 4->33 (first insert), 5->99 (MAXSIZE 3: ids 5,4,3)
    assert(got == Seq(1L -> 30.0, 2L -> 61.0, 3L -> 32.0,
      4L -> 33.0, 5L -> 99.0))
  }

  test("UNBOUNDED PRECEDING ROWS frame retains full history (derived TTL)") {
    // deriveTtl must not cap retention at 1 row when a ROWS frame has
    // no finite depth — a running aggregate needs the whole history
    check("""SELECT user, ts, count(*) OVER w AS c,
      round(sum(amt) OVER w, 2) AS s, min(qty) OVER w AS mn
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
  }

  test("same-ts ties order by pre-shuffle ingestion uid, not fetch order") {
    val ties = Seq(
      Ev("u1", 10L, 1.0, 1L, "t1"), Ev("u1", 10L, 2.0, 2L, "t2"),
      Ev("u1", 10L, 3.0, 3L, "t3"), Ev("u1", 10L, 4.0, 4L, "t4"),
      Ev("u1", 20L, 5.0, 5L, "t5"))
    check("""SELECT user, ts, lag(tag, 1) OVER w AS prev,
      first_value(amt) OVER w AS fv, count(*) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""",
      ties.toDF())
  }

  test("integral sums accumulate exactly in Long past 2^53") {
    val big = Seq(
      Ev("u1", 1L, 0.0, 1L << 53, "a"), Ev("u1", 2L, 0.0, 3L, "b"),
      Ev("u1", 3L, 0.0, 5L, "c"))
    // a Double accumulator would round (2^53 + 3) to 2^53 + 4
    check("""SELECT user, ts, sum(qty) OVER w AS sq FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""",
      big.toDF())
  }

  test("out-of-order event beyond the TTL span still sees itself") {
    implicit val sqlCtx = spark.sqlContext
    val sql = """SELECT user, ts, count(*) OVER w AS c FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)"""
    val mem = MemoryStream[Ev]
    val q = StreamDeploy.serve(spark, sql, mem.toDF())
      .writeStream.format("memory").queryName("sd_ooo")
      .outputMode("append").start()
    mem.addData(Ev("u1", 100L, 1.0, 1L, "a"))
    q.processAllAvailable()
    // arrives late, older than the newest buffered ts minus the TTL
    // span: its own request's basis must still include it
    mem.addData(Ev("u1", 5L, 2.0, 2L, "b"))
    q.processAllAvailable()
    val c = spark.table("sd_ooo").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    q.stop()
    assert(c(5L) == 1L, s"late event saw an empty frame: $c")
    assert(c(100L) == 1L)
  }

  test("derived TTL keeps frames exact; explicit TTL bounds state") {
    // LatestCount(2) deliberately starves a 3-row frame: counts collapse
    val out = StreamDeploy.serve(spark,
      """SELECT user, ts, count(*) OVER w AS c FROM events
        WINDOW w AS (PARTITION BY user ORDER BY ts
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
      evs.toDF(), ttl = Some(LatestCount(2)))
    val c = out.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(c(("u1", 35L)) == 2L) // buffer held only the 2 newest (incl. self)
    assert(c(("u1", 50L)) == 2L)
  }

  /** count(amt) over a 1000 ms frame, served under `ttl`, by (user, ts):
    * u1 arrives at 10, 20, 30 and 200, u2 at 15. */
  private def countsUnder(ttl: Ttl): Map[(String, Long), Long] =
    StreamDeploy.serve(spark,
      """SELECT user, ts, count(amt) OVER w AS c FROM events
        WINDOW w AS (PARTITION BY user ORDER BY ts
          ROWS_RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""",
      Seq(Ev("u1", 10L, 1.0, 1L, "a"), Ev("u1", 20L, 2.0, 2L, "a"),
        Ev("u1", 30L, 3.0, 3L, "a"), Ev("u1", 200L, 4.0, 4L, "a"),
        Ev("u2", 15L, 10.0, 5L, "a")).toDF(),
      ttl = Some(ttl))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("TTL abs-or-lat evicts a row past either limit") {
    assert(countsUnder(AbsOrLat(15L, 10))(("u1", 30L)) == 2L) // ts 10 too old
    assert(countsUnder(AbsOrLat(1000L, 2))(("u1", 200L)) == 2L) // 2 newest
  }

  test("TTL abs-and-lat keeps a row inside either limit") {
    // ts 10 is past the 15 ms span but among the 10 newest
    assert(countsUnder(AbsAndLat(15L, 10))(("u1", 30L)) == 3L)
    // every row is inside the 1000 ms span, though past the 2 newest
    assert(countsUnder(AbsAndLat(1000L, 2))(("u1", 200L)) == 4L)
    // ts 10 and 20 are past both limits
    assert(countsUnder(AbsAndLat(15L, 2))(("u1", 200L)) == 2L)
  }

  test("a 0 TTL component is no bound: the whole history is kept") {
    for (ttl <- Seq(AbsoluteTime(0L), LatestCount(0), AbsAndLat(0L, 1),
        AbsOrLat(0L, 0))) {
      val c = countsUnder(ttl)
      assert(c(("u1", 200L)) == 4L, ttl)
      assert(c(("u2", 15L)) == 1L, ttl)
    }
  }

  test("non-streamable constructs are rejected at deploy time") {
    val ev = evs.toDF()
    def rejects(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        StreamDeploy.serve(spark, sql, ev) }
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    rejects("""SELECT user, ts, top1_ratio(amt) OVER w AS m FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)""", "top1_ratio")
    rejects("""SELECT user, sum(amt) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts DESC
        ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)""", "DESC")
    // a deployment spanning several window signatures runs one
    // stateful stage per signature joined on a row uid — legal in
    // batch request mode; over a TRUE stream it still rejects (the
    // stream-stream self-join would need watermarks the deploy
    // surface does not define)
    val multi = """SELECT user, sum(amt) OVER w1 AS a, count(amt) OVER w2 AS b
      FROM events
      WINDOW w1 AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW),
      w2 AS (PARTITION BY tag ORDER BY ts
        ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)"""
    assert(StreamDeploy.serve(spark, multi, ev).count() == ev.count())
    locally {
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Ev]
      val e = intercept[IllegalArgumentException] {
        StreamDeploy.serve(spark, multi, mem.toDF()) }
      assert(e.getMessage.contains("signatures over a stream"),
        e.getMessage)
    }
  }

  test("idle keys under a pure-time TTL are expelled from state (opt-in)") {
    // The reference's memtable absolute-TTL gc sweeps fully-expired
    // keys by wall clock (mem_table.cc SchedGc); with
    // idle_state_gc opted in, a key wall-idle past span+slack drops
    // its Buf via ProcessingTimeTimeout. A later arrival for that key
    // then starts from EMPTY history even if its event ts would have
    // kept old rows — exactly the trade the reference's
    // real-time-feed gc makes. Opt-in requires a processing-time
    // trigger (continuous triggers would busy-loop no-data batches).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val sql = """SELECT user, ts, sum(amt) OVER w AS s FROM events
      WINDOW w AS (PARTITION BY user ORDER BY ts
        ROWS_RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)"""
    // NOTE: with processing-time timeouts the engine always considers
    // another batch warranted, so noNewData never latches and
    // processAllAvailable would never return — poll the sink instead.
    def waitRows(name: String, ms: Long = 30000L)(
        cond: Set[(String, Long, Double)] => Boolean)
        : Set[(String, Long, Double)] = {
      val deadline = System.currentTimeMillis() + ms
      var rows = Set.empty[(String, Long, Double)]
      while (System.currentTimeMillis() < deadline && !cond(rows)) {
        Thread.sleep(200L)
        rows = spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      }
      assert(cond(rows), s"timed out waiting on $name, got $rows")
      rows
    }
    val mem = MemoryStream[Ev]
    val q = StreamDeploy.serve(spark, sql, mem.toDF(),
        ttl = Some(AbsoluteTime(500L)), // idle timeout = 500+500 = 1s
        idleStateGc = true)
      .writeStream.format("memory").queryName("sd_idle_out")
      .trigger(Trigger.ProcessingTime(100L))
      .outputMode("append").start()
    try {
      mem.addData(Ev("k1", 1000L, 5.0, 1L, "a"))
      waitRows("sd_idle_out")(_.contains(("k1", 1000L, 5.0)))
      // wall-idle k1 past the 1s deadline; the periodic trigger runs
      // the timeout sweep, expelling its state
      Thread.sleep(2500L)
      // k1's next row is CLOSE in event time (within the 500ms span) —
      // event-time eviction alone would have kept ts=1000; the state
      // sweep dropped it, so the frame is the new row alone
      mem.addData(Ev("k1", 1200L, 2.0, 3L, "a"))
      val rows = waitRows("sd_idle_out")(_.exists(_._2 == 1200L))
      assert(rows.contains(("k1", 1200L, 2.0)),
        s"expected the late k1 row to see empty history, got $rows")
      assert(!rows.contains(("k1", 1200L, 7.0)))
    } finally q.stop()
    // without the opt-in the same feed keeps its state: the late row
    // still sees the old one (the default event-time semantics)
    val mem2 = MemoryStream[Ev]
    val q2 = StreamDeploy.serve(spark, sql, mem2.toDF(),
        ttl = Some(AbsoluteTime(500L)))
      .writeStream.format("memory").queryName("sd_idle_keep")
      .outputMode("append").start()
    try {
      mem2.addData(Ev("k1", 1000L, 5.0, 1L, "a"))
      q2.processAllAvailable()
      Thread.sleep(1500L)
      mem2.addData(Ev("k1", 1200L, 2.0, 2L, "a"))
      q2.processAllAvailable()
      val rows = spark.table("sd_idle_keep")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows.contains(("k1", 1200L, 7.0)),
        s"default (no gc) state must survive idleness, got $rows")
    } finally q2.stop()
  }

  test("DEPLOY statement + serveDeployment round trip") {
    // DEPLOY compiles its SQL at deploy time (the reference fails a
    // DEPLOY over a missing table), so the source must be registered;
    // serveDeployment then binds the request DataFrame in its place
    evs.toDF().createOrReplaceTempView("events")
    GraftSql.statement(spark,
      """DEPLOY sd_spec_dep OPTIONS(overwrite='true') SELECT user, ts,
        sum(amt) OVER w AS s FROM events
        WINDOW w AS (PARTITION BY user ORDER BY ts
          ROWS_RANGE BETWEEN 25 PRECEDING AND CURRENT ROW)""")
    try {
      val out = StreamDeploy.serveDeployment(spark, "sd_spec_dep", evs.toDF())
      assert(out.count() == evs.length)
    } finally spark.catalog.dropTempView("events")
  }

  test("serveDeployment plans its LAST JOIN in the deployment's home " +
      "db, not the session's current db") {
    val s = spark.newSession()
    GraftSql.statement(s, "CREATE DATABASE sdh1")
    GraftSql.statement(s, "CREATE DATABASE sdh2")
    val users = Seq("u1", "u2", "u3")
    GraftSql.registerDbTable(s, "sdh1", "sdh_dim",
      s.createDataFrame(users.map((_, "home"))).toDF("dk", "tier"))
    GraftSql.registerDbTable(s, "sdh2", "sdh_dim",
      s.createDataFrame(users.map((_, "other"))).toDF("dk", "tier"))
    GraftSql.registerDbTable(s, "sdh1", "sdh_ev", s.createDataFrame(evs))
    GraftSql.statement(s, "USE sdh1")
    GraftSql.statement(s,
      """DEPLOY sdh_dep SELECT user, ts, sum(amt) OVER w AS s, tier
        FROM sdh_ev LAST JOIN sdh_dim ON user = dk
        WINDOW w AS (PARTITION BY user ORDER BY ts
          ROWS_RANGE BETWEEN 25 PRECEDING AND CURRENT ROW)""")
    GraftSql.statement(s, "USE sdh2")
    val out = StreamDeploy.serveDeployment(s, "sdh_dep",
      s.createDataFrame(evs))
    assert(out.count() == evs.length)
    assert(out.select("tier").distinct().collect().map(_.getString(0))
      .toSeq == Seq("home"))
  }
}
