package graft.sql

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The compiled serving template (GraftSql.serveRequest): plan once per
  * (query, request schema), swap only the request rows per request.
  * Pins (1) row-for-row equality with the dynamic requestMode path,
  * including multi-window different-key pruning and LAST JOINs,
  * (2) actual plan reuse (no rebuild across requests), and
  * (3) read-your-commits staleness — an INSERT between requests must
  * invalidate the template and serve the new history. */
class ServeTemplateSpec extends SparkSpec {
  import spark.implicits._

  private def hist = Seq(
    ("u1", "gA", 10L, 1.0), ("u1", "gA", 20L, 2.0),
    ("u2", "gA", 15L, 4.0), ("u2", "gB", 30L, 8.0),
    ("u3", "gB", 5L, 16.0)
  ).toDF("pk", "grp", "ts", "v")

  private val q2win =
    """SELECT pk, ts,
      |  sum(v) OVER w0 AS s_pk,
      |  count(v) OVER w1 AS c_grp
      |FROM sv_hist
      |WINDOW w0 AS (PARTITION BY pk ORDER BY ts
      |    ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW MAXSIZE 10),
      |  w1 AS (PARTITION BY grp, pk ORDER BY ts
      |    ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin

  private def req(rs: (String, String, Long, Double)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rs.map(r => Row(r._1, r._2, r._3, r._4)): _*),
      hist.schema)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("template serves the same rows as the dynamic path and reuses " +
      "the compiled plan across requests") {
    hist.createOrReplaceTempView("sv_hist")
    val r1 = req(("u1", "gA", 25L, 100.0), ("u2", "gB", 40L, 200.0))
    val dynamic = GraftSql.requestMode(spark, q2win, r1)
    val b0 = GraftSql.serveTemplateBuilds.get()
    val t1 = GraftSql.serveRequest(spark, q2win, r1)
    assert(sortedRows(t1) == sortedRows(dynamic))
    // a second request with DIFFERENT values reuses the template
    val r2 = req(("u3", "gB", 50L, 1.5))
    val t2 = GraftSql.serveRequest(spark, q2win, r2)
    assert(sortedRows(t2) ==
      sortedRows(GraftSql.requestMode(spark, q2win, r2)))
    assert(GraftSql.serveTemplateBuilds.get() == b0 + 1,
      "expected exactly one template build across two requests")
  }

  test("read-your-commits: INSERT between requests invalidates the " +
      "template and the response sees the new history") {
    hist.createOrReplaceTempView("sv_hist")
    val r = req(("u1", "gA", 25L, 100.0))
    val before = GraftSql.serveRequest(spark, q2win, r).collect()(0)
    assert(before.getDouble(2) == 103.0) // 1 + 2 + 100
    graft.GraftCatalog.insertValues(spark, "sv_hist",
      Seq(Row("u1", "gA", 22L, 50.0)))
    val after = GraftSql.serveRequest(spark, q2win, r).collect()(0)
    assert(after.getDouble(2) == 153.0, "INSERTed row must be visible")
    assert(after.getLong(3) == 4L)
  }

  test("a warm template serves a request in exactly ONE Spark job " +
      "(indexed history + key-set pruning ride the main job)") {
    hist.createOrReplaceTempView("sv_hist")
    val r = req(("u1", "gA", 25L, 100.0))
    GraftSql.serveRequest(spark, q2win, r).collect() // warm build
    @volatile var jobs = 0
    val lst = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(lst)
    try {
      val out = GraftSql.serveRequest(spark, q2win,
        req(("u2", "gB", 40L, 200.0)))
      assert(out.collect().length == 1)
      Thread.sleep(500) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(lst)
    assert(jobs == 1,
      s"expected exactly 1 Spark job per warm request, saw $jobs")
  }

  test("LRU eviction: a hot deployment's template survives " +
      "registration of cap+N distinct templates") {
    hist.createOrReplaceTempView("sv_hist")
    val r = req(("u1", "gA", 25L, 100.0))
    val hot = q2win
    GraftSql.serveRequest(spark, hot, r) // ensure built + touched
    val capBefore = GraftSql.serveTemplateCap
    GraftSql.serveTemplateCap = 4
    try {
      val bHot = GraftSql.serveTemplateBuilds.get()
      for (i <- 1 to 10) {
        // distinct query text per i → distinct ServeKey → real build
        GraftSql.serveRequest(spark,
          q2win.replace("AS s_pk", s"AS s_pk_$i"), r)
        // touch the hot template so LRU keeps it (the old clear-all
        // wiped EVERY template at the 65th build regardless of use)
        val out = GraftSql.serveRequest(spark, hot, r)
        assert(out.collect()(0).getDouble(2) == 103.0)
      }
      // 10 cold builds, 0 hot rebuilds
      assert(GraftSql.serveTemplateBuilds.get() == bHot + 10,
        "hot template must never rebuild while it is being served")
    } finally GraftSql.serveTemplateCap = capBefore
  }

  test("redefining a user function invalidates compiled templates " +
      "(CREATE/DROP FUNCTION bumps the template key version)") {
    hist.createOrReplaceTempView("sv_hist")
    GraftSql.statement(spark,
      "CREATE FUNCTION sv_boost(x DOUBLE) RETURNS DOUBLE " +
        "OPTIONS (RETURN = 'x + 1')")
    val qf =
      """SELECT pk, ts, sv_boost(sum(v) OVER w) AS sb
        |FROM sv_hist
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin
    val r = req(("u1", "gA", 25L, 100.0))
    try {
      assert(GraftSql.serveRequest(spark, qf, r)
        .collect()(0).getDouble(2) == 104.0) // (1+2+100) + 1
      GraftSql.statement(spark, "DROP FUNCTION sv_boost")
      GraftSql.statement(spark,
        "CREATE FUNCTION sv_boost(x DOUBLE) RETURNS DOUBLE " +
          "OPTIONS (RETURN = 'x + 2')")
      assert(GraftSql.serveRequest(spark, qf, r)
        .collect()(0).getDouble(2) == 105.0,
        "stale compiled template served after function redefinition")
    } finally
      GraftSql.statement(spark, "DROP FUNCTION IF EXISTS sv_boost")
  }

  test("LAST JOIN + no-window and null-keyed requests match the " +
      "dynamic path through the template") {
    hist.createOrReplaceTempView("sv_hist")
    Seq(("u1", "gold"), ("u2", "silver"))
      .toDF("dk", "tier").createOrReplaceTempView("sv_dim")
    val qj =
      """SELECT pk, ts, sum(v) OVER w AS s, tier
        |FROM sv_hist LAST JOIN sv_dim ON pk = dk
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin
    val r = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("u1", "gA", 25L, 100.0), Row(null, "gB", 9L, 7.0)),
      hist.schema)
    assert(sortedRows(GraftSql.serveRequest(spark, qj, r)) ==
      sortedRows(GraftSql.requestMode(spark, qj, r)))
  }

  private def post(port: Int, path: String, body: String): String = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val req = HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    HttpClient.newHttpClient()
      .send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  test("a deployment made under USE is compiled at DEPLOY: its first " +
      "CALL through its db's route builds no template") {
    val s = spark.newSession()
    GraftSql.statement(s, "CREATE DATABASE stk1")
    GraftSql.registerDbTable(s, "stk1", "sv_hist",
      s.createDataFrame(hist.collect().toList.asJava, hist.schema))
    GraftSql.statement(s, "USE stk1")
    GraftSql.statement(s, s"DEPLOY stk_dep $q2win")
    val srv = graft.serving.ApiServer.start(s)
    try {
      val b0 = GraftSql.serveTemplateBuilds.get()
      val reply = post(srv.port, "/dbs/stk1/deployments/stk_dep",
        """{"input": [["u1", "gA", 25, 100.0]]}""")
      assert(reply.contains("103.0"), reply)
      assert(GraftSql.serveTemplateBuilds.get() == b0,
        "the DEPLOY-time template must be the one the CALL hits")
    } finally srv.stop()
  }

  test("the same query text served in two dbs keeps one template per db") {
    for ((db, scale) <- Seq("stk_a" -> 1.0, "stk_b" -> 10.0))
      GraftSql.registerDbTable(spark, db, "stk_h",
        hist.withColumn("v", col("v") * scale))
    val q = q2win.replace("sv_hist", "stk_h")
    val r = req(("u1", "gA", 25L, 100.0))
    val b0 = GraftSql.serveTemplateBuilds.get()
    for (_ <- 1 to 3; (db, want) <- Seq("stk_a" -> 103.0, "stk_b" -> 130.0))
      assert(GraftSql.serveRequest(spark, q, r, db = Some(db))
        .collect()(0).getDouble(2) == want)
    assert(GraftSql.serveTemplateBuilds.get() == b0 + 2,
      "alternating dbs must not rebuild each other's template")
  }

  test("serving templates are per session: a new session starts with " +
      "none and builds its own") {
    hist.createOrReplaceTempView("sv_hist")
    val r = req(("u1", "gA", 25L, 100.0))
    GraftSql.serveRequest(spark, q2win, r).collect()
    assert(graft.SessionState.of(spark).serveTemplates.nonEmpty)
    val s = spark.newSession()
    assert(graft.SessionState.of(s).serveTemplates.isEmpty)
    s.createDataFrame(hist.collect().toList.asJava, hist.schema)
      .createOrReplaceTempView("sv_hist")
    val b0 = GraftSql.serveTemplateBuilds.get()
    val out = GraftSql.serveRequest(s, q2win,
      s.createDataFrame(java.util.Arrays.asList(Row("u1", "gA", 25L, 100.0)),
        hist.schema))
    assert(out.collect()(0).getDouble(2) == 103.0)
    assert(GraftSql.serveTemplateBuilds.get() == b0 + 1)
    assert(graft.SessionState.of(s).serveTemplates.size == 1)
  }

  test("a long_windows deployment is compiled at DEPLOY too: its " +
      "first CALL builds no template") {
    GraftSql.resetDeployments(spark)
    hist.createOrReplaceTempView("sv_hist")
    GraftSql.statement(spark,
      s"""DEPLOY sv_lw OPTIONS(long_windows="w0:1s")
         |${q2win.replace("MAXSIZE 10", "")}""".stripMargin)
    try {
      val b0 = GraftSql.serveTemplateBuilds.get()
      val out = GraftSql.statement(spark, "CALL sv_lw ('u1', 'gA', 25, 100.0)")
        .get.collect()
      assert(out.length == 1 && out(0).getDouble(2) == 103.0)
      assert(GraftSql.serveTemplateBuilds.get() == b0,
        "the first CALL of a long_windows deployment rebuilt its template")
    } finally GraftSql.resetDeployments(spark)
  }

  test("a warm template answers a request on a thread with no active " +
      "session") {
    hist.createOrReplaceTempView("sv_hist")
    val r = req(("u1", "gA", 25L, 100.0))
    GraftSql.serveRequest(spark, q2win, r).collect() // warm build
    val b0 = GraftSql.serveTemplateBuilds.get()
    @volatile var out: scala.util.Try[org.apache.spark.sql.DataFrame] = null
    val th = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      out = scala.util.Try(GraftSql.serveRequest(spark, q2win, r))
    })
    th.start()
    th.join()
    // a template answer is a LocalRelation of the collected rows; a
    // requestMode answer is a plan over the history
    assert(out.get.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "the request was answered by requestMode, not the template")
    assert(out.get.collect()(0).getDouble(2) == 103.0)
    assert(GraftSql.serveTemplateBuilds.get() == b0)
  }

  test("a view re-registered with an identical plan keeps the template " +
      "and is recorded on it") {
    val q = q2win.replace("AS s_pk", "AS s_pk_rereg")
    hist.createOrReplaceTempView("sv_hist")
    val r = req(("u1", "gA", 25L, 100.0))
    GraftSql.serveRequest(spark, q, r).collect()
    hist.createOrReplaceTempView("sv_hist") // same plan, new instance
    val b0 = GraftSql.serveTemplateBuilds.get()
    assert(GraftSql.serveRequest(spark, q, r).collect()(0).getDouble(2) ==
      103.0)
    assert(GraftSql.serveTemplateBuilds.get() == b0,
      "an identical re-registration rebuilt the template")
    val t = graft.SessionState.of(spark).serveTemplates
      .collectFirst { case (k, t) if k._1 == q => t }.get
    val now = org.apache.spark.sql.GraftServe.rawTempView(spark, "sv_hist")
    assert(now.isDefined && t.sources.exists { case (n, raw, _) =>
      n == "sv_hist" && raw.exists(_ eq now.get) },
      "the template still records the replaced view instance")
  }

  test("a literal batch over 1024 rows is answered by requestMode and " +
      "builds no template") {
    hist.createOrReplaceTempView("sv_hist")
    val q = q2win.replace("AS s_pk", "AS s_pk_big")
    val big = req((1 to 1025).map(i =>
      (s"u${i % 3 + 1}", if (i % 2 == 0) "gA" else "gB", i.toLong,
        i.toDouble)): _*)
    val b0 = GraftSql.serveTemplateBuilds.get()
    val served = GraftSql.serveRequest(spark, q, big)
    assert(sortedRows(served) ==
      sortedRows(GraftSql.requestMode(spark, q, big)))
    assert(served.count() == 1025)
    assert(GraftSql.serveTemplateBuilds.get() == b0,
      "a batch over 1024 rows built a template")
  }
}
