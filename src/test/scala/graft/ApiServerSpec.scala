package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import graft.serving.ApiServer
import graft.sql.GraftSql

/** The REST shim must return exactly what CALL returns for the same
  * request row — it is the same requestMode plan behind an HTTP
  * adapter (reference surface: src/apiserver/api_server_impl.cc). */
class ApiServerSpec extends SparkSpec {
  import spark.implicits._

  private def post(port: Int, path: String, body: String): String = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  private def get(port: Int, path: String): String = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  private def parse(json: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)

  test("POST /dbs/_/deployments/{name} answers match CALL row-for-row") {
    GraftSql.resetDeployments(spark)
    Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u2", 5L, 5.0))
      .toDF("k", "ts", "v").createOrReplaceTempView("api_ev")
    GraftSql.statement(spark,
      """DEPLOY api_d SELECT k, sum(v) OVER w AS s FROM api_ev
        |WINDOW w AS (PARTITION BY k ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin)
    val srv = ApiServer.start(spark)
    try {
      // positional-array row
      val r1 = parse(post(srv.port, "/dbs/default/deployments/api_d",
        """{"input": [["u1", 30, 3.0]]}"""))
      assert(r1.get("code").asInt() == 0, r1.toString)
      val data1 = r1.get("data").get("data")
      assert(data1.size() == 1)
      assert(data1.get(0).get(0).asText() == "u1")
      assert(data1.get(0).get(1).asDouble() == 6.0) // 1 + 2 + request 3
      // the CALL twin agrees
      val call = GraftSql.statement(spark, "CALL api_d ('u1', 30, 3.0)")
        .get.as[(String, Double)].collect().toSeq
      assert(call == Seq(("u1", 6.0)))

      // column-name map row + need_schema
      val r2 = parse(post(srv.port, "/dbs/default/deployments/api_d",
        """{"input": [{"k": "u2", "ts": 50, "v": 0.5}], "need_schema": true}"""))
      assert(r2.get("code").asInt() == 0, r2.toString)
      assert(r2.get("data").get("data").get(0).get(1).asDouble() == 5.5)
      val sch = r2.get("data").get("schema")
      assert(sch.get(0).get("name").asText() == "k")
      assert(sch.get(1).get("name").asText() == "s")

      // batch input: one output row per request row, request rows
      // never see each other (two u1 rows, same answer)
      val r3 = parse(post(srv.port, "/dbs/default/deployments/api_d",
        """{"input": [["u1", 30, 3.0], ["u1", 30, 3.0]]}"""))
      val d3 = r3.get("data").get("data")
      assert(d3.size() == 2)
      assert(d3.get(0).get(1).asDouble() == 6.0)
      assert(d3.get(1).get(1).asDouble() == 6.0)

      // GET echoes the deployment body
      val g = parse(get(srv.port, "/dbs/default/deployments/api_d"))
      assert(g.get("code").asInt() == 0)
      assert(g.get("data").get("sql").asText().contains("FROM api_ev"))

      // errors: unknown name, unknown db, bad arity, invalid input
      val eName = parse(post(srv.port, "/dbs/default/deployments/nope",
        """{"input": [[1]]}"""))
      assert(eName.get("code").asInt() == -1)
      assert(eName.get("msg").asText() ==
        "procedure not found, msg: nope does not exist in default")
      val eDb = parse(post(srv.port, "/dbs/no_such_db/deployments/api_d",
        """{"input": [["u1", 30, 3.0]]}"""))
      assert(eDb.get("code").asInt() == -1)
      assert(eDb.get("msg").asText().contains("does not exist in no_such_db"))
      val eArity = parse(post(srv.port, "/dbs/default/deployments/api_d",
        """{"input": [["u1", 30]]}"""))
      assert(eArity.get("code").asInt() == -1)
      assert(eArity.get("msg").asText().contains("Invalid input data size"))
      val eInput = parse(post(srv.port, "/dbs/default/deployments/api_d",
        """{"nope": 1}"""))
      assert(eInput.get("msg").asText().contains("input is invalid"))
      // empty body and non-object roots answer a parse error, not a 500
      val eEmpty = parse(post(srv.port, "/dbs/default/deployments/api_d", ""))
      assert(eEmpty.get("code").asInt() == -1)
      assert(eEmpty.get("msg").asText().contains("json parse failed")
        || eEmpty.get("msg").asText().contains("Request body"))
      // non-integral values into integral columns are rejected, not
      // silently truncated (ts is bigint here)
      val eTrunc = parse(post(srv.port, "/dbs/default/deployments/api_d",
        """{"input": [["u1", 30.7, 3.0]]}"""))
      assert(eTrunc.get("code").asInt() == -1)
      assert(eTrunc.get("msg").asText().contains("non-integral"))
    } finally {
      srv.stop()
      GraftSql.resetDeployments(spark)
    }
  }

  test("POST /dbs/{db} runs any statement (the ExecuteSQL route)") {
    val srv = ApiServer.start(spark)
    try {
      // DDL + DML through the route (the reference routes DDL here too)
      val c = parse(post(srv.port, "/dbs/default",
        """{"sql": "CREATE TABLE api_q (k string, v int)", "mode": "online"}"""))
      assert(c.get("code").asInt() == 0, c.toString)
      assert(parse(post(srv.port, "/dbs/default",
        """{"sql": "INSERT INTO api_q VALUES ('a', 1)", "mode": "online"}"""))
        .get("code").asInt() == 0)
      assert(parse(post(srv.port, "/dbs/default",
        """{"sql": "INSERT INTO api_q VALUES ('b', 2)", "mode": "online"}"""))
        .get("code").asInt() == 0)
      // query: capitalized schema vocabulary + row data
      val q = parse(post(srv.port, "/dbs/default",
        """{"sql": "SELECT k, v FROM api_q", "mode": "online"}"""))
      assert(q.get("code").asInt() == 0, q.toString)
      val sch = q.get("data").get("schema")
      assert(sch.get(0).asText() == "String" && sch.get(1).asText() == "Int32")
      val rows = (0 until q.get("data").get("data").size())
        .map(i => q.get("data").get("data").get(i))
        .map(r => (r.get(0).asText(), r.get(1).asInt())).sortBy(_._1)
      assert(rows == Seq(("a", 1), ("b", 2)))
      // parameterized query
      val p = parse(post(srv.port, "/dbs/default",
        """{"sql": "SELECT k FROM api_q WHERE v > ?", "mode": "online",
          | "parameter": [1]}""".stripMargin))
      assert(p.get("code").asInt() == 0, p.toString)
      assert(p.get("data").get("data").size() == 1)
      assert(p.get("data").get("data").get(0).get(0).asText() == "b")
      // error surface: bad mode, missing sql, unknown db
      assert(parse(post(srv.port, "/dbs/default",
        """{"sql": "SELECT 1", "mode": "nope"}""")).get("msg").asText()
        == "Invalid mode nope")
      assert(parse(post(srv.port, "/dbs/default", """{"mode": "online"}"""))
        .get("msg").asText().contains("Json parse failed"))
      assert(parse(post(srv.port, "/dbs/ghost",
        """{"sql": "SELECT 1", "mode": "online"}""")).get("code").asInt() == -1)
      GraftSql.statement(spark, "DROP TABLE api_q")
    } finally srv.stop()
  }

  private def put(port: Int, path: String, body: String): String = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .PUT(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  test("deployments are scoped to their home db; default stays global") {
    GraftSql.resetDeployments(spark)
    GraftSql.statement(spark, "CREATE DATABASE IF NOT EXISTS sc1")
    GraftSql.statement(spark, "CREATE DATABASE IF NOT EXISTS sc2")
    GraftSql.registerDbTable(spark, "sc1", "sc_ev",
      Seq(("u1", 10L, 1.0)).toDF("k", "ts", "v"))
    // deployed in db sc1 → home db sc1
    GraftSql.statement(spark,
      """DEPLOY sc_d SELECT k, sum(v) OVER w AS s FROM sc_ev
        |WINDOW w AS (PARTITION BY k ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin,
      db = Some("sc1"))
    val srv = ApiServer.start(spark)
    try {
      // home db executes it — the body's plain table name resolves in
      // the deployment's own db, whatever the session's current db is
      val ok = parse(post(srv.port, "/dbs/sc1/deployments/sc_d",
        """{"input": [["u1", 30, 3.0]]}"""))
      assert(ok.get("code").asInt() == 0, ok.toString)
      assert(ok.get("data").get("data").get(0).get(1).asDouble() == 4.0)
      // a different db gets the reference's exact not-found message
      val miss = parse(post(srv.port, "/dbs/sc2/deployments/sc_d",
        """{"input": [["u1", 30, 3.0]]}"""))
      assert(miss.get("code").asInt() == -1)
      assert(miss.get("msg").asText() ==
        "procedure not found, msg: sc_d does not exist in sc2")
      // GET is scoped identically
      assert(parse(get(srv.port, "/dbs/sc2/deployments/sc_d"))
        .get("code").asInt() == -1)
      assert(parse(get(srv.port, "/dbs/sc1/deployments/sc_d"))
        .get("code").asInt() == 0)
    } finally {
      srv.stop()
      GraftSql.resetDeployments(spark)
    }
  }

  test("concurrent CALLs to deployments homed in two dbs each answer " +
      "from their own db and leave the current db alone") {
    GraftSql.resetDeployments(spark)
    GraftSql.statement(spark, "CREATE DATABASE IF NOT EXISTS cc1")
    GraftSql.statement(spark, "CREATE DATABASE IF NOT EXISTS cc2")
    GraftSql.registerDbTable(spark, "cc1", "cc_ev",
      Seq(("u1", 10L, 1.0)).toDF("k", "ts", "v"))
    GraftSql.registerDbTable(spark, "cc2", "cc_ev",
      Seq(("u1", 10L, 100.0)).toDF("k", "ts", "v"))
    // the same body text in both dbs: only the home db tells them apart
    val body = """SELECT k, sum(v) OVER w AS s FROM cc_ev
      |WINDOW w AS (PARTITION BY k ORDER BY ts
      |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin
    for (db <- Seq("cc1", "cc2"))
      GraftSql.statement(spark, s"DEPLOY cc_d_$db $body", db = Some(db))
    val before = GraftSql.currentDb(spark)
    val srv = ApiServer.start(spark, threads = 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val client = HttpClient.newHttpClient()
    try {
      val calls = (0 until 200).map { i =>
        val db = if (i % 2 == 0) "cc1" else "cc2"
        pool.submit(new java.util.concurrent.Callable[(String, String)] {
          def call(): (String, String) = {
            val req = HttpRequest.newBuilder(URI.create(
                s"http://127.0.0.1:${srv.port}/dbs/$db/deployments/cc_d_$db"))
              .POST(HttpRequest.BodyPublishers.ofString(
                """{"input": [["u1", 30, 3.0]]}""", StandardCharsets.UTF_8))
              .build()
            (db, client.send(req, HttpResponse.BodyHandlers.ofString()).body())
          }
        })
      }
      val wrong = calls.map(_.get()).filterNot { case (db, reply) =>
        val r = parse(reply)
        r.get("code").asInt() == 0 &&
          r.get("data").get("data").get(0).get(1).asDouble() ==
            (if (db == "cc1") 4.0 else 103.0)
      }
      assert(wrong.isEmpty, s"${wrong.size} of 200 answers wrong, e.g. " +
        wrong.headOption)
      assert(GraftSql.currentDb(spark) == before)
    } finally {
      pool.shutdownNow()
      srv.stop()
      GraftSql.resetDeployments(spark)
    }
  }

  test("offline ExecuteSQL requests leave concurrent CALLs online and " +
      "the session's execute_mode alone") {
    GraftSql.resetDeployments(spark)
    def st(s: String) = GraftSql.statement(spark, s)
    def execMode(): String = st("SHOW VARIABLES").get.collect()
      .find(_.getString(0) == "execute_mode").map(_.getString(1)).get
    // the cluster edition's two stores hold different rows for u1
    st("CREATE TABLE xm_ev (k string, ts bigint, v double)")
    st("INSERT INTO xm_ev VALUES ('u1', 10, 1.0)")
    st("SET @@execute_mode = 'offline'")
    st("INSERT INTO xm_ev VALUES ('u1', 10, 100.0)")
    st("SET @@execute_mode = 'online'")
    st("""DEPLOY xm_d SELECT k, sum(v) OVER w AS s FROM xm_ev
         |WINDOW w AS (PARTITION BY k ORDER BY ts
         |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin)
    val srv = ApiServer.start(spark, threads = 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val client = HttpClient.newHttpClient()
    def send(path: String, body: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body,
          StandardCharsets.UTF_8)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
    try {
      // 200 CALLs (online answer 1 + 3 = 4; the offline store would
      // give 103) interleaved with 100 offline SELECTs
      val replies = (0 until 300).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Boolean, String)] {
          def call(): (Boolean, String) =
            if (i % 3 == 2) (false, send("/dbs/default",
              """{"sql": "SELECT k, v FROM xm_ev", "mode": "offsync"}"""))
            else (true, send("/dbs/default/deployments/xm_d",
              """{"input": [["u1", 30, 3.0]]}"""))
        })
      }.map(_.get())
      // the one row's second column, or the reply when it has none
      def answer(reply: String): Either[String, Double] = {
        val r = parse(reply)
        val rows = Option(r.get("data")).map(_.get("data"))
        if (r.get("code").asInt() != 0 || rows.forall(_.size() != 1))
          Left(reply)
        else Right(rows.get.get(0).get(1).asDouble())
      }
      val calls = replies.collect { case (true, r) => answer(r) }
      val selects = replies.collect { case (false, r) => answer(r) }
      assert(calls.size == 200 && selects.size == 100)
      val wrong = calls.filterNot(_ == Right(4.0))
      assert(wrong.isEmpty, s"${wrong.size} of 200 CALLs not online: " +
        wrong.groupBy(identity).map { case (a, n) => s"${n.size}× $a" })
      assert(selects.forall(_ == Right(100.0)), selects.distinct)
      assert(execMode() == "online")
    } finally {
      pool.shutdownNow()
      srv.stop()
      GraftSql.resetDeployments(spark)
      st("DROP TABLE xm_ev")
    }
  }

  test("ExecuteSQL scopes to the URL db; row cap; POST /refresh") {
    GraftSql.statement(spark, "CREATE DATABASE IF NOT EXISTS sc3")
    val srv = ApiServer.start(spark)
    try {
      // DDL through /dbs/sc3 lands the table in sc3, like the
      // reference route (execution binds to the path db)
      assert(parse(post(srv.port, "/dbs/sc3",
        """{"sql": "CREATE TABLE api_sc (k string, v int)", "mode": "online"}"""))
        .get("code").asInt() == 0)
      assert(parse(post(srv.port, "/dbs/sc3",
        """{"sql": "INSERT INTO api_sc VALUES ('a', 1)", "mode": "online"}"""))
        .get("code").asInt() == 0)
      val q = parse(post(srv.port, "/dbs/sc3",
        """{"sql": "SELECT k, v FROM api_sc", "mode": "online"}"""))
      assert(q.get("code").asInt() == 0, q.toString)
      assert(q.get("data").get("data").size() == 1)
      // the table is NOT visible from the default namespace
      assert(parse(post(srv.port, "/dbs/default",
        """{"sql": "SELECT k FROM api_sc", "mode": "online"}"""))
        .get("code").asInt() == -1)
      // row cap: results past graft.apiserver.maxResultRows refuse
      // instead of buffering the world on the driver
      spark.conf.set(ApiServer.MaxResultRowsKey, "3")
      try {
        assert(parse(post(srv.port, "/dbs/sc3",
          """{"sql": "INSERT INTO api_sc VALUES ('b', 2)", "mode": "online"}"""))
          .get("code").asInt() == 0)
        assert(parse(post(srv.port, "/dbs/sc3",
          """{"sql": "INSERT INTO api_sc VALUES ('c', 3)", "mode": "online"}"""))
          .get("code").asInt() == 0)
        assert(parse(post(srv.port, "/dbs/sc3",
          """{"sql": "INSERT INTO api_sc VALUES ('d', 4)", "mode": "online"}"""))
          .get("code").asInt() == 0)
        val over = parse(post(srv.port, "/dbs/sc3",
          """{"sql": "SELECT k FROM api_sc", "mode": "online"}"""))
        assert(over.get("code").asInt() == -1)
        assert(over.get("msg").asText().contains("exceeds"))
        // under the cap still answers
        val under = parse(post(srv.port, "/dbs/sc3",
          """{"sql": "SELECT k FROM api_sc WHERE v <= 3", "mode": "online"}"""))
        assert(under.get("code").asInt() == 0, under.toString)
        assert(under.get("data").get("data").size() == 3)
      } finally spark.conf.unset(ApiServer.MaxResultRowsKey)
      // RegisterRefresh parity: POST /refresh answers the envelope
      val rf = parse(post(srv.port, "/refresh", ""))
      assert(rf.get("code").asInt() == 0 && rf.get("msg").asText() == "ok")
      assert(parse(post(srv.port, "/dbs/sc3",
        """{"sql": "DROP TABLE api_sc", "mode": "online"}"""))
        .get("code").asInt() == 0)
    } finally srv.stop()
  }

  test("PUT insert enforces NOT NULL declared via CREATE TABLE DDL") {
    GraftSql.statement(spark,
      "CREATE TABLE api_nn (k string NOT NULL, v int)")
    val srv = ApiServer.start(spark)
    try {
      // null into the declared-NOT-NULL column refuses (the view
      // schema stays nullable — the flag lives in GraftSql metadata)
      val bad = parse(put(srv.port, "/dbs/default/tables/api_nn",
        """{"value": [[null, 1]]}"""))
      assert(bad.get("code").asInt() == -1, bad.toString)
      assert(bad.get("msg").asText().contains(
        "Translate to insert row failed"))
      // null into the nullable column is fine
      val ok = parse(put(srv.port, "/dbs/default/tables/api_nn",
        """{"value": [["a", null]]}"""))
      assert(ok.get("code").asInt() == 0, ok.toString)
      // GET table reflects the declared flag
      val info = parse(get(srv.port, "/dbs/default/tables/api_nn"))
      val cd = info.get("table").get("column_desc")
      assert(cd.get(0).get("not_null").asBoolean())
      assert(!cd.get(1).get("not_null").asBoolean())
    } finally {
      srv.stop()
      GraftSql.statement(spark, "DROP TABLE api_nn")
    }
  }

  test("GET table rounds a sub-minute absolute TTL up to one minute") {
    // the reference stores absolute TTLs in whole minutes, and 0 means
    // no expiry, so 30s must not read as 0
    GraftSql.statement(spark,
      """CREATE TABLE api_ttl (c1 string, c7 timestamp,
        |INDEX(KEY=c1, TS=c7, TTL=30s, TTL_TYPE=absolute),
        |INDEX(KEY=c1, TS=c7, TTL=(90s, 3), TTL_TYPE=absandlat))""".stripMargin)
    val srv = ApiServer.start(spark)
    try {
      val keys = parse(get(srv.port, "/dbs/default/tables/api_ttl"))
        .get("table").get("column_key")
      val abs = keys.get(0).get("ttl")
      assert(abs.get("ttl_type").asText() == "absolute", abs.toString)
      assert(abs.get("abs_ttl").asLong() == 1L, abs.toString)
      val both = keys.get(1).get("ttl")
      assert(both.get("ttl_type").asText() == "absandlat", both.toString)
      assert(both.get("abs_ttl").asLong() == 2L, both.toString)
      assert(both.get("lat_ttl").asLong() == 3L, both.toString)
    } finally {
      srv.stop()
      GraftSql.statement(spark, "DROP TABLE api_ttl")
    }
  }

  test("procedures route serves stored procedures; nulls round-trip") {
    GraftSql.resetDeployments(spark)
    Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0))
      .toDF("k", "ts", "v").createOrReplaceTempView("api_ev2")
    GraftSql.statement(spark,
      """CREATE PROCEDURE api_p (kk string, tts bigint, vv double)
        |BEGIN SELECT k, count(v) OVER w AS c FROM api_ev2
        |WINDOW w AS (PARTITION BY k ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW); END""".stripMargin)
    val srv = ApiServer.start(spark)
    try {
      val r = parse(post(srv.port, "/dbs/default/procedures/api_p",
        """{"input": [["u1", 30, null]]}"""))
      assert(r.get("code").asInt() == 0, r.toString)
      // count(v) skips the request row's null v: history 2 rows
      assert(r.get("data").get("data").get(0).get(1).asLong() == 2L)
    } finally {
      srv.stop()
      GraftSql.resetDeployments(spark)
    }
  }
}
