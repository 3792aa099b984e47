package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.serving.ApiServer
import graft.sql.GraftSql

/** The online-table store behind every writer (GraftCatalog): writes to
  * one table serialize on that table's lock, and tables belong to the
  * session that created them. */
class OnlineStoreSpec extends SparkSpec {

  /** Run `threads` writers, each calling `write(thread, i)` for i in
    * 0 until `each`; returns the failures they raised. */
  private def concurrently(threads: Int, each: Int)(
      write: (Int, Int) => Unit): Seq[Throwable] = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { t =>
      new Thread(() =>
        try (0 until each).foreach(i => write(t, i))
        catch { case e: Throwable => errors.add(e) })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    errors.asScala.toSeq
  }

  private def idsOf(table: String): Seq[Long] =
    spark.table(table).select("id").collect().map(_.getLong(0)).toSeq

  test("8 threads x 25 concurrent insertValues keep all 200 rows") {
    GraftSql.statement(spark, "CREATE TABLE os_conc (id bigint, v string)")
    try {
      val errors = concurrently(8, 25) { (t, i) =>
        GraftCatalog.insertValues(spark, "os_conc",
          Seq(Row((t * 25 + i).toLong, s"t$t")))
      }
      assert(errors.isEmpty, errors.mkString("; "))
      val ids = idsOf("os_conc")
      assert(ids.length == 200)
      assert(ids.distinct.length == 200)
    } finally GraftSql.statement(spark, "DROP TABLE os_conc")
  }

  test("8 clients x 25 concurrent REST PUTs keep all 200 rows") {
    GraftSql.statement(spark, "CREATE TABLE os_put (id bigint, v string)")
    val srv = ApiServer.start(spark, threads = 8)
    try {
      val client = HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val errors = concurrently(8, 25) { (t, i) =>
        val req = HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:${srv.port}/dbs/default/tables/os_put"))
          .PUT(HttpRequest.BodyPublishers.ofString(
            s"""{"value": [[${t * 25 + i}, "t$t"]]}""",
            StandardCharsets.UTF_8))
          .build()
        val body = client.send(req, HttpResponse.BodyHandlers.ofString()).body()
        val code = mapper.readTree(body).get("code").asInt()
        if (code != 0) throw new AssertionError(s"PUT failed: $body")
      }
      assert(errors.isEmpty, errors.mkString("; "))
      val ids = idsOf("os_put")
      assert(ids.length == 200)
      assert(ids.distinct.length == 200)
    } finally {
      srv.stop()
      GraftSql.statement(spark, "DROP TABLE os_put")
    }
  }

  test("another session's CREATE and DROP of the same name leave this " +
      "session's INSERT OR IGNORE rows readable") {
    GraftSql.statement(spark, "CREATE TABLE os_xs (id bigint, v string)")
    try {
      (1 to 3).foreach(i => GraftSql.statement(spark,
        s"INSERT OR IGNORE INTO os_xs VALUES ($i, 'a$i')"))
      val other = spark.newSession()
      GraftSql.statement(other, "CREATE TABLE os_xs (id bigint, v string)")
      GraftSql.statement(other, "INSERT OR IGNORE INTO os_xs VALUES (9, 'b')")
      GraftSql.statement(other, "DROP TABLE os_xs")
      assert(idsOf("os_xs").sorted == Seq(1L, 2L, 3L))
    } finally GraftSql.statement(spark, "DROP TABLE os_xs")
  }

  test("a view the user re-registers becomes the base of the next write") {
    GraftSql.statement(spark, "CREATE TABLE os_re (id bigint, v string)")
    try {
      GraftCatalog.insertValues(spark, "os_re", Seq(Row(1L, "a"), Row(2L, "b")))
      spark.createDataFrame(java.util.List.of(Row(2L, "b")),
        spark.table("os_re").schema).createOrReplaceTempView("os_re")
      GraftCatalog.insertValues(spark, "os_re", Seq(Row(3L, "c")))
      assert(idsOf("os_re").sorted == Seq(2L, 3L))
    } finally GraftSql.statement(spark, "DROP TABLE os_re")
  }
}
