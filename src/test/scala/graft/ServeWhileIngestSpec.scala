package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sql.GraftSql

/** Read-your-commits serving under concurrent ingest: requests served
  * through a DEPLOYed query WHILE the graft streaming sink appends
  * epochs to the same online table. After every committed epoch the
  * served response must equal the dynamic requestMode answer computed
  * over the committed-at-that-epoch snapshot — i.e. the compiled
  * serving template (GraftSql.serveRequest) must see each epoch's
  * rows the moment the sink commits them (its staleness check
  * invalidates on the view re-registration the commit performs), and
  * must never serve a frame from a half-committed batch. 20 epochs,
  * each one append to the table's tail in the online store. */
class ServeWhileIngestSpec extends SparkSpec {
  import spark.implicits._

  test("served responses equal the batch answer after each of 20 " +
      "epoch commits") {
    implicit val sqlCtx = spark.sqlContext
    Seq.empty[(Long, Long, Double)].toDF("event_id", "user_id", "value")
      .withColumn("ts_ms", col("event_id"))
      .createOrReplaceTempView("swi_events")

    GraftSql.statement(spark,
      """DEPLOY swi_dep OPTIONS(overwrite=true)
        |SELECT event_id, user_id,
        |  sum(value) OVER w AS s, count(value) OVER w AS c
        |FROM swi_events WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
        |  ROWS_RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW)""".stripMargin)

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_swi_ckpt")
    val q = mem.toDF().toDF("event_id", "user_id", "value")
      .withColumn("ts_ms", col("event_id"))
      .writeStream.format("graft")
      .option("db", "default").option("table", "swi_events")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    val reqSchema = spark.table("swi_events").schema
    def serveOnce(userId: Long, ts: Long): Seq[Row] = {
      val req = spark.createDataFrame(
        java.util.Arrays.asList(Row(9999L, userId, 0.0, ts)), reqSchema)
      GraftSql.serveDeployment(spark, "swi_dep", req).collect().toSeq
    }

    try {
      var expectedSum = Map.empty[Long, Double].withDefaultValue(0.0)
      var expectedCnt = Map.empty[Long, Long].withDefaultValue(0L)
      (1 to 20).foreach { epoch =>
        val rows = (1 to 5).map { j =>
          val uid = (epoch * 5 + j) % 3L
          (epoch * 100L + j, uid, epoch * 1.0 + j)
        }
        mem.addData(rows: _*); q.processAllAvailable()
        rows.foreach { case (_, u, v) =>
          expectedSum += u -> (expectedSum(u) + v)
          expectedCnt += u -> (expectedCnt(u) + 1L)
        }
        val u = epoch % 3L
        val got = serveOnce(u, 1000000L)
        assert(got.length == 1, s"epoch $epoch: ${got.length} rows")
        // request row contributes value 0.0 to the frame
        assert(got.head.getDouble(2) == expectedSum(u),
          s"epoch $epoch user $u sum")
        assert(got.head.getLong(3) == expectedCnt(u) + 1L,
          s"epoch $epoch user $u count")
        // and the template answer must equal the dynamic path's
        val req = spark.createDataFrame(
          java.util.Arrays.asList(Row(9999L, u, 0.0, 1000000L)), reqSchema)
        val dyn = GraftSql.requestMode(spark,
          GraftSql.callableBody(spark, "swi_dep").get, req).collect().toSeq
        assert(got.map(_.toString) == dyn.map(_.toString),
          s"epoch $epoch template != dynamic")
      }
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
