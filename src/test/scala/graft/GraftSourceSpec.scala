package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types._

import graft.sql.GraftSql

/** The `format("graft")` DataSource V2 connector — user-API parity
  * with the reference's openmldb-spark-connector (TestRead/TestWrite
  * in java/openmldb-spark-connector): read a catalog table back as a
  * DataFrame, append-mode writes land as inserts, putIfAbsent dedups,
  * option preconditions match, unsupported modes/types error. */
class GraftSourceSpec extends SparkSpec {

  private def ddl(sql: String) = GraftSql.statement(spark, sql)

  private val schemaSql =
    "(c1 bool, c2 smallint, c3 int, c4 bigint, c5 float, c6 double, " +
      "c7 string NOT NULL, c8 date, c9 timestamp)"

  test("read round-trips a catalog table, values and schema") {
    ddl(s"CREATE TABLE conn_r $schemaSql")
    ddl("INSERT INTO conn_r VALUES (true, 1, 2, 3, 1.5, 2.5, 'a', " +
      "'2024-01-02', '2024-01-02 03:04:05')")
    ddl("INSERT INTO conn_r VALUES (false, NULL, 4, 5, NULL, 3.5, 'b', " +
      "NULL, NULL)")
    val df = spark.read.format("graft")
      .option("db", "default").option("table", "conn_r").load()
    // NOT NULL column surfaces as non-nullable (reference
    // OpenmldbTable.java:69 — !column.isNotNull())
    assert(!df.schema("c7").nullable && df.schema("c3").nullable)
    val got = df.collect().sortBy(r => Option(r.getString(6)).getOrElse(""))
    assert(got.length == 2)
    assert(got(0).getString(6) == "a" && got(0).getLong(3) == 3L)
    assert(got(0).getDate(7).toString == "2024-01-02")
    assert(got(1).getString(6) == "b" && got(1).isNullAt(1) &&
      got(1).isNullAt(7) && got(1).isNullAt(8))
  }

  test("column pruning and filter pushdown reach the scan") {
    ddl(s"CREATE TABLE conn_p $schemaSql")
    (1 to 50).foreach(i => ddl(
      s"INSERT INTO conn_p VALUES (true, 1, $i, ${i}0, 1.0, 2.0, 'r$i', " +
        "'2024-01-01', '2024-01-01 00:00:00')"))
    val df = spark.read.format("graft")
      .option("db", "default").option("table", "conn_p").load()
      .filter("c3 > 40").select("c3", "c7")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(c3,40)"), plan)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == (41 to 50))
    // pruned read schema: the scan's readSchema carries only (c3, c7)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("c6"), scan)
  }

  test("multi-partition slicing honors numPartitions") {
    ddl(s"CREATE TABLE conn_n $schemaSql")
    (1 to 12).foreach(i => ddl(
      s"INSERT INTO conn_n VALUES (true, 1, $i, 1, 1.0, 2.0, 'x', " +
        "'2024-01-01', '2024-01-01 00:00:00')"))
    val df = spark.read.format("graft").option("db", "default")
      .option("table", "conn_n").option("numPartitions", "4").load()
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 12)
  }

  test("append write inserts; putIfAbsent dedups full rows") {
    ddl(s"CREATE TABLE conn_w $schemaSql")
    ddl("INSERT INTO conn_w VALUES (true, 1, 1, 1, 1.0, 1.0, 'seed', " +
      "'2024-01-01', '2024-01-01 00:00:00')")
    val view = spark.table("conn_w")
    val two = view.union(view.withColumn("c3",
      org.apache.spark.sql.functions.lit(99)))
    val opts = Map("db" -> "default", "table" -> "conn_w")
    two.write.format("graft").options(opts).mode("append").save()
    assert(spark.table("conn_w").count() == 3) // seed + (dup seed, 99)
    // putIfAbsent: re-writing the same two rows adds nothing new
    // beyond the rows not already present
    spark.table("conn_w").write.format("graft").options(opts)
      .option("putIfAbsent", "true").mode("append").save()
    // seed appears twice in the table, so the put-if-absent write of
    // the current snapshot adds zero rows only if every row value
    // already exists — it does (dup seed rows match by value)
    assert(spark.table("conn_w").count() == 3)
  }

  test("write-schema mismatch is an AnalysisException (reference TestWrite)") {
    ddl(s"CREATE TABLE conn_s $schemaSql")
    val bad = spark.createDataFrame(
      java.util.List.of(Row("all", "string", "cols")),
      StructType(Seq(StructField("a", StringType),
        StructField("b", StringType), StructField("c", StringType))))
    val e = intercept[AnalysisException] {
      bad.write.format("graft")
        .option("db", "default").option("table", "conn_s")
        .mode("append").save()
    }
    assert(e.getMessage != null)
  }

  test("option preconditions match the reference") {
    val r = spark.read.format("graft")
    val e1 = intercept[IllegalArgumentException] {
      r.option("table", "t").load()
    }
    assert(e1.getMessage.contains("db name must not be empty"))
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("db", "default").load()
    }
    assert(e2.getMessage.contains("table name must not be empty"))
    val e3 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("db", "default")
        .option("table", "conn_r").option("writerType", "stream").load()
    }
    assert(e3.getMessage.contains("writerType must be 'single' or 'batch'"))
    val e4 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("db", "default")
        .option("table", "nope_missing").load()
    }
    assert(e4.getMessage.contains("does not exist"))
  }

  test("unsupported column type rejected with the reference's shape") {
    spark.createDataFrame(java.util.List.of(Row(Seq(1, 2))),
      StructType(Seq(StructField("arr", ArrayType(IntegerType)))))
      .createOrReplaceTempView("conn_arr")
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("db", "default")
        .option("table", "conn_arr").load().collect()
    }
    assert(e.getMessage.contains("No support for sql type"))
  }

  test("seeded differential: pushdown reads equal direct view reads") {
    ddl(s"CREATE TABLE conn_f $schemaSql")
    val rnd = new scala.util.Random(20260816)
    (1 to 60).foreach { i =>
      val c8 = if (i % 7 == 0) "NULL" else s"'2024-01-${i % 28 + 1}'"
      ddl(s"INSERT INTO conn_f VALUES (${i % 2 == 0}, ${i % 5}, $i, " +
        s"${i * 10}, ${i % 3}.5, ${i % 11}.25, 'v${i % 13}', $c8, " +
        "'2024-01-01 00:00:00')")
    }
    val direct = spark.table("conn_f")
    val viaDs = spark.read.format("graft")
      .option("db", "default").option("table", "conn_f").load()
    val preds = Seq("c3 > 100", "c2 = 3", "c7 like 'v1%'", "c8 is null",
      "c6 <= 5.25", "c4 in (10, 500, 990)", "c1 = true and c5 > 1.0",
      "c7 > 'v5' or c3 < 20")
    val colPool = Seq("c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8")
    (1 to 30).foreach { _ =>
      val pred = preds(rnd.nextInt(preds.length))
      val cols = rnd.shuffle(colPool).take(1 + rnd.nextInt(4))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.filter(pred)
          .select(cols.map(org.apache.spark.sql.functions.col): _*)
          .collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(canon(viaDs) == canon(direct), s"pred=$pred cols=$cols")
    }
  }

  test("writeStream.format(\"graft\"): micro-batches append to the online " +
      "table; putIfAbsent makes epoch replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    ddl("CREATE TABLE conn_st (c3 int, c7 string)")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_conn_st_ckpt")
    val q = mem.toDF().toDF("c3", "c7").writeStream.format("graft")
      .option("db", "default").option("table", "conn_st")
      .option("putIfAbsent", "true")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      mem.addData((1, "a"), (2, "b")); q.processAllAvailable()
      mem.addData((3, "c")); q.processAllAvailable()
      // replayed rows (same values) dedup under putIfAbsent
      mem.addData((2, "b")); q.processAllAvailable()
      val got = spark.table("conn_st").as[(Int, String)]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("DB-SCOPED streaming write: 20 epoch commits resolve on the " +
      "default session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    ddl("CREATE DATABASE IF NOT EXISTS conndb")
    GraftSql.registerDbTable(spark, "conndb", "st_scoped",
      Seq.empty[(Int, String)].toDF("c3", "c7"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scoped_ckpt")
    val q = mem.toDF().toDF("c3", "c7").writeStream.format("graft")
      .option("db", "conndb").option("table", "st_scoped")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      // 20 epochs, each one write to the online store
      (1 to 20).foreach { i =>
        mem.addData((i, s"r$i")); q.processAllAvailable()
      }
      val df = spark.read.format("graft")
        .option("db", "conndb").option("table", "st_scoped").load()
      assert(df.count() == 20)
      assert(df.collect().map(_.getInt(0)).sorted.toSeq == (1 to 20))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("putIfAbsent collapses identical rows WITHIN one batch " +
      "(reference per-row put_if_absent keeps exactly one)") {
    import spark.implicits._
    ddl("CREATE TABLE conn_wb (c3 int, c7 string)")
    Seq((1, "x"), (1, "x"), (2, "y")).toDF("c3", "c7")
      .write.format("graft")
      .option("db", "default").option("table", "conn_wb")
      .option("putIfAbsent", "true").mode("append").save()
    assert(spark.table("conn_wb").count() == 2)
  }

  test("maxScanRows budget: oversized snapshot read fails loudly " +
      "naming the offline path; the budget applies post-pushdown") {
    ddl("CREATE TABLE conn_cap (c3 int, c7 string)")
    (1 to 6).foreach(i =>
      ddl(s"INSERT INTO conn_cap VALUES ($i, 'r$i')"))
    def rd = spark.read.format("graft").option("db", "default")
      .option("table", "conn_cap").option("maxScanRows", "3")
    val e = intercept[Exception] { rd.load().collect() }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxScanRows") && msg.contains("offline"), msg)
    // pushdown runs BEFORE the budget check: a filtered read whose
    // post-pushdown volume fits the budget succeeds
    assert(rd.load().filter("c3 <= 3").count() == 3)
    val bad = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("db", "default")
        .option("table", "conn_cap").option("maxScanRows", "0").load()
    }
    assert(bad.getMessage.contains("maxScanRows must be positive"))
  }

  test("streaming commit targets the ORIGINATING session (a stream " +
      "started from spark.newSession() must not land in the default " +
      "session's registry)") {
    import org.apache.spark.sql.SparkSession
    val s2 = spark.newSession()
    GraftSql.statement(s2, "CREATE TABLE conn_ns (c3 int, c7 string)")
    // decoy with the same name in the DEFAULT session: a commit that
    // wrongly resolves via getDefaultSession would append HERE
    ddl("CREATE TABLE conn_ns (c3 int, c7 string)")
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_conn_ns_ckpt")
    implicit val sqlCtx = s2.sqlContext
    import sqlCtx.sparkSession.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String)]
    val q = mem.toDF().toDF("c3", "c7").writeStream.format("graft")
      .option("db", "default").option("table", "conn_ns")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      mem.addData((1, "a"), (2, "b")); q.processAllAvailable()
      assert(s2.table("conn_ns").count() == 2,
        "rows must land in the originating session's table")
      assert(spark.table("conn_ns").count() == 0,
        "the default session's same-named table must stay empty")
    } finally {
      q.stop()
      prev match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None    => SparkSession.clearActiveSession()
      }
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("db-scoped tables resolve through the db option") {
    ddl("CREATE DATABASE IF NOT EXISTS conndb")
    GraftSql.registerDbTable(spark, "conndb", "scoped",
      spark.range(3).toDF("id")
        .selectExpr("CAST(id AS BIGINT) AS c4"))
    val df = spark.read.format("graft")
      .option("db", "conndb").option("table", "scoped").load()
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }
}
