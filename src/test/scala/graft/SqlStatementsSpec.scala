package graft

import org.apache.spark.sql.functions._
import graft.sql.GraftSql

/** Statement surface: CREATE TABLE / INSERT / DELETE / TRUNCATE / DROP
  * / LOAD DATA INFILE / SELECT INTO OUTFILE / DEPLOY, plus the online
  * request-mode clause legality checks
  * (ONLINE_REQUEST_REQUIREMENTS.md). */
class SqlStatementsSpec extends SparkSpec {
  import spark.implicits._

  test("CREATE TABLE + INSERT VALUES + DELETE + SELECT lifecycle") {
    GraftSql.statement(spark, "DROP TABLE IF EXISTS st1")
    GraftSql.statement(spark,
      "CREATE TABLE st1 (id bigint, g string, v double, ok bool)")
    GraftSql.statement(spark,
      "INSERT INTO st1 VALUES (1, 'a', 1.5, true), (2, 'b', -2.5, false), (3, 'a', NULL, true)")
    GraftSql.statement(spark, "DELETE FROM st1 WHERE id = 2")
    val out = GraftSql.sql(spark,
      "SELECT g, count(*) AS c, sum(v) AS s FROM st1 GROUP BY g")
      .as[(String, Long, Option[Double])].collect().toSeq
    assert(out.map(_._1).toSet == Set("a"))
    val row = GraftSql.sql(spark, "SELECT id, ok FROM st1 WHERE g = 'a'")
      .as[(Long, Boolean)].collect().sorted
    assert(row.toSeq == Seq((1L, true), (3L, true)))
  }

  test("DROP DATABASE: empty drops, non-empty refuses, unknown errors " +
      "(name_server_impl.cc:9160)") {
    GraftSql.resetCatalogState(spark)
    try dropDatabaseBody()
    finally GraftSql.resetCatalogState(spark)
  }

  private def dropDatabaseBody(): Unit = {
    GraftSql.statement(spark, "CREATE DATABASE dd1")
    GraftSql.statement(spark, "CREATE DATABASE dd2")
    GraftSql.statement(spark, "USE dd2")
    GraftSql.statement(spark, "CREATE TABLE ddt (k bigint)")
    val e = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "DROP DATABASE dd2")
    }
    assert(e.getMessage.contains("database not empty"))
    GraftSql.statement(spark, "DROP TABLE ddt")
    GraftSql.statement(spark, "DROP DATABASE dd2")
    GraftSql.statement(spark, "DROP DATABASE dd1")
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "DROP DATABASE dd1")
    }
    GraftSql.statement(spark, "DROP DATABASE IF EXISTS dd1") // no-op
    val dbs = GraftSql.statement(spark, "SHOW DATABASES").get
      .collect().map(_.getString(0)).toSet
    assert(!dbs.contains("dd1") && !dbs.contains("dd2"))
  }

  test("CREATE TABLE LIKE PARQUET takes the file's schema " +
      "(CREATE_TABLE_STATEMENT.md:199-207)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_like").toString
    Seq((1L, "x", 2.5)).toDF("k", "s", "v").write.parquet(s"$dir/src")
    GraftSql.statement(spark, "DROP TABLE IF EXISTS st_like")
    GraftSql.statement(spark,
      s"CREATE TABLE st_like LIKE PARQUET 'file://$dir/src'")
    val sch = spark.table("st_like").schema
    assert(sch.fieldNames.toSeq == Seq("k", "s", "v"))
    assert(spark.table("st_like").count() == 0) // a shell, not a copy
    GraftSql.statement(spark, "INSERT INTO st_like VALUES (7, 'y', 1.5)")
    assert(GraftSql.sql(spark, "SELECT k FROM st_like").count() == 1)
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark,
        s"CREATE TABLE st_like2 LIKE CSV 'file://$dir/src'")
    }
    GraftSql.statement(spark, "DROP TABLE st_like")
  }

  test("INSERT with explicit column subset null-fills the rest") {
    GraftSql.statement(spark, "CREATE TABLE st2 (a int, b string, c double)")
    GraftSql.statement(spark, "INSERT INTO st2 (a, c) VALUES (7, 3.5)")
    val r = GraftSql.sql(spark, "SELECT a, b, c FROM st2").collect()(0)
    assert(r.getInt(0) == 7 && r.isNullAt(1) && r.getDouble(2) == 3.5)
  }

  test("TRUNCATE empties, INSERT schema mismatch rejects") {
    GraftSql.statement(spark, "CREATE TABLE st3 (a int)")
    GraftSql.statement(spark, "INSERT INTO st3 VALUES (1), (2)")
    GraftSql.statement(spark, "TRUNCATE TABLE st3")
    assert(spark.table("st3").count() == 0)
    intercept[Exception] {
      GraftSql.statement(spark, "INSERT INTO st_missing VALUES (1)")
    }
  }

  test("SELECT INTO OUTFILE then LOAD DATA INFILE round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stmt").toString
    Seq((1L, "x"), (2L, "y")).toDF("k", "s").createOrReplaceTempView("st_src")
    GraftSql.statement(spark,
      s"""SELECT k, s FROM st_src INTO OUTFILE '$dir/out'
         |OPTIONS (format='csv', mode='overwrite', header=true)""".stripMargin)
    GraftSql.statement(spark, "DROP TABLE IF EXISTS st_loaded")
    GraftSql.statement(spark, "CREATE TABLE st_loaded (k bigint, s string)")
    GraftSql.statement(spark,
      s"LOAD DATA INFILE '$dir/out' INTO TABLE st_loaded OPTIONS (format='csv', header=true, mode='append')")
    val got = GraftSql.sql(spark, "SELECT k, s FROM st_loaded")
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "x"), (2L, "y")))
  }

  test("DEPLOY stores a validated query and serves batch requests") {
    val hist = Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u2", 5L, 5.0))
      .toDF("k", "ts", "v")
    hist.createOrReplaceTempView("st_ev")
    GraftSql.statement(spark,
      """DEPLOY d1 SELECT k, sum(v) OVER w AS s FROM st_ev
        |WINDOW w AS (PARTITION BY k ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin)
    assert(GraftSql.deployment(spark, "d1").isDefined)
    val reqs = Seq(("u1", 30L, 3.0)).toDF("k", "ts", "v")
    val out = GraftSql.serveDeployment(spark, "d1", reqs)
      .as[(String, Double)].collect().toSeq
    assert(out == Seq(("u1", 6.0))) // 1+2+request row's 3
    // duplicate names are rejected unless overwrite is requested
    val dup = intercept[IllegalArgumentException] {
      GraftSql.statement(spark,
        "DEPLOY d1 SELECT k FROM st_ev")
    }
    assert(dup.getMessage.contains("already exists"))
    GraftSql.statement(spark,
      "DEPLOY d1 OPTIONS(overwrite=true) SELECT k FROM st_ev")
    assert(GraftSql.deployment(spark, "d1").get.startsWith("SELECT k"))
  }

  // ---- request-mode clause legality (ONLINE_REQUEST_REQUIREMENTS.md) ----

  private def deployFails(sql: String): String =
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, s"DEPLOY dx $sql")
    }.getMessage

  test("DEPLOY rejects clauses the reference forbids online") {
    Seq(("u1", 1L, 1.0)).toDF("k", "ts", "v").createOrReplaceTempView("st_ev2")
    assert(deployFails("SELECT k FROM st_ev2 WHERE v > 1")
      .contains("WHERE"))
    assert(deployFails("SELECT k, sum(v) AS s FROM st_ev2 GROUP BY k")
      .contains("GROUP BY"))
    assert(deployFails("SELECT k FROM st_ev2 UNION ALL SELECT k FROM st_ev2")
      .contains("UNION"))
    assert(deployFails("WITH c AS (SELECT k FROM st_ev2) SELECT k FROM c")
      .contains("WITH"))
    assert(deployFails(
      "SELECT a.k FROM st_ev2 a LEFT JOIN st_ev2 b ON a.k = b.k")
      .contains("LEFT JOIN"))
  }

  // ---- database namespaces (ddl/USE_DATABASE_STATEMENT.md,
  //      CREATE_DATABASE_STATEMENT.md; CmdType SHOW surface) ----

  test("CREATE DATABASE / USE / SHOW / db-scoped DDL round-trip") {
    GraftSql.statement(spark, "CREATE DATABASE graft_db_a")
    GraftSql.statement(spark, "CREATE DATABASE IF NOT EXISTS graft_db_b")
    val dbs = GraftSql.statement(spark, "SHOW DATABASES").get
      .collect().map(_.getString(0)).toSet
    assert(dbs.contains("graft_db_a") && dbs.contains("graft_db_b"))
    // USE of an unknown database is an error, like the reference
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "USE graft_db_missing")
    }
    GraftSql.statement(spark, "USE graft_db_a")
    try {
      GraftSql.statement(spark, "CREATE TABLE dbt (id bigint, v double)")
      GraftSql.statement(spark,
        "INSERT INTO dbt VALUES (1, 1.5), (2, 2.5)")
      // unqualified resolution against the current database
      assert(GraftSql.sql(spark, "SELECT id, v FROM dbt").count() == 2L)
      // explicit db.table resolution from any database context
      assert(GraftSql.sql(spark,
        "SELECT id FROM graft_db_a.dbt").count() == 2L)
      val tables = GraftSql.statement(spark, "SHOW TABLES").get
        .collect().map(_.getString(0)).toSet
      assert(tables.contains("dbt"))
      val deps = GraftSql.statement(spark, "SHOW DEPLOYMENTS").get
      assert(deps.columns.sameElements(Array("Deployment")))
    } finally {
      // a database refuses to drop while it still holds tables
      // (name_server_impl.cc:9160)
      GraftSql.statement(spark, "DROP TABLE dbt")
      GraftSql.statement(spark, "DROP DATABASE graft_db_a")
      GraftSql.statement(spark, "DROP DATABASE IF EXISTS graft_db_b")
    }
    // dropping the current database clears the session default
    assert(GraftSql.statement(spark, "SHOW DATABASES").get.count() == 0L)
  }

  test("SET and SHOW VARIABLES (session system variables)") {
    GraftSql.resetCatalogState(spark)
    def vars(): Map[String, String] =
      GraftSql.statement(spark, "SHOW VARIABLES").get.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    // defaults (SET_STATEMENT.md)
    assert(vars()("execute_mode") == "online")
    assert(vars()("enable_trace") == "false")
    // all equivalent spellings; names case-insensitive
    GraftSql.statement(spark, """SET @@session.execute_mode = "offline"""")
    assert(vars()("execute_mode") == "offline")
    GraftSql.statement(spark, """SET @@EXECUTE_MODE = "online"""")
    assert(vars()("execute_mode") == "online")
    GraftSql.statement(spark, "SET SESSION enable_trace = 'true'")
    assert(vars()("enable_trace") == "true")
    GraftSql.statement(spark, "SET @@global.sync_job = 'true'")
    assert(vars()("sync_job") == "true")
    // only built-in variables may be set; values are validated
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, """SET @@execute_olol = "offline"""")
    }
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, """SET @@execute_mode = "sideways"""")
    }
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "SET @@job_timeout = 'soon'")
    }
    GraftSql.resetCatalogState(spark)
    assert(vars()("execute_mode") == "online")
  }

  test("SET @@spark_config applies runtime confs to the offline job") {
    GraftSql.resetCatalogState(spark)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // runtime SQL conf applies immediately (the session IS the
      // offline job); static launch confs are accepted and deferred
      GraftSql.statement(spark,
        "SET @@spark_config = 'spark.sql.shuffle.partitions=7;spark.executor.memory=2g'")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      // value case preserved (SHOW VARIABLES shows the raw string)
      val v = GraftSql.statement(spark, "SHOW VARIABLES").get.collect()
        .find(_.getString(0) == "spark_config").get.getString(1)
      assert(v.contains("spark.executor.memory=2g"))
      intercept[IllegalArgumentException] {
        GraftSql.statement(spark, "SET @@spark_config = 'nonsense'")
      }
      intercept[IllegalArgumentException] {
        GraftSql.statement(spark, "SET @@spark_config = 'foo.bar=1'")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      GraftSql.resetCatalogState(spark)
    }
  }

  test("SHOW COMPONENTS and SHOW CREATE TABLE") {
    GraftSql.resetCatalogState(spark)
    val comps = GraftSql.statement(spark, "SHOW COMPONENTS").get.collect()
    assert(comps.count(_.getString(1) == "tablet") == 3)
    assert(comps.exists(_.getString(1) == "nameserver"))
    GraftSql.statement(spark,
      """CREATE TABLE sct1 (c1 string, c2 int, c4 timestamp,
        |index(key=(c1), ts=c4, ttl=10m, ttl_type=absolute))""".stripMargin)
    try {
      val row = GraftSql.statement(spark, "SHOW CREATE TABLE sct1")
        .get.collect().head
      assert(row.getString(0) == "sct1")
      val ddl = row.getString(1)
      assert(ddl.contains("`c1` varchar"))
      assert(ddl.contains("`c4` timestamp"))
      assert(ddl.contains("INDEX (KEY=(`c1`), TS=`c4`, " +
        "TTL_TYPE=ABSOLUTE, TTL=10m"))
    } finally GraftSql.statement(spark, "DROP TABLE sct1")
  }

  test("CALL invokes a deployment with one typed request row") {
    // dml/CALL_STATEMENT.md: CALL dp(args) — args match the request
    // table's schema; the answer is the deployment's features for that
    // single request row against the stored history
    GraftSql.resetDeployments(spark)
    val hist = Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u2", 5L, 5.0))
      .toDF("k", "ts", "v")
    hist.createOrReplaceTempView("call_ev")
    GraftSql.statement(spark,
      """DEPLOY call_d SELECT k, sum(v) OVER w AS s FROM call_ev
        |WINDOW w AS (PARTITION BY k ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin)
    val out = GraftSql.statement(spark, "CALL call_d ('u1', 30, 3.0)")
      .get.as[(String, Double)].collect().toSeq
    assert(out == Seq(("u1", 6.0))) // 1 + 2 + the request row's 3
    // a stored procedure invokes the same way (DEPLOY is an SP)
    GraftSql.statement(spark,
      """CREATE PROCEDURE call_p (kk string, tts bigint, vv double)
        |BEGIN SELECT k, count(v) OVER w AS c FROM call_ev
        |WINDOW w AS (PARTITION BY k ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW); END""".stripMargin)
    val pc = GraftSql.statement(spark, "CALL call_p ('u2', 50, 0.5)")
      .get.as[(String, Long)].collect().toSeq
    assert(pc == Seq(("u2", 2L))) // history row + request row
    // arg-count and name errors
    val eArgs = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "CALL call_d ('u1', 30)")
    }
    assert(eArgs.getMessage.contains("expects 3 arguments"))
    val eName = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "CALL nope (1)")
    }
    assert(eName.getMessage.contains("no deployment or procedure"))
    GraftSql.resetDeployments(spark)
  }

  test("ALTER TABLE edits offline paths; SHOW TABLE STATUS reports them") {
    GraftSql.resetCatalogState(spark)
    GraftSql.statement(spark,
      """CREATE TABLE ts_t (k string, ts bigint, v double)
        |OPTIONS (partitionnum=4, replicanum=2, storage_mode='ssd')""".stripMargin)
    GraftSql.statement(spark, "INSERT INTO ts_t VALUES ('a', 1, 1.5)")
    GraftSql.statement(spark, "INSERT INTO ts_t VALUES ('b', 2, 2.5)")
    GraftSql.statement(spark,
      "ALTER TABLE ts_t ADD offline_path 'file:///tmp/p1', " +
        "ADD offline_path 'file:///tmp/p2', DROP offline_path 'file:///tmp/p1'")
    val st = GraftSql.statement(spark, "SHOW TABLE STATUS").get
    assert(st.columns.toSeq == Seq("Table_id", "Table_name",
      "Database_name", "Storage_type", "Rows", "Memory_data_size",
      "Disk_data_size", "Partition", "Partition_unalive", "Replica",
      "Offline_path", "Offline_format", "Offline_symbolic_paths",
      "Warnings"))
    val row = st.filter($"Table_name" === "ts_t").collect().head
    assert(row.getAs[String]("Storage_type") == "ssd")
    assert(row.getAs[Long]("Rows") == 2L)
    assert(row.getAs[Int]("Partition") == 4)
    assert(row.getAs[Int]("Replica") == 2)
    // ssd storage accounts under disk, not memory
    assert(row.getAs[Long]("Memory_data_size") == 0L)
    assert(row.getAs[Long]("Disk_data_size") > 0L)
    assert(row.getAs[String]("Offline_symbolic_paths") == "file:///tmp/p2")
    // defaults for a plain view: memory storage, 8 partitions, 3 replicas
    Seq((1, "x")).toDF("a", "b").createOrReplaceTempView("ts_view")
    val vr = GraftSql.statement(spark, "SHOW TABLE STATUS").get
      .filter($"Table_name" === "ts_view").collect().head
    assert(vr.getAs[String]("Storage_type") == "memory" &&
      vr.getAs[Int]("Partition") == 8 && vr.getAs[Int]("Replica") == 3)
    assert(vr.getAs[String]("Database_name") == "default")
    // LIKE filters by DATABASE name (SHOW_TABLE_STATUS.md)
    assert(GraftSql.statement(spark, "SHOW TABLE STATUS LIKE 'nodb'")
      .get.collect().isEmpty)
    assert(GraftSql.statement(spark, "SHOW TABLE STATUS LIKE 'def%'")
      .get.filter($"Table_name" === "ts_t").count() == 1)
    // bad ALTER shapes
    val eAct = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "ALTER TABLE ts_t RENAME offline_path 'x'")
    }
    assert(eAct.getMessage.contains("ADD or DROP"))
    val eKw = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "ALTER TABLE ts_t ADD online_path 'x'")
    }
    assert(eKw.getMessage.contains("offline_path"))
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "ALTER TABLE ts_missing ADD offline_path 'x'")
    }
    GraftSql.statement(spark, "DROP TABLE ts_t")
    spark.catalog.dropTempView("ts_view")
    GraftSql.resetCatalogState(spark)
  }

  test("SHOW TABLE STATUS serves stored stats, recounting only on mutation") {
    GraftSql.resetCatalogState(spark)
    GraftSql.statement(spark, "CREATE TABLE st_cache (k string, v int)")
    GraftSql.statement(spark, "INSERT INTO st_cache VALUES ('a', 1)")
    def rowsOf(): Long = GraftSql.statement(spark, "SHOW TABLE STATUS").get
      .filter($"Table_name" === "st_cache").collect()
      .head.getAs[Long]("Rows")
    assert(rowsOf() == 1L) // first SHOW counts and stores
    // repeat SHOW: stats come from the session cache — no count job
    // (count jobs carry a "count at" callsite)
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobSites.add(Option(j.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(rowsOf() == 1L)
      // listener delivery is async — poll briefly for the bus to drain
      Thread.sleep(500)
      val counts = jobSites.toArray.map(_.toString)
        .filter(_.startsWith("count at"))
      assert(counts.isEmpty, s"repeat SHOW recounted: ${counts.toSeq}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // mutation re-registers the view with a new plan → recount
    GraftSql.statement(spark, "INSERT INTO st_cache VALUES ('b', 2)")
    assert(rowsOf() == 2L)
    GraftSql.statement(spark, "DROP TABLE st_cache")
    GraftSql.resetCatalogState(spark)
  }

  test("user statements: CREATE/ALTER/DROP USER, SHOW CURRENT_USER") {
    // ddl/{CREATE,ALTER,DROP}_USER_STATEMENT.md semantics: only
    // password in OPTIONS, unchanged when unspecified, root undeletable
    GraftSql.statement(spark, "CREATE USER su_u1")
    GraftSql.statement(spark, "CREATE USER IF NOT EXISTS su_u1")
    val eDup = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "CREATE USER su_u1")
    }
    assert(eDup.getMessage.contains("already exists"))
    GraftSql.statement(spark,
      "CREATE USER su_u2 OPTIONS (password='123456')")
    assert(GraftSql.userPassword(spark, "su_u2").contains("123456"))
    assert(GraftSql.userPassword(spark, "su_u1").contains(""))
    // ALTER without SET is a validated no-op (the doc's first example)
    GraftSql.statement(spark, "ALTER USER su_u2")
    assert(GraftSql.userPassword(spark, "su_u2").contains("123456"))
    GraftSql.statement(spark,
      "ALTER USER su_u2 SET OPTIONS (password='pw2')")
    assert(GraftSql.userPassword(spark, "su_u2").contains("pw2"))
    GraftSql.statement(spark, "ALTER USER IF EXISTS su_missing SET OPTIONS (password='x')")
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "ALTER USER su_missing SET OPTIONS (password='x')")
    }
    // only password is a legal option key
    val eOpt = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "CREATE USER su_u3 OPTIONS (role='admin')")
    }
    assert(eOpt.getMessage.contains("only password"))
    // root cannot be deleted; IF EXISTS tolerates missing users
    val eRoot = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "DROP USER root")
    }
    assert(eRoot.getMessage.contains("root"))
    GraftSql.statement(spark, "DROP USER su_u1")
    GraftSql.statement(spark, "DROP USER IF EXISTS su_u1")
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "DROP USER su_u1")
    }
    GraftSql.statement(spark, "DROP USER su_u2")
    val cu = GraftSql.statement(spark, "SHOW CURRENT_USER").get
    assert(cu.columns.toSeq == Seq("User"))
    assert(cu.collect().map(_.getString(0)).toSeq == Seq("root"))
  }

  // ---- job management (task_manage/*.md): SHOW JOBS / SHOW JOB /
  // SHOW JOBLOG / STOP JOB / DELETE JOB over the offline-job registry
  // fed by the job-producing statements (SUBMIT_JOB.md) ----

  test("LOAD DATA and SELECT INTO register TaskManager jobs") {
    GraftSql.resetCatalogState(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    Seq((1L, "x"), (2L, "y")).toDF("k", "s").createOrReplaceTempView("jb_src")
    GraftSql.statement(spark,
      s"""SELECT k, s FROM jb_src INTO OUTFILE '$dir/out'
         |OPTIONS (format='csv', mode='overwrite', header=true)""".stripMargin)
    GraftSql.statement(spark, "CREATE TABLE jb_t (k bigint, s string)")
    GraftSql.statement(spark,
      s"LOAD DATA INFILE '$dir/out' INTO TABLE jb_t OPTIONS (format='csv', header=true, mode='append')")

    val jobsDf = GraftSql.statement(spark, "SHOW JOBS").get
    // the reference's full 14-column schema (SHOW_JOBS.md:41):
    // nameserver-op fields are NULL, component is TaskManager
    assert(jobsDf.columns.toSeq == Seq("job_id", "job_type", "state",
      "start_time", "end_time", "parameter", "cluster", "application_id",
      "error", "db", "name", "pid", "cur_task", "component"))
    val jobs = jobsDf.collect()
    assert(jobs.forall(r => r.isNullAt(9) && r.isNullAt(12) &&
      r.getString(13) == "TaskManager"))
    assert(jobs.length == 2)
    assert(jobs.map(_.getString(1)).toSet ==
      Set("ExportOfflineData", "ImportOnlineData"))
    assert(jobs.forall(_.getString(2) == "FINISHED"))
    assert(jobs.forall(_.getString(4).nonEmpty)) // end_time set
    assert(jobs.forall(_.getString(8).isEmpty))  // no error
    // parameter records the submitted statement
    assert(jobs.exists(_.getString(5).startsWith("LOAD DATA")))

    // SHOW JOB <id> returns that row; SHOW JOBLOG its captured log
    val j1 = GraftSql.statement(spark, "SHOW JOB 1").get.collect()
    assert(j1.length == 1 && j1.head.getLong(0) == 1L)
    val log = GraftSql.statement(spark, "SHOW JOBLOG 1").get
      .collect().map(_.getString(0)).toSeq
    assert(log.exists(_.contains("submitted")) &&
      log.exists(_.contains("finished")))

    // LIKE filters on the job id; NAMESERVER has no jobs here
    assert(GraftSql.statement(spark, "SHOW JOBS LIKE '2'")
      .get.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(GraftSql.statement(spark, "SHOW JOBS LIKE '%'")
      .get.collect().length == 2)
    assert(GraftSql.statement(spark, "SHOW JOBS FROM TASKMANAGER")
      .get.collect().length == 2)
    assert(GraftSql.statement(spark, "SHOW JOBS FROM NAMESERVER")
      .get.collect().isEmpty)
    GraftSql.statement(spark, "DROP TABLE jb_t")
  }

  test("failed jobs record FAILED state and the error; STOP/DELETE JOB") {
    GraftSql.resetCatalogState(spark)
    GraftSql.statement(spark, "CREATE TABLE jb_f (k bigint)")
    intercept[Exception] {
      GraftSql.statement(spark,
        "LOAD DATA INFILE '/nonexistent/path' INTO TABLE jb_f " +
          "OPTIONS (format='csv', mode='append')")
    }
    val j = GraftSql.statement(spark, "SHOW JOB 1").get.collect().head
    assert(j.getString(2) == "FAILED" && j.getString(8).nonEmpty)

    // STOP JOB on a terminal job keeps its final state (local-mode
    // semantics: status-table update only)
    val stopped = GraftSql.statement(spark, "STOP JOB 1").get.collect().head
    assert(stopped.getString(2) == "FAILED")

    GraftSql.statement(spark, "DELETE JOB 1")
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "SHOW JOB 1")
    }
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "STOP JOB 99")
    }
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "STOP JOB abc")
    }
    // a missing id (next() at EOF yields "") gets the intended message,
    // not a raw NumberFormatException (forall on "" is vacuously true)
    val eEmpty = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "STOP JOB")
    }
    assert(eEmpty.getMessage.contains("invalid job id"))
    GraftSql.statement(spark, "DROP TABLE jb_f")
  }

  test("DEDUP TABLE statement: exact dedup into a queryable view") {
    GraftSql.statement(spark, "DROP TABLE IF EXISTS dd1")
    GraftSql.statement(spark, "CREATE TABLE dd1 (id bigint, t string, score double)")
    GraftSql.statement(spark,
      "INSERT INTO dd1 VALUES (1, 'aa', 0.5), (2, 'aa', 0.9), " +
        "(3, 'bb', 0.1), (4, 'aa', 0.7), (5, 'bb', 0.2)")
    // KEEP FIRST ORDER BY id: min id survives per text
    GraftSql.statement(spark,
      "DEDUP TABLE dd1 BY t KEEP FIRST ORDER BY id INTO dd1_first")
    val first = GraftSql.sql(spark, "SELECT id, t FROM dd1_first")
      .as[(Long, String)].collect().toSeq.sorted
    assert(first == Seq((1L, "aa"), (3L, "bb")))
    // KEEP LAST ORDER BY score: max score survives
    GraftSql.statement(spark,
      "DEDUP TABLE dd1 BY t KEEP LAST ORDER BY score INTO dd1_best")
    val best = GraftSql.sql(spark, "SELECT id, t FROM dd1_best")
      .as[(Long, String)].collect().toSeq.sorted
    assert(best == Seq((2L, "aa"), (5L, "bb")))
    // without KEEP: lexicographic min over all columns — deterministic
    GraftSql.statement(spark, "DEDUP TABLE dd1 BY t INTO dd1_min")
    val mn = GraftSql.sql(spark, "SELECT id, t FROM dd1_min")
      .as[(Long, String)].collect().toSeq.sorted
    assert(mn == Seq((1L, "aa"), (3L, "bb")))
    // multi-key BY keeps key tuples apart
    GraftSql.statement(spark,
      "DEDUP TABLE dd1 BY t, score KEEP FIRST ORDER BY id INTO dd1_mk")
    assert(GraftSql.sql(spark, "SELECT count(*) AS c FROM dd1_mk")
      .as[Long].head() == 5L)
    // errors: missing source, malformed KEEP
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.statement(spark, "DEDUP TABLE nope BY x INTO y")
    }
    assert(e1.getMessage.contains("does not exist"))
    intercept[IllegalArgumentException] {
      GraftSql.statement(spark,
        "DEDUP TABLE dd1 BY t KEEP MIDDLE ORDER BY id INTO z")
    }
  }

  test("hash_sample / hash_sample_fraction / heavy_hitters through " +
      "the dialect match the Scala operators") {
    import org.apache.spark.sql.functions._
    val docs = (1 to 200).map(i => (i.toLong, s"w${i % 9} w${i % 4}"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("hs_docs")
    // hash_sample == Sampling.hashSample row-for-row
    val viaSql = GraftSql.sql(spark,
      "SELECT doc_id FROM hs_docs WHERE hash_sample(doc_id, 0.3, 's1')")
      .as[Long].collect().toSet
    val viaOp = graft.operators.Sampling.hashSample(
        docs, col("doc_id"), 0.3, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(viaSql == viaOp && viaSql.nonEmpty && viaSql.size < 200)
    // fraction == Sampling.sampleFraction bit-for-bit
    val fr = GraftSql.sql(spark,
      "SELECT doc_id, hash_sample_fraction(doc_id, 's1') AS f FROM hs_docs")
      .as[(Long, Double)].collect().toMap
    val frOp = docs.select(col("doc_id"),
        graft.operators.Sampling.sampleFraction(col("doc_id"), "s1"))
      .as[(Long, Double)].collect().toMap
    assert(fr == frOp)
    // rate must be a literal; out-of-range rejected
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "SELECT doc_id FROM hs_docs WHERE hash_sample(doc_id, doc_id)")
    }
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "SELECT doc_id FROM hs_docs WHERE hash_sample(doc_id, 1.5)")
    }
    // heavy_hitters as a grouped SQL aggregate: the Misra–Gries
    // guarantee (containment of every item with count > N/(k+1),
    // undercount ≤ N/(k+1)) holds per group
    val toks = docs.select(
      (col("doc_id") % 2).cast("string").as("grp"),
      explode(split(col("text"), " ")).as("tok"))
    toks.createOrReplaceTempView("hh_toks")
    val est = GraftSql.sql(spark,
      "SELECT grp, heavy_hitters(tok, 3) AS m FROM hh_toks GROUP BY grp")
      .select(col("grp"), explode(col("m")))
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val exact = toks.groupBy("grp", "tok").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    exact.foreach { case (g, cnts) =>
      val n = cnts.values.sum.toDouble
      val sk = est.getOrElse(g, Map.empty)
      assert(sk.size <= 3, s"group $g sketch oversize")
      cnts.foreach { case (t, c) =>
        if (c > n / 4) assert(sk.contains(t), s"group $g hot '$t' missing")
      }
      sk.foreach { case (t, e) =>
        val c = cnts.getOrElse(t, 0L)
        assert(e <= c && c - e <= n / 4 + 1e-9, s"group $g '$t' bound")
      }
    }
  }

  // ---- per-session state (SessionState): a procedure is one record,
  // DROP TABLE forgets the table's index spec, sessions do not share
  // catalog state ----

  private val procWithSig =
    "CREATE PROCEDURE rp (kk string, const tts bigint) " +
      "BEGIN SELECT kk FROM rp_ev; END"

  test("procedure record: resetCatalogState drops its signature and " +
      "text") {
    val s = spark.newSession()
    GraftSql.statement(s, procWithSig)
    assert(GraftSql.procedureSignature(s, "rp").map(_.map(_._3))
      .contains(Seq(false, true)))
    assert(GraftSql.procedureText(s, "rp").contains(procWithSig))
    GraftSql.resetCatalogState(s)
    assert(GraftSql.procedureSignature(s, "rp").isEmpty)
    assert(GraftSql.procedureText(s, "rp").isEmpty)
    assert(GraftSql.callableBody(s, "rp").isEmpty)
  }

  test("procedure record: resetDeployments drops the procedure") {
    val s = spark.newSession()
    GraftSql.statement(s, procWithSig)
    GraftSql.resetDeployments(s)
    assert(GraftSql.callableBody(s, "rp").isEmpty)
    assert(GraftSql.procedureSignature(s, "rp").isEmpty)
  }

  test("procedure record: re-CREATE without a signature drops the old " +
      "signature") {
    val s = spark.newSession()
    GraftSql.statement(s, procWithSig)
    val plain = "CREATE PROCEDURE rp BEGIN SELECT kk, tts FROM rp_ev; END"
    GraftSql.statement(s, plain)
    assert(GraftSql.procedureSignature(s, "rp").isEmpty)
    assert(GraftSql.procedureText(s, "rp").contains(plain))
    assert(GraftSql.callableBody(s, "rp").exists(_.contains("tts")))
  }

  test("procedure record: a CREATE whose body does not parse leaves " +
      "none") {
    val s = spark.newSession()
    intercept[Exception] {
      GraftSql.statement(s,
        "CREATE PROCEDURE bad_p (kk string) BEGIN NOT A QUERY; END")
    }
    assert(GraftSql.procedureSignature(s, "bad_p").isEmpty)
    assert(GraftSql.procedureText(s, "bad_p").isEmpty)
    assert(GraftSql.callableBody(s, "bad_p").isEmpty)
  }

  test("DROP TABLE drops the index spec DELETE validates against") {
    val s = spark.newSession()
    def deleteByC2(t: String): Seq[(String, Long)] = {
      GraftSql.statement(s, s"INSERT INTO $t VALUES ('a', 1), ('b', 2)")
      GraftSql.statement(s, s"DELETE FROM $t WHERE c2 = 1")
      GraftSql.sql(s, s"SELECT c1, c2 FROM $t").as[(String, Long)]
        .collect().toSeq
    }
    GraftSql.statement(s, "CREATE TABLE di_fresh (c1 string, c2 bigint)")
    val fresh = deleteByC2("di_fresh")
    assert(fresh == Seq(("b", 2L)))
    GraftSql.statement(s,
      "CREATE TABLE di_t (c1 string, c2 bigint, INDEX(key=c1))")
    GraftSql.statement(s, "DROP TABLE di_t")
    GraftSql.statement(s, "CREATE TABLE di_t (c1 string, c2 bigint)")
    assert(deleteByC2("di_t") == fresh)
  }

  /** DELETE's answer: None when it ran, else the rejection message. */
  private def deleteRejection(s: org.apache.spark.sql.SparkSession,
      t: String, cond: String): Option[String] =
    try { GraftSql.statement(s, s"DELETE FROM $t WHERE $cond"); None }
    catch { case e: IllegalArgumentException => Some(e.getMessage) }

  private val noKeyMatch = "do not match the key set of any index"

  test("index registry: a table without an INDEX clause leaves DELETE " +
      "unvalidated") {
    val s = spark.newSession()
    GraftSql.statement(s, "CREATE TABLE ir_a (c1 string, c2 bigint)")
    GraftSql.statement(s, "INSERT INTO ir_a VALUES ('a', 1), ('b', 2)")
    assert(deleteRejection(s, "ir_a", "c2 = 1").isEmpty)
    assert(GraftSql.sql(s, "SELECT c1 FROM ir_a").as[String].collect()
      .toSeq == Seq("b"))
  }

  test("index registry: DELETE validates against a declared INDEX") {
    val s = spark.newSession()
    GraftSql.statement(s,
      "CREATE TABLE ir_b (c1 string, c2 bigint, INDEX(KEY=c1))")
    GraftSql.statement(s, "INSERT INTO ir_b VALUES ('a', 1), ('b', 2)")
    assert(deleteRejection(s, "ir_b", "c2 = 1").exists(
      _.contains(noKeyMatch)))
    assert(deleteRejection(s, "ir_b", "c1 = 'a'").isEmpty)
  }

  test("index registry: CREATE INDEX, then DROP INDEX of the last " +
      "declared index") {
    val s = spark.newSession()
    GraftSql.statement(s, "CREATE TABLE ir_c (c1 string, c2 bigint)")
    GraftSql.statement(s, "INSERT INTO ir_c VALUES ('a', 1), ('b', 2)")
    def indexLines(): Seq[String] =
      GraftSql.statement(s, "SHOW CREATE TABLE ir_c").get.collect()
        .head.getString(1).split("\n").toSeq.map(_.trim)
        .filter(_.startsWith("INDEX"))
    def metas(): Seq[(Seq[String], Option[String])] =
      GraftSql.tableIndexMeta(s, "ir_c").map(m => (m.keys, m.name))
    val auto = "INDEX (KEY=(`c1`), TTL_TYPE=ABSOLUTE, TTL=0m),"
    GraftSql.statement(s, "CREATE INDEX i ON ir_c (c2)")
    // only the declared index validates, not the auto-created default
    assert(deleteRejection(s, "ir_c", "c1 = 'a'").exists(
      _.contains(noKeyMatch)))
    assert(deleteRejection(s, "ir_c", "c2 = 1").isEmpty)
    assert(metas() == Seq((Seq("c1"), None), (Seq("c2"), Some("i"))))
    assert(indexLines() == Seq(auto,
      "INDEX (KEY=(`c2`), TTL_TYPE=ABSOLUTE, TTL=0m)"))
    // after the last declared index is dropped, every DELETE is
    // rejected: the table once declared an index
    GraftSql.statement(s, "DROP INDEX ir_c.i")
    assert(metas() == Seq((Seq("c1"), None)))
    assert(indexLines() == Seq(auto.stripSuffix(",")))
    assert(deleteRejection(s, "ir_c", "c2 = 2").exists(
      _.contains(noKeyMatch)))
    assert(deleteRejection(s, "ir_c", "c1 = 'b'").exists(
      _.contains(noKeyMatch)))
  }

  test("index registry: an unknown TTL_TYPE fails CREATE TABLE and " +
      "CREATE INDEX alike") {
    val s = spark.newSession()
    def rejection(sql: String): String =
      intercept[IllegalArgumentException](GraftSql.statement(s, sql))
        .getMessage
    val msg = "unknown TTL_TYPE 'bogus'"
    assert(rejection("CREATE TABLE ir_d (c1 string, c7 timestamp, " +
      "INDEX(KEY=c1, TS=c7, TTL_TYPE=bogus))") == msg)
    assert(rejection("CREATE TABLE ir_d (c1 string, c7 timestamp, " +
      "INDEX(KEY=c1, TS=c7, TTL=10m, TTL_TYPE=bogus))") == msg)
    GraftSql.statement(s, "CREATE TABLE ir_d (c1 string, c7 timestamp)")
    assert(rejection(
      "CREATE INDEX i ON ir_d (c1) OPTIONS(ts=c7, ttl_type='bogus')") == msg)
    assert(rejection("CREATE INDEX i ON ir_d (c1) " +
      "OPTIONS(ts=c7, ttl=10m, ttl_type='bogus')") == msg)
  }

  test("index registry: CREATE TABLE INDEX(...) shapes — key tuple, " +
      "back-quoted key, TTL tuple, TTL_TYPE without TTL") {
    import graft.operators.Ttl
    val s = spark.newSession()
    def meta(t: String, index: String): Seq[GraftSql.IndexMeta] = {
      GraftSql.statement(s, s"CREATE TABLE $t (`c-1` string, c2 bigint, " +
        s"c7 timestamp, $index)")
      GraftSql.tableIndexMeta(s, t)
    }
    assert(meta("ir_e", "INDEX(KEY=(c2,`c-1`), TS=c7)") ==
      Seq(GraftSql.IndexMeta(Seq("c2", "c-1"), Some("c7"), Ttl.Never)))
    assert(meta("ir_f", "INDEX(KEY=`c-1`)") ==
      Seq(GraftSql.IndexMeta(Seq("c-1"), None, Ttl.Never)))
    // TTL=(abs, lat): 10 minutes or 10 rows
    assert(meta("ir_g",
      "INDEX(KEY=c2, TS=c7, TTL=(10m,10), TTL_TYPE=absorlat)") ==
      Seq(GraftSql.IndexMeta(Seq("c2"), Some("c7"),
        Ttl.AbsOrLat(600000L, 10))))
    // a TTL_TYPE without a TTL is checked, and the index expires nothing
    assert(meta("ir_h", "INDEX(KEY=c2, TS=c7, TTL_TYPE=latest)") ==
      Seq(GraftSql.IndexMeta(Seq("c2"), Some("c7"), Ttl.Never)))
  }

  test("session state is per SparkSession; reset keeps users and " +
      "functions") {
    val a = spark.newSession()
    val b = spark.newSession()
    for (s <- Seq(a, b))
      s.createDataFrame(Seq(("u1", 10L, 1.0))).toDF("k", "ts", "v")
        .createOrReplaceTempView("si_ev")
    GraftSql.statement(a, "CREATE TABLE si_a (k string, v bigint)")
    GraftSql.statement(a, "INSERT INTO si_a VALUES ('x', 1)")
    GraftSql.statement(a, "DEPLOY si_da SELECT k FROM si_ev")
    def mode(s: org.apache.spark.sql.SparkSession) =
      GraftSql.statement(s, "SHOW VARIABLES").get.collect()
        .find(_.getString(0) == "execute_mode").map(_.getString(1))

    GraftSql.statement(b, "SET @@execute_mode = 'offline'")
    GraftSql.statement(b, "CREATE DATABASE si_db")
    GraftSql.statement(b, "USE si_db")
    GraftSql.statement(b, "DEPLOY si_db_dep SELECT k FROM si_ev")
    GraftSql.statement(b, procWithSig)
    GraftSql.statement(b, "CREATE USER si_user")
    GraftSql.statement(b,
      "CREATE FUNCTION si_inc(x bigint) RETURNS bigint " +
        "OPTIONS (RETURN='x + 1')")

    assert(mode(b).contains("offline"))
    assert(mode(a).contains("online"))
    assert(!GraftSql.databases(a).contains("si_db"))
    assert(GraftSql.currentDb(a).isEmpty)
    assert(GraftSql.deployment(a, "si_db_dep").isEmpty)
    assert(GraftSql.callableBody(a, "rp").isEmpty)
    assert(GraftSql.userPassword(a, "si_user").isEmpty)

    GraftSql.resetCatalogState(b)
    assert(GraftSql.deployment(b, "si_db_dep").isEmpty)
    assert(GraftSql.currentDb(b).isEmpty)
    assert(!GraftSql.databases(b).contains("si_db"))
    assert(GraftSql.userPassword(b, "si_user").contains(""))
    assert(GraftSql.statement(b, "SHOW FUNCTIONS").get.collect()
      .exists(_.getString(0) == "si_inc"))
    assert(GraftSql.deployment(a, "si_da").isDefined)
    assert(GraftSql.sql(a, "SELECT k, v FROM si_a").as[(String, Long)]
      .collect().toSeq == Seq(("x", 1L)))
  }

  test("a WITH name is in scope after its definition only: in offline " +
      "mode a CTE named after its source reads the offline store") {
    val s = spark.newSession()
    GraftSql.statement(s, "CREATE TABLE cte_t (k bigint, src string)")
    GraftSql.statement(s, "INSERT INTO cte_t VALUES (1, 'online')")
    GraftSql.statement(s, "SET @@execute_mode = 'offline'")
    GraftSql.statement(s, "INSERT INTO cte_t VALUES (2, 'offline')")
    val plain = "SELECT k, src FROM cte_t"
    val cte = s"WITH cte_t AS ($plain) $plain"
    def viaSql(q: String) = GraftSql.sql(s, q).as[(Long, String)].collect().toSeq
    def viaStatement(q: String) =
      GraftSql.statement(s, q).get.as[(Long, String)].collect().toSeq
    assert(viaSql(plain) == Seq((2L, "offline")))
    assert(viaSql(cte) == viaSql(plain))
    assert(viaStatement(cte) == viaSql(plain))
  }
}
