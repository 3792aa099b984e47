package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.sql.GraftSql

/** A JVM scalar function for the CLASS registration path — must be a
  * top-level class so Class.forName resolves it. */
class TestPlusTen {
  def call(x: java.lang.Long): java.lang.Long =
    if (x == null) null else x + 10L
}

/** CREATE FUNCTION surface (ddl/CREATE_FUNCTION.md, DROP_FUNCTION.md,
  * SHOW_FUNCTIONS.md; udf_develop_guide.md:1-40). The reference loads
  * C++ UDFs from `.so` via dlopen (dynamic_lib_manager.cc:37-62) —
  * rejected here with its error text; the JVM-native registrations
  * (SQL-expression body, JVM class, fold-based aggregate) take its
  * place. */
class UserFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ev = Seq(
    ("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u1", 30L, 3.0),
    ("u2", 10L, 10.0), ("u2", 40L, 20.0)
  ).toDF("pk", "ts", "v")

  override def beforeAll(): Unit = {
    super.beforeAll()
    ev.createOrReplaceTempView("uf_ev")
  }

  private def stmt(s: String) = GraftSql.statement(spark, s)

  test("native .so registration fails with the reference's dlopen text") {
    val e = intercept[IllegalArgumentException] {
      stmt("CREATE FUNCTION cut2(x STRING) RETURNS STRING " +
        "OPTIONS (FILE='libtest_udf.so')")
    }
    assert(e.getMessage.contains(
      "can not open the dynamic library: libtest_udf.so"))
    // nothing registered
    assert(stmt("SHOW FUNCTIONS").get.count() == 0)
  }

  test("scalar SQL-expression function: register, call, drop") {
    stmt("CREATE FUNCTION add_one(x INT) RETURNS INT " +
      "OPTIONS (RETURN = 'x + 1')")
    // callable from GraftSql projections (expr resolves the session
    // function registry where Catalyst inlines the SQL UDF)
    val out = GraftSql.sql(spark,
      "SELECT pk, add_one(CAST(ts AS INT)) AS t1 FROM uf_ev WHERE pk = 'u1'")
    assert(out.collect().map(_.getInt(1)).sorted.toSeq == Seq(11, 21, 31))
    // and from plain spark.sql
    assert(spark.sql("SELECT add_one(41)").head().getInt(0) == 42)
    // SHOW lists it
    val shown = stmt("SHOW FUNCTIONS").get.collect()
    assert(shown.map(_.getString(0)).toSeq == Seq("add_one"))
    assert(!shown.head.getBoolean(3)) // not aggregate
    stmt("DROP FUNCTION add_one")
    assert(stmt("SHOW FUNCTIONS").get.count() == 0)
    intercept[Exception] {
      spark.sql("SELECT add_one(1)").collect()
    }
  }

  test("scalar function over two params, used inside a window argument") {
    stmt("CREATE FUNCTION wsum(a DOUBLE, b DOUBLE) RETURNS DOUBLE " +
      "OPTIONS (RETURN = 'a * 2 + b')")
    val out = GraftSql.sql(spark,
      """SELECT pk, sum(wsum(v, 1.0)) OVER w AS s FROM uf_ev
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin)
    val u1 = out.filter(col("pk") === "u1").collect().map(_.getDouble(1))
    // frames: [1]=3, [1,2]=3+5=8, [2,3]=5+7=12
    assert(u1.sorted.toSeq == Seq(3.0, 8.0, 12.0))
    stmt("DROP FUNCTION wsum")
  }

  test("JVM class function registers through the Java UDF API") {
    stmt("CREATE FUNCTION plus_ten(x BIGINT) RETURNS BIGINT " +
      "OPTIONS (CLASS = 'graft.TestPlusTen')")
    val out = GraftSql.sql(spark,
      "SELECT pk, plus_ten(ts) AS t FROM uf_ev WHERE pk = 'u2'")
    assert(out.collect().map(_.getLong(1)).sorted.toSeq == Seq(20L, 50L))
    stmt("DROP FUNCTION plus_ten")
  }

  test("unknown class and missing options fail at CREATE time") {
    val e1 = intercept[IllegalArgumentException] {
      stmt("CREATE FUNCTION nope(x INT) RETURNS INT " +
        "OPTIONS (CLASS = 'graft.NoSuchClass')")
    }
    assert(e1.getMessage.contains("can not load class"))
    val e2 = intercept[IllegalArgumentException] {
      stmt("CREATE FUNCTION nada(x INT) RETURNS INT")
    }
    assert(e2.getMessage.contains("OPTIONS"))
    assert(stmt("SHOW FUNCTIONS").get.count() == 0)
  }

  test("aggregate function folds in grouped context") {
    // special_sum = sum + 100 on output (distinguishes INIT/OUTPUT)
    stmt("CREATE AGGREGATE FUNCTION special_sum(x BIGINT) RETURNS BIGINT " +
      "OPTIONS (INIT = 'CAST(0 AS BIGINT)', STEP = 'acc + x', " +
      "OUTPUT = 'acc + 100')")
    val out = GraftSql.sql(spark,
      "SELECT pk, special_sum(ts) AS s FROM uf_ev GROUP BY pk")
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("u1" -> 160L, "u2" -> 150L))
    stmt("DROP FUNCTION special_sum")
  }

  test("aggregate function folds over a window frame") {
    stmt("CREATE AGGREGATE FUNCTION prod_agg(x DOUBLE) RETURNS DOUBLE " +
      "OPTIONS (INIT = 'CAST(1.0 AS DOUBLE)', STEP = 'acc * x')")
    val out = GraftSql.sql(spark,
      """SELECT pk, prod_agg(v) OVER w AS p FROM uf_ev
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 20000 PRECEDING AND CURRENT ROW)""".stripMargin)
    val u1 = out.filter(col("pk") === "u1").collect().map(_.getDouble(1))
    // ts in ms: frames at 10/20/30 each span 20s back → cumulative
    assert(u1.sorted.toSeq == Seq(1.0, 2.0, 6.0))
    stmt("DROP FUNCTION prod_agg")
  }

  test("aggregate requires INIT/STEP and exactly one parameter") {
    val e1 = intercept[IllegalArgumentException] {
      stmt("CREATE AGGREGATE FUNCTION bad1(x BIGINT) RETURNS BIGINT " +
        "OPTIONS (RETURN = 'x')")
    }
    assert(e1.getMessage.contains("INIT"))
    val e2 = intercept[IllegalArgumentException] {
      stmt("CREATE AGGREGATE FUNCTION bad2(x BIGINT, y BIGINT) " +
        "RETURNS BIGINT OPTIONS (INIT = '0', STEP = 'acc + x')")
    }
    assert(e2.getMessage.contains("exactly one parameter"))
    // a fold body that cannot compile is rejected at CREATE time
    val e3 = intercept[IllegalArgumentException] {
      stmt("CREATE AGGREGATE FUNCTION bad3(x BIGINT) RETURNS BIGINT " +
        "OPTIONS (INIT = 'CAST(0 AS BIGINT)', STEP = 'acc + no_such_fn(x)')")
    }
    assert(e3.getMessage.contains("invalid aggregate function body"))
  }

  test("duplicate names and unknown drops error like the reference") {
    stmt("CREATE FUNCTION dup1(x INT) RETURNS INT OPTIONS (RETURN='x')")
    intercept[IllegalArgumentException] {
      stmt("CREATE FUNCTION dup1(x INT) RETURNS INT OPTIONS (RETURN='x')")
    }
    // built-in names are taken too
    intercept[IllegalArgumentException] {
      stmt("CREATE FUNCTION abs(x INT) RETURNS INT OPTIONS (RETURN='x')")
    }
    stmt("DROP FUNCTION dup1")
    intercept[IllegalArgumentException] { stmt("DROP FUNCTION dup1") }
    stmt("DROP FUNCTION IF EXISTS dup1") // no error
  }

  test("aggregate UDF over a window-result-bound argument, skew-lossless") {
    import spark.implicits._
    // the argument references another window result (evaluated per
    // FRAME row — upstream #2974 semantics); the fold expansion must
    // take the HOF-substituted path, and the window skew optimization
    // must stay lossless over it
    GraftSql.resetCatalogState(spark)
    stmt("CREATE AGGREGATE FUNCTION sum2_agg(x DOUBLE) RETURNS DOUBLE " +
      "OPTIONS (INIT = 'CAST(0.0 AS DOUBLE)', STEP = 'acc + x')")
    val ev = (0 until 40).map(i => ("u0", i * 1300L, i.toDouble))
      .toDF("pk", "ts", "v")
    val sql =
      """SELECT pk, ts, sum2_agg(count(v) OVER w) OVER w AS s
        |FROM ev WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 5s PRECEDING AND CURRENT ROW)""".stripMargin
    def run(): Seq[String] =
      GraftSql.sql(spark, sql, Map("ev" -> ev)).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val plain = run()
    // hand-check one row: at ts=5*1300 the 5s frame holds rows 1..5
    // (ts in [1500, 6500]), counts per frame row fold as a plain sum
    assert(plain.nonEmpty && plain.forall(_.split("\\|").length == 3))
    stmt("SET @@window_skew_opt = 'true'")
    val skewed =
      try run()
      finally stmt("SET @@window_skew_opt = 'false'")
    assert(skewed == plain, "skewed fold diverged")
    stmt("DROP FUNCTION sum2_agg")
  }

  test("a redefined function's result type is never served stale, in " +
      "this session or another") {
    Seq(0L, 1L, 2L).toDF("c").createOrReplaceTempView("uf_ft")
    val q = "SELECT c, string(f_retype(c)) AS s FROM uf_ft"
    def run(s: org.apache.spark.sql.SparkSession): Seq[String] =
      GraftSql.sql(s, q).collect().map(r => String.valueOf(r.get(1))).sorted.toSeq
    stmt("CREATE FUNCTION f_retype(x BIGINT) RETURNS DOUBLE " +
      "OPTIONS (RETURN = 'x * 1.5')")
    try {
      assert(run(spark) == Seq("0", "1.5", "3"))
      stmt("DROP FUNCTION f_retype")
      stmt("CREATE FUNCTION f_retype(x BIGINT) RETURNS STRING " +
        "OPTIONS (RETURN = 'concat(\"k\", x)')")
      assert(run(spark) == Seq("k0", "k1", "k2"))
      // a second session that only ever saw the STRING definition
      val s2 = spark.newSession()
      GraftSql.statement(s2, "CREATE FUNCTION f_retype(x BIGINT) " +
        "RETURNS STRING OPTIONS (RETURN = 'concat(\"k\", x)')")
      s2.createDataFrame(spark.table("uf_ft").collect().toList.asJava,
        spark.table("uf_ft").schema).createOrReplaceTempView("uf_ft")
      assert(run(s2) == Seq("k0", "k1", "k2"))
    } finally stmt("DROP FUNCTION IF EXISTS f_retype")
  }
}
