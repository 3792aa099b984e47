package graft

import org.apache.spark.sql.functions._
import graft.sql.GraftSql

class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t1 = Seq(
    ("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u1", 30L, 3.0),
    ("u2", 10L, 10.0), ("u2", 40L, 20.0)
  ).toDF("pk", "ts", "v")

  private lazy val t2 = Seq(
    ("u1", 5L, 100.0), ("u1", 25L, 200.0), ("u2", 50L, 500.0)
  ).toDF("pk", "ts", "v")

  private lazy val dim = Seq(
    ("u1", 1L, "gold"), ("u1", 2L, "silver"), ("u2", 1L, "bronze")
  ).toDF("pk", "version", "tier")

  override def beforeAll(): Unit = {
    super.beforeAll()
    t1.createOrReplaceTempView("t1")
    t2.createOrReplaceTempView("t2")
    dim.createOrReplaceTempView("dim")
  }

  private def m(sql: String): Map[String, Any] =
    GraftSql.sql(spark, sql).collect()
      .map(r => s"${r.get(0)}_${r.get(1)}" -> r.get(r.length - 1)).toMap

  test("projection, filter, limit") {
    val out = GraftSql.sql(spark,
      "SELECT pk, v * 2 AS dbl FROM t1 WHERE v >= 2.0 LIMIT 10")
    assert(out.columns.toSeq == Seq("pk", "dbl"))
    assert(out.count() == 4)
  }

  test("group by with having") {
    val out = GraftSql.sql(spark,
      "SELECT pk, sum(v) AS s, count(*) AS c FROM t1 GROUP BY pk HAVING count(*) >= 3")
      .collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "u1" && out(0).getDouble(1) == 6.0)
  }

  test("ROWS window via the minimum-slice query shape") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS sum_v, count(v) OVER w AS cnt_v
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |                     ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("u1", 30L)) == 5.0) // 2 + 3
    assert(out(("u2", 40L)) == 30.0)
  }

  test("window without ORDER BY routes frame-only aggregates via the frame array") {
    // distinct_count / median have no registered SQL function — the
    // no-ORDER-BY fast path used to emit expr("distinct_count(v)") and
    // fail with 'undefined function' (advice r8). They now take the
    // frame-array path with a constant order key: each row's frame is
    // its ingestion-order prefix of the partition.
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, distinct_count(v) OVER w AS dc, median(v) OVER w AS md
        |FROM t1 WINDOW w AS (PARTITION BY pk
        |  ROWS_RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("u1", 10L)) == ((1L, 1.0)))
    assert(out(("u1", 20L)) == ((2L, 1.5)))
    assert(out(("u1", 30L)) == ((3L, 2.0)))
    assert(out(("u2", 40L)) == ((2L, 15.0)))
    // native aggregates keep the whole-partition fast path
    val fast = GraftSql.sql(spark,
      """SELECT pk, ts, count(v) OVER w AS c
        |FROM t1 WINDOW w AS (PARTITION BY pk
        |  ROWS_RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(fast(("u1", 10L)) == 3L)
    // a bounded frame without ORDER BY stays illegal for both paths
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        """SELECT pk, distinct_count(v) OVER w AS dc
          |FROM t1 WINDOW w AS (PARTITION BY pk
          |  ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)""".stripMargin)
    }
  }

  test("OPEN PRECEDING as the frame END excludes the boundary row") {
    // 2 OPEN PRECEDING as an end bound means "strictly before row -2",
    // i.e. the last included row is -3 — the plain-ROWS fast path used
    // to widen it to -1 instead (advice r5)
    (1 to 7).map(i => ("k", i * 10L, i.toDouble)).toDF("pk", "ts", "v")
      .createOrReplaceTempView("t_open")
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s FROM t_open
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS BETWEEN 5 PRECEDING AND 2 OPEN PRECEDING)""".stripMargin)
      .collect().map(r => r.getLong(1) -> Option(r.get(2))).toMap
    assert(out(70L).contains(9.0))  // rows at ts 20,30,40 -> 2+3+4
    assert(out(40L).contains(1.0))  // only ts 10
    assert(out(20L).isEmpty)        // frame entirely before the data
  }

  test("ROWS_RANGE window with time-unit bound") {
    // 10s = 10000ms on the long key; ts values are ms-scale here so use
    // a raw-number bound instead
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |                     ROWS_RANGE BETWEEN 15 PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("u1", 30L)) == 5.0) // [15,30] → 2,3
    assert(out(("u1", 20L)) == 3.0) // [5,20] → 1,2
  }

  test("ROWS_RANGE MAXSIZE routes through the frame-array path") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW MAXSIZE 2)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("u1", 30L)) == 5.0) // newest 2 of {1,2,3}
  }

  test("EXCLUDE CURRENT_ROW on ROWS_RANGE") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, count(v) OVER w AS c
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW EXCLUDE CURRENT_ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out(("u1", 30L)) == 2L)
    assert(out(("u2", 10L)) == 0L)
  }

  test("WINDOW UNION draws frame rows from the side table") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s
        |FROM t1 WINDOW w AS (UNION t2 PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 5) // output rows only for primary (t1) rows
    assert(out(("u1", 10L)) == 1.0 + 100.0)
    assert(out(("u1", 30L)) == 1.0 + 2.0 + 3.0 + 100.0 + 200.0)
  }

  test("WINDOW UNION INSTANCE_NOT_IN_WINDOW keeps only union rows + self") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s
        |FROM t1 WINDOW w AS (UNION t2 PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW INSTANCE_NOT_IN_WINDOW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("u1", 30L)) == 3.0 + 100.0 + 200.0) // t1 peers excluded
  }

  test("WINDOW UNION with ts ties across primary and side keeps side rows") {
    // primary and side rows share (pk, ts): a per-side uid generator would
    // collide and EXCLUDE CURRENT_ROW (uid =!= curUid) would silently drop
    // the colliding side row from the frame
    val p = Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0)).toDF("pk", "ts", "v")
    val s = Seq(("u1", 10L, 100.0), ("u1", 20L, 200.0)).toDF("pk", "ts", "v")
    p.createOrReplaceTempView("tie_p")
    s.createOrReplaceTempView("tie_s")
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s, count(v) OVER w AS c
        |FROM tie_p WINDOW w AS (UNION tie_s PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW EXCLUDE CURRENT_ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    // ts=10 frame: side row at ts=10 only (self excluded) → 100.0
    assert(out(("u1", 10L)) == ((100.0, 1L)))
    // ts=20 frame: primary ts=10, side ts=10, side ts=20 → 301.0
    assert(out(("u1", 20L)) == ((301.0, 3L)))
  }

  test("LAST JOIN picks the last right row by ORDER BY") {
    val out = GraftSql.sql(spark,
      """SELECT t1.pk AS pk, t1.ts AS ts, dim.tier AS tier
        |FROM t1 LAST JOIN dim ORDER BY dim.version ON t1.pk = dim.pk""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out(("u1", 10L)) == "silver") // version 2 wins
    assert(out(("u2", 40L)) == "bronze")
  }

  test("LAST JOIN with a struct(...) ORDER BY key (multi-column order)") {
    // regression: r8's msCol cast every non-timestamp order key to long,
    // which is an AnalysisException on a struct — the q_sql_last_join
    // plan-time crash. Struct keys must pass through to max_by raw.
    val dimx = Seq(
      ("u1", 1, 5.0, "a"), ("u1", 2, 1.0, "b"), ("u1", 2, 9.0, "c"),
      ("u2", 7, 0.0, "d")).toDF("pk", "maj", "min", "tag")
    dimx.createOrReplaceTempView("dimx")
    val out = GraftSql.sql(spark,
      """SELECT t1.pk AS pk, t1.ts AS ts, dimx.tag AS tag
        |FROM t1 LAST JOIN dimx ORDER BY struct(dimx.maj, dimx.min)
        |  ON t1.pk = dimx.pk""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out(("u1", 10L)) == "c") // (2, 9.0) is the lexicographic max
    assert(out(("u2", 40L)) == "d")
  }

  test("equi-condition LAST JOIN takes the max_by pre-reduction path") {
    val df = GraftSql.sql(spark,
      """SELECT t1.pk AS pk, dim.tier AS tier
        |FROM t1 LAST JOIN dim ORDER BY dim.version ON t1.pk = dim.pk""".stripMargin)
    assert(df.queryExecution.optimizedPlan.toString.contains("max_by"),
      "equi LAST JOIN did not pre-reduce with max_by")
  }

  test("WITH clause and UNION ALL") {
    val out = GraftSql.sql(spark,
      """WITH big AS (SELECT pk, v FROM t1 WHERE v >= 3.0)
        |SELECT pk, v FROM big UNION ALL SELECT pk, v FROM big""".stripMargin)
    assert(out.count() == 6) // 3 rows with v >= 3, doubled
  }

  test("window navigation functions over a plain frame") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, lag(v, 1) OVER w AS prev
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(out(("u1", 20L)) == 1.0)
    assert(out(("u1", 10L)) == null)
  }

  test("subquery in FROM and as WINDOW UNION side") {
    val out = GraftSql.sql(spark,
      """SELECT pk, v FROM ( SELECT pk, v FROM t1 WHERE v >= 2.0 ) f
        |WHERE v < 20.0""".stripMargin)
    assert(out.count() == 3)
    val u = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s
        |FROM t1 WINDOW w AS (UNION ( SELECT * FROM t2 )
        |  PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(u(("u1", 10L)) == 1.0 + 100.0)
  }

  test("parameterized query binds ? placeholders in order") {
    val out = GraftSql.sql(spark,
      "SELECT pk, v FROM t1 WHERE v >= ? AND pk = ?",
      params = Seq(2.0, "u1"))
    assert(out.count() == 2) // u1 rows with v in {2.0, 3.0}
  }

  test("typed dialect calls see a window result's planned type") {
    // the dialect functions type their operands in Spark's analyzer, so
    // a window result is typed as planned — including a projection-level
    // OVER and the FLOAT the reference keeps for sum(float)
    spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("u1", 1L, new java.sql.Timestamp(1000L), 0.1f, 30.0),
        org.apache.spark.sql.Row("u1", 2L, new java.sql.Timestamp(2000L), 0.2f, 1.5)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "pk STRING, o BIGINT, t TIMESTAMP, f FLOAT, d DOUBLE"))
      .createOrReplaceTempView("tw")
    val w = "WINDOW w AS (PARTITION BY pk ORDER BY o " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)"
    val out = GraftSql.sql(spark,
      s"""SELECT o, bigint(lag(t, 1)) OVER w AS ms, string(sum(f) OVER w) AS sf,
         |  concat('d=', sum(d) OVER w) AS cd FROM tw $w""".stripMargin)
      .collect().map(r => (r.getLong(0), r.get(1), r.getString(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(out == Seq((1L, null, "0.1", "d=30"), (2L, 1000L, "0.3", "d=31.5")))
  }

  test("no-FROM constant select") {
    val out = GraftSql.sql(spark,
      "SELECT 1 + 2 AS a, upper('x') AS b").collect()(0)
    assert(out.getInt(0) == 3 && out.getString(1) == "X")
  }

  test("SQL-registered dialect functions work in query text") {
    graft.functions.GraftScalars.registerAll(spark)
    graft.functions.GraftAggregates.registerAll(spark)
    val scalar = GraftSql.sql(spark,
      """SELECT fz_join(fz_split_by_key('a:1,b:2,c', ',', ':'), '|') AS k,
        |  like_match('100%', '100#%') AS no_esc,
        |  truncate(-3.7) AS tr""".stripMargin).collect()(0)
    assert(scalar.getString(0) == "a|b")
    assert(!scalar.getBoolean(1)) // '#' is not the default escape
    assert(scalar.getDouble(2) == -3.0)
    val agg = GraftSql.sql(spark,
      """SELECT pk, entropy(pk) AS e, top1_ratio(pk) AS r
        |FROM t1 GROUP BY pk""".stripMargin)
    assert(agg.count() == 2)
  }

  test("explain returns a formatted physical plan") {
    val p = GraftSql.explain(spark, "SELECT pk, v FROM t1 WHERE v > 1.0")
    assert(p.contains("Physical Plan"))
  }

  test("request mode: per-request point-in-time features via SQL") {
    // history = t1; two request rows for u1, one sharing key+ts range
    val reqs = Seq(("u1", 25L, 100.0), ("u1", 25L, 200.0))
      .toDF("pk", "ts", "v")
    val out = GraftSql.requestMode(spark,
      """SELECT pk, ts, sum(v) OVER w AS s, count(v) OVER w AS c
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 15 PRECEDING AND CURRENT ROW)""".stripMargin,
      reqs)
      .collect().map(r => r.getDouble(2) -> r.getLong(3))
    // frame [10,25]: history rows 1.0(ts10) + 2.0(ts20) + the request
    // itself; the OTHER request row must not leak in
    assert(out.toSet == Set(103.0 -> 3L, 203.0 -> 3L))
  }

  test("request mode: serving-path pruning keeps frames of NESTED " +
      "inline windows keyed on different columns") {
    // Regression: pruneHistoryForRequests used to collect window defs
    // only from sel.windows + top-level proj.over — a nested inline
    // spec (`abs(sum(v) OVER (PARTITION BY grp ...))`) partitioned on
    // a DIFFERENT column was invisible, so history got pruned to the
    // named window's pk keys and the nested window's frame silently
    // lost its same-grp / different-pk rows.
    val hist = Seq(
      ("u1", "gA", 10L, 1.0),
      ("u2", "gA", 20L, 2.0), // shares grp with the request, NOT pk
      ("u3", "gB", 5L, 4.0)
    ).toDF("pk", "grp", "ts", "v")
    hist.createOrReplaceTempView("prune_nested")
    val req = Seq(("u1", "gA", 25L, 100.0)).toDF("pk", "grp", "ts", "v")
    val out = GraftSql.requestMode(spark,
      """SELECT pk,
        |  sum(v) OVER w AS s_pk,
        |  abs(sum(v) OVER (PARTITION BY grp ORDER BY ts
        |    ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)) AS s_grp
        |FROM prune_nested WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin,
      req).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(1) == 101.0) // u1 history + request
    assert(out(0).getDouble(2) == 103.0) // gA history (u1 AND u2) + request
  }

  test("navigation functions over extended windows (request-mode style)") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, lag(v, 1) OVER w AS prev,
        |  first_value(v) OVER w AS fv, last_value(v) OVER w AS lv
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 100 PRECEDING AND CURRENT ROW MAXSIZE 2)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) null else r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // u1 ts=30: MAXSIZE-2 buffer newest-first = [3.0, 2.0]
    assert(out(("u1", 30L)) == (2.0, 2.0, 3.0))
    assert(out(("u1", 10L)) == (null, 1.0, 1.0)) // lone row: lag null
  }

  test("clear errors for unsupported dialect surface") {
    // top-level ORDER BY is rejected by the reference dialect
    // (dql/SELECT_STATEMENT.md:111) — and by our grammar
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "SELECT pk FROM t1 ORDER BY pk")
    }
    // undefined window name
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "SELECT sum(v) OVER nope FROM t1 WINDOW w AS " +
        "(PARTITION BY pk ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    }
    assert(e.getMessage.contains("undefined window"))
    // unsupported aggregate over an extended window
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "SELECT entropy(v) OVER w FROM t1 WINDOW w AS " +
        "(PARTITION BY pk ORDER BY ts ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW MAXSIZE 2)")
    }
    assert(e2.getMessage.contains("unsupported aggregate"))
  }

  test("native TimestampType order keys: range windows and last join") {
    // groundwork for the TimestampType model migration: a table whose
    // ts column is a real Spark timestamp must window and join
    // identically to its int64-ms twin
    val ms = Seq(
      ("a", 1000L, 1.0), ("a", 1500L, 2.0), ("a", 3000L, 3.0),
      ("b", 1000L, 4.0))
    import org.apache.spark.sql.functions.timestamp_millis
    val msDf = ms.toDF("k", "ts", "v")
    val tsDf = msDf.withColumn("ts", timestamp_millis(col("ts")))
    def winSql(t: String) =
      s"""SELECT k, round(sum(v) OVER w, 3) AS s,
         |  count(v) OVER w AS c, max(v) OVER w AS m
         |FROM $t WINDOW w AS (PARTITION BY k ORDER BY ts
         |  ROWS_RANGE BETWEEN 1s PRECEDING AND CURRENT ROW MAXSIZE 2)""".stripMargin
    val a = GraftSql.sql(spark, winSql("tt"), Map("tt" -> msDf))
      .collect().map(_.toSeq).toSet
    val b = GraftSql.sql(spark, winSql("tt"), Map("tt" -> tsDf))
      .collect().map(_.toSeq).toSet
    assert(a == b, s"ms vs timestamp windows differ:\n$a\n$b")

    val right = Seq(("a", 1000L, 10.0), ("a", 2000L, 20.0))
      .toDF("rk", "rts", "rv")
    val rightTs = right.withColumn("rts", timestamp_millis(col("rts")))
    def joinSql(l: String, r: String) =
      s"""SELECT $l.k AS k, $r.rv AS rv FROM $l AS $l
         |LAST JOIN $r AS $r ORDER BY $r.rts ON $l.k = $r.rk""".stripMargin
    val j1 = GraftSql.sql(spark, joinSql("lt", "rt"),
      Map("lt" -> msDf, "rt" -> right)).collect().map(_.toSeq).toSet
    val j2 = GraftSql.sql(spark, joinSql("lt", "rt"),
      Map("lt" -> msDf, "rt" -> rightTs)).collect().map(_.toSeq).toSet
    assert(j1 == j2, s"ms vs timestamp LAST JOIN differ:\n$j1\n$j2")
  }

  test("OPEN PRECEDING makes the lower bound exclusive") {
    val out = GraftSql.sql(spark,
      """SELECT pk, ts, sum(v) OVER w AS s
        |FROM t1 WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN 10 OPEN PRECEDING AND CURRENT ROW)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("u1", 20L)) == 2.0) // (10,20] excludes the ts=10 row
  }

  test("JSON pointer digit segments resolve object keys at any depth <= 4") {
    // RFC 6901: "/a/0/0/0" can address object members named "0" —
    // every digit segment (up to 4) expands to both interpretations
    Seq("""{"a": {"0": {"0": {"0": "deep"}}}}""").toDF("js")
      .createOrReplaceTempView("jsp")
    val v = GraftSql.sql(spark,
      "SELECT get_json_object(js, '/a/0/0/0') AS v FROM jsp")
      .collect().head.getString(0)
    assert(v == "deep")
    // arrays win the array-vs-object race at the same depth
    Seq("""{"a": [[["arr"]]]}""").toDF("js")
      .createOrReplaceTempView("jsp2")
    val v2 = GraftSql.sql(spark,
      "SELECT get_json_object(js, '/a/0/0/0') AS v FROM jsp2")
      .collect().head.getString(0)
    assert(v2 == "arr")
    // 5+ digit segments cannot be statically resolved: plan-time error
    // instead of a silently-wrong array-only null
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "SELECT get_json_object(js, '/0/1/2/3/4') AS v FROM jsp")
    }
    assert(e.getMessage.contains("unsupported JSON pointer"))
  }
}
