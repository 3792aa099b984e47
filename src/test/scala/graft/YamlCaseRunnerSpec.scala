package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.cases.{CaseInput, CaseLoader, SqlCase}
import graft.sql.GraftSql

/** Runs the reference's YAML SQL-case corpus verbatim through GraftSql
  * (loader: [[graft.cases.CaseLoader]]). These files are the reference
  * engine's own correctness authority
  * (hybridse/src/testing/engine_test_base.h:75-100).
  *
  * Policy: cases tagged TODO/bug are upstream-disabled and skipped;
  * `mode: batch-unsupport` cases don't define batch semantics and are
  * skipped; everything else either runs green or sits in [[skip]] with
  * an explicit reason (asserted non-silently as `cancel`, so the count
  * is visible in the test report).
  */
class YamlCaseRunnerSpec extends SparkSpec {

  private val base = "/root/reference/cases"

  override def beforeAll(): Unit = {
    super.beforeAll()
    // the reference test harness registers `inc` as an external UDF
    // (udaf_query.yaml id 4 "a expr registered udf as parameter")
    spark.udf.register("inc", (x: Int) => x + 1)
    new java.io.File("/tmp/graft_cases").mkdirs()
  }

  private val files = Seq(
    ("function/window/test_window.yaml", "test_window"),
    ("function/window/test_maxsize.yaml", "test_maxsize"),
    ("function/window/test_window_exclude_current_time.yaml", "test_excl_ct"),
    ("function/window/test_current_row.yaml", "test_current_row"),
    ("function/window/window_attributes.yaml", "window_attributes"),
    ("query/udaf_query.yaml", "udaf_query"),
    ("query/last_join_window_query.yaml", "last_join_window"),
    ("query/group_query.yaml", "group_query"),
    ("function/v040/test_groupby.yaml", "test_groupby"),
    ("function/expression/test_arithmetic.yaml", "test_arithmetic"),
    ("function/expression/test_condition.yaml", "test_condition"),
    ("function/expression/test_logic.yaml", "test_logic"),
    ("function/expression/test_predicate.yaml", "test_predicate"),
    ("function/select/test_where.yaml", "test_where"),
    ("function/select/test_sub_select.yaml", "test_sub_select"),
    ("function/join/test_lastjoin_simple.yaml", "lastjoin_simple"),
    ("query/simple_query.yaml", "simple_query"),
    ("query/const_query.yaml", "const_query"),
    ("query/operator_query.yaml", "operator_query"),
    ("query/where_group_query.yaml", "where_group_query"),
    ("query/having_query.yaml", "having_query"),
    ("query/limit.yaml", "limit"),
    ("query/fail_query.yaml", "fail_query"),
    ("function/expression/test_like.yaml", "test_like"),
    ("function/expression/test_type.yaml", "test_type"),
    ("function/window/test_window_row.yaml", "test_window_row"),
    ("function/window/test_window_row_range.yaml", "test_window_row_range"),
    ("function/window/test_window_union.yaml", "test_window_union"),
    ("function/window/error_window.yaml", "error_window"),
    ("query/window_query.yaml", "window_query"),
    ("query/window_with_union_query.yaml", "window_with_union"),
    ("query/last_join_query.yaml", "last_join_query"),
    ("query/last_join_where.yaml", "last_join_where"),
    ("query/last_join_subquery_window.yml", "last_join_subq_window"),
    ("query/left_join.yml", "left_join"),
    ("query/with.yaml", "with_query"),
    ("query/union_query.yml", "union_query"),
    ("query/udf_query.yaml", "udf_query"),
    ("query/fz_sql.yaml", "fz_sql"),
    ("query/parameterized_query.yaml", "parameterized_query"),
    ("function/join/test_lastjoin_complex.yaml", "lastjoin_complex"),
    ("function/select/test_select_sample.yaml", "test_select_sample"),
    ("query/feature_signature_query.yaml", "feature_sig_query"),
    ("function/multiple_databases/test_multiple_databases.yaml",
      "multi_db"),
    ("query/extream_query.yaml", "extream_query"),
    ("function/function/test_calculate.yaml", "test_calculate"),
    ("function/function/test_date.yaml", "test_date"),
    ("function/function/test_like_match.yaml", "test_like_match"),
    ("function/function/test_string.yaml", "test_string"),
    ("function/function/test_udaf_function.yaml", "test_udaf_function"),
    ("function/function/test_udf_function.yaml", "test_udf_function"),
    ("function/v040/test_udaf.yaml", "test_udaf_v040"),
    ("function/test_performance_insensitive/test_performance_insensitive.yaml",
      "perf_insensitive"),
    ("function/spark/test_ads.yaml", "spark_ads"),
    ("function/spark/test_credit.yaml", "spark_credit"),
    ("function/spark/test_jd.yaml", "spark_jd"),
    ("function/spark/test_news.yaml", "spark_news"),
    ("function/spark/test_fqz_studio.yaml", "spark_fqz"),
    ("function/dml/test_insert.yaml", "test_insert"),
    ("function/dml/test_delete.yaml", "test_delete"),
    ("function/dml/multi_insert.yaml", "multi_insert"),
    ("function/out_in/test_out_in.yaml", "test_out_in"),
    ("function/long_window/long_window.yaml", "long_window"),
    ("function/long_window/test_count_where.yaml", "test_count_where"),
    ("function/test_batch_request.yaml", "batch_request"),
    ("function/test_feature_zero_function.yaml", "fz_function"),
    ("function/test_fz_sql.yaml", "fz_sql_fn"),
    ("function/ddl/test_create.yaml", "test_create"),
    // "cluster" in the reference names WHICH deployment ran them —
    // the cases themselves are ordinary SQL over inputs
    ("function/cluster/test_cluster_batch.yaml", "cluster_batch"),
    ("function/cluster/test_window_row.yaml", "cluster_window_row"),
    ("function/cluster/test_window_row_range.yaml", "cluster_window_rr"),
    ("function/cluster/window_and_lastjoin.yaml", "cluster_win_lastjoin"),
    ("function/test_index_optimized.yaml", "index_optimized"),
    ("function/deploy/test_create_deploy.yaml", "create_deploy"),
    ("function/deploy/test_drop_deploy.yaml", "drop_deploy"),
    ("function/deploy/test_show_deploy.yaml", "show_deploy"),
    ("function/dml/test_insert_prepared.yaml", "insert_prepared"),
    ("function/tmp/test_current_time.yaml", "current_time"),
    ("function/ut_case/test_unique_expect.yaml", "unique_expect"),
    ("function/ddl/test_ttl.yaml", "ddl_ttl"),
    ("function/ddl/test_create_index.yaml", "create_index"),
    ("function/ddl/test_create_no_index.yaml", "create_no_index"),
    ("function/data_expiration/test_data_expiration.yaml", "data_expiration"),
    ("function/window/test_window_union_cluster_thousand.yaml",
      "window_union_thousand"),
    ("function/v040/test_out_in_offline.yaml", "out_in_offline"),
    ("function/fz_ddl/test_bank.yaml", "fz_bank"),
    ("function/fz_ddl/test_luoji.yaml", "fz_luoji"),
    ("function/fz_ddl/test_myhug.yaml", "fz_myhug"),
    ("function/ddl/test_options.yaml", "ddl_options"),
    // real-scenario regression corpus: the reference's own diff-debug
    // feature pipelines (multi-level LAST JOIN + window unions over
    // CREATE/INSERT inputs) and the AutoX usecase with exact rows
    ("usecase/autox.yaml", "autox"),
    ("debug/bug.yaml", "debug_bug"),
    ("debug/diff-debug.yaml", "debug_diff"),
    ("debug/diff-debug-bank.yaml", "debug_bank"),
    ("debug/diff-debug-myhug.yaml", "debug_myhug"),
    ("debug/diff-debug-ttgwm.yaml", "debug_ttgwm"),
    ("debug/diff-debug-ttgwm2.yaml", "debug_ttgwm2"),
    ("debug/diff-debug-ttgwm3.yaml", "debug_ttgwm3"),
    ("hybridsql_gen_cases/auto_gen_case_0.yaml", "auto_gen_0"),
    // storage: SSD/HDD input attr — storage medium only, identical
    // query semantics (the engine's storage is columnar parquet)
    ("function/disk_table/disk_table.yaml", "disk_table"),
    // session execute_mode round-trips (v040). Siblings test_job.yaml
    // (seeds __INTERNAL_DB.JOB_INFO by hand, expects synthetic job
    // ids) and test_load_data.yaml (reads a hardcoded company-internal
    // HDFS endpoint) are environment-bound, not SQL semantics — the
    // same surfaces are covered by SqlStatementsSpec's job-management
    // and LOAD DATA tests
    ("function/v040/test_execute_mode.yaml", "execute_mode"),
    // integration_test/ holds the newer superset of the function/ tree
    // (the OpenMLDB integration suite, test/integration-test/openmldb-test-
    // java reads THIS tree); the files below exist only there
    ("integration_test/select/test_full_table.yaml", "full_table"),
    ("integration_test/select/test_limit.yaml", "it_limit"),
    ("integration_test/function/test_udaf_table.yaml", "udaf_table"),
    ("integration_test/long_window/test_xxx_where.yaml", "xxx_where"),
    ("integration_test/long_window/test_long_window.yaml", "it_long_window"),
    ("integration_test/long_window/test_udaf.yaml", "lw_udaf"),
    ("integration_test/ddl/test_delete_index.yaml", "delete_index"),
    ("integration_test/non_auto/test_online_batch_config.yaml",
      "online_batch_config"),
    // integration_test twins of ported function/ files that carry EXTRA
    // case ids (dup-tie window bounds, count_where row buckets, insert
    // and options edge cases) — the shared ids re-run identically,
    // which is cheap; the new ids are the value
    ("integration_test/window/test_window.yaml", "it_window"),
    ("integration_test/window/error_window.yaml", "it_error_window"),
    ("integration_test/long_window/test_count_where.yaml",
      "it_count_where"),
    ("integration_test/long_window/test_long_window_batch.yaml",
      "lw_batch"),
    ("integration_test/dml/test_insert.yaml", "it_insert"),
    ("integration_test/ddl/test_options.yaml", "it_options"),
    ("integration_test/select/test_sub_select.yaml", "it_sub_select"),
    // the integration_test current_row tree extends the function twin
    // with window-union × EXCLUDE CURRENT_ROW combinations (ids 20-30
    // of the first block; the duplicated-id second block is the
    // upstream-disabled batch-unsupport set plus union variants)
    ("integration_test/window/test_current_row.yaml", "it_current_row"),
    // SELECT INTO / LOAD DATA file-format options (quote, null_value,
    // header, mode=append/overwrite/error_if_exists) round-tripped
    // between execute modes through real files
    ("integration_test/out_in/test_select_into_load_data.yaml",
      "select_into_load"))

  /** Cases GraftSql cannot run yet, with the reason. Keyed by
    * SqlCase.key = "<fileTag>:<id><variant>". */
  private val perfSensitive =
    "expect-error only in the reference's performance-sensitive mode: " +
    "the LAST JOIN condition misses a usable index so its planner " +
    "refuses to compile (hybridse EngineOptions::SetPerformanceSensitive; " +
    "engine_test.cc). This engine has no index requirement — Spark " +
    "plans the join regardless, which is the reference's own " +
    "non-performance-sensitive behavior."
  private val skip: Map[String, String] = Map(
    // the v040 function-tree test_options pins the OLDER nameserver's
    // distribution validation; the integration_test twin (ids 5/6/19/21)
    // flips all four expectations to the current semantics — one entry
    // per partition, counts must agree, replicanum derives from the
    // entry when unspecified — which the engine follows
    "ddl_options:5" -> ("superseded: integration_test twin accepts " +
      "multiple distribution entries when their count matches " +
      "partitionnum"),
    "ddl_options:6" -> ("superseded: integration_test twin rejects " +
      "partitionnum=0 against a one-entry distribution"),
    "ddl_options:19" -> ("superseded: integration_test twin derives " +
      "replicaNum=1 from ('ep',[]) instead of requiring tablet-count " +
      "replicas"),
    "ddl_options:21" -> ("superseded: integration_test twin rejects " +
      "partitionnum=4 against a one-entry distribution"),
    "test_window:31" -> ("superseded: the integration_test twin " +
      "(version: 0.6.4) expects NULL for a sum over an empty " +
      "pure-history ROWS frame where this pre-0.6.4 file pinned 0; " +
      "the engine follows the current NULL semantics"),
    "lastjoin_simple:4-2" -> perfSensitive,
    "lastjoin_simple:4-3" -> perfSensitive,
    "lastjoin_simple:4-4" -> perfSensitive,
    "test_delete:17" -> ("per-index delete visibility: the reference " +
      "removes entries from the MATCHING index only, so a row deleted " +
      "via index1(c1) stays reachable through index2(c2) and the same " +
      "query sees different rows per window access path — multi-index " +
      "online storage semantics a snapshot-table engine does not model"),
    "lastjoin_complex:6-1[0]" -> ("expect-error only in the reference " +
      "NATIVE engine (window features in both LAST JOIN subqueries, " +
      "mode offline-unsupport); this engine plans the shape fine — " +
      "the rejection is a native-runner limitation, not SQL semantics"),
    "lastjoin_complex:6-1[1]" -> ("expect-error only in the reference " +
      "NATIVE engine (window features in both LAST JOIN subqueries, " +
      "mode offline-unsupport); this engine plans the shape fine — " +
      "the rejection is a native-runner limitation, not SQL semantics"),
    "perf_insensitive:12" -> ("mode offline-unsupport (the reference's " +
      "own Spark engine cannot run it) and the unordered LAST JOIN of " +
      "two windowed subqueries picks rows by native storage iteration " +
      "order, which this engine does not model"),
    "execute_mode:0" -> ("v040-era variable inventory: the case " +
      "expects SHOW VARIABLES to return ONLY execute_mode; the modern " +
      "session exposes the full variable set (SET_STATEMENT.md), " +
      "asserted exhaustively in SqlStatementsSpec"),
    "online_batch_config:6" -> ("expect-block decl typo: it declares " +
      "`c3 string` while the input column is int and every expected " +
      "cell is an int literal; the same query shape with int decls is " +
      "green as ids 0/5 of the file"),
    "execute_mode:3" -> ("contradicts id 0 of the same file: the " +
      "identical statement modulo whitespace succeeds there but is " +
      "expected to fail here — a v040 CLI tokenizer artifact, not SQL " +
      "semantics; this engine accepts both spellings"),
    "select_into_load:37-1" -> ("contradicts id 39 of the same file: " +
      "both run `load data ... into table t` online with NO mode " +
      "option, 37-1 expecting success and 39 expecting failure; " +
      "LoadDataPlan.scala:69 requires mode='append' online (the doc's " +
      "Online Import Rules agree), so 39's expectation is the real " +
      "engine and 37-1 is kept out (its offline twin 37-2 runs green)"),
    "select_into_load:34-2" -> ("the expected rows NULL the timestamp " +
      "column even for well-formed lines (c7=1590738989000 -> null) — " +
      "the same upstream offline-loader timestamp defect its siblings " +
      "56/57 are tagged 'TODO, bug 2020-05-29 15:56:...' for; this " +
      "engine returns the documented parse (int64 epoch-ms loads, the " +
      "column-shifted malformed line NULLs), asserted in " +
      "SourcesSpec/OfflineStoreSpec instead"),
    "select_into_load:65#2" -> ("`SELECT * LIMIT 2 INTO OUTFILE` " +
      "exports an implementation-defined row subset — the reference " +
      "took rows {1,3} from its index iteration order; a distributed " +
      "scan's limit picks a different legal subset, so the content " +
      "compare is not portable (same policy as limit.yaml)"),
    "select_into_load:66" -> ("offline twin of 65#2: the LIMIT-chosen " +
      "subset {1,3} is the reference's storage iteration order, not " +
      "SQL semantics"))

  // column-decl parsing and cell coercion shared with
  // TrainServeConsistencySpec — see CaseData
  private def typOpt(t: String): Option[DataType] = CaseData.typOpt(t)
  private def typ(t: String): DataType = CaseData.typ(t)
  private def declParts(cdef: String): Array[String] = CaseData.declParts(cdef)

  private def unsupportedType(c: SqlCase): Option[String] = {
    val decls = c.inputs.flatMap(_.columns) ++
      c.parameters.toSeq.flatMap(_.columns) ++
      c.expect.columns.getOrElse(Seq.empty)
    decls.map(declParts(_).last)
      .find(t => typOpt(t).isEmpty)
      .map(t => s"unsupported column type '$t' in this harness")
  }

  private def coerce(v: Any, t: DataType): Any = CaseData.coerce(v, t)

  /** Registers the case's tables; db-scoped inputs go into the
    * returned tables map under "db.name" keys (multiple_databases
    * corpus) instead of session temp views. */
  private def buildDf(in: CaseInput): DataFrame = CaseData.buildDf(spark, in)

  /** One `index:` string may carry several comma-separated specs
    * (query corpus "index2:col2:col5,index0:col0:col5"); commas inside
    * parens belong to a ttl 2-tuple. */
  private def splitIndexSpecs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case ch => cur += ch
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def applyTtl(df: DataFrame, indexs: Seq[String],
      storage: Option[String] = None): DataFrame = {
    import graft.operators.Ttl
    val specs = indexs.flatMap(splitIndexSpecs).map(_.split(":", -1).map(_.trim))
      .filter(p => p.length >= 3 && p(2).nonEmpty)
      .map { p =>
        val bound = p.lift(3).getOrElse("")
        val kind = p.lift(4).filter(_.nonEmpty)
        // kindless bounds infer from shape: bare count = latest,
        // time-with-unit = absolute
        val inferred = kind.getOrElse(
          if (bound.forall(_.isDigit)) "latest" else "absolute")
        val spec =
          if (bound.isEmpty) Ttl.ofKind(Some(inferred))
          else Ttl.parse(bound, Some(inferred))
        (p(1).split("\\|").toSeq.map(_.trim), p(2), spec)
      }
    // disk (SSD/HDD) tables key rows by (first index key, ts): a second
    // insert with the same key+ts overwrites in place (RocksDB put —
    // disk_table ids 12/13), unlike memory tables which keep every row
    val disk = storage.exists(s => Set("ssd", "hdd")(s.trim.toLowerCase))
    val base = specs.headOption match {
      case Some((keys, ts, _)) if disk =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val uid = "__dt_uid"; val rn = "__dt_rn"
        df.withColumn(uid, monotonically_increasing_id())
          .withColumn(rn, row_number().over(
            Window.partitionBy((keys :+ ts).map(col): _*)
              .orderBy(col(uid).desc)))
          .filter(col(rn) === 1).drop(uid, rn)
      case _ => df
    }
    // expiry itself applies at READ time (GraftSql.applyIndexTtl routes
    // WHERE-equality scans to the matching index, full scans to the
    // first index) via the registerTableIndexes metadata — not here
    base
  }

  private def register(c: SqlCase)
      : (String, Seq[String], Map[String, DataFrame], String => String) = {
    val names = c.inputs.zipWithIndex.map { case (in, k) =>
      in.name.getOrElse(s"t$k") }
    def subst(s0: String): String =
      names.zipWithIndex.foldLeft(
        // {auto}: a fresh table name (ddl/test_create.yaml)
        s0.replace("{auto}",
          "auto_" + c.key.replaceAll("[^A-Za-z0-9_]", "_"))
          // virtual cluster endpoints (ddl/test_options.yaml;
          // SessionState.tablets defaults)
          .replace("{tb_endpoint_0}", "tablet0")
          .replace("{tb_endpoint_1}", "tablet1")
          .replace("{tb_endpoint_2}", "tablet2")) {
        case (s, (n, j)) => s.replace(s"{$j}", n) }
    val scoped = Map.newBuilder[String, DataFrame]
    c.inputs.zipWithIndex.foreach { case (in, k) =>
      val name = names(k)
      if (in.create.isDefined) {
        // catalog-backed input: CREATE TABLE (+ optional INSERT)
        // executed through the engine's own statement surface
        // (dml corpus — test_insert.yaml id 1+)
        GraftSql.statement(spark, subst(in.create.get))
        in.insert.foreach { ins =>
          val text = subst(ins)
          // prepared INSERT: `?` placeholders bound once per data row
          // (dml corpus test_insert_prepared.yaml)
          if (text.contains("?") && in.rows.nonEmpty)
            in.rows.foreach(r => GraftSql.statement(spark, text, r))
          else GraftSql.statement(spark, text)
        }
      } else if (in.columns.isEmpty) {
        // name-only input: just binds {k} for the sql text
        // (test_create.yaml id 6-2)
      } else {
        // storage TTL applies to every online read (test_delete ids
        // 24/25; test_ttl ids 21-23) — an index without an effective
        // bound keeps the full snapshot, so batch corpus files with
        // plain `0:latest` specs are unaffected
        val df = applyTtl(buildDf(in), in.indexs, in.storage)
        in.db match {
          case Some(db) =>
            scoped += (s"$db.$name" -> df)
            GraftSql.registerDbTable(spark, db, name, df)
          case None =>
            df.createOrReplaceTempView(name)
            harnessViews += name
            // a case-level default db (test_delete_index id 1-2) means
            // db-qualified statement references (CREATE INDEX ON
            // db1.{0}) must resolve too — register the db view as well
            c.db.foreach(db => GraftSql.registerDbTable(spark, db, name, df))
        }
        // replacing the view replaces the table: stale index/TTL
        // metadata from an earlier case must not expire the new rows
        GraftSql.clearTableIndexes(spark, in.db, name)
        GraftSql.registerTableIndexes(spark, in.db, name, in.indexs)
        val effDb = in.db.orElse(c.db)
        if (effDb != in.db) {
          // checkIdxs (and db-qualified CREATE/DROP INDEX statements)
          // read the db-scoped registry key when the case declares a
          // default db — mirror the registration there
          GraftSql.clearTableIndexes(spark, effDb, name)
          GraftSql.registerTableIndexes(spark, effDb, name, in.indexs)
        }
      }
    }
    // out_in sqls write/read '<t>.csv' — redirect to a per-case scratch
    // dir so relative paths never land inside the repo and reruns never
    // hit PATH_ALREADY_EXISTS
    val scratch = "/tmp/graft_cases/" +
      c.key.replaceAll("[^A-Za-z0-9_]", "_")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    new java.io.File(scratch + "/out").mkdirs()
    // {root_path} is the reference harness's scratch root
    // (integration_test/out_in corpus writes '{root_path}/out/…');
    // '{root_path}/cases/…' names CHECKED-IN source data files
    // (out_in/csv/timestamp_date.csv etc.) — those resolve against the
    // read-only reference corpus, not the scratch dir
    val sqls = c.sqls.map(subst)
      .map(_.replace("{root_path}/cases/", s"$base/"))
      .map(_.replace("{root_path}", scratch))
      .map(_.replaceAll("'([^'/]+\\.(?:csv|txt|parquet))'", s"'$scratch/$$1'"))
    (subst(c.sql), sqls, scoped.result(), subst)
  }

  /** Deploy-corpus expectation: the deployment exists and its request
    * (in) and output (out) schemas match, compared as (idx,name,kType)
    * — the reference's CLI also prints a NULLability flag (a storage
    * default, always NO) and the AST printer's pretty SQL, both
    * presentation artifacts of the native server, not query
    * semantics. */
  private val kTypes: Map[DataType, String] = Map(
    StringType -> "kVarchar", ShortType -> "kInt16",
    IntegerType -> "kInt32", LongType -> "kInt64",
    FloatType -> "kFloat", DoubleType -> "kDouble",
    TimestampType -> "kTimestamp", DateType -> "kDate",
    BooleanType -> "kBool")

  private def checkDeployment(c: SqlCase, subst: String => String): Unit =
    c.expect.deployment.foreach { dep =>
      val name = dep.name.map(subst).getOrElse(
        fail("expect.deployment without a name"))
      val sqlText = GraftSql.deployment(spark, name).getOrElse(
        fail(s"deployment '$name' is not registered"))
      def render(fields: Seq[StructField]): Seq[String] =
        fields.zipWithIndex.map { case (f, i) =>
          s"${i + 1},${f.name},${kTypes(f.dataType)}" }
      def want(ss: Seq[String]): Seq[String] =
        ss.map(_.split(",").take(3).mkString(","))
      if (dep.outColumns.nonEmpty) {
        val out = GraftSql.sql(spark, sqlText).schema.fields.toSeq
        assert(render(out) == want(dep.outColumns),
          s"deployment outColumns: got ${render(out)}")
      }
      if (dep.inColumns.nonEmpty) {
        val in = spark.table(subst("{0}")).schema.fields.toSeq
          .filterNot(_.name.startsWith("__"))
        assert(render(in) == want(dep.inColumns),
          s"deployment inColumns: got ${render(in)}")
      }
    }

  /** out_in-corpus expectation: the exported csv's raw lines (header
    * rows included — append cases carry two). The export is a
    * directory of part files whose ordering Spark does not pin, so
    * lines compare as sorted multisets. */
  private def checkCat(c: SqlCase, subst: String => String): Unit =
    c.expect.cat.foreach { cat =>
      val scratch = "/tmp/graft_cases/" +
        c.key.replaceAll("[^A-Za-z0-9_]", "_")
      val p0 = subst(cat.path).replace("{root_path}", scratch)
      val dir = if (p0.startsWith("/")) new java.io.File(p0)
        else new java.io.File(scratch, p0)
      assert(dir.exists, s"exported path ${dir} does not exist")
      val files: Seq[java.io.File] =
        if (dir.isDirectory)
          dir.listFiles.toSeq.filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.endsWith(".crc"))
        else Seq(dir)
      val got = files.flatMap(f =>
        scala.io.Source.fromFile(f).getLines().toSeq)
      assert(got.sorted == cat.lines.sorted,
        s"cat ${cat.path}: got ${got.sorted.mkString("|")} want " +
          cat.lines.sorted.mkString("|"))
    }

  /** out_in-corpus expectation: a soft-copy LOAD left the file
    * registered as an offline Symbolic path (expect.offlineInfo,
    * test_select_into_load_data.yaml id 47). */
  private def checkOfflineInfo(c: SqlCase, subst: String => String): Unit =
    c.expect.offlineInfo.foreach { p0 =>
      val scratch = "/tmp/graft_cases/" +
        c.key.replaceAll("[^A-Za-z0-9_]", "_")
      val want = subst(p0).replace("{root_path}", scratch)
      val got = GraftSql.allOfflinePaths(spark)
      assert(got.contains(want),
        s"offlineInfo: want path $want, registered: ${got.mkString(", ")}")
    }

  /** ddl-corpus expectation: the table's index metadata (keys, ts,
    * ttl, ttlType) in declaration order — input-declared indexes (or
    * the server's auto-created default index, index_util.cc:101)
    * followed by engine-side CREATE INDEX additions. */
  private def checkIdxs(c: SqlCase, subst: String => String): Unit =
    c.expect.idxs.foreach { want =>
      import graft.operators.Ttl
      val in = c.inputs.headOption
      val name = subst("{0}")
      // input-declared indexes register through
      // GraftSql.registerTableIndexes, so tableIndexMeta already lists
      // them (declaration order) followed by CREATE INDEX additions.
      // Only the server's auto-created default index on an index-less
      // input (index_util.cc:101) needs synthesizing here.
      val autoMetas: Seq[(Seq[String], Option[String], Ttl)] =
        in match {
          case Some(i) if i.indexs.isEmpty && i.create.isEmpty &&
              i.columns.nonEmpty =>
            val parts = i.columns.map(declParts)
            parts.find(pp => !Set("float", "double")(pp.last.toLowerCase))
              .map(pp => (Seq(pp(0)), None: Option[String], Ttl.Never)).toSeq
          case _ => Seq.empty
        }
      // db-scoped inputs (input-level `db:` or the case-level default)
      // register under the db-qualified key (test_delete_index 1-1/1-2)
      val engineMetas = GraftSql.tableIndexMeta(spark, name,
          in.flatMap(_.db).orElse(c.db))
        .map(m => (m.keys, m.ts.filterNot(_.equalsIgnoreCase("null")),
          m.ttl))
      val got = autoMetas ++ engineMetas
      // the reference stores absolute TTLs in whole minutes, rounded
      // up (1s renders as 1min — test_create_index.yaml id 9)
      def renderTtl(s: Ttl): (String, String) = s match {
        case _: Ttl.LatestCount  => (s.lat.toString, "kLatestTime")
        case _: Ttl.AbsAndLat    => (s"${s.absMinutes}min&&${s.lat}", "kAbsAndLat")
        case _: Ttl.AbsOrLat     => (s"${s.absMinutes}min||${s.lat}", "kAbsOrLat")
        case _: Ttl.AbsoluteTime => (s"${s.absMinutes}min", "kAbsoluteTime")
      }
      assert(got.length == want.length,
        s"idxs count: got ${got.length}, want ${want.length}")
      got.zip(want).zipWithIndex.foreach { case (((ks, ts, spec), w), i) =>
        assert(ks.map(_.toLowerCase) == w.keys.map(_.toLowerCase),
          s"idx $i keys: $ks vs ${w.keys}")
        w.ts.foreach(t => assert(ts.getOrElse("-").equalsIgnoreCase(t),
          s"idx $i ts: ${ts.getOrElse("-")} vs $t"))
        val (ttlS, typeS) = renderTtl(spec)
        w.ttl.foreach(t => assert(ttlS == t, s"idx $i ttl: $ttlS vs $t"))
        w.ttlType.foreach(t => assert(typeS == t,
          s"idx $i ttlType: $typeS vs $t"))
      }
    }

  // normalize numerics to fixed-scale BigDecimal (float at 4, others at
  // 6) so Int/Long/Double representations and fp noise compare equal
  private def norm(x: Any): Any = x match {
    case null                => null
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float if f.isNaN || f.isInfinite  => f.toDouble.toString
    case f: Float            => BigDecimal(f.toDouble).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    case d: Double           => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    case b: java.math.BigDecimal =>
      BigDecimal(b).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    case n: Number           => BigDecimal(n.longValue).setScale(4)
    case t: java.sql.Timestamp => BigDecimal(t.getTime).setScale(4)
    case t: java.time.Instant  => BigDecimal(t.toEpochMilli).setScale(4)
    case d: java.sql.Date    => d.toString
    case other               => other
  }

  // views this suite registered for the PREVIOUS case — dropped at the
  // next case start so a CREATE TABLE t0 never collides with a stale
  // input view (test_create.yaml id 1)
  private val harnessViews = scala.collection.mutable.Set[String]()

  override def afterAll(): Unit = {
    // the session is shared across suites: the last case's registered
    // index/TTL metadata must not expire another spec's same-named
    // temp views (t0/t1 are common names)
    GraftSql.resetCatalogState(spark)
    harnessViews.foreach(spark.catalog.dropTempView)
    harnessViews.clear()
    super.afterAll()
  }

  /** v040/function-era corpus files model the STANDALONE CLI (strict
    * local csv loader, no online/offline storage split); everything
    * else runs the cluster edition — permissive Spark loads, dual
    * storage, append-only online import (LOAD_DATA_STATEMENT.md
    * load_mode + "In the standalone version, there is no storage
    * distinction"). */
  private val standaloneEra = Set("test_out_in:", "out_in_offline:")

  private def run(c0: SqlCase): Unit = {
    // a case whose final query executes in OFFLINE mode declares its
    // expectation as offlineColumns/offlineRows (ids 25-2/34-2/64)
    val c = if (c0.expect.rows.isEmpty && c0.expect.offlineRows.nonEmpty)
      c0.copy(expect = c0.expect.copy(rows = c0.expect.offlineRows,
        columns = c0.expect.offlineColumns.orElse(c0.expect.columns)))
    else c0
    GraftSql.resetCatalogState(spark)
    if (standaloneEra.exists(c.key.startsWith))
      GraftSql.setLoadEdition(spark, "standalone")
    harnessViews.foreach(spark.catalog.dropTempView)
    harnessViews.clear()
    val (sql, sqls, scoped, subst) = register(c)
    // multi-statement cases (dml / out_in / deploy corpus): execute in
    // order through the engine's statement surface; the last DQL
    // result is the compared output. tearDown statements always run
    // (deploy corpus drops its deployments).
    if (sqls.nonEmpty) {
      try {
        if (!c.expect.success) {
          intercept[Throwable] {
            sqls.foreach(s => GraftSql.statement(spark, s).foreach(_.collect()))
            if (sql.trim.nonEmpty)
              GraftSql.sql(spark, sql).collect()
          }
          return
        }
        var last: Option[DataFrame] = None
        sqls.foreach { s =>
          last = GraftSql.statement(spark, s).orElse(last)
        }
        checkDeployment(c, subst)
        checkIdxs(c, subst)
        checkCat(c, subst)
        checkOfflineInfo(c, subst)
        // a case may pair setup `sqls` with a final `sql` query
        // (test_delete.yaml id 4: deletes then a window SELECT)
        if (sql.trim.nonEmpty) compareExpect(c, sql, GraftSql.sql(spark, sql))
        else last match {
          case Some(out) => compareExpect(c, sqls.mkString("; "), out)
          case None => assert(c.expect.rows.isEmpty && c.expect.count.isEmpty,
            "case expects rows but no statement returned a result")
        }
      } finally c.tearDown.foreach { t =>
        try GraftSql.statement(spark, subst(t)).foreach(_.collect())
        catch { case _: Throwable => () }
      }
      return
    }
    // statement cases (DEPLOY / CREATE / DROP ... — long_window and
    // ddl corpus): execute through the statement surface
    val head = sql.trim.split("[\\s(]+").headOption.getOrElse("").toLowerCase
    if (Set("deploy", "create", "drop", "use", "show", "load",
        "truncate", "desc")(head)) {
      if (!c.expect.success) {
        intercept[Throwable] {
          GraftSql.statement(spark, sql).foreach(_.collect())
        }
        return
      }
      GraftSql.statement(spark, sql) match {
        case Some(out) if c.expect.rows.isDefined =>
          compareExpect(c, sql, out)
        case _ =>
          assert(c.expect.rows.isEmpty, "statement case with expected rows")
      }
      checkIdxs(c, subst)
      return
    }
    // bind `?` placeholders from the parameters block, typed by its
    // column decls (parameterized_query.yaml)
    val params: Seq[Any] = c.parameters.map { p =>
      val types = p.columns.map(cd => typ(cd.trim.split("[:\\s]+").last))
      p.rows.headOption.getOrElse(Seq.empty).zip(types)
        .map { case (v, t) => coerce(v, t) }
    }.getOrElse(Nil)
    // index TS hints: "idx:key:ts" — the reference's storage iterates
    // by ts, which pins unordered LAST JOIN row choice
    val hints: Map[String, String] = c.inputs.zipWithIndex.flatMap {
      case (in, k) =>
        val name = in.name.getOrElse(s"t$k")
        in.indexs.flatMap(_.split(":") match {
          case Array(_, _, ts) => Some(name -> ts.trim)
          case _               => None
        }).headOption
    }.toMap
    // batch_request block: the query runs point-in-time per request row
    // (the reference's train/serve consistency surface,
    // engine_test_base.h:75-100)
    // a `longWindow` case runs through the reference's long-window
    // deploy compiler, which restricts *_where condition shapes
    def plan(): DataFrame = c.batchRequest match {
      case Some(br) => GraftSql.requestMode(spark, sql, buildDf(br), scoped)
      case None => GraftSql.sql(spark, sql, tables = scoped, params = params,
        tsHints = hints, defaultDb = c.db)
    }
    // The `longWindow:` attr replays the integration harness, which
    // DEPLOYs with OPTIONS(long_windows=...) through the router and so
    // hits the full CreateAggregator validation surface
    // (sql_cluster_test.cc:728-751). The older long_window.yaml corpus
    // pins the v040 CLI behavior where an unmatched window name is
    // ignored (ids 13/14 expect success) — hence the deep check lives
    // HERE, keyed on the attr, not in the DEPLOY statement path.
    def validateLw(): Unit = c.longWindow.foreach { spec =>
      GraftSql.validateLongWindowConditions(sql)
      val colTypes: Map[String, DataType] = c.inputs.flatMap(_.columns)
        .flatMap { cdef =>
          val parts = declParts(cdef)
          typOpt(parts.last).map(parts.dropRight(1).mkString(" ")
            .toLowerCase -> _)
        }.toMap
      val disk = c.inputs.exists(_.storage.exists(s =>
        Set("ssd", "hdd")(s.trim.toLowerCase)))
      // the newer aggregator (aggregator.cc:122) rejects EVERY *_where
      // on a row-count bucket; the v040-era function-tree
      // test_count_where.yaml predates the check and runs whole on
      // 'w1:2' — key the era on the file tag
      val oldEra = !c.key.startsWith("it_count_where")
      GraftSql.validateLongWindowDeploy(sql, spec, colTypes.get, disk,
        countWhereRowsBucketOk = oldEra)
    }
    if (!c.expect.success) {
      intercept[Throwable] {
        validateLw()
        plan().collect()
      }
      return
    }
    validateLw()
    compareExpect(c, sql, plan())
  }

  private def compareExpect(c: SqlCase, sql: String, out: DataFrame): Unit = {
    val got0 = out.collect().toSeq.map(_.toSeq.map(norm))
    c.expect.count.foreach(n => assert(got0.size.toLong == n,
      s"count: got ${got0.size}, want $n"))
    // a truncating LIMIT chooses an implementation-defined row subset —
    // the reference reads its index iteration order, a distributed scan
    // does not; when the limit actually bites (expected rows == N),
    // verify the COUNT and skip the content compare (limit.yaml)
    val limitN = "(?is).*\\blimit\\s+(\\d+)\\s*$".r
    c.sql.trim.stripSuffix(";").trim match {
      case limitN(n)
          if n.toInt > 0 && c.expect.rows.exists(_.size == n.toInt) =>
        assert(got0.size == n.toInt,
          s"limit count: got ${got0.size}, want $n")
        return
      case _ => ()
    }
    c.expect.rows.foreach { wantRows =>
      // a column decl is "<name> <type>" where the NAME may itself
      // contain spaces — unaliased computed projections are named by
      // their expression text ("c2 + 1 int", test_sub_select.yaml id 0)
      val wantCols = c.expect.columns.getOrElse(Seq.empty)
        .map { cdef =>
          val parts = cdef.trim.split("[:\\s]+")
          (parts.dropRight(1).mkString(" "), parts.last)
        }
      val wantTypes = wantCols.map(p => typ(p._2))
      def normName(s: String) =
        s.toLowerCase.replaceAll("\\s+", "")
      assert(out.columns.map(normName).toSeq ==
        wantCols.map(p => normName(p._1)).toSeq,
        s"columns: got ${out.columns.toSeq}, want ${wantCols.map(_._1).toSeq}")
      // TIMESTAMP is a distinct native type, not an int64 view: a
      // column declared timestamp must come back as TimestampType and
      // a non-timestamp column must not
      wantCols.map(_._2.toLowerCase).zip(out.schema.fields).foreach {
        case (decl, f) =>
          assert((decl == "timestamp") == (f.dataType == TimestampType),
            s"type model: column ${f.name} declared $decl, " +
              s"engine returned ${f.dataType}")
      }
      val want = wantRows.map(_.zip(wantTypes).map { case (v, t) =>
        norm(coerce(v, t))
      })
      val oi = c.expect.order.map(o =>
        wantCols.indexWhere(_._1.equalsIgnoreCase(o))).getOrElse(-1)
      def key(r: Seq[Any]): (BigDecimal, String) = {
        val k = if (oi >= 0) r(oi) else r
        k match {
          case b: BigDecimal => (b, r.mkString("|"))
          case other         => (BigDecimal(0), String.valueOf(other) + "|" + r.mkString("|"))
        }
      }
      val got = got0.sortBy(key)
      val sorted = want.sortBy(key)
      assert(got == sorted,
        s"\nsql: $sql\ngot:  ${got.mkString("\n      ")}\nwant: ${sorted.mkString("\n      ")}")
    }
  }

  private val all: Seq[SqlCase] = files.flatMap { case (path, tag) =>
    CaseLoader.load(s"$base/$path", tag)
  }

  private def upstreamDisabled(c: SqlCase): Boolean =
    c.tags.exists(t => t.contains("TODO") || t.contains("bug")) ||
      c.mode.contains("batch-unsupport")

  all.foreach { c =>
    val name = s"yaml ${c.key} ${c.desc}"
    if (upstreamDisabled(c)) {
      // upstream marks these disabled; don't count them as coverage
    } else test(name) {
      skip.get(c.key).orElse(unsupportedType(c)) match {
        case Some(reason) => cancel(reason)
        case None         => run(c)
      }
    }
  }

  test("yaml corpus: at least 60 reference cases execute") {
    val executed = all.count(c => !upstreamDisabled(c) && !skip.contains(c.key))
    info(s"executed=${executed} skipped=${skip.size} upstreamDisabled=${all.count(upstreamDisabled)}")
    assert(executed >= 60, s"only $executed cases executed")
  }
}
