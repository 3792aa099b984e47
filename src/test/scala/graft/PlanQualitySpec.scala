package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewWindow

/** Plan-shape assertions — the properties that decide whether these
  * operators survive a 100 TB scale-up: filters and projections must
  * reach the parquet scan, small dimensions must broadcast, the LAST
  * JOIN right side must pre-reduce before the join, and scalar
  * pipelines must stay inside whole-stage codegen. */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("filter pushes down to the parquet scan and prunes columns") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("IsNotNull") || p.contains("EqualTo"),
      "filter not pushed to parquet")
    // projection pruning: untouched wide columns must not be read
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      "scan reads columns the query never uses")
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan("q_join_left")
    assert(p.contains("BroadcastHashJoin"), "dim join did not broadcast")
  }

  test("LAST JOIN pre-reduces the right side before joining") {
    val df = SparkEntry.queries("q_last_join")(spark, d)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("max_by"), "right side not reduced with max_by")
    val p = plan("q_last_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "reduced right side did not join as an equi-join")
  }

  test("long-window head edge is a window, not a raw-bucket join") {
    // the head-bucket edge must come from the union + suffix-window
    // formulation: a (key, head-bucket) equi-join against raw rows is
    // O(rows-per-bucket²) per bucket (measured 0.9s → 13.9s from
    // sf0.1 → sf1 before the rewrite). Shape gate: two Window nodes
    // (tail cumulative + head suffix) and exactly three joins (the
    // full-bucket MV join and the two join-backs on uid).
    val df = SparkEntry.queries("q_long_window")(spark, d)
    val opt = df.queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    val joins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(windows.size == 2,
      s"expected tail+head windows, got ${windows.size}")
    assert(joins.size == 3,
      s"expected MV join + 2 uid join-backs, got ${joins.size} joins " +
        "(a 4th join is the quadratic head-bucket shape)")
  }

  test("scalar pipelines run inside whole-stage codegen") {
    // codegen'd stages print with the "*(n)" marker in simple format
    val p = plan("q_scalar_math")
    assert(p.contains("*("), "scalar pipeline not codegen'd")
  }

  test("group-by aggregate does map-side partial aggregation") {
    val p = plan("q1_agg")
    // two HashAggregate layers: partial before exchange, final after
    val first = p.indexOf("HashAggregate")
    val second = p.indexOf("HashAggregate", first + 1)
    assert(first >= 0 && second > first, "no partial/final aggregate split")
    assert(p.contains("Exchange hashpartitioning"), "no hash exchange")
  }

  test("skew-parallelized window equals the direct window") {
    // one giant key — the shape that breaks PARTITION BY at scale
    val rng = new scala.util.Random(5)
    val df = (1 to 500).map(i =>
      ("hot", rng.nextInt(10000).toLong, rng.nextInt(100).toDouble))
      .toDF("k", "ts", "v")
    val skewed = SkewWindow.rangeSumCount(df, col("k"), col("ts"), col("v"),
        precedingMs = 500L, bucketMs = 500L)
      .select(col("ts"), col("v"), col("sw_sum"), col("sw_cnt"))
      .as[(Long, Double, Double, Long)].collect().sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("ts")).rangeBetween(-500L, 0)
    val direct = df.select(col("ts"), col("v"),
        sum(col("v")).over(w), count(col("v")).over(w))
      .as[(Long, Double, Double, Long)].collect().sorted.toSeq
    assert(skewed == direct)
  }

  test("skew window partitions by (key, bucket), not key alone") {
    val df = Seq(("hot", 1L, 1.0)).toDF("k", "ts", "v")
    val p = SkewWindow.rangeSumCount(df, col("k"), col("ts"), col("v"),
      500L, 500L).queryExecution.executedPlan.toString
    assert(p.contains("__bucket"), "bucket column missing from partitioning")
  }

  test("salted frame array equals the unsalted frame array on a hot key") {
    import graft.operators.WindowOps
    val rng = new scala.util.Random(7)
    // one giant key, duplicate timestamps, nulls — every attribute bites
    val df = (1 to 400).map(i =>
      ("hot", rng.nextInt(3000).toLong, i.toLong,
        if (i % 13 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(rng.nextInt(100).toDouble)))
      .toDF("k", "ts", "uid", "v")
    for ((mx, xct, xcr, strict) <- Seq(
        (5, false, false, true),   // MAXSIZE fast path
        (5, true, false, false),   // MAXSIZE + EXCLUDE CURRENT_TIME (slow)
        (0, false, true, false),   // EXCLUDE CURRENT_ROW (slow)
        (3, true, true, true))) {  // everything at once
      val salted = SkewWindow.withFrameArray(df, "__arr",
          col("v"), col("ts"), col("uid"), Seq(col("k")),
          precedingMs = 500L, bucketMs = 500L, maxSize = mx,
          excludeCurrentTime = xct, excludeCurrentRow = xcr,
          strictRowOrder = strict)
        .select(col("uid"), WindowOps.aggSum(col("__arr")).as("s"),
          WindowOps.aggCount(col("__arr")).as("c"))
        .as[(Long, Option[Double], Long)].collect().sorted.toSeq
      val direct = df
        .withColumn("__arr", WindowOps.frameArray(
          col("v"), col("ts"), col("uid"), Seq(col("k")),
          precedingMs = 500L, maxSize = mx,
          excludeCurrentTime = xct, excludeCurrentRow = xcr,
          strictRowOrder = strict))
        .select(col("uid"), WindowOps.aggSum(col("__arr")).as("s"),
          WindowOps.aggCount(col("__arr")).as("c"))
        .as[(Long, Option[Double], Long)].collect().sorted.toSeq
      assert(salted == direct,
        s"salted != direct for maxSize=$mx xct=$xct xcr=$xcr strict=$strict")
    }
  }

  test("salted frame array partitions by (key, bucket)") {
    val df = Seq(("hot", 1L, 1L, 1.0)).toDF("k", "ts", "uid", "v")
    val p = SkewWindow.withFrameArray(df, "__arr", col("v"), col("ts"),
        col("uid"), Seq(col("k")), 500L, 500L, maxSize = 2,
        excludeCurrentTime = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("__sw_bucket"), "bucket column missing from partitioning")
  }

  // Long.MaxValue/4 — the "effectively unbounded" range literal the old
  // extended-frame lowering planted into a RangeFrame collect_list.
  private val unboundedLit = (Long.MaxValue / 4).toString

  test("unbounded frame + EXCLUDE CURRENT_ROW plans a running agg, not a history collect") {
    Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0)).toDF("pk", "ts", "v")
      .createOrReplaceTempView("pq_unb")
    val df = graft.sql.GraftSql.sql(spark,
      """SELECT pk, sum(v) OVER w AS s FROM pq_unb
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS_RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        |  EXCLUDE CURRENT_ROW)""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("collect_list"),
      "unbounded EXCLUDE CURRENT_ROW still buffers the whole history")
    assert(!p.contains(unboundedLit), "effectively-unbounded RangeFrame in plan")
  }

  test("bounded ROWS frame plans a rows-frame collect, not a history collect") {
    Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0)).toDF("pk", "ts", "v")
      .createOrReplaceTempView("pq_rows")
    val df = graft.sql.GraftSql.sql(spark,
      """SELECT pk, sum(v) OVER w AS s FROM pq_rows
        |WINDOW w AS (PARTITION BY pk ORDER BY ts
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW EXCLUDE CURRENT_ROW)""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains(unboundedLit),
      "bounded ROWS frame still collects the whole history range")
  }

  test("MAXSIZE query uses a bounded ROWS frame (no RangeFrame collect, no sort)") {
    val p = plan("q_window_maxsize")
    assert(p.contains("specifiedwindowframe(RowFrame"),
      "maxsize frame not lowered to a ROWS frame")
    assert(!p.contains("array_sort"), "fast path should not sort the frame")
  }

  test("lshFirstSeen pre-barrier plan shows the banded groupBy/join " +
      "shape (the public form checkpoints to Scan ExistingRDD)") {
    val df = SparkEntry.planVariants("q_dedup_lshseen")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // per-bucket minima: partial/final aggregate keyed on (band, bh)
    assert(p.contains("band") && p.contains("bh"),
      s"banded bucket key missing from plan:\n${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial/final min(doc_id) aggregation per bucket")
    // the join back is an equi-join on the bucket key — never a
    // cartesian/pair blowup
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "bucket join degenerated")
  }

  test("semanticDedup pre-barrier plan: bucketed equi-join, no cartesian, " +
      "centroids as literals (code, not data)") {
    val df = SparkEntry.planVariants("q_dedup_semantic")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // pair enumeration is an equi-join on the probe-bucket key
    assert(p.contains("pc"), s"probe bucket key missing:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pair enumeration degenerated to a cross join")
    // centroid assignment ships as broadcast literals inside the
    // expression — no centroid-table shuffle or join anywhere
    assert(!p.toLowerCase.contains("centroid"),
      "centroids must not appear as a relation")
  }

  test("decontaminate broadcasts the probe gram set; hits stay narrow") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"probe grams should broadcast:\n${p.take(1500)}")
    // the contaminated-id side partial-aggregates before its shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial/final distinct aggregation of hit ids")
  }

  test("strict-tie SQL window plans ONE exchange and ONE sort") {
    // the tie-prefix + range decomposition must share a single
    // hash(partition) exchange and a single (partition, ts, uid) sort —
    // TransposeWindow excluded + prePartition (GraftSql.planWindows);
    // regressing to a sort or exchange per stage doubles the dominant
    // cost of every plain ROWS_RANGE window at scale
    val p = plan("q_sql_window")
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(p).length
    val sorts = "\\+- Sort \\[".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${p.take(1500)}")
    assert(sorts == 1, s"expected 1 sort, got $sorts:\n${p.take(1500)}")
    assert("windowspecdefinition".r.findAllIn(p).nonEmpty)
  }

  test("sequence packing plans ONE exchange and no UDFs") {
    // the whole packer is one shard-hash shuffle (the window cumsum)
    // followed by codegen'd span arithmetic + Generate — a second
    // exchange or a UDF here would dominate a 100 TB pack run
    val p = plan("q_pack_sequences")
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${p.take(1500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "packer must stay native")
    assert(p.contains("Generate explode"), "span fan-out must be a Generate")
    // only doc_id and text leave the scan (token costing reads text)
    assert(!p.contains("lang") || !p.contains("ReadSchema: struct<doc_id:bigint,lang"),
      "scan reads columns the packer never uses")
  }

  test("Bloom decontamination filters gram rows BEFORE any join and " +
      "never broadcasts the probe grams") {
    // the whole point of the Bloom path: corpus gram rows die in a
    // codegen'd might_contain scan-side Filter; the exact verify join
    // then sees only survivors, so neither side needs to fit in
    // executor memory at 100 TB
    val p = plan("q_decontaminate_bloom")
    assert(p.contains("might_contain"),
      s"no BloomFilterMightContain filter in plan:\n${p.take(1500)}")
    val filterIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx < 0 || p.indexOf("Filter", joinIdx) > 0,
      "bloom filter should sit below the verify join")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "bloom path must stay native")
    assert(filterIdx >= 0)
  }

  test("BM25 top-k pre-limits map-side before the per-query shuffle") {
    // WindowGroupLimit(Partial) keeps at most k rows per query per
    // task BEFORE the qid exchange — without it the shuffle carries
    // every (query, doc) score, which is the retrieval blow-up a
    // 100 TB corpus cannot afford
    val p = plan("q_bm25")
    assert(p.contains("WindowGroupLimit"),
      s"no group-limit pushdown:\n${p.take(1500)}")
    assert("WindowGroupLimit .*Partial".r.findAllIn(p).nonEmpty,
      "expected the map-side partial group limit")
    // df and corpus stats ride broadcast joins; the postings stream
    // is never broadcast
    assert(p.contains("BroadcastHashJoin"), "df/stats should broadcast")
  }

  test("offline-store reads are plain parquet scans with column pruning") {
    import graft.sql.GraftSql
    GraftSql.resetCatalogState(spark)
    GraftSql.statement(spark, "CREATE TABLE pq_off (k bigint, s string, " +
      "v double)")
    GraftSql.statement(spark, "SET @@execute_mode = 'offline'")
    GraftSql.statement(spark, "INSERT INTO pq_off VALUES (1, 'a', 1.5)")
    val p = GraftSql.sql(spark, "SELECT k FROM pq_off WHERE k > 0")
      .queryExecution.executedPlan.toString
    assert(p.contains("FileScan parquet"),
      s"offline read should be a parquet scan:\n${p.take(1200)}")
    assert(p.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,0)]"),
      "filter not pushed into the offline scan")
    assert(!p.contains("struct<k:bigint,s:string,v:double"),
      "offline scan reads columns the query never uses")
    GraftSql.statement(spark, "SET @@execute_mode = 'online'")
    GraftSql.resetCatalogState(spark)
  }

  private def planNodes(df: org.apache.spark.sql.DataFrame): Int = {
    var n = 0
    df.queryExecution.analyzed.foreach(_ => n += 1)
    n
  }

  test("online table plan size does not grow with the INSERT count") {
    import graft.sql.GraftSql
    GraftSql.statement(spark, "CREATE TABLE pq_ins (id bigint, v string)")
    try {
      def insert(i: Int): Unit =
        GraftSql.statement(spark, s"INSERT INTO pq_ins VALUES ($i, 'v$i')")
      def shape = {
        val df = spark.table("pq_ins")
        (planNodes(df), df.rdd.getNumPartitions)
      }
      insert(1)
      val one = shape
      (2 to 60).foreach(insert)
      assert(shape == one, s"after 1 insert: $one, after 60: $shape")
      assert(spark.table("pq_ins").filter("id > 50").count() == 10)
    } finally GraftSql.statement(spark, "DROP TABLE pq_ins")
  }

  test("a fold keeps an earlier DataFrame readable; DROP frees its blocks") {
    import graft.sql.GraftSql
    val sc = spark.sparkContext
    GraftSql.statement(spark, "CREATE TABLE pq_fold (id bigint, v string)")
    val n = GraftCatalog.FoldRows + 1
    // each call appends past the fold constant, so each one folds
    def append(from: Int): Unit = GraftCatalog.insertValues(spark, "pq_fold",
      (from until from + n).map(i => org.apache.spark.sql.Row(i.toLong, s"v$i")))
    def pinned: Set[Int] = spark.table("pq_fold").queryExecution.analyzed
      .collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet.intersect(sc.getPersistentRDDs.keySet.toSet)
    append(0)
    val first = pinned
    assert(first.nonEmpty, "the fold pinned no blocks")
    val derived = spark.table("pq_fold").filter("id % 2 = 0")
    val evens = derived.count()
    append(n)
    val second = pinned
    assert(second.nonEmpty && second.intersect(first).isEmpty)
    assert(derived.count() == evens)
    assert(spark.table("pq_fold").count() == 2L * n)
    GraftSql.statement(spark, "DROP TABLE pq_fold")
    val left = (first ++ second).intersect(sc.getPersistentRDDs.keySet.toSet)
    assert(left.isEmpty, s"blocks still pinned after DROP: $left")
  }
}
