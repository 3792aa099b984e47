package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.GraftSql

/** The feature query of OpenMLDB's own benchmark generator
  * (Util.genScript with its defaults: 2 windows x 6 aggregates over
  * ROWS_RANGE 30d MAXSIZE 1000, 2 LAST JOINs), over the events history
  * and its customer and supplier dimension tables. */
object FeatureSql {
  val Columns: Seq[String] = Seq(
    "event_id", "user_id", "et_up", "et_sub", "v2", "c_nationkey", "c_acctbal",
    "s_nationkey", "dc_w0", "sum_w0", "cnt_w0", "avg_w0", "cw0_s", "cw0_v",
    "dc_w1", "sum_w1", "cnt_w1", "avg_w1", "cw1_s", "cw1_v")

  /** Position of cnt_w0 in a served row. */
  val CntW0: Int = Columns.indexOf("cnt_w0")

  private val joins =
    "LAST JOIN pb_cust ON user_id = c_custkey LAST JOIN pb_supp ON user_id = s_suppkey"

  /** The SELECT over `from`; `union` adds a table to both windows. */
  def query(from: String, union: Option[String]): String = {
    // the UNION side must carry the primary side's joined columns
    val u = union.map(t => s"UNION (SELECT * FROM $t $joins) ").getOrElse("")
    s"""SELECT event_id, user_id,
       |  upper(event_type) AS et_up,
       |  substr(event_type, 2) AS et_sub,
       |  value * 2 AS v2,
       |  c_nationkey, c_acctbal, s_nationkey,
       |  distinct_count(event_type) OVER w0 AS dc_w0,
       |  sum(value) OVER w0 AS sum_w0,
       |  count(event_type) OVER w0 AS cnt_w0,
       |  avg(value) OVER w0 AS avg_w0,
       |  case when !isnull(at(event_type, 0)) OVER w0 then count(event_type) OVER w0 else null end AS cw0_s,
       |  case when !isnull(at(value, 0)) OVER w0 then count(value) OVER w0 else null end AS cw0_v,
       |  distinct_count(event_type) OVER w1 AS dc_w1,
       |  sum(value) OVER w1 AS sum_w1,
       |  count(event_type) OVER w1 AS cnt_w1,
       |  avg(value) OVER w1 AS avg_w1,
       |  case when !isnull(at(event_type, 0)) OVER w1 then count(event_type) OVER w1 else null end AS cw1_s,
       |  case when !isnull(at(value, 0)) OVER w1 then count(value) OVER w1 else null end AS cw1_v
       |FROM $from $joins
       |WINDOW w0 AS (${u}PARTITION BY user_id ORDER BY ts_ms
       |    ROWS_RANGE BETWEEN 30d PRECEDING AND CURRENT ROW MAXSIZE 1000),
       |  w1 AS (${u}PARTITION BY user_id, event_type ORDER BY ts_ms
       |    ROWS_RANGE BETWEEN 30d PRECEDING AND CURRENT ROW MAXSIZE 1000)""".stripMargin
  }

  /** Register the cached history (`events` as event_id, user_id,
    * event_type, value, ts_ms) and the dimension tables; returns the
    * cached frames so the caller can release them. */
  def loadTables(spark: SparkSession, data: String, historyView: String): Seq[DataFrame] = {
    val ev = spark.read.parquet(s"$data/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"))
      .cache()
    val cust = spark.read.parquet(s"$data/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")).cache()
    val supp = spark.read.parquet(s"$data/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey")).cache()
    Seq(ev, cust, supp).foreach(_.count())
    ev.createOrReplaceTempView(historyView)
    cust.createOrReplaceTempView("pb_cust")
    supp.createOrReplaceTempView("pb_supp")
    Seq(ev, cust, supp)
  }

  /** Order-independent 64-bit checksum of one output row: doubles
    * rounded to 3 decimals, so that the check is about values and not
    * about the last bits of a floating-point sum. */
  def rowHash(r: Row): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < r.length) {
      val v: Long = r.get(i) match {
        case null                => 0x5bd1e995L
        case d: java.lang.Double => math.round(d * 1000.0)
        case n: java.lang.Number => n.longValue()
        case s: String           => s.hashCode.toLong
        case other               => other.toString.hashCode.toLong
      }
      h = (h ^ v) * 0xff51afd7ed558ccdL
      h ^= h >>> 33
      i += 1
    }
    h
  }
}

/** offline_features: the feature query as a batch, then again with a
  * seeded disjoint slice of events UNIONed into both windows. */
final class OfflineFeatures(o: Opts, spark: SparkSession) extends BatchWorkload(spark) {
  import FeatureSql._

  /** Checksums at the default seed, per scale: (statement 1, statement 2). */
  private val Recorded: Map[String, (Long, Long)] = Map(
    "full" -> (5023019685040533065L, 8237629934675129575L),
    "tiny" -> (4570823292010442080L, -8214740293401297234L))

  private var cached: Seq[DataFrame] = Nil
  private var nAll = 0L
  private var nMain = 0L
  private var executions = 0L

  // One event in ten goes to the UNION table: those with
  // (a * event_id + b) mod 10 = 0, a and b drawn from the seed.
  private val (sliceA, sliceB) = {
    val rnd = new scala.util.Random(o.seed)
    (2L * rnd.nextInt(1 << 20) + 1, rnd.nextInt(10).toLong)
  }

  def setup(tr: Tracer): Unit = {
    cached.foreach(_.unpersist(true))
    val base = loadTables(spark, o.data, "pb_all")
    val sliced = pmod(lit(sliceA) * col("event_id") + lit(sliceB), lit(10L)) === 0
    val main = base.head.filter(!sliced).cache()
    val slice = base.head.filter(sliced).cache()
    nAll = base.head.count()
    nMain = main.count()
    slice.count()
    main.createOrReplaceTempView("pb_main")
    slice.createOrReplaceTempView("pb_slice")
    cached = base ++ Seq(main, slice)
  }

  /** What one statement returned: rows, checksum of all rows, checksum
    * of the rows outside the UNION slice, exchanges of the final plan. */
  private final case class Out(rows: Long, sum: Long, sumMain: Long, exchanges: Int)

  private def statement(tr: Tracer, text: String): Out = {
    val df = tr.span("sql.plan")(GraftSql.sql(spark, text))
    tr.span("sql.optimize")(df.queryExecution.executedPlan)
    val (a, b) = (sliceA, sliceB)
    val (n, all, main) = tr.span("sql.execute") {
      df.rdd.mapPartitions { it =>
        var n, h, hm = 0L
        it.foreach { r =>
          val x = rowHash(r)
          n += 1; h += x
          if (Math.floorMod(a * r.getLong(0) + b, 10L) != 0) hm += x
        }
        Iterator((n, h, hm))
      }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z) }
    }
    Out(n, all, main, Plans.exchanges(df.queryExecution.executedPlan))
  }

  private var exchangesPerExecution = 0.0

  protected def execution(tr: Tracer, phase: Phase): Unit = {
    val t0 = System.nanoTime()
    val (a, b) = tr.span("offline.execution", executions) {
      (statement(tr, query("pb_all", None)),
        statement(tr, query("pb_main", Some("pb_slice"))))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    executions += 1
    exchangesPerExecution = a.exchanges + b.exchanges
    val (rec1, rec2) = Recorded(o.scale)
    val problems = Seq(
      (a.rows != nAll) -> s"statement 1 returned ${a.rows} rows for $nAll input rows",
      (b.rows != nMain) -> s"statement 2 returned ${b.rows} rows for $nMain input rows",
      (b.sum != a.sumMain) ->
        s"UNION statement checksum ${b.sum} != batch checksum ${a.sumMain} over the same rows",
      (o.defaultSeed && a.sum != rec1) -> s"statement 1 checksum ${a.sum} != recorded $rec1",
      (o.defaultSeed && b.sum != rec2) -> s"statement 2 checksum ${b.sum} != recorded $rec2"
    ).collect { case (true, why) => why }
    phase.record("op", ms, problems.isEmpty, problems.mkString("; "))
  }

  def layers(tr: Tracer, c: SparkCounters, untraced: Phase, traced: Phase,
      replay: Phase): Map[String, Double] = {
    val n = math.max(1, traced.count)
    def perExecution(span: String) = tr.named(span).map(_.ms).sum / n
    Map(
      "sql.plan_ms" -> perExecution("sql.plan"),
      "sql.optimize_ms" -> perExecution("sql.optimize"),
      "sql.execute_ms" -> perExecution("sql.execute"),
      "spark.exchanges" -> exchangesPerExecution)
  }

  def close(): Unit = cached.foreach(_.unpersist(false))
}
