package graft.sql

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Characterization net for the dialect's typed function calls: every
  * call whose meaning depends on an operand type (the int64-ms /
  * GMT+8 timestamp model, the C++ number renderings, the typed hash
  * encodings, the `*_where` / `*_cate` / top-n aggregate families and
  * their type checks). Each case pins the output column name, the
  * result type and every value over a fixture with one column of each
  * dialect type plus an all-NULL row; each error case pins the
  * exception class and message. Aggregates run in both grouped and
  * `OVER` positions. */
class DialectFunctionsSpec extends SparkSpec {

  private lazy val fx: DataFrame = {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("o", LongType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("s", StringType), StructField("dt", DateType),
      StructField("ts", TimestampType)))
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def dt(s: String) = java.sql.Date.valueOf(s)
    val rs = Seq(
      Row("a", 1L, 1.toShort, 10, 1590115420000L, 1.5f, 30.0, true,
        "2020-05-22 10:43:40", dt("2020-05-22"), ts(1590115420000L)),
      Row("a", 2L, 2.toShort, -20, 100L, 2.25f, -0.5, false,
        "abc,de", dt("2020-06-01"), ts(1590200000000L)),
      Row("a", 3L, null, null, null, null, null, null, null, null, null),
      Row("b", 1L, 3.toShort, 30, -5L, 0.1f, 1e20, true,
        "Hello%", dt("1999-12-31"), ts(0L)))
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    fx.createOrReplaceTempView("dfx")
  }

  private val win = "WINDOW w AS (PARTITION BY k ORDER BY o " +
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
  private val winR = "WINDOW w AS (PARTITION BY k ORDER BY o " +
    "ROWS_RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)"

  private def render(v: Any): String = v match {
    case null                  => "null"
    case t: java.sql.Timestamp => s"ts${t.getTime}"
    case d: java.sql.Date      => d.toLocalDate.toString
    case r: Row                => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => s"${render(a)}->${render(b)}" }
        .sorted.mkString("{", ",", "}")
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case x                     => x.toString
  }

  /** `name:type=[v, ...]` of the last column, rows in (k, o) order; or
    * `!Class: message` when planning or running fails. */
  private def outcome(sql: String): String =
    try {
      val df = GraftSql.sql(spark, sql)
      val f = df.schema.fields.last
      val vs = df.collect().toSeq.sortBy(r => render(r.get(0)) + "|" +
        (if (df.columns.length > 2) render(r.get(1)) else ""))
        .map(r => render(r.get(r.length - 1)))
      s"${f.name}:${f.dataType.simpleString}=${vs.mkString("[", ", ", "]")}"
    } catch {
      case e: Exception =>
        // first line only, expression ids masked: analyzer messages
        // carry plan text whose ids shift between runs
        val msg = String.valueOf(e.getMessage).linesIterator
          .nextOption().getOrElse("").replaceAll("#\\d+", "#N")
        s"!${e.getClass.getSimpleName}: $msg"
    }

  private def scalar(e: String) = s"SELECT k, o, $e FROM dfx"
  private def grouped(e: String) = s"SELECT k, $e FROM dfx GROUP BY k"
  private def over(e: String) = s"SELECT k, o, $e OVER w FROM dfx $win"
  private def overR(e: String) = s"SELECT k, o, $e OVER w FROM dfx $winR"
  private def inline(e: String) = s"SELECT k, o, $e FROM dfx $win"

  private def check(cases: Seq[(String, String)]): Unit = {
    val got = cases.map { case (sql, _) => sql -> outcome(sql) }
    val bad = cases.zip(got).filter { case ((_, want), (_, g)) => want != g }
    assert(bad.isEmpty, bad.map { case ((sql, want), (_, g)) =>
      s"\n  $sql\n    want: $want\n    got:  $g" }.mkString)
  }

  test("timestamp(), date() and numeric / string casts under the int64-ms model") { check(Seq(
    scalar("timestamp(i64)") ->
      "timestamp ( i64 ):timestamp=[ts1590115420000, ts100, null, null]",
    scalar("timestamp(s)") ->
      "timestamp ( s ):timestamp=[ts1590115420000, null, null, null]",
    scalar("timestamp(dt)") ->
      "timestamp ( dt ):timestamp=[ts1590076800000, ts1590940800000, null, ts946569600000]",
    scalar("timestamp(ts)") ->
      "timestamp ( ts ):timestamp=[ts1590115420000, ts1590200000000, null, ts0]",
    scalar("timestamp(1590115420000)") ->
      "timestamp ( 1590115420000 ):timestamp=[ts1590115420000, ts1590115420000, ts1590115420000, ts1590115420000]",
    scalar("timestamp('2020-05-22 10:43:40')") ->
      "timestamp ( '2020-05-22 10:43:40' ):timestamp=[ts1590115420000, ts1590115420000, ts1590115420000, ts1590115420000]",
    scalar("timestamp('junk')") ->
      "timestamp ( 'junk' ):timestamp=[null, null, null, null]",
    scalar("timestamp(-1)") ->
      "timestamp ( - 1 ):timestamp=[null, null, null, null]",
    scalar("timestamp(NULL)") ->
      "timestamp ( NULL ):timestamp=[null, null, null, null]",
    scalar("CAST(i64 AS TIMESTAMP)") ->
      "CAST ( i64 AS TIMESTAMP ):timestamp=[ts1590115420000, ts100, null, null]",
    scalar("date(ts)") ->
      "date ( ts ):date=[2020-05-22, 2020-05-23, null, 1970-01-01]",
    scalar("date(s)") ->
      "date ( s ):date=[2020-05-22, null, null, null]",
    scalar("date(dt)") ->
      "date ( dt ):date=[2020-05-22, 2020-06-01, null, 1999-12-31]",
    scalar("date(i64)") ->
      "!IllegalArgumentException: date() expects a timestamp/string/date operand, not LongType",
    scalar("date(1)") ->
      "!IllegalArgumentException: date() expects a timestamp/string/date operand, not IntegerType",
    scalar("date(b)") ->
      "!IllegalArgumentException: date() expects a timestamp/string/date operand, not BooleanType",
    scalar("bigint(ts)") ->
      "bigint ( ts ):bigint=[1590115420000, 1590200000000, null, 0]",
    scalar("int64(ts)") ->
      "int64 ( ts ):bigint=[1590115420000, 1590200000000, null, 0]",
    scalar("int(ts)") ->
      "int ( ts ):int=[977520480, 1062100480, null, 0]",
    scalar("int32(ts)") ->
      "int32 ( ts ):int=[977520480, 1062100480, null, 0]",
    scalar("int16(i32)") ->
      "int16 ( i32 ):smallint=[10, -20, null, 30]",
    scalar("smallint(ts)") ->
      "smallint ( ts ):smallint=[-14496, 24064, null, 0]",
    scalar("double(ts)") ->
      "double ( ts ):double=[1.59011542E12, 1.5902E12, null, 0.0]",
    scalar("float(ts)") ->
      "float ( ts ):float=[1.59011543E12, 1.59019998E12, null, 0.0]",
    scalar("bigint(i32)") ->
      "bigint ( i32 ):bigint=[10, -20, null, 30]",
    scalar("bool(i32)") ->
      "bool ( i32 ):boolean=[true, true, null, true]",
    scalar("CAST(ts AS BIGINT)") ->
      "CAST ( ts AS BIGINT ):bigint=[1590115420000, 1590200000000, null, 0]",
    scalar("CAST(ts AS int64)") ->
      "CAST ( ts AS int64 ):bigint=[1590115420000, 1590200000000, null, 0]",
    scalar("CAST(i32 AS int64)") ->
      "CAST ( i32 AS int64 ):bigint=[10, -20, null, 30]",
    scalar("CAST(ts AS DOUBLE)") ->
      "CAST ( ts AS DOUBLE ):double=[1.59011542E12, 1.5902E12, null, 0.0]",
    scalar("string(f)") ->
      "string ( f ):string=[1.5, 2.25, null, 0.1]",
    scalar("string(d)") ->
      "string ( d ):string=[30, -0.5, null, 1.0E20]",
    scalar("string(ts)") ->
      "string ( ts ):string=[2020-05-22 10:43:40, 2020-05-23 10:13:20, null, 1970-01-01 08:00:00]",
    scalar("string(i32)") ->
      "string ( i32 ):string=[10, -20, null, 30]",
    scalar("string(b)") ->
      "string ( b ):string=[true, false, null, true]",
    scalar("CAST(d AS STRING)") ->
      "CAST ( d AS STRING ):string=[30, -0.5, null, 1.0E20]",
    scalar("CAST(ts AS VARCHAR)") ->
      "CAST ( ts AS VARCHAR ):string=[2020-05-22 10:43:40, 2020-05-23 10:13:20, null, 1970-01-01 08:00:00]",
    scalar("CAST(f AS VARCHAR(10))") ->
      "CAST ( f AS VARCHAR ( 10 ) ):string=[1.5, 2.25, null, 0.1]",
    scalar("varchar(d)") ->
      "varchar ( d ):string=[30.0, -0.5, null, 1.0E20]",
  )) }

  test("casts over window results type the window value") { check(Seq(
    over("string(sum(d))") ->
      "string ( sum ( d ) ) over w:string=[30, 29.5, 29.5, 1.0E20]",
    inline("bigint(lag(ts, 1) OVER w)") ->
      "bigint ( lag ( ts , 1 ) OVER w ):bigint=[null, 1590115420000, 1590200000000, null]",
    inline("string(lag(ts, 1) OVER w)") ->
      "string ( lag ( ts , 1 ) OVER w ):string=[null, 2020-05-22 10:43:40, 2020-05-23 10:13:20, null]",
  )) }

  test("typed hashes and feature-signature formats") { check(Seq(
    scalar("hash64(i16)") ->
      "hash64 ( i16 ):bigint=[17326723569209580, 3600011147559003358, null, -2287843554642548412]",
    scalar("hash64(i32)") ->
      "hash64 ( i32 ):bigint=[-8374795361503160817, 7978361677552987886, null, -8115536520845833342]",
    scalar("hash64(i64)") ->
      "hash64 ( i64 ):bigint=[4361965398422314040, 6775825102706652399, null, 3806320254606532889]",
    scalar("hash64(f)") ->
      "hash64 ( f ):bigint=[5241592790923130176, 2499624619929507944, null, 9125134709398260921]",
    scalar("hash64(d)") ->
      "hash64 ( d ):bigint=[-8004657536881655418, -6003616869514808883, null, -817425040029079471]",
    scalar("hash64(b)") ->
      "hash64 ( b ):bigint=[5161771770385946686, -4728684028706075820, null, 5161771770385946686]",
    scalar("hash64(dt)") ->
      "hash64 ( dt ):bigint=[8404425847834283164, 7407810230303067912, null, 8097504421461540741]",
    scalar("hash64(ts)") ->
      "hash64 ( ts ):bigint=[4361965398422314040, 5750180663478843231, null, 1457330246272086660]",
    scalar("hash64(s)") ->
      "hash64 ( s ):bigint=[-5252610127384537318, -2565185227717923036, null, -2750701464934227512]",
    scalar("farm_fingerprint(i32)") ->
      "farm_fingerprint ( i32 ):bigint=[-8374795361503160817, 7978361677552987886, null, -8115536520845833342]",
    scalar("csv(continuous(d), discrete(i32, 5), binary_label(b))") ->
      "csv ( continuous ( d ) , discrete ( i32 , 5 ) , binary_label ( b ) ):string=[30.000000,4,1, -0.500000,1,0, ,,, 100000000000000000000.000000,4,1]",
    scalar("libsvm(regression_label(f), continuous(i32), discrete(s))") ->
      "libsvm ( regression_label ( f ) , continuous ( i32 ) , discrete ( s ) ):string=[1.500000 1:10 -5252610127384537318:1, 2.250000 1:-20 -2565185227717923036:1, , 0.100000 1:30 -2750701464934227512:1]",
    scalar("gcformat(multiclass_label(i32), continuous(f), discrete(ts, 10), discrete(b))") ->
      "gcformat ( multiclass_label ( i32 ) , continuous ( f ) , discrete ( ts , 10 ) , discrete ( b ) ):string=[10 | 1:5925585971146611297:1.500000 2:8 3:5161771770385946686, -20 | 1:5925585971146611297:2.250000 2:1 3:-4728684028706075820,  | , 30 | 1:5925585971146611297:0.100000 2:3 3:5161771770385946686]",
    scalar("csv(continuous(ts), continuous(b), discrete(dt))") ->
      "csv ( continuous ( ts ) , continuous ( b ) , discrete ( dt ) ):string=[2020-05-22 02:43:40,1,8404425847834283164, 2020-05-23 02:13:20,0,7407810230303067912, ,,, 1970-01-01 00:00:00,1,8097504421461540741]",
  )) }

  test("string functions: concat renderings, date_format, like_match, strcmp, substr") { check(Seq(
    scalar("concat(s, ts, f, d, i32)") ->
      "concat ( s , ts , f , d , i32 ):string=[2020-05-22 10:43:402020-05-22 10:43:401.53010, abc,de2020-05-23 10:13:202.25-0.5-20, null, Hello%1970-01-01 08:00:000.11.0E2030]",
    scalar("concat_ws('-', s, d)") ->
      "concat_ws ( '-' , s , d ):string=[2020-05-22 10:43:40-30, abc,de--0.5, null, Hello%-1.0E20]",
    scalar("concat_ws('-', k, i32)") ->
      "concat_ws ( '-' , k , i32 ):string=[a-10, a--20, null, b-30]",
    scalar("concat(k, b)") ->
      "concat ( k , b ):string=[atrue, afalse, null, btrue]",
    scalar("date_format(ts, '%Y-%m-%d %H:%M:%S')") ->
      "date_format ( ts , '%Y-%m-%d %H:%M:%S' ):string=[2020-05-22 10:43:40, 2020-05-23 10:13:20, null, 1970-01-01 08:00:00]",
    scalar("date_format(dt, '%Y/%m/%d')") ->
      "date_format ( dt , '%Y/%m/%d' ):string=[2020/05/22, 2020/06/01, null, 1999/12/31]",
    scalar("date_format(i64, '%Y')") ->
      "!IllegalArgumentException: illegal operand type LongType for date_format",
    scalar("like_match(s, 'a%')") ->
      "like_match ( s , 'a%' ):boolean=[false, true, null, false]",
    scalar("ilike_match(s, 'A%')") ->
      "ilike_match ( s , 'A%' ):boolean=[false, true, null, false]",
    scalar("like_match(s, 'H#%%', '#')") ->
      "like_match ( s , 'H#%%' , '#' ):boolean=[false, false, null, false]",
    scalar("like_match(i32, 'a%')") ->
      "!IllegalArgumentException: illegal operand type for 'like_match' (string required)",
    scalar("like_match(s, NULL)") ->
      "!IllegalArgumentException: like_match: NULL literal argument is not allowed",
    scalar("strcmp(s, 'abc')") ->
      "strcmp ( s , 'abc' ):int=[-1, 1, null, -1]",
    scalar("strcmp(s, i32)") ->
      "!IllegalArgumentException: illegal operand type IntegerType for strcmp",
    scalar("substr(s, 1, 3)") ->
      "substr ( s , 1 , 3 ):string=[202, abc, null, Hel]",
    scalar("substring(s, 2)") ->
      "substring ( s , 2 ):string=[020-05-22 10:43:40, bc,de, null, ello%]",
    scalar("substr(i32, 1, 2)") ->
      "!IllegalArgumentException: illegal operand type IntegerType for 'substr'",
    scalar("unix_timestamp(s)") ->
      "unix_timestamp ( s ):bigint=[1590115420, null, null, null]",
    scalar("unix_timestamp('2020-05-22 10:43:40')") ->
      "unix_timestamp ( '2020-05-22 10:43:40' ):bigint=[1590115420, 1590115420, 1590115420, 1590115420]",
    scalar("unix_timestamp(ts)") ->
      "unix_timestamp ( ts ):bigint=[1590115420, 1590200000, null, 0]",
    scalar("unix_timestamp(dt)") ->
      "unix_timestamp ( dt ):bigint=[1590105600, 1590969600, null, 946598400]",
  )) }

  test("math functions: bool coercion and operand checks") { check(Seq(
    scalar("abs(b)") ->
      "abs ( b ):double=[1.0, 0.0, null, 1.0]",
    scalar("log(b)") ->
      "log ( b ):double=[0.0, -Infinity, -Infinity, 0.0]",
    scalar("ln(b)") ->
      "ln ( b ):double=[0.0, -Infinity, -Infinity, 0.0]",
    scalar("round(d, 1)") ->
      "round ( d , 1 ):double=[30.0, -0.5, null, 1.0E20]",
    scalar("pow(i32, 2)") ->
      "pow ( i32 , 2 ):double=[100.0, 400.0, null, 900.0]",
    scalar("floor(f)") ->
      "floor ( f ):bigint=[1, 2, null, 0]",
    scalar("mod(i32, 3)") ->
      "mod ( i32 , 3 ):int=[1, -2, null, 0]",
    scalar("truncate(d)") ->
      "truncate ( d ):double=[30.0, -0.0, null, 1.0E20]",
    scalar("exp(b)") ->
      "exp ( b ):double=[2.7182818284590455, 1.0, null, 2.7182818284590455]",
    scalar("atan(d, i32)") ->
      "atan ( d , i32 ):double=[1.2490457723982544, -3.1165978599708732, null, 1.5707963267948966]",
    scalar("abs(s)") ->
      "!IllegalArgumentException: illegal operand type StringType for 'abs'",
    scalar("sqrt(b)") ->
      "!IllegalArgumentException: illegal operand type boolean for 'sqrt'",
    scalar("round(dt)") ->
      "!IllegalArgumentException: illegal operand type DateType for 'round'",
    scalar("ceil(ts)") ->
      "!IllegalArgumentException: illegal operand type TimestampType for 'ceil'",
    scalar("pow(i32, s)") ->
      "!IllegalArgumentException: illegal operand type StringType for 'pow'",
  )) }

  test("arrays: at, array_combine") { check(Seq(
    scalar("at(split(s, ','), 1)") ->
      "at ( split ( s , ',' ) , 1 ):string=[null, de, null, null]",
    scalar("array_combine('-', split(s, ','), array(i32))") ->
      "array_combine ( '-' , split ( s , ',' ) , array ( i32 ) ):array<string>=[[2020-05-22 10:43:40-10], [abc--20,de--20], [], [Hello%-30]]",
    scalar("array_combine('-', array(ts), array('x'))") ->
      "array_combine ( '-' , array ( ts ) , array ( 'x' ) ):array<string>=[[2020-05-22 10:43:40-x], [2020-05-23 10:13:20-x], [], [1970-01-01 08:00:00-x]]",
  )) }

  test("date parts read the GMT+8 wall clock") { check(Seq(
    scalar("hour(ts)") ->
      "hour ( ts ):int=[10, 10, null, 8]",
    scalar("hour(i64)") ->
      "hour ( i64 ):int=[10, 8, null, 7]",
    scalar("month(i64)") ->
      "month ( i64 ):int=[5, 1, null, 1]",
    scalar("year(ts)") ->
      "year ( ts ):int=[2020, 2020, null, 1970]",
    scalar("day(dt)") ->
      "day ( dt ):int=[22, 1, null, 31]",
    scalar("dayofweek(ts)") ->
      "dayofweek ( ts ):int=[6, 7, null, 5]",
    scalar("week(ts)") ->
      "week ( ts ):int=[21, 21, null, 1]",
    scalar("minute(ts)") ->
      "minute ( ts ):int=[43, 13, null, 0]",
    scalar("second(i64)") ->
      "second ( i64 ):int=[40, 0, null, 59]",
    scalar("dayofyear(dt)") ->
      "dayofyear ( dt ):int=[143, 153, null, 365]",
    scalar("dayofmonth(i64 + 1000)") ->
      "dayofmonth ( i64 + 1000 ):int=[22, 1, null, 1]",
    scalar("weekofyear(dt)") ->
      "weekofyear ( dt ):int=[21, 23, null, 52]",
    scalar("hour(dt)") ->
      "!IllegalArgumentException: illegal operand type date for 'hour'",
    scalar("month(s)") ->
      "!IllegalArgumentException: illegal operand type StringType for 'month'",
    scalar("day(i32)") ->
      "!IllegalArgumentException: illegal operand type IntegerType for 'day'",
  )) }

  test("*_where aggregates, grouped and over a window") { check(Seq(
    grouped("sum_where(d, b)") ->
      "sum_where ( d , b ):double=[30.0, 1.0E20]",
    over("sum_where(d, b)") ->
      "sum_where ( d , b ) over w:double=[30.0, 30.0, 30.0, 1.0E20]",
    overR("sum_where(d, b)") ->
      "sum_where ( d , b ) over w:double=[30.0, 30.0, 30.0, 1.0E20]",
    grouped("count_where(i32, b)") ->
      "count_where ( i32 , b ):bigint=[1, 1]",
    over("count_where(i32, b)") ->
      "count_where ( i32 , b ) over w:bigint=[1, 1, 1, 1]",
    grouped("count_where(*, b)") ->
      "count_where ( * , b ):bigint=[1, 1]",
    over("count_where(*, b)") ->
      "count_where ( * , b ) over w:bigint=[1, 1, 1, 1]",
    grouped("avg_where(i64, i32 > 0)") ->
      "avg_where ( i64 , i32 > 0 ):double=[1.59011542E12, -5.0]",
    over("avg_where(i64, i32 > 0)") ->
      "avg_where ( i64 , i32 > 0 ) over w:double=[1.59011542E12, 1.59011542E12, 1.59011542E12, -5.0]",
    grouped("min_where(f, b)") ->
      "min_where ( f , b ):float=[1.5, 0.1]",
    over("min_where(f, b)") ->
      "min_where ( f , b ) over w:float=[1.5, 1.5, 1.5, 0.1]",
    grouped("max_where(i16, b)") ->
      "max_where ( i16 , b ):smallint=[1, 3]",
    over("max_where(i16, b)") ->
      "max_where ( i16 , b ) over w:smallint=[1, 1, 1, 3]",
    grouped("sum_where(s, b)") ->
      "!IllegalArgumentException: illegal value type StringType for 'sum_where'",
    over("sum_where(s, b)") ->
      "!IllegalArgumentException: illegal value type StringType for 'sum_where'",
    grouped("max_where(ts, b)") ->
      "!IllegalArgumentException: illegal value type TimestampType for 'max_where'",
  )) }

  test("frame-only aggregates in grouped position") { check(Seq(
    grouped("distinct_count(b)") ->
      "distinct_count ( b ):bigint=[2, 1]",
    over("distinct_count(b)") ->
      "distinct_count ( b ) over w:bigint=[1, 2, 2, 1]",
    grouped("distinct_count(i32)") ->
      "distinct_count ( i32 ):bigint=[3, 1]",
    grouped("top(i32, 2)") ->
      "top ( i32 , 2 ):string=[10,-20, 30]",
    over("top(i32, 2)") ->
      "top ( i32 , 2 ) over w:string=[10, 10,-20, 10,-20, 30]",
    grouped("top(d, 2)") ->
      "top ( d , 2 ):string=[30.000000,-0.500000, 100000000000000000000.000000]",
    grouped("topn_frequency(s, 2)") ->
      "topn_frequency ( s , 2 ):string=[2020-05-22 10:43:40,abc,de, Hello%,NULL]",
    over("topn_frequency(s, 2)") ->
      "topn_frequency ( s , 2 ) over w:string=[2020-05-22 10:43:40,NULL, 2020-05-22 10:43:40,abc,de, 2020-05-22 10:43:40,abc,de, Hello%,NULL]",
    grouped("topn_frequency(d, 2)") ->
      "topn_frequency ( d , 2 ):string=[-0.5,30.0, 1.0E20,NULL]",
    over("topn_frequency(d, 2)") ->
      "topn_frequency ( d , 2 ) over w:string=[30.000000,NULL, -0.500000,30.000000, -0.500000,30.000000, 100000000000000000000.000000,NULL]",
    grouped("topn_frequency(f, 3)") ->
      "topn_frequency ( f , 3 ):string=[1.5,2.25,NULL, 0.1,NULL,NULL]",
    over("topn_frequency(f, 3)") ->
      "topn_frequency ( f , 3 ) over w:string=[1.500000,NULL,NULL, 1.500000,2.250000,NULL, 1.500000,2.250000,NULL, 0.100000,NULL,NULL]",
    grouped("heavy_hitters(s, 2)") ->
      "heavy_hitters ( s , 2 ):map<string,bigint>=[{2020-05-22 10:43:40->1,abc,de->1}, {Hello%->1}]",
    grouped("ew_avg(d, 0.5)") ->
      "!IllegalArgumentException: ew_avg requires an ordered frame: use ew_avg(value, alpha) OVER w",
    over("ew_avg(d, 0.5)") ->
      "ew_avg ( d , 0.5 ) over w:double=[30.0, 9.666666666666666, 9.666666666666666, 1.0E20]",
    grouped("sum(ts)") ->
      "sum ( ts ):timestamp=[ts3180315420000, ts0]",
    over("sum(ts)") ->
      "sum ( ts ) over w:timestamp=[ts1590115420000, ts3180315420000, ts3180315420000, ts0]",
    overR("sum(ts)") ->
      "sum ( ts ) over w:timestamp=[ts1590115420000, ts3180315420000, ts3180315420000, ts0]",
  )) }

  test("*_cate and top-n category aggregates") { check(Seq(
    grouped("sum_cate(i32, s)") ->
      "sum_cate ( i32 , s ):string=[2020-05-22 10:43:40:10,abc,de:-20, Hello%:30]",
    over("sum_cate(i32, s)") ->
      "sum_cate ( i32 , s ) over w:string=[2020-05-22 10:43:40:10, 2020-05-22 10:43:40:10,abc,de:-20, 2020-05-22 10:43:40:10,abc,de:-20, Hello%:30]",
    overR("sum_cate(i32, s)") ->
      "sum_cate ( i32 , s ) over w:string=[2020-05-22 10:43:40:10, 2020-05-22 10:43:40:10,abc,de:-20, 2020-05-22 10:43:40:10,abc,de:-20, Hello%:30]",
    grouped("sum_cate(d, s)") ->
      "sum_cate ( d , s ):string=[2020-05-22 10:43:40:30.000000,abc,de:-0.500000, Hello%:100000000000000000000.000000]",
    overR("sum_cate(d, s)") ->
      "sum_cate ( d , s ) over w:string=[2020-05-22 10:43:40:30.000000, 2020-05-22 10:43:40:30.000000,abc,de:-0.500000, 2020-05-22 10:43:40:30.000000,abc,de:-0.500000, Hello%:100000000000000000000.000000]",
    grouped("count_cate(i32, ts)") ->
      "count_cate ( i32 , ts ):string=[2020-05-22 10:43:40:1,2020-05-23 10:13:20:1, 1970-01-01 08:00:00:1]",
    overR("count_cate(i32, ts)") ->
      "count_cate ( i32 , ts ) over w:string=[2020-05-22 10:43:40:1, 2020-05-22 10:43:40:1,2020-05-23 10:13:20:1, 2020-05-22 10:43:40:1,2020-05-23 10:13:20:1, 1970-01-01 08:00:00:1]",
    grouped("avg_cate(d, i16)") ->
      "avg_cate ( d , i16 ):string=[1:30.000000,2:-0.500000, 3:100000000000000000000.000000]",
    overR("max_cate(i64, k)") ->
      "max_cate ( i64 , k ) over w:string=[a:1590115420000, a:1590115420000, a:1590115420000, b:-5]",
    grouped("sum_cate(s, i32)") ->
      "!IllegalArgumentException: illegal value type StringType for 'sum_cate'",
    overR("sum_cate(s, i32)") ->
      "!IllegalArgumentException: illegal value type StringType for 'sum_cate'",
    grouped("sum_cate(i32, d)") ->
      "!IllegalArgumentException: illegal key type DoubleType for 'sum_cate'",
    overR("min_cate(i32, b)") ->
      "!IllegalArgumentException: illegal key type BooleanType for 'min_cate'",
    grouped("sum_cate_where(i32, b, s)") ->
      "sum_cate_where ( i32 , b , s ):string=[2020-05-22 10:43:40:10, Hello%:30]",
    overR("sum_cate_where(i32, b, s)") ->
      "sum_cate_where ( i32 , b , s ) over w:string=[2020-05-22 10:43:40:10, 2020-05-22 10:43:40:10, 2020-05-22 10:43:40:10, Hello%:30]",
    grouped("max_cate_where(d, b, ts)") ->
      "max_cate_where ( d , b , ts ):string=[2020-05-22 10:43:40:30.000000, 1970-01-01 08:00:00:100000000000000000000.000000]",
    overR("max_cate_where(d, b, ts)") ->
      "max_cate_where ( d , b , ts ) over w:string=[2020-05-22 10:43:40:30.000000, 2020-05-22 10:43:40:30.000000, 2020-05-22 10:43:40:30.000000, 1970-01-01 08:00:00:100000000000000000000.000000]",
    grouped("top_n_key_sum_cate_where(i32, b, s, 2)") ->
      "top_n_key_sum_cate_where ( i32 , b , s , 2 ):string=[2020-05-22 10:43:40:10, Hello%:30]",
    overR("top_n_key_sum_cate_where(i32, b, s, 2)") ->
      "top_n_key_sum_cate_where ( i32 , b , s , 2 ) over w:string=[2020-05-22 10:43:40:10, 2020-05-22 10:43:40:10, 2020-05-22 10:43:40:10, Hello%:30]",
    grouped("top_n_value_count_cate_where(s, b, i16, 1)") ->
      "top_n_value_count_cate_where ( s , b , i16 , 1 ):string=[1:1, 3:1]",
    overR("top_n_value_count_cate_where(s, b, i16, 1)") ->
      "top_n_value_count_cate_where ( s , b , i16 , 1 ) over w:string=[1:1, 1:1, 1:1, 3:1]",
    grouped("top_n_key_ratio_cate(i32, b, s, 2)") ->
      "top_n_key_ratio_cate ( i32 , b , s , 2 ):string=[abc,de:0.000000,2020-05-22 10:43:40:1.000000, Hello%:1.000000]",
    overR("top_n_key_ratio_cate(i32, b, s, 2)") ->
      "top_n_key_ratio_cate ( i32 , b , s , 2 ) over w:string=[2020-05-22 10:43:40:1.000000, abc,de:0.000000,2020-05-22 10:43:40:1.000000, abc,de:0.000000,2020-05-22 10:43:40:1.000000, Hello%:1.000000]",
    grouped("top_n_value_avg_cate_where(d, b, ts, 2)") ->
      "top_n_value_avg_cate_where ( d , b , ts , 2 ):string=[2020-05-22 10:43:40:30.000000, 1970-01-01 08:00:00:100000000000000000000.000000]",
    grouped("top_n_key_sum_cate_where(s, b, i32, 2)") ->
      "!IllegalArgumentException: illegal value type StringType for 'top_n_key_sum_cate_where'",
    overR("top_n_key_sum_cate_where(s, b, i32, 2)") ->
      "!IllegalArgumentException: illegal value type StringType for 'top_n_key_sum_cate_where'",
    grouped("top_n_key_avg_cate_where(i32, b, d, 2)") ->
      "!IllegalArgumentException: illegal key type DoubleType for 'top_n_key_avg_cate_where'",
  )) }

  test("the dialect's functions leave plain spark.sql with Spark's " +
      "builtins") {
    GraftSql.ensureFunctions(spark)
    val r = spark.sql("SELECT hour(TIMESTAMP '2024-01-02 03:04:05'), " +
      "bigint(TIMESTAMP '1970-01-01 00:00:10'), " +
      "date(TIMESTAMP '2024-01-02 23:00:00'), substr(12345, 2, 2)").head()
    assert(r.getInt(0) == 3) // session-zone hour, not the GMT+8 wall clock
    assert(r.getLong(1) == 10L) // Spark's cast reads seconds, not ms
    assert(r.get(2).toString == "2024-01-02")
    assert(r.getString(3) == "23") // Spark's substr takes a number
  }
}
