package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types._

/** The dialect's typed function calls as session function builders.
  * OpenMLDB types a call by its operands (hybridse type_node.cc): the
  * int64-ms timestamp model, date parts at the pinned GMT+8 wall clock
  * (date_and_time_types.md), the C++ number renderings, the typed hash
  * encodings and the `*_where` / `*_cate` type checks. Each builder
  * receives its arguments already resolved by Spark's analyzer —
  * window results and grouped aggregates included — and picks its
  * Catalyst expression from their types; no token pass probes a type
  * for them.
  *
  * A dialect name that Spark (or [[graft.functions.GraftScalars]])
  * already registers is built as `__graft_<name>`: the token pass
  * reaches it through [[callRenames]], a rename that needs no types,
  * and plain `spark.sql` in the session keeps Spark's meaning. The
  * aggregate families keep their dialect names, which the window
  * planner dispatches on; a builder runs wherever such a call reaches
  * the analyzer (grouped selects, native window frames). */
private[sql] object DialectFunctions {
  private type Builder = Seq[Expression] => Expression

  private val cast = Map("smallint" -> "SMALLINT", "int" -> "INT",
    "bigint" -> "BIGINT", "float" -> "FLOAT", "double" -> "DOUBLE")

  private val dateParts = Seq("month", "year", "day", "dayofmonth",
    "dayofweek", "dayofyear", "weekofyear", "hour", "minute", "second")

  /** math functions whose operands must be numeric: bool coerces,
    * string/date/timestamp reject (test_calculate.yaml) */
  private val mathFns = Seq("abs", "ceil", "ceiling", "floor", "round",
    "truncate", "sqrt", "sin", "cos", "tan", "asin", "acos", "atan",
    "atan2", "cot", "exp", "ln", "log", "log2", "log10", "degrees",
    "radians", "pow", "power", "mod", "pmod")

  /** the trig/sqrt family additionally rejects BOOL operands
    * (test_calculate.yaml id 8) */
  private val mathNoBool = Set("cos", "cot", "sin", "tan", "acos",
    "asin", "atan", "atan2", "sqrt")

  /** the dialect's integral type spellings */
  private val castAliases = Map("integer" -> "__graft_int",
    "int16" -> "__graft_smallint", "int32" -> "__graft_int",
    "int64" -> "__graft_bigint")

  /** Dialect call name → its builder's name, for the token pass. */
  private[sql] val callRenames: Map[String, String] =
    (cast.keys ++ dateParts ++ mathFns ++ Seq("timestamp", "date",
      "string", "concat", "concat_ws", "date_format", "substr",
      "substring", "unix_timestamp", "strcmp", "like_match",
      "ilike_match")).map(n => n -> s"__graft_$n").toMap ++ castAliases ++
      Map(
        // reference week() = ISO week number (udf_query.yaml id 4)
        "week" -> "__graft_weekofyear",
        "hash64" -> "__graft_hash64", "farm_fingerprint" -> "__graft_hash64")

  /** CAST target type → builder, for `CAST(x AS <type>)` */
  private[sql] val castRenames: Map[String, String] =
    (cast.keys ++ Seq("timestamp", "string")).map(n => n -> s"__graft_$n")
      .toMap ++ castAliases + ("varchar" -> "__graft_string")

  // ------------------------------------------------------------------
  // Expression templates: SQL text with `__a0`, `__a1`, ... standing
  // for the builder's resolved arguments (inside a lambda body the
  // parser reads every name as a lambda variable); the analyzer
  // resolves the rest of the tree (functions, lambdas) on its next
  // pass. Literal values are bound as arguments too, so the cache of
  // parsed texts stays bounded.
  // ------------------------------------------------------------------

  private val parsed = new ConcurrentHashMap[String, Expression]()
  private val argRef = "__a([0-9]+)".r

  private def tmpl(text: String, args: Expression*): Expression =
    parsed.computeIfAbsent(text, CatalystSqlParser.parseExpression)
      .transformUp {
        case UnresolvedAttribute(Seq(argRef(i))) => args(i.toInt)
        case UnresolvedNamedLambdaVariable(Seq(argRef(i))) => args(i.toInt)
      }

  private def call(name: String, args: Seq[Expression]): Expression =
    UnresolvedFunction(Seq(name), args, isDistinct = false)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** a builder of one operand */
  private def one(name: String)(f: Expression => Expression): Builder = {
    case Seq(x) => f(x)
    case a      => fail(s"$name expects 1 argument, got ${a.length}")
  }

  private def litInt(e: Expression, what: String): Int =
    if (e.foldable && e.eval() != null) e.eval().toString.trim.toInt
    else fail(s"$what must be an integer literal")

  private val intTypes: Set[DataType] = Set(ShortType, IntegerType, LongType)

  private def isStringy(t: DataType) = t == StringType || t == NullType

  /** ts → the GMT+8 wall clock, seconds precision
    * (udf.cc:376 timestamp_to_string "%Y-%m-%d %H:%M:%S") */
  private def tsWall(x: Expression): Expression =
    tmpl("date_format(from_utc_timestamp(__a0, 'GMT+8'), " +
      "'yyyy-MM-dd HH:mm:ss')", x)

  /** cast-to-string: float/double use the C++ shortest rendering ("30",
    * not Java's "30.0" — test_type.yaml ids 0/19), a timestamp its
    * GMT+8 wall clock */
  private def str(x: Expression): Expression = x.dataType match {
    case FloatType     => call("__graft_num2str_f32", Seq(x))
    case DoubleType    => call("__graft_num2str_f64", Seq(x))
    case TimestampType => tsWall(x)
    case _             => tmpl("CAST(__a0 AS STRING)", x)
  }

  /** timestamp() returns a native TimestampType holding the correct
    * instant: wall-clock strings read at the reference's pinned GMT+8,
    * integral operands are epoch MS, and the timestamp domain starts
    * at the epoch — a negative ms value yields NULL (const_query.yaml
    * ids 5/7/9/10/11) */
  private def timestamp(x: Expression): Expression = x match {
    case Literal(v, StringType) =>
      GraftSql.parseWallClockMs(String.valueOf(v))
        .map(ms => tmpl("timestamp_millis(__a0)", Literal(ms)))
        .getOrElse(Literal(null, TimestampType))
    case _ => x.dataType match {
      case TimestampType        => x
      case NullType             => Literal(null, TimestampType)
      case StringType | DateType =>
        tmpl("to_utc_timestamp(to_timestamp(__a0), 'GMT+8')", x)
      case _ => tmpl("timestamp_millis(CASE WHEN CAST(__a0 AS BIGINT) < 0L " +
        "THEN CAST(NULL AS BIGINT) ELSE CAST(__a0 AS BIGINT) END)", x)
    }
  }

  /** date() accepts timestamp/string/date; the reference rejects it
    * over every numeric type now that TIMESTAMP is a distinct type
    * (test_type.yaml ids 26/27/28) */
  private def date(x: Expression): Expression = x.dataType match {
    case t @ (_: NumericType | BooleanType) =>
      fail(s"date() expects a timestamp/string/date operand, not $t")
    case TimestampType => // calendar date of the instant at GMT+8
      tmpl("CAST(from_utc_timestamp(__a0, 'GMT+8') AS DATE)", x)
    case _ => tmpl("CAST(__a0 AS DATE)", x)
  }

  /** the reference's date parts accept TIMESTAMP and int64 ms — read
    * at the GMT+8 wall clock (udf_query.yaml ids 2/5) — and, except
    * hour/minute/second, DATE; anything else is a type error
    * (test_date.yaml ids 3/5) */
  private def datePart(fn: String)(x: Expression): Expression = {
    val arg = x.dataType match {
      case DateType if Set("hour", "minute", "second")(fn) =>
        fail(s"illegal operand type date for '$fn'")
      case t @ (StringType | ShortType | IntegerType | FloatType |
          DoubleType | BooleanType) =>
        fail(s"illegal operand type $t for '$fn'")
      case LongType =>
        tmpl("from_utc_timestamp(timestamp_millis(__a0), 'GMT+8')", x)
      case TimestampType => tmpl("from_utc_timestamp(__a0, 'GMT+8')", x)
      case _ => x
    }
    call(fn, Seq(arg))
  }

  /** math functions: bool operands coerce to double (except the
    * trig/sqrt family — test_calculate.yaml id 8); string, date and
    * timestamp operands are rejected (ids 0/5/7/9, every argument).
    * The two-argument atan(Y, X) is atan2 (udfs_8h.md atan). */
  private def math(fn: String)(args: Seq[Expression]): Expression =
    if (fn == "atan" && args.length == 2) call("atan2", args)
    else {
      args.foreach(_.dataType match {
        case t @ (StringType | DateType | TimestampType) =>
          fail(s"illegal operand type $t for '$fn'")
        case BooleanType if mathNoBool(fn) =>
          fail(s"illegal operand type boolean for '$fn'")
        case _ => ()
      })
      val boolHead = args.headOption.exists(_.dataType == BooleanType)
      if (boolHead && args.length == 1 &&
          Set("log", "ln", "log2", "log10")(fn))
        // log(1)=0, log(0)=-Inf — Spark's non-ANSI log(0) would be NULL
        // (test_calculate.yaml id 4)
        tmpl("CASE WHEN __a0 THEN 0.0D ELSE CAST('-Infinity' AS DOUBLE) END",
          args.head)
      else if (boolHead)
        call(fn, tmpl("CAST(__a0 AS DOUBLE)", args.head) +: args.tail)
      else call(fn, args)
    }

  /** FarmHash UDF variant for an operand type — the reference hashes
    * each type's little-endian value bytes (literal_traits.h
    * to_bytes_ref); other types hash their string bytes. */
  private def farm(x: Expression): Expression = {
    val fn = x.dataType match {
      case ShortType      => "__graft_farm64_i16"
      case IntegerType    => "__graft_farm64_i32"
      case LongType       => "__graft_farm64_i64"
      case FloatType      => "__graft_farm64_f32"
      case DoubleType     => "__graft_farm64_f64"
      case BooleanType    => "__graft_farm64_bool"
      case DateType       => "__graft_farm64_date"
      case _: DecimalType => "__graft_farm64_f64"
      case _              => "__graft_farm64_str"
    }
    call(fn, Seq(x))
  }

  /** a category key: a TIMESTAMP renders as its GMT+8 wall clock
    * ("2020-05-29 15:56:30":v — test_udaf_function ids 20-24/27-31) */
  private def cateKey(k: Expression): Expression =
    if (k.dataType == TimestampType) tsWall(k) else k

  private def rejectValue(fn: String, v: Expression): Unit =
    v.dataType match {
      case t @ (StringType | DateType | BooleanType | TimestampType) =>
        fail(s"illegal value type $t for '$fn'")
      case _ => ()
    }

  private def rejectKey(fn: String, k: Expression): Unit =
    k.dataType match {
      case t @ (FloatType | DoubleType | BooleanType) =>
        fail(s"illegal key type $t for '$fn'")
      case _ => ()
    }

  /** {m}_cate(v, k): numeric values, no float/double/bool keys
    * (test_udaf_function.yaml ids 25/26); sum/min/max over an integral
    * value format integers (group_query.yaml id 8 "aa:160") */
  private def cate(m: String, name: String, args: Seq[Expression],
      key: Expression => Expression = cateKey): Expression = {
    args.headOption.foreach(rejectValue(name, _))
    args.lift(1).foreach(rejectKey(name, _))
    val int = args.headOption.exists(a => intTypes(a.dataType)) &&
      Set("sum", "min", "max")(m)
    call(if (int) s"__graft_${m}_cate_int" else s"__graft_${m}_cate",
      args.zipWithIndex.map { case (a, i) => if (i == 1) key(a) else a })
  }

  /** top_n_{key|value}_{m}_cate_where(v, cond, k, n) and the ratio
    * variants → the n-aware UDAFs over a condition-masked key
    * (sum_by_category_def.cc:275-305; key variants order by key DESC,
    * value variants by aggregate value DESC; ratio = per-key share of
    * rows matching the condition, an AVG over the 0/1 indicator with
    * the key unmasked — test_udaf_function.yaml ids 39/40/66) */
  private def topN(name: String)(args: Seq[Expression]): Expression = {
    if (args.length != 4)
      fail(s"requirement failed: $name expects (value, cond, key, n)")
    val fam = if (name.startsWith("top_n_value_")) "topnv" else "topnk"
    val m = name.stripPrefix("top_n_key_").stripPrefix("top_n_value_")
      .stripSuffix("_cate_where").stripSuffix("_cate")
    // count/ratio ignore the value's magnitude — any type counts
    if (m != "count" && m != "ratio") rejectValue(name, args(0))
    rejectKey(name, args(2))
    val key = cateKey(args(2))
    if (m == "ratio")
      tmpl(s"__graft_${fam}_avg(CAST(__a0 AS STRING), " +
        "CAST(CASE WHEN __a1 THEN 1.0D ELSE 0.0D END AS DOUBLE), " +
        "CAST(__a2 AS INT))", key, args(1), args(3))
    else {
      val int = intTypes(args(0).dataType)
      // count mode: only the value's NULL-ness matters (id 62)
      val v =
        if (m == "count") "CAST(CASE WHEN (__a0) IS NOT NULL THEN 1.0D END AS DOUBLE)"
        else "CAST(__a0 AS DOUBLE)"
      tmpl(s"__graft_${fam}_$m${if (int) "_int" else ""}(" +
        s"CAST(CASE WHEN __a1 THEN __a2 END AS STRING), $v, " +
        "CAST(__a3 AS INT))", args(0), args(1), key, args(3))
    }
  }

  /** {sum,count,avg,min,max}_where(v, cond) → base(CASE WHEN cond THEN v
    * END) (udf_registry *_where UDAFs; group_query.yaml id 7);
    * sum/avg/max/min_where take NUMERIC values only
    * (test_udaf_function.yaml id 18) */
  private def where(base: String)(args: Seq[Expression]): Expression = {
    val name = s"${base}_where"
    if (args.length != 2)
      fail(s"requirement failed: $name expects (value, condition)")
    if (base != "count") rejectValue(name, args(0))
    tmpl(s"$base(CASE WHEN __a1 THEN __a0 END)", args: _*)
  }

  private val builders: Seq[(String, Builder)] = Seq[(String, Builder)](
    "__graft_timestamp" -> one("timestamp")(timestamp),
    "__graft_date" -> one("date")(date),
    "__graft_string" -> one("string")(str),
    "__graft_hash64" -> one("hash64") { x =>
      // a Timestamp hashes its int64 ms value (udf.cc:1444)
      if (x.dataType == TimestampType)
        call("__graft_farm64_i64", Seq(tmpl("unix_millis(__a0)", x)))
      else farm(x)
    },
    // feature-signature instance formats (GraftSql.featureFormatText):
    // the discrete slot's typed hash and the continuous slot's value
    // rendering (C printf %.6f with inf/nan spellings for floats)
    "__graft_farm64" -> one("__graft_farm64")(farm),
    "__graft_fmt_cont" -> one("__graft_fmt_cont")(x => x.dataType match {
      case FloatType | DoubleType | _: DecimalType =>
        tmpl("__graft_fmt6(CAST(__a0 AS DOUBLE))", x)
      case BooleanType => tmpl("CAST(CAST(__a0 AS INT) AS STRING)", x)
      case _           => tmpl("CAST(__a0 AS STRING)", x)
    }),
    // args stringify with the reference's renderings; concat_ws
    // propagates NULL where Spark would skip null parts
    // (test_string.yaml ids 0/3)
    "__graft_concat" -> (a => call("concat", a.map(renderPart))),
    "__graft_concat_ws" -> { a =>
      val r = a.map(renderPart)
      if (a.length <= 1) call("concat_ws", r)
      else tmpl(r.indices.map(i => s"__a$i IS NULL").mkString(
        "CASE WHEN ", " OR ", " THEN CAST(NULL AS STRING) ELSE ") +
        r.indices.map(i => s"__a$i").mkString("concat_ws(", ", ", ") END"),
        r: _*)
    },
    // C-style format codes over the GMT+8 wall clock; only timestamp
    // and date operands format (test_date.yaml ids 0/1)
    "__graft_date_format" -> {
      case Seq(x, Literal(f, StringType)) if f != null =>
        val fmt = f.toString.replace("%Y", "yyyy").replace("%m", "MM")
          .replace("%d", "dd").replace("%H", "HH").replace("%M", "mm")
          .replace("%S", "ss")
        val arg = x.dataType match {
          case TimestampType => tmpl("from_utc_timestamp(__a0, 'GMT+8')", x)
          case DateType | NullType => x
          case t => fail(s"illegal operand type $t for date_format")
        }
        call("date_format", Seq(arg, Literal(fmt)))
      case a => call("date_format", a)
    },
    // unix_timestamp over a wall-clock STRING reads it at GMT+8 (the
    // corpus convention, as timestamp()); other operands keep Spark's
    "__graft_unix_timestamp" -> { a =>
      val wall = a.headOption.exists {
        case Literal(_, StringType) => true
        case x => a.length == 1 && x.dataType == StringType
      }
      if (wall) call("floor", Seq(tmpl("unix_millis(to_utc_timestamp(__a0, " +
        "'GMT+8')) / 1000", call("to_timestamp", a))))
      else call("unix_timestamp", a)
    },
    // scalar at(array, i): 0-based element access
    // (test_udf_function.yaml id 7); over a window it is lag
    "at" -> {
      case Seq(arr, i) if arr.dataType.isInstanceOf[ArrayType] =>
        tmpl("element_at(__a0, (__a1) + 1)", arr, i)
      case _ => fail("at(list, index) outside a window expects an array")
    },
    // array_combine(delim, a1..an): delimiter-joined CARTESIAN
    // combinations in argument order, null elements dropped, every
    // element rendered as string (timestamps at their GMT+8 wall
    // clock); a null delimiter joins without a separator
    // (udf_query.yaml array_combine*)
    "array_combine" -> { a =>
      val n = a.length - 1
      def clean(k: Int) = {
        val render = a(k + 1).dataType match {
          case ArrayType(TimestampType, _) =>
            "date_format(from_utc_timestamp(__c, 'GMT+8'), 'yyyy-MM-dd HH:mm:ss')"
          case _ => "CAST(__c AS STRING)"
        }
        s"filter(transform(__a${k + 1}, __c -> $render), __c -> __c IS NOT NULL)"
      }
      val vars = (0 until n).map(k => s"__e$k").mkString(", ")
      def nest(k: Int): String =
        if (k == n - 1)
          s"transform(${clean(k)}, __e$k -> concat_ws(coalesce(CAST((__a0) " +
            s"AS STRING), ''), $vars))"
        else s"flatten(transform(${clean(k)}, __e$k -> ${nest(k + 1)}))"
      tmpl(nest(0), a: _*)
    },
    // the matched operand must be a STRING (test_like_match.yaml ids
    // 19-26), and untyped NULL literals fail the reference's overload
    // resolution (id 17); the 3-arg form takes an escape
    "__graft_like_match" -> likeMatch("like_match"),
    "__graft_ilike_match" -> likeMatch("ilike_match"),
    // strcmp demands two STRING operands (test_string.yaml 5/6)
    "__graft_strcmp" -> { a =>
      a.foreach(x => if (!isStringy(x.dataType))
        fail(s"illegal operand type ${x.dataType} for strcmp"))
      call("strcmp", a)
    },
    // sum over TIMESTAMP returns a TIMESTAMP of the summed ms
    // (test_udaf_function.yaml id 7); reached from grouped selects
    "__graft_sum" -> { a =>
      if (a.length == 1 && a.head.dataType == TimestampType)
        tmpl("timestamp_millis(sum(unix_millis(__a0)))", a.head)
      else call("sum", a)
    },
    // grouped forms of the frame-only aggregates; over a window the
    // frame kernel computes them (GraftSql.planWindows)
    // NULL counts as a distinct value (test_udaf_function id 5); a
    // bool NULL reads as false first (id 6)
    "distinct_count" -> one("distinct_count") { v =>
      val x = if (v.dataType == BooleanType)
        tmpl("coalesce(__a0, false)", v) else v
      tmpl("count(DISTINCT __a0) + " +
        "CAST(max(CASE WHEN (__a0) IS NULL THEN 1 ELSE 0 END) AS BIGINT)", x)
    },
    // the frame kernel's topn_frequency rule (count desc, then value
    // asc) over the group's values; groups always have rows, so short
    // key lists pad with "NULL" to n entries
    "topn_frequency" -> { a =>
      if (a.length != 2)
        fail("requirement failed: topn_frequency expects (value, n)")
      val n = Literal(litInt(a(1), "topn_frequency n"))
      val vv = "collect_list(CAST(__a0 AS STRING))"
      tmpl("array_join(concat(" +
        s"slice(transform(array_sort(transform(array_distinct($vv), " +
        s"__d -> struct(-size(filter($vv, __y -> __y = __d)) AS negc, " +
        s"__d AS k))), __e -> __e.k), 1, __a1), " +
        s"array_repeat('NULL', greatest(__a1 - size(array_distinct($vv)), 0))" +
        "), ',')", a.head, n)
    },
    "top" -> { a =>
      if (a.length != 2) fail("requirement failed: top expects (value, k)")
      val k = Literal(litInt(a(1), "top k"))
      val fmt =
        if (intTypes(a.head.dataType)) "CAST(CAST(__x AS BIGINT) AS STRING)"
        else "format_string('%.6f', CAST(__x AS DOUBLE))"
      tmpl("array_join(transform(slice(reverse(array_sort(" +
        s"collect_list(__a0))), 1, __a1), __x -> $fmt), ',')", a.head, k)
    },
    // exponential weights need a row order; grouped aggregation has
    // none (the reference iterates its ts index)
    "ew_avg" -> (_ =>
      fail("ew_avg requires an ordered frame: use ew_avg(value, alpha) OVER w")),
    // engine extension: Misra–Gries heavy hitters as a grouped
    // aggregate — map<string, bigint> of ≤k survivors with the
    // mergeable-summaries undercount guarantee
    // (functions/Aggregates.HeavyHitters)
    "heavy_hitters" -> { a =>
      if (a.length != 2)
        fail("requirement failed: heavy_hitters expects (value, k)")
      val k = litInt(a(1), "heavy_hitters k")
      if (k < 1)
        fail(s"requirement failed: heavy_hitters capacity must be >= 1, got $k")
      tmpl("__graft_heavy_hitters(CAST(__a0 AS STRING), __a1).m", a.head,
        Literal(k))
    }
  ) ++ Seq("sum", "count", "avg", "min", "max").flatMap { m =>
    Seq[(String, Builder)](
    s"${m}_where" -> where(m),
    s"${m}_cate" -> (a => cate(m, s"${m}_cate", a)),
    // {m}_cate_where(v, cond, k): the condition masks the KEY —
    // non-matching rows contribute no category
    // (sum_by_category_def.cc CateWhere)
    s"${m}_cate_where" -> { (a: Seq[Expression]) =>
      val name = s"${m}_cate_where"
      if (a.length != 3)
        fail(s"requirement failed: $name expects (value, cond, key)")
      cate(m, name, Seq(a(0), a(2)),
        k => tmpl("CASE WHEN __a0 THEN __a1 END", a(1), cateKey(k)))
    },
    s"top_n_key_${m}_cate_where" -> topN(s"top_n_key_${m}_cate_where"),
    s"top_n_value_${m}_cate_where" -> topN(s"top_n_value_${m}_cate_where"))
  } ++ Seq("top_n_key_ratio_cate", "top_n_value_ratio_cate").map(n =>
    n -> (topN(n) _)) ++
    cast.map { case (n, t) => s"__graft_$n" -> one(n) { x =>
      // CAST(ts AS <numeric>) reads the int64 MS value — int(ts) wraps
      // 1590115420000 to 977520480, never epoch seconds
      // (test_type.yaml ids 14-18/25)
      if (x.dataType == TimestampType) tmpl(s"CAST(unix_millis(__a0) AS $t)", x)
      else tmpl(s"CAST(__a0 AS $t)", x)
    } } ++
    dateParts.map(n => s"__graft_$n" -> one(n)(datePart(n))) ++
    mathFns.map(n => s"__graft_$n" -> math(n) _) ++
    Seq("substr", "substring").map(n => s"__graft_$n" -> { (a: Seq[Expression]) =>
      // substr demands a STRING source (test_string.yaml id 8)
      a.headOption.filterNot(x => isStringy(x.dataType)).foreach(x =>
        fail(s"illegal operand type ${x.dataType} for '$n'"))
      call(n, a)
    })

  private def renderPart(x: Expression): Expression = x.dataType match {
    case TimestampType | FloatType | DoubleType => str(x)
    case _                                      => x
  }

  private def likeMatch(fn: String)(a: Seq[Expression]): Expression = {
    if (a.exists { case Literal(null, NullType) => true; case _ => false })
      fail(s"$fn: NULL literal argument is not allowed")
    if (a.headOption.exists(x => !isStringy(x.dataType)))
      fail(s"illegal operand type for '$fn' (string required)")
    call(if (a.length == 3) s"${fn}_esc" else fn, a)
  }

  /** Register every builder on the session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, b, "internal")
    }
  }
}
