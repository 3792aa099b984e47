package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function surface of the reference dialect
  * (default_udf_library.cc §InitStringUdf/InitMathUdf/... — SURVEY §2.3).
  *
  * Nearly everything maps to a codegen'd `org.apache.spark.sql.functions`
  * builtin; this object provides Column-level helpers for the names the
  * reference has and Spark lacks, each matching the reference's exact
  * semantics (cited). `registerAll` additionally exposes the
  * OpenMLDB-specific names to SQL texts (for spark.sql interop and the
  * dialect front-end); the DataFrame API is the hot path, the SQL
  * registrations are convenience.
  */
object GraftScalars {

  /** strcmp(a,b) → -1/0/1 (InitStringUdf). */
  def strcmp(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("int"))
      .when(a < b, -1).when(a === b, 0).otherwise(1)

  /** Rewrite a LIKE pattern written with a custom escape char into an
    * equivalent pattern under Spark's default '\' escape. */
  def rewriteLikeEscape(pattern: String, escape: Char): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == escape && i + 1 < pattern.length) {
        sb.append('\\').append(pattern.charAt(i + 1)); i += 2
      } else if (c == '\\') { // literal backslash under a non-'\' escape
        sb.append("\\\\"); i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** like_match(str, pattern[, escape]) — SQL LIKE with explicit escape
    * (udf/default_udf_library.cc like_match; default escape '\').
    * Non-default escapes are rewritten into the default-escape pattern. */
  def like_match(s: Column, pattern: String, escape: Char = '\\'): Column =
    if (escape == '\\') s.like(pattern)
    else s.like(rewriteLikeEscape(pattern, escape))

  def ilike_match(s: Column, pattern: String, escape: Char = '\\'): Column =
    if (escape == '\\') s.ilike(pattern)
    else s.ilike(rewriteLikeEscape(pattern, escape))

  /** truncate(x): toward-zero integral part (C trunc; InitMathUdf).
    * `x - x % 1` preserves the input type (int stays int, double stays
    * double) and truncates toward zero for either sign; known deviation:
    * +/-Infinity yields NaN (the reference returns the infinity). */
  def truncate(x: Column): Column = x - (x % lit(1))

  /** hash64 / farm_fingerprint: bit-compatible FarmHash Fingerprint64
    * ([[FarmHash]]; pinned by feature_signature_query.yaml ids 22/23).
    * The Column helpers hash the STRING rendering, as does the SQL
    * name `hash64` registered here; the dialect's `hash64` dispatches
    * to the typed byte encodings per operand type
    * (graft.sql.DialectFunctions). */
  def hash64(c: Column): Column =
    call_udf("__graft_farm64_str", c.cast("string"))
  def farm_fingerprint(c: Column): Column = hash64(c)

  /** earth_distance(lat1, lon1, lat2, lon2): haversine great-circle
    * distance in km, R=6372.8, null outside ±90/±180
    * (earth_distance_def.cc:haversine_distance). */
  def earth_distance(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val la1 = radians(lat1); val la2 = radians(lat2)
    val dla = radians(lat2) - radians(lat1)
    val dlo = radians(lon2) - radians(lon1)
    val h = pow(sin(dla / 2), 2) + cos(la1) * cos(la2) * pow(sin(dlo / 2), 2)
    val valid = abs(lat1) <= 90 && abs(lon1) <= 180 && abs(lat2) <= 90 && abs(lon2) <= 180
    when(valid, lit(2 * 6372.8) * asin(sqrt(h)))
  }

  // ----- feature-zero split family (feature_zero_def.cc:183-360) -----

  private def delimRegex(d: String): String = java.util.regex.Pattern.quote(d)

  /** split(str, delim) → array<string>; null input → empty handled by
    * caller (the reference returns an empty list). */
  def fz_split(s: Column, delim: String): Column =
    if (delim == null || delim.isEmpty) array().cast("array<string>")
    else when(s.isNull, array().cast("array<string>"))
      .otherwise(split(s, delimRegex(delim), -1))

  /** split_by_key("k1:v1,k2:v2", ",", ":") → keys of parts containing
    * the kv delimiter (feature_zero_def.cc:229-272). */
  def fz_split_by_key(s: Column, delim: String, kvDelim: String): Column =
    if (delim == null || delim.isEmpty) array().cast("array<string>")
    else when(s.isNull, array().cast("array<string>"))
      .otherwise(transform(
        filter(split(s, delimRegex(delim), -1),
          p => size(split(p, delimRegex(kvDelim), -1)) >= 2),
        p => element_at(split(p, delimRegex(kvDelim), -1), 1)))

  /** split_by_value: the segment between the first and second kv
    * delimiter of each part (feature_zero_def.cc:282-340). */
  def fz_split_by_value(s: Column, delim: String, kvDelim: String): Column =
    if (delim == null || delim.isEmpty) array().cast("array<string>")
    else when(s.isNull, array().cast("array<string>"))
      .otherwise(transform(
        filter(split(s, delimRegex(delim), -1),
          p => size(split(p, delimRegex(kvDelim), -1)) >= 2),
        p => element_at(split(p, delimRegex(kvDelim), -1), 2)))

  /** join(list, delim) → string (fz `join`). */
  def fz_join(arr: Column, delim: String): Column = array_join(arr, delim)

  /** list_except_by_key(list, "k1,k2"): drop "key:value" elements whose
    * key (before the first ':') is in the except set
    * (feature_zero_def.cc:394,768-784). */
  def fz_list_except_by_key(list: Column, exceptStr: Column): Column = {
    val ex = split(exceptStr, ",", -1)
    filter(list, p => !array_contains(ex, substring_index(p, ":", 1)))
  }

  /** list_except_by_value: drop elements whose value (after the first
    * ':') is in the except set (feature_zero_def.cc:785-800). */
  def fz_list_except_by_value(list: Column, exceptStr: Column): Column = {
    val ex = split(exceptStr, ",", -1)
    val value = (p: Column) =>
      when(instr(p, ":") > 0,
        substring(p, instr(p, ":") + 1, length(p))).otherwise(lit(""))
    filter(list, p => !array_contains(ex, value(p)))
  }

  /** LIKE pattern → Java regex (for the SQL-registered like_match).
    * `escape = None` disables escaping entirely (the reference's
    * ESCAPE '' / NULL mode, udf.cc:498-506); a trailing unpaired
    * escape char makes the pattern unsatisfiable (udf.cc:443-446
    * returns false), expressed as the never-matching regex `(?!)`. */
  private[functions] def likeToRegex(pattern: String,
      escape: Option[Char]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (escape.contains(c)) {
        if (i + 1 >= pattern.length) return "(?!)"
        sb.append(java.util.regex.Pattern.quote(pattern.charAt(i + 1).toString))
        i += 2
      } else {
        c match {
          case '%' => sb.append(".*")
          case '_' => sb.append(".")
          case x   => sb.append(java.util.regex.Pattern.quote(x.toString))
        }
        i += 1
      }
    }
    sb.toString
  }

  /** Regex for LIKE with an arbitrary escape STRING, reference rules
    * (udf.cc like_internal wrapper:517-527): empty/null escape disables
    * escaping; escape of 2+ chars is a data exception — the reference
    * logs and yields FALSE for every row, expressed here as `(?!)`. */
  private[functions] def likeEscRegex(p: String, e: String): String =
    if (e != null && e.length >= 2) "(?!)"
    else likeToRegex(p, Option(e).filter(_.nonEmpty).map(_.charAt(0)))

  /** Translate a reference-dialect LIKE pattern + escape STRING into a
    * pattern for Spark's native LIKE under its default '\' escape —
    * Spark only permits the escape char before '%', '_' or itself
    * (StringUtils.escapeLikeRegex), so every literal char is emitted
    * plain and only the wildcard chars get escaped. Returns None when
    * the reference yields constant FALSE instead of matching: escape
    * string of 2+ chars (udf.cc:519-523) or a trailing unpaired escape
    * (udf.cc:443-446). Used by GraftSql to keep literal-pattern
    * LIKE ... ESCAPE on the codegen'd native path. */
  def toSparkLikePattern(pattern: String, escape: String): Option[String] = {
    if (escape != null && escape.length >= 2) return None
    val esc: Option[Char] = Option(escape).filter(_.nonEmpty).map(_.charAt(0))
    val sb = new StringBuilder
    def emitLiteral(c: Char): Unit = c match {
      case '%'  => sb.append("\\%")
      case '_'  => sb.append("\\_")
      case '\\' => sb.append("\\\\")
      case x    => sb.append(x)
    }
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (esc.contains(c)) {
        if (i + 1 >= pattern.length) return None
        emitLiteral(pattern.charAt(i + 1)); i += 2
      } else if (c == '%' || c == '_') { sb.append(c); i += 1 }
      else { emitLiteral(c); i += 1 }
    }
    Some(sb.toString)
  }

  /** Register OpenMLDB-specific SQL names on a session. Aliases of
    * builtins resolve to the same codegen'd expressions via SQL; the
    * handful of genuinely custom functions are registered as UDFs
    * (they are not hot-path operators). */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("strcmp",
      (a: String, b: String) =>
        if (a == null || b == null) null.asInstanceOf[java.lang.Integer]
        else java.lang.Integer.valueOf(Integer.signum(a.compareTo(b))))
    spark.udf.register("earth_distance",
      (la1: java.lang.Double, lo1: java.lang.Double,
       la2: java.lang.Double, lo2: java.lang.Double) => {
        if (la1 == null || lo1 == null || la2 == null || lo2 == null) null
        else if (math.abs(la1) > 90 || math.abs(lo1) > 180 ||
                 math.abs(la2) > 90 || math.abs(lo2) > 180) null
        else {
          val r1 = math.toRadians(la1); val r2 = math.toRadians(la2)
          val dla = r2 - r1
          val dlo = math.toRadians(lo2) - math.toRadians(lo1)
          val h = math.pow(math.sin(dla / 2), 2) +
            math.cos(r1) * math.cos(r2) * math.pow(math.sin(dlo / 2), 2)
          java.lang.Double.valueOf(2 * 6372.8 * math.asin(math.sqrt(h)))
        }
      })
    // feature-zero string family as SQL names (Scala impls mirror the
    // Column-level codegen'd versions; SQL registration is convenience)
    def splitList(s: String, d: String): Array[String] =
      // NULL input and an EMPTY separator both yield an empty list
      // (feature_zero_def.cc split; test_feature_zero_function.yaml
      // ids 5/6)
      if (s == null || d == null || d.isEmpty) Array.empty
      else s.split(java.util.regex.Pattern.quote(d), -1)
    spark.udf.register("fz_split", (s: String, d: String) => splitList(s, d))
    def kvParts(s: String, d: String, kv: String): Array[Array[String]] =
      if (kv == null || kv.isEmpty) Array.empty
      else splitList(s, d).map(_.split(java.util.regex.Pattern.quote(kv), -1))
        .filter(_.length >= 2)
    spark.udf.register("fz_split_by_key",
      (s: String, d: String, kv: String) => kvParts(s, d, kv).map(_(0)))
    spark.udf.register("fz_split_by_value",
      (s: String, d: String, kv: String) => kvParts(s, d, kv).map(_(1)))
    spark.udf.register("fz_join", (a: Seq[String], d: String) =>
      if (a == null) "" else a.mkString(d))
    spark.udf.register("list_except_by_key", (a: Seq[String], ex: String) => {
      val set = if (ex == null) Set.empty[String] else ex.split(",", -1).toSet
      if (a == null) Seq.empty[String]
      else a.filterNot(p => set(p.split(":", 2)(0)))
    })
    spark.udf.register("list_except_by_value", (a: Seq[String], ex: String) => {
      val set = if (ex == null) Set.empty[String] else ex.split(",", -1).toSet
      if (a == null) Seq.empty[String]
      else a.filterNot { p =>
        val i = p.indexOf(':')
        set(if (i >= 0) p.substring(i + 1) else "")
      }
    })
    spark.udf.register("like_match", (s: String, p: String) =>
      if (s == null || p == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(
        s.matches("(?s)" + likeToRegex(p, Some('\\')))))
    spark.udf.register("ilike_match", (s: String, p: String) =>
      if (s == null || p == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(
        s.matches("(?is)" + likeToRegex(p, Some('\\')))))
    // LIKE/ILIKE with an arbitrary — or empty, meaning "no escaping" —
    // escape string (docs LIKE ... ESCAPE; Spark restricts escape
    // placement and rejects ESCAPE ''). The hot path rewrites literal
    // patterns at plan time (GraftSql.rewriteDialect); these UDFs serve
    // non-literal pattern/escape operands and the dialect's
    // three-argument like_match (graft.sql.DialectFunctions).
    spark.udf.register("like_match_esc", (s: String, p: String, e: String) =>
      if (s == null || p == null || e == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(
        s.matches("(?s)" + GraftScalars.likeEscRegex(p, e))))
    spark.udf.register("ilike_match_esc", (s: String, p: String, e: String) =>
      if (s == null || p == null || e == null) null.asInstanceOf[java.lang.Boolean]
      else java.lang.Boolean.valueOf(
        s.matches("(?is)" + GraftScalars.likeEscRegex(p, e))))
    spark.udf.register("truncate", (x: java.lang.Double) =>
      if (x == null) null
      else java.lang.Double.valueOf(
        if (x >= 0) math.floor(x) else math.ceil(x)))
    // FarmHash Fingerprint64 over the reference's typed byte encodings
    // (literal_traits.h to_bytes_ref; udf.cc:1444) — the SQL front-end
    // picks the variant by operand type. `hash64` keeps the dialect
    // name for string operands.
    def nn[T](v: T)(f: T => Long): java.lang.Long =
      if (v == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(f(v))
    spark.udf.register("__graft_farm64_str",
      (s: String) => nn(s)(FarmHash.ofString))
    spark.udf.register("__graft_farm64_i16",
      (v: java.lang.Short) => nn(v)(x => FarmHash.ofShort(x.shortValue)))
    spark.udf.register("__graft_farm64_i32",
      (v: java.lang.Integer) => nn(v)(x => FarmHash.ofInt(x.intValue)))
    spark.udf.register("__graft_farm64_i64",
      (v: java.lang.Long) => nn(v)(x => FarmHash.ofLong(x.longValue)))
    spark.udf.register("__graft_farm64_f32",
      (v: java.lang.Float) => nn(v)(x => FarmHash.ofFloat(x.floatValue)))
    spark.udf.register("__graft_farm64_f64",
      (v: java.lang.Double) => nn(v)(x => FarmHash.ofDouble(x.doubleValue)))
    spark.udf.register("__graft_farm64_bool",
      (v: java.lang.Boolean) => nn(v)(x => FarmHash.ofBool(x.booleanValue)))
    spark.udf.register("__graft_farm64_date",
      (v: java.sql.Date) => nn(v)(FarmHash.ofDate))
    // runtime-dispatching variant for Column-DSL call sites that can't
    // resolve the operand type at plan time (FeatureSignature.dHash):
    // takes struct(v) and picks the typed byte encoding by the runtime
    // class — bit-compatible with the SQL front-end's farmFnFor dispatch
    spark.udf.register("__graft_farm64_any",
      (r: org.apache.spark.sql.Row) =>
        if (r == null || r.isNullAt(0)) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(r.get(0) match {
          case v: java.lang.Short      => FarmHash.ofShort(v.shortValue)
          case v: java.lang.Integer    => FarmHash.ofInt(v.intValue)
          case v: java.lang.Long       => FarmHash.ofLong(v.longValue)
          case v: java.lang.Float      => FarmHash.ofFloat(v.floatValue)
          case v: java.lang.Double     => FarmHash.ofDouble(v.doubleValue)
          case v: java.lang.Boolean    => FarmHash.ofBool(v.booleanValue)
          case v: java.sql.Date        => FarmHash.ofDate(v)
          case v: java.time.LocalDate  => FarmHash.ofDate(java.sql.Date.valueOf(v))
          case v: java.math.BigDecimal => FarmHash.ofDouble(v.doubleValue)
          case v                       => FarmHash.ofString(v.toString)
        }))
    spark.udf.register("__graft_umod",
      (h: java.lang.Long, b: java.lang.Long) =>
        if (h == null || b == null) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(
          java.lang.Long.remainderUnsigned(h.longValue, b.longValue)))
    spark.udf.register("hash64",
      (s: String) => nn(s)(FarmHash.ofString))
    spark.udf.register("farm_fingerprint",
      (s: String) => nn(s)(FarmHash.ofString))
    // float/double → string, C++ shortest style: integral values print
    // without a decimal part ("30", not Java's "30.0" —
    // test_type.yaml ids 0/19)
    def numStr(d: Double): String =
      if (d.isNaN) "nan"
      else if (d.isPosInfinity) "inf"
      else if (d.isNegInfinity) "-inf"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    spark.udf.register("__graft_num2str_f64", (v: java.lang.Double) =>
      if (v == null) null else numStr(v.doubleValue))
    spark.udf.register("__graft_num2str_f32", (v: java.lang.Float) =>
      if (v == null) null
      else {
        val f = v.floatValue
        if (f.isNaN) "nan"
        else if (f == math.rint(f.toDouble) && math.abs(f) < 1e15f)
          f.toLong.toString
        else f.toString
      })
    // C-printf %.6f: expand the EXACT binary double (Java's %f expands
    // the shortest decimal, padding large magnitudes with zeros —
    // feature_signature_query.yaml id 21 pins
    // 1000000000000000019884624838656.000000 for pow(10,30))
    spark.udf.register("__graft_fmt6", (v: java.lang.Double) =>
      if (v == null) null
      else {
        val d = v.doubleValue
        if (d.isNaN) "nan"
        else if (d.isPosInfinity) "inf"
        else if (d.isNegInfinity) "-inf"
        else new java.math.BigDecimal(d)
          .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
      })
  }
}
