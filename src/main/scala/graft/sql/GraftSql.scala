package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.{CatalogState, Deployment, Procedure, SessionState}
import graft.operators.{LastJoin, WindowOps}

/** SQL front-end for the OpenMLDB dialect: standard SELECT plus the
  * three feature-engineering extensions — `LAST JOIN`,
  * `WINDOW ... UNION`, and `ROWS_RANGE` frames with
  * MAXSIZE / EXCLUDE CURRENT_TIME / EXCLUDE CURRENT_ROW /
  * INSTANCE_NOT_IN_WINDOW (docs/en/openmldb_sql/dql/WINDOW_CLAUSE.md,
  * JOIN_CLAUSE.md; grammar surface dql/SELECT_STATEMENT.md:101-111).
  *
  * Architecture (SURVEY §7.1): a hand-rolled recursive-descent parser
  * covers the STRUCTURAL dialect (clauses, joins, window specs); scalar
  * expression text is delegated verbatim to Spark's `expr()` — the
  * overlap in expression syntax is near-total once GraftScalars
  * registers the dialect-specific function names. Planning emits plain
  * DataFrame operators: plain frames → `Window.rowsBetween/rangeBetween`
  * (whole-stage codegen), extended frames → the
  * [[graft.operators.WindowOps.frameArray]] pipeline, LAST JOIN →
  * [[graft.operators.LastJoin]]. No SparkSession fork, no custom
  * parser dependency — ~500 lines replace the reference's
  * zetasql + JNI + LLVM stack for the batch path.
  */
object GraftSql {

  // ------------------------------------------------------------------
  // Tokenizer
  // ------------------------------------------------------------------

  private val twoCharOps = Set("<=", ">=", "<>", "!=", "==", "||", "&&", "->")

  private[sql] def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if ((c == '-' && i + 1 < n && s.charAt(i + 1) == '-') ||
               c == '#') {
        // line comment, -- or # (window_query.yaml id 22,
        // udf_query.yaml id 13)
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(s.charAt(i) == '*' && s.charAt(i + 1) == '/'))
          i += 1
        i = math.min(n, i + 2)
      } else if (c == '\'' || c == '"') {
        val q = c; val b = new StringBuilder().append(q); i += 1
        while (i < n && s.charAt(i) != q) { b.append(s.charAt(i)); i += 1 }
        if (i < n) { b.append(q); i += 1 }
        out += b.toString
      } else if (c.isDigit) {
        val b = new StringBuilder
        while (i < n && (s.charAt(i).isDigit || s.charAt(i) == '.')) {
          b.append(s.charAt(i)); i += 1
        }
        val hasDot = b.indexOf(".") >= 0
        // typed-literal suffix on a FRACTIONAL literal ("0.0f" float,
        // "1.5d" double — test_sub_select.yaml id 7); integral runs
        // keep the interval rule: a digit run DIRECTLY followed by a
        // single time-unit letter ("10m", "2s", "30d") is ONE token —
        // legal only as a ROWS_RANGE frame bound, rejected in
        // expressions (fail_query.yaml "un-support const node")
        if (i < n && hasDot && "fFdD".indexOf(s.charAt(i)) >= 0 &&
            (i + 1 >= n || !(s.charAt(i + 1).isLetterOrDigit ||
              s.charAt(i + 1) == '_'))) {
          b.append(s.charAt(i)); i += 1
        } else if (i < n && !hasDot &&
            ("smhdSMHD".indexOf(s.charAt(i)) >= 0 ||
              s.charAt(i) == 'l' || s.charAt(i) == 'L') &&
            (i + 1 >= n || !(s.charAt(i + 1).isLetterOrDigit ||
              s.charAt(i + 1) == '_'))) {
          b.append(s.charAt(i)); i += 1
        }
        // whitespace check after a numeric/interval literal: `100ss`
        // is neither a number nor an interval, and Spark's own parser
        // would silently read it as `100 AS ss`
        // (cases/plan/error_query.yaml id 6)
        if (i < n && (s.charAt(i).isLetter || s.charAt(i) == '_'))
          throw new IllegalArgumentException(
            s"malformed numeric literal '${b.toString}${s.charAt(i)}': " +
              "whitespace required after a numeric or interval literal")
        out += b.toString
      } else if (c.isLetter || c == '_' || c == '`') {
        val b = new StringBuilder
        if (c == '`') {
          // backquoted identifier: quoting is dropped when the content
          // is a plain identifier (`all`.`date` → all.date — keeps
          // every downstream identifier predicate simple) and KEPT when
          // the name needs it (`aa-bb` — statement paths unq() it,
          // Spark's expression parser reads it natively;
          // cases/plan/back_quote_identifier.yaml)
          i += 1
          while (i < n && s.charAt(i) != '`') { b.append(s.charAt(i)); i += 1 }
          if (i < n) i += 1
          if (!b.toString.matches("[A-Za-z_][\\w]*"))
            out += "`" + b.toString + "`"
          else out += b.toString
        } else {
          while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) {
            b.append(s.charAt(i)); i += 1
          }
          out += b.toString
        }
      } else if (i + 2 < n && s.substring(i, i + 3) == "<=>") { out += "<=>"; i += 3 }
      else if (i + 1 < n && twoCharOps(s.substring(i, i + 2))) {
        out += s.substring(i, i + 2); i += 2
      } else { out += c.toString; i += 1 }
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // AST
  // ------------------------------------------------------------------

  private[sql] sealed trait Bound
  private[sql] case object Unbounded extends Bound
  private[sql] case object CurrentRow extends Bound
  private[sql] final case class Prec(n: Long, open: Boolean) extends Bound

  private[sql] final case class WinDef(
      unions: Seq[TRef], partition: Seq[String],
      order: Option[String], orderDesc: Boolean,
      isRows: Boolean, lo: Bound, hi: Bound,
      maxSize: Int, exclCT: Boolean, exclCR: Boolean, inw: Boolean) {
    def isExtended: Boolean =
      maxSize > 0 || exclCT || exclCR || inw || unions.nonEmpty
  }

  private[sql] final case class Proj(tokens: Vector[String],
      over: Option[Either[String, WinDef]], alias: Option[String]) {
    def exprText: String = tokens.mkString(" ")
    def hasNestedOver: Boolean = tokens.exists(_.equalsIgnoreCase("OVER"))
  }

  /** a table reference: a named table or a parenthesized subquery */
  private[sql] type TRef = Either[String, Query]

  private[sql] final case class JoinClause(kind: String, table: TRef,
      alias: Option[String], order: Option[String], cond: String,
      orderDesc: Boolean = false)

  private[sql] final case class Select(
      projs: Seq[Proj], fromTable: TRef, fromAlias: Option[String],
      joins: Seq[JoinClause], where: Option[String],
      groupBy: Seq[String], having: Option[String],
      windows: Map[String, WinDef], limit: Option[Int],
      // CONFIG ( execute_mode = 'request', values = (...) ) — the
      // reference's per-query execution override
      // (cases/query/simple_query.yaml id 108)
      config: Map[String, String] = Map.empty,
      configValues: Seq[Vector[String]] = Nil,
      // SELECT DISTINCT (cases/plan/distinct_query.yaml)
      distinct: Boolean = false,
      // top-level ORDER BY keys: (expr text, desc)
      // (cases/plan/order_query.yaml)
      orderBy: Seq[(String, Boolean)] = Nil)

  private[sql] final case class Query(
      ctes: Seq[(String, Query)], selects: Seq[Select], setOps: Seq[String])

  // ------------------------------------------------------------------
  // Parser
  // ------------------------------------------------------------------

  private class Parser(val toks: Vector[String]) {
    var p = 0
    def peek: String = if (p < toks.length) toks(p) else ""
    def peekUp: String = peek.toUpperCase
    def next(): String = { val t = peek; p += 1; t }
    def expect(kw: String): Unit = {
      if (peekUp != kw.toUpperCase)
        fail(s"expected $kw but found '$peek'")
      p += 1
    }
    def accept(kw: String): Boolean =
      if (peekUp == kw.toUpperCase) { p += 1; true } else false
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"GraftSql parse error at token $p ('$peek'): $msg")

    private val clauseStoppers = Set("FROM", "WHERE", "GROUP", "HAVING",
      "WINDOW", "LIMIT", "UNION", "ON", "LAST", "LEFT", "ORDER", "INTO",
      "CONFIG")

    /** read expression tokens until a depth-0 stopper ("[" counts as
      * depth too — array literals / subscripts, udf_query.yaml) */
    def readExprTokens(extraStop: Set[String] = Set.empty): Vector[String] = {
      val stop = clauseStoppers ++ extraStop
      val b = Vector.newBuilder[String]
      var depth = 0
      var done = false
      while (!done && p < toks.length) {
        val t = peekUp
        if (depth == 0 && (t == ")" || t == "]" || t == "," || stop(t) ||
            t == "OVER" || t == "AS")) done = true
        else {
          if (peek == "(" || peek == "[") depth += 1
          if (peek == ")" || peek == "]") depth -= 1
          b += next()
        }
      }
      val parts = b.result()
      if (parts.isEmpty) fail("empty expression")
      parts
    }

    def readExpr(extraStop: Set[String] = Set.empty): String =
      readExprTokens(extraStop).mkString(" ")

    def parseWinDefPublic(): WinDef = parseWinDef()

    def parseQuery(): Query = {
      val ctes = Seq.newBuilder[(String, Query)]
      if (accept("WITH")) {
        var more = true
        while (more) {
          val name = next()
          expect("AS"); expect("(")
          ctes += (name -> parseQuery())
          expect(")")
          more = accept(",")
        }
      }
      // a UNION operand may be parenthesized — even a whole nested
      // union (union_query.yml id 6); wrap it as SELECT * FROM (sub)
      def parseOperand(): Select =
        if (peek == "(") {
          next(); val sub = parseQuery(); expect(")")
          // CONFIG binds to the whole statement, never to an operand
          // (union_query.yaml id 6)
          if (sub.selects.exists(_.config.nonEmpty))
            fail("CONFIG is only allowed at the end of the top-level query")
          Select(Seq(Proj(Vector("*"), None, None)), Right(sub), None,
            Nil, None, Nil, None, Map.empty, None)
        } else parseSelect()
      val selects = Seq.newBuilder[Select]
      val ops = Seq.newBuilder[String]
      var lastSel = parseOperand()
      selects += lastSel
      while (peekUp == "UNION") {
        // an operand carrying ORDER BY / LIMIT / CONFIG must be
        // parenthesized (zetasql; cases/plan/union_query.yaml ids 4/6)
        if (lastSel.limit.isDefined || lastSel.orderBy.nonEmpty ||
            lastSel.config.nonEmpty)
          fail("a UNION operand with ORDER BY/LIMIT/CONFIG must be " +
            "parenthesized")
        next()
        // the reference requires an explicit set-quantifier
        // (union_query.yaml id 2)
        val op = if (accept("ALL")) "all"
          else if (accept("DISTINCT")) "distinct"
          else fail("UNION must be followed by ALL or DISTINCT")
        ops += op
        lastSel = parseOperand()
        selects += lastSel
      }
      val opsOut = ops.result()
      // a chain may not mix ALL and DISTINCT without parentheses
      // (zetasql; union_query.yaml id 3)
      if (opsOut.distinct.length > 1)
        fail("set operations of different types must be parenthesized")
      Query(ctes.result(), selects.result(), opsOut)
    }

    def parseSelect(): Select = {
      expect("SELECT")
      val distinct = accept("DISTINCT")
      val projs = Seq.newBuilder[Proj]
      var more = true
      while (more) {
        var tokens =
          if (peek == "*") { next(); Vector("*") } else readExprTokens()
        var overOut: Option[Either[String, WinDef]] = None
        // a window call may continue into a larger expression
        // (`sum(id) OVER w1 BETWEEN 2 AND 6`, `CASE WHEN lag(c1) OVER
        // w1 == .. THEN sum(c4) OVER w1 END` — test_predicate.yaml
        // between_predicate_4, test_window_row.yaml ids 19/20): splice
        // each OVER inline and let extractWinCalls rewrite; repeat
        // until the expression genuinely ends.
        var reading = true
        while (reading) {
          if (accept("OVER")) {
            var overToks: Vector[String] = Vector.empty
            var over: Option[Either[String, WinDef]] = None
            if (peek == "(") {
              val start = p
              next(); val w = parseWinDef(); expect(")")
              over = Some(Right(w))
              overToks = Vector("OVER") ++ toks.slice(start, p)
            } else {
              val n0 = next(); over = Some(Left(n0))
              overToks = Vector("OVER", n0)
            }
            val cont = peek.nonEmpty && peek != "," &&
              peekUp != "AS" && !clauseStoppers(peekUp) && peek != ")"
            if (cont) {
              tokens = tokens ++ overToks ++ readExprTokens()
              overOut = None
            } else {
              // expression ends here: OVER applies to the whole of it
              // only when it is a plain call; otherwise keep inline
              if (overOut.isEmpty && !tokens.exists(_.equalsIgnoreCase("OVER")))
                overOut = over
              else { tokens = tokens ++ overToks; overOut = None }
              reading = false
            }
          } else reading = false
        }
        val alias =
          if (accept("AS")) Some(unq(next()))
          else None
        // implicit alias: `SELECT true c1` / `SELECT int16(3) c2`
        // (const_query.yaml id 9) — a trailing bare identifier that
        // cannot syntactically continue the expression
        val (tokens2, alias2) =
          if (alias.isDefined) (tokens, alias)
          else splitImplicitAlias(tokens)
        projs += Proj(tokens2, overOut, alias2)
        // tolerate a trailing comma before FROM/WINDOW or at the end of
        // a no-FROM select (last_join_window_query.yaml id 5,
        // feature_signature_query.yaml ids 6/10)
        more = accept(",") && peek.nonEmpty &&
          peekUp != "FROM" && peekUp != "WINDOW"
      }
      // no-FROM constant select (dql/NO_TABLE_SELECT_CLAUSE.md)
      if (peekUp != "FROM")
        return Select(projs.result(), Left(""), None, Nil, None, Nil, None,
          Map.empty, None, distinct = distinct)
      expect("FROM")
      val fromTable = parseTableRef()
      val fromAlias =
        if (accept("AS")) Some(unq(next()))
        else if (peek.nonEmpty && (peek.head.isLetter || peek.head == '`') &&
          !clauseStoppers(peekUp) && peekUp != "UNION" &&
          peekUp != "FULL" && peekUp != "RIGHT") Some(unq(next()))
        else None
      val joins = Seq.newBuilder[JoinClause]
      var j = true
      while (j) {
        if (accept("LAST")) {
          expect("JOIN")
          val t = parseTableRef()
          val a = if (accept("AS")) Some(unq(next()))
            else if (peek.nonEmpty &&
              (peek.head.isLetter || peek.head == '`') &&
              peekUp != "ORDER" && peekUp != "ON") Some(unq(next()))
            else None
          val ord = if (accept("ORDER")) {
            expect("BY"); Some(readExpr(Set("ON", "ASC", "DESC")))
          } else None
          val desc = accept("DESC") || { accept("ASC"); false }
          expect("ON")
          joins += JoinClause("last", t, a, ord, readExpr(), desc)
        } else if (peekUp == "LEFT" || peekUp == "FULL" ||
            peekUp == "RIGHT") {
          // LEFT/FULL/RIGHT [OUTER] JOIN (left_join.yml id 4;
          // cases/plan/join_query.yaml ids 1/4)
          val kind = next().toLowerCase
          accept("OUTER")
          expect("JOIN")
          val t = parseTableRef()
          val a = if (accept("AS")) Some(unq(next()))
            else if (peek.nonEmpty &&
              (peek.head.isLetter || peek.head == '`') &&
              peekUp != "ON") Some(unq(next()))
            else None
          expect("ON")
          joins += JoinClause(kind, t, a, None, readExpr())
        } else j = false
      }
      val where = if (accept("WHERE")) Some(readExpr()) else None
      val groupBy = Seq.newBuilder[String]
      if (accept("GROUP")) {
        expect("BY")
        // the reference restricts group keys to plain (optionally
        // qualified) column references
        // (cases/plan/error_unsupport_sql.yaml group_complex_expression)
        def readKey(): String = {
          val toks = readExprTokens()
          val isRef = toks.zipWithIndex.forall { case (t, k) =>
            if (k % 2 == 0)
              t.matches("[A-Za-z_][\\w]*") || t.startsWith("`")
            else t == "."
          } && toks.length % 2 == 1
          if (!isRef)
            fail(s"GROUP BY supports plain column references only, " +
              s"not '${toks.mkString(" ")}'")
          toks.mkString(" ")
        }
        groupBy += readKey()
        while (accept(",")) groupBy += readKey()
      }
      val having = if (accept("HAVING")) Some(readExpr()) else None
      val windows = Map.newBuilder[String, WinDef]
      if (accept("WINDOW")) {
        var w = true
        while (w) {
          val name = next()
          expect("AS"); expect("(")
          windows += (name -> parseWinDef())
          expect(")")
          w = accept(",")
        }
      }
      // top-level ORDER BY (cases/plan/order_query.yaml): keys resolve
      // against the SELECT's output, so aggregate aliases sort too
      val orderBy = Seq.newBuilder[(String, Boolean)]
      if (peekUp == "ORDER") {
        next(); expect("BY")
        var o = true
        while (o) {
          val e = readExpr(Set("ASC", "DESC"))
          val desc = accept("DESC") || { accept("ASC"); false }
          orderBy += (e -> desc)
          o = accept(",")
        }
      }
      val limit = if (accept("LIMIT")) Some(next().toInt) else None
      // CONFIG ( k = v, ..., values = ( expr, ... ) ) — per-query
      // execution options (simple_query.yaml id 108)
      var config = Map.empty[String, String]
      var configValues: Seq[Vector[String]] = Nil
      if (accept("CONFIG")) {
        expect("(")
        var m = true
        while (m) {
          val k = next().toLowerCase
          expect("=")
          if (k == "values") {
            expect("(")
            val vals = Seq.newBuilder[Vector[String]]
            var cur = Vector.newBuilder[String]
            var depth = 0
            var done = false
            while (!done && p < toks.length) {
              val t = peek
              if (t == "(") { depth += 1; cur += next() }
              else if (t == ")") {
                if (depth == 0) { next(); done = true }
                else { depth -= 1; cur += next() }
              }
              else if (t == "," && depth == 0) { next(); vals += cur.result(); cur = Vector.newBuilder }
              else cur += next()
            }
            val last = cur.result()
            if (last.nonEmpty) vals += last
            configValues = vals.result()
          } else config += (k -> stripQuotes(next()))
          m = accept(",")
        }
        expect(")")
      }
      Select(projs.result(), fromTable, fromAlias, joins.result(), where,
        groupBy.result(), having, windows.result(), limit, config,
        configValues, distinct = distinct, orderBy = orderBy.result())
    }

    def parseTableRef(): TRef =
      if (peek == "(") { next(); val q = parseQuery(); expect(")"); Right(q) }
      else {
        var name = unq(next())
        while (peek == ".") { next(); name = name + "." + unq(next()) } // db.table
        Left(name)
      }

    /** UNION t1,t2 [INSTANCE_NOT_IN_WINDOW] PARTITION BY ... ORDER BY ...
      * ROWS|ROWS_RANGE BETWEEN <bound> AND <bound>
      * [MAXSIZE n] [EXCLUDE CURRENT_TIME] [EXCLUDE CURRENT_ROW]
      * [INSTANCE_NOT_IN_WINDOW] */
    def parseWinDef(): WinDef = {
      val unions = Seq.newBuilder[TRef]
      if (accept("UNION")) {
        // a union side may carry an [AS] alias
        // (cluster/test_window_row.yaml id 1: UNION (select ...) as t2)
        // — accepted and dropped: side columns must mirror the
        // primary's schema, and frame expressions reference them
        // unqualified
        def side(): TRef = {
          val t = parseTableRef()
          if (accept("AS")) next()
          else if (peek.nonEmpty && peek.head.isLetter &&
            peekUp != "PARTITION" && peekUp != "INSTANCE_NOT_IN_WINDOW" &&
            peek != ",") next()
          t
        }
        unions += side()
        while (accept(",")) unions += side()
      }
      val partition = Seq.newBuilder[String]
      expect("PARTITION"); expect("BY")
      partition += readExpr(Set("ROWS", "ROWS_RANGE"))
      while (accept(",")) partition += readExpr(Set("ROWS", "ROWS_RANGE"))
      var order: Option[String] = None
      var orderDesc = false
      if (accept("ORDER")) {
        expect("BY")
        order = Some(readExpr(Set("DESC", "ASC", "ROWS", "ROWS_RANGE")))
        if (accept("DESC")) orderDesc = true else accept("ASC")
      }
      val isRows =
        if (accept("ROWS_RANGE")) false
        else { expect("ROWS"); true }
      expect("BETWEEN")
      val lo = parseBound(isRows)
      expect("AND")
      val hi = parseBound(isRows)
      var maxSize = 0
      var exclCT = false; var exclCR = false; var inw = false
      var attrs = true
      while (attrs) {
        if (accept("MAXSIZE")) {
          // reference grammar: MAXSIZE is a ROWS_RANGE-only attribute and
          // must precede EXCLUDE clauses (WINDOW_CLAUSE.md:18; the
          // corpus pins both: test_maxsize.yaml id 25, test_current_row
          // .yaml id 30)
          if (isRows) fail("MAXSIZE is only supported for ROWS_RANGE windows")
          if (exclCT || exclCR) fail("MAXSIZE must precede EXCLUDE clauses")
          maxSize = next().toInt
          if (maxSize <= 0) fail("MAXSIZE must be a positive integer")
        }
        else if (accept("EXCLUDE")) {
          if (accept("CURRENT_TIME")) exclCT = true
          else { expect("CURRENT_ROW"); exclCR = true }
        }
        else if (accept("INSTANCE_NOT_IN_WINDOW")) inw = true
        else attrs = false
      }
      WinDef(unions.result(), partition.result(), order, orderDesc,
        isRows, lo, hi, maxSize, exclCT, exclCR, inw)
    }

    private def unitMs(u: String): Option[Long] = u.toLowerCase match {
      case "s" => Some(1000L)
      case "m" => Some(60000L)
      case "h" => Some(3600000L)
      case "d" => Some(86400000L)
      case _   => None
    }

    private val intervalTok = "^([0-9]+)([smhdSMHD])$".r

    def parseBound(isRows: Boolean): Bound = {
      if (accept("UNBOUNDED")) { expect("PRECEDING"); Unbounded }
      else if (accept("CURRENT")) { expect("ROW"); CurrentRow }
      else {
        // a negative PRECEDING bound is legal ("-1 PRECEDING",
        // test_window_row.yaml id 40) — it clamps to the current row
        val neg = accept("-")
        val (n, mult) = next() match {
          case intervalTok(num, unit) =>
            (num.toLong, unitMs(unit).getOrElse(1L))
          case t =>
            (t.toLong,
              if (!isRows) unitMs(peek).map { m => p += 1; m }.getOrElse(1L)
              else 1L)
        }
        if (isRows && mult != 1L) fail("interval bound on a ROWS frame")
        val open = accept("OPEN")
        expect("PRECEDING")
        if (neg) CurrentRow else Prec(n * mult, open)
      }
    }
  }

  // ------------------------------------------------------------------
  // Planner
  // ------------------------------------------------------------------

  private val UidCol = "__graft_uid"
  // session system variables (ddl/SET_STATEMENT.md) and their defaults
  private val sessionVarDefaults = scala.collection.immutable.ListMap(
    "enable_trace" -> "false", "execute_mode" -> "online",
    "job_timeout" -> "20000", "sync_job" -> "false",
    "sync_timeout" -> "20000", "spark_config" -> "",
    "insert_memory_usage_limit" -> "0",
    // window skew optimization (reference: openmldb-batch
    // OpenmldbBatchConfig.scala:52-73 `spark.openmldb.window.skew.opt`,
    // applied by WindowAggPlan/SkewDataFrameUtils in offline batch):
    // time-bucket replication of bounded ROWS_RANGE windows so a hot
    // partition key splits across tasks — see planWindows/SkewWindow
    "window_skew_opt" -> "false")

  private val FlagCol = "__graft_primary"
  private val RequestFlagCol = "__graft_is_request"
  // per-request-row identity (requestMode): survives projections and
  // re-aligns request-derived LAST JOIN sides with their request row
  private val ReqUidCol = "__graft_req_uid"
  private val RequestUnionTable = "__graft_request_union"
  private val RequestRowsTable = "__graft_request_rows"

  /** Render a parameter value as a SQL literal token. */
  /** Render a bound parameter value as dialect tokens, preserving its
    * runtime TYPE (a float parameter must compare as float, not as the
    * default double lexing — parameterized_query.yaml id 2). */
  private def literal(v: Any): Vector[String] = v match {
    case null               => Vector("NULL")
    case s: String          => Vector("'" + s.replace("'", "''") + "'")
    case b: Boolean         => Vector(b.toString)
    case l: Long            => Vector(l.toString + "L")
    case f: Float           =>
      Vector("CAST", "(", f.toString, "AS", "FLOAT", ")")
    case d: Double          => Vector(d.toString + "D")
    case s: Short           =>
      Vector("CAST", "(", s.toString, "AS", "SMALLINT", ")")
    case d: java.sql.Date   => Vector("DATE", s"'$d'")
    case t: java.sql.Timestamp =>
      Vector("timestamp_millis", "(", t.getTime.toString + "L", ")")
    case t: java.time.Instant =>
      Vector("timestamp_millis", "(", t.toEpochMilli.toString + "L", ")")
    case n                  => Vector(String.valueOf(n))
  }

  /** Per-table ORDER hints for unordered LAST JOIN: the reference's
    * storage iterates each table by its index TS column descending, so
    * "last" without an ORDER BY picks the max-ts matching row
    * (union_query.yml id 0). Keyed by table name → ts column; set for
    * the duration of one sql() call. */
  private val tsHintsTL =
    new ThreadLocal[Map[String, String]] {
      override def initialValue(): Map[String, String] = Map.empty
    }

  // ------------------------------------------------------------------
  // Database namespaces (docs/en/openmldb_sql/ddl/
  // USE_DATABASE_STATEMENT.md, CREATE_DATABASE_STATEMENT.md): a
  // database is a table-name prefix. CREATE DATABASE registers the
  // namespace, USE sets the session's default; unqualified names
  // resolve against the default database first. `defaultDb` on sql()
  // overrides per call (the test harness's case-level db).
  // ------------------------------------------------------------------
  private val defaultDbTL = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }
  private def curDb(spark: SparkSession): Option[String] =
    defaultDbTL.get.orElse(SessionState.of(spark).catalog.curDb)

  /** Run a dialect query. `tables` overrides/augments the session's
    * temp-view catalog for table-name resolution; `params` bind `?`
    * placeholders in order (the reference's parameterized query mode —
    * cases/query/parameterized_query.yaml); `tsHints` name each table's
    * index TS column (storage iteration order for unordered LAST JOIN). */
  def sql(spark: SparkSession, text: String,
      tables: Map[String, DataFrame] = Map.empty,
      params: Seq[Any] = Nil,
      tsHints: Map[String, String] = Map.empty,
      defaultDb: Option[String] = None): DataFrame = {
    ensureFunctions(spark)
    tsHintsTL.set(tsHints)
    defaultDbTL.set(defaultDb.orElse(SessionState.of(spark).catalog.curDb))
    cteNamesTL.remove()
    try sqlImpl(spark, text, tables, params)
    finally { tsHintsTL.remove(); defaultDbTL.remove(); cteNamesTL.remove() }
  }

  private def sqlImpl(spark: SparkSession, text: String,
      tables: Map[String, DataFrame], params: Seq[Any]): DataFrame = {
    var remaining = params
    val toks = tokenize(text).flatMap {
      case "?" if remaining.nonEmpty =>
        val v = remaining.head; remaining = remaining.tail; literal(v)
      case t => Vector(t)
    }
    val parser = new Parser(toks)
    val q = parser.parseQuery()
    if (parser.p != parser.toks.length)
      parser.fail("trailing tokens")
    // CONFIG (execute_mode = 'request', values = (...)): run in request
    // mode with the literal tuple as the single request row
    // (simple_query.yaml id 108)
    val selC = q.selects.head
    if (q.selects.length == 1 && q.ctes.isEmpty &&
        selC.config.get("execute_mode").contains("request") &&
        selC.configValues.nonEmpty) {
      val hist = resolveRef(spark, selC.fromTable, tables)
      val reqCols = selC.configValues.zip(hist.schema.fields.toSeq).map {
        case (vt, f) =>
          import org.apache.spark.sql.types._
          val e = expr(rewriteDialect(vt, _ => None).mkString(" "))
          val eTy = try Some(spark.range(1).select(e).schema.head.dataType)
            catch { case _: Throwable => None }
          // ms semantics across the ts/numeric boundary: a TIMESTAMP
          // value lands in a numeric column as its int64 ms (Spark's
          // cast would yield SECONDS), and vice versa
          // (simple_query.yaml id 108 timestamp(4000) → bigint 4000)
          val c = (eTy, f.dataType) match {
            case (Some(TimestampType), t @ (ShortType | IntegerType |
                LongType | FloatType | DoubleType)) =>
              unix_millis(e).cast(t)
            case (Some(t), TimestampType)
                if t.isInstanceOf[NumericType] =>
              timestamp_millis(e.cast("long"))
            case _ => e.cast(f.dataType)
          }
          c.as(f.name)
      }
      val requests = spark.range(1).select(reqCols: _*)
      return requestModeQuery(spark,
        q.copy(selects = Seq(selC.copy(config = Map.empty, configValues = Nil))),
        requests, tables)
    }
    // ---- compiled-plan cache (the reference's EngineLRUCache,
    // hybridse/src/vm/engine.cc): re-planning the same text against
    // the same logical sources returns the prior DataFrame. Planning
    // here runs dozens of analyzer probes, so serving paths that
    // re-plan per batch (DEPLOY, benchmarks) pay it repeatedly
    // otherwise. The cache engages ONLY when every referenced table
    // comes from the explicit `tables` map — session temp views can be
    // replaced by DML between calls, so catalog-resolved plans are
    // never cached. Hits verify the sources with semanticEquals, not
    // just a hash.
    def refNames(qq: Query): Seq[String] = {
      def ofRef(r: TRef): Seq[String] = r match {
        case Left(n)    => Seq(n)
        case Right(sub) => refNames(sub)
      }
      val cteNames = qq.ctes.map(_._1.toLowerCase).toSet
      (qq.ctes.flatMap(c => refNames(c._2)) ++
        qq.selects.flatMap { s =>
          ofRef(s.fromTable) ++ s.joins.flatMap(j => ofRef(j.table)) ++
            s.windows.values.flatMap(_.unions.flatMap(ofRef))
        }).filterNot(n => cteNames(n.toLowerCase))
    }
    val refs = refNames(q)
    val cacheable = refs.nonEmpty &&
      refs.forall(n => n.nonEmpty && tables.contains(n))
    if (!cacheable) return planQuery(spark, q, tables)
    val srcs = refs.distinct.sorted.map(n =>
      n -> tables(n).queryExecution.analyzed.canonicalized)
    val key = (spark, text, params.map(String.valueOf).mkString(""),
      tsHintsTL.get.toSeq.sorted.mkString(","),
      // plan-shaping session variables are part of the identity: a SET
      // between calls must not resurrect a plan built under the old value
      defaultDbTL.get.getOrElse("") + "|skew=" +
        SessionState.of(spark).catalog.vars
          .getOrElse("window_skew_opt", "false"))
    planCache.getOrElse(key, Nil) match {
      case (cachedSrcs, df) :: _
          if cachedSrcs.length == srcs.length &&
            cachedSrcs.zip(srcs).forall { case ((n1, p1), (n2, p2)) =>
              n1 == n2 && p1 == p2 } =>
        df
      case _ =>
        val df = planQuery(spark, q, tables)
        if (planCache.size > 256) planCache.clear()
        planCache.put(key, List((srcs, df)))
        df
    }
  }

  private type PlanKey = (SparkSession, String, String, String, String)
  private val planCache = new scala.collection.concurrent.TrieMap[
    PlanKey,
    List[(Seq[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)],
      DataFrame)]]()

  /** Request mode: compute the query's features point-in-time for each
    * request row against the stored history — the reference's DEPLOY /
    * online-request semantics in batch form (sql_compiler.cc:173,
    * RequestUnionRunner). `requests` must be schema-compatible with the
    * query's FROM table; every window frame sees history rows plus the
    * request row itself, never other request rows
    * (PhysicalRequestUnionNode, physical_op.h:1504). Returns one output
    * row per request row. */
  def requestMode(spark: SparkSession, text: String, requests: DataFrame,
      tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    ensureFunctions(spark)
    val parser = new Parser(tokenize(text))
    val q = parser.parseQuery()
    if (parser.p != parser.toks.length) parser.fail("trailing tokens")
    // Tag each request row with an identity: the reference executes each
    // request independently, so two requests with IDENTICAL join keys
    // must still re-align with their own derived-side rows
    // (fz_ddl/test_myhug.yaml carries two reqId2 requests). Checkpoint
    // pins the nondeterministic ids — every derived sub-plan re-reads
    // them. Projections pass the column through (planSelect) and
    // request-derived LAST JOIN sides join on it.
    // Serving fast path: a LITERAL request batch (LocalRelation — what
    // the HTTP/CALL surfaces build) gets its uids assigned driver-side
    // into a new LocalRelation: deterministic by construction, so the
    // id-pinning checkpoint job (and its scheduling latency, ~100 ms of
    // every online request) disappears. Arbitrary request plans keep
    // the checkpoint.
    val tagged = requests.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val rows = requests.collect().toIndexedSeq.zipWithIndex.map {
          case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i.toLong)
        }
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType(requests.schema.fields :+
            org.apache.spark.sql.types.StructField(ReqUidCol,
              org.apache.spark.sql.types.LongType, nullable = false)))
      case _ =>
        requests
          .withColumn(ReqUidCol, monotonically_increasing_id())
          .localCheckpoint(true)
    }
    val out = requestModeQuery(spark, q, tagged, tables)
    out.drop(out.columns.filter(_.startsWith(ReqUidCol)).toIndexedSeq: _*)
  }

  // ------------------------------------------------------------------
  // Compiled serving templates — the reference compiles a DEPLOYed
  // query ONCE and reuses the JIT'd plan per request (EngineLRUCache'd
  // CompileInfo, hybridse/src/vm/engine.cc:149), then answers each
  // request from the request key's skiplist segment
  // (src/storage/mem_table.cc) — it never re-plans and never scans.
  // serveRequest is the Spark analog of BOTH halves (r18 planning,
  // r19 execution):
  //  * the query is optimized ONCE against opaque RDD placeholder
  //    relations (request rows + each pruned FROM history); each
  //    request transform-copies the prepared physical plan swapping
  //    only those RDDs — no parse/analyze/optimize per request.
  //  * bounded online histories are collected ONCE per template into
  //    a driver-side key→row-positions index; a request substitutes
  //    exactly its keys' rows (the skiplist-seek analog). Oversized
  //    histories fall back to a ServeKeyMembership scan filter whose
  //    key set is injected driver-side — either way ZERO extra jobs.
  //  * the per-request working set coalesces to ONE partition, so
  //    SinglePartition satisfies every window/join distribution and
  //    the plan has ZERO exchanges: one job, one stage, one task per
  //    request (ServeTemplateSpec pins the 1-job property;
  //    SERVING_BENCH_r19: embedded p50 68.5 ms c=1, 125.8 RPS c=10 —
  //    r17 dynamic path: 601 ms / 15.5).
  // ------------------------------------------------------------------

  /** True while a serving template is being PLANNED on this thread:
    * plan construction must stay request-VALUE-independent (pruning
    * switches from InSet literals to broadcast key joins). */
  private val templateModeTL = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  // the placeholder RDD of the template being built (identity check:
  // expression-based pruning only fires against the RAW request
  // relation, never a derived subquery whose key values differ from
  // the raw rows the per-request injector reads)
  private val templatePlaceholderTL = new ThreadLocal[AnyRef]
  // PARTITION BY key lists routed to ServeKeyMembership during the
  // build, in listIdx order — resolved to request-schema ordinals and
  // stored on the template for per-request key-set extraction
  private val pruneListsTL =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Seq[String]]] {
      override def initialValue() =
        scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    }
  // indexed-history slots registered during a template build: the
  // pruned FROM history is replaced by an opaque placeholder whose
  // rows the serving layer looks up per request from a driver-side
  // key→row-positions index (the reference tablet's per-key skiplist
  // seek, src/storage/mem_table.cc — a request reads ITS keys' rows,
  // never a scan)
  private final case class HistSlot0(
      placeholder: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      history: DataFrame, keyLists: Seq[Seq[String]])
  private val histSlotsTL =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[HistSlot0]]
  /** Online histories up to this (estimated) size serve from the
    * driver-resident index; larger ones keep the scan-side membership
    * filter. The serving view is the TTL-bounded ONLINE slice — the
    * reference holds the same slice in tablet RAM by contract. */
  private val MaxIndexedHistoryBytes = BigInt(256L << 20)

  /** Built index for one history slot: collected rows (original scan
    * order — uid/tie order identical to the scan the placeholder
    * replaced) plus, per key list, request-schema fields and the
    * key→positions map. */
  private final case class HistSlot(
      placeholder: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      rows: Array[org.apache.spark.sql.catalyst.InternalRow],
      lists: IndexedSeq[(Seq[(Int, org.apache.spark.sql.types.DataType)],
        java.util.HashMap[Any, Array[Int]])])

  private final case class ServeTemplate(
      optimized: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      placeholder: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      reqSig: Seq[(String, org.apache.spark.sql.types.DataType)],
      taggedSchema: org.apache.spark.sql.types.StructType,
      outSchema: org.apache.spark.sql.types.StructType,
      fromInternal: org.apache.spark.sql.catalyst.InternalRow =>
        org.apache.spark.sql.Row,
      // per referenced table: (name, stored temp-view relation
      // instance at build time, analyzed unwrapped plan). The instance
      // identity check is the per-request fast path; the sameResult
      // fallback tolerates benign re-registrations of an identical
      // view.
      sources: Seq[(String, Option[AnyRef],
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)],
      // prepared physical template (exchanges at serving parallelism,
      // static-side broadcasts SHARED across requests); None when
      // physical substitution is unsafe — execution then re-plans
      // physical from `optimized` per request
      phys: Option[org.apache.spark.sql.execution.SparkPlan],
      // ServeKeyMembership lists by listIdx: each list's key fields as
      // (ordinal, type) in the REQUEST schema — the per-request
      // injector extracts key-tuple sets from the literal rows with
      // these (driver-side, no job)
      pruneLists: IndexedSeq[Seq[(Int, org.apache.spark.sql.types.DataType)]],
      // indexed-history slots (placeholder + collected rows + per-list
      // key→positions maps) — per-request lookup, no history scan
      histSlots: IndexedSeq[HistSlot],
      // last-touched LRU tick (serveClock), updated on every cache hit
      touched: java.util.concurrent.atomic.AtomicLong =
        new java.util.concurrent.atomic.AtomicLong(0))

  // key: (session, query text, current db, ts hints, request
  // signature, user-function registry version). The version component
  // makes CREATE/DROP FUNCTION invalidate compiled templates — the
  // per-request sourcesFresh check only watches TABLES.
  private type ServeKey =
    (SparkSession, String, String, String, String, Long)
  private val serveTemplates =
    new scala.collection.concurrent.TrieMap[ServeKey, ServeTemplate]()
  // value = last-touched tick, for LRU eviction (was a Set; clear-all
  // eviction made the 513th uncacheable query forget every prior one)
  private val serveUncacheable =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]()
  /** Template (re)builds — observable for specs pinning cache reuse. */
  private[sql] val serveTemplateBuilds =
    new java.util.concurrent.atomic.AtomicLong(0)
  // monotonic LRU clock shared by both caches (ticks, not wall time)
  private val serveClock = new java.util.concurrent.atomic.AtomicLong(0)
  // var: specs lower it to exercise eviction without 64 real builds
  private[sql] var serveTemplateCap = 64
  private val serveUncacheableCap = 512

  /** Evict down to `cap`: stopped-session entries first, then oldest-
    * touched one at a time — a fleet serving cap+1 hot deployments
    * loses ONE template per new build, not all of them (the old
    * clear-all forced a correlated re-plan spike across every hot
    * deployment). */
  private def evictLru[K](m: scala.collection.concurrent.TrieMap[K, Long],
      cap: Int, stopped: K => Boolean): Unit =
    if (m.size > cap) {
      m.keysIterator.filter(stopped).toList.foreach(m.remove)
      while (m.size > cap)
        m.remove(m.minBy(_._2)._1)
    }

  private def evictTemplates(): Unit =
    if (serveTemplates.size > serveTemplateCap) {
      serveTemplates.keysIterator
        .filter(_._1.sparkContext.isStopped).toList
        .foreach(serveTemplates.remove)
      while (serveTemplates.size > serveTemplateCap)
        serveTemplates.remove(serveTemplates.minBy(_._2.touched.get)._1)
    }

  private def unwrapView(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      unwrapView(s.child)
    case v: org.apache.spark.sql.catalyst.plans.logical.View =>
      unwrapView(v.child)
    case other => other
  }

  /** Every physical table name the query reads (FROM, joins, WINDOW
    * UNION sides), for template staleness checks. */
  private def tableRefNames(q: Query): Seq[String] = {
    def ofRef(r: TRef): Seq[String] = r match {
      case Left(n)    => if (n.isEmpty) Nil else Seq(n)
      case Right(sub) => tableRefNames(sub)
    }
    val cteNames = q.ctes.map(_._1.toLowerCase).toSet
    (q.ctes.flatMap(c => tableRefNames(c._2)) ++
      q.selects.flatMap { s =>
        ofRef(s.fromTable) ++ s.joins.flatMap(j => ofRef(j.table)) ++
          s.windows.values.flatMap(_.unions.flatMap(ofRef))
      }).filterNot(n => cteNames(n.toLowerCase)).distinct
  }

  /** The stored-catalog plan a table name currently resolves to —
    * compared per request against the template's captured one; any
    * INSERT / DELETE / stream commit re-registers the view with a new
    * plan, so read-your-commits serving stays exact. */
  private def currentSource(spark: SparkSession, name: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    unwrapView(resolve(spark, name, Map.empty).queryExecution.analyzed)

  /** The catalog name `resolve` would read for a bare table ref —
    * mirrors resolve()'s db-qualification so the raw-instance lookup
    * sees the same view. */
  private def resolvedViewName(spark: SparkSession, name: String): String =
    if (name.contains('.')) dbViewName(name)
    else curDb(spark) match {
      case Some(db) if spark.catalog.tableExists(
          quoteId(dbViewName(s"$db.$name"))) => dbViewName(s"$db.$name")
      case _ => name
    }

  private def sourcesFresh(spark: SparkSession, t: ServeTemplate): Boolean =
    t.sources.forall { case (n, raw, p) =>
      val rawNow = org.apache.spark.sql.GraftServe.rawTempView(
        spark, resolvedViewName(spark, n))
      (raw, rawNow) match {
        case (Some(a), Some(b)) if a eq b => true // no analyzer run
        case _ =>
          try {
            val cur = currentSource(spark, n)
            (cur eq p) || cur.sameResult(p)
          } catch { case scala.util.control.NonFatal(_) => false }
      }
    }

  private def reqSigOf(df: DataFrame): Seq[(String, org.apache.spark.sql.types.DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  /** Serving entry point: requestMode semantics, compiled-plan reuse.
    * Falls back to [[requestMode]] whenever the template path cannot
    * apply (non-literal request batches, explicit table maps, offline
    * mode, template build/execution failure) — never fails a request
    * the dynamic path would answer. */
  def serveRequest(spark: SparkSession, text: String, requests: DataFrame,
      tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    val viaTemplate =
      try serveViaTemplate(spark, text, requests, tables)
      catch { case scala.util.control.NonFatal(e) =>
        if (sys.env.contains("GRAFT_SERVE_DEBUG")) e.printStackTrace()
        None }
    viaTemplate.getOrElse(requestMode(spark, text, requests, tables))
  }

  private def serveViaTemplate(spark: SparkSession, text: String,
      requests: DataFrame, tables: Map[String, DataFrame])
      : Option[DataFrame] = {
    import org.apache.spark.sql.GraftServe
    if (tables.nonEmpty || offlineMode(spark)) return None
    if (serveUncacheable.contains((spark, text))) return None
    // literal request batches only — the shape every serving surface
    // (HTTP POST, CALL, SDK-style embedded) builds. Logical-plan match
    // first: the hot surfaces build LocalRelation directly, so the
    // per-request check costs NO analyzer run; expression-built rows
    // (CALL's literal projection) fold to LocalRelation in optimize.
    val reqRowsInternal: Seq[org.apache.spark.sql.catalyst.InternalRow] =
      (requests.queryExecution.logical match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          Some(l.data)
        case _ => requests.queryExecution.optimizedPlan match {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            Some(l.data)
          case _ => None
        }
      }).getOrElse(return None)
    val sig = reqSigOf(requests)
    val key: ServeKey = (spark, text, defaultDbTL.get.getOrElse(""),
      tsHintsTL.get.toSeq.sorted.mkString(","),
      sig.map { case (n, t) => s"$n:${t.sql}" }.mkString(","),
      userFnsVersion.get)

    def buildTemplate(): Option[ServeTemplate] = {
      serveTemplateBuilds.incrementAndGet()
      ensureFunctions(spark)
      val parser = new Parser(tokenize(text))
      val q = parser.parseQuery()
      if (parser.p != parser.toks.length) parser.fail("trailing tokens")
      // LIMIT keeps the dynamic path: row-count-dependent rewrites
      if (q.selects.exists(_.limit.isDefined)) return None
      val names = tableRefNames(q)
      if (names.isEmpty) return None
      val sources = names.map { n =>
        (n, org.apache.spark.sql.GraftServe.rawTempView(
          spark, resolvedViewName(spark, n)), currentSource(spark, n))
      }
      val taggedSchema = org.apache.spark.sql.types.StructType(
        requests.schema.fields :+ org.apache.spark.sql.types.StructField(
          ReqUidCol, org.apache.spark.sql.types.LongType, nullable = false))
      val placeholder = spark.sparkContext.parallelize(
        Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
      val tagged = GraftServe.internalRddDf(spark, placeholder,
        taggedSchema, 16L * 1024)
      templateModeTL.set(true)
      templatePlaceholderTL.set(placeholder)
      pruneListsTL.set(
        scala.collection.mutable.ArrayBuffer.empty[Seq[String]])
      histSlotsTL.set(
        scala.collection.mutable.ArrayBuffer.empty[HistSlot0])
      val (out, pruneKeyNames, histSlots0) =
        try (requestModeQuery(spark, q, tagged, Map.empty),
          pruneListsTL.get.toIndexedSeq, histSlotsTL.get.toIndexedSeq)
        finally {
          templateModeTL.set(false)
          templatePlaceholderTL.remove()
          pruneListsTL.remove()
          histSlotsTL.remove()
        }
      def reqFieldsOf(keys: Seq[String]): Seq[
          (Int, org.apache.spark.sql.types.DataType)] =
        keys.map { k =>
          val o = requests.schema.fields.indexWhere(
            _.name.equalsIgnoreCase(k))
          (o, requests.schema.fields(o).dataType)
        }
      // key names (validated present in the request schema by
      // pruneHistoryForRequests) → request-schema ordinals + types,
      // for the per-request key-set extraction
      val pruneLists = pruneKeyNames.map(reqFieldsOf)
      // collect each indexed history ONCE (template build / DEPLOY
      // time) and build its key→positions maps — per-request lookups
      // are then O(request keys), the reference's skiplist-seek analog
      val histSlots: IndexedSeq[HistSlot] = histSlots0.map { s0 =>
        val rows = s0.history.queryExecution.executedPlan.executeCollect()
        val hSchema = s0.history.schema
        val lists = s0.keyLists.toIndexedSeq.map { keys =>
          val hFields = keys.map { k =>
            val o = hSchema.fields.indexWhere(_.name.equalsIgnoreCase(k))
            (o, hSchema.fields(o).dataType)
          }
          val acc = new java.util.HashMap[Any,
            scala.collection.mutable.ArrayBuffer[Int]]()
          var i = 0
          while (i < rows.length) {
            val k = graft.functions.ServeKeyPrune.keyOf(rows(i), hFields)
            var b = acc.get(k)
            if (b == null) {
              b = scala.collection.mutable.ArrayBuffer.empty[Int]
              acc.put(k, b)
            }
            b += i
            i += 1
          }
          val idx = new java.util.HashMap[Any, Array[Int]](acc.size * 2)
          acc.forEach((k, b) => idx.put(k, b.toArray))
          (reqFieldsOf(keys), idx)
        }
        HistSlot(s0.placeholder, rows, lists)
      }
      val outD = out.drop(
        out.columns.filter(_.startsWith(ReqUidCol)).toIndexedSeq: _*)
      val optimized = GraftServe.optimizedPlan(outD)
      // an eager checkpoint inside planning (multi-signature window
      // groups) swallows the placeholder — the template would serve
      // frozen placeholder data; refuse it. Same for every indexed
      // history placeholder: substitution missing one would serve
      // frames with NO history.
      if (GraftServe.placeholderCount(optimized, placeholder) == 0)
        return None
      if (histSlots.exists(s =>
          GraftServe.placeholderCount(optimized, s.placeholder) == 0))
        return None
      val phys = GraftServe.preparePhysicalTemplate(spark, optimized,
        placeholder, shufflePartitions = 1,
        required = histSlots.map(_.placeholder))
      Some(ServeTemplate(optimized, placeholder, sig, taggedSchema,
        outD.schema, GraftServe.fromInternal(outD.schema), sources, phys,
        pruneLists, histSlots))
    }

    val cached = serveTemplates.get(key).filter(t =>
      t.reqSig == sig && sourcesFresh(spark, t))
    cached.foreach(_.touched.set(serveClock.incrementAndGet()))
    val tpl = cached.orElse {
      buildTemplate() match {
        case Some(t) =>
          t.touched.set(serveClock.incrementAndGet())
          serveTemplates.put(key, t)
          evictTemplates()
          Some(t)
        case None =>
          serveUncacheable.put((spark, text), serveClock.incrementAndGet())
          evictLru(serveUncacheable, serveUncacheableCap,
            (k: (SparkSession, String)) => k._1.sparkContext.isStopped)
          None
      }
    }
    tpl.map { t =>
      val internal = GraftServe.tagRows(reqRowsInternal, requests.schema)
      val newRdd = spark.sparkContext.parallelize(internal, 1)
      // per-request pruning key sets, extracted from the literal rows
      // on the driver (no Spark job) and injected into the plan copy —
      // history pruning rides the main job (see ServeKeyMembership)
      val pruneSets: IndexedSeq[java.util.HashSet[Any]] =
        t.pruneLists.map(fields =>
          graft.functions.ServeKeyPrune.keySetOf(reqRowsInternal, fields))
      // indexed histories: look up the request keys' row positions
      // (driver-side, no job, no scan), preserve original scan order —
      // identical rows and order to what the pruning filter would pass
      val histSwaps = t.histSlots.map { slot =>
        val posBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
        slot.lists.foreach { case (rFields, idx) =>
          reqRowsInternal.foreach { r =>
            val hits = idx.get(
              graft.functions.ServeKeyPrune.keyOf(r, rFields))
            if (hits != null) posBuf ++= hits
          }
        }
        val pos = posBuf.distinct.sortInPlace()
        val rows = pos.map(slot.rows(_)).toIndexedSeq
        (slot.placeholder, spark.sparkContext.parallelize(rows, 1))
      }
      val swaps = (t.placeholder, newRdd) +: histSwaps
      val dbg = sys.env.contains("GRAFT_SERVE_TIMING")
      val t1 = if (dbg) System.nanoTime() else 0L
      // serving-shaped batches run the prepared physical template
      // (1-partition exchanges, shared dim broadcasts); larger batches
      // re-plan physical at the session's parallelism
      val collected =
        t.phys match {
          case Some(p) if internal.length <= 1024 =>
            val sub = GraftServe.substitutePhysical(p, swaps, pruneSets)
            val t2 = if (dbg) System.nanoTime() else 0L
            val out = GraftServe.executeCollectPhysical(spark, sub)
            if (dbg) {
              val t3 = System.nanoTime()
              // scalastyle:off println
              println(f"[serve-timing] substitute=${(t2 - t1) / 1e6}%.1f " +
                f"execute=${(t3 - t2) / 1e6}%.1f ms")
              // scalastyle:on println
            }
            out
          case _ =>
            val sub = GraftServe.substituteRdd(t.optimized, swaps,
              spark, 16L * 1024, pruneSets)
            GraftServe.executeCollect(spark, sub)
        }
      val resRows: Seq[org.apache.spark.sql.Row] =
        collected.toIndexedSeq.map(t.fromInternal)
      spark.createDataFrame(
        java.util.Arrays.asList(resRows: _*), t.outSchema)
    }
  }

  private def requestModeQuery(spark: SparkSession, q: Query,
      requests: DataFrame, tables: Map[String, DataFrame]): DataFrame = {
    require(q.ctes.isEmpty && q.selects.length == 1,
      "request mode supports a single SELECT")
    val sel = q.selects.head
    require(sel.groupBy.isEmpty && sel.joins.forall(_.kind == "last"),
      "request mode supports window projections and LAST JOINs only")
    val hasWin = sel.projs.exists(p => p.over.isDefined || p.hasNestedOver)
    // a FROM subquery transforms the request row too: route the request
    // rows through it recursively (point-in-time for any windows it
    // holds) so its projection/renames stay visible to the outer SELECT
    // (fz_ddl corpus: `select * from (select reqId as reqId_1 ...) as
    // out0 last join ... on out0.reqId_1 = ...`)
    val reqRows = sel.fromTable match {
      case Right(sub) => requestModeQuery(spark, sub, requests, tables)
      case _          => requests
    }
    // a LAST JOIN right side that derives from the SAME request table
    // computes point-in-time per request row too — the FZ pattern
    // `out0 last join (windowed select over flattenRequest) as out2 on
    // out0.reqId = out2.reqId`: out2's window frames anchor at the
    // REQUEST row's ts, not the stored rows' (fz_ddl/test_myhug.yaml).
    // Right sides over other tables stay static (dimension joins).
    def rootName(r: TRef): Option[String] = r match {
      case Left(n)    => Some(n)
      case Right(sub) => sub.selects.headOption.flatMap(s =>
        rootName(s.fromTable))
    }
    def requestPlannable(qq: Query): Boolean =
      qq.ctes.isEmpty && qq.selects.length == 1 && {
        val s = qq.selects.head
        s.groupBy.isEmpty && s.joins.forall(_.kind == "last")
      }
    val mainRoot = rootName(sel.fromTable).map(_.toLowerCase)
    val extra = Map.newBuilder[String, DataFrame]
    val joins2 = sel.joins.zipWithIndex.map { case (jc, k) =>
      jc.table match {
        case Right(sub)
            if mainRoot.isDefined && requestPlannable(sub) &&
              rootName(jc.table).map(_.toLowerCase) == mainRoot =>
          val nm = s"__graft_req_join_$k"
          val planned = requestModeQuery(spark, sub, requests, tables)
          // both sides carry the request-row identity: join on it too,
          // so duplicate user-level join keys across concurrent
          // requests still pair each request with ITS derived row
          if (requests.columns.contains(ReqUidCol) &&
              planned.columns.contains(ReqUidCol)) {
            val rid = s"${ReqUidCol}_$k"
            extra += (nm -> planned.withColumnRenamed(ReqUidCol, rid))
            // no parens around the original cond: the LAST JOIN equi
            // path detects a top-level AND of equalities (null-safe
            // key matching); a parenthesized conjunct would demote it
            // to the general non-equi path and null keys would stop
            // matching (fz_ddl/test_luoji.yaml null request row)
            // the right key must be alias-qualified for the equi-key
            // detector (equiKeys matches `rightQual . col`)
            val rq = jc.alias.getOrElse(nm)
            jc.copy(table = Left(nm),
              cond = s"${jc.cond} AND $rq.$rid = $ReqUidCol")
          } else {
            extra += (nm -> planned)
            jc.copy(table = Left(nm))
          }
        case _ => jc
      }
    }
    val selJ = sel.copy(joins = joins2)
    val tablesJ = tables ++ extra.result()
    if (!hasWin) {
      // no windows: features depend only on the request row itself —
      // plan the SELECT (joins to static tables included) directly over
      // the request rows, qualified by the FROM table's name
      val fromName = sel.fromTable.left.toOption.getOrElse("")
      val req =
        if (fromName.nonEmpty && sel.fromAlias.isEmpty) reqRows.alias(fromName)
        else reqRows
      return planSelect(spark, selJ.copy(fromTable = Left(RequestRowsTable)),
        tablesJ + (RequestRowsTable -> req))
    }
    val history0 = resolveRef(spark, sel.fromTable, tables)
    // Serving-path key pruning — the reference's per-key index scan
    // analog (its tablet answers a request from the skiplist segment of
    // the request's key, src/storage/mem_table.cc; it never scans other
    // keys). A request row's window frames only ever read history rows
    // sharing its PARTITION BY values, so when the request batch is
    // serving-shaped (few distinct key tuples) and every window
    // partitions by plain columns, filter the history to the requests'
    // key values with literal codegen'd predicates BEFORE the union —
    // per-request work becomes O(the keys' history), not O(table).
    // Batch-request mode (large request sets) keeps the full history:
    // the filter would not prune. Measured (ServingBench shape, 2
    // windows + 2 LAST JOINs): p50 1.55 s → see SERVING_BENCH artifact.
    val history = pruneHistoryForRequests(spark, history0, sel, reqRows)
    // union with provenance flag; the request row is the only primary.
    // History goes FIRST so its uids are lower: a request row whose ts
    // ties stored rows must still see them at-or-before itself
    // (test_batch_request.yaml id 8 "current time == history time")
    val flagged00 = history.withColumn(RequestFlagCol, lit(false))
      .unionByName(reqRows.withColumn(RequestFlagCol, lit(true)),
        allowMissingColumns = true)
    // serving template: the working set is the request rows + their
    // keys' indexed history — coalesce to ONE partition so
    // SinglePartition satisfies every window distribution and the
    // per-request job plans ZERO exchanges (one stage, one task; a
    // coalesce is not a shuffle). Order is preserved (history
    // partition first), so uid assignment is unchanged.
    val flagged0 =
      if (templateModeTL.get) flagged00.coalesce(1) else flagged00
    // keep the FROM table's name resolvable as a qualifier — the query
    // text may reference `t0.c7` (test_batch_request.yaml)
    val fromName0 = sel.fromTable.left.toOption.getOrElse("")
    val flagged =
      if (fromName0.nonEmpty && sel.fromAlias.isEmpty) flagged0.alias(fromName0)
      else flagged0
    val sel2 = selJ.copy(fromTable = Left(RequestUnionTable))
    planSelect(spark, sel2, tablesJ + (RequestUnionTable -> flagged),
      requestMode = true)
  }

  /** Max distinct request key tuples for the serving-path history
    * pruning above — past this the request set is batch-shaped and the
    * pruning predicate would neither prune nor stay cheap. */
  private val MaxPrunedRequestKeys = 256

  /** See the call site in [[requestModeQuery]]: prune `history` to the
    * rows sharing a window partition key tuple with some request row.
    * Conservative: any window whose PARTITION BY is not a plain column
    * list present on both sides (computed keys, qualified names the
    * flattener did not rewrite, union-only exotics) disables pruning —
    * correctness never depends on this rewrite firing. Null-safe
    * (`<=>`): a null-keyed request must keep null-keyed history in its
    * frame. WINDOW UNION side tables are not touched (only the FROM
    * history is pruned; union rows join frames keyed the same way, so
    * dropping non-matching FROM rows stays lossless). */
  private def pruneHistoryForRequests(spark: SparkSession,
      history: DataFrame, sel: Select, requests: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // Nested inline OVER specs (`abs(sum(b) OVER (PARTITION BY c2 ...))`)
    // appear in neither sel.windows nor proj.over — extractWinCalls
    // parses them only during projection rewrite. Parse them here too:
    // missing one would prune history by the WRONG key set and silently
    // drop rows from that window's frames. A named nested OVER is
    // already covered via sel.windows.values; anything unparseable
    // conservatively disables pruning.
    def nestedInlineDefs(toks: Vector[String]): Option[Seq[WinDef]] = {
      val out = Seq.newBuilder[WinDef]
      var i = 0
      while (i < toks.length) {
        if (toks(i).equalsIgnoreCase("OVER")) {
          if (i + 1 < toks.length && toks(i + 1) == "(") {
            var depth = 0; var j = i + 1; var close = -1
            while (j < toks.length && close < 0) {
              if (toks(j) == "(") depth += 1
              if (toks(j) == ")") { depth -= 1; if (depth == 0) close = j }
              j += 1
            }
            if (close < 0) return None
            try out += new Parser(toks.slice(i + 2, close)).parseWinDefPublic()
            catch { case scala.util.control.NonFatal(_) => return None }
            i = close + 1
          } else if (i + 1 < toks.length && sel.windows.contains(toks(i + 1))) {
            i += 2 // named window — in sel.windows.values below
          } else return None
        } else i += 1
      }
      Some(out.result())
    }
    val nested = sel.projs.filter(_.hasNestedOver)
      .map(p => nestedInlineDefs(p.tokens))
    if (nested.exists(_.isEmpty)) return history
    val defs = sel.windows.values.toSeq ++
      sel.projs.flatMap(_.over.toSeq).collect { case Right(w) => w } ++
      nested.flatten.flatten
    if (defs.isEmpty) return history
    val histCols = history.columns.map(_.toLowerCase).toSet
    val reqCols = requests.columns.map(_.toLowerCase).toSet
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    def plainKeys(w: WinDef): Option[Seq[String]] = {
      val ks = w.partition.map(_.trim)
      if (ks.nonEmpty && ks.forall(k => k.matches(ident) &&
          histCols(k.toLowerCase) && reqCols(k.toLowerCase))) Some(ks)
      else None
    }
    val keyLists = defs.map(plainKeys)
    if (keyLists.exists(_.isEmpty)) return history
    val distinctLists = keyLists.flatten.distinct
    if (templateModeTL.get) {
      // compiled serving template: request VALUES are unknown at
      // template-build time. Preferred: a ServeKeyMembership filter
      // whose key set the serving layer injects per request from the
      // literal rows — pruning rides the main job, NO per-request
      // broadcast-build jobs. Requires (a) `requests` to be the raw
      // placeholder relation (a derived subquery's key values differ
      // from the raw rows the injector reads) and (b) atomic
      // non-floating key types on BOTH sides (value-based equality).
      // Anything else keeps the broadcast key join (value-independent
      // too, one job per list per request).
      val rawPlaceholder = requests.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          templatePlaceholderTL.get != null &&
            (l.rdd eq templatePlaceholderTL.get)
        case _ => false
      }
      def keyTypeOk(k: String): Boolean = {
        def tOf(df: DataFrame) = df.schema.fields
          .find(_.name.equalsIgnoreCase(k)).map(_.dataType)
        val (ht, rt) = (tOf(history), tOf(requests))
        ht.isDefined && ht == rt && ht.exists {
          case org.apache.spark.sql.types.FloatType |
               org.apache.spark.sql.types.DoubleType => false
          case _: org.apache.spark.sql.types.NumericType     => true
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.BooleanType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType  => true
          case _                                             => false
        }
      }
      if (rawPlaceholder && distinctLists.forall(_.forall(keyTypeOk))) {
        // bounded histories: replace the pruned history OUTRIGHT with
        // an indexed-lookup placeholder — per request the serving
        // layer substitutes exactly the request keys' rows (no scan at
        // all; the one remaining job processes O(frames) rows)
        val histBytes =
          try history.queryExecution.optimizedPlan.stats.sizeInBytes
          catch { case scala.util.control.NonFatal(_) =>
            BigInt(Long.MaxValue) }
        val slots = histSlotsTL.get
        if (slots != null && histBytes <= MaxIndexedHistoryBytes) {
          val ph = spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
          slots += HistSlot0(ph, history, distinctLists)
          return org.apache.spark.sql.GraftServe.internalRddDf(
            spark, ph, history.schema, 1L << 20)
        }
        // large histories: ServeKeyMembership filter riding the main
        // job's scan (key sets injected per request, no extra jobs)
        val buf = pruneListsTL.get
        val preds = distinctLists.map { keys =>
          val idx = buf.length
          buf += keys
          graft.functions.ServeKeyPrune.member(
            keys.map(history(_)).toIndexedSeq, idx)
        }
        return history.filter(preds.reduce(_ || _))
      }
      return pruneByKeyJoin(history, distinctLists, requests)
    }
    val allKeyCols = distinctLists.flatten.distinct
    // serving-shaped gate: probe the request key tuples. A literal
    // request batch (LocalRelation, the serving surfaces' shape) reads
    // them driver-side with NO Spark job; otherwise one cheap job over
    // the checkpoint-pinned requests.
    val keyProj = requests.select(allKeyCols.map(col).toIndexedSeq: _*)
    val reqKeys: Seq[Seq[Any]] = keyProj.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        keyProj.collect().iterator.map(_.toSeq).toSeq.distinct
          .take(MaxPrunedRequestKeys + 1)
      case _ =>
        keyProj.distinct().limit(MaxPrunedRequestKeys + 1)
          .collect().iterator.map(_.toSeq).toSeq
    }
    if (reqKeys.length > MaxPrunedRequestKeys || reqKeys.isEmpty)
      return history
    // Per-COLUMN membership conjunction (isin → InSet hash lookup),
    // not a per-tuple OR chain: a 256-tuple × 2-window OR of equality
    // conjunctions evaluates hundreds of comparisons per history row
    // (measured: q_request_mode ratio 1.46 at sf0.1), while InSet is
    // O(1) per column. The per-column form is a SUPERSET of the exact
    // tuple set (cross-product slack) — all pruning needs: frames only
    // ever read same-key rows, and non-request rows are dropped by the
    // post-window request filter, so extra kept rows cost only volume.
    def keyPred(keys: Seq[String]): Column =
      keys.map { k =>
        val i = allKeyCols.indexOf(k)
        val vs = reqKeys.map(_(i)).distinct
        val nonNull = vs.filter(_ != null)
        val base =
          if (nonNull.isEmpty) lit(false)
          else col(k).isin(nonNull: _*)
        if (vs.contains(null)) base || col(k).isNull else base
      }.reduce(_ && _)
    // a key type isin/lit can't embed (nested types), or any analysis
    // failure building the predicate, must fall back to the unpruned
    // history, never fail the query (AnalysisException is NOT a
    // RuntimeException in Spark — catch NonFatal)
    try history.filter(distinctLists.map(keyPred).reduce(_ || _))
    catch { case scala.util.control.NonFatal(_) => history }
  }

  /** Value-independent history pruning for the serving template: one
    * broadcast join per distinct PARTITION BY key list against the
    * request relation's distinct key tuples, null-safe (`<=>` — a
    * null-keyed request keeps null-keyed history in its frames). A
    * history row survives when ANY window's frame could read it:
    * a single key list is a LEFT SEMI join; several lists are marker
    * LEFT joins OR'd (the distinct key projection guarantees at most
    * one match per list, so the left joins cannot duplicate rows).
    * Exact tuple membership — a strict subset of the per-column InSet
    * superset the value-based path uses, so pruning is at least as
    * tight. Falls back to the unpruned history on any failure. */
  private def pruneByKeyJoin(history: DataFrame,
      keyLists: Seq[Seq[String]], requests: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    try {
      if (keyLists.size == 1) {
        val keys = keyLists.head
        val keyDf = requests.select(keys.map(col).toIndexedSeq: _*).distinct()
        val cond = keys.map(k => history(k) <=> keyDf(k)).reduce(_ && _)
        history.join(broadcast(keyDf), cond, "left_semi")
      } else {
        var h = history
        val markers = keyLists.zipWithIndex.map { case (keys, i) =>
          val m = s"__graft_prune_m$i"
          // unique right-side names: a history column joined against
          // its same-named key copy would leave duplicate columns
          val renamed = keys.zipWithIndex.map { case (k, j) =>
            (k, s"__graft_prune_k${i}_$j")
          }
          val keyDf = requests.select(renamed.map { case (k, n) =>
            col(k).as(n) }.toIndexedSeq: _*)
            .distinct().withColumn(m, lit(true))
          val cond = renamed.map { case (k, n) => h(k) <=> keyDf(n) }
            .reduce(_ && _)
          h = h.join(broadcast(keyDf), cond, "left")
            .drop(renamed.map(_._2): _*)
          m
        }
        h.filter(markers.map(m => col(m).isNotNull).reduce(_ || _))
          .drop(markers: _*)
      }
    } catch { case scala.util.control.NonFatal(_) => history }
  }

  /** EXPLAIN: the planned query's formatted physical plan (the
    * reference's EXPLAIN surface, engine.cc:236-321). */
  def explain(spark: SparkSession, text: String,
      tables: Map[String, DataFrame] = Map.empty): String =
    sql(spark, text, tables).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  // ------------------------------------------------------------------
  // Statement surface: CREATE TABLE / DROP / INSERT / DELETE / TRUNCATE
  // / LOAD DATA INFILE / SELECT INTO OUTFILE / DEPLOY
  // (ddl/CREATE_TABLE_STATEMENT.md, dml/INSERT_STATEMENT.md,
  // dml/LOAD_DATA_STATEMENT.md, dql/SELECT_INTO_STATEMENT.md,
  // deployment_manage/DEPLOY_STATEMENT.md:97-168)
  // ------------------------------------------------------------------

  /** Body SQL of a deployment (see [[graft.Deployment]]). */
  def deployment(spark: SparkSession, name: String): Option[String] =
    SessionState.of(spark).catalog.deployments.get(name).map(_.body)

  /** Home db a deployment was created under (None = the implicit
    * default namespace — visible from every db). */
  def deploymentDb(spark: SparkSession, name: String): Option[String] =
    SessionState.of(spark).catalog.deployments.get(name).flatMap(_.db)

  /** Body SQL of a deployment OR stored procedure (CALL and the HTTP
    * serving shim resolve both, like the reference's apiserver — a
    * DEPLOY is an SP there, api_server_impl.cc:451-458). */
  def callableBody(spark: SparkSession, name: String): Option[String] = {
    val c = SessionState.of(spark).catalog
    c.deployments.get(name).map(_.body)
      .orElse(c.procedures.get(name).map(_.body))
  }

  /** Request-row schema of a deployment/procedure: the body query's
    * root-table schema minus engine-internal columns — what CALL types
    * its literal args by and the HTTP API types JSON input rows by
    * (the reference reads the same input schema off the SP,
    * api_server_impl.cc:524-531). */
  def requestSchemaFor(spark: SparkSession, name: String)
      : org.apache.spark.sql.types.StructType = {
    val bodySql = callableBody(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"no deployment or procedure named '$name'"))
    val cq = parseQueryText(bodySql)
    def rootOf(r: TRef): String = r match {
      case Left(n)    => n
      case Right(sub) => rootOf(sub.selects.head.fromTable)
    }
    val rootTable = qualifyTable(spark, rootOf(cq.selects.head.fromTable))
    // request rows may carry nulls even when the stored history's
    // schema is non-nullable (a Seq-of-tuples view infers primitive
    // fields as required) — the request-row schema is always nullable
    org.apache.spark.sql.types.StructType(
      spark.table(quoteId(rootTable)).schema.fields
        .filterNot(_.name.startsWith("__graft"))
        .map(_.copy(nullable = true)))
  }

  /** DEPLOY OPTIONS of a deployment (long_windows, overwrite, …). */
  def deploymentOptions(spark: SparkSession, name: String): Map[String, String] =
    SessionState.of(spark).catalog.deployments.get(name).map(_.options)
      .getOrElse(Map.empty)

  /** Parse a `long_windows="w1:1d,w2:30m"` option value into window
    * name → bucket size (DEPLOY_STATEMENT.md:108-125: default 1d).
    * Encoding: a POSITIVE value is a time bucket in milliseconds
    * (interval literal s/m/h/d); a NEGATIVE value -n is a row-count
    * bucket of n rows — the reference's kRowsNum pre-agg
    * (src/storage/aggregator.cc:1249-1251 parses a bare integer into
    * WindowType::kRowsNum; the DEPLOY_STATEMENT.md:143 claim that row
    * buckets are unsupported is outdated there). */
  def parseLongWindows(value: String): Map[String, Long] = {
    val IntervalRe = "(?i)^(\\d+)(s|m|h|d)$".r
    value.split(",").iterator.map(_.trim).filter(_.nonEmpty).flatMap { part =>
      val (name, bucket) = part.split(":", 2) match {
        case Array(n)    => (n.trim, "1d")
        case Array(n, b) => (n.trim, if (b.trim.isEmpty) "1d" else b.trim)
      }
      bucket match {
        case IntervalRe(n, u) =>
          val unitMs = u.toLowerCase match {
            case "s" => 1000L
            case "m" => 60000L
            case "h" => 3600000L
            case _   => 86400000L
          }
          Some(name -> n.toLong * unitMs)
        case b if b.forall(_.isDigit) && b.toLong > 0 =>
          Some(name -> -b.toLong) // row-count bucket (kRowsNum)
        case other => throw new IllegalArgumentException(
          s"long_windows: bad bucket size '$other' in '$part'")
      }
    }.toMap
  }

  // ------------------------------------------------------------------
  // Offline-job registry (task_manage/*.md). The reference's
  // TaskManager tracks every submitted offline job (LOAD DATA =
  // ImportOfflineData, SELECT INTO OUTFILE = ExportOfflineData — the
  // SUBMIT_JOB.md job-producing statements) in a job-info table served
  // by SHOW JOBS / SHOW JOB / SHOW JOBLOG / STOP JOB / DELETE JOB.
  // This engine's jobs are synchronous Spark actions on the session,
  // so the registry records their lifecycle around execution; STOP JOB
  // only updates the status, exactly the documented local-mode
  // behavior (STOP_JOB.md:10-12).
  // ------------------------------------------------------------------

  private[graft] case class JobInfo(id: Long, jobType: String, state: String,
      startTime: Long, endTime: Long, parameter: String,
      cluster: String, applicationId: String, error: String,
      log: Seq[String])

  /** Run `body` as a tracked offline job. The job row is visible to
    * SHOW JOBS for the life of the session (or until DELETE JOB). */
  private def trackJob[A](spark: SparkSession, jobType: String,
      parameter: String)(body: => A): A = {
    val c = SessionState.of(spark).catalog
    val reg = c.jobs
    val id = c.jobIds.incrementAndGet()
    val start = System.currentTimeMillis()
    reg.put(id, JobInfo(id, jobType, "RUNNING", start, 0L, parameter,
      spark.sparkContext.master, spark.sparkContext.applicationId, "",
      Seq(s"job $id ($jobType) submitted")))
    try {
      val r = body
      val j = reg(id)
      reg.put(id, j.copy(state = "FINISHED",
        endTime = System.currentTimeMillis(),
        log = j.log :+ s"job $id finished"))
      r
    } catch {
      case e: Throwable =>
        val j = reg(id)
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        reg.put(id, j.copy(state = "FAILED",
          endTime = System.currentTimeMillis(), error = msg,
          log = j.log :+ s"job $id failed: $msg"))
        throw e
    }
  }

  private def jobTime(ms: Long): String =
    if (ms == 0L) ""
    else new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      .format(new java.util.Date(ms))

  /** The reference's full SHOW JOBS schema (SHOW_JOBS.md:41). The
    * trailing db/name/pid/cur_task columns are NameServer-op fields —
    * NULL for TaskManager jobs there and here (this engine has no
    * nameserver ops); component is always "TaskManager". */
  private val JobCols = Seq("job_id", "job_type", "state", "start_time",
    "end_time", "parameter", "cluster", "application_id", "error",
    "db", "name", "pid", "cur_task", "component")

  private def jobFrame(spark: SparkSession, js: Seq[JobInfo])
      : DataFrame = {
    import spark.implicits._
    val nul: String = null
    js.sortBy(_.id).map(j => (j.id, j.jobType, j.state,
        jobTime(j.startTime), jobTime(j.endTime), j.parameter,
        j.cluster, j.applicationId, j.error,
        nul, nul, nul, nul, "TaskManager"))
      .toDF(JobCols: _*)
  }

  /** A CALL argument literal as a typed Column. Numbers bound to a
    * TIMESTAMP column are epoch MILLISECONDS (the engine's ts model);
    * wall-clock strings read at the corpus convention (UTC+8), like
    * the dialect's timestamp() rewrite. */
  private def callArgColumn(toks: Vector[String],
      dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val s = toks.mkString(" ")
    if (s.equalsIgnoreCase("null")) lit(null).cast(dt)
    else if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false"))
      lit(s.toBoolean).cast(dt)
    else if (toks.length == 1 && isQuoted(toks.head)) {
      val v = stripQuotes(toks.head)
      dt match {
        case TimestampType =>
          to_utc_timestamp(to_timestamp(lit(v)), "GMT+8")
        case DateType => to_date(lit(v))
        case _        => lit(v).cast(dt)
      }
    } else {
      val num = s.replace(" ", "")
      if (!num.matches("[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?"))
        throw new IllegalArgumentException(
          s"CALL: unsupported argument literal '$s'")
      dt match {
        case TimestampType => timestamp_millis(lit(num.toDouble.toLong))
        case _ if num.contains('.') || num.toLowerCase.contains('e') =>
          lit(num.toDouble).cast(dt)
        case _ => lit(num.toLong).cast(dt)
      }
    }
  }

  /** Parse a job-id argument; a non-numeric id is an execution-time
    * error (the reference's planner passes any literal through and the
    * TaskManager rejects it). */
  private def jobIdArg(p: Parser): Long = {
    val t = p.next()
    // nonEmpty guard: forall on "" is vacuously true and toLong would
    // throw a raw NumberFormatException instead of this message
    if (t.isEmpty || !t.forall(_.isDigit))
      throw new IllegalArgumentException(s"invalid job id '$t'")
    t.toLong
  }

  private def jobOrFail(spark: SparkSession, id: Long): JobInfo =
    SessionState.of(spark).catalog.jobs.getOrElse(id,
      throw new IllegalArgumentException(s"job $id does not exist"))

  /** Declared signature of a stored procedure (REST shim surface):
    * (param name, type, isConst) in order — const params are the
    * common columns the HTTP procedures route splits out. */
  def procedureSignature(spark: SparkSession, name: String)
      : Option[Seq[(String, org.apache.spark.sql.types.DataType, Boolean)]] =
    SessionState.of(spark).catalog.procedures.get(name).flatMap(_.signature)

  /** The CREATE PROCEDURE statement as originally written. */
  def procedureText(spark: SparkSession, name: String): Option[String] =
    SessionState.of(spark).catalog.procedures.get(name).map(_.text)

  /** Physical tables a query reads (FROM + JOIN sides, depth-first,
    * deduped in first-reference order) — the reference's SP info
    * `tables` field. */
  def referencedTables(sqlText: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def walkRef(r: TRef): Unit = r match {
      case Left(n)  => out += n
      case Right(q) => walkQuery(q)
    }
    def walkQuery(q: Query): Unit = {
      q.ctes.foreach { case (_, cq) => walkQuery(cq) }
      q.selects.foreach { s =>
        walkRef(s.fromTable)
        s.joins.foreach(j => walkRef(j.table))
      }
    }
    walkQuery(parseQueryText(sqlText))
    out.toSeq
  }

  /** CREATE FUNCTION registry (ddl/CREATE_FUNCTION.md;
    * udf_develop_guide.md:1-40). The reference registers C++ UDFs from
    * `.so` files via dlopen (hybridse/src/udf/dynamic_lib_manager.cc:37);
    * a JVM engine cannot load native libraries into codegen, so `.so`
    * registration fails with the reference's dlopen error text, and the
    * JVM-native equivalents take its place:
    *
    *  - scalar `OPTIONS (RETURN = '<sql expr over the params>')` →
    *    a Spark-native SQL UDF (`CREATE TEMPORARY FUNCTION ... RETURN`,
    *    resolved by Catalyst's ResolveSQLFunctions — inlined into the
    *    calling plan, whole-stage codegen'd, usable from any expression
    *    position including window arguments);
    *  - scalar `OPTIONS (CLASS = 'fq.ClassName')` → a JVM class with a
    *    `call(...)` method arity-matching the declared parameters,
    *    registered through the Java UDF API;
    *  - aggregate `OPTIONS (INIT='…', STEP='…' [, OUTPUT='…'])` → a
    *    fold registered in this session registry; call sites expand to
    *    the codegen'd higher-order `aggregate(collect_list(v), INIT,
    *    (acc, <param>) -> STEP[, acc -> OUTPUT])` in grouped contexts
    *    and fold the frame value array in window contexts. The
    *    accumulator is named `acc`; the element binds to the declared
    *    parameter name; rows with a NULL argument are skipped (the
    *    reference's non-ARG_NULLABLE behavior).
    */
  private[graft] case class UserFn(
      name: String, isAggregate: Boolean,
      params: Seq[(String, String)], returns: String,
      options: Map[String, String])
  /** Bumped on every CREATE/DROP FUNCTION — part of [[ServeKey]], so a
    * redefined function can never be served from a stale compiled
    * template (sourcesFresh only watches table relations). */
  private[sql] val userFnsVersion =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** SQL type name (CREATE FUNCTION surface) → Spark SQL DDL type. */
  private def fnSqlType(t: String): String =
    parseColType(t).sql

  /** Validate and register one CREATE FUNCTION (see [[UserFn]]). */
  private def registerUserFn(spark: SparkSession, fn: UserFn): Unit = {
    val file = fn.options.get("file")
    file.foreach { f =>
      // the reference dlopens the .so (dynamic_lib_manager.cc:51-62);
      // a JVM/codegen engine cannot — fail with its error text
      throw new IllegalArgumentException(
        s"can not open the dynamic library: $f, error: native (.so/.dll) " +
          "UDFs are not loadable in a JVM engine, try to use abs path — " +
          "register a SQL-expression body with OPTIONS (RETURN='...') or " +
          "a JVM class with OPTIONS (CLASS='...') instead")
    }
    val retExpr = fn.options.get("return").orElse(fn.options.get("expr"))
    val klass = fn.options.get("class")
    if (fn.isAggregate) {
      if (!fn.options.contains("init") || !fn.options.contains("step"))
        throw new IllegalArgumentException(
          "CREATE AGGREGATE FUNCTION requires OPTIONS (INIT='...', " +
            "STEP='...' [, OUTPUT='...'])")
      if (fn.params.length != 1)
        throw new IllegalArgumentException(
          "aggregate user functions take exactly one parameter")
      // validate the fold compiles against the declared signature: a
      // one-row probe catches syntax/type errors at CREATE time, the
      // way the reference validates the .so symbol at registration
      val probe = udafFoldSql(fn,
        s"array(CAST(NULL AS ${fnSqlType(fn.params.head._2)}))")
      try spark.sql(s"SELECT $probe").queryExecution.analyzed
      catch { case e: Throwable =>
        throw new IllegalArgumentException(
          s"invalid aggregate function body: ${e.getMessage}")
      }
    } else if (retExpr.isDefined) {
      val sig = fn.params.map { case (n, t) =>
        s"${quoteId(n)} ${fnSqlType(t)}" }.mkString(", ")
      // Spark-native SQL UDF: Catalyst inlines the body at every call
      // site (ResolveSQLFunctions), keeping it inside codegen
      spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION ${quoteId(fn.name)}" +
        s"($sig) RETURNS ${fnSqlType(fn.returns)} RETURN ${retExpr.get}")
    } else if (klass.isDefined) {
      registerJvmFn(spark, fn, klass.get)
    } else {
      throw new IllegalArgumentException(
        "CREATE FUNCTION requires OPTIONS with one of FILE (native, " +
          "rejected on this engine), RETURN (SQL expression body), or " +
          "CLASS (JVM class with a call(...) method)")
    }
  }

  /** Register a JVM scalar function: `className` must expose a public
    * `call` method whose arity matches the declared parameters. The
    * Java UDF API keeps the call boundary on the executor (the class
    * ships with the application jar, like any closure). */
  private def registerJvmFn(spark: SparkSession, fn: UserFn,
      className: String): Unit = {
    val cls =
      try Class.forName(className)
      catch { case _: ClassNotFoundException =>
        throw new IllegalArgumentException(
          s"can not load class: $className (it must be on the " +
            "application classpath)")
      }
    val n = fn.params.length
    val m = cls.getMethods.find(mm =>
      mm.getName == "call" && mm.getParameterCount == n).getOrElse(
      throw new IllegalArgumentException(
        s"class $className has no call(...) method of arity $n"))
    val inst =
      if (java.lang.reflect.Modifier.isStatic(m.getModifiers)) null
      else cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
    val ret = parseColType(fn.returns)
    import org.apache.spark.sql.api.java._
    n match {
      case 1 => spark.udf.register(fn.name, new UDF1[AnyRef, Any] {
        override def call(a: AnyRef): Any = m.invoke(inst, a) }, ret)
      case 2 => spark.udf.register(fn.name, new UDF2[AnyRef, AnyRef, Any] {
        override def call(a: AnyRef, b: AnyRef): Any =
          m.invoke(inst, a, b) }, ret)
      case 3 => spark.udf.register(fn.name,
        new UDF3[AnyRef, AnyRef, AnyRef, Any] {
          override def call(a: AnyRef, b: AnyRef, c: AnyRef): Any =
            m.invoke(inst, a, b, c) }, ret)
      case 4 => spark.udf.register(fn.name,
        new UDF4[AnyRef, AnyRef, AnyRef, AnyRef, Any] {
          override def call(a: AnyRef, b: AnyRef, c: AnyRef,
              d: AnyRef): Any = m.invoke(inst, a, b, c, d) }, ret)
      case other => throw new IllegalArgumentException(
        s"JVM user functions support 1..4 parameters, got $other")
    }
  }

  /** The higher-order fold a registered aggregate expands to, over an
    * array-valued SQL fragment. Parameter names bind as the lambda
    * element variable; `acc` is the accumulator. */
  private[sql] def udafFoldSql(fn: UserFn, arrSql: String): String = {
    val el = fn.params.head._1
    val init = fn.options("init")
    val step = fn.options("step")
    val out = fn.options.get("output").map(o => s", acc -> $o").getOrElse("")
    s"aggregate($arrSql, $init, (acc, $el) -> ($step)$out)"
  }

  /** Grouped/full-table call-site expansion for a registered aggregate:
    * `fn(v)` → fold over `collect_list(CAST(v AS T))` (NULL arguments
    * are skipped by collect_list, matching the reference's default
    * null handling). */
  private def udafGroupedSql(fn: UserFn, argSql: String): String =
    udafFoldSql(fn,
      s"collect_list(CAST(($argSql) AS ${fnSqlType(fn.params.head._2)}))")

  /** Serve a batch of request rows against a deployed query (the
    * batch-request path; RequestStream serves the streaming path). */
  def serveDeployment(spark: SparkSession, name: String, requests: DataFrame,
      tables: Map[String, DataFrame] = Map.empty): DataFrame =
    serveRequest(spark, deployment(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no deployment named '$name'")),
      requests, tables)

  /** Clause legality for online request mode
    * (ONLINE_REQUEST_REQUIREMENTS.md): a single SELECT; no set ops or
    * CTEs; no top-level WHERE / GROUP BY / HAVING; LAST JOIN only. */
  private[sql] def validateRequestQuery(q: Query): Unit = {
    def bad(msg: String) = throw new IllegalArgumentException(
      s"not deployable under online request mode: $msg " +
        "(ONLINE_REQUEST_REQUIREMENTS.md)")
    if (q.selects.length != 1) bad("set operations (UNION) are unsupported")
    if (q.ctes.nonEmpty) bad("WITH clauses are unsupported")
    val sel = q.selects.head
    if (sel.where.isDefined) bad("top-level WHERE is unsupported")
    if (sel.groupBy.nonEmpty) bad("GROUP BY is unsupported")
    if (sel.having.isDefined) bad("HAVING is unsupported")
    sel.joins.find(_.kind != "last").foreach(j =>
      bad(s"${j.kind.toUpperCase} JOIN is unsupported — only LAST JOIN"))
  }

  private def parseColType(t: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t.toLowerCase match {
      case "int" | "int32" | "integer" | "i32" => IntegerType
      case "smallint" | "int16" | "i16"        => ShortType
      case "bigint" | "int64" | "long" | "i64" => LongType
      case "float"                      => FloatType
      case "double"                     => DoubleType
      case "string" | "varchar"         => StringType
      case "timestamp"                  => TimestampType
      case "date"                       => DateType
      case "bool" | "boolean"           => BooleanType
      case other => throw new IllegalArgumentException(s"unknown type '$other'")
    }
  }

  private def stripQuotes(t: String): String =
    if (t.length >= 2 && (t.head == '\'' || t.head == '"')) t.tail.init else t

  /** strip identifier backticks: `aa-bb` → aa-bb */
  private def unq(t: String): String =
    if (t.length >= 2 && t.head == '`' && t.last == '`') t.tail.init else t

  /** Quote a view name for parser-bound catalog APIs (spark.table,
    * tableExists, createOrReplaceTempView) when it contains characters
    * an unquoted identifier cannot (back-quoted source identifiers
    * like aa-bb, or the __graftdb__ encodings of them). */
  private[sql] def quoteId(n: String): String =
    if (n.matches("[A-Za-z_][\\w]*")) n
    else "`" + n.replace("`", "``") + "`"

  /** OPTIONS ( k = v, ... ) → string map (lowercased keys). Values
    * keep their quoting so consumers can type-check (the reference
    * rejects header='true' — a bool option given a string,
    * test_out_in.yaml id 13); use [[stripQuotes]] on consumption. */
  private def parseOptions(p: Parser): Map[String, String] =
    if (!p.accept("OPTIONS")) Map.empty
    else {
      p.expect("(")
      val out = Map.newBuilder[String, String]
      var more = true
      while (more) {
        val k = unq(p.next()).toLowerCase
        p.expect("=")
        // a value may be a parenthesized tuple: ttl=(10m,10)
        // (ddl/test_create_index.yaml ids 15/16) or a bracket list:
        // distribution=[('ep',[...])] (ddl/test_options.yaml)
        val v =
          if (p.peek == "(") {
            val close = matchClose(p.toks, p.p)
            val s = p.toks.slice(p.p, close + 1).mkString
            p.p = close + 1
            s
          } else if (p.peek == "[") {
            val b = Vector.newBuilder[String]
            var depth = 0
            var done = false
            while (!done && p.p < p.toks.length) {
              val t = p.next()
              if (t == "[") depth += 1
              if (t == "]") depth -= 1
              b += t
              done = depth == 0
            }
            b.result().mkString(" ")
          } else unq(p.next())
        out += (k -> v)
        more = p.accept(",")
      }
      p.expect(")")
      out.result()
    }

  /** One literal token (with optional unary minus) coerced to `dt`. */
  /** Coerce a host-language parameter (from a prepared INSERT's `?`
    * binding) to the target column type — the reference's
    * PreparedStatement surface (java SdkOption/PreparedStatement;
    * dml corpus test_insert_prepared.yaml). */
  private def coerceParam(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (v == null) return null
    dt match {
      case IntegerType => v match {
        case n: Number => n.intValue; case s: String => s.trim.toInt }
      case ShortType => v match {
        case n: Number => n.shortValue; case s: String => s.trim.toShort }
      case LongType => v match {
        case n: Number => n.longValue; case s: String => s.trim.toLong }
      case FloatType => v match {
        case n: Number => n.floatValue; case s: String => s.trim.toFloat }
      case DoubleType => v match {
        case n: Number => n.doubleValue; case s: String => s.trim.toDouble }
      case BooleanType => v match {
        case b: java.lang.Boolean => b; case s: String => s.trim.toBoolean }
      case DateType => java.sql.Date.valueOf(v.toString.trim)
      case TimestampType => v match {
        case n: Number => new java.sql.Timestamp(n.longValue)
        case s: String if s.trim.forall(_.isDigit) =>
          new java.sql.Timestamp(s.trim.toLong)
        case s: String => new java.sql.Timestamp(parseWallClockMs(s).getOrElse(
          throw new IllegalArgumentException(
            s"cannot parse timestamp parameter '$s'")))
      }
      case _ => v.toString
    }
  }

  private def literalValue(p: Parser,
      dt: org.apache.spark.sql.types.DataType,
      params: Iterator[Any] = Iterator.empty): Any = {
    import org.apache.spark.sql.types._
    if (p.peek == "?") {
      p.next()
      if (!params.hasNext) throw new IllegalArgumentException(
        "INSERT has more '?' placeholders than bound parameters")
      return coerceParam(params.next(), dt)
    }
    val neg = p.accept("-")
    val t = p.next()
    if (t.equalsIgnoreCase("NULL")) null
    else {
      val raw0 = stripQuotes(t)
      // INSERT literals may carry the reference's bigint suffix
      // (`1590738989000L`, test_insert.yaml id 1)
      val raw =
        if (raw0.length > 1 && (raw0.last == 'L' || raw0.last == 'l') &&
            raw0.init.forall(c => c.isDigit || c == '-')) raw0.init
        else raw0
      // parse with the sign attached: -2147483648 is a legal INT but
      // +2147483648 is not (test_create.yaml id 48)
      val signed = (if (neg) "-" else "") + raw
      val v: Any = dt match {
        case IntegerType => signed.toInt
        case ShortType   => signed.toShort
        case LongType    => signed.toLong
        case FloatType   => signed.toFloat
        case DoubleType  => signed.toDouble
        case BooleanType => raw.toBoolean
        case DateType    => java.sql.Date.valueOf(raw)
        case TimestampType =>
          // integral = epoch ms; otherwise a GMT+8 wall-clock literal
          if (raw.nonEmpty && raw.forall(_.isDigit))
            new java.sql.Timestamp(raw.toLong)
          else new java.sql.Timestamp(parseWallClockMs(raw).getOrElse(
            throw new IllegalArgumentException(
              s"cannot parse timestamp literal '$raw'")))
        case _           => raw
      }
      v // numeric literals already carry their sign
    }
  }

  /** Execute one statement. DQL returns Some(result); DDL/DML/IO return
    * None after executing eagerly. `params` bind `?` placeholders in an
    * INSERT's VALUES positionally (the reference's PreparedStatement
    * surface — test_insert_prepared.yaml). */
  def statement(spark: SparkSession, text: String,
      params: Seq[Any] = Nil): Option[DataFrame] = {
    ensureFunctions(spark)
    cteNamesTL.remove()
    val p = new Parser(tokenize(text.trim.stripSuffix(";")))
    p.peekUp match {
      case "SET" =>
        // SET [@@[session.|global.]]name = value — session system
        // variables (ddl/SET_STATEMENT.md). Only built-in variables may
        // be set; names are case-insensitive.
        p.expect("SET")
        if (p.accept("@")) { p.expect("@") }
        else { if (!p.accept("GLOBAL")) p.accept("SESSION") }
        var vn = unq(p.next()).toLowerCase
        if ((vn == "session" || vn == "global") && p.accept("."))
          vn = unq(p.next()).toLowerCase
        p.expect("=")
        val vvRaw = stripQuotes(p.next())
        val vv = vvRaw.toLowerCase
        if (p.p != p.toks.length) p.fail("trailing tokens after SET")
        sessionVarDefaults.get(vn) match {
          case None => throw new IllegalArgumentException(
            s"unknown system variable '$vn'")
          case Some(_) =>
            vn match {
              case "execute_mode" if !Set("online", "offline")(vv) =>
                throw new IllegalArgumentException(
                  s"execute_mode must be online|offline, got '$vv'")
              case "enable_trace" | "sync_job" | "window_skew_opt"
                  if !Set("true", "false")(vv) =>
                throw new IllegalArgumentException(
                  s"$vn must be true|false, got '$vv'")
              case "job_timeout" | "sync_timeout" |
                   "insert_memory_usage_limit" if !vv.matches("\\d+") =>
                throw new IllegalArgumentException(
                  s"$vn must be an integer, got '$vv'")
              case "spark_config" =>
                // 'spark.k=v;spark.k2=v2' applied to the offline job
                // (SET_STATEMENT.md:37). This engine's session IS the
                // offline job: runtime SQL confs apply immediately;
                // static/launch-time confs (executor memory etc.) are
                // accepted — the reference forwards those at
                // job-submit, which has no analog here.
                vvRaw.split(";").map(_.trim).filter(_.nonEmpty)
                  .foreach { kv =>
                    val i = kv.indexOf('=')
                    if (i <= 0 || !kv.take(i).trim.startsWith("spark."))
                      throw new IllegalArgumentException(
                        "spark_config entries must be " +
                          s"'spark.<key>=<value>', got '$kv'")
                    val (k, v) = (kv.take(i).trim, kv.drop(i + 1).trim)
                    try spark.conf.set(k, v)
                    catch { case _: org.apache.spark.sql.AnalysisException => () }
                  }
              case _ => ()
            }
            SessionState.of(spark).catalog.vars.put(vn,
              if (vn == "spark_config") vvRaw else vv)
        }
        None

      case "USE" =>
        // USE db (ddl/USE_DATABASE_STATEMENT.md): unknown databases
        // are an error, like the reference
        p.expect("USE")
        val db = unq(p.next())
        if (!SessionState.of(spark).catalog.dbs.contains(db))
          throw new IllegalArgumentException(s"database '$db' does not exist")
        SessionState.of(spark).catalog.curDb = Some(db)
        None

      case "DESC" =>
        // DESC [db.]table: the table's column descriptions
        // (cases/plan/cmd.yaml ids 4-1/4-2,
        // back_quote_identifier.yaml id 4)
        p.expect("DESC")
        import spark.implicits._
        val name = qualifyTable(spark, readTableName(p))
        val fields = spark.table(quoteId(name)).schema.fields.toSeq
        Some(fields.map(f =>
            (f.name, f.dataType.simpleString,
              if (f.nullable) "YES" else "NO"))
          .toDF("Field", "Type", "Null"))

      case "SHOW" =>
        // SHOW DATABASES / TABLES / DEPLOYMENTS (node_enum.h CmdType)
        p.expect("SHOW")
        import spark.implicits._
        p.next().toUpperCase match {
          case "DATABASES" =>
            Some(SessionState.of(spark).catalog.dbs.toSeq.sorted
              .toDF("Databases"))
          case "CURRENT_USER" =>
            // SHOW CURRENT_USER (ddl/SHOW_CURRENT_USER_STATEMENT.md);
            // sessions here are single-user root, like the reference's
            // default login
            Some(Seq("root").toDF("User"))
          case "VARIABLES" =>
            // SHOW VARIABLES: session system variables with defaults
            // (ddl/SET_STATEMENT.md)
            val vars = sessionVarDefaults ++ SessionState.of(spark).catalog.vars
            Some(vars.toSeq.sortBy(_._1).toDF("Variable_name", "Value"))
          case "COMPONENTS" =>
            // SHOW COMPONENTS (ddl/SHOW_COMPONENTS.md): the modeled
            // topology — on Spark the real components are the cluster
            // manager's executors, so this surfaces the virtual
            // tablets validated by CREATE TABLE distribution
            val rows = SessionState.of(spark).tablets.map(e =>
              (e, "tablet", "online")) :+ (("nameserver", "nameserver",
              "online"))
            Some(rows.toDF("Endpoint", "Role", "Status"))
          case "CREATE" if p.peekUp == "PROCEDURE" =>
            // SHOW CREATE PROCEDURE name: the stored SQL; an unknown
            // name yields an empty result (this engine has no server
            // to error from — cases/plan/back_quote_identifier.yaml
            // id 11 only parses upstream)
            p.expect("PROCEDURE")
            val pn = readTableName(p)
            Some(SessionState.of(spark).catalog.procedures.get(pn).toSeq
              .map(r => (pn, r.body))
              .toDF("Procedure", "SQL"))
          case "CREATE" =>
            // SHOW CREATE TABLE t (ddl/SHOW_CREATE_TABLE_STATEMENT.md):
            // reconstructed DDL from the schema + index metadata
            p.expect("TABLE")
            val tn = qualifyTable(spark, readTableName(p))
            val schema = spark.table(quoteId(tn)).schema
            def sqlType(dt: org.apache.spark.sql.types.DataType): String = {
              import org.apache.spark.sql.types._
              dt match {
                case StringType => "varchar"
                case ShortType => "smallInt"
                case IntegerType => "int"
                case LongType => "bigInt"
                case FloatType => "float"
                case DoubleType => "double"
                case TimestampType => "timestamp"
                case DateType => "date"
                case BooleanType => "bool"
                case other => other.simpleString
              }
            }
            def ttlText(t: graft.operators.Ttl.TtlSpec): String = {
              def m = s"${(t.absMs + 59999) / 60000}m"
              t.kind match {
                case "latest" => s"TTL_TYPE=LATEST, TTL=${t.lat}"
                case "absandlat" => s"TTL_TYPE=ABSANDLAT, TTL=($m,${t.lat})"
                case "absorlat" => s"TTL_TYPE=ABSORLAT, TTL=($m,${t.lat})"
                case _ => s"TTL_TYPE=ABSOLUTE, TTL=$m"
              }
            }
            val cols = schema.fields
              .filterNot(_.name.startsWith("__graft"))
              .map(f => s"`${f.name}` ${sqlType(f.dataType)}")
            val idxs = tableIndexMeta(spark, tn).map { m =>
              val ts = m.ts.map(t => s", TS=`$t`").getOrElse("")
              s"INDEX (KEY=${m.keys.map(k => s"`$k`").mkString("(", ",", ")")}" +
                s"$ts, ${ttlText(m.ttl)})"
            }
            val ddl = s"CREATE TABLE `$tn` (\n" +
              (cols ++ idxs).map("  " + _).mkString(",\n") + "\n)"
            Some(Seq((tn, ddl)).toDF("Table", "Create Table"))
          case "TABLE" =>
            // SHOW TABLE STATUS [LIKE 'db-pattern']
            // (ddl/SHOW_TABLE_STATUS.md): one row per visible table
            // with the reference's 14-column status schema. With no
            // database in USE, all databases' tables show; LIKE
            // filters by DATABASE name (the documented semantics).
            p.expect("STATUS")
            val likeDb = if (p.accept("LIKE")) Some(stripQuotes(p.next()))
              else None
            def likeRe(pat: String): String = pat.flatMap {
              case '%' => ".*"
              case '_' => "."
              case c if "\\.[]{}()*+?^$|".contains(c) => "\\" + c
              case c => c.toString
            }
            val cur = curDb(spark)
            // (database, short name, catalog name) of every visible
            // table: unprefixed views live in the default db
            val all = spark.catalog.listTables().collect().toSeq
              .map(_.name)
              .flatMap { n =>
                if (n.startsWith("__graftdb__")) {
                  val rest = n.stripPrefix("__graftdb__")
                  val cut = rest.indexOf("__")
                  if (cut > 0)
                    Some((rest.substring(0, cut), rest.substring(cut + 2), n))
                  else None
                } else if (n.startsWith("__graft")) None
                else Some(("default", n, n))
              }
            val visible = (likeDb, cur) match {
              case (Some(pat), _) =>
                val re = likeRe(pat)
                all.filter { case (db, _, _) => db.matches(re) }
              case (None, Some(db)) => all.filter(_._1 == db)
              case (None, None)     => all
            }
            val statusReg = SessionState.of(spark).catalog.tableStatus
            val rows = visible.sortBy(t => (t._1, t._2)).map {
              case (db, short, catName) =>
                val meta = statusReg.get(catName.toLowerCase)
                  .orElse(statusReg.get(short.toLowerCase))
                  .getOrElse(TableStatusMeta(0L))
                val storage = meta.opts.getOrElse("storage_mode", "memory")
                val df = spark.table(quoteId(catName))
                // Rows/size are STORED stats (the reference serves
                // tablet-reported stats, not a scan per SHOW): cached
                // per session under the view's canonicalized-plan hash,
                // so repeat SHOWs and unmutated tables cost nothing —
                // a table is counted once per mutation epoch, when its
                // snapshot plan actually changed.
                val planKey = df.queryExecution.analyzed.canonicalized
                  .semanticHash()
                val stats = SessionState.of(spark).catalog.rowStats
                val (nRows, bytes) = stats.get(catName.toLowerCase) match {
                  case Some((k, r, b)) if k == planKey => (r, b)
                  case _ =>
                    val r = df.count()
                    val b = df.queryExecution.optimizedPlan.stats
                      .sizeInBytes.min(BigInt(Long.MaxValue)).toLong
                    stats.put(catName.toLowerCase, (planKey, r, b))
                    (r, b)
                }
                val parts = meta.opts.get("partitionnum")
                  .filter(_.matches("\\d+")).map(_.toInt).getOrElse(8)
                val reps = meta.opts.get("replicanum")
                  .filter(_.matches("\\d+")).map(_.toInt).getOrElse(3)
                // offline columns come from the live offline store
                // (LOAD DATA / offline INSERT / ALTER edits), falling
                // back to ALTER-only legacy metadata
                val oinfo = offlineTableInfo(spark, catName)
                  .orElse(offlineTableInfo(spark, short))
                val symPaths = oinfo.map(_._2.toSeq)
                  .filter(_.nonEmpty).getOrElse(meta.symPaths)
                (meta.id, short, db, storage, nRows,
                  if (storage == "memory") bytes else 0L,
                  if (storage == "memory") 0L else bytes,
                  parts, 0, reps,
                  oinfo.flatMap(_._1).orNull,
                  oinfo.map(_._3).orNull,
                  if (symPaths.isEmpty) null else symPaths.mkString(","),
                  "")
            }
            Some(rows.toDF("Table_id", "Table_name", "Database_name",
              "Storage_type", "Rows", "Memory_data_size", "Disk_data_size",
              "Partition", "Partition_unalive", "Replica", "Offline_path",
              "Offline_format", "Offline_symbolic_paths", "Warnings"))
          case "TABLES" =>
            val db = curDb(spark)
            val pfx = db.map(d => dbViewName(s"$d.")).getOrElse("")
            val names = spark.catalog.listTables().collect().toSeq
              .map(_.name)
              .filter(n => if (pfx.nonEmpty) n.startsWith(pfx)
                else !n.startsWith("__graftdb__"))
              .map(n => if (pfx.nonEmpty) n.stripPrefix(pfx) else n)
              .filterNot(_.startsWith("__graft"))
            Some(names.sorted.toDF("Tables"))
          case "DEPLOYMENTS" if p.p != p.toks.length =>
            // SHOW DEPLOYMENTS takes no argument
            // (deploy corpus test_show_deploy id 2)
            throw new IllegalArgumentException(
              s"unexpected token '${p.peek}' after SHOW DEPLOYMENTS")
          case "DEPLOYMENTS" =>
            Some(SessionState.of(spark).catalog.deployments.keys.toSeq.sorted
              .toDF("Deployment"))
          case "PROCEDURES" =>
            Some(SessionState.of(spark).catalog.procedures.keys.toSeq.sorted
              .toDF("Procedure"))
          case "FUNCTIONS" =>
            // SHOW FUNCTIONS (ddl/SHOW_FUNCTIONS.md): the registered
            // user-defined functions
            val rows = SessionState.of(spark).userFns.values.toSeq
              .sortBy(_.name).map(f =>
              (f.name, f.returns.toLowerCase,
                f.params.map(_._2.toLowerCase).mkString(","),
                f.isAggregate,
                f.options.getOrElse("return",
                  f.options.getOrElse("class",
                    f.options.getOrElse("init", "")))))
            Some(rows.toDF("Name", "Return_type", "Arg_type",
              "Is_aggregate", "Body"))
          case "JOBS" =>
            // SHOW JOBS [FROM TASKMANAGER|NAMESERVER] [LIKE 'p']
            // (task_manage/SHOW_JOBS.md; plan cmd.yaml ids show jobs*).
            // Offline jobs live in the TaskManager analog (this
            // registry); NAMESERVER jobs are the reference's internal
            // ops (AddReplicaOP etc.), none of which exist here.
            val target =
              if (p.accept("FROM")) p.next().toUpperCase else "TASKMANAGER"
            if (target != "TASKMANAGER" && target != "NAMESERVER")
              throw new IllegalArgumentException(
                s"SHOW JOBS FROM expects TASKMANAGER or NAMESERVER, got '$target'")
            // LIKE matches against the job id — SHOW_JOBS.md:61-63
            // documents `LIKE '1'` as "show a job with specified id"
            val like = if (p.accept("LIKE")) Some(stripQuotes(p.next()))
              else None
            val all = if (target == "NAMESERVER") Seq.empty[JobInfo]
              else SessionState.of(spark).catalog.jobs.values.toSeq
            val rows = like match {
              case None => all
              case Some(pat) =>
                val re = pat.flatMap {
                  case '%' => ".*"
                  case '_' => "."
                  case c if "\\.[]{}()*+?^$|".contains(c) => "\\" + c
                  case c => c.toString
                }
                all.filter(_.id.toString.matches(re))
            }
            Some(jobFrame(spark, rows))
          case "JOB" =>
            // SHOW JOB <id> (task_manage/SHOW_JOB.md)
            Some(jobFrame(spark, Seq(jobOrFail(spark, jobIdArg(p)))))
          case "JOBLOG" =>
            // SHOW JOBLOG <id> (task_manage/SHOW_JOBLOG.md): the job's
            // captured driver-side log lines
            val j = jobOrFail(spark, jobIdArg(p))
            Some(j.log.map(Tuple1(_)).toDF("Log"))
          case "DEPLOYMENT" =>
            // SHOW DEPLOYMENT [db.]<name>: the deployment's SQL text
            // (deployment_manage/SHOW_DEPLOYMENT.md). The reference
            // scopes deployments per database; this registry is
            // session-flat, so a qualified name resolves its short name
            // (test_show_deploy id 3)
            val dn = readTableName(p).split("\\.").last
            val sqlText = deployment(spark, dn).getOrElse(
              throw new IllegalArgumentException(
                s"deployment '$dn' does not exist"))
            Some(Seq((dn, sqlText)).toDF("Deployment", "SQL"))
          case other => throw new IllegalArgumentException(
            s"unsupported SHOW $other")
        }

      case "CREATE" if p.toks.lift(1).exists(_.equalsIgnoreCase("USER")) =>
        // CREATE USER [IF NOT EXISTS] name [OPTIONS(password='p')]
        p.expect("CREATE"); p.expect("USER")
        val ifNot =
          if (p.accept("IF")) { p.expect("NOT"); p.expect("EXISTS"); true }
          else false
        val un = unq(p.next())
        val pw = userPasswordOpt(parseOptions(p)).getOrElse("")
        if (p.p != p.toks.length) p.fail("trailing tokens")
        val users = SessionState.of(spark).users
        if (users.contains(un)) {
          if (!ifNot) throw new IllegalArgumentException(
            s"user '$un' already exists")
        } else users.put(un, pw)
        None

      case "ALTER" if p.toks.lift(1).exists(_.equalsIgnoreCase("USER")) =>
        // ALTER USER [IF EXISTS] name [SET OPTIONS(password='p')] —
        // password unchanged when not specified (the docs' note 1)
        p.expect("ALTER"); p.expect("USER")
        val ifEx = if (p.accept("IF")) { p.expect("EXISTS"); true } else false
        val un = unq(p.next())
        val pw =
          if (p.accept("SET")) userPasswordOpt(parseOptions(p))
          else None
        if (p.p != p.toks.length) p.fail("trailing tokens")
        val users = SessionState.of(spark).users
        if (!users.contains(un)) {
          if (!ifEx) throw new IllegalArgumentException(
            s"user '$un' does not exist")
        } else pw.foreach(users.put(un, _))
        None

      case "DROP" if p.toks.lift(1).exists(_.equalsIgnoreCase("DATABASE")) =>
        // DROP DATABASE [IF EXISTS] name (ddl/DROP_DATABASE_STATEMENT
        // .md): a database still holding tables refuses —
        // name_server_impl.cc:9160 "database not empty"
        p.expect("DROP"); p.expect("DATABASE")
        val ifEx = if (p.accept("IF")) { p.expect("EXISTS"); true } else false
        val dbn = unq(p.next())
        if (p.p != p.toks.length) p.fail("trailing tokens")
        val c = SessionState.of(spark).catalog
        if (!c.dbs.contains(dbn)) {
          if (!ifEx) throw new IllegalArgumentException(
            s"database '$dbn' does not exist")
        } else {
          val pfx = dbViewName(s"$dbn.")
          if (spark.catalog.listTables().collect().exists(_.name.startsWith(pfx)))
            throw new IllegalArgumentException("database not empty")
          c.dbs -= dbn
          if (c.curDb.contains(dbn)) c.curDb = None
        }
        None

      case "DROP" if p.toks.lift(1).exists(_.equalsIgnoreCase("USER")) =>
        p.expect("DROP"); p.expect("USER")
        val ifEx = if (p.accept("IF")) { p.expect("EXISTS"); true } else false
        val un = unq(p.next())
        if (p.p != p.toks.length) p.fail("trailing tokens")
        if (un == "root") throw new IllegalArgumentException(
          "the user 'root' cannot be deleted")
        val users = SessionState.of(spark).users
        if (!users.contains(un) && !ifEx)
          throw new IllegalArgumentException(s"user '$un' does not exist")
        users.remove(un)
        None

      case "CREATE" if p.toks.lift(1).exists(_.equalsIgnoreCase("DATABASE")) =>
        p.expect("CREATE"); p.expect("DATABASE")
        if (p.accept("IF")) { p.expect("NOT"); p.expect("EXISTS") }
        SessionState.of(spark).catalog.dbs += unq(p.next())
        None

      case "CREATE" if p.toks.lift(1).exists(_.equalsIgnoreCase("PROCEDURE")) =>
        // CREATE PROCEDURE name(params) BEGIN <sql>; END — stored
        // under the name; the body is parse-validated but not planned
        // (parameters resolve only at call time, like the reference's
        // SP compile against a request row)
        p.expect("CREATE"); p.expect("PROCEDURE")
        val pn = readTableName(p)
        val sig = if (p.peek != "(") None else {
          // signature: [const] name type, ... — const marks COMMON
          // columns (shared across a batch request, the reference's
          // ColumnIndicesSet; the HTTP procedures route splits its
          // common_cols/input by these flags)
          val close = matchClose(p.toks, p.p)
          val sigToks = p.toks.slice(p.p + 1, close)
          p.p = close + 1
          Some(splitTokenArgs(sigToks).map { entry =>
            val (isConst, rest) =
              if (entry.headOption.exists(_.equalsIgnoreCase("const")))
                (true, entry.tail)
              else (false, entry)
            require(rest.length == 2,
              s"procedure parameter must be [const] name type: " +
                entry.mkString(" "))
            (unq(rest(0)), parseColType(rest(1)), isConst)
          })
        }
        p.expect("BEGIN")
        val endIdx = p.toks.lastIndexWhere(_.equalsIgnoreCase("END"))
        if (endIdx < p.p) p.fail("CREATE PROCEDURE body must end with END")
        val body = p.toks.slice(p.p, endIdx)
          .mkString(" ").stripSuffix(";")
        p.p = p.toks.length
        parseQueryText(body) // structural validation only
        SessionState.of(spark).catalog.procedures
          .put(pn, Procedure(body, sig, text.trim))
        None

      case "CREATE" if p.toks.lift(1).exists(_.equalsIgnoreCase("INDEX")) =>
        // CREATE INDEX name ON table (keys) OPTIONS(ts=..., ttl=...,
        // ttl_type=...) — recorded in the session index registry the
        // same way CREATE TABLE's INDEX(...) blocks are
        // (ddl/CREATE_INDEX_STATEMENT.md)
        p.expect("CREATE"); p.expect("INDEX")
        val iname = readTableName(p)
        p.expect("ON")
        val tname = qualifyTable(spark, readTableName(p))
        p.expect("(")
        val keys = Seq.newBuilder[String]
        keys += unq(p.next())
        while (p.accept(",")) keys += unq(p.next())
        p.expect(")")
        val opts = parseOptions(p)
        val schema = spark.table(quoteId(tname)).schema
        val tsOpt = opts.get("ts").map(stripQuotes)
        (keys.result() ++ tsOpt.toSeq)
          .foreach { c =>
            if (!schema.fieldNames.exists(_.equalsIgnoreCase(c)))
              throw new IllegalArgumentException(
                s"index column '$c' does not exist in '$tname'")
          }
        // ts must not be one of the keys (test_create_index.yaml id 33)
        tsOpt.foreach { ts =>
          if (keys.result().exists(_.equalsIgnoreCase(ts)))
            throw new IllegalArgumentException(
              s"index ts column '$ts' must not be a key column")
        }
        // TTL options validate exactly like CREATE TABLE's INDEX()
        val ttlKindOpt = opts.get("ttl_type").map(stripQuotes)
        val ttlSpec = opts.get("ttl").map(stripQuotes) match {
          case Some(v) => graft.operators.Ttl.parse(v, ttlKindOpt)
          case None =>
            ttlKindOpt.foreach { kd =>
              if (!Set("absolute", "latest", "absandlat", "absorlat")(
                kd.trim.toLowerCase))
                throw new IllegalArgumentException(s"unknown TTL_TYPE '$kd'")
            }
            graft.operators.Ttl.TtlSpec(
              ttlKindOpt.map(_.toLowerCase).getOrElse("absolute"), 0, 0)
        }
        val spec = s"$iname:${keys.result().mkString("|")}:" +
          tsOpt.getOrElse("")
        val prev = SessionState.of(spark).catalog.indexes.get(tname.toLowerCase)
          .map(_.map { case (ks, ts) =>
            s"prev:${ks.mkString("|")}:${ts.getOrElse("")}" })
          .getOrElse(Seq.empty)
        // this path maintains idxMeta itself (the parsed TTL options) —
        // registerTableIndexes must not clobber the existing richer
        // metadata with bound-less specs
        registerTableIndexes(spark, None, tname, prev :+ spec,
          updateTtlMeta = false)
        val idxMeta = SessionState.of(spark).catalog.idxMeta
        idxMeta.put(tname.toLowerCase,
          idxMeta.getOrElse(tname.toLowerCase, Seq.empty) :+
            IndexMeta(keys.result(), tsOpt, ttlSpec, Some(iname)))
        None

      case "DROP" if p.toks.lift(1).exists(_.equalsIgnoreCase("DEPLOYMENT")) =>
        // DROP DEPLOYMENT <name>: plain names only (the reference
        // rejects a qualified drop — test_drop_deploy id 3) and
        // unknown names are an error (id 1)
        p.expect("DROP"); p.expect("DEPLOYMENT")
        val dn = readTableName(p)
        if (dn.contains('.'))
          throw new IllegalArgumentException(
            "DROP DEPLOYMENT takes an unqualified name")
        if (SessionState.of(spark).catalog.deployments.remove(dn).isEmpty)
          throw new IllegalArgumentException(
            s"deployment '$dn' does not exist")
        None

      case "DROP" if p.toks.lift(1).exists(_.equalsIgnoreCase("PROCEDURE")) =>
        p.expect("DROP"); p.expect("PROCEDURE")
        if (p.accept("IF")) p.expect("EXISTS")
        SessionState.of(spark).catalog.procedures -= readTableName(p)
        None

      case "DROP" if p.toks.lift(1).exists(_.equalsIgnoreCase("INDEX")) =>
        // DROP INDEX [db.]table.index removes the NEWEST registered
        // index with that name from the advisory registries (LAST JOIN
        // ts hints, DELETE key validation, DESC output) — per-name
        // semantics pinned by integration_test/ddl/test_delete_index
        // .yaml (ids 0-3: a created-then-dropped index leaves the
        // original intact; id 4: an unqualified name is an error).
        // Entries registered without names (legacy paths) fall back to
        // clearing the table's registry.
        p.expect("DROP"); p.expect("INDEX")
        val parts = readTableName(p).split("\\.")
        if (parts.length < 2)
          throw new IllegalArgumentException(
            "DROP INDEX requires a [db.]table.index name")
        val iname = parts.last
        val tbl = parts.init.mkString(".")
        val vn = (if (tbl.contains('.')) dbViewName(tbl) else tbl).toLowerCase
        val c = SessionState.of(spark).catalog
        val metas = c.idxMeta.getOrElse(vn, Seq.empty)
        val pos = metas.lastIndexWhere(
          _.name.exists(_.equalsIgnoreCase(iname)))
        if (pos >= 0) {
          val dropped = metas(pos)
          c.idxMeta.put(vn, metas.patch(pos, Nil, 1))
          val specs = c.indexes.getOrElse(vn, Seq.empty)
          val spos = specs.lastIndexWhere { case (ks, ts) =>
            ks == dropped.keys && ts == dropped.ts
          }
          if (spos >= 0)
            c.indexes.put(vn, specs.patch(spos, Nil, 1))
        } else {
          c.indexes.remove(vn)
          c.idxMeta.remove(vn)
        }
        None

      case "DROP" if p.toks.lift(1).exists(_.equalsIgnoreCase("FUNCTION")) =>
        // DROP FUNCTION [IF EXISTS] name (ddl/DROP_FUNCTION.md)
        p.expect("DROP"); p.expect("FUNCTION")
        val ifExists = if (p.accept("IF")) { p.expect("EXISTS"); true } else false
        val fn = unq(p.next()).toLowerCase
        if (p.p != p.toks.length) p.fail("trailing tokens after DROP FUNCTION")
        SessionState.of(spark).userFns.remove(fn) match {
          case None if !ifExists =>
            throw new IllegalArgumentException(s"function '$fn' does not exist")
          case Some(f) =>
            userFnsVersion.incrementAndGet()
            if (!f.isAggregate)
              // scalar registrations live in the session function registry
              spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS ${quoteId(fn)}")
          case _ => ()
        }
        None

      case "CREATE" if p.toks.lift(1).exists(_.equalsIgnoreCase("FUNCTION")) ||
          (p.toks.lift(1).exists(_.equalsIgnoreCase("AGGREGATE")) &&
            p.toks.lift(2).exists(_.equalsIgnoreCase("FUNCTION"))) =>
        // CREATE [AGGREGATE] FUNCTION name(x type, ...) RETURNS type
        // OPTIONS (...) — ddl/CREATE_FUNCTION.md
        p.expect("CREATE")
        val isAgg = p.accept("AGGREGATE")
        p.expect("FUNCTION")
        val fname = unq(p.next()).toLowerCase
        if (!fname.matches("[a-z_][\\w]*"))
          throw new IllegalArgumentException(s"illegal function name '$fname'")
        p.expect("(")
        val params = Seq.newBuilder[(String, String)]
        if (p.peek != ")") {
          var more = true
          while (more) {
            val pn = unq(p.next())
            val pt = p.next()
            parseColType(pt) // validates the declared SQL type
            params += ((pn, pt))
            more = p.accept(",")
          }
        }
        p.expect(")")
        p.expect("RETURNS")
        val rt = p.next()
        parseColType(rt)
        val opts = parseOptions(p)
        if (p.p != p.toks.length) p.fail("trailing tokens after CREATE FUNCTION")
        if (SessionState.of(spark).userFns.contains(fname) ||
            spark.catalog.functionExists(fname))
          throw new IllegalArgumentException(
            s"function '$fname' already exists")
        val fn = UserFn(fname, isAgg, params.result(), rt,
          opts.map { case (k, v) => k -> stripQuotes(v) })
        registerUserFn(spark, fn)
        SessionState.of(spark).userFns.put(fname, fn)
        userFnsVersion.incrementAndGet()
        None

      case "CREATE" =>
        p.expect("CREATE"); p.expect("TABLE")
        val ifNotExists =
          if (p.accept("IF")) { p.expect("NOT"); p.expect("EXISTS"); true }
          else false
        // table-name parts must be legal identifiers unless back-quoted
        // (test_create.yaml id 22 rejects `auto$#k...`)
        val rawName = {
          def part(): String = {
            val t = p.next()
            if (t.startsWith("`")) unq(t)
            else if (!t.matches("[A-Za-z_][\\w]*"))
              throw new IllegalArgumentException(
                s"illegal table name '$t'")
            else t
          }
          var n = part()
          while (p.peek == ".") { p.next(); n = n + "." + part() }
          n
        }
        // reserved keywords cannot name a table (test_create.yaml 6-1;
        // the reference's zetasql reserves ORDER but not TABLE)
        if (Set("order", "select", "from", "where", "group", "having",
            "window", "join", "union", "limit", "between", "case",
            "create", "insert", "delete", "index")(rawName.toLowerCase))
          throw new IllegalArgumentException(
            s"reserved keyword '$rawName' cannot name a table")
        val name = qualifyTable(spark, rawName)
        // creating an existing table is an error (test_create.yaml 26)
        if (spark.catalog.tableExists(quoteId(name))) {
          if (ifNotExists) return None
          throw new IllegalArgumentException(
            s"table '$rawName' already exists")
        }
        if (p.peekUp == "LIKE") {
          // CREATE TABLE t LIKE PARQUET 'uri' | LIKE HIVE 'hive://db.t'
          // (ddl/CREATE_TABLE_STATEMENT.md:199-207): the table takes
          // the source's schema; an empty ONLINE table is registered
          // (the reference creates the table shell — data still
          // arrives via LOAD DATA / INSERT)
          p.expect("LIKE")
          val kind = p.next().toUpperCase
          val src = stripQuotes(p.next())
          if (p.p != p.toks.length) p.fail("trailing tokens")
          val schema = kind match {
            case "PARQUET" =>
              val path = if (src.startsWith("file://")) src.drop(7) else src
              spark.read.parquet(path).schema
            case "HIVE" =>
              val t = if (src.toLowerCase.startsWith("hive://")) src.drop(7)
                else throw new IllegalArgumentException(
                  s"LIKE HIVE expects a hive:// uri, got '$src'")
              spark.read.table(t).schema
            case other => throw new IllegalArgumentException(
              s"CREATE TABLE LIKE supports PARQUET|HIVE, got '$other'")
          }
          graft.GraftCatalog.createTable(spark, name, schema)
          SessionState.of(spark).catalog.created += name
          return None
        }
        if (p.peek != "(") {
          // columnless CREATE TABLE (cases/plan/cmd.yaml id 2
          // "CREATE TABLE schema.sql"): registers an empty-schema
          // table — but only when the statement genuinely ends here
          if (p.p != p.toks.length) p.fail("expected a column list")
          graft.GraftCatalog.createTable(spark, name,
            org.apache.spark.sql.types.StructType(Seq.empty))
          SessionState.of(spark).catalog.created += name
          return None
        }
        p.expect("(")
        val fields = Seq.newBuilder[org.apache.spark.sql.types.StructField]
        // INDEX(KEY=..., TS=..., TTL=..., TTL_TYPE=...) — storage
        // hints; scan/partition planning is Spark's job here, but the
        // SPEC still validates (test_create.yaml ids 11/12/15-18)
        val indexSpecs = Seq.newBuilder[
          (Seq[String], Option[String], Option[graft.operators.Ttl.TtlSpec])]
        val notNullBuf = scala.collection.mutable.LinkedHashSet[String]()
        var more = true
        while (more && p.peek != ")") {
          if (p.peekUp == "INDEX") {
            p.next(); val close = matchClose(p.toks, p.p)
            val body = p.toks.slice(p.p + 1, close).map(unq)
            p.p = close + 1
            var keys = Seq.empty[String]; var tsCol: Option[String] = None
            var ttlVal: Option[String] = None; var ttlKind: Option[String] = None
            var k = 0
            while (k < body.length) {
              val low = body(k).toLowerCase
              if (low == "key" && k + 1 < body.length && body(k + 1) == "=") {
                if (body.lift(k + 2).contains("(")) {
                  val kc = matchClose(body, k + 2)
                  keys = body.slice(k + 3, kc).filter(_ != ",").toSeq
                  k = kc + 1
                } else { keys = Seq(body(k + 2)); k += 3 }
              } else if (low == "ts" && k + 1 < body.length &&
                  body(k + 1) == "=") {
                tsCol = Some(body(k + 2)); k += 3
              } else if (low == "ttl" && k + 1 < body.length &&
                  body(k + 1) == "=") {
                // the value may be a parenthesized 2-tuple: (10m,10)
                if (body.lift(k + 2).contains("(")) {
                  val tc = matchClose(body, k + 2)
                  ttlVal = Some(body.slice(k + 2, tc + 1).mkString)
                  k = tc + 1
                } else { ttlVal = Some(body(k + 2)); k += 3 }
              } else if (low == "ttl_type" && k + 1 < body.length &&
                  body(k + 1) == "=") {
                ttlKind = Some(body(k + 2)); k += 3
              } else k += 1
            }
            // validate eagerly: an illegal TTL fails the CREATE
            // (ddl/test_ttl.yaml ids 3-5/7/9/12/14/16-19)
            val ttl = ttlVal.map(v => graft.operators.Ttl.parse(v, ttlKind))
            if (ttl.isEmpty) ttlKind.foreach { kd =>
              if (!Set("absolute", "latest", "absandlat", "absorlat")(
                kd.trim.toLowerCase))
                throw new IllegalArgumentException(s"unknown TTL_TYPE '$kd'")
            }
            indexSpecs += ((keys, tsCol, ttl))
          } else {
            val cn = unq(p.next())
            // a back-quoted keyword IS a legal name (back_quote corpus)
            if (!p.toks(p.p - 1).startsWith("`") &&
                Set("order", "select", "from", "where", "group", "having",
                  "window", "join", "union", "limit", "between", "case",
                  "create", "insert", "delete", "index")(cn.toLowerCase))
              throw new IllegalArgumentException(
                s"reserved keyword '$cn' cannot name a column")
            val ct = unq(p.next())
            fields += org.apache.spark.sql.types.StructField(cn, parseColType(ct))
            // skip NOT NULL / DEFAULT v to the next ',' or ')' — the
            // NOT NULL flag is recorded for the metadata surfaces (the
            // view schema itself stays nullable: enforcement happens at
            // the write path, not in Catalyst encoders)
            while (p.peek != "," && p.peek != ")" && p.p < p.toks.length) {
              if (p.peekUp == "NOT" &&
                  p.toks.lift(p.p + 1).exists(_.equalsIgnoreCase("NULL")))
                notNullBuf += cn
              p.next()
            }
          }
          more = p.accept(",")
        }
        p.expect(")")
        // trailing OPTIONS: topology spec validated against the
        // modeled cluster (ddl/test_options.yaml, test_create 38-40),
        // then recorded for SHOW TABLE STATUS
        val tblOpts = parseOptions(p).map { case (k, v) =>
          k.toLowerCase -> stripQuotes(v) }
        validateTableOptions(spark, tblOpts)
        val schema = org.apache.spark.sql.types.StructType(fields.result())
        indexSpecs.result().foreach { case (keys, tsCol, _) =>
          keys.foreach { kc =>
            val f = schema.fields.find(_.name.equalsIgnoreCase(kc))
              .getOrElse(throw new IllegalArgumentException(
                s"index key column '$kc' does not exist"))
            // float/double keys are illegal (test_create.yaml 31/32)
            f.dataType match {
              case org.apache.spark.sql.types.FloatType |
                   org.apache.spark.sql.types.DoubleType =>
                throw new IllegalArgumentException(
                  s"index key column '$kc' must not be float/double")
              case _ => ()
            }
          }
          tsCol.foreach { tc =>
            val f = schema.fields.find(_.name.equalsIgnoreCase(tc))
              .getOrElse(throw new IllegalArgumentException(
                s"index ts column '$tc' does not exist"))
            // ts must be a timestamp or bigint (CREATE_TABLE docs)
            f.dataType match {
              case org.apache.spark.sql.types.TimestampType |
                   org.apache.spark.sql.types.LongType => ()
              case other => throw new IllegalArgumentException(
                s"index ts column '$tc' must be timestamp/bigint, " +
                  s"got $other")
            }
          }
        }
        graft.GraftCatalog.createTable(spark, name, schema)
        val c = SessionState.of(spark).catalog
        c.created += name
        // SHOW TABLE STATUS row: id + storage options
        c.tableStatus.put(name.toLowerCase,
          TableStatusMeta(c.tableIds.incrementAndGet(), tblOpts))
        if (notNullBuf.nonEmpty)
          c.notNullCols.put(name.toLowerCase, notNullBuf.toSet)
        else c.notNullCols.remove(name.toLowerCase)
        registerTableIndexes(spark, None, name,
          indexSpecs.result().map { case (ks, ts, _) =>
            s"idx:${ks.mkString("|")}:${ts.getOrElse("")}" },
          updateTtlMeta = false) // the block below sets the parsed TTLs
        // index metadata: declared indexes, or the auto-created default
        // index on the first non-float/double column
        // (schema/index_util.cc:101 AddDefaultIndex)
        locally {
          val declared = indexSpecs.result().map { case (ks, ts, ttl) =>
            IndexMeta(ks, ts,
              ttl.getOrElse(graft.operators.Ttl.TtlSpec("absolute", 0, 0)))
          }
          val metas =
            if (declared.nonEmpty) declared
            else schema.fields.find(f => f.dataType match {
              case org.apache.spark.sql.types.FloatType |
                   org.apache.spark.sql.types.DoubleType => false
              case _ => true
            }).map(f => IndexMeta(Seq(f.name), None,
              graft.operators.Ttl.TtlSpec("absolute", 0, 0))).toSeq
          if (metas.nonEmpty) c.idxMeta.put(name.toLowerCase, metas)
          else c.idxMeta.remove(name.toLowerCase)
        }
        None

      case "ALTER" =>
        // ALTER TABLE t ADD|DROP offline_path 'uri' [, ...] —
        // dml/ALTER_STATEMENT.md: only the offline symbolic paths are
        // updatable; surfaced via SHOW TABLE STATUS
        // Offline_symbolic_paths
        p.expect("ALTER"); p.expect("TABLE")
        val atName = qualifyTable(spark, readTableName(p))
        if (!spark.catalog.tableExists(quoteId(atName)))
          throw new IllegalArgumentException(
            s"table '$atName' does not exist")
        val c = SessionState.of(spark).catalog
        val reg = c.tableStatus
        var meta = reg.getOrElse(atName.toLowerCase,
          TableStatusMeta(c.tableIds.incrementAndGet()))
        var more = true
        while (more) {
          val action = p.next().toUpperCase
          if (action != "ADD" && action != "DROP")
            throw new IllegalArgumentException(
              s"ALTER TABLE action must be ADD or DROP, got '$action'")
          val kw = p.next()
          if (!kw.equalsIgnoreCase("offline_path"))
            throw new IllegalArgumentException(
              s"ALTER TABLE only supports offline_path, got '$kw'")
          val uri = stripQuotes(p.next())
          meta =
            if (action == "ADD")
              meta.copy(symPaths = (meta.symPaths :+ uri).distinct)
            else meta.copy(symPaths = meta.symPaths.filterNot(_ == uri))
          more = p.accept(",")
        }
        if (p.p != p.toks.length) p.fail("trailing tokens")
        reg.put(atName.toLowerCase, meta)
        // the symbolic paths ARE the table's offline info — an ALTER
        // edit must show up in offline reads, not just SHOW TABLE
        // STATUS (ALTER_STATEMENT.md edits the NS offline table info).
        // Paths added here read with the table's current offline
        // format/options (parquet by default — the doc's coexistence
        // rule for hard copies + symlinks).
        locally {
          val key = atName.toLowerCase
          val info0 = c.offline.getOrElse(key, OfflineInfo(None, Vector.empty))
          val keep = info0.sym.filter(sp => meta.symPaths.contains(sp.path))
          val opts = info0.sym.headOption
            .map(_.options).getOrElse(Map.empty[String, String])
          val added = meta.symPaths
            .filterNot(pth => keep.exists(_.path == pth))
            .map(pth => SymPath(pth, info0.format, opts))
          val info1 = info0.copy(sym = keep ++ added.toVector)
          if (info1.exists || c.offline.contains(key))
            c.offline.put(key, info1)
        }
        None

      case "CALL" =>
        // CALL [db.]name(arg, ...) — dml/CALL_STATEMENT.md: invoke a
        // deployment (or stored procedure; DEPLOY is implemented as an
        // SP in the reference) with ONE request row whose values are
        // the literal args, typed by the request table's schema. The
        // answer is the deployment's features for that request row
        // against the stored history — requestMode with one row.
        p.expect("CALL")
        val cn = readTableName(p).split("\\.").last
        val bodySql = callableBody(spark, cn)
          .getOrElse(throw new IllegalArgumentException(
            s"no deployment or procedure named '$cn'"))
        p.expect("(")
        val argsClose = matchClose(p.toks, p.p - 1)
        val argToks = splitTokenArgs(p.toks.slice(p.p, argsClose))
        p.p = argsClose + 1
        if (p.p != p.toks.length) p.fail("trailing tokens")
        val reqSchema = requestSchemaFor(spark, cn)
        if (argToks.length != reqSchema.fields.length)
          throw new IllegalArgumentException(
            s"CALL $cn expects ${reqSchema.fields.length} arguments " +
              s"(the request table's schema), got ${argToks.length}")
        import spark.implicits._
        var reqRow = Seq(1).toDF("__call_seed")
        reqSchema.fields.zip(argToks).foreach { case (f, ts) =>
          reqRow = reqRow.withColumn(f.name, callArgColumn(ts, f.dataType))
        }
        Some(serveRequest(spark, bodySql, reqRow.drop("__call_seed")))

      case "DROP" =>
        p.expect("DROP"); p.expect("TABLE")
        if (p.accept("IF")) p.expect("EXISTS")
        val dropName = readTableName(p)
        graft.GraftCatalog.drop(spark, dropName)
        // under USE db (or a db-qualified name) the real view carries
        // the db prefix — drop that too, or the table survives its
        // own DROP (surfaced by DROP DATABASE's not-empty check)
        graft.GraftCatalog.drop(spark, qualifyTable(spark, dropName))
        val c = SessionState.of(spark).catalog
        val keys = Seq(dropName, qualifyTable(spark, dropName))
          .map(_.toLowerCase).distinct
        keys.foreach { k =>
          c.indexes.remove(k); c.idxMeta.remove(k)
          c.tableStatus.remove(k); c.notNullCols.remove(k)
        }
        // dropping a table clears its offline info AND its hard-copy
        // files ("If we recreate table, this dir will be cleaned too",
        // LoadDataPlan.scala:152; test_select_into_load_data.yaml id
        // 37-2 re-imports with errorifexists after a drop+recreate)
        keys.flatMap(c.offline.remove).flatMap(_.dataPath)
          .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(d)))
        None

      case "INSERT" =>
        p.expect("INSERT")
        // INSERT [[OR] IGNORE] (dml/INSERT_STATEMENT.md): ignore rows
        // already present; online-only
        val orIgnore =
          if (p.accept("OR")) { p.expect("IGNORE"); true }
          else p.accept("IGNORE")
        p.expect("INTO")
        val name = qualifyTable(spark, readTableName(p))
        val schema = spark.table(quoteId(name)).schema
        val cols: Seq[String] =
          if (p.peek == "(") {
            val close = matchClose(p.toks, p.p)
            val cs = p.toks.slice(p.p + 1, close).filter(_ != ",").map(unq)
            p.p = close + 1
            cs
          } else schema.fieldNames.toSeq
        // VALUE is the MySQL-style synonym the reference's grammar also
        // takes (cases/function/v040/test_execute_mode.yaml id 4)
        if (!p.accept("VALUES")) p.expect("VALUE")
        val bound = params.iterator
        val rows = Seq.newBuilder[org.apache.spark.sql.Row]
        var more = true
        while (more) {
          p.expect("(")
          val byName = cols.map { c =>
            val f = schema(c)
            val v = literalValue(p, f.dataType, bound)
            if (p.peek == ",") p.next()
            c -> v
          }.toMap
          p.expect(")")
          rows += org.apache.spark.sql.Row(
            schema.fieldNames.map(f => byName.getOrElse(f, null)).toIndexedSeq: _*)
          more = p.accept(",")
        }
        if (p.p != p.toks.length) p.fail("trailing tokens after INSERT")
        if (bound.hasNext) throw new IllegalArgumentException(
          "INSERT bound more parameters than '?' placeholders")
        if (offlineMode(spark)) {
          // offline INSERT appends parquet rows to the table's data
          // path (InsertPlan.scala:55-95, which also rejects tables
          // holding soft-copied data); test_execute_mode.yaml id 5
          // pins that an offline insert is visible to offline reads
          if (orIgnore) throw new IllegalArgumentException(
            "Offline execute mode only supports INSERT, not INSERT OR " +
              "IGNORE")
          val key = name.toLowerCase
          val c = SessionState.of(spark).catalog
          val info = c.offline.getOrElse(key, OfflineInfo(None, Vector.empty))
          if (info.sym.nonEmpty)
            throw new IllegalArgumentException(
              "can't insert into table with soft copied data")
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows.result()), schema)
          val dir = info.dataPath.getOrElse(offlineDataPath(spark, key))
          if (info.dataPath.isEmpty)
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(dir))
          df.write.mode("append").parquet(dir)
          c.offline.put(key, info.copy(dataPath = Some(dir)))
          // offline writes change data under an unchanged plan — the
          // stored-stats cache cannot see them through its plan hash
          c.rowStats.remove(key)
        } else if (orIgnore) {
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows.result()), schema)
          graft.GraftCatalog.insertIgnore(spark, name, df)
        } else
          graft.GraftCatalog.insertValues(spark, name, rows.result())
        None

      case "STOP" =>
        // STOP JOB <id> (task_manage/STOP_JOB.md). In local mode the
        // reference only modifies the status in the job-info table
        // (STOP_JOB.md:10-12) — exactly this. Terminal jobs keep their
        // final state. Returns the job row.
        p.expect("STOP"); p.expect("JOB")
        val id = jobIdArg(p)
        val j = jobOrFail(spark, id)
        val updated =
          if (j.state == "FINISHED" || j.state == "FAILED") j
          else j.copy(state = "STOPPED",
            endTime = if (j.endTime == 0L) System.currentTimeMillis()
              else j.endTime,
            log = j.log :+ s"job $id stopped")
        SessionState.of(spark).catalog.jobs.put(id, updated)
        Some(jobFrame(spark, Seq(updated)))

      case "DELETE" if p.toks.lift(1).exists(_.equalsIgnoreCase("JOB")) =>
        // DELETE JOB <id> (plan cmd.yaml delete_job; kDeleteStmt
        // target JOB): drop the job-info row
        p.expect("DELETE"); p.expect("JOB")
        val id = jobIdArg(p)
        jobOrFail(spark, id)
        SessionState.of(spark).catalog.jobs.remove(id)
        None

      case "DELETE" =>
        p.expect("DELETE"); p.expect("FROM")
        val name = qualifyTable(spark, readTableName(p))
        p.expect("WHERE")
        val condToks = p.toks.slice(p.p, p.toks.length).toVector
        SessionState.of(spark).catalog.indexes.get(name.toLowerCase) match {
          case Some(indexes) =>
            // reference DELETE: an equality conjunction covering the
            // key set of exactly one index; OR / inequalities /
            // non-index columns are errors (test_delete.yaml ids
            // 2/3/5/26/27). A NULL literal matches the null-key
            // partition (id 7/30); a ts-typed key compares by its
            // int64 ms value (id 14).
            if (condToks.exists(_.equalsIgnoreCase("OR")))
              throw new IllegalArgumentException(
                "DELETE condition must be an AND of key equalities")
            val parts = {
              val out = Seq.newBuilder[Vector[String]]
              var cur = Vector.newBuilder[String]
              condToks.foreach { t =>
                if (t.equalsIgnoreCase("AND")) {
                  out += cur.result(); cur = Vector.newBuilder
                } else cur += t
              }
              out += cur.result()
              out.result()
            }
            val eqs: Seq[(String, String)] = parts.map {
              case Vector(c, "=", v) => (c, v)
              case Vector(c, "=", "-", v) => (c, s"-$v")
              case other => throw new IllegalArgumentException(
                "DELETE supports key-equality conjunctions only, got: " +
                  other.mkString(" "))
            }
            val colSet = eqs.map(_._1.toLowerCase).toSet
            if (!indexes.exists(_._1.map(_.toLowerCase).toSet == colSet))
              throw new IllegalArgumentException(
                s"DELETE condition columns ${colSet.mkString(",")} do " +
                  "not match the key set of any index")
            val schema = spark.table(name).schema
            val cond = eqs.map { case (c, v) =>
              val isTs = schema.fields
                .find(_.name.equalsIgnoreCase(c))
                .exists(_.dataType ==
                  org.apache.spark.sql.types.TimestampType)
              if (v.equalsIgnoreCase("null")) col(c).isNull
              else if (isTs && v.forall(ch => ch.isDigit || ch == '-'))
                unix_millis(col(c)) === v.toLong
              else expr(s"$c = $v")
            }.reduce(_ && _)
            graft.GraftCatalog.delete(spark, name, cond)
          case None =>
            graft.GraftCatalog.delete(spark, name,
              expr(condToks.mkString(" ")))
        }
        None

      case "TRUNCATE" =>
        p.expect("TRUNCATE"); p.expect("TABLE")
        graft.GraftCatalog.truncate(spark, p.next())
        None

      // Engine extension (pipeline surface in SQL): exact deduplication
      // as a statement —
      //   DEDUP TABLE src BY k1[, k2…]
      //     [KEEP FIRST|LAST ORDER BY expr] INTO dst
      // keeps ONE row per BY-key group: without KEEP, the lexicographic
      // minimum over all columns (pure content-determinism — retries
      // and engines agree); with KEEP, the min/max by the ORDER BY
      // expression, all-column struct as tie-break. One hash-partitioned
      // groupBy + min_by/max_by — partial aggregation collapses
      // duplicates map-side, no window, scale-safe under any dup
      // density. The result registers as `dst` in the current db scope.
      case "DEDUP" =>
        p.expect("DEDUP"); p.expect("TABLE")
        val srcRaw = readTableName(p)
        p.expect("BY")
        // Near-dup variants (engine extension, SQL face of the
        // flagship dedup operators):
        //   DEDUP TABLE src BY MINHASH(text_col)
        //     OPTIONS(id=<id_col> [, shingle=1, bands=8, rows=3,
        //             threshold=0.25, max_bucket=0]) INTO dst
        //   DEDUP TABLE src BY SEMANTIC(vec_col)
        //     OPTIONS(id=<id_col> [, threshold=0.3, nlist=8, iters=3,
        //             nprobe=1, max_cluster=0]) INTO dst
        // dst = the source rows SURVIVING dedup — one representative
        // per near-dup component (MINHASH: smallest id in the LSH pair
        // graph's component; SEMANTIC: the operator's keep rule —
        // farthest-from-centroid). Same scale shape as the Scala
        // operators: banded equi-join / bucketed cosine pairs, never
        // all-pairs.
        if ((p.peekUp == "MINHASH" || p.peekUp == "SEMANTIC") &&
            p.toks.lift(p.p + 1).contains("(")) {
          val variant = p.next().toUpperCase
          p.expect("(")
          val valueCol = unq(p.next())
          p.expect(")")
          val opts = parseOptions(p)
          p.expect("INTO")
          val dstRaw = readTableName(p)
          if (p.p != p.toks.length) p.fail("trailing tokens after DEDUP")
          val src = qualifyTable(spark, srcRaw)
          if (!spark.catalog.tableExists(src))
            throw new IllegalArgumentException(
              s"DEDUP source table '$srcRaw' does not exist")
          val df = spark.table(quoteId(src))
          val idCol = opts.getOrElse("id", throw new IllegalArgumentException(
            s"DEDUP BY $variant requires OPTIONS(id=<unique id column>)"))
          def iOpt(k: String, dflt: Int): Int =
            opts.get(k).map(_.toInt).getOrElse(dflt)
          def dOpt(k: String, dflt: Double): Double =
            opts.get(k).map(_.toDouble).getOrElse(dflt)
          val out =
            if (variant == "MINHASH") {
              val pairs = graft.operators.Dedup.minhashLshPairs(df, idCol,
                valueCol, shingleN = iOpt("shingle", 1),
                bands = iOpt("bands", 8), rowsPerBand = iOpt("rows", 3),
                threshold = dOpt("threshold", 0.25),
                maxBucketSize = iOpt("max_bucket", 0))
              val comp = graft.operators.Dedup
                .connectedComponents(pairs, "id1", "id2")
              val keep = comp.groupBy(col("component"))
                .agg(min(col("id")).as("__graft_keep_id"))
              val drops = comp.join(keep, "component")
                .filter(col("id") =!= col("__graft_keep_id"))
                .select(col("id").as("__graft_drop_id"))
              df.join(drops,
                df(quoteId(idCol)) === drops("__graft_drop_id"),
                "left_anti")
            } else {
              val res = graft.operators.Dedup.semanticDedup(df, idCol,
                valueCol, threshold = dOpt("threshold", 0.3),
                nlist = iOpt("nlist", 8), iters = iOpt("iters", 3),
                maxClusterSize = iOpt("max_cluster", 0),
                nprobe = iOpt("nprobe", 1))
              val kept = res.filter(col("keep"))
                .select(col("doc_id").as("__graft_keep_id"))
              df.join(kept,
                df(quoteId(idCol)) === kept("__graft_keep_id"),
                "left_semi")
            }
          out.createOrReplaceTempView(quoteId(qualifyTable(spark, dstRaw)))
          return Some(out)
        }
        val keys = Seq.newBuilder[String]
        keys += unq(p.next())
        while (p.accept(",")) keys += unq(p.next())
        val (keepLast, ordExpr) =
          if (p.accept("KEEP")) {
            val kw = p.next().toUpperCase
            if (kw != "FIRST" && kw != "LAST")
              p.fail(s"KEEP expects FIRST or LAST, got '$kw'")
            p.expect("ORDER"); p.expect("BY")
            val b = Vector.newBuilder[String]
            while (p.peekUp != "INTO" && p.p < p.toks.length) b += p.next()
            val e = b.result().mkString(" ")
            if (e.isEmpty) p.fail("KEEP ... ORDER BY expects an expression")
            (kw == "LAST", Some(e))
          } else (false, None)
        p.expect("INTO")
        val dstRaw = readTableName(p)
        if (p.p != p.toks.length) p.fail("trailing tokens after DEDUP")
        val src = qualifyTable(spark, srcRaw)
        if (!spark.catalog.tableExists(src))
          throw new IllegalArgumentException(
            s"DEDUP source table '$srcRaw' does not exist")
        val df = spark.table(quoteId(src))
        val all = struct(df.columns.toIndexedSeq.map(c =>
          col(quoteId(c))): _*)
        val ord = ordExpr match {
          case Some(e) => struct(expr(rewriteDialect(tokenize(e),
            t => resolveTypeCached(df, t)).mkString(" ")), all)
          case None    => all
        }
        val picked = if (keepLast) max_by(all, ord) else min_by(all, ord)
        val out = df
          .groupBy(keys.result().map(k => col(quoteId(k))): _*)
          .agg(picked.as("__graft_keep"))
          .select(col("__graft_keep.*"))
        out.createOrReplaceTempView(quoteId(qualifyTable(spark, dstRaw)))
        Some(out)

      case "LOAD" =>
        p.expect("LOAD"); p.expect("DATA"); p.expect("INFILE")
        val path = stripQuotes(p.next())
        p.expect("INTO"); p.expect("TABLE")
        val rawName = readTableName(p)
        // loading into `db.t` registers the database too
        // (test_out_in.yaml id 30)
        if (rawName.contains('.'))
          SessionState.of(spark).catalog.dbs += rawName.split("\\.").head
        val name = qualifyTable(spark, rawName)
        val opts = parseOptions(p)
        // the reference requires the target table to exist
        // (test_out_in.yaml id 26; LOAD_DATA_STATEMENT.md)
        if (!spark.catalog.tableExists(name))
          throw new IllegalArgumentException(
            s"LOAD DATA target table '$rawName' does not exist")
        // offline loads change data UNDER an unchanged view plan, so
        // the plan-hash key of the stored-stats cache cannot see them —
        // invalidate explicitly (online loads re-register the view and
        // invalidate through the hash)
        SessionState.of(spark).catalog.rowStats --=
          Seq(name, rawName).map(_.toLowerCase)
        val schema = spark.table(name).schema
        val mode = opts.get("mode").map(stripQuotes).map(_.toLowerCase)
          .map { case "error_if_exists" => "errorifexists"; case m => m }
          .getOrElse("errorifexists")
        val deepCopy = opts.get("deep_copy").map(stripQuotes)
          .forall(_.equalsIgnoreCase("true"))
        val cluster = clusterEdition(spark)
        val fmt = stripQuotes(opts.getOrElse("format", "csv")).toLowerCase
        if (!offlineMode(spark)) {
          // ONLINE import. The cluster edition only accepts explicit
          // mode='append' hard copies (LoadDataPlan.scala:69
          // `require(deepCopy && mode == "append")`;
          // test_select_into_load_data.yaml ids 39/40/50); the
          // standalone edition has no storage split and loads with the
          // strict local reader (LOAD_DATA_STATEMENT.md load_mode
          // note; function/out_in corpus).
          if (cluster && (mode != "append" || !deepCopy))
            throw new IllegalArgumentException("import to online " +
              "storage, can't do soft copy, and mode must be append")
          // LOAD DATA is a job-producing statement (SUBMIT_JOB.md) —
          // tracked in the job registry around the Spark action
          trackJob(spark, "ImportOnlineData", text.trim) {
            val df = graft.sources.Sources.loadData(spark, path, opts,
              Some(schema), flavor = if (cluster) "cluster" else "local")
            if (cluster) {
              // the online writer fails a row whose index ts column is
              // NULL (the tablet rejects a keyless ts put — pinned by
              // ids 25-1/34-1: header-as-data / column-shifted rows
              // die HERE, not in the permissive read)
              val tsCols = SessionState.of(spark).catalog.indexes
                .get(name.toLowerCase).toSeq.flatten.flatMap(_._2)
                .flatMap(ts => schema.fields.map(_.name)
                  .find(_.equalsIgnoreCase(ts))).distinct
              tsCols.foreach { ts =>
                if (df.filter(col(ts).isNull).limit(1).count() > 0)
                  throw new IllegalArgumentException(
                    s"fail to insert: index ts column '$ts' is null")
              }
            }
            // put_if_absent = INSERT OR IGNORE for retried import jobs
            // (LOAD_DATA_STATEMENT.md put_if_absent row)
            if (opts.get("put_if_absent").map(stripQuotes)
                .exists(_.equalsIgnoreCase("true")))
              graft.GraftCatalog.insertIgnore(spark, name, df)
            else graft.GraftCatalog.insertInto(spark, name, df)
          }
        } else {
          // OFFLINE import (LoadDataPlan.scala:86-196): soft copies
          // edit the symbolic-path list, deep copies write parquet
          // into the table's internal data path.
          val store = SessionState.of(spark).catalog.offline
          val key = name.toLowerCase
          val info = store.getOrElse(key, OfflineInfo(None, Vector.empty))
          if (mode == "errorifexists" && info.exists)
            throw new IllegalArgumentException(
              if (deepCopy)
                "has offline info(even no deep path), can't do errorifexists"
              else "offline info exists")
          val readOpts = opts -- Seq("mode", "deep_copy", "format",
            "load_mode", "thread", "writer_type")
          if (!deepCopy) {
            // A soft link never coexists with a hard data path and a
            // path links at most once — re-linking an existing
            // symbolic path or soft-replacing a hard store are errors
            // (test_select_into_load_data.yaml ids 45/46/59; the
            // append format/options equality is LoadDataPlan's own
            // require at :123-128).
            if (info.dataPath.nonEmpty)
              throw new IllegalArgumentException(
                "can't soft-link over an existing hard-copy data path")
            if (info.sym.exists(_.path == path))
              throw new IllegalArgumentException(
                s"path $path is already a symbolic path of the table")
            if (mode != "overwrite" && info.sym.exists(sp =>
                sp.format != fmt || sp.options != readOpts))
              throw new IllegalArgumentException(
                "format and options must be the same with existed")
            trackJob(spark, "ImportOfflineData", text.trim) {
              // the reference reads the input even in soft copy, to
              // check it against the table schema (LoadDataPlan:60-62)
              graft.sources.Sources.loadData(spark, path, opts,
                Some(schema), flavor = "cluster").limit(1).collect()
              val sp = SymPath(path, fmt, readOpts)
              store.put(key,
                if (mode == "overwrite") OfflineInfo(None, Vector(sp))
                else info.copy(sym = info.sym :+ sp))
            }
          } else {
            // deep copy: one distributed scan + parquet write — at
            // scale this is the import job itself, no driver data
            if (mode != "overwrite" && info.sym.nonEmpty)
              throw new IllegalArgumentException("can't do deep copy " +
                s"in existed paths' format or options in mode $mode")
            trackJob(spark, "ImportOfflineData", text.trim) {
              val df = graft.sources.Sources.loadData(spark, path, opts,
                Some(schema), flavor = "cluster")
              val dir = info.dataPath.getOrElse(offlineDataPath(spark, key))
              if (info.dataPath.isEmpty) {
                // a fresh incarnation must not append into files left
                // by a dropped table of the same name
                org.apache.commons.io.FileUtils.deleteQuietly(
                  new java.io.File(dir))
                df.write.mode("overwrite").parquet(dir)
              } else if (mode == "overwrite")
                df.write.mode("overwrite").parquet(dir)
              else df.write.mode("append").parquet(dir)
              store.put(key,
                if (mode == "overwrite") OfflineInfo(Some(dir), Vector.empty)
                else OfflineInfo(Some(dir), info.sym))
            }
          }
        }
        None

      case "DEPLOY" =>
        p.expect("DEPLOY")
        val name = p.next()
        val opts = parseOptions(p) // DEPLOY OPTIONS are accepted, unused
        val rest = p.toks.slice(p.p, p.toks.length)
        val sub = new Parser(rest)
        val q = sub.parseQuery()
        if (sub.p != sub.toks.length) sub.fail("trailing tokens")
        validateRequestQuery(q)
        // a deployment may not span databases (the reference rejects
        // cross-db deploy SQL — test_create_deploy ids 6/18)
        locally {
          def names(qq: Query): Seq[String] = {
            def ofRef(r: TRef): Seq[String] = r match {
              case Left(n)  => Seq(n)
              case Right(s) => names(s)
            }
            qq.ctes.flatMap(c => names(c._2)) ++ qq.selects.flatMap { s =>
              ofRef(s.fromTable) ++ s.joins.flatMap(j => ofRef(j.table)) ++
                s.windows.values.flatMap(_.unions.flatMap(ofRef))
            }
          }
          val dbsRef = names(q).filter(_.contains('.'))
            .map(_.split("\\.").head).distinct
          if (dbsRef.length > 1)
            throw new IllegalArgumentException(
              s"DEPLOY SQL spans databases ${dbsRef.mkString(", ")}")
        }
        // compile at deploy time, like the reference: a missing table
        // or type error must fail the DEPLOY, not the first request
        // (test_create_deploy id 7)
        planQuery(spark, q, Map.empty)
        // the reference errors on duplicate deployment names
        // (deployment_manage/DEPLOY_STATEMENT.md); OPTIONS(overwrite=true)
        // opts into replacement
        if (opts.contains("long_windows")) {
          validateLongWindowConditions(rest.mkString(" "))
          // fail a malformed bucket size at DEPLOY, not first request
          parseLongWindows(stripQuotes(opts("long_windows")))
          // the reference's limitation: no JOIN / WINDOW UNION under
          // long-window pre-agg (DEPLOY_STATEMENT.md:131)
          val s0 = q.selects.head
          if (s0.joins.nonEmpty ||
              s0.windows.values.exists(_.unions.nonEmpty))
            throw new IllegalArgumentException(
              "long_windows: SELECT with JOIN or WINDOW UNION is unsupported")
        }
        val overwrite = opts.get("overwrite")
          .map(stripQuotes).exists(_.equalsIgnoreCase("true"))
        val c = SessionState.of(spark).catalog
        if (!overwrite && c.deployments.contains(name))
          throw new IllegalArgumentException(
            s"deployment '$name' already exists (use OPTIONS(overwrite=true))")
        c.deployments.put(name, Deployment(rest.mkString(" "), c.curDb,
          opts.map { case (k, v) => k -> stripQuotes(v) }))
        // pre-compile the serving template at DEPLOY time (the
        // reference compiles here too, engine.cc — the first POST/CALL
        // otherwise pays the build's optimizer sweep). Best-effort:
        // any shape the template cannot serve just falls back per
        // request. Long-window deployments serve through the pre-agg
        // partials path, not requestMode — nothing to pre-compile.
        if (!opts.contains("long_windows"))
          try serveRequest(spark, rest.mkString(" "),
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              requestSchemaFor(spark, name)))
          catch { case scala.util.control.NonFatal(_) => () }
        None

      case "SELECT" | "WITH" =>
        val q = p.parseQuery()
        if (p.accept("INTO")) {
          p.expect("OUTFILE")
          val path = stripQuotes(p.next())
          val opts = parseOptions(p)
          if (p.p != p.toks.length) p.fail("trailing tokens")
          val exported = planQuery(spark, q, Map.empty)
          // SELECT INTO OUTFILE is a job-producing statement
          // (SUBMIT_JOB.md) — tracked like the reference's
          // ExportOfflineData TaskManager job
          trackJob(spark, "ExportOfflineData", text.trim) {
            // the offline export is a Spark directory write (mkdir -p
            // like any job); the online CLI export writes ONE local
            // file and needs its folder to exist
            graft.sources.Sources.selectInto(exported, path, opts,
              requireParent = !offlineMode(spark),
              clientFile = !offlineMode(spark))
          }
          // surface the exported frame so callers can count/inspect it
          // (v040/test_out_in_offline.yaml id 0 expects count=6)
          Some(exported)
        } else {
          if (p.p != p.toks.length) p.fail("trailing tokens")
          Some(planQuery(spark, q, Map.empty))
        }

      case other => p.fail(s"unsupported statement '$other'")
    }
  }

  private def planQuery(spark: SparkSession, q: Query,
      scope0: Map[String, DataFrame]): DataFrame = {
    // a CTE's name qualifies its columns downstream (`t2.c5` where t2
    // is a WITH name — with.yaml id 2), so alias the planned frame
    val scope = q.ctes.foldLeft(scope0) { case (sc, (name, sub)) =>
      cteNamesTL.get += name.toLowerCase // shields it from offline routing
      sc + (name -> planQuery(spark, sub, sc).alias(name))
    }
    val planned = q.selects.map(planSelect(spark, _, scope))
    q.setOps.zip(planned.tail).foldLeft(planned.head) {
      case (acc, ("all", df))      => acc.unionAll(df)
      case (acc, (_, df))          => acc.union(df).distinct()
    }
  }

  /** Internal view name for a db-qualified table (temp view names
    * cannot contain dots). */
  private def dbViewName(qualified: String): String =
    "__graftdb__" + qualified.replace(".", "__")

  /** read an optionally db-qualified table name ("db.t"), unquoting
    * back-quoted parts */
  private def readTableName(p: Parser): String = {
    var name = unq(p.next())
    while (p.peek == ".") { p.next(); name = name + "." + unq(p.next()) }
    name
  }

  /** DDL/DML target name under the session's database: dotted names
    * and names under a USE'd database map to the internal view
    * encoding; plain names with no current database stay plain. */
  private def qualifyTable(spark: SparkSession, raw: String): String =
    if (raw.contains('.')) dbViewName(raw)
    else curDb(spark) match {
      case Some(db) => dbViewName(s"$db.$raw")
      case None     => raw
    }

  /** Register a db-scoped table so statement() can resolve `db.t`
    * (test harness surface for the out_in corpus). */
  def registerDbTable(spark: SparkSession, db: String, name: String,
      df: DataFrame): Unit = {
    SessionState.of(spark).catalog.dbs += db
    df.createOrReplaceTempView(quoteId(dbViewName(s"$db.$name")))
  }

  /** Databases created in the session (REST shim surface — the
    * reference's SHOW DATABASES; the unprefixed `default` namespace is
    * implicit and not listed). */
  def databases(spark: SparkSession): Set[String] =
    SessionState.of(spark).catalog.dbs.toSet

  /** The session's current db (USE target), if any (REST shim
    * surface: ExecuteSQL scopes a statement to the URL's db). */
  def currentDb(spark: SparkSession): Option[String] =
    SessionState.of(spark).catalog.curDb

  /** Run `body` with the session's current db set to `db` (None = the
    * implicit default namespace), restoring the previous current db
    * after — the reference's apiserver binds each ExecuteSQL request
    * to the URL's db rather than whatever the session last USE'd. */
  def withCurrentDb[A](spark: SparkSession, db: Option[String])(
      body: => A): A = {
    val c = SessionState.of(spark).catalog
    val prev = c.curDb
    c.curDb = db
    try body
    finally c.curDb = prev
  }

  /** Catalog view name of a db-scoped table, when it exists (REST
    * shim surface). The db must exist (`default` = the implicit
    * unprefixed namespace); a db-prefixed view wins, falling back to
    * the session's unprefixed view — session tables are visible from
    * any existing db, matching how deployments resolve. */
  def resolveDbTable(spark: SparkSession, db: String,
      table: String): Option[String] = {
    val dbOk =
      db == "default" || SessionState.of(spark).catalog.dbs.contains(db)
    if (!dbOk || table.isEmpty) None
    else {
      val scopedName = dbViewName(s"$db.$table")
      if (db != "default" &&
          spark.catalog.tableExists(quoteId(scopedName))) Some(scopedName)
      else if (spark.catalog.tableExists(quoteId(table))) Some(table)
      else None
    }
  }

  /** Full index metadata (keys, ts column, TTL) per engine-managed
    * table, in declaration order — the reference's table_info
    * column_key list. Drives SHOW/desc-style introspection and
    * read-time TTL visibility (operators/Ttl.scala). */
  final case class IndexMeta(keys: Seq[String], ts: Option[String],
      ttl: graft.operators.Ttl.TtlSpec, name: Option[String] = None)

  /** Columns declared NOT NULL in CREATE TABLE (metadata surface). */
  def notNullColumns(spark: SparkSession, table: String): Set[String] =
    SessionState.of(spark).catalog.notNullCols
      .getOrElse(table.toLowerCase, Set.empty)

  /** CREATE TABLE OPTIONS of a table (metadata surface). */
  def tableOptions(spark: SparkSession, table: String): Map[String, String] =
    SessionState.of(spark).catalog.tableStatus.get(table.toLowerCase)
      .map(_.opts).getOrElse(Map.empty)

  /** Short names of the tables visible from `db` (REST shim surface):
    * the db's prefixed views plus the session's unprefixed tables —
    * the same visibility [[resolveDbTable]] resolves with. */
  def tablesIn(spark: SparkSession, db: String): Seq[String] = {
    val all = spark.catalog.listTables().collect().toSeq.map(_.name)
    val scoped =
      if (db == "default") Seq.empty
      else {
        val pfx = dbViewName(s"$db.")
        all.filter(_.startsWith(pfx)).map(_.stripPrefix(pfx))
      }
    val plain = all.filterNot(_.startsWith("__graft"))
    (scoped ++ plain).distinct.sorted
  }

  /** Indexes the engine has registered for `name` (CREATE TABLE
    * clauses, the auto-created default index, CREATE INDEX additions). */
  def tableIndexMeta(spark: SparkSession, name: String,
      db: Option[String] = None): Seq[IndexMeta] = {
    val vn = db.map(d => dbViewName(s"$d.$name")).getOrElse(name)
    SessionState.of(spark).catalog.idxMeta.getOrElse(vn.toLowerCase, Seq.empty)
  }

  // ------------------------------------------------------------------
  // Cluster topology model (CREATE TABLE OPTIONS partitionnum /
  // replicanum / distribution — CREATE_TABLE_STATEMENT.md "TableOptions";
  // ddl/test_options.yaml). On Spark the physical placement is the
  // cluster manager's job, so the model validates the spec exactly as
  // the reference's nameserver does and records nothing.
  // ------------------------------------------------------------------
  /** The virtual tablet endpoints validated against (default 3). */
  def setClusterTablets(spark: SparkSession, eps: Seq[String]): Unit =
    SessionState.of(spark).tablets = eps

  private def validateTableOptions(spark: SparkSession,
      opts: Map[String, String]): Unit = {
    val tablets = SessionState.of(spark).tablets
    def intOpt(k: String): Option[Int] = opts.get(k).map { v0 =>
      val s = stripQuotes(v0).trim
      if (!s.matches("\\d+")) throw new IllegalArgumentException(
        s"table option $k must be an integer, got '$s'")
      s.toInt
    }
    val partNum = intOpt("partitionnum")
    val repNum = intOpt("replicanum")
    repNum.foreach { r =>
      if (r < 1 || r > tablets.length) throw new IllegalArgumentException(
        s"replicanum $r out of range 1..${tablets.length}")
    }
    // distribution = [ ('leader', ['follower', ...]) ]
    val dist = opts.get("distribution").map { v =>
      val toks = tokenize(v)
      var i = 0
      def expect(t: String): Unit = {
        if (i >= toks.length || toks(i) != t)
          throw new IllegalArgumentException(
            s"malformed distribution '$v' (expected '$t')")
        i += 1
      }
      val entries = Seq.newBuilder[(String, Seq[String])]
      expect("[")
      var more = toks.lift(i).contains("(")
      while (more) {
        expect("(")
        val leader = stripQuotes(toks(i)); i += 1
        // the follower list is REQUIRED — ('ep') alone is malformed
        // (test_options.yaml id 11)
        expect(","); expect("[")
        val followers = Seq.newBuilder[String]
        while (toks.lift(i).exists(_ != "]")) {
          if (toks(i) == ",") i += 1
          else { followers += stripQuotes(toks(i)); i += 1 }
        }
        expect("]"); expect(")")
        entries += ((leader, followers.result()))
        more = toks.lift(i).contains(",") && { i += 1; true }
      }
      expect("]")
      entries.result()
    }
    dist.foreach { entries =>
      if (entries.isEmpty) throw new IllegalArgumentException(
        "distribution must name at least one partition")
      // one entry PER PARTITION — when partitionnum is also given the
      // counts must agree (integration_test test_options.yaml id 5
      // accepts two entries at partitionnum=2; ids 6/21 reject 0/4
      // against one entry; the v040 function-tree ids 5/19/21 pinned
      // the OLDER single-entry nameserver and are superseded)
      partNum.foreach { pn =>
        if (pn != entries.length) throw new IllegalArgumentException(
          s"partitionnum $pn does not match ${entries.length} " +
            "distribution entries")
      }
      entries.foreach { case (leader, followers) =>
        val eps = leader +: followers
        eps.foreach { e =>
          if (!tablets.contains(e)) throw new IllegalArgumentException(
            s"distribution endpoint '$e' is not a cluster tablet")
        }
        if (eps.distinct.length != eps.length)
          throw new IllegalArgumentException(
            "distribution endpoints must be distinct")
        // with replicanum unspecified it derives from the entry
        // (1 + followers — integration id 19: ('ep0',[]) is replica 1)
        repNum.foreach { want =>
          if (eps.length != want) throw new IllegalArgumentException(
            s"distribution lists ${eps.length} endpoints but " +
              s"replicanum is $want")
        }
      }
    }
    if (partNum.contains(0) && dist.isEmpty)
      throw new IllegalArgumentException(
        "partitionnum=0 requires an explicit distribution")
    // storage_mode: memory | ssd | hdd (CREATE_TABLE_STATEMENT.md
    // "StorageMode"; disk_table corpus id 14 rejects other values)
    opts.get("storage_mode").foreach { v =>
      val s = stripQuotes(v).trim.toLowerCase
      if (!Set("memory", "ssd", "hdd")(s))
        throw new IllegalArgumentException(
          s"storage_mode must be memory|ssd|hdd, got '$s'")
    }
  }

  /** Register index specs ("name:keys:ts[:bound:kind]" strings, keys
    * `|`-separated) for DELETE-condition validation. */
  /** One `index:` string may carry several comma-separated specs
    * (query corpus "index2:col2:col5,index0:col0:col5"); commas inside
    * parens belong to a ttl 2-tuple like "(10m,4)". */
  private[graft] def splitIndexSpecs(s: String): Seq[String] = {
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

  /** Register harness-style "name:keys:ts[:bound[:kind]]" index specs:
    * key/ts pairs for join-order metadata AND full TTL metadata so
    * read-time expiry ([[applyIndexTtl]]) sees these tables exactly
    * like DDL-created ones (disk_table ids 17/18 route scans per
    * index). Kindless bounds infer latest for bare counts, absolute
    * for time-with-unit. */
  /** Drop all index/TTL metadata for `name` — a harness replacing a
    * temp view must clear the old table's registration or stale TTLs
    * would expire the new snapshot's rows. */
  def clearTableIndexes(spark: SparkSession, db: Option[String],
      name: String): Unit = {
    val vn = db.map(d => dbViewName(s"$d.$name")).getOrElse(name)
    val c = SessionState.of(spark).catalog
    c.indexes.remove(vn.toLowerCase)
    c.idxMeta.remove(vn.toLowerCase)
  }

  def registerTableIndexes(spark: SparkSession, db: Option[String],
      name: String, indexs: Seq[String],
      updateTtlMeta: Boolean = true): Unit = {
    val vn = db.map(d => dbViewName(s"$d.$name")).getOrElse(name)
    val parts = indexs.flatMap(splitIndexSpecs)
      .map(_.split(":", -1).map(_.trim))
    val specs = parts.filter(_.length >= 2)
      .map(p => (p(1).split("\\|").toSeq.map(_.trim),
        p.lift(2).map(_.trim).filter(_.nonEmpty)))
    if (specs.nonEmpty)
      SessionState.of(spark).catalog.indexes.put(vn.toLowerCase, specs)
    if (!updateTtlMeta) return
    val metas = parts.filter(p => p.length >= 3 && p(2).nonEmpty).map { p =>
      val bound = p.lift(3).getOrElse("")
      val kind = p.lift(4).filter(_.nonEmpty)
      // kindless non-empty bounds infer from shape: bare count =
      // latest, time-with-unit = absolute; NO bound = unbounded
      // absolute (the reference's default TTL)
      val spec =
        if (bound.isEmpty)
          graft.operators.Ttl.TtlSpec(kind.getOrElse("absolute"), 0, 0)
        else graft.operators.Ttl.parse(bound, Some(kind.getOrElse(
          if (bound.forall(_.isDigit)) "latest" else "absolute")))
      IndexMeta(p(1).split("\\|").toSeq.map(_.trim), Some(p(2)), spec,
        Some(p(0)).filter(_.nonEmpty))
    }
    if (metas.nonEmpty)
      SessionState.of(spark).catalog.idxMeta.put(vn.toLowerCase, metas)
  }

  /** Long-window pre-aggregation restricts *_where conditions to
    * `<column> <op> <constant>` (either side order) — a bare bool
    * column, AND-composed conditions, or column-vs-column compares
    * cannot be pre-aggregated and the deploy compiler rejects them
    * (docs/en/openmldb_sql/deployment_manage/DEPLOY_STATEMENT.md
    * long_window options; test_count_where.yaml ids 10/17/18). */
  def validateLongWindowConditions(text: String): Unit = {
    val toks = tokenize(text)
    def isIdentTok(t: String): Boolean =
      t.headOption.exists(c => c.isLetter || c == '_')
    def isLit(t: String): Boolean =
      isNumericLit(t) || isQuoted(t) || t.equalsIgnoreCase("null") ||
        // bool literals are legal condition constants:
        // `min_where(c3, c9 = true)` pre-aggregates
        // (integration_test/long_window/test_xxx_where.yaml id 28)
        t.equalsIgnoreCase("true") || t.equalsIgnoreCase("false")
    var i = 0
    while (i < toks.length) {
      val low = toks(i).toLowerCase
      if (low.endsWith("_where") && i + 1 < toks.length &&
          toks(i + 1) == "(") {
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(toks.slice(i + 2, close))
        if (args.length == 2) {
          val cond = args(1)
          // allow a dotted column on the identifier side
          def colAt(a: Vector[String]): Option[Int] =
            if (a.length >= 1 && isIdentTok(a.head)) Some(
              if (a.length >= 3 && a(1) == ".") 3 else 1)
            else None
          val ok = (for {
            n <- colAt(cond)
            if cond.length == n + 2 && cmpOpSet(cond(n)) && isLit(cond(n + 1))
          } yield true).getOrElse {
            // literal op column
            cond.length >= 3 && isLit(cond.head) && cmpOpSet(cond(1)) &&
              colAt(cond.drop(2)).contains(cond.length - 2)
          }
          if (!ok) throw new IllegalArgumentException(
            s"long_window ${low}: condition must be " +
              s"<column> <op> <constant>, got: ${cond.mkString(" ")}")
        }
        i = close + 1
      } else i += 1
    }
  }

  /** Deep long-window deploy validation — the reference's
    * CreateAggregator surface (src/storage/aggregator.cc:1244-1304,
    * tablet_impl.cc:5938 "create aggregator failed"), pinned by the
    * integration corpus (the integration_test/long_window yaml files):
    *  - bucket units outside s/m/h/d ("Unsupported time unit",
    *    aggregator.cc:1279; test_long_window.yaml id 0 '2y')
    *  - a long_windows name with no matching window in the SQL
    *    (test_long_window.yaml id 9)
    *  - min/max/sum/avg[_where] over non-numeric values: date, string,
    *    timestamp, bool and row (*) have no pre-aggregator
    *    (test_udaf.yaml ids 0,4-7; test_xxx_where.yaml ids 0,4-7).
    *    count_where is exempt — its aggregator counts any value,
    *    including '*' (test_count_where.yaml ids 0-9 are green over
    *    every type)
    *  - *_where under a row-count bucket (aggregator.cc:122 tests
    *    FILTER PRESENCE, not the function: "unsupported rows bucket
    *    window for *_where agg op"; test_xxx_where.yaml id 29 and
    *    integration_test test_count_where.yaml id 29). The OLDER
    *    function-tree test_count_where.yaml predates that check and
    *    runs whole on 'w1:2' — `countWhereRowsBucketOk = true` keeps
    *    count_where exempt when replaying that era's files
    *  - *_where condition columns of timestamp/date type
    *    (test_xxx_where.yaml ids 26/27)
    *  - pre-agg over disk tables: aggregator state is memtable-resident
    *    (test_xxx_where.yaml id 30)
    *
    * `colType` resolves an (unqualified, lowercase) column name to its
    * type where known; unresolvable columns skip the type checks.
    *
    * Parity note: the YAML corpus runner enforces this surface verbatim;
    * the engine's own DEPLOY path stays deliberately more permissive
    * (Spark pre-aggregates count(*) and non-numeric mins/maxes fine —
    * rejecting them would only remove working functionality). */
  def validateLongWindowDeploy(sql: String, spec: String,
      colType: String => Option[org.apache.spark.sql.types.DataType],
      hasDiskInput: Boolean = false,
      countWhereRowsBucketOk: Boolean = true): Unit = {
    import org.apache.spark.sql.types._
    val buckets = parseLongWindows(spec) // throws on a bad bucket unit
    val toks = tokenize(sql)
    def isIdent(t: String): Boolean =
      t.headOption.exists(c => c.isLetter || c == '_')
    val overNames = toks.sliding(2).collect {
      case Seq(o, n) if o.equalsIgnoreCase("over") && isIdent(n) =>
        n.toLowerCase
    }.toSet
    buckets.keys.find(k => !overNames.contains(k.toLowerCase)).foreach { k =>
      throw new IllegalArgumentException(
        s"long_windows option doesn't match window in sql: '$k'")
    }
    if (hasDiskInput)
      throw new IllegalArgumentException(
        "long_windows: pre-aggregation requires a memory table " +
          "(aggregator state is memtable-resident)")
    val aggBases = Set("min", "max", "sum", "avg", "count")
    val numeric: Set[DataType] =
      Set(ShortType, IntegerType, LongType, FloatType, DoubleType)
    def colOf(a: Vector[String]): Option[String] =
      if (a.length == 1 && isIdent(a.head)) Some(a.head)
      else if (a.length == 3 && a(1) == "." && isIdent(a(2))) Some(a(2))
      else None
    var i = 0
    while (i < toks.length) {
      val low = toks(i).toLowerCase
      val isWhere = low.endsWith("_where") &&
        aggBases(low.stripSuffix("_where"))
      if ((aggBases(low) || isWhere) && i + 1 < toks.length &&
          toks(i + 1) == "(") {
        val close = matchClose(toks, i + 1)
        val overName =
          if (close + 2 < toks.length &&
              toks(close + 1).equalsIgnoreCase("over") &&
              isIdent(toks(close + 2))) Some(toks(close + 2).toLowerCase)
          else None
        val bucket = overName.flatMap(n =>
          buckets.collectFirst { case (k, v) if k.toLowerCase == n => v })
        bucket.foreach { b =>
          val args = splitTokenArgs(toks.slice(i + 2, close))
          val arg0 = args.headOption.getOrElse(Vector.empty)
          // Value-type matrix pinned by test_udaf.yaml ids 0,4-7 per
          // dataProvider variant (expectProvider overrides mark the
          // green cells) and test_xxx_where.yaml ids 0,4-7:
          //   count / count_where : any value, including '*' and bool
          //   min / max           : numeric | date | string | timestamp
          //   sum                 : numeric | timestamp (ms arithmetic)
          //   avg                 : numeric only
          //   {min,max,sum,avg}_where : numeric only
          val fnBase = low.stripSuffix("_where")
          def arg0Ok(t: DataType): Boolean = fnBase match {
            case "count"                 => true
            case _ if isWhere            => numeric(t)
            case "min" | "max"           => numeric(t) || t == DateType ||
              t == StringType || t == TimestampType
            case "sum"                   => numeric(t) || t == TimestampType
            case _                       => numeric(t) // avg
          }
          if (fnBase != "count") {
            if (arg0 == Vector("*"))
              throw new IllegalArgumentException(
                s"create aggregator failed: $low(*) has no pre-aggregator")
            colOf(arg0).foreach(c => colType(c.toLowerCase).foreach { t =>
              if (!arg0Ok(t)) throw new IllegalArgumentException(
                s"create aggregator failed: no $low pre-aggregator over " +
                  s"${t.simpleString} column '$c'")
            })
          }
          if (isWhere) {
            if (b < 0 && (low != "count_where" || !countWhereRowsBucketOk))
              throw new IllegalArgumentException(
                s"create aggregator failed: unsupported rows bucket " +
                  s"window for $low (aggregator.cc:122)")
            args.lift(1).foreach { cond =>
              cond.filter(isIdent).foreach { c =>
                colType(c.toLowerCase).foreach {
                  case TimestampType | DateType =>
                    throw new IllegalArgumentException(
                      s"create aggregator failed: $low condition on " +
                        s"timestamp/date column '$c' is unsupported")
                  case _ => ()
                }
              }
            }
          }
        }
        i = close + 1
      } else i += 1
    }
  }

  /** Drop all deployments and stored procedures of a session (test
    * harness isolation — repeated `DEPLOY t0 ...` cases would otherwise
    * collide on the duplicate-name check). */
  def resetDeployments(spark: SparkSession): Unit = {
    val c = SessionState.of(spark).catalog
    c.deployments.clear()
    c.procedures.clear()
  }

  // ------------------------------------------------------------------
  // Offline storage (cluster edition). A table owns TWO stores: the
  // online view (session temp view, the serving store) and its OFFLINE
  // table info — one hard-copy Data path (internal parquet, written by
  // deep-copy LOAD DATA and offline INSERT) plus a list of Symbolic
  // paths (soft links re-read at query time with their recorded
  // format/options). `execute_mode` routes statements between the two:
  // an offline read of a table with no offline info is an EMPTY frame
  // with the table schema, exactly like the reference's batch session
  // (OpenmldbSession.scala:295-335 "Register empty dataframe");
  // offline import/overwrite/append/errorifexists and the soft-copy
  // constraints follow LoadDataPlan.scala:86-196 and
  // LOAD_DATA_STATEMENT.md "Offline Import Rules".
  //
  // Scale note: the hard store is a real parquet directory per table —
  // a deep-copy LOAD is one distributed scan + columnar write, append
  // is a file-level add, and offline queries are plain parquet scans
  // with pushdown; nothing is held on the driver.
  // ------------------------------------------------------------------
  private[graft] case class SymPath(path: String, format: String,
      options: Map[String, String])
  private[graft] case class OfflineInfo(dataPath: Option[String],
      sym: Vector[SymPath]) {
    def exists: Boolean = dataPath.nonEmpty || sym.nonEmpty
    /** current format of the offline info: the hard store is always
      * parquet; otherwise the first soft link's format */
    def format: String =
      if (dataPath.nonEmpty) "parquet"
      else sym.headOption.map(_.format).getOrElse("parquet")
  }
  private def offlineDataPath(spark: SparkSession, key: String): String =
    "/tmp/graft_offline/s" +
      Integer.toHexString(System.identityHashCode(spark)) +
      "/e" + SessionState.of(spark).catalog.offlineEpoch + "/" +
      key.replaceAll("[^A-Za-z0-9_]", "_")

  /** Load editions, mirroring the reference's two deployments:
    * "cluster" (default) = TaskManager Spark jobs — permissive csv
    * loads, online import requires explicit mode='append', offline
    * dual storage; "standalone" = the single-node CLI — strict local
    * csv loads, no storage split (the v040-era corpus semantics). */
  def setLoadEdition(spark: SparkSession, edition: String): Unit = {
    require(Set("cluster", "standalone")(edition), edition)
    SessionState.of(spark).catalog.edition = edition
  }
  private def clusterEdition(spark: SparkSession): Boolean =
    SessionState.of(spark).catalog.edition == "cluster"

  private def execMode(spark: SparkSession): String =
    SessionState.of(spark).catalog.vars.getOrElse("execute_mode", "online")
  private def offlineMode(spark: SparkSession): Boolean =
    clusterEdition(spark) && execMode(spark) == "offline"

  /** The offline-store key for a (possibly db-qualified) table name —
    * the same identity qualifyTable gives the online view, so LOAD /
    * INSERT / SELECT agree on which store they touch. */
  private def offlineKey(spark: SparkSession, name: String): String =
    qualifyTable(spark, name).toLowerCase

  /** The offline frame of a table: hard parquet + each symbolic path
    * read with its recorded reader options; EMPTY with the declared
    * schema when the table has no offline info. */
  private def offlineFrame(spark: SparkSession, key: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val offline = SessionState.of(spark).catalog.offline
    val parts: Seq[DataFrame] = offline.get(key) match {
      case None => Seq.empty
      case Some(info) =>
        // existence through the path's own filesystem (hdfs/s3-safe),
        // guarding the dropped-and-recreated-table edge
        info.dataPath.filter { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(hp)
        }
          .map(p => spark.read.schema(schema).parquet(p)).toSeq ++
          info.sym.map(sp => graft.sources.Sources.loadData(spark,
            sp.path, sp.options + ("format" -> sp.format), Some(schema),
            flavor = "cluster"))
    }
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else parts.reduce(_ unionByName _)
  }

  /** Offline table info for DESC / the test harness: (hard data path,
    * symbolic paths, format). */
  def offlineTableInfo(spark: SparkSession, name: String)
      : Option[(Option[String], Seq[String], String)] =
    SessionState.of(spark).catalog.offline.get(offlineKey(spark, name))
      .map(i => (i.dataPath, i.sym.map(_.path), i.format))

  /** Every offline Data/Symbolic path registered in the session (the
    * test harness's expect.offlineInfo surface). */
  def allOfflinePaths(spark: SparkSession): Seq[String] =
    SessionState.of(spark).catalog.offline.values.toSeq
      .flatMap(i => i.dataPath.toSeq ++ i.sym.map(_.path))

  /** CTE names of the query being planned — a WITH name shadows any
    * physical table, so offline routing must not reinterpret it. */
  private val cteNamesTL = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  /** Full per-case catalog isolation for the test harness: session
    * state would otherwise leak between corpus cases (test_out_in.yaml
    * id 6 expects `db1.t0` to be unknown). The session's
    * [[graft.CatalogState]] is replaced by a fresh one, which clears:
    *  - deployments and stored procedures;
    *  - databases, the USE target and SET variables;
    *  - the load edition (back to "cluster");
    *  - offline table info (the next offline epoch starts a new
    *    hard-store root);
    *  - jobs, index specs and metadata, NOT NULL columns, table status
    *    and stored stats.
    * The tables made by CREATE TABLE and every db-scoped view are
    * dropped. Users, user functions, the tablet list, every other temp
    * view and the dialect's function registration are kept. */
  def resetCatalogState(spark: SparkSession): Unit = {
    val st = SessionState.of(spark)
    val old = st.synchronized {
      val c = st.catalog
      st.catalog = new CatalogState(c.offlineEpoch + 1)
      c
    }
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("__graftdb__"))
      .foreach(n => graft.GraftCatalog.drop(spark, n))
    old.created.foreach(n => graft.GraftCatalog.drop(spark, n))
  }

  /** Table-status metadata recorded at CREATE TABLE (storage options)
    * and edited by ALTER TABLE (offline symbolic paths) — the surface
    * SHOW TABLE STATUS reports (ddl/SHOW_TABLE_STATUS.md,
    * dml/ALTER_STATEMENT.md). */
  private[graft] case class TableStatusMeta(id: Long,
      opts: Map[String, String] = Map.empty,
      symPaths: Seq[String] = Seq.empty)

  /** The stored password for a user, if the user exists (test/tooling
    * surface — the reference exposes this via its auth tables). */
  def userPassword(spark: SparkSession, name: String): Option[String] =
    SessionState.of(spark).users.get(name)

  /** OPTIONS for user statements allow ONLY `password` (the docs'
    * note 2); returns it stripped, or None when absent. */
  private def userPasswordOpt(opts: Map[String, String]): Option[String] = {
    opts.keys.find(!_.equalsIgnoreCase("password")).foreach { k =>
      throw new IllegalArgumentException(
        s"user OPTIONS supports only password, got '$k'")
    }
    opts.get("password").orElse(opts.find(_._1.equalsIgnoreCase("password"))
      .map(_._2)).map(stripQuotes)
  }

  /** database names visible to a query (scope keys + session state) */
  private def knownDbs(spark: SparkSession,
      scope: Map[String, DataFrame]): Set[String] =
    scope.keys.filter(_.contains('.')).map(_.split("\\.").head).toSet ++
      curDb(spark).toSet ++ SessionState.of(spark).catalog.dbs

  /** `db.t.c` three-part column references → `<qualifier>.c`, where
    * the qualifier is the frame alias chosen by [[dbQualifier]]
    * (multiple_databases corpus). Needs `scope` to know which bare
    * names are ambiguous. */
  private def stripDbPrefixes(toks: Vector[String], dbs: Set[String],
      scope: Map[String, DataFrame] = Map.empty): Vector[String] = {
    if (dbs.isEmpty) return toks
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (dbs(toks(i)) && i + 4 < toks.length &&
          toks(i + 1) == "." && toks(i + 3) == "." &&
          (i == 0 || toks(i - 1) != ".") &&
          toks(i + 2).headOption.exists(c => c.isLetter || c == '_') &&
          toks(i + 4).headOption.exists(c => c.isLetter || c == '_')) {
        out += dbQualifier(scope, s"${toks(i)}.${toks(i + 2)}")
        out += "."; out += toks(i + 4)
        i += 5
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Frame qualifier for a db-scoped table: tables of the CURRENT
    * database keep their bare name (unqualified references resolve
    * against the default db, like the reference); any other database's
    * table is qualified "db__table", so an unqualified reference to it
    * fails to resolve exactly as the reference's planner does
    * (multiple_databases ids 3/8/12). */
  private def dbQualifier(scope: Map[String, DataFrame],
      qualified: String): String = {
    val db = qualified.substring(0, qualified.lastIndexOf('.'))
    val bare = qualified.substring(qualified.lastIndexOf('.') + 1)
    if (defaultDbTL.get.contains(db)) bare
    else qualified.replace(".", "__")
  }

  private def resolve(spark: SparkSession, name: String,
      scope: Map[String, DataFrame]): DataFrame = {
    // offline execute_mode reads the table's OFFLINE store — empty
    // when it has none (OpenmldbSession registers an empty frame for
    // tables without offline info). The online frame still resolves
    // first: unknown tables error identically in both modes, and the
    // offline frame borrows its schema. WITH names shadow physical
    // tables, so they are never rerouted.
    def route(df: DataFrame): DataFrame =
      if (offlineMode(spark) &&
          !cteNamesTL.get.contains(name.toLowerCase))
        // re-alias: the swapped frame must keep answering qualified
        // column references ({0}.card_no) like the spark.table view did
        offlineFrame(spark, offlineKey(spark, name), df.schema)
          .alias(name.split("\\.").last)
      else df
    def aliased(df: DataFrame, n: String): DataFrame =
      if (n.contains('.')) df.alias(dbQualifier(scope, n))
      else df
    scope.get(name).map(d => aliased(route(d), name))
      .orElse(if (!name.contains('.'))
        curDb(spark).flatMap(db => scope.get(s"$db.$name"))
          .map(d => route(d).alias(name))
      else None)
      .getOrElse {
        if (name.contains('.'))
          aliased(route(spark.table(quoteId(dbViewName(name)))), name)
        else curDb(spark) match {
          case Some(db) if spark.catalog.tableExists(
              quoteId(dbViewName(s"$db.$name"))) =>
            route(spark.table(quoteId(dbViewName(s"$db.$name"))))
              .alias(name)
          case _ => route(spark.table(quoteId(name)))
        }
      }
  }

  private[sql] def resolveRef(spark: SparkSession, ref: TRef,
      scope: Map[String, DataFrame]): DataFrame = ref match {
    case Left("")   => spark.range(1).toDF() // constant select anchor
    case Left(name) => resolve(spark, name, scope)
    case Right(sub) => planQuery(spark, sub, scope)
  }

  private[sql] def projName(pr: Proj, i: Int): String =
    pr.alias.map(unq).getOrElse {
      val t = pr.exprText
      val idPat = "(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)"
      if (t.matches(s"$idPat( \\. $idPat)?"))
        unq(t.split("\\.").last.trim)
      // the reference names unaliased computed projections by their
      // expression text ("c2 + 1", test_sub_select.yaml id 0;
      // "sum(c4)over w1", test_window_row.yaml id 18)
      else t + (pr.over match {
        case Some(Left(name)) => s" over $name"
        case _                => ""
      })
    }

  /** Parse a complete query text (shared by sql() and StreamDeploy). */
  private[sql] def parseQueryText(text: String): Query = {
    val parser = new Parser(tokenize(text))
    val q = parser.parseQuery()
    if (parser.p != parser.toks.length) parser.fail("trailing tokens")
    q
  }

  /** Apply a SELECT's JOIN clauses to `df0` (LEFT and LAST JOIN).
    * Shared by the batch planner and the streaming deploy compiler —
    * the right sides are static, so the same plan shapes
    * (broadcast-able pre-reduced equi-join) serve both modes. */
  private[sql] def applyJoins(spark: SparkSession, df0: DataFrame,
      joins: Seq[JoinClause], scope: Map[String, DataFrame]): DataFrame = {
    var df = df0
    joins.foreach { jc =>
      var right = resolveRef(spark, jc.table, scope)
      jc.alias.foreach(a => right = right.alias(a))
      val condToks0 = stripDbPrefixes(tokenize(jc.cond),
        knownDbs(spark, scope), scope)
      // interval literals ARE legal in join range conditions
      // (`t2.std_ts between t1.std_ts - 30d and t1.std_ts - 1d`,
      // cases/plan/join_query.yaml ids 7-1/7-2) — rewrite to Spark
      // INTERVAL syntax so timestamp arithmetic stays TIMESTAMP-typed;
      // projections/filters keep rejecting them (fail_query.yaml
      // "un-support const node")
      val condToks = condToks0.flatMap { t =>
        if (t.matches("[0-9]+[smhdSMHD]")) {
          val unit = t.last.toLower match {
            case 's' => "SECOND"; case 'm' => "MINUTE"
            case 'h' => "HOUR";   case _   => "DAY"
          }
          Vector("INTERVAL", t.dropRight(1), unit)
        } else Vector(t)
      }
      // plan-time probe frame with both sides' columns so ts-typed
      // operands in the condition coerce (spark jd scenario:
      // `t.dt < all.date - 0` needs the ms-shift rewrite; ambiguous
      // names just resolve to None and stay unrewritten)
      val probe = try df.crossJoin(right) catch { case _: Throwable => df }
      val cond = coerceOperands(
        rewriteDialect(condToks, t => resolveTypeCached(probe, t)),
        probe).mkString(" ")
      df = jc.kind match {
        case "left" => df.join(right, expr(cond), "left")
        case "full" | "right" =>
          // the reference's zetasql grammar parses these, but its
          // planner rejects them (fail_query.yaml id 3 pins
          // "unsupport join type RightJoin") — reject at the same
          // stage rather than extend the dialect silently
          throw new IllegalArgumentException(
            s"unsupport join type ${jc.kind.capitalize}Join")
        case "last" =>
          // the reference restricts LAST JOIN ORDER BY keys to
          // int16/int32/int64/timestamp (test_lastjoin_simple.yaml ids
          // 7-10/29 expect failure on float/double/date/string/bool)
          val jOrder = jc.order.map(o =>
            stripDbPrefixes(tokenize(o), knownDbs(spark, scope), scope)
              .mkString(" "))
          jOrder.foreach { o =>
            try {
              import org.apache.spark.sql.types._
              right.select(expr(o)).schema.head.dataType match {
                case FloatType | DoubleType | StringType | DateType |
                     BooleanType =>
                  throw new IllegalArgumentException(
                    "LAST JOIN ORDER BY key must be an integral/timestamp " +
                      s"column, not ${right.select(expr(o)).schema.head.dataType}")
                case _ => ()
              }
            } catch {
              case e: IllegalArgumentException => throw e
              case _: Throwable => () // unresolvable here: leave to planning
            }
          }
          val rightQual = jc.alias
            .orElse(jc.table.left.toOption.map(n =>
              if (n.contains('.')) dbQualifier(scope, n) else n))
            .getOrElse("")
          // "last" picks by the join's ORDER BY; WITHOUT one it follows
          // the reference's STORAGE iteration — each table's index TS
          // column descending, insertion order breaking ties
          // (union_query.yml id 0) — falling back to pure ingestion
          // order when no ts hint is known. A NULL order key loses to
          // any real key but still matches when it is the only
          // candidate (test_lastjoin_complex.yaml id 13-1).
          val JOrd = "__graft_jord"
          val rightO = right.withColumn(JOrd, monotonically_increasing_id())
            .alias(rightQual)
          def hintFor(t: TRef): Option[String] = t match {
            case Left(name) => tsHintsTL.get.get(name)
            case Right(sub) =>
              val hs = sub.selects.map(_.fromTable).flatMap(hintFor).distinct
              if (hs.length == 1) Some(hs.head) else None
          }
          // ORDER BY key for max_by: timestamps go through unix_millis
          // (cast("long") would yield SECONDS), numerics through a long
          // cast with a MinValue NULL floor; any non-castable type
          // (struct, string, ...) is passed through raw — max_by orders
          // structs lexicographically, which is exactly the multi-key
          // semantics a struct(...) ORDER BY asks for.
          import org.apache.spark.sql.types.{DataType, NumericType,
            TimestampType => TsT, DateType, BooleanType}
          def longable(ty: Option[DataType]): Boolean = ty match {
            case Some(_: NumericType) | Some(DateType) | Some(BooleanType) =>
              true
            case None => true // unresolvable probe: previous behavior
            case _ => false
          }
          def ordKey(c: Column, ty: Option[DataType]): Column = ty match {
            case Some(TsT) =>
              coalesce(unix_millis(c), lit(Long.MinValue))
            case t if longable(t) =>
              coalesce(c.cast("long"), lit(Long.MinValue))
            case _ => c
          }
          val (ordAsc: Column, ordNegatable: Boolean) = jOrder match {
            case Some(o) =>
              val ty = resolveTypeCached(right, o)
              (ordKey(expr(o), ty), ty.contains(TsT) || longable(ty))
            case None => hintFor(jc.table)
                .filter(h => right.columns.count(_.equalsIgnoreCase(h)) == 1)
                .map { h =>
                  val ty = right.schema.fields
                    .find(_.name.equalsIgnoreCase(h)).map(_.dataType)
                  (ordKey(rightO(h), ty), ty.contains(TsT) || longable(ty))
                }
                .getOrElse((lit(0L), true))
          }
          if (jc.orderDesc && !ordNegatable)
            throw new IllegalArgumentException(
              "LAST JOIN ORDER BY ... DESC requires a timestamp or " +
                "numeric order key")
          val pickOrd = struct(
            if (jc.orderDesc) ordAsc * -1 else ordAsc, rightO(JOrd))
          equiKeys(cond, rightQual, right.columns.toSet,
              leftCols = df.columns.toSet) match {
            case Some(keys)
                if right.columns.distinct.length == right.columns.length =>
              // scalable path: pre-reduce the right side to one row per
              // key with map-side max_by, then a plain equi-join the
              // optimizer can broadcast (LastJoin.apply's strategy,
              // inlined so the right alias survives for projections).
              // Keys compare NULL-SAFE: the reference's storage joins a
              // null key to the null-key partition
              // (test_lastjoin_complex.yaml id 10).
              val payload = right.columns.toSeq
              val reduced = rightO
                .groupBy(keys.map(_._2).map(col): _*)
                .agg(max_by(struct(payload.map(col): _*), pickOrd).as("__last"))
                .select(payload.map(c => col(s"__last.$c").as(c)): _*)
                .alias(rightQual)
              val cond2 = keys.map { case (l, r) =>
                expr(l) <=> reduced(r) }.reduce(_ && _)
              df.join(reduced, cond2, "left")
            case _ =>
              LastJoin.general(df, rightO, expr(cond), pickOrd)
                .drop(JOrd)
          }
      }
    }
    df
  }

  /** Read-time index TTL visibility: a query whose WHERE carries
    * equality over all of an index's keys reads through that index and
    * sees its expiry (the reference routes scans through the matching
    * index; each index GCs independently — test_create_index.yaml ids
    * 21-32). A full scan of an engine-created table reads its first
    * index. Tables registered outside the engine (temp views, scope
    * frames) fall through untouched — their snapshot is authoritative. */
  private def applyIndexTtl(spark: SparkSession, name: String,
      df: DataFrame, where: Option[String],
      accessKeySets: Seq[Set[String]] = Seq.empty): DataFrame = {
    val idxMeta = SessionState.of(spark).catalog.idxMeta
    if (idxMeta.isEmpty) return df // fast path: no DDL tables
    val metas = idxMeta.getOrElse(name.toLowerCase, {
      val q = try qualifyTable(spark, name) catch { case _: Throwable => name }
      idxMeta.getOrElse(q.toLowerCase, Seq.empty)
    })
    if (metas.isEmpty || !metas.exists(_.ttl.hasBound)) return df
    // equality-covered columns of a pure AND conjunction
    val eq: Set[String] = where.map { w =>
      val toks = tokenize(w)
      if (toks.exists(t => t.equalsIgnoreCase("OR"))) Set.empty[String]
      else toks.indices.collect {
        case i if toks(i) == "=" =>
          val l = toks.lift(i - 1); val r = toks.lift(i + 1)
          def ident(t: Option[String]): Option[String] = t.filter(s =>
            s.headOption.exists(c => c.isLetter || c == '_' || c == '`'))
            .map(unq)
          def lit(t: Option[String]): Boolean = t.exists(s =>
            isNumericLit(s) || isQuoted(s) || s.equalsIgnoreCase("null") ||
              s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false"))
          if (lit(r)) ident(l) else if (lit(l)) ident(r) else None
      }.flatten.map(_.toLowerCase).toSet
    }.getOrElse(Set.empty)
    // WHERE equalities and window PARTITION BY key sets both route to
    // the index they cover (test_delete id 24: a window partitioned on
    // index2's key reads through index2 and its TTL, not index1's)
    val keySets = (if (eq.nonEmpty) Seq(eq) else Seq.empty) ++ accessKeySets
    val routed = metas.find(m => m.keys.nonEmpty &&
      keySets.exists(ks => m.keys.forall(k => ks(k.toLowerCase))))
    // full scan: tables with registered index metadata (engine-created
    // or harness-registered) iterate their FIRST index and see only its
    // expiry (disk_table id 17: latest-4 first index → 4 rows, id 18:
    // WHERE c1= routes to the absolute index → 5 rows)
    val chosen = routed.orElse(metas.headOption)
    chosen match {
      // a latest index without a ts column ("null" — fz_ddl corpus)
      // still expires by count; Ttl.expire ranks by insertion order
      case Some(m) if m.ttl.hasBound =>
        graft.operators.Ttl.expire(df,
          Seq((m.keys, m.ts.getOrElse("null"), m.ttl)),
          System.currentTimeMillis())
      case _ => df
    }
  }

  private def planSelect(spark: SparkSession, s: Select,
      scope: Map[String, DataFrame], requestMode: Boolean = false): DataFrame = {
    var df = resolveRef(spark, s.fromTable, scope)
    s.fromTable match {
      case Left(name) if name.nonEmpty && !scope.contains(name) =>
        // window PARTITION BY columns (named + inline windows) are
        // index-access paths for TTL routing, like WHERE equalities
        val winKeySets: Seq[Set[String]] =
          (s.windows.values.toSeq ++
            s.projs.flatMap(_.over.flatMap(_.toOption))).map(w =>
            w.partition.map(p => unq(
              tokenize(p).last).toLowerCase).toSet)
        df = applyIndexTtl(spark, name, df, s.where, winKeySets)
      case _ => ()
    }
    s.fromAlias.foreach(a => df = df.alias(a))
    df = applyJoins(spark, df, s.joins, scope)

    // dialect token rewrites over every expression position (the type
    // resolver sees the post-join schema)
    val rt: String => Option[org.apache.spark.sql.types.DataType] =
      t => resolveTypeCached(df, t)
    val dbs = knownDbs(spark, scope)
    // duplicate projections with the same alias that resolve to the
    // SAME source attribute collapse to one — the reference keys
    // projections by column id, so `col1 as id, col1 as id,
    // t1.col1 as id` is one output (cases/plan/join_query.yaml id
    // 10-2). Distinct sources under one alias stay, surfacing the
    // ambiguity downstream like the reference would.
    def colIdOf(toks: Vector[String]): Option[Any] = {
      val name = toks.mkString("")
      if (name.matches("[A-Za-z_][\\w]*(\\.[A-Za-z_][\\w]*)*"))
        // a projection of a bare attribute keeps its exprId — the
        // Catalyst equivalent of the reference's column id
        try Some(df.select(df.col(name))
          .queryExecution.analyzed.output.head.exprId)
        catch { case _: Throwable => None }
      else None
    }
    val dedupedProjs = {
      val seen = scala.collection.mutable.Set[(String, Any)]()
      s.projs.filter { p =>
        (p.alias, if (p.over.isEmpty) colIdOf(p.tokens) else None) match {
          case (Some(a), Some(id)) => seen.add((a.toLowerCase, id))
          case _                   => true
        }
      }
    }
    val s1 = s.copy(
      projs = dedupedProjs.zipWithIndex.map { case (p0, pi) =>
        val p = p0.copy(tokens = stripDbPrefixes(p0.tokens, dbs, scope))
        rejectIntervalLits(p.tokens)
        // pin the output name from the PRE-rewrite source text — the
        // reference names unaliased computed projections by what the
        // user wrote, not the rewritten form
        val named =
          if (p.alias.isDefined || isStarProj(p.tokens)) p
          else p.copy(alias = Some(projName(p, pi)))
        named.copy(tokens = rewriteDialect(named.tokens, rt))
      },
      where = s.where.map { w =>
        val t = stripDbPrefixes(tokenize(w), dbs, scope); rejectIntervalLits(t)
        rewriteDialect(t, rt).mkString(" ")
      },
      having = s.having.map { h =>
        val t = stripDbPrefixes(tokenize(h), dbs, scope); rejectIntervalLits(t)
        rewriteDialect(t, rt).mkString(" ")
      },
      groupBy = s.groupBy.map { g =>
        val t = stripDbPrefixes(tokenize(g), dbs, scope); rejectIntervalLits(t)
        rewriteDialect(t, rt).mkString(" ")
      })

    s1.where.foreach(w =>
      df = df.filter(expr(coerceOperands(tokenize(w), df).mkString(" "))))

    // window keys may be db-qualified too (multiple_databases ids 13/14)
    def stripW(w: WinDef): WinDef =
      if (dbs.isEmpty) w
      else w.copy(
        partition = w.partition.map(t =>
          stripDbPrefixes(tokenize(t), dbs, scope).mkString(" ")),
        order = w.order.map(t =>
          stripDbPrefixes(tokenize(t), dbs, scope).mkString(" ")))
    val s2 =
      if (dbs.isEmpty) s1
      else s1.copy(
        windows = s1.windows.map { case (k, w) => k -> stripW(w) },
        projs = s1.projs.map(p => p.copy(over = p.over.map {
          case Right(w) => Right(stripW(w))
          case l        => l
        })))

    var out: DataFrame =
      if (s2.groupBy.nonEmpty) planAggregate(s2, df)
      else if (s2.projs.exists(p => p.over.isDefined || p.hasNestedOver))
        planWindows(spark, s2, df, scope, requestMode)
      else if (s1.projs.length == 1 && s1.projs.head.exprText == "*") df
      else df.select(s1.projs.zipWithIndex.map { case (pr, i) =>
        if (isStarProj(pr.tokens)) starCol(pr.tokens)
        else expr(rewriteAggFns(
          coerceDateFns(coerceOperands(pr.tokens, df), df), df,
          grouped = true).mkString(" "))
          .as(projName(pr, i)) } ++
        // request-row identity passes through projections (requestMode
        // derived-side re-alignment)
        (if (df.columns.contains(ReqUidCol)) Seq(col(ReqUidCol))
         else Seq.empty): _*)

    // SELECT DISTINCT dedups the projected rows (parse-pinned by
    // cases/plan/distinct_query.yaml; the reference grammar accepts it
    // and no engine case forbids it)
    if (s1.distinct) out = out.distinct()
    // top-level ORDER BY parses (the reference grammar includes it,
    // SELECT_STATEMENT.md:18) but the engine rejects it
    // (SELECT_STATEMENT.md:111 "OpenMLDB does not support this
    // keyword") — reject at the same stage
    if (s1.orderBy.nonEmpty)
      throw new IllegalArgumentException(
        "un-support ORDER BY in SELECT (the reference engine rejects " +
          "it; order within windows or LAST JOIN instead)")
    s1.limit.foreach(n => out = out.limit(n))
    out
  }

  /** index of the ')' matching the '(' at `open` */
  private def matchClose(toks: Vector[String], open: Int): Int = {
    var depth = 0; var j = open
    while (j < toks.length) {
      if (toks(j) == "(") depth += 1
      if (toks(j) == ")") { depth -= 1; if (depth == 0) return j }
      j += 1
    }
    throw new IllegalArgumentException("unbalanced parens in expression")
  }

  // ------------------------------------------------------------------
  // Dialect token rewrites: type-cast function names, the int64-ms
  // timestamp model, LIKE ... ESCAPE, IN-list literal coercion
  // ------------------------------------------------------------------

  private val castFnRenames = Map(
    "int16" -> "smallint", "int32" -> "int", "int64" -> "bigint",
    "bool" -> "boolean")

  /** dialect type spellings → Spark type keywords (CAST targets) */
  private val castTypeRenames = Map(
    "int16" -> "SMALLINT", "int32" -> "INT", "int64" -> "BIGINT",
    "bool" -> "BOOLEAN")

  /** A window ORDER BY key as epoch MILLISECONDS: int64-ms columns
    * pass through; a native TimestampType key converts via unix_millis
    * (groundwork for TimestampType-typed tables — `.cast("long")` on a
    * timestamp would yield SECONDS). */
  private def orderMs(base: DataFrame, text: String): Column =
    resolveTypeCached(base, text) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        unix_millis(expr(text))
      case Some(org.apache.spark.sql.types.IntegerType |
                org.apache.spark.sql.types.ShortType) =>
        // unbounded range frames use a Long.MaxValue/4 bound; Spark
        // evaluates rangeBetween arithmetic in the ORDER key's type, so
        // an int key overflows to an empty frame — widen to long
        expr(text).cast(org.apache.spark.sql.types.LongType)
      case _ => expr(text)
    }

  /** window aggregates with no native Spark window function — they
    * always take the frame-array path */
  private val frameOnlyAggs = Set("distinct_count", "nth_value_where",
    "top1_ratio", "topn_frequency", "median", "ew_avg", "top",
    "drawdown", // order-sensitive: needs the ts-carrying frame array
    "window_split",
    "window_split_by_key", "window_split_by_value", "fz_window_split",
    "fz_window_split_by_key", "fz_window_split_by_value")

  /** math functions whose operands must be numeric: bool coerces,
    * string/date reject (test_calculate.yaml) */
  private val mathFns1 = Set("abs", "ceil", "ceiling", "floor", "round",
    "truncate", "sqrt", "sin", "cos", "tan", "asin", "acos", "atan",
    "atan2", "cot", "exp", "ln", "log", "log2", "log10", "degrees",
    "radians", "pow", "power", "mod", "pmod")

  /** the trig/sqrt family additionally rejects BOOL operands
    * (test_calculate.yaml id 8) */
  private val mathNoBool = Set("cos", "cot", "sin", "tan", "acos",
    "asin", "atan", "atan2", "sqrt")

  private def isQuoted(t: String): Boolean =
    t.length >= 2 && (t.head == '\'' || t.head == '"')
  private def isNumericLit(t: String): Boolean =
    t.matches("-?[0-9]+(\\.[0-9]*)?")

  /** Backslash-unescape a raw string-literal body the way Spark's
    * parser would (ParserUtils.unescapeSQLString, minus the octal and
    * unicode forms the dialect doesn't use), so plan-time rewrites see
    * the literal's VALUE. */
  private[sql] def unescapeSqlLiteral(raw: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\' && i + 1 < raw.length) {
        raw.charAt(i + 1) match {
          case '0' => sb.append('\u0000')
          case 'b' => sb.append('\b')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case x   => sb.append(x)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Re-emit a string VALUE as a single-quoted SQL literal token whose
    * Spark unescape yields the value back. */
  private[sql] def quoteSqlLiteral(v: String): String = {
    val sb = new StringBuilder().append('\'')
    v.foreach {
      case '\\' => sb.append("\\\\")
      case '\'' => sb.append("\\'")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c    => sb.append(c)
    }
    sb.append('\'').toString
  }

  /** Wall-clock literal → epoch ms under the corpus's pinned UTC+8
    * (test_predicate.yaml id 3). None when unparseable. */
  private[sql] def parseWallClockMs(s: String): Option[Long] = {
    val t = s.trim
    Seq("y-M-d H:m:s", "y-M-d").view.flatMap { f =>
      try {
        val fmt = java.time.format.DateTimeFormatter.ofPattern(f)
        val ldt =
          if (f.contains("H")) java.time.LocalDateTime.parse(t, fmt)
          else java.time.LocalDate.parse(t, fmt).atStartOfDay()
        Some(ldt.toInstant(java.time.ZoneOffset.ofHours(8)).toEpochMilli)
      } catch { case _: Throwable => None }
    }.headOption
  }

  /** FarmHash UDF variant for an operand type — the reference hashes
    * each type's little-endian value bytes (literal_traits.h
    * to_bytes_ref); unresolvable operands fall back to string bytes. */
  private def farmFnFor(
      t: Option[org.apache.spark.sql.types.DataType]): String = {
    import org.apache.spark.sql.types._
    t match {
      case Some(ShortType)   => "__graft_farm64_i16"
      case Some(IntegerType) => "__graft_farm64_i32"
      case Some(LongType)    => "__graft_farm64_i64"
      case Some(FloatType)   => "__graft_farm64_f32"
      case Some(DoubleType)  => "__graft_farm64_f64"
      case Some(BooleanType) => "__graft_farm64_bool"
      case Some(DateType)    => "__graft_farm64_date"
      case Some(_: org.apache.spark.sql.types.DecimalType) =>
        "__graft_farm64_f64" // fractional literal pre-D-suffix
      case _                 => "__graft_farm64_str"
    }
  }

  /** Expand a `csv(...)` / `gcformat(...)` / `libsvm(...)` feature
    * instance format into a single SQL string expression
    * (feature_signature_def.cc CSV :292, GCFormat :213, LIBSVM :344).
    * Slot numbers (and GCFormat's per-slot FarmFingerprint of the slot
    * id) are static at plan time; value formatting follows the
    * reference's std::to_string semantics per operand type. */
  private def featureFormatText(kind: String, inner: Vector[String],
      resolveTy: String => Option[org.apache.spark.sql.types.DataType])
      : String = {
    import org.apache.spark.sql.types._
    val sigKinds = Set("continuous", "discrete", "binary_label",
      "multiclass_label", "regression_label", "gcformat_index")
    case class SigArg(sk: String, vText: String, vType: Option[DataType],
        bucket: Option[Option[Long]]) // None=unbucketed; Some(None)=null
    val args = splitTokenArgs(inner).map { at =>
      val head = at.headOption.getOrElse("").toLowerCase
      if (!(at.length > 2 && at(1) == "(" && sigKinds(head)))
        throw new IllegalArgumentException(
          s"$kind() arguments must be feature signatures " +
            "(continuous/discrete/labels), got '" + at.mkString(" ") + "'")
      val callArgs = splitTokenArgs(at.slice(2, at.length - 1))
      val vText = "( " + callArgs.head.mkString(" ") + " )"
      val bucket: Option[Option[Long]] =
        if (head == "discrete" && callArgs.length > 1) {
          callArgs(1) match {
            case Vector(n) if isNumericLit(n) => Some(Some(n.toLong))
            case Vector("-", n) if isNumericLit(n) => Some(Some(-n.toLong))
            case _ => Some(None) // non-literal (e.g. int("null")) → null
          }
        } else None
      SigArg(head, vText, resolveTy(callArgs.head.mkString(" ")), bucket)
    }
    def contFmt(a: SigArg): String = a.vType match {
      case Some(FloatType) | Some(DoubleType) | Some(_: DecimalType) =>
        // C-printf %.6f incl. inf/nan spellings and exact-binary
        // expansion for large magnitudes
        s"__graft_fmt6(CAST(${a.vText} AS DOUBLE))"
      case Some(BooleanType) =>
        s"CAST(CAST(${a.vText} AS INT) AS STRING)"
      case _ => s"CAST(${a.vText} AS STRING)"
    }
    def labelFmt(a: SigArg): String = a.sk match {
      case "binary_label" =>
        s"CAST(CAST(CAST(${a.vText} AS BOOLEAN) AS INT) AS STRING)"
      case "multiclass_label" =>
        s"CAST(CAST(${a.vText} AS BIGINT) AS STRING)"
      case _ => contFmt(a) // regression_label
    }
    // discrete hash text: NULL when the value is null or the bucket is
    // invalid (Discrete with bucket<=0/null yields a null slot)
    def dHashText(a: SigArg): Option[String] = {
      val h = s"${farmFnFor(a.vType)}(${a.vText})"
      a.bucket match {
        case None                       => Some(h)
        case Some(Some(b)) if b > 0     => Some(s"__graft_umod($h, ${b}L)")
        case _                          => None
      }
    }
    val isLabel = Set("binary_label", "multiclass_label", "regression_label")
    def labelText: String = args.filter(a => isLabel(a.sk)).lastOption
      .map(a => s"CASE WHEN ${a.vText} IS NULL THEN '' ELSE ${labelFmt(a)} END")
      .getOrElse("''")

    kind match {
      case "csv" =>
        val slots = args.collect {
          case a if a.sk == "continuous" =>
            s"coalesce(CASE WHEN ${a.vText} IS NOT NULL THEN ${contFmt(a)} END, '')"
          case a if a.sk == "discrete" =>
            dHashText(a).map(h => s"coalesce(CAST($h AS STRING), '')")
              .getOrElse("''")
          case a if isLabel(a.sk) =>
            s"coalesce(CASE WHEN ${a.vText} IS NOT NULL THEN ${labelFmt(a)} END, '')"
        }
        if (slots.isEmpty) "('')"
        else "(concat_ws(',', " + slots.mkString(", ") + "))"
      case "gcformat" =>
        var slot = 1L
        val feats = Seq.newBuilder[String]
        args.foreach { a =>
          a.sk match {
            case "continuous" =>
              feats += s"CASE WHEN ${a.vText} IS NOT NULL THEN " +
                s"concat('$slot:${graft.functions.FarmHash.ofLong(slot)}:', ${contFmt(a)}) END"
              slot += 1
            case "discrete" =>
              dHashText(a) match {
                case Some(h) =>
                  feats += s"CASE WHEN $h IS NOT NULL THEN " +
                    s"concat('$slot:', CAST($h AS STRING)) END"
                case None => () // null slot: skipped but counted
              }
              slot += 1
            case _ => ()
          }
        }
        val idxStr = args.find(_.sk == "gcformat_index")
          .map(a => s"CASE WHEN ${a.vText} IS NULL OR CAST(${a.vText} AS BIGINT) < 0 " +
            s"THEN ' ' ELSE concat(' ', CAST(CAST(${a.vText} AS BIGINT) AS STRING)) END")
          .getOrElse("' '")
        val featStr =
          if (feats.result().isEmpty) "''"
          else "concat_ws(' ', " + feats.result().mkString(", ") + ")"
        s"(concat($labelText, $idxStr, '| ', $featStr))"
      case "libsvm" =>
        var slot = 1L
        val feats = Seq.newBuilder[String]
        args.foreach { a =>
          a.sk match {
            case "continuous" =>
              feats += s"CASE WHEN ${a.vText} IS NOT NULL THEN " +
                s"concat('$slot:', ${contFmt(a)}) END"
              slot += 1
            case "discrete" =>
              (a.bucket, dHashText(a)) match {
                case (None, Some(h)) => // unbucketed: hash:1, no slot
                  feats += s"CASE WHEN $h IS NOT NULL THEN " +
                    s"concat(CAST($h AS STRING), ':1') END"
                case (Some(Some(b)), Some(h)) if b > 0 =>
                  feats += s"CASE WHEN $h IS NOT NULL THEN " +
                    s"concat(CAST(${slot}L + $h AS STRING), ':1') END"
                  slot += b
                case _ => () // invalid bucket: nothing, no advance
              }
            case _ => ()
          }
        }
        val featStr =
          if (feats.result().isEmpty) "''"
          else "concat_ws(' ', " + feats.result().mkString(", ") + ")"
        s"(CASE WHEN length($labelText) > 0 THEN " +
          s"CASE WHEN length($featStr) > 0 THEN concat($labelText, ' ', $featStr) " +
          s"ELSE $labelText END ELSE $featStr END)"
    }
  }

  /** Interval literals ("1s", "30d") are legal ONLY as ROWS_RANGE frame
    * bounds and join range conditions; as expressions the reference
    * rejects them (fail_query.yaml "un-support const node"). Spark
    * would silently read 1s/1d as typed-literal suffixes, so reject
    * before expr(). Also rejects IN (SELECT ...) — Spark supports the
    * subquery but the reference does not
    * (cases/plan/error_unsupport_sql.yaml in_predicate_subquery). */
  private def rejectIntervalLits(toks: Vector[String]): Unit = {
    toks.foreach { t =>
      if (t.matches("[0-9]+[smhdSMHD]"))
        throw new IllegalArgumentException(
          s"interval literal '$t' is not allowed outside a window frame bound")
    }
    toks.indices.foreach { i =>
      if (toks(i).equalsIgnoreCase("in") && i + 2 < toks.length &&
          toks(i + 1) == "(" && toks(i + 2).equalsIgnoreCase("select"))
        throw new IllegalArgumentException(
          "IN (subquery) is not supported")
    }
  }

  /** Token-level rewrites for dialect surface Spark lacks:
    *  - type-cast function names int16/int32/int64/bool
    *  - `timestamp(x)` / `CAST(x AS timestamp)` under the int64-ms
    *    model (docs date_and_time_types.md: timestamp(bigint) takes
    *    MILLISECONDS, not Spark-cast seconds; strings are UTC+8 wall
    *    clock) — const_query.yaml ids 5/7/9
    *  - `date(ms)` = calendar date of the ms instant at UTC+8
    *  - `[NOT] LIKE/ILIKE pat ESCAPE 'e'` with arbitrary or empty
    *    escape → like_match_esc/ilike_match_esc UDFs (Spark restricts
    *    escape placement and rejects ESCAPE '')
    *  - IN lists mixing string and numeric literals compare
    *    numerically (simple_query.yaml in_predicate_type_cast_3/4)
    */
  private[sql] def rewriteDialect(toks0: Vector[String],
      resolveTy: String => Option[org.apache.spark.sql.types.DataType])
      : Vector[String] = {
    import org.apache.spark.sql.types._

    def asBigint(v: Vector[String]): Vector[String] =
      Vector("CAST", "(") ++ v ++ Vector("AS", "BIGINT", ")")

    // the reference's timestamp domain starts at the epoch: a negative
    // ms value yields NULL, not a pre-1970 instant (const_query.yaml
    // ids 10/11 expect NULL for timestamp(-1))
    def nonNegBigint(v: Vector[String]): Vector[String] = {
      val b = asBigint(v)
      Vector("(", "CASE", "WHEN", "(") ++ b ++
        Vector(")", "<", "0L", "THEN", "CAST", "(", "NULL", "AS",
          "BIGINT", ")", "ELSE") ++ b ++ Vector("END", ")")
    }

    // timestamp() returns a native TimestampType holding the correct
    // instant; wall-clock strings parse at the reference's pinned GMT+8
    // (date_and_time_types.md:10-14), integral operands are epoch MS
    def tsWrap(v: Vector[String]): Vector[String] =
      Vector("timestamp_millis", "(") ++ v ++ Vector(")")
    def tsCall(inner: Vector[String]): Vector[String] =
      if (inner.length == 1 && isNumericLit(inner.head))
        tsWrap(asBigint(inner))
      else if (inner.length == 1 && inner.head.equalsIgnoreCase("null"))
        Vector("CAST", "(", "NULL", "AS", "TIMESTAMP", ")")
      else if (inner.length == 1 && isQuoted(inner.head))
        parseWallClockMs(stripQuotes(inner.head)) match {
          case Some(ms) => tsWrap(Vector(ms.toString))
          case None     => Vector("CAST", "(", "NULL", "AS", "TIMESTAMP", ")")
        }
      else resolveTy(inner.mkString(" ")) match {
        case Some(TimestampType) => Vector("(") ++ inner ++ Vector(")")
        case Some(StringType) | Some(DateType) =>
          Vector("to_utc_timestamp", "(",
            "to_timestamp", "(") ++ inner ++
            Vector(")", ",", "'GMT+8'", ")")
        case _ => tsWrap(nonNegBigint(inner))
      }

    def dateCall(inner: Vector[String]): Vector[String] = {
      // date() accepts timestamp/string/date; the reference rejects it
      // over every numeric type now that TIMESTAMP is a distinct type
      // (test_type.yaml ids 26/27/28 expect-error for smallint/bigint/int)
      val ty = resolveTy(inner.mkString(" "))
      ty match {
        case Some(ShortType) | Some(IntegerType) | Some(LongType) |
            Some(FloatType) | Some(DoubleType) | Some(BooleanType) =>
          throw new IllegalArgumentException(
            "date() expects a timestamp/string/date operand, not " +
              ty.get.toString)
        case _ if inner.length == 1 && isNumericLit(inner.head) =>
          throw new IllegalArgumentException(
            "date() expects a timestamp/string/date operand, not a number")
        case _ => ()
      }
      if (ty.contains(TimestampType))
        // calendar date of the instant at the reference's GMT+8
        Vector("CAST", "(", "from_utc_timestamp", "(") ++ inner ++
          Vector(",", "'GMT+8'", ")", "AS", "DATE", ")")
      else Vector("date", "(") ++ inner ++ Vector(")")
    }

    // cast-to-string: float/double use the C++ shortest rendering
    // ("30", not Java's "30.0" — test_type.yaml ids 0/19). For typing
    // purposes an inline `... OVER w` is stripped — the window changes
    // WHICH rows aggregate, never the value type
    // (test_udaf_function.yaml id 44 string(sum(c4) OVER w1)).
    def stripOverForTyping(v: Vector[String]): Vector[String] = {
      // nav window functions type as their first argument; the bare
      // call (minus OVER) does not analyze standalone, so for typing
      // substitute `lag(ts, 1) OVER w` → `( ts )` (autox usecase:
      // bigint(lag(std_ts,1) over w1) must read epoch MS, not seconds)
      val navFns = Set("lag", "lead", "at", "first_value", "last_value",
        "nth_value", "nth_value_where")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      def replaceNavCall(): Unit = {
        if (out.isEmpty || out.last != ")") return
        var d = 0; var j = out.length - 1; var open = -1
        while (j >= 0 && open < 0) {
          if (out(j) == ")") d += 1
          if (out(j) == "(") { d -= 1; if (d == 0) open = j }
          j -= 1
        }
        if (open <= 0 || !navFns(out(open - 1).toLowerCase)) return
        val args = out.slice(open + 1, out.length - 1)
        var depth = 0; var cut = args.length; var m = 0
        while (m < args.length && cut == args.length) {
          if (args(m) == "(") depth += 1
          if (args(m) == ")") depth -= 1
          if (args(m) == "," && depth == 0) cut = m
          m += 1
        }
        val first = args.take(cut)
        out.remove(open - 1, out.length - (open - 1))
        out += "("; out ++= first; out += ")"
      }
      var k = 0
      while (k < v.length) {
        if (v(k).equalsIgnoreCase("OVER") && k + 1 < v.length) {
          replaceNavCall()
          if (v(k + 1) == "(") {
            var d = 0; var j = k + 1; var stop = -1
            while (j < v.length && stop < 0) {
              if (v(j) == "(") d += 1
              if (v(j) == ")") { d -= 1; if (d == 0) stop = j }
              j += 1
            }
            k = if (stop < 0) v.length else stop + 1
          } else k += 2
        } else { out += v(k); k += 1 }
      }
      out.toVector
    }
    // ts → the GMT+8 wall clock, seconds precision
    // (udf.cc:376 timestamp_to_string "%Y-%m-%d %H:%M:%S")
    def tsWallText(pre: Vector[String]): Vector[String] =
      Vector("date_format", "(", "from_utc_timestamp", "(") ++ pre ++
        Vector(",", "'GMT+8'", ")", ",", "'yyyy-MM-dd HH:mm:ss'", ")")

    def strCastText(pre: Vector[String]): Vector[String] =
      resolveTy(stripOverForTyping(pre).mkString(" ")) match {
        case Some(FloatType) =>
          Vector("__graft_num2str_f32", "(") ++ pre ++ Vector(")")
        case Some(DoubleType) =>
          Vector("__graft_num2str_f64", "(") ++ pre ++ Vector(")")
        case Some(TimestampType) => tsWallText(pre)
        case _ => Vector("CAST", "(") ++ pre ++ Vector("AS", "STRING", ")")
      }

    // recursive descent over call trees (innermost args rewritten first)
    def go(ts: Vector[String]): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < ts.length) {
        val low = ts(i).toLowerCase
        val isCall = i + 1 < ts.length && ts(i + 1) == "(" &&
          ts(i).headOption.exists(c => c.isLetter || c == '_')
        if (isCall) {
          val close = matchClose(ts, i + 1)
          val inner = go(ts.slice(i + 2, close))
          // CAST(ts AS <numeric>) reads the int64 MS value — int(ts)
          // wraps 1590115420000 to 977520480, never epoch seconds
          // (test_type.yaml ids 14-18/25)
          val numCastNames = Map(
            "smallint" -> "SMALLINT", "int" -> "INT", "integer" -> "INT",
            "bigint" -> "BIGINT", "float" -> "FLOAT", "double" -> "DOUBLE",
            "int16" -> "SMALLINT", "int32" -> "INT", "int64" -> "BIGINT")
          def innerIsTs: Boolean =
            resolveTy(stripOverForTyping(inner).mkString(" "))
              .contains(TimestampType)
          def msCastText(pre: Vector[String], target: String): Vector[String] =
            Vector("CAST", "(", "unix_millis", "(") ++ pre ++
              Vector(")", "AS", target, ")")
          if (castFnRenames.contains(low)) {
            val renamed = castFnRenames(low)
            if (numCastNames.contains(renamed) && innerIsTs)
              out ++= msCastText(inner, numCastNames(renamed))
            else {
              out += renamed; out += "("; out ++= inner; out += ")"
            }
          } else if (numCastNames.contains(low) && innerIsTs) {
            out ++= msCastText(inner, numCastNames(low))
          } else if (low == "cast" && inner.length >= 2 &&
              numCastNames.contains(inner.last.toLowerCase) &&
              inner(inner.length - 2).equalsIgnoreCase("as") &&
              resolveTy(stripOverForTyping(inner.dropRight(2))
                .mkString(" ")).contains(TimestampType)) {
            out ++= msCastText(inner.dropRight(2),
              numCastNames(inner.last.toLowerCase))
          } else if (low == "identity") {
            // identity(x) is the reference's pass-through marker
            // (udf/default_udf_library.cc identity; fz_sql.yaml id 0)
            out += "("; out ++= inner; out += ")"
          } else if (low == "hash_sample" || low == "hash_sample_fraction") {
            // Engine extension — content-addressed sampling as
            // first-class SQL (operators/Sampling made dialect-callable):
            //   hash_sample(key, rate [, 'salt'])  → stable
            //     Bernoulli(rate) keep decision (WHERE-clause filter;
            //     TABLESAMPLE semantics keyed on content, so retries,
            //     partitions, and engines agree row-by-row)
            //   hash_sample_fraction(key [, 'salt']) → the dyadic
            //     decision coordinate in [0,1): `WHERE f < weight`
            //     is a per-row weighted (importance) sample
            // Pure md5 TEXT rewrite: codegen'd, pushdown-friendly, and
            // bit-reproducible (the DuckDB oracle replays it).
            val as2 = splitTokenArgs(inner).map(_.mkString(" "))
            if (low == "hash_sample") {
              require(as2.length == 2 || as2.length == 3,
                "hash_sample expects (key, rate[, salt])")
              val rate =
                try as2(1).toDouble
                catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    "hash_sample rate must be a numeric literal in [0,1]") }
              val salt = if (as2.length == 3) stripQuotes(as2(2)) else "graft"
              val thr = graft.operators.Sampling.hexThreshold(rate)
              out += s"( substring(md5(concat(CAST(${as2(0)} AS STRING)" +
                s", ':$salt')), 1, 8) < '$thr' )"
            } else {
              require(as2.length == 1 || as2.length == 2,
                "hash_sample_fraction expects (key[, salt])")
              val salt = if (as2.length == 2) stripQuotes(as2(1)) else "graft"
              out += s"( CAST(conv(substring(md5(concat(CAST(${as2(0)} " +
                s"AS STRING), ':$salt')), 1, 8), 16, 10) AS DOUBLE) " +
                "/ 4294967296.0 )"
            }
          } else if (low == "is_null") {
            out += "isnull"; out += "("; out ++= inner; out += ")"
          } else if (low == "if_null") {
            // alias of ifnull (udfs doc if_null)
            out += "ifnull"; out += "("; out ++= inner; out += ")"
          } else if (low == "add" || low == "inc") {
            // arithmetic-as-function scalars (udfs doc add/inc)
            val as2 = splitTokenArgs(inner)
            if (low == "add" && as2.length == 2) {
              out += "("; out += "("; out ++= as2(0); out += ")"
              out += "+"; out += "("; out ++= as2(1); out += ")"; out += ")"
            } else if (low == "inc" && as2.length == 1) {
              out += "("; out += "("; out ++= as2(0); out += ")"
              out += "+"; out += "1"; out += ")"
            } else throw new IllegalArgumentException(
              s"$low() arity ${as2.length} unsupported")
          } else if (low == "maximum" || low == "minimum") {
            // two-operand scalar max/min (udfs doc maximum/minimum)
            out += (if (low == "maximum") "greatest" else "least")
            out += "("; out ++= inner; out += ")"
          } else if (low == "make_tuple") {
            // make_tuple builds the reference's tuple value (used as a
            // compound argument carrier) — Spark's struct is the analog
            out += "struct"; out += "("; out ++= inner; out += ")"
          } else if (low == "cast" && inner.length >= 2 &&
              inner(inner.length - 1).equalsIgnoreCase("timestamp") &&
              inner(inner.length - 2).equalsIgnoreCase("as")) {
            out ++= tsCall(inner.dropRight(2))
          } else if (low == "cast" && inner.length >= 2 &&
              (inner(inner.length - 1).equalsIgnoreCase("varchar") ||
                inner(inner.length - 1).equalsIgnoreCase("string")) &&
              inner(inner.length - 2).equalsIgnoreCase("as")) {
            // VARCHAR is the dialect's alias for STRING
            // (test_type.yaml ids 33-35)
            out ++= strCastText(inner.dropRight(2))
          } else if (low == "cast" && inner.length >= 5 &&
              inner(inner.length - 1) == ")" &&
              (inner(inner.length - 4).equalsIgnoreCase("varchar") ||
                inner(inner.length - 4).equalsIgnoreCase("string")) &&
              inner(inner.length - 5).equalsIgnoreCase("as")) {
            // VARCHAR(n): the length is storage metadata, drop it
            out ++= strCastText(inner.dropRight(5))
          } else if (low == "string") {
            out ++= strCastText(inner)
          } else if (low == "cast" && {
            var d = 0; var asAt = -1; var k = 0
            while (k < inner.length) {
              if (inner(k) == "(") d += 1
              if (inner(k) == ")") d -= 1
              if (d == 0 && inner(k).equalsIgnoreCase("as")) asAt = k
              k += 1
            }
            asAt >= 0 && inner.drop(asAt + 1).exists(t =>
              castTypeRenames.contains(t.toLowerCase))
          }) {
            // dialect type names inside the CAST target (BOOL, INT64,
            // MAP<STRING, INT64>, ... — test_type.yaml id 0,
            // udf_query.yaml id 19) → Spark spellings
            var d = 0; var asAt = -1; var k = 0
            while (k < inner.length) {
              if (inner(k) == "(") d += 1
              if (inner(k) == ")") d -= 1
              if (d == 0 && inner(k).equalsIgnoreCase("as")) asAt = k
              k += 1
            }
            val (pre, ty) = inner.splitAt(asAt + 1)
            out += "CAST"; out += "("
            out ++= pre
            out ++= ty.map(t =>
              castTypeRenames.getOrElse(t.toLowerCase, t))
            out += ")"
          } else if (low == "varchar") {
            out += "string"; out += "("; out ++= inner; out += ")"
          } else if (low == "hash64" || low == "farm_fingerprint") {
            // FarmHash Fingerprint64 over the operand's typed byte
            // encoding (udf.cc:1444; literal_traits.h to_bytes_ref);
            // a Timestamp hashes its int64 ms value
            resolveTy(inner.mkString(" ")) match {
              case Some(TimestampType) =>
                out += "__graft_farm64_i64"
                out += "("; out ++= Vector("unix_millis", "(") ++ inner ++
                  Vector(")"); out += ")"
              case t =>
                out += farmFnFor(t)
                out += "("; out ++= inner; out += ")"
            }
          } else if (low == "csv" || low == "gcformat" || low == "libsvm") {
            // feature-signature instance formats expand to one pure
            // string expression (feature_signature_def.cc CSV/GCFormat/
            // LIBSVM; slot numbering is static at plan time)
            out ++= tokenize(featureFormatText(low, inner, resolveTy))
          } else if (low == "concat" || low == "concat_ws") {
            // args stringify with the reference's renderings: ts → the
            // GMT+8 wall clock, float/double → C++ shortest form
            // ("30", not "30.0"); and concat_ws propagates NULL (Spark
            // would silently skip null parts) — test_string.yaml ids 0/3
            val as = splitTokenArgs(inner)
            val rendered = as.map { a =>
              resolveTy(a.mkString(" ")) match {
                case Some(TimestampType | FloatType | DoubleType) =>
                  strCastText(a)
                case _ => a
              }
            }
            def call: Vector[String] = {
              val b = Vector.newBuilder[String]
              b += ts(i); b += "("
              rendered.zipWithIndex.foreach { case (a, ai) =>
                if (ai > 0) b += ","
                b ++= a
              }
              b += ")"
              b.result()
            }
            if (low == "concat_ws" && as.length > 1) {
              out ++= Vector("(", "CASE", "WHEN")
              as.zipWithIndex.foreach { case (a, ai) =>
                if (ai > 0) out += "OR"
                out ++= Vector("(", "(") ++ a ++
                  Vector(")", "IS", "NULL", ")")
              }
              out ++= Vector("THEN", "CAST", "(", "NULL", "AS", "STRING",
                ")", "ELSE") ++ call ++ Vector("END", ")")
            } else out ++= call
          } else if (low == "week") {
            // reference week() = ISO week number (udf_query.yaml id 4)
            out += "weekofyear"; out += "("; out ++= inner; out += ")"
          } else if (low == "date_format" &&
              splitTokenArgs(inner).length == 2 &&
              isQuoted(splitTokenArgs(inner)(1).headOption.getOrElse(""))) {
            // C-style format codes over the GMT+8 wall clock
            // (test_date.yaml id 0; udf date_format %Y-%m-%d %H:%M:%S)
            val as = splitTokenArgs(inner)
            val fmt = unescapeSqlLiteral(stripQuotes(as(1).head))
              .replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
              .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
            val a0 = as(0)
            val wrapped: Vector[String] =
              resolveTy(a0.mkString(" ")) match {
                case Some(TimestampType) =>
                  Vector("from_utc_timestamp", "(") ++ a0 ++
                    Vector(",", "'GMT+8'", ")")
                case Some(DateType) | None | Some(NullType) => a0
                case Some(t) =>
                  // only timestamp/date operands format — including
                  // bigint now that TIMESTAMP is a distinct type
                  // (test_date.yaml id 1 expects failure otherwise)
                  throw new IllegalArgumentException(
                    s"illegal operand type $t for date_format")
              }
            out += "date_format"; out += "("
            out ++= wrapped; out += ","; out += quoteSqlLiteral(fmt)
            out += ")"
          } else if ((low == "like_match" || low == "ilike_match") &&
              splitTokenArgs(inner).exists(a =>
                a.length == 1 && a.head.equalsIgnoreCase("null"))) {
            // untyped NULL literal arguments fail the reference's
            // overload resolution (test_like_match.yaml id 17)
            throw new IllegalArgumentException(
              s"$low: NULL literal argument is not allowed")
          } else if ((low == "like_match" || low == "ilike_match") && {
            val t = resolveTy(splitTokenArgs(inner).head.mkString(" "))
            t.isDefined && !t.contains(StringType) && !t.contains(NullType)
          }) {
            // the matched operand must be a STRING
            // (test_like_match.yaml ids 19-26)
            throw new IllegalArgumentException(
              s"illegal operand type for '$low' (string required)")
          } else if (low == "count" && inner.length == 1 &&
              isNumericLit(inner.head)) {
            // the reference rejects count over a constant
            // (v040/test_udaf.yaml id 1 "un-support const node")
            throw new IllegalArgumentException(
              "count over a constant is unsupported (un-support const node)")
          } else if (low == "atan" && splitTokenArgs(inner).length == 2) {
            // the reference's atan(Y, X) two-arg form IS atan2
            // (udfs_8h.md atan: "atan(Y, X) is equivalent to atan2")
            out += "atan2"; out += "("; out ++= inner; out += ")"
          } else if (mathFns1(low)) {
            // math functions: bool operands coerce to double (except
            // the trig/sqrt family, which the reference rejects —
            // test_calculate.yaml id 8); string and date operands are
            // rejected everywhere (ids 0/5/7/9, both arguments)
            val as = splitTokenArgs(inner)
            as.foreach { a =>
              val t = resolveTy(a.mkString(" "))
              t match {
                case Some(StringType) | Some(DateType) |
                    Some(TimestampType) =>
                  throw new IllegalArgumentException(
                    s"illegal operand type ${t.get} for '$low'")
                case Some(BooleanType) if mathNoBool(low) =>
                  throw new IllegalArgumentException(
                    s"illegal operand type boolean for '$low'")
                case _ => ()
              }
            }
            val t0 = resolveTy(as.head.mkString(" "))
            if (t0.contains(BooleanType) &&
                Set("log", "ln", "log2", "log10")(low) && as.length == 1) {
              // log(bool): log(1)=0, log(0)=-Inf — Spark's non-ANSI
              // log(0) would be NULL (test_calculate.yaml id 4)
              out ++= tokenize(s"(CASE WHEN (${as.head.mkString(" ")}) " +
                "THEN 0.0D ELSE CAST('-Infinity' AS DOUBLE) END)")
            } else if (t0.contains(BooleanType)) {
              out += ts(i); out += "("
              out ++= Vector("CAST", "(") ++ as.head ++
                Vector("AS", "DOUBLE", ")")
              as.tail.foreach { a => out += ","; out ++= a }
              out += ")"
            } else { out += ts(i); out += "("; out ++= inner; out += ")" }
          } else if (low == "strcmp") {
            // strcmp demands two STRING operands (test_string.yaml 5/6)
            splitTokenArgs(inner).foreach { a =>
              val t = resolveTy(a.mkString(" "))
              if (t.isDefined && !t.contains(StringType) &&
                  !t.contains(NullType))
                throw new IllegalArgumentException(
                  s"illegal operand type ${t.get} for strcmp")
            }
            out += ts(i); out += "("; out ++= inner; out += ")"
          } else if (low == "substr" || low == "substring") {
            // substr demands a STRING source (test_string.yaml id 8)
            val t = resolveTy(splitTokenArgs(inner).head.mkString(" "))
            if (t.isDefined && !t.contains(StringType) &&
                !t.contains(NullType))
              throw new IllegalArgumentException(
                s"illegal operand type ${t.get} for '$low'")
            out += ts(i); out += "("; out ++= inner; out += ")"
          } else if (low == "at" && splitTokenArgs(inner).length == 2 &&
              resolveTy(stripOverForTyping(
                splitTokenArgs(inner).head).mkString(" "))
                .exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType])) {
            // scalar at(array, i): 0-based element access
            // (test_udf_function.yaml id 7)
            val as = splitTokenArgs(inner)
            out ++= tokenize(s"element_at(${as(0).mkString(" ")}, " +
              s"(${as(1).mkString(" ")}) + 1)")
          } else if (low == "isin" || low == "array_contains") {
            // null-safe membership: the reference's contains treats a
            // NULL probe/element as an ordinary value and returns
            // true/false, never NULL (udf_query.yaml array_contains)
            val as = splitTokenArgs(inner)
            val (arr, v) =
              if (low == "isin") (as(1), as(0)) else (as(0), as(1))
            out ++= tokenize(s"exists(${arr.mkString(" ")}, " +
              s"__x -> __x <=> (${v.mkString(" ")}))")
          } else if (low == "join" || low == "split_by_key" ||
              low == "split_by_value") {
            // fz-family SQL spellings (`join`(list, sep) etc. —
            // test_udaf_function.yaml id 65)
            out += s"fz_$low"; out += "("; out ++= inner; out += ")"
          } else if (low == "split_array" ||
              (low == "split" && splitTokenArgs(inner).length == 2)) {
            // literal-delimiter split → the registered fz_split UDF
            // (the reference's split is a literal split returning an
            // empty list for NULL input, not Spark's regex split —
            // test_feature_zero_function.yaml id 6 size(split(null)))
            out += "fz_split"; out += "("; out ++= inner; out += ")"
          } else if (low == "array_join" &&
              splitTokenArgs(inner).length == 2) {
            // a NULL delimiter joins without a separator
            // (udf_query.yaml array_join)
            val as = splitTokenArgs(inner)
            out += "array_join"; out += "("
            out ++= as(0); out += ","
            out ++= tokenize(
              s"coalesce(CAST((${as(1).mkString(" ")}) AS STRING), '')")
            out += ")"
          } else if (low == "map" && splitTokenArgs(inner).length > 2 &&
              splitTokenArgs(inner).length % 2 == 0) {
            // duplicate map keys keep the FIRST value in the reference
            // (udf_query.yaml id 13 e9); Spark's LAST_WIN dedup policy
            // keeps the last, so reverse the pair order
            val pairs = splitTokenArgs(inner).grouped(2).toSeq.reverse
            out += "map"; out += "("
            pairs.zipWithIndex.foreach { case (kv, pi) =>
              if (pi > 0) out += ","
              out ++= kv(0); out += ","; out ++= kv(1)
            }
            out += ")"
          } else if (low == "array_combine") {
            // array_combine(delim, a1..an): delimiter-joined CARTESIAN
            // combinations in argument order, null elements dropped,
            // every element rendered as string; null delimiter joins
            // without a separator (udf_query.yaml array_combine*)
            val as = splitTokenArgs(inner)
            val d = s"coalesce(CAST((${as.head.mkString(" ")}) AS STRING), '')"
            val arrs = as.tail.map(_.mkString(" "))
            // element rendering is type-aware: timestamp elements print
            // their GMT+8 wall clock (udf_query.yaml array_combine_2 c2)
            def clean(a: String) = {
              val probe = {
                val t = a.trim
                if (t.startsWith("[") && t.endsWith("]"))
                  "array ( " + t.drop(1).dropRight(1) + " )"
                else t
              }
              val render = resolveTy(probe) match {
                case Some(ArrayType(TimestampType, _)) =>
                  "date_format(from_utc_timestamp(__c, 'GMT+8'), " +
                    "'yyyy-MM-dd HH:mm:ss')"
                case _ => "CAST(__c AS STRING)"
              }
              s"filter(transform($a, __c -> $render), __c -> __c IS NOT NULL)"
            }
            val vars = arrs.indices.map(k => s"__e$k")
            def nest(k: Int): String =
              if (k == arrs.length - 1)
                s"transform(${clean(arrs(k))}, ${vars(k)} -> " +
                  s"concat_ws($d, ${vars.mkString(", ")}))"
              else
                s"flatten(transform(${clean(arrs(k))}, ${vars(k)} -> ${nest(k + 1)}))"
            out ++= tokenize(nest(0))
          } else if ((low == "like_match" || low == "ilike_match") &&
              splitTokenArgs(inner).length == 3) {
            // the 2-arg UDF registration cannot overload; the 3-arg
            // form routes to the _esc variant (udf_query.yaml like_udf)
            out += (if (low == "like_match") "like_match_esc"
                    else "ilike_match_esc")
            out += "("; out ++= inner; out += ")"
          } else if (low == "timestamp") out ++= tsCall(inner)
          else if (low == "date") out ++= dateCall(inner)
          else if (low == "unix_timestamp" && inner.nonEmpty &&
              (isQuoted(inner.head) ||
                resolveTy(inner.mkString(" ")).contains(StringType))) {
            // unix_timestamp over a wall-clock STRING: the corpus
            // convention reads those at UTC+8 (Tables loader,
            // tsCall) — Spark's builtin would use the session zone.
            // Date/timestamp operands keep the builtin (oracle-pinned).
            out ++= Vector("floor", "(", "unix_millis", "(",
              "to_utc_timestamp", "(", "to_timestamp", "(") ++ inner ++
              Vector(")", ",", "'GMT+8'", ")", ")", "/", "1000", ")")
          } else if (low == "get_json_object" &&
              splitTokenArgs(inner).length == 2 &&
              splitTokenArgs(inner)(1).length == 1 &&
              isQuoted(splitTokenArgs(inner)(1).head) &&
              stripQuotes(splitTokenArgs(inner)(1).head).startsWith("/")) {
            // the reference's path argument is a JSON POINTER
            // (RFC 6901: /a/b, ~0 = '~', ~1 = '/'; udf json path doc) —
            // translate literal pointers to the Spark JsonPath dialect
            // ($.a, $[0], $['key']). An all-digit segment is ambiguous
            // under RFC 6901 (array index OR object member "0", decided
            // by the document); Spark paths are static, so each digit
            // segment expands to BOTH interpretations and the rewrite
            // coalesces array-first. Dual expansion is 2^n paths, so it
            // caps at 4 digit segments (16 paths); deeper digit nesting
            // is rejected at plan time rather than silently resolved
            // array-only (a "0" object member 5 levels down would
            // otherwise return a wrong null)
            val as = splitTokenArgs(inner)
            val segs = stripQuotes(as(1).head).split("/").drop(1)
              .map(_.replace("~1", "/").replace("~0", "~")).toSeq
            def named(s: String): String =
              if (s.matches("[A-Za-z_][A-Za-z0-9_]*")) s".$s" else s"['$s']"
            val nDigit = segs.count(s => s.nonEmpty && s.forall(_.isDigit))
            if (nDigit > 4)
              throw new IllegalArgumentException(
                "get_json_object: unsupported JSON pointer — more than " +
                  s"4 all-digit segments ($nDigit) cannot be statically " +
                  "resolved to array-vs-object interpretations")
            val paths: Seq[String] = segs.foldLeft(Seq("$")) { (acc, s) =>
              if (s.nonEmpty && s.forall(_.isDigit))
                acc.flatMap(p => Seq(p + s"[$s]", p + named(s)))
              else acc.map(_ + named(s))
            }
            val jsSql = as(0).mkString(" ")
            // bracket-quoted segments put single quotes INSIDE the path:
            // a double-quoted SQL literal keeps the round-trip through
            // the dialect tokenizer escape-free
            def pathLit(p: String): String =
              if (!p.contains('\'')) quoteSqlLiteral(p)
              else if (!p.contains('"')) "\"" + p + "\""
              else throw new IllegalArgumentException(
                "JSON pointer segments mixing both quote characters " +
                  "are unsupported")
            val call = paths.map(p =>
                s"get_json_object(($jsSql), ${pathLit(p)})")
              .reduceLeft((a, b) => s"coalesce($a, $b)")
            out ++= tokenize(call)
          } else { out += ts(i); out += "("; out ++= inner; out += ")" }
          i = close + 1
        } else { out += ts(i); i += 1 }
      }
      out.result()
    }

    var ts = go(toks0)

    // array literals: `[1, 2]` → array(1, 2); `ARRAY<T>[...]` →
    // CAST(array(...) AS ARRAY<T>) (udf_query.yaml isin/array_*).
    // A bracket FOLLOWING a primary is Spark's native subscript
    // (`m[k]`) and stays.
    locally {
      def matchCloseB(v: Vector[String], open: Int): Int = {
        var depth = 0; var j = open
        while (j < v.length) {
          if (v(j) == "[") depth += 1
          if (v(j) == "]") { depth -= 1; if (depth == 0) return j }
          j += 1
        }
        throw new IllegalArgumentException("unbalanced brackets")
      }
      val typeRename = Map("int64" -> "BIGINT", "int32" -> "INT",
        "int16" -> "SMALLINT", "bool" -> "BOOLEAN", "varchar" -> "STRING")
      var i2 = 0
      while (i2 < ts.length) {
        if (ts(i2) == "[") {
          val prev = if (i2 == 0) "" else ts(i2 - 1)
          val isTyped = i2 >= 4 && prev == ">" && ts(i2 - 3) == "<" &&
            ts(i2 - 4).equalsIgnoreCase("array")
          // bare ARRAY keyword: `ARRAY [1,2]` / `ARRAY []`
          // (cases/plan/simple_query.yaml id array)
          val isBare = !isTyped && prev.equalsIgnoreCase("array")
          val isSub = !isTyped && !isBare && (prev == ")" || prev == "]" ||
            prev.headOption.exists(c => c.isLetter || c == '_' ||
              c == '\'' || c == '"'))
          if (isBare) {
            val close = matchCloseB(ts, i2)
            ts = ts.patch(close, Vector(")"), 1)
              .patch(i2 - 1, Vector("array", "("), 2)
            i2 += 1
          } else if (isTyped) {
            val close = matchCloseB(ts, i2)
            val t0 = ts(i2 - 2)
            val tN = typeRename.getOrElse(t0.toLowerCase, t0.toUpperCase)
            val repl = Vector("CAST", "(", "array", "(") ++
              ts.slice(i2 + 1, close) ++
              Vector(")", "AS", "ARRAY", "<", tN, ">", ")")
            ts = ts.patch(i2 - 4, repl, close - (i2 - 4) + 1)
            i2 = i2 // rescan from the opening CAST (nested literals)
          } else if (!isSub) {
            val close = matchCloseB(ts, i2)
            ts = ts.patch(close, Vector(")"), 1)
              .patch(i2, Vector("array", "("), 1)
            i2 += 2
          } else i2 += 1
        } else i2 += 1
      }
    }

    // [operand] [NOT] LIKE/ILIKE 'pat' ESCAPE 'e' — literal pattern +
    // escape translate at plan time into a pattern for Spark's NATIVE
    // LIKE/ILIKE under its default '\' escape (codegen'd, operand
    // untouched so precedence is preserved). The reference's
    // constant-FALSE corners (escape of 2+ chars, trailing unpaired
    // escape — udf.cc:443,519) fall back to the like_match_esc UDF,
    // which yields false for non-null operands and null for null ones.
    var i = 0
    while (i < ts.length) {
      val low = ts(i).toLowerCase
      if ((low == "like" || low == "ilike") && i + 3 < ts.length &&
          isQuoted(ts(i + 1)) && ts(i + 2).equalsIgnoreCase("escape") &&
          isQuoted(ts(i + 3))) {
        val pat = unescapeSqlLiteral(stripQuotes(ts(i + 1)))
        val esc = unescapeSqlLiteral(stripQuotes(ts(i + 3)))
        // escape of 2+ characters is a data exception in the reference
        // (udf.cc:519-523; test_like.yaml id 28 expects failure)
        if (esc.length >= 2)
          throw new IllegalArgumentException(
            s"invalid escape character '$esc' (escape must be a single character)")
        graft.functions.GraftScalars.toSparkLikePattern(pat, esc) match {
          case Some(np) =>
            ts = ts.patch(i, Vector(ts(i), quoteSqlLiteral(np)), 4)
            i += 2
          case None => // constant-false path: UDF keeps null semantics
            val neg = i > 0 && ts(i - 1).equalsIgnoreCase("not")
            val opEnd = i + 3
            val end = if (neg) i - 2 else i - 1
            val startOpt: Option[Int] =
              if (end < 0) None
              else if (ts(end) == ")") { // call or parenthesized operand
                var depth = 0; var k = end; var st = -1
                while (k >= 0 && st < 0) {
                  if (ts(k) == ")") depth += 1
                  if (ts(k) == "(") { depth -= 1; if (depth == 0) st = k }
                  k -= 1
                }
                if (st < 0) None
                else if (st - 1 >= 0 && ts(st - 1).headOption.exists(c =>
                  c.isLetter || c == '_')) Some(st - 1)
                else Some(st)
              } else if (ts(end).headOption.exists(c => c.isLetter ||
                  c == '_' || c == '\'' || c == '"' || c.isDigit)) {
                var st = end
                while (st - 2 >= 0 && ts(st - 1) == "." &&
                  ts(st - 2).headOption.exists(c => c.isLetter || c == '_'))
                  st -= 2
                Some(st)
              } else None
            startOpt match {
              case Some(st) =>
                val fn = if (low == "like") "like_match_esc" else "ilike_match_esc"
                val repl = (if (neg) Vector("NOT") else Vector.empty[String]) ++
                  Vector(fn, "(") ++ ts.slice(st, end + 1) ++
                  Vector(",", ts(i + 1), ",", ts(i + 3), ")")
                ts = ts.patch(st, repl, opEnd - st + 1)
                i = st + repl.length
              case None => i += 1
            }
        }
      } else i += 1
    }

    // IN ( literals ) mixing strings and numerics → numeric compare
    i = 0
    while (i < ts.length) {
      if (ts(i).equalsIgnoreCase("in") && i + 1 < ts.length &&
          ts(i + 1) == "(") {
        val close = matchClose(ts, i + 1)
        val elems = splitTokenArgs(ts.slice(i + 2, close))
        var lhsIdx = i - 1
        if (lhsIdx >= 0 && ts(lhsIdx).equalsIgnoreCase("not")) lhsIdx -= 1
        val lhsLit = lhsIdx >= 0 &&
          (isQuoted(ts(lhsIdx)) || isNumericLit(ts(lhsIdx)))
        if (elems.nonEmpty && elems.forall(_.length == 1)) {
          val lits = elems.map(_.head) ++
            (if (lhsLit) Seq(ts(lhsIdx)) else Seq.empty)
          if (lits.exists(isQuoted) && lits.exists(isNumericLit)) {
            def wrap(t: String): Vector[String] =
              if (isQuoted(t)) Vector("CAST", "(", t, "AS", "DOUBLE", ")")
              else Vector(t)
            val newList = elems.map(e => wrap(e.head))
              .reduce((a, b) => a ++ Vector(",") ++ b)
            ts = ts.patch(i + 2, newList, close - (i + 2))
            if (lhsLit && isQuoted(ts(lhsIdx)))
              ts = ts.patch(lhsIdx, wrap(ts(lhsIdx)), 1)
          }
        }
      }
      i += 1
    }

    // Fractional numeric literals are DOUBLE in the reference's type
    // system (it has no DECIMAL type — docs data_types; const_query.yaml
    // id 0 types `3.3` double); Spark lexes them as DECIMAL(p,s) whose
    // exact arithmetic then diverges. The 'D' suffix pins Spark's
    // double-literal lexing.
    ts = ts.map(t =>
      if (t.length > 1 && t.head.isDigit && t.contains('.') &&
          t.matches("[0-9]+\\.[0-9]*")) t + "D"
      else t)

    ts
  }

  /** Words that cannot serve as a bare implicit alias (they are either
    * expression-final keywords or connectors). */
  private val nonAliasWords = Set("and", "or", "xor", "not", "is", "in",
    "like", "ilike", "rlike", "between", "escape", "when", "then", "else",
    "case", "end", "div", "mod", "null", "true", "false", "unknown",
    "interval", "distinct", "all", "over", "asc", "desc")

  /** Connector keywords after which an expression CONTINUES — a bare
    * identifier following one of these is an operand, not an alias. */
  private val exprConnectors = Set("and", "or", "xor", "not", "is", "in",
    "like", "ilike", "rlike", "between", "escape", "when", "then", "else",
    "case", "div", "mod", "select", "distinct", "all", "on", "by", "as",
    "interval", "over")

  /** `SELECT true c1, int16(3) c2` — an alias with no AS
    * (const_query.yaml id 9; standard SQL implicit alias). The trailing
    * token is an alias iff it is a plain identifier and the token
    * before it syntactically COMPLETES an expression (identifier,
    * literal, or ')'). */
  private[sql] def splitImplicitAlias(
      toks: Vector[String]): (Vector[String], Option[String]) = {
    if (toks.length < 2) return (toks, None)
    val last = toks.last
    val prev = toks(toks.length - 2)
    def identLike(t: String): Boolean =
      t.headOption.exists(c => c.isLetter || c == '_')
    // a back-quoted token is always a legal alias, even a keyword
    val lastOk = (last.length > 2 && last.head == '`') ||
      (identLike(last) && !nonAliasWords(last.toLowerCase))
    val prevOk = prev == ")" || isQuoted(prev) || isNumericLit(prev) ||
      (identLike(prev) && !exprConnectors(prev.toLowerCase))
    if (lastOk && prevOk) (toks.dropRight(1), Some(unq(last)))
    else (toks, None)
  }

  private def isStarProj(toks: Vector[String]): Boolean =
    toks.lastOption.contains("*") && (toks.length == 1 ||
      (toks.length >= 3 && toks(toks.length - 2) == "."))
  private def starCol(toks: Vector[String]): Column = col(toks.mkString(""))

  private val dateFns = Set("month", "year", "day", "dayofmonth",
    "dayofweek", "dayofyear", "weekofyear", "week", "hour", "minute",
    "second")

  /** The engine's canonical timestamp is an int64-ms column (SURVEY
    * §1.2); Spark's date functions want TIMESTAMP. Wrap integral-typed
    * arguments of date functions in timestamp_millis so dialect queries
    * like month(std_ts + col2) analyze (udaf_query.yaml id 2). */
  private def coerceDateFns(toks: Vector[String], df: DataFrame): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (dateFns(toks(i).toLowerCase) && i + 1 < toks.length &&
          toks(i + 1) == "(") {
        val fnLow = toks(i).toLowerCase
        val close = matchClose(toks, i + 1)
        val inner = coerceDateFns(toks.slice(i + 2, close), df)
        // the reference's date parts accept TIMESTAMP (int64 ms here)
        // and — except hour/minute/second — DATE; anything else is a
        // type error (test_date.yaml ids 3/5)
        locally {
          import org.apache.spark.sql.types._
          resolveTypeCached(df, inner.mkString(" ")) match {
            case Some(DateType)
                if Set("hour", "minute", "second")(fnLow) =>
              throw new IllegalArgumentException(
                s"illegal operand type date for '$fnLow'")
            case Some(t @ (StringType | ShortType | IntegerType |
                FloatType | DoubleType | BooleanType)) =>
              throw new IllegalArgumentException(
                s"illegal operand type $t for '$fnLow'")
            case _ => ()
          }
        }
        out += toks(i); out += "("
        resolveTypeCached(df, inner.mkString(" ")) match {
          case Some(org.apache.spark.sql.types.LongType) =>
            // ms-epoch operand: date parts read the GMT+8 wall clock
            // (date_and_time_types.md; udf_query.yaml id 5 hour=10)
            out ++= Vector("from_utc_timestamp", "(", "timestamp_millis",
              "(") ++ inner ++ Vector(")", ",", "'GMT+8'", ")")
          case Some(org.apache.spark.sql.types.TimestampType) =>
            // native ts: shift the instant so UTC field extraction
            // reads the GMT+8 wall clock
            out ++= Vector("from_utc_timestamp", "(") ++ inner ++
              Vector(",", "'GMT+8'", ")")
          case _ => out ++= inner
        }
        out += ")"
        i = close + 1
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  private val cmpOpSet = Set("=", "==", "!=", "<>", "<", "<=", ">", ">=")
  private val arithOpSet = Set("+", "-", "*", "/", "%", "mod", "div")

  /** Operand type-coercion rules Spark lacks but the reference has
    * (hybridse/src/node/type_node.cc arithmetic/compare type rules):
    *
    *  - BOOLEAN operands of arithmetic/comparison operators coerce to
    *    numeric, false→0 / true→1 (test_arithmetic.yaml ids 0-4 `b9`,
    *    test_predicate.yaml id 0; Spark refuses bool±int outright)
    *  - unary minus on BOOLEAN is identity (test_arithmetic.yaml id 15)
    *  - TIMESTAMP (int64 ms in this engine, SURVEY §1.2) compared with
    *    STRING parses the string as a datetime — the reference corpus
    *    pins wall-clock strings to UTC+8 (test_predicate.yaml id 3:
    *    '2020-05-29 15:56:29' == 1590738989000)
    *
    * Only direct (possibly alias-dotted) column/literal operands are
    * rewritten — exactly the shapes the corpus exercises. */
  private[sql] def coerceOperands(toks: Vector[String], df: DataFrame): Vector[String] = {
    import org.apache.spark.sql.types._
    def resolveType(text: String): Option[DataType] =
      resolveTypeCached(df, text)
    def isIdentTok(t: String): Boolean =
      t.headOption.exists(c => c.isLetter || c == '_')
    // span [from, to] of a dotted-identifier primary ending at j
    def leftPrimary(j: Int): Option[(Int, Int)] = {
      if (j < 0) return None
      if (toks(j) == ")") {
        // call or parenthesized group: walk back to the matching open
        // paren, then take in a function name (with dotted prefix) if
        // one sits directly before it — `isnull(c_7_double) + bool`
        // must type the whole call (hybridsql_gen auto_gen_case_0)
        var d = 0; var k = j; var open = -1
        while (k >= 0 && open < 0) {
          if (toks(k) == ")") d += 1
          if (toks(k) == "(") { d -= 1; if (d == 0) open = k }
          k -= 1
        }
        if (open < 0) return None
        var start = open
        if (open - 1 >= 0 && isIdentTok(toks(open - 1))) {
          start = open - 1
          while (start - 2 >= 0 && toks(start - 1) == "." &&
            isIdentTok(toks(start - 2))) start -= 2
        }
        return Some((start, j))
      }
      if (!isIdentTok(toks(j))) return None
      var start = j
      while (start - 2 >= 0 && toks(start - 1) == "." &&
        isIdentTok(toks(start - 2))) start -= 2
      Some((start, j))
    }
    // span of a dotted-identifier primary starting at j (not a call)
    def rightPrimary(j: Int): Option[(Int, Int)] = {
      if (j >= toks.length || !isIdentTok(toks(j))) return None
      var end = j
      while (end + 2 < toks.length && toks(end + 1) == "." &&
        isIdentTok(toks(end + 2))) end += 2
      if (end + 1 < toks.length && toks(end + 1) == "(") None
      else Some((j, end))
    }
    def text(s: (Int, Int)): String =
      toks.slice(s._1, s._2 + 1).mkString(" ")
    def numName(t: DataType): Option[String] = t match {
      case ShortType   => Some("SMALLINT")
      case IntegerType => Some("INT")
      case LongType    => Some("BIGINT")
      case FloatType   => Some("FLOAT")
      case DoubleType  => Some("DOUBLE")
      case _           => None
    }
    def castTo(s: (Int, Int), name: String): Vector[String] =
      Vector("CAST", "(") ++ toks.slice(s._1, s._2 + 1) ++
        Vector("AS", name, ")")
    // TIMESTAMP is int64 ms here (SURVEY §1.2), indistinguishable from
    // BIGINT — compare long-vs-string by parsing the string when it
    // looks numeric or datetime (timestamp semantics, UTC+8 wall clock
    // pinned by the corpus) and lexicographically otherwise (the
    // reference's numeric-vs-string rule, test_predicate.yaml id 1 'bb')
    def hybridCmp(lSpan: (Int, Int), op: String, rSpan: (Int, Int),
        longOnLeft: Boolean): Vector[String] = {
      val (l, s) =
        if (longOnLeft) (text(lSpan), text(rSpan))
        else (text(rSpan), text(lSpan))
      def cmp(a: String, b: String) =
        if (longOnLeft) s"$a $op $b" else s"$b $op $a"
      Vector("( CASE " +
        s"WHEN TRIM($s) RLIKE '^-?[0-9]+\\\\.?[0-9]*$$' THEN " +
        cmp(s"CAST($l AS DOUBLE)", s"CAST($s AS DOUBLE)") + " " +
        s"WHEN to_timestamp($s) IS NOT NULL THEN " +
        cmp(l, s"unix_millis(to_utc_timestamp(to_timestamp($s), 'GMT+8'))") +
        " ELSE " + cmp(s"CAST($l AS STRING)", s) + " END )")
    }
    // ---- logic-operator truthiness (reference coerces any operand
    // type: numeric ≠ 0, string non-empty, date non-null;
    // test_logic.yaml ids 0-4) ----
    val stopFwd = Set("and", "or", "xor", "as", "from", "where", "group",
      "order", "limit", "window", "having", "when", "then", "else", "end",
      "on", "union", "between", ",")
    val stopBwd = Set("and", "or", "xor", "not", "!", "select", ",",
      "when", "then", "else", "case", "where", "on", "by", "is")
    def rightLogicSpan(j: Int): Option[(Int, Int)] = {
      // a BETWEEN inside the span extends it through its bound-AND:
      // `x AND id BETWEEN 1 AND 4` must span `id BETWEEN 1 AND 4`
      // (boolean — no truthification), not truthify the bare `id`
      var depth = 0; var k = j; var end = -1; var pendingBetween = 0
      while (k < toks.length && end < 0) {
        val low = toks(k).toLowerCase
        if (toks(k) == "(") depth += 1
        else if (toks(k) == ")") { if (depth == 0) end = k - 1 else depth -= 1 }
        else if (depth == 0 && low == "between") pendingBetween += 1
        else if (depth == 0 && low == "and" && pendingBetween > 0)
          pendingBetween -= 1
        else if (depth == 0 && stopFwd(low)) end = k - 1
        if (end < 0) k += 1
      }
      if (end < 0) end = toks.length - 1
      if (end < j) None else Some((j, end))
    }
    def leftLogicSpan(j: Int): Option[(Int, Int)] = {
      var depth = 0; var k = j; var start = -1
      while (k >= 0 && start < 0) {
        val low = toks(k).toLowerCase
        if (toks(k) == ")") depth += 1
        else if (toks(k) == "(") { if (depth == 0) start = k + 1 else depth -= 1 }
        // an AND that belongs to a BETWEEN is a bound separator, not a
        // boundary — keep scanning left past the whole between-expr
        else if (depth == 0 && low == "and" && isBetweenAnd(k)) ()
        else if (depth == 0 && stopBwd(low)) start = k + 1
        if (start < 0) k -= 1
      }
      if (start < 0) start = 0
      if (start > j) None else Some((start, j))
    }
    // an AND whose backward scan hits BETWEEN first is a frame bound
    def isBetweenAnd(i: Int): Boolean = {
      var depth = 0; var k = i - 1
      while (k >= 0) {
        val low = toks(k).toLowerCase
        if (toks(k) == ")") depth += 1
        else if (toks(k) == "(") { if (depth == 0) return false else depth -= 1 }
        else if (depth == 0 && low == "between") return true
        else if (depth == 0 && stopBwd(low)) return false
        k -= 1
      }
      false
    }
    def truthyText(t: String, dt: DataType): String = dt match {
      case BooleanType => s"( $t )"
      case StringType  => s"( length( $t ) > 0 )"
      case DateType    =>
        s"( CASE WHEN ( $t ) IS NULL THEN CAST(NULL AS BOOLEAN) ELSE TRUE END )"
      case TimestampType => s"( unix_millis( $t ) <> 0 )"
      case _           => s"( ( $t ) <> 0 )"
    }
    val truthyTypes: Set[DataType] = Set(ShortType, IntegerType, LongType,
      FloatType, DoubleType, StringType, DateType, TimestampType)

    case class Edit(from: Int, to: Int, repl: Vector[String])
    val edits = scala.collection.mutable.LinkedHashMap[Int, Edit]()
    def addEdit(s: (Int, Int), repl: Vector[String]): Unit =
      if (!edits.contains(s._1)) edits(s._1) = Edit(s._1, s._2, repl)
    var i = 0
    while (i < toks.length) {
      val low = toks(i).toLowerCase
      val isCmp = cmpOpSet(toks(i))
      val isArith = arithOpSet(low)
      if ((low == "and" || low == "or" || low == "xor") && !isBetweenAnd(i)) {
        val ls = leftLogicSpan(i - 1)
        val rs = rightLogicSpan(i + 1)
        val tL = ls.flatMap(s => resolveType(text(s)))
        val tR = rs.flatMap(s => resolveType(text(s)))
        if (low == "xor" && ls.isDefined && rs.isDefined &&
            tL.exists(t => truthyTypes(t) || t == BooleanType) &&
            tR.exists(t => truthyTypes(t) || t == BooleanType)) {
          // Spark has no boolean XOR operator; `<>` over the coerced
          // booleans is exactly three-valued XOR (test_logic.yaml id 2)
          addEdit((ls.get._1, rs.get._2),
            Vector("( " + truthyText(text(ls.get), tL.get) + " <> " +
              truthyText(text(rs.get), tR.get) + " )"))
        } else {
          ls.foreach { s => tL.foreach { t =>
            if (truthyTypes(t)) addEdit(s, Vector(truthyText(text(s), t))) } }
          rs.foreach { s => tR.foreach { t =>
            if (truthyTypes(t)) addEdit(s, Vector(truthyText(text(s), t))) } }
        }
      } else if ((low == "not" || toks(i) == "!") &&
          !(i > 0 && toks(i - 1).toLowerCase == "is")) {
        rightLogicSpan(i + 1).foreach { s =>
          resolveType(text(s)).foreach { t =>
            if (truthyTypes(t)) addEdit(s, Vector(truthyText(text(s), t))) } }
      } else if ((low == "like" || low == "ilike") &&
          !(i + 1 < toks.length && toks(i + 1) == "(")) {
        // LIKE/ILIKE as an operator: the pattern must be a non-null
        // string and the matched operand must be STRING-typed — the
        // reference's planner rejects both (test_like.yaml ids 17/19-26)
        if (i + 1 < toks.length && toks(i + 1).equalsIgnoreCase("null"))
          throw new IllegalArgumentException(
            s"$low pattern must not be NULL")
        val lhsEnd =
          if (i > 0 && toks(i - 1).equalsIgnoreCase("not")) i - 2 else i - 1
        leftPrimary(lhsEnd).foreach { s =>
          resolveType(text(s)).foreach { t =>
            if (t != StringType && t != NullType)
              throw new IllegalArgumentException(
                s"illegal operand type $t for '$low' (string required)") } }
      } else if (toks(i) == "&" || toks(i) == "|" || toks(i) == "^" ||
          toks(i) == "~") {
        // bitwise operators demand integral operands
        // (test_arithmetic.yaml bitwise_*_fail)
        val badBit: Set[DataType] =
          Set(FloatType, DoubleType, StringType, DateType, BooleanType,
            TimestampType)
        val sides = Seq(leftPrimary(i - 1), rightPrimary(i + 1)).flatten
        sides.foreach { s =>
          resolveType(text(s)).foreach { t =>
            if (badBit(t)) throw new IllegalArgumentException(
              s"illegal operand type $t for bitwise '${toks(i)}'") } }
      } else if (isCmp || isArith) {
        val binary = i > 0 && {
          val p = toks(i - 1)
          p == ")" || p.headOption.exists(c =>
            c.isLetterOrDigit || c == '_' || c == '\'' || c == '"')
        }
        val lp = if (binary) leftPrimary(i - 1) else None
        val rp = rightPrimary(i + 1)
        if (!binary && low == "-") {
          rp.foreach { r =>
            val t = resolveType(text(r))
            if (t.contains(BooleanType))
              addEdit((i, i), Vector.empty) // -bool = bool
            // the reference rejects unary minus on strings/dates/
            // timestamps (test_arithmetic.yaml id 16); Spark would
            // cast a string to double
            if (t.contains(StringType) || t.contains(DateType) ||
                t.contains(TimestampType))
              throw new IllegalArgumentException(
                s"illegal operand type ${t.get} for unary '-'")
          }
        } else if (binary) {
          val tL = lp.flatMap(s => resolveType(text(s)))
          val tR = rp.flatMap(s => resolveType(text(s)))
          // the reference's type checker rejects arithmetic over
          // strings — Spark's non-ANSI coercion would silently cast to
          // double (test_arithmetic.yaml id 9, expect success:false).
          // Comparisons with strings stay legal: the string parses as
          // a number/bool (test_predicate.yaml ids 0/1/6).
          def illegal(side: Option[DataType]): Unit =
            throw new IllegalArgumentException(
              s"illegal operand type ${side.get} for '${toks(i)}'")
          if (isArith && (tL.contains(StringType) || tR.contains(StringType)))
            illegal(if (tL.contains(StringType)) tL else tR)
          // DATE arithmetic is illegal too (test_arithmetic.yaml ids
          // 10/14 — Spark's non-ANSI date + int would be date_add)
          if (isArith && (tL.contains(DateType) || tR.contains(DateType)))
            illegal(if (tL.contains(DateType)) tL else tR)
          // TIMESTAMP rules (type_node.cc; test_arithmetic ids 9/11/12,
          // test_predicate ids 2/4): `ts + integral`, `integral + ts`
          // and `ts - integral` shift the instant by ms (udaf_query.yaml
          // id 2 month(std_ts + col2)); every other ts arithmetic is a
          // type error — including ts - ts, which Spark would happily
          // turn into an interval. Comparisons: ts-vs-ts is native,
          // ts-vs-string parses the string at GMT+8, ts-vs-anything
          // else (incl. date, which Spark would implicitly cast) errors.
          locally {
            // numeric literals are not dotted primaries, but `ts + 1`
            // must still shift (udaf_query.yaml id 2 month(std_ts+1))
            val lp2 = lp.orElse(
              if (binary && i > 0 && isNumericLit(toks(i - 1)))
                Some((i - 1, i - 1))
              else None)
            val rp2 = rp.orElse(
              if (i + 1 < toks.length && isNumericLit(toks(i + 1)))
                Some((i + 1, i + 1))
              else None)
            val tL2 = lp2.flatMap(s => resolveType(text(s)))
            val tR2 = rp2.flatMap(s => resolveType(text(s)))
            val tsL = tL2.contains(TimestampType)
            val tsR = tR2.contains(TimestampType)
            val integral: Set[DataType] =
              Set(ShortType, IntegerType, LongType)
            if ((tsL || tsR) && isArith) {
              // legal forms (test_arithmetic ids 5/7/8): ts + integral/
              // bool/ts (either side), ts - integral/bool. The result
              // is a TIMESTAMP of the ms arithmetic (b7 = ts + ts =
              // 3181477978001). ts - ts and everything else errors
              // (ids 9/11/12/18/19).
              val addable: Option[DataType] => Boolean =
                t => t.exists(x => integral(x) || x == BooleanType)
              val shift =
                (low == "+" && ((tsL && tsR) ||
                  addable(if (tsL) tR2 else tL2))) ||
                (low == "-" && tsL && !tsR && addable(tR2))
              val otherDefined = (tsL && tsR) ||
                (if (tsL) tR2 else tL2).isDefined
              if (!shift && otherDefined) illegal(if (tsL) tL2 else tR2)
              if (shift) {
                def ms(span: (Int, Int), isTs: Boolean): Vector[String] =
                  if (isTs)
                    Vector("unix_millis", "(") ++
                      toks.slice(span._1, span._2 + 1) ++ Vector(")")
                  else
                    Vector("CAST", "(") ++
                      toks.slice(span._1, span._2 + 1) ++
                      Vector("AS", "BIGINT", ")")
                addEdit((lp2.get._1, rp2.get._2),
                  Vector("timestamp_millis", "(") ++
                    ms(lp2.get, tsL) ++ Vector(low) ++
                    ms(rp2.get, tsR) ++ Vector(")"))
              }
              // !shift && !otherDefined: unresolvable side, leave as-is
            } else if ((tsL || tsR) && isCmp && !(tsL && tsR)) {
              // the naive primary span may be just the tail of a ts
              // SHIFT already edited in (`c7 - 1000 >= t1.x7` sees
              // "1000" as the left operand, but the - edit made the
              // whole left side a TIMESTAMP —
              // cluster/window_and_lastjoin.yaml ids 6/7)
              def editedTs(p: Option[(Int, Int)]): Boolean =
                p.exists { case (s, e) => edits.values.exists(ed =>
                  ed.from <= s && e <= ed.to &&
                    ed.repl.headOption.contains("timestamp_millis")) }
              if (editedTs(if (tsL) rp2 else lp2)) ()
              else {
              val otherT = if (tsL) tR2 else tL2
              val tsSpan = if (tsL) lp2 else rp2
              if (otherT.contains(StringType))
                // ts-vs-string compares LEXICOGRAPHICALLY on the GMT+8
                // wall-clock rendering (test_predicate.yaml ids 0/3:
                // '10' < string(ts) because '1' < '2')
                tsSpan.foreach(s => addEdit(s,
                  Vector("date_format", "(", "from_utc_timestamp", "(") ++
                    toks.slice(s._1, s._2 + 1) ++
                    Vector(",", "'GMT+8'", ")", ",",
                      "'yyyy-MM-dd HH:mm:ss'", ")")))
              else if (otherT.exists(t => t != NullType))
                illegal(if (tsL) tR2 else tL2)
              }
            }
          }
          if (low == "mod") addEdit((i, i), Vector("%"))
          (tL, tR) match {
            // bool ⊕ literal NULL keeps BOOLEAN (test_arithmetic.yaml
            // id 20 r38-r42: c7 + NULL is a null bool; / yields double)
            case (Some(NullType), Some(BooleanType)) if isArith =>
              edits.remove(i)
              addEdit((lp.get._1, rp.get._2),
                Vector(if (low == "/") "CAST ( NULL AS DOUBLE )"
                       else "CAST ( NULL AS BOOLEAN )"))
            case (Some(BooleanType), Some(NullType)) if isArith =>
              edits.remove(i)
              addEdit((lp.get._1, rp.get._2),
                Vector(if (low == "/") "CAST ( NULL AS DOUBLE )"
                       else "CAST ( NULL AS BOOLEAN )"))
            case (Some(BooleanType), Some(BooleanType))
                if isArith && low != "/" =>
              // bool⊕bool stays BOOLEAN in the reference (false+true =
              // true, test_arithmetic.yaml id 5 provider 3 b9)
              val op = if (low == "mod") "%" else toks(i)
              edits.remove(i) // subsume the MOD edit into the wide one
              addEdit((lp.get._1, rp.get._2),
                Vector("CAST ( CAST ( " + text(lp.get) + " AS INT ) " + op +
                  " CAST ( " + text(rp.get) + " AS INT ) AS BOOLEAN )"))
            case (Some(BooleanType), Some(BooleanType)) if isArith =>
              addEdit(lp.get, castTo(lp.get, "INT"))
              addEdit(rp.get, castTo(rp.get, "INT"))
            case (Some(BooleanType), other)
                if other.forall(t => numName(t).isDefined) =>
              addEdit(lp.get,
                castTo(lp.get, other.flatMap(numName).getOrElse("INT")))
            case (other, Some(BooleanType))
                if other.forall(t => numName(t).isDefined) =>
              addEdit(rp.get,
                castTo(rp.get, other.flatMap(numName).getOrElse("INT")))
            case (Some(LongType), Some(StringType)) if isCmp =>
              addEdit((lp.get._1, rp.get._2),
                hybridCmp(lp.get, toks(i), rp.get, longOnLeft = true))
            case (Some(StringType), Some(LongType)) if isCmp =>
              addEdit((lp.get._1, rp.get._2),
                hybridCmp(lp.get, toks(i), rp.get, longOnLeft = false))
            // numeric/date/bool vs string compare lexicographically —
            // the reference casts the non-string side to string
            // (test_predicate.yaml ids 0/1/6)
            case (Some(t), Some(StringType))
                if isCmp && (numName(t).isDefined ||
                  t == DateType || t == BooleanType) =>
              addEdit(lp.get, castTo(lp.get, "STRING"))
            case (Some(StringType), Some(t))
                if isCmp && (numName(t).isDefined ||
                  t == DateType || t == BooleanType) =>
              addEdit(rp.get, castTo(rp.get, "STRING"))
            case _ => ()
          }
        }
      }
      i += 1
    }
    var out = toks
    edits.values.toSeq.sortBy(-_.from).foreach { e =>
      out = out.patch(e.from, e.repl, e.to - e.from + 1)
    }
    out
  }

  // ------------------------------------------------------------------
  // Plan-time type probes, memoized. The dialect rewrites
  // (rewriteDialect / coerceOperands / coerceDateFns) resolve operand
  // types by analyzing tiny `df.select(expr(text))` plans — dozens per
  // query, each a full analyzer pass. The result is deterministic per
  // (resolved output attributes, text), so memoize globally: repeated
  // planning of the same query (request serving, benchmark re-runs)
  // skips every probe. Mirrors the reference's compiled-query LRU
  // (hybridse/src/vm/engine.cc EngineLRUCache) at the analysis level.
  // ------------------------------------------------------------------
  private val typeProbeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Option[org.apache.spark.sql.types.DataType]]()
  // full rendered attribute list, not its hashCode — a 32-bit collision
  // between two schemas probing the same text would silently return the
  // wrong type and mis-rewrite the query
  private[sql] def probeKey(df: DataFrame): String =
    df.queryExecution.analyzed.output
      .map(a => s"${a.qualifier.mkString(".")}:${a.name}:${a.dataType.sql}")
      .mkString(";")
  private[sql] def resolveTypeCached(df: DataFrame, text: String)
      : Option[org.apache.spark.sql.types.DataType] = {
    if (typeProbeCache.size > 65536) typeProbeCache.clear()
    typeProbeCache.computeIfAbsent((probeKey(df), text), _ =>
      try Some(df.select(expr(text)).schema.head.dataType)
      catch { case _: Throwable => None })
  }

  // one-time per-session registration of dialect functions for SQL text
  private[sql] def ensureFunctions(spark: SparkSession): Unit = {
    val st = SessionState.of(spark)
    synchronized {
      if (!st.functionsRegistered) {
        st.functionsRegistered = true
        // the dialect is non-ANSI: x % 0 and x DIV 0 are NULL, failable
        // casts are NULL, integral overflow wraps (test_arithmetic.yaml
        // ids 0-4/17, docs/en/openmldb_sql/functions_and_operators)
        spark.conf.set("spark.sql.ansi.enabled", "false")
        // duplicate map keys are legal (reference keeps the first match;
        // pair order is reversed at rewrite so LAST_WIN yields it)
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        graft.functions.GraftScalars.registerAll(spark)
        graft.functions.GraftAggregates.registerAll(spark)
      }
    }
  }

  private val whereBases = Set("sum", "count", "avg", "min", "max")
  private val intTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.ShortType,
    org.apache.spark.sql.types.LongType)

  /** split tokens at depth-0 commas */
  private def splitTokenArgs(toks: Vector[String]): Seq[Vector[String]] = {
    val out = Seq.newBuilder[Vector[String]]
    var depth = 0; var cur = Vector.newBuilder[String]
    toks.foreach { t =>
      if (t == "(" || t == "[") depth += 1
      if (t == ")" || t == "]") depth -= 1
      if (t == "," && depth == 0) { out += cur.result(); cur = Vector.newBuilder }
      else cur += t
    }
    val last = cur.result()
    if (last.nonEmpty) out += last
    out.result()
  }

  /** Dialect aggregate families in arbitrary expression positions:
    *  - {sum,count,avg,min,max}_where(v, cond) -> base(CASE WHEN cond
    *    THEN v END) (udf_registry *_where UDAFs; group_query.yaml id 7)
    *  - {sum,min,max}_cate(v, k) over an integral v renames to the
    *    integer-formatting registration (group_query.yaml id 8 expects
    *    "aa:160" for a bigint value column). */
  private def rewriteAggFns(toks: Vector[String], df: DataFrame,
      winBound: Boolean = false, grouped: Boolean = false): Vector[String] = {
    // a TIMESTAMP category key renders as its GMT+8 wall clock
    // ("2020-05-29 15:56:30":v — test_udaf_function ids 20-24/27-31)
    def tsKeyRender(a: Vector[String]): Vector[String] =
      resolveTypeCached(df, a.mkString(" ")) match {
        case Some(org.apache.spark.sql.types.TimestampType) =>
          Vector("date_format", "(", "from_utc_timestamp", "(") ++ a ++
            Vector(",", "'GMT+8'", ")", ",", "'yyyy-MM-dd HH:mm:ss'", ")")
        case _ => a
      }
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      val t = toks(i).toLowerCase
      val isCall = i + 1 < toks.length && toks(i + 1) == "("
      val userAgg =
        if (isCall)
          SessionState.of(df.sparkSession).userFns.get(t).filter(_.isAggregate)
          // `fn(v) OVER w` belongs to the window planner (the window
          // dispatch folds the frame array) — only bare calls expand
          // to the grouped collect_list fold here. The projection's
          // OVER is parsed out of the token stream (pr.over), so a
          // window-bound projection whose HEAD call is this function
          // signals via winBound; an inline `... over` token covers
          // nested forms.
          .filterNot(_ =>
            (winBound && i == 0 && toks(1) == "(" &&
              matchClose(toks, 1) == toks.length - 1) ||
            toks.lift(matchClose(toks, i + 1) + 1)
              .exists(_.equalsIgnoreCase("over")))
        else None
      if (userAgg.isDefined) {
        // registered CREATE AGGREGATE FUNCTION: expand the call site to
        // its codegen'd higher-order fold (see registerUserFn scaladoc)
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(rewriteAggFns(toks.slice(i + 2, close), df))
        require(args.length == userAgg.get.params.length,
          s"$t expects ${userAgg.get.params.length} argument(s)")
        // emitted as ONE opaque token: the fold body holds lambda
        // arrows and literals the dialect tokenizer must not re-split
        out += udafGroupedSql(userAgg.get, args.head.mkString(" "))
        i = close + 1
      } else if (isCall && grouped &&
          Set("distinct_count", "topn_frequency", "top", "ew_avg",
            "heavy_hitters")(t) &&
          // belt-and-braces: never touch a window-bound call (grouped
          // selects cannot carry OVER in this dialect, but guard anyway)
          !toks.lift(matchClose(toks, i + 1) + 1)
            .exists(_.equalsIgnoreCase("over"))) {
        import org.apache.spark.sql.types._
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(rewriteAggFns(toks.slice(i + 2, close), df))
        val argSql = args.map(_.mkString(" "))
        t match {
          case "distinct_count" =>
            require(args.length == 1, "distinct_count expects (value)")
            val x0 = argSql.head
            // NULL counts as a distinct value (test_udaf_function id 5);
            // a bool NULL reads as false first (id 6)
            val x = if (resolveTypeCached(df, x0).contains(BooleanType))
              s"coalesce($x0, false)" else x0
            out += s"( count ( DISTINCT $x ) + " +
              s"CAST(max(CASE WHEN ($x) IS NULL THEN 1 ELSE 0 END) AS BIGINT) )"
          case "topn_frequency" =>
            require(args.length == 2, "topn_frequency expects (value, n)")
            val n = argSql(1).trim.toInt
            // same formula as the frame dispatch (WindowOps
            // .aggTopNFrequency) over the group's collected values;
            // grouped groups always have rows, so short key lists pad
            // with "NULL" to n entries
            val vv = s"collect_list(CAST(${argSql.head} AS STRING))"
            out += "array_join(concat(" +
              s"slice(transform(array_sort(transform(array_distinct($vv), " +
              s"__d -> struct(-size(filter($vv, __y -> __y = __d)) AS negc, " +
              s"__d AS k))), __e -> __e.k), 1, $n), " +
              s"array_repeat('NULL', greatest($n - size(array_distinct($vv)), 0))" +
              "), ',')"
          case "top" =>
            require(args.length == 2, "top expects (value, k)")
            val k = argSql(1).trim.toInt
            val integral = resolveTypeCached(df, argSql.head).exists(intTypes)
            val fmt =
              if (integral) "CAST(CAST(__x AS BIGINT) AS STRING)"
              else "format_string('%.6f', CAST(__x AS DOUBLE))"
            out += "array_join(transform(slice(reverse(array_sort(" +
              s"collect_list(${argSql.head}))), 1, $k), __x -> $fmt), ',')"
          case "ew_avg" =>
            // exponential weights need a row order; grouped aggregation
            // has none (the reference iterates its ts index) — direct
            // users to the windowed form
            throw new IllegalArgumentException(
              "ew_avg requires an ordered frame: use ew_avg(value, alpha) OVER w")
          case "heavy_hitters" =>
            // engine extension (pipeline surface in SQL): Misra–Gries
            // heavy-hitters sketch as a grouped aggregate —
            // heavy_hitters(x, k) → map<string, bigint> of ≤k survivors
            // with the mergeable-summaries undercount guarantee
            // (functions/Aggregates.HeavyHitters). k counters shuffle
            // per partition instead of every distinct term.
            require(args.length == 2, "heavy_hitters expects (value, k)")
            val k = argSql(1).trim.toInt
            require(k >= 1, s"heavy_hitters capacity must be >= 1, got $k")
            out += s"( __graft_heavy_hitters(CAST(${argSql.head} " +
              s"AS STRING), $k) ).m"
        }
        i = close + 1
      } else if (isCall && t.endsWith("_where") &&
          whereBases(t.stripSuffix("_where"))) {
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(rewriteAggFns(toks.slice(i + 2, close), df))
        require(args.length == 2, s"$t expects (value, condition)")
        // sum/avg/max/min_where take NUMERIC values only
        // (test_udaf_function.yaml id 18)
        if (t != "count_where") {
          import org.apache.spark.sql.types._
          resolveTypeCached(df, args(0).mkString(" ")) match {
            case Some(v @ (StringType | DateType | BooleanType |
                TimestampType)) =>
              throw new IllegalArgumentException(
                s"illegal value type $v for '$t'")
            case _ => ()
          }
        }
        // count_where(*, cond) counts rows: a star is not legal inside
        // CASE (test_udaf_function.yaml id 17)
        val v0 = if (args(0) == Vector("*")) Vector("1") else args(0)
        out += t.stripSuffix("_where")
        out ++= Vector("(", "CASE", "WHEN") ++ args(1) ++
          Vector("THEN") ++ v0 ++ Vector("END", ")")
        i = close + 1
      } else if (isCall &&
          (t.startsWith("top_n_key_") || t.startsWith("top_n_value_")) &&
          (t.endsWith("_cate_where") || t.endsWith("_ratio_cate"))) {
        // top_n_{key|value}_{m}_cate_where(v, cond, k, n) and the
        // ratio variants → the n-aware SQL UDAFs over a
        // condition-masked key (sum_by_category_def.cc:275-305;
        // key variants order by key DESC, value variants by aggregate
        // value DESC; ratio = per-key row share)
        val byValue = t.startsWith("top_n_value_")
        val m = t.stripPrefix("top_n_key_").stripPrefix("top_n_value_")
          .stripSuffix("_cate_where").stripSuffix("_cate")
        val fam = if (byValue) "topnv" else "topnk"
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(rewriteAggFns(toks.slice(i + 2, close), df))
        require(args.length == 4, s"$t expects (value, cond, key, n)")
        // type rules (test_udaf_function.yaml ids 39/40): numeric
        // values only; float/double/bool keys rejected
        locally {
          import org.apache.spark.sql.types._
          // count/ratio ignore the value's magnitude — any type counts
          if (m != "count" && m != "ratio")
            resolveTypeCached(df, args(0).mkString(" ")) match {
              case Some(v @ (StringType | DateType | BooleanType |
                  TimestampType)) =>
                throw new IllegalArgumentException(
                  s"illegal value type $v for '$t'")
              case _ => ()
            }
          resolveTypeCached(df, args(2).mkString(" ")) match {
            case Some(v @ (FloatType | DoubleType | BooleanType)) =>
              throw new IllegalArgumentException(
                s"illegal key type $v for '$t'")
            case _ => ()
          }
        }
        if (m == "ratio") {
          // ratio = per-key fraction of rows matching the condition
          // (matched/total) — exactly an AVG over the 0/1 indicator
          // with the key UNmasked (test_udaf_function.yaml id 66)
          out += s"__graft_${fam}_avg"
          out ++= Vector("(", "CAST", "(") ++ tsKeyRender(args(2)) ++
            Vector("AS", "STRING", ")", ",",
              "CAST", "(", "CASE", "WHEN") ++ args(1) ++
            Vector("THEN", "1.0D", "ELSE", "0.0D", "END",
              "AS", "DOUBLE", ")", ",", "CAST", "(") ++
            args(3) ++ Vector("AS", "INT", ")", ")")
        } else {
          val integral =
            resolveTypeCached(df, args(0).mkString(" ")).exists(intTypes)
          out += (if (integral) s"__graft_${fam}_${m}_int"
                  else s"__graft_${fam}_$m")
          // count mode: only the value's NULL-ness matters (the value
          // may be any type — id 62 counts a string column)
          val vToks: Vector[String] =
            if (m == "count")
              Vector("CAST", "(", "CASE", "WHEN", "(") ++ args(0) ++
                Vector(")", "IS", "NOT", "NULL", "THEN", "1.0D", "END",
                  "AS", "DOUBLE", ")")
            else Vector("CAST", "(") ++ args(0) ++
              Vector("AS", "DOUBLE", ")")
          out ++= Vector("(", "CAST", "(", "CASE", "WHEN") ++ args(1) ++
            Vector("THEN") ++ tsKeyRender(args(2)) ++
            Vector("END", "AS", "STRING", ")", ",") ++ vToks ++
            Vector(",", "CAST", "(") ++
            args(3) ++ Vector("AS", "INT", ")", ")")
        }
        i = close + 1
      } else if (isCall && t.endsWith("_cate_where") &&
          Set("sum", "count", "avg", "min", "max")(
            t.stripSuffix("_cate_where"))) {
        // {m}_cate_where(v, cond, k): the condition masks the KEY —
        // non-matching rows contribute no category
        // (sum_by_category_def.cc CateWhere; q_cate_where's shape)
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(rewriteAggFns(toks.slice(i + 2, close), df))
        require(args.length == 3, s"$t expects (value, cond, key)")
        out ++= rewriteAggFns(
          Vector(t.stripSuffix("_where"), "(") ++ args(0) ++
            Vector(",", "CASE", "WHEN") ++ args(1) ++
            Vector("THEN") ++ tsKeyRender(args(2)) ++
            Vector("END", ")"), df)
        i = close + 1
      } else if (isCall && t == "topn_frequency" && {
        val close = matchClose(toks, i + 1)
        splitTokenArgs(toks.slice(i + 2, close)).headOption.exists(a =>
          resolveTypeCached(df, a.mkString(" ")) match {
            case Some(org.apache.spark.sql.types.FloatType |
                org.apache.spark.sql.types.DoubleType) => true
            case _ => false
          })
      }) {
        // float/double keys render with C printf %f ("1.100000")
        // in the reference's topn_frequency output
        // (test_feature_zero_function.yaml id 4 r4/r5)
        val close = matchClose(toks, i + 1)
        val as = splitTokenArgs(rewriteAggFns(toks.slice(i + 2, close), df))
        out += "topn_frequency"; out += "("
        // NULL stays NULL — format_string would print "null"
        out ++= Vector("CASE", "WHEN", "(") ++ as.head ++
          Vector(")", "IS", "NULL", "THEN", "CAST", "(", "NULL", "AS",
            "STRING", ")", "ELSE", "format_string", "(", "'%f'", ",") ++
          as.head ++ Vector(")", "END")
        as.tail.foreach { a => out += ","; out ++= a }
        out += ")"
        i = close + 1
      } else if (isCall && t == "sum" && {
        val close = matchClose(toks, i + 1)
        resolveTypeCached(df, toks.slice(i + 2, close).mkString(" "))
          .contains(org.apache.spark.sql.types.TimestampType)
      }) {
        // sum over TIMESTAMP returns a TIMESTAMP of the summed ms
        // (test_udaf_function.yaml id 7 sum-timestamp); an immediately
        // following OVER clause stays inside the timestamp_millis wrap
        val close = matchClose(toks, i + 1)
        val arg = rewriteAggFns(toks.slice(i + 2, close), df)
        var end = close
        if (close + 1 < toks.length &&
            toks(close + 1).equalsIgnoreCase("OVER"))
          end = if (close + 2 < toks.length && toks(close + 2) == "(")
            matchClose(toks, close + 2)
          else close + 2
        out ++= Vector("timestamp_millis", "(", "sum", "(",
          "unix_millis", "(") ++ arg ++ Vector(")", ")") ++
          toks.slice(close + 1, end + 1) ++ Vector(")")
        i = end + 1
      } else if (isCall && t.endsWith("_cate") &&
          Set("sum", "count", "avg", "min", "max")(t.stripSuffix("_cate"))) {
        val close = matchClose(toks, i + 1)
        val args = splitTokenArgs(toks.slice(i + 2, close))
        // type rules (test_udaf_function.yaml ids 25/26): numeric
        // values; no float/double/bool keys
        locally {
          import org.apache.spark.sql.types._
          args.headOption.foreach { a =>
            resolveTypeCached(df, a.mkString(" ")) match {
              case Some(v @ (StringType | DateType | BooleanType |
                  TimestampType)) =>
                throw new IllegalArgumentException(
                  s"illegal value type $v for '$t'")
              case _ => ()
            }
          }
          args.lift(1).foreach { a =>
            resolveTypeCached(df, a.mkString(" ")) match {
              case Some(v @ (FloatType | DoubleType | BooleanType)) =>
                throw new IllegalArgumentException(
                  s"illegal key type $v for '$t'")
              case _ => ()
            }
          }
        }
        val integral = args.headOption.exists { a =>
          resolveTypeCached(df, a.mkString(" ")).exists(intTypes)
        }
        val renamed = Set("sum", "min", "max")(t.stripSuffix("_cate"))
        out += (if (integral && renamed) s"__graft_$t" + "_int" else t)
        out += "("
        args.zipWithIndex.foreach { case (a, ai) =>
          if (ai > 0) out += ","
          out ++= (if (ai == 1) tsKeyRender(a) else a)
        }
        out += ")"
        i = close + 1
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Detect a pure equi-conjunction join condition; returns
    * (leftExprText, rightColumnName) pairs when every conjunct is
    * `<left> = <rightQual>.<col>` (either side order), or
    * `<left> = <col>` with a BARE right column name that cannot refer
    * to the left frame (unambiguous — the dimension-join shape
    * `ON user_id = c_custkey`; an ambiguous bare name keeps the
    * general path). */
  private def equiKeys(cond: String, rightQual: String,
      rightCols: Set[String],
      leftCols: Set[String] = Set.empty): Option[Seq[(String, String)]] = {
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    val leftLower = leftCols.map(_.toLowerCase)
    val out = Seq.newBuilder[(String, String)]
    for (part <- cond.split("(?i)\\bAND\\b").map(_.trim)) {
      // a bare `=` only: `>=` / `<=` / `!=` / `==` / `<=>` conjuncts are
      // not equi keys (last_join_window_query.yaml id 3 joins on
      // col1=col1 AND col5>=col5 — the >= must reach the general path)
      val sides = part.split("(?<![<>!=])=(?![=>])").map(_.trim)
      if (sides.length != 2) return None
      def rightKey(sd: String): Option[String] = {
        val m = s"$rightQual \\. ($ident)".r
        sd match {
          case m(c) if rightCols(c) => Some(c)
          case c if c.matches(ident) && rightCols(c) &&
              !leftLower(c.toLowerCase) => Some(c)
          case _ => None
        }
      }
      (rightKey(sides(0)), rightKey(sides(1))) match {
        case (Some(r), None) => out += ((sides(1).replace(" . ", "."), r))
        case (None, Some(r)) => out += ((sides(0).replace(" . ", "."), r))
        case _               => return None
      }
    }
    Some(out.result())
  }

  private def planAggregate(s: Select, df: DataFrame): DataFrame = {
    // the reference rejects grouping on floating-point keys
    // (function/v040/test_groupby.yaml ids 6-7 expect failure)
    s.groupBy.foreach { g =>
      val dt = resolveTypeCached(df, g).getOrElse(
        df.select(expr(g)).schema.head.dataType)
      if (dt == org.apache.spark.sql.types.FloatType ||
          dt == org.apache.spark.sql.types.DoubleType)
        throw new IllegalArgumentException(
          s"GROUP BY on a float/double key ('" + g + "') is unsupported")
    }
    val grouped = df.groupBy(s.groupBy.map(expr): _*)
    // hidden aliases: agg() auto-retains grouping columns, which would
    // collide with projections that re-select the group key by name
    val hidden = s.projs.indices.map(i => s"__graft_p$i")
    val aggCols = s.projs.zipWithIndex.map { case (pr, i) =>
      expr(rewriteAggFns(
        coerceDateFns(coerceOperands(pr.tokens, df), df), df,
        grouped = true).mkString(" "))
        .as(hidden(i)) }
    val hid = "__graft_having"
    val withHaving = s.having match {
      case None    => grouped.agg(aggCols.head, aggCols.tail: _*)
      case Some(h) =>
        // HAVING may reference aggregates not in the projection list —
        // compute it as a hidden aggregate column, filter, drop. The
        // condition gets the same grouped-dialect rewrite as the
        // projections: `HAVING count_where(c4, c3>20) > 1` is legal
        // (integration_test/select/test_full_table.yaml ids 3/4)
        val hExpr = expr(rewriteAggFns(
          coerceDateFns(coerceOperands(tokenize(h), df), df), df,
          grouped = true).mkString(" "))
        grouped.agg(aggCols.head, aggCols.tail :+ hExpr.as(hid): _*)
          .filter(col(hid))
    }
    withHaving.select(s.projs.zipWithIndex.map { case (pr, i) =>
      col(hidden(i)).as(projName(pr, i)) }: _*)
  }

  /** split "fn ( args )" into (fn, argText); argText "*" for count(*) */
  private[sql] def splitCall(t: String): (String, String) = {
    val i = t.indexOf('(')
    if (i < 0 || !t.endsWith(")")) ("", t)
    else (t.substring(0, i).trim.toLowerCase, t.substring(i + 1, t.length - 1).trim)
  }

  private def plainSpec(w: WinDef, uidTiebreak: Option[Column] = None,
      msBase: DataFrame = null,
      extraPart: Seq[Column] = Nil): WindowSpec = {
    val part = w.partition.map(expr) ++ extraPart
    // RANGE frames need a NUMERIC (ms) order key; with a typing base
    // a native TimestampType key converts via unix_millis
    def keyOf(o: String): Column =
      if (msBase != null && !w.isRows) orderMs(msBase, o) else expr(o)
    val ord0 = w.order.map(o => if (w.orderDesc) keyOf(o).desc else keyOf(o))
      .getOrElse(lit(1).asc)
    // ROWS frames tie-break on uid (ingestion order) so positions are
    // deterministic and at-or-before, matching the reference buffer
    val ord = uidTiebreak match {
      case Some(u) => Seq(ord0, if (w.orderDesc) u.desc else u.asc)
      case None    => Seq(ord0)
    }
    val base = Window.partitionBy(part: _*).orderBy(ord: _*)
    def loVal(b: Bound): Long = b match {
      case Unbounded     => Window.unboundedPreceding
      case CurrentRow    => 0L
      // OPEN excludes the boundary row: as a frame START that narrows
      // toward the current row (-(n-1)) ...
      case Prec(n, open) => -(n - (if (open) 1 else 0))
    }
    def hiVal(b: Bound): Long = b match {
      case Unbounded     => Window.unboundedPreceding
      case CurrentRow    => 0L
      // ... but as a frame END it narrows away from it (-(n+1))
      case Prec(n, open) => -(n + (if (open) 1 else 0))
    }
    val (lo, hi0) = (loVal(w.lo), hiVal(w.hi))
    // EXCLUDE CURRENT_ROW on a plain ROWS frame = end the frame one row
    // earlier (physical_op.h:1181-1186)
    val hi = if (w.exclCR && w.isRows) hi0 - 1 else hi0
    if (w.isRows) base.rowsBetween(lo, hi) else base.rangeBetween(lo, hi)
  }

  /** window_split family → the per-row scalar split UDF whose results
    * concatenate across the frame (feature_zero_def.cc window_split;
    * test_feature_zero_function.yaml). */
  private[sql] val windowSplitFns: Map[String, String] = Map(
    "window_split" -> "fz_split",
    "window_split_by_key" -> "fz_split_by_key",
    "window_split_by_value" -> "fz_split_by_value",
    "fz_window_split" -> "fz_split",
    "fz_window_split_by_key" -> "fz_split_by_key",
    "fz_window_split_by_value" -> "fz_split_by_value")

  private[sql] val extAggs = Set("sum", "count", "avg", "min", "max",
    "distinct_count", "lag", "at", "first_value", "last_value",
    "nth_value_where", "top1_ratio", "topn_frequency", "median",
    "ew_avg", "top", "drawdown") ++
    windowSplitFns.keySet

  /** split an argument list at top-level commas */
  private[sql] def splitArgs(t: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; val b = new StringBuilder
    t.foreach {
      case '(' => depth += 1; b.append('(')
      case ')' => depth -= 1; b.append(')')
      case '[' => depth += 1; b.append('[')
      case ']' => depth -= 1; b.append(']')
      case ',' if depth == 0 => out += b.toString.trim; b.clear()
      case c => b.append(c)
    }
    if (b.nonEmpty) out += b.toString.trim
    out.result()
  }

  /** Walk a SELECT's projections and pull out every `fn(args) OVER <w>`
    * sub-expression (top-level or nested inside scalar calls like
    * `round(sum(v) OVER w, 3)`), replacing each with a fresh
    * `__graft_wN` id. Returns (outer projection tokens with ids
    * substituted, the extracted (id, fnText, window) list). Shared by
    * the batch window planner and the streaming deploy compiler. */
  private[sql] def extractWinCalls(s: Select, base: DataFrame)
      : (Seq[Vector[String]], Seq[(String, String, WinDef)]) = {
    var counter = 0
    val winExprs = Seq.newBuilder[(String, String, WinDef)]
    def fresh(): String = { counter += 1; s"__graft_w$counter" }
    def resolveWin(ref: Either[String, WinDef]): WinDef = ref match {
      case Left(name) => s.windows.getOrElse(name,
        throw new IllegalArgumentException(s"undefined window '$name'"))
      case Right(w) => w
    }
    def matchingClose(toks: Vector[String], open: Int): Int = {
      var depth = 0; var j = open
      while (j < toks.length) {
        if (toks(j) == "(") depth += 1
        if (toks(j) == ")") { depth -= 1; if (depth == 0) return j }
        j += 1
      }
      throw new IllegalArgumentException("unbalanced parens in projection")
    }
    val navFns = Set("first_value", "last_value", "lag", "at")
    val aggHeads = Set("sum", "count", "avg", "min", "max", "distinct_count",
      "sum_where", "count_where", "avg_where", "min_where", "max_where")

    // every head that makes `fn(args) OVER w` a DIRECT window call; a
    // scalar wrapper head (`isnull(lag(c,1)) over w`,
    // spark/test_ads.yaml) instead distributes the window over the
    // naked window-fn calls inside its arguments
    val winHeads: Set[String] = aggHeads ++ navFns ++ extAggs ++
      Set("nth_value_where", "entropy", "drawdown", "ew_avg",
        "avg_cate", "sum_cate", "max_cate", "min_cate",
        "count_cate", "avg_cate_where", "sum_cate_where",
        "max_cate_where", "min_cate_where", "count_cate_where",
        "top_n_key_sum_cate_where", "top_n_key_avg_cate_where",
        "top_n_key_max_cate_where", "top_n_key_min_cate_where",
        "top_n_key_count_cate_where", "top_n_value_sum_cate_where",
        "top", "topn_frequency", "top1_ratio", "median",
        "window_split", "window_split_by_key",
        "window_split_by_value", "fz_window_split",
        "fz_window_split_by_key", "fz_window_split_by_value") ++
      aggHeads.map(_ + "_cate")

    // the dialect rewrite may already have renamed a cate/top-n family
    // call to its registered __graft_* UDAF before extraction
    // (auto_gen_case_0) — those are window heads too; so are the
    // session's CREATE AGGREGATE FUNCTION registrations
    def isWinHead(t: String): Boolean = winHeads(t) ||
      SessionState.of(base.sparkSession).userFns.get(t).exists(_.isAggregate) ||
      t.startsWith("__graft_topnk_") ||
      t.startsWith("__graft_topnv_") ||
      (t.startsWith("__graft_") && t.endsWith("_cate_int")) ||
      (t.startsWith("top_n_") &&
        (t.endsWith("_cate") || t.endsWith("_cate_where")))

    def rewrite(toks: Vector[String]): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        val isCall = i + 1 < toks.length && toks(i + 1) == "(" &&
          toks(i).headOption.exists(c => c.isLetter || c == '_')
        if (isCall) {
          val close = matchingClose(toks, i + 1)
          if (close + 1 < toks.length && toks(close + 1).equalsIgnoreCase("OVER")) {
            // a window call may nest another window call in its argument
            // (udaf_query.yaml ids 4-5: count(case when c2 > last_value(c2)
            // over w1 ...) over w1) — rewrite the argument first so the
            // inner expression registers before (and is referable by) the
            // outer one; materialization is sequential in that order
            val argToks =
              if (toks.slice(i + 2, close).exists(_.equalsIgnoreCase("OVER")))
                rewrite(toks.slice(i + 2, close))
              else toks.slice(i + 2, close)
            val fnText = (Vector(toks(i), "(") ++ argToks ++ Vector(")")).mkString(" ")
            var after = close + 2
            val ref: Either[String, WinDef] =
              if (after < toks.length && toks(after) == "(") {
                val wclose = matchingClose(toks, after)
                val sub = new Parser(toks.slice(after + 1, wclose))
                val w = sub.parseWinDefPublic()
                after = wclose + 1
                Right(w)
              } else { val n = toks(after); after += 1; Left(n) }
            if (isWinHead(toks(i).toLowerCase)) {
              val id = fresh()
              val bound = bindImplicit(
                Vector(toks(i), "(") ++ argToks ++ Vector(")"),
                resolveWin(ref))
              winExprs += ((id, bound.mkString(" "), resolveWin(ref)))
              out += id
            } else {
              // scalar wrapper: each naked window-fn call in the
              // arguments binds to this OVER's window
              out += toks(i); out += "("
              out ++= bindAllNaked(argToks, resolveWin(ref))
              out += ")"
            }
            i = after
          } else { out += toks(i); i += 1 }
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }


    /** Inside an aggregate's argument, a window-only function WITHOUT its
      * own OVER binds to the enclosing window (udaf_query.yaml id 6:
      * count_where(id, val1 = first_value(val1)) over w1) — register it
      * as a separate window column of `w` and substitute its id. */
    def rewriteImplicitNav(toks: Vector[String], w: WinDef): Vector[String] = {
      val innerHeads = navFns ++ Set("sum", "count", "avg", "min", "max",
        "distinct_count")
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        if (innerHeads(toks(i).toLowerCase) && i + 1 < toks.length &&
            toks(i + 1) == "(" ) {
          val close = matchingClose(toks, i + 1)
          val after = close + 1
          if (after < toks.length && toks(after).equalsIgnoreCase("OVER")) {
            out ++= toks.slice(i, after); i = after
          } else {
            val id = fresh()
            // the extracted call may itself nest further naked
            // aggregates (sum(c1 + sum(c2 * count(c3))),
            // test_udaf_function.yaml id 43) — bind recursively
            winExprs += ((id,
              bindImplicit(toks.slice(i, close + 1), w).mkString(" "), w))
            out += id
            i = close + 1
          }
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }

    def bindImplicit(toks: Vector[String], w: WinDef): Vector[String] =
      if (toks.length > 2 && toks(1) == "(" &&
          (aggHeads(toks(0).toLowerCase) ||
            toks(0).equalsIgnoreCase("nth_value_where") ||
            isWinHead(toks(0).toLowerCase)) &&
          toks.drop(2).exists(t => navFns(t.toLowerCase) ||
            Set("sum", "count", "avg", "min", "max",
              "distinct_count")(t.toLowerCase))) {
        val close = matchingClose(toks, 1)
        (Vector(toks(0), "(") ++ rewriteImplicitNav(toks.slice(2, close), w) ++
          Vector(")")) ++ toks.slice(close + 1, toks.length)
      } else toks

    /** A projection whose OVER applies to a COMPOSITE expression (e.g.
      * `(case when lag(d1,1) != null then distinct_count(d1) end) over
      * w` — the fz generator's identity(...) shape, fz_sql.yaml id 0):
      * every naked window-fn call inside binds to `w`, the rest of the
      * expression evaluates per current row. */
    def bindAllNaked(toks: Vector[String], w: WinDef): Vector[String] = {
      val heads = navFns ++ aggHeads ++ Set("distinct_count", "nth_value_where")
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        if (heads(toks(i).toLowerCase) && i + 1 < toks.length &&
            toks(i + 1) == "(") {
          val close = matchingClose(toks, i + 1)
          val after = close + 1
          if (after < toks.length && toks(after).equalsIgnoreCase("OVER")) {
            out ++= toks.slice(i, after); i = after
          } else {
            val call = bindImplicit(toks.slice(i, close + 1), w)
            val id = fresh()
            winExprs += ((id, call.mkString(" "), w))
            out += id
            i = close + 1
          }
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }

    val outerTokens: Seq[Vector[String]] = s.projs.map { pr =>
      val pt = rewriteAggFns(
        coerceDateFns(coerceOperands(pr.tokens, base), base), base,
        winBound = pr.over.isDefined)
      pr.over match {
        case Some(ref) =>
          // the aggregate's argument may itself nest a window call
          // (udaf_query.yaml ids 4-6) — rewrite it first so the inner
          // expression registers before the outer one
          val w = resolveWin(ref)
          val headIsCall = pt.length > 2 && pt(1) == "(" &&
            pt.head.headOption.exists(c => c.isLetter || c == '_') &&
            isWinHead(pt.head.toLowerCase) &&
            matchingClose(pt, 1) == pt.length - 1
          val callShaped = pt.length > 2 && pt(1) == "(" &&
            pt.head.headOption.exists(c => c.isLetter || c == '_') &&
            matchingClose(pt, 1) == pt.length - 1
          if (headIsCall) {
            val ptR = bindImplicit(
              if (pr.hasNestedOver) rewrite(pt) else pt, w)
            val id = fresh()
            winExprs += ((id, ptR.mkString(" "), w))
            Vector(id)
          } else {
            val before = counter
            val bound = bindAllNaked(if (pr.hasNestedOver) rewrite(pt) else pt, w)
            if (counter > before) bound
            else if (callShaped) {
              // unknown head but nothing naked inside either: keep the
              // pre-existing behavior and treat it as the window call
              val ptR = bindImplicit(pt, w)
              val id = fresh()
              winExprs += ((id, ptR.mkString(" "), w))
              Vector(id)
            } else bound
          }
        case None if pr.hasNestedOver => rewrite(pt)
        case None => pt
      }
    }

    (outerTokens, winExprs.result())
  }

  /** Compute each extracted window call as a hidden window column, then
    * evaluate the outer expressions. */
  private def planWindows(spark: SparkSession, s: Select, base: DataFrame,
      scope: Map[String, DataFrame], requestMode: Boolean = false): DataFrame = {
    val (outerTokens, exprs0) = extractWinCalls(s, base)

    // Unqualified window keys that turn ambiguous after a join resolve
    // to the LEFT-most source, like the reference's planner
    // (hybridsql_gen auto_gen_case_0: PARTITION BY pk_0_int64 after a
    // LAST JOIN where both sides carry pk_0_int64). A bare key that
    // fails to resolve on the joined frame but resolves with the left
    // qualifier gets the qualifier; rewriting through one shared map
    // keeps WinDef value-equality (and thus window-stage sharing).
    val exprs = {
      val leftQual = s.fromAlias.orElse(s.fromTable.left.toOption)
      def leftFirst(t: String): String =
        if (s.joins.isEmpty || leftQual.isEmpty ||
            !t.matches("[A-Za-z_][A-Za-z0-9_]*")) t
        else if (resolveTypeCached(base, t).isEmpty &&
            resolveTypeCached(base, s"${leftQual.get}.$t").isDefined)
          s"${leftQual.get}.$t"
        else t
      exprs0.map { case (id, fn, w) =>
        (id, fn, w.copy(partition = w.partition.map(leftFirst),
          order = w.order.map(leftFirst)))
      }
    }

    // key-type legality (the reference's planner): ORDER BY must be an
    // integral/timestamp key (error_window.yaml ids 4-7,
    // test_window_row.yaml id 35 — string/float/double/date/bool order
    // keys are rejected) and PARTITION BY must not be float/double
    // (error_window.yaml ids 2/3).
    locally {
      import org.apache.spark.sql.types._
      exprs.map(_._3).distinct.foreach { w =>
        w.order.foreach { o =>
          resolveTypeCached(base, o).foreach {
            case StringType | FloatType | DoubleType | DateType |
                 BooleanType =>
              throw new IllegalArgumentException(
                s"illegal window ORDER BY key type for '$o' " +
                  "(integral/timestamp required)")
            case _ => ()
          }
        }
        w.partition.foreach { p =>
          resolveTypeCached(base, p).foreach {
            case FloatType | DoubleType =>
              throw new IllegalArgumentException(
                s"illegal window PARTITION BY key type for '$p' " +
                  "(float/double keys unsupported)")
            case _ => ()
          }
        }
      }
    }

    // reference sum() preserves integral input types with wraparound
    // overflow (test_window.yaml id 21: sum(int32) wraps at 2^31);
    // internal accumulation is wider, the result casts back
    def sumCastType(vText: String): Option[org.apache.spark.sql.types.DataType] =
      resolveTypeCached(base, vText) match {
        case Some(t @ (org.apache.spark.sql.types.IntegerType |
                       org.apache.spark.sql.types.ShortType |
                       org.apache.spark.sql.types.LongType)) => Some(t)
        case _ => None
      }

    /** Materialize named columns in dependency layers: columns whose
      * source expression references an earlier window result (nested
      * window calls — fnText contains a __graft_w id) go in a later
      * projection; everything independent lands in ONE projection so
      * same-spec window expressions share a single Window stage. */
    // the window spec arity (max PARTITION BY length) of a column, or
    // -1 when it holds no window expression — the stacking sort key
    // below (resolution-independent: Column→Expression conversion
    // keeps WindowExpression nodes pre-analysis)
    def winArity(c: Column): Int =
      try org.apache.spark.sql.graftbridge.CatalystBridge.expression(c)
        .collect {
          case we: org.apache.spark.sql.catalyst.expressions
              .WindowExpression => we.windowSpec.partitionSpec.length
        }.foldLeft(-1)(_ max _)
      catch { case scala.util.control.NonFatal(_) => -1 }

    // Stable-sort window-bearing columns so SUBSET partition keys come
    // FIRST: the analyzer stacks the first-seen spec at the BOTTOM,
    // and hash(k) satisfies ClusteredDistribution(k, k2) while
    // hash(k, k2) does NOT satisfy Clustered(k) — subset-first order
    // chains every same-leading-key window group on ONE exchange
    // (measured: 2 exchanges → 1 on the two-window serving/bench
    // shape; at 100 TB that is one fewer full shuffle of the fact
    // table). Strict subsets always have fewer keys, so arity is a
    // sufficient sort key; equal arities keep projection order.
    def sortForStacking(cols: Seq[(String, Column)]): Seq[(String, Column)] =
      cols.sortBy(nc => winArity(nc._2))

    def applyCols(df0: DataFrame, cols: Seq[(String, Column)],
        gexprs: Seq[(String, String, WinDef)]): DataFrame = {
      if (cols.isEmpty) return df0
      val dependent = gexprs.collect {
        case (id, fnText, _) if fnText.contains("__graft_w") => id
      }.toSet
      val (later, first0) = cols.partition(nc => dependent(nc._1))
      // duplicate prep names collapse (same name ⇒ same content-derived
      // column); ORDERED application — withColumns(Map) loses order,
      // and order is what drives the analyzer's window stacking
      val first = sortForStacking(first0.distinctBy(_._1))
      var df = df0
      if (first.nonEmpty) {
        val existing = df.columns.map(_.toLowerCase).toSet
        df =
          if (first.forall(nc => !existing(nc._1.toLowerCase)))
            df.select(col("*") +: first.map { case (n, c) => c.as(n) }: _*)
          else df.withColumns(first.toMap)
      }
      // dependent columns stay sequential — one may reference another
      later.foreach { case (n, c) => df = df.withColumn(n, c) }
      df
    }

    // ---- window skew optimization (SET @@window_skew_opt = 'true') ----
    // The reference's offline-batch skew mode (openmldb-batch
    // OpenmldbBatchConfig.scala:52-73 `spark.openmldb.window.skew.opt`,
    // WindowAggPlan.scala:87-100 + SkewDataFrameUtils.scala) re-planned
    // Spark-first: every row replicates into its own time bucket
    // (role 0, kept) and the next (role 1, frame history only), windows
    // partition by (keys, bucket), and owner rows are kept afterwards —
    // a hot key becomes span/bucketMs independent tasks for one 2× row
    // duplication (same scheme as operators.SkewWindow). Applies to
    // groups where EVERY window has a BOUNDED frame over an order key:
    //  - ROWS_RANGE: time buckets (frame ⊆ [t-p, t] ⊆ {bucket-1,
    //    bucket} when bucketMs >= p, so membership — MAXSIZE / EXCLUDE
    //    / UNION flags / strict ties, all (ts, uid)-based — is
    //    bucket-invariant). DESC keys bucket on the NEGATED key (the
    //    frame reaches toward larger keys; same argument mirrored).
    //  - ROWS: count chunks of C >= frame-rows rows, derived from a
    //    cheap streaming rank over the unsplit key (the rank pass is
    //    O(n log n) sort + O(n) scan; the per-row frame work — the
    //    actual hot-key cost — then parallelizes across chunks whose
    //    previous chunk supplies the full C-row history). Union-free
    //    windows only: side-table rows would shift every rank.
    // Unbounded frames and frameless offset functions (lag/at reach
    // arbitrarily far back) stay unbucketed; request mode is excluded
    // like the reference (offline-only opt).
    val skewOpt = !requestMode && SessionState.of(spark).catalog.vars
      .getOrElse("window_skew_opt", "false") == "true"
    val SwRoleCol = "__graft_swrole"
    // window signature -> bucket column, live between explode/collapse.
    // RANGE windows bucket by TIME (partition-agnostic: any window on
    // the same ms key and direction shares one column); ROWS windows
    // bucket by COUNT (a rank-derived chunk — partition-specific, since
    // the rank is per key). DESC windows bucket on the NEGATED key:
    // frames reach toward larger keys, so "next bucket" in the frame
    // direction is the next bucket of -ts (mirror of the asc argument).
    case class SkewEntry(key: String, order: String, desc: Boolean,
        isRows: Boolean, partition: Seq[String], span: Long, reach: Long,
        colName: String)
    def skewKey(w: WinDef): String =
      (if (w.isRows) "R|" + w.partition.mkString(",") + "|" else "G|") +
        (if (w.orderDesc) "D|" else "A|") + w.order.getOrElse("")
    var skewBuckets: Map[String, String] = Map.empty
    def skewBucketOf(w: WinDef): Seq[Column] =
      if (w.order.isEmpty) Nil
      else skewBuckets.get(skewKey(w)).map(col).toSeq
    // a ROWS chunk must hold at least the frame's row reach; the floor
    // keeps tiny frames from exploding into per-few-row groups (small
    // frames are cheap anyway — the chunk only needs to parallelize
    // the heavy per-row frame work of a hot key)
    val MinRowsChunk = 4096L
    // RANGE buckets span a multiple of the frame reach: only rows in
    // the last `reach` of a bucket replicate (tail-only — see the
    // filter in skewExplode), so duplication is 1 + 1/factor while a
    // hot key still cuts into span/(factor*reach) tasks. Measured on
    // q_sql_skew_window at sf0.1: factor 1 (full 2× replication) ran
    // ~1.2× the plain unsalted window; factor 4 closed the gap.
    val SkewBucketFactor = 4L
    def skewPlanOf(gexprs: Seq[(String, String, WinDef)])
        : Option[Seq[SkewEntry]] = {
      skewBuckets = Map.empty
      if (!skewOpt || gexprs.isEmpty) return None
      val offsetFns = Set("lag", "lead", "at")
      def spanOf(w: WinDef): Option[Long] = w.lo match {
        case Prec(n, open) => Some(math.max(n - (if (open) 1 else 0), 0L))
        case CurrentRow    => Some(0L)
        case Unbounded     => None
      }
      val ok = gexprs.forall { case (_, fnText, w) =>
        val head = fnText.trim.takeWhile(_ != '(').trim.toLowerCase
        // offset fns are frameless (reach arbitrarily far back); ROWS
        // chunks additionally require union-free windows (side-table
        // rows would shift every rank) and no EXCLUDE CURRENT_TIME —
        // the exclusion filters same-ts predecessors BEFORE the row
        // cap, so a long same-ts run makes the frame reach arbitrarily
        // many rows past n, beyond any fixed chunk span
        !offsetFns(head) && w.order.isDefined && spanOf(w).isDefined &&
          (!w.isRows || (w.unions.isEmpty && !w.exclCT))
      }
      if (!ok) return None
      val wins = gexprs.map(_._3).distinct
      Some(wins.groupBy(skewKey).toSeq.sortBy(_._1).zipWithIndex.map {
        case ((k, ws), i) =>
          val w0 = ws.head
          val reach = math.max(ws.flatMap(spanOf).max, 1L)
          val span =
            if (w0.isRows) math.max(reach, MinRowsChunk)
            else if (reach > Long.MaxValue / (2 * SkewBucketFactor)) reach
            else reach * SkewBucketFactor
          SkewEntry(k, w0.order.get, w0.orderDesc, w0.isRows,
            if (w0.isRows) w0.partition else Nil, span, reach,
            s"__graft_swb_$i")
      })
    }
    def skewExplode(df0: DataFrame, plan: Seq[SkewEntry]): DataFrame = {
      var df = df0
      // ROWS chunks: rank over the UNSPLIT key first (cheap streaming
      // rank — the heavy per-row frame work is what gets bucketed),
      // in the window's own (order, uid) tie order
      plan.filter(_.isRows).foreach { e =>
        val ord =
          if (e.desc) Seq(expr(e.order).desc, col(UidCol).desc)
          else Seq(expr(e.order).asc, col(UidCol).asc)
        val rw = Window.partitionBy(e.partition.map(expr): _*).orderBy(ord: _*)
        df = df.withColumn(s"${e.colName}_rn", row_number().over(rw))
      }
      df = df.withColumn(SwRoleCol, explode(array(lit(0), lit(1))))
      // tail-only replication: a next-bucket frame reaches back at
      // most `reach`, so only each bucket's last `reach` of rows (by
      // time for RANGE, by rank for ROWS chunks) can be history there.
      // Keep a replica if ANY entry needs it — a replica kept for one
      // entry is harmless to the others (RANGE frames exclude it by
      // timestamp; ROWS frames count the immediately-preceding rows,
      // which a strictly-older extra replica never displaces).
      val neededBy = plan.map { e =>
        if (e.isRows)
          pmod(col(s"${e.colName}_rn") - 1, lit(e.span)) >=
            lit(e.span - e.reach)
        else {
          val ts0 = orderMs(base, e.order)
          val ts = if (e.desc) -ts0 else ts0
          pmod(ts, lit(e.span)) >= lit(e.span - e.reach)
        }
      }
      if (neededBy.nonEmpty)
        df = df.filter(col(SwRoleCol) === 0 || neededBy.reduce(_ || _))
      plan.foreach { e =>
        val own =
          if (e.isRows)
            floor((col(s"${e.colName}_rn") - 1) / lit(e.span)).cast("long")
          else {
            val ts0 = orderMs(base, e.order)
            val ts = if (e.desc) -ts0 else ts0
            // exact floor-division (pre-epoch keys floor, not truncate)
            ((ts - pmod(ts, lit(e.span))) / lit(e.span)).cast("long")
          }
        df = df.withColumn(e.colName, own + col(SwRoleCol))
      }
      skewBuckets = plan.map(e => e.key -> e.colName).toMap
      df
    }
    def skewCollapse(df0: DataFrame, plan: Seq[SkewEntry]): DataFrame = {
      skewBuckets = Map.empty
      df0.filter(col(SwRoleCol) === 0)
        .drop(SwRoleCol +: plan.flatMap(e =>
          if (e.isRows) Seq(e.colName, s"${e.colName}_rn")
          else Seq(e.colName)): _*)
    }

    /** Pre-partition by the (shared) window partition keys when the
      * window work spans TWO stages (prep + agg): the strict-range tie
      * stage clusters on (keys, ts) and the range stage on (keys), and
      * EnsureRequirements would otherwise plan hash(keys, ts) for the
      * inner Window and then a SECOND full-data exchange to hash(keys)
      * for the outer one. An explicit hash(keys) shuffle up front
      * satisfies both stages' ClusteredDistributions (keys ⊆ (keys, ts))
      * and the tie stage's (keys, ts, uid) sort is a superset of the
      * range stage's (keys, ts) order — ONE exchange, ONE sort for the
      * whole window pipeline (with TransposeWindow excluded in
      * GraftSession; measured 1.8x → ~1.2x of plain-Spark on
      * q_sql_window at sf0.1). Only fires when every window in the
      * group shares one partition key list; single-stage windows keep
      * the planner-inserted exchange (which elides when the child is
      * already partitioned). */
    def prePartition(df0: DataFrame, prep: Seq[(String, Column)],
        gexprs: Seq[(String, String, WinDef)]): DataFrame = {
      val parts = gexprs.map(_._3.partition).distinct
      // serving template: the per-request working set is tiny and
      // already coalesced to one partition (SinglePartition satisfies
      // every window distribution) — an explicit repartition would
      // reintroduce the exchange/stage the coalesce removed
      if (templateModeTL.get) return df0
      // skew mode: the bucket column joins the hash keys — hash(keys)
      // alone would satisfy the windows' (keys, bucket) clustering and
      // silently undo the bucket split. Multiple bucket columns (mixed
      // order keys in one group) cannot share one exchange; leave those
      // to the planner.
      if (skewBuckets.size > 1) return df0
      val extra = skewBuckets.values.toSeq.map(col)
      if ((prep.nonEmpty || extra.nonEmpty) && parts.size == 1 &&
          (parts.head.nonEmpty || extra.nonEmpty))
        df0.repartition(parts.head.map(expr) ++ extra: _*)
      else df0
    }

    /** Build the output columns for one group of window expressions
      * sharing a WINDOW UNION signature. Returns (pre-projection
      * columns, output columns) — pure column expressions, no df. */
    def groupCols(gexprs: Seq[(String, String, WinDef)], hasUnion: Boolean)
        : (Seq[(String, Column)], Seq[(String, Column)]) = {
    // pre-projection columns (prefix sums for strict-range decomposition:
    // window-over-window needs two stages)
    val prepCols = Seq.newBuilder[(String, Column)]

    // window partition keys + the group's skew bucket (when active):
    // every windowed computation in a skewed group MUST carry the
    // bucket or it would window over replicated rows
    def partCols(w: WinDef): Seq[Column] =
      w.partition.map(expr) ++ skewBucketOf(w)

    // Aggregates over the SAME extended window spec share ONE
    // struct-valued frame array — the frame buffer, sort and
    // membership filtering are paid once per window, not once per
    // aggregate (a 10-aggregate MAXSIZE query would otherwise hold 10
    // identical (ts,uid,flag,v) buffers per row — the memory hazard
    // that OOMs a hot key at scale). Each aggregate projects its own
    // argument field back out to the (ts,uid,flag,v) shape the agg
    // helpers expect.
    final case class SharedFrame(arrName: String,
        fields: scala.collection.mutable.LinkedHashMap[String, (String, Column)],
        build: Column => Column)
    val sharedFrames =
      scala.collection.mutable.LinkedHashMap[String, SharedFrame]()
    def sharedFrameFor(wKey: String, vText: String, v: Column,
        mkArr: Column => Column): (String, String) = {
      val sf = sharedFrames.getOrElseUpdate(wKey,
        SharedFrame(s"__graft_sharr_${sharedFrames.size}",
          scala.collection.mutable.LinkedHashMap.empty, mkArr))
      val (fname, _) =
        sf.fields.getOrElseUpdate(vText, (s"f${sf.fields.size}", v))
      (sf.arrName, fname)
    }

    val winCols: Seq[(String, Column)] = gexprs.map { case (id, fnText0, w) =>
      val (fnRaw, argRaw) = splitCall(fnText0)
      // reference type checks over aggregate arguments
      // (test_udaf_function.yaml ids 8/9/18/25/26/33): *_where and
      // plain sum/avg values must be numeric (bool allowed only for
      // count/distinct_count); *_cate values numeric, keys must not be
      // float/double/bool
      locally {
        import org.apache.spark.sql.types._
        val fl = fnRaw.toLowerCase
        def ty(t: String) = resolveTypeCached(base, t)
        def rejectValue(t: String): Unit = ty(t) match {
          case Some(v @ (StringType | DateType | BooleanType |
              TimestampType)) =>
            throw new IllegalArgumentException(
              s"illegal value type $v for '$fl'")
          case _ => ()
        }
        def rejectKey(t: String): Unit = ty(t) match {
          case Some(v @ (FloatType | DoubleType | BooleanType)) =>
            throw new IllegalArgumentException(
              s"illegal key type $v for '$fl'")
          case _ => ()
        }
        val as0 = splitArgs(argRaw)
        if (Set("sum_where", "avg_where", "max_where", "min_where")(fl) &&
            as0.nonEmpty) rejectValue(as0(0))
        else if (Set("sum", "avg")(fl) && as0.nonEmpty && as0.head != "*")
          (ty(as0.head) match {
            case Some(v @ (StringType | DateType)) =>
              throw new IllegalArgumentException(
                s"illegal value type $v for '$fl'")
            // avg over TIMESTAMP is a type error in the reference
            // (test_udaf_function.yaml id 8); sum(ts) never reaches
            // here raw — rewriteAggFns wraps it in unix_millis
            case Some(TimestampType) if fl == "avg" =>
              throw new IllegalArgumentException(
                s"illegal value type timestamp for '$fl'")
            case _ => ()
          })
        else if (fl.endsWith("_cate") && as0.length == 2) {
          rejectValue(as0(0)); rejectKey(as0(1))
        } else if (fl.endsWith("_cate_where") && as0.length == 3 &&
            !fl.startsWith("top_n_")) {
          rejectValue(as0(0)); rejectKey(as0(2))
        }
      }
      // the *_where family over windows = the base aggregate over a
      // CASE WHEN guard (udf_registry: *_where UDAFs; udaf_query.yaml id 4)
      val (fn, argText) =
        if (fnRaw.endsWith("_where") && extAggs(fnRaw.stripSuffix("_where"))) {
          val as = splitArgs(argRaw)
          (fnRaw.stripSuffix("_where"),
            s"CASE WHEN ${as(1)} THEN ${as(0)} END")
        } else (fnRaw, argRaw)
      val fnText = s"$fn ( $argText )"
      val args = splitArgs(argText)
      // window_split family: per-row split arrays concatenate across
      // the frame; an aggregate may also consume the flattened tokens
      // directly — distinct_count(window_split(c1, ",")),
      // top1_ratio(window_split_by_value(...)) etc.
      // (test_feature_zero_function.yaml)
      val splitCallRe =
        "^([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)\\s*$".r
      def splitCallOf(t: String): Option[String] = t.trim match {
        case splitCallRe(h, a) if windowSplitFns.contains(h.toLowerCase) =>
          Some(s"${windowSplitFns(h.toLowerCase)} ( $a )")
        case _ => None
      }
      val isSplitFn = windowSplitFns.contains(fn)
      val splitV: Option[String] =
        if (isSplitFn) splitCallOf(fnText)
        else splitCallOf(argText)
          .orElse(splitCallOf(args.headOption.getOrElse("")))
      // ANSI mode would throw on the overflow the reference wraps —
      // reduce into range with mod arithmetic before the final cast
      def wrapTo(c: Column, halfRange: Long, t: org.apache.spark.sql.types.DataType): Column = {
        val full = 2 * halfRange
        // exact decimal total → long range first (cannot throw), then
        // the narrower wraparound
        val l = WindowOps.wrapToLongRange(c)
        ((((l + halfRange) % full + full) % full) - halfRange).cast(t)
      }
      val sumIntegralType: Option[org.apache.spark.sql.types.DataType] =
        if (fn == "sum" && argText != "*") sumCastType(args.head) else None
      val sumCast: Column => Column =
        sumIntegralType.map { t => (c: Column) =>
          t match {
            case org.apache.spark.sql.types.IntegerType =>
              wrapTo(c, 1L << 31, t)
            case org.apache.spark.sql.types.ShortType =>
              wrapTo(c, 1L << 15, t)
            case _ => WindowOps.wrapToLongRange(c)
          }
        }.getOrElse {
          // the reference's sum(float) stays FLOAT (deploy corpus pins
          // the deployed output schema); Spark's sum widens to double,
          // so narrow the result — no wraparound for floats
          if (fn == "sum" && argText != "*" &&
              resolveTypeCached(base, args.headOption.getOrElse(""))
                .contains(org.apache.spark.sql.types.FloatType))
            (c: Column) => c.cast("float")
          else identity[Column] _
        }
      // frame upper bound: 0 = CURRENT ROW, else a Prec offset
      // (ms for RANGE, rows for ROWS; OPEN excludes the boundary)
      val hiOffset: Long = w.hi match {
        case CurrentRow    => 0L
        case Prec(h, open) => h + (if (open) 1 else 0)
        case Unbounded     =>
          throw new IllegalArgumentException("UNBOUNDED upper frame bound")
      }
      val plain = !w.isExtended && !requestMode
      // CREATE AGGREGATE FUNCTION registrations have no Spark function
      // to expr() — they always take the frame-array fold path
      val isUserAgg = SessionState.of(base.sparkSession).userFns.get(fn)
        .exists(_.isAggregate)
      // an argument referencing a window result (__graft_wN) needs the
      // current-row-binding HOF path — never the native window branches
      val windowBound = argText.contains("__graft_w")
      val decomposable = !windowBound && Set("sum", "count", "avg")(fn)
      val isOffsetFn = fn == "lag" || fn == "lead" || fn == "at"
      // ORDER BY is optional in the reference's window clause
      // (WINDOW_CLAUSE.md:127-131, "Starting from OpenMLDB 0.8.4"):
      // ROWS frames then process the partition in arrival order (uid
      // here — a legal instantiation of the documented "indeterminate
      // order"; integration_test error_window id 0 pins bounded ROWS
      // as legal), ROWS_RANGE additionally requires UNBOUNDED
      // PRECEDING .. CURRENT ROW (function error_window id 0 pins the
      // message), and EXCLUDE CURRENT_TIME needs a time axis
      if (w.order.isEmpty && !windowBound && extAggs(fn) && !isOffsetFn) {
        if (w.exclCT)
          throw new IllegalArgumentException(
            "a window without ORDER BY cannot have EXCLUDE CURRENT_TIME")
        if (!w.isRows && (w.lo != Unbounded || w.hi != CurrentRow))
          throw new IllegalArgumentException(
            "RANGE/ROWS_RANGE-type FRAME with offset PRECEDING/FOLLOWING " +
              "requires exactly one ORDER BY column")
        if (!w.isRows && w.isExtended)
          throw new IllegalArgumentException(
            "a window without ORDER BY requires an unbounded plain frame")
        if (w.isRows && (w.isExtended || frameOnlyAggs(fn) || isUserAgg ||
            splitV.isDefined))
          throw new IllegalArgumentException(
            "a window without ORDER BY supports only plain ROWS " +
              "aggregates (no MAXSIZE/EXCLUDE/UNION attributes)")
      }
      val c: Column =
        if (w.order.isEmpty && !windowBound && extAggs(fn) &&
            !isOffsetFn && !frameOnlyAggs(fn) && splitV.isEmpty &&
            !isUserAgg) {
          // no ORDER BY: the frame has no row order to bound, so it
          // spans the whole partition. frameOnlyAggs (distinct_count,
          // median, top1_ratio, ...) have no registered SQL function —
          // expr(fnText) would fail 'undefined function' — so they take
          // the frame-array path below with a constant order key.
          expr(fnText).over(Window.partitionBy(w.partition.map(expr): _*))
        } else if (isOffsetFn && !hasUnion && !requestMode && !w.inw &&
            !w.exclCT) {
          // (EXCLUDE CURRENT_TIME windows take the frame-array path:
          // lag skips same-time predecessors there —
          // window_attributes.yaml id 9 row 6)
          // offset functions are FRAMELESS positional lookups over the
          // partition's ingestion order — the corpus shows lag reaching
          // rows outside the RANGE span and ignoring EXCLUDE attributes
          // (window_attributes.yaml id 0: l1 of a row whose 2s frame is
          // empty still sees its predecessor). `at` is the reference's
          // alias for lag (window_functions_def.cc:252); uid tiebreak =
          // ingestion order for same-ts peers.
          val text = if (fn == "at") s"lag ( $argText )" else fnText
          val ord = w.order.map(o => if (w.orderDesc) expr(o).desc else expr(o))
            .getOrElse(lit(1).asc)
          val spec = Window.partitionBy(w.partition.map(expr): _*)
            .orderBy(ord, if (w.orderDesc) col(UidCol).desc else col(UidCol).asc)
          expr(text).over(spec)
        } else if (fn == "fz_join" && splitV.isEmpty) {
          // `join`(split(c1, d), sep) OVER w — the list is per-row, so
          // the window is irrelevant: plain scalar evaluation
          // (test_feature_zero_function.yaml id 5 r1-r3)
          expr(fnText)
        } else if (plain && w.isRows && !windowBound &&
            !frameOnlyAggs(fn) && splitV.isEmpty && !isUserAgg) {
          // plain ROWS: native frame over (order, uid) — deterministic
          // at-or-before positions at native speed. distinct_count is
          // excluded: Spark has no DISTINCT window aggregate, so it
          // takes the frame-array path below.
          expr(fnText).over(plainSpec(w, Some(col(UidCol)),
            extraPart = skewBucketOf(w)))
        } else if (plain && !w.isRows && !windowBound && !extAggs(fn) &&
            fn != "identity" && !isUserAgg) {
          // registered UDAF families (cate / top_n / entropy / top /
          // ew_avg ...) over a plain RANGE frame: native rangeBetween.
          // A bounded-above frame (hi PRECEDING > 0) is tie-EXACT; a
          // CURRENT ROW upper bound sees ANSI peers — same-ts rows that
          // sort after the current one — the documented rowsRange tie
          // deviation (WindowOps.rowsRange scaladoc).
          expr(fnText).over(plainSpec(w, msBase = base,
                extraPart = skewBucketOf(w)))
        } else if (plain && !w.isRows && !w.orderDesc && decomposable &&
            splitV.isEmpty) {
          // plain ROWS_RANGE sum/count/avg: strict-tie prefix-sum
          // decomposition (reference holds at-or-before rows in ingestion
          // order, mem_catalog.h:344 — ANSI RANGE peers would overcount
          // same-ts rows that sort after the current row)
          val v = if (argText == "*") lit(1L) else expr(args.head)
          val ts = orderMs(base, w.order.getOrElse(
            throw new IllegalArgumentException("RANGE window needs ORDER BY")))
          val preceding = w.lo match {
            case Prec(n, open) => n - (if (open) 1 else 0)
            case Unbounded     => Long.MaxValue / 4
            case CurrentRow    => 0L
          }
          // stable key: aggregates over the same (window, argument)
          // share one prefix-sum/count pair and one boundary lookup
          val prepKey = java.lang.Long.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(
              w.toString + "|" + argText).toLong & 0xffffffffL)
          val (prep, agg) = WindowOps.strictRangeAgg(fn, prepKey, v, ts,
            col(UidCol), partCols(w), preceding, hiOffset,
            integral = fn == "sum" && sumIntegralType.isDefined)
          prepCols ++= prep
          agg
        } else {
          // registered __graft UDAF heads with window-result-bound
          // arguments fall through to the native-frame fallback below
          val graftUdafHead = fn.startsWith("__graft_topnk_") ||
            fn.startsWith("__graft_topnv_") ||
            (fn.startsWith("__graft_") && fn.endsWith("_cate_int"))
          if (!extAggs(fn) && fn != "fz_join" && !graftUdafHead &&
              !isUserAgg)
            throw new IllegalArgumentException(
              s"unsupported aggregate '$fn' over an extended window")
          // nth_value_where(v, n, cond) frames carry (value, cond)
          // pairs (window_functions_def.cc NthValueWhere)
          val v =
            if (splitV.isDefined) expr(splitV.get)
            else if (fn == "nth_value_where")
              struct(expr(args(0)).as("value"), expr(args(2)).as("cond"))
            else if (argText == "*") lit(1L)
            else if (fn == "distinct_count" &&
                resolveTypeCached(base, args.head)
                  .contains(org.apache.spark.sql.types.BooleanType))
              // a NULL bool reads as false in the reference's distinct
              // set (test_udaf_function.yaml id 6 row 4)
              coalesce(expr(args.head), lit(false))
            else expr(args.head)
          // no ORDER BY (legal only for an unbounded plain frame,
          // checked above): constant key — each row's frame is its
          // uid-ordered (ingestion-order) prefix of the partition,
          // matching the reference's arrival-order buffer.
          // ORDER BY ... DESC is a dialect extension (the reference's
          // window grammar has no direction and its corpus never uses
          // one — WINDOW_CLAUSE.md:14): standard SQL reversal,
          // expressed by NEGATING the (ms, uid) keys so every
          // ascending frame-builder below reads the descending stream
          // unchanged (frames reach toward larger keys, ties break on
          // later ingestion first, like plainSpec's desc uid order)
          val ts0 = w.order.map(o => orderMs(base, o)).getOrElse(lit(0L))
          val ts = if (w.orderDesc) -ts0 else ts0
          val wUid = if (w.orderDesc) -col(UidCol) else col(UidCol)
          // ROWS frames over an extended window: a row-count frame is an
          // unbounded range capped to the newest (n+1) at-or-before rows
          // (strict row order makes same-ts peers behave like ROWS);
          // a ROWS upper bound h skips the h newest positions.
          val (preceding, rowCap, strict, hiMs, skipRows, exclCRFilter) =
            if (w.isRows) {
              val n = w.lo match {
                case Prec(n0, open) => n0 - (if (open) 1 else 0)
                case Unbounded      => -1L
                case CurrentRow     => 0L
              }
              val h = hiOffset.toInt
              val frameCap =
                if (n < 0) 0
                else if (h > 0) (n - h + 1).toInt
                else (n + (if (w.exclCR) 0 else 1)).toInt
              val cap =
                if (w.maxSize > 0 && frameCap > 0) math.min(w.maxSize, frameCap)
                else math.max(w.maxSize, math.max(frameCap, 0))
              // h > 0 already excludes the current row; exclCR is only a
              // filter when the frame still ends at the current row
              (Long.MaxValue / 4, cap, true, 0L, h,
                w.exclCR && h == 0)
            } else {
              val p = w.lo match {
                case Prec(n, open) => n - (if (open) 1 else 0)
                case Unbounded     => Long.MaxValue / 4
                case CurrentRow    => 0L
              }
              // Reference ROWS_RANGE frames hold at-or-before rows in
              // ingestion order (mem_catalog.h:344) — strict tie
              // handling, NOT ANSI RANGE peers. WINDOW UNION frames are
              // strict too: uids are assigned AFTER the union, so
              // primary rows order before same-ts side rows, exactly
              // the reference's "original rows first then union rows"
              // (test_window_union.yaml ids 18-x/19-x). Request frames
              // stay peer-inclusive: every same-ts HISTORY row is
              // at-or-before the request row.
              (p, w.maxSize, !requestMode,
                hiOffset, 0, w.exclCR)
            }
          val effUnbounded = preceding >= WindowOps.UnboundedMs &&
            rowCap == 0 && hiMs == 0 && skipRows == 0
          val simpleAgg = Set("sum", "count", "avg", "min", "max")(fn)
          // Union/request frames without EXCLUDE CURRENT_TIME keep the
          // collect path: their tie semantics are peer-inclusive (same-ts
          // side rows carry later uids) and the running-agg decomposition
          // is strictly-prior. With EXCLUDE CURRENT_TIME the prior window
          // is range-based and tie-exact for every mode.
          val tieSafe = w.exclCT ||
            (!hasUnion && !requestMode && !w.inw)
          if (effUnbounded && simpleAgg && tieSafe) {
            // Scale-safe unbounded frames: a collect_list of the entire
            // per-key history is O(partition^2) memory under a hot key.
            // Simple aggregates decompose into a native running aggregate
            // over STRICTLY-PRIOR rows plus the current row's own value —
            // constant state per row at any scale.
            WindowOps.unboundedAgg(fn, v, ts, wUid,
              w.partition.map(expr),
              excludeCurrentTime = w.exclCT,
              excludeCurrentRow = w.exclCR,
              memberFlag =
                // INW + UNION excludes every primary-table row (stored
                // AND request) from frames — only union sides remain
                // (fz_ddl/test_myhug.yaml); plain request mode keeps
                // stored history in frames and excludes other requests
                if (w.inw || requestMode)
                  Some(!col(if (requestMode && !(w.inw && hasUnion))
                    RequestFlagCol else FlagCol))
                else None)
          } else if (argText.contains("__graft_w")) {
            // The argument references a window result (explicit nested
            // OVER or an implicit nav fn) — the reference binds those to
            // the CURRENT row while the rest of the argument evaluates
            // per FRAME row (udaf_query.yaml ids 4-6 / upstream #2974).
            // Collect whole rows and evaluate via a SQL HOF whose lambda
            // rebinds base columns to the frame row; window-result ids
            // stay free and resolve to the current row's columns.
            val arrName = s"__graft_arr_$id"
            val arr = WindowOps.frameArray(struct(col("*")), ts, wUid,
              partCols(w), preceding,
              maxSize = rowCap,
              excludeCurrentTime = w.exclCT,
              excludeCurrentRow = exclCRFilter,
              isPrimary =
                if (requestMode && !(w.inw && hasUnion))
                  col(RequestFlagCol)
                else if (hasUnion) col(FlagCol) else null,
              instanceNotInWindow = w.inw || requestMode,
              strictRowOrder = strict,
              hiPrecedingMs = hiMs,
              skipNewest = skipRows)
            prepCols += (arrName -> arr)
            val baseCols = base.columns.toSet
            def subst(text: String): String = {
              val toksA = tokenize(text)
              toksA.zipWithIndex.map { case (t, i0) =>
                val isIdent = t.headOption.exists(c2 => c2.isLetter || c2 == '_')
                val isCall = i0 + 1 < toksA.length && toksA(i0 + 1) == "("
                val prevDot = i0 > 0 && toksA(i0 - 1) == "."
                if (isIdent && !isCall && !prevDot && baseCols.contains(t))
                  s"__x.v.$t"
                else t
              }.mkString(" ")
            }
            val sub = subst(argText)
            val nn = s"filter($arrName, __x -> ($sub) IS NOT NULL)"
            fn match {
              case "nth_value_where" =>
                // nth_value_where(v, n, cond) whose cond/value bind the
                // current row's window results (udaf corpus id 64):
                // filter by the substituted condition, index the value
                // array — n>0 from the frame start (oldest), n<0 from
                // the end (newest), 0 → NULL (aggNthValueWhere rules)
                val as3 = splitArgs(argText)
                val nIdx = as3(1).replace(" ", "").toInt
                if (nIdx == 0) lit(null)
                else {
                  val vS = subst(as3(0)); val cS = subst(as3(2))
                  val m = s"filter($arrName, __x -> ($cS))"
                  expr(s"CASE WHEN size($m) >= ${math.abs(nIdx)} THEN " +
                    s"element_at(transform($m, __x -> (${vS})), ${-nIdx}) END")
                }
              case "count" => expr(s"CAST(size($nn) AS BIGINT)")
              case "sum" => expr(
                s"CASE WHEN size($nn) > 0 THEN aggregate($nn, " +
                  s"CAST(0.0 AS DOUBLE), (__a, __x) -> __a + CAST(($sub) AS DOUBLE)) END")
              case "avg" => expr(
                s"CASE WHEN size($nn) > 0 THEN aggregate($nn, " +
                  s"CAST(0.0 AS DOUBLE), (__a, __x) -> __a + CAST(($sub) AS DOUBLE)) " +
                  s"/ size($nn) END")
              case "min" => expr(s"array_min(transform($nn, __x -> ($sub)))")
              case "max" => expr(s"array_max(transform($nn, __x -> ($sub)))")
              case "distinct_count" => expr(
                s"CAST(size(array_distinct(transform($nn, __x -> ($sub)))) AS BIGINT)")
              case f if isUserAgg =>
                // CREATE AGGREGATE FUNCTION over a window-result-bound
                // argument: fold the substituted per-frame-row values
                // with the registered INIT/STEP/OUTPUT (same expansion
                // as the shared-frame user-agg path; NULLs skipped)
                val uf = SessionState.of(base.sparkSession).userFns(f)
                expr(udafFoldSql(uf, s"transform($nn, " +
                  s"__x -> CAST(($sub) AS ${fnSqlType(uf.params.head._2)}))"))
              case other =>
                if (plain && !w.isRows)
                  // registered UDAFs take the native RANGE frame; every
                  // argument — including nested window-result ids —
                  // evaluates per frame row (auto_gen_case_0 shape)
                  expr(fnText).over(plainSpec(w, msBase = base,
                extraPart = skewBucketOf(w)))
                else throw new IllegalArgumentException(
                  s"window-result-bound argument unsupported for '$other'")
            }
          } else {
          val (arrName, fld) = sharedFrameFor(w.toString,
            if (fn == "nth_value_where") s"nvw:$argText"
            else if (fn == "distinct_count" &&
                resolveTypeCached(base, args.headOption.getOrElse(""))
                  .contains(org.apache.spark.sql.types.BooleanType))
              s"dcb:${args.head}"
            else if (argText == "*") "*" else args.head, v,
            sv => WindowOps.frameArray(sv, ts, wUid,
              partCols(w), preceding,
              maxSize = rowCap,
              excludeCurrentTime = w.exclCT,
              excludeCurrentRow = exclCRFilter,
              isPrimary =
                if (requestMode && !(w.inw && hasUnion))
                  col(RequestFlagCol)
                else if (hasUnion) col(FlagCol) else null,
              instanceNotInWindow = w.inw || requestMode,
              strictRowOrder = strict,
              hiPrecedingMs = hiMs,
              skipNewest = skipRows))
          val arr0 = transform(col(arrName), x =>
            struct(x("ts").as("ts"), x("uid").as("uid"),
              x("flag").as("flag"), x("v")(fld).as("v")))
          // split-valued frames: flatten each row's token array into
          // per-token pseudo-rows so the ordinary aggregate dispatch
          // operates over the concatenated token stream
          val arr = if (splitV.isDefined)
            flatten(transform(arr0, x => transform(x("v"), e =>
              struct(x("ts").as("ts"), x("uid").as("uid"),
                x("flag").as("flag"), e.as("v")))))
          else arr0
          // the six hot simple aggregates score the SHARED frame array
          // directly via the one-pass FrameAggExpr scorer, navigating
          // to their field (`v.<fld>`) inside the loop — no interpreted
          // per-aggregate `transform` copy of the array. Split-valued
          // frames (flattened token streams) keep the narrowed shape.
          def argNumeric: Boolean =
            resolveTypeCached(base, args.headOption.getOrElse(""))
              .exists {
                case _: org.apache.spark.sql.types.NumericType => true
                case org.apache.spark.sql.types.BooleanType    => true
                case _                                         => false
              }
          // distinct_count / top1_ratio group by boxed equality in the
          // imperative scorer — only atomic value-based-equals types
          // may take that route (binary is Array[Byte] reference
          // equality; maps/arrays mix Unsafe/Generic representations).
          // Exotic types keep the Column formulation's SQL equality.
          def argAtomicKey: Boolean =
            resolveTypeCached(base, args.headOption.getOrElse(""))
              .exists {
                case _: org.apache.spark.sql.types.NumericType    => true
                case org.apache.spark.sql.types.StringType |
                     org.apache.spark.sql.types.BooleanType |
                     org.apache.spark.sql.types.DateType |
                     org.apache.spark.sql.types.TimestampType |
                     org.apache.spark.sql.types.TimestampNTZType => true
                case _                                            => false
              }
          def hotAgg(f: String): Column =
            if (splitV.isDefined) f match {
              case "sum" => WindowOps.aggSum(arr,
                integral = sumIntegralType.isDefined)
              case "count"          => WindowOps.aggCount(arr)
              case "avg"            => WindowOps.aggAvg(arr)
              case "min"            => WindowOps.aggMin(arr)
              case "max"            => WindowOps.aggMax(arr)
              case "distinct_count" => WindowOps.aggDistinctCount(arr)
            } else graft.functions.FrameAgg.agg(col(arrName), f match {
              case "sum" =>
                if (sumIntegralType.isDefined) "sum_long" else "sum_double"
              case "distinct_count" => "dcount_null"
              case other            => other
            }, Some(fld))
          fn match {
            case f if windowSplitFns.contains(f) =>
              // the window_split list itself
              transform(arr, x => x("v"))
            case "fz_join" =>
              // join(window_split(...), sep): the frame's concatenated
              // tokens joined (test_feature_zero_function.yaml ids 3/5)
              array_join(transform(arr, x => x("v")),
                unescapeSqlLiteral(stripQuotes(args(1).trim)))
            case "sum"            =>
              // sum over an EMPTY frame is NULL in every frame shape —
              // the pre-0.6.4 engine zero-filled empty pure-history
              // ROWS frames (old test_window.yaml id 31 pinned 0) but
              // the integration tree's 0.6.4 revision of the same case
              // expects NULL, consistent with EXCLUDE CURRENT_ROW
              // (test_current_row.yaml ids 4/12) and RANGE hi bounds
              // (test_maxsize.yaml id 6)
              hotAgg("sum")
            case "count"          => hotAgg("count")
            case "avg"            => hotAgg("avg")
            case "min"            => hotAgg("min")
            case "max"            => hotAgg("max")
            case "distinct_count" =>
              if (splitV.isDefined || argAtomicKey) hotAgg("distinct_count")
              else WindowOps.aggDistinctCount(arr)
            case "lag" | "at"     =>
              val k = if (args.length > 1) args(1).toInt else 1
              // lag counts positions from the CURRENT ROW; when the
              // frame's newest positions are cut (EXCLUDE CURRENT_ROW /
              // ROWS hi bound) the array index shifts accordingly
              // (cases/function/window/test_current_row.yaml ids 24-27)
              val effSkip = math.max(skipRows, if (exclCRFilter) 1 else 0)
              if (effSkip == 0) WindowOps.aggLag(arr, k)
              else {
                val idx = k - effSkip + 1
                if (idx < 1) lit(null)
                else when(size(arr) >= idx, element_at(arr, idx)("v"))
              }
            case "first_value" | "last_value" =>
              // optional ignoreNull flag (test_window.yaml id 38)
              val ign = args.length > 1 &&
                args(1).trim.equalsIgnoreCase("true")
              val a2 = if (ign) filter(arr, x => x("v").isNotNull) else arr
              if (fn == "first_value") WindowOps.aggFirstValue(a2)
              else WindowOps.aggLastValue(a2)
            case "nth_value_where" =>
              WindowOps.aggNthValueWhere(arr,
                args(1).replace(" ", "").toInt)
            // like the six simple aggregates, the frame-statistic
            // family scores the SHARED frame directly (field
            // navigation inside the imperative loop) when the frame is
            // not a flattened token stream
            case "median" =>
              if (splitV.isEmpty && argNumeric)
                graft.functions.FrameAgg.agg(col(arrName), "median",
                  Some(fld))
              else WindowOps.aggMedian(arr)
            case "drawdown" =>
              if (splitV.isEmpty && argNumeric)
                graft.functions.FrameAgg.agg(col(arrName), "drawdown",
                  Some(fld))
              else WindowOps.aggDrawdown(arr)
            case "top1_ratio" =>
              if (splitV.isEmpty && argAtomicKey)
                graft.functions.FrameAgg.agg(col(arrName), "top1_ratio",
                  Some(fld))
              else WindowOps.aggTop1Ratio(arr)
            case "topn_frequency" =>
              val nTop = args(1).trim.toInt
              val strRenderable = resolveTypeCached(base,
                args.headOption.getOrElse("")).exists {
                  case org.apache.spark.sql.types.StringType => true
                  case _: org.apache.spark.sql.types.DecimalType => false
                  case _: org.apache.spark.sql.types.NumericType => true
                  case org.apache.spark.sql.types.BooleanType => true
                  case _ => false
                }
              if (nTop <= 0) lit("")
              else if (splitV.isEmpty && strRenderable)
                graft.functions.FrameAgg.aggArg(col(arrName), "topn_freq",
                  nTop.toDouble, Some(fld))
              else WindowOps.aggTopNFrequency(arr, nTop)
            case "ew_avg" =>
              // alpha must be literal (the reference's signature);
              // NULL/0 falls back to plain avg (udfs doc ew_avg)
              val aTxt = args.lift(1).map(_.trim.toLowerCase)
                .filterNot(_ == "null").getOrElse("0")
              val alpha = aTxt.toDouble
              if (alpha == 0.0) hotAgg("avg")
              else if (splitV.isEmpty && argNumeric)
                graft.functions.FrameAgg.aggArg(col(arrName), "ew_avg",
                  alpha, Some(fld))
              else WindowOps.aggEwAvg(arr, alpha)
            case "top" =>
              import org.apache.spark.sql.types._
              val ty = resolveTypeCached(base, args.head)
              val integral = ty.exists(intTypes)
              val numeric = ty.exists {
                case _: NumericType => true
                case _              => false
              }
              // non-numeric `top` (doc surface runs it over strings)
              // keeps the Column formulation's cast semantics
              if (splitV.isEmpty && numeric)
                graft.functions.FrameAgg.aggArg(col(arrName),
                  if (integral) "topk_int" else "topk_double",
                  args(1).trim.toInt.toDouble, Some(fld))
              else WindowOps.aggTopK(arr, args(1).trim.toInt,
                integral = integral)
            case f if SessionState.of(base.sparkSession).userFns.get(f)
                .exists(_.isAggregate) =>
              // CREATE AGGREGATE FUNCTION over a window frame: fold the
              // shared frame's value field (newest-first order, NULLs
              // skipped) with the registered INIT/STEP/OUTPUT — the same
              // codegen'd higher-order aggregate the grouped expansion
              // uses, over the already-membership-filtered frame buffer
              val uf = SessionState.of(base.sparkSession).userFns(f)
              val vSql = s"transform(filter($arrName, " +
                s"__x -> __x.v.$fld IS NOT NULL), " +
                s"__x -> CAST(__x.v.$fld AS ${fnSqlType(uf.params.head._2)}))"
              expr(udafFoldSql(uf, vSql))
          }
          }
        }
      (id, sumCast(c))
    }

      // materialize the shared frame arrays (one per window spec) in
      // the pre-projection stage; the winCols above reference them by
      // name via col(arrName)
      sharedFrames.values.foreach { sf =>
        val sv = struct(
          sf.fields.values.map { case (n, c) => c.as(n) }.toSeq: _*)
        prepCols += (sf.arrName -> sf.build(sv))
      }

      (prepCols.result(), winCols)
    }

    // the reference rejects an expression that combines results of TWO
    // different windows (error_window.yaml id 12); separate projections
    // over different windows stay legal
    locally {
      val idToW = exprs.map(e => (e._1, e._3)).toMap
      outerTokens.foreach { toks =>
        val ws = toks.flatMap(idToW.get).distinct
        if (ws.length > 1)
          throw new IllegalArgumentException(
            "an expression cannot combine results from two different windows")
      }
    }

    // WINDOW UNION sides must match the primary table's schema —
    // column count, types and names (test_window_union.yaml ids 1-3
    // expect failure on each mismatch kind)
    def checkUnionSchema(side: DataFrame): DataFrame = {
      val b = base.schema.fields.filterNot(_.name.startsWith("__graft"))
      val sf = side.schema.fields.filterNot(_.name.startsWith("__graft"))
      val ok = sf.length == b.length && b.zip(sf).forall { case (x, y) =>
        x.name.equalsIgnoreCase(y.name) && x.dataType == y.dataType }
      if (!ok) throw new IllegalArgumentException(
        s"WINDOW UNION side schema ${sf.map(f => f.name + ":" + f.dataType.simpleString).mkString(",")} " +
          s"does not match the primary table ${b.map(f => f.name + ":" + f.dataType.simpleString).mkString(",")}")
      side
    }

    // Windows are grouped by their UNION signature; each group computes
    // over its own (primary ∪ sides) frame source.
    val groups: Seq[(Seq[TRef], Seq[(String, String, WinDef)])] =
      exprs.groupBy(_._3.unions).toSeq
    if (groups.size > 1 && requestMode)
      throw new IllegalArgumentException(
        "request mode supports a single WINDOW UNION list")

    var windowed: DataFrame = null
    if (groups.size <= 1) {
      // single signature: one union build, one window stage (fast path)
      val unionTables = groups.headOption.map(_._1).getOrElse(Seq.empty)
      var df = base
      // uid encodes the reference's same-ts buffer order
      // (test_window_union.yaml ids 18-x/19-x): at equal ts the
      // ORIGINAL rows come first (strict at-or-before among
      // themselves), then each union table's rows in SQL order, each
      // table LIFO. Primary uids are non-negative; side table k gets
      // uids offset by -(k+1)·2^50 — below every primary uid, so the
      // strict (ts, uid) filter keeps every in-range side row while
      // still ordering the buffer correctly, and blocks stay disjoint
      // (monotonic ids are partitionId·2^33 + rowIdx, so they stay
      // under 2^50 up to 131072 Spark partitions — even after the
      // multi-group path doubles them; 2^45 blocks overflowed at 2048).
      if (exprs.nonEmpty) df = df.withColumn(UidCol, monotonically_increasing_id())
      if (unionTables.nonEmpty) {
        val sides = unionTables.map(t => checkUnionSchema(resolveRef(spark, t, scope)))
        df = df.withColumn(FlagCol, lit(true))
        sides.zipWithIndex.foreach { case (side, k) =>
          df = df.unionByName(
            side.withColumn(FlagCol, lit(false))
              .withColumn(UidCol,
                monotonically_increasing_id() - lit((k + 1) * (1L << 50))),
            allowMissingColumns = true)
        }
      }
      val skew = skewPlanOf(exprs)
      skew.foreach(p => df = skewExplode(df, p))
      val (prep, winCols) = groupCols(exprs, unionTables.nonEmpty)
      df = prePartition(df, prep, exprs)
      df = applyCols(df, prep, exprs)
      df = applyCols(df, winCols, exprs)
      skew.foreach(p => df = skewCollapse(df, p))
      windowed = df
      if (unionTables.nonEmpty) windowed = windowed.filter(col(FlagCol))
      if (requestMode) windowed = windowed.filter(col(RequestFlagCol))
    } else {
      // multiple signatures in one SELECT (reference
      // cases/function/window/test_window.yaml ids 27-31): each group
      // windows over its own union, then the per-group outputs join back
      // on uid. Primary rows carry even uids, side rows odd — globally
      // unique without coordinating generators across groups.
      // df0 is referenced in EVERY group's pipeline and the final join;
      // monotonically_increasing_id is nondeterministic, so if base holds
      // a shuffle each branch could re-evaluate it with different row
      // order and the uid equi-joins would silently mis-align. Pin the
      // uids once: eager localCheckpoint truncates lineage so no branch
      // can recompute them (a lost block then fails loudly, not wrongly).
      val df0 = base.withColumn(UidCol, monotonically_increasing_id() * 2)
        .localCheckpoint(true)
      var acc: DataFrame = null
      groups.foreach { case (unions, gexprs) =>
        var dfg =
          if (unions.isEmpty) df0
          else {
            val sides = unions.map(t => checkUnionSchema(resolveRef(spark, t, scope)))
            // sides union FIRST, then one uid generator — per-side
            // generators would collide (the r3 uid-collision class)
            // side uids sit BELOW every primary uid in per-table blocks
            // (same scheme as the single-group path): strict (ts, uid)
            // membership keeps every in-range side row, and the buffer
            // orders primaries first then each table LIFO
            // (test_window_union.yaml id 19-1). The odd/even split
            // keeps uids disjoint from primary ones.
            val sideAll = sides.zipWithIndex.map { case (side, k) =>
              side.withColumn(FlagCol, lit(false))
                .withColumn(UidCol, monotonically_increasing_id() * 2 + 1 -
                  lit((k + 1) * (1L << 50)))
            }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
            df0.withColumn(FlagCol, lit(true))
              .unionByName(sideAll, allowMissingColumns = true)
          }
        val skew = skewPlanOf(gexprs)
        skew.foreach(p => dfg = skewExplode(dfg, p))
        val (prep, winCols) = groupCols(gexprs, unions.nonEmpty)
        dfg = prePartition(dfg, prep, gexprs)
        dfg = applyCols(dfg, prep, gexprs)
        dfg = applyCols(dfg, winCols, gexprs)
        skew.foreach(p => dfg = skewCollapse(dfg, p))
        val outCols = Seq(col(UidCol)) ++
          (if (unions.isEmpty) Seq.empty else Seq(col(FlagCol))) ++
          winCols.map(nc => col(nc._1))
        var out = dfg.select(outCols: _*)
        if (unions.nonEmpty) out = out.filter(col(FlagCol)).drop(FlagCol)
        acc = if (acc == null) out else acc.join(out, Seq(UidCol))
      }
      windowed = df0.join(acc, Seq(UidCol))
    }
    val finalCols = s.projs.zip(outerTokens).zipWithIndex.flatMap {
      case ((pr, toks), i) =>
        if (isStarProj(toks) && toks.length == 1)
          // bare *: expand WITHOUT the internal uid/flag/window columns
          // (simple_query.yaml id 100)
          windowed.columns.filterNot(_.startsWith("__graft")).toSeq.map(col)
        else if (isStarProj(toks)) Seq(starCol(toks))
        else Seq(expr(toks.mkString(" ")).as(projName(pr, i)))
    }
    // request-row identity passes through (requestMode derived-side
    // re-alignment)
    val passReqUid =
      if (windowed.columns.contains(ReqUidCol)) Seq(col(ReqUidCol))
      else Seq.empty
    windowed.select(finalCols ++ passReqUid: _*)
  }
}
