package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Ttl
import graft.sql.GraftSql

/** HTTP serving shim over the deployment registry — the engine-side
  * counterpart of the reference's apiserver
  * (src/apiserver/api_server_impl.cc): POST a JSON request row (or
  * batch) at a deployment and get the deployment's features back.
  *
  * Routes (reference route table, api_server_impl.cc:142,451-458,624):
  *   POST /dbs/{db}/deployments/{name}   body: {"input": [[...]|{...}]}
  *   POST /dbs/{db}/procedures/{name}    (a DEPLOY is an SP there too)
  *   GET  /dbs/{db}/deployments/{name}   → name + body SQL
  * Response envelope: {"code":0,"msg":"ok","data":{"data":[[...]]}}
  * (code -1 + msg on any error). Input rows are positional arrays or
  * column-name maps, typed by the deployment's request schema; set
  * "need_schema": true for an output-schema echo and
  * "write_nan_and_inf_null": true to null out NaN/Inf doubles — the
  * same request options the reference accepts.
  *
  * This is a thin I/O adapter: each request builds a small request
  * DataFrame and runs the SAME [[GraftSql.requestMode]] plan CALL
  * uses, so REST answers are CALL answers by construction (asserted in
  * ApiServerSpec). A production deployment would front many executors
  * with any HTTP fleet; the engine contract is this request/response
  * mapping, not the socket fabric — hence the JDK built-in server and
  * no connection tuning.
  */
object ApiServer {

  private val M = new ObjectMapper()

  final class Handle private[ApiServer] (server: HttpServer) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      server.stop(0)
      // a pooled executor holds non-daemon threads — shut it down or
      // the JVM outlives the server
      server.getExecutor match {
        case es: java.util.concurrent.ExecutorService => es.shutdownNow()
        case _                                        => ()
      }
    }
  }

  /** Start serving the session's deployments on `port` (0 = ephemeral;
    * read the actual one off the returned handle). `threads` > 0 backs
    * the server with a fixed pool so concurrent requests execute in
    * parallel (Spark schedules their jobs concurrently — the serving
    * throughput path perfbench's `online_serve` measures); the default
    * single-thread dispatch is plenty at spec scale. */
  def start(spark: SparkSession, port: Int = 0, threads: Int = 0): Handle = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(spark, ex))
    server.setExecutor(
      if (threads > 0) java.util.concurrent.Executors.newFixedThreadPool(threads)
      else null) // caller thread per exchange; spec-scale
    server.start()
    new Handle(server)
  }

  private val CallRoute =
    "/dbs/([^/]+)/(deployments|procedures)/([^/]+)".r
  private val TableRoute =
    "/dbs/([^/]+)/tables/([^/]+)".r
  private val TableListRoute =
    "/dbs/([^/]+)/tables".r
  private val DbRoute =
    "/dbs/([^/]+)".r

  /** A deployment/procedure resolves when its DB exists, the name is
    * registered, AND the deployment's home db matches the URL db —
    * the reference scopes deployments per-db (ShowProcedure takes
    * (db, name)). A deployment made with no current db (the implicit
    * default namespace) stays visible from every existing db, matching
    * CALL's qualifier-free resolution. Failure = the reference's exact
    * not-found message (api_server_impl.cc ShowProcedure path). */
  private def resolveCallable(spark: SparkSession, db: String,
      name: String): String = {
    val dbOk = db == "default" || GraftSql.databases(spark).contains(db)
    val scopeOk = dbOk && (GraftSql.deploymentDb(spark, name) match {
      case Some(home) => home == db
      case None       => true
    })
    (if (scopeOk) GraftSql.callableBody(spark, name) else None).getOrElse(
      throw new IllegalArgumentException(
        s"procedure not found, msg: $name does not exist in $db"))
  }

  private def handle(spark: SparkSession, ex: HttpExchange): Unit = {
    val reply =
      try {
        (ex.getRequestMethod, ex.getRequestURI.getPath) match {
          case ("POST", CallRoute(db, kind, name)) =>
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            // only the procedures route honors common (const) columns
            // (api_server_impl.cc:451-458 binds has_common_col)
            val bodySql = resolveCallable(spark, db, name)
            execute(spark, name, bodySql, body,
              hasCommon = kind == "procedures")
          case ("GET", CallRoute(db, _, name)) =>
            val bodySql = resolveCallable(spark, db, name)
            envelope(0, "ok", Some(procedureInfo(spark, name, bodySql)))
          case ("PUT", TableRoute(db, table)) =>
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            insertRow(spark, db, table, body)
          case ("GET", TableRoute(db, table)) =>
            // reference RegisterGetTable: {"table": {...}} (exact
            // not-found wordings from api_server_impl.cc)
            if (db != "default" && !GraftSql.databases(spark).contains(db))
              envelope(-1, "DB not found", None)
            else GraftSql.resolveDbTable(spark, db, table) match {
              case None => envelope(-1, "Table not found", None)
              case Some(vn) =>
                val root = M.createObjectNode()
                root.put("code", 0)
                root.put("msg", "ok")
                root.set[ObjectNode]("table", tableInfo(spark, table, vn))
                M.writeValueAsString(root)
            }
          case ("GET", TableListRoute(db)) =>
            if (db != "default" && !GraftSql.databases(spark).contains(db))
              envelope(-1, "DB not found", None)
            else {
              val root = M.createObjectNode()
              root.put("code", 0)
              root.put("msg", "ok")
              val arr = root.putArray("tables")
              GraftSql.tablesIn(spark, db).foreach { t =>
                GraftSql.resolveDbTable(spark, db, t).foreach(vn =>
                  arr.add(tableInfo(spark, t, vn)))
              }
              M.writeValueAsString(root)
            }
          case ("POST", DbRoute(db)) =>
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            executeSql(spark, db, body)
          case ("POST", "/refresh") =>
            // reference RegisterRefresh (api_server_impl.cc:750):
            // refresh the router's catalog cache. The session catalog
            // here is always current (no nameserver cache to go
            // stale), so refreshing is answering the envelope.
            envelope(0, "ok", None)
          case ("GET", "/dbs") =>
            // reference show-databases route: dbs list rides at the
            // envelope's top level, not under data
            val root = M.createObjectNode()
            root.put("code", 0)
            root.put("msg", "ok")
            val arr = root.putArray("dbs")
            GraftSql.databases(spark).toSeq.sorted.foreach(arr.add)
            M.writeValueAsString(root)
          case (m, p) =>
            // reference InterfaceProvider wording for unroutable calls
            envelope(-1, s"no match method: $m $p", None)
        }
      } catch {
        case e: Throwable =>
          envelope(-1, Option(e.getMessage).getOrElse(e.getClass.getName),
            None)
      }
    val bytes = reply.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** PUT /dbs/{db}/tables/{t} — the reference's single-row insert
    * route (api_server_impl.cc:376-447): body {"value": [[...]]},
    * exactly one positional row, strict per-column conversion (string
    * columns take only JSON strings, timestamps only epoch numbers,
    * integrals only integral numbers, NOT NULL columns refuse null). */
  private def insertRow(spark: SparkSession, db: String, table: String,
      body: String): String = {
    val doc =
      try M.readTree(body)
      catch { case e: Throwable =>
        return envelope(-1, "Json parse failed, error code: 1", None) }
    if (doc == null || doc.isMissingNode)
      return envelope(-1, "Json parse failed, error code: 1", None)
    val value = if (doc.isObject) doc.get("value") else null
    if (value == null || !value.isArray || value.isEmpty ||
        value.size() > 1 || !value.get(0).isArray)
      return envelope(-1,
        "Invalid value in body, only support to put one row", None)
    // the reference routes the row through GetInsertRow("insert into t
    // values(?,...)") — an unknown table or db surfaces as that sql
    // plan's failure, which also names the missing relation
    val viewName = GraftSql.resolveDbTable(spark, db, table).getOrElse(
      return envelope(-1,
        s"fail to get sql plan with insert into $table values: " +
          s"table $table does not exist in $db", None))
    val schema = spark.table(quoteView(viewName)).schema
    val arr = value.get(0)
    if (arr.size() > schema.fields.length)
      return envelope(-1, "column size != schema size", None)
    if (arr.size() < schema.fields.length)
      // too few placeholders: the reference's plan step fails
      return envelope(-1,
        s"fail to get sql plan with insert into $table: plan failed, " +
          s"${arr.size()} values for ${schema.fields.length} columns",
        None)
    // NOT NULL can live in two places: the view schema (harness-built
    // tables set nullable=false directly) or GraftSql's declared-flag
    // registry (DDL-created tables keep the view nullable and record
    // the flag as metadata) — honor both, like tableInfo's column_desc
    val declaredNotNull = notNullOf(spark, table, viewName)
    val vals =
      try schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val v = arr.get(i)
        if ((v == null || v.isNull) &&
            (!f.nullable || declaredNotNull.contains(f.name)))
          throw new IllegalArgumentException("not null")
        coerceStrict(v, f.dataType)
      } catch { case e: Throwable =>
        return envelope(-1,
          s"Translate to insert row failed: ${e.getMessage}", None)
      }
    graft.GraftCatalog.insertValues(spark, viewName,
      Seq(Row.fromSeq(vals)))
    envelope(0, "ok", None)
  }

  private def quoteView(n: String): String =
    if (n.matches("[A-Za-z_][\\w]*")) n
    else "`" + n.replace("`", "``") + "`"

  /** Declared-NOT-NULL columns of a table, whichever name GraftSql
    * keyed them under: the short name (default-db DDL) or the resolved
    * internal view name (db-scoped DDL). */
  private def notNullOf(spark: SparkSession, short: String,
      viewName: String): Set[String] =
    GraftSql.notNullColumns(spark, short) ++
      GraftSql.notNullColumns(spark, viewName)

  /** Strict JSON → column conversion for the insert route (the
    * deployment-execute route's [[coerce]] stays lenient for
    * timestamps — request bodies there may carry ISO text). */
  private def coerceStrict(v: JsonNode, dt: DataType): Any = {
    if (v == null || v.isNull) return null
    dt match {
      case StringType =>
        if (!v.isTextual) throw new IllegalArgumentException(
          "value is not string")
        v.asText()
      case BooleanType =>
        if (!v.isBoolean) throw new IllegalArgumentException(
          "value is not bool")
        v.asBoolean()
      case IntegerType | ShortType | LongType =>
        if (!v.isIntegralNumber) throw new IllegalArgumentException(
          "value is not integral")
        dt match {
          case IntegerType => v.asInt()
          case ShortType   => v.asInt().toShort
          case _           => v.asLong()
        }
      case FloatType  =>
        if (!v.isNumber) throw new IllegalArgumentException(
          "value is not numeric")
        v.asDouble().toFloat
      case DoubleType =>
        if (!v.isNumber) throw new IllegalArgumentException(
          "value is not numeric")
        v.asDouble()
      case TimestampType =>
        if (!v.isIntegralNumber) throw new IllegalArgumentException(
          "timestamp takes an epoch-millis number")
        new java.sql.Timestamp(v.asLong())
      case DateType =>
        java.sql.Date.valueOf(v.asText()) // throws on bad format
      case other => throw new IllegalArgumentException(
        s"unsupported column type ${other.simpleString}")
    }
  }

  private def envelope(code: Int, msg: String,
      data: Option[JsonNode]): String = {
    val root = M.createObjectNode()
    root.put("code", code)
    root.put("msg", msg)
    data.foreach(root.set[ObjectNode]("data", _))
    M.writeValueAsString(root)
  }

  /** Run one POST body against a deployment: parse, type the input
    * rows by the request schema, request-mode them, render.
    * `bodySql` is the already-resolved deployment body; `name` keys
    * the request-schema lookup. With `hasCommon` (procedures route),
    * a stored signature's `const` params are COMMON columns: the body
    * carries them once in `common_cols` and input rows carry only the
    * non-const columns (api_server_impl.cc:487-545). */
  private def execute(spark: SparkSession, name: String, bodySql: String,
      body: String, hasCommon: Boolean = false): String = {
    val doc =
      try M.readTree(body)
      catch { case _: Throwable => null }
    if (doc == null || doc.isMissingNode || !doc.isObject)
      throw new IllegalArgumentException("Request body json parse failed")
    val input = doc.get("input")
    if (input == null || !input.isArray || input.isEmpty)
      throw new IllegalArgumentException("Field input is invalid")
    val nanNull = Option(doc.get("write_nan_and_inf_null"))
      .exists(_.asBoolean(false))
    val needSchema = Option(doc.get("need_schema"))
      .exists(_.asBoolean(false))

    val sig = GraftSql.procedureSignature(spark, name)
    // SP parameters bind POSITIONALLY to the request table's columns
    // (the signature's formal names may differ from the column names);
    // the table schema is authoritative for reading, the signature
    // contributes the const flags
    val tableSchema = GraftSql.requestSchemaFor(spark, name)
    val schema: StructType = sig match {
      case Some(s) if s.length != tableSchema.fields.length =>
        StructType(s.map { case (n, t, _) =>
          StructField(n, t, nullable = true) })
      case _ => tableSchema
    }
    // const flags per schema position (procedures route only)
    val isConst: Seq[Boolean] =
      if (hasCommon) sig.map(_.map(_._3))
        .getOrElse(Seq.fill(schema.fields.length)(false))
      else Seq.fill(schema.fields.length)(false)
    val commonVals: Seq[JsonNode] =
      if (!hasCommon) Seq.empty
      else doc.get("common_cols") match {
        case null => Seq.empty
        case cc if !cc.isArray =>
          throw new IllegalArgumentException("common_cols is not array")
        case cc => (0 until cc.size()).map(cc.get(_))
      }
    val nConst = isConst.count(identity)
    if (hasCommon && commonVals.length != nConst)
      throw new IllegalArgumentException("Invalid common cols size")
    val expectedInput = schema.fields.length - nConst

    val rows = (0 until input.size()).map { i =>
      val r = input.get(i)
      var ci = 0 // next common value
      var ri = 0 // next row value
      val vals: Seq[Any] =
        if (r.isArray) {
          if (r.size() != expectedInput)
            throw new IllegalArgumentException(
              s"Invalid input data size in row $i")
          schema.fields.toSeq.zipWithIndex.map { case (f, j) =>
            val v = if (isConst(j)) { val x = commonVals(ci); ci += 1; x }
              else { val x = r.get(ri); ri += 1; x }
            coerce(v, f.dataType, f.name)
          }
        } else if (r.isObject) {
          schema.fields.toSeq.zipWithIndex.map { case (f, j) =>
            val v = if (isConst(j)) { val x = commonVals(ci); ci += 1; x }
              else r.get(f.name)
            coerce(v, f.dataType, f.name)
          }
        } else throw new IllegalArgumentException(
          s"Must be array or map, row $i")
      Row.fromSeq(vals)
    }
    // LocalRelation (not an RDD): requestMode's serving fast path reads
    // literal rows driver-side — no checkpoint/probe jobs per request
    val reqDf = spark.createDataFrame(
      java.util.Arrays.asList(rows.toIndexedSeq: _*), schema)
    // a db-scoped deployment's body may use plain table names that only
    // resolve under its home db — execute there, like the reference (an
    // SP runs in its own db)
    val out = GraftSql.serveRequest(spark, bodySql, reqDf,
      db = GraftSql.deploymentDb(spark, name))
    val collected = out.collect()

    val data = M.createObjectNode()
    val arr = data.putArray("data")
    collected.foreach(r => arr.add(renderRow(r, out.schema, nanNull)))
    if (needSchema) {
      val sch = data.putArray("schema")
      out.schema.fields.foreach { f =>
        val fo = M.createObjectNode()
        fo.put("name", f.name)
        fo.put("type", wireType(f.dataType))
        sch.add(fo)
      }
    }
    // the reference always carries common-column data (empty when the
    // deployment declares none — ours never do; constants inline)
    data.putArray("common_cols_data")
    envelope(0, "ok", Some(data))
  }

  /** GET deployment/procedure info — the reference's ShowProcedure
    * shape (cases/restful/v230/test_get_procedure.yaml): name, the
    * original statement text, input schema (declared signature, or
    * the request table for signature-less deployments), the PLANNED
    * output schema, const/common column names, and the physical
    * tables the body reads. Output common columns surface only when
    * the body is a pass-through of the input schema (matching the
    * corpus: SELECT * keeps them, any reshaping projection/window
    * drops them). */
  private def procedureInfo(spark: SparkSession, name: String,
      bodySql: String): ObjectNode = {
    val data = M.createObjectNode()
    data.put("name", name)
    val raw = GraftSql.procedureText(spark, name).getOrElse(bodySql)
    data.put("sql", bodySql)
    data.put("procedure", raw)
    val sig = GraftSql.procedureSignature(spark, name)
    val inSchema: StructType = sig match {
      case Some(s) => StructType(s.map { case (n, t, _) =>
        StructField(n, t, nullable = true) })
      case None => GraftSql.requestSchemaFor(spark, name)
    }
    val consts = sig.map(_.filter(_._3).map(_._1)).getOrElse(Seq.empty)
    def schemaArr(key: String, st: StructType): Unit = {
      val a = data.putArray(key)
      st.fields.foreach { f =>
        val fo = M.createObjectNode()
        fo.put("name", f.name)
        fo.put("type", wireType(f.dataType))
        a.add(fo)
      }
    }
    schemaArr("input_schema", inSchema)
    val outSchema = GraftSql.sql(spark, bodySql,
      defaultDb = GraftSql.deploymentDb(spark, name)).schema
    schemaArr("output_schema", outSchema)
    val inCommon = data.putArray("input_common_cols")
    consts.foreach(inCommon.add)
    val outCommon = data.putArray("output_common_cols")
    if (outSchema.fieldNames.sameElements(inSchema.fieldNames))
      consts.foreach(outCommon.add)
    val tbls = data.putArray("tables")
    GraftSql.referencedTables(bodySql).foreach(tbls.add)
    data
  }

  /** POST /dbs/{db} — the reference's ExecuteSQL route
    * (api_server_impl.cc:140-197): body {"sql": "...", "mode":
    * offsync|offasync|online|onsync, "parameter": [...],
    * "write_nan_and_inf_null": bool}. Any statement the SQL front end
    * takes runs here (the reference routes DDL through it too); a
    * result set renders as {"data": {"schema": ["Int32", ...],
    * "data": [[...]]}} with the capitalized type vocabulary. The mode
    * is the statement's execute_mode (online/offline dual-store
    * routing) for this request only; sync-vs-async is a job-scheduling
    * concern the local engine runs synchronously either way. */
  private def executeSql(spark: SparkSession, db: String,
      body: String): String = {
    val doc =
      try M.readTree(body)
      catch { case e: Throwable =>
        return envelope(-1,
          s"Json parse failed, ${Option(e.getMessage).getOrElse("")}"
            .take(200), None) }
    if (doc == null || !doc.isObject || !doc.has("sql") ||
        !doc.get("sql").isTextual)
      return envelope(-1, "Json parse failed, missing sql", None)
    val sql = doc.get("sql").asText()
    val mode = Option(doc.get("mode")).filterNot(_.isNull)
      .map(_.asText().toLowerCase).getOrElse("offsync")
    val executeMode = mode match {
      case "offsync" | "offasync" => Some("offline")
      case "online" | "onsync"    => Some("online")
      case other => return envelope(-1, s"Invalid mode $other", None)
    }
    if (db != "default" && !GraftSql.databases(spark).contains(db))
      return envelope(-1, s"DB $db not found", None)
    val nanNull = Option(doc.get("write_nan_and_inf_null"))
      .exists(_.asBoolean(false))
    val params: Seq[Any] = Option(doc.get("parameter"))
      .filter(_.isArray).map { arr =>
        (0 until arr.size()).map { i =>
          val v = arr.get(i)
          if (v.isNull) null
          else if (v.isTextual) v.asText()
          else if (v.isBoolean) v.asBoolean()
          else if (v.isIntegralNumber) v.asLong()
          else v.asDouble()
        }
      }.getOrElse(Seq.empty)
    // run in the URL's db (the reference's route binds execution to the
    // path db; `default` runs in the session's current db) under the
    // requested execute_mode; the session's own mode is left alone.
    // Parameterized queries bind through the query front end (the
    // statement surface's `?` binding covers prepared INSERTs).
    val up = sql.trim.toUpperCase
    val isQuery = up.startsWith("SELECT") || up.startsWith("WITH")
    val urlDb = if (db == "default") None else Some(db)
    val result =
      if (isQuery && params.nonEmpty)
        Some(GraftSql.sql(spark, sql, Map.empty, params, Map.empty, urlDb,
          executeMode))
      else GraftSql.statement(spark, sql, params.toList, urlDb, executeMode)
    result match {
      case None => envelope(0, "ok", None)
      case Some(df) =>
        // the route buffers the whole result on the driver (the
        // reference's Query route does the same) — cap it so an
        // offline `SELECT *` over a big table can't OOM the server;
        // 0 = unlimited, for callers that accept the buffering
        val cap = spark.conf.getOption(MaxResultRowsKey)
          .map(_.trim.toLong).getOrElse(DefaultMaxResultRows)
        val rows =
          if (cap <= 0) df.collect()
          else df.limit(
            math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
        if (cap > 0 && rows.length > cap)
          return envelope(-1,
            s"result exceeds $MaxResultRowsKey=$cap rows; add a " +
              "LIMIT or raise the cap", None)
        val data = M.createObjectNode()
        val sch = data.putArray("schema")
        df.schema.fields.foreach(f => sch.add(queryType(f.dataType)))
        val arr = data.putArray("data")
        rows.foreach(r => arr.add(renderRow(r, df.schema, nanNull)))
        envelope(0, "ok", Some(data))
    }
  }

  /** Session conf key capping how many rows the ExecuteSQL route will
    * buffer on the driver (0 = unlimited). */
  val MaxResultRowsKey = "graft.apiserver.maxResultRows"
  private val DefaultMaxResultRows = 100000L

  /** Capitalized type vocabulary of the ExecuteSQL result schema
    * (api_server_impl.cc:1292-1330). */
  private def queryType(dt: DataType): String = dt match {
    case BooleanType   => "Bool"
    case ShortType     => "Int16"
    case IntegerType   => "Int32"
    case LongType      => "Int64"
    case FloatType     => "Float"
    case DoubleType    => "Double"
    case StringType    => "String"
    case DateType      => "Date"
    case TimestampType => "Timestamp"
    case other         => other.simpleString.capitalize
  }

  /** Table metadata (the reference's nameserver TableInfo JSON —
    * cases/restful/v230/test_{desc,show_tables}.yaml): columns with
    * the DESC type vocabulary and NOT NULL flags, declared indexes as
    * column_key entries with the reference's TTL JSON (abs in
    * MINUTES), partition/replica counts from CREATE TABLE options
    * (standalone default 1/1). Placement fields the nameserver owns
    * (table_partition_size, format_version, partition_key,
    * schema_versions) carry the standalone constants. */
  private def tableInfo(spark: SparkSession, short: String,
      viewName: String): ObjectNode = {
    val o = M.createObjectNode()
    o.put("name", short)
    o.put("table_partition_size", 1)
    val opts = GraftSql.tableOptions(spark, short)
    def intOpt(k: String, dflt: Int): Int =
      opts.get(k).filter(_.matches("\\d+")).map(_.toInt).getOrElse(dflt)
    o.put("partition_num", intOpt("partitionnum", 1))
    o.put("replica_num", intOpt("replicanum", 1))
    val notNull = notNullOf(spark, short, viewName)
    val cd = o.putArray("column_desc")
    spark.table(quoteView(viewName)).schema.fields.foreach { f =>
      val fo = M.createObjectNode()
      fo.put("name", f.name)
      fo.put("type", descType(f.dataType))
      fo.put("not_null", notNull.contains(f.name) || !f.nullable)
      cd.add(fo)
    }
    o.putArray("added_column_desc")
    val ck = o.putArray("column_key")
    GraftSql.tableIndexMeta(spark, short).foreach { m =>
      val ko = M.createObjectNode()
      val cn = ko.putArray("col_name")
      m.keys.foreach(cn.add)
      m.ts.foreach(ko.put("ts_name", _))
      val ttl = ko.putObject("ttl")
      ttl.put("ttl_type", m.ttl.kind)
      m.ttl match {
        case Ttl.LatestCount(n) => ttl.put("lat_ttl", n)
        case Ttl.AbsoluteTime(_) => ttl.put("abs_ttl", m.ttl.absMinutes)
        case t =>
          ttl.put("abs_ttl", t.absMinutes)
          ttl.put("lat_ttl", t.lat)
      }
      ck.add(ko)
    }
    o.put("format_version", 1)
    o.putArray("partition_key")
    o.putArray("schema_versions")
    o
  }

  /** DESC/table-metadata type vocabulary (string surfaces as varchar
    * there, unlike the SP schema's `string`). */
  private def descType(dt: DataType): String = dt match {
    case StringType    => "varchar"
    case ShortType     => "smallint"
    case IntegerType   => "int"
    case LongType      => "bigint"
    case FloatType     => "float"
    case DoubleType    => "double"
    case BooleanType   => "bool"
    case TimestampType => "timestamp"
    case DateType      => "date"
    case other         => other.simpleString
  }

  /** Reference wire type names (openmldb type system, not Spark's) —
    * cases/restful expects int16/int32/int64 etc. */
  private def wireType(dt: DataType): String = dt match {
    case ShortType     => "int16"
    case IntegerType   => "int32"
    case LongType      => "int64"
    case FloatType     => "float"
    case DoubleType    => "double"
    case StringType    => "string"
    case BooleanType   => "bool"
    case TimestampType => "timestamp"
    case DateType      => "date"
    case other         => other.simpleString
  }

  /** JSON value → Spark external row value for `dt` (the subset of
    * types a request table carries). */
  private def coerce(v: JsonNode, dt: DataType, field: String): Any = {
    if (v == null || v.isNull) return null
    def integral(): Unit =
      if (!v.isIntegralNumber) throw new IllegalArgumentException(
        s"Translate to request row failed: non-integral value for " +
          s"$field (${dt.simpleString})")
    dt match {
      case StringType  => v.asText()
      case BooleanType => v.asBoolean()
      case IntegerType => integral(); v.asInt()
      case ShortType   => integral(); v.asInt().toShort
      case LongType    => integral(); v.asLong()
      case FloatType   => v.asDouble().toFloat
      case DoubleType  => v.asDouble()
      case TimestampType =>
        // millis epoch (the reference's JSON timestamp form) or ISO text
        if (v.isNumber) new java.sql.Timestamp(v.asLong())
        else java.sql.Timestamp.valueOf(v.asText().replace('T', ' '))
      case DateType =>
        java.sql.Date.valueOf(v.asText())
      case other => throw new IllegalArgumentException(
        s"unsupported request column type ${other.simpleString} ($field)")
    }
  }

  private def renderRow(r: Row, schema: StructType,
      nanNull: Boolean): ArrayNode = {
    val a = M.createArrayNode()
    schema.fields.toSeq.zipWithIndex.foreach { case (f, i) =>
      if (r.isNullAt(i)) { a.addNull(); () }
      else f.dataType match {
        case StringType  => a.add(r.getString(i))
        case BooleanType => a.add(r.getBoolean(i))
        case IntegerType => a.add(r.getInt(i))
        case ShortType   => a.add(r.getShort(i).toInt)
        case LongType    => a.add(r.getLong(i))
        case FloatType =>
          val d = r.getFloat(i).toDouble
          if (nanNull && (d.isNaN || d.isInfinite)) a.addNull() else a.add(d)
        case DoubleType =>
          val d = r.getDouble(i)
          if (nanNull && (d.isNaN || d.isInfinite)) a.addNull() else a.add(d)
        case TimestampType =>
          a.add(r.getTimestamp(i).getTime)
        case DateType =>
          // reference wire format: unpadded y-M-d ("2020-5-1",
          // json_helper / restful corpus expectations)
          val ld = r.getDate(i).toLocalDate
          a.add(s"${ld.getYear}-${ld.getMonthValue}-${ld.getDayOfMonth}")
        case DecimalType() => a.add(r.getDecimal(i))
        case _ => a.add(String.valueOf(r.get(i)))
      }
    }
    a
  }
}
