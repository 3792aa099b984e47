package graft.sources

import java.util

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read/write.format("graft")` — the DataSource V2 bridge into
  * the engine's ONLINE store, the analog of the reference's
  * openmldb-spark-connector
  * (java/openmldb-spark-connector/src/main/java/com/_4paradigm/openmldb/
  * spark/OpenmldbSource.java). Same user API: options `db` + `table`
  * (both required, the reference's OpenmldbConfig preconditions),
  * `putIfAbsent` (write dedup = INSERT OR IGNORE,
  * OpenmldbConfig.java:35), `writerType` single|batch
  * (OpenmldbConfig.java:31-33), `insert_memory_usage_limit`; table
  * capabilities BATCH_READ + BATCH_WRITE (OpenmldbTable.java:118-124)
  * plus STREAMING_WRITE, the ingest-connector replacement;
  * the supported column-type vocabulary is the reference's
  * sdkTypeToSparkType list (OpenmldbTable.java:34-57: bool, smallint,
  * int, bigint, float, double, string, date, timestamp) and anything
  * else is rejected with its error shape; write-schema mismatches
  * surface as AnalysisException from Spark's own AppendData resolution,
  * exactly what the reference's TestWrite.scala relies on.
  *
  * WHAT it reads is the reference semantics; HOW differs deliberately:
  * the reference scans through its SDK as ONE InputPartition doing
  * `SELECT * FROM t` (OpenmldbScan.java:planInputPartitions returns a
  * single SimplePartition; OpenmldbPartitionReader.scala) with no
  * pruning. Here the online snapshot is sliced into `numPartitions`
  * input partitions and the ScanBuilder implements column pruning and
  * filter pushdown, so `select(a).filter(...)` over a graft table
  * collects only the pruned, filtered columns.
  *
  * Scale note: the ONLINE store — in both systems — is the
  * TTL-bounded serving tier, memory-resident by design
  * (docs/en/openmldb_sql/ddl/CREATE_TABLE_STATEMENT.md storage_mode;
  * our GraftCatalog keeps it as session views). The snapshot therefore
  * fits driver memory by the same contract that makes it fit the
  * reference's tablet memory; the 100 TB path is the OFFLINE store,
  * which LOAD DATA / offline SELECT already read through Spark's
  * native parquet source with full pushdown. Misuse (pointing
  * `format("graft")` at a table holding offline-scale data) fails
  * loudly: the scan refuses past the `maxScanRows` budget (default
  * [[GraftSource.DefaultMaxScanRows]]) with an error naming the
  * offline path, instead of OOMing the driver. Writes buffer per task
  * and apply on BatchWrite.commit — the reference's "batch"
  * writerType (insert when commit, OpenmldbConfig.java:32); its
  * "single" mode (insert per row, no atomicity) is accepted and
  * upgraded to the atomic commit, a strictly stronger guarantee.
  */
class GraftSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSource.tableSchema(GraftSource.config(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val cfg = GraftSource.config(
      new CaseInsensitiveStringMap(properties))
    // getTable runs on the USER's thread (DataStreamWriter.start /
    // DataFrameReader resolution) — capture that session so streaming
    // epoch commits, which run on the stream-execution thread with a
    // CLONED active session, append into the catalog the user reads
    // (a stream started from spark.newSession() must not land in the
    // default session's view registry)
    new GraftDsTable(cfg, schema, SparkSession.getActiveSession)
  }
}

object GraftSource {
  final case class Config(db: String, table: String, putIfAbsent: Boolean,
      writerType: String, numPartitions: Int,
      maxScanRows: Long = DefaultMaxScanRows) extends Serializable

  /** Defensive budget on the snapshot scan (below): the online store is
    * the TTL-bounded serving tier and fits driver memory by contract,
    * but pointing `format("graft")` at a table someone bulk-loaded an
    * offline-sized dataset into must fail loudly, not OOM the driver.
    * 10M rows ≈ low-GB driver footprint at typical serving-row widths. */
  val DefaultMaxScanRows: Long = 10000000L

  /** Parse + validate options with the reference's preconditions
    * (OpenmldbConfig.setDB/setTable/setWriterType). */
  def config(options: CaseInsensitiveStringMap): Config = {
    val db = options.get("db")
    require(db != null && db.nonEmpty, "db name must not be empty")
    val table = options.get("table")
    require(table != null && table.nonEmpty, "table name must not be empty")
    val wt = Option(options.get("writerType")).getOrElse("single")
    require(wt == "single" || wt == "batch",
      s"writerType must be 'single' or 'batch', got '$wt'")
    // validated for parity (the reference forwards it to
    // SET @@insert_memory_usage_limit); commit-time writes here are
    // driver-applied view swaps, so the limit has nothing to bound
    Option(options.get("insert_memory_usage_limit")).foreach { v =>
      val n = v.toInt
      require(n >= 0 && n <= 100,
        s"insert_memory_usage_limit must be in [0, 100], got $n")
    }
    val put = Option(options.get("putIfAbsent")).exists(_.toBoolean)
    val np = Option(options.get("numPartitions")).map(_.toInt).getOrElse(0)
    val cap = Option(options.get("maxScanRows")).map(_.toLong)
      .getOrElse(DefaultMaxScanRows)
    require(cap > 0, s"maxScanRows must be positive, got $cap")
    Config(db, table, put, wt, np, cap)
  }

  /** Resolve the config's view in the engine catalog (db-scoped view
    * first, session view fallback — the same visibility CALL and the
    * REST routes use). */
  def resolveView(cfg: Config): String = resolveView(cfg, SparkSession.active)

  /** [[resolveView]] against an explicit session — the db registry is
    * keyed by session identity, so resolution must run on the SAME
    * session the append will target. */
  def resolveView(cfg: Config, spark: SparkSession): String =
    graft.sql.GraftSql.resolveDbTable(spark, cfg.db, cfg.table).getOrElse(
      throw new IllegalArgumentException(
        s"table ${cfg.db}.${cfg.table} does not exist"))

  private val supported: Set[DataType] = Set(BooleanType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, StringType, DateType,
    TimestampType)

  /** The table's schema with nullability from the CREATE TABLE NOT
    * NULL registry (the reference surfaces `!column.isNotNull()`,
    * OpenmldbTable.java:69) and the reference's type-vocabulary
    * check. */
  def tableSchema(cfg: Config): StructType = {
    val spark = SparkSession.active
    val view = resolveView(cfg)
    // NOT NULL registry keys by the registered view name for db-scoped
    // tables and by the short name for session tables — prefer the
    // resolved view's entry so db=x,table=t never inherits default.t's
    // constraint set
    val byView = graft.sql.GraftSql.notNullColumns(spark, view)
    val notNull =
      if (byView.nonEmpty) byView
      else graft.sql.GraftSql.notNullColumns(spark, cfg.table)
    StructType(spark.table(quote(view)).schema.fields.map { f =>
      if (!supported.contains(f.dataType))
        throw new IllegalArgumentException(
          s"No support for sql type ${f.dataType.sql}")
      f.copy(nullable = !notNull.contains(f.name.toLowerCase))
    })
  }

  private[sources] def quote(n: String): String =
    if (n.matches("[A-Za-z_][\\w]*")) n
    else "`" + n.replace("`", "``") + "`"

  /** Translate a pushed V1 filter to a Column; None = not translatable
    * (stays residual, Spark re-evaluates it above the scan). */
  private[sources] def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(quote(a)) === lit(v))
    case sources.EqualNullSafe(a, v)      => Some(col(quote(a)) <=> lit(v))
    case sources.GreaterThan(a, v)        => Some(col(quote(a)) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(quote(a)) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(quote(a)) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(quote(a)) <= lit(v))
    case sources.In(a, vs)                => Some(col(quote(a)).isin(vs.toSeq: _*))
    case sources.IsNull(a)                => Some(col(quote(a)).isNull)
    case sources.IsNotNull(a)             => Some(col(quote(a)).isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(quote(a)).startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(quote(a)).endsWith(v))
    case sources.StringContains(a, v)     => Some(col(quote(a)).contains(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case _              => None
  }

  /** External (collect()-produced) value → catalyst value for the 9
    * supported types. */
  private[sources] def toCatalyst(v: Any): Any = v match {
    case null                  => null
    case s: String             => UTF8String.fromString(s)
    case d: java.sql.Date      => DateTimeUtils.fromJavaDate(d)
    case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant  => DateTimeUtils.instantToMicros(t)
    case other                 => other
  }

  /** Catalyst value at write time → external value (for the
    * commit-side DataFrame). */
  private[sources] def fromInternal(row: InternalRow, i: Int,
      dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case BooleanType   => row.getBoolean(i)
      case ShortType     => row.getShort(i)
      case IntegerType   => row.getInt(i)
      case LongType      => row.getLong(i)
      case FloatType     => row.getFloat(i)
      case DoubleType    => row.getDouble(i)
      case StringType    => row.getUTF8String(i).toString
      case DateType      => DateTimeUtils.toJavaDate(row.getInt(i))
      case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(i))
      case other => throw new IllegalArgumentException(
        s"No support for sql type ${other.sql}")
    }
}

/** The resolved graft table: BATCH_READ + BATCH_WRITE (the
  * reference's OpenmldbTable capability set) + STREAMING_WRITE (the
  * ingest-connector replacement, [[GraftStreamingWrite]]). */
private[sources] class GraftDsTable(cfg: GraftSource.Config,
    schema0: StructType,
    owner: Option[SparkSession] = None)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = cfg.table
  override def schema(): StructType =
    if (schema0 != null && schema0.nonEmpty) schema0
    else GraftSource.tableSchema(cfg)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(cfg, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(cfg, info.schema(), owner)
}

/** Column pruning + filter pushdown at the snapshot boundary: both are
  * applied to the DRIVER-side collect, so the serialized partitions
  * hold only the pruned columns of the filtered rows (the reference's
  * ScanBuilder pushes nothing — OpenmldbScanBuilder.java is a
  * pass-through). */
private[sources] class GraftScanBuilder(cfg: GraftSource.Config,
    full: StructType) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (ok, residual) =
      filters.partition(f => GraftSource.toColumn(f).isDefined)
    pushed = ok
    // hand every filter back as residual too: pushdown here is a
    // volume optimization, Spark's re-check above the scan keeps
    // correctness independent of the translator
    residual ++ ok
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan = new GraftScan(cfg, required, pushed)
}

private[sources] class GraftScan(cfg: GraftSource.Config,
    required: StructType, pushed: Array[sources.Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // surfaces in .explain as the BatchScan description — the same
  // PushedFilters/ReadSchema audit trail file scans print
  override def description(): String =
    s"GraftScan ${cfg.db}.${cfg.table} " +
      s"ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  // Spark asks again from a copied BatchScanExec; one snapshot per scan
  override def planInputPartitions(): Array[InputPartition] = partitions

  private lazy val partitions: Array[InputPartition] = {
    val spark = SparkSession.active
    val view = GraftSource.resolveView(cfg)
    val base0 = spark.table(GraftSource.quote(view))
    val base = pushed.flatMap(GraftSource.toColumn)
      .foldLeft(base0)((d, c) => d.filter(c))
    // defensive row budget (post-pushdown): refuse to snapshot an
    // offline-sized table into local memory. ONE bounded pass — the
    // collect stops one row past the budget, so it never holds more
    // than an in-budget read would; failing here with a named
    // alternative beats an opaque OOM mid-collect. A 0-column
    // read (count-style) keeps the row count and ships no values.
    val probeCap = math.min(cfg.maxScanRows, (Int.MaxValue - 1).toLong).toInt + 1
    val rows: Array[Row] = base.select(
      required.fieldNames.map(n => col(GraftSource.quote(n))).toSeq: _*)
      .limit(probeCap).collect()
    if (rows.length > cfg.maxScanRows) throw new IllegalStateException(
      s"graft scan of ${cfg.db}.${cfg.table} would snapshot more than " +
        s"${cfg.maxScanRows} rows " +
        s"(after pushdown) onto the driver, over the maxScanRows budget " +
        s"of ${cfg.maxScanRows}. The online store is the TTL-bounded " +
        s"serving tier; for offline-scale data read the table's offline " +
        s"path (LOAD DATA ... OPTIONS(execute_mode='offline') + " +
        s"spark.read.parquet) or raise the 'maxScanRows' option.")
    val n = math.max(1, if (cfg.numPartitions > 0) cfg.numPartitions
      else math.min(spark.sparkContext.defaultParallelism,
        math.max(1, rows.length / 1024)))
    val per = math.max(1, (rows.length + n - 1) / n)
    val parts = rows.grouped(per).map { slice =>
      GraftInputPartition(slice.map(r =>
        Array.tabulate(required.length)(i => r.get(i))))
    }.toArray[InputPartition]
    if (parts.isEmpty) Array(GraftInputPartition(Array.empty))
    else parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required)
}

private[sources] final case class GraftInputPartition(
    rows: Array[Array[Any]]) extends InputPartition

private[sources] class GraftReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[GraftInputPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        InternalRow.fromSeq(rows(i).toSeq.map(GraftSource.toCatalyst))
      override def close(): Unit = {}
    }
  }
}

private[sources] class GraftWriteBuilder(cfg: GraftSource.Config,
    schema: StructType,
    owner: Option[SparkSession] = None) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new GraftBatchWrite(cfg, schema)
    override def toStreaming: StreamingWrite =
      new GraftStreamingWrite(cfg, schema, owner)
  }
}

private[sources] object GraftWrites {
  /** Driver-side commit shared by the batch and streaming faces: ONE
    * catalog append of the buffered task rows, through the store's
    * per-table lock (the streaming face commits from the
    * stream-execution thread, beside any batch writer). putIfAbsent
    * routes through INSERT OR IGNORE (full-row dedup against the current
    * snapshot) — which also makes streaming epoch REPLAYS idempotent. */
  def applyRows(cfg: GraftSource.Config, schema: StructType,
      messages: Array[WriterCommitMessage], spark: SparkSession): Unit = {
    val view = GraftSource.resolveView(cfg, spark)
    val target = spark.table(GraftSource.quote(view)).schema
    // rows arrive in WRITE-schema order; reorder to the live view's
    val at = target.fieldNames.map(c =>
      schema.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
    val rows = messages.iterator.flatMap {
      case GraftCommitRows(rs) => rs.iterator.map(r => Row.fromSeq(at.map(r)))
      case _                   => Iterator.empty
    }.toSeq
    // insertIgnore dedups against the current SNAPSHOT; the reference's
    // per-row put_if_absent also keeps exactly one of two identical NEW
    // rows arriving in the same batch/epoch — distinct() closes that gap
    if (cfg.putIfAbsent)
      graft.GraftCatalog.insertIgnore(spark, view, spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(target.fields.map(_.copy(nullable = true)))).distinct())
    else graft.GraftCatalog.insertValues(spark, view, rows)
  }
}

/** Tasks buffer externalized rows into their commit message; commit
  * (driver-side) applies ONE catalog append — the reference's "batch"
  * writerType made atomic. */
private[sources] class GraftBatchWrite(cfg: GraftSource.Config,
    schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(schema)

  // batch commits run on the caller's thread — the ACTIVE session is
  // the one that resolved the table (a user on spark.newSession() must
  // append to their own session's view)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftWrites.applyRows(cfg, schema, messages, SparkSession.active)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {}
}

/** `writeStream.format("graft")` — streaming ingest into the online
  * store, the Spark-native replacement for the reference's
  * Kafka/RocketMQ connectors (extensions/kafka-connect-jdbc: a sink
  * that writes stream records into online tables through the SDK).
  * Here ANY Structured Streaming source (Kafka, files, sockets — Spark
  * speaks them natively) appends into the catalog table per epoch;
  * `putIfAbsent` makes epoch replays after a recovery idempotent
  * (full-row dedup — the connector's put_if_absent semantics). */
private[sources] class GraftStreamingWrite(cfg: GraftSource.Config,
    schema: StructType,
    owner: Option[SparkSession] = None) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(schema)

  // epoch commits run on the stream-execution thread whose ACTIVE
  // session is a clone (snapshot view registry, empty db registry) —
  // apply to the ORIGINATING session captured when the user's thread
  // resolved the table (a stream started from spark.newSession() must
  // append to that session's registry, not the default session's);
  // fall back to the default session only when nothing was captured
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftWrites.applyRows(cfg, schema, messages,
      owner.filterNot(_.sparkContext.isStopped)
        .orElse(SparkSession.getDefaultSession)
        .getOrElse(SparkSession.active))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {}
}

private[sources] class GraftStreamingWriterFactory(schema: StructType)
    extends StreamingDataWriterFactory {
  private val inner = new GraftWriterFactory(schema)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    inner.createWriter(partitionId, taskId)
}

private[sources] final case class GraftCommitRows(
    rows: Array[Seq[Any]]) extends WriterCommitMessage

private[sources] class GraftWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    override def write(record: InternalRow): Unit =
      buf += Seq.tabulate(schema.length)(i =>
        GraftSource.fromInternal(record, i, schema(i).dataType))
    override def commit(): WriterCommitMessage = GraftCommitRows(buf.toArray)
    override def abort(): Unit = buf.clear()
    override def close(): Unit = {}
  }
}
