package graft

import org.apache.spark.sql.{Column, DataFrame, GraftServe, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** DDL/DML surface: CREATE TABLE / INSERT / DELETE / TRUNCATE / DROP
  * (reference: physical_op.h:1917 CreateTable, :1935 Insert, :1895
  * Delete; docs/en/openmldb_sql/ddl/CREATE_TABLE_STATEMENT.md,
  * dml/INSERT_STATEMENT.md, dml/DELETE_STATEMENT.md), over the online
  * store.
  *
  * The store is the reference's MemTable of appended segments
  * (src/storage/segment.h) in Spark terms. Each table of a session is a
  * temp view over `base ∪ tail`:
  *  - `base` is a DataFrame: the table as created, as a user registered
  *    it, as DELETE left it, or the last fold;
  *  - `tail` holds the rows appended since, in local memory in
  *    insertion order, read as one RDD-backed relation (no size
  *    estimate, like any RDD relation).
  * Every writer goes through [[write]], which holds the table's lock,
  * so concurrent writers never lose each other's rows. Once the tail
  * passes [[FoldRows]] rows, the write folds `base ∪ tail` into one
  * eager local checkpoint, the next base: a table's plan keeps the same
  * size however many single-row inserts it takes. The blocks of a fold
  * stay pinned through the next fold, so a DataFrame derived from the
  * table before a fold still reads after it; one held across two folds
  * may not, and should re-read `spark.table`.
  *
  * A view registered by other means (`createOrReplaceTempView`,
  * `GraftSql.registerDbTable`) becomes the base at its next write. Tables
  * are per session, like the temp views they are. Schema validation on
  * INSERT mirrors the reference's strict column check.
  */
object GraftCatalog {

  /** Tail rows past which a write folds the table. */
  private[graft] val FoldRows = 4096

  /** One table of one session; its monitor is the table's write lock. */
  private final class Table {
    var base: DataFrame = _
    var tail = Vector.empty[InternalRow]
    /** The temp view this store last registered for the table. */
    var view: Option[AnyRef] = None
    /** Block ids of the last fold and of the one before it. */
    var pinned = Set.empty[Int]
    var grace = Set.empty[Int]
  }

  private sealed trait Change
  private final case class Append(rows: Seq[Row]) extends Change
  /** A new base with an empty tail; None drops the table. `release`
    * frees the store's fold blocks at once: the old contents are gone. */
  private final case class Replace(base: Option[DataFrame],
      release: Boolean) extends Change

  private val tables = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[String, Table]]()

  private def tableOf(spark: SparkSession, name: String): Table =
    tables.synchronized {
      tables.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(name.toLowerCase, new Table)
    }

  /** Quote a view name for parser-bound catalog APIs when it contains
    * characters an unquoted identifier cannot (back-quoted source
    * identifiers like aa-bb). */
  private def q(n: String): String =
    if (n.matches("[A-Za-z_][\\w]*")) n
    else "`" + n.replace("`", "``") + "`"

  /** The one write path. Under the table's lock, `change` gets the
    * table's current view (read only if it asks); the resulting base and
    * tail are registered as the view, folded first once the tail passes
    * [[FoldRows]]. A write that throws leaves the table as it was. */
  private def write(spark: SparkSession, name: String)(
      change: (=> DataFrame) => Change): Unit = {
    val t = tableOf(spark, name)
    t.synchronized {
      lazy val cur = spark.table(q(name))
      val ours = t.view.exists(v =>
        GraftServe.rawTempView(spark, name).exists(_ eq v))
      var base = if (ours) t.base else null
      var tail = if (ours) t.tail else Vector.empty[InternalRow]
      change(cur) match {
        case Append(rows) =>
          if (base == null) base = cur
          tail ++= rows.map(GraftServe.toInternal(base.schema))
        case Replace(b, release) =>
          if (release) {
            unpersist(spark, t.pinned ++ t.grace)
            t.pinned = Set.empty
            t.grace = Set.empty
          }
          base = b.orNull
          tail = Vector.empty
      }
      if (tail.length > FoldRows) {
        val folded = viewOf(spark, base, tail).localCheckpoint(true)
        val ids = folded.queryExecution.analyzed.collectLeaves().collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        }.toSet
        unpersist(spark, t.grace -- ids)
        t.grace = t.pinned
        t.pinned = ids
        base = folded
        tail = Vector.empty
      }
      if (base == null) spark.catalog.dropTempView(q(name))
      else viewOf(spark, base, tail).createOrReplaceTempView(q(name))
      t.base = base
      t.tail = tail
      t.view = GraftServe.rawTempView(spark, name)
    }
  }

  /** `base ∪ tail`. A tail column that holds a NULL is nullable, as a
    * union with a nullable input would be. */
  private def viewOf(spark: SparkSession, base: DataFrame,
      tail: Vector[InternalRow]): DataFrame =
    if (tail.isEmpty) base
    else {
      val schema = StructType(base.schema.fields.zipWithIndex.map {
        case (f, i) =>
          if (f.nullable || !tail.exists(_.isNullAt(i))) f
          else f.copy(nullable = true)
      })
      val rdd = spark.sparkContext.parallelize(tail,
        (tail.length - 1) / FoldRows + 1)
      // Long.MaxValue is Spark's default size for an RDD relation: the
      // tail gets no size estimate
      base.union(GraftServe.internalRddDf(spark, rdd, schema, Long.MaxValue))
    }

  private def unpersist(spark: SparkSession, ids: Set[Int]): Unit =
    if (ids.nonEmpty)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (ids.contains(id)) rdd.unpersist(false)
      }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def checkSchema(name: String, rows: DataFrame,
      cur: DataFrame): Unit =
    require(rows.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      cur.schema.fields.map(f => (f.name, f.dataType))),
      s"INSERT schema mismatch for $name: ${rows.schema.simpleString} " +
        s"vs ${cur.schema.simpleString}")

  /** CREATE TABLE name (schema): registers an empty table. */
  def createTable(spark: SparkSession, name: String,
      schema: StructType): Unit =
    write(spark, name)(_ => Replace(Some(empty(spark, schema)), release = true))

  /** DROP TABLE name. */
  def drop(spark: SparkSession, name: String): Unit =
    write(spark, name)(_ => Replace(None, release = true))

  /** INSERT INTO name SELECT ...: schema-checked append; the rows are
    * collected into the tail. */
  def insertInto(spark: SparkSession, name: String, rows: DataFrame): Unit =
    write(spark, name) { cur =>
      checkSchema(name, rows, cur)
      Append(rows.collect().toSeq)
    }

  /** INSERT INTO name VALUES (...): literal rows in the table's column
    * order. */
  def insertValues(spark: SparkSession, name: String, rows: Seq[Row]): Unit =
    write(spark, name)(_ => Append(rows))

  /** INSERT OR IGNORE / LOAD DATA put_if_absent: append only rows not
    * already present (full-row null-safe equality — the reference's
    * "ignoring data that already exists in the table",
    * dml/INSERT_STATEMENT.md:18; LOAD_DATA_STATEMENT.md put_if_absent).
    * EqualNullSafe conjunctions plan as hash-join keys, so the dedup is
    * one shuffle join, not a cross product; its result is collected
    * under the table's lock, so the check and the append see the same
    * table. */
  def insertIgnore(spark: SparkSession, name: String, rows: DataFrame): Unit =
    write(spark, name) { cur =>
      checkSchema(name, rows, cur)
      Append(rows.join(cur,
        rows.columns.map(c => rows(c) <=> cur(c)).reduce(_ && _), "left_anti")
        .collect().toSeq)
    }

  /** DELETE FROM name WHERE cond: the anti-filter becomes the base. */
  def delete(spark: SparkSession, name: String, cond: Column): Unit =
    write(spark, name)(cur =>
      Replace(Some(cur.filter(!cond || cond.isNull)), release = false))

  /** TRUNCATE TABLE name. */
  def truncate(spark: SparkSession, name: String): Unit =
    write(spark, name)(cur =>
      Replace(Some(empty(spark, cur.schema)), release = true))
}
