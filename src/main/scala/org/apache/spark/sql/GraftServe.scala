package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.types.StructType

/** Internal plumbing for the serving-path compiled-plan templates
  * (graft.sql.GraftSql.serveRequest) — the engine's analog of the
  * reference's compile-once-per-DEPLOY + execute-per-request design
  * (hybridse/src/vm/engine.cc:149 EngineLRUCache'd CompileInfo).
  *
  * A deployment's request-mode query is planned ONCE against an
  * opaque RDD-backed placeholder relation (LogicalRDD — the optimizer
  * cannot constant-fold its rows the way it folds a LocalRelation, so
  * the plan stays request-value-independent) and prepared as a physical
  * plan; each request copies that plan with the placeholder scans
  * swapped for its rows and executes it. Lives in this package for the
  * `private[sql]` constructors; nothing in Spark is modified.
  */
object GraftServe {

  private def cs(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** DataFrame over locally built InternalRows with a stats hint. The
    * request side of serving joins passes a SMALL one so it stays
    * broadcast-able: a stats-less LogicalRDD defaults to
    * `defaultSizeInBytes` (huge). */
  def internalRddDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType, sizeHintBytes: Long): DataFrame = {
    val s = cs(spark)
    val plan = LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(
      s, Some(Statistics(sizeInBytes = BigInt(sizeHintBytes))), None)
    classic.Dataset.ofRows(s, plan)
  }

  /** DataFrame over a LocalRelation of InternalRows (a literal batch). */
  def localDf(spark: SparkSession, rows: Seq[InternalRow],
      schema: StructType): DataFrame =
    classic.Dataset.ofRows(cs(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Prepare a reusable PHYSICAL template from the optimized logical
    * plan: exchange/subquery reuse disabled (a ReusedExchange pointing
    * into the substitution path would serve another request's rows)
    * and exchanges planned at ONE partition (the pruned serving working
    * set is key-bounded — one partition is the right parallelism for a
    * per-request job at ANY table scale). Returns None when a
    * placeholder does not appear as a plain RDD scan (or hides inside
    * a subquery), i.e. when physical substitution would be unsafe. */
  def preparePhysicalTemplate(spark: SparkSession, plan: LogicalPlan,
      placeholders: Seq[RDD[InternalRow]]): Option[execution.SparkPlan] = {
    SparkSession.setActiveSession(spark)
    val conf = cs(spark).sessionState.conf.clone()
    conf.setConf(internal.SQLConf.SHUFFLE_PARTITIONS, 1)
    conf.setConf(internal.SQLConf.EXCHANGE_REUSE_ENABLED, false)
    conf.setConf(internal.SQLConf.SUBQUERY_REUSE_ENABLED, false)
    // per-request plan copies would re-GENERATE whole-stage sources
    // every request (compilation is cached, generation is not) — and a
    // one-row serving job gains nothing from codegen; interpreted
    // volcano execution removes the dominant driver-side cost
    conf.setConf(internal.SQLConf.WHOLESTAGE_CODEGEN_ENABLED, false)
    val phys = internal.SQLConf.withExistingConf(conf) {
      QueryExecution.prepareExecutedPlan(cs(spark), plan)
    }
    def leafCount(p: execution.SparkPlan, rdd: RDD[InternalRow]): Int =
      p.collectLeaves().count {
        case r: execution.RDDScanExec => r.rdd eq rdd
        case _                        => false
      }
    def inSubquery(rdd: RDD[InternalRow]): Boolean =
      phys.subqueriesAll.exists(leafCount(_, rdd) > 0)
    if (placeholders.exists(r => leafCount(phys, r) == 0 || inSubquery(r)))
      None
    else Some(phys)
  }

  /** Run a prepared template on one request: copy it with the
    * placeholder scans swapped for this request's rows and this
    * request's pruning key sets injected into its ServeKeyMembership
    * markers (indexed by listIdx; a missing index stays unsubstituted =
    * keep-everything, never wrong), then execute the copy. Ancestors of
    * the swapped leaves are fresh copies (safe under concurrent
    * requests); untouched static subtrees stay SHARED, so
    * dimension-table broadcasts build once per template, not per
    * request. The active session is set first: each copied node takes
    * its session from the calling thread. */
  def executeTemplate(spark: SparkSession, plan: execution.SparkPlan,
      swaps: Seq[(RDD[InternalRow], RDD[InternalRow])],
      pruneSets: IndexedSeq[java.util.HashSet[Any]]): Array[InternalRow] = {
    SparkSession.setActiveSession(spark)
    val swapped = plan.transform {
      case r: execution.RDDScanExec =>
        swaps.find(_._1 eq r.rdd) match {
          case Some((_, to)) => r.copy(rdd = to)
          case None          => r
        }
    }
    val injected =
      if (pruneSets.isEmpty) swapped
      else swapped.transformAllExpressions {
        case m: graft.functions.ServeKeyMembership
            if m.keySet.isEmpty && m.listIdx < pruneSets.length =>
          m.copy(keySet = Some(pruneSets(m.listIdx)))
      }
    injected.executeCollect()
  }

  /** The stored temp-view relation INSTANCE a name currently resolves
    * to — identity is the cheapest exact staleness signal (every
    * INSERT / stream commit re-registers the view, creating a new
    * instance); no analyzer run per request. */
  def rawTempView(spark: SparkSession, name: String): Option[AnyRef] = {
    val cat = cs(spark).sessionState.catalog
    cat.getRawTempView(name).orElse(cat.getRawTempView(name.toLowerCase))
  }

  /** Append the driver-assigned request uid to each LocalRelation row
    * (the serving fast path's tagging, on InternalRows directly — no
    * external-Row round trip, no Spark job). */
  def tagRows(rows: Seq[InternalRow], schema: StructType)
      : IndexedSeq[InternalRow] =
    rows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        (r.toSeq(schema) :+ i.toLong).toArray)
    }

  def toInternal(schema: StructType): Row => InternalRow = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    r => conv(r).asInstanceOf[InternalRow]
  }

  def fromInternal(schema: StructType): InternalRow => Row = {
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    ir => conv(ir).asInstanceOf[Row]
  }
}
