package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD

/** The operators' one materialization rule: an operator that reads its
  * input more than once takes it through [[once]], so a lazily chained
  * pipeline plans each upstream stage once instead of once per read
  * (FuseME's "share the input, do not duplicate its plan"); an operator
  * whose result is built from cached intermediates hands both to
  * [[andFree]]. Nothing else in `graft.operators` checkpoints. */
object Materialize {

  /** `df` itself when re-reading it is cheap, otherwise an eager local
    * checkpoint of it. Cheap means the optimized plan holds no shuffling
    * node: file scans, local or cached relations and checkpoints under
    * projections and filters. A re-read Aggregate/Join/Window re-runs
    * its shuffles, and every further read downstream multiplies them. */
  def once(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.exists(shuffles)) andFree(df) else df

  // Distinct, Deduplicate, Intersect and Except reach the optimized
  // plan as Aggregates and Joins
  private def shuffles(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Join | _: Window | _: GlobalLimit |
        _: RepartitionOperation | _: RebalancePartitions => true
    case s: Sort => s.global
    case _ => false
  }

  /** Eagerly materialize `result` (localCheckpoint truncates its lineage
    * to the checkpointed blocks) then free the wide cached intermediates
    * it was built from. Without this every invocation leaks signature /
    * vector caches for the session lifetime; the results here are narrow
    * (ids + one score), so the checkpoint footprint is small next to
    * what it releases. */
  private[operators] def andFree(result: DataFrame,
      cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    out
  }

  /** Free the pinned blocks under an [[andFree]]-produced Dataset.
    * `Dataset.unpersist` only clears CacheManager entries and a local
    * checkpoint never registers there — its blocks live on the RDD
    * inside the plan's LogicalRDD leaf, and they are NOT evictable
    * (truncated lineage = only copy), so an iterative algorithm that
    * checkpoints per round pins every round's edges until session end.
    * Measured: connectedComponents at sf1 exhausted an 8 GiB heap this
    * way (q_dedup_keep / q_dedup_components OOM) while every round's
    * LIVE working set was a fraction of it. Call only once every
    * consumer of `df` has been materialized. */
  private[operators] def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
