package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. In Spark 4 the Column API no longer
  * exposes its Expression publicly (Connect compatibility); the
  * supported conversion lives in the private[sql] ExpressionUtils, so
  * this one-file shim inside the sql namespace is the standard way
  * for an extension library to lift a custom Catalyst Expression into
  * a Column.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  // NOTE: deliberately NO forwarder to PredicateUtils.toV1 here. That
  // translation is approximate (it rewrites `a OR b` to `b` when `a`
  // has no V1 form — sound only under a residual filter), which makes
  // it a correctness trap for DELETE conditions and anything else
  // consumed without re-application. graft translates V2 predicates
  // itself, exactly (graft.tables.GraftRowMeta.predicateToColumn).

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame. Checkpoint caches are plain RDD persists that never
    * register with the CacheManager, so `spark.catalog.clearCache()`
    * cannot reclaim them — an iterative loop that checkpoints per
    * round (e.g. label propagation) must free the previous round
    * itself or the dead rounds accumulate for the life of the
    * session. No-op for non-checkpointed plans.
    */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
      case _ => ()
    }

  /** Block until every event already posted to the listener bus has
    * been delivered, so counts a SparkListener keeps are complete
    * when read (the bus is asynchronous; polling a listener's own
    * state can stop before a queued event arrives). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
