package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Column ↔ Expression bridge.
  *
  * Spark 4 made the Column↔Expression converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); extensions that define
  * native Catalyst expressions reach them through a shim inside the sql
  * package namespace — the conventional pattern for Spark extension
  * libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A fresh DataFrame over `plan`. An already-analyzed plan is not
    * re-resolved: the analyzer returns it as it is, and only the
    * optimizer and the planner run again, on the first action. The
    * package-private factory every `Dataset` is built through.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Waits until every listener event posted so far has been delivered,
    * so the status store has seen every job started before this call.
    * False when the bus does not drain within 10 s. Spark has no
    * public call that waits for the listener bus.
    */
  def drainListenerBus(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(10000L); true }
    catch { case _: TimeoutException => false }

  /** Free the storage blocks behind a `localCheckpoint()`ed Dataset.
    *
    * `Dataset.unpersist` routes through the CacheManager, which only
    * tracks `persist()`ed plans — it has NO entry for the RDD blocks a
    * checkpoint pinned, so calling it on a checkpointed frame is a
    * no-op and the blocks survive until GC + ContextCleaner get to the
    * RDD. Iterative pipelines (k-center rounds, star-contraction
    * rounds) that materialize a fresh n-row checkpoint per round must
    * release the superseded round's blocks NOW, not at some future GC,
    * or peak storage grows O(rounds) instead of O(1).
    *
    * A checkpointed Dataset's analyzed plan IS a [[LogicalRDD]] leaf
    * wrapping the materialized RDD; unpersisting that RDD drops its
    * blocks directly at the BlockManager. Only the TOP-LEVEL plan node
    * is considered — deliberately: a derived frame's plan may CONTAIN
    * checkpointed leaves that other live frames still read (e.g. an
    * iterative round built on a caller's checkpointed input), and
    * freeing those would strand the other frames on missing blocks
    * with no recompute path (the checkpoint truncated their lineage).
    * Returns 1 if blocks were freed, 0 otherwise (non-checkpointed or
    * derived frame — callers on plain cached frames should keep using
    * `Dataset.unpersist`; callers holding a derived frame must pass
    * the checkpointed frame itself).
    */
  def unpersistCheckpointBlocks(ds: Dataset[_],
      blocking: Boolean = false): Int =
    checkpointRdd(ds).fold(0) { rdd => rdd.unpersist(blocking); 1 }

  /** Whether `ds` IS a materialized checkpoint: its top-level plan is a
    * [[LogicalRDD]] whose RDD holds stored blocks. A `LogicalRDD` alone
    * is not enough — `createDataFrame(rdd, schema)` and the batch
    * `foreachBatch` hands its function are `LogicalRDD`s too, over an
    * unstored RDD that every consumer recomputes.
    */
  def isMaterializedCheckpoint(ds: Dataset[_]): Boolean =
    checkpointRdd(ds).nonEmpty

  /** The stored RDD behind `ds` when it IS a materialized checkpoint. */
  def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE =>
        Some(lr.rdd)
      case _ => None
    }
}

/** Type aliases for `private[sql]` Catalyst types that extension
  * expressions need in their public signatures (`ExpectsInputTypes
  * .inputTypes` is typed `Seq[AbstractDataType]`, which Spark 4 hides
  * from user packages). An alias defined inside the sql namespace
  * dealias-matches the required override type.
  */
object BridgeTypes {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType
}
