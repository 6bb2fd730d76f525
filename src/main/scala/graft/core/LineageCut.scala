package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `Dataset.localCheckpoint()` caches.
  *
  * A local checkpoint persists an internal RDD that is NOT registered with
  * the session's CacheManager, so `Dataset.unpersist()` on the checkpointed
  * Dataset is a no-op: the cached blocks survive until the driver GCs the
  * RDD object and the ContextCleaner gets around to them. That's harmless
  * for one-shot jobs, but an iterative algorithm that checkpoints per round
  * (k-means repair, large-star/small-star CC) strands one materialized copy
  * of its working set per round — at scale that's executor storage memory
  * held hostage to driver GC timing.
  *
  * The checkpointed Dataset's analyzed plan is a [[LogicalRDD]] leaf whose
  * `rdd` IS the persisted RDD, so callers can drop the blocks the moment a
  * round's successor is materialized. Releasing truncates the (already
  * lineage-free) data irrecoverably — only call once nothing will read the
  * Dataset again.
  */
object LineageCut {

  /** The RDD backing a Dataset whose analyzed plan is an RDD leaf.
    *
    * NOTE this matches ANY [[LogicalRDD]], not just checkpoints — a
    * Dataset built straight over an RDD (`spark.createDataFrame(rdd, _)`)
    * has the same leaf, and unpersisting ITS RDD would drop a cache that
    * may still be live. Only call [[release]] on Datasets you know came
    * from `localCheckpoint()` and will never be read again. */
  def backingRdd(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r.rdd)
      case _             => None
    }

  /** Eagerly free the cached blocks behind a checkpointed Dataset — see
    * the caveat on [[backingRdd]]. A no-op on Datasets whose plan is not
    * an RDD leaf (anything derived: projections, joins, aggregations);
    * idempotent. */
  def release(df: Dataset[_]): Unit =
    backingRdd(df).foreach(_.unpersist(blocking = false))

  /** Eagerly free the checkpoints a step added to its output: every RDD
    * leaf of `out`'s plan that its input `in`'s plan lacks (e.g. the final
    * fixpoint behind a [[graft.graph.ConnectedComponents]] result). Only
    * call once everything that reads `out` is materialized, and only for
    * steps whose own RDD leaves are all `localCheckpoint()`s. */
  def releaseAdded(out: Dataset[_], in: Dataset[_]): Unit = {
    def leaves(df: Dataset[_]) = df.queryExecution.analyzed.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd }
    val inIds = leaves(in).map(_.id).toSet
    leaves(out).filterNot(r => inIds(r.id))
      .foreach(_.unpersist(blocking = false))
  }
}
