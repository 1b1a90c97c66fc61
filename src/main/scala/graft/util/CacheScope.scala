package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.BlockBridge

/** Materializes frames into block storage and frees those blocks
  * explicitly once the consuming actions complete, instead of letting
  * them accumulate in a long-lived session until the ContextCleaner
  * happens to collect the plans (multi-round orchestrations materialize
  * per concept field — the leak would grow with rounds × fields).
  *
  * [[materialize]] computes a frame exactly once, eagerly (a local
  * checkpoint), and returns a frame whose plan is a leaf over those
  * blocks: later plans carry neither the frame's lineage nor its
  * analysis and planning cost, and no later action recomputes it — at
  * an exchange boundary, no later action re-calls the transport.
  *
  * Lifecycle is caller-managed: the owner of the scope calls
  * [[release]] after materializing every output derived from the
  * tracked frames. The lineage is gone, so an action that reads a
  * released frame fails (block not found) rather than recomputing it;
  * the same holds for blocks lost with an executor, after which the
  * caller re-runs the work that built the scope.
  */
final class CacheScope extends Serializable {
  @transient private lazy val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** Compute `ds` now and return a frame over its blocks. */
  def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val leaf = ds.localCheckpoint(eager = true)
    synchronized {
      rdds ++= leaf.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    }
    leaf
  }

  /** Free the blocks of every materialized frame (non-blocking). */
  def release(): Unit = synchronized {
    rdds.foreach(BlockBridge.free)
    rdds.clear()
  }
}
