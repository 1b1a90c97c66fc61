package graft.util

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.BlockBridge
import org.apache.spark.sql.types._

/** The bounded-collect gate shared by the graph operators
  * ([[graft.graph.ConnectedComponents]], [[graft.graph.PageRank]],
  * [[graft.graph.Hits]]) and the vector graph builders
  * ([[graft.vectors.Vectors.knnGraph]], [[graft.vectors.Vectors.hnswTopK]]):
  * an input that fits a driver budget is solved exactly on the driver,
  * because every distributed round costs whole Spark jobs of fixed
  * latency, which dwarfs a sub-second exact solve of a small input (the
  * same bounded-driver-work trade as the IVF centroid sample).
  *
  * The size probe rides the materialization the distributed path needs
  * anyway: one job fills a lazy local checkpoint's blocks and sums the
  * rows' weights, and only a small frame pays a second job that
  * collects its rows from the blocks. A large frame thus costs exactly
  * an eager checkpoint, and none of its rows reach the driver (a
  * bounded `limit(limit + 1).collect()` probe ships up to `limit + 1`
  * of them). A limit `<= 0` checkpoints eagerly and probes nothing.
  */
object DriverGate {

  /** The row gate of the graph operators. The cap keeps the transient
    * driver footprint at tens of MB even under a default 1g heap.
    */
  val DefaultRowLimit: Long = 1L << 17

  /** `df`'s lazy local checkpoint, and its rows folded into `zero` by
    * `seqOp` (per partition) and `combOp` (across them), in the one job
    * that also fills the checkpoint's blocks. Both may modify and
    * return their first argument.
    */
  def checkpointAggregate[A: ClassTag](df: DataFrame, zero: A)(
      seqOp: (A, InternalRow) => A, combOp: (A, A) => A): (DataFrame, A) = {
    val ck = df.localCheckpoint(eager = false)
    (ck, ck.queryExecution.toRdd.aggregate(zero)(seqOp, combOp))
  }

  /** `df`'s local checkpoint, and whether its rows' summed `weight` is
    * at most `limit` (one job; none beyond the eager checkpoint when
    * `limit <= 0`, which never fits).
    */
  def checkpointFits(df: DataFrame, limit: Long,
      weight: InternalRow => Long): (DataFrame, Boolean) =
    if (limit <= 0) (df.localCheckpoint(), false)
    else {
      val (ck, w) = checkpointAggregate(df, 0L)((a, r) => a + weight(r), _ + _)
      (ck, w <= limit)
    }

  /** `df`'s local checkpoint, with its rows when it has at most `limit`
    * of them ([[checkpointFits]] counting rows).
    */
  def checkpointUpTo(df: DataFrame, limit: Long): (DataFrame, Option[Array[Row]]) = {
    val (ck, fits) = checkpointFits(df, limit, _ => 1L)
    (ck, if (fits) Some(ck.collect()) else None)
  }

  /** `df`'s rows, collected as `InternalRow`s (one job; a checkpoint is
    * read from its blocks).
    */
  def internalRows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect()

  /** `df`'s rows when it has at most `limit` of them: one bounded
    * `limit(limit + 1).collect()`, for a frame that is not
    * checkpointed.
    */
  def rowsUpTo(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val rows = df.limit(bounded(limit)).collect()
    if (rows.length <= limit) Some(rows) else None
  }

  /** [[rowsUpTo]] as `InternalRow`s. */
  def internalRowsUpTo(df: DataFrame, limit: Long): Option[Array[InternalRow]] = {
    val rows = internalRows(df.limit(bounded(limit)))
    if (rows.length <= limit) Some(rows) else None
  }

  /** Frees the blocks of `ck`, a fully filled local checkpoint, once
    * its last reader has run (non-blocking).
    */
  def free(ck: DataFrame): Unit =
    ck.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.foreach(BlockBridge.free)

  private def bounded(limit: Long): Int = math.min(limit, Int.MaxValue - 1L).toInt + 1

  /** The id types a driver solve may intern: integral or
    * (binary-collated) string, where Scala equality is Spark's join
    * equality. Spark widens mixed types first, normalizes
    * floating-point zeros and NaN, and compares binary by content and
    * collated strings by collation.
    */
  val LocalIdTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, StringType)
}
