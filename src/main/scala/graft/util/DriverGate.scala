package graft.util

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.graftbridge.BlockBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The bounded-collect gate shared by the graph operators
  * ([[graft.graph.ConnectedComponents]], [[graft.graph.PageRank]],
  * [[graft.graph.Hits]]), the vector graph builders
  * ([[graft.vectors.Vectors.knnGraph]], [[graft.vectors.Vectors.hnswTopK]])
  * and MinHash near-dup detection
  * ([[graft.textops.NearDup.minhashLshPairs]] and the admission batch
  * [[graft.streaming.StreamNearDup.nearDupBatch]]):
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
  * The near-dup gates probe nothing at all: their cut's own shuffle
  * bounds the rows ([[checkpointRowBound]]), so a large frame costs
  * exactly its lazy checkpoint and a small one one collecting job.
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

  /** `df`'s lazy local checkpoint, and a bound on its rows read off the
    * cut itself. Under AQE, cutting a plan runs the shuffle stages below
    * its final stage; when that stage reads nothing but them, the rows
    * they wrote bound the rows of a final stage that does not multiply
    * rows (a dedup, filter or projection: the caller's to know). `None`
    * when there is no such bound (AQE off, as in a streaming query's
    * micro-batches, or the final stage also scans or broadcasts). No
    * job beyond the cut's own shuffle stages.
    */
  def checkpointRowBound(df: DataFrame): (DataFrame, Option[Long]) = {
    val ck = df.localCheckpoint(eager = false)
    val bound = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val finalStage = a.executedPlan match {
          case r: ResultQueryStageExec => r.plan
          case p => p
        }
        val rows = finalStage.collectLeaves().map {
          case s: ShuffleQueryStageExec if s.isMaterialized => s.getRuntimeStatistics.rowCount
          case _ => None
        }
        if (rows.forall(_.isDefined)) Some(rows.map(_.get.toLong).sum) else None
      case _ => None
    }
    (ck, bound)
  }

  /** The rows of `ck`, a lazy local checkpoint with row bound `bound`
    * ([[checkpointRowBound]]), when it has at most `limit` of them. A
    * bound within `limit` costs one job, which fills and collects the
    * checkpoint; a bound over it costs none (the rows are not probed,
    * so a frame whose final stage shrinks it below `limit` counts as
    * over). Without a bound, a counting job fills the checkpoint first.
    * `limit <= 0` reads nothing.
    */
  def checkpointRowsUpTo(ck: DataFrame, bound: Option[Long],
      limit: Long): Option[Array[InternalRow]] =
    if (limit <= 0 || bound.exists(_ > limit)) None
    else if (bound.isEmpty && ck.queryExecution.toRdd.count() > limit) None
    else Some(internalRows(ck))

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

  /** The rows of `df` when it is a frame over local rows (its optimized
    * plan is a `LocalRelation`), read without a job.
    */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  /** A frame over a driver solve's result rows, in one partition: a
    * global sort or aggregate over it then plans no exchange and runs
    * one job, where a scan of local rows in several slices pays a
    * range-sampling job and a shuffle-map job first.
    */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  private def bounded(limit: Long): Int = math.min(limit, Int.MaxValue - 1L).toInt + 1

  /** The id types a driver solve may intern: integral or
    * (binary-collated) string, where Scala equality is Spark's join
    * equality. Spark widens mixed types first, normalizes
    * floating-point zeros and NaN, and compares binary by content and
    * collated strings by collation.
    */
  val LocalIdTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, StringType)

  /** Spark's ascending order on non-NULL internal values of a
    * [[LocalIdTypes]] type `t`: numeric for integral ids, UTF-8 byte
    * order for strings.
    */
  def idOrdering(t: DataType): Ordering[Any] =
    if (t == StringType) (a, b) => a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])
    else (a, b) => java.lang.Long.compare(
      a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)

  /** An internal id value as an external one (strings as `String`). */
  def external(v: Any): Any = v match {
    case s: UTF8String => s.toString
    case x => x
  }
}
