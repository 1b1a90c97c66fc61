package graft.util

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, LogicalRDD, ProjectExec, SortExec, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, ResultQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
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
  * Every caller but hnswTopK goes through one entry, [[gate]], which
  * cuts the input, sizes it, collects it when it fits, runs the
  * caller's solver and frees the cut when the solver answers; otherwise
  * the cut, filled or not, is the distributed path's input. hnswTopK
  * sizes its corpus in the fold that also counts its layers
  * ([[checkpointAggregate]]).
  */
object DriverGate {

  /** The row gate of the graph and near-dup operators. The cap keeps
    * the transient driver footprint at tens of MB even under a default
    * 1g heap.
    */
  val DefaultRowLimit: Long = 1L << 17

  /** The bound on a driver solve's candidate pair work (knnGraph's
    * seeds, MinHash's buckets: Σ_buckets |b|², self pairs included),
    * computed from the bucket sizes before any scoring. A corpus
    * within the row or double budget can still collide in huge
    * buckets, and that quadratic work belongs to the distributed plan.
    */
  val PairWorkLimit: Long = 1L << 22

  /** `solve` over `df`'s rows when their summed `weight` (rows when
    * `None`; every row weighs at least one) is at most `limit`, and
    * otherwise `df`'s lazy local checkpoint for the distributed path.
    *
    * The cut runs the shuffle stages below `df`'s final stage (under
    * AQE); then, in jobs labeled `label`:
    *  - `limit <= 0`, or a row bound over `limit`, runs none;
    *  - a row bound within `limit` runs one, which fills and collects
    *    the checkpoint, for a frame weighed in rows;
    *  - otherwise one job fills the checkpoint and weighs it, and a
    *    second collects it when it fits.
    * The row bound ([[rowBound]]) is not a count, so a frame that
    * shrinks below `limit` in its final stage (a dedup) can go
    * distributed without a job. When `solve` answers, the checkpoint's
    * blocks are freed; when it declines, the filled checkpoint goes
    * distributed.
    */
  def gate[A](df: DataFrame, limit: Long, label: String,
      weight: Option[InternalRow => Long] = None)(
      solve: Array[InternalRow] => Option[A]): Either[DataFrame, A] = {
    val ck = df.localCheckpoint(eager = false)
    val bound = if (limit > 0) rowBound(df) else None
    val w = weight.getOrElse((_: InternalRow) => 1L)
    Jobs.labeled(df.sparkSession.sparkContext, label) {
      val rows =
        if (limit <= 0 || bound.exists(_ > limit)) None
        else if ((weight.isDefined || bound.isEmpty) &&
          ck.queryExecution.toRdd.aggregate(0L)((a, r) => a + w(r), _ + _) > limit) None
        else Some(ck.queryExecution.executedPlan.executeCollect())
          .filter(_.iterator.map(w).sum <= limit)
      rows.flatMap(solve)
    } match {
      case Some(a) => free(ck); Right(a)
      case None => Left(ck)
    }
  }

  /** A bound on the rows of `df`, whose AQE plan has run its shuffle
    * stages: the smaller of Spark's own logical bound (`maxRows`, e.g.
    * a frame over local rows through operators that cannot add rows)
    * and the rows those shuffle stages wrote, when the final stage
    * reads nothing else and holds only operators that emit at most the
    * rows they read (projections, filters, aggregates, sorts, unions,
    * shuffle reads and codegen wrappers; a join, generate, expand or
    * map-partitions can multiply rows). The second needs AQE, which a
    * streaming query's micro-batches run without. A global aggregate
    * over no rows emits one: the gate's collect re-checks the rows it
    * gets.
    */
  private def rowBound(df: DataFrame): Option[Long] = {
    val written = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val finalStage = a.executedPlan match {
          case r: ResultQueryStageExec => r.plan
          case p => p
        }
        val sound = finalStage.find {
          case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec |
               _: UnionExec | _: AQEShuffleReadExec | _: WholeStageCodegenExec |
               _: InputAdapter => false
          case s: ShuffleQueryStageExec => !s.isMaterialized
          case _ => true
        }.isEmpty
        val rows = finalStage.collectLeaves().map {
          case s: ShuffleQueryStageExec => s.getRuntimeStatistics.rowCount
          case _ => None
        }
        if (sound && rows.forall(_.isDefined)) Some(rows.map(_.get.toLong).sum) else None
      case _ => None
    }
    (df.queryExecution.optimizedPlan.maxRows ++ written).minOption
  }

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

  /** `df`'s rows as `InternalRow`s when it has at most `limit` of
    * them: one bounded `limit(limit + 1)` collect, for a frame that is
    * not checkpointed (a side input of a gated solve).
    */
  def internalRowsUpTo(df: DataFrame, limit: Long): Option[Array[InternalRow]] = {
    val rows = df.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1)
      .queryExecution.executedPlan.executeCollect()
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
