package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Incrementally-maintained keep-best dedup panel over
  * [[CurationOps.keepBestPanel]] (q172 live) — the survivor set a
  * rolling crawl keeps current: per normalized-content key, the
  * highest-quality representative seen so far and the group size. A
  * re-fetched page variant either loses (the panel is unchanged) or
  * wins (the survivor swaps) — no old text is ever re-read.
  *
  * Exactness by sufficient statistics: the winner is
  * argmax(quality, then smallest id) — a TOTAL order, so argmax over
  * any batching associates and commutes — and sizes are additive
  * counts, PROVIDED doc ids never repeat across batches (the crawl
  * contract shared with [[StreamHostGraph]]). State is keyed by the
  * md5 dedup key: bounded by distinct content, not arrivals. Both
  * forms are [[FoldSession]]s over one part whose fold is that
  * argmax+sum; the durable twin applies it at read.
  */
object StreamKeepBest {
  import FoldSession.Part

  /** Argmax of (quality, then smallest id) and summed group size, per
    * key — the panel fold.
    */
  private val fold: DataFrame => DataFrame =
    _.groupBy(col("key"))
      .agg(max(struct(col("win_quality"),
          negate(col("win_id")).as("nid"))).as("__mx"),
        sum(col("group_size")).as("group_size"))
      .select(col("key"),
        negate(col("__mx").getField("nid")).as("win_id"),
        col("__mx").getField("win_quality").as("win_quality"),
        col("group_size"))

  private val PanelSchema =
    StructType.fromDDL("key STRING, win_id BIGINT, win_quality BIGINT, group_size BIGINT")

  private def panel(idCol: String, textCol: String, qualityCol: String) =
    Part(CurationOps.keepBestPanel(_, idCol, textCol, qualityCol), fold,
      schema = PanelSchema)

  /** In-memory session: one localCheckpointed panel frame. */
  final class KeepBestSession(spark: SparkSession, idCol: String,
      textCol: String, qualityCol: String)
      extends FoldSession.InMemory("keep-best", panel(idCol, textCol, qualityCol)) {

    def currentPanel: DataFrame = required("panel")

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch panels in an argmax+sum-foldable
    * ledger.
    */
  final class DurableKeepBestSession(spark: SparkSession, path: String,
      idCol: String, textCol: String, qualityCol: String,
      compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "keep-best", path, compactEvery,
        panel(idCol, textCol, qualityCol)) {

    def currentPanel: DataFrame = state()

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
