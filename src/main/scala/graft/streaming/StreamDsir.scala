package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.Dsir

/** [[graft.textops.Dsir]] as a maintained session — the form a live
  * ingestion pipeline runs targeted selection in: documents stream in
  * (each batch tagged with its target membership), the per-bucket
  * count panel folds them, and at any point the CURRENT panel yields
  * the weight table that scores new arrivals. Like
  * [[StreamCrawlControl]], state is a mergeable integer counter panel
  * (bucket-grained, ≤ `buckets` rows — never the corpus), so the
  * equivalence law is UNCONDITIONAL and spec-pinned: the streamed
  * panel after any batch split equals [[Dsir.bucketPanel]] over the
  * union, and therefore so do the fitted weights and every score.
  *
  * The durable twin commits each batch's DELTA panel under its batch
  * id ([[FoldSession]]; a replayed id is a first-writer-wins no-op),
  * and the folded panel is one ≤-buckets-row sum over the ledger.
  */
object StreamDsir {
  import FoldSession.{Part, sumBy}

  private val fold = sumBy("bucket")("t_count", "r_count")

  /** In-memory session over a fixed bucket count. */
  final class DsirSession(textCol: String, isTarget: Column, buckets: Int)
      extends FoldSession.InMemory("dsir",
        Part(Dsir.bucketPanel(_, textCol, isTarget, buckets), fold)) {

    def currentPanel: DataFrame = required("panel")

    def ingest(docs: DataFrame): Unit = step(docs, 0L)

    /** The weight table fitted on everything ingested so far. */
    def currentWeights: Array[Long] = Dsir.logRatiosE6(currentPanel, buckets)

    /** Score an arbitrary frame under the current fit. */
    def score(docs: DataFrame, idCol: String): DataFrame =
      Dsir.score(docs, idCol, textCol, currentWeights)
  }

  private val PanelSchema = StructType.fromDDL("bucket BIGINT, t_count BIGINT, r_count BIGINT")

  /** Durable twin: fixed `(text, is_target)` input columns; each batch
    * commits its delta panel, restart is reopening the path. Commits
    * carry per-directory `bucket` min/max stats so [[panelForBuckets]]
    * prunes directories whose bucket range provably misses.
    */
  final class DurableDsirSession(spark: SparkSession, path: String,
      buckets: Int, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "dsir", path, compactEvery,
        Part(docs => Dsir.bucketPanel(docs.select(col("text"), col("is_target")),
            "text", col("is_target") === 1, buckets),
          fold, schema = PanelSchema, statsCols = Seq("bucket"))) {

    def currentPanel: DataFrame = state()

    /** The panel restricted to buckets in `[lo, hi]` — the diagnostic
      * read ("which features drive this score band?") that pays for
      * the stats: a sparse batch (few buckets touched) commits a
      * narrow range and is skipped entirely by reads outside it
      * ([[DurableLedger.loadWhere]]; superset read + real filter, so
      * results are identical with or without stats — spec-pinned,
      * including after compaction).
      */
    def panelForBuckets(lo: Long, hi: Long): DataFrame =
      fold(DurableLedger.loadWhere(spark, path, PanelSchema,
          Seq(DurableLedger.Bound("bucket", Some(lo), Some(hi))))
        .filter(col("bucket") >= lo && col("bucket") <= hi))

    def ingest(docs: DataFrame, batchId: Long): Unit = step(docs, batchId)

    /** Out-of-band compaction (the maintenance turn when
      * `compactEvery` is off). Returns folded directory count.
      */
    def compactNow(): Int = DurableLedger.compact(spark, path, PanelSchema)

    def currentWeights: Array[Long] = Dsir.logRatiosE6(currentPanel, buckets)

    def score(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      Dsir.score(docs, idCol, textCol, currentWeights)
  }
}
