package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.textops.TextAnalysis

/** Incrementally-maintained anchor-text panel over
  * [[TextAnalysis.anchorTextPanel]] (q164 live) — the semantic twin of
  * [[StreamHostGraph]]: per (external target host, normalized anchor),
  * how many links carry that text and how many distinct source pages
  * said it. A live crawl mines this for retrieval-training queries and
  * spam-anchor triage; recomputing it per wave re-reads every page
  * ever fetched.
  *
  * Exactness by sufficient statistics — the [[StreamHostGraph]]
  * argument verbatim, one key wider: anchor rows are per-page facts,
  * so `(host, anchor, n_links, n_pages)` count frames from disjoint
  * batches merge by sum, PROVIDED page ids never repeat across batches
  * (each page's links arrive once — the crawl contract; a re-crawled
  * page is a new version and re-counts). State is (host × distinct
  * anchors)-keyed — bounded by the anchor vocabulary, not by pages.
  * Both forms are [[FoldSession]]s over one sum-folded part.
  */
object StreamAnchorText {
  import FoldSession.{Part, sumBy}

  private val CountSchema =
    StructType.fromDDL("host STRING, anchor STRING, n_links BIGINT, n_pages BIGINT")

  private def counts(idCol: String, htmlCol: String) =
    Part(TextAnalysis.anchorTextPanel(_, idCol, htmlCol),
      sumBy("host", "anchor")("n_links", "n_pages"), schema = CountSchema)

  /** In-memory session: one localCheckpointed count frame. */
  final class AnchorTextSession(spark: SparkSession, idCol: String,
      htmlCol: String)
      extends FoldSession.InMemory("anchor text", counts(idCol, htmlCol)) {

    def currentPanel: DataFrame = required("panel")

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch deltas in one sum-foldable ledger. */
  final class DurableAnchorTextSession(spark: SparkSession, path: String,
      idCol: String, htmlCol: String, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "anchor text", path, compactEvery,
        counts(idCol, htmlCol)) {

    def currentPanel: DataFrame = state()

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
