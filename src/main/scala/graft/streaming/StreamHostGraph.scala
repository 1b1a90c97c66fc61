package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.TextAnalysis

/** Incrementally-maintained host in-degree panel over
  * [[TextAnalysis.outlinkEdges]] (q148 live) — the web-graph side
  * table a crawl keeps current: per target host, how many links and
  * how many distinct source pages point at it. In-degree seeds
  * PageRank priors, frontier prioritization, and spam-hub triage; a
  * live crawl wants it maintained, not recomputed per wave.
  *
  * Exactness by sufficient statistics: edges are per-row facts, so
  * `(host, n_links, n_pages)` count frames from disjoint batches merge
  * by sum — streamed ≡ the batch rollup over everything ingested,
  * PROVIDED page ids never repeat across batches (each page's edges
  * arrive once — the crawl contract; a RE-crawled page is a new
  * version and its host re-counts, which is what a frontier
  * prioritizer wants). State is host-keyed — bounded by distinct
  * hosts, not pages. Durable twin: per-batch deltas, sum-fold at read,
  * compaction free ([[FoldSession]] carries the replay contract).
  */
object StreamHostGraph {
  import FoldSession.{Part, sumBy}

  /** The batch rollup both forms derive: external edges only (relative
    * links have no host), links + distinct source pages per host.
    */
  def hostInDegree(pages: DataFrame, idCol: String, htmlCol: String): DataFrame =
    TextAnalysis.outlinkEdges(pages, idCol, htmlCol)
      .filter(col("host").isNotNull)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col(idCol)).as("n_pages"))

  private val CountSchema = StructType.fromDDL("host STRING, n_links BIGINT, n_pages BIGINT")

  private def counts(idCol: String, htmlCol: String) =
    Part(hostInDegree(_, idCol, htmlCol), sumBy("host")("n_links", "n_pages"),
      schema = CountSchema)

  /** In-memory session: one localCheckpointed count frame. */
  final class HostGraphSession(spark: SparkSession, idCol: String,
      htmlCol: String)
      extends FoldSession.InMemory("host graph", counts(idCol, htmlCol)) {

    def currentInDegree: DataFrame = required("in-degree")

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch deltas in one sum-foldable ledger. */
  final class DurableHostGraphSession(spark: SparkSession, path: String,
      idCol: String, htmlCol: String, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "host graph", path, compactEvery,
        counts(idCol, htmlCol)) {

    def currentInDegree: DataFrame = state()

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
