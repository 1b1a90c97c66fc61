package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.textops.Retrieval

/** Incrementally-maintained inverted index with BM25 and
  * query-likelihood serving — the live search side of the curation
  * stack (q62's index layout + q69/q116's rankers as a MAINTAINED
  * state instead of per-query corpus scans).
  *
  * The index is two tables, both built by the batch operators' own
  * phases ([[Retrieval.docStats]] / [[Retrieval.termPostings]]):
  * per-doc `(id, dl)` rows (empty docs included — they carry
  * corpus-stat mass) and postings `(id, term, tf)`. Both are PER-DOC
  * facts: a document's rows never depend on any other document, so
  * the stream fold is plain union + distinct — associative and
  * replay-idempotent (a redelivered doc reproduces byte-identical
  * rows that collapse in the distinct).
  *
  * `searchBm25` / `searchQl` serve [[Retrieval.bm25FromIndex]] /
  * [[Retrieval.qlFromIndex]] over the maintained tables: identical
  * integer inputs feed the identical scoring expressions, so results
  * are BIT-FOR-BIT the batch rankers' over everything ingested
  * (spec-pinned, ranks included). Serving cost is |postings of the
  * query terms| + the doc-stat aggregate — never a corpus text scan.
  *
  * [[DurableSearchIndexSession]] commits each batch's delta rows to
  * two [[DurableLedger]]s (docs + postings): the commit is
  * first-writer-wins, so a replayed published batch writes nothing,
  * restarts resume from disk, and compaction is a row concatenation
  * the read side re-resolves.
  *
  * UPDATES AND DELETES (the [[graft.plans.Merge]] seam expressed in
  * ledger form): every committed row carries its batch id as a
  * VERSION, and the read side resolves newest-version-wins per doc id
  * — so re-ingesting a modified document simply out-versions its old
  * rows (they become dead weight until a compaction rewrite), and a
  * delete commits a `dl = -1` tombstone doc row the read side filters
  * after resolution. Both are per-doc facts like everything else
  * here: a replayed upsert or delete batch that was already published
  * writes nothing (first-writer-wins commit), and compaction's concat
  * fold changes no winner.
  */
object StreamSearchIndex {

  /** In-memory session. */
  final class SearchIndexSession(spark: SparkSession,
      idCol: String, textCol: String) {
    @volatile private var docsState: DataFrame = emptyDocs(spark)
    @volatile private var postState: DataFrame = emptyPostings(spark)

    /** The maintained `(id, dl)` table. */
    def docs: DataFrame = docsState
    /** The maintained `(id, term, tf)` postings. */
    def postings: DataFrame = postState

    def ingest(batch: DataFrame): Unit = {
      val d = Retrieval.docStats(batch, idCol, textCol)
        .select(col("id").cast("long").as("id"), col("dl"))
      val p = Retrieval.termPostings(batch, idCol, textCol)
        .select(col("id").cast("long").as("id"), col("term"), col("tf"))
      docsState = docsState.union(d).distinct().localCheckpoint()
      postState = postState.union(p).distinct().localCheckpoint()
    }

    /** Re-index the batch's doc ids: existing rows for those ids are
      * replaced (new docs just insert — `upsert` of an unseen id ≡
      * `ingest`).
      */
    def upsert(batch: DataFrame): Unit = {
      val ids = batch.select(col(idCol).cast("long").as("id")).distinct()
        .localCheckpoint()
      docsState = docsState.join(ids, Seq("id"), "left_anti")
      postState = postState.join(ids, Seq("id"), "left_anti")
      ingest(batch)
    }

    /** Drop documents from the index. */
    def delete(ids: Seq[Long]): Unit = {
      import spark.implicits._
      val d = ids.toDF("id")
      docsState = docsState.join(d, Seq("id"), "left_anti").localCheckpoint()
      postState = postState.join(d, Seq("id"), "left_anti").localCheckpoint()
    }

    def searchBm25(queryTerms: Seq[String], k: Int): DataFrame =
      Retrieval.bm25FromIndex(docsState, postState, queryTerms, k)

    def searchQl(queryTerms: Seq[String], k: Int): DataFrame =
      Retrieval.qlFromIndex(docsState, postState, queryTerms, k)

    def start(docs: DataFrame)(sink: Long => Unit): StreamingQuery =
      docs.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          ingest(batch); sink(batchId)
        }
        .start()
  }

  private def emptyDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("id", "dl")
  }

  private def emptyPostings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, Long)].toDF("id", "term", "tf")
  }

  /** Durable session: docs + postings deltas in two [[DurableLedger]]
    * directories under `rootPath`.
    */
  final class DurableSearchIndexSession(spark: SparkSession, rootPath: String,
      idCol: String, textCol: String, compactEvery: Int = 0) {

    private val docsPath = s"$rootPath/docs"
    private val postPath = s"$rootPath/postings"
    private val docsSchema = StructType(Seq(
      StructField("id", LongType), StructField("dl", LongType),
      StructField("ver", LongType)))
    private val postSchema = StructType(Seq(
      StructField("id", LongType), StructField("term", StringType),
      StructField("tf", LongType), StructField("ver", LongType)))

    /** Winning `(id, ver)` per doc id — newest committed version. */
    private def winners: DataFrame =
      DurableLedger.load(spark, docsPath, docsSchema)
        .groupBy(col("id")).agg(max(col("ver")).as("ver"))

    /** The LIVE `(id, dl)` table: newest version per id, tombstones
      * (`dl = -1`) filtered after resolution.
      */
    def docs: DataFrame =
      DurableLedger.load(spark, docsPath, docsSchema)
        .join(winners, Seq("id", "ver"))
        .filter(col("dl") >= 0)
        .select(col("id"), col("dl"))
        .distinct()

    /** The LIVE postings: rows of each id's winning version (a
      * tombstone version committed no postings, so deleted docs
      * resolve to nothing).
      */
    def postings: DataFrame =
      DurableLedger.load(spark, postPath, postSchema)
        .join(winners, Seq("id", "ver"))
        .select(col("id"), col("term"), col("tf"))
        .distinct()

    def ingest(batch: DataFrame, batchId: Long): Unit = {
      val d = Retrieval.docStats(batch, idCol, textCol)
        .select(col("id").cast("long").as("id"), col("dl").cast("long").as("dl"),
          lit(batchId).as("ver"))
      val p = Retrieval.termPostings(batch, idCol, textCol)
        .select(col("id").cast("long").as("id"), col("term").cast("string").as("term"),
          col("tf").cast("long").as("tf"), lit(batchId).as("ver"))
      DurableLedger.commit(d, docsPath, batchId)
      DurableLedger.commit(p, postPath, batchId)
      if (compactEvery > 0) {
        DurableLedger.maybeCompact(spark, docsPath, docsSchema, compactEvery)
        DurableLedger.maybeCompact(spark, postPath, postSchema, compactEvery)
      }
    }

    /** Re-index the batch's doc ids: the new rows out-version the old
      * ones (newest-wins resolution) — `upsert` of an unseen id is
      * exactly `ingest`. The batch id must be NEWER than the versions
      * it replaces (foreachBatch ids are monotone).
      */
    def upsert(batch: DataFrame, batchId: Long): Unit = ingest(batch, batchId)

    /** Drop documents: commits `dl = -1` tombstone rows that win the
      * resolution and are filtered from the live table (their version
      * has no postings).
      */
    def delete(ids: Seq[Long], batchId: Long): Unit = {
      import spark.implicits._
      val d = ids.toDF("id")
        .select(col("id"), lit(-1L).as("dl"), lit(batchId).as("ver"))
      DurableLedger.commit(d, docsPath, batchId)
      DurableLedger.commit(
        ids.take(0).map(i => (i, "", 0L)).toDF("id", "term", "tf")
          .select(col("id"), col("term"), col("tf"), lit(batchId).as("ver")),
        postPath, batchId)
      if (compactEvery > 0) {
        DurableLedger.maybeCompact(spark, docsPath, docsSchema, compactEvery)
        DurableLedger.maybeCompact(spark, postPath, postSchema, compactEvery)
      }
    }

    def searchBm25(queryTerms: Seq[String], k: Int): DataFrame =
      Retrieval.bm25FromIndex(docs, postings, queryTerms, k)

    def searchQl(queryTerms: Seq[String], k: Int): DataFrame =
      Retrieval.qlFromIndex(docs, postings, queryTerms, k)

    def start(docsStream: DataFrame, checkpointLocation: Option[String] = None)(
        sink: Long => Unit): StreamingQuery = {
      val w = docsStream.writeStream.outputMode("append")
      checkpointLocation.foreach(w.option("checkpointLocation", _))
      w.foreachBatch { (batch: DataFrame, batchId: Long) =>
          ingest(batch, batchId); sink(batchId)
        }
        .start()
    }
  }
}
