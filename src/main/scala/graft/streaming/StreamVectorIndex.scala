package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.vectors.Vectors

/** Incremental ANN index maintenance for an embedding stream — the
  * IVF family's streaming side. The codebook is FIXED (a kmeans‖ fit
  * over a reference corpus, refreshed out-of-band — the
  * [[StreamSemanticDedup]] codebook contract: cells that moved
  * per-batch would silently re-partition the index), so maintaining
  * the index is a stateless per-row cell assignment plus an append:
  *
  *  - arriving vectors are assigned to their nearest centroid
  *    (exact squared-distance argmin over the broadcast codebook —
  *    [[graft.vectors.Vectors.ivfTopK]]'s assignment) and merged into
  *    the index ledger keyed BY ID (dropDuplicates on the id:
  *    associative and replay-idempotent — a redelivered batch grows
  *    nothing, the [[StreamSpanDedup]] ledger contract);
  *  - [[IvfIndexSession.search]] probes the `nProbe` nearest cells
  *    per query against the CURRENT index — new vectors are
  *    searchable the moment their micro-batch commits. At
  *    `nProbe = nCentroids` the search is EXACT (≡ bruteTopK,
  *    spec-pinned), the standard recall dial.
  *
  * Scale shape: the assignment is a per-row broadcast loop (no
  * shuffle on ingest beyond the ledger merge's id-dedup); the index
  * is cell-keyed so a search shuffles only the probed cells' rows.
  * The in-memory localCheckpointed ledger re-materializes per batch —
  * session-scale; a production deployment MERGEs into a
  * cell-partitioned table (the [[graft.plans.Ledger]] seam), making
  * ingest cost proportional to the batch.
  *
  * UPDATES AND DELETES follow the [[StreamSearchIndex]] contract
  * (the [[graft.plans.Merge]] seam in ledger form): durable rows carry
  * their batch id as a VERSION, the read side resolves
  * newest-version-wins per id, `upsert` out-versions an id's old
  * vector, and `delete` commits a `cell = -1` tombstone filtered after
  * resolution — all per-id facts, so a replayed published batch writes
  * nothing (first-writer-wins commit) and compaction's concat fold
  * changes no winner.
  */
object StreamVectorIndex {

  // built at object level so the udf closures capture ONLY the
  // broadcast handle — inside the session class they would capture
  // `this` (and its SparkSession): Task not serializable
  private def assignUdfFor(
      cb: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) =
    udf { (v: Seq[Double]) =>
      val cs = cb.value
      var best = 0
      var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        var d = 0.0
        var j = 0
        val c = cs(i)
        val n = math.min(v.length, c.length)
        while (j < n) { val x = v(j) - c(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }

  private def probeUdfFor(
      cb: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      nProbe: Int) =
    udf { (v: Seq[Double]) =>
      val cs = cb.value
      cs.indices.map { i =>
        var d = 0.0
        var j = 0
        val c = cs(i)
        val n = math.min(v.length, c.length)
        while (j < n) { val x = v(j) - c(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    }

  final class IvfIndexSession(spark: SparkSession,
      idCol: String, vecCol: String, centers: Array[Array[Double]]) {
    require(centers.nonEmpty, "empty codebook")
    import spark.implicits._

    private val centersB = spark.sparkContext.broadcast(centers)

    @volatile private var state: DataFrame =
      Seq.empty[(Int, Long, Seq[Double], Double)].toDF("cell", "id", "v", "n")
        .withColumn("id", col("id").cast("string"))

    /** The current index: `(cell, id, v, n)`. */
    def index: DataFrame = state

    /** Assign + merge one batch frame into the index (usable directly
      * for batch bootstraps too). Replay-idempotent: ids already
      * indexed are kept once.
      */
    def ingest(batch: DataFrame): Unit = {
      state = state.union(assign(batch)).dropDuplicates("id").localCheckpoint()
    }

    /** Re-index the batch's ids with their NEW vectors: existing rows
      * for those ids are replaced, unseen ids just insert (`upsert` of
      * an unseen id ≡ `ingest`) — the [[graft.plans.Merge]] seam, the
      * [[StreamSearchIndex]] contract.
      */
    def upsert(batch: DataFrame): Unit = {
      val ids = batch.select(col(idCol).cast("string").as("id")).distinct()
        .localCheckpoint()
      state = state.join(ids, Seq("id"), "left_anti")
        .select(col("cell"), col("id"), col("v"), col("n"))
      ingest(batch)
    }

    /** Drop vectors from the index. */
    def delete(ids: Seq[String]): Unit = {
      import spark.implicits._
      state = state.join(ids.toDF("id"), Seq("id"), "left_anti")
        .select(col("cell"), col("id"), col("v"), col("n"))
        .localCheckpoint()
    }

    /** Attach to a vector stream: each micro-batch ingests on commit. */
    def start(docs: DataFrame): StreamingQuery =
      docs.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) => ingest(batch) }
        .start()

    /** Top-k cosine search of the current index, probing the `nProbe`
      * nearest cells per query (exact within the probed cells — the
      * [[graft.vectors.Vectors.ivfTopK]] search with the index frame
      * externalized; `nProbe = nCentroids` ⇒ exact search).
      */
    def search(queries: DataFrame, k: Int, nProbe: Int): DataFrame =
      searchIndex(state, queries, k, nProbe)

    private[streaming] def searchIndex(index: DataFrame, queries: DataFrame,
        k: Int, nProbe: Int): DataFrame = {
      val probeUdf = probeUdfFor(centersB, nProbe)
      val q = broadcast(queries.select(
          col(idCol).cast("string").as("query_id"),
          col(vecCol).cast("array<double>").as("qv"))
        .withColumn("cell", explode(probeUdf(col("qv"))))
        .withColumn("qn", Vectors.normCol(col("qv"))))
      val scored = q.join(index, Seq("cell"))
        .filter(col("query_id") =!= col("id"))
        .withColumn("cosine",
          round(Vectors.cosineWithNorms(col("qv"), col("qn"), col("v"), col("n")), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("cosine"))
    }

    private[streaming] def assign(batch: DataFrame): DataFrame =
      batch.select(
          col(idCol).cast("string").as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("cell", assignUdfFor(centersB)(col("v")))
        .withColumn("n", Vectors.normCol(col("v")))
        .select(col("cell"), col("id"), col("v"), col("n"))
  }

  /** [[IvfIndexSession]] with the index in a [[DurableLedger]] parquet
    * table: the index survives a process restart (resume with the same
    * `indexPath` + streaming `checkpointLocation`) and a replayed
    * micro-batch recommits the identical fresh-row set to its own
    * directory — index contents are exactly-once. Per-batch ingest is
    * one assignment map + one anti-join on the id against the
    * committed index + an O(batch) append; searches read the committed
    * table (new vectors are searchable the moment their batch
    * commits). The id-level anti-join keeps first-arrival semantics
    * for redelivered ids (the in-memory session's `dropDuplicates`
    * contract).
    */
  /** `compactEvery > 0` auto-folds the index's batch directories via
    * [[DurableLedger.maybeCompact]] at the end of each ingest (the
    * in-flight batch is the newest and is never folded).
    */
  final class DurableIvfIndexSession(spark: SparkSession, indexPath: String,
      idCol: String, vecCol: String, centers: Array[Array[Double]],
      compactEvery: Int = 0) {
    require(centers.nonEmpty, "empty codebook")
    import org.apache.spark.sql.types._

    private val inner = new IvfIndexSession(spark, idCol, vecCol, centers)
    private val schema = StructType(Seq(
      StructField("cell", IntegerType),
      StructField("id", StringType),
      StructField("v", ArrayType(DoubleType)),
      StructField("n", DoubleType),
      StructField("ver", LongType)))

    /** All committed rows, dead versions included. */
    private def raw: DataFrame = DurableLedger.load(spark, indexPath, schema)

    /** The LIVE index `(cell, id, v, n)`: newest committed version per
      * id (the [[StreamSearchIndex]] newest-wins resolution), delete
      * tombstones (`cell = -1`) filtered after resolution. Out-versioned
      * rows are dead weight until a compaction rewrite — exactly the
      * MERGE-on-read trade.
      */
    def index: DataFrame = {
      val all = raw
      val winners = all.groupBy(col("id")).agg(max(col("ver")).as("ver"))
      all.join(winners, Seq("id", "ver"))
        .filter(col("cell") >= 0)
        .select(col("cell"), col("id"), col("v"), col("n"))
    }

    /** Assign + commit one batch, insert-if-absent (replay-safe:
      * dedups against the index EXCLUDING this batch's own directory).
      */
    def ingest(batch: DataFrame, batchId: Long): Unit = {
      val prior = DurableLedger.load(spark, indexPath, schema,
        excludeBatch = Some(batchId))
      val fresh = inner.assign(batch)
        .dropDuplicates("id")
        .join(prior.select(col("id")), Seq("id"), "left_anti")
        .select(col("cell"), col("id"), col("v"), col("n"),
          lit(batchId).as("ver"))
      DurableLedger.commit(fresh, indexPath, batchId)
      if (compactEvery > 0)
        DurableLedger.maybeCompact(spark, indexPath, schema, compactEvery)
      ()
    }

    /** Re-index the batch's ids with their NEW vectors: the committed
      * rows out-version the old ones (newest-wins resolution) — an
      * unseen id just inserts. The batch id must be newer than the
      * versions it replaces (foreachBatch ids are monotone). Replaying
      * a published batch id writes nothing: the commit is
      * first-writer-wins.
      */
    def upsert(batch: DataFrame, batchId: Long): Unit = {
      val rows = inner.assign(batch)
        .dropDuplicates("id")
        .select(col("cell"), col("id"), col("v"), col("n"),
          lit(batchId).as("ver"))
      DurableLedger.commit(rows, indexPath, batchId)
      if (compactEvery > 0)
        DurableLedger.maybeCompact(spark, indexPath, schema, compactEvery)
      ()
    }

    /** Drop vectors: commits `cell = -1` tombstone rows that win the
      * resolution and are filtered from the live index.
      */
    def delete(ids: Seq[String], batchId: Long): Unit = {
      import spark.implicits._
      val rows = ids.toDF("id")
        .select(lit(-1).as("cell"), col("id"),
          lit(null).cast("array<double>").as("v"),
          lit(-1.0).as("n"), lit(batchId).as("ver"))
      DurableLedger.commit(rows, indexPath, batchId)
      if (compactEvery > 0)
        DurableLedger.maybeCompact(spark, indexPath, schema, compactEvery)
      ()
    }

    def start(docs: DataFrame, checkpointLocation: Option[String] = None): StreamingQuery = {
      val w = docs.writeStream.outputMode("append")
      checkpointLocation.foreach(w.option("checkpointLocation", _))
      w.foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
        .start()
    }

    /** Fold the index's batch directories with the LEDGER schema
      * (versions included). Callers must use this, never
      * `DurableLedger.compact` with the live view's schema — `index`
      * drops `ver` after resolution, and folding through that schema
      * would erase the version column from the rewritten segment.
      */
    def compact(): Int = DurableLedger.compact(spark, indexPath, schema)

    /** [[IvfIndexSession.search]] over the committed index. */
    def search(queries: DataFrame, k: Int, nProbe: Int): DataFrame =
      inner.searchIndex(index, queries, k, nProbe)
  }
}
