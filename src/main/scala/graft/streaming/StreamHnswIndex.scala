package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.vectors.Vectors

/** Incremental maintenance of the [[Vectors.hnswTopK]] layered NSW
  * index for a vector stream — the graph sibling of
  * [[StreamVectorIndex]]'s IVF session.
  *
  * The batch index is a deterministic function of the corpus SET: the
  * md5 level draw fixes each id's layers, the (fixed-plane) hyperplane
  * buckets fix each node's candidate pools, and the per-node top-degree
  * rank fixes the edges — nothing depends on arrival order. So
  * incremental maintenance is exact, not approximate: when a batch
  * arrives,
  *
  *  1. new ids join their layers (stateless md5 draw) and buckets
  *     (stateless hyperplane signs);
  *  2. only nodes sharing a (table, bucket) with a new node can see
  *     their candidate pool change — their out-edges are re-ranked
  *     over their full pools, everyone else's stand;
  *  3. the maintained graph is therefore IDENTICAL to a from-scratch
  *     [[Vectors.hnswTopK]] build over the union (spec-pinned
  *     equality), and searches run the exact same beam descent over
  *     the maintained adjacency ([[Vectors.hnswBeamDescent]] — shared
  *     code, not a mirror).
  *
  * The bucket ladder is PINNED per layer at session construction
  * (`planesPerLayer`) — the [[StreamSemanticDedup]] fixed-codebook
  * contract: the batch operator's autoPlanes re-sizes buckets with N,
  * which would re-bucket the whole layer mid-stream. A production
  * deployment re-tunes the ladder out-of-band when the corpus outgrows
  * it (rebuild = one batch call), exactly like refreshing the IVF
  * codebook.
  *
  * Scale shape: ingest cost is proportional to the NEW nodes'
  * neighborhoods — the affected-bucket semi-joins prune everything
  * else (on a bucket-partitioned index table the reads prune too);
  * per-batch, edges change for O(|batch| · bucket-size) nodes, never
  * the whole layer. Search cost is the batch search's beam phase
  * alone: the expensive graph build is amortized across ingest.
  */
object StreamHnswIndex {

  /** One layer's incremental update, shared by the in-memory and the
    * durable sessions: given the layer's FULL membership after the
    * batch (`layerMembers`), the bucket table before it (`priorBk`),
    * and the batch's new layer members, compute
    * `(newBk, memBk, affNodes, recomputed)` — the appended bucket
    * rows, the updated bucket table, the nodes whose candidate pool
    * changed, and their replacement top-degree out-edges. Only nodes
    * sharing a (table, bucket) with a new node re-rank; everyone
    * else's edges stand.
    */
  private def layerDelta(layerMembers: DataFrame, priorBk: DataFrame,
      newMem: DataFrame, bucketize: DataFrame => DataFrame, degree: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = layerMembers.sparkSession
    import spark.implicits._
    val newBk = bucketize(newMem)
    val memBk = priorBk.union(newBk).localCheckpoint()
    val affBk = newBk.select($"tbl", $"bucket").distinct()
    // nodes whose candidate pool changed: anything sharing a
    // (table, bucket) with a new node — their out-edges re-rank
    // over their FULL pools (all their buckets, both tables)
    val affNodes = memBk
      .join(affBk, Seq("tbl", "bucket"), "left_semi")
      .select($"id").distinct().localCheckpoint()
    val srcBk = memBk.join(affNodes, Seq("id"), "left_semi")
    val cands = srcBk.as("x").join(memBk.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("src"), col("y.id").as("dst")).distinct()
    val scored = cands
      .join(layerMembers.select($"id".as("src"), $"v".as("sv"), $"n".as("sn")), "src")
      .join(layerMembers.select($"id".as("dst"), $"v".as("dv"), $"n".as("dn")), "dst")
      .withColumn("cosine",
        round(Vectors.cosineWithNorms($"sv", $"sn", $"dv", $"dn"), 6))
    val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst".asc)
    val recomputed = scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= degree).select($"src", $"dst")
    (newBk, memBk, affNodes, recomputed)
  }

  final class HnswIndexSession(spark: SparkSession,
      idCol: String, vecCol: String, dim: Int, planesPerLayer: Seq[Int],
      degree: Int = 16, fanout: Long = 8, tables: Int = 2,
      hops: Int = 2, beam: Int = 16, seed: Int = 42) {
    require(planesPerLayer.nonEmpty, "need at least one layer")
    require(fanout >= 2 && (fanout & (fanout - 1)) == 0,
      s"fanout must be a power of two: $fanout")
    import spark.implicits._

    private val layers = planesPerLayer.length
    private val layerMods = (0 until layers)
      .map(j => (0 until j).foldLeft(1L)((a, _) => a * fanout))

    // state starts on the FIRST batch so ids keep their ORIGINAL type:
    // a string cast would silently change every (cosine, id) tiebreak
    // to lexicographic order and break the exact-equality contract
    // with the batch build
    @volatile private var corpus: DataFrame = null
    @volatile private var topEdges: Vector[DataFrame] = null
    // per-layer (id, tbl, bucket) — buckets are a stateless function of
    // the vector, so the table grows by exactly the batch's rows (no
    // per-batch recompute of the layer's ladder)
    @volatile private var layerBuckets: Vector[DataFrame] = null

    /** The maintained corpus: `(id, v, n, h60)` (null before data). */
    def index: DataFrame = corpus

    /** Layer j's maintained DIRECTED top-degree edges. */
    def edges(j: Int): DataFrame = topEdges(j)

    private def prep(batch: DataFrame): DataFrame =
      batch.select(
          col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("n", Vectors.normCol(col("v")))
        .withColumn("h60", conv(substring(
          md5(concat(lit(s"hnsw$seed:"), col("id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))

    private def bucketsOf(mem: DataFrame, j: Int): DataFrame =
      (0 until tables).map { t =>
        mem.select($"id", lit(t).as("tbl"),
          Vectors.hyperplaneBucket($"v", planesPerLayer(j), dim,
            seed + j * tables + t).as("bucket"))
      }.reduce(_ union _)

    /** Assign + merge one batch (replay-idempotent: known ids are
      * dropped before anything recomputes).
      */
    def ingest(batch: DataFrame): Unit = {
      val prepped = prep(batch).dropDuplicates("id")
      if (corpus == null) {
        corpus = prepped.limit(0).localCheckpoint()
        topEdges = Vector.fill(layers)(
          prepped.select($"id".as("src"), $"id".as("dst")).limit(0)
            .localCheckpoint())
        layerBuckets = Vector.fill(layers)(
          prepped.select($"id", lit(0).as("tbl"), lit(0L).as("bucket")).limit(0)
            .localCheckpoint())
      }
      val newC = prepped
        .join(corpus.select($"id"), Seq("id"), "left_anti")
        .localCheckpoint()
      if (newC.isEmpty) return
      corpus = corpus.union(newC).localCheckpoint()
      val updates = (0 until layers).map { j =>
        val newMem = newC.filter($"h60" % layerMods(j) === 0)
        if (newMem.isEmpty) (topEdges(j), layerBuckets(j))
        else {
          val (_, memBk, affNodes, recomputed) = layerDelta(
            corpus.filter($"h60" % layerMods(j) === 0),
            layerBuckets(j), newMem, bucketsOf(_, j), degree)
          val edges = topEdges(j)
            .join(affNodes.select($"id".as("src")), Seq("src"), "left_anti")
            .union(recomputed)
            .localCheckpoint()
          (edges, memBk)
        }
      }
      topEdges = updates.map(_._1).toVector
      layerBuckets = updates.map(_._2).toVector
    }

    /** Attach to a vector stream: each micro-batch ingests on commit. */
    def start(docs: DataFrame): StreamingQuery =
      docs.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) => ingest(batch) }
        .start()

    /** [[Vectors.hnswTopK]]'s beam descent over the MAINTAINED graphs
      * (shared [[Vectors.hnswBeamDescent]]) — entry at the deepest
      * non-empty layer, same ranks, same tiebreaks.
      */
    def search(queries: DataFrame, k: Int): DataFrame = {
      require(corpus != null, "search before any ingest")
      val layerCount = (0 until layers).map { j =>
        corpus.filter($"h60" % layerMods(j) === 0).count()
      }
      val entryLayer = ((layers - 1) to 0 by -1)
        .find(j => layerCount(j) > 0).getOrElse(0)
      val q = queries
        .select(col(idCol).as("query_id"),
          col(vecCol).cast("array<double>").as("qv"))
        .withColumn("qn", Vectors.normCol($"qv"))
      def symmetrized(j: Int): DataFrame = {
        val t = topEdges(j)
        t.union(t.select($"dst".as("src"), $"src".as("dst"))).distinct()
      }
      Vectors.hnswBeamDescent(
        corpus.select($"id", $"v", $"n"), q,
        corpus.filter($"h60" % layerMods(entryLayer) === 0).select($"id"),
        ((entryLayer - 1) to 0 by -1).map(symmetrized),
        k, beam, hops)
    }
  }

  /** [[HnswIndexSession]] with every piece of state in
    * [[DurableLedger]] parquet tables — the session survives a process
    * RESTART (resume with the same `path` + streaming
    * `checkpointLocation`), the [[DurableIvfIndexSession]] contract
    * applied to the graph index. Three ledgers per instance:
    *
    *  - `corpus` — `(id, v, n, h60)`, append-only (one directory per
    *    batch, O(batch) commit);
    *  - `buckets<j>` — `(id, tbl, bucket)` per layer, append-only
    *    (buckets are a stateless function of the vector);
    *  - `edges<j>` — `(src, dst, b)` per layer, NEWEST-WINS per `src`:
    *    each batch commits the full replacement adjacency for the
    *    nodes it affected, tagged with its batch id, plus a null-`dst`
    *    marker for any affected node left with no edges (so stale
    *    edges are masked even then). Readers fold with one
    *    `max(b) over (partition by src)` window — the degree-bounded
    *    edge table keeps that cheap, and because the batch id lives IN
    *    the rows (not the directory name), [[DurableLedger.compact]]
    *    folds these ledgers without changing the fold.
    *
    * Replay safety is the standard seam discipline: every commit is
    * derived from (batch, ledgers-excluding-this-batch), so a replayed
    * micro-batch re-derives exactly its own directories' rows; the
    * first-writer-wins commit leaves the directories already published
    * as they are and publishes only the missing ones. The maintained graph equals the in-memory session's — and
    * therefore the from-scratch batch build's — exactly (spec-pinned
    * across a simulated restart).
    *
    * `idType` declares the id column's parquet type; ranks tiebreak on
    * the id, so it must be the SOURCE type (a silent string cast would
    * reorder ties and break batch-equality).
    */
  final class DurableHnswIndexSession(spark: SparkSession, path: String,
      idCol: String, vecCol: String, dim: Int, planesPerLayer: Seq[Int],
      idType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType,
      degree: Int = 16, fanout: Long = 8, tables: Int = 2,
      hops: Int = 2, beam: Int = 16, seed: Int = 42,
      compactEvery: Int = 0) {
    require(planesPerLayer.nonEmpty, "need at least one layer")
    require(fanout >= 2 && (fanout & (fanout - 1)) == 0,
      s"fanout must be a power of two: $fanout")
    import org.apache.spark.sql.types._
    import spark.implicits._

    private val layers = planesPerLayer.length
    private val layerMods = (0 until layers)
      .map(j => (0 until j).foldLeft(1L)((a, _) => a * fanout))

    private val corpusSchema = StructType(Seq(
      StructField("id", idType), StructField("v", ArrayType(DoubleType)),
      StructField("n", DoubleType), StructField("h60", LongType)))
    private val bucketSchema = StructType(Seq(
      StructField("id", idType), StructField("tbl", IntegerType),
      StructField("bucket", LongType)))
    private val edgeSchema = StructType(Seq(
      StructField("src", idType), StructField("dst", idType),
      StructField("b", LongType)))

    private def corpusPath = s"$path/corpus"
    private def bucketsPath(j: Int) = s"$path/buckets$j"
    private def edgesPath(j: Int) = s"$path/edges$j"

    /** The committed corpus `(id, v, n, h60)`. */
    def index: DataFrame = DurableLedger.load(spark, corpusPath, corpusSchema)

    /** Layer j's committed DIRECTED top-degree edges (newest-wins
      * fold over the batch tags, markers dropped).
      */
    def edges(j: Int): DataFrame = {
      val w = Window.partitionBy($"src")
      DurableLedger.load(spark, edgesPath(j), edgeSchema)
        .withColumn("mb", max($"b").over(w)).filter($"b" === $"mb")
        .filter($"dst".isNotNull).select($"src", $"dst")
    }

    private def prep(batch: DataFrame): DataFrame =
      batch.select(
          col(idCol).cast(idType).as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("n", Vectors.normCol(col("v")))
        .withColumn("h60", conv(substring(
          md5(concat(lit(s"hnsw$seed:"), col("id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))

    private def bucketsOf(mem: DataFrame, j: Int): DataFrame =
      (0 until tables).map { t =>
        mem.select($"id", lit(t).as("tbl"),
          Vectors.hyperplaneBucket($"v", planesPerLayer(j), dim,
            seed + j * tables + t).as("bucket"))
      }.reduce(_ union _)

    private def empty(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)

    /** Assign + commit one batch (replay-safe: every read excludes
      * this batch's own directories, and a commit to a directory that is
      * already published writes nothing — first-writer-wins).
      */
    def ingest(batch: DataFrame, batchId: Long): Unit = {
      val priorCorpus = DurableLedger
        .load(spark, corpusPath, corpusSchema, Some(batchId))
      val newC = prep(batch).dropDuplicates("id")
        .join(priorCorpus.select($"id"), Seq("id"), "left_anti")
        .localCheckpoint()
      DurableLedger.commit(newC, corpusPath, batchId)
      val corpusAfter = priorCorpus.union(newC)
      (0 until layers).foreach { j =>
        val newMem = newC.filter($"h60" % layerMods(j) === 0)
        if (newMem.isEmpty) {
          // deterministic replay: own directories always end up in the
          // state this batch's content dictates — here, empty
          DurableLedger.commit(empty(bucketSchema), bucketsPath(j), batchId)
          DurableLedger.commit(empty(edgeSchema), edgesPath(j), batchId)
        } else {
          val priorBk = DurableLedger
            .load(spark, bucketsPath(j), bucketSchema, Some(batchId))
          val (newBk, _, affNodes, recomputed) = layerDelta(
            corpusAfter.filter($"h60" % layerMods(j) === 0),
            priorBk, newMem, bucketsOf(_, j), degree)
          DurableLedger.commit(newBk, bucketsPath(j), batchId)
          // null-dst markers for affected nodes with no replacement
          // edges — without them their stale rows would survive the fold
          val markers = affNodes.select($"id".as("src"))
            .join(recomputed.select($"src").distinct(), Seq("src"), "left_anti")
            .withColumn("dst", lit(null).cast(idType))
          DurableLedger.commit(
            recomputed.unionByName(markers).withColumn("b", lit(batchId)),
            edgesPath(j), batchId)
        }
      }
      if (compactEvery > 0) {
        DurableLedger.maybeCompact(spark, corpusPath, corpusSchema, compactEvery)
        (0 until layers).foreach { j =>
          DurableLedger.maybeCompact(spark, bucketsPath(j), bucketSchema, compactEvery)
          DurableLedger.maybeCompact(spark, edgesPath(j), edgeSchema, compactEvery)
          ()
        }
      }
    }

    /** Fold every ledger's batch directories into compaction segments
      * (run from a maintenance turn — never concurrently with an
      * in-flight batch). Search results are unchanged: the edge fold
      * keys on the in-row batch tag, not the directory.
      */
    def compact(): Unit = {
      DurableLedger.compact(spark, corpusPath, corpusSchema)
      (0 until layers).foreach { j =>
        DurableLedger.compact(spark, bucketsPath(j), bucketSchema)
        DurableLedger.compact(spark, edgesPath(j), edgeSchema)
        ()
      }
    }

    def start(docs: DataFrame, checkpointLocation: Option[String] = None): StreamingQuery = {
      val w = docs.writeStream.outputMode("append")
      checkpointLocation.foreach(w.option("checkpointLocation", _))
      w.foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
        .start()
    }

    /** The batch beam descent over the committed graphs — same ranks,
      * same tiebreaks as [[Vectors.hnswTopK]] and the in-memory
      * session.
      */
    def search(queries: DataFrame, k: Int): DataFrame = {
      val corpus = index.localCheckpoint() // one read, many beam rounds
      val countsRow = corpus.select(layerMods.zipWithIndex.map { case (m, j) =>
        coalesce(sum(when($"h60" % lit(m) === 0, 1L)), lit(0L)).as(s"c$j")
      }: _*).collect()(0)
      val layerCount = (0 until layers).map(countsRow.getLong)
      require(layerCount.head > 0, "search before any ingest")
      val entryLayer = ((layers - 1) to 0 by -1)
        .find(j => layerCount(j) > 0).getOrElse(0)
      val q = queries
        .select(col(idCol).cast(idType).as("query_id"),
          col(vecCol).cast("array<double>").as("qv"))
        .withColumn("qn", Vectors.normCol($"qv"))
      def symmetrized(j: Int): DataFrame = {
        val t = edges(j)
        t.union(t.select($"dst".as("src"), $"src".as("dst"))).distinct()
      }
      Vectors.hnswBeamDescent(
        corpus.select($"id", $"v", $"n"), q,
        corpus.filter($"h60" % layerMods(entryLayer) === 0).select($"id"),
        ((entryLayer - 1) to 0 by -1).map(symmetrized),
        k, beam, hops)
    }
  }
}
