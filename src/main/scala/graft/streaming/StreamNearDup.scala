package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.graph.ConnectedComponents
import graft.textops.{NearDup, NearDupGate}
import graft.util.{DriverGate, Jobs}

/** Streaming twin of the MinHash+LSH near-dup pipeline (q17's
  * [[NearDup.minhashLshPairs]] composed with q35's
  * [[ConnectedComponents.dedupClusters]]) — ADMISSION dedup for a
  * document stream: each arriving document is kept iff it is not a
  * verified near-duplicate of anything already admitted.
  *
  * The global state is the admitted corpus's LSH index: the band-key
  * ledger (every admitted doc's (band, band_key) rows — the same keys
  * the batch operator self-joins) plus the hashed-shingle ledger
  * ((id, h) — what the exact-Jaccard verify joins). Both are built by
  * the batch operator's OWN code — its phases ([[NearDup.hashedShingleIds]],
  * [[NearDup.bandedKeys]], [[NearDup.verifyJaccard]]) on the
  * distributed path, its driver solver ([[graft.textops.NearDupGate]])
  * below the gate — so stream and batch can never drift.
  *
  * Per micro-batch ([[nearDupBatch]]):
  *
  *  1. redelivered ids (already admitted) drop immediately —
  *     `already_admitted`; a replayed batch drops everything and grows
  *     nothing (the [[StreamSpanDedup]] redelivery contract);
  *  2. fresh docs probe the band ledger; band collisions verify by
  *     exact Jaccard over hashed shingles; a doc at `jaccard >=
  *     threshold` against ANY admitted doc drops as `dup_ledger`
  *     (partner = its smallest verified admitted id) —
  *     first-arrival-wins across batches;
  *  3. the surviving batch docs dedup among THEMSELVES with exactly
  *     the batch composition: band self-join → verify → connected
  *     components → component-min keeps (`dup_batch`, partner = the
  *     component's canonical id);
  *  4. survivors' band keys and shingle hashes merge into the ledger
  *     (union-distinct: associative and replay-idempotent).
  *
  * A single micro-batch over an empty ledger IS
  * `dedupClusters(minhashLshPairs(batch))` (spec-pinned column for
  * column), and under ANY batching the kept set carries no verified
  * band-colliding pair: cross-batch collisions are complete because
  * the ledger holds EVERY band key of every admitted doc — the same
  * recall as the batch operator on the same corpus (LSH's inherent
  * `1-(1-s^r)^b` candidate recall, no additional stream loss).
  * Dropped docs do NOT enter the ledger, so a chain A~B, B~C (A≁C)
  * admits A and C exactly like sequential admission would.
  *
  * Docs with empty/null text carry no shingles, hence no bands: they
  * are always kept and add no ledger rows (the batch operator
  * likewise emits no pairs for them) — and a redelivered empty doc is
  * kept again rather than flagged, since admission is tracked by band
  * rows.
  *
  * Scale shape: the ledgers are hash-only corpus-scale tables (8-byte
  * ids + longs/strings, never text). While the ledger and the batch's
  * shingle rows together fit the driver gate
  * ([[graft.util.DriverGate.DefaultRowLimit]] rows), a batch is admitted
  * on the driver ([[graft.textops.NearDupGate.admit]], the batch
  * operator's driver solver) and the ledger is held as frames over
  * local rows, which the next batch reads without a job. A ledger that
  * outgrows the gate hands off to the distributed steps as ordinary
  * frames, and from then on is held as localCheckpointed frames
  * (session-scale); a production deployment keys both in a
  * Delta/parquet table and MERGEs only the batch's rows — the
  * [[graft.plans.Ledger]] seam, per-batch cost proportional to the
  * BATCH. The probe join shuffles only the batch's own bands (the
  * ledger side arrives hash-partitioned by band_key), and the verify
  * runs only on candidates, exactly like the batch plan.
  */
object StreamNearDup {

  /** The admitted corpus's LSH index: `bands` = (id, band, band_key),
    * `shingles` = (id, h). Long ids.
    */
  final case class Ledger(bands: DataFrame, shingles: DataFrame)

  def emptyLedger(spark: SparkSession): Ledger = {
    import spark.implicits._
    Ledger(
      Seq.empty[(Long, Int, String)].toDF("id", "band", "band_key"),
      Seq.empty[(Long, Long)].toDF("id", "h"))
  }

  /** Dedup one batch against the ledger. Returns the per-doc result
    * `(idCol, status, partner)` — status ∈ kept | dup_ledger |
    * dup_batch | already_admitted, partner = the admitted doc (or
    * batch canonical) this doc duplicates, null when kept — and the
    * updated ledger.
    *
    * A batch whose ids are non-NULL and integral, over a ledger held
    * as local rows, runs on the driver when the ledger's rows and the
    * batch's `(id, h)` shingle rows (bounded by the rows its cut's
    * repartition wrote, [[NearDup.hashedShingleIds]]) together fit the
    * gate: one job fills and collects the batch's shingle checkpoint,
    * and a bounded collect reads the batch ids (none for a batch of
    * local rows). The result and the next ledger are frames over local
    * rows. Otherwise the steps run distributed, reading the same
    * checkpoint: their intermediate frames are cut with
    * `localCheckpoint(eager = false)`, which is not lazy over an
    * exchange — under AQE the cut's shuffle stages run inside the call
    * (AQE finalizes the plan to build the RDD), and only its last stage
    * waits for the first action — and the two ledger cuts are eager
    * outright.
    */
  def nearDupBatch(batch: DataFrame, ledger: Ledger,
      idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): (DataFrame, Ledger) =
    nearDupBatchGated(batch, ledger, idCol, textCol, n, bands, rowsPerBand, threshold,
      DriverGate.DefaultRowLimit)

  /** [[nearDupBatch]] behind a driver gate of `limit` rows (ledger and
    * batch shingles together); `limit = 0` forces the distributed steps
    * (the specs run every case on both paths).
    */
  private[graft] def nearDupBatchGated(batch: DataFrame, ledger: Ledger,
      idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      limit: Long): (DataFrame, Ledger) = {
    val spark = batch.sparkSession
    val (shB, bound) = DriverGate.checkpointRowBound(
      NearDup.hashedShingleIds(batch, idCol, textCol, n))
    val ids = batch.select(col(idCol).cast("long"))
    val held = for {
      b <- DriverGate.localRows(ledger.bands)
      if ledger.bands.schema.map(_.dataType) == Seq(LongType, IntegerType, StringType)
      s <- DriverGate.localRows(ledger.shingles)
      if ledger.shingles.schema.map(_.dataType) == Seq(LongType, LongType)
      if !(b ++ s).exists(_.anyNull)
    } yield (b, s)
    val budget = held.fold(0L) { case (b, s) => limit - b.length - s.length }
    val idType = shB.schema("id").dataType
    val local =
      if (!DriverGate.LocalIdTypes.contains(idType) || idType == StringType) None
      else Jobs.labeled(spark.sparkContext, "near dup admission: gate") {
        for {
          rows <- DriverGate.checkpointRowsUpTo(shB, bound, budget)
          idRows <- DriverGate.internalRowsUpTo(ids, budget - rows.length)
          if !idRows.exists(_.isNullAt(0))
          sets <- NearDupGate.Sets.of(rows, r => r.get(0, idType).asInstanceOf[Number].longValue,
            DriverGate.idOrdering(LongType))
          (b, s) <- held
          a <- NearDupGate.admit(idRows.map(_.getLong(0)).distinct.toSeq, sets, b, s,
            bands, rowsPerBand, threshold, NearDupGate.PairWorkLimit)
        } yield a
      }
    local match {
      case Some(a) =>
        DriverGate.free(shB)
        val outSchema = StructType(Seq(ids.schema.head.copy(name = idCol),
          StructField("status", StringType, nullable = false),
          StructField("partner", LongType, nullable = true)))
        (spark.createDataFrame(a.out.asJava, outSchema),
          Ledger(spark.createDataFrame(a.bands.asJava, ledger.bands.schema),
            spark.createDataFrame(a.shingles.asJava, ledger.shingles.schema)))
      case None =>
        distributed(shB, ids, ledger, idCol, bands, rowsPerBand, threshold)
    }
  }

  /** [[nearDupBatch]]'s distributed steps over the batch's `(id, h)`
    * checkpoint `shB` and its `ids` frame (the id column cast to long).
    */
  private def distributed(shB: DataFrame, ids: DataFrame, ledger: Ledger,
      idCol: String, bands: Int, rowsPerBand: Int, threshold: Double): (DataFrame, Ledger) = {
    val spark = shB.sparkSession
    import spark.implicits._

    val bandedB = NearDup.bandedKeys(shB, bands, rowsPerBand)
    val batchIds = ids.toDF("id").distinct()
      .localCheckpoint(eager = false)
    val admittedIds = ledger.bands.select($"id").distinct()

    val alreadyIds = batchIds.join(admittedIds, "id")
    val freshIds = batchIds.join(admittedIds, Seq("id"), "left_anti")
      .localCheckpoint(eager = false)
    val bandedFresh = bandedB.join(freshIds, "id")
      .localCheckpoint(eager = false) // probed twice (ledger + self join)
    // (id, h) for verify must cover candidate ids EXACTLY ONCE per side:
    // fresh batch ids and admitted ids are disjoint by construction
    val shAll = shB.join(freshIds, "id").union(ledger.shingles)
      .localCheckpoint(eager = false)

    // 2. ledger probe: band collision → exact verify → smallest partner
    val candLedger = bandedFresh.as("x").join(ledger.bands.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"))
      .distinct()
    val dupLedger = NearDup.verifyJaccard(candLedger, shAll)
      .filter($"jaccard" >= threshold)
      .groupBy($"id_a").agg(min($"id_b").as("partner"))
      .select($"id_a".as("id"), $"partner")
      .localCheckpoint(eager = false)

    // 3. batch-internal dedup among survivors: the exact q17∘q35 shape
    val remIds = freshIds.join(dupLedger.select($"id"), Seq("id"), "left_anti")
      .localCheckpoint(eager = false)
    val bandedRem = bandedFresh.join(remIds, "id")
      .localCheckpoint(eager = false) // both sides of the self-join
    val candBatch = bandedRem.as("x").join(bandedRem.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key" &&
          $"x.id" < $"y.id")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"))
      .distinct()
    val verifiedBatch = NearDup.verifyJaccard(candBatch, shAll)
      .filter($"jaccard" >= threshold)
    val dupBatch = ConnectedComponents.dedupClusters(verifiedBatch, "id_a", "id_b")
      .filter($"keep" === 0)
      .select($"doc_id".cast("long").as("id"), $"cluster_id".cast("long").as("partner"))
      .localCheckpoint(eager = false)

    // 4. admit survivors; output every batch id with its fate
    val keptIds = remIds.join(dupBatch.select($"id"), Seq("id"), "left_anti")
      .localCheckpoint(eager = false)
    val out = batchIds
      .join(alreadyIds.withColumn("__already", lit(1)), Seq("id"), "left")
      .join(dupLedger.select($"id", $"partner".as("__pl")), Seq("id"), "left")
      .join(dupBatch.select($"id", $"partner".as("__pb")), Seq("id"), "left")
      .withColumn("status",
        when($"__already" === 1, "already_admitted")
          .when($"__pl".isNotNull, "dup_ledger")
          .when($"__pb".isNotNull, "dup_batch")
          .otherwise("kept"))
      .select($"id".as(idCol), $"status",
        coalesce($"__pl", $"__pb").as("partner"))
    val next = Ledger(
      ledger.bands.union(bandedFresh.join(keptIds, "id")
        .select($"id", $"band", $"band_key")).distinct().localCheckpoint(),
      ledger.shingles.union(shB.join(keptIds, "id")
        .select($"id", $"h")).distinct().localCheckpoint())
    (out, next)
  }

  /** A running near-dup admission session: foreachBatch threads the
    * ledger across micro-batches; `sink` receives each batch's per-doc
    * result (materialize inside the sink — the ledger advances after
    * the sink returns).
    */
  final class NearDupSession(spark: SparkSession,
      idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      initial: Option[Ledger] = None) {
    @volatile private var state: Ledger = initial.getOrElse(emptyLedger(spark))

    /** The current LSH-index ledger. */
    def ledger: Ledger = state

    /** One micro-batch through the session state (public so batch
      * bootstraps can seed a session from an existing corpus).
      */
    def ingest(batch: DataFrame): DataFrame = {
      val (out, next) = nearDupBatch(
        batch, state, idCol, textCol, n, bands, rowsPerBand, threshold)
      // a driver-path result is local rows already; pin only a plan
      val pinned = if (DriverGate.localRows(out).isDefined) out else out.localCheckpoint()
      state = next
      pinned
    }

    def start(docs: DataFrame)(sink: (DataFrame, Long) => Unit): StreamingQuery =
      docs.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          sink(ingest(batch), batchId)
        }
        .start()
  }
}
