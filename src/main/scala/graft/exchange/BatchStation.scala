package graft.exchange

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Packer

/** S7 — the batch station's control plane: per-API-key quota/cooldown
  * accounting (reference `core/src/core/models/db/api_key_bundle.py:54-80`)
  * and the batch status machine (`core/src/core/models/db/gpt_batch.py:7-23`,
  * station loop `data_etl_app/src/data_etl_app/bots/batch_file_station.py:146-445`).
  *
  * Two small CONTROL tables ride next to the request ledger:
  *
  *  - '''keys''': `(label, batch_queue_limit, tokens_in_use, available_at)`
  *    — one row per API key. A key may ship only when its cooldown has
  *    lapsed AND it has no tokens in flight.
  *  - '''batches''': `(batch_id, api_key_label, status, total_tokens,
  *    processing_completed_at)` — one row per submitted batch; `status`
  *    is synced from the API, `processing_completed_at` records OUR side
  *    having ingested/failed the batch.
  *
  * Both tables are bounded by deployment size (keys: tens; batches: one
  * per active key per day), so [[step]] drives a driver-side loop over
  * the COLLECTED control rows — never over the ledger itself, which
  * stays a distributed MERGE per batch. All mutations are pure
  * DataFrame transforms (`MERGE`-shaped, restartable from tables alone
  * like the rest of the exchange).
  */
object BatchStation {

  // ---- API-key cooldown model (api_key_bundle.py) ------------------------

  /** New cooldowns are skipped when the pending one already extends more
    * than this far into the future (reference MAX_COOLDOWN_MINS guard in
    * `apply_cooldown`).
    */
  val MaxCooldownMins: Int = 30
  /** Cooldown after a completed/expired batch (`batch_file_station.py:305`). */
  val CooldownCompletedSecs: Int = 10 * 60
  /** Cooldown after a failed/cancelled batch (`batch_file_station.py:154`). */
  val CooldownFailedSecs: Int = 30 * 60

  /** `is_available_now` + the station's tokens-in-use gate
    * (`batch_file_station.py:386,433`): cooldown lapsed and nothing in
    * flight.
    */
  def availableKeys(keys: DataFrame, now: Timestamp): DataFrame =
    keys.filter(lit(now) > col("available_at") && col("tokens_in_use") === 0)

  /** `apply_cooldown`: push `available_at` to now+seconds, unless the
    * remaining cooldown already exceeds [[MaxCooldownMins]].
    */
  def applyCooldown(keys: DataFrame, label: String, now: Timestamp,
      seconds: Int): DataFrame = {
    val newAt = new Timestamp(now.getTime + seconds * 1000L)
    val remainingSecs = unix_timestamp(col("available_at")) - lit(now.getTime / 1000L)
    keys.withColumn("available_at",
      when(col("label") === label && remainingSecs <= MaxCooldownMins * 60,
        lit(newAt)).otherwise(col("available_at")))
  }

  def addTokensInUse(keys: DataFrame, label: String, tokens: Long): DataFrame =
    keys.withColumn("tokens_in_use",
      when(col("label") === label, col("tokens_in_use") + tokens)
        .otherwise(col("tokens_in_use")))

  /** `remove_tokens_in_use` clamps at zero. */
  def removeTokensInUse(keys: DataFrame, label: String, tokens: Long): DataFrame =
    keys.withColumn("tokens_in_use",
      when(col("label") === label,
        greatest(lit(0L), col("tokens_in_use") - tokens))
        .otherwise(col("tokens_in_use")))

  // ---- batch status machine (gpt_batch.py:7-23) --------------------------

  object Status {
    val Validating = "validating"
    val Failed = "failed"
    val InProgress = "in_progress"
    val Finalizing = "finalizing"
    val Completed = "completed"
    val Expired = "expired"
    val Cancelling = "cancelling"
    val Cancelled = "cancelled"
    val All: Seq[String] = Seq(Validating, Failed, InProgress, Finalizing,
      Completed, Expired, Cancelling, Cancelled)
    /** Station failure family → unpair + 30-min cooldown
      * (`batch_file_station.py:365-377`).
      */
    val FailedFamily: Set[String] = Set(Failed, Cancelling, Cancelled)
    /** Results downloadable (expired batches still publish the answered
      * subset — `gpt_batch.py` notes).
      */
    val ResultFamily: Set[String] = Set(Completed, Expired)
  }

  /** Record a freshly submitted batch as `validating` with its shipped
    * token total (`WHEN NOT MATCHED INSERT`).
    */
  def recordBatch(batches: DataFrame, batchId: String, apiKeyLabel: String,
      totalTokens: Long): DataFrame = {
    val spark = batches.sparkSession
    import spark.implicits._
    batches.unionByName(
      Seq((batchId, apiKeyLabel, Status.Validating, totalTokens,
        null.asInstanceOf[Timestamp]))
        .toDF("batch_id", "api_key_label", "status", "total_tokens",
          "processing_completed_at"))
  }

  /** Sync a status change reported by the API (`MERGE ... UPDATE`). */
  def updateStatus(batches: DataFrame, batchId: String, status: String): DataFrame =
    batches.withColumn("status",
      when(col("batch_id") === batchId, lit(status)).otherwise(col("status")))

  /** `mark_our_processing_complete`. */
  def markProcessed(batches: DataFrame, batchId: String, now: Timestamp): DataFrame =
    batches.withColumn("processing_completed_at",
      when(col("batch_id") === batchId, lit(now))
        .otherwise(col("processing_completed_at")))

  /** `unpair_all_batch_requests_from_batch` — a failed/cancelled batch
    * releases every request it held so the next ship re-sends them.
    */
  def unpairBatch(ledger: DataFrame, batchId: String): DataFrame =
    ledger.withColumn("batch_id",
      when(col("batch_id") === batchId, lit(null)).otherwise(col("batch_id")))

  // ---- the station pass --------------------------------------------------

  final case class State(ledger: DataFrame, batches: DataFrame, keys: DataFrame)

  /** One poll pass over the synced control table (reference
    * `poll_sync_and_upload_new_batches` + `process_batch`,
    * `batch_file_station.py:360-445`): every batch the API is done with
    * and our side hasn't processed is settled —
    *
    *  - failed/cancelling/cancelled → unpair its requests, free the
    *    key's tokens, 30-min cooldown, mark processed;
    *  - completed/expired → collect results (ingest + reset-missing via
    *    [[BatchExchange.collect]]), free tokens, 10-min cooldown, mark
    *    processed;
    *  - validating/in_progress/finalizing → left in flight (its tokens
    *    keep the key busy).
    */
  def step(st: State, api: BatchExchange.BatchApi, now: Timestamp): State = {
    val pending = st.batches
      .filter(col("processing_completed_at").isNull)
      .select("batch_id", "api_key_label", "status", "total_tokens")
      .collect() // control table: one row per active batch, bounded small
    pending.foldLeft(st) { (s, row) =>
      val (bid, label, status, tokens) =
        (row.getString(0), row.getString(1), row.getString(2), row.getLong(3))
      if (Status.FailedFamily(status))
        State(
          unpairBatch(s.ledger, bid),
          markProcessed(s.batches, bid, now),
          applyCooldown(removeTokensInUse(s.keys, label, tokens), label, now,
            CooldownFailedSecs))
      else if (Status.ResultFamily(status))
        // fetch ONCE; mark processed only when the results actually
        // arrived — a failed/None fetch leaves the batch pending so the
        // next pass retries instead of recording it processed with
        // nothing ingested
        api.results(bid) match {
          case None => s
          case Some(paths) =>
            State(
              BatchExchange.ingestResults(s.ledger, bid, paths),
              markProcessed(s.batches, bid, now),
              applyCooldown(removeTokensInUse(s.keys, label, tokens), label, now,
                CooldownCompletedSecs))
        }
      else s // validating / in_progress / finalizing — still in flight
    }
  }

  /** Ship pending ledger rows on the first available key — no-op
    * `(state, None)` when every key is cooling down or busy (the
    * reference skips the key and waits for the next poll). The key's
    * `batch_queue_limit` caps the batch's TOKEN total — the dimension
    * the reference enforces it in (`batch_file_station.py:450` passes it
    * to the packer as max_tokens_per_file with max_files=1); shipped
    * tokens go in flight on the key and the batch is recorded
    * `validating`.
    */
  def shipIfAvailable(st: State, api: BatchExchange.BatchApi, workDir: String,
      now: Timestamp,
      limits: Packer.PackLimits = Packer.StationLimits): (State, Option[String]) = {
    val candidates = availableKeys(st.keys, now)
      .select("label", "batch_queue_limit").orderBy("label")
      .collect() // control table: one row per API key, bounded small
    candidates.headOption match {
      case None => (st, None)
      case Some(keyRow) =>
        val (label, queueLimit) = (keyRow.getString(0), keyRow.getInt(1))
        val (stamped, shippedId) =
          BatchExchange.ship(st.ledger, api, workDir, limits,
            maxBatchTokens = queueLimit.toLong)
        shippedId match {
          case None => (st, None) // nothing pending
          case Some(bid) =>
            val tokens = stamped.filter(col("batch_id") === bid)
              .agg(coalesce(sum(col("input_tokens")), lit(0L))).collect()(0).getLong(0)
            (State(
              stamped,
              recordBatch(st.batches, bid, label, tokens),
              addTokensInUse(st.keys, label, tokens)),
              Some(bid))
        }
    }
  }
}
