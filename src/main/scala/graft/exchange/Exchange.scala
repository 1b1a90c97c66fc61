package graft.exchange

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The async LLM exchange boundary (SURVEY.md §3.3, §7.1): planning
  * emits request rows; an exchange eventually produces response rows
  * `(custom_id, response_json)`; reconcile joins them back by
  * `custom_id`. Implementations:
  *
  *  - [[MockExchange]] — canned/deterministic responses for tests and
  *    the end-to-end slice;
  *  - a JSONL batch exchange (files out via [[graft.plans.Packer]],
  *    results read back with `spark.read.json`) mirroring the
  *    reference's OpenAI Batch flow — the file round-trip itself is
  *    driver-side control, not a Spark operator (reference
  *    `batch_file_station.py:120-420`);
  *  - [[InlineExchange]] — per-request calls inside a `mapPartitions`
  *    stage with bounded parallelism, for the online path.
  *
  * Requests carry at minimum (custom_id, body_json).
  */
trait Exchange extends Serializable {
  def execute(requests: DataFrame): DataFrame
}

object Exchange {
  /** The OpenAI-batch result-line envelope around an assistant message
    * — single owner; `Ledger.responseContent` reads the matching path.
    */
  def wrapContent(customId: org.apache.spark.sql.Column,
      content: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_json(struct(
      customId.as("custom_id"),
      struct(
        lit(200).as("status_code"),
        struct(
          array(struct(struct(content.as("content")).as("message"))).as("choices")
        ).as("body")
      ).as("response")))
}

/** Deterministic mock: `respond(customId, bodyJson)` returns the
  * assistant message content, or null to simulate a request the batch
  * lost (exercises the `batch_id` reset path — FIXTURES.md §5 requires
  * fixtures for normal, unknown-id, and missing-id lines).
  *
  * The content is wrapped in the OpenAI-batch result line shape
  * (reference parse site `batch_file_station.py:183-237`).
  */
final class MockExchange(respond: (String, String) => String) extends Exchange {
  override def execute(requests: DataFrame): DataFrame = {
    val spark = requests.sparkSession
    import spark.implicits._
    val fn = respond
    val contentUdf = udf((id: String, body: String) => Option(fn(id, body)))
    requests
      .withColumn("__content", contentUdf(col("custom_id"), col("body_json")))
      .filter(col("__content").isNotNull)
      .select(col("custom_id"),
        Exchange.wrapContent(col("custom_id"), col("__content")).as("response_json"))
  }
}
