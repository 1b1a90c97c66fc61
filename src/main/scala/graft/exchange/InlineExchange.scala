package graft.exchange

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The online-path exchange — per-request synchronous calls (reference
  * `new_extract_queue_bot.py` + `ask_llm_util.py`), expressed as a
  * `mapPartitions` stage with the three properties external services
  * demand inside a distributed engine (SURVEY.md §7.5 risk 6):
  *
  *  - '''bounded parallelism''': `coalesce(maxParallelism)` caps
  *    concurrent transports cluster-wide (the reference caps at 25
  *    concurrent companies);
  *  - '''retries''': per-request retry with exponential backoff inside
  *    the task (a task failure would otherwise re-call every request in
  *    the partition);
  *  - '''replay safety''': an optional recorded-response cache table is
  *    anti-joined first, so Spark task retries and job re-runs only
  *    call the transport for genuinely unanswered requests.
  */
object InlineExchange {

  /** One blocking call: request body json → assistant content. Throw to
    * trigger retry. Implementations: HTTP client built once per
    * partition (hence the factory).
    */
  trait Transport extends Serializable {
    def call(customId: String, bodyJson: String): String
  }

  final case class RetryPolicy(maxAttempts: Int = 3, backoffMs: Long = 100)

  def apply(transport: Transport,
      maxParallelism: Int = 8,
      retry: RetryPolicy = RetryPolicy(),
      cache: Option[DataFrame] = None): InlineExchange =
    new InlineExchange(transport, maxParallelism, retry, cache)
}

/** See the companion. `execute` is lazy: every action on its result
  * calls the transport for each request the replay cache does not
  * answer, so a caller materializes it exactly once (the orchestrator
  * does, through its [[graft.util.CacheScope]]) before reading it from
  * more than one place.
  */
final class InlineExchange(transport: InlineExchange.Transport, maxParallelism: Int,
    retry: InlineExchange.RetryPolicy, cache: Option[DataFrame]) extends Exchange {

  override def execute(requests: DataFrame): DataFrame =
    respond(requests, identity)._1

  /** (responses, errors): errors carry (custom_id, error) for
    * requests that exhausted retries — callers must be able to tell
    * "lost, re-ship" apart from "permanently failing" or they will
    * retry poison requests forever. The transport results are
    * materialized once, into `caches`, and both frames read those
    * blocks; the caller releases `caches` after its last action on
    * either frame.
    */
  def executeWithErrors(requests: DataFrame, caches: graft.util.CacheScope): (DataFrame, DataFrame) =
    respond(requests, caches.materialize(_))

  /** `hold` turns the per-request call results into the frame both
    * branches read. */
  private def respond(requests: DataFrame, hold: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val spark = requests.sparkSession
    import spark.implicits._
    // dedup the replay cache by custom_id (a cache table holding
    // duplicate rows for a key must not multiply response rows through
    // the replay join) — same min() rule as Ledger.ingestResponses
    val cached = cache.map(_.select("custom_id", "response_json")
      .groupBy($"custom_id")
      .agg(min($"response_json").as("response_json")))
    val toCall = cached match {
      case Some(c) => requests.join(c.select("custom_id"), Seq("custom_id"), "left_anti")
      case None => requests
    }
    val t = transport
    val r = retry
    val fresh = toCall.select($"custom_id", $"body_json")
      .coalesce(maxParallelism)
      .as[(String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, body) =>
          var attempt = 0
          var result: Option[String] = None
          var lastErr: Throwable = null
          while (result.isEmpty && attempt < r.maxAttempts) {
            try {
              val content = t.call(id, body)
              if (content == null)
                throw new NullPointerException("transport returned null")
              result = Some(content)
            } catch {
              case e: Exception =>
                lastErr = e
                attempt += 1
                if (attempt < r.maxAttempts)
                  Thread.sleep(r.backoffMs * (1L << (attempt - 1)))
            }
          }
          result match {
            case Some(content) => (id, content, null: String)
            case None => (id, null: String, lastErr.getMessage)
          }
        }
      }
      .toDF("custom_id", "__content", "__error")
    val calls = hold(fresh)
    val ok = calls.filter($"__content".isNotNull)
      .select($"custom_id",
        Exchange.wrapContent($"custom_id", $"__content").as("response_json"))
    val errors = calls.filter($"__content".isNull)
      .select($"custom_id", $"__error".as("error"))
    val responses = cached match {
      case Some(c) =>
        // answered-from-cache rows join the fresh ones
        val replay = requests.select("custom_id")
          .join(c, Seq("custom_id"), "inner")
        ok.unionByName(replay)
      case None => ok
    }
    (responses, errors)
  }
}
