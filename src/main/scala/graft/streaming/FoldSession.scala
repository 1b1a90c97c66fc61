package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.util.Jobs

/** The kernel every fold-shaped streaming session is built on. A
  * session is one or more [[FoldSession.Part]]s; each part derives a
  * DELTA from a micro-batch (the batch operator, or its
  * sufficient-statistics phase) and has a FOLD that merges stacked
  * delta rows back into state (sum, max, argmax, set union, bottom-k —
  * associative and commutative, so the state after any batching equals
  * the fold over everything ingested). The shape has two forms:
  *
  *  - [[FoldSession.InMemory]]: per part, `state = fold(state ∪
  *    delta(batch))`, pinned with `localCheckpoint` (the first batch's
  *    delta is the state as is). At-least-once: driver state carries
  *    no batch identity, so a redelivered batch folds twice.
  *  - [[FoldSession.Durable]]: per part, `delta(batch)` is committed
  *    to a [[DurableLedger]] under `<path>/b<batchId>/` (or
  *    `<path>/<dir>/b<batchId>/` for a named part), then
  *    [[DurableLedger.maybeCompact]] runs when `compactEvery > 0`. The
  *    read is `fold(ledger)`; compaction only concatenates rows, so it
  *    never changes a read.
  *
  * Replay contract of the durable form: [[DurableLedger.commit]] is
  * FIRST-WRITER-WINS. Replaying a batch id whose directory is already
  * published is a no-op (nothing is rewritten, nothing double counts),
  * so state is exactly-once whenever a batch id always carries the same
  * rows — which Structured Streaming's replay of the last uncommitted
  * batch guarantees. Ids are not checked ACROSS batches: a document
  * re-sent under a new batch id is folded again (the crawl contract
  * most sessions state — ids never repeat across batches).
  *
  * `start` is the one streaming entry: each micro-batch runs [[step]].
  */
abstract class FoldSession {

  /** Fold one micro-batch into the session's state. */
  protected def step(batch: DataFrame, batchId: Long): Unit

  /** One [[step]] per micro-batch of `df`. */
  protected final def run(df: DataFrame,
      checkpointLocation: Option[String]): StreamingQuery = {
    val w = df.writeStream.outputMode("append")
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) => step(batch, batchId) }
      .start()
  }

  /** Drive the session from a streaming frame, one [[step]] per
    * micro-batch. Takes no checkpoint: in-memory state dies with the
    * driver, and a resumed query would skip the batches it folded.
    * Only [[FoldSession.Durable]], whose ledger holds every folded
    * batch, offers a resumable `start`.
    */
  final def start(df: DataFrame): StreamingQuery = run(df, None)
}

object FoldSession {

  /** One folded state of a session, fed by every batch. `dir` names
    * the part's ledger under the session root ("" = the root itself);
    * `schema` is the ledger row schema and `statsCols` the columns
    * whose per-directory min/max the commit records — all three matter
    * to the durable form only.
    */
  final case class Part(delta: DataFrame => DataFrame,
      fold: DataFrame => DataFrame = identity,
      dir: String = "", schema: StructType = null,
      statsCols: Seq[String] = Nil)

  /** The additive fold: per `keys`, each of `values` summed under its
    * own name.
    */
  def sumBy(keys: String*)(values: String*): DataFrame => DataFrame =
    _.groupBy(keys.map(col): _*)
      .agg(sum(values.head).as(values.head), values.tail.map(v => sum(v).as(v)): _*)

  /** A session whose state lives in `localCheckpoint`ed frames;
    * `label` names its jobs (`<label>: fold`).
    */
  abstract class InMemory(label: String, parts: Part*) extends FoldSession {
    @volatile private var states = Vector.fill[DataFrame](parts.size)(null)

    protected def step(batch: DataFrame, batchId: Long): Unit =
      Jobs.labeled(batch.sparkSession.sparkContext, s"$label: fold") {
        states = parts.zip(states).map { case (p, s) =>
          val d = p.delta(batch)
          (if (s == null) d else p.fold(s.unionByName(d))).localCheckpoint()
        }.toVector
      }

    /** Part `i`'s state; `null` before its first batch or seed. */
    protected final def state(i: Int = 0): DataFrame = states(i)

    /** Part `i`'s state, failing with "`what` requested before any
      * ingest" while it is still `null`.
      */
    protected final def required(what: String, i: Int = 0): DataFrame = {
      require(states(i) != null, s"$what requested before any ingest")
      states(i)
    }

    /** Set part `i`'s state before its first batch: an initial
      * state, or an empty one so the fold also runs on the first batch.
      */
    protected final def seed(i: Int, rows: DataFrame): Unit =
      states = states.updated(i, rows)
  }

  /** A session whose state is a [[DurableLedger]] per part under
    * `path`; `label` names its jobs (`<label>: commit`,
    * `<label>: compact`). `compactEvery` is 0 (never compact) or the
    * live-directory count that triggers a fold — 1 would compact after
    * every commit, which [[DurableLedger.maybeCompact]] refuses, so it
    * is rejected here, before any batch is published.
    */
  abstract class Durable(spark: SparkSession, label: String, path: String,
      compactEvery: Int, parts: Part*) extends FoldSession {
    require(compactEvery == 0 || compactEvery >= 2,
      s"compactEvery must be 0 (off) or >= 2: $compactEvery")

    private def dirOf(p: Part) = if (p.dir.isEmpty) path else s"$path/${p.dir}"

    protected def step(batch: DataFrame, batchId: Long): Unit = {
      val sc = spark.sparkContext
      Jobs.labeled(sc, s"$label: commit") {
        parts.foreach(p =>
          DurableLedger.commit(p.delta(batch), dirOf(p), batchId, p.statsCols))
      }
      if (compactEvery > 0) Jobs.labeled(sc, s"$label: compact") {
        parts.foreach(p => DurableLedger.maybeCompact(spark, dirOf(p), p.schema, compactEvery))
      }
    }

    /** Part `i`'s committed rows, unfolded. */
    protected final def ledger(i: Int = 0): DataFrame =
      DurableLedger.load(spark, dirOf(parts(i)), parts(i).schema)

    /** Part `i`'s state: its fold over the ledger. */
    protected final def state(i: Int = 0): DataFrame = parts(i).fold(ledger(i))

    /** Drive the session from a streaming frame, one [[step]] per
      * micro-batch; `checkpointLocation` makes the query resumable (a
      * batch the ledger already holds is a no-op when it is replayed).
      */
    final def start(df: DataFrame, checkpointLocation: Option[String]): StreamingQuery =
      run(df, checkpointLocation)

    /** A fixed side kept beside the parts in `<path>/<dir>`: `rows`
      * are committed once, as batch 0, so a restart over a seeded root
      * ignores `rows` and reads the ledger.
      */
    protected final def seedFixed(dir: String, rows: => DataFrame): Unit =
      if (DurableLedger.batches(s"$path/$dir").isEmpty)
        Jobs.labeled(spark.sparkContext, s"$label: commit") {
          DurableLedger.commit(rows, s"$path/$dir", 0L)
        }
  }
}
