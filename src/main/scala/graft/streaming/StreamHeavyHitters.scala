package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of [[graft.textops.HeavyHitters]] — a continuously
  * maintained Misra-Gries summary of the ingested item stream, with an
  * explicit, machine-checkable error bound.
  *
  * Unlike the KMV sketch (whose streamed estimate equals the batch
  * operator EXACTLY), merged MG summaries carry accumulated
  * undercount: this is inherent to the summary (Agarwal et al. PODS
  * 2012 prove merges preserve the n/(capacity+1) bound; they do not
  * make it zero). So the session tracks the error it has actually
  * incurred — `errorBound` is the SUM of every decrement the prunes
  * applied — and exposes:
  *
  *  - `residuals`: per-item lower bounds (true count − errorBound ≤
  *    residual ≤ true count);
  *  - `candidates(supportPpm)`: every item whose true count COULD
  *    reach the support threshold, via the integer test
  *    (residual + errorBound)·10⁶ ≥ total·supportPpm — a provable
  *    SUPERSET of the true heavy hitters (if c ≥ ⌈total·φ⌉ then
  *    residual + errorBound ≥ c clears the same inequality). Feed
  *    these to the batch verify pass (`HeavyHitters` pass 2 — one
  *    semi-join) when exact counts are needed.
  *
  * Scale shape: each micro-batch sends ≤ capacity+1 summary rows to
  * the driver (its exact counts are batch-sized, computed
  * distributed, pruned before collect); session state is ≤ capacity
  * counters. The per-batch summary is a deterministic function of the
  * batch alone (exact counts pruned by the value of the
  * (capacity+1)-th largest — no iteration-order dependence), so
  * durable commits are replay-safe, and the durable fold (sum
  * residuals at read) is associative — [[DurableLedger.compact]] can
  * fold batch directories freely.
  */
object StreamHeavyHitters {

  /** One batch's deterministic MG summary: exact item counts, pruned —
    * if more than `capacity` distinct items, every count is reduced by
    * the (capacity+1)-th largest count value and non-positive rows
    * drop (≤ capacity survive: at most capacity counts can exceed the
    * (capacity+1)-th largest). Returns (residuals, batchTotal,
    * pruneError).
    */
  def batchSummary(batch: DataFrame, itemCol: String, capacity: Int)
      : (Map[String, Long], Long, Long) = {
    val spark = batch.sparkSession
    import spark.implicits._
    val counts = batch.select(col(itemCol).cast("string").as("item"))
      .groupBy($"item").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val total = counts.agg(coalesce(sum($"c"), lit(0L))).as[Long].head()
    val top = counts.orderBy($"c".desc, $"item".asc).limit(capacity + 1)
      .as[(String, Long)].collect()
    if (top.length <= capacity) (top.toMap, total, 0L)
    else {
      val t = top.last._2
      val kept = counts.filter($"c" > t)
        .select($"item", ($"c" - t).as("r"))
        .as[(String, Long)].collect().toMap
      (kept, total, t)
    }
  }

  /** Sum-merge two residual maps, then prune to `capacity` by the same
    * decrement rule. Returns (merged, additional prune error).
    */
  def mergeResiduals(a: Map[String, Long], b: Map[String, Long],
      capacity: Int): (Map[String, Long], Long) = {
    val summed = (a.keySet ++ b.keySet).iterator
      .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    if (summed.size <= capacity) (summed, 0L)
    else {
      val t = summed.values.toArray.sorted(Ordering[Long].reverse)(capacity)
      (summed.collect { case (k, c) if c > t => k -> (c - t) }, t)
    }
  }

  /** The superset test (residual + errorBound ≥ support threshold) in
    * BigInt — count·10⁶ overflows Long once the stream passes ~9·10¹²
    * items, well inside 100 TB territory.
    */
  private def candidateFilter(state: Map[String, Long], total: Long,
      err: Long, supportPpm: Long): Map[String, Long] = {
    val threshold = BigInt(total) * supportPpm
    state.filter { case (_, r) => BigInt(r + err) * 1000000L >= threshold }
  }

  /** In-memory session: ≤ capacity counters + two longs of state. */
  final class HhSession(itemCol: String, capacity: Int) {
    require(capacity >= 1, s"capacity must be positive, got $capacity")
    @volatile private var state: Map[String, Long] = Map.empty
    @volatile private var total: Long = 0L
    @volatile private var err: Long = 0L

    /** Per-item count lower bounds (underestimate ≤ [[errorBound]]). */
    def residuals: Map[String, Long] = state
    def itemTotal: Long = total
    /** Total undercount any single item can have accumulated. */
    def errorBound: Long = err

    def ingest(batch: DataFrame): Unit = {
      val (bs, btotal, berr) = batchSummary(batch, itemCol, capacity)
      val (merged, merr) = mergeResiduals(state, bs, capacity)
      state = merged
      total += btotal
      err += berr + merr
    }

    /** Provable SUPERSET of the items at support ≥ supportPpm/10⁶ of
      * the ingested total — the watch-list for an exact verify pass.
      */
    def candidates(supportPpm: Long): Map[String, Long] =
      StreamHeavyHitters.candidateFilter(state, total, err, supportPpm)

    def start(items: DataFrame): StreamingQuery =
      items.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) => ingest(batch) }
        .start()
  }

  /** Per-GROUP deterministic batch summaries — one MG summary per
    * group from one distributed pass (counts → per-group top-(cap+1)
    * via a rank the planner runs as WindowGroupLimit → driver prune).
    * Items outside a group's top capacity+1 rows cannot exceed that
    * group's prune value, so the collected rows suffice exactly like
    * the flat [[batchSummary]]. Groups are control-plane-bounded
    * strata (the [[graft.textops.HeavyHitters.heavyHittersByGroup]]
    * assumption).
    *
    * Returns group → (residuals, batchTotal, pruneError).
    */
  def batchSummaryByGroup(batch: DataFrame, groupCol: String, itemCol: String,
      capacity: Int): Map[String, (Map[String, Long], Long, Long)] = {
    val spark = batch.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = batch.select(col(groupCol).cast("string").as("grp"),
        col(itemCol).cast("string").as("item"))
      .groupBy($"grp", $"item").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val totals = counts.groupBy($"grp").agg(sum($"c").as("t"))
      .as[(String, Long)].collect().toMap
    val top = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy($"grp").orderBy($"c".desc, $"item".asc)))
      .filter($"rk" <= capacity + 1)
      .select($"grp", $"item", $"c", $"rk")
      .as[(String, String, Long, Int)].collect()
    top.groupBy(_._1).map { case (g, rows) =>
      val sorted = rows.sortBy(_._4)
      if (sorted.length <= capacity)
        g -> (sorted.map(r => r._2 -> r._3).toMap, totals(g), 0L)
      else {
        val t = sorted.last._3
        g -> (sorted.collect { case (_, item, c, _) if c > t => item -> (c - t) }
          .toMap, totals(g), t)
      }
    }
  }

  /** Per-group [[HhSession]]: one MG state per group, merged and
    * error-tracked independently — the live per-domain boilerplate /
    * per-language stop-list watch-lists. State is
    * ≤ capacity × |groups| counters.
    */
  final class GroupedHhSession(groupCol: String, itemCol: String, capacity: Int) {
    require(capacity >= 1, s"capacity must be positive, got $capacity")
    @volatile private var state: Map[String, Map[String, Long]] = Map.empty
    @volatile private var totals: Map[String, Long] = Map.empty
    @volatile private var errs: Map[String, Long] = Map.empty

    def residuals: Map[String, Map[String, Long]] = state
    def groupTotals: Map[String, Long] = totals
    def errorBounds: Map[String, Long] = errs

    def ingest(batch: DataFrame): Unit = {
      val byGroup = batchSummaryByGroup(batch, groupCol, itemCol, capacity)
      byGroup.foreach { case (g, (bs, btotal, berr)) =>
        val (merged, merr) = mergeResiduals(state.getOrElse(g, Map.empty), bs, capacity)
        state += (g -> merged)
        totals += (g -> (totals.getOrElse(g, 0L) + btotal))
        errs += (g -> (errs.getOrElse(g, 0L) + berr + merr))
      }
    }

    /** Per-group provable SUPERSET of the items at group support
      * ≥ supportPpm/10⁶ — the watch-lists an exact per-group verify
      * pass ([[graft.textops.HeavyHitters.heavyHittersByGroup]]) makes
      * exact.
      */
    def candidates(supportPpm: Long): Map[String, Map[String, Long]] =
      state.map { case (g, s) =>
        g -> StreamHeavyHitters.candidateFilter(
          s, totals.getOrElse(g, 0L), errs.getOrElse(g, 0L), supportPpm)
      }

    def start(items: DataFrame): StreamingQuery =
      items.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) => ingest(batch) }
        .start()
  }

  private val LedgerSchema = StructType(Seq(
    StructField("item", StringType), // null ⇒ batch-control row
    StructField("n", LongType),      // residual, or batch total on control row
    StructField("err", LongType)))   // 0, or the batch's prune error on control row

  /** [[HhSession]] with per-batch summaries in a [[DurableLedger]]
    * parquet table. Each batch commits its OWN deterministic summary
    * (a replayed published batch writes nothing: the commit is
    * first-writer-wins); reads sum residuals across every
    * committed directory — an associative fold, so compaction never
    * changes the answer — then apply ONE capacity prune. Because the
    * durable read prunes once instead of once per merge, its residuals
    * are ≥ the in-memory session's (never less accurate).
    */
  final class DurableHhSession(spark: SparkSession, path: String,
      itemCol: String, capacity: Int, compactEvery: Int = 0) {
    require(capacity >= 1, s"capacity must be positive, got $capacity")

    def ingest(batch: DataFrame, batchId: Long): Unit = {
      import spark.implicits._
      val (bs, btotal, berr) = batchSummary(batch, itemCol, capacity)
      val rows = bs.iterator.map { case (k, r) => (Option(k), r, 0L) }.toSeq :+
        ((Option.empty[String], btotal, berr))
      DurableLedger.commit(rows.toDF("item", "n", "err"), path, batchId)
      if (compactEvery > 0)
        DurableLedger.maybeCompact(spark, path, LedgerSchema, compactEvery)
      ()
    }

    /** (residuals, total, errorBound) folded from the ledger. */
    def current: (Map[String, Long], Long, Long) = {
      import spark.implicits._
      val all = DurableLedger.load(spark, path, LedgerSchema)
        .localCheckpoint(eager = true)
      val ctl = all.filter(col("item").isNull)
        .agg(coalesce(sum("n"), lit(0L)), coalesce(sum("err"), lit(0L)))
        .as[(Long, Long)].head()
      val summed = all.filter(col("item").isNotNull)
        .groupBy(col("item")).agg(sum(col("n")).as("n"))
        .as[(String, Long)].collect().toMap
      val (pruned, perr) =
        if (summed.size <= capacity) (summed, 0L)
        else mergeResiduals(summed, Map.empty, capacity)
      (pruned, ctl._1, ctl._2 + perr)
    }

    def candidates(supportPpm: Long): Map[String, Long] = {
      val (state, total, err) = current
      StreamHeavyHitters.candidateFilter(state, total, err, supportPpm)
    }

    def start(items: DataFrame, checkpointLocation: Option[String] = None): StreamingQuery = {
      val w = items.writeStream.outputMode("append")
      checkpointLocation.foreach(w.option("checkpointLocation", _))
      w.foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
        .start()
    }
  }

  private val GroupedLedgerSchema = StructType(Seq(
    StructField("grp", StringType),
    StructField("item", StringType), // null ⇒ group's batch-control row
    StructField("n", LongType),
    StructField("err", LongType)))

  /** [[GroupedHhSession]] with per-batch per-group summaries in a
    * [[DurableLedger]] — the [[DurableHhSession]] contract with a
    * group column: a replayed published batch writes nothing, the
    * read-side fold sums residuals per (group, item) and prunes ONCE per
    * group (so durable residuals are never less accurate than in-memory
    * ones), and compaction never changes an answer.
    */
  final class DurableGroupedHhSession(spark: SparkSession, path: String,
      groupCol: String, itemCol: String, capacity: Int, compactEvery: Int = 0) {
    require(capacity >= 1, s"capacity must be positive, got $capacity")

    def ingest(batch: DataFrame, batchId: Long): Unit = {
      import spark.implicits._
      val byGroup = batchSummaryByGroup(batch, groupCol, itemCol, capacity)
      val rows = byGroup.iterator.flatMap { case (g, (bs, btotal, berr)) =>
        bs.iterator.map { case (k, r) => (g, Option(k), r, 0L) } ++
          Iterator((g, Option.empty[String], btotal, berr))
      }.toSeq
      DurableLedger.commit(rows.toDF("grp", "item", "n", "err"), path, batchId)
      if (compactEvery > 0)
        DurableLedger.maybeCompact(spark, path, GroupedLedgerSchema, compactEvery)
      ()
    }

    /** group → (residuals, total, errorBound) folded from the ledger. */
    def current: Map[String, (Map[String, Long], Long, Long)] = {
      import spark.implicits._
      val all = DurableLedger.load(spark, path, GroupedLedgerSchema)
        .localCheckpoint(eager = true)
      val ctl = all.filter(col("item").isNull)
        .groupBy(col("grp"))
        .agg(coalesce(sum("n"), lit(0L)).as("t"), coalesce(sum("err"), lit(0L)).as("e"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val summed = all.filter(col("item").isNotNull)
        .groupBy(col("grp"), col("item")).agg(sum(col("n")).as("n"))
        .as[(String, String, Long)].collect()
        .groupBy(_._1)
      ctl.map { case (g, (total, err)) =>
        val s = summed.getOrElse(g, Array.empty).map(r => r._2 -> r._3).toMap
        val (pruned, perr) =
          if (s.size <= capacity) (s, 0L)
          else mergeResiduals(s, Map.empty, capacity)
        g -> ((pruned, total, err + perr))
      }
    }

    def candidates(supportPpm: Long): Map[String, Map[String, Long]] =
      current.map { case (g, (s, total, err)) =>
        g -> StreamHeavyHitters.candidateFilter(s, total, err, supportPpm)
      }

    def start(items: DataFrame, checkpointLocation: Option[String] = None): StreamingQuery = {
      val w = items.writeStream.outputMode("append")
      checkpointLocation.foreach(w.option("checkpointLocation", _))
      w.foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
        .start()
    }
  }
}
