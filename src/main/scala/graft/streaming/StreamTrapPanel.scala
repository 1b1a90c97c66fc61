package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.Frontier
import graft.sketch.Sketches

/** The crawl-trap panel ([[Frontier.trapPanel]], q161) as a MAINTAINED
  * session — and its 100 TB state story. The exact panel needs
  * `COUNT(DISTINCT path)` per (host, template); maintained naively
  * that state is every distinct URL ever seen, which at a trap host
  * is exactly the explosion the panel exists to flag. The sketched
  * form keeps SUMMARY state instead:
  *
  *  - URL mass per (host, template): one additive counter (exact —
  *    counts merge by sum across batches);
  *  - distinct-path cardinality per (host, template): an HLL register
  *    table (the [[Sketches.hllRegisterCols]] recipe, so it is the
  *    same hash every other register table in the engine uses) —
  *    registers merge by MAX, so the maintained state after any
  *    batching equals the single-pass build BIT-FOR-BIT and the
  *    streamed panel ≡ the batch [[trapPanelSketched]] by code-path
  *    equality. State is (host·template) × 2^p longs, never the URLs.
  *
  * The trap flag fires on the HLL ESTIMATE (raw Flajolet with the
  * standard linear-counting small-range correction — `ln` is
  * spec-territory, not gate-territory, which is why the sketched
  * panel is session/spec surface while the exact q161 gate stays the
  * oracle anchor). At trap scale the estimate's ±2%/√m error is
  * irrelevant: the flag separates cardinality 1 from cardinality
  * thousands.
  */
object StreamTrapPanel {

  /** The batch's (host, template, path) projection both deltas read. */
  private def base(batch: DataFrame, hostCol: String, pathCol: String): DataFrame =
    batch.select(col(hostCol).as("host"),
      Frontier.urlTemplate(col(pathCol)).as("template"),
      col(pathCol).as("__path"))

  /** Per-batch additive delta: exact (host, template) URL counts. */
  private def urlCounts(batch: DataFrame, hostCol: String, pathCol: String): DataFrame =
    base(batch, hostCol, pathCol).groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("n_urls"))

  /** Per-batch max-mergeable register table. */
  private def registers(batch: DataFrame, hostCol: String, pathCol: String,
      p: Int): DataFrame = {
    val (idx, rank) = Sketches.hllRegisterCols(col("__path"), p)
    base(batch, hostCol, pathCol).select(col("host"), col("template"),
        idx.as("idx"), rank.as("rank"))
      .groupBy(col("host"), col("template"), col("idx"))
      .agg(max(col("rank")).as("r"))
  }

  /** The panel from folded state: exact URL mass, HLL distinct-path
    * estimate (raw Flajolet + linear counting when registers are
    * empty), integer host share, trap flag. Shared by the batch and
    * streamed forms — equality is of code paths.
    */
  private[streaming] def derive(counts: DataFrame, regs: DataFrame,
      sharePct: Int, minPathsEst: Long, p: Int): DataFrame = {
    val m = 1L << p
    val k = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val est = regs
      .groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(cast(1 as bigint), cast($k - r as int))"))
          .as("z_present"))
      .withColumn("zeros", lit(m) - col("n_present"))
      .withColumn("z_int",
        coalesce(col("z_present"), lit(0L)) + col("zeros") * lit(1L << k))
      .withColumn("est_raw",
        lit(alpha) * lit(m.toDouble * m.toDouble) * lit(math.pow(2.0, k)) /
          col("z_int").cast("double"))
      // standard small-range correction: linear counting while any
      // register is empty and the raw estimate sits under 5m/2
      .withColumn("n_paths_est",
        when(col("zeros") > 0 && col("est_raw") < lit(2.5 * m),
          round(lit(m.toDouble) * log(lit(m).cast("double") / col("zeros"))))
          .otherwise(round(col("est_raw"))).cast("long"))
      .select(col("host"), col("template"), col("n_paths_est"))
    val w = Window.partitionBy(col("host"))
    counts.join(est, Seq("host", "template"))
      .withColumn("__total", sum(col("n_urls")).over(w))
      .withColumn("share_pct",
        expr("n_urls * CAST(100 AS BIGINT) div __total"))
      .drop("__total")
      .withColumn("trap",
        (col("share_pct") >= sharePct && col("n_paths_est") >= minPathsEst)
          .cast("int"))
  }

  /** One-pass batch form of the sketched panel — the 100 TB
    * replacement for [[Frontier.trapPanel]]'s exact
    * `COUNT(DISTINCT path)` when the distinct-URL state itself is the
    * problem. Same emission shape with `n_paths_est` in place of
    * `n_paths`.
    */
  def trapPanelSketched(urls: DataFrame, hostCol: String, pathCol: String,
      sharePct: Int, minPathsEst: Long, p: Int = 12): DataFrame = {
    derive(urlCounts(urls, hostCol, pathCol), registers(urls, hostCol, pathCol, p),
      sharePct, minPathsEst, p)
  }

  /** In-memory session: counts fold by SUM, registers by MAX — both
    * order-free, so streamed ≡ batch bit-for-bit under any batching.
    * One [[FoldSession]] part per state table.
    */
  final class TrapPanelSession(spark: SparkSession, hostCol: String,
      pathCol: String, sharePct: Int, minPathsEst: Long, p: Int = 12)
      extends FoldSession.InMemory("trap panel",
        FoldSession.Part(urlCounts(_, hostCol, pathCol),
          FoldSession.sumBy("host", "template")("n_urls")),
        FoldSession.Part(registers(_, hostCol, pathCol, p),
          _.groupBy(col("host"), col("template"), col("idx")).agg(max(col("r")).as("r")))) {

    def currentCounts: DataFrame = state(0)
    def currentRegisters: DataFrame = state(1)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)

    def currentPanel: DataFrame = derive(required("panel"), state(1), sharePct, minPathsEst, p)
  }
}
