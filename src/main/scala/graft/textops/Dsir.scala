package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style targeted data selection (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling" — the
  * standard pass that skews a raw web corpus toward a target domain):
  * documents are scored by the log-likelihood ratio of a TARGET
  * hashed-n-gram distribution over a RAW one, and selection keeps the
  * docs the target distribution prefers.
  *
  * This is the SPLIT-PHASE form of
  * [[CurationOps.importanceWeights]] (q71 — the one-shot
  * fit-and-score query over unigram+bigram features, joins per
  * feature): here FIT and SCORE are separate artifacts, which is what
  * a deployment actually wants — fit once (or maintain live via
  * [[graft.streaming.StreamDsir]]'s mergeable panel session), then
  * score any stream of arrivals as a pure map against the frozen
  * weight table, with no per-feature join anywhere near the corpus.
  * Features here are unigrams (the panel gate keeps one mirrorable
  * relation); the law is otherwise q71's.
  *
  * Decomposition (the suite's data-dependent-float discipline, the
  * kmeans-codebook precedent):
  *  - [[bucketPanel]] — the per-bucket occurrence counts BOTH
  *    distributions are estimated from: exact 64-bit integers, gated
  *    against the DuckDB oracle (q182);
  *  - [[logRatiosE6]] — the smoothed log-ratio fit over a collected
  *    panel: DRIVER-side (the panel is ≤ `buckets` rows — bounded
  *    control-plane state like an ANN codebook), spec-pinned rather
  *    than oracled because `ln` is libm-dependent and no SQL mirror
  *    can reproduce it bit-for-bit;
  *  - [[score]] — the corpus-scale pass: per-doc
  *    `Σ_words w[bucket(word)]` against a LITERAL weight table —
  *    pure per-row array math over a broadcast literal (no join, no
  *    shuffle), integer-exact, gated with a formula-generated fixture
  *    table (q183).
  *
  * Scale shape: the panel is one map-side-combinable groupBy onto
  * ≤ `buckets` keys; the fit is O(buckets) on the driver; scoring is
  * a map — the corpus shuffles for NOTHING in this family.
  */
object Dsir {

  /** Per-bucket word-occurrence counts: `(bucket, t_count, r_count)` —
    * `t_count` from rows where `isTarget`, `r_count` from ALL rows
    * (the raw distribution the target is contrasted against). Buckets
    * are `shingleHash60(word) mod buckets` — the engine-wide salted
    * 60-bit md5 fold, so the oracle mirrors the bucketing verbatim.
    * Only occupied buckets emit (downstream smoothing supplies the
    * zeros).
    */
  def bucketPanel(docs: DataFrame, textCol: String, isTarget: Column,
      buckets: Int, bigrams: Boolean = false): DataFrame = {
    require(buckets >= 2, s"buckets must be at least 2: $buckets")
    docs
      .select(explode(featuresCol(col(textCol), bigrams)).as("__w"), isTarget.as("__t"))
      .withColumn("bucket", pmod(NearDup.shingleHash60(col("__w")), lit(buckets.toLong)))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("t_count"),
        count(lit(1)).as("r_count"))
  }

  /** The feature array both [[bucketPanel]] and [[score]] hash: the
    * document's words, and with `bigrams` (q71's feature space) the
    * words ++ their space-joined bigrams (size-guarded — an empty doc
    * makes size-1 negative). The tokens are bound once
    * ([[TextTokens.withWords]]), not re-derived per bigram window.
    */
  private[graft] def featuresCol(text: Column, bigrams: Boolean): Column =
    if (!bigrams) TextTokens.wordsCol(text)
    else TextTokens.withWords(text) { ws =>
      concat(ws, when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i + lit(1), lit(2)))))
        .otherwise(array().cast("array<string>")))
    }

  /** Laplace-smoothed per-bucket log-importance weights, e6-scaled:
    * `w[b] = round(1e6 · (ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))))`
    * where `T`/`R` are total occurrences and `B` the bucket count —
    * positive where the target distribution over-represents the
    * bucket. One bounded collect of the panel (≤ B rows); empty
    * buckets get the pure-smoothing weight, so every word maps to a
    * defined value.
    */
  def logRatiosE6(panel: DataFrame, buckets: Int): Array[Long] = {
    val rows = panel.select(col("bucket").cast("int"),
      col("t_count").cast("long"), col("r_count").cast("long")).collect()
    val t = new Array[Long](buckets)
    val r = new Array[Long](buckets)
    rows.foreach { row =>
      val b = row.getInt(0)
      require(b >= 0 && b < buckets, s"bucket $b out of range [0, $buckets)")
      t(b) = row.getLong(1); r(b) = row.getLong(2)
    }
    val tTot = t.sum.toDouble + buckets
    val rTot = r.sum.toDouble + buckets
    Array.tabulate(buckets) { b =>
      val x = math.log((t(b) + 1).toDouble / tTot) -
        math.log((r(b) + 1).toDouble / rTot)
      math.floor(x * 1e6 + 0.5).toLong
    }
  }

  /** Per-doc DSIR score against a literal weight table:
    * `(id, n_words, dsir_score_e6, selected)` with
    * `selected = score > 0` (the target distribution likes the doc
    * more than the raw one). Docs with zero words score 0 and are
    * not selected. Pure per-row math — `w` rides into the plan as a
    * broadcast array literal.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      w: Array[Long], bigrams: Boolean = false): DataFrame = {
    require(w.nonEmpty, "weight table must be non-empty")
    val wArr = array(w.toIndexedSeq.map(lit): _*)
    // MUST hash the same feature space the panel counted — a
    // bigram-fitted table scored over unigrams silently misweights
    val feats = featuresCol(col(textCol), bigrams)
    docs.select(col(idCol),
      size(TextTokens.wordsCol(col(textCol))).cast("long").as("n_words"),
      aggregate(
        transform(feats, wd =>
          element_at(wArr,
            pmod(NearDup.shingleHash60(wd), lit(w.length.toLong)).cast("int") + 1)),
        lit(0L), (acc, x) => acc + x).as("dsir_score_e6"))
      .withColumn("selected", (col("dsir_score_e6") > 0L).cast("int"))
  }

  /** The composed pass: fit on `docs` with the given target predicate,
    * score everything. One panel aggregate + one bounded collect +
    * one map — what a pipeline actually calls.
    */
  def select(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int, bigrams: Boolean = false): DataFrame =
    score(docs, idCol, textCol,
      logRatiosE6(bucketPanel(docs, textCol, isTarget, buckets, bigrams),
        buckets),
      bigrams)
}
