package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join via symmetric deletion variants
  * (FastSS, Bocek et al. 2007; the SymSpell index): every string
  * generates each variant obtainable by deleting up to `maxDist`
  * characters, two strings within levenshtein `maxDist` of each other
  * are guaranteed to share at least one variant, and the exact distance
  * check prunes the (small) overshoot.
  *
  * This joins the engine's family of bucketed similarity joins (MinHash
  * bands for Jaccard, pigeonhole blocks for Hamming, hyperplane buckets
  * for cosine — see [[NearDup]]): candidates come from an EQUI join on
  * a derived key, never from a cross join, and the exact verify runs
  * only on candidates. Index size is O(N·L) rows for `maxDist` = 1
  * (each string of length L emits L+1 variants), O(N·L²) for 2 —
  * the known FastSS trade, fine for the short keys (names, codes,
  * phones) edit-distance joins are used on. A popular variant key is a
  * genuine near-dup cluster, so join skew tracks true similarity — AQE
  * splits it rather than a plan change.
  */
object EditDistance {

  /** All strings reachable by deleting at most one character: the string
    * itself plus each single-char deletion, deduplicated (repeated chars
    * produce identical deletions). Native codegen'd expression — the
    * HOF form below is its spec'd-equal reference.
    */
  private[graft] def deletionVariants1(s: Column): Column =
    graft.functions.DeletionVariants.variants(s)

  /** The composed-`functions` reference form (CodegenFallback HOFs):
    * kept only as the parity baseline for the native expression.
    */
  private[graft] def deletionVariants1Hof(s: Column): Column =
    array_union(
      array(s),
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))

  /** All unordered pairs `(id_a < id_b)` with `levenshtein <= maxDist`,
    * as `(id_a, id_b, dist)`. Only `maxDist = 1` is implemented (the
    * deletion-neighborhood of order 1); deeper radii would generate the
    * k-deletion neighborhood the same way.
    *
    * Shape: explode variants → self equi-join on the 64-bit HASH of the
    * variant (the shuffle and the join compare 8-byte longs, never the
    * variant strings; a hash collision only widens the candidate set
    * the verify prunes anyway; each side aliases the key, `__vha` /
    * `__vhb`, so the condition names two distinct columns) → one
    * bounded `levenshtein(a, b, maxDist)` per candidate, in the
    * projection → `distinct` collapses pairs that met through several
    * shared variants (at most L+1). The bounded form sits after the
    * join, not in its condition: there it was evaluated on top of the
    * pushed-down predicate and measured slower (SCALING.md). No cross
    * join anywhere; the length filter inside the join condition
    * discards the len-diff > maxDist corner early.
    */
  def similarPairs(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist == 1, s"only maxDist=1 is implemented, got $maxDist")
    // the source is often a single file split (one task); candidate
    // generation + verify is the CPU-heavy part, so spread it — one
    // narrow round-robin exchange of the raw rows buys a fully parallel
    // explode/join/levenshtein chain
    val vars = df
      .select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__v", explode(deletionVariants1(col("__s"))))
      .select(col("__id"), col("__s"), xxhash64(col("__v")).as("__vh"))
    val a = vars.select(col("__id").as("id_a"), col("__s").as("__sa"), col("__vh").as("__vha"))
    val b = vars.select(col("__id").as("id_b"), col("__s").as("__sb"), col("__vh").as("__vhb"))
    a.join(b,
        col("__vha") === col("__vhb") && col("id_a") < col("id_b") &&
          abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      // bounded form: levenshtein(a, b, k) early-exits past k (banded
      // O(n·k) DP instead of the full O(n²) matrix — the verify is the
      // per-candidate cost) and returns -1 for pruned pairs; kept rows
      // and their dist values are identical to the unbounded form
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb"), maxDist).as("dist"))
      .filter(col("dist").between(0, maxDist))
      .distinct()
  }

  /** Jaro-Winkler fuzzy-match pairs over the DISTINCT-value dictionary
    * of `strCol` — the record-linkage join for name-shaped keys, where
    * transposition tolerance and prefix weighting beat a levenshtein
    * radius ([[graft.functions.JaroWinklerSimilarity]]).
    *
    * The classic entity-resolution scale move: a name column over a
    * 100 TB corpus has a DICTIONARY-bounded distinct set (names repeat
    * wildly), so the pair join runs over `groupBy(name).count()` —
    * map-side combined, never the row table — and each dictionary entry
    * carries its row `support` so matches can be weighted or joined
    * back. Candidates come from an equi-join on a `blockPrefix`-char
    * block key with a `lenBand` length residual (prefix blocking is
    * sound for Winkler specifically: the boost REWARDS shared prefixes,
    * and high-JW pairs with differing first chars are rare in linkage
    * practice — documented recall trade, same as phonetic blocking);
    * the O(|a|·window) JW verify runs only on candidates. A hot prefix
    * block is genuine near-dup density — AQE splits it rather than a
    * plan change.
    *
    * Output: `(name_a, name_b, jw, support_a, support_b)` with
    * `name_a < name_b`, `jw >= threshold`, raw doubles (the expression
    * is float-for-float DuckDB-parity — no quantization channel).
    */
  def jaroWinklerDictPairs(
      df: DataFrame, strCol: String, threshold: Double,
      lenBand: Int = 4, blockPrefix: Int = 2): DataFrame = {
    val dict = df
      .filter(col(strCol).isNotNull && length(col(strCol)) > 0)
      .groupBy(col(strCol).as("__n"))
      .agg(count(lit(1)).as("__support"))
      .withColumn("__blk", substring(col("__n"), 1, blockPrefix))
    // each side aliases the block key (`__blka` / `__blkb`), so the
    // condition names two distinct columns, not one attribute twice
    val a = dict.select(col("__n").as("name_a"),
      col("__support").as("support_a"), col("__blk").as("__blka"))
    val b = dict.select(col("__n").as("name_b"),
      col("__support").as("support_b"), col("__blk").as("__blkb"))
    a.join(b,
        col("__blka") === col("__blkb") && col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= lenBand)
      .withColumn("jw",
        graft.functions.JaroWinklerSimilarity.jwCol(col("name_a"), col("name_b")))
      .filter(col("jw") >= threshold)
      .select(col("name_a"), col("name_b"), col("jw"),
        col("support_a"), col("support_b"))
  }
}
