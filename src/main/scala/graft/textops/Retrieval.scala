package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse-retrieval scoring over a document corpus — the query side of
  * the inverted-index surface (q62 builds the index layout; this ranks
  * against it). BM25 is the standard lexical relevance function for
  * corpus search and RAG-style retrieval at pretraining scale.
  */
object Retrieval {

  /** Okapi BM25 top-k: score every document against a bag of query
    * terms and return the k best.
    *
    * Scale shape: the corpus token stream is FILTERED to the query
    * terms before any shuffle (an `isin` over a literal set — pushed
    * into the scan projection), so the per-(doc, term) aggregate only
    * ever sees matching tokens. Document frequencies and the corpus
    * stats (N, avgdl) are tiny frames broadcast into the scoring join;
    * the final top-k is an `orderBy(...).limit(k)` the planner executes
    * as `TakeOrderedAndProject` (per-partition heaps, no global sort).
    *
    * Determinism: k1 = 1.2 and b = 0.75 are fixed literals written
    * IDENTICALLY in the DuckDB oracle (same parse, same doubles — a
    * `k1 + 1` computed at runtime need not equal a parsed `2.2`), every
    * input to the float math is an exact integer (tf, df, dl, N, total
    * tokens), and the per-doc score is rounded at 6 before ranking with
    * a doc-id tiebreak, so both engines rank the same values. The `ln`
    * term is the one libm call (the q66 precedent): per-term ulp
    * differences sit ~1e-10 below the rounding grain.
    */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame =
    bm25FromDigest(queryTermDigest(df, idCol, textCol, queryTerms),
      idCol, queryTerms, k)

  /** One-pass per-doc query-term digest `(id, dl, __qhits)`: the doc's
    * token count and its tokens RESTRICTED to the query set, from a
    * single tokenization of each document. The corpus stats pass and
    * the hit-explode pass of [[bm25TopK]] both derive from this frame
    * (lazily checkpointed — materialized by whichever consumer runs
    * first), so one invocation tokenizes the corpus ONCE instead of
    * twice; gates that additionally build coverage/relevance tables
    * from the same query-term hits (q75/q76) reuse it for those too.
    * The materialized rows are narrow — id, one long, and the (rare)
    * matching tokens — never the full token stream. NULL texts keep
    * the historical semantics exactly (spec-pinned): the doc counts
    * toward `n_docs`, its NULL `size()` (ANSI) drops out of the
    * token-total sum, and a null hits array explodes to zero rows —
    * identical to the old two-pass form, which used the same
    * `size`/`explode` expressions.
    */
  def queryTermDigest(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], eager: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val ws = TextTokens.wordsCol(col(textCol))
    val qset = array(queryTerms.map(lit): _*)
    df.select(col(idCol), size(ws).cast("long").as("dl"),
        filter(ws, t => array_contains(qset, t)).as("__qhits"))
      .localCheckpoint(eager = eager)
  }

  /** [[bm25TopK]] over a prebuilt [[queryTermDigest]] — identical
    * integer inputs (tf, df, dl, N, total tokens) feed the identical
    * contribution expression, so scores and ranks are unchanged.
    */
  def bm25FromDigest(digest: DataFrame, idCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    // corpus-wide stats come from the UNFILTERED digest: one row per
    // document, two scalar aggregates, broadcast as a single row
    val stats = digest.select(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("total_tokens"))
    val hits = digest.select(col(idCol), col("dl"),
      explode(col("__qhits")).as("term"))
    val tf = hits.groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    // (doc, term) is unique in tf, so df is a plain count per term
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      // textually mirrored in the oracle, literal for literal
      .withColumn("__contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl")
              / (col("total_tokens").cast("double") / col("n_docs")))))
      .groupBy(col(idCol))
      .agg(round(sum(col("__contrib")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      // the rank runs over the ALREADY-BOUNDED top-k frame (≤ k rows
      // post-TakeOrdered), so one partition is the design, not a
      // hazard. The partition key is constant-VALUED but non-foldable
      // (id % 1 — a literal key gets optimized away, restoring the
      // empty spec): it documents the bound to the engine (no
      // global-window warning) and to PlanCheck's window contract
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(pmod(col(idCol), lit(1)))
            .orderBy(col("score").desc, col(idCol))))
  }

  // ---- index-form scoring (the maintained-index twin) --------------------

  /** Per-doc stats `(id, dl)` — one row per document, EMPTY docs
    * included (they carry corpus-stat mass: N and total tokens).
    * Together with [[termPostings]] this is the materialized inverted
    * index [[graft.streaming.StreamSearchIndex]] maintains.
    */
  def docStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(TextTokens.wordsCol(col(textCol))).cast("long").as("dl"))

  /** Term postings `(id, term, tf)` — the inverted-index rows. */
  def termPostings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(TextTokens.wordsCol(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** [[bm25TopK]] evaluated AGAINST a materialized index instead of
    * the raw corpus: identical integer inputs (tf, df, dl, N, total
    * tokens) feed the identical contribution expression, so scores and
    * ranks are bit-for-bit the batch operator's (spec-pinned). This is
    * what a maintained search index serves — scoring cost is
    * |postings of the query terms|, never a corpus scan.
    */
  def bm25FromIndex(docs: DataFrame, postings: DataFrame,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("total_tokens"))
    val tf = postings.filter(col("term").isin(queryTerms: _*))
      .join(docs, "id")
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      // the same literal-for-literal expression as bm25TopK
      .withColumn("__contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl")
              / (col("total_tokens").cast("double") / col("n_docs")))))
      .groupBy(col("id"))
      .agg(round(sum(col("__contrib")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(pmod(col("id"), lit(1)))
            .orderBy(col("score").desc, col("id"))))
  }

  /** [[qlTopK]] against the same materialized index — collection
    * frequency is `sum(tf)` over the term's postings; same bit-equal
    * contract as [[bm25FromIndex]].
    */
  def qlFromIndex(docs: DataFrame, postings: DataFrame,
      queryTerms: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    val stats = docs.agg(sum(col("dl")).cast("long").as("total_tokens"))
    val qp = postings.filter(col("term").isin(queryTerms: _*))
    val cf = qp.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("cf"))
    val candidates = qp.select(col("id")).distinct().join(docs, "id")
    val grid = candidates.crossJoin(broadcast(cf.join(stats)))
      .join(qp, Seq("id", "term"), "left")
      .na.fill(0L, Seq("tf"))
    grid
      .withColumn("__contrib",
        log((col("tf") + lit(mu) * col("cf")
            / col("total_tokens").cast("double"))
          / (col("dl") + lit(mu))))
      .groupBy(col("id"))
      .agg(round(sum(col("__contrib")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(pmod(col("id"), lit(1)))
            .orderBy(col("score").desc, col("id"))))
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the LM-based ranker that sits beside BM25 in
    * every IR toolkit: `score(q,d) = Σ_t log((tf_td + μ·cf_t/T) /
    * (dl_d + μ))` over the query terms, μ = 2000 (the paper's default,
    * written as the same literal in the oracle).
    *
    * Candidates are docs containing ≥ 1 query term (the inverted-list
    * shape); each candidate is scored over ALL query terms — absent
    * terms contribute their smoothed background mass — via a
    * broadcast-bounded grid join (candidates × |q| rows, |q| a small
    * constant). Corpus stats (per-term collection frequency WITH
    * multiplicity, total tokens) come from one unfiltered scan.
    * Query terms must occur in the corpus (cf > 0), else their
    * background probability is log 0.
    *
    * Determinism follows the [[bm25TopK]] discipline: exact-integer
    * inputs, literal constants, one libm `ln` per term, round at 6,
    * doc-id tiebreak.
    */
  def qlTopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    // ONE tokenization pass via the shared digest (the r13 bm25 shape,
    // applied here in r14: stats, the cf broadcast build, and tf each
    // re-tokenized the corpus — three full passes per query). The
    // digest's filtered-array form yields the same (id, dl, term)
    // multiset as explode+isin, so cf/tf/candidates are identical.
    val digest = queryTermDigest(df, idCol, textCol, queryTerms, eager = true)
    val stats = digest.select(sum(col("dl")).cast("long").as("total_tokens"))
    val hits = digest.select(col(idCol), col("dl"),
      explode(col("__qhits")).as("term"))
    // collection frequency with multiplicity, over the FULL corpus
    val cf = hits.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tf = hits.groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val candidates = tf.select(col(idCol), col("dl")).distinct()
    // grid: every candidate × every query term (broadcast-bounded)
    val grid = candidates.crossJoin(broadcast(cf.join(stats)))
      .join(tf.select(col(idCol), col("term"), col("tf")),
        Seq(idCol, "term"), "left")
      .na.fill(0L, Seq("tf"))
    grid
      // textually mirrored in the oracle, literal for literal
      .withColumn("__contrib",
        log((col("tf") + lit(mu) * col("cf")
            / col("total_tokens").cast("double"))
          / (col("dl") + lit(mu))))
      .groupBy(col(idCol))
      .agg(round(sum(col("__contrib")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      // bounded post-TakeOrdered frame; constant-valued non-foldable
      // partition key documents the bound (the bm25TopK convention)
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(pmod(col(idCol), lit(1)))
            .orderBy(col("score").desc, col(idCol))))
  }

  /** Reciprocal-rank fusion: combine several rankings of the same id
    * space into one, scoring each id by `Σ 1/(rrfK + rank)` over the
    * lists it appears in — the standard score-agnostic hybrid-search
    * combiner (lexical + dense, or any mix of retrievers).
    *
    * Scale shape: the input rankings are already top-k frames (tiny
    * relative to the corpus), so the union + single hash aggregate
    * never touches corpus-sized data; the final cut is an
    * `orderBy(...).limit(...)` the planner runs as
    * `TakeOrderedAndProject`.
    *
    * Determinism: each contribution `1/(rrfK + rank)` is a double of
    * exact integer inputs rounded at 9 and summed as DECIMAL (exact,
    * order-independent — the engine-wide money convention), then cast
    * to double; ranking breaks ties by id.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      rrfK: Int, topK: Int): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(rrfK >= 1, s"rrfK must be positive, got $rrfK")
    require(topK >= 1, s"topK must be positive, got $topK")
    val tagged = rankings
      .map(_.select(col(idCol), col(rankCol).cast("long").as("__rk")))
      .reduce(_ unionByName _)
    tagged
      .withColumn("__contrib",
        round(lit(1.0) / (lit(rrfK.toDouble) + col("__rk")), 9)
          .cast("decimal(12,9)"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).cast("double").as("rrf_score"),
        count(lit(1)).cast("int").as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
      // bounded top-k rank — non-foldable constant partition key as
      // in [[bm25TopK]]
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(pmod(col(idCol), lit(1)))
            .orderBy(col("rrf_score").desc, col(idCol))))
  }

  /** nDCG@k over a ranked result set with graded relevance — the
    * retrieval-quality evaluator run over every ranking experiment in
    * a data pipeline. One row per query: `dcg`, the ideal `idcg`
    * (relevances re-sorted descending, original rank as tiebreak), and
    * `ndcg = dcg / idcg` (0 when the query has no relevant result).
    *
    * Scale shape: input is (query, rank, relevance) — already top-k per
    * query, so both windows and the aggregate partition by query over
    * k-row groups; nothing corpus-sized shuffles.
    *
    * Determinism: gains `rel / log2(rank+1)` are rounded at 9 and
    * summed as DECIMAL (exact, order-independent); `ndcg` rounds at 6.
    * `log2` is the one libm call (the q66/q69 precedent): ulp noise
    * sits ~1e-7 below the rounding grain.
    */
  def ndcgAtK(ranked: DataFrame, queryCol: String, rankCol: String,
      relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val in = ranked.filter(col(rankCol) <= k)
      .select(col(queryCol), col(rankCol).cast("long").as("__rk"),
        col(relCol).cast("double").as("__rel"))
    val idealW = Window.partitionBy(col(queryCol))
      .orderBy(col("__rel").desc, col("__rk").asc)
    def gain(rk: Column) =
      round(col("__rel") / log2(rk + lit(1.0)), 9).cast("decimal(18,9)")
    in.withColumn("__irk", row_number().over(idealW))
      .groupBy(col(queryCol))
      .agg(sum(gain(col("__rk"))).cast("double").as("dcg"),
        sum(gain(col("__irk"))).cast("double").as("idcg"))
      .withColumn("ndcg",
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6))
          .otherwise(lit(0.0)))
  }

  // ---- positional phrase search -------------------------------------------

  /** Positional postings: one row per token occurrence,
    * `(id, pos, term)` with `pos` 0-based — the index a phrase or
    * proximity query serves from (BM25/QL's postings carry only tf).
    */
  def positionalPostings(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(TextTokens.wordsCol(col(textCol))).as(Seq("pos", "term")))

  /** Exact phrase match over positional postings: documents containing
    * the words of `phrase` CONSECUTIVELY, with occurrence counts —
    * the operator BM25's bag-of-words scoring cannot express. Each
    * later term joins back at `pos − offset`, so a phrase of length k
    * is k−1 equi-joins of TERM-FILTERED postings (the filters reach
    * the scan; join inputs are bounded by the phrase terms'
    * frequencies, never the corpus) — the standard positional-index
    * evaluation, distributed.
    */
  def phraseHits(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val post = positionalPostings(df, idCol, textCol)
    val first = post.filter(col("term") === phrase.head)
      .select(col(idCol), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, j)) =>
        acc.join(
          post.filter(col("term") === t)
            .select(col(idCol), (col("pos") - j).as("pos")),
          Seq(idCol, "pos"))
    }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** Proximity ("NEAR/W") search: per document, the number of
    * `(posA, posB)` occurrence pairs of `termA` and `termB` within
    * `window` word positions of each other. The candidate join is
    * BUCKETED on `pos div window` with the A side exploded to its
    * three adjacent buckets (the q44 time-proximity discipline — an
    * unbounded |pa − pb| predicate would be a per-doc cross join),
    * then the exact distance filter; inputs are term-filtered postings
    * so the join is bounded by the two terms' frequencies.
    */
  def proximityHits(df: DataFrame, idCol: String, textCol: String,
      termA: String, termB: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    val post = positionalPostings(df, idCol, textCol)
    val a = post.filter(col("term") === termA)
      .select(col(idCol), col("pos").as("pa"))
      .withColumn("__b", explode(array(
        (col("pa") / window).cast("int") - 1,
        (col("pa") / window).cast("int"),
        (col("pa") / window).cast("int") + 1)))
    val b = post.filter(col("term") === termB)
      .select(col(idCol), col("pos").as("pb"),
        (col("pos") / window).cast("int").as("__b"))
    // each qualifying pair joins on exactly ONE bucket value (b-side
    // buckets are single-valued), so no distinct is needed
    a.join(b, Seq(idCol, "__b"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_pairs"))
  }
}
