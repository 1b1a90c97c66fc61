package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Near-duplicate detection suite for training-data curation at 100 TB
  * (BASELINE.json north star; beyond the reference's own surface — the
  * reference dedups exact page bodies only, SURVEY.md T1).
  *
  * Four detectors, cheapest-to-richest:
  *  - exact: hash-groupBy (see `q11_exact_dedup_docs`);
  *  - n-gram Jaccard: exhaustive shingle self-join — exact, quadratic
  *    in colliding shingles; the ORACLE for the approximate methods;
  *  - MinHash + LSH banding: signature min over k permutations, band
  *    bucket join, candidate verify — the scale path: shuffle cost is
  *    O(docs × bands), never O(docs²);
  *  - SimHash: 64-bit sign-sum fingerprint, hamming ≤ k — cheapest,
  *    catches high-similarity pairs only.
  *
  * All hashing is deterministic (fixed seeds) so runs are reproducible
  * and resumable.
  */
object NearDup {

  // ---- shingling ---------------------------------------------------------

  /** Word n-gram shingles (lowercased, whitespace-tokenized). */
  def wordShingles(text: String, n: Int): Vector[String] = {
    val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (words.length < n) {
      if (words.isEmpty) Vector.empty else Vector(words.mkString(" "))
    } else words.sliding(n).map(_.mkString(" ")).toVector
  }

  /** Column form: `shingles(text, n)` as array<string>. */
  def shinglesCol(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val words = TextTokens.wordsCol(text)
    when(size(words) < n, when(size(words) === 0, array()).otherwise(array(array_join(words, " "))))
      .otherwise(
        // transform over sliding windows: index i -> words[i..i+n-1]
        transform(sequence(lit(0), size(words) - n),
          i => array_join(slice(words, i + lit(1), lit(n)), " ")))
  }

  // ---- exact n-gram Jaccard (the oracle method) --------------------------

  /** All pairs (a < b) with |shared shingles| / |union| ≥ threshold.
    * Input: (idCol, textCol). Exhaustive but shuffle-bounded: the
    * self-join is on distinct (doc, shingle) pairs, so cost scales with
    * shingle collisions, not docs² — still the method to sample-check
    * LSH recall, not to run on the full 100 TB.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The shingle relation is consumed twice (both join sides); LAZY
    // localCheckpoint so the tokenize+explode+distinct pipeline runs
    // once, pipelined into the first action (an eager cut would run a
    // separate blocking job first — measured ~2× on the gate bench),
    // AND the blocks are ContextCleaner-reclaimable — persist() here
    // pinned cache for the session's lifetime (no unpersist handle),
    // which under a 64-query bench session accumulated into
    // re-materialization pressure. Set size is attached by window so no
    // extra sizes join is needed.
    val w = Window.partitionBy($"id")
    val sh = df.select(col(idCol).as("id"),
        explode(shinglesCol(col(textCol), n)).as("shingle"))
      .distinct()
      .withColumn("sz", count(lit(1)).over(w))
      .localCheckpoint(eager = false)
    val a = sh.select($"id".as("id_a"), $"shingle", $"sz".as("size_a"))
    val b = sh.select($"id".as("id_b"), $"shingle", $"sz".as("size_b"))
    a.join(b, "shingle")
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_common"),
           first($"size_a").as("size_a"), first($"size_b").as("size_b"))
      .withColumn("jaccard",
        $"n_common".cast("double") / ($"size_a" + $"size_b" - $"n_common").cast("double"))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Directional CONTAINMENT pairs: `C(A→B) = |S_A ∩ S_B| / |S_A|`,
    * emitted for BOTH orientations of every colliding pair. The
    * asymmetric complement of [[jaccardPairs]]: a 100-word boilerplate
    * notice copied verbatim into a 10k-word page has Jaccard ≈ 0.01 —
    * invisible to every symmetric detector — but containment 1.0 in
    * the notice→page direction. Standard curation uses: quoted-inside
    * duplication, template/boilerplate spread, subset-page collapse
    * (Broder's containment, the original resemblance companion).
    *
    * Hot-shingle cap: shingles occurring in more than `maxPostings`
    * documents are dropped from the JOIN — each such posting list
    * would contribute O(maxPostings²) candidate pairs of pure
    * boilerplate noise (the reason plain shingle self-joins die at
    * corpus scale). Set sizes stay UNCAPPED, so reported containment
    * is a lower bound that becomes exact when no shared shingle
    * exceeds the cap; the gate oracle mirrors the same cap, so both
    * engines see identical values.
    *
    * Scale shape: both document-frequency counting and the pair join
    * hash on `shingle`, so the join reuses the window's partitioning
    * (one shuffle of the distinct (doc, shingle) relation, not two).
    * Pair aggregation shuffles on (id_a, id_b) with map-side combine.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxPostings: Long = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val byDoc = Window.partitionBy($"id")
    val byShingle = Window.partitionBy($"shingle")
    val sh = df.select(col(idCol).as("id"),
        explode(shinglesCol(col(textCol), n)).as("shingle"))
      .distinct()
      .withColumn("sz", count(lit(1)).over(byDoc))     // uncapped |S_doc|
      .withColumn("df", count(lit(1)).over(byShingle))
      .filter($"df" <= maxPostings)
      .localCheckpoint(eager = false) // both join sides read it
    val a = sh.select($"id".as("id_a"), $"shingle", $"sz".as("size_a"))
    val b = sh.select($"id".as("id_b"), $"shingle")
    a.join(b, "shingle")
      .filter($"id_a" =!= $"id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_common"), first($"size_a").as("size_a"))
      // UNROUNDED int/int division: a single IEEE division of exact
      // integers is bit-identical across engines, while rounding at 6
      // digits disagrees by one ulp on boundary values (Spark rounds via
      // BigDecimal on the exact binary value; DuckDB multiplies by 1e6 in
      // floating point) — the q65/unigramSurprisal lesson
      .withColumn("containment",
        $"n_common".cast("double") / $"size_a".cast("double"))
      .filter($"containment" >= threshold)
      .select($"id_a", $"id_b", $"size_a", $"n_common", $"containment")
  }

  // ---- cross-engine hashing ----------------------------------------------

  /** 60-bit shingle hash both engines can compute identically: the first
    * 15 hex chars of md5 parsed as an integer. Spark: conv(substr(md5)).
    * DuckDB mirror: `CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)`.
    * md5 is codegen'd, so the whole hash stays inside whole-stage
    * codegen (no UDF on the hot path).
    */
  def shingleHash60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Scalar twin of [[shingleHash60]] for row-level callers (streaming
    * UDF hot path): the first 15 hex chars are the top 60 bits of the
    * big-endian first 8 digest bytes, extracted with shifts — no hex
    * string, no per-call MessageDigest construction (thread-local;
    * digest() resets it).
    */
  def shingleHash60(s: String): Long = {
    val d = Md5Local.get().digest(s.getBytes("UTF-8"))
    var l = 0L
    var i = 0
    while (i < 8) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
    l >>> 4
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** Modulus of the affine MinHash family: the Mersenne prime 2^31−1.
    * Small enough that a*x + b stays well inside a signed 64-bit value
    * (a, b, x < 2^31 → a*x + b < 2^62 + 2^31) — the property that makes
    * the family expressible in ANY engine with plain BIGINT arithmetic
    * (the DuckDB oracle runs the very same formulas).
    */
  val MinhashPrime: Long = (1L << 31) - 1

  /** Deterministic affine-permutation params (a, b) over Z_MinhashPrime.
    * The DuckDB oracle SQL is generated from the same array, so both
    * engines hash identically by construction.
    */
  def minhashParams(k: Int, seed: Int = 7): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(k)((rnd.between(1L, MinhashPrime), rnd.between(0L, MinhashPrime)))
  }

  /** k-wide MinHash signature of a shingle-hash set. */
  def signature(shingleHashes: Iterable[Long], k: Int): Array[Long] =
    signatureWith(shingleHashes, minhashParams(k))

  /** Signature with precomputed permutation params (hoist the param
    * table out of per-row calls). floorMod: row-level callers may pass
    * negative hashes; the DataFrame path feeds non-negative 60-bit
    * values where % and floorMod agree.
    */
  def signatureWith(shingleHashes: Iterable[Long], params: Array[(Long, Long)]): Array[Long] = {
    val k = params.length
    val sig = Array.fill(k)(Long.MaxValue)
    shingleHashes.foreach { h =>
      val x = java.lang.Math.floorMod(h, MinhashPrime)
      var i = 0
      while (i < k) {
        val (a, b) = params(i)
        val v = (a * x + b) % MinhashPrime
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Estimated Jaccard from two signatures. */
  def estimate(a: Array[Long], b: Array[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.length

  /** MinHash+LSH candidate pairs with exact-Jaccard verification.
    * `bands × rowsPerBand = k`. Probability a pair with true Jaccard s
    * becomes a candidate: 1 − (1 − s^r)^b.
    *
    * Plan shape at scale: shingle explode → per-doc signature (ONE
    * aggregation with k min() columns, map-side partial) → band explode
    * (docs × b rows) → bucket self-join (buckets are tiny unless data is
    * degenerate) → verify on exact shingle join restricted to candidates.
    *
    * Entirely `functions`-built (no UDF): the md5-based hash family is
    * plain integer arithmetic, so every stage is whole-stage-codegen'd
    * AND the identical formulas run in DuckDB as the correctness oracle
    * (q17 in the driver gate).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sh = hashedShingleIds(df, idCol, textCol, n)
    val banded = bandedKeys(sh, bands, rowsPerBand)
    val spark = df.sparkSession
    import spark.implicits._
    val candidates = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key" && $"x.id" < $"y.id")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"))
      .distinct()
    verifyJaccard(candidates, sh).filter($"jaccard" >= threshold)
  }

  /** Cross-corpus MinHash near-dup (the Dolma-style priority dedup: a
    * NEW crawl `b` deduplicated against an EXISTING corpus `a`, which
    * is never re-examined against itself): every verified pair
    * `(id_a, id_b, jaccard >= threshold)` with `id_a` from `a` and
    * `id_b` from `b`. Ids are expected to be disjoint across the two
    * frames (they come from different corpora, and a drop-list treats
    * an id as one document). The verify does not rely on it: the split
    * [[verifyJaccard]] reads `a`'s shingles for `id_a` and `b`'s for
    * `id_b`, never a union of both sides.
    *
    * Built from [[minhashLshPairs]]'s own phases — the only change is
    * the candidate join: `a`-side bands against `b`-side bands instead
    * of a self-join, so the pair work is |collisions between corpora|,
    * never within-corpus. The batch drop-list for `b` is
    * `distinct id_b` (or a min-`id_a` partner per `id_b`); keeping `a`
    * fixed makes the operation idempotent over re-crawls — exactly the
    * ledger probe [[graft.streaming.StreamNearDup]] runs per batch.
    */
  def crossCorpusPairs(a: DataFrame, b: DataFrame,
      idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val shA = hashedShingleIds(a, idCol, textCol, n)
    val shB = hashedShingleIds(b, idCol, textCol, n)
    val bandedA = bandedKeys(shA, bands, rowsPerBand)
    val bandedB = bandedKeys(shB, bands, rowsPerBand)
    val candidates = bandedA.as("x").join(bandedB.as("y"),
        $"x.band" === $"y.band" && $"x.band_key" === $"y.band_key")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"))
      .distinct()
    verifyJaccard(candidates, shA, shB).filter($"jaccard" >= threshold)
  }

  /** Phase 1 of [[minhashLshPairs]] (shared with the streaming twin —
    * same code, not a mirror): distinct `(id, h)` hashed shingles.
    *
    * Distinct (doc, shingle-HASH) pairs feed the signatures AND the
    * verify join: hashing BEFORE the distinct means every shuffle and
    * join in the query moves 8-byte longs, never shingle strings. The
    * verify Jaccard is computed over hashed shingles in BOTH engines
    * (the oracle joins on the same md5-derived values), so results are
    * identical by construction — even a hash collision collides
    * identically on both sides. Null texts carry no shingles, like
    * jaccardPairs; persisted — feeds signatures + verify twice.
    * ONE exchange hash-partitioned by id serves the whole query:
    * HashPartitioning(id) satisfies the clustering needs of the
    * (id, h) dedup, the signature groupBy(id), the sizes groupBy(id),
    * and the id-keyed verify joins — a plain distinct() would shuffle
    * by (id, h) and then AGAIN by id for the aggregations.
    */
  private[graft] def hashedShingleIds(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(shinglesCol(col(textCol), n)).as("shingle"))
      .select($"id", shingleHash60($"shingle").as("h"))
      .repartition($"id")
      .dropDuplicates("id", "h")
      .localCheckpoint(eager = false) // reclaimable multi-consumer cut, pipelined into the first action
  }

  /** Phase 2 of [[minhashLshPairs]] (shared with the streaming twin):
    * `(id, band, band_key)` — per-doc signature (ONE aggregation with k
    * min() columns, map-side partial), then band explode. The band key
    * is the band's r signature values joined as a string (a
    * cross-engine bucket id); persisted — joined at least twice.
    */
  private[graft] def bandedKeys(
      sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val params = minhashParams(bands * rowsPerBand)
    // x = h mod P projected ONCE, not repeated inside all k min-exprs —
    // keeps the already-wide aggregate plan as small as possible
    val mins = params.toSeq.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * $"x" + lit(b)) % MinhashPrime).as(s"m$i")
    }
    val sigs = sh.select($"id", ($"h" % MinhashPrime).as("x"))
      .groupBy($"id").agg(mins.head, mins.tail: _*)
    val bandStructs = (0 until bands).map { j =>
      val slots = (j * rowsPerBand until (j + 1) * rowsPerBand).map(i => col(s"m$i"))
      struct(lit(j).as("band"), concat_ws("_", slots: _*).as("band_key"))
    }
    sigs.select($"id", explode(array(bandStructs: _*)).as("bk"))
      .select($"id", $"bk.band".as("band"), $"bk.band_key".as("band_key"))
      .localCheckpoint(eager = false) // both self-join sides; reclaimable, pipelined
  }

  /** Phase 3 of [[minhashLshPairs]] (shared with the streaming twin):
    * exact Jaccard (over hashed shingles) computed ONLY for candidate
    * `(id_a, id_b)` pairs, against the `(id, h)` relation covering both
    * sides. Returns every candidate with its `jaccard` — the caller
    * applies its threshold.
    */
  private[graft] def verifyJaccard(
      candidates: DataFrame, sh: DataFrame): DataFrame =
    verifyJaccard(candidates, sh, sh)

  /** Split form of [[verifyJaccard]] for callers whose `id_a` and
    * `id_b` come from DISJOINT id spaces ([[crossCorpusPairs]]): each
    * join side and each size aggregate reads only the relation that
    * can match it — probing a union of both would scan every relation
    * twice per consumer for rows that cannot join (r14 measurement on
    * the cross-corpus gate). With `shA eq shB` this is exactly the
    * self-join verify.
    */
  private[graft] def verifyJaccard(
      candidates: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame = {
    val spark = shA.sparkSession
    import spark.implicits._
    val sizesA = shA.groupBy($"id").agg(count(lit(1)).as("n_shingles"))
    val sizesB =
      if (shB eq shA) sizesA
      else shB.groupBy($"id").agg(count(lit(1)).as("n_shingles"))
    val common = candidates
      .join(shA.toDF("id_a", "h"), "id_a")
      .join(shB.toDF("id_b", "h"), Seq("id_b", "h"))
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("n_common"))
    candidates.join(common, Seq("id_a", "id_b"), "left")
      .na.fill(0, Seq("n_common"))
      .join(sizesA.toDF("id_a", "size_a"), "id_a")
      .join(sizesB.toDF("id_b", "size_b"), "id_b")
      .withColumn("jaccard",
        $"n_common".cast("double") / ($"size_a" + $"size_b" - $"n_common").cast("double"))
      .select($"id_a", $"id_b", $"jaccard")
  }

  // ---- SimHash -----------------------------------------------------------

  /** Fingerprint width: 60 bits — the span of [[shingleHash60]], so the
    * scalar and DataFrame forms (and the DuckDB oracle) share one hash.
    */
  val SimhashBits: Int = 60

  /** SimHash over word n-gram shingles (multiplicity kept): per bit,
    * sum +1/−1 by shingle-hash bit, sign → fingerprint bit.
    */
  def simhash(text: String, n: Int): Long = {
    val counts = new Array[Int](SimhashBits)
    wordShingles(text, n).foreach { s =>
      val h = shingleHash60(s)
      var i = 0
      while (i < SimhashBits) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    var fp = 0L
    var i = 0
    while (i < SimhashBits) { if (counts(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dup pairs with hamming distance ≤ maxDistance.
    * Bucketing: split the fingerprint into `maxDistance + 1` blocks —
    * any pair within distance d agrees on ≥1 block (pigeonhole) — and
    * bucket-join per block. Never a full cross join.
    *
    * Entirely `functions`-built (no UDF): the fingerprint is one
    * aggregation with 60 per-bit sign-sum columns over the exploded
    * shingles, then pure bit arithmetic — codegen'd in Spark and
    * mirrored verbatim by the DuckDB oracle (q18 in the driver gate).
    * Docs with no shingles (empty text) carry no fingerprint.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDistance: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blocks = maxDistance + 1
    val width = SimhashBits / blocks
    val mask = (1L << width) - 1
    // shingles WITH multiplicity (simhash weights repeated shingles)
    val sh = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(shinglesCol(col(textCol), n)).as("shingle"))
      .withColumn("x", shingleHash60($"shingle"))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(shiftright($"x", i).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"c$i")
    }
    val fpExpr = (0 until SimhashBits).map { i =>
      when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val fps = sh.groupBy($"id").agg(bitSums.head, bitSums.tail: _*)
      .select($"id", fpExpr.as("fp"))
    val blockKeys = array((0 until blocks).map { b =>
      shiftright($"fp", b * width).bitwiseAND(lit(mask))
    }: _*)
    val keyed = fps.select($"id", $"fp", posexplode(blockKeys).as(Seq("block", "key")))
      .localCheckpoint(eager = false) // both self-join sides; reclaimable, pipelined
    keyed.as("x").join(keyed.as("y"),
        $"x.block" === $"y.block" && $"x.key" === $"y.key" && $"x.id" < $"y.id")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"),
        bit_count($"x.fp".bitwiseXOR($"y.fp")).as("distance"))
      .distinct()
      .filter($"distance" <= maxDistance)
  }

  // ---- embedding-cosine near-dup -----------------------------------------

  /** Constants for [[embeddingPairsAuto]]'s data-dependent bucketing,
    * mirrored verbatim into the q24 oracle SQL (`queries/VectorOps`).
    */
  val EmbedTargetBucket: Int = 128
  val EmbedMinPlanes: Int = 2
  val EmbedMaxPlanes: Int = 24
  val EmbedTables: Int = 2

  /** Plane count for N vectors so mean bucket occupancy stays ≤
    * `targetBucketSize`: the smallest p with 2^p · target ≥ N, i.e.
    * ceil(log2(N / target)) — computed with INTEGER bit arithmetic
    * (`len(bin((N-1) // target))` in the DuckDB mirror) so both engines
    * agree exactly even at power-of-two boundaries where floating log2
    * could round either way. Clamped to [minPlanes, maxPlanes].
    */
  def autoPlanes(n: Long,
      targetBucketSize: Int = EmbedTargetBucket,
      minPlanes: Int = EmbedMinPlanes,
      maxPlanes: Int = EmbedMaxPlanes): Int = {
    val q = (math.max(n, 1L) - 1L) / targetBucketSize
    val bits = if (q <= 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(q)
    math.min(maxPlanes, math.max(minPlanes, bits))
  }

  /** Pairs of vectors with cosine ≥ threshold, via LSH bucketing on
    * random-hyperplane signs (see [[graft.vectors.Vectors.hyperplaneBucket]])
    * then exact verify. Exposed here for the dedup suite; the generic
    * building blocks live in `graft.vectors`. Cosine is rounded to 6
    * decimals before the threshold filter — the repo float policy that
    * keeps the output bit-identical to the DuckDB oracle (q24).
    *
    * Fixed-plane single-table form (spec/back-compat surface). A fixed
    * plane count means a FIXED bucket count: within-bucket pair work
    * grows (N / 2^planes)² — quadratic in N. Production callers use
    * [[embeddingPairsAuto]], which scales the bucket count with N.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, threshold: Double, dim: Int = 64): DataFrame =
    pairsFromBase(checkpointBase(df, idCol, vecCol), planes, threshold, dim,
      tables = 1, seed = 42)

  /** Scale-safe [[embeddingPairs]]: derives the plane count from the
    * corpus size via [[autoPlanes]] (bucket count ∝ N, so expected
    * candidate pairs stay ≈ N · targetBucketSize / 2 per table — linear
    * in N), and unions candidates from `tables` INDEPENDENT hyperplane
    * tables (seeds seed, seed+1, …) before one exact verify — the same
    * recall-vs-cost ladder as [[minhashLshPairs]]'s bands: a true pair
    * split by one table's planes still collides in another.
    */
  def embeddingPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int = 64,
      targetBucketSize: Int = EmbedTargetBucket,
      tables: Int = EmbedTables, seed: Int = 42): DataFrame = {
    val base = checkpointBase(df, idCol, vecCol)
    val planes = autoPlanes(base.count(), targetBucketSize)
    pairsFromBase(base, planes, threshold, dim, tables, seed)
  }

  /** One materialization of (id, v) reused by every table's two join
    * sides and the verify rejoin. Lazy localCheckpoint, NOT persist:
    * blocks compute inside the first consuming action (for
    * [[embeddingPairsAuto]] that is its sizing count) and are
    * ContextCleaner-reclaimable once the caller's plan is collected
    * (the Triangles convention) — a persist() here would pin executor
    * memory for the session's lifetime with no unpersist handle.
    */
  private def checkpointBase(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint(eager = false)

  private def pairsFromBase(base: DataFrame, planes: Int, threshold: Double,
      dim: Int, tables: Int, seed: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val keyed = (0 until tables).map { t =>
      base.select($"id", lit(t).as("tbl"),
        graft.vectors.Vectors.hyperplaneBucket($"v", planes, dim, seed + t).as("bucket"))
    }.reduce(_ union _)
    // candidates first (ids only through the shuffle), THEN one exact
    // verify with the vectors joined back — a pair colliding in several
    // tables is verified once
    val cands = keyed.as("x").join(keyed.as("y"),
        $"x.tbl" === $"y.tbl" && $"x.bucket" === $"y.bucket" && $"x.id" < $"y.id")
      .select($"x.id".as("id_a"), $"y.id".as("id_b"))
      .distinct()
    val wn = base.withColumn("norm", graft.vectors.Vectors.normCol($"v"))
    cands
      .join(wn.select($"id".as("id_a"), $"v".as("va"), $"norm".as("na")), "id_a")
      .join(wn.select($"id".as("id_b"), $"v".as("vb"), $"norm".as("nb")), "id_b")
      .select($"id_a", $"id_b",
        round(graft.vectors.Vectors.cosineWithNorms($"va", $"na", $"vb", $"nb"), 6).as("cosine"))
      .filter($"cosine" >= threshold)
  }
}
