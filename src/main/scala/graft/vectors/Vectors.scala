package graft.vectors

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.{DriverGate, Jobs}

/** Embedding similarity search (BASELINE.json north star; operates on
  * the `embeddings` table: `embedding: array<float>`).
  *
  *  - [[cosineCol]]: pure-`functions` cosine (zip_with + aggregate in
  *    double) — whole-stage-codegen friendly, no UDF;
  *  - [[bruteTopK]]: exact top-k — broadcast the (small) query side,
  *    TakeOrdered per query; the correctness baseline;
  *  - [[hyperplaneBucket]]: random-hyperplane LSH key — the scale path:
  *    candidates share a bucket, turning O(N·Q) into a bucket join.
  */
object Vectors {

  /** Sequential-order dot product in double precision: deterministic
    * across engines and partitionings (array order is fixed). Native
    * codegen'd expression — the previous `aggregate(zip_with(...))`
    * form was CodegenFallback (HOFs don't codegen) and paid interpreted
    * lambda dispatch per element on every scored pair; identical double
    * sequence, so oracle hashes are unchanged.
    */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** cosine = dot / (sqrt(dot_aa) * sqrt(dot_bb)) — mirrors the oracle
    * formulation exactly (same op order → bit-identical doubles).
    * Join-heavy callers precompute [[normCol]] per side instead: the
    * per-pair work drops from three dot products to one.
    */
  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (sqrt(dotCol(a, a)) * sqrt(dotCol(b, b)))

  /** Per-vector norm, computed once per row before a pair join. Fused
    * native expression (one traversal instead of `sqrt(dot(v, v))`'s
    * two); same double sequence, so values are bit-identical.
    */
  def normCol(v: Column): Column = graft.functions.NormL2.norm(v)

  /** Cosine from a precomputed-norm pair: identical double sequence to
    * [[cosineCol]] (sqrt once per vector instead of once per pair —
    * same values, same rounding).
    */
  def cosineWithNorms(a: Column, normA: Column, b: Column, normB: Column): Column =
    dotCol(a, b) / (normA * normB)

  /** Exact top-k neighbors for each query row. `queries` must be small
    * (it is broadcast); ranking is (rounded cosine desc, id asc) so ties
    * are deterministic.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", normCol($"qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nn", normCol($"nv"))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
  }

  /** Bitext margin mining (Artetxe & Schwenk 2019, the CCMatrix /
    * LASER alignment law) — the parallel-corpus op a multilingual
    * training pipeline runs over two embedded monolingual sides:
    * raw cosine over-selects hubs (vectors near everything), so each
    * candidate pair scores by its MARGIN over both endpoints' local
    * neighborhoods:
    *
    *   margin(x, y) = 2·cos(x, y) / (meanₖ(x→B) + meanₖ(y→A))
    *
    * where meanₖ is the mean cosine of the endpoint's k nearest
    * candidates on the other side. Per source vector the best-margin
    * candidate is emitted with `accepted = margin ≥ threshold`.
    *
    * Exactness: the per-pair cosine quantizes once to e6 fixed point
    * (`floor(cos·10⁶ + 0.5)` — the q159 recipe, identical IEEE op
    * order on both engines) and then SHIFTS by +10⁶ to the
    * nonnegative affinity `sim_e6 = (1 + cos)·10⁶ ∈ [0, 2·10⁶]` — the
    * margin ratio runs over shifted affinities because Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, and the two
    * only agree on nonnegative operands (the same selection behavior
    * in the CCMatrix regime, where candidate cosines are positive);
    * every downstream step (top-k sums, means `div k`, the margin
    * ratio ×10⁶) is 64-bit integer arithmetic, so rank order and
    * acceptance are order-independent and cross-engine-exact.
    * Requires ≥ k vectors on each side (the means divide by k).
    *
    * Scale shape: this is the CORRECTNESS baseline over a broadcast
    * cross score (q22's intentional BroadcastNestedLoopJoin — the
    * smaller side broadcasts); at corpus scale feed both sides
    * through the bucketed candidate paths (LSH/IVF) and score only
    * candidates — the margin law is unchanged. The rank/mean windows
    * partition by endpoint id, never globally.
    */
  def bitextMarginPairs(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int, thresholdE6: Long): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = a.sparkSession
    import spark.implicits._
    val qa = broadcast(a.select(col(idCol).as("src_id"), col(vecCol).as("qv"))
      .withColumn("qn", normCol($"qv")))
    val cb = b.select(col(idCol).as("tgt_id"), col(vecCol).as("nv"))
      .withColumn("nn", normCol($"nv"))
    val scored = qa.join(cb)
      .withColumn("sim_e6",
        floor(cosineWithNorms($"qv", $"qn", $"nv", $"nn") * 1000000.0 + 0.5)
          .cast("long") + 1000000L)
      .select($"src_id", $"tgt_id", $"sim_e6")
    marginFromScored(scored, k, thresholdE6)
  }

  /** [[bitextMarginPairs]]'s candidate-bounded scale path: the SAME
    * margin law over hyperplane-bucket candidates instead of the full
    * cross score — pairs (and each endpoint's neighborhood) come only
    * from the shared-bucket join, so the score relation is
    * candidate-sized and the join is a hash equi-join on the bucket
    * key (broadcast or shuffled — never a cross product). Two
    * documented delta from the brute baseline: a source with no
    * shared-bucket candidate emits NO row (the bucketed path cannot
    * propose what it never scored). A sparse bucket's neighborhood
    * mean divides by `least(k, candidates)` — the shared chain counts
    * what it summed — so `thresholdE6` means the same thing on both
    * paths (dividing a short sum by the full k would shrink the mean
    * and inflate every sparse endpoint's margin).
    */
  def bitextMarginPairsBucketed(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int, thresholdE6: Long,
      planes: Int, dim: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = a.sparkSession
    import spark.implicits._
    val qa = broadcast(a.select(col(idCol).as("src_id"), col(vecCol).as("qv"))
      .withColumn("qn", normCol($"qv"))
      .withColumn("bucket", hyperplaneBucket($"qv", planes, dim)))
    val cb = b.select(col(idCol).as("tgt_id"), col(vecCol).as("nv"))
      .withColumn("nn", normCol($"nv"))
      .withColumn("bucket", hyperplaneBucket($"nv", planes, dim))
    val scored = qa.join(cb, Seq("bucket"))
      .withColumn("sim_e6",
        floor(cosineWithNorms($"qv", $"qn", $"nv", $"nn") * 1000000.0 + 0.5)
          .cast("long") + 1000000L)
      .select($"src_id", $"tgt_id", $"sim_e6")
    marginFromScored(scored, k, thresholdE6)
  }

  /** The shared margin chain over a `(src_id, tgt_id, sim_e6)` score
    * relation — brute and bucketed paths differ ONLY in how that
    * relation is produced.
    */
  private def marginFromScored(scored: DataFrame, k: Int,
      thresholdE6: Long): DataFrame = {
    val wx = Window.partitionBy(col("src_id"))
      .orderBy(col("sim_e6").desc, col("tgt_id").asc)
    val wy = Window.partitionBy(col("tgt_id"))
      .orderBy(col("sim_e6").desc, col("src_id").asc)
    val wxp = Window.partitionBy(col("src_id"))
    val wyp = Window.partitionBy(col("tgt_id"))
    val wBest = Window.partitionBy(col("src_id"))
      .orderBy(col("margin_e6").desc, col("tgt_id").asc)
    scored
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
      .withColumn("__sa",
        sum(when(col("rx") <= k, col("sim_e6")).otherwise(0L)).over(wxp))
      .withColumn("__sb",
        sum(when(col("ry") <= k, col("sim_e6")).otherwise(0L)).over(wyp))
      // mean divisor is least(k, candidate count): a sparse-candidate
      // endpoint (possible only on the bucketed path) divides by what
      // it actually summed, so margins stay comparable across paths
      // and a thin bucket cannot inflate its mean downward
      .withColumn("__na", least(count(lit(1)).over(wxp), lit(k.toLong)))
      .withColumn("__nb", least(count(lit(1)).over(wyp), lit(k.toLong)))
      .withColumn("margin_e6",
        expr("(2 * sim_e6 * 1000000) div greatest(__sa div __na + __sb div __nb, 1)"))
      .withColumn("__rb", row_number().over(wBest))
      .filter(col("__rb") === 1)
      .select(col("src_id"), col("tgt_id"), col("sim_e6"), col("margin_e6"),
        (col("margin_e6") >= thresholdE6).cast("int").as("accepted"))
  }

  /** Deterministic random hyperplane constants (fixed seed). Public so
    * the DuckDB oracle SQL is generated from the SAME array — both
    * engines bucket with literally identical plane coefficients.
    */
  def hyperplanes(planes: Int, dim: Int, seed: Int = 42): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** Deterministic random hyperplanes (fixed seed) → sign-bit bucket.
    * `planes` bits; vectors in the same bucket are ANN candidates.
    * Collision probability for angle θ: (1 − θ/π)^planes.
    */
  def hyperplaneBucket(v: Column, planes: Int, dim: Int, seed: Int = 42): Column =
    graft.functions.HyperplaneBuckets.bucket(
      v, hyperplanes(planes, dim, seed).toSeq.map(_.toSeq))

  /** IVF (inverted-file) ANN top-k: partition the corpus into Voronoi
    * cells around k-means centroids, then search only the `nProbe`
    * cells nearest each query. The standard scale path when
    * hyperplane LSH recall is poor (near-orthogonal high-dim data):
    * cost ≈ corpus/nCentroids × nProbe per query instead of the full
    * corpus. Centroids are fit once (seeded, deterministic) and
    * broadcast; assignment is one pass.
    *
    * `fit = "sample"` (default) trains on the bounded 10k driver
    * sample — cheap, adequate when the sample represents the corpus;
    * `fit = "parallel"` runs the distributed [[kmeansParallelFit]]
    * (kmeans‖), which sees every row — the 100 TB codebook path.
    *
    * Skew bound: a degenerate codebook funneling a constant fraction
    * of the corpus into ONE cell would otherwise make every probe of
    * that cell brute-force-sized. `maxCellSize` applies the
    * [[semanticDedup]] sub-cell discipline: an overfull cell splits
    * into ⌈n/maxCellSize⌉ md5(id)-hashed sub-cells and queries probe
    * ALL sub-cells of each probed cell — the probed SET is unchanged
    * (output bit-identical), but every join key group is bounded, so
    * the plan survives a hostile codebook even when the query side is
    * too big to broadcast and the join must hash on the cell key.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int, nProbe: Int, seed: Int = 42,
      fit: String = "sample", maxCellSize: Long = 1L << 16): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be positive, got $maxCellSize")
    require(fit == "sample" || fit == "parallel",
      s"unknown fit '$fit' (expected sample | parallel)")
    val spark = corpus.sparkSession
    import spark.implicits._
    // "sample": fit centroids on a driver-side sample — nCentroids is
    // small and Lloyd's iterations on a bounded sample avoid an MLlib
    // dependency on the hot path. Deterministic: seeded sample + fixed
    // iterations; sample ordered by id before limiting (a bare limit
    // takes whichever partitions answer first and varies across runs).
    val cs =
      if (fit == "parallel")
        kmeansParallelFit(corpus.select(col(idCol), col(vecCol)),
          idCol, vecCol, nCentroids, seed = seed)
      else kmeansFit(boundedSample(corpus, idCol, vecCol), nCentroids, seed)
    val dim = cs.head.length
    val assignUdf = udf((v: Seq[Float]) => nearestIdx(v.map(_.toDouble).toArray, cs))
    val probeUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble).toArray
      cs.indices.map { i =>
        var d = 0.0; var j = 0
        while (j < dim) { val x = vd(j) - cs(i)(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    val c0 = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("cell", assignUdf(col("nv")))
      .withColumn("nn", normCol(col("nv"))) // once per row, before the join
      .localCheckpoint(eager = false) // two consumers: sizes + join
    // oversized-cell split: sizes are a codebook-sized aggregate,
    // broadcast back; sub-cell = md5(id) mod ⌈n/maxCellSize⌉
    val cellSizes = c0.groupBy($"cell").agg(count(lit(1)).as("__cell_n"))
      .withColumn("__n_sub",
        greatest(lit(1L), ceil($"__cell_n" / lit(maxCellSize.toDouble)).cast("long")))
      .select($"cell", $"__n_sub")
    val c = c0.join(broadcast(cellSizes), Seq("cell"))
      .withColumn("sub", when($"__n_sub" <= 1, lit(0L)).otherwise(
        pmod(conv(substring(md5(concat_ws(":", lit("ivfsub"),
          $"neighbor_id".cast("string"))), 1, 15), 16, 10).cast("long"),
          $"__n_sub")))
      .drop("__n_sub")
    // each probe fans out to every sub-cell of the probed cell — the
    // probed set is exactly the unsplit operator's
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
      .withColumn("qn", normCol(col("qv")))
      .join(broadcast(cellSizes), Seq("cell"))
      .withColumn("sub", explode(sequence(lit(0L), $"__n_sub" - 1)))
      .drop("__n_sub"))
    val scored = q.join(c, Seq("cell", "sub")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
  }

  /** Deterministic bounded codebook-training sample: ordered by id
    * before the limit (a bare limit takes whichever partitions answer
    * first and varies run to run). ≤10k × dim doubles on the driver —
    * the same bounded-driver-work trade as the IVF centroid fit.
    */
  private def boundedSample(corpus: DataFrame, idCol: String, vecCol: String): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.orderBy(col(idCol)).select(col(vecCol)).limit(10000)
      .as[Seq[Float]].collect().map(_.map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty corpus")
    sample
  }

  private def nearestIdx(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      var d = 0.0; var j = 0
      while (j < v.length) { val x = v(j) - cs(i)(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Seeded Lloyd's iterations on a driver-side sample (deterministic:
    * seeded init + fixed iteration count; empty cells keep their old
    * centroid).
    */
  private def kmeansFit(sample: Array[Array[Double]], k: Int, seed: Int,
      iters: Int = 10): Array[Array[Double]] = {
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    var centroids = Array.fill(k)(sample(rnd.nextInt(sample.length)).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestIdx(v, centroids)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** DISTRIBUTED codebook fit: kmeans‖ initialization (Bahmani et al.,
    * "Scalable K-Means++", VLDB 2012) + distributed Lloyd refinement —
    * the scale upgrade of [[kmeansFit]]'s bounded 10k driver sample.
    * When the corpus is 100 TB the sample no longer represents the
    * distribution; this fit sees EVERY row while keeping driver state
    * control-plane sized (the candidate set, ≈ `oversample · rounds`
    * vectors).
    *
    * Per round: broadcast the candidate set, compute every row's d² to
    * its nearest candidate (map-side; one aggregate for the total
    * cost), then admit rows whose salted-md5 uniform falls under
    * `oversample · d² / totalCost` — the kmeans‖ oversampling draw,
    * made DETERMINISTIC and partitioning-independent by hashing
    * (seed, round, id) instead of consuming an RNG stream. Collected
    * admissions per round are ≈ `oversample` rows (expectation).
    * After the rounds, every candidate is weighted by the number of
    * rows nearest to it (one distributed pass) and the final k centers
    * come from weighted Lloyd on the candidate set — driver-side, but
    * over ≤ `1 + oversample · rounds` rows, never the corpus.
    *
    * Output feeds [[semanticDedup]] (as a `(cid, cv)` frame via
    * [[centroidsDF]]) and [[ivfTopK]]-shaped cell assignment.
    *
    * Determinism note: admissions and candidate ORDER are pinned (the
    * draw hashes (seed, round, id); collected admissions sort by id
    * before appending — collect order follows partition order, and
    * candidate order feeds the Lloyd init). The one float caveat: the
    * per-round total cost is a distributed double sum, so a row whose
    * uniform lands within an ulp of its admission threshold could
    * flip across partitionings — measure-zero in practice, and spec'd
    * exact across a repartition on real data.
    */
  def kmeansParallelFit(df: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 5, oversample: Double = 0, seed: Int = 42,
      lloydIters: Int = 10): Array[Array[Double]] = {
    require(k >= 1, s"k must be positive, got $k")
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val l = if (oversample > 0) oversample else 2.0 * k // paper default ~2k
    val data = df.select(col(idCol).cast("string").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint(eager = false) // re-read every round
    // seed center: the row with the smallest salted hash — deterministic,
    // partitioning-independent, and not biased toward low ids
    val first = data
      .withColumn("h", md5(concat_ws(":", lit(s"km$seed-seed"), $"id")))
      .orderBy($"h", $"id").limit(1)
      .select($"v").as[Seq[Double]].head().toArray
    var candidates = Vector(first)
    for (round <- 1 to rounds) {
      val bc = spark.sparkContext.broadcast(candidates.toArray.map(_.clone()))
      val d2 = udf((v: Seq[Double]) => {
        val vd = v.toArray
        var best = Double.MaxValue
        val cs = bc.value
        var i = 0
        while (i < cs.length) {
          var d = 0.0; var j = 0
          while (j < vd.length) { val x = vd(j) - cs(i)(j); d += x * x; j += 1 }
          if (d < best) best = d
          i += 1
        }
        best
      })
      val costed = data.withColumn("d2", d2($"v"))
      val total = costed.agg(sum($"d2")).as[Double].head()
      if (total <= 0) {
        bc.destroy()
        // all rows coincide with a candidate — nothing left to cover
        return finishKmeans(data, candidates, k, seed, lloydIters)
      }
      // u(id, round) < l * d2 / total  — the kmeans|| admission draw.
      // uniform from the first 15 md5 hex chars (60 bits).
      val u = conv(substring(md5(concat_ws(":",
          lit(s"km$seed-r$round"), $"id")), 1, 15), 16, 10)
        .cast("double") / lit((1L << 60).toDouble)
      // collect WITH ids and sort: the admitted SET is deterministic,
      // but collect order follows partition order — and candidate
      // order feeds the weighted-Lloyd init, so it must be pinned too
      val admitted = costed
        .filter(u < lit(l) * $"d2" / lit(total))
        .select($"id", $"v").as[(String, Seq[Double])].collect()
        .sortBy(_._1)
      candidates = candidates ++ admitted.map(_._2.toArray)
      bc.destroy()
    }
    finishKmeans(data, candidates, k, seed, lloydIters)
  }

  /** Weight candidates by their nearest-assignment counts (one
    * distributed pass), then weighted Lloyd over the candidate set on
    * the driver — the kmeans‖ finishing step.
    */
  private def finishKmeans(data: DataFrame, candidates: Vector[Array[Double]],
      k: Int, seed: Int, lloydIters: Int): Array[Array[Double]] = {
    val spark = data.sparkSession
    import spark.implicits._
    val cs = candidates.toArray
    val bc = spark.sparkContext.broadcast(cs)
    val nearest = udf((v: Seq[Double]) => nearestIdx(v.toArray, bc.value))
    val weights = new Array[Long](cs.length)
    data.select(nearest($"v").as("c")).groupBy($"c").count()
      .as[(Int, Long)].collect().foreach { case (c, n) => weights(c) = n }
    bc.destroy()
    // fewer candidates than k (small corpora, tiny oversample, or the
    // total<=0 early exit): PAD with distinct data vectors so callers
    // get the codebook size they asked for — a silently smaller
    // codebook changes ivfTopK's nProbe/nCentroids pruning semantics.
    // Padding is deterministic (distinct vectors keyed by min id,
    // ordered by salted hash) and bounded (≤ k rows collected); if the
    // corpus has fewer than k DISTINCT vectors, k centers don't exist
    // and the distinct set is returned as-is.
    if (cs.length <= k) {
      // the admission draws can admit byte-identical rows in different
      // rounds — dedupe (first occurrence) so the returned codebook
      // never carries duplicate centers, then pad back up to k
      val seen = scala.collection.mutable.Set[Seq[Double]]()
      val distinctCs = candidates.filter(c => seen.add(c.toSeq))
      val padded =
        if (distinctCs.length < k) padWithDistinctRows(data, distinctCs, k)
        else distinctCs.toArray
      return padded.map(_.clone())
    }
    // weighted Lloyd on the (control-plane-sized) candidate set;
    // deterministic init: the k heaviest candidates, ties by index
    val dim = cs.head.length
    var centers = weights.zipWithIndex.sortBy { case (w, i) => (-w, i) }
      .take(k).map { case (_, i) => cs(i).clone() }
    for (_ <- 1 to lloydIters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Double](k)
      var i = 0
      while (i < cs.length) {
        if (weights(i) > 0) {
          val c = nearestIdx(cs(i), centers)
          counts(c) += weights(i).toDouble
          var j = 0
          while (j < dim) { sums(c)(j) += cs(i)(j) * weights(i); j += 1 }
        }
        i += 1
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centers
  }

  /** Deterministic codebook padding for [[finishKmeans]]: distinct data
    * vectors (keyed by their min id so "which row represents this
    * vector" is pinned), ordered by a salted hash of that id, skipping
    * vectors already in the candidate set, until the codebook reaches
    * `k` or the distinct vectors run out. One bounded collect (≤ k
    * rows after the limit).
    */
  private def padWithDistinctRows(data: DataFrame,
      candidates: Vector[Array[Double]], k: Int): Array[Array[Double]] = {
    val spark = data.sparkSession
    import spark.implicits._
    val existing = scala.collection.mutable.Set[Seq[Double]](
      candidates.map(_.toSeq): _*)
    val extras = data.groupBy($"v").agg(min($"id").as("id"))
      .withColumn("h", md5(concat_ws(":", lit("km-pad"), $"id")))
      .orderBy($"h", $"id").limit(k + candidates.length)
      .select($"v").as[Seq[Double]].collect()
    val out = scala.collection.mutable.ArrayBuffer[Array[Double]](
      candidates.map(_.clone()): _*)
    val it = extras.iterator
    while (out.length < k && it.hasNext) {
      val v = it.next()
      if (existing.add(v)) out += v.toArray
    }
    out.toArray
  }

  /** The `(cid, cv)` codebook frame [[semanticDedup]] expects, with
    * ids 0..k-1 in center order.
    */
  def centroidsDF(spark: SparkSession, centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cid", "cv")
  }

  /** Product-quantization ANN top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * COMPRESSION scale path beside LSH's and IVF's pruning paths. The
    * vector is split into `m` subspaces, each quantized to its nearest
    * of `ksub` per-subspace centroids, so the corpus scan reads `m`
    * one-byte codes per vector (32× smaller than `dim` floats at
    * m=8, dim=64) — at 100 TB that is the difference between an
    * in-memory shortlist scan and re-reading parquet. Scoring is ADC
    * (asymmetric distance): each query precomputes its m×ksub table of
    * subspace dot products ONCE, then every corpus row costs m lookups
    * + adds; the approximate top `k·shortlistFactor` are re-ranked with
    * the EXACT cosine, so emitted scores are identical to [[bruteTopK]]
    * for the ids it finds (recall is spec'd against it).
    *
    * Production composition is IVF cells + PQ codes within each cell
    * (IVF-PQ) — both halves exist here independently and compose by
    * substituting this scorer for ivfTopK's exact one.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 256, shortlistFactor: Int = 8,
      seed: Int = 42): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = boundedSample(corpus, idCol, vecCol)
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => kmeansFit(sample.map(v => v.slice(j * sub, (j + 1) * sub)), ksub, seed + j))
    val encodeUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble).toArray
      (0 until m).map(j => nearestIdx(vd.slice(j * sub, (j + 1) * sub), codebooks(j)))
    })
    // per-QUERY lookup table: dot(q_subvector_j, centroid_{j,c}) for all
    // (j, c), flattened j*ksub + c
    val tableUdf = udf((qv: Seq[Float]) => {
      val qd = qv.map(_.toDouble).toArray
      val t = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          var s = 0.0; var i = 0
          while (i < sub) { s += qd(j * sub + i) * codebooks(j)(c)(i); i += 1 }
          t(j * ksub + c) = s
          c += 1
        }
        j += 1
      }
      t.toSeq
    })
    val adcUdf = udf((table: Seq[Double], codes: Seq[Int]) => {
      var s = 0.0; var j = 0
      while (j < codes.length) { s += table(j * ksub + codes(j)); j += 1 }
      s
    })
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qtab", tableUdf($"qv"))
      .withColumn("qn", normCol($"qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("codes", encodeUdf($"nv"))
      .withColumn("nn", normCol($"nv"))
    // approximate COSINE: ADC reconstructs the dot product; dividing by
    // the exact stored neighbor norm makes the shortlist metric match
    // the re-rank metric (a raw-dot shortlist would bias toward
    // large-norm vectors and tank recall)
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("approx", adcUdf($"qtab", $"codes") / $"nn")
    val wa = Window.partitionBy($"query_id").orderBy($"approx".desc, $"neighbor_id".asc)
    scored.withColumn("arank", row_number().over(wa))
      .filter($"arank" <= k * shortlistFactor)
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
  }

  /** IVF-PQ: the production ANN composition — IVF cells PRUNE (each
    * query scores only its `nProbe` nearest cells' members, an EQUI
    * join on the cell id, never a corpus scan) and PQ codes COMPRESS
    * (members are scored from `m` one-byte codes via the query's ADC
    * table). Shortlist + exact re-rank as in [[pqTopK]], so emitted
    * scores are exact cosines. Codebooks are seeded identically to
    * [[pqTopK]]'s: with `nProbe = nCentroids` the candidate set (and
    * therefore the output) equals pqTopK's — the spec pins that, and
    * recall at partial probe is spec'd against [[bruteTopK]].
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int, nProbe: Int,
      m: Int = 8, ksub: Int = 256, shortlistFactor: Int = 8,
      seed: Int = 42): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = boundedSample(corpus, idCol, vecCol)
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val coarse = kmeansFit(sample, nCentroids, seed)
    val codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => kmeansFit(sample.map(v => v.slice(j * sub, (j + 1) * sub)), ksub, seed + j))
    val encodeUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble).toArray
      (0 until m).map(j => nearestIdx(vd.slice(j * sub, (j + 1) * sub), codebooks(j)))
    })
    val assignUdf = udf((v: Seq[Float]) => nearestIdx(v.map(_.toDouble).toArray, coarse))
    val probeUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble).toArray
      coarse.indices.map { i =>
        var d = 0.0; var j = 0
        while (j < dim) { val x = vd(j) - coarse(i)(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    val tableUdf = udf((qv: Seq[Float]) => {
      val qd = qv.map(_.toDouble).toArray
      val t = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          var s = 0.0; var i = 0
          while (i < sub) { s += qd(j * sub + i) * codebooks(j)(c)(i); i += 1 }
          t(j * ksub + c) = s
          c += 1
        }
        j += 1
      }
      t.toSeq
    })
    val adcUdf = udf((table: Seq[Double], codes: Seq[Int]) => {
      var s = 0.0; var j = 0
      while (j < codes.length) { s += table(j * ksub + codes(j)); j += 1 }
      s
    })
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("cell", assignUdf($"nv"))
      .withColumn("codes", encodeUdf($"nv"))
      .withColumn("nn", normCol($"nv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeUdf($"qv")))
      .withColumn("qtab", tableUdf($"qv"))
      .withColumn("qn", normCol($"qv")))
    val scored = q.join(c, Seq("cell")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("approx", adcUdf($"qtab", $"codes") / $"nn")
    val wa = Window.partitionBy($"query_id").orderBy($"approx".desc, $"neighbor_id".asc)
    scored.withColumn("arank", row_number().over(wa))
      .filter($"arank" <= k * shortlistFactor)
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
  }

  /** NN-Descent-flavored k-NN GRAPH construction: every corpus vector
    * gets its k nearest neighbors, refined iteratively — the batch
    * analogue of HNSW's neighbor-graph layer and the third scale path
    * beside LSH and IVF (Dong et al., "Efficient K-Nearest Neighbor
    * Graph Construction for Generic Similarity Measures", WWW'11).
    *
    * Round 0 seeds each node's list with exact-scored candidates from
    * its buckets in `tables` INDEPENDENT hyperplane-LSH tables
    * (consecutive seeds). Independence is load-bearing, not a recall
    * tweak: a single table decomposes the seed graph into per-bucket
    * connected components, and co-neighbor proposals can never leave a
    * component — refinement would be a provable no-op. Overlapping
    * tables make the seed graph connected, which is what gives the
    * descent something to mix.
    *
    * Each refinement round then exploits "a neighbor of my neighbor is
    * likely my neighbor": symmetrize the current graph, propose every
    * pair of co-neighbors (u, w) sharing a pivot v (the local join),
    * union the incumbent edges, re-score exactly, and keep the top k
    * per node. A fixed round count (not convergence detection) keeps
    * the result a total, deterministic function of the input —
    * bit-identical across engines with the round-6 cosine + id
    * tiebreak, so the gate can hash it.
    *
    * Scale shape: proposals per round are Σ_v |B(v)|² ≤ N·(2k)² — linear
    * in N for fixed k, never a cross join; every stage shuffles on a
    * node id. Exact scoring touches candidate pairs only. The vector
    * relation is a local checkpoint, filled once and re-read by each
    * round's two score joins (multi-consumer convention, like NearDup's
    * shingles).
    *
    * Small corpora are solved on the driver ([[VectorGate]], behind the
    * bounded-collect gate the graph operators share): when the vectors
    * fit 2^22 doubles, the ids are non-NULL, distinct and integral or
    * string, and the seed pair work Σ_tables Σ_buckets |b|² (from the
    * bucket sizes, before any scoring) is at most 2^22, the relation is
    * collected once and the same seeding and rounds run there, with the
    * same constants and tie-breaks. That costs two jobs (fill and
    * measure the relation; collect it), where the distributed rounds
    * launch a few per round, and the result is a frame over local rows.
    * Above the gate the probe is the job that fills the relation, which
    * the distributed path reads anyway.
    */
  def knnGraph(corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int, dim: Int,
      rounds: Int, tables: Int = 2, seed: Int = 42): DataFrame =
    knnGraphGated(corpus, idCol, vecCol, k, planes, dim, rounds, tables, seed,
      VectorGate.Budget, VectorGate.PairWorkLimit)

  /** [[knnGraph]] behind a driver budget of `limit` doubles and a seed
    * pair-work bound of `pairLimit`; `limit = 0` forces the distributed
    * path (the specs run every case on both paths).
    */
  private[graft] def knnGraphGated(corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int, dim: Int,
      rounds: Int, tables: Int, seed: Int, limit: Long, pairLimit: Long): DataFrame = {
    require(tables >= 1, s"need at least one LSH table: $tables")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val frame = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", normCol($"v"))
    val idType = frame.schema("id").dataType
    // the vector relation, filled and measured by the gate's one job;
    // the distributed rounds read its blocks (each round's two score
    // joins — the multi-consumer convention, like NearDup's shingles)
    val (c, local) = Jobs.labeled(sc, "knn graph: gate") {
      val (ck, fits) = DriverGate.checkpointFits(frame,
        if (VectorGate.localIds(idType)) limit else 0L, VectorGate.weight)
      (ck, if (!fits) None else VectorGate.Vecs.of(DriverGate.internalRows(ck), idType)
        .flatMap(VectorGate.knnGraph(_, k,
          (0 until tables).map(t => hyperplanes(planes, dim, seed + t)), rounds, pairLimit)))
    }
    def topk(pairs: DataFrame): DataFrame = {
      // dst join first, src join last: the rank window partitions by
      // src — ending the join chain on src lets the window reuse the
      // join's partitioning when the joins shuffle (the layerEdges
      // rationale and plan pair; inner equi-joins commute, values
      // identical)
      val scored = pairs
        .join(c.select($"id".as("dst"), $"v".as("dv"), $"n".as("dn")), "dst")
        .join(c.select($"id".as("src"), $"v".as("sv"), $"n".as("sn")), "src")
        .withColumn("cosine", round(cosineWithNorms($"sv", $"sn", $"dv", $"dn"), 6))
      val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst".asc)
      scored.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"src", $"rank", $"dst", $"cosine")
    }
    def out(g: DataFrame): DataFrame =
      g.select($"src".as("query_id"), $"rank", $"dst".as("neighbor_id"), $"cosine")
    local match {
      case Some(rows) =>
        DriverGate.free(c)
        // the distributed plan's schema, nullability included
        DriverGate.frame(spark, rows,
          out(topk(c.select($"id".as("src"), $"id".as("dst")))).schema)
      case None =>
        // ONE projection computes every LSH table's bucket key (the r13
        // hnswTopK layerEdges shape): the hyperplane dot products are the
        // per-row cost, so computing all tables in one pass — lazily
        // checkpointed so each table's two self-join sides read
        // materialized narrow rows — replaces `tables` separate
        // projections over the corpus (2 per table via the self-join)
        val bk = c.select(($"id" +: (0 until tables).map { t =>
            hyperplaneBucket($"v", planes, dim, seed + t).as(s"b$t")
          }): _*)
          .localCheckpoint(eager = false)
        val seedPairs = (0 until tables).map { t =>
          bk.as("x").join(bk.as("y"),
              col(s"x.b$t") === col(s"y.b$t") && col("x.id") =!= col("y.id"))
            .select(col("x.id").as("src"), col("y.id").as("dst"))
        }.reduce(_ union _)
        // each round reads the previous graph three times (two symmetrize
        // branches + the incumbent union) — without cutting lineage every
        // round, recomputation nests EXPONENTIALLY in `rounds`; same
        // per-round localCheckpoint as the ConnectedComponents loop
        var g = Jobs.labeled(sc, "knn graph: seed")(topk(seedPairs.distinct()).localCheckpoint())
        for (r <- 1 to rounds) {
          val edges = g.select($"src", $"dst")
          val undirected = edges
            .union(edges.select($"dst".as("src"), $"src".as("dst"))).distinct()
          val proposals = undirected.as("a")
            .join(undirected.as("b"), col("a.src") === col("b.src"))
            .select(col("a.dst").as("src"), col("b.dst").as("dst"))
            .filter($"src" =!= $"dst")
          g = Jobs.labeled(sc, s"knn graph: round $r")(
            topk(proposals.union(edges).distinct()).localCheckpoint())
        }
        // every reader of the vector relation ran inside the loop (the
        // final localCheckpoint above is eager), so free its blocks
        // before handing back the checkpoint-backed result
        DriverGate.free(c)
        out(g)
    }
  }

  /** HNSW-style layered ANN top-k (Malkov & Yashunin, "Efficient and
    * robust approximate nearest neighbor search using Hierarchical
    * Navigable Small World graphs", TPAMI 2020), re-expressed for a
    * shared-nothing engine: the high-recall graph search that
    * complements bucketed LSH/IVF when a query must escape its own
    * bucket — beam search over per-layer neighbor graphs instead of a
    * single bucket's candidates.
    *
    * Layer membership is deterministic (HNSW's geometric level draw
    * realized with the engine-wide 60-bit md5 uniform): a node joins
    * layer j iff `hash60("hnsw<seed>:" + id) ≡ 0 (mod fanout^j)` —
    * exactly P = fanout^-j per level (fanout is a power of two, so
    * fanout^j divides 2^60) and nested by construction (layer j+1 ⊆
    * layer j; layer 0 is the whole corpus). Each layer carries a
    * navigable-small-world graph: LSH-bucketed candidate pairs
    * (`tables` independent hyperplane tables per layer, seeds offset
    * per layer) ranked to the top-`degree` out-edges per node, then
    * symmetrized — [[knnGraph]]'s round-0 seeding, whose
    * table-independence argument applies per layer.
    *
    * Search descends: the beam ENTERS at the top layer scored against
    * all its members (geometrically small — pick `layers` ≈
    * log_fanout(N / entrySize), so the entry stays broadcastable at
    * any corpus size), then at each lower layer expands `hops` times
    * through that layer's symmetrized edges, re-scores exactly against
    * the query, and keeps the top-`beam` per query (round-6 cosine +
    * id tiebreak — bit-stable across engines, so the whole search is a
    * total deterministic function of the input and the gate can hash
    * it). The layer-0 beam's head is the top-k.
    *
    * Scale shape: every stage is a bounded equi-join. Layer graphs
    * shuffle on node id with Σ_bucket |b|² candidate pairs (the LSH
    * bucket bound, halved per extra layer); beam expansion joins
    * |Q|·beam rows against degree-bounded edges; the only cross join
    * is the entry against the BROADCAST top layer. Beam state and
    * reused edge frames are localCheckpointed per round (the
    * [[knnGraph]] lineage convention). Recall is spec-pinned against
    * [[bruteTopK]].
    *
    * Defaults follow HNSW practice (M = 16 out-edges, ef ≥ 16): on the
    * near-orthogonal synthetic embeddings — the adversarial regime for
    * graph ANN — degree is the recall lever (4 → 0.58, 16 → 1.00
    * recall@3 at sf0.001; HnswSpec's sweep). Each layer's bucket count
    * is sized to its MEMBERSHIP by default (`planes = 0` →
    * [[graft.textops.NearDup.autoPlanes]] per layer, the q24
    * bucket ∝ N rule): a fixed plane count would make the
    * within-bucket pair work quadratic in the corpus, while the sized
    * ladder keeps it ≈ N × targetBucket × tables — at sf0.1 that cuts
    * layer-0 scored pairs 8× (6.2M → 0.8M). Pass `planes > 0` to pin
    * the ladder explicitly ([[lshTopK]]/[[knnGraph]] convention).
    *
    * A corpus and query set that together fit 2^22 doubles, with
    * non-NULL distinct ids of one integral or string type, are searched
    * on the driver ([[VectorGate]], the gate [[knnGraph]] and the graph
    * operators share): the layer-count aggregate also measures the
    * corpus, one job collects it and a bounded `limit` collect reads
    * the queries, and the same layers, edges and beam rounds run there.
    * The distributed search runs about nine shuffle rounds (entry +
    * per-layer edges/hops) of fixed job latency, which only AMORTIZE at
    * scale, where per-round data work dwarfs round latency.
    */
  def hnswTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      beam: Int = 16, degree: Int = 16, layers: Int = 3, fanout: Long = 8,
      planes: Int = 0, tables: Int = 2, hops: Int = 2, seed: Int = 42,
      targetBucket: Int = graft.textops.NearDup.EmbedTargetBucket): DataFrame =
    hnswTopKGated(corpus, queries, idCol, vecCol, k, dim, beam, degree, layers, fanout,
      planes, tables, hops, seed, targetBucket, VectorGate.Budget)

  /** [[hnswTopK]] behind a driver budget of `limit` doubles (corpus and
    * queries together); `limit = 0` forces the distributed path (the
    * specs run every case on both paths).
    */
  private[graft] def hnswTopKGated(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      beam: Int, degree: Int, layers: Int, fanout: Long,
      planes: Int, tables: Int, hops: Int, seed: Int,
      targetBucket: Int, limit: Long): DataFrame = {
    require(layers >= 1, s"need at least one layer: $layers")
    require(beam >= k, s"beam ($beam) must cover k ($k)")
    require(fanout >= 2 && (fanout & (fanout - 1)) == 0,
      s"fanout must be a power of two so levels are exactly geometric: $fanout")
    require((layers - 1) * java.lang.Long.numberOfTrailingZeros(fanout) <= 60,
      s"fanout^(layers-1) must divide 2^60: fanout=$fanout layers=$layers")
    require(hops >= 1, s"need at least one hop per layer: $hops")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val layerMods = Array.tabulate(layers)(j => (0 until j).foldLeft(1L)((a, _) => a * fanout))
    val frame = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", normCol($"v"))
      .withColumn("h60", conv(substring(
        md5(concat(lit(s"hnsw$seed:"), $"id".cast("string"))), 1, 15), 16, 10)
        .cast("long"))
    // the vector relation, filled by the one pass that counts every
    // layer's members — sizing the per-layer bucket ladders AND picking
    // the entry layer — and the corpus' doubles for the driver gate;
    // every layer graph and beam round reads its blocks
    val (c, counts) = Jobs.labeled(sc, "hnsw: gate")(
      DriverGate.checkpointAggregate(frame, new Array[Long](layers + 1))(
        (a, r) => {
          if (!r.isNullAt(3))
            layerMods.indices.foreach(j => if (r.getLong(3) % layerMods(j) == 0) a(j) += 1)
          a(layers) += VectorGate.weight(r)
          a
        },
        (a, b) => { a.indices.foreach(i => a(i) += b(i)); a }))
    val qf = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", normCol($"qv"))
    val layerCount = counts.toSeq.take(layers)
    // planes = 0 (the default) sizes each layer's bucket count to its
    // membership — the [[graft.textops.NearDup.autoPlanes]] bucket ∝ N
    // rule, without which the within-bucket pair work is quadratic in
    // the corpus (the q24 lesson applied per layer)
    def planesFor(j: Int): Int =
      if (planes > 0) planes
      else graft.textops.NearDup.autoPlanes(layerCount(j), targetBucket)
    def members(j: Int): DataFrame = c.filter($"h60" % lit(layerMods(j)) === 0)
    // top-degree out-edges per node within layer j, symmetrized.
    // r13 shape (layer-graph construction measured as 3.2 of q88's
    // 4.2 s of job time): ALL tables' bucket keys come from ONE
    // projection over the members (the hyperplane dot products are the
    // per-row cost — one pass instead of one per table), lazily
    // checkpointed so each table's TWO self-join sides read
    // materialized narrow rows (the scoring joins read `mem` — they
    // need v/n, which bk drops, so they re-filter the corpus
    // blocks: a scan, not a recompute); and the
    // symmetrized result skips
    // its final distinct — the descent's `expanded.distinct()` dedups
    // candidates anyway, so edge multiplicity cannot reach a result
    // (kept: the PAIR distinct before scoring, which row_number needs
    // for correct top-degree ranks).
    def layerEdges(j: Int): DataFrame = {
      val mem = members(j)
      val bk = mem.select(($"id" +: (0 until tables).map { t =>
          hyperplaneBucket($"v", planesFor(j), dim, seed + j * tables + t)
            .as(s"b$t")
        }): _*)
        .localCheckpoint(eager = false)
      val pairs = (0 until tables).map { t =>
        bk.as("x").join(bk.as("y"),
            col(s"x.b$t") === col(s"y.b$t") && col("x.id") =!= col("y.id"))
          .select(col("x.id").as("src"), col("y.id").as("dst"))
      }.reduce(_ union _).distinct()
      // dst join FIRST, src join LAST: the top-degree window partitions
      // by src, so ending the join chain on the src key lets the window
      // reuse that partitioning when the joins shuffle (at gate scale
      // mem broadcasts and this is moot; at corpus scale it saves one
      // full exchange of the scored pair relation per layer). Inner
      // equi-joins commute — values identical. Plan pair with broadcast
      // joins disabled: plans/r15/scoring_join_src_{last,first}.txt,
      // 5 exchanges src-last vs 6 src-first (the window re-shuffles
      // the scored pairs by src).
      val scored = pairs
        .join(mem.select($"id".as("dst"), $"v".as("dv"), $"n".as("dn")), "dst")
        .join(mem.select($"id".as("src"), $"v".as("sv"), $"n".as("sn")), "src")
        .withColumn("cosine", round6(cosineWithNorms($"sv", $"sn", $"dv", $"dn")))
      val w = Window.partitionBy($"src").orderBy($"cosine".desc, $"dst".asc)
      val top = scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= degree).select($"src", $"dst")
      top.union(top.select($"dst".as("src"), $"src".as("dst")))
    }
    // entry at the deepest NON-empty layer: a small corpus can roll an
    // empty top layer (P ≈ e^(-N/fanout^(layers-1))) and an empty entry
    // would silently return zero rows. At production corpus sizes —
    // and at every gate scale — the top layer is never empty, so the
    // fallback stays un-entered and the oracle's fixed-layer mirror is
    // exact.
    val entryLayer = ((layers - 1) to 0 by -1)
      .find(j => layerCount(j) > 0).getOrElse(0)
    val idType = c.schema("id").dataType
    val budget = limit - counts(layers)
    val local = if (limit <= 0 || budget < 0 || !VectorGate.localIds(idType) ||
        qf.schema("query_id").dataType != idType) None
      else Jobs.labeled(sc, "hnsw: gate") {
        for {
          vs <- VectorGate.Vecs.of(DriverGate.internalRows(c), idType)
          qrows <- DriverGate.internalRowsUpTo(qf, budget)
          if qrows.iterator.map(VectorGate.weight).sum <= budget
          qs <- VectorGate.Vecs.of(qrows, idType)
        } yield VectorGate.hnsw(vs, qs, k, beam, degree, layerMods, entryLayer, planesFor,
          dim, tables, hops, seed)
      }
    local match {
      case Some(rows) =>
        DriverGate.free(c)
        // the distributed plan's schema, nullability included
        DriverGate.frame(spark, rows, beamTopK(rankBeam(c, qf,
          qf.select($"query_id").crossJoin(c.select($"id".as("cand"))), beam), k).schema)
      case None =>
        // scored against every beam round — persisted
        val q = qf.persist()
        val out = hnswBeamDescent(c, q, members(entryLayer),
          ((entryLayer - 1) to 0 by -1).map(layerEdges), k, beam, hops)
        // the descent's localCheckpoints are eager, so the vector
        // relation and the query cache have no remaining readers
        q.unpersist()
        DriverGate.free(c)
        out
    }
  }

  /** The beam-descent phase of [[hnswTopK]], factored out so an
    * incrementally-maintained index
    * ([[graft.streaming.StreamHnswIndex]]) can search over PREBUILT
    * layer graphs with the identical op/tiebreak sequence. `c` is the
    * corpus as `(id, v, n)`, `q` the queries as `(query_id, qv, qn)`,
    * `entryMembers` the entry layer's ids, `layerEdgesDesc` the
    * symmetrized adjacency frames for the layers BELOW the entry in
    * descending order. Every rank is (round-6 cosine desc, id asc) —
    * a total deterministic function of the inputs.
    */
  private[graft] def hnswBeamDescent(c: DataFrame, q: DataFrame,
      entryMembers: DataFrame, layerEdgesDesc: Seq[DataFrame],
      k: Int, beam: Int, hops: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    // a query that IS a corpus member keeps itself in the beam as a
    // NAVIGATION seed (cosine 1.0 — real HNSW keeps the entry node
    // even when it equals the query; dropping it can empty the beam
    // when it is an upper layer's only member). Self is excluded only
    // in the final re-rank.
    val sc = spark.sparkContext
    val entry = q.select($"query_id")
      .crossJoin(broadcast(entryMembers.select($"id".as("cand"))))
    var b = Jobs.labeled(sc, "hnsw: entry beam")(rankBeam(c, q, entry, beam).localCheckpoint())
    var li = 0
    for (edges0 <- layerEdgesDesc) {
      val edges = if (hops > 1)
        Jobs.labeled(sc, s"hnsw: layer $li edges")(edges0.localCheckpoint())
      else edges0
      for (h <- 1 to hops) {
        val expanded = b.select($"query_id", $"cand".as("src"))
          .join(edges, "src")
          .select($"query_id", $"dst".as("cand"))
          .union(b.select($"query_id", $"cand"))
          .distinct()
        b = Jobs.labeled(sc, s"hnsw: layer $li hop $h beam")(
          rankBeam(c, q, expanded, beam).localCheckpoint())
      }
      li += 1
    }
    beamTopK(b, k)
  }

  /** Exact re-score of a `(query_id, cand)` frame against the corpus `c`
    * and the queries `q`; keeps each query's top `limit`.
    */
  private def rankBeam(c: DataFrame, q: DataFrame, cands: DataFrame, limit: Int): DataFrame = {
    val scored = cands
      .join(c.select(col("id").as("cand"), col("v").as("dv"), col("n").as("dn")), "cand")
      .join(q, "query_id")
      .withColumn("cosine", round6(cosineWithNorms(col("qv"), col("qn"), col("dv"), col("dn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= limit)
      .select(col("query_id"), col("cand"), col("cosine"), col("rnk"))
  }

  /** The top `k` of a ranked beam, self excluded. */
  private def beamTopK(b: DataFrame, k: Int): DataFrame = {
    val wf = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand").asc)
    b.filter(col("cand") =!= col("query_id"))
      .drop("rnk")
      .withColumn("rnk", row_number().over(wf)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand").as("neighbor_id"), col("cosine"))
  }

  /** Bucketed ANN top-k: exact ranking within the query's bucket. Trades
    * recall for a bucket join; [[bruteTopK]] is the recall oracle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val withBucket = (df: DataFrame, id: String, v: String) =>
      df.select(col(id), col(v), hyperplaneBucket(col(v), planes, dim).as("bucket"),
        normCol(col(v)).as("__norm")) // norm once per ROW, before the join
    val q = broadcast(withBucket(queries, idCol, vecCol)
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "qv")
      .withColumnRenamed("__norm", "qn"))
    val c = withBucket(corpus, idCol, vecCol)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(vecCol, "nv")
      .withColumnRenamed("__norm", "nn")
    val scored = q.join(c, Seq("bucket")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
  }

  /** Hard-negative mining for contrastive training: each query's k most
    * similar corpus vectors carrying a DIFFERENT label — the "looks
    * close but isn't" examples an embedding model trains against.
    *
    * Same shape as [[lshTopK]] (bucketed candidates, broadcast query
    * side, per-query window top-k) with the label inequality applied at
    * the candidate join, so same-label rows never reach the scorer. At
    * scale the bucket join shuffles only the corpus's (bucket, id,
    * vec, label) stream once; recall follows the LSH bucket recall
    * (specs pin it against the brute-force filter).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int, planes: Int, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val withBucket = (df: DataFrame) =>
      df.select(col(idCol), col(vecCol), col(labelCol),
        hyperplaneBucket(col(vecCol), planes, dim).as("bucket"),
        normCol(col(vecCol)).as("__norm"))
    val q = broadcast(withBucket(queries)
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "qv")
      .withColumnRenamed(labelCol, "ql").withColumnRenamed("__norm", "qn"))
    val c = withBucket(corpus)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(vecCol, "nv")
      .withColumnRenamed(labelCol, "nl").withColumnRenamed("__norm", "nn")
    val scored = q.join(c, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id" && $"ql" =!= $"nl")
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"nl".as("neighbor_label"), $"cosine")
  }

  /** Maximal-marginal-relevance selection: greedily pick `k` vectors
    * maximizing `lambda * relevance - (1 - lambda) * maxSimToPicked` —
    * the diversity-aware subset selection used to de-redundify a
    * retrieved or curated candidate pool.
    *
    * Each pick depends on the previous one, so the loop makes `k`
    * driver rounds, each a broadcast of ONE picked vector into a narrow
    * column update plus a 1-row `orderBy.limit(1)` collect (a
    * TakeOrdered, never a global sort). Production use is over a
    * bounded candidate pool (an ANN top-N, a stratum sample), which is
    * what keeps `k` scans acceptable; the pool frame is
    * localCheckpointed once so the rounds re-read materialized blocks.
    *
    * Relevance is cosine to `anchor`. Determinism: scores are rounded
    * at 6 before each argmax with an id tiebreak — the oracle unrolls
    * the same rounds as CTEs (the q58 precedent).
    */
  def mmrSelect(pool: DataFrame, idCol: String, vecCol: String,
      anchor: Array[Double], lambda: Double, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = pool.sparkSession
    import spark.implicits._
    val anchorCol = array(anchor.map(lit): _*)
    val base = pool
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", normCol($"v"))
      .withColumn("rel", round(cosineWithNorms($"v", $"n", anchorCol, lit(normOf(anchor))), 6))
      .localCheckpoint(eager = false)
    var remaining = base.withColumn("max_sim", lit(0.0))
    val picks = Seq.newBuilder[(Long, Int, Double, Double)] // id, rnk, rel, score
    for (rnd <- 1 to k) {
      val scoreExpr = round6(lit(lambda) * $"rel" -
        (if (rnd == 1) lit(0.0) else lit(1.0 - lambda) * $"max_sim"))
      val top = remaining.withColumn("score", scoreExpr)
        .orderBy($"score".desc, $"id".asc).limit(1)
        .select($"id", $"rel", $"score", $"v", $"n").collect()
      if (top.nonEmpty) {
        val row = top.head
        val pickedId = row.getLong(0)
        picks += ((pickedId, rnd, row.getDouble(1), row.getDouble(2)))
        val pv = row.getSeq[Double](3).toArray
        val pvCol = array(pv.map(lit): _*)
        remaining = remaining.filter($"id" =!= pickedId)
          .withColumn("max_sim", greatest($"max_sim",
            round(cosineWithNorms($"v", $"n", pvCol, lit(normOf(pv))), 6)))
      }
    }
    picks.result().toDF("vec_id", "rnk", "relevance", "mmr_score")
      .select($"rnk", $"vec_id", $"relevance", $"mmr_score")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate PRUNING by centroid clustering + greedy
    * within-cluster similarity sweep — the embedding-space complement
    * of MinHash dedup (which only catches lexical overlap).
    *
    * Semantics: every vector is assigned to its max-cosine centroid
    * (ties → smallest centroid id). Within each cell, items are swept
    * in (centroid_sim ASC, id ASC) order — the paper's keep-LOWEST-
    * similarity-to-centroid choice, which preferentially keeps the
    * most diverse member of each duplicate group — and an item is a
    * DUPLICATE (`keep = 0`) iff some EARLIER item in that order is
    * within `threshold` cosine of it. No transitive closure: the sweep
    * is the paper's greedy, so A~B~C with cos(A,C) < τ keeps A and C.
    *
    * Scale shape: `centroids` is broadcast (codebook-sized — the
    * [[kmeansFit]]/kmeans‖ output at production scale; the cross join
    * is map-side) and the argmax assignment is a `max_by` aggregate,
    * so partial aggregation collapses the N×k scored rows to N before
    * the shuffle. The within-cell pair join is SemDeDup's inherent
    * O(Σ cell²) — bounded by growing the centroid count ∝ N (the
    * paper runs 50k clusters on LAION), which keeps cells near-constant
    * size; cells shuffle-partition independently. The remaining hazard —
    * an adversarial codebook where ONE centroid attracts a constant
    * fraction of the corpus, degenerating its pair join to O(N²) in a
    * single partition group — is mitigated by `maxCellSize`: a cell of
    * n rows with n > maxCellSize is split into ⌈n/maxCellSize⌉
    * sub-cells by a deterministic md5 hash of the id, and the greedy
    * sweep + pair join run WITHIN each sub-cell (the sweep order is
    * preserved inside every sub-cell; cross-sub-cell pairs are not
    * compared — the same bounded-comparison trade as re-clustering an
    * oversized cell with a sub-codebook, with zero extra passes). Cell
    * sizes come from a codebook-sized aggregate broadcast back onto the
    * assignment, so unsplit corpora pay one tiny map-side join and
    * produce bit-identical output to the unmitigated operator.
    *
    * Centroid ids may be any orderable type. Numeric ids feed the
    * assignment tiebreak (`max_by` of `(csim, -cid)`) directly; other
    * types (string codebooks) get an internal rank in natural ascending
    * order, built driver-side over the codebook — bounded, the same
    * control-plane trade as the broadcast itself. Either way the
    * emitted `cell` is the ORIGINAL centroid id.
    */
  /** Max-cosine centroid assignment against a broadcast codebook —
    * [[semanticDedup]]'s first phase as a standalone operator. Every
    * corpus vector gets `(id, cell, centroid_sim, v, n)` where `cell`
    * is the argmax-cosine centroid id (round-6 scores; ties toward the
    * smallest centroid id in natural order — numeric when numeric,
    * else a driver-side rank, like the parent operator). The cross
    * join is map-side (codebook-sized broadcast) and the argmax is a
    * `max_by` aggregate, so partial aggregation collapses the N×k
    * scored rows to N before the shuffle.
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cBase = centroids
      .select(col(cidCol).as("cid"), col(cvecCol).cast("array<double>").as("cv"))
    // "prefer the smallest centroid id on score ties" needs an orderable
    // key to MAXIMIZE: numeric ids negate; other id types rank
    val numericCid = centroids.schema(cidCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val cOrd =
      if (numericCid) cBase.withColumn("cord", expr("-cid"))
      else {
        val ids = cBase.select($"cid".cast("string")).distinct()
          .as[String].collect().sorted
        val ranks = ids.zipWithIndex
          .map { case (s, i) => (s, -i.toDouble) }.toSeq
          .toDF("__cid_str", "cord")
        cBase.join(broadcast(ranks), $"cid".cast("string") === $"__cid_str")
          .drop("__cid_str")
      }
    val c = broadcast(cOrd.withColumn("cn", normCol($"cv")))
    val v = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", normCol($"v"))
    // assignment: argmax cosine over the broadcast codebook; max_by's
    // ordering struct breaks score ties toward the smallest centroid id
    v.crossJoin(c)
      .withColumn("csim", round6(cosineWithNorms($"v", $"n", $"cv", $"cn")))
      .groupBy($"id")
      .agg(max_by(
        struct($"cid".as("cell"), $"csim".as("centroid_sim"), $"v", $"n"),
        struct($"csim", $"cord")).as("b"))
      .select($"id", $"b.cell".as("cell"),
        $"b.centroid_sim".as("centroid_sim"), $"b.v".as("v"), $"b.n".as("n"))
  }

  /** Cluster-balanced deterministic subsample: assign every vector to
    * its max-cosine centroid ([[assignCells]]) and keep up to `k` per
    * cell by salted-md5 rank — the embedding-space analogue of
    * [[graft.textops.CurationOps.stratifiedSample]], balancing a
    * training mix across SEMANTIC clusters instead of a metadata
    * column (the cluster-banded subsampling modern curation pipelines
    * run between dedup and mixing). Deterministic across engines and
    * runs; the `rk <= k` row_number plans as `WindowGroupLimit`, so a
    * 100 TB cell moves only k × tasks rows into the rank shuffle.
    */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      k: Int, salt: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigned = assignCells(corpus, idCol, vecCol, centroids, cidCol, cvecCol)
    val key = md5(concat(lit(salt), $"id".cast("string")))
    val w = Window.partitionBy($"cell").orderBy(key, $"id")
    assigned.withColumn("rk", row_number().over(w)).filter($"rk" <= k)
      .select($"id", $"cell", $"centroid_sim", $"rk")
  }

  /** Cluster-aware TOKEN budgets: [[assignCells]]'s semantic cells as
    * [[graft.textops.CurationOps.tokenBudgetMix]]'s strata — each
    * cell's documents fill their token budget in salted-md5 order, so
    * a training mix caps any one semantic TOPIC's token mass the way
    * the per-language mix caps a language's (and
    * [[clusterBalancedSample]] caps a topic's document COUNT).
    * `budgets` keys are centroid ids as strings (the cell column is
    * cast — codebook ids may be any orderable type). Emits the mix
    * columns plus the cell. Plan shape: the broadcast-codebook argmax
    * plus ONE stratum window — both inherited pieces' scale arguments
    * apply unchanged.
    */
  def clusterBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      vecCol: String, centroids: DataFrame, cidCol: String, cvecCol: String,
      budgets: Map[String, Long], salt: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cells = assignCells(docs, idCol, vecCol, centroids, cidCol, cvecCol)
      .select($"id".as(idCol), $"cell".cast("string").as("cell"))
    graft.textops.CurationOps.tokenBudgetMix(
      docs.select(col(idCol), col(textCol)).join(cells, idCol),
      idCol, "cell", textCol, budgets, salt)
  }

  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      threshold: Double, checkpointRanked: Boolean = true,
      maxCellSize: Long = 4096): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be positive, got $maxCellSize")
    val spark = corpus.sparkSession
    import spark.implicits._
    val assignedPlan = assignCells(corpus, idCol, vecCol, centroids, cidCol, cvecCol)
    // two consumers (the cell-size aggregate and the sweep) — checkpoint
    // so the N×k assignment isn't recomputed per reader (false only for
    // plan audits, which need the pre-checkpoint operators visible)
    val assigned =
      if (checkpointRanked) assignedPlan.localCheckpoint(eager = false)
      else assignedPlan
    // oversized-cell split: cell sizes are a codebook-sized aggregate,
    // broadcast back; sub-cell = md5(id) mod ⌈n/maxCellSize⌉
    val cellSizes = assigned.groupBy($"cell").agg(count(lit(1)).as("__cell_n"))
    val subbed = assigned.join(broadcast(cellSizes), Seq("cell"))
      .withColumn("__n_sub",
        greatest(lit(1L), ceil($"__cell_n" / lit(maxCellSize.toDouble)).cast("long")))
      .withColumn("sub", when($"__n_sub" <= 1, lit(0L)).otherwise(
        pmod(conv(substring(md5(concat_ws(":", lit("semsub"), $"id".cast("string"))),
          1, 15), 16, 10).cast("long"), $"__n_sub")))
      .drop("__cell_n", "__n_sub")
    // the paper's sweep order: most-diverse member first
    val w = Window.partitionBy($"cell", $"sub").orderBy($"centroid_sim".asc, $"id".asc)
    val rankedPlan = subbed.withColumn("rnk", row_number().over(w))
    // pair join reads the ranked frame twice
    val ranked =
      if (checkpointRanked) rankedPlan.localCheckpoint(eager = false)
      else rankedPlan
    val dups = ranked.as("a").join(ranked.as("b"),
        $"a.cell" === $"b.cell" && $"a.sub" === $"b.sub" && $"b.rnk" < $"a.rnk", "inner")
      .filter(round6(cosineWithNorms($"a.v", $"a.n", $"b.v", $"b.n")) >= threshold)
      .select($"a.id".as("id")).distinct()
    ranked.join(dups.withColumn("dup", lit(1)), Seq("id"), "left")
      .select($"id", $"cell", $"rnk", $"centroid_sim",
        when($"dup".isNull, 1).otherwise(0).as("keep"))
  }

  // ---- scalar quantization (SQ8) -----------------------------------------

  /** Per-dimension [min, max] over the corpus — the int8 scalar-
    * quantization "codebook" (the FAISS `ScalarQuantizer` QT_8bit
    * shape). One map-side-combined aggregate over the exploded
    * (dim, value) pairs; the result is dimension-sized (64 doubles
    * here) — driver-collected and re-broadcast as literals, the same
    * bounded control-plane trade as the kmeans codebooks
    * (`boundedSample` / `kmeansParallelFit`'s candidate set).
    */
  def sqStats(corpus: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(min(col("__x")).as("mn"), max(col("__x")).as("mx"))
      .collect()
    val mins = Array.fill(dim)(0.0)
    val maxs = Array.fill(dim)(0.0)
    rows.foreach { r =>
      val d = r.getInt(0)
      require(d < dim, s"vector wider than declared dim=$dim (saw index $d)")
      mins(d) = r.getDouble(1); maxs(d) = r.getDouble(2)
    }
    (mins, maxs)
  }

  /** Affine uint8 code for each dimension:
    * `clamp(round((x − min_d) · 255 / (max_d − min_d)), 0, 255)` —
    * three IEEE double ops in a fixed order, so the pre-round value is
    * bit-identical across engines and the rounded code is exact
    * (constant-span dimensions collapse to code 0). Pure per-row
    * `transform` over the array — no UDF, no shuffle.
    */
  private def quantizeExpr(v: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val mnArr = array(mins.map(lit): _*)
    val spanArr = array(mins.indices.map(i => lit(maxs(i) - mins(i))): _*)
    transform(v.cast("array<double>"), (x, i) => {
      val mn = element_at(mnArr, i + 1)
      val span = element_at(spanArr, i + 1)
      when(span === 0.0, lit(0L)).otherwise(
        least(greatest(round((x - mn) * lit(255.0) / span), lit(0.0)), lit(255.0))
          .cast("long"))
    })
  }

  /** Quantize a corpus to uint8 codes under the given per-dimension
    * stats (from [[sqStats]] — queries must quantize under the CORPUS
    * stats, not their own). 4× smaller vectors and integer distance
    * arithmetic downstream; emits `(id, qvec)`.
    */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], maxs: Array[Double]): DataFrame =
    df.select(col(idCol).as("id"), quantizeExpr(col(vecCol), mins, maxs).as("qvec"))

  /** Top-k search over scalar-quantized codes: candidates ranked by
    * the INT64 squared L2 distance between uint8 codes (ascending).
    * Code-space L2 is the right SQ similarity — the affine offsets
    * cancel in the per-dimension DIFFERENCE (a raw code dot product is
    * swamped by the `zero·Σx` cross terms), and on the L2-normalized
    * inputs quantized here, L2 is monotone with cosine
    * (‖a−b‖² = 2−2cosθ). Every score is exact integer arithmetic, so
    * ranking has no cross-engine float channel at all (tighter than
    * even the round-6 cosine gates). Query side is broadcast
    * ([[bruteTopK]]'s shape) and the per-query top-k is a rank window.
    * SQ is a storage/bandwidth optimization orthogonal to candidate
    * generation: at scale the same codes feed the bucketed LSH/IVF
    * joins unchanged — this brute form is the verify stage and the
    * oracled baseline (recall vs the float [[bruteTopK]] is pinned in
    * VectorsSpec, the q22/q23 pattern).
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame =
    sqCore(unitFrame(corpus, idCol, vecCol),
      unitFrame(queries, idCol, vecCol), k, dim)

  /** `(id, uv)` with `uv` the L2-normalized vector — standard practice
    * for cosine search over quantized codes. Per-element division by
    * the precomputed norm: one IEEE op on identical doubles, bit-exact
    * across engines (zero vectors map to the zero code).
    */
  private def unitFrame(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", normCol($"v"))
      .select($"id", transform($"v", x =>
        when($"n" === 0.0, lit(0.0)).otherwise(x / $"n")).as("uv"))
  }

  /** The SQ8 search core over prepared `(id, uv)` frames: corpus-stat
    * quantization, INT64 squared code distances, per-query rank.
    */
  private def sqCore(cu: DataFrame, qu: DataFrame, k: Int, dim: Int): DataFrame = {
    val spark = cu.sparkSession
    import spark.implicits._
    val (mins, maxs) = sqStats(cu, "uv", dim)
    val c = scalarQuantize(cu, "id", "uv", mins, maxs)
      .select($"id".as("neighbor_id"), $"qvec".as("nq"))
    val q = broadcast(scalarQuantize(qu, "id", "uv", mins, maxs)
      .select($"id".as("query_id"), $"qvec".as("qq")))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("qdist", aggregate(zip_with($"qq", $"nq", (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy($"query_id").orderBy($"qdist".asc, $"neighbor_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"qdist")
  }

  /** Plain PQ with ASYMMETRIC-turned-SYMMETRIC ADC over SQ8 codes and
    * a FIXTURE codebook — [[pqTopK]]'s gateable core (q101's recipe
    * applied to product quantization): the data-dependent k-means
    * codebook is replaced by CALLER-SUPPLIED centroid vectors, and
    * every distance runs in INT64 over corpus-stat uint8 codes, so
    * encode, table build, and ADC ranking are cross-engine exact (the
    * q92 discipline — no float channel anywhere past quantization).
    *
    *  - centroids quantize under the CORPUS stats through the same
    *    [[scalarQuantize]] expression the corpus uses (a ≤256-row
    *    bounded control-plane pass — never a reimplemented round());
    *  - corpus encode: per subspace `j` (of `m`, width `dim/m`), the
    *    code is the argmin INT64 L2 between the vector's and each
    *    centroid's j-th code block, ties to the smaller centroid id;
    *  - query ADC table: the same per-(subspace, centroid) INT64
    *    block distances for each query; a candidate's approximate
    *    distance is `Σ_j table(j, code_j)` — m lookups per pair
    *    instead of a dim-wide scan, the PQ economics;
    *  - per-query rank `(adist ASC, neighbor_id ASC)`, self excluded.
    *
    * Emits `(query_id, rnk, neighbor_id, adist)`. Degenerate exactness
    * anchor (spec-pinned): with every corpus vector its own centroid,
    * each vector encodes to itself and `adist` equals [[sqTopK]]'s
    * exact code distance, so the two operators return identical
    * rankings. Scale shape: [[bruteTopK]]'s broadcast-query form; the
    * codebook is a literal broadcast, encode is one per-row pass, and
    * at corpus scale the same codes feed the IVF cell join unchanged
    * ([[ivfPqTopK]] composes the two).
    */
  def pqAdcTopKWith(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int, m: Int,
      centers: Array[Array[Double]]): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(centers.nonEmpty && centers.length <= 256,
      s"fixture codebook must hold 1..256 centroids, got ${centers.length}")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    val ksub = centers.length
    val cu = unitFrame(corpus, idCol, vecCol).localCheckpoint(eager = false)
    val (mins, maxs) = sqStats(cu, "uv", dim)
    // centroid codes via the SAME quantize expression as the corpus
    val cbDf = spark.createDataFrame(
      centers.toIndexedSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) })
      .toDF("cid", "cv")
    val cb: Array[Array[Long]] =
      scalarQuantize(unitFrame(cbDf, "cid", "cv"), "id", "uv", mins, maxs)
        .orderBy($"id").select($"qvec").as[Seq[Long]].collect()
        .map(_.toArray)
    def blockDist(q: Array[Long], c: Int, j: Int): Long = {
      var s = 0L; var i = j * sub
      val hi = i + sub
      while (i < hi) { val d = q(i) - cb(c)(i); s += d * d; i += 1 }
      s
    }
    val encodeUdf = udf((q: Seq[Long]) => {
      val qa = q.toArray
      (0 until m).map { j =>
        var best = 0; var bd = blockDist(qa, 0, j); var c = 1
        while (c < ksub) {
          val d = blockDist(qa, c, j)
          if (d < bd) { bd = d; best = c } // strict: ties keep smaller cid
          c += 1
        }
        best
      }
    })
    val tableUdf = udf((q: Seq[Long]) => {
      val qa = q.toArray
      val t = new Array[Long](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) { t(j * ksub + c) = blockDist(qa, c, j); c += 1 }
        j += 1
      }
      t.toSeq
    })
    val adcUdf = udf((table: Seq[Long], codes: Seq[Int]) => {
      var s = 0L; var j = 0
      while (j < codes.length) { s += table(j * ksub + codes(j)); j += 1 }
      s
    })
    val c = scalarQuantize(cu, "id", "uv", mins, maxs)
      .select($"id".as("neighbor_id"), encodeUdf($"qvec").as("codes"))
    val q = broadcast(
      scalarQuantize(unitFrame(queries, idCol, vecCol), "id", "uv", mins, maxs)
        .select($"id".as("query_id"), tableUdf($"qvec").as("qtab")))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("adist", adcUdf($"qtab", $"codes"))
    val w = Window.partitionBy($"query_id").orderBy($"adist".asc, $"neighbor_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"adist")
  }

  /** IVF-PQ with FIXTURE codebooks — [[ivfPqTopK]]'s gateable core,
    * composing the two oracled recipes verbatim: q101's coarse
    * quantizer (argmin float L2 to caller-supplied `cells`, ties to
    * the smaller cell id; queries probe their `nProbe` nearest cells)
    * prunes the corpus, and q180's integer PQ-ADC
    * ([[pqAdcTopKWith]]'s encode/table/score over `pqCenters`
    * quantized under corpus stats) ranks the survivors — candidates
    * come from an EQUI join on the cell id, scores from m INT64 table
    * lookups, so past the float cell assignment (mirrored with the
    * q87 tie discipline) there is no cross-engine channel at all.
    * Emits `(query_id, rnk, neighbor_id, adist)`.
    */
  def ivfPqAdcTopKWith(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int, m: Int,
      cells: Array[Array[Double]], pqCenters: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(nProbe >= 1 && nProbe <= cells.length,
      s"nProbe $nProbe out of range for ${cells.length} cells")
    require(pqCenters.nonEmpty && pqCenters.length <= 256,
      s"fixture codebook must hold 1..256 centroids, got ${pqCenters.length}")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    val ksub = pqCenters.length
    val cellDim = cells.head.length
    val assignUdf = udf((v: Seq[Float]) =>
      nearestIdx(v.map(_.toDouble).toArray, cells))
    val probeUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble).toArray
      cells.indices.map { i =>
        var d = 0.0; var j = 0
        while (j < cellDim) { val x = vd(j) - cells(i)(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    def prep(df: DataFrame, probe: Boolean): DataFrame = {
      val base = df.select(col(idCol).as("id"), col(vecCol).as("v0"))
        .withColumn("cell",
          if (probe) explode(probeUdf(col("v0"))) else assignUdf(col("v0")))
        .withColumn("v", col("v0").cast("array<double>"))
        .withColumn("n", normCol($"v"))
      base.select($"id", $"cell", transform($"v", x =>
        when($"n" === 0.0, lit(0.0)).otherwise(x / $"n")).as("uv"))
    }
    val cu = prep(corpus, probe = false).localCheckpoint(eager = false)
    val (mins, maxs) = sqStats(cu, "uv", dim)
    val cbDf = spark.createDataFrame(
      pqCenters.toIndexedSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) })
      .toDF("cid", "cv")
    val cb: Array[Array[Long]] =
      scalarQuantize(unitFrame(cbDf, "cid", "cv"), "id", "uv", mins, maxs)
        .orderBy($"id").select($"qvec").as[Seq[Long]].collect()
        .map(_.toArray)
    def blockDist(q: Array[Long], c: Int, j: Int): Long = {
      var s = 0L; var i = j * sub
      val hi = i + sub
      while (i < hi) { val d = q(i) - cb(c)(i); s += d * d; i += 1 }
      s
    }
    val encodeUdf = udf((q: Seq[Long]) => {
      val qa = q.toArray
      (0 until m).map { j =>
        var best = 0; var bd = blockDist(qa, 0, j); var c = 1
        while (c < ksub) {
          val d = blockDist(qa, c, j)
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
    })
    val tableUdf = udf((q: Seq[Long]) => {
      val qa = q.toArray
      val t = new Array[Long](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) { t(j * ksub + c) = blockDist(qa, c, j); c += 1 }
        j += 1
      }
      t.toSeq
    })
    val adcUdf = udf((table: Seq[Long], codes: Seq[Int]) => {
      var s = 0L; var j = 0
      while (j < codes.length) { s += table(j * ksub + codes(j)); j += 1 }
      s
    })
    val c = cu.select($"id".as("neighbor_id"), $"cell",
      encodeUdf(quantizeExpr($"uv", mins, maxs)).as("codes"))
    val q = broadcast(prep(queries, probe = true)
      .select($"id".as("query_id"), $"cell",
        tableUdf(quantizeExpr($"uv", mins, maxs)).as("qtab")))
    val scored = q.join(c, Seq("cell")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("adist", adcUdf($"qtab", $"codes"))
    val w = Window.partitionBy($"query_id").orderBy($"adist".asc, $"neighbor_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"adist")
  }

  /** IVF cell pruning with SQ8 codes inside the cells — the FAISS
    * "IVF,SQ8" index shape, composing the two independent wins: the
    * coarse quantizer prunes the corpus to `nProbe` cells per query,
    * and the vectors inside cells are stored and ranked as uint8 codes
    * (4× less state per row, INT64 squared-code-distance ranking with
    * no float channel). Cell assignment runs on the RAW vectors (the
    * [[ivfTopK]] coarse space); codes quantize the L2-normalized
    * vectors under GLOBAL corpus [min,max] stats (one map-side
    * min/max aggregate, driver-collected like the codebooks), so a
    * vector's code is independent of its cell and cells can be
    * re-balanced without re-coding. With `nProbe = nCentroids` the
    * candidate set is the whole corpus and the result equals
    * [[sqTopK]] EXACTLY (spec-pinned — the IVF-PQ full-probe
    * precedent).
    */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      nCentroids: Int, nProbe: Int, seed: Int = 42): DataFrame =
    ivfSqTopKWith(corpus, queries, idCol, vecCol, k, dim,
      kmeansFit(boundedSample(corpus, idCol, vecCol), nCentroids, seed), nProbe)

  /** [[ivfSqTopK]] against an EXPLICIT codebook (fixture centroids or
    * a [[kmeansParallelFit]] result) — the q78 codebook convention,
    * and what the oracled gate uses so the coarse assignment is
    * mirrorable cell for cell.
    */
  def ivfSqTopKWith(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      cs: Array[Array[Double]], nProbe: Int,
      maxCellSize: Long = 1L << 16): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be positive, got $maxCellSize")
    val spark = corpus.sparkSession
    import spark.implicits._
    val csDim = cs.head.length
    val assignUdf = udf((v: Seq[Float]) => nearestIdx(v.map(_.toDouble).toArray, cs))
    val probeUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble).toArray
      cs.indices.map { i =>
        var d = 0.0; var j = 0
        while (j < csDim) { val x = vd(j) - cs(i)(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    def prep(df: DataFrame, probe: Boolean): DataFrame = {
      val base = df.select(col(idCol).as("id"), col(vecCol).as("v0"))
        .withColumn("cell",
          if (probe) explode(probeUdf(col("v0"))) else assignUdf(col("v0")))
        .withColumn("v", col("v0").cast("array<double>"))
        .withColumn("n", normCol($"v"))
      base.select($"id", $"cell", transform($"v", x =>
        when($"n" === 0.0, lit(0.0)).otherwise(x / $"n")).as("uv"))
    }
    // three consumers: the SQ stats action, the size aggregate, the join
    val cu = prep(corpus, probe = false).localCheckpoint(eager = false)
    val (mins, maxs) = sqStats(cu, "uv", dim)
    // oversized-cell split — the ivfTopK/semanticDedup skew bound:
    // bounded key groups, probed set (and therefore output) unchanged
    val cellSizes = cu.groupBy($"cell").agg(count(lit(1)).as("__cell_n"))
      .withColumn("__n_sub",
        greatest(lit(1L), ceil($"__cell_n" / lit(maxCellSize.toDouble)).cast("long")))
      .select($"cell", $"__n_sub")
    val c = cu.select($"id".as("neighbor_id"), $"cell",
        quantizeExpr($"uv", mins, maxs).as("nq"))
      .join(broadcast(cellSizes), Seq("cell"))
      .withColumn("sub", when($"__n_sub" <= 1, lit(0L)).otherwise(
        pmod(conv(substring(md5(concat_ws(":", lit("ivfsub"),
          $"neighbor_id".cast("string"))), 1, 15), 16, 10).cast("long"),
          $"__n_sub")))
      .drop("__n_sub")
    val q = broadcast(prep(queries, probe = true)
      .select($"id".as("query_id"), $"cell",
        quantizeExpr($"uv", mins, maxs).as("qq"))
      .join(broadcast(cellSizes), Seq("cell"))
      .withColumn("sub", explode(sequence(lit(0L), $"__n_sub" - 1)))
      .drop("__n_sub"))
    val scored = q.join(c, Seq("cell", "sub")).filter($"query_id" =!= $"neighbor_id")
      .withColumn("qdist", aggregate(zip_with($"qq", $"nq", (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy($"query_id").orderBy($"qdist".asc, $"neighbor_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"qdist")
  }

  // ---- signed-Hadamard rotation (OPQ-lite pre-transform) -----------------

  /** Driver-side 60-bit md5 hash of a string — the engine-wide salted
    * draw ([[graft.textops.NearDup.shingleHash60]]'s formula) computed
    * on the driver for bounded control-plane constants.
    */
  private def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Apply the seeded signed-Hadamard rotation `H·D / √dim` to
    * `inCol`, writing `outCol`: D is a ±1 diagonal drawn from
    * md5("rot<seed>:<i>") parity, H the Walsh-Hadamard transform as
    * log2(dim) butterfly rounds. This is the structured "random
    * rotation" pre-transform of the OPQ family (Gong et al. 2013; the
    * HD blocks of FALCONN/QuickADC, FAISS's `RandomRotationMatrix`
    * role): it spreads variance evenly across dimensions so
    * per-dimension uint8 codes lose less — without it, one
    * high-variance dimension eats the whole quantization budget of
    * its slot while flat dimensions waste theirs.
    *
    * O(dim·log dim) per row, pure column math, zero shuffles. Each
    * butterfly round is staged as its own projection: a single nested
    * expression would duplicate the child per `element_at` reference
    * and grow 2^rounds. Cross-engine exactness: the sign multiply is
    * exact, each butterfly element is ONE add or subtract of identical
    * doubles, and the final /√dim is one IEEE division (the divisor
    * itself is the correctly-rounded sqrt both engines compute
    * identically) — so rotated vectors are bit-identical and the gate
    * stays integer-exact after quantization. `dim` must be a power of
    * two (pad with zeros upstream otherwise — norms are unchanged).
    */
  def signedHadamard(df: DataFrame, inCol: String, outCol: String,
      dim: Int, seed: Int = 42): DataFrame = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"Hadamard needs a power-of-two dim: $dim")
    // A tight-loop UDF, deliberately: the column-expression butterfly
    // (transform + element_at per round) references the previous round
    // 2·dim times per element, and the optimizer's projection inlining
    // through a downstream Generate (sqStats' posexplode) duplicates
    // the chain per reference — a measured 3 KB → 2.2 MB optimized
    // plan and a 33 MiB task binary. The UDF is one opaque node (no
    // inlining surface), each butterfly element is the identical
    // single add/subtract in the identical order, and the in-place
    // pair update reads both elements before writing them, so it
    // matches the oracle's out-of-place rounds bit for bit.
    val signs = (0 until dim).map(i =>
      if (hash60(s"rot$seed:$i") % 2 == 0) 1.0 else -1.0).toArray
    val scale = math.sqrt(dim.toDouble)
    val rot = udf((v: Seq[Double]) => {
      val x = new Array[Double](dim)
      var i = 0
      while (i < dim) { x(i) = v(i) * signs(i); i += 1 }
      var b = 1
      while (b < dim) {
        var s = 0
        while (s < dim) {
          if ((s & b) == 0) {
            val lo = x(s); val hi = x(s | b)
            x(s) = lo + hi; x(s | b) = lo - hi
          }
          s += 1
        }
        b <<= 1
      }
      var j = 0
      while (j < dim) { x(j) = x(j) / scale; j += 1 }
      x.toSeq
    })
    df.withColumn(outCol, rot(col(inCol)))
  }

  // ---- learned PCA rotation (full OPQ-style fit) -------------------------

  /** Fit the PCA rotation of the corpus — the LEARNED counterpart of
    * [[signedHadamard]]'s structured rotation (the non-product OPQ
    * "R", Gong et al. 2013): eigenvectors of the corpus covariance,
    * ordered by eigenvalue descending, so a following per-dimension
    * quantizer spends its budget along the data's actual principal
    * axes instead of the raw coordinates.
    *
    * Determinism discipline: raw double covariance sums would be
    * partition-order-dependent in the last ulp, and an eigensolve
    * AMPLIFIES ulp noise near degenerate eigenvalues — so moments are
    * accumulated in FIXED-POINT: each component is quantized to
    * `round(x · 2^20)` and the (i,j) second-moment sums are exact
    * longs — associative, partitioning-invariant, engine-independent.
    * Envelope: n · (2^20·|x|)² must stay under 2^63 — for unit-scale
    * embeddings that is n ≲ 8e3 per accumulated partition sum at full
    * precision; the implementation tree-reduces per-partition exact
    * sums into BigInt, so the global sum never overflows regardless
    * of corpus size (driver holds dim² BigInts — 64² = bounded
    * control plane). Eigensolve is cyclic Jacobi with a fixed sweep
    * count on the driver's dim×dim matrix — O(dim³) on 64×64 is
    * microseconds.
    *
    * Returns `(rotation, eigenvalues)`: `rotation(k)` is the k-th
    * principal axis (unit vector), eigenvalues sorted descending.
    * Spec-verified: orthonormality, eigen-equation residual, variance
    * concentration and SQ8 recall GAIN on anisotropic fixtures (the
    * rotation cannot be DuckDB-oracled — it is data-dependent — so
    * this operator is spec-only by design).
    */
  def pcaRotationFit(corpus: DataFrame, vecCol: String, dim: Int,
      sweeps: Int = 16): (Array[Array[Double]], Array[Double]) = {
    val (n, sums, prods) = pcaMomentsExact(corpus, vecCol, dim)
    require(n > 1, s"need at least 2 vectors to fit a rotation: $n")
    val scale = 1L << 20
    // covariance in double AFTER the exact integer accumulation: the
    // only float ops are per-cell, order-free
    val sc = scale.toDouble
    val mean = sums.map(_.toDouble / n / sc)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      prods(i * dim + j).toDouble / n / (sc * sc) - mean(i) * mean(j)
    }
    // cyclic Jacobi, fixed sweeps — deterministic rotation sequence
    val (a, vmat) = jacobiSweeps(cov, dim, sweeps)
    val order = (0 until dim).sortBy(i => (-a(i)(i), i))
    val rotation = order.map(i => Array.tabulate(dim)(k => vmat(k)(i))).toArray
    val eigenvalues = order.map(i => a(i)(i)).toArray
    (rotation, eigenvalues)
  }

  /** The cyclic-Jacobi sweep loop, factored out of [[pcaRotationFit]]
    * so the q143 first-sweep gate provably runs the IDENTICAL rotation
    * sequence the full eigensolve runs. Each (p,q) rotation is two
    * sequential half-steps — the column update, then the row + V
    * update reading the column-updated state — and the oracle mirrors
    * that exact IEEE op order ([[graft.queries.VectorOps]]'s unrolled
    * first-sweep SQL). Mutates nothing outside its return.
    */
  private[graft] def jacobiSweeps(cov: Array[Array[Double]], dim: Int,
      sweeps: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val a = cov.map(_.clone())
    val vmat = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < sweeps) {
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          if (math.abs(a(p)(q)) > 1e-14) {
            val phi = 0.5 * math.atan2(2.0 * a(p)(q), a(q)(q) - a(p)(p))
            val c = math.cos(phi)
            val s = math.sin(phi)
            var k = 0
            while (k < dim) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < dim) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = vmat(k)(p); val vkq = vmat(k)(q)
              vmat(k)(p) = c * vkp - s * vkq
              vmat(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (a, vmat)
  }

  /** ONE cyclic-Jacobi sweep over the fixed-point covariance of the
    * first `dim` embedding components, emitted cell-by-cell — the
    * DuckDB-oracleable slice of the eigensolve (q143): the sweep is a
    * FIXED-ORDER sequence of dim·(dim-1)/2 two-sided 2×2 rotations
    * over engine-exact integer moments, so for small dim the whole
    * thing unrolls into one (large, generated) SQL expression chain
    * with the identical IEEE op order. Returns one row per matrix
    * cell: `(i, j, a, v)` — the post-sweep working matrix A and the
    * accumulated rotation V, both quantized at 6 digits (the rounded-
    * emission discipline for transcendental outputs; rotations are
    * isometries, so cross-engine libm last-ulp drift in atan2/cos/sin
    * cannot amplify past the quantum) and `+ 0.0`-normalized so a
    * `-0.0` cell hashes identically on both engines.
    *
    * Driver-side O(dim³) on a dim×dim matrix after the distributed
    * exact moment aggregate — the same control-plane shape as
    * [[pcaRotationFit]] itself.
    */
  def jacobiFirstSweep(corpus: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    val (a, vmat) = jacobiFromCorpus(corpus, vecCol, dim, sweeps = 1)
    import spark.implicits._
    val rows = for { i <- 0 until dim; j <- 0 until dim }
      yield (i, j, a(i)(j), vmat(i)(j))
    rows.toDF("i", "j", "a_raw", "v_raw")
      .select(col("i"), col("j"),
        (round(col("a_raw"), 6) + lit(0.0)).as("a"),
        (round(col("v_raw"), 6) + lit(0.0)).as("v"))
  }

  /** The shared corpus → (post-sweep A, accumulated V) pipeline behind
    * [[jacobiFirstSweep]] and [[jacobiSweepTable]]: exact fixed-point
    * moments, the covariance pivot, then `sweeps` cyclic Jacobi
    * sweeps — the IDENTICAL code path [[pcaRotationFit]] runs.
    */
  private def jacobiFromCorpus(corpus: DataFrame, vecCol: String, dim: Int,
      sweeps: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val (n, sums, prods) = pcaMomentsExact(corpus, vecCol, dim)
    require(n > 1, s"need at least 2 vectors: $n")
    val sc = (1L << 20).toDouble
    val mean = sums.map(_.toDouble / n / sc)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      prods(i * dim + j).toDouble / n / (sc * sc) - mean(i) * mean(j)
    }
    jacobiSweeps(cov, dim, sweeps)
  }

  /** MULTI-sweep Jacobi, gated (q159 — the convergent eigensolve the
    * q143 first sweep brackets): `sweeps` full cyclic sweeps over the
    * exact-moment covariance, emitted cell-by-cell like
    * [[jacobiFirstSweep]] but as SCALED-INTEGER e6 columns
    * (`floor(x·10⁶ + 0.5)` — exact IEEE multiply + exact floor on
    * both engines; the r10 lesson is that `ROUND(DOUBLE, n)` itself
    * is not portable across DuckDB versions, so new gates emit no
    * rounded doubles). The oracle unrolls the full rotation sequence
    * — sweeps × dim·(dim−1)/2 rotations — in generated SQL with the
    * identical IEEE op order.
    *
    * Scale shape unchanged from q143: one distributed exact moment
    * aggregate, then O(sweeps·dim³) on the driver's dim×dim matrix —
    * control-plane work, corpus-size-independent.
    */
  def jacobiSweepTable(corpus: DataFrame, vecCol: String, dim: Int,
      sweeps: Int): DataFrame = {
    val spark = corpus.sparkSession
    val (a, vmat) = jacobiFromCorpus(corpus, vecCol, dim, sweeps)
    import spark.implicits._
    val rows = for { i <- 0 until dim; j <- 0 until dim }
      yield (i, j, a(i)(j), vmat(i)(j))
    rows.toDF("i", "j", "a_raw", "v_raw")
      .select(col("i"), col("j"),
        floor(col("a_raw") * lit(1000000.0) + lit(0.5)).cast("long").as("a_e6"),
        floor(col("v_raw") * lit(1000000.0) + lit(0.5)).cast("long").as("v_e6"))
  }

  /** The fit's exact fixed-point moment accumulation, factored out so
    * the DuckDB-oracled [[pcaVarianceRank]] gate and the eigensolve
    * provably consume the SAME integers (spec-pinned): count, per-dim
    * sums of `round(x·2^20)`, and the dim² second-moment products —
    * BigInt tree-reduced, so no corpus size overflows.
    */
  private[graft] def pcaMomentsExact(corpus: DataFrame, vecCol: String,
      dim: Int): (Long, Array[BigInt], Array[BigInt]) = {
    val scale = 1L << 20
    val rows = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .rdd.map(_.getSeq[Double](0))
    rows.mapPartitions { it =>
      var cnt = 0L
      val s = new Array[BigInt](dim)
      val p = new Array[BigInt](dim * dim)
      java.util.Arrays.fill(s.asInstanceOf[Array[AnyRef]], BigInt(0))
      java.util.Arrays.fill(p.asInstanceOf[Array[AnyRef]], BigInt(0))
      val q = new Array[Long](dim)
      it.foreach { v =>
        cnt += 1
        var i = 0
        while (i < dim) { q(i) = math.round(v(i) * scale); i += 1 }
        i = 0
        while (i < dim) {
          s(i) += q(i)
          var j = 0
          while (j < dim) { p(i * dim + j) += q(i) * q(j); j += 1 }
          i += 1
        }
      }
      Iterator.single((cnt, s, p))
    }.treeReduce { (a, b) =>
      (a._1 + b._1,
        a._2.zip(b._2).map { case (x, y) => x + y },
        a._3.zip(b._3).map { case (x, y) => x + y })
    }
  }

  /** The DETERMINISTIC CORE of the learned-rotation path as a
    * DuckDB-oracleable frame — per-dimension fixed-point moments,
    * variance, and the explained-variance selector ([[pcaRank]]'s
    * math) over the RAW axes: one row per dimension `d` with
    *
    *  - `n_vecs`, `s` = Σ round(x_d·2^20), `p` = Σ round(x_d·2^20)²
    *    (exact integers, emitted as strings — they exceed int64),
    *  - `variance` = p/n/2^40 − (s/n/2^20)² (fixed IEEE op order),
    *  - `rnk` by descending variance (ordered on the EXACT integer
    *    numerator `ivar = p·n − s²` — n is the same for every
    *    dimension, so the float denominator cancels; no float ties),
    *  - `cum_frac` = cumΣ ivar / Σ ivar as ONE double division of
    *    exact integers — a float running sum would diverge across
    *    engines because DuckDB's window aggregates accumulate in
    *    segment-tree order, not sequentially,
    *  - `sel` = 1 iff the dimension is inside the [[pcaRank]]-selected
    *    prefix at `frac` (integer comparison: 20·cumΣ_before <
    *    19·total for the default 0.95 — `frac` must be a /20 rational
    *    so the gate stays integer-exact).
    *
    * The diagonal of [[pcaMomentsExact]] restricted to (s, p) is
    * spec-pinned equal to this frame, so the driver-green gate row
    * covers the same integers the eigensolve consumes; the Jacobi
    * rotation itself stays spec-only (data-dependent output). Scale
    * shape: one posexplode + map-side-combined groupBy on the
    * dimension id (dim-sized result), one dim-sized window — no
    * corpus-sized shuffle.
    */
  def pcaVarianceRank(corpus: DataFrame, vecCol: String, dim: Int,
      fracTwentieths: Int = 19): DataFrame = {
    require(fracTwentieths > 0 && fracTwentieths <= 20,
      s"fracTwentieths out of range: $fracTwentieths")
    val spark = corpus.sparkSession
    import spark.implicits._
    val scale = (1L << 20).toDouble
    val m = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      // floor(x+0.5), NOT round(): the fit quantizes with math.round
      // (= floor(x+0.5), half toward +∞) while SQL round() is half
      // away from zero — they disagree on negative halves, and the
      // spec pins this frame EQUAL to the fit's integers
      .select($"d", floor($"x" * scale + 0.5).cast("long").as("q"))
      .groupBy($"d")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"q".cast("decimal(38,0)")).as("s_dec"),
        sum(($"q" * $"q").cast("decimal(38,0)")).as("p_dec"))
      .withColumn("variance",
        $"p_dec".cast("double") / $"n_vecs".cast("double") / lit(scale * scale) -
          ($"s_dec".cast("double") / $"n_vecs".cast("double") / lit(scale)) *
          ($"s_dec".cast("double") / $"n_vecs".cast("double") / lit(scale)))
      // the EXACT integer variance numerator: ivar = p·n − s² (the
      // shared denominator n²·2^40 cancels in every fraction below)
      .withColumn("ivar", $"p_dec" * $"n_vecs" - $"s_dec" * $"s_dec")
    // dim-sized frame: the constant-key window is bounded (the k-row
    // window convention — pmod(d, 1) is the non-foldable constant key
    // the PlanCheck window contract requires); all windowed sums are over
    // exact integers, so engine accumulation order is irrelevant
    val constKey = pmod($"d", lit(1))
    val w = Window.partitionBy(constKey).orderBy($"ivar".desc, $"d".asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m.withColumn("rnk", row_number().over(w))
      .withColumn("cum", sum($"ivar").over(w))
      .withColumn("total", sum($"ivar").over(full))
      .withColumn("cum_frac",
        $"cum".cast("double") / $"total".cast("double"))
      .withColumn("sel",
        (($"cum" - $"ivar") * 20 < $"total" * fracTwentieths).cast("int"))
      .select($"d", $"n_vecs", $"s_dec".cast("string").as("s"),
        $"p_dec".cast("string").as("p"), $"variance", $"rnk", $"cum_frac", $"sel")
  }

  /** Smallest r whose top-r eigenvalues explain at least `frac` of the
    * total variance — the `rDims` selector for [[pcaSqTopK]] (fit
    * once, read the spectrum, pick the knee).
    */
  def pcaRank(eigenvalues: Array[Double], frac: Double): Int = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of range: $frac")
    val total = eigenvalues.filter(_ > 0).sum
    if (total <= 0.0) 1
    else {
      var acc = 0.0
      var r = 0
      while (r < eigenvalues.length && acc < frac * total) {
        acc += math.max(eigenvalues(r), 0.0)
        r += 1
      }
      math.max(r, 1)
    }
  }

  /** OPQ's "natural" eigen-allocation (Ge et al. CVPR 2013 §3.1):
    * distribute the principal axes across `m` product-quantizer
    * subspaces so each subspace sees a BALANCED share of the variance
    * — greedy assignment of eigenvalues (descending) to the subspace
    * with the smallest running log-product that still has room.
    * Without it, eigen-ordered axes pile all the variance into the
    * first subspace and the rest of the codebooks quantize noise.
    * Returns the axis order (subspace 0's axes first, each subspace
    * `dim/m` wide).
    */
  /** [[opqAllocation]]'s gate-able twin: the SAME greedy (each weight
    * in turn goes to the open subspace with the smallest accumulated
    * mass, first subspace on ties) but balancing raw PRODUCTS instead
    * of log-sums — products of IEEE doubles are correctly-rounded ops
    * both engines reproduce bit-for-bit, where libm `log` is not (the
    * q132 lesson). Mathematically the same ordering (log is monotone);
    * spec-pinned equal to the log form on positive spectra. Returns
    * the SUBSPACE id per input position (not the permutation —
    * assignment is what the oracle can check row-wise).
    */
  def opqAssignByProduct(weights: Array[Double], m: Int): Array[Int] = {
    val dim = weights.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val prod = Array.fill(m)(1.0)
    val cnt = Array.fill(m)(0)
    val out = new Array[Int](dim)
    var i = 0
    while (i < dim) {
      var best = -1
      var j = 0
      while (j < m) {
        if (cnt(j) < sub && (best < 0 || prod(j) < prod(best))) best = j
        j += 1
      }
      out(i) = best
      cnt(best) += 1
      prod(best) *= weights(i)
      i += 1
    }
    out
  }

  /** The OPQ allocation's deterministic frame, gated (the q143
    * companion — together they oracle the whole learned-rotation
    * prep): per-dimension EXACT integer variance numerators `ivar =
    * p·n − s²` from [[pcaMomentsExact]]'s diagonal (the same integers
    * q106 carries), ranked descending (d-asc ties), then
    * [[opqAssignByProduct]] over `ivar.toDouble` in rank order — one
    * row per rank with its dimension, ivar (string — exceeds int64),
    * and assigned subspace. Moments are distributed; the allocation
    * itself runs on the dim-bounded spectrum (control-plane, like
    * every codebook read).
    */
  def opqAllocationRank(corpus: DataFrame, vecCol: String, dim: Int,
      m: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (n, sums, prods) = pcaMomentsExact(
      corpus.select(slice(col(vecCol).cast("array<double>"), 1, dim).as("v")),
      "v", dim)
    val nBig = BigInt(n)
    val ranked = (0 until dim)
      .map(d => (d, prods(d * dim + d) * nBig - sums(d) * sums(d)))
      .sortBy { case (d, iv) => (-iv, d) }
    val assign = opqAssignByProduct(ranked.map(_._2.toDouble).toArray, m)
    ranked.zipWithIndex.map { case ((d, iv), r) =>
      (r + 1, d, iv.toString, assign(r))
    }.toDF("rnk", "d", "ivar", "subspace")
  }

  def opqAllocation(eigenvalues: Array[Double], m: Int): Array[Int] = {
    val dim = eigenvalues.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val logProd = Array.fill(m)(0.0)
    val members = Array.fill(m)(List.empty[Int])
    eigenvalues.indices.foreach { i =>
      val open = (0 until m).filter(j => members(j).length < sub)
      val j = open.minBy(logProd)
      members(j) = i :: members(j)
      logProd(j) += math.log(math.max(eigenvalues(i), 1e-12))
    }
    members.flatMap(_.reverse)
  }

  /** Product quantization behind the LEARNED, subspace-balanced
    * rotation — OPQ with the "natural" parametric solution: fit the
    * PCA axes, allocate them across the PQ subspaces balancing
    * variance products ([[opqAllocation]]), rotate, then run the
    * standard [[pqTopK]] pipeline on the rotated vectors. On
    * anisotropic data this beats raw-coordinate PQ at the same code
    * budget (spec-pinned on the rank-structured fixture). Spec-only:
    * the rotation is data-dependent.
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 256, shortlistFactor: Int = 8,
      seed: Int = 42): DataFrame = {
    val (rotation, ev) = pcaRotationFit(
      corpus.select(col(vecCol).as("v")), "v", dim)
    val order = opqAllocation(ev, m)
    val balanced = order.map(rotation)
    def rot(df: DataFrame) =
      applyRotation(df, vecCol, "__rv", balanced)
        .withColumn("__rv", col("__rv").cast("array<float>"))
    pqTopK(rot(corpus), rot(queries), idCol, "__rv", k,
      m = m, ksub = ksub, shortlistFactor = shortlistFactor, seed = seed)
  }

  /** Apply a fitted rotation (`rotation(k)` = k-th output axis):
    * `y_k = Σ_i R_ki x_i`, one tight-loop UDF per row (the
    * [[signedHadamard]] plan-size lesson). O(dim²) per row.
    */
  def applyRotation(df: DataFrame, inCol: String, outCol: String,
      rotation: Array[Array[Double]]): DataFrame = {
    val outDim = rotation.length
    val inDim = rotation(0).length
    val rot = udf((v: Seq[Double]) => {
      val y = new Array[Double](outDim)
      var k = 0
      while (k < outDim) {
        val r = rotation(k)
        var s = 0.0
        var i = 0
        while (i < inDim) { s += r(i) * v(i); i += 1 }
        y(k) = s
        k += 1
      }
      y.toSeq
    })
    df.withColumn(outCol, rot(col(inCol).cast("array<double>")))
  }

  /** [[sqTopK]] behind the LEARNED rotation with TRUNCATION: normalize
    * → project onto the corpus's top `rDims` principal axes → uint8
    * codes on those axes only → INT64 code-distance rank. This is
    * learned dimensionality reduction for the quantized index
    * (PCA-SQ, the FAISS `PCAR..,SQ8` transform chain): on data whose
    * variance concentrates in a low-dimensional subspace, `rDims` ≪
    * dim keeps recall while cutting index memory another dim/rDims×
    * — whereas truncating RAW dimensions throws signal away with the
    * noise (the spec pins exactly that ordering on a structured
    * fixture, plus ≈-full-recall at the eigen-spectrum's knee).
    * Where [[matryoshkaTopK]] relies on MRL-trained prefix structure,
    * this LEARNS the prefix basis from the corpus. Spec-only (no
    * DuckDB oracle): the rotation is data-dependent.
    */
  def pcaSqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int, rDims: Int): DataFrame = {
    require(rDims >= 1 && rDims <= dim, s"rDims out of range: $rDims")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cu0 = unitFrame(corpus, idCol, vecCol)
    val (rotation, _) = pcaRotationFit(cu0, "uv", dim)
    val top = rotation.take(rDims)
    val cu = applyRotation(cu0, "uv", "uv", top)
    val qu = applyRotation(unitFrame(queries, idCol, vecCol), "uv", "uv", top)
    val (mins, maxs) = sqStats(cu, "uv", rDims)
    // DEQUANTIZED scoring, deliberately not [[sqCore]]'s raw code
    // distance: code space scales every dimension to 0..255, which
    // implicitly weights dimension d by 1/span_d² — fine on unit
    // vectors (spans comparable, q92), catastrophic after PCA where
    // noise axes have tiny spans and would be stretched to parity
    // with the signal axes. Multiplying each code delta by its span
    // (FAISS's reconstruction distance) restores true scaled L2; the
    // per-row sum runs in the array's fixed order, so it is still
    // deterministic.
    val spanArr = array(mins.indices.map(i => lit(maxs(i) - mins(i))): _*)
    val c = scalarQuantize(cu, "id", "uv", mins, maxs)
      .select($"id".as("neighbor_id"), $"qvec".as("nq"))
    val q = broadcast(scalarQuantize(qu, "id", "uv", mins, maxs)
      .select($"id".as("query_id"), $"qvec".as("qq")))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("qdist",
        aggregate(
          zip_with(zip_with($"qq", $"nq", (a, b) => (a - b).cast("double")),
            spanArr, (d, s) => d * s * (d * s)),
          lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy($"query_id").orderBy($"qdist".asc, $"neighbor_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"qdist")
  }

  /** [[sqTopK]] with the signed-Hadamard rotation applied (to the
    * already-unit vectors) before quantization — the OPQ-lite
    * pipeline: normalize → rotate → per-dimension uint8 under corpus
    * stats → INT64 code-distance rank. Rotation is orthogonal, so
    * code-space L2 still tracks cosine; what changes is HOW WELL the
    * 256 levels of each dimension are spent. Recall vs the float
    * brute baseline is pinned in VectorsSpec next to the unrotated
    * codes'.
    */
  def rotatedSqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int, seed: Int = 42): DataFrame = {
    def rot(df: DataFrame) =
      signedHadamard(unitFrame(df, idCol, vecCol), "uv", "uv", dim, seed)
    sqCore(rot(corpus), rot(queries), k, dim)
  }

  // ---- Matryoshka truncated-prefix retrieval -----------------------------

  /** Two-stage adaptive retrieval over Matryoshka-style embeddings
    * (Kusupati et al. NeurIPS 2022): shortlist by cosine over the
    * FIRST `dimPrefix` dimensions only, then exact full-dimension
    * re-rank of the shortlist. MRL training front-loads information
    * into prefixes, so the truncated pass keeps most of the ranking
    * signal at `dim/dimPrefix`× less vector IO — and the shortlist
    * stage here is deliberately slim: the corpus side carries ONLY the
    * prefix (the 4× scan cut is the point); full vectors are joined
    * back for just the ≤ shortlist·|queries| surviving pairs. At scale
    * the truncated vectors feed the same bucketed LSH/IVF/HNSW
    * candidate paths unchanged — this brute shortlist is the oracled
    * baseline (the q22/q23 pattern). Both stages rank by
    * (round-6 cosine desc, id asc); output carries the shortlist rank
    * (`srnk`) so the re-rank's effect is auditable.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dimPrefix: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val ct = corpus.select(col(idCol).as("neighbor_id"),
        slice(col(vecCol).cast("array<double>"), 1, dimPrefix).as("tv"))
      .withColumn("tn", normCol($"tv"))
    val qt = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("tqv", slice($"qv", 1, dimPrefix))
      .withColumn("tqn", normCol($"tqv")))
    val s1 = qt.join(ct, $"query_id" =!= $"neighbor_id")
      .withColumn("short_cos", round(cosineWithNorms($"tqv", $"tqn", $"tv", $"tn"), 6))
    val w1 = Window.partitionBy($"query_id").orderBy($"short_cos".desc, $"neighbor_id".asc)
    val cand = s1.withColumn("srnk", row_number().over(w1))
      .filter($"srnk" <= shortlist)
      .select($"query_id", $"neighbor_id", $"srnk", $"qv")
    val full = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("nv"))
      .withColumn("nn", normCol($"nv"))
    // the shortlist is bounded by shortlist·|queries| (caller-chosen,
    // control-plane sized) — broadcast it so the full-vector corpus
    // side never shuffles for the rerank join
    val rr = broadcast(cand).join(full, Seq("neighbor_id"))
      .withColumn("qn", normCol($"qv"))
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
    val w2 = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    rr.withColumn("rnk", row_number().over(w2))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"cosine", $"srnk")
  }

  // ---- binary (1-bit) quantization ---------------------------------------

  /** Pack each dimension's sign bit (x > 0) into 32-bit words held in
    * longs — 64-dim vectors become two BIGINT codes, a 32× memory cut
    * (the "binary embedding" storage format modern embedding APIs
    * ship). 32-bit words, deliberately: the codes stay positive and
    * far from 64-bit overflow, so EVERY engine's plain integer
    * arithmetic can hold them (DuckDB errors on signed overflow where
    * the JVM wraps — the cross-engine hazard a 64-bit pack walks into).
    * Pure per-row column math: one `zip_with` against a weight-literal
    * array per word, no UDF, no shuffle.
    */
  def binaryQuantize(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val words = (0 until dim by 32).map { off =>
      val n = math.min(32, dim - off)
      val weights = array((0 until n).map(j => lit(1L << (n - 1 - j))): _*)
      aggregate(zip_with(slice(v, off + 1, n), weights,
        (x, w) => when(x > 0.0, w).otherwise(lit(0L))), lit(0L), (a, x) => a + x)
    }
    df.select(col(idCol).as("id"), array(words: _*).as("bcode"))
  }

  /** Top-k by Hamming distance between packed sign codes —
    * `Σ bit_count(xor)` per word pair, ascending, id tiebreak. The
    * coarsest, cheapest ANN stage: 2 longs per vector and a popcount
    * per candidate, the standard shortlist stage ahead of an exact
    * re-rank (compose with [[bruteTopK]] on the shortlist — the
    * [[mmrRerank]] pattern). Ranking is pure integer arithmetic, so
    * the gate has no float channel anywhere; the DuckDB oracle states
    * the GROUND TRUTH independently (per-dimension sign disagreement
    * count — provably equal to the popcount of the packed xor), the
    * q94 oracle-states-the-spec discipline. Recall vs the float brute
    * baseline pinned in VectorsSpec next to SQ8's.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = binaryQuantize(corpus, idCol, vecCol, dim)
      .select($"id".as("neighbor_id"), $"bcode".as("nc"))
    val q = broadcast(binaryQuantize(queries, idCol, vecCol, dim)
      .select($"id".as("query_id"), $"bcode".as("qc")))
    val scored = q.join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("hamming",
        aggregate(zip_with($"qc", $"nc",
          (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")), lit(0L), (s, x) => s + x))
    val w = Window.partitionBy($"query_id").orderBy($"hamming".asc, $"neighbor_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"hamming")
  }

  /** The coarse-to-fine retrieval cascade — the production composition
    * of the quantized stages: binary Hamming distance shortlists
    * `mBinary` candidates per query (2 longs + a popcount per
    * candidate), SQ8 code distance re-ranks those to `mSq` (64 bytes +
    * integer arithmetic), and exact float cosine ranks the survivors
    * to `k`. Per-candidate cost rises ~30× stage to stage while the
    * candidate count falls, which is the whole economics of cascaded
    * retrieval (binary scans everything cheaply; floats touch only
    * `mSq`·|queries| rows). Stage tiebreaks are the established
    * (distance, id) disciplines, so the cascade is deterministic end
    * to end and each stage's mirror is the corresponding gate's
    * (q99 → q92 → q22). With exhaustive stage widths the output
    * equals [[bruteTopK]] exactly (spec-pinned, the matryoshka
    * full-shortlist argument).
    */
  def cascadeTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      mBinary: Int, mSq: Int): DataFrame = {
    val cu = unitFrame(corpus, idCol, vecCol)
    val (mins, maxs) = sqStats(cu, "uv", dim)
    cascadeTopKOn(
      binaryQuantize(corpus, idCol, vecCol, dim),
      scalarQuantize(cu, "id", "uv", mins, maxs),
      corpus, queries, idCol, vecCol, k, dim, mBinary, mSq, mins, maxs)
  }

  /** [[cascadeTopK]] over PREBUILT quantized artifacts — the
    * production path, where [[binaryQuantize]] and [[scalarQuantize]]
    * ran at index-build time and each stage reads its own compact
    * table (2 longs/row, then 64 codes/row; the raw vectors are
    * touched only for the final bounded survivor set). `bcodes` is
    * `(id, bcode)`, `codes` is `(id, qvec)` quantized under
    * `(mins, maxs)` — the stats are part of the stored index and MUST
    * be the ones the codes were built with (queries quantize under
    * them at search time). Spec-pinned identical to the inline form.
    */
  def cascadeTopKOn(bcodes: DataFrame, codes: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      mBinary: Int, mSq: Int,
      mins: Array[Double], maxs: Array[Double]): DataFrame = {
    require(mBinary >= mSq && mSq >= k,
      s"stage widths must narrow: $mBinary >= $mSq >= $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    // stage 1: binary shortlist (integer, cheapest per candidate)
    val qb = broadcast(binaryQuantize(queries, idCol, vecCol, dim)
      .select($"id".as("query_id"), $"bcode".as("qc")))
    val s1scored = qb
      .join(bcodes.select($"id".as("neighbor_id"), $"bcode".as("nc")),
        $"query_id" =!= $"neighbor_id")
      .withColumn("hamming",
        aggregate(zip_with($"qc", $"nc",
          (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")), lit(0L), (s, x) => s + x))
    val w1 = Window.partitionBy($"query_id").orderBy($"hamming".asc, $"neighbor_id".asc)
    val s1 = s1scored.withColumn("rnk1", row_number().over(w1))
      .filter($"rnk1" <= mBinary).select($"query_id", $"neighbor_id")
    // stage 2: SQ8 integer re-rank of stage 1's survivors under the
    // index's stored stats
    val qcodes = scalarQuantize(unitFrame(queries, idCol, vecCol), "id", "uv", mins, maxs)
    val s2scored = broadcast(s1)
      .join(codes.select($"id".as("neighbor_id"), $"qvec".as("nq")), "neighbor_id")
      .join(broadcast(qcodes.select($"id".as("query_id"), $"qvec".as("qq"))), "query_id")
      .withColumn("qdist", aggregate(zip_with($"qq", $"nq", (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
    val w2 = Window.partitionBy($"query_id").orderBy($"qdist".asc, $"neighbor_id".asc)
    val s2 = s2scored.withColumn("rnk2", row_number().over(w2))
      .filter($"rnk2" <= mSq).select($"query_id", $"neighbor_id")
    // stage 3: exact float cosine over the bounded survivor set
    val full = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("nv"))
      .withColumn("nn", normCol($"nv"))
    val qfull = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", normCol($"qv"))
    val s3 = broadcast(s2).join(full, Seq("neighbor_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .withColumn("cosine", round(cosineWithNorms($"qv", $"qn", $"nv", $"nn"), 6))
    val w3 = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    s3.withColumn("rnk", row_number().over(w3))
      .filter($"rnk" <= k)
      .select($"query_id", $"rnk", $"neighbor_id", $"cosine")
  }

  // ---- semantic contamination --------------------------------------------

  /** Embedding-space contamination screen: for every corpus vector, the
    * max round-6 cosine against a benchmark embedding set and the
    * nearest benchmark id, with `contaminated = 1` when the max
    * similarity clears `threshold`. The semantic complement of the
    * n-gram [[graft.textops.CurationOps.contaminationScore]]: catches
    * paraphrased / templated / translated benchmark leakage that token
    * overlap misses (the "rephrased samples" failure, Yang et al.
    * 2023). Exactly [[assignCells]]'s plan — benchmark broadcast,
    * N×B scored map-side, partial `max_by` collapses to N before the
    * shuffle — so the corpus never shuffles by anything but its id.
    * Benchmarks bigger than broadcast range shard this call per
    * benchmark split and AND the flags.
    */
  def semanticContamination(corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    assignCells(corpus, idCol, vecCol, bench, benchIdCol, benchVecCol)
      .select($"id", $"cell".as("nearest_bench"), $"centroid_sim".as("max_sim"),
        when($"centroid_sim" >= threshold, 1).otherwise(0).as("contaminated"))
  }

  private def round6(c: Column): Column = round(c, 6)

  private def normOf(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }
}
