package graft

import org.apache.spark.sql.DataFrame

import graft.GatePaths.{agree, bothFail}
import graft.vectors.{VectorGate, Vectors}

/** HNSW-style layered ANN: recall pinned against bruteTopK (the
  * q22-oracle pattern), exact-equality in the degenerate single-layer
  * config (entry scores the whole corpus → brute force by
  * construction), determinism, well-formedness, and the documented
  * degree-is-the-recall-lever claim.
  *
  * Every `hnswTopK` case runs on BOTH paths — the driver solve (the
  * small-corpus default) and the distributed plan (forced with the
  * gate's limit at 0) — and asserts equal rows with multiplicity and
  * equal schemas.
  */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select($"vec_id", $"embedding")
  private lazy val queries = emb.filter($"vec_id" < 8)

  private lazy val brutePairs =
    Vectors.bruteTopK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  /** `hnswTopK` behind a gate of `lim` doubles. */
  private def hnswAt(corpus: DataFrame, qs: DataFrame, k: Int, dim: Int = 64,
      beam: Int = 16, degree: Int = 16, layers: Int = 3, planes: Int = 0,
      hops: Int = 2)(lim: Long): DataFrame =
    Vectors.hnswTopKGated(corpus, qs, "vec_id", "embedding", k, dim, beam, degree, layers,
      8L, planes, 2, hops, 42, graft.textops.NearDup.EmbedTargetBucket, lim)

  /** Both paths of [[hnswAt]]; the default gate must take the driver
    * path iff `local`.
    */
  private def both(corpus: DataFrame, qs: DataFrame, k: Int, dim: Int = 64,
      beam: Int = 16, degree: Int = 16, layers: Int = 3, planes: Int = 0,
      hops: Int = 2, local: Boolean = true) = {
    val f = hnswAt(corpus, qs, k, dim, beam, degree, layers, planes, hops) _
    agree(f(VectorGate.Budget), f(0L), local)
  }

  private def triples(rows: Seq[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

  private def unit(dim: Int, hot: Int*): Seq[Double] =
    Seq.tabulate(dim)(i => if (hot.contains(i)) 1.0 else 0.0)

  test("hnswTopK defaults: well-formed, deterministic, recall-pinned vs brute") {
    val hnsw = triples(both(emb, queries, k = 3))
    val byQ = hnsw.groupBy(_._1)
    assert(byQ.size == 8)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted == (1 to rs.length))
      rs.foreach { case (_, _, n) => assert(n != q) }
    }
    val recall = hnsw.map(r => (r._1, r._3)).toSet.intersect(brutePairs).size.toDouble /
      brutePairs.size
    info(f"HNSW recall@3 = $recall%.2f (defaults: 3 layers, degree 16, beam 16, 2 hops)")
    assert(recall >= 0.8, s"recall=$recall")
    val public = Vectors.hnswTopK(emb, queries, "vec_id", "embedding", k = 3, dim = 64)
    assert(GatePaths.isLocal(public))
    assert(triples(public.collect().toSeq).toSet == hnsw.toSet)
  }

  test("single-layer config degenerates to exact brute force") {
    // layers=1: the entry beam scores EVERY corpus vector, so the
    // search IS bruteTopK — row-for-row, scores included (beam = k+1:
    // a corpus-member query keeps itself as a navigation seed, so one
    // beam slot carries the self row until the final re-rank)
    val brute = Vectors.bruteTopK(emb, queries, "vec_id", "embedding", 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    val hnsw = both(emb, queries, k = 3, beam = 4, layers = 1)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(hnsw == brute)
  }

  test("tiny corpus with empty upper layers falls back to a non-empty entry") {
    // 3 vectors: upper layers are (almost surely) empty — the entry
    // falls back to the deepest non-empty layer instead of silently
    // returning zero rows
    val tiny = Seq(
      (1L, Seq.tabulate(64)(i => if (i == 0) 1.0 else 0.0)),
      (2L, Seq.tabulate(64)(i => if (i == 1) 1.0 else 0.0)),
      (3L, Seq.tabulate(64)(i => if (i < 2) 0.7 else 0.0))).toDF("vec_id", "embedding")
    val got = both(tiny, tiny.filter($"vec_id" === 1), k = 2, layers = 3)
      .map(_.getLong(2)).toSet
    assert(got == Set(2L, 3L))
  }

  test("degree is the recall lever (the scaladoc claim)") {
    def recallAt(degree: Int, beam: Int): Double = {
      val got = both(emb, queries, k = 3, beam = beam, degree = degree)
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(brutePairs).size.toDouble / brutePairs.size
    }
    val sparse = recallAt(degree = 4, beam = 16)
    val dense = recallAt(degree = 16, beam = 16)
    info(f"recall@3: degree4=$sparse%.2f degree16=$dense%.2f")
    assert(dense >= sparse + 0.3,
      s"degree16=$dense vs degree4=$sparse — the lever claim collapsed")
  }

  test("beam descent is invariant to edge multiplicity (r13 symmetrize change)") {
    // the r13 layerEdges drops its final distinct, so the adjacency may
    // carry duplicate (src, dst) rows — the descent's candidate distinct
    // must make that unobservable in the result
    import org.apache.spark.sql.functions._
    val c = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("n", graft.vectors.Vectors.normCol(col("v")))
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", graft.vectors.Vectors.normCol(col("qv")))
    val entry = c.select(col("id")).filter(col("id") % 7 === 0)
    val ids = c.select(col("id")).as[Long].collect().sorted
    val edges = spark.createDataFrame(
      ids.sliding(2).filter(_.length == 2).flatMap { w =>
        Seq((w(0), w(1)), (w(1), w(0)))
      }.toSeq).toDF("src", "dst")
    def run(e: org.apache.spark.sql.DataFrame) =
      graft.vectors.Vectors.hnswBeamDescent(c, q, entry, Seq(e),
          k = 3, beam = 8, hops = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(edges) === run(edges.union(edges).union(edges)))
  }

  test("score ties are broken by id, string ids by UTF-8 byte order") {
    // five copies of one direction: every candidate ties at cosine 1.0
    val same = Seq(9L, 4L, 7L, 1L, 5L).map(i => (i, unit(4, 0))).toDF("vec_id", "embedding")
    val got = both(same, same.filter($"vec_id" === 7), k = 3, dim = 4, layers = 1)
    assert(triples(got) == Seq((7L, 1, 1L), (7L, 2, 4L), (7L, 3, 5L)))
    // U+FFFD sorts above U+10000 in UTF-16 code units but below it in
    // UTF-8 bytes (Spark's string order)
    val s = Seq("𐀀", "�", "b", "a").map(i => (i, unit(4, 1)))
      .toDF("vec_id", "embedding")
    val ranked = both(s, s.filter($"vec_id" === "a"), k = 3, dim = 4, layers = 1)
      .map(_.getString(2))
    assert(ranked == Seq("b", "�", "𐀀"))
  }

  test("a zero vector fails under ANSI and scores NULL without it; NaN ranks first") {
    val withZero = Seq((1L, unit(4, 0)), (2L, unit(4, 1)), (3L, Seq.fill(4)(0.0)))
      .toDF("vec_id", "embedding")
    val f = hnswAt(withZero, withZero.filter($"vec_id" === 1), 2, dim = 4, layers = 1) _
    bothFail("DIVIDE_BY_ZERO")(f(VectorGate.Budget), f(0L))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val rows = agree(f(VectorGate.Budget), f(0L))
      assert(rows.map(r => (r.getLong(2), r.get(3))) == Seq((2L, 0.0), (3L, null)))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
    val withNaN = Seq((1L, unit(4, 0)), (2L, unit(4, 0)), (3L, Seq(Double.NaN, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val rows = both(withNaN, withNaN.filter($"vec_id" === 1), k = 2, dim = 4, layers = 1)
    assert(rows.map(_.getLong(2)) == Seq(3L, 2L) && rows.head.getDouble(3).isNaN)
  }

  test("a NULL vector lands in bucket 0 and ranks last with a NULL cosine") {
    val withNull = Seq((1L, Some(unit(4, 0))), (2L, Some(unit(4, 0, 1))), (3L, None),
      (4L, Some(Seq(-1.0, 0, 0, 0)))).toDF("vec_id", "embedding")
    val rows = both(withNull, withNull.filter($"vec_id" === 1), k = 3, dim = 4, layers = 1)
    assert(rows.map(r => (r.getLong(2), r.get(3))) ==
      Seq((2L, 0.707107), (4L, -1.0), (3L, null)))
    // a NULL query vector scores NULL against every candidate
    val nullQuery = both(withNull, withNull.filter($"vec_id" === 3), k = 3, dim = 4,
      layers = 1)
    assert(nullQuery.map(r => (r.getLong(2), r.get(3))) ==
      Seq((1L, null), (2L, null), (4L, null)))
    // a two-layer search whose layer-0 graph holds NULL vectors (bucket
    // 0 of every table, NULL-scored edges ranked last)
    val ids = 1L to 40L
    assert(ids.exists(i => graft.textops.NearDup.shingleHash60(s"hnsw42:$i") % 8 == 0),
      "layer 1 must be non-empty so layer 0's graph is built")
    val mixed = ids.map(i => (i, if (i % 7 == 0) None else Some(unit(4, (i % 4).toInt)
      .zipWithIndex.map { case (x, d) => x * i + d }))).toDF("vec_id", "embedding")
    both(mixed, mixed, k = 3, dim = 4, layers = 2, planes = 1)
  }

  test("queries inside and outside the corpus: self is excluded only for members") {
    val outside = emb.filter($"vec_id" < 4)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val rows = both(emb, queries.union(outside), k = 3)
    val byQ = triples(rows).groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3) }
    assert(byQ.keySet == ((0L until 8L) ++ (100000L until 100004L)).toSet)
    // an outside query with member i's vector searches exactly as query
    // i does: i stays in its result (first, at cosine 1.0), where query
    // i drops itself
    (0L until 4L).foreach(i => assert(byQ(100000L + i) == (i +: byQ(i)).take(3)))
  }

  test("duplicate ids and NULL ids take the distributed path and agree with it") {
    val tiny = emb.filter($"vec_id" < 40)
    val dup = tiny.union(tiny.filter($"vec_id" === 5))
    both(dup, queries, k = 3, local = false)
    val nullId = tiny.union(tiny.filter($"vec_id" === 6)
      .select(org.apache.spark.sql.functions.lit(null).cast("long").as("vec_id"), $"embedding"))
    both(nullId, queries, k = 3, local = false)
    // the same for the query side
    both(tiny, queries.union(queries.filter($"vec_id" === 2)), k = 3, local = false)
  }

  test("gate boundary: corpus and queries at the budget run on the driver, one over does not") {
    val tiny = emb.filter($"vec_id" < 40)
    val qs = tiny.filter($"vec_id" < 3)
    val doubles = (40 + 3) * 64L
    val f = hnswAt(tiny, qs, 3) _
    assert(GatePaths.isLocal(f(doubles)))
    assert(!GatePaths.isLocal(f(doubles - 1)))
    assert(f(doubles).collect().toSeq.sortBy(_.toString) ==
      f(doubles - 1).collect().toSeq.sortBy(_.toString))
    // the public entry point gates at the default budget
    assert(GatePaths.isLocal(
      Vectors.hnswTopK(tiny, qs, "vec_id", "embedding", k = 3, dim = 64)))
  }
}
