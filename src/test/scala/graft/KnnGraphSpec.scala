package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GatePaths.{agree, bothFail, isLocal}
import graft.util.DriverGate
import graft.vectors.{VectorGate, Vectors}

/** `knnGraph` edge cases, each on BOTH paths — the driver solve (the
  * small-corpus default) and the distributed rounds (forced with the
  * gate's limit at 0) — asserting equal rows with multiplicity and
  * equal schemas.
  */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  /** `knnGraph` behind a gate of `lim` doubles and `pairLimit` seed pairs. */
  private def knnAt(corpus: DataFrame, k: Int, planes: Int, dim: Int, rounds: Int,
      tables: Int = 2, pairLimit: Long = DriverGate.PairWorkLimit)(lim: Long): DataFrame =
    Vectors.knnGraphGated(corpus, "vec_id", "embedding", k, planes, dim, rounds, tables, 42,
      lim, pairLimit)

  private def both(corpus: DataFrame, k: Int, planes: Int, dim: Int, rounds: Int,
      tables: Int = 2, local: Boolean = true): Seq[Row] = {
    val f = knnAt(corpus, k, planes, dim, rounds, tables) _
    agree(f(VectorGate.Budget), f(0L), local)
  }

  private def unit(dim: Int, hot: Int*): Seq[Double] =
    Seq.tabulate(dim)(i => if (hot.contains(i)) 1.0 else 0.0)

  /** 60 seeded Gaussian 64-dim vectors, ids 0 until 60. */
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    (0L until 60L).map(i => (i, Seq.fill(64)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
  }

  test("score ties are broken by id, string ids by UTF-8 byte order") {
    val same = Seq(9L, 4L, 7L, 1L, 5L).map(i => (i, unit(4, 0))).toDF("vec_id", "embedding")
    val rows = both(same, k = 2, planes = 2, dim = 4, rounds = 1)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.filter(_._1 == 7L) == Seq((7L, 1, 1L), (7L, 2, 4L)))
    assert(rows.filter(_._1 == 1L) == Seq((1L, 1, 4L), (1L, 2, 5L)))
    val s = Seq("𐀀", "�", "b", "a").map(i => (i, unit(4, 1))).toDF("vec_id", "embedding")
    val ranked = both(s, k = 3, planes = 2, dim = 4, rounds = 1)
      .filter(_.getString(0) == "a").map(_.getString(2))
    assert(ranked == Seq("b", "�", "𐀀"))
  }

  test("a zero vector fails under ANSI and scores NULL without it; NaN ranks first") {
    val withZero = Seq((1L, unit(4, 0)), (2L, unit(4, 0, 1)), (3L, Seq.fill(4)(0.0)))
      .toDF("vec_id", "embedding")
    // one plane: the zero vector's dot is 0, so it sets the bit, as
    // e0 and e0+e1 do against a plane whose first coordinate is positive;
    // the pair with it is scored wherever it shares a bucket
    val f = knnAt(withZero, k = 2, planes = 1, dim = 4, rounds = 1, tables = 4) _
    bothFail("DIVIDE_BY_ZERO")(f(VectorGate.Budget), f(0L))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val rows = agree(f(VectorGate.Budget), f(0L))
      assert(rows.exists(r => r.getLong(2) == 3L && r.isNullAt(3)))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
    val withNaN = Seq((1L, unit(4, 0)), (2L, unit(4, 0)), (3L, Seq(Double.NaN, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    // NaN dots set every bit: all three share one bucket
    val rows = both(withNaN, k = 2, planes = 1, dim = 4, rounds = 1, tables = 1)
      .filter(_.getLong(0) == 1L)
    assert(rows.map(_.getLong(2)) == Seq(3L, 2L) && rows.head.getDouble(3).isNaN)
  }

  test("a NULL vector lands in bucket 0 and ranks last with a NULL cosine") {
    // -e0 and the NULL vector both land in bucket 0 of a one-plane
    // table whose first coordinate is positive
    val plane = Vectors.hyperplanes(1, 4, 42).head
    val neg = plane.map(x => -math.signum(x))
    val withNull = Seq((1L, Some(neg.toSeq)), (2L, Some(neg.map(_ * 2).toSeq)), (3L, None),
      (4L, Some(plane.map(math.signum).toSeq))).toDF("vec_id", "embedding")
    val rows = both(withNull, k = 3, planes = 1, dim = 4, rounds = 0, tables = 1)
    assert(rows.filter(_.getLong(0) == 1L).map(r => (r.getLong(2), r.get(3))) ==
      Seq((2L, 1.0), (3L, null)))
    assert(rows.filter(_.getLong(0) == 3L).map(r => (r.getLong(2), r.get(3))) ==
      Seq((1L, null), (2L, null)))
    // refinement rounds carry the NULL-scored edges along
    both(withNull, k = 3, planes = 1, dim = 4, rounds = 2, tables = 1)
  }

  test("string ids, an empty corpus and vectors of the wrong length") {
    both(emb.select($"vec_id".cast("string").as("vec_id"), $"embedding"),
      k = 3, planes = 2, dim = 64, rounds = 1)
    assert(both(emb.limit(0), k = 3, planes = 2, dim = 64, rounds = 1).isEmpty)
    // a 3-long vector misses the 4-dim planes (bucket 0) and its dot
    // with any 4-long vector is NULL
    val ragged = Seq((1L, unit(4, 0)), (2L, Seq(-1.0, 0, 0)), (3L, Seq(-1.0, 0, 0, 0)),
      (4L, Seq(0.0, -1.0, 0))).toDF("vec_id", "embedding")
    both(ragged, k = 3, planes = 1, dim = 4, rounds = 1, tables = 3)
  }

  test("duplicate ids and NULL ids take the distributed path and agree with it") {
    both(emb.union(emb.filter($"vec_id" === 5)), k = 3, planes = 2, dim = 64, rounds = 1,
      local = false)
    both(emb.union(emb.filter($"vec_id" === 6)
        .select(lit(null).cast("long").as("vec_id"), $"embedding")),
      k = 3, planes = 2, dim = 64, rounds = 1, local = false)
    // a floating-point id is not interned on the driver either
    both(emb.select($"vec_id".cast("double").as("vec_id"), $"embedding"),
      k = 3, planes = 2, dim = 64, rounds = 1, local = false)
  }

  test("gate boundaries: the doubles budget and the seed pair-work bound") {
    val doubles = 60 * 64L
    val f = knnAt(emb, k = 3, planes = 2, dim = 64, rounds = 1) _
    assert(isLocal(f(doubles)) && !isLocal(f(doubles - 1)))
    assert(f(doubles).collect().toSeq.sortBy(_.toString) ==
      f(doubles - 1).collect().toSeq.sortBy(_.toString))
    // 12 equal vectors share one bucket per table: 2 tables × 12² = 288
    // seed pairs, self pairs included
    val one = (1L to 12L).map(i => (i, unit(4, 0))).toDF("vec_id", "embedding")
    val g = (p: Long) => knnAt(one, k = 3, planes = 3, dim = 4, rounds = 1, pairLimit = p) _
    assert(isLocal(g(288L)(VectorGate.Budget)))
    assert(!isLocal(g(287L)(VectorGate.Budget)))
    agree(g(288L)(VectorGate.Budget), g(287L)(VectorGate.Budget))
    // the public entry point gates at the default budget
    assert(isLocal(Vectors.knnGraph(emb, "vec_id", "embedding", k = 3, planes = 2, dim = 64,
      rounds = 1)))
  }
}
