package graft

import graft.graph.ConnectedComponents

/** Unit coverage for min-label-propagation connected components and the
  * dedup-clustering wrapper (q35).
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("a", "b")

  /** Every graph is asserted on ALL THREE paths: driver union-find (the
    * small-graph default), distributed label propagation, and
    * distributed large-star/small-star (both forced with
    * localEdgeLimit = 0) — they must agree exactly.
    */
  private def bothPaths(e: org.apache.spark.sql.DataFrame): Seq[Map[Long, Long]] =
    Seq(
      ConnectedComponents.labels(e, "a", "b"),
      ConnectedComponents.labels(e, "a", "b", localEdgeLimit = 0),
      ConnectedComponents.labels(e, "a", "b", localEdgeLimit = 0, algorithm = "star"))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  test("labels finds components across chains, direction-insensitively") {
    // component {1,2,3,4} as a chain, component {10,11}, self-loop {20}
    val e = edges(2L -> 1L, 2L -> 3L, 4L -> 3L, 10L -> 11L, 20L -> 20L)
    bothPaths(e).foreach { out =>
      assert(out === Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L))
    }
  }

  test("labels handles a long path (diameter > 2 needs multiple rounds)") {
    val e = edges((1L to 9L).map(i => i -> (i + 1)): _*)
    bothPaths(e).foreach { out =>
      assert(out.size === 10)
      assert(out.values.toSet === Set(1L))
    }
  }

  test("labels merges components connected through a hub") {
    val e = edges(5L -> 100L, 6L -> 100L, 7L -> 100L, 8L -> 9L)
    bothPaths(e).foreach { out =>
      assert(out(100L) === 5L && out(6L) === 5L && out(7L) === 5L)
      assert(out(8L) === 8L && out(9L) === 8L)
    }
  }

  test("a path needing exactly maxIter improvement rounds still converges") {
    // path 1-2-...-6: label 1 travels one hop per round, so node 6
    // improves on round 5 — maxIter = 5 must succeed (the final
    // zero-change detection round is not counted against the budget)
    val e = edges((1L to 5L).map(i => i -> (i + 1)): _*)
    val out = ConnectedComponents.labels(e, "a", "b", maxIter = 5, localEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 6 && out.values.toSet === Set(1L))
  }

  test("mixed src/dst numeric types are widened before either path") {
    // IntegerType src vs LongType dst: the symmetrizing union widens
    // both endpoints to long, so the local fast path collects uniform
    // values and both paths emit LongType output
    val e = Seq((1, 2L), (2, 3L), (10, 11L)).toDF("a", "b")
    val outs = Seq(
      ConnectedComponents.labels(e, "a", "b"),
      ConnectedComponents.labels(e, "a", "b", localEdgeLimit = 0))
    outs.foreach { df =>
      assert(df.schema.fields.map(_.dataType).toSeq ===
        Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.LongType))
      val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("string ids with supplementary characters agree across paths") {
    // U+FFFF sorts below U+10000 in code-point (= UTF-8 byte) order —
    // Spark/DuckDB collation — but Java's UTF-16 compareTo disagrees;
    // the local path must use code-point order to match
    // a component holding ONLY {U+FFFF, U+10000} discriminates: Java
    // compareTo would label it U+10000 (surrogate 0xD800 < 0xFFFF)
    val hi = "𐀀" // U+10000 as a surrogate pair
    val e = Seq(("￿", hi), ("a", "b")).toDF("a", "b")
    val expected = Map("￿" -> "￿", hi -> "￿", "a" -> "a", "b" -> "a")
    Seq(
      ConnectedComponents.labels(e, "a", "b"),
      ConnectedComponents.labels(e, "a", "b", localEdgeLimit = 0))
      .foreach { df =>
        val out = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(out === expected)
      }
  }

  test("star path agrees with union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 30
      val pairs = Seq.fill(n)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val e = edges(pairs: _*)
      val expected = ConnectedComponents.labels(e, "a", "b") // union-find
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = ConnectedComponents
        .labels(e, "a", "b", localEdgeLimit = 0, algorithm = "star")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === expected, s"trial $trial")
    }
  }

  test("star converges on a long chain within O(log^2 n) rounds where " +
       "min-label's O(diameter) budget blows") {
    // path graph 1-2-...-257: diameter 256. Min-label needs ~256
    // improvement rounds, so maxIter = 12 must throw; the alternating
    // algorithm must finish inside the same tiny budget.
    val e = edges((1L to 256L).map(i => i -> (i + 1)): _*)
    val star = ConnectedComponents
      .labels(e, "a", "b", maxIter = 12, localEdgeLimit = 0, algorithm = "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.size === 257 && star.values.toSet === Set(1L))
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.labels(e, "a", "b", maxIter = 12, localEdgeLimit = 0)
        .collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("star path keeps self-loop-only nodes and their self labels") {
    val e = edges(1L -> 2L, 9L -> 9L)
    val star = ConnectedComponents
      .labels(e, "a", "b", localEdgeLimit = 0, algorithm = "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("dedupClusters marks exactly one canonical keeper per cluster") {
    val pairs = Seq((3L, 7L), (7L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val out = ConnectedComponents.dedupClusters(pairs, "id_a", "id_b")
      .orderBy($"doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq === Seq(
      (3L, 3L, 1), (7L, 3L, 0), (9L, 3L, 0), (20L, 20L, 1), (21L, 20L, 0)))
  }

  test("the gate counts distinct directed edges: a self-loop is one, any other edge two") {
    // the driver result is a frame over collected rows; the
    // distributed result's plan reads checkpoints and joins
    def local(e: org.apache.spark.sql.DataFrame, lim: Long): Boolean =
      GatePaths.isLocal(ConnectedComponents.labels(e, "a", "b", localEdgeLimit = lim))
    // 2 edges + 1 self-loop: 3 canonical rows, 5 directed edges
    val e = edges(1L -> 2L, 2L -> 1L, 3L -> 4L, 5L -> 5L)
    assert(local(e, 5))
    assert(!local(e, 4))
    assert(!local(e, 3))
    assert(!local(e, 0))
  }

  test("a NULL endpoint fails with one message on every path") {
    // (NULL, 3) used to become a self-loop of 3 on the driver and
    // min-label paths and a [null, null] row on the star path; (NULL,
    // NULL) threw a NullPointerException on the driver path
    for (rows <- Seq(
        Seq[(Option[Long], Option[Long])](Some(1L) -> Some(2L), None -> Some(3L)),
        Seq[(Option[Long], Option[Long])](Some(1L) -> Some(2L), None -> None),
        Seq[(Option[Long], Option[Long])](Some(1L) -> None))) {
      val e = rows.toDF("a", "b")
      val paths = Seq[(String, () => Unit)](
        "driver" -> (() => ConnectedComponents.labels(e, "a", "b").collect()),
        "min-label" -> (() =>
          ConnectedComponents.labels(e, "a", "b", localEdgeLimit = 0).collect()),
        "star" -> (() => ConnectedComponents.labels(e, "a", "b", localEdgeLimit = 0,
          algorithm = "star").collect()))
      for ((path, run) <- paths) {
        val ex = intercept[Exception](run())
        val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => Option(t.getMessage).exists(
          _.contains(ConnectedComponents.NullEndpointMsg))), s"$rows on $path: $ex")
      }
    }
  }
}
