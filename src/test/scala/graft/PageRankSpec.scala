package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.graph.PageRank

/** Every case runs on BOTH paths — the driver solve (the small-graph
  * default) and the distributed rounds (forced with
  * `localEdgeLimit = 0`) — and asserts they agree exactly: same rows
  * with multiplicity, same schema, same failure message.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val Paths = Seq(1L << 17, 0L)

  /** `f(localEdgeLimit)` on both paths; asserts equal rows and schemas. */
  private def bothPaths(f: Long => DataFrame): Seq[Row] = {
    val Seq(local, dist) = Paths.map(f)
    assert(local.schema === dist.schema)
    val Seq(l, d) = Seq(local, dist).map(_.collect().toSeq.sortBy(_.toString))
    assert(l === d, "driver and distributed paths disagree")
    l
  }

  /** The failure of `f(localEdgeLimit)` on both paths (Spark wraps
    * in-plan failures, so the whole cause chain is searched); asserts
    * both carry `msg`.
    */
  private def bothFail(msg: String)(f: Long => Any): Unit = Paths.foreach { lim =>
    val ex = intercept[Exception](f(lim))
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(chain.contains(msg), s"localEdgeLimit=$lim: $chain")
  }

  /** `PageRank.ranks` at its default scale and damping, behind a gate
    * of `lim` rows.
    */
  private def ranksAt(nodes: DataFrame, edges: DataFrame, iters: Int,
      redistributeDangling: Boolean = false, checkpointInterval: Int = 8)(lim: Long) =
    PageRank.ranksGated(nodes, "node", edges, "src", "dst", "w", iters, Scale, 85L, 100L,
      redistributeDangling, checkpointInterval, lim)

  private def ranksDf(nodes: Seq[Long], edges: Seq[(Long, Long, Long)], iters: Int,
      redistributeDangling: Boolean = false, checkpointInterval: Int = 8)(lim: Long) =
    ranksAt(nodes.toDF("node"), edges.toDF("src", "dst", "w"), iters,
      redistributeDangling, checkpointInterval)(lim)

  private def run(
      nodes: Seq[Long], edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] =
    bothPaths(ranksDf(nodes, edges, iters)).map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val Scale = 1000000000000L
  private val Base = 150000000000L // (1 - 0.85) * scale

  test("symmetric 2-cycle is a fixed point; isolated node holds the base rank") {
    // 1<->2 exchange their full rank each round: base + 0.85*scale = scale
    val out = run(Seq(1L, 2L, 3L), Seq((1L, 2L, 1L), (2L, 1L, 1L)), iters = 3)
    assert(out === Map(1L -> Scale, 2L -> Scale, 3L -> Base))
  }

  test("single directed edge: exact integer trajectory over 3 rounds") {
    // r1(1)=base (no in-edges); r2(2)=base + (base*85)//100 and stays
    val out = run(Seq(1L, 2L), Seq((1L, 2L, 1L)), iters = 3)
    assert(out(1L) === Base)
    assert(out(2L) === Base + Base * 85L / 100L) // 277_500_000_000
  }

  test("weights split a node's rank proportionally with floor division") {
    val out = run(Seq(1L, 2L, 3L), Seq((1L, 2L, 3L), (1L, 3L, 1L)), iters = 1)
    assert(out(2L) === Base + (Scale * 3L / 4L) * 85L / 100L)
    assert(out(3L) === Base + (Scale / 4L) * 85L / 100L)
  }

  test("iters = 0 returns the uniform start vector") {
    val out = run(Seq(5L, 6L), Seq((5L, 6L, 2L)), iters = 0)
    assert(out === Map(5L -> Scale, 6L -> Scale))
  }

  private def runRedistributed(
      nodes: Seq[Long], edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] =
    bothPaths(ranksDf(nodes, edges, iters, redistributeDangling = true))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dangling redistribution conserves total mass within the integer-truncation bound") {
    // 1 -> 2 -> 3, node 3 dangling: under the leak variant its whole
    // rank vanishes each round; redistributed, the total must stay at
    // N·scale up to the documented floor-division losses:
    // < E per round (one per edge contribution), < N (dangling share
    // div), < N (damping div per node), deficit geometrically damped.
    val nodes = Seq(1L, 2L, 3L)
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L))
    val (e, nn) = (edges.size.toLong, nodes.size.toLong)
    for (iters <- 1 to 4) {
      val total = runRedistributed(nodes, edges, iters).values.sum
      val bound = iters * (e + 3L * nn)
      assert(math.abs(total - nn * Scale) <= bound,
        s"iters=$iters total=$total expected=${nn * Scale} ± $bound")
    }
  }

  test("the default leak variant loses the dangling mass the redistribution recovers") {
    val nodes = Seq(1L, 2L, 3L)
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L))
    val leaked = run(nodes, edges, iters = 3).values.sum
    // node 3 held ≥ base rank each round and contributed none of it
    // back: the leak is at least one damped base-share
    assert(leaked < 3L * Scale - Base * 85L / 100L)
  }

  test("redistribution on a dangling-free graph matches the leak variant exactly") {
    // no dangling nodes -> dmass = 0 every round -> identical trajectories
    val nodes = Seq(1L, 2L, 3L)
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 1L, 2L))
    assert(runRedistributed(nodes, edges, 3) === run(nodes, edges, 3))
  }

  test("lineage-cut policy never changes values: deep run ≡ shallow policy at iters=10") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 4L, 1L))
    def at(interval: Int): Map[Long, Long] =
      bothPaths(ranksDf(nodes, edges, iters = 10, checkpointInterval = interval))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // leak path: interval 3 cuts three times, interval 100 never (the
    // single-ref chain is linear, so staying lazy is legal) — identical
    assert(at(3) === at(100))
    // redistributed path cuts EVERY round (double-ref chain would
    // double the plan per round); conservation must hold at depth too
    val total = runRedistributed(nodes, edges, iters = 10).values.sum
    val bound = 10L * (edges.size + 3L * nodes.size)
    assert(math.abs(total - nodes.size * Scale) <= bound)
  }

  test("non-positive edge weights are rejected up front, not folded into wrong ranks") {
    bothFail("edge weights must be positive integers")(ranksDf(Seq(1L, 2L), Seq((1L, 2L, 0L)), 1))
    bothFail("edge weights must be positive integers")(ranksDf(Seq(1L, 2L), Seq((1L, 2L, -3L)), 1))
    // a NULL weight is no positive integer either
    bothFail("edge weights must be positive integers")(ranksAt(Seq(1L, 2L).toDF("node"),
      Seq[(Long, Long, java.lang.Long)]((1L, 2L, null)).toDF("src", "dst", "w"), 1))
  }

  test("NULL endpoints and NULL nodes: both paths keep the join semantics") {
    // a NULL-src edge is dropped; a NULL-dst edge still counts in its
    // src's total weight (1 keeps only 2/3 of its mass for node 2); a
    // NULL node gets a rank row but never joins an edge
    val nodes = Seq[java.lang.Long](1L, 2L, 3L, null).toDF("node")
    val edges = Seq[(java.lang.Long, java.lang.Long, Long)](
      (1L, 2L, 2L), (1L, null, 1L), (null, 3L, 5L), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    for (redistribute <- Seq(false, true)) {
      val out = bothPaths(ranksAt(nodes, edges, iters = 3, redistributeDangling = redistribute))
      assert(out.size === 4)
      assert(out.count(_.isNullAt(0)) === 1)
    }
    val one = bothPaths(ranksAt(nodes, edges, iters = 1))
      .map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    assert(one(Some(2L)) === Base + (Scale * 2L / 3L) * 85L / 100L)
    assert(one(Some(3L)) === Base && one(None) === Base)
  }

  test("duplicate node rows: one output row each, k-fold contributions on both paths") {
    // node 1 listed twice holds two rank rows, so it sends its
    // contribution twice and appears twice in the output
    val out = bothPaths(ranksDf(Seq(1L, 1L, 2L), Seq((1L, 2L, 1L)), iters = 1))
    assert(out.map(_.getLong(0)).sorted === Seq(1L, 1L, 2L))
    assert(out.filter(_.getLong(0) == 2L).map(_.getLong(1)) === Seq(Base + 2L * Scale * 85L / 100L))
    // redistributed: the duplicated dangling node's mass counts twice too
    bothPaths(ranksDf(Seq(1L, 2L, 2L, 3L), Seq((1L, 2L, 1L), (3L, 1L, 1L)), iters = 3,
      redistributeDangling = true))
  }

  test("rank overflow raises on both paths") {
    // scale · w overflows a Long in the first contribution: the driver
    // raises "long overflow", Spark's ANSI arithmetic ARITHMETIC_OVERFLOW
    bothFail("overflow")(lim =>
      ranksDf(Seq(1L, 2L), Seq((1L, 2L, Long.MaxValue / 2)), 1)(lim).collect())
  }

  test("the gate: limit edges and nodes stay on the driver, limit + 1 of either go distributed") {
    // the shallow leak path plans its rounds lazily, so a distributed
    // result carries joins; the driver result is a scan of its rows
    def graph(nodes: Int, edges: Int) = ((1L to nodes).toDF("node"),
      (1L until edges + 1L).map(i => (i, i % nodes + 1, 1L)).toDF("src", "dst", "w"))
    def isLocal(df: DataFrame): Boolean = df.queryExecution.optimizedPlan
      .collectFirst { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty
    def local(nodes: Int, edges: Int, lim: Long): Boolean = {
      val (n, e) = graph(nodes, edges)
      isLocal(ranksAt(n, e, iters = 2)(lim))
    }
    assert(local(nodes = 6, edges = 6, lim = 6))
    assert(!local(nodes = 6, edges = 7, lim = 6))
    assert(!local(nodes = 7, edges = 6, lim = 6))
    assert(!local(nodes = 6, edges = 6, lim = 0))
    // the public entry point gates at the default
    val (n, e) = graph(nodes = 6, edges = 6)
    assert(isLocal(PageRank.ranks(n, "node", e, "src", "dst", "w", iters = 2)))
  }
}
