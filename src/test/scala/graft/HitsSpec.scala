package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.graph.Hits

/** HITS in exact integer fixed point: hub/authority separation on the
  * canonical bipartite shape, MAX-normalization law, determinism
  * under partitioning, and the preconditions. Every case runs on BOTH
  * paths — the driver solve (the small-graph default) and the
  * distributed rounds (forced with `localEdgeLimit = 0`) — and asserts
  * they agree exactly: same rows with multiplicity, same schema, same
  * failure message.
  */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 100000L
  private val Paths = Seq(1L << 17, 0L)
  private val CoverageMsg = "nodes must cover every edge endpoint (src and dst)"
  private val WeightMsg = "edge weights must be positive integers"
  private val OverflowMsg = "scale^2 * total edge weight overflows 64-bit"

  /** `f(localEdgeLimit)` on both paths; asserts equal rows and schemas. */
  private def bothPaths(f: Long => DataFrame): Seq[Row] = {
    val Seq(local, dist) = Paths.map(f)
    assert(local.schema === dist.schema)
    val Seq(l, d) = Seq(local, dist).map(_.collect().toSeq.sortBy(_.toString))
    assert(l === d, "driver and distributed paths disagree")
    l
  }

  /** The failure of `f(localEdgeLimit)` on both paths; the distributed
    * coverage check fails inside a task, so the whole cause chain is
    * searched for `msg`.
    */
  private def bothFail(msg: String)(f: Long => Any): Unit = Paths.foreach { lim =>
    val ex = intercept[Exception](f(lim))
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(chain.contains(msg), s"localEdgeLimit=$lim: $chain")
  }

  /** `Hits.scores` behind a gate of `lim` rows. */
  private def scoresAt(nodes: DataFrame, edges: DataFrame, iters: Int,
      scale: Long = Scale)(lim: Long): DataFrame =
    Hits.scoresGated(nodes, "node", edges, "src", "dst", "w", iters, scale, lim)

  private def scoresDf(nodes: Seq[String], edges: Seq[(String, String, Long)],
      iters: Int, parts: Int = 4)(lim: Long): DataFrame =
    scoresAt(nodes.toDF("node").repartition(parts),
      edges.toDF("src", "dst", "w").repartition(parts), iters)(lim)

  private def run(nodes: Seq[String], edges: Seq[(String, String, Long)],
      iters: Int, parts: Int = 4) =
    bothPaths(scoresDf(nodes, edges, iters, parts))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("bipartite: sources are pure hubs, sinks pure authorities; leaders pin at scale") {
    // s1 points at both sinks (strong hub), s2 at one; t1 receives
    // more weighted mass than t2
    val nodes = Seq("s1", "s2", "t1", "t2")
    val edges = Seq(("s1", "t1", 3L), ("s1", "t2", 1L), ("s2", "t1", 1L))
    val out = run(nodes, edges, iters = 2)
    assert(out("t1")._1 == 0L && out("t2")._1 == 0L, "sinks have hub 0")
    assert(out("s1")._2 == 0L && out("s2")._2 == 0L, "sources have auth 0")
    assert(out("t1")._2 == Scale, "strongest authority pins at scale")
    assert(out("s1")._1 == Scale, "strongest hub pins at scale")
    assert(out("t2")._2 > 0L && out("t2")._2 < Scale)
    assert(out("s2")._1 > 0L && out("s2")._1 < Scale)
  }

  test("round 1 hand-check on the bipartite example") {
    val nodes = Seq("s1", "s2", "t1", "t2")
    val edges = Seq(("s1", "t1", 3L), ("s1", "t2", 1L), ("s2", "t1", 1L))
    val out = run(nodes, edges, iters = 1)
    // a1 raw: t1 = 4·Scale, t2 = 1·Scale -> a(t1)=Scale, a(t2)=Scale/4
    assert(out("t1")._2 == Scale && out("t2")._2 == 25000L)
    // h1 raw: s1 = 3·Scale + 1·25000, s2 = 1·Scale -> max = s1
    val s1raw = 3 * Scale + 25000L
    assert(out("s1")._1 == Scale)
    assert(out("s2")._1 == (Scale * Scale) / s1raw)
  }

  test("deterministic under partitioning; isolated nodes score (0, 0)") {
    val nodes = Seq("a", "b", "c", "lonely")
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L))
    val r1 = run(nodes, edges, 3, parts = 1)
    val r13 = run(nodes, edges, 3, parts = 13)
    assert(r1 == r13)
    assert(r1("lonely") == ((0L, 0L)))
  }

  test("non-positive weights are rejected") {
    bothFail(WeightMsg)(scoresDf(Seq("a", "b"), Seq(("a", "b", 0L)), 1))
  }

  test("NULL weights are rejected") {
    bothFail(WeightMsg)(scoresAt(Seq("a", "b").toDF("node"),
      Seq[(String, String, java.lang.Long)](("a", "b", null)).toDF("src", "dst", "w"), 1))
  }

  test("edge endpoints absent from the node set are rejected") {
    // the distributed coverage check rides the FIRST half-step +
    // rescale pair only (src via the half-step's left join, dst via the
    // first rescale's full-outer node join — raise_error on the
    // unmatched side, zero probe jobs), so it surfaces through Spark's
    // task-failure chain when the first rescale's localCheckpoint
    // executes — still eagerly, inside the scores() call itself; the
    // driver path checks before its first round, with the same message
    bothFail(CoverageMsg)(scoresDf(Seq("a", "b"), Seq(("a", "b", 1L), ("a", "ghost", 1L)), 1))
    // missing SRC endpoint trips the other half-step's check
    bothFail(CoverageMsg)(scoresDf(Seq("a", "b"), Seq(("a", "b", 1L), ("ghost", "b", 1L)), 1))
  }

  test("NULL endpoints are uncovered; NULL nodes score but yield no row") {
    for (e <- Seq(("a", null, 1L), (null, "b", 1L)))
      bothFail(CoverageMsg)(scoresDf(Seq("a", "b"), Seq(("a", "b", 1L), e), 1))
    val out = bothPaths(scoresDf(Seq("a", "b", null), Seq(("a", "b", 2L)), 2))
    assert(out.map(_.getString(0)) === Seq("a", "b"))
  }

  test("duplicate node rows: k² output rows and k-fold mass on both paths") {
    // "a" listed twice holds two score rows per half-step, so it pushes
    // its hub mass twice and the final node join emits it 2·2 times
    val out = bothPaths(scoresDf(Seq("a", "a", "b", "c"), Seq(("a", "b", 1L), ("c", "b", 1L)), 2))
    assert(out.map(_.getString(0)).sorted === Seq("a", "a", "a", "a", "b", "c"))
    val hub = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hub("a") === Scale && hub("c") === Scale, "both hubs point at the same authority")
  }

  test("scale^2 * total weight overflow is rejected up front") {
    bothFail(OverflowMsg)(scoresAt(Seq("a", "b").toDF("node"),
      Seq(("a", "b", Long.MaxValue / 4)).toDF("src", "dst", "w"), 1, scale = 100000L))
  }

  test("the gate: limit edges and nodes stay on the driver, limit + 1 of either go distributed") {
    // the distributed result ends in the node ⋈ hub ⋈ auth join; the
    // driver result is a scan of its rows
    def graph(nodes: Int, edges: Int) = ((1L to nodes).toDF("node"),
      (1L to edges).map(i => (i % nodes + 1, (i + 1) % nodes + 1, 1L)).toDF("src", "dst", "w"))
    def isLocal(df: DataFrame): Boolean = df.queryExecution.optimizedPlan
      .collectFirst { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty
    def local(nodes: Int, edges: Int, lim: Long): Boolean = {
      val (n, e) = graph(nodes, edges)
      isLocal(scoresAt(n, e, iters = 1)(lim))
    }
    assert(local(nodes = 6, edges = 6, lim = 6))
    assert(!local(nodes = 6, edges = 7, lim = 6))
    assert(!local(nodes = 7, edges = 6, lim = 6))
    assert(!local(nodes = 6, edges = 6, lim = 0))
    // the public entry point gates at the default
    val (n, e) = graph(nodes = 6, edges = 6)
    assert(isLocal(Hits.scores(n, "node", e, "src", "dst", "w", iters = 1)))
  }
}
