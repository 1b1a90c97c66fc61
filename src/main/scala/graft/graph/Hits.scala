package graft.graph

import java.lang.Math.{addExact, multiplyExact}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.DriverGate

/** HITS (Kleinberg 1999) hub/authority scores over a weighted edge
  * list, in EXACT integer arithmetic — the [[PageRank]] float policy
  * applied to the mutually-recursive pair: a good HUB points at good
  * authorities (`h(u) = Σ_{u→v} w·a(v)`), a good AUTHORITY is pointed
  * at by good hubs (`a(v) = Σ_{u→v} w·h(u)`). Where PageRank ranks by
  * stationary visiting mass, HITS separates "pages that link well"
  * from "pages worth linking to" — the frontier wants BOTH (hubs seed
  * discovery, authorities deserve fetch budget).
  *
  * The textbook iteration L2-normalizes each half-step; exact
  * cross-engine arithmetic forbids square roots, so this uses the
  * equally standard MAX normalization: after each half-step the raw
  * sums rescale to `(raw · scale) div max(raw)` — the leader pins at
  * `scale`, everything else is an integer fraction of it. A fixed
  * round count is then a total, deterministic function of the graph
  * (integer sums cannot drift by shuffle order; the max is a 1-row
  * aggregate broadcast back, never collected).
  *
  * Overflow headroom: raw sums are bounded by `scale · totalW`, and
  * the rescale multiplies by `scale` again — keep
  * `scale² · totalW < 2^63` (the default scale 10^5 allows ~10^8
  * total edge weight; normalize weights first beyond that).
  *
  * Scale shape: each half-step is one keyed equi-join (edges ⋈ scores)
  * + one sum-aggregate on the opposite endpoint — node-id-keyed
  * shuffles, AQE-reusable partitioning, exactly the [[PageRank]]
  * round; each half-step cuts lineage eagerly (each score frame feeds
  * the next half-step AND its max aggregate — two consumers, the
  * redistributed-PageRank situation). Small graphs (edge and node
  * frames each under 2^17 rows, the [[ConnectedComponents]] gate)
  * skip those 2·iters cuts and are scored on the driver in the same
  * arithmetic.
  */
object Hits {

  /** Scores after `iters` rounds: `(node, hub, auth)`, one row per
    * node in `nodes` — MAX-normalized to `scale` each half-step;
    * nodes with no out-edges have hub 0, with no in-edges auth 0
    * (after the first round). The final node join is an inner
    * equi-join, so a NULL node yields no row and a node listed k times
    * yields k² rows (its k score rows also weigh k in every half-step).
    * ENFORCED preconditions (failing loudly like `iters`/`scale`): edge
    * weights are positive integers, `scale²·ΣW` fits in a Long (the
    * half-step × rescale product bound), and `nodes` covers every edge
    * endpoint, NULL endpoints included (rescale's left join would
    * otherwise drop absent endpoints' mass each half-step).
    *
    * A graph whose edge and node frames each fit under 2^17 rows is
    * scored on the driver ([[SmallGraph]]) with the same semantics,
    * preconditions and messages; overflow raises there too
    * (`multiplyExact`/`addExact`, as ANSI arithmetic does in Spark).
    */
  def scores(
      nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int,
      scale: Long = 100000L): DataFrame =
    scoresGated(nodes, nodeCol, edges, srcCol, dstCol, wCol, iters, scale,
      SmallGraph.DefaultLimit)

  /** [[scores]] behind a gate of `localEdgeLimit` rows; 0 forces the
    * distributed path (the specs run every case on both paths).
    */
  private[graft] def scoresGated(
      nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int, scale: Long, localEdgeLimit: Long): DataFrame = {
    require(iters >= 1, s"iters must be at least 1: $iters")
    require(scale > 0, s"scale must be positive: $scale")
    val n = nodes.select(col(nodeCol).as("node"))
    SmallGraph.graphUpTo(edges.select(
        col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("long").as("w")),
        n, localEdgeLimit) match {
      case (_, Some((edgeRows, nodeRows))) => scoresLocal(n, nodeRows, edgeRows, iters, scale)
      case (ew, None) => scoresDistributed(n, ew, iters, scale)
    }
  }

  private val CoverageMsg = "nodes must cover every edge endpoint (src and dst)"

  /** Preconditions (1) and (2) of [[scores]], from the edge count, the
    * non-NULL weight count, the least weight (0 when none) and the
    * total weight.
    */
  private def requireWeights(n: Long, nw: Long, mn: Long, totalW: Long, scale: Long): Unit = {
    require(n == nw && (n == 0L || mn > 0L), "edge weights must be positive integers")
    require(scale <= Long.MaxValue / math.max(totalW, 1L) / scale,
      s"scale^2 * total edge weight overflows 64-bit: scale=$scale totalW=$totalW")
  }

  private def scoresDistributed(nodes: DataFrame, ew: DataFrame, iters: Int,
      scale: Long): DataFrame = {
    // every rescale (2 per round, each behind an eager localCheckpoint)
    // joins the node frame — left lazy, each cut re-executes the
    // caller's node-derivation subtree from the source (q169: the full
    // outlink extraction, 2×iters times; at corpus scale, one redundant
    // full scan per half-step). Materialize it once.
    val n = nodes.localCheckpoint()
    // three enforced preconditions (violations silently corrupted
    // scores when these were document-only). The r11 form costed them
    // as TWO bounded control-plane jobs (weight aggregate + coverage
    // anti-join), and at local job latency that pair was q169's only
    // >2× bench regression. Now: (1)+(2) stay ONE eager aggregate —
    // positive integer weights, and the overflow bound (a half-step
    // holds raw ≤ scale·ΣW and rescale multiplies by scale again, so
    // scale²·ΣW must fit in a Long; totalW gates driver-side math, so
    // this cannot defer); (3) coverage moves IN-PLAN, on the FIRST
    // half-step + rescale pair ONLY (the r12 form checked BOTH round-1
    // half-steps; coverage is a static property of (nodes, edges), so
    // one checked pass suffices — the VERDICT-r12 q169 item): the
    // first half-step joins edges⋈hubs on SRC as a left join whose
    // score operand `raise_error`s on an unmatched src endpoint, and
    // the first rescale's node join runs FULL OUTER with a raise on a
    // raw node absent from `nodes` — which is exactly a DST endpoint
    // outside the node set (raw is keyed by dst there). Both checks
    // ride joins the round already pays — zero extra jobs — and the
    // localCheckpoint inside the first rescale surfaces a failure
    // eagerly at the `scores` call. Every later join is plain inner/
    // left. CAVEAT (execution-time, not call-time): like any in-plan
    // probe, the raises fire only when the carrying joins evaluate —
    // a never-executed result or AQE empty-relation propagation on an
    // empty edge set skips them (harmless: no mass flows to corrupt).
    val agg = ew.agg(
      count(lit(1)).as("n"), count(col("w")).as("nw"),
      coalesce(min(col("w")), lit(0L)).as("mn"),
      coalesce(sum(col("w")), lit(0L)).as("tw")).head
    requireWeights(agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3), scale)
    var h = n.withColumn("s", lit(scale)).localCheckpoint()
    var a: DataFrame = null
    for (i <- 1 to iters) {
      a = rescale(n, halfStep(ew, h, from = "src", to = "dst",
        checkCoverage = i == 1), scale, checkCoverage = i == 1)
      h = rescale(n, halfStep(ew, a, from = "dst", to = "src"), scale)
    }
    // rescale already emitted one non-null row per node in n (absent
    // nodes got 0), so these joins are total — inner, no coalesce
    h.select(col("node"), col("s").as("hub"))
      .join(a.select(col("node"), col("s").as("auth")), Seq("node"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** The driver twin of [[scoresDistributed]] over the collected node
    * and edge rows, exact to the value: the same three preconditions
    * and messages, `Long` arithmetic that raises on overflow as ANSI
    * arithmetic does in Spark, and the final inner node join's output —
    * a node listed k times yields k² rows, a NULL node none.
    */
  private def scoresLocal(n: DataFrame, nodeRows: Array[Row], edgeRows: Array[Row],
      iters: Int, scale: Long): DataFrame = {
    val ws = edgeRows.filter(!_.isNullAt(2)).map(_.getLong(2))
    requireWeights(edgeRows.length, ws.length, if (ws.isEmpty) 0L else ws.min,
      ws.foldLeft(0L)(addExact), scale)
    val g = new SmallGraph.Local(nodeRows, edgeRows)
    import g.{m, mult, src, dst, w}
    def covered(i: Int) = i < m && mult(i) > 0
    require(src.forall(covered) && dst.forall(covered), CoverageMsg)
    // raw(to) = Σ w·s(from) over each edge's mult(from) score rows,
    // then the MAX rescale
    def halfStep(s: Array[Long], from: Array[Int], to: Array[Int]): Array[Long] = {
      val raw = new Array[Long](m + 1)
      for (j <- w.indices)
        raw(to(j)) = addExact(raw(to(j)),
          multiplyExact(multiplyExact(w(j), s(from(j))), mult(from(j))))
      val mx = math.max(raw.max, 1L)
      raw.map(r => multiplyExact(r, scale) / mx)
    }
    var h = Array.fill(m + 1)(scale)
    var a = h
    for (_ <- 1 to iters) {
      a = halfStep(h, src, dst)
      h = halfStep(a, dst, src)
    }
    val rows = (0 until m).filter(mult(_) > 0).flatMap(i =>
      Iterator.fill((mult(i) * mult(i)).toInt)(Row(g.id(i), h(i), a(i))))
    DriverGate.frame(n.sparkSession, rows, StructType(n.schema.fields ++ Seq(
      StructField("hub", LongType), StructField("auth", LongType))))
  }

  /** `raw(to) = Σ w · s(from)` — one keyed join + one sum-aggregate.
    * With `checkCoverage` the join is LEFT and an unmatched `from`
    * endpoint raises in the score operand (the `when` keeps the join
    * an outer one — the predicate tolerates the null — and the raise
    * sits inside an expression the aggregate consumes, so pruning
    * can never drop it).
    */
  private def halfStep(ew: DataFrame, s: DataFrame,
      from: String, to: String, checkCoverage: Boolean = false): DataFrame = {
    val joined =
      if (checkCoverage)
        ew.join(s, ew(from) === s("node"), "left")
          .select(col(to).as("node"),
            (col("w") * when(s("node").isNull,
              raise_error(lit(CoverageMsg)))
              .otherwise(col("s"))).as("c"))
      else
        ew.join(s, ew(from) === s("node"))
          .select(col(to).as("node"), (col("w") * col("s")).as("c"))
    joined.groupBy(col("node")).agg(sum(col("c")).as("raw"))
  }

  /** MAX-normalize to `scale` over the node set (absent nodes get 0);
    * the max is a 1-row broadcast. An all-zero round (possible only on
    * an empty edge set) keeps zeros rather than dividing by it.
    * With `checkCoverage` the node join runs FULL OUTER and a raw node
    * with no `nodes` row raises — in the first round `raw` is keyed by
    * DST endpoints, so this is the dst half of the coverage contract,
    * riding the join the rescale already pays (a plain left join would
    * silently drop that endpoint's mass).
    */
  private def rescale(n: DataFrame, raw: DataFrame, scale: Long,
      checkCoverage: Boolean = false): DataFrame = {
    val m = raw.agg(greatest(max(col("raw")), lit(1L)).as("__max"))
    val joined =
      if (checkCoverage)
        n.withColumn("__in_n", lit(1)).join(raw, Seq("node"), "full")
          .select(col("node"),
            when(col("__in_n").isNull,
              raise_error(lit(CoverageMsg)))
              .otherwise(coalesce(col("raw"), lit(0L))).as("raw"))
      else
        n.join(raw, Seq("node"), "left")
          .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
    joined
      .join(broadcast(m))
      .select(col("node"),
        expr(s"(raw * $scale) div __max").as("s"))
      .localCheckpoint()
  }
}
