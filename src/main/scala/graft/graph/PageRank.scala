package graft.graph

import java.lang.Math.{addExact, multiplyExact}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.DriverGate

/** Weighted PageRank over an edge list, in EXACT integer arithmetic —
  * ranks are carried as fixed-point micro-units (scale 10^12) and every
  * step is integer multiply/divide, so a fixed iteration count yields
  * bit-identical BIGINT ranks on any engine (the cross-engine float
  * policy applied to an iterative algorithm: IEEE sums over a shuffled
  * edge list would differ in the last ulp between engines, integer sums
  * cannot).
  *
  * Semantics per iteration, with damping d = dampNum/dampDen:
  *
  *   contrib(u→v) = (rank(u) * w(u,v)) div totalW(u)
  *   rank'(v)     = (scale * (dampDen − dampNum)) div dampDen
  *                + ((Σ contrib(·→v) [+ dangling share]) * dampNum) div dampDen
  *
  * Dangling mass (nodes with no out-edges): by default it LEAKS — the
  * common "PageRank with leak" variant, kept as the q57 gate contract.
  * With `redistributeDangling = true` each round adds the equal share
  * `danglingMass div nNodes` to every node before damping (the standard
  * Brin–Page formulation), which conserves total mass up to integer
  * truncation: each edge contribution loses < 1 micro-unit to `div`,
  * the share loses < nNodes per round — bounded and spec-pinned
  * (`PageRankSpec`), never a float drift. Either way a fixed iteration
  * count is a total, deterministic function of the graph.
  *
  * Small graphs (edge and node frames each under 2^17 rows, the
  * [[ConnectedComponents]] gate) are ranked on the driver in the same
  * arithmetic: a distributed round costs whole Spark jobs of
  * fixed latency, a driver round microseconds.
  *
  * Scale shape: each round is one join (edges ⋈ ranks on src) and one
  * sum-aggregate (on dst) — both shuffle on the node id, so AQE reuses
  * the same hash partitioning round over round, exactly like
  * [[ConnectedComponents]]. The edge frame (by the gate) and the
  * weighted edge frame (edges ⋈ total weight) are each materialized
  * once, before the first round, with a localCheckpoint. The rank frame's lineage handling is depth-aware:
  * the LEAK path cuts it every `checkpointInterval` rounds and stays
  * fully LAZY at or under the interval (one action;
  * ReusedExchange/ReusedBroadcast dedupe the per-round re-reads) —
  * without the cut the plan nests `iters` joins deep and
  * analysis/optimization cost blows up at real PageRank depths (20–50
  * rounds). The REDISTRIBUTED path cuts every round: it reads the rank
  * frame twice per round (contribution join + dangling-mass
  * aggregate), so a lazy chain would double the plan per round —
  * 2^iters subtrees. Checkpoint blocks are ContextCleaner-reclaimable,
  * unlike a persist() with no unpersist handle. The dangling share is
  * a 1-row aggregate cross-joined back (broadcast) — no driver-side
  * collect in the loop.
  * Overflow headroom: rank(u) ≤ nNodes·scale, so rank·w must stay
  * under 2^63 — for trillion-edge graphs normalize weights (e.g.
  * divide by their GCD or bucket to per-mille shares) before calling,
  * which preserves exactness.
  */
object PageRank {

  /** Ranks after `iters` rounds: output `(node, rank)` — one row per
    * row of `nodes` (isolated nodes receive the base rank). Edge
    * weights must be positive integers.
    *
    * A graph whose edge frame and node frame each fit under 2^17 rows
    * is ranked on the driver ([[SmallGraph]], the gate
    * [[ConnectedComponents]] uses) in the same exact `Long`
    * arithmetic, with the distributed plan's semantics row for row: a
    * node listed k times holds k rank rows, so it sends k contributions
    * and yields k output rows; a NULL node gets a rank but never joins
    * an edge; an edge with a NULL src is dropped by the weighted-edge
    * join, and one with a NULL dst still counts in its src's total
    * weight while its contribution reaches no node; overflow raises
    * (`multiplyExact`/`addExact`, as ANSI arithmetic does in Spark).
    */
  def ranks(
      nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      redistributeDangling: Boolean = false,
      checkpointInterval: Int = 8): DataFrame =
    ranksGated(nodes, nodeCol, edges, srcCol, dstCol, wCol, iters, scale, dampNum, dampDen,
      redistributeDangling, checkpointInterval, SmallGraph.DefaultLimit)

  /** [[ranks]] behind a gate of `localEdgeLimit` rows; 0 forces the
    * distributed path (the specs run every case on both paths).
    */
  private[graft] def ranksGated(
      nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int, scale: Long, dampNum: Long, dampDen: Long,
      redistributeDangling: Boolean, checkpointInterval: Int,
      localEdgeLimit: Long): DataFrame = {
    require(iters >= 0, s"iters must be non-negative: $iters")
    require(dampNum > 0 && dampNum < dampDen, s"damping $dampNum/$dampDen not in (0,1)")
    require(checkpointInterval > 0, s"checkpointInterval must be positive: $checkpointInterval")
    // the edge leaf, materialized once by the gate: the caller's edge
    // derivation (q57: a 4-table join) runs once, and everything after
    // reads blocks — the weight check, the total-weight aggregate and
    // the weighted-edge join
    val n = nodes.select(col(nodeCol).as("node"))
    val base = (scale * (dampDen - dampNum)) / dampDen
    SmallGraph.graphUpTo(edges.select(
        col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("long").as("w")),
        n, localEdgeLimit) match {
      case (_, Some((edgeRows, nodeRows))) =>
        ranksLocal(n, nodeRows, edgeRows, iters, scale, base, dampNum, dampDen,
          redistributeDangling)
      case (e, None) =>
        ranksDistributed(n, e, iters, scale, base, dampNum, dampDen,
          redistributeDangling, checkpointInterval)
    }
  }

  private val WeightMsg = "edge weights must be positive integers"

  /** The distributed rounds over the node frame (col `node`) and the
    * edge checkpoint (cols `src, dst, w`).
    */
  private def ranksDistributed(n0: DataFrame, e: DataFrame, iters: Int,
      scale: Long, base: Long, dampNum: Long, dampDen: Long,
      redistributeDangling: Boolean, checkpointInterval: Int): DataFrame = {
    // The deep paths cut lineage eagerly (per round when
    // redistributing, per interval otherwise), and EVERY cut's rank
    // join re-reads the node frame — left lazy, each cut re-executes
    // the caller's node-derivation subtree from the source (q165: the
    // full outlink extraction, once per round; at corpus scale, one
    // redundant full scan per cut). Materialize it once on those
    // paths. The shallow leak path stays fully lazy — one action,
    // ReusedExchange dedupes the per-round node reads, and callers'
    // plan shapes stay visible.
    val deep = redistributeDangling || iters > checkpointInterval
    val n = if (deep) n0.localCheckpoint() else n0
    // enforce the documented positive-weight precondition up front: a
    // zero/negative weight would make some tw ≤ 0 and the div NULL or
    // sign-corrupted — plausible-looking wrong ranks instead of an
    // error. One bounded extra job over the edge blocks (limit 1 stops
    // at the first hit).
    require(e.filter(col("w") <= 0 || col("w").isNull).limit(1).count() == 0L, WeightMsg)
    // The redistributed path reads the rank frame TWICE per round (the
    // contribution join and the dangling-mass aggregate) — left lazy,
    // the plan would DOUBLE per round (2^iters subtrees), so it always
    // cuts per round; the leak path references r once per round (linear
    // plan depth) and cuts only past checkpointInterval.
    val tw = e.groupBy(col("src")).agg(sum(col("w")).as("tw"))
    // the per-round contribution join re-reads the weighted edge frame
    // EVERY round; left lazy, each round re-runs the total-weight
    // aggregate and its join (exchange reuse does NOT fire across
    // rounds — verified: zero ReusedExchange in the executed plan), so
    // the weighted edge frame materializes once, eagerly
    val ew = e.join(tw, "src").localCheckpoint()
    // nodes with no out-edges, whose rank mass would otherwise vanish;
    // materialized once — every round re-reads it
    val dangling =
      if (redistributeDangling)
        n.join(ew.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
          .localCheckpoint()
      else null
    // bounded driver scalar (like knnGraph's plane constants): the
    // equal-share divisor for the dangling mass
    val nNodes = if (redistributeDangling) math.max(1L, n.count()) else 1L
    var r = n.withColumn("rank", lit(scale))
    var round = 0
    for (_ <- 1 to iters) {
      val sums = ew.join(r, ew("src") === r("node"))
        .select(col("dst"), expr("(rank * w) div tw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next =
        if (redistributeDangling) {
          val dmass = r.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("rank")), lit(0L)).as("dmass"))
          n.join(sums, n("node") === sums("dst"), "left")
            .join(broadcast(dmass))
            .select(col("node"),
              (lit(base) + expr(
                s"((coalesce(s, 0L) + dmass div $nNodes) * $dampNum) div $dampDen")).as("rank"))
        } else {
          n.join(sums, n("node") === sums("dst"), "left")
            .select(col("node"),
              (lit(base) + expr(s"(coalesce(s, 0L) * $dampNum) div $dampDen")).as("rank"))
        }
      round += 1
      r =
        if (redistributeDangling) next.localCheckpoint() // double-ref: cut every round
        else if (deep && round % checkpointInterval == 0) next.localCheckpoint()
        else next
    }
    r
  }

  /** The driver twin of [[ranksDistributed]] over the collected node
    * and edge rows, exact to the value.
    */
  private def ranksLocal(n: DataFrame, nodeRows: Array[Row], edgeRows: Array[Row],
      iters: Int, scale: Long, base: Long, dampNum: Long, dampDen: Long,
      redistributeDangling: Boolean): DataFrame = {
    require(edgeRows.forall(r => !r.isNullAt(2) && r.getLong(2) > 0), WeightMsg)
    val g = new SmallGraph.Local(nodeRows, edgeRows)
    import g.{m, mult, src, dst, w}
    val tw = new Array[Long](m + 1)
    val isSrc = new Array[Boolean](m + 1)
    for (j <- w.indices) { tw(src(j)) = addExact(tw(src(j)), w(j)); isSrc(src(j)) = true }
    val nNodes = math.max(1L, nodeRows.length.toLong)
    val rank = Array.fill(m + 1)(scale)
    for (_ <- 1 to iters) {
      // a non-NULL src that is a node joins its mult(u) rank rows
      val sums = new Array[Long](m + 1)
      for (j <- w.indices if src(j) < m && mult(src(j)) > 0) {
        val c = multiplyExact(rank(src(j)), w(j)) / tw(src(j))
        sums(dst(j)) = addExact(sums(dst(j)), multiplyExact(c, mult(src(j))))
      }
      // dangling: non-NULL nodes that are no edge's src (NULL never
      // semi-joins, so its rank rows stay out of the mass)
      val share =
        if (!redistributeDangling) 0L
        else (0 until m).filter(i => mult(i) > 0 && !isSrc(i))
          .foldLeft(0L)((acc, i) => addExact(acc, multiplyExact(rank(i), mult(i)))) / nNodes
      // every node row takes its own sum; the NULL node's sum never joins
      for (i <- 0 to m if mult(i) > 0) {
        val s = if (i == m) 0L else sums(i)
        rank(i) = addExact(base, multiplyExact(addExact(s, share), dampNum) / dampDen)
      }
    }
    // the distributed schema: a round's `div` types as nullable, the
    // start vector's literal does not
    DriverGate.frame(n.sparkSession, g.node.toSeq.map(i => Row(g.id(i), rank(i))),
      StructType(n.schema.fields :+ StructField("rank", LongType, nullable = iters > 0)))
  }
}
