package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Jobs

/** Distributed connected components by iterative min-label propagation —
  * the clustering step that turns near-duplicate PAIRS (MinHash/SimHash
  * output) into dedup GROUPS with one canonical representative each.
  *
  * Each round every node adopts the minimum label among itself and its
  * neighbors; convergence takes O(graph diameter) rounds. That is the
  * right algorithm for dedup graphs specifically: near-dup components
  * are copies of the same underlying content, so they are dense and
  * tiny-diameter (2-3 rounds in practice). For adversarial
  * long-chain graphs the published alternative is large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) with O(log² n) rounds — same per-round shuffle shape, so it
  * can be swapped in behind this signature if a workload ever needs it.
  *
  * Scale notes: each round is one join + one min-aggregate, both
  * shuffling on the node id — so rounds reuse the same hash
  * partitioning. The driver-side loop holds only a changed-row COUNT
  * (no collect of data); lineage is cut each round with
  * `localCheckpoint` so plans don't nest `maxIter` deep.
  */
object ConnectedComponents {

  /** Labels every node of the undirected edge list with the minimum
    * node id reachable from it: output `(node, label)`, one row per
    * distinct endpoint. Edge direction and duplicate edges are
    * irrelevant (symmetrized + deduped internally).
    *
    * Graphs with at most `localEdgeLimit` (distinct, directed) edges
    * are solved by driver-side union-find instead of iterating — each
    * distributed round costs whole Spark jobs of fixed latency, which
    * dwarfs a sub-second exact solve for small pair lists (the same
    * bounded-driver-work trade as the IVF centroid sample). The default
    * cap (~128k edges ⇒ tens of MB of collected rows + boxed map
    * entries) keeps the transient driver footprint small even under a
    * default 1g driver heap; pass 0 to force the distributed path.
    *
    * Mixed src/dst column types are fine: the canonicalizing
    * least/greatest projection widens both endpoints to their common
    * type before either path runs, so local and distributed paths see
    * identical values.
    */
  def labels(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, localEdgeLimit: Long = 1L << 17,
      algorithm: String = "min-label"): DataFrame = {
    require(algorithm == "min-label" || algorithm == "star",
      s"unknown algorithm '$algorithm' (expected min-label | star)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // localEdgeLimit = 0 forces the distributed path — don't pay the
    // size-probe count job it can never satisfy; and the star path
    // needs only the canonical undirected edge set plus the node set,
    // both derivable from the RAW pair list — one narrow lazy
    // checkpoint of the pairs (materialized inside the round-0 canon
    // job) replaces the symmetrize-union + distinct shuffle and its
    // eager materialization job outright (r14: that preamble was the
    // single largest q84 job). Size bound for the localCheckpoint:
    // near-dup PAIRS, two ids per row — |pairs| ≪ corpus rows.
    if (localEdgeLimit == 0 && algorithm == "star")
      return labelsStar(e.localCheckpoint(eager = false), maxIter)
    // materialize the edge list ONCE, in CANONICAL form — one distinct
    // (lo, hi) row per undirected edge, self-loops kept: the input is
    // typically the output of the whole MinHash pipeline, which must
    // not be recomputed per consumer, and the canonical form carries
    // the same information as the old symmetrized frame at HALF the
    // rows (half the distinct shuffle, half the checkpoint, half the
    // local path's collect; least/greatest also widens mixed src/dst
    // types exactly like the union did)
    val cu = e.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst")).distinct()
      .localCheckpoint()
    // the size gate counts DISTINCT DIRECTED edges (the old sym frame):
    // each non-loop canonical row stands for 2, each self-loop for 1 —
    // derived in the one probe aggregate instead of materializing 2|E|.
    // localEdgeLimit = 0 forces the distributed path — skip the probe
    // job it can never satisfy (the r13 fix, preserved).
    def symCount: Long = {
      val cnt = cu.agg(count(lit(1)).as("n"),
        count(when(col("src") =!= col("dst"), 1)).as("nl")).head
      cnt.getLong(0) + cnt.getLong(1)
    }
    if (localEdgeLimit > 0 && symCount <= localEdgeLimit) labelsLocal(cu)
    else if (algorithm == "star") labelsStar(cu, maxIter)
    else labelsDistributed(
      // min-label propagation needs BOTH directions; rebuild them from
      // the checkpointed canonical frame (a projection, not a shuffle —
      // non-loop rows swap, loops appear once so no distinct needed)
      cu.union(cu.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"))),
      maxIter)
  }

  /** Driver-side union-find with path halving; min element becomes the
    * component label. Exact and deterministic — the distributed path
    * must agree with it (spec'd both ways).
    */
  private def labelsLocal(sym: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    // Strings must sort by CODE POINT (= UTF-8 byte order), matching
    // Spark's UTF8String / DuckDB collation on the distributed path;
    // Java String.compareTo is UTF-16 code-unit order, which ranks
    // supplementary characters (surrogate pairs) below U+E000..U+FFFF.
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) => compareCodePoints(x, y)
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    sym.collect().foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by label order so the root IS the minimum element
      if (cmp(ra, rb) < 0) parent(rb) = ra
      else if (cmp(rb, ra) < 0) parent(ra) = rb
    }
    val spark = sym.sparkSession
    val nodeType = sym.schema.head.dataType
    val rows = parent.keys.toSeq.map(n =>
      org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("label", nodeType))))
  }

  private def compareCodePoints(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  private def labelsDistributed(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    // maxIter bounds the rounds that IMPROVE a label; the final round
    // that merely observes zero change is not counted, so a graph whose
    // diameter needs exactly maxIter improvements still converges.
    var iter = 0
    var converged = false
    while (!converged) {
      // propagate each node's label to its neighbors, then take the min
      // of (own label, neighbor labels)
      val msgs = sym.join(labels, sym("src") === labels("node"))
        .select(sym("dst").as("node"), labels("label"))
      val next = labels.union(msgs)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint()
      val changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") < col("old")).count()
      converged = changed == 0
      if (!converged) {
        labels = next
        iter += 1
        require(iter <= maxIter,
          s"connected components did not converge in $maxIter rounds")
      }
    }
    labels
  }

  /** Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log² n) rounds on
    * ANY graph, vs min-label's O(diameter) — the fallback for
    * adversarial long-chain graphs where propagation would need
    * hundreds of rounds. Same per-round shuffle shape (groupBy + join
    * on node id), selected via `labels(..., algorithm = "star")`.
    *
    *  - large-star: every node connects its strictly-LARGER neighbors
    *    to its minimum neighborhood element `m(u) = min(Γ(u) ∪ {u})` —
    *    halves the height of tall trees without losing connectivity;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to `m(u)` — collapses what large-star left into
    *    stars centered at component minima.
    *
    * Convergence = the canonical undirected edge set reaches a fixed
    * point (a union of min-rooted stars); labels then read directly off
    * the star edges. Each round is localCheckpointed so plans don't
    * nest `maxIter` deep, mirroring the min-label loop.
    */
  /** `edges` may be ANY directed frame (cols `src`, `dst`) whose
    * undirected closure is the graph — raw pairs, symmetrized, deduped
    * or not: `canon` normalizes orientation and multiplicity, and the
    * node set unions both endpoint columns. Callers pass the cheapest
    * frame they have.
    */
  private def labelsStar(edges: DataFrame, maxIter: Int): DataFrame = {
    // canonical undirected form (lo, hi) for the fixed-point test
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("src"), col("dst")).as("lo"),
               greatest(col("src"), col("dst")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()

    // one star phase over the BIDIRECTED view of an edge frame
    // (directed (src, dst) rows, duplicates tolerated — min() is
    // multiplicity-blind and the round's closing canon dedups):
    // m(u) = min(Γ(u) ∪ {u}); large connects v > u, small connects
    // v <= u and u itself. Returns the emitted edges UNCANONICALIZED
    // so the two phases of a round fuse under one final distinct —
    // the intermediate canon was a full extra exchange per round
    // whose only effect (dedup) the closing canon reproduces.
    def phase(e: DataFrame, large: Boolean): DataFrame = {
      val bidir = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val m = bidir.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      val joined = bidir.join(m, "u")
      if (large) joined.filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
      else joined.filter(col("v") <= col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(m.select(col("u").as("src"), col("m").as("dst")))
    }

    val sc = edges.sparkSession.sparkContext
    var cur = Jobs.labeled(sc, "star-cc: canon")(canon(edges).localCheckpoint())
    var curCount = cur.count()
    var iter = 0
    var converged = curCount == 0
    while (!converged) {
      // one round = large star then small star, ONE canon at the end:
      // large-star's emitted multiset has the same SET of undirected
      // edges as its canon (every edge is (v, m(u)) with m(u) < v, so
      // orientation is already canonical and only duplicates differ),
      // min() over duplicates equals min() over the set, and the
      // closing canon dedups — so the fused round computes exactly the
      // canonical set the unfused one did, one distinct cheaper.
      val curDirected = cur.select(col("lo").as("src"), col("hi").as("dst"))
      val next = Jobs.labeled(sc, s"star-cc: round ${iter + 1}")(
        canon(phase(phase(curDirected, large = true), large = false))
          .localCheckpoint())
      val nextCount = next.count()
      // fixed point: same canonical set (counts first — cheap — then an
      // anti-join only when counts agree)
      converged = nextCount == curCount &&
        next.join(cur, Seq("lo", "hi"), "left_anti").isEmpty
      cur = next
      curCount = nextCount
      if (!converged) {
        iter += 1
        require(iter <= maxIter,
          s"star connected components did not converge in $maxIter rounds")
      }
    }
    // fixed point is a union of min-rooted stars: (hi → lo) labels every
    // non-root member, roots label themselves — one row per node, since
    // at a fixed point each hi carries exactly one edge and no root
    // appears as a hi (hi > lo = the component minimum).
    val members = cur.select(col("hi").as("node"), col("lo").as("label"))
    val roots = cur.select(col("lo").as("node"), col("lo").as("label")).distinct()
    val labeled = members.union(roots).distinct()
    // canon drops self-loops, so nodes whose ONLY edges were self-loops
    // vanish from the star iteration — restore them as their own labels
    // (min-label keeps them; the two paths must agree exactly). The
    // node set unions BOTH endpoint columns: `edges` need not be
    // symmetrized (src-only sufficed only for the old pre-symmetrized
    // input).
    val isolated = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .join(labeled.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    labeled.union(isolated)
  }

  /** Dedup clustering over a near-dup pair list: every document that
    * appears in a pair, labeled with its cluster id (the minimum doc id
    * of its component) and whether it is the cluster's canonical
    * representative (`keep = 1`) — the row set a dedup pipeline
    * anti-joins against the corpus to drop redundant copies.
    */
  def dedupClusters(pairs: DataFrame, idACol: String, idBCol: String,
      algorithm: String = "min-label",
      localEdgeLimit: Long = 1L << 17): DataFrame =
    labels(pairs, idACol, idBCol,
        algorithm = algorithm, localEdgeLimit = localEdgeLimit)
      .select(
        col("node").as("doc_id"),
        col("label").as("cluster_id"),
        (col("node") === col("label")).cast("int").as("keep"))
}
