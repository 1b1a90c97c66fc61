package graft.graph

import org.apache.spark.sql.{DataFrame, Row}

import graft.util.DriverGate

/** The small-graph gate shared by [[ConnectedComponents]], [[PageRank]]
  * and [[Hits]]: a graph whose frames each fit under `localEdgeLimit`
  * rows is solved exactly on the driver, behind the bounded-collect
  * gate the vector graph builders use too ([[graft.util.DriverGate]]).
  * `localEdgeLimit = 0` forces the distributed path.
  */
private[graph] object SmallGraph {

  /** The default gate, in rows. */
  val DefaultLimit: Long = DriverGate.DefaultRowLimit

  /** The edge checkpoint of a weighted graph, with the edge and node
    * rows when the graph qualifies for the driver: both frames fit
    * under `limit`, and the node column and both endpoint columns
    * (`edges`' `src`/`dst`) share one integral or (binary-collated)
    * string type ([[DriverGate.LocalIdTypes]]), where the local
    * solvers' Scala equality is Spark's join equality. The edges
    * are probed first ([[DriverGate.checkpointUpTo]]): they are the frame that
    * outgrows the cap. The node frame is probed only when the edges
    * fit, lazily — a small graph's node lineage then runs once, and a
    * graph with few edges but more than `limit` nodes pays a partial
    * read of at most `limit + 1` node rows before going distributed.
    */
  def graphUpTo(edges: DataFrame, nodes: DataFrame,
      limit: Long): (DataFrame, Option[(Array[Row], Array[Row])]) = {
    val t = nodes.schema.head.dataType
    val local = DriverGate.LocalIdTypes.contains(t) &&
      edges.schema("src").dataType == t && edges.schema("dst").dataType == t
    val (ck, edgeRows) = DriverGate.checkpointUpTo(edges, if (local) limit else 0L)
    (ck, for (e <- edgeRows; n <- DriverGate.rowsUpTo(nodes, limit)) yield (e, n))
  }

  /** A collected weighted graph — node rows `(node)`, edge rows
    * `(src, dst, w)` with every weight non-NULL — with its ids interned
    * to slots `0 until m`. Slot `m` stands for NULL: it groups like a
    * key in the aggregates (their sums still overflow-check) but never
    * matches a join. `mult(i)` counts the node rows of slot `i`, so
    * `mult(i) > 0` marks a node, and a node listed k times weighs k in
    * every join it takes part in, as its k rows do in Spark's.
    */
  final class Local(nodeRows: Array[Row], edgeRows: Array[Row]) {
    private val slots = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    (nodeRows.iterator.map(_.get(0)) ++ edgeRows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))))
      .foreach(v => if (v != null) slots.getOrElseUpdate(v, slots.size))
    val m: Int = slots.size
    /** The id of each slot (NULL at `m`). */
    val id: Array[Any] = (slots.keysIterator ++ Iterator(null)).toArray
    private def slot(v: Any): Int = if (v == null) m else slots(v)
    /** The slot of each node row, in row order. */
    val node: Array[Int] = nodeRows.map(r => slot(r.get(0)))
    val mult: Array[Long] = new Array[Long](m + 1)
    node.foreach(i => mult(i) += 1)
    val src: Array[Int] = edgeRows.map(r => slot(r.get(0)))
    val dst: Array[Int] = edgeRows.map(r => slot(r.get(1)))
    val w: Array[Long] = edgeRows.map(_.getLong(2))
  }
}
