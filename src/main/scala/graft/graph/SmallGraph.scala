package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DataType

import graft.util.DriverGate

/** The small-graph gate of [[PageRank]] and [[Hits]] (and, over its
  * canonical edges alone, [[ConnectedComponents]]): a graph is solved
  * exactly on the driver behind [[graft.util.DriverGate.gate]].
  * `localEdgeLimit = 0` forces the distributed path.
  */
private[graph] object SmallGraph {

  /** `solve` over a weighted graph's collected rows when its edge frame
    * (`src, dst, w`) and node frame (`node`) each fit under `limit`
    * rows and the node column and both endpoint columns share one
    * integral or (binary-collated) string type
    * ([[DriverGate.LocalIdTypes]]), where the local solvers' Scala
    * equality is Spark's join equality; otherwise the edge checkpoint.
    * The edges are gated first: they are the frame that outgrows the
    * cap. The node frame is read only when the edges fit, by a bounded
    * collect — a small graph's node lineage then runs once, and a
    * graph with few edges but more than `limit` nodes pays a partial
    * read of at most `limit + 1` node rows before going distributed.
    */
  def gate(edges: DataFrame, nodes: DataFrame, limit: Long, label: String)(
      solve: Local => DataFrame): Either[DataFrame, DataFrame] = {
    val t = nodes.schema.head.dataType
    val local = DriverGate.LocalIdTypes.contains(t) &&
      edges.schema("src").dataType == t && edges.schema("dst").dataType == t
    DriverGate.gate(edges, if (local) limit else 0L, label)(e =>
      DriverGate.internalRowsUpTo(nodes, limit).map(n => solve(new Local(n, e, t))))
  }

  /** A collected weighted graph — node rows `(node)`, edge rows
    * `(src, dst, w)` with ids of type `t` — with its ids interned to
    * slots `0 until m`. Slot `m` stands for NULL: it groups like a key
    * in the aggregates (their sums still overflow-check) but never
    * matches a join. `mult(i)` counts the node rows of slot `i`, so
    * `mult(i) > 0` marks a node, and a node listed k times weighs k in
    * every join it takes part in, as its k rows do in Spark's. A NULL
    * weight reads as 0, which both solvers reject as a weight.
    */
  final class Local(nodeRows: Array[InternalRow], edgeRows: Array[InternalRow], t: DataType) {
    private def idOf(r: InternalRow, i: Int): Any = DriverGate.external(r.get(i, t))
    private val slots = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    (nodeRows.iterator.map(idOf(_, 0)) ++ edgeRows.iterator.flatMap(r => Iterator(idOf(r, 0), idOf(r, 1))))
      .foreach(v => if (v != null) slots.getOrElseUpdate(v, slots.size))
    val m: Int = slots.size
    /** The id of each slot (NULL at `m`). */
    val id: Array[Any] = (slots.keysIterator ++ Iterator(null)).toArray
    private def slot(v: Any): Int = if (v == null) m else slots(v)
    /** The slot of each node row, in row order. */
    val node: Array[Int] = nodeRows.map(r => slot(idOf(r, 0)))
    val mult: Array[Long] = new Array[Long](m + 1)
    node.foreach(i => mult(i) += 1)
    val src: Array[Int] = edgeRows.map(r => slot(idOf(r, 0)))
    val dst: Array[Int] = edgeRows.map(r => slot(idOf(r, 1)))
    val w: Array[Long] = edgeRows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
