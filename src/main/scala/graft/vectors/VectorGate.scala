package graft.vectors

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Divide, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._

import graft.functions.HyperplaneBuckets
import graft.util.DriverGate

/** The driver path of [[Vectors.knnGraph]] and [[Vectors.hnswTopK]],
  * behind the shared bounded-collect gate ([[DriverGate]]). A corpus
  * whose vectors fit [[Budget]] doubles, with non-NULL distinct ids of
  * an integral or (binary-collated) string type, is collected once and
  * solved exactly here; anything else runs the distributed plans.
  *
  * The solvers mirror those plans step for step: the same constants
  * and tie-breaks, the same [[HyperplaneBuckets]] expression for the
  * LSH keys, the same sequential double sums as
  * [[graft.functions.DotProduct]]/[[graft.functions.NormL2]] (norms are
  * read from the collected rows, where Spark computed them), and
  * Spark's `round(x, 6)` (HALF_UP). Ranks order by cosine desc, then id
  * asc, under Spark's double ordering (NaN greatest) with NULL last.
  * Division by a zero norm product evaluates Spark's own `Divide`, so
  * it fails under ANSI and yields NULL otherwise, as in the plans.
  */
private[graft] object VectorGate {

  /** The driver budget, in doubles: 2^22 (32 MiB), the footprint of
    * the graph gate's 2^17-row cap. A frame's doubles are its vectors'
    * lengths (rows × dim for well-formed vectors), each row counting at
    * least one.
    */
  val Budget: Long = 1L << 22

  /** The doubles an `(id, v, …)` row holds on the driver. */
  val weight: InternalRow => Long = r =>
    if (r.isNullAt(1)) 1L else math.max(1L, r.getArray(1).numElements().toLong)

  /** Whether ids of type `t` can be interned on the driver. */
  def localIds(t: DataType): Boolean = DriverGate.LocalIdTypes.contains(t)

  /** A collected `(id, v, n, …)` frame: ids in row order, each vector
    * as primitive doubles — `null` where Spark's dot product and norm
    * are NULL (a NULL vector or a NULL element) — and `ord(i)`, row
    * `i`'s position in Spark's ascending id order.
    */
  final class Vecs private (val rows: Array[InternalRow], val id: Array[Any], idType: DataType) {
    val size: Int = rows.length
    val v: Array[Array[Double]] = rows.map { r =>
      if (r.isNullAt(1)) null
      else {
        val a = r.getArray(1)
        if ((0 until a.numElements()).exists(a.isNullAt)) null else a.toDoubleArray()
      }
    }
    val norm: Array[Double] = rows.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    val ord: Array[Int] = {
      val cmp = DriverGate.idOrdering(idType)
      val o = new Array[Int](size)
      Array.range(0, size).sortWith((i, j) => cmp.compare(id(i), id(j)) < 0)
        .zipWithIndex.foreach { case (i, p) => o(i) = p }
      o
    }
    /** Row `i`'s id as an external value. */
    def ext(i: Int): Any = DriverGate.external(id(i))
  }

  object Vecs {
    /** `rows` with ids of `idType`, unless an id is NULL or repeats. */
    def of(rows: Array[InternalRow], idType: DataType): Option[Vecs] =
      if (rows.exists(_.isNullAt(0))) None
      else {
        val id = rows.map(_.get(0, idType))
        if (id.toSet.size < id.length) None else Some(new Vecs(rows, id, idType))
      }
  }

  /** Spark's `round(dot(a, b) / (na * nb), 6)`; `null` is SQL NULL. */
  def cosine(a: Array[Double], na: Double, b: Array[Double], nb: Double): java.lang.Double =
    if (a == null || b == null || a.length != b.length) null
    else {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      val d = na * nb
      if (d != 0.0) round6(s / d)
      else Divide(Literal(s), Literal(d)).eval() match {
        case null => null
        case x: java.lang.Double => round6(x)
      }
    }

  private def round6(x: Double): java.lang.Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The first `limit` of `cands` (row indices) by `(score desc, id
    * asc)`, with each one's score.
    */
  def top(cands: Array[Int], score: Int => java.lang.Double, ord: Array[Int],
      limit: Int): Array[(Int, java.lang.Double)] =
    cands.map(j => (j, score(j))).sorted(new Ordering[(Int, java.lang.Double)] {
      def compare(x: (Int, java.lang.Double), y: (Int, java.lang.Double)): Int = {
        val c = (x._2, y._2) match {
          case (null, null) => 0
          case (null, _) => 1
          case (_, null) => -1
          case (a, b) => SQLOrderingUtil.compareDoubles(b, a)
        }
        if (c != 0) c else Integer.compare(ord(x._1), ord(y._1))
      }
    }).take(limit)

  /** Per row of `rows` (row indices into `vs`), the rows sharing its
    * bucket in one LSH table keyed by `planes` — itself included.
    */
  private def bucketMates(vs: Vecs, rows: Array[Int],
      planes: Array[Array[Double]]): Array[Array[Int]] = {
    val key = HyperplaneBuckets(BoundReference(1, ArrayType(DoubleType), nullable = true),
      planes.toSeq.map(_.toSeq))
    val b = rows.map(i => key.eval(vs.rows(i)).asInstanceOf[Long])
    val groups = rows.indices.groupBy(b(_)).map { case (k, ps) => k -> ps.map(rows).toArray }
    b.map(groups)
  }

  /** The distinct row indices a `fill` adds, in first-seen order (one
    * seen-mark slot per row, reused across calls).
    */
  private final class Distinct(n: Int) {
    private val mark = new Array[Int](n)
    private var cur = 0
    def apply(fill: (Int => Unit) => Unit): Array[Int] = {
      cur += 1
      val out = Array.newBuilder[Int]
      fill(j => if (mark(j) != cur) { mark(j) = cur; out += j })
      out.result()
    }
  }

  /** [[Vectors.knnGraph]] on the driver: its rows, or `None` when the
    * seed pair work exceeds `pairLimit`.
    */
  def knnGraph(vs: Vecs, k: Int, planeSets: Seq[Array[Array[Double]]], rounds: Int,
      pairLimit: Long): Option[Seq[Row]] = {
    val all = Array.range(0, vs.size)
    val mates = planeSets.map(bucketMates(vs, all, _))
    if (mates.iterator.flatMap(_.iterator).map(_.length.toLong).sum > pairLimit) None
    else {
      val distinct = new Distinct(vs.size)
      def topk(u: Int, cands: Array[Int]) = top(cands.filter(_ != u),
        j => cosine(vs.v(u), vs.norm(u), vs.v(j), vs.norm(j)), vs.ord, k)
      var g = all.map(u => topk(u, distinct(add => mates.foreach(_(u).foreach(add)))))
      for (_ <- 1 to rounds) {
        val out = g.map(_.map(_._1))
        val adj = {
          val in = Array.fill(vs.size)(Array.newBuilder[Int])
          for (u <- all; w <- out(u)) in(w) += u
          all.map(u => distinct(add => { out(u).foreach(add); in(u).result().foreach(add) }))
        }
        g = all.map(u => topk(u, distinct { add =>
          adj(u).foreach(v => adj(v).foreach(add))
          out(u).foreach(add)
        }))
      }
      Some(for (u <- all.toSeq; ((j, c), r) <- g(u).zipWithIndex)
        yield Row(vs.ext(u), r + 1, vs.ext(j), c))
    }
  }

  /** [[Vectors.hnswTopK]] on the driver over a corpus `(id, v, n, h60)`
    * and queries `(query_id, qv, qn)` of the same id type, given the
    * entry layer and each layer's plane count.
    */
  def hnsw(vs: Vecs, qs: Vecs, k: Int, beam: Int, degree: Int, layerMods: Array[Long],
      entryLayer: Int, planesFor: Int => Int, dim: Int, tables: Int, hops: Int,
      seed: Int): Seq[Row] = {
    val h60 = vs.rows.map(_.getLong(3))
    def members(j: Int): Array[Int] = Array.range(0, vs.size).filter(h60(_) % layerMods(j) == 0)
    val distinct = new Distinct(vs.size)
    // top-degree out-edges per member of layer j, symmetrized
    def layerAdj(j: Int): Array[Array[Int]] = {
      val mem = members(j)
      val mates = (0 until tables).map(t =>
        bucketMates(vs, mem, Vectors.hyperplanes(planesFor(j), dim, seed + j * tables + t)))
      val adj = Array.fill(vs.size)(Array.newBuilder[Int])
      mem.indices.foreach { p =>
        val x = mem(p)
        val cands = distinct(add => mates.foreach(_(p).foreach(add))).filter(_ != x)
        top(cands, y => cosine(vs.v(x), vs.norm(x), vs.v(y), vs.norm(y)), vs.ord, degree)
          .foreach { case (y, _) => adj(x) += y; adj(y) += x }
      }
      adj.map(_.result())
    }
    val below = ((entryLayer - 1) to 0 by -1).map(layerAdj)
    val entry = members(entryLayer)
    (0 until qs.size).flatMap { qi =>
      def rank(cands: Array[Int], limit: Int) = top(cands,
        j => cosine(qs.v(qi), qs.norm(qi), vs.v(j), vs.norm(j)), vs.ord, limit)
      var b = rank(entry, beam)
      for (adj <- below; _ <- 1 to hops)
        b = rank(distinct(add => b.foreach { case (s, _) => adj(s).foreach(add); add(s) }), beam)
      b.iterator.filter { case (j, _) => vs.id(j) != qs.id(qi) }.take(k).zipWithIndex
        .map { case ((j, c), r) => Row(qs.ext(qi), r + 1, vs.ext(j), c) }
    }
  }
}
