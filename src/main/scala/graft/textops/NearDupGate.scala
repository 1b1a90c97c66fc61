package graft.textops

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow

import graft.util.DriverGate

/** The driver path of [[NearDup.minhashLshPairs]] and of the admission
  * batch [[graft.streaming.StreamNearDup.nearDupBatch]], behind the
  * shared bounded-collect gate ([[DriverGate]]). The gate collects the
  * `(id, h)` hashed-shingle rows the plan computes
  * ([[NearDup.hashedShingleIds]]: shingling and hashing stay in Spark),
  * and the solvers here mirror the plan's later phases step for step:
  *
  *  - signatures over the same [[NearDup.minhashParams]] with the
  *    plan's integer `(a · (h % P) + b) % P`;
  *  - one bucket per band and key, the key being the band's
  *    `rowsPerBand` signature values joined by `_` (the plan's
  *    `concat_ws("_")` string);
  *  - candidates `id_a < id_b` under Spark's id order, deduplicated;
  *  - the exact `n_common / (size_a + size_b − n_common)` as one double
  *    division, then the threshold.
  *
  * Duplicate ids merge their shingle sets, as the plan's per-id groups
  * do.
  */
private[graft] object NearDupGate {

  /** Collected `(id, h)` rows as shingle sets: slot `i` holds `id(i)`
    * and its distinct hashes `hs(i)`, sorted; slots follow Spark's
    * ascending id order, so slot order is id order.
    */
  final class Sets private (val id: Array[Any], val hs: Array[Array[Long]]) {
    def size: Int = id.length
  }

  object Sets {
    /** `rows` grouped by `idOf(row)` in `ord`, unless an id is NULL. */
    def of(rows: Seq[InternalRow], idOf: InternalRow => Any, ord: Ordering[Any]): Option[Sets] =
      if (rows.exists(_.isNullAt(0))) None
      else {
        val byId = mutable.HashMap.empty[Any, mutable.ArrayBuilder.ofLong]
        rows.foreach(r => byId.getOrElseUpdate(idOf(r), new mutable.ArrayBuilder.ofLong) += r.getLong(1))
        val ids = byId.keys.toArray.sorted(ord)
        Some(new Sets(ids, ids.map(i => byId(i).result().sorted.distinct)))
      }
  }

  /** The band keys of every set in `s` (each non-empty), one array
    * per slot, band by band.
    */
  def keysOf(s: Sets, bands: Int, rowsPerBand: Int): Array[Array[String]] = {
    val params = NearDup.minhashParams(bands * rowsPerBand)
    s.hs.map { hs =>
      val sig = params.map { case (a, b) =>
        var m = Long.MaxValue
        var i = 0
        while (i < hs.length) {
          val v = (a * (hs(i) % NearDup.MinhashPrime) + b) % NearDup.MinhashPrime
          if (v < m) m = v
          i += 1
        }
        m
      }
      sig.grouped(rowsPerBand).map(_.mkString("_")).toArray
    }
  }

  /** The buckets of `slots` (ascending) per band: each band's slots
    * sharing a key, ascending within a bucket.
    */
  def buckets(keys: Array[Array[String]], slots: Seq[Int], bands: Int): Seq[(Int, String, Seq[Int])] =
    (0 until bands).flatMap(j => slots.groupBy(keys(_)(j)).map { case (k, b) => (j, k, b) })

  /** The distinct pairs `x < y` sharing a bucket, packed as `x << 32 | y`. */
  def candidates(bs: Seq[(Int, String, Seq[Int])]): mutable.LinkedHashSet[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    for ((_, _, b) <- bs; i <- b.indices; j <- i + 1 until b.length)
      out += (b(i).toLong << 32) | b(j)
    out
  }

  /** The plan's exact Jaccard of two sorted distinct hash sets. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0
    var j = 0
    var common = 0L
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { common += 1; i += 1; j += 1 }
    }
    common.toDouble / (a.length.toLong + b.length - common).toDouble
  }

  /** [[NearDup.minhashLshPairs]] on the driver: its `(id_a, id_b,
    * jaccard)` rows, or `None` when the pair work exceeds `pairLimit`.
    */
  def pairs(s: Sets, bands: Int, rowsPerBand: Int, threshold: Double,
      pairLimit: Long): Option[Seq[Row]] = {
    val bs = buckets(keysOf(s, bands, rowsPerBand), 0 until s.size, bands)
    if (bs.iterator.map(b => b._3.length.toLong * b._3.length).sum > pairLimit) None
    else Some(candidates(bs).iterator.flatMap { c =>
      val (x, y) = ((c >>> 32).toInt, c.toInt)
      val jac = jaccard(s.hs(x), s.hs(y))
      if (jac >= threshold) Some(Row(DriverGate.external(s.id(x)), DriverGate.external(s.id(y)), jac))
      else None
    }.toSeq)
  }

  /** One admission batch's fates and ledger growth: `out` rows `(id,
    * status, partner)`, and the rows the ledger's `(id, band, band_key)`
    * and `(id, h)` frames hold after the batch.
    */
  final case class Admission(out: Seq[Row], bands: Seq[Row], shingles: Seq[Row])

  /** [[graft.streaming.StreamNearDup.nearDupBatch]] on the driver, over
    * the batch's distinct long `ids`, its shingle sets `batch` (long
    * ids, a subset of `ids`: docs without shingles have none) and the
    * ledger's band and shingle rows; `None` when the pair work — each
    * fresh document against its bucket's fresh and admitted documents —
    * exceeds `pairLimit`. The steps and fates are the plan's:
    *
    *  1. ids with ledger band rows are `already_admitted`;
    *  2. a fresh document verified against an admitted one it shares a
    *     bucket with is `dup_ledger`, its partner the smallest such id;
    *  3. the rest dedup among themselves: verified pairs form
    *     components, and every member but the component's minimum is
    *     `dup_batch` with that minimum as partner;
    *  4. the rest are `kept`, and those with shingles join the ledger.
    */
  def admit(ids: Seq[Long], batch: Sets, ledgerBands: Seq[InternalRow],
      ledgerShingles: Seq[InternalRow], bands: Int, rowsPerBand: Int, threshold: Double,
      pairLimit: Long): Option[Admission] = {
    // 1. the admitted ids, and the ledger's buckets and shingle sets
    val admitted = ledgerBands.iterator.map(_.getLong(0)).toSet
    val index = ledgerBands.groupBy(r => (r.getInt(1), r.getUTF8String(2).toString))
      .map { case (k, rs) => k -> rs.map(_.getLong(0)).distinct }
    val ledgerSets = ledgerShingles.groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toArray.sorted.distinct }
    val id = batch.id.map(_.asInstanceOf[Long])
    val keys = keysOf(batch, bands, rowsPerBand)
    val fresh = batch.id.indices.filterNot(i => admitted(id(i)))
    val freshBuckets = buckets(keys, fresh, bands)
    val work = freshBuckets.iterator.map { case (j, k, b) =>
      b.length.toLong * (b.length + index.get((j, k)).fold(0)(_.length))
    }.sum
    if (work > pairLimit) None
    else {
      // 2. the ledger probe
      val dupLedger = fresh.flatMap { i =>
        val partners = (0 until bands).flatMap(j => index.getOrElse((j, keys(i)(j)), Nil)).distinct
          .filter(y => ledgerSets.get(y).exists(jaccard(batch.hs(i), _) >= threshold))
        if (partners.isEmpty) None else Some(i -> partners.min)
      }.toMap
      // 3. the batch self-solve over the survivors; union by id order, so
      // each root is its component's minimum
      val rem = fresh.filterNot(dupLedger.contains)
      val parent = mutable.HashMap.empty[Int, Int]
      def find(x: Int): Int = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      candidates(buckets(keys, rem, bands)).foreach { c =>
        val (x, y) = ((c >>> 32).toInt, c.toInt)
        if (jaccard(batch.hs(x), batch.hs(y)) >= threshold) {
          val (rx, ry) = (find(x), find(y))
          if (rx < ry) parent(ry) = rx else if (ry < rx) parent(rx) = ry
        }
      }
      val dupBatch = parent.keys.toSeq.map(x => x -> find(x)).filter(p => p._1 != p._2)
        .map { case (x, root) => id(x) -> id(root) }.toMap
      // 4. fates and ledger growth
      val dupL = dupLedger.map { case (i, p) => id(i) -> p }
      val out = ids.map { i =>
        if (admitted(i)) Row(i, "already_admitted", null)
        else dupL.get(i).map(p => Row(i, "dup_ledger", p))
          .orElse(dupBatch.get(i).map(p => Row(i, "dup_batch", p)))
          .getOrElse(Row(i, "kept", null))
      }
      val kept = rem.filterNot(i => dupBatch.contains(id(i)))
      val bandRows = ledgerBands.map(r => Row(r.getLong(0), r.getInt(1), r.getUTF8String(2).toString))
        .distinct ++ kept.flatMap(i => keys(i).indices.map(j => Row(id(i), j, keys(i)(j))))
      val shingleRows = ledgerShingles.map(r => Row(r.getLong(0), r.getLong(1))).distinct ++
        kept.flatMap(i => batch.hs(i).map(h => Row(id(i), h)))
      Some(Admission(out, bandRows, shingleRows))
    }
  }
}
