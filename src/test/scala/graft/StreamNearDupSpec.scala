package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.graph.ConnectedComponents
import graft.streaming.StreamNearDup
import graft.textops.NearDup
import graft.util.DriverGate

/** Streaming MinHash near-dup admission: single-batch equality with
  * the batch composition (q17 ∘ q35), cross-batch first-arrival-wins,
  * chain semantics (dropped docs don't knock out later arrivals),
  * redelivery, and the no-verified-pair-among-kept invariant.
  */
class StreamNearDupSpec extends SparkSpec {
  import spark.implicits._

  // the q35 gate's parameters
  private val N = 3
  private val B = 16
  private val R = 4
  private val Tau = 0.5

  /** Fates as `id -> (status, partner)`. */
  private def fates(rows: Seq[Row]): Map[Long, (String, Option[Long])] =
    rows.map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap

  /** One batch through the admission step behind a gate of `limit` rows. */
  private def batchAt(b: DataFrame, ledger: StreamNearDup.Ledger, threshold: Double = Tau)(
      limit: Long): (DataFrame, StreamNearDup.Ledger) =
    StreamNearDup.nearDupBatchGated(b, ledger, "doc_id", "text", N, B, R, threshold, limit)

  /** The batches through a streaming session (the driver path at these
    * sizes) and, batch by batch, through the distributed steps (gate at
    * 0): asserts equal fates and schemas per batch and returns them.
    */
  private def runBatches(batches: Seq[Seq[(Long, String)]],
      threshold: Double = Tau)
      : (Seq[Map[Long, (String, Option[Long])]], StreamNearDup.NearDupSession) = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val session = new StreamNearDup.NearDupSession(
      spark, "doc_id", "text", N, B, R, threshold)
    val outs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val q = session.start(stream.toDS().toDF("doc_id", "text")) { (out, _) =>
      if (!out.isEmpty) outs += out
    }
    batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(outs.size == batches.size)
    var forced = StreamNearDup.emptyLedger(spark)
    val emitted = outs.zip(batches).map { case (out, b) =>
      val (f, next) = batchAt(b.toDF("doc_id", "text"), forced, threshold)(0L)
      forced = next
      fates(GatePaths.agree(out, f))
    }
    (emitted.toSeq, session)
  }

  private def batchClusters(df: DataFrame): Map[Long, Long] =
    ConnectedComponents.dedupClusters(
        NearDup.minhashLshPairs(df, "doc_id", "text", N, B, R, Tau),
        "id_a", "id_b")
      .filter($"keep" === 0)
      .select($"doc_id".cast("long"), $"cluster_id".cast("long"))
      .as[(Long, Long)].collect().toMap

  test("a single batch against an empty ledger equals dedupClusters ∘ minhashLshPairs") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val (emitted, _) = runBatches(Seq(docs))
    assert(emitted.size == 1)
    val expectedDups = batchClusters(docs.toDF("doc_id", "text"))
    assert(expectedDups.nonEmpty, "fixture must contain near-dup clusters")
    val got = emitted.head
    assert(got.size == docs.size)
    // every batch duplicate maps to its component canonical; everything
    // else is kept with no partner
    for ((id, (status, partner)) <- got) {
      if (expectedDups.contains(id)) {
        assert(status == "dup_batch" && partner == Some(expectedDups(id)),
          s"doc $id: got ($status, $partner), want dup_batch of ${expectedDups(id)}")
      } else {
        assert(status == "kept" && partner.isEmpty, s"doc $id: got ($status, $partner)")
      }
    }
  }

  // w1..w13 word chains: X = w1..w10, Y = w2..w11, Z = w3..w12.
  // 3-shingle Jaccard: X~Y = 7/9 ≈ 0.78, Y~Z ≈ 0.78, X~Z = 6/10 = 0.6
  // — at threshold 0.7, adjacent pairs match, the X-Z hop does not.
  private def words(lo: Int, hi: Int) = (lo to hi).map(i => s"w$i").mkString(" ")

  test("first arrival wins; a dropped doc does not knock out later arrivals") {
    val x = words(1, 10); val y = words(2, 11); val z = words(3, 12)
    val other = "zulu yankee xray whiskey victor uniform tango sierra"
    val (emitted, _) = runBatches(
      Seq(Seq(1L -> x, 50L -> other), Seq(2L -> y), Seq(3L -> z)),
      threshold = 0.7)
    val Seq(o1, o2, o3) = emitted
    assert(o1(1L) == ("kept", None) && o1(50L) == ("kept", None))
    // Y duplicates admitted X
    assert(o2(2L) == ("dup_ledger", Some(1L)))
    // Z is similar only to Y — which was NOT admitted — and clears X
    assert(o3(3L) == ("kept", None))
  }

  test("redelivery drops everything and grows nothing") {
    val x = words(1, 10); val other = "alpha bravo charlie delta echo foxtrot"
    val b1 = Seq(1L -> x, 2L -> other)
    val (emitted, session) = runBatches(Seq(b1, b1), threshold = 0.7)
    val Seq(o1, o2) = emitted
    assert(o1.values.forall(_._1 == "kept"))
    assert(o2(1L) == ("already_admitted", None))
    assert(o2(2L) == ("already_admitted", None))
    // ledger holds exactly the two admitted docs' rows — replay grew nothing
    assert(session.ledger.bands.select("id").distinct().count() == 2L)
    val bandRows = session.ledger.bands.count()
    val shRows = session.ledger.shingles.count()
    val (_, session2) = runBatches(Seq(b1), threshold = 0.7)
    assert(session2.ledger.bands.count() == bandRows)
    assert(session2.ledger.shingles.count() == shRows)
  }

  test("under any batching the kept set carries no verified pair") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val (byThree, _) = runBatches(docs.grouped((docs.size + 2) / 3).toSeq)
    val kept = byThree.flatMap(_.collect { case (id, ("kept", _)) => id }).toSet
    assert(kept.nonEmpty)
    val keptDocs = docs.filter(d => kept(d._1)).toDF("doc_id", "text")
    assert(NearDup.minhashLshPairs(keptDocs, "doc_id", "text", N, B, R, Tau)
      .count() == 0L, "admitted set must contain no verified near-dup pair")
    // and every doc got exactly one verdict across the batches
    assert(byThree.map(_.size).sum == docs.size)
  }

  private def text(cluster: Int, changed: Int = 0) =
    (1 to 60).map(i => if (i == changed) s"c${cluster}x$i" else s"c${cluster}w$i").mkString(" ")

  test("NULL and empty texts are kept and add no ledger rows on both paths") {
    val b = Seq((1L, Some(text(0))), (2L, None), (3L, Some("")), (4L, Some(text(0, 30))))
      .toDF("doc_id", "text")
    val empty = StreamNearDup.emptyLedger(spark)
    val (g, ledger) = batchAt(b, empty)(DriverGate.DefaultRowLimit)
    val got = fates(GatePaths.agree(g, batchAt(b, empty)(0L)._1))
    assert(got == Map(1L -> ("kept", None), 2L -> ("kept", None), 3L -> ("kept", None),
      4L -> ("dup_batch", Some(1L))))
    assert(ledger.bands.select("id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(ledger.shingles.count() == 58L)
  }

  test("a NULL batch id sends the batch to the distributed steps") {
    val b = Seq((Some(1L), text(0)), (None, text(1)), (Some(2L), text(0, 10)))
      .toDF("doc_id", "text")
    val empty = StreamNearDup.emptyLedger(spark)
    val rows = GatePaths.agree(batchAt(b, empty)(DriverGate.DefaultRowLimit)._1,
      batchAt(b, empty)(0L)._1, local = false)
    assert(rows.filterNot(_.isNullAt(0)).map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "kept"), (2L, "dup_batch")))
  }

  test("a ledger that outgrows the gate hands off mid-stream; the end state is " +
      "dedupClusters ∘ minhashLshPairs") {
    // clusters a..e, three members each differing in one word (pairwise
    // Jaccard ≥ 0.81); ids ascend in arrival order, so the first
    // arrival is each cluster's minimum. 58 shingle rows per doc and 16
    // band rows per admitted doc: at a gate of 400 rows the first two
    // batches fit (0 + 174, 148 + 232) and the third does not (222 + 290)
    val docs = Seq((0, 0), (0, 15), (1, 0), (1, 15), (2, 0), (2, 15), (0, 45),
      (3, 0), (3, 15), (2, 45), (1, 45), (3, 45), (4, 0), (4, 15))
      .zipWithIndex.map { case ((c, w), i) => (i + 1L, text(c, w)) }
    val batches = Seq(docs.take(3), docs.slice(3, 7), docs.slice(7, 12), docs.drop(12))
    var gated = StreamNearDup.emptyLedger(spark)
    var forced = gated
    val got = batches.zip(Seq(true, true, false, false)).flatMap { case (b, local) =>
      val df = b.toDF("doc_id", "text")
      val (g, gl) = batchAt(df, gated)(400L)
      val (f, fl) = batchAt(df, forced)(0L)
      gated = gl
      forced = fl
      fates(GatePaths.agree(g, f, local))
    }.toMap
    assert(got.size == docs.size)
    val dropped = got.collect { case (id, (s, _)) if s.startsWith("dup") => id -> s }
    assert(dropped.values.toSet == Set("dup_batch", "dup_ledger"))
    assert(dropped.keySet == batchClusters(docs.toDF("doc_id", "text")).keySet)
  }
}
