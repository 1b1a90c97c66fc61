package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamHeavyHitters
import graft.textops.HeavyHitters

/** Streaming Misra-Gries heavy hitters: unlike the KMV twin, merged MG
  * summaries are approximate BY CONSTRUCTION — what must hold exactly
  * are the guarantees: residuals never overcount, the undercount never
  * exceeds the tracked errorBound, and `candidates` supersets the true
  * heavy hitters at the declared support.
  */
class StreamHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private val Capacity = 64
  private val SupportPpm = 20000L // 2%

  private def zipfItems(n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val weights = (0 until 40).map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    Seq.fill(n) {
      val x = rnd.nextDouble() * cum.last
      s"w${cum.indexWhere(x <= _)}"
    }
  }

  private def exactCounts(items: Seq[String]): Map[String, Long] =
    items.groupBy(identity).map { case (k, v) => k -> v.length.toLong }

  private def trueHeavy(items: Seq[String]): Set[String] = {
    val n = items.length.toLong
    exactCounts(items).collect {
      case (k, c) if BigInt(c) * 1000000L >= BigInt(n) * SupportPpm => k
    }.toSet
  }

  test("batchSummary is deterministic, never overcounts, error-bounded") {
    val items = zipfItems(3000, 3)
    val df = items.toDF("item")
    val (r1, t1, e1) = StreamHeavyHitters.batchSummary(df.repartition(7), "item", 16)
    val (r2, t2, e2) = StreamHeavyHitters.batchSummary(df.repartition(2), "item", 16)
    assert((r1, t1, e1) === ((r2, t2, e2)), "partitioning must not change the summary")
    assert(t1 === 3000L)
    assert(r1.size <= 16)
    val exact = exactCounts(items)
    r1.foreach { case (k, r) =>
      assert(r <= exact(k), s"residual overcounts $k")
      assert(exact(k) - r <= e1, s"undercount of $k exceeds pruneError")
    }
  }

  test("session over random splits: guarantees hold, candidates superset true heavy hitters") {
    implicit val sqlCtx = spark.sqlContext
    val items = zipfItems(6000, 17)
    val session = new StreamHeavyHitters.HhSession("item", Capacity)
    val stream = MemoryStream[String]
    val q = session.start(stream.toDS().toDF("item"))
    val rnd = new scala.util.Random(5)
    items.groupBy(_ => rnd.nextInt(5)).values.foreach { b =>
      stream.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    assert(session.itemTotal === 6000L)
    val exact = exactCounts(items)
    session.residuals.foreach { case (k, r) =>
      assert(r <= exact(k))
      assert(exact(k) - r <= session.errorBound)
    }
    val heavy = trueHeavy(items)
    assert(heavy.nonEmpty)
    val cands = session.candidates(SupportPpm).keySet
    assert(heavy.subsetOf(cands),
      s"missing: ${heavy -- cands}, err=${session.errorBound}")
    // the watch-list feeds the batch verify pass: exact counts of the
    // candidates reproduce the true heavy hitters precisely
    val verified = exact.view.filterKeys(cands).collect {
      case (k, c) if BigInt(c) * 1000000L >= BigInt(6000L) * SupportPpm => k
    }.toSet
    assert(verified === heavy)
  }

  test("durable session: replay-idempotent, compaction-stable, same guarantees") {
    val dir = java.nio.file.Files.createTempDirectory("hhledger").toString
    val items = zipfItems(4000, 23)
    val session = new StreamHeavyHitters.DurableHhSession(
      spark, dir, "item", Capacity, compactEvery = 2)
    val batches = items.grouped(1500).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      session.ingest(b.toDF("item"), i.toLong)
    }
    val before = session.current
    // redelivery of an already-committed batch rewrites identical rows
    session.ingest(batches.head.toDF("item"), 0L)
    assert(session.current === before)
    // a fresh session over the same path (restart) sees the same fold
    val restarted = new StreamHeavyHitters.DurableHhSession(
      spark, dir, "item", Capacity)
    assert(restarted.current === before)
    val (residuals, total, err) = before
    assert(total === 4000L)
    val exact = exactCounts(items)
    residuals.foreach { case (k, r) =>
      assert(r <= exact(k))
      assert(exact(k) - r <= err)
    }
    val heavy = trueHeavy(items).filter { k =>
      BigInt(exact(k)) * 1000000L >= BigInt(4000L) * SupportPpm
    }
    assert(heavy.subsetOf(session.candidates(SupportPpm).keySet))
  }

  // per-group fixtures: differently-sized and differently-skewed groups
  private def groupedRows(seed: Int): Seq[(String, String)] =
    zipfItems(3000, seed).map(("g1", _)) ++
      zipfItems(400, seed + 1).map(("g2", _)) ++
      Seq.fill(30)(("g3", "only"))

  private def trueHeavyByGroup(rows: Seq[(String, String)]): Map[String, Set[String]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      g -> trueHeavy(rs.map(_._2))
    }

  test("grouped session: per-group guarantees, candidates superset per-group heavy hitters") {
    val rows = groupedRows(17)
    val session = new StreamHeavyHitters.GroupedHhSession("grp", "item", Capacity)
    val batches = new scala.util.Random(5).shuffle(rows).grouped(700).toSeq
    batches.foreach(b => session.ingest(b.toDF("grp", "item")))
    val exactByGroup = rows.groupBy(_._1).map { case (g, rs) => g -> exactCounts(rs.map(_._2)) }
    // never overcount, per group
    session.residuals.foreach { case (g, s) =>
      s.foreach { case (k, r) => assert(r <= exactByGroup(g)(k), s"$g/$k overcounts") }
      assert(s.size <= Capacity)
    }
    assert(session.groupTotals === Map("g1" -> 3000L, "g2" -> 400L, "g3" -> 30L))
    // the stated Misra-Gries bound, per group: true count − errorBound ≤
    // residual, an absent item's true count ≤ errorBound, and
    // errorBound ≤ total/(capacity+1). g1's 40 items fit Capacity, so a
    // capacity-8 session over the same batches makes the prunes run.
    val pruned = new StreamHeavyHitters.GroupedHhSession("grp", "item", 8)
    batches.foreach(b => pruned.ingest(b.toDF("grp", "item")))
    assert(pruned.errorBounds("g1") > 0)
    Seq(session -> Capacity, pruned -> 8).foreach { case (s, cap) =>
      assert(s.errorBounds.keySet === exactByGroup.keySet)
      exactByGroup.foreach { case (g, exact) =>
        val err = s.errorBounds(g)
        val res = s.residuals.getOrElse(g, Map.empty)
        exact.foreach { case (k, c) =>
          res.get(k) match {
            case Some(r) => assert(c - err <= r, s"$cap: $g/$k undercounts past the bound")
            case None => assert(c <= err, s"$cap: $g/$k dropped above the bound")
          }
        }
        assert(err * (cap + 1) <= s.groupTotals(g), s"$cap: $g bound above total/(capacity+1)")
      }
    }
    // candidates superset the true per-group heavy hitters (g3's 100%
    // item included)
    val cand = session.candidates(SupportPpm)
    trueHeavyByGroup(rows).foreach { case (g, heavy) =>
      assert(heavy.subsetOf(cand.getOrElse(g, Map.empty).keySet), s"group $g")
    }
    assert(cand("g3").keySet === Set("only"))
  }

  test("grouped durable session: replay-idempotent, restart, per-group superset") {
    val dir = java.nio.file.Files.createTempDirectory("ghh").toString
    val rows = groupedRows(23)
    val batches = rows.grouped((rows.size + 2) / 3).toSeq
    val s1 = new StreamHeavyHitters.DurableGroupedHhSession(
      spark, dir, "grp", "item", Capacity, compactEvery = 2)
    batches.zipWithIndex.foreach { case (b, i) => s1.ingest(b.toDF("grp", "item"), i.toLong) }
    val before = s1.current
    // replay the last batch: identical summary rows overwrite
    s1.ingest(batches.last.toDF("grp", "item"), (batches.size - 1).toLong)
    assert(s1.current === before)
    // restart
    val s2 = new StreamHeavyHitters.DurableGroupedHhSession(
      spark, dir, "grp", "item", Capacity)
    assert(s2.current === before)
    val cand = s2.candidates(SupportPpm)
    trueHeavyByGroup(rows).foreach { case (g, heavy) =>
      assert(heavy.subsetOf(cand.getOrElse(g, Map.empty).keySet), s"group $g")
    }
  }
}
