package kgbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.graph.ConnectedComponents
import graft.streaming.{DurableLedger, StreamAnchorText, StreamKeepBest, StreamLengthStats,
  StreamNearDup}
import graft.textops.{CurationOps, NearDup, TextAnalysis}

/** The streaming half of the `curation` workload: each op sends one
  * micro-batch of new documents through
  * four fold sessions — durable keep-best, anchor text and length stats
  * (ledger commits), and MinHash near-dup admission — each driven by its
  * public `ingest(batch, batchId)` and followed by a state read. Every
  * `CompactEvery` batches the three ledgers are compacted. After the
  * run, each session's state must equal its batch operator over all
  * batches concatenated.
  */
final class StreamFold(spark: SparkSession, work: Path, seed: Long, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val name = "stream_fold"
  val unit = "document"
  val BatchSize = 100
  val CompactEvery = 2

  private var keepBest: StreamKeepBest.DurableKeepBestSession = _
  private var anchors: StreamAnchorText.DurableAnchorTextSession = _
  private var lengths: StreamLengthStats.DurableLengthStatsSession = _
  private var nearDup: StreamNearDup.NearDupSession = _
  private var batches = 0
  private var docsSoFar = 0L
  private var linksSoFar = 0L
  private val dropped = scala.collection.mutable.Set.empty[Long]
  private def ledgers: Seq[Path] = Seq("keep_best", "anchor_text", "length_stats").map(work.resolve)

  def setup(): Unit = {
    Fs.delete(work)
    Files.createDirectories(work)
    keepBest = new StreamKeepBest.DurableKeepBestSession(spark,
      work.resolve("keep_best").toString, "doc_id", "text", "quality")
    anchors = new StreamAnchorText.DurableAnchorTextSession(spark,
      work.resolve("anchor_text").toString, "doc_id", "page")
    lengths = new StreamLengthStats.DurableLengthStatsSession(spark,
      work.resolve("length_stats").toString, "lang", "text")
    nearDup = new StreamNearDup.NearDupSession(spark, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
    batches = 0
    docsSoFar = 0
    linksSoFar = 0
    dropped.clear()
  }

  def op(i: Int): OpResult = {
    val b = batches
    val (docs, links) = Gen.streamBatch(seed, b, BatchSize)
    val batch = docs.toDF()
    val inputBytes = docs.map(d => d.text.length + d.page.length + 24L).sum
    val before = ledgers.flatMap(p => Fs.filesUnder(p)).toMap

    tracer.span("streaming.keep_best.ingest") { keepBest.ingest(batch, b) }
    tracer.span("streaming.anchor_text.ingest") { anchors.ingest(batch, b) }
    tracer.span("streaming.length_stats.ingest") { lengths.ingest(batch, b) }
    val admission = tracer.span("streaming.near_dup.ingest") { nearDup.ingest(batch) }
    batches += 1
    docsSoFar += docs.size
    linksSoFar += links

    val problems = Seq.newBuilder[String]
    tracer.span("streaming.read") {
      val kb = keepBest.currentPanel.agg(count(lit(1)), sum($"group_size")).head()
      val at = anchors.currentPanel.agg(count(lit(1)), sum($"n_links")).head()
      val ls = lengths.currentStats.agg(count(lit(1)), sum($"n_docs")).head()
      val fates = admission.select($"doc_id", $"status").as[(Long, String)].collect()
      if (kb.getLong(1) != docsSoFar) problems += s"keep-best sizes ${kb.getLong(1)} != $docsSoFar"
      if (at.getLong(1) != linksSoFar) problems += s"anchor links ${at.getLong(1)} != $linksSoFar"
      if (ls.getLong(1) != docsSoFar) problems += s"length-stat docs ${ls.getLong(1)} != $docsSoFar"
      if (fates.length != docs.size) problems += s"admission fates ${fates.length} != ${docs.size}"
      dropped ++= fates.collect { case (id, s) if s.startsWith("dup") => id }
      raw("streaming.state_rows") += kb.getLong(0) + at.getLong(0) + ls.getLong(0) + fates.length
    }
    if (batches % CompactEvery == 0) tracer.span("streaming.compact") {
      val pre = ledgers.flatMap(p => Fs.filesUnder(p)).toMap
      ledgers.foreach(p => DurableLedger.compact(spark, p.toString, schemaOf(p)))
      val post = ledgers.flatMap(p => Fs.filesUnder(p)).toMap
      raw("streaming.bytes_rewritten") += post.collect { case (f, n) if !pre.contains(f) => n }.sum
    }
    val after = ledgers.flatMap(p => Fs.filesUnder(p)).toMap
    val written = after.collect { case (f, n) if !before.contains(f) => n }.sum
    raw("streaming.ledger_files") = after.size
    raw("streaming.ledger_bytes") = after.values.sum
    val p = problems.result()
    OpResult(docs.size, inputBytes, written, 0L, p.isEmpty, p.take(3).mkString("; "))
  }

  /** A ledger's row schema, read from one of its committed parquet files. */
  private def schemaOf(p: Path): StructType = {
    val f = Fs.filesUnder(p).keys.find(n => n.endsWith(".parquet") && !n.contains(".tmp"))
      .getOrElse(sys.error(s"no committed parquet file under $p"))
    spark.read.parquet(f).schema
  }

  override def finish(): Boolean = {
    val all = (0 until batches).flatMap(b => Gen.streamBatch(seed, b, BatchSize)._1).toDF()
      .localCheckpoint()
    def same(a: DataFrame, b: DataFrame): Boolean = {
      val cols = a.columns.sorted.map(col)
      val x = a.select(cols: _*).collect().map(_.toString).sorted
      val y = b.select(cols: _*).collect().map(_.toString).sorted
      x.sameElements(y)
    }
    val checks = Seq(
      "keep-best" -> same(keepBest.currentPanel,
        CurationOps.keepBestPanel(all, "doc_id", "text", "quality")),
      "anchor-text" -> same(anchors.currentPanel, TextAnalysis.anchorTextPanel(all, "doc_id", "page")),
      "length-stats" -> same(lengths.currentStats,
        CurationOps.lengthPercentilesByHistogram(all, "lang", "text")),
      "near-dup" -> {
        val batchDropped = ConnectedComponents.dedupClusters(
            NearDup.minhashLshPairs(all, "doc_id", "text", 3, 16, 4, 0.5), "id_a", "id_b")
          .filter($"keep" === 0).select($"doc_id".cast("long")).as[Long].collect().toSet
        batchDropped == dropped.toSet
      })
    checks.filterNot(_._2).foreach { case (n, _) =>
      System.err.println(s"[kgbench] stream_fold: $n state differs from its batch operator")
    }
    checks.forall(_._2)
  }

  def layerCounts(n: Double): Map[String, Double] = Map(
    "streaming.state_rows" -> raw("streaming.state_rows") / n,
    "streaming.bytes_rewritten" -> raw("streaming.bytes_rewritten") / n,
    "streaming.ledger_files" -> raw("streaming.ledger_files"),
    "streaming.ledger_bytes" -> raw("streaming.ledger_bytes"))
}
