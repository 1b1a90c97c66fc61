package kgbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one op reports back to the loop. `inputBytes` is the size of the
  * input the op consumed; `diskBytes` what it wrote to files (shuffle
  * bytes are added from the listener); `llmRequests` the distinct
  * requests the exchange received.
  */
final case class OpResult(units: Long, inputBytes: Long, diskBytes: Long,
    llmRequests: Long, ok: Boolean, note: String = "")

/** Several parts run back to back as one op (their results summed). */
final class Composite(val name: String, val unit: String, parts: Seq[Workload]) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  override def prepare(i: Int): Unit = parts.foreach(_.prepare(i))
  def op(i: Int): OpResult = parts.map(_.op(i)).reduce((a, b) =>
    OpResult(a.units + b.units, a.inputBytes + b.inputBytes, a.diskBytes + b.diskBytes,
      a.llmRequests + b.llmRequests, a.ok && b.ok, Seq(a.note, b.note).filter(_.nonEmpty).mkString("; ")))
  override def finish(): Boolean = parts.map(_.finish()).forall(identity)
  override def resetCounts(): Unit = parts.foreach(_.resetCounts())
  /** Parts share only per-op counts (e.g. `chunk.chunks_out`), which add. */
  def layerCounts(nOps: Double): Map[String, Double] =
    parts.flatMap(_.layerCounts(nOps)).groupMapReduce(_._1)(_._2)(_ + _)
}

/** One workload: closed loop, one client, one op at a time. */
trait Workload {
  def name: String
  def unit: String
  /** Generate the seeded inputs from scratch. Called several times per
    * run; `setup_s` counts the median.
    */
  def setup(): Unit
  /** Untimed per-op input preparation (e.g. planting a ledger state). */
  def prepare(i: Int): Unit = ()
  def op(i: Int): OpResult
  /** Whole-run check after the timed loop; false fails every op. */
  def finish(): Boolean = true
  /** Raw layer counters, summed over the ops since the last reset. */
  val raw: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def resetCounts(): Unit = raw.clear()
  /** Per-layer count metrics from [[raw]], over `nOps` traced ops. */
  def layerCounts(nOps: Double): Map[String, Double]
}

object Main {

  val SetupReps = 3

  /** Every per-layer metric, printed for every workload (0 where the
    * workload does not exercise the layer). Times are seconds per op.
    */
  val Layers: Seq[String] = Seq("ingest", "chunk", "vocab", "pipeline", "exchange", "plans",
    "reconcile", "emit", "textops", "graph", "vectors", "streaming")
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.self_s" -> "s", "ingest.pages_in" -> "count",
    "ingest.pages_dropped_ratio" -> "ratio", "ingest.bytes_kept_ratio" -> "ratio",
    "chunk.self_s" -> "s", "chunk.tokenizer_calls" -> "count",
    "chunk.tokens_counted" -> "count", "chunk.chunks_out" -> "count",
    "vocab.self_s" -> "s", "vocab.chunks_in" -> "count", "vocab.hit_ratio" -> "ratio",
    "pipeline.self_s" -> "s",
    "exchange.requests" -> "count", "exchange.transport_calls" -> "count",
    "exchange.calls_per_request" -> "ratio", "exchange.retries" -> "count",
    "exchange.mapping_skipped_ratio" -> "ratio", "exchange.requests_per_unit" -> "ratio",
    "exchange.ship_s" -> "s", "exchange.collect_s" -> "s",
    "exchange.files_written" -> "count", "exchange.bytes_written" -> "bytes",
    "exchange.reship_rounds" -> "count",
    "plans.frontier_s" -> "s", "plans.frontier_ratio" -> "ratio", "plans.upsert_s" -> "s",
    "plans.ingest_s" -> "s", "plans.incomplete_s" -> "s", "plans.pack_fill_ratio" -> "ratio",
    "reconcile.self_s" -> "s", "reconcile.companies_out" -> "count",
    "reconcile.parse_errors" -> "count",
    "emit.self_s" -> "s", "emit.triples_out" -> "count", "emit.bytes_written" -> "bytes",
    "textops.neardup_s" -> "s", "textops.editdist_s" -> "s", "textops.knlm_s" -> "s",
    "textops.pairs_out" -> "count",
    "graph.cc_s" -> "s", "graph.pagerank_s" -> "s", "graph.hits_s" -> "s",
    "graph.clusters_out" -> "count",
    "vectors.knn_graph_s" -> "s", "vectors.hnsw_s" -> "s",
    "streaming.keep_best.ingest_s" -> "s", "streaming.anchor_text.ingest_s" -> "s",
    "streaming.length_stats.ingest_s" -> "s", "streaming.near_dup.ingest_s" -> "s",
    "streaming.read_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.compact_s" -> "s", "streaming.bytes_rewritten" -> "bytes",
    "streaming.ledger_files" -> "count", "streaming.ledger_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.idle_gap_s" -> "s", "spark.task_busy_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "unattributed_s" -> "s") ++
    Layers.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.shuffle_bytes" -> "bytes")) ++ Seq(
    "trace.units_per_s_traced" -> "1/s",
    "ambient.probe_before_s" -> "s", "ambient.probe_after_s" -> "s",
    "ambient.loadavg_before" -> "load", "ambient.loadavg_after" -> "load",
    "log.graft_warn_error" -> "count", "log.spark_warn_error" -> "count",
    "log.other_warn_error" -> "count")

  final case class Phase(lat: Vector[Double], units: Long, inBytes: Long,
      diskBytes: Long, llm: Long, failed: Int)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = java.nio.file.Paths.get(opts("work"))
    // kg_pipeline is planning-bound (about 0.1 of a core busy with tasks):
    // two task slots leave the planning thread, JIT and GC their own cores,
    // which keeps its one-op runs comparable on a shared 4-core machine
    val cores = math.min(opts.getOrElse("cores", "4").toInt, if (workload == "kg_pipeline") 2 else 4)

    val logs = new LogCounter
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    logs.install()
    // engine warm-up only (as graft.Bench does): a batch ETL job runs in a
    // fresh JVM, so each op's own first-run planning and codegen cost is
    // part of what is measured
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)

    val w: Workload = workload match {
      case "kg_pipeline" => new Composite(workload, "company", Seq(
        new KgExtract(spark, work.resolve("kg_extract"), seed, tracer),
        new KgReplan(spark, work.resolve("kg_replan"), seed, tracer)))
      case "curation" => new Composite(workload, "row", Seq(
        new CurationWorkload(spark, work.resolve("curation"), seed, tracer),
        new StreamFold(spark, work.resolve("stream_fold"), seed, tracer)))
    }
    val (correct, attempted, failed, metrics) =
      runWorkload(spark, w, seconds, trace, sessionS, tracer, logs, work)
    spark.stop()
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-11)th order statistic, i.e. p = (n-10)/n. Falls back to the max
    * (and says so) with 10 or fewer samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(0.0), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  private def loop(w: Workload, tracer: Tracer, seconds: Double, traced: Boolean): Phase = {
    tracer.enabled = traced
    val lat = ArrayBuffer.empty[Double]
    var (units, inB, disk, llm, failed) = (0L, 0L, 0L, 0L, 0)
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      w.prepare(i)
      val s = System.nanoTime()
      val r =
        try tracer.runOp(i)(w.op(i))
        catch {
          case e: Exception =>
            System.err.println(s"[kgbench] ${w.name} op $i threw: $e")
            e.printStackTrace()
            OpResult(0, 0, 0, 0, ok = false, e.toString)
        }
      lat += (System.nanoTime() - s) / 1e9
      if (!r.ok) {
        failed += 1
        System.err.println(s"[kgbench] ${w.name} op $i failed its check: ${r.note}")
      }
      units += r.units; inB += r.inputBytes; disk += r.diskBytes; llm += r.llmRequests
      i += 1
    }
    tracer.enabled = false
    Phase(lat.toVector, units, inB, disk, llm, failed)
  }

  /** Returns (correct, attempted, failed, metrics). */
  private def runWorkload(spark: SparkSession, w: Workload, seconds: Double, trace: Boolean,
      sessionS: Double, tracer: Tracer, logs: LogCounter,
      work: java.nio.file.Path): (Boolean, Int, Int, Seq[(String, (Double, String))]) = {
    logs.reset()
    val probeBefore = Ambient.probeSeconds()
    val loadBefore = Ambient.loadavg()
    val setups = (1 to SetupReps).map { _ =>
      val s = System.nanoTime()
      w.setup()
      (System.nanoTime() - s) / 1e9
    }
    val setupS = sessionS + median(setups)

    // End-to-end metrics come from untraced runs; a traced run (same
    // seed, same single cold JVM) gives the per-layer numbers, and the
    // ratio of the two runs' units_per_s is the tracing overhead.
    val main = loop(w, tracer, seconds, traced = trace)
    val finishOk = w.finish()
    tracer.drain()
    val probeAfter = Ambient.probeSeconds()
    val loadAfter = Ambient.loadavg()

    val attempted = main.lat.size
    val failed = if (finishOk) main.failed else attempted
    val unitsPerS = main.units / math.max(main.lat.sum, 1e-9)
    val shuffleWrite =
      if (trace) tracer.spans.map(s => tracer.stats(tracer.group(s)).shuffleWrite.sum).sum
      else main.lat.indices.map(i => tracer.stats(tracer.opGroup(i)).shuffleWrite.sum).sum
    val (tailV, tailP) = tail(main.lat)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "units_per_s" -> (unitsPerS, "1/s"),
      "op_p50_s" -> (median(main.lat), "s"),
      "op_tail_s" -> (tailV, "s"),
      "disk_bytes_per_input_byte" ->
        ((main.diskBytes + shuffleWrite).toDouble / math.max(main.inBytes, 1), "ratio"),
      "peak_rss_mb" -> (Ambient.peakRssMb(), "MB"))
    val failedRatio = failed.toDouble / math.max(attempted, 1)
    val llmPerUnit = main.llm.toDouble / math.max(main.units, 1)

    val out = System.out
    out.println(s"[kgbench] workload=${w.name} unit=${w.unit} traced=$trace ops=${main.lat.size} " +
      s"op_tail=p${"%.1f".format(tailP)} (${math.min(10, main.lat.size - 1)} samples beyond) " +
      s"setups=${setups.map("%.3f".format(_)).mkString(",")} session_s=${"%.3f".format(sessionS)}")
    e2e.foreach { case (k, (v, u)) => out.println(s"[kgbench] ${w.name} $k = $v $u") }
    out.println(s"[kgbench] ${w.name} failed_ratio = $failedRatio ratio ($failed of $attempted)")
    out.println(s"[kgbench] ${w.name} llm_requests_per_unit = $llmPerUnit requests/${w.unit}")
    out.println(s"[kgbench] ${w.name} ambient probe_s before/after = $probeBefore / $probeAfter, " +
      s"loadavg before/after = $loadBefore / $loadAfter")

    val metrics =
      if (!trace) e2e
      else {
        val layer = layerMetrics(w, tracer, main, spark.sparkContext.defaultParallelism) ++ Map(
          "exchange.requests_per_unit" -> llmPerUnit,
          "trace.units_per_s_traced" -> unitsPerS,
          "ambient.probe_before_s" -> probeBefore, "ambient.probe_after_s" -> probeAfter,
          "ambient.loadavg_before" -> loadBefore, "ambient.loadavg_after" -> loadAfter,
          "log.graft_warn_error" -> logs.graft.get.toDouble,
          "log.spark_warn_error" -> logs.spark.get.toDouble,
          "log.other_warn_error" -> logs.other.get.toDouble)
        // kept after the run (the run's own work directory is removed)
        val spansName = s"spans-${w.name}.jsonl"
        tracer.writeSpans(work.getParent.resolve(spansName))
        out.println(s"[kgbench] ${w.name} spans written: ${tracer.spans.size} to .bench_work/$spansName")
        PerLayer.map { case (k, u) =>
          val v = layer.getOrElse(k, 0.0)
          out.println(s"[kgbench] ${w.name} $k = $v $u")
          k -> (v, u)
        }
      }
    (finishOk && failed == 0, attempted, failed, metrics)
  }

  /** Span self times, per-layer Spark attribution and workload counts,
    * each per traced op.
    */
  private def layerMetrics(w: Workload, tracer: Tracer, p: Phase,
      cores: Int): Map[String, Double] = {
    val nOps = math.max(p.lat.size, 1).toDouble
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val spans = tracer.spans.toVector
    val children = spans.groupBy(_.parent)
    spans.foreach { s =>
      val self = s.seconds - children.getOrElse(s.id, Vector.empty).map(_.seconds).sum
      val key =
        if (s.name == "op") "unattributed_s"
        else if (s.name.contains('.')) s"${s.name}_s"
        else s"${s.name}.self_s"
      m(key) += self / nOps
      val st = tracer.stats(tracer.group(s))
      val layer = s.name.takeWhile(_ != '.')
      if (s.name != "op") {
        m(s"$layer.jobs") += st.jobs.sum / nOps
        m(s"$layer.tasks") += st.tasks.sum / nOps
        m(s"$layer.shuffle_bytes") += (st.shuffleRead.sum + st.shuffleWrite.sum) / nOps
      }
      m("spark.jobs") += st.jobs.sum / nOps
      m("spark.stages") += st.stages.sum / nOps
      m("spark.tasks") += st.tasks.sum / nOps
      m("spark.task_busy_s") += st.busyMs.sum / 1000.0 / nOps
      m("spark.gc_s") += st.gcMs.sum / 1000.0 / nOps
      m("spark.shuffle_read_bytes") += st.shuffleRead.sum / nOps
      m("spark.shuffle_write_bytes") += st.shuffleWrite.sum / nOps
      m("spark.spill_bytes") += st.spill.sum / nOps
    }
    // idle gap: op wall time during which no task of the op was running
    val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    spans.filter(_.name == "op").foreach { root =>
      val lo = root.start / 1e6 + wallOffsetMs
      val hi = root.end / 1e6 + wallOffsetMs
      import scala.jdk.CollectionConverters._
      val iv = spans.filter(_.op == root.op)
        .flatMap(s => tracer.stats(tracer.group(s)).intervals.asScala)
        .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      m("spark.idle_gap_s") += ((hi - lo) - covered) / 1000.0 / nOps
    }
    val wall = p.lat.sum
    m("spark.core_busy_ratio") = m("spark.task_busy_s") * nOps / math.max(wall * cores, 1e-9)
    w.layerCounts(nOps).foreach { case (k, v) => m(k) = v }
    m.toMap
  }
}
