package kgbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.chunk.{Chunker, ChunkingStrat}
import graft.emit.{MfgOut, Triples}
import graft.exchange.{BatchExchange, InlineExchange}
import graft.exchange.BatchExchange.BatchApi
import graft.exchange.InlineExchange.Transport
import graft.functions.{TiktokenEncoding, Tokenizer}
import graft.ingest.{Blocks, CorpusDoc, Dedup}
import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.CompanyText
import graft.plans.{Ledger, Packer, RequestBlob}
import graft.reconcile.{ChunkEvidence, Reconcile}
import graft.vocab.BruteSearch

/** Planted answers for one company, as the benchmark LLM sees them. */
final case class Truth(kind: Int, name: String, mappings: Map[String, Map[String, String]])

/** Deterministic zero-latency LLM: answers from the planted truth. The
  * search answer lists the keywords the chunk mentions for the asked
  * field; the mapping answer is the company's planted
  * `{unknown -> known label}` object. A seeded ~8% of requests fail
  * once (the first call of the op), exercising the exchange's retry.
  */
final class BenchTransport(truth: Map[String, Truth]) extends Transport {
  @transient private lazy val mapper = new ObjectMapper()
  @transient private lazy val markers =
    Gen.Marker.map { case (f, m) => f -> java.util.regex.Pattern.compile(s"(?m)^$m: (.+)$$") }

  override def call(customId: String, bodyJson: String): String = {
    if (BenchTransport.flaky(customId) && BenchTransport.failedOnce.add(customId))
      throw new java.io.IOException(s"transient failure: $customId")
    val parts = customId.split(">")
    val t = truth(parts(0))
    parts(1) match {
      case "is_manufacturer" => t.kind match {
        case 2 => "\u0000\u0001 NOT JSON {{{"
        case 0 => """{"answer": true, "confidence": 90, "reason": "makes parts"}"""
        case _ => """{"answer": false, "confidence": 80, "reason": "resells"}"""
      }
      case "business_desc" => s"""{"name": "${t.name}", "description": "${t.name} makes parts."}"""
      case "addresses" => """[{"city": "Tempe", "state": "AZ", "address_lines": ["1 Main St"]}]"""
      case field if parts.last == "mapping" =>
        mapper.writeValueAsString(t.mappings.getOrElse(field, Map.empty).asJava)
      case field =>
        val text = mapper.readTree(bodyJson).path("body").path("messages").path(1)
          .path("content").asText()
        mapper.writeValueAsString(BenchTransport.mentions(markers(field), text).asJava)
    }
  }
}

object BenchTransport {
  val failedOnce: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  def flaky(id: String): Boolean = (id.hashCode & 0x7fffffff) % 13 == 0
  def mentions(p: java.util.regex.Pattern, text: String): Seq[String] = {
    val m = p.matcher(text)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group(1)
    out.result().distinct
  }
}

/** The extraction half of the `kg_pipeline` workload — the paper's
  * extraction path, one shard of companies per op: shred -> dedup ->
  * orchestrate (inline exchange over the benchmark transport) -> emit
  * N-Triples to disk.
  */
final class KgExtract(spark: SparkSession, work: Path, seed: Long, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val name = "kg_extract"
  val unit = "company"
  val Shards = 6
  /** Two of the four reference concept strategies (the largest and the
    * smallest token budget): each strategy adds ~25 Spark jobs to an op,
    * and two keep one op inside the benchmark's time budget.
    */
  val Strategies: Seq[ChunkingStrat] = Seq(ChunkingStrat.Certificate, ChunkingStrat.ProcessCap)
  private val fields = Strategies.map(_.fieldType)
  private def arrayOrNull(f: String) =
    if (fields.contains(f)) col(f) else lit(null).cast("array<string>").as(f)

  private var shards: Vector[Vector[Gen.Company]] = Vector.empty

  def setup(): Unit = {
    Files.createDirectories(work)
    shards = Vector.tabulate(Shards) { s =>
      val kinds = new scala.util.Random(seed * 31 + s).shuffle(Vector(0, 0, 1, 2))
      kinds.zipWithIndex.map { case (k, j) => Gen.company(seed, s * 4 + j, k) }
    }
    shards.zipWithIndex.foreach { case (sh, k) =>
      sh.map(c => CorpusDoc(c.etld1, "v1", c.combined)).toDS()
        .write.mode("overwrite").parquet(work.resolve(s"shard-$k").toString)
    }
  }

  private def emptyGt: DataFrame = Seq.empty[(String, Boolean)].toDF("etld1", "human_answer")

  def op(i: Int): OpResult = {
    val shard = shards(math.floorMod(i, Shards))
    val truth = shard.map(c => c.etld1 -> Truth(c.kind, c.name, c.mappings)).toMap
    val tok: Tokenizer =
      if (tracer.enabled) new CountingTokenizer(TiktokenEncoding.frozen) else TiktokenEncoding.frozen
    val transport = new CountingTransport(new BenchTransport(truth))
    Counters.reset()
    BenchTransport.failedOnce.clear()
    val inputBytes = shard.map(_.combined.getBytes("UTF-8").length.toLong).sum

    val docs = spark.read.parquet(work.resolve(s"shard-${math.floorMod(i, Shards)}").toString)
      .as[CorpusDoc]
    val deduped = tracer.span("ingest") {
      val pages = Blocks.shred(docs)
      val d = Dedup.dedupCorpus(pages)
      if (tracer.enabled) {
        val kept = d.localCheckpoint()
        val before = pages.select(count(lit(1)), sum(length($"body"))).head()
        val after = kept.select(sum(length($"body")),
          sum(when($"body" === Dedup.StubText, 1).otherwise(0))).head()
        raw("ingest.pages_in") += before.getLong(0)
        raw("ingest.bytes_in") += before.getLong(1)
        raw("ingest.bytes_kept") += after.getLong(0)
        raw("ingest.pages_dropped") += after.getLong(1)
        kept
      } else d
    }
    val texts = deduped.groupByKey(p => (p.etld1, p.version_id))
      .mapGroups((k, it) => CompanyText(k._1, k._2,
        it.toSeq.sortBy(_.page_seq).map(_.body).mkString("\n")))

    val (mfgs, errors) = tracer.span("pipeline") {
      val r = Orchestrator.process(texts, InlineExchange(transport, maxParallelism = 4,
          retry = InlineExchange.RetryPolicy(maxAttempts = 3, backoffMs = 0)),
        Gen.vocab, Strategies, tok, emptyGt)
      val m = r.manufacturers.select($"etld1", $"name",
          concat(lit("https://"), $"etld1").as("web_address"),
          lit(null).cast("int").as("founded_in"), lit(null).cast("int").as("num_employees"),
          $"email_addresses", $"business_desc", array().cast("array<string>").as("products"),
          arrayOrNull("certificates"), arrayOrNull("industries"), arrayOrNull("process_caps"),
          arrayOrNull("material_caps"), $"addresses",
          array().cast("array<string>").as("business_statuses"),
          lit(null).cast("string").as("primary_naics"),
          array().cast("array<string>").as("secondary_naics"), $"is_manufacturer")
        .collect()
      val e = r.errors.collect()
      r.release()
      (m, e)
    }
    val llm = Counters.requestIds.size.toLong
    if (tracer.enabled) {
      val ids = Counters.requestIds.asScala
      raw("exchange.requests") += ids.size
      raw("exchange.transport_calls") += Counters.transportCalls.get
      raw("exchange.retries") += Counters.transportThrows.get
      raw("exchange.mapping_requests") += ids.count(_.endsWith(">mapping"))
      raw("exchange.mapping_candidates") += shard.count(_.kind == 0) * Strategies.size
      raw("reconcile.parse_errors") += errors.length
    }

    // ---- checks: planted concept sets, error rows, gate ----------------
    val problems = Seq.newBuilder[String]
    val byEtld = mfgs.map(r => r.getString(0) -> r).toMap
    val errEtld = errors.map(e => (e.etld1, e.field)).toSet
    val garbage = shard.filter(_.kind == 2).map(c => (c.etld1, "is_manufacturer")).toSet
    if (errEtld != garbage) problems += s"error rows $errEtld != planted garbage $garbage"
    shard.foreach { c =>
      (c.kind, byEtld.get(c.etld1)) match {
        case (2, Some(_)) => problems += s"${c.etld1}: garbage company has a row"
        case (2, None) =>
        case (_, None) => problems += s"${c.etld1}: no manufacturer row"
        case (k, Some(row)) =>
          if (row.getAs[Boolean]("is_manufacturer") != (k == 0))
            problems += s"${c.etld1}: gate decision wrong"
          if (k == 0) fields.foreach { f =>
            val got = Option(KgExtract.strs(row, f)).map(_.toSet).getOrElse(Set.empty)
            if (got != c.expected(f)) problems += s"${c.etld1}.$f: $got != ${c.expected(f)}"
          }
      }
    }

    // ---- layers inside the orchestrator, called on the same shard -------
    if (tracer.enabled) {
      val makers = shard.filter(_.kind == 0).map(_.etld1).toSet
      val passing = texts.filter(t => makers(t.etld1))
        .map(t => (t.etld1, t.version_id, t.text)).localCheckpoint()
      val chunks = tracer.span("chunk") {
        val c = Strategies.map(s => Chunker.chunkDocs(passing, s, tok)).reduce(_ union _)
          .localCheckpoint()
        raw("chunk.chunks_out") += c.count()
        c
      }
      val withBrute = tracer.span("vocab") {
        val b = BruteSearch.searchColumn(chunks.toDF(), "text", Gen.vocab, "brute").localCheckpoint()
        val hits = b.filter(size($"brute") > 0).count()
        raw("vocab.chunks_in") += b.count()
        raw("vocab.hits") += hits
        b
      }
      raw("chunk.tokenizer_calls") += Counters.tokenizerCalls.get
      raw("chunk.tokens_counted") += Counters.tokensCounted.get
      // evidence as the exchange would have answered it (benchmark side)
      val bt = new BenchTransport(truth)
      val json = new ObjectMapper()
      val ev = withBrute.select($"etld1", $"field_type", $"chunk_start", $"chunk_end",
          $"brute", $"text").as[(String, String, Int, Int, Seq[String], String)].collect()
        .map { case (e, f, s, en, b, text) =>
          val body = s"""{"body":{"messages":[{"content":""},{"content":${
            json.writeValueAsString(text)}}]}}"""
          ChunkEvidence(e, f, s, en, b, bt.call(s"$e>$f>llm_search>chunk>$s:$en", body))
        }
      val evidence = spark.createDataset(ev.toSeq)
      val mapping = spark.createDataset(shard.filter(_.kind == 0).flatMap(c => fields.map(f =>
        (c.etld1, f, json.writeValueAsString(c.mappings(f).asJava)))))
      tracer.span("reconcile") {
        val out = Reconcile.reconcileConceptsDs(Gen.vocab, evidence, mapping).collect()
        raw("reconcile.companies_out") += out.map(_.etld1).distinct.length
        out.foreach { r =>
          val want = shard.find(_.etld1 == r.etld1).get.expected(r.field_type)
          if (r.result.results.toSet != want)
            problems += s"standalone reconcile ${r.etld1}.${r.field_type} differs"
        }
      }
    }

    // ---- emit N-Triples ---------------------------------------------------
    val outDir = work.resolve(s"triples-$i")
    tracer.span("emit") {
      val rows = mfgs.filter(_.getAs[Boolean]("is_manufacturer")).map { r =>
        MfgOut(r.getString(0), r.getString(1), r.getString(2), None, None,
          Option(KgExtract.strs(r, "email_addresses")).getOrElse(Nil), r.getString(6), Nil,
          KgExtract.strs(r, "certificates"), KgExtract.strs(r, "industries"),
          KgExtract.strs(r, "process_caps"), KgExtract.strs(r, "material_caps"),
          Option(r.getAs[scala.collection.Seq[Row]]("addresses")).map(_.toSeq).getOrElse(Nil)
            .map(KgExtract.address))
      }
      val triples = Triples.emit(spark.createDataset(rows.toSeq), Gen.vocab).collect()
      val (valid, _, issues) = Triples.validate(triples.toSeq)
      if (!valid) problems += s"Triples.validate: ${issues.take(3)}"
      if (triples.isEmpty) problems += "no triples emitted"
      spark.createDataset(triples.map(Triples.toNTriple).toSeq).coalesce(1)
        .write.mode("overwrite").text(outDir.toString)
      raw("emit.triples_out") += triples.length
    }
    val written = Fs.bytesUnder(outDir)
    raw("emit.bytes_written") += written
    Fs.delete(outDir)
    val p = problems.result()
    OpResult(shard.size, inputBytes, written, llm, p.isEmpty, p.take(3).mkString("; "))
  }

  def layerCounts(n: Double): Map[String, Double] = Map(
    "ingest.pages_in" -> raw("ingest.pages_in") / n,
    "ingest.pages_dropped_ratio" -> raw("ingest.pages_dropped") / math.max(raw("ingest.pages_in"), 1),
    "ingest.bytes_kept_ratio" -> raw("ingest.bytes_kept") / math.max(raw("ingest.bytes_in"), 1),
    "chunk.tokenizer_calls" -> raw("chunk.tokenizer_calls") / n,
    "chunk.tokens_counted" -> raw("chunk.tokens_counted") / n,
    "chunk.chunks_out" -> raw("chunk.chunks_out") / n,
    "vocab.chunks_in" -> raw("vocab.chunks_in") / n,
    "vocab.hit_ratio" -> raw("vocab.hits") / math.max(raw("vocab.chunks_in"), 1),
    "exchange.requests" -> raw("exchange.requests") / n,
    "exchange.transport_calls" -> raw("exchange.transport_calls") / n,
    "exchange.calls_per_request" ->
      raw("exchange.transport_calls") / math.max(raw("exchange.requests"), 1),
    "exchange.retries" -> raw("exchange.retries") / n,
    "exchange.mapping_skipped_ratio" ->
      (1 - raw("exchange.mapping_requests") / math.max(raw("exchange.mapping_candidates"), 1)),
    "reconcile.companies_out" -> raw("reconcile.companies_out") / n,
    "reconcile.parse_errors" -> raw("reconcile.parse_errors") / n,
    "emit.triples_out" -> raw("emit.triples_out") / n,
    "emit.bytes_written" -> raw("emit.bytes_written") / n)
}

object KgExtract {
  /** An array<string> column of a collected row, or null. */
  def strs(r: Row, f: String): Seq[String] =
    Option(r.getAs[scala.collection.Seq[String]](f)).map(_.toSeq).orNull

  def address(r: Row): graft.reconcile.Address = graft.reconcile.Address(
    r.getAs[String]("name"), r.getAs[String]("city"), r.getAs[String]("state"),
    r.getAs[String]("country"), Option(strs(r, "address_lines")).getOrElse(Nil),
    r.getAs[String]("county"), r.getAs[String]("postal_code"),
    Option(r.getAs[java.lang.Double]("latitude")).map(_.doubleValue),
    Option(r.getAs[java.lang.Double]("longitude")).map(_.doubleValue),
    r.getAs[String]("place_id"), Option(strs(r, "phone_numbers")).getOrElse(Nil),
    Option(strs(r, "fax_numbers")).getOrElse(Nil))
}

/** Batch API stand-in: answers every shipped request line with one
  * result line, except a seeded 20% it "loses" in the first round, which
  * the ledger must re-ship.
  */
final class BenchBatchApi(resultsDir: Path, seed: Long) extends BatchApi {
  private var round = 0
  private val results = scala.collection.mutable.Map.empty[String, Seq[String]]
  private val IdRe = "\"custom_id\":\"([^\"]*)\"".r

  override def submit(requestFiles: Seq[String]): String = {
    round += 1
    val batchId = s"batch-$round"
    val lostPct = if (round == 1) 20 else 0
    val ids = requestFiles.flatMap { f =>
      Files.readAllLines(java.nio.file.Paths.get(new java.net.URI(f))).asScala
        .flatMap(l => IdRe.findFirstMatchIn(l).map(_.group(1)))
    }
    val kept = ids.filter(id => math.floorMod((id, round, seed).hashCode, 100) >= lostPct)
    val out = resultsDir.resolve(s"$batchId.jsonl")
    Files.createDirectories(resultsDir)
    Files.write(out, kept.map { id =>
      s"""{"custom_id":"$id","response":{"status_code":200,"body":{"choices":""" +
        s"""[{"message":{"content":"[\\"ok\\"]"}}]}}}"""
    }.asJava)
    results(batchId) = Seq(out.toUri.toString)
    batchId
  }

  override def results(batchId: String): Option[Seq[String]] = results.get(batchId)
}

/** The re-plan half of the `kg_pipeline` workload — deferred mode's
  * "create only missing requests". The
  * expected set is a seeded base corpus plus two new companies per op
  * (chunked fresh); the op's starting ledger answers the base corpus
  * except a seeded ~5% of slots. One op = frontier -> upsert -> ship /
  * collect until nothing is incomplete.
  */
final class KgReplan(spark: SparkSession, work: Path, seed: Long, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val name = "kg_replan"
  val unit = "company"
  val BaseCompanies = 300
  val DropSlots = 50 // of 1000: ~5% of the base answers missing per op
  val NewCompanies = 2
  val Limits: Packer.PackLimits = Packer.PackLimits(maxRequests = 60, maxTokens = 200000,
    maxBytes = 1L << 20)
  val Strategies: Seq[ChunkingStrat] = Seq(ChunkingStrat.Certificate, ChunkingStrat.Industry,
    ChunkingStrat.ProcessCap, ChunkingStrat.MaterialCap)

  private var base: Vector[Gen.Request] = Vector.empty
  private var expectedBytes = 0L
  private def expectedPath = work.resolve("expected").toString
  private def ledgerPath = work.resolve("ledger-base").toString
  private def opDir(i: Int) = work.resolve(s"op-$i")

  def setup(): Unit = {
    Fs.delete(work)
    Files.createDirectories(work)
    base = Gen.baseRequests(seed, BaseCompanies)
    val df = base.map(r => (r.custom_id, r.etld1, r.field_type, r.body_json, r.input_tokens))
      .toDF("custom_id", "etld1", "field_type", "body_json", "input_tokens")
    df.write.parquet(expectedPath)
    df.withColumn("batch_id", lit("seed-batch"))
      .withColumn("response_json",
        graft.exchange.Exchange.wrapContent($"custom_id", lit("""["ok"]""")))
      .write.parquet(ledgerPath)
    expectedBytes = Fs.bytesUnder(work.resolve("expected"))
  }

  private def dropped(i: Int): Set[String] = {
    val slots = (0 until DropSlots).map(j => math.floorMod(i * 131 + j * 17 + seed, 1000)).toSet
    base.filter(r => slots(r.slot)).map(_.custom_id).toSet
  }

  override def prepare(i: Int): Unit = {
    Fs.delete(opDir(i))
    spark.read.parquet(ledgerPath)
      .join(broadcast(dropped(i).toSeq.toDF("custom_id")), Seq("custom_id"), "left_anti")
      .write.parquet(opDir(i).resolve("ledger-0").toString)
  }

  def op(i: Int): OpResult = {
    val dir = opDir(i)
    val api = new CountingBatchApi(new BenchBatchApi(dir.resolve("results"), seed))
    Counters.reset()
    val problems = Seq.newBuilder[String]
    val news = (0 until NewCompanies).map(j => Gen.company(seed, 100000 + 2 * i + j, kind = 0))
    val tok: Tokenizer =
      if (tracer.enabled) new CountingTokenizer(TiktokenEncoding.frozen) else TiktokenEncoding.frozen

    val newReqs = tracer.span("chunk") {
      val texts = news.map(c => (c.etld1, "v1", c.combined)).toDS()
      val r = Strategies.map(s => Chunker.chunkDocs(texts, s, tok)).reduce(_ union _)
        .select(concat_ws(">", $"etld1", $"field_type", lit("llm_search"), lit("chunk"),
            concat($"chunk_start", lit(":"), $"chunk_end")).as("custom_id"),
          $"etld1", $"field_type",
          RequestBlob.bodyJson(concat_ws(">", $"etld1", $"field_type", lit("llm_search"),
              lit("chunk"), concat($"chunk_start", lit(":"), $"chunk_end")),
            "gpt-4o-mini", lit("<search prompt>"), $"text", 7500).as("body_json"),
          $"tokens".cast("long").as("input_tokens"))
        .localCheckpoint()
      raw("chunk.chunks_out") += r.count()
      r
    }
    val newIds = newReqs.select($"custom_id").as[String].collect().toSet
    val expected = spark.read.parquet(expectedPath).unionByName(newReqs)
    var ledger = spark.read.parquet(dir.resolve("ledger-0").toString)

    val frontier = tracer.span("plans.frontier") {
      Ledger.missingRequests(expected, ledger).localCheckpoint()
    }
    val frontierRows = frontier.select($"custom_id", $"input_tokens").as[(String, Long)]
      .collect().toMap
    val planted = dropped(i) ++ newIds
    if (frontierRows.keySet != planted)
      problems += s"frontier ${frontierRows.size} ids != planted ${planted.size}"
    raw("plans.frontier_rows") += frontierRows.size
    raw("plans.expected_rows") += base.size + newIds.size

    var version = 0
    def persist(df: DataFrame): DataFrame = {
      version += 1
      val p = dir.resolve(s"ledger-$version").toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    ledger = tracer.span("plans.upsert") { persist(Ledger.upsertRequests(ledger, frontier)) }

    var round = 0
    var incomplete = 1L
    while (incomplete > 0 && round < 8) {
      round += 1
      val workDir = dir.resolve(s"ship-$round")
      val linesBefore = Counters.apiLines.get
      val (stamped, batchId) = tracer.span("exchange.ship") {
        val (l, b) = BatchExchange.ship(ledger, api, workDir.toString, Limits)
        (persist(l), b)
      }
      batchId.foreach { b =>
        val received = Counters.apiLines.get - linesBefore
        BatchExchange.readManifest(workDir.toString, spark.sparkContext.hadoopConfiguration)
          match {
            case Some((paths, n)) =>
              if (n != received) problems += s"manifest n_requests $n != $received lines received"
              raw("exchange.files_written") += paths.size
              raw("plans.pack_slots") += paths.size * Limits.maxRequests
              raw("plans.packed") += n
              paths.foreach { f =>
                val lines = Files.readAllLines(java.nio.file.Paths.get(new java.net.URI(f))).asScala
                val ids = lines.flatMap(l => "\"custom_id\":\"([^\"]*)\"".r.findFirstMatchIn(l)
                  .map(_.group(1)))
                val bytes = lines.map(_.getBytes("UTF-8").length + 1L).sum
                val tokens = ids.map(frontierRows.getOrElse(_, 0L)).sum
                // a single line over a limit ships alone (Packer's documented divergence)
                if (lines.size > 1 && (lines.size > Limits.maxRequests ||
                    bytes > Limits.maxBytes || tokens > Limits.maxTokens))
                  problems += s"request file over packer limits: ${lines.size} lines, $bytes B, $tokens tok"
              }
            case None => problems += "ship left no manifest"
          }
        val collected = tracer.span("exchange.collect") { BatchExchange.collect(stamped, api, b) }
        ledger = tracer.span("plans.ingest") { persist(collected) }
      }
      incomplete = tracer.span("plans.incomplete") {
        Ledger.incompleteRequests(expected, ledger).count()
      }
    }
    raw("exchange.reship_rounds") += round - 1

    // every expected custom_id ends with exactly one answered row
    val bad = expected.select($"custom_id").join(ledger, Seq("custom_id"), "left")
      .groupBy($"custom_id")
      .agg(count(lit(1)).as("n"), count($"response_json").as("answered"))
      .filter($"n" =!= 1 || $"answered" =!= 1).count()
    if (bad > 0) problems += s"$bad expected ids without exactly one response"
    if (incomplete > 0) problems += s"$incomplete requests still incomplete after $round rounds"

    // written: everything the op put on disk (ledger versions, request
    // and result files); input: the expected table and starting ledger
    val ledgerBytes = (0 to version).map(v => Fs.bytesUnder(dir.resolve(s"ledger-$v")))
    val written = Fs.bytesUnder(dir) - ledgerBytes.head
    raw("exchange.bytes_written") += written - ledgerBytes.tail.sum
    val inputBytes = expectedBytes + ledgerBytes.head +
      news.map(_.combined.getBytes("UTF-8").length.toLong).sum
    Fs.delete(dir)
    val p = problems.result()
    raw("plans.settled") += frontierRows.size
    OpResult(news.size, inputBytes, written, Counters.requestIds.size.toLong,
      p.isEmpty, p.take(3).mkString("; "))
  }

  def layerCounts(n: Double): Map[String, Double] = Map(
    "chunk.chunks_out" -> raw("chunk.chunks_out") / n,
    "plans.frontier_ratio" -> raw("plans.frontier_rows") / math.max(raw("plans.expected_rows"), 1),
    "plans.pack_fill_ratio" -> raw("plans.packed") / math.max(raw("plans.pack_slots"), 1),
    "exchange.files_written" -> raw("exchange.files_written") / n,
    "exchange.bytes_written" -> raw("exchange.bytes_written") / n,
    "exchange.reship_rounds" -> raw("exchange.reship_rounds") / n)
}

/** Local-filesystem helpers for sizes and cleanup. */
object Fs {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def filesUnder(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
