package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.chunk.{Chunker, ChunkingStrat}
import graft.exchange.Exchange
import graft.functions.{Emails, Tokenizer}
import graft.plans.{Ledger, RequestBlob}
import graft.reconcile.{AddressMerge, ChunkEvidence, Parsers, Reconcile}
import graft.vocab.{BruteSearch, Concept}

/** T27/T28 — the extraction orchestrator: per-company field pipelines
  * with sequencing, gating, skip-if-present, and field-level error
  * isolation (reference
  * `data_etl_app/src/data_etl_app/bots/new_extract_queue_bot.py:288-565`,
  * `manufacturer_extraction_orchestrator.py:34-120`).
  *
  * Online-path semantics as two exchange rounds:
  *  1. `is_manufacturer` (first chunk), `business_desc` (first chunk),
  *     `addresses` (first chunk) via the exchange; `email_addresses`
  *     locally (T16) — all companies;
  *  2. GATE: the ground-truth-overlaid `is_manufacturer` decision
  *     (human answer wins — `new_extract_queue_bot.py:439-455`); only
  *     passing companies get content extraction (products keywords +
  *     concept fields with brute/search/mapping).
  *
  * NB the reference's deferred binary reconcile gates on `mfg.addresses`
  * instead of the binary field (`binary_reconcile_node.py:46`, flagged
  * in SURVEY.md T25) — this orchestrator implements the evidently
  * intended binary-field gate.
  *
  * Error isolation: a company whose binary response fails to parse is
  * dropped to `errors` (abort-on-error, reference `:294-319`); a failed
  * optional field nulls that field and records the error, keeping the
  * company (reference per-field try blocks).
  *
  * Shared frames are computed once, eagerly: `process` runs the exchange
  * rounds before it returns, as the reference bot does. Each boundary —
  * the input texts, the round-1 requests and responses, and per concept
  * field the chunk+brute frame, the search responses, the mapping frame
  * and the mapping responses — is materialized into the result's
  * [[graft.util.CacheScope]] under a job label (`orchestrator: texts`,
  * `orchestrator: round 1`, `orchestrator: <field> search`,
  * `orchestrator: <field> mapping`), and every later plan reads a leaf
  * over those blocks instead of the boundary's lineage. `manufacturers`
  * and `errors` stay lazy over the leaves.
  */
object Orchestrator {

  final case class CompanyText(etld1: String, version_id: String, text: String)

  final case class FieldError(etld1: String, field: String, error: String)

  /** `release()` frees the blocks of every frame the orchestration
    * materialized. Each boundary was computed once and its lineage cut,
    * so call it AFTER the last action on `manufacturers`/`errors`: an
    * action after `release()` fails (block not found) instead of
    * re-calling the transport. At 100 TB scale this is also what holds
    * `texts` once in block storage, where a lazy plan would re-derive it
    * in each of the ~8 branches that read it.
    */
  final case class Result(manufacturers: DataFrame, errors: Dataset[FieldError],
      caches: graft.util.CacheScope) {
    def release(): Unit = caches.release()
  }

  /** Build the round-1 single-chunk request rows for one label. */
  private def firstChunkRequests(
      texts: Dataset[CompanyText], label: String, budgetTokens: Int,
      tok: Tokenizer, prompt: String): DataFrame = {
    val spark = texts.sparkSession
    import spark.implicits._
    texts.flatMap { c =>
      Chunker.softLimit(c.text, budgetTokens, 0.0, Some(1), tok).headOption.map { ch =>
        (c.etld1, s"${c.etld1}>$label>chunk>${ch.chunk_start}:${ch.chunk_end}", ch.text)
      }
    }.toDF("etld1", "custom_id", "context")
      .withColumn("body_json", RequestBlob.bodyJson($"custom_id", "gpt-4o-mini",
        lit(prompt), $"context", 7500))
  }

  /** @param present T27 skip-if-present pairs (etld1, field_type): fields
    *   the manufacturer record already holds. No requests are created for
    *   these pairs (reference `manufacturer_extraction_orchestrator.py:59-78`
    *   — the ledger-side cleanup shapes are `Ledger.nullPresentFields` /
    *   `deletePresentRequests` / `deleteEmptyDeferred`). A company with
    *   `is_manufacturer` present must have its stored decision supplied
    *   through `gtBinary` — the same overlay precedence the reference bot
    *   applies at gate time.
    */
  def process(
      texts: Dataset[CompanyText],
      exchange: Exchange,
      vocab: Seq[Concept],
      conceptFields: Seq[ChunkingStrat],
      tok: Tokenizer,
      gtBinary: DataFrame, // (etld1, human_answer boolean) — may be empty
      firstChunkBudget: Int = 100000,
      present: Option[DataFrame] = None): Result = {
    val spark = texts.sparkSession
    import spark.implicits._

    val caches = new graft.util.CacheScope
    def hold[T](phase: String)(ds: Dataset[T]): Dataset[T] =
      graft.util.Jobs.labeled(spark.sparkContext, s"orchestrator: $phase")(caches.materialize(ds))
    val docs = hold("texts")(texts)
    val presentPairs = present.getOrElse(
      Seq.empty[(String, String)].toDF("etld1", "field_type"))
    // filter BEFORE chunking: with a large present overlay (the re-run
    // case) the tokenizer flatMap must not run for work that is then
    // anti-joined away
    def textsWithout(label: String): Dataset[CompanyText] =
      docs.join(presentPairs.filter($"field_type" === label).select($"etld1"),
        Seq("etld1"), "left_anti").as[CompanyText]

    // ---- round 1: binary / desc / address requests ----------------------
    val r1Requests = hold("round 1")(
      firstChunkRequests(textsWithout("is_manufacturer"), "is_manufacturer", firstChunkBudget, tok, "<binary prompt>")
        .unionByName(firstChunkRequests(textsWithout("business_desc"), "business_desc", firstChunkBudget, tok, "<desc prompt>"))
        .unionByName(firstChunkRequests(textsWithout("addresses"), "addresses", firstChunkBudget, tok, "<address prompt>")))
    // Materialized at the exchange boundary: downstream plans read these
    // results from several actions, and a lazy lineage would re-invoke
    // the transport per action (replay hazard + cost).
    val r1Responses = hold("round 1")(exchange.execute(r1Requests)
      .withColumn("content", Ledger.responseContent($"response_json"))
      .select($"custom_id", $"content"))
    val r1 = r1Requests.join(r1Responses, Seq("custom_id"), "left")
      .withColumn("field", split($"custom_id", ">").getItem(1))
      .select($"etld1", $"field", $"content")

    // Parse with per-field error isolation.
    val parseBinary = udf((s: String) =>
      try { val b = Parsers.parseBinaryResponse(s); (b.answer, b.confidence, b.reason, null: String) }
      catch { case e: Exception => (false, 0, null: String, e.getMessage) })
    val parseDesc = udf((s: String) =>
      try { val d = Parsers.parseBusinessDescResponse(s); (d.name, d.description, null: String) }
      catch { case e: Exception => (null: String, null: String, e.getMessage) })
    val parseAddrs = udf((s: String) => AddressMerge.dedupe(Parsers.parseAddressesResponse(s)))

    // Companies whose is_manufacturer was skipped-as-present still flow
    // through the gate (decision supplied via the gtBinary overlay).
    val skippedBinary = docs.toDF()
      .join(presentPairs.filter($"field_type" === "is_manufacturer").select($"etld1"),
        Seq("etld1"), "left_semi")
      .select($"etld1",
        lit(null).cast("boolean").as("is_manufacturer"),
        lit(null).cast("int").as("confidence"),
        lit(null).cast("string").as("reason"),
        lit(null).cast("string").as("binary_error"))
    val binary = r1.filter($"field" === "is_manufacturer")
      .select($"etld1", parseBinary($"content").as("b"))
      .select($"etld1", $"b._1".as("is_manufacturer"), $"b._2".as("confidence"),
        $"b._3".as("reason"), $"b._4".as("binary_error"))
      .unionByName(skippedBinary)
    val desc = r1.filter($"field" === "business_desc")
      .select($"etld1", parseDesc($"content").as("d"))
      .select($"etld1", $"d._1".as("name"), $"d._2".as("business_desc"),
        $"d._3".as("desc_error"))
    val addresses = r1.filter($"field" === "addresses")
      .select($"etld1", parseAddrs($"content").as("addresses"))
    val emails = docs.toDF()
      .select($"etld1", Emails.emailsCol($"text").as("email_addresses"))

    // ---- gate: GT overlay of the binary decision ------------------------
    val gt = gtBinary.select($"etld1", $"human_answer")
    val gated = binary.join(gt, Seq("etld1"), "left")
      .withColumn("final_is_manufacturer",
        coalesce($"human_answer", $"is_manufacturer"))

    // abort-on-error companies (binary parse failed AND no human override)
    val binaryErrors = gated.filter($"binary_error".isNotNull && $"human_answer".isNull)
      .select($"etld1", lit("is_manufacturer").as("field"), $"binary_error".as("error"))
      .as[FieldError]
    val alive = gated.filter($"binary_error".isNull || $"human_answer".isNotNull)

    // ---- round 2: content extraction for passing companies --------------
    val passing = alive.filter($"final_is_manufacturer").select($"etld1")
    val passingTexts = docs.join(passing, "etld1").as[CompanyText]

    val conceptResults: Seq[(String, DataFrame, Dataset[FieldError])] = conceptFields.map { strat =>
      // T27: companies that already have this concept field skip the
      // whole brute/search/mapping pipeline for it.
      val fieldTexts = passingTexts.toDF()
        .join(presentPairs.filter($"field_type" === strat.fieldType).select($"etld1"),
          Seq("etld1"), "left_anti")
        .as[CompanyText]
      val chunks = Chunker.chunkDocs(
        fieldTexts.map(c => (c.etld1, c.version_id, c.text)), strat, tok)
      // custom_id hoisted so requests and evidence share one definition,
      // and the chunk+brute pipeline is materialized — it feeds both.
      val search = s"${strat.fieldType} search"
      val withBrute = hold(search)(BruteSearch.searchColumn(chunks.toDF(), "text", vocab, "brute")
        .withColumn("custom_id", concat_ws(">", $"etld1", lit(strat.fieldType),
          lit("llm_search"), lit("chunk"),
          concat($"chunk_start", lit(":"), $"chunk_end"))))
      val reqs = withBrute.select($"etld1", $"custom_id", $"text")
        .withColumn("body_json", RequestBlob.bodyJson($"custom_id", "gpt-4o-mini",
          lit(s"<${strat.fieldType} search prompt>"), $"text", 7500))
      val responses = hold(search)(exchange.execute(reqs)
        .withColumn("content", Ledger.responseContent($"response_json"))
        .select($"custom_id", $"content"))
      val evidence = withBrute
        .join(responses, Seq("custom_id"), "inner")
        .select($"etld1", lit(strat.fieldType).as("field_type"),
          $"chunk_start", $"chunk_end", $"brute", $"content".as("search_response"))
        .as[ChunkEvidence]
      // T26 — dummy-completion short-circuit (reference
      // `extract_concept_deferred_service.py:261-335`): compute each
      // company's unmatched-keyword set from the search responses; only
      // companies with a non-empty set cost a mapping exchange round, the
      // rest get the fabricated completed "{}" response. An unparseable
      // search response conservatively counts as unmatched (ask anyway) —
      // reconcile records its own parse error either way.
      val unmatchedUdf = udf((s: String) =>
        try graft.vocab.Mapping.matchAndSplit(vocab,
          Parsers.parseSearchResponse(s))._2.toSeq.sorted
        catch { case _: Exception => Seq("__unparseable__") })
      val companyUnmatched = withBrute.join(responses, Seq("custom_id"), "inner")
        .select($"etld1", explode_outer(unmatchedUdf($"content")).as("kw"))
        .groupBy($"etld1").agg(collect_set($"kw").as("unmatched"))
      // materialized: it feeds both the request filter and the response join
      val mapping = s"${strat.fieldType} mapping"
      val allMapping = hold(mapping)(fieldTexts.map(c =>
          (c.etld1, s"${c.etld1}>${strat.fieldType}>mapping")).toDF("etld1", "custom_id")
        .join(companyUnmatched, Seq("etld1"), "left")
        .withColumn("unmatched", coalesce($"unmatched", array()))
        .withColumn("dummy", graft.vocab.Mapping.dummyMappingResponse("unmatched")))
      val mappingReqs = allMapping.filter($"dummy".isNull)
        .select($"etld1", $"custom_id")
        .withColumn("body_json", RequestBlob.bodyJson($"custom_id", "gpt-4o-mini",
          lit("<mapping prompt>"), lit(""), 7500))
      val mappingResponses = hold(mapping)(exchange.execute(mappingReqs)
        .withColumn("content", Ledger.responseContent($"response_json")))
      // Field-level error isolation: an unparseable mapping response
      // drops this field for that company (recorded in errors) instead
      // of failing the whole job inside reconcile's mapGroups.
      val mappingParses = udf((s: String) =>
        try { Parsers.parseMappingResponse(s); true }
        catch { case _: Exception => false })
      val mappingAll = allMapping.join(mappingResponses, Seq("custom_id"), "left")
        .select($"etld1", lit(strat.fieldType).as("field_type"),
          coalesce($"content", $"dummy", lit("{}")).as("response"))
        .withColumn("__ok", mappingParses($"response"))
      val mappingErrors = mappingAll.filter(!$"__ok")
        .select($"etld1", lit(strat.fieldType).as("field"),
          concat(lit("unparseable mapping response: "), substring($"response", 1, 80)).as("error"))
        .as[FieldError]
      val mappingDs = mappingAll.filter($"__ok")
        .select($"etld1", $"field_type", $"response")
        .as[(String, String, String)]
      val recon = Reconcile.reconcileConceptsDs(vocab, evidence, mappingDs)
      (strat.fieldType,
        recon.toDF().select($"etld1", $"result.results".as(strat.fieldType)),
        mappingErrors)
    }

    // ---- assemble the manufacturer rows ---------------------------------
    var mfg = alive.select($"etld1", $"final_is_manufacturer".as("is_manufacturer"),
        $"confidence", $"reason")
      .join(desc.select($"etld1", $"name", $"business_desc"), Seq("etld1"), "left")
      .join(addresses, Seq("etld1"), "left")
      .join(emails, Seq("etld1"), "left")
    conceptResults.foreach { case (_, df, _) =>
      mfg = mfg.join(df, Seq("etld1"), "left")
    }
    val descErrors = desc.filter($"desc_error".isNotNull)
      .select($"etld1", lit("business_desc").as("field"), $"desc_error".as("error"))
      .as[FieldError]
    val allErrors = conceptResults.map(_._3)
      .foldLeft(binaryErrors.unionByName(descErrors))(_ unionByName _)
    Result(mfg, allErrors, caches)
  }
}
