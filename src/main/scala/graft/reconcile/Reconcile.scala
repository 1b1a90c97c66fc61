package graft.reconcile

import org.apache.spark.sql.Dataset

import graft.vocab.{Concept, Mapping}

/** Per-chunk evidence recorded in concept results (reference
  * `ConceptSearchChunkStats`, `concept_extraction_results.py:11-52`).
  * Arrays are sorted — the reference uses Python sets whose order is
  * undefined; sorted arrays make results comparable (SURVEY.md §7.5
  * risk 3).
  */
final case class ChunkStats(
    chunk_start: Int,
    chunk_end: Int,
    results: Seq[String],
    brute: Seq[String],
    llm: Seq[String],
    mapping: Map[String, Seq[String]],
    unmapped_llm: Seq[String])

/** Final per-company concept field (reference `ConceptExtractionResults`). */
final case class ConceptResults(
    results: Seq[String],
    mapping: Map[String, Seq[String]],
    unmapped_llm: Seq[String],
    chunked_stats: Seq[ChunkStats])

/** One chunk's worth of exchange evidence entering reconcile. */
final case class ChunkEvidence(
    etld1: String,
    field_type: String,
    chunk_start: Int,
    chunk_end: Int,
    brute: Seq[String],
    search_response: String)

final case class ConceptRow(etld1: String, field_type: String, result: ConceptResults)

/** T24/T25 — reconcile: fold per-chunk LLM evidence into final fields
  * (reference `concept_reconcile_node.py:49-227`,
  * `keyword_reconcile_node.py:41-133`).
  *
  * Concept flow per company×field: parse each chunk's search response →
  * split against the vocabulary (T10) → project the ONE global mapping
  * response onto the chunk's unmatched keywords (T12, per-chunk mode) →
  * chunk results = matched ∪ chunk-mapped; company results = union of
  * chunk results; the global mapping/unmapped stats re-run T12 over the
  * union of all unmatched keywords.
  *
  * Scale shape: grouped fold per (etld1, field) — groups are ≤100
  * chunks by construction (chunking strategies cap `max_chunks`), so
  * `groupByKey.mapGroups` holds bounded state while companies spread
  * across the cluster; the vocabulary rides the closure (broadcast).
  */
object Reconcile {

  /** Pure single-company form (unit-test surface). `mappingResponse` is
    * the company's one mapping response (T26's `"{}"` when no unknowns
    * existed).
    */
  def reconcileConcepts(
      known: Seq[Concept],
      chunks: Seq[ChunkEvidence],
      mappingResponse: String): ConceptResults = {
    val rawMapping = Parsers.parseMappingResponse(mappingResponse)
    var unmatchedAll = Set.empty[String]
    val chunked = chunks.sortBy(c => (c.chunk_start, c.chunk_end)).map { c =>
      val llm = Parsers.parseSearchResponse(c.search_response)
      val (matched, unmatched) = Mapping.matchAndSplit(known, llm)
      val (chunkMap, chunkUnmapped) = Mapping.applyMapping(known, unmatched, rawMapping)
      unmatchedAll = unmatchedAll.union(unmatched)
      ChunkStats(
        chunk_start = c.chunk_start,
        chunk_end = c.chunk_end,
        results = (matched ++ chunkMap.keySet).toSeq.sorted,
        brute = c.brute.distinct.sorted,
        llm = llm.toSeq.sorted,
        mapping = chunkMap.map { case (k, v) => k -> v.toSeq.sorted },
        unmapped_llm = chunkUnmapped.toSeq.sorted)
    }
    val (globalMap, globalUnmapped) = Mapping.applyMapping(known, unmatchedAll, rawMapping)
    ConceptResults(
      results = chunked.flatMap(_.results).distinct.sorted,
      mapping = globalMap.map { case (k, v) => k -> v.toSeq.sorted },
      unmapped_llm = globalUnmapped.toSeq.sorted,
      chunked_stats = chunked)
  }

  /** Distributed concept reconcile: chunk evidence ⋈ mapping responses
    * per (etld1, field_type). `mappingResponses` rows:
    * (etld1, field_type, response).
    */
  def reconcileConceptsDs(
      known: Seq[Concept],
      chunks: Dataset[ChunkEvidence],
      mappingResponses: Dataset[(String, String, String)]): Dataset[ConceptRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val mapped = mappingResponses.toDF("etld1", "field_type", "mapping_response")
    chunks.toDF.join(mapped, Seq("etld1", "field_type"), "inner")
      .as[(String, String, Int, Int, Seq[String], String, String)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (String, String), rows: Iterator[(String, String, Int, Int, Seq[String], String, String)]) =>
        val (etld1, field) = key
        val rs = rows.toVector
        val evidence = rs.map(r => ChunkEvidence(r._1, r._2, r._3, r._4, r._5, r._6))
        ConceptRow(etld1, field, reconcileConcepts(known, evidence, rs.head._7))
      }
  }

  /** T25 keyword reconcile — union of per-chunk parsed sets (reference
    * `keyword_reconcile_node.py:41-133`); no vocabulary involved.
    */
  def reconcileKeywords(chunkResponses: Seq[String]): Seq[String] =
    chunkResponses.flatMap(Parsers.parseSearchResponse).distinct.sorted
}
