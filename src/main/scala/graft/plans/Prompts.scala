package graft.plans

/** S11 — versioned prompt registry (reference `PromptService`,
  * `data_etl_app/src/data_etl_app/services/knowledge/prompt_service.py:12-110`:
  * 14 named prompts, versioned in S3, cached in process singletons).
  *
  * Engine form: an immutable registry loaded once on the driver and
  * closed over / broadcast. Version ids pin every downstream result —
  * they ride the ledger rows and a mismatch means replan, not reuse
  * (SURVEY.md §7.5 risk 5).
  */
final case class Prompt(name: String, text: String, versionId: String)

final class PromptRegistry(prompts: Seq[Prompt]) extends Serializable {
  private val byName = prompts.map(p => p.name -> p).toMap
  require(byName.size == prompts.size, "duplicate prompt names")

  def apply(name: String): Prompt =
    byName.getOrElse(name,
      throw new NoSuchElementException(s"unknown prompt: $name"))

  def versionOf(name: String): String = apply(name).versionId
  def names: Seq[String] = prompts.map(_.name)
}

object PromptRegistry {
  /** The reference's named prompt slots (prompt_service.py:12-27). */
  val ReferenceNames: Seq[String] = Seq(
    "binary_classification", "business_desc", "address_extraction",
    "keyword_search", "concept_search_certificates", "concept_search_industries",
    "concept_search_process_caps", "concept_search_material_caps",
    "mapping_certificates", "mapping_industries",
    "mapping_process_caps", "mapping_material_caps",
    "email_extraction", "unknown_to_known_mapping")

  /** Deterministic fixture registry for tests. */
  def fixture(versionId: String = "v1"): PromptRegistry =
    new PromptRegistry(ReferenceNames.map(n => Prompt(n, s"<$n prompt>", versionId)))
}
