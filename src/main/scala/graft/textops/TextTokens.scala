package graft.textops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE corpus tokenization: lower-cased whitespace tokens with empty
  * strings dropped. Every text operator whose DuckDB oracle mirrors
  * tokenization (near-dup shingles, repetition stats, TF-IDF,
  * decontamination) must tokenize through here — the SQL twin is
  * `graft.queries.TextOps.WordsCte`, and a drift between the two is a
  * silent gate hash mismatch.
  */
object TextTokens {
  def wordsCol(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => length(w) > 0)

  /** `f` over `text`'s token array ([[wordsCol]]), tokenized ONCE per
    * row. Spark's higher-order functions do no common-subexpression
    * elimination, so an `f` that names the tokens in a lambda body —
    * a sliding window's `slice(words, i, n)` — would re-run
    * lower + split + filter over the whole document for every window,
    * O(W²) per document. Binding the array to the lambda variable of a
    * one-element `transform` evaluates it once; the expression form of
    * the staged-alias pattern in `CurationOps.repetitionStats`.
    */
  def withWords(text: Column)(f: Column => Column): Column =
    transform(array(wordsCol(text)), f).getItem(0)

  /** Plain-Scala twin of [[wordsCol]] (lowercase, whitespace-split,
    * empties dropped) for executor-side code that tokenizes outside a
    * Column expression (BPE segmentation, tokenizer impls).
    */
  def words(s: String): IndexedSeq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toIndexedSeq

  /** Aggressive DEDUP-KEY normalization (the standard MinHash/exact
    * dedup preprocessing — Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022; RefinedWeb/Dolma apply
    * the same family): lowercase, fold every digit run to `0`, strip
    * ASCII punctuation/symbols to spaces, collapse whitespace, trim.
    * Two documents differing only in casing, punctuation, or numbers
    * ("v2.1" vs "v3.0" boilerplate, dates in footers) produce the SAME
    * key, so trivially-edited duplicates collide where raw-text
    * hashing misses them.
    *
    * Engine side is the single-pass native expression
    * [[graft.functions.DedupKeyNormalize]] (codegen'd, one byte scan);
    * the DuckDB oracle mirrors the equivalent `regexp_replace` chain
    * kept verbatim in [[dedupKeyRegexCol]], and `DedupKeySpec`
    * differentially pins the two byte-for-byte. Character classes are
    * EXPLICIT ASCII (no `\s`, no `\p{L}`): Java regex counts vertical
    * tab in `\s` while RE2 does not, and Unicode classes differ
    * wholesale — either would be a silent cross-engine drift. NOT a
    * tokenizer: compose it BEFORE [[wordsCol]]/shingling via
    * `withColumn(textCol, dedupKeyCol(col(textCol)))` when a dedup
    * pass should be edit-robust; analysis operators keep raw text.
    */
  def dedupKeyCol(text: Column): Column =
    graft.functions.DedupKeyNormalize.dedupKeyCol(text)

  /** The chain's three pattern literals, shared verbatim between
    * [[dedupKeyRegexCol]] (the authored form) and
    * [[graft.plans.DedupKeyFuse]] (the optimizer rule that recognizes
    * it) — one definition, so the rule can never drift from the form
    * the docs and oracles publish.
    */
  private[graft] val DedupDigitsRe = "[0-9]+"
  private[graft] val DedupOtherRe = "[^a-z0-9 \\t\\n\\x0B\\f\\r]+"
  private[graft] val DedupWsRe = "[ \\t\\n\\x0B\\f\\r]+"

  /** The original three-pass `regexp_replace` form of [[dedupKeyCol]]
    * — the exact expression the DuckDB oracles transliterate (with
    * RE2's 'g' flag), retained as the differential anchor for the
    * fused native expression. Not used on the hot path by the engine
    * itself; a session with [[graft.plans.DedupKeyFuse]] installed
    * rewrites any occurrence to the fused expression at plan time.
    */
  def dedupKeyRegexCol(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), DedupDigitsRe, "0"),
        DedupOtherRe, " "),
      DedupWsRe, " "))
}
