package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Unicode normalization for multilingual curation — the step that
  * runs BEFORE any hash-based dedup or shingle comparison on web text:
  * visually-identical strings ("café" composed vs "cafe" + combining
  * acute) hash differently until both sides are brought to one
  * canonical form, so un-normalized corpora silently under-dedup
  * exactly the multilingual slices curation cares about.
  *
  * NFC (canonical composition) is the interchange-standard form the
  * q114 gate verifies against DuckDB's utf8proc-backed
  * `nfc_normalize` — two independent implementations of UAX #15
  * agreeing byte-for-byte. NFKC additionally folds compatibility
  * characters (ligatures, superscripts, full-width forms) — the more
  * aggressive form dedup keys typically want; DuckDB ships no NFKC, so
  * it is spec-pinned rather than oracled.
  *
  * A JDK library call (`java.text.Normalizer`), so a UDF is the
  * sanctioned tool (the `UrlUtil` PSL-walk precedent): per-row,
  * bounded, no shuffle anywhere near it.
  */
object TextNormalize {

  def nfc(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  def nfkc(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)

  private val nfcUdf = udf(nfc _)

  def nfcCol(c: Column): Column = nfcUdf(c)
}
