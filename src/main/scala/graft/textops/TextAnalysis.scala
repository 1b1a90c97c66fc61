package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokenizer

/** Text analysis for training-data curation (BASELINE.json north star):
  * language ID, quality scoring, token counting, document
  * fingerprinting. Everything is `functions._`-first (codegen'd); UDFs
  * only where a sequential scan is inherent (rolling hash).
  */
object TextAnalysis {

  // ---- language ID (n-gram/stopword heuristic) ---------------------------

  /** Tiny per-language marker profiles (top function words). A real
    * deployment swaps in fastText-style profiles; the operator shape —
    * score per language from a broadcast profile, argmax — is what
    * matters at scale.
    */
  val Profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "es" -> Seq("el", "la", "los", "de", "que", "es", "una"))

  /** Predicted language = argmax over profile-hit counts (ties: the
    * alphabetically LAST language wins — struct max compares the lang
    * string after hits; the DuckDB oracle mirrors this with
    * `ORDER BY hits DESC, lang DESC`), or "unknown" when no marker
    * occurs.
    */
  def langIdCol(text: Column): Column = {
    val words = split(lower(text), "\\s+")
    val scores = Profiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(array_intersect(words, array(markers.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("unknown"))
  }

  // ---- quality scoring ---------------------------------------------------

  /** Heuristic quality features (length, word stats, punctuation and
    * stopword ratios) — the standard pre-training filter signals.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val stop = array(Profiles("en").map(lit): _*)
    df
      .withColumn("n_chars", length(text))
      .withColumn("n_words", size(words))
      .withColumn("avg_word_len",
        when(size(words) > 0, (length(text) - size(words) + 1).cast("double") / size(words))
          .otherwise(lit(0.0)))
      .withColumn("distinct_ratio",
        when(size(words) > 0, size(array_distinct(words)).cast("double") / size(words))
          .otherwise(lit(0.0)))
      .withColumn("stopword_hits", size(array_intersect(words, stop)))
  }

  /** Scalar quality score in [0,1]: penalize too-short/too-long docs and
    * low lexical diversity. Thresholds follow the reference's validity
    * gates in spirit (50 < tokens < 125k, BASELINE.md).
    */
  def qualityScore(nWords: Column, distinctRatio: Column): Column = {
    val lengthOk = when(nWords >= 10 && nWords <= 100000, lit(1.0))
      .when(nWords > 0, lit(0.5)).otherwise(lit(0.0))
    round(lengthOk * (lit(0.5) + lit(0.5) * distinctRatio), 6)
  }

  /** Script-mix fractions — the wrong-script/mojibake detector for
    * multilingual curation: a document claiming to be English whose
    * Cyrillic fraction is 0.4 is mislabeled or mangled; CCNet-style
    * pipelines gate on exactly these ratios per language bucket.
    *
    * Classes are EXPLICIT code-point ranges (ASCII letters, ASCII
    * digits, Cyrillic U+0400-U+04FF, CJK Unified U+4E00-U+9FFF) rather
    * than named script classes, so Java regex (Spark) and RE2 (DuckDB,
    * the q115 oracle) agree symbol-for-symbol. Counts are
    * `len(s) - len(regexp_replace(s, class, ''))`; fractions are one
    * integer-over-integer double division — identical both engines.
    * Pure per-row column math, zero shuffles.
    */
  def scriptMix(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val n = length(text)
    def frac(pattern: String) =
      when(n > 0,
        (n - length(regexp_replace(text, pattern, ""))).cast("double") / n)
        .otherwise(lit(0.0))
    df.withColumn("n_cp", n)
      .withColumn("latin_frac", frac("[A-Za-z]"))
      .withColumn("digit_frac", frac("[0-9]"))
      .withColumn("cyrillic_frac", frac("[Ѐ-ӿ]"))
      .withColumn("han_frac", frac("[一-鿿]"))
  }

  /** Line-level language consistency (code-switch / mixed-page
    * detector — CCNet-style pipelines run language ID per PARAGRAPH
    * because a page-level label hides embedded foreign boilerplate):
    * per document, the language of every non-blank line
    * ([[langIdCol]] applied per line) against the whole-document
    * label; a line counts as SWITCHED when its label is known and
    * differs from the document's. High `switch_frac` ⇒ mixed-language
    * page, wrong doc label, or foreign boilerplate to strip.
    *
    * Scale shape: one explode on lines (corpus-bounded) into a
    * map-side-combined per-doc rollup; the scoring itself is per-row
    * column math. Documents with no non-blank lines drop out.
    */
  def lineLangSwitch(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docLang = langIdCol(col(textCol))
    df.select(col(idCol), docLang.as("doc_lang"),
        explode(filter(split(col(textCol), "\n"),
          l => length(trim(l)) > 0)).as("__line"))
      .withColumn("__lang", langIdCol(col("__line")))
      .groupBy(col(idCol), col("doc_lang"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__lang") =!= col("doc_lang") &&
          col("__lang") =!= "unknown", 1L).otherwise(0L)).as("n_switched"))
      .withColumn("switch_frac",
        col("n_switched").cast("double") / col("n_lines").cast("double"))
  }

  // ---- character entropy -------------------------------------------------

  /** Shannon entropy (bits/char) of the character distribution, as pure
    * per-row array math — zero shuffles, the q29/q36 convention; the
    * gibberish/boilerplate signal quality gates threshold on (natural
    * prose sits near 4 bits, base64 blobs near 6, repeated padding near
    * 0). Computed as log2(n) − Σ c·log2(c) / n over per-char counts —
    * one libm call per DISTINCT char, exact integer counts, rounded at
    * 6 per the engine float policy (the Σ is over ≤ alphabet-size terms,
    * so cross-engine summation-order ulps sit far below the rounding).
    * The distinct-scan is O(alphabet × len) per row — alphabet is
    * bounded (≤ a few hundred glyphs in any real corpus), so this stays
    * linear in corpus size.
    */
  def charEntropyCol(text: Column): Column = {
    val chars = filter(split(text, ""), c => length(c) > 0)
    val n = size(chars)
    val counts = transform(array_distinct(chars),
      d => size(filter(chars, c => c === d)).cast("double"))
    val sumClog = aggregate(counts, lit(0.0), (acc, c) => acc + c * log2(c))
    when(n > 0, round(log2(n.cast("double")) - sumClog / n.cast("double"), 6))
      .otherwise(lit(0.0))
  }

  /** Distinct-character count companion to [[charEntropyCol]]. */
  def charAlphabetCol(text: Column): Column =
    size(array_distinct(filter(split(text, ""), c => length(c) > 0)))

  // ---- token counting ----------------------------------------------------

  /** Whitespace token count as a column (codegen'd). */
  def wordCountCol(text: Column): Column =
    size(filter(split(text, "\\s+"), w => length(w) > 0))

  /** Pluggable tokenizer count (BPE-ish by default) as a UDF — for
    * budget checks that must agree with the chunker's tokenizer.
    * Null text counts 0 (the fold-friendly choice — a null cell must
    * not NPE a corpus-wide budget sum).
    */
  def tokenCountUdf(tok: Tokenizer): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) 0 else tok.count(s))

  // ---- document fingerprinting -------------------------------------------

  /** Polynomial rolling hash over a character window (Rabin-Karp).
    * Returns all window hashes; [[winnow]] reduces them to a robust
    * sketch.
    */
  def rollingHashes(text: String, window: Int): Vector[Long] = {
    if (text.length < window) {
      if (text.isEmpty) return Vector.empty
      return Vector(text.foldLeft(0L)((h, c) => h * 257 + c))
    }
    val base = 257L
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow *= base; i += 1 }
    val out = Vector.newBuilder[Long]
    var h = 0L
    i = 0
    while (i < text.length) {
      h = h * base + text.charAt(i)
      if (i >= window) h -= pow * base * text.charAt(i - window)
      if (i >= window - 1) out += h
      i += 1
    }
    out.result()
  }

  /** Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): keep the minimum
    * hash of every sliding window of `w` consecutive hashes — a
    * position-robust fingerprint set.
    */
  def winnow(hashes: Vector[Long], w: Int): Vector[Long] = {
    if (hashes.isEmpty) return Vector.empty
    if (hashes.length <= w) return Vector(hashes.min)
    hashes.sliding(w).map(_.min).toVector.distinct
  }

  // ---- PII redaction -----------------------------------------------------

  /** Email addresses (case-insensitive, the practical subset: no quoted
    * local parts), chained `regexp_replace`s stay codegen'd.
    */
  private val EmailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** US-style phone numbers: optional +1/1 country code, 3-3-4 groups
    * with space/dot/dash separators or a parenthesized area code.
    * Guarded on both sides so digits inside longer numbers don't match.
    */
  private val PhoneRe =
    "(?<![0-9])(?:\\+?1[ .-]?)?(?:\\([0-9]{3}\\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}(?![0-9])"

  /** SSN-shaped 3-2-4 digit groups with dashes. */
  private val SsnRe = "(?<![0-9-])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9-])"

  /** Masks emails, phone numbers, and SSNs with typed placeholder
    * tokens — the standard pre-release PII scrub for training corpora.
    * Order matters twice: emails FIRST, so a digit-run inside an email's
    * local part can't be eaten by the narrower masks and leak the
    * surrounding address ("john.555-123-4567@x.com" must become
    * "<EMAIL>", not "john.<PHONE>@x.com"); then SSNs before phones (a
    * phone pattern could otherwise eat a 3-2-4 group's prefix). Pure
    * chained `regexp_replace` — whole-stage codegen'd, no UDF.
    *
    * This is intentionally a recall-oriented regex pass (names/addresses
    * need an NER model — out of engine scope, pluggable upstream like
    * the geocoder trait).
    */
  /** Encoding-anomaly signals — the mojibake / binary-contamination
    * gate a crawl pipeline runs on DECODED text (ftfy's detection
    * side, reduced to the three robust signals): U+FFFD replacement
    * characters (a decoder already gave up), C0 control characters
    * (NUL..US minus tab/LF, plus DEL — binary payloads mis-served as
    * text; CR excluded: Windows line endings are legitimate), and C1
    * controls U+0080..U+009F (the classic cp1252-bytes-decoded-as-
    * latin-1 mojibake band). Emits exact per-row counts, the
    * unrounded anomalous-char fraction, and a `keep` flag that is 1
    * iff the text carries NO anomaly. Pure per-row column math
    * (codegen'd regexp_replace chain, no UDF, no shuffle) — applies
    * unchanged to a streaming frame, like [[qualityFeatures]].
    * Character classes are explicit code-point ranges (no `\p{Cc}`,
    * no `\s`), the [[TextTokens.dedupKeyCol]] cross-engine
    * discipline.
    */
  def encodingAnomalies(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def removed(pattern: String): Column =
      (length(t) - length(regexp_replace(t, pattern, ""))).cast("long")
    df.select(col(idCol),
        length(t).cast("long").as("n_chars"),
        removed("\uFFFD").as("n_replacement"),
        removed("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]").as("n_control"),
        removed("[\\x80-\\x9F]").as("n_c1"))
      .withColumn("anomaly_frac",
        when(col("n_chars") > 0,
          (col("n_replacement") + col("n_control") + col("n_c1")).cast("double") /
            col("n_chars").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        (col("n_replacement") === 0 && col("n_control") === 0 && col("n_c1") === 0)
          .cast("int"))
  }

  /** Per-document zlib compression ratio — the MassiveText/Gopher
    * repetitiveness signal the n-gram fractions can miss (long-range
    * templating, interleaved boilerplate): highly compressible text is
    * repetitive text. `deflated_len / utf8_len`, level-6 Deflater, one
    * pass per row. Deterministic for a given zlib, but NOT
    * SQL-expressible — this operator is spec-verified (ordering +
    * bounds properties), not DuckDB-oracled, and thresholds should be
    * calibrated per corpus rather than ported across zlib versions.
    * Composes beside [[charEntropyCol]] (which catches the opposite
    * failure: high-entropy base64/binary blobs).
    */
  def compressionRatioUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => {
      // a nullable text column reaches a Scala UDF as null — stay
      // null-safe like the column-expression signals this composes with
      val in = if (s == null) Array.emptyByteArray else s.getBytes("UTF-8")
      if (in.isEmpty) 0.0
      else {
        val d = new java.util.zip.Deflater(6)
        try {
          d.setInput(in); d.finish()
          val buf = new Array[Byte](8192)
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          n.toDouble / in.length.toDouble
        } finally d.end()
      }
    })

  // ---- C4 line-level cleaning --------------------------------------------

  /** C4-style line filtering (Raffel et al. 2020 §2.2 — the line pass
    * every web-crawl pipeline runs BEFORE doc-level quality gates):
    * split on newlines, drop a line if it (rule order fixed for
    * attribution) (1) mentions "javascript" case-insensitively,
    * (2) has fewer than `minWords` whitespace words, (3) does not end
    * in a terminal punctuation mark (`. ! ? "` after right-trim).
    * Returns per-doc audit counts (`n_lines`, `n_kept`, per-rule drop
    * counts — each dropped line attributed to its FIRST failing rule)
    * plus the md5 of the kept lines rejoined with newlines, so the
    * CLEANED TEXT, not just the counts, is hash-verified cross-engine.
    *
    * Pure per-row array math (split + filter HOFs — codegen'd, zero
    * shuffles, the q29/q36 plan shape): at 100 TB this is a map over
    * the scan. Word counting inside a line mirrors `wordsCol` (split
    * on `\s+`, empties dropped); the per-line regexes avoid any
    * Java-vs-RE2 divergence surface (literal classes, no multiline
    * anchors — lines post-split contain no newlines).
    */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    def wordsOf(line: Column): Column =
      filter(split(line, "\\s+"), w => length(w) > 0)
    def isJs(line: Column): Column = lower(line).contains("javascript")
    def isShort(line: Column): Column = size(wordsOf(line)) < minWords
    def noPunct(line: Column): Column = !rtrim(line).rlike("[.!?\"]$")
    val kept = filter(lines, l => !isJs(l) && !isShort(l) && !noPunct(l))
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      size(filter(lines, l => isJs(l))).cast("long").as("n_js"),
      size(filter(lines, l => !isJs(l) && isShort(l))).cast("long").as("n_short"),
      size(filter(lines, l => !isJs(l) && !isShort(l) && noPunct(l)))
        .cast("long").as("n_punct"),
      md5(array_join(kept, "\n")).as("kept_md5"))
  }

  /** Readability scoring (Flesch 1948 reading ease + Flesch-Kincaid
    * grade level) — the classic complexity signal education-quality
    * curation gates on (too-low grade ⇒ listicle/boilerplate, absurdly
    * high ⇒ OCR garbage or legalese):
    *
    *   ease  = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
    *   grade = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59
    *
    * Sentences = non-blank spans between `[.!?]+` runs (a document
    * with no terminal punctuation is ONE sentence); syllables = vowel
    * GROUPS (`[aeiouy]+`) per word, floored at 1 (the standard
    * heuristic — both regex classes identical under Java regex and
    * RE2, the scriptMix discipline). Counts are exact integers; each
    * score is one fixed float nest over them, rounded at 6 (engine
    * float policy). Pure per-row HOF math — a codegen'd map over the
    * scan, zero shuffles at any corpus size.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val ws = graft.textops.TextTokens.wordsCol(text)
    val sents = filter(split(text, "[.!?]+"), s => length(trim(s)) > 0)
    val nW = size(ws).cast("long")
    val nS = size(sents).cast("long")
    val syl = aggregate(ws, lit(0L), (acc, w) =>
      acc + greatest(size(split(w, "[aeiouy]+", -1)) - 1, lit(1)).cast("long"))
    val spw = col("n_syllables").cast("double") /
      col("n_words").cast("double")
    df.select(col(idCol), nW.as("n_words"), nS.as("n_sentences"),
        syl.as("n_syllables"))
      .withColumn("flesch_ease",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          round(lit(206.835) - lit(1.015) *
            (col("n_words").cast("double") / col("n_sentences").cast("double")) -
            lit(84.6) * spw, 6))
        .otherwise(lit(0.0)))
      .withColumn("fk_grade",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          round(lit(0.39) *
            (col("n_words").cast("double") / col("n_sentences").cast("double")) +
            lit(11.8) * spw - lit(15.59), 6))
        .otherwise(lit(0.0)))
  }

  /** HTML → visible-text extraction (the step every web-crawl pipeline
    * runs before any quality gate — C4/CCNet start here): drop
    * script/style bodies and comments, break remaining tags to spaces,
    * decode the common entities (AFTER the tag strip, so a decoded `<`
    * can't resurrect a tag), collapse whitespace runs. Alongside the
    * text, the markup-shape signals boilerplate classifiers use:
    * tag count, link count, and the text-to-markup ratio (low ratio =
    * chrome-heavy page).
    *
    * All regexes are engine-parity-safe (lazy dotall + literal
    * classes — identical under Java regex and RE2, the scriptMix
    * discipline); counts are exact integers, the ratio one division.
    * Pure per-row chained regexp_replace — a codegen'd map over the
    * scan, zero shuffles. Entity coverage is the common six (a real
    * deployment swaps in a full entity table behind the same shape).
    */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val raw = col(htmlCol)
    val noScript = regexp_replace(raw, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", "")
    val noTags = regexp_replace(noComment, "(?is)<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    val text = trim(regexp_replace(decoded, "\\s+", " "))
    df.select(col(idCol),
        length(raw).cast("long").as("n_raw_chars"),
        (size(split(raw, "<[^>]+>", -1)) - 1).cast("long").as("n_tags"),
        (size(split(raw, "(?i)<a[\\s>]", -1)) - 1).cast("long").as("n_links"),
        text.as("text_extracted"))
      .withColumn("n_text_chars", length(col("text_extracted")).cast("long"))
      .withColumn("text_ratio",
        when(col("n_raw_chars") > 0,
          col("n_text_chars").cast("double") / col("n_raw_chars").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** The (pattern, Java replacement) strip chain [[markdownExtract]]
    * applies, in order — exposed so the oracle can fold the identical
    * list (with RE2 `\1` group syntax swapped for Java's `$1`).
    * Backreference-free patterns only (RE2 has no backrefs): `**`/`*`
    * and `__`/`_` emphasis are separate steps, longest first.
    */
  val MarkdownSteps: Seq[(String, String)] = Seq(
    ("(?s)```.*?```", " "),                        // fenced code blocks drop
    ("!\\[([^\\]]*)\\]\\(([^)]*)\\)", "$1"),       // images -> alt text
    ("\\[([^\\]]*)\\]\\(([^)]*)\\)", "$1"),        // links -> anchor text
    ("`([^`]+)`", "$1"),                           // inline code unwraps
    ("(?m)^#{1,6}[ \\t]*", ""),                    // headers
    ("(?m)^[ \\t]*[-*+][ \\t]+", ""),              // list markers
    ("(?m)^>[ \\t]?", ""),                         // blockquotes
    ("\\*\\*([^*]+)\\*\\*", "$1"),                 // bold
    ("\\*([^*]+)\\*", "$1"),                       // italics
    ("__([^_]+)__", "$1"),                         // bold (underscore)
    ("_([^_]+)_", "$1"))                           // italics (underscore)

  /** Markdown → visible-text extraction (the HTML strip's sibling for
    * the other half of a web/code corpus): fenced code blocks drop,
    * images and links keep their text, inline code unwraps, header /
    * list / blockquote markers and emphasis strip, whitespace
    * collapses (the [[htmlExtract]] contract). All patterns are
    * backreference-free (RE2-parity) with literal classes; pure
    * per-row chained regexp_replace — a codegen'd map over the scan.
    */
  def markdownExtract(df: DataFrame, idCol: String, mdCol: String): DataFrame = {
    val raw = col(mdCol)
    val stripped = MarkdownSteps.foldLeft(raw) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    val text = trim(regexp_replace(stripped, "\\s+", " "))
    df.select(col(idCol),
        length(raw).cast("long").as("n_raw_chars"),
        text.as("text_extracted"))
      .withColumn("n_text_chars", length(col("text_extracted")).cast("long"))
  }

  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, EmailRe, "<EMAIL>")
    val ssn = regexp_replace(email, SsnRe, "<SSN>")
    regexp_replace(ssn, PhoneRe, "<PHONE>")
  }

  /** Count of PII hits per kind, for audit reports before/after a scrub. */
  def piiCounts(text: Column): Column =
    struct(
      size(split(text, EmailRe, -1)) - 1 as "emails",
      size(split(text, PhoneRe, -1)) - 1 as "phones",
      size(split(text, SsnRe, -1)) - 1 as "ssns")

  /** Luhn (mod-10) checksum validity of a digit string — the checksum
    * gate that turns a "13-19 consecutive digits" PII candidate into a
    * plausible payment-card hit, cutting the false-positive scrubbing
    * a digits-only regex inflicts on IDs/timestamps (ISO/IEC 7812).
    * From the RIGHT, every second digit doubles (minus 9 past 9); the
    * total must divide by 10. Pure per-row HOF math (transform +
    * aggregate over the reversed digit array) — codegen'd, no explode,
    * no shuffle; null/empty/non-digit input yields false, never an
    * error.
    */
  def luhnValidCol(num: Column): Column = {
    val digitsOnly = num.isNotNull && num.rlike("^[0-9]+$")
    val chars = filter(split(reverse(num), ""), c => c =!= "")
    val terms = transform(chars, (c, i) => {
      val d = c.cast("int")
      when(i % 2 === 0, d).otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
    })
    when(digitsOnly,
      aggregate(terms, lit(0), (acc, x) => acc + x) % 10 === 0)
      .otherwise(lit(false))
  }

  /** Href pattern [[outlinkEdges]] extracts (group 1 = the target up
    * to the closing quote or a fragment `#`) — RE2-parity: lazy
    * quantifier + literal classes, no backrefs, identical under Java
    * regex and DuckDB's RE2. The attribute name requires a preceding
    * whitespace boundary (`<a\s(?:[^>]*?\s)?href=`), so an attribute
    * that merely ENDS in "href" (`<a data-href="/x">` with no real
    * href) is not an edge (the r9 ADVICE fidelity hole). Double-quoted
    * hrefs only (the normalized form the q135-q137 front door emits);
    * a production crawler widens the quote class behind the same
    * shape.
    */
  val HrefRe = "(?is)<a\\s(?:[^>]*?\\s)?href=\"([^\"#]*)"

  /** Outlink (web-graph edge) extraction — the step between q135's
    * HTML strip and any link-based analysis (PageRank seeds, domain
    * frontier growth, anchor aggregation): every `<a href>` target in
    * a page, with its host when absolute and an internal/external
    * flag. Fragment-only, `mailto:`/`javascript:`, and empty targets
    * drop (they are not crawl edges).
    *
    * Emits one row per kept link: `(id, href, host, external)` — host
    * null for relative links. Scale shape: one codegen'd
    * `regexp_extract_all` per page + an explode bounded by the page's
    * actual link count; per-row regex host extraction; no shuffle, no
    * join — downstream rollups (per-host in-degree, frontier diff)
    * choose their own keys.
    */
  def outlinkEdges(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val hrefs = regexp_extract_all(col(htmlCol), lit(HrefRe), lit(1))
    df.select(col(idCol), explode(hrefs).as("href"))
      .filter(length(col("href")) > 0 &&
        !lower(col("href")).rlike("^(mailto|javascript):"))
      .withColumn("host",
        when(col("href").rlike("(?i)^https?://"),
          lower(regexp_extract(col("href"), "(?i)^https?://([^/]+)", 1))))
      .withColumn("external", col("host").isNotNull.cast("int"))
  }

  /** [[HrefRe]] extended to the whole anchor element: group 1 = the
    * target up to the closing quote or a fragment `#` (the HrefRe
    * contract), group 2 = the element's inner TEXT — `[^<]*</a>`, so
    * only child-tag-free anchors match this pass at all (an
    * `<a><b>bold</b></a>` element is outlinkEdges' business, not an
    * anchor-text row; a production extractor recurses into children, a
    * regex that did would lose RE2 parity). `<a href="x"></a>` — a
    * text-free anchor — matches with group 2 empty. Same whitespace
    * boundary before `href=`, so `data-href` decoys stay non-edges.
    */
  val AnchorRe =
    "(?is)<a\\s(?:[^>]*?\\s)?href=\"([^\"#]*)[^\"]*\"[^>]*>([^<]*)</a>"

  /** Anchor-text edge extraction — [[outlinkEdges]] carrying what the
    * linking page SAYS about the target (the classic web-corpus
    * relevance signal: anchor text is human-written annotation of the
    * target page, and every large crawl aggregates it per target for
    * retrieval training and query mining). Emits one row per kept link:
    * `(id, href, host, anchor)` with the anchor lower-cased and
    * whitespace-trimmed; drop rules are exactly outlinkEdges'
    * (fragment-only / mailto / javascript / empty targets are not
    * edges; EMPTY anchors from text-free `<a href></a>` elements are
    * KEPT — such links carry rank even without text).
    *
    * Scale shape: two codegen'd `regexp_extract_all` passes over the
    * same pattern (so the group-1 and group-2 arrays are index-aligned
    * by construction), one `arrays_zip` + link-bounded explode, per-row
    * host math — no shuffle, no join.
    */
  def anchorEdges(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val hs = regexp_extract_all(col(htmlCol), lit(AnchorRe), lit(1))
    val as = regexp_extract_all(col(htmlCol), lit(AnchorRe), lit(2))
    df.select(col(idCol), explode(arrays_zip(hs, as)).as("z"))
      .select(col(idCol), col("z").getField("0").as("href"),
        trim(lower(col("z").getField("1"))).as("anchor"))
      .filter(length(col("href")) > 0 &&
        !lower(col("href")).rlike("^(mailto|javascript):"))
      .withColumn("host",
        when(col("href").rlike("(?i)^https?://"),
          lower(regexp_extract(col("href"), "(?i)^https?://([^/]+)", 1))))
  }

  /** Per-target anchor-text panel: for every (external target host,
    * normalized anchor term) — how many links carry that text and how
    * many distinct source pages said it (the dampener against a single
    * spam page repeating an anchor a thousand times). One map-side-
    * combinable rollup over [[anchorEdges]]; state is (host × distinct
    * anchors), never pages — the StreamHostGraph merge law applies
    * verbatim, so the panel maintains incrementally.
    */
  def anchorTextPanel(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    anchorEdges(df, idCol, htmlCol)
      .filter(col("host").isNotNull)
      .groupBy(col("host"), col("anchor"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col(idCol)).as("n_pages"))

  /** IBAN (ISO 13616) validity — [[luhnValidCol]]'s sibling for the
    * bank-account PII class: normalize to uppercase, check the
    * structural shape (2 letters, 2 check digits, 11-30 alphanumeric),
    * rotate the first 4 chars to the end, expand letters to two-digit
    * values (A=10..Z=35), and fold the digit string through the
    * streaming mod-97 (acc·10 + d mod 97 per digit — the full number
    * exceeds every fixed-width integer, the fold never exceeds 977).
    * Valid iff the remainder is 1. Pure per-row HOF math (transform /
    * aggregate over char arrays) — codegen'd, no explode, no shuffle;
    * null/malformed input yields false.
    */
  def ibanValidCol(iban: Column): Column = {
    val u = upper(iban)
    val structural = iban.isNotNull &&
      u.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$")
    val re = concat(substring(u, 5, 34), substring(u, 1, 4))
    val chars = filter(split(re, ""), c => c =!= "")
    val expanded = array_join(transform(chars, c =>
      when(c.between("0", "9"), c)
        .otherwise((ascii(c) - 55).cast("string"))), "")
    val digits = filter(split(expanded, ""), c => c =!= "")
    val rem = aggregate(digits, lit(0), (acc, d) =>
      (acc * 10 + (ascii(d) - 48)) % 97)
    when(structural, rem === 1).otherwise(lit(false))
  }

  /** Mojibake / encoding-damage signals (the ftfy-style triage every
    * web corpus runs before quality gating — encoding damage is
    * invisible to length/stopword heuristics but poisons tokenization):
    * counts of U+FFFD replacement characters (a decoder already gave
    * up), C1 control characters U+0080-U+009F (CP-1252 bytes decoded
    * as Latin-1), and the classic UTF-8-read-as-Latin-1 bigrams (Â/Ã/â
    * followed by a continuation-range char — "café" shipped as
    * "cafÃ©"). Emits exact integer counts, a damage score per 1000
    * chars rounded at 9 (emitted-ratio discipline), and a clean flag.
    * Pure per-row split-counting regex math (the [[piiCounts]] shape)
    * — codegen'd, zero shuffles; patterns are hex-class literals,
    * identical under Java regex and RE2.
    */
  def encodingQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(p: String) = (size(split(t, p, -1)) - 1).cast("long")
    val repl = cnt("\\x{fffd}")
    val c1 = cnt("[\\x{80}-\\x{9f}]")
    val dbl = cnt("[\\x{c2}\\x{c3}\\x{e2}][\\x{80}-\\x{bf}]")
    df.select(col(idCol),
        length(t).cast("long").as("n_chars"),
        repl.as("n_replacement"), c1.as("n_c1"), dbl.as("n_double_utf8"))
      .withColumn("damage_per_kchar",
        when(col("n_chars") > 0,
          round((col("n_replacement") + col("n_c1") + col("n_double_utf8"))
            .cast("double") * 1000.0 / col("n_chars").cast("double"), 9))
          .otherwise(lit(0.0)))
      .withColumn("is_clean",
        (col("n_replacement") + col("n_c1") + col("n_double_utf8") === 0)
          .cast("int"))
  }
}
