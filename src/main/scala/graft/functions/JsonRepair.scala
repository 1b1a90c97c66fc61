package graft.functions

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

/** LLM-response JSON repair (reference `core/src/core/utils/str_util.py:8-133`,
  * behavior pinned by `core/tests/test_str_util.py`).
  *
  * Models return JSON arrays wrapped in code fences and/or containing
  * unescaped interior quotes; this normalizes them to parseable JSON:
  *
  *  1. delete every ``` fence marker and every literal `json` substring
  *     (the reference deletes `json` anywhere in the payload, not just the
  *     fence label — kept bug-compatible), then trim;
  *  2. if the result already parses, return it;
  *  3. else, for `[...]`-shaped input, re-scan character by character and
  *     escape interior quotes: a quote only terminates a string when the
  *     next non-whitespace character is `,` or `]` (or end of input);
  *  4. if the repaired form parses, return it; otherwise fall back to the
  *     cleaned string.
  *
  * Pure driver/executor function plus a registered UDF for DataFrame use.
  * (A UDF rather than a Catalyst expression: runs once per LLM response —
  * never on the 100 TB hot path.)
  */
object JsonRepair {

  // Jackson ships with Spark; FAIL_ON_TRAILING_TOKENS makes validity agree
  // with Python's json.loads (no trailing garbage allowed).
  @transient private lazy val mapper: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  def parses(s: String): Boolean =
    s != null && s.nonEmpty && {
      try { mapper.readTree(s); true }
      catch { case _: Exception => false }
    }

  private val Whitespace = Set(' ', '\n', '\t', '\r')

  /** Delete fence markers and the literal `json` substring anywhere —
    * the single owner of the reference's bug-compatible cleanup, shared
    * by every parser (no trim; callers trim as the reference does).
    */
  def stripFenceMarkers(s: String): String =
    s.replace("```", "").replace("json", "")

  def repair(response: String): String = {
    if (response == null || response.isEmpty) return response
    val cleaned = stripFenceMarkers(response).trim
    if (parses(cleaned)) return cleaned
    if (!(cleaned.startsWith("[") && cleaned.endsWith("]"))) return cleaned

    val out = new StringBuilder(cleaned.length + 16)
    var i = 0
    val n = cleaned.length
    while (i < n) {
      val c = cleaned.charAt(i)
      if (c == '[' || c == ']' || c == ',' || Whitespace(c)) {
        out.append(c); i += 1
      } else if (c == '"') {
        // Scan one string value, escaping interior quotes.
        i += 1
        val content = new StringBuilder
        var closed = false
        while (!closed && i < n) {
          val ch = cleaned.charAt(i)
          if (ch == '\\' && i + 1 < n && cleaned.charAt(i + 1) == '"') {
            content.append("\\\""); i += 2
          } else if (ch == '\\' && i + 1 < n) {
            content.append(ch).append(cleaned.charAt(i + 1)); i += 2
          } else if (ch == '"') {
            // End of string only if followed (after whitespace) by , ] or EOF.
            var j = i + 1
            while (j < n && Whitespace(cleaned.charAt(j))) j += 1
            if (j >= n || cleaned.charAt(j) == ',' || cleaned.charAt(j) == ']') {
              out.append('"').append(content).append('"')
              i += 1
              closed = true
            } else {
              content.append("\\\""); i += 1
            }
          } else {
            content.append(ch); i += 1
          }
        }
        if (!closed) out.append('"').append(content) // unterminated string
      } else {
        out.append(c); i += 1
      }
    }
    val fixed = out.toString
    if (parses(fixed)) fixed else cleaned
  }
}
