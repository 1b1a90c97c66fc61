package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.textops.{Dsir, NearDup, TextTokens}

/** The window expressions that bind the token array once
  * (`TextTokens.withWords`) return exactly what the forms that
  * re-tokenized per window did: each old form is restated here
  * verbatim as the reference.
  */
class TokenizeOnceSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    "", "   ", "\t\n ", "one", "Two Words", "three little words",
    "The quick brown Fox jumps over the lazy dog the end",
    "  leading and   inner\twhitespace  ",
    "Ünïcödé naïve café ÉCOLE", "日本語 の テキスト 分割 です", "emoji 😀 𝔘𝔫𝔦 text here", null)

  private def oldShingles(text: Column, n: Int): Column = {
    val words = TextTokens.wordsCol(text)
    when(size(words) < n, when(size(words) === 0, array()).otherwise(array(array_join(words, " "))))
      .otherwise(
        transform(sequence(lit(0), size(words) - n),
          i => array_join(slice(words, i + lit(1), lit(n)), " ")))
  }

  private def oldDsirFeatures(text: Column): Column = {
    val ws = TextTokens.wordsCol(text)
    concat(ws, when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", slice(ws, i + lit(1), lit(2)))))
      .otherwise(array().cast("array<string>")))
  }

  private def sameOn(now: Column, old: Column): Unit = {
    val rows = texts.toDF("t").select(now.as("now"), old.as("old"), $"t").collect()
    rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1), s"text: ${r.get(2)}"))
  }

  test("shinglesCol equals the per-window-tokenizing form") {
    for (n <- 1 to 4) sameOn(NearDup.shinglesCol($"t", n), oldShingles($"t", n))
  }

  test("Dsir bigram features equal the per-window-tokenizing form") {
    sameOn(Dsir.featuresCol($"t", bigrams = true), oldDsirFeatures($"t"))
    sameOn(Dsir.featuresCol($"t", bigrams = false), TextTokens.wordsCol($"t"))
  }
}
