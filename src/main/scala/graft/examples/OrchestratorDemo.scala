package graft.examples

import org.apache.spark.sql.SparkSession

import graft.chunk.ChunkingStrat
import graft.exchange.MockExchange
import graft.functions.WhitespaceTokenizer
import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.CompanyText
import graft.vocab.Concept

/** T27/T28 demo: four companies through the full orchestration —
  * binary gate, GT override, error isolation, content extraction.
  * Run: `sbt "runMain graft.examples.OrchestratorDemo"`.
  */
object OrchestratorDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]").appName("graft-orchestrator-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val vocab = Seq(Concept("certificate", "ISO 9001", "urn:c/iso9001", Seq("ISO9001"), Nil))
    val texts = Seq(
      CompanyText("maker.example", "v1",
        "We are ISO 9001 certified manufacturers.\nEmail sales@maker.example today."),
      CompanyText("blog.example", "v1", "Just a blog about cooking.\nNothing industrial."),
      CompanyText("broken.example", "v1", "Company whose LLM response is garbage."),
      CompanyText("human-says-yes.example", "v1",
        "Machine says no, human corrected it.\nISO 9001 shop."))

    val exchange = new MockExchange((id, body) => {
      val (etld1, field) = (id.split(">")(0), id.split(">")(1))
      field match {
        case "is_manufacturer" => etld1 match {
          case "maker.example" => """{"answer": true, "confidence": 90, "reason": "makes things"}"""
          case "broken.example" => "NOT JSON {{{"
          case _ => """{"answer": false, "confidence": 80, "reason": "no"}"""
        }
        case "business_desc" => s"""{"name": "n", "description": "About $etld1"}"""
        case "addresses" => """[{"city":"Phoenix","state":"AZ","address_lines":["1 Main St"]}]"""
        case "certificates" =>
          if (id.contains("llm_search"))
            (if (body.contains("ISO 9001")) """["ISO 9001"]""" else "[]")
          else "{}"
        case _ => null
      }
    })

    val result = Orchestrator.process(
      texts.toDS(), exchange, vocab,
      conceptFields = Seq(ChunkingStrat("certificates", 50, 0.0, 25)),
      tok = WhitespaceTokenizer,
      gtBinary = Seq(("human-says-yes.example", true)).toDF("etld1", "human_answer"))

    result.manufacturers.orderBy("etld1")
      .select($"etld1", $"is_manufacturer", $"business_desc",
        $"email_addresses", $"certificates")
      .show(truncate = false)
    println("errors:")
    result.errors.show(truncate = false)
    result.release()
    spark.stop()
  }
}
