package graft

import graft.chunk.ChunkingStrat
import graft.exchange.{InlineExchange, MockExchange}
import graft.functions.WhitespaceTokenizer
import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.CompanyText
import graft.vocab.Concept

/** T27/T28 end-to-end: sequencing, gating, GT override, error
  * isolation — all through MockExchange.
  */
class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq(
    Concept("certificate", "ISO 9001", "urn:c/iso9001", Seq("ISO9001"), Nil))

  private val texts = Seq(
    CompanyText("maker.example", "v1", "We are ISO 9001 certified manufacturers.\nEmail sales@maker.example today."),
    CompanyText("blog.example", "v1", "Just a blog about cooking.\nNothing industrial here."),
    CompanyText("broken.example", "v1", "Parse failure company.\nStill has text."),
    CompanyText("human-says-yes.example", "v1", "Machine calls this not a manufacturer.\nISO 9001 appears here."))

  private val exchange = new MockExchange(OrchestratorSpec.respond)

  private lazy val result = Orchestrator.process(
    texts.toDS(), exchange, vocab,
    conceptFields = Seq(ChunkingStrat("certificates", 50, 0.0, 25)),
    tok = WhitespaceTokenizer,
    gtBinary = Seq(("human-says-yes.example", true)).toDF("etld1", "human_answer"))

  private lazy val rows = result.manufacturers.collect()
    .map(r => r.getAs[String]("etld1") -> r).toMap

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("binary decision + GT override gate content extraction") {
    assert(rows("maker.example").getAs[Boolean]("is_manufacturer"))
    assert(!rows("blog.example").getAs[Boolean]("is_manufacturer"))
    // human override flips the machine's false
    assert(rows("human-says-yes.example").getAs[Boolean]("is_manufacturer"))
  }

  test("content fields only for passing companies") {
    assert(rows("maker.example").getAs[scala.collection.Seq[String]]("certificates").toSeq == Seq("ISO 9001"))
    assert(rows("human-says-yes.example").getAs[scala.collection.Seq[String]]("certificates").toSeq == Seq("ISO 9001"))
    assert(rows("blog.example").getAs[scala.collection.Seq[String]]("certificates") == null)
  }

  test("always-on fields present for gated-out companies too") {
    assert(rows("blog.example").getAs[String]("business_desc") == "About blog.example")
    assert(rows("maker.example").getAs[scala.collection.Seq[String]]("email_addresses").toSeq ==
      Seq("sales@maker.example"))
    val addr = rows("blog.example").getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("addresses")
    assert(addr.length == 1 && addr.head.getAs[String]("city") == "Phoenix")
  }

  test("binary parse failure aborts the company into errors") {
    assert(!rows.contains("broken.example"))
    val errs = result.errors.collect()
    assert(errs.exists(e => e.etld1 == "broken.example" && e.field == "is_manufacturer"))
  }

  test("T27: pre-populated fields produce zero new requests, gate still works") {
    val t27texts = Seq(
      CompanyText("haskw.example", "v1", "We are ISO 9001 certified."),
      CompanyText("fresh.example", "v1", "We are ISO 9001 certified too."))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val inner = new MockExchange((id, body) => {
      id.split(">")(1) match {
        case "is_manufacturer" => """{"answer": true, "confidence": 90, "reason": "yes"}"""
        case "business_desc" => """{"name": "x", "description": "y"}"""
        case "addresses" => "[]"
        case "certificates" =>
          if (id.contains("llm_search")) """["ISO 9001"]""" else "{}"
        case _ => null
      }
    })
    val recording = new graft.exchange.Exchange {
      override def execute(requests: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        seen ++= requests.select("custom_id").collect().map(_.getString(0))
        inner.execute(requests)
      }
    }
    val before = persistentIds
    // haskw.example already has certificates AND its binary decision;
    // its stored is_manufacturer=true arrives via the gtBinary overlay.
    val r = Orchestrator.process(
      t27texts.toDS(), recording, vocab,
      conceptFields = Seq(ChunkingStrat("certificates", 50, 0.0, 25)),
      tok = WhitespaceTokenizer,
      gtBinary = Seq(("haskw.example", true)).toDF("etld1", "human_answer"),
      present = Some(Seq(
        ("haskw.example", "certificates"),
        ("haskw.example", "is_manufacturer")).toDF("etld1", "field_type")))
    val rs = r.manufacturers.collect().map(r => r.getAs[String]("etld1") -> r).toMap
    // no requests of any kind for haskw.example's present fields
    assert(!seen.exists(id => id.startsWith("haskw.example>certificates>")))
    assert(!seen.exists(id => id.startsWith("haskw.example>is_manufacturer>")))
    // but its non-present fields were still requested, and the gate let
    // it through on the stored decision
    assert(seen.exists(id => id.startsWith("haskw.example>business_desc>")))
    assert(rs("haskw.example").getAs[Boolean]("is_manufacturer"))
    assert(rs("haskw.example").getAs[scala.collection.Seq[String]]("certificates") == null)
    // the untouched company still extracts everything
    assert(rs("fresh.example").getAs[scala.collection.Seq[String]]("certificates").toSeq ==
      Seq("ISO 9001"))
    // caller-managed block lifecycle: release frees every frame this
    // orchestration materialized (checked by RDD id — the session is
    // shared with other suites, so a global empty check is racy)
    val held = persistentIds -- before
    assert(held.nonEmpty)
    r.release()
    assert((persistentIds intersect held).isEmpty)
  }

  test("every boundary is computed once: one transport call per request, released by id") {
    OrchestratorSpec.calls.clear()
    val before = persistentIds
    val docs = texts.toDS()
    val r = Orchestrator.process(
      docs, InlineExchange(OrchestratorSpec.transport, maxParallelism = 2,
        retry = InlineExchange.RetryPolicy(maxAttempts = 3, backoffMs = 0)),
      vocab,
      conceptFields = Seq(ChunkingStrat("certificates", 50, 0.0, 25)),
      tok = WhitespaceTokenizer,
      gtBinary = Seq(("human-says-yes.example", true)).toDF("etld1", "human_answer"))
    import scala.jdk.CollectionConverters._
    // process runs the exchange rounds before it returns
    val ranRounds = OrchestratorSpec.calls.asScala.toMap
    assert(texts.forall(t => ranRounds.keys.exists(_.startsWith(s"${t.etld1}>is_manufacturer>"))))
    val rs = r.manufacturers.collect().map(r => r.getAs[String]("etld1") -> r).toMap
    assert(r.errors.collect().map(e => (e.etld1, e.field)).toSeq ==
      Seq(("broken.example", "is_manufacturer")))
    assert(rs("maker.example").getAs[scala.collection.Seq[String]]("certificates").toSeq ==
      Seq("ISO 9001"))
    // neither action reached the transport again: one call per request,
    // plus the one retry of the request whose first attempt throws
    val calls = OrchestratorSpec.calls.asScala.toMap
    assert(calls == ranRounds)
    assert(calls.exists(_._1.contains(">llm_search>")) && calls.keys.exists(OrchestratorSpec.flaky))
    calls.foreach { case (id, n) =>
      assert(n == (if (OrchestratorSpec.flaky(id)) 2 else 1), id)
    }
    // later plans read leaves over the materialized blocks, not the input
    val inputLeaves = docs.queryExecution.analyzed.collectLeaves()
    assert(!r.manufacturers.queryExecution.analyzed.exists(inputLeaves.contains(_)))
    // release frees what the orchestration and its exchange materialized
    val held = persistentIds -- before
    assert(held.nonEmpty)
    r.release()
    assert((persistentIds intersect held).isEmpty)
  }

  test("T26: fully-matched companies skip the mapping exchange round") {
    val t26texts = Seq(
      CompanyText("allknown.example", "v1", "We are ISO 9001 certified."),
      CompanyText("unknowns.example", "v1", "We hold the FancyCert credential."))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val inner = new MockExchange((id, body) => {
      id.split(">")(1) match {
        case "is_manufacturer" => """{"answer": true, "confidence": 90, "reason": "yes"}"""
        case "business_desc" => """{"name": "x", "description": "y"}"""
        case "addresses" => "[]"
        case "certificates" =>
          if (id.contains("llm_search")) {
            if (body.contains("ISO 9001")) """["ISO 9001"]""" else """["FancyCert"]"""
          } else """{"FancyCert": "ISO9001"}"""
        case _ => null
      }
    })
    val recording = new graft.exchange.Exchange {
      override def execute(requests: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        seen ++= requests.select("custom_id").collect().map(_.getString(0))
        inner.execute(requests)
      }
    }
    val r = Orchestrator.process(
      t26texts.toDS(), recording, vocab,
      conceptFields = Seq(ChunkingStrat("certificates", 50, 0.0, 25)),
      tok = WhitespaceTokenizer,
      gtBinary = Seq.empty[(String, Boolean)].toDF("etld1", "human_answer"))
    val rs = r.manufacturers.collect().map(r => r.getAs[String]("etld1") -> r).toMap
    // only the company with an unmatched keyword cost a mapping request
    assert(seen.filter(_.endsWith(">mapping")).toSeq ==
      Seq("unknowns.example>certificates>mapping"))
    // and both companies still reconcile to the right concepts
    assert(rs("allknown.example").getAs[scala.collection.Seq[String]]("certificates").toSeq ==
      Seq("ISO 9001"))
    assert(rs("unknowns.example").getAs[scala.collection.Seq[String]]("certificates").toSeq ==
      Seq("ISO 9001"))
  }
}

object OrchestratorSpec {
  def respond(id: String, body: String): String = {
    val etld1 = id.split(">")(0)
    val field = id.split(">")(1)
    field match {
      case "is_manufacturer" => etld1 match {
        case "maker.example" => """{"answer": true, "confidence": 90, "reason": "makes things"}"""
        case "blog.example" => """{"answer": false, "confidence": 95, "reason": "a blog"}"""
        case "broken.example" => "THIS IS NOT JSON {{{"
        case _ => """{"answer": false, "confidence": 60, "reason": "unclear"}"""
      }
      case "business_desc" =>
        s"""{"name": "${etld1.split('.').head}", "description": "About $etld1"}"""
      case "addresses" =>
        """[{"city":"Phoenix","state":"AZ","address_lines":["1 Main St"]}]"""
      case "certificates" =>
        if (id.contains("llm_search")) {
          if (body.contains("ISO 9001")) """["ISO 9001"]""" else """[]"""
        } else "{}"
      case _ => null
    }
  }

  /** The request whose first transport attempt throws. */
  def flaky(id: String): Boolean = id.startsWith("blog.example>business_desc>")
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val transport: InlineExchange.Transport = (id, body) => {
    if (calls.merge(id, 1, (a, b) => a + b) == 1 && flaky(id))
      throw new RuntimeException("transient")
    respond(id, body)
  }
}
