package kgbench

import java.util.SplittableRandom

import graft.ingest.Blocks
import graft.vocab.Concept

/** Seeded single-process input generator. The same seed gives the same
  * inputs; the program under test only ever receives the generated
  * tables and Datasets. Every input carries its planted ground truth.
  *
  * Why the parameters are what they are:
  *  - companies carry a 3-line header and footer on every page and one or
  *    two exact page repeats, so `Dedup` has boilerplate to strip and
  *    duplicate bodies to stub (the scraper output it exists for);
  *  - concept mentions use every surface form reconcile must handle:
  *    exact SKOS name, alt label (both match directly), a lower-cased
  *    name and an unknown synonym (both resolved by the mapping
  *    exchange round), and unresolvable keywords (mapped to null, so
  *    they end in `unmapped_llm` and never in the results);
  *  - every extraction shard holds two manufacturers, one
  *    non-manufacturer and one company whose binary answer is garbage (in
  *    seeded order), so the gate and the abort-on-error path both carry
  *    rows and every shard costs the same number of exchange rounds;
  *  - near-dup clusters are one base text plus variants with a single
  *    substituted word in ~80 words (3-shingle Jaccard >= 0.85), high
  *    enough that LSH with 16 bands x 4 rows misses a pair with
  *    probability < 1e-5 — planted pairs must all be found, and random
  *    Zipf-sampled texts stay far below the 0.5 threshold;
  *  - embeddings sit in 16 tight clusters, customer names are random
  *    letter strings with planted one-edit typo pairs, and documents
  *    spread over 20 sources so the host link graph has 20+ nodes;
  *  - stream document ids are `batch * size + i` and never repeat, the
  *    contract every durable fold session relies on.
  */
object Gen {

  val Fields: Seq[String] = Seq("certificates", "industries", "process_caps", "material_caps")
  val Marker: Map[String, String] = Map("certificates" -> "Certification",
    "industries" -> "Industry", "process_caps" -> "Process", "material_caps" -> "Material")
  private val Noun = Map("certificates" -> "Standard", "industries" -> "Sector",
    "process_caps" -> "Machining", "material_caps" -> "Alloy")
  private val Abbr = Map("certificates" -> "STD", "industries" -> "SEC",
    "process_caps" -> "MCH", "material_caps" -> "ALY")
  val ConceptsPerField = 24

  private val Syl = Vector("kor", "vex", "tal", "mir", "dun", "sab", "lin", "quo", "rep", "zan",
    "fel", "gor", "hab", "jin", "nol", "pex", "ruv", "sil", "tor", "wem", "yar", "bex", "cul", "dov")

  /** Common English filler; none is a concept label or a syllable pair. */
  val Words: Vector[String] = Vector("the", "of", "and", "to", "in", "for", "with", "on", "our",
    "we", "your", "is", "are", "by", "from", "at", "as", "quality", "service", "customer",
    "team", "years", "parts", "work", "products", "design", "support", "project", "new",
    "high", "best", "local", "company", "business", "experience", "solutions", "process",
    "precision", "production", "equipment", "order", "delivery", "request", "quote", "call",
    "today", "family", "owned", "operated", "since", "every", "job", "large", "small",
    "custom", "shop", "facility", "square", "feet", "capacity", "tolerance", "inspection",
    "engineering", "prototype", "assembly", "finishing", "welding", "cutting", "forming",
    "turning", "milling", "grinding", "coating", "painting", "packaging", "shipping", "fast",
    "reliable", "trusted", "partner", "industry", "leading", "dedicated", "skilled",
    "certified", "technicians", "machines", "modern", "latest", "technology", "tools",
    "materials", "steel", "aluminum", "plastic", "wood", "glass", "copper", "brass",
    "region", "state", "nation", "world", "contact", "email", "phone", "visit", "location",
    "hours", "monday", "friday", "open", "closed", "news", "events", "careers", "join",
    "apply", "benefits", "safety", "environment", "green", "energy", "efficient", "lean",
    "schedule", "volume", "run", "batch", "lot", "size", "range", "options", "choice")

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt + 0x632BE59BD9B4E019L))

  private def pseudo(i: Int, f: Int): String = {
    val a = Syl(i % Syl.size)
    val b = Syl((i * 7 + f * 5 + 3) % Syl.size)
    a.capitalize + b
  }

  /** The fixed SKOS vocabulary: 24 concepts in each of the four fields. */
  lazy val vocab: Seq[Concept] = Fields.zipWithIndex.flatMap { case (field, f) =>
    (0 until ConceptsPerField).map { i =>
      val w = pseudo(i, f)
      Concept(field, s"$w ${Noun(field)}", s"urn:kgbench:$field/$i",
        Seq(s"${w.toUpperCase}-${Abbr(field)}"), Nil)
    }
  }

  private def sentence(r: SplittableRandom, lo: Int, hi: Int): String =
    Seq.fill(lo + r.nextInt(hi - lo + 1))(Words(r.nextInt(Words.size))).mkString(" ") + "."

  /** Zipf-ish word draw: low indices far more frequent (KN LM needs repeats). */
  private def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Words(math.min(Words.size - 1, (math.pow(Words.size + 1.0, u) - 1).toInt))
  }

  private def zipfText(r: SplittableRandom, lo: Int, hi: Int): Vector[String] =
    Vector.fill(lo + r.nextInt(hi - lo + 1))(zipfWord(r))

  /** One word replaced by a different word. */
  private def variant(words: Vector[String], r: SplittableRandom): Vector[String] = {
    val p = r.nextInt(words.size)
    var w = Words(r.nextInt(Words.size))
    while (w == words(p)) w = Words(r.nextInt(Words.size))
    words.updated(p, w)
  }

  // ---- companies ------------------------------------------------------

  /** kind: 0 manufacturer, 1 non-manufacturer, 2 garbage binary response. */
  final case class Company(etld1: String, name: String, kind: Int, combined: String,
      expected: Map[String, Set[String]], mappings: Map[String, Map[String, String]])

  def company(seed: Long, idx: Int, kind: Int): Company = {
    val r = rng(seed, 1000003L * idx + 17)
    val name = s"${pseudo(idx % 24, idx / 24 % 4)} Works $idx"
    val etld1 = s"co$idx-${name.split(' ')(0).toLowerCase}.example"
    val header = Seq(s"$name Home | Products | About | Contact",
      s"Call 555-${1000 + r.nextInt(9000)} for a quote",
      s"Serving customers since ${1950 + r.nextInt(70)}")
    val footer = Seq(s"Copyright $name. All rights reserved.",
      "Privacy | Terms | Sitemap", s"Email sales@$etld1 today")
    val nUnique = 5 + r.nextInt(4)
    val bodies = Array.fill(nUnique)(
      scala.collection.mutable.ArrayBuffer.fill(12 + r.nextInt(14))(sentence(r, 8, 14)))
    var expected = Map.empty[String, Set[String]]
    var mappings = Map.empty[String, Map[String, String]]
    Fields.zipWithIndex.foreach { case (field, f) =>
      val concepts = vocab.slice(f * ConceptsPerField, (f + 1) * ConceptsPerField)
      val chosen = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(concepts).take(1 + r.nextInt(4))
      var fieldMap = Map.empty[String, String]
      def plant(surface: String): Unit = {
        val b = bodies(r.nextInt(nUnique))
        b.insert(r.nextInt(b.size + 1), s"${Marker(field)}: $surface")
      }
      chosen.foreach { c =>
        val v = r.nextDouble()
        val surface =
          if (v < 0.45) c.name
          else if (v < 0.65) c.altLabels.head
          else if (v < 0.85) c.name.toLowerCase
          else s"${c.name.split(' ')(0).toLowerCase} grade ${Noun(field).toLowerCase}"
        if (surface != c.name && surface != c.altLabels.head) fieldMap += surface -> c.name
        plant(surface)
      }
      if (r.nextDouble() < 0.3) {
        val junk = s"${Words(r.nextInt(Words.size))} ${Words(r.nextInt(Words.size))} widget"
        fieldMap += junk -> null
        plant(junk)
      }
      expected += field -> chosen.map(_.name).toSet
      mappings += field -> fieldMap
    }
    val pages = bodies.map(b => (header ++ b ++ footer).mkString("\n")).toVector
    val repeats = Vector.fill(1 + r.nextInt(2))(pages(r.nextInt(nUnique)))
    val combined = (pages ++ repeats).zipWithIndex.map { case (body, i) =>
      Blocks.format(s"https://$etld1/page/$i", body)
    }.mkString
    Company(etld1, name, kind, combined, expected, mappings)
  }

  // ---- deferred-mode ledger -------------------------------------------

  /** A request row of the expected set; `slot` (0..999) decides which op
    * plants it as missing.
    */
  final case class Request(custom_id: String, etld1: String, field_type: String,
      body_json: String, input_tokens: Long, slot: Int)

  def baseRequests(seed: Long, companies: Int): Vector[Request] = {
    val out = Vector.newBuilder[Request]
    (0 until companies).foreach { c =>
      val r = rng(seed, 7000001L + c)
      val etld1 = s"base$c.example"
      Fields.foreach { field =>
        var start = 0
        (0 until 1 + r.nextInt(5)).foreach { _ =>
          val text = sentence(r, 30, 60)
          val end = start + text.length
          val id = s"$etld1>$field>llm_search>chunk>$start:$end"
          val body = s"""{"custom_id":"$id","body":{"model":"gpt-4o-mini","messages":""" +
            s"""[{"role":"user","content":"$text"}],"max_tokens":7500}}"""
          out += Request(id, etld1, field, body, (text.length / 4).toLong, r.nextInt(1000))
          start = end
        }
      }
    }
    out.result()
  }

  // ---- curation tables (the testdata schema) ----------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)

  final case class CurationTables(docs: Vector[Doc], embs: Vector[Emb],
      customers: Vector[Customer], clusters: Vector[Set[Long]], typoPairs: Set[(Long, Long)])

  val Langs = Vector("en", "de", "fr", "es")

  def curation(seed: Long, nDocs: Int, nClusters: Int, nEmb: Int, nCust: Int,
      nTypos: Int): CurationTables = {
    val r = rng(seed, 31)
    val texts = Array.fill(nDocs)(zipfText(r, 70, 90))
    // clusters: doc ids spread out, variants of the cluster's base text
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0 until nDocs).toVector)
    val clusters = (0 until nClusters).map { c =>
      val members = ids.slice(c * 3, c * 3 + 3)
      val base = texts(members.head)
      members.tail.foreach(m => texts(m) = variant(base, r))
      members.map(_.toLong).toSet
    }.toVector
    val docs = texts.zipWithIndex.map { case (ws, i) =>
      val t = ws.mkString(" ")
      Doc(i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", t.length.toLong)
    }.toVector
    val centers = Array.fill(16)(Array.fill(64)(r.nextDouble() * 2 - 1))
    val embs = (0 until nEmb).map { i =>
      val c = r.nextInt(16)
      val v = centers(c).map(x => x + (r.nextDouble() * 2 - 1) * 0.3)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Emb(i.toLong, v.map(x => (x / norm).toFloat), c)
    }.toVector
    def letters(n: Int) = new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    val names = Array.fill(nCust)(letters(10) + " Inc")
    val typos = (0 until nTypos).map { t =>
      val (a, b) = (2 * t, 2 * t + 1)
      val chars = names(a).toCharArray
      val p = r.nextInt(10)
      chars(p) = ('a' + (chars(p) - 'a' + 1 + r.nextInt(25)) % 26).toChar
      names(b) = new String(chars)
      (a.toLong, b.toLong)
    }.toSet
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customers = names.zipWithIndex.map { case (n, i) =>
      Customer(i.toLong, n, r.nextInt(25), (r.nextInt(1000000) - 100000) / 100.0,
        segs(r.nextInt(segs.size)))
    }.toVector
    CurationTables(docs, embs, customers, clusters, typos)
  }

  // ---- stream batches ---------------------------------------------------

  final case class StreamDoc(doc_id: Long, text: String, quality: Long, lang: String, page: String)

  /** Micro-batch `b`: ids `b * size + i`. About 8% of docs are one-word
    * variants of an earlier original (near-dup admission drops them) and
    * 5% exact copies of one (keep-best groups them); originals are never
    * variants, so near-dup clusters stay cliques.
    */
  def streamBatch(seed: Long, b: Int, size: Int): (Vector[StreamDoc], Long) = {
    var links = 0L
    val docs = (0 until size).map { i =>
      val id = b.toLong * size + i
      val r = rng(seed, 5000011L * b + i)
      val u = r.nextDouble()
      val words =
        if (id >= size && u < 0.13) {
          val src = r.nextLong(id)
          val orig = originalWords(seed, src, size)
          if (u < 0.08) variant(orig, r) else orig
        } else originalWords(seed, id, size)
      val nLinks = 1 + r.nextInt(3)
      links += nLinks
      val anchors = (0 until nLinks).map { k =>
        s"""<a href="https://host${r.nextInt(40)}.test/p$k">${Words(r.nextInt(40))} ${Words(r.nextInt(40))}</a>"""
      }.mkString(" ")
      StreamDoc(id, words.mkString(" "), r.nextInt(100).toLong, Langs(r.nextInt(Langs.size)),
        s"<html><body><p>${words.take(12).mkString(" ")}</p>$anchors</body></html>")
    }.toVector
    (docs, links)
  }

  /** The original text of doc `id` (what it would be had it not been a copy). */
  private def originalWords(seed: Long, id: Long, size: Int): Vector[String] =
    zipfText(rng(seed, 9000017L + id), 60, 90)
}
