package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.vocab.{BruteSearch, Concept}

/** Text-operator coverage over the `documents` table, each with a DuckDB
  * oracle where SQL-expressible (word-boundary regexes are limited to
  * `\b`-style patterns both engines agree on).
  */
object TextOps {

  /** Small built-in vocabulary whose labels occur in the synthetic
    * documents — exercises multi-label concepts end-to-end (SURVEY T8).
    */
  val DemoVocab: Seq[Concept] = Seq(
    Concept("demo", "SparkCompute", "urn:demo/spark", Seq("spark"), Nil),
    Concept("demo", "JoinOps", "urn:demo/join", Seq("join", "merge"), Nil),
    Concept("demo", "Filtering", "urn:demo/filter", Seq("filter", "scan"), Nil),
    Concept("demo", "Windowing", "urn:demo/window", Seq("window"), Nil))

  /** `documents.parquet` is one row group per SF locally, so the scan
    * yields 1 task no matter the core count; spread CPU-heavy per-doc
    * work across the cluster. At real scale the table is many files and
    * this becomes a no-op-ish round robin. (Shared with the curation
    * query set.)
    */
  private[queries] def docsParallel(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Content-keyed on-disk WARC crawl-store fixture shared by the warc
    * SOURCE gates (q179/q188): one `host=<source>.ex.test` directory
    * per source, one multi-record segment per host, q136's record
    * derivation (every 17th payload embeds the version-line trap).
    * Built once per testdata content (xxhash64 key + `_READY` marker,
    * so regenerated testdata can never collide with a stale store);
    * the ≤20-segment write is a bounded driver-side fixture build, not
    * a data path. Returns the store root.
    */
  private def warcStoreFixture(s: SparkSession, dir: String): String = {
    import s.implicits._
    val docs = docsParallel(s, dir)
    val payload = when($"doc_id" % 17 === 0,
      concat(lit("WARC/1.0\r\n"), $"text")).otherwise($"text")
    val fp = docs.agg(expr("bit_xor(xxhash64(doc_id, text, source))"))
      .head.getLong(0)
    val root = new java.io.File(
      s"/tmp/graft_warc_store_${java.lang.Long.toHexString(fp)}")
    val ready = new java.io.File(root, "_READY")
    if (!ready.exists()) {
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://"),
        $"source", lit(".ex.test/doc/"), $"doc_id",
        lit("\r\nWARC-Date: 2026-08-15T00:00:00Z\r\nContent-Length: "),
        octet_length(payload), lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val segs = docs.select($"source", $"doc_id", rec.as("rec"))
        .groupBy($"source")
        .agg(array_join(
          transform(array_sort(collect_list(struct($"doc_id", $"rec"))),
            x => x.getField("rec")), "").as("blob"))
        .collect()
      segs.foreach { r =>
        val d = new java.io.File(root, s"host=${r.getString(0)}.ex.test")
        d.mkdirs()
        java.nio.file.Files.write(
          new java.io.File(d, "segment.warc").toPath,
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      java.nio.file.Files.write(ready.toPath, Array.emptyByteArray)
    }
    root.toString
  }

  /** q149's encoding-damage artifacts — ONE Scala constant interpolated
    * into BOTH the Spark `lit` and the oracle SQL, so the two engines
    * provably see identical characters. Moj1: "café naïve" shipped as
    * UTF-8 read back as Latin-1 (Ã-bigrams). Moj2: a U+FFFD
    * replacement char. Moj3: a C1 control (U+0085 NEL).
    */
  /** q148/q153 page synthesis: absolute links (host varies by doc), a
    * relative link, a fragment-only href, a mailto, an UPPERCASE
    * tag/scheme trap — shared by the edge gate and its in-degree
    * rollup.
    */
  private def linkedPages(s: SparkSession, dir: String) = {
    import s.implicits._
    val page = concat(
      lit("<html><body><p>"), $"text",
      lit("</p><a href=\"https://ex"), ($"doc_id" % 5).cast("string"),
      lit(".test/p/"), $"doc_id", lit("\">x</a>"),
      when($"doc_id" % 3 === 0,
        lit("<a class=\"nav\" href=\"/local/page\">rel</a>")).otherwise(lit("")),
      when($"doc_id" % 4 === 0,
        lit("<a href=\"#top\">top</a>")).otherwise(lit("")),
      when($"doc_id" % 7 === 0,
        lit("<a href=\"mailto:a@b.test\">m</a>")).otherwise(lit("")),
      when($"doc_id" % 6 === 0,
        concat(lit("<A HREF=\"HTTP://UP"), ($"doc_id" % 2).cast("string"),
          lit(".TEST/x\">c</A>"))).otherwise(lit("")),
      // attribute merely ENDING in href — not an edge (boundary pin)
      when($"doc_id" % 9 === 0,
        lit("<a data-href=\"/decoy\">d</a>")).otherwise(lit("")),
      lit("</body></html>"))
    docsParallel(s, dir).select($"doc_id", page.as("page"))
  }

  /** q165 PageRank rounds — 3 keeps the oracle unroll compact while
    * the dangling share (all targets are sinks in the q148 graph)
    * flows through every round.
    */
  private val PrIters = 3

  /** q169 HITS rounds — 2 lets hub scores see authority structure
    * (round 1's authorities feed round 2's hubs) while keeping the
    * oracle unroll compact.
    */
  private val HitsIters = 2

  /** The q165/q169 host graph: q148's extracted external edges keyed
    * by the linking doc's own host, weights = link multiplicity;
    * nodes = both endpoints (every ex/up target is a sink).
    */
  private def hostGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    // materialized once: PageRank/Hits consume the edge frame AND the
    // node frame (derived from it) across several eager lineage cuts —
    // left lazy, every cut re-runs the outlink extraction (r13
    // measurement: the extraction executed 6× per q165 invocation).
    // Size bound for the localCheckpoint (executor-local, not fault
    // tolerant): this is the HOST graph — the groupBy collapses the
    // per-page outlinks to one row per (src host, dst host), bounded
    // by |hosts|² in theory and by the web's host-level link graph in
    // practice (~10⁸ rows at full crawl scale, ~GBs), not by corpus
    // bytes. If an executor is lost mid-query the query fails and
    // re-runs — acceptable for a frame this size; a corpus-scale frame
    // would want spark.checkpoint.dir instead.
    val edges = graft.textops.TextAnalysis.outlinkEdges(
        linkedPages(s, dir), "doc_id", "page")
      .filter($"host".isNotNull)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"source".as("src"), $"host".as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val nodes = edges.select($"src".as("host"))
      .union(edges.select($"dst")).distinct()
    (nodes, edges)
  }

  /** The q165/q169 oracle edge relation over [[OutlinkCte]]'s `h`. */
  private val HostEdgesCte =
    """pr_edges AS (
      |  SELECT d.source AS src, h.host AS dst, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM h JOIN documents d USING (doc_id)
      |  WHERE h.host IS NOT NULL
      |  GROUP BY 1, 2),
      |pr_nodes AS (SELECT src AS host FROM pr_edges UNION SELECT dst FROM pr_edges)""".stripMargin

  /** Generates the q169 round unroll, mirroring
    * [[graft.graph.Hits.scores]] exactly: per half-step, raw sums
    * `Σ w·s` over the incoming (authority) or outgoing (hub) side,
    * then MAX-normalization `(raw · scale) // max(raw, 1)` over the
    * full node set. SUMs CAST to BIGINT; `//` ≡ `div` on positives.
    */
  private def hitsRounds(iters: Int, scale: Long): String =
    (1 to iters).map { i =>
      s"""a${i}r AS (
         |  SELECT e.dst AS node, CAST(SUM(e.w * s.s) AS BIGINT) AS raw
         |  FROM pr_edges e JOIN h${i - 1} s ON e.src = s.node GROUP BY 1),
         |a${i}m AS (SELECT greatest(MAX(raw), 1) AS mx FROM a${i}r),
         |a$i AS (
         |  SELECT n.host AS node,
         |         CAST((COALESCE(r.raw, 0) * $scale) // m.mx AS BIGINT) AS s
         |  FROM pr_nodes n LEFT JOIN a${i}r r ON n.host = r.node
         |  CROSS JOIN a${i}m m),
         |h${i}r AS (
         |  SELECT e.src AS node, CAST(SUM(e.w * s.s) AS BIGINT) AS raw
         |  FROM pr_edges e JOIN a$i s ON e.dst = s.node GROUP BY 1),
         |h${i}m AS (SELECT greatest(MAX(raw), 1) AS mx FROM h${i}r),
         |h$i AS (
         |  SELECT n.host AS node,
         |         CAST((COALESCE(r.raw, 0) * $scale) // m.mx AS BIGINT) AS s
         |  FROM pr_nodes n LEFT JOIN h${i}r r ON n.host = r.node
         |  CROSS JOIN h${i}m m)""".stripMargin
    }.mkString(",\n")

  /** Generates the q165 round unroll, mirroring
    * [[graft.graph.PageRank.ranks]]'s redistributed-dangling step
    * exactly in scale-10^12 integer fixed point: per round, edge
    * contributions `(rank·w) // tw` sum per target, the dangling mass
    * (nodes absent from `pr_tw`) splits `// nn.n` ways, and
    * `rank' = base + ((Σ + share)·85) // 100` with
    * base = 10^12·15 // 100. Every SUM CASTs to BIGINT (the q155
    * HUGEINT lesson); all values positive, so `//` (floor) ≡ Spark
    * `div` (truncate).
    */
  private def pagerankRounds(iters: Int): String =
    (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS host, CAST(SUM((r.rank * e.w) // t.tw) AS BIGINT) AS s
         |  FROM pr_edges e
         |  JOIN pr_tw t ON e.src = t.src
         |  JOIN r${i - 1} r ON r.host = e.src
         |  GROUP BY e.dst),
         |d$i AS (
         |  SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
         |  FROM r${i - 1} r LEFT JOIN pr_tw t ON r.host = t.src
         |  WHERE t.src IS NULL),
         |r$i AS (
         |  SELECT n.host,
         |         CAST(150000000000 + ((COALESCE(s.s, 0) + d$i.dmass // nn.n) * 85) // 100 AS BIGINT) AS rank
         |  FROM pr_nodes n
         |  LEFT JOIN s$i s ON n.host = s.host
         |  CROSS JOIN d$i CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")

  /** q164 page synthesis — anchors exercising every extraction class:
    * trim+lower normalization, same-host second opinions, text-free
    * kept, child-tag skipped-by-the-anchor-pass, relative/external
    * split, and the q148 non-edge traps.
    */
  private def anchorPages(s: SparkSession, dir: String) = {
    import s.implicits._
    val page = concat(
      lit("<p>"), $"text", lit("</p>"),
      lit("<a href=\"https://t"), ($"doc_id" % 6).cast("string"),
      lit(".test/p/"), ($"doc_id" % 40).cast("string"),
      lit("\"> Read In "), upper($"lang"), lit(" </a>"),
      when($"doc_id" % 3 === 0,
        concat(lit("<a rel=\"nofollow\" href=\"https://t"),
          ($"doc_id" % 6).cast("string"),
          lit(".test/p/"), ($"doc_id" % 40).cast("string"),
          lit("\">Click HERE</a>"))).otherwise(lit("")),
      when($"doc_id" % 4 === 0,
        lit("<a href=\"https://t0.test/banner\"></a>")).otherwise(lit("")),
      when($"doc_id" % 5 === 0,
        lit("<a href=\"https://t1.test/img\"><b>x</b></a>")).otherwise(lit("")),
      when($"doc_id" % 7 === 0,
        lit("<a href=\"/local\">home</a>")).otherwise(lit("")),
      when($"doc_id" % 8 === 0, lit("<a href=\"#x\">top</a>")).otherwise(lit("")),
      when($"doc_id" % 9 === 0,
        lit("<a href=\"mailto:a@b.test\">mail</a>")).otherwise(lit("")),
      when($"doc_id" % 11 === 0,
        lit("<a data-href=\"/decoy\">d</a>")).otherwise(lit("")))
    docsParallel(s, dir).select($"doc_id", page.as("page"))
  }

  /** Generates the q167 pointer-doubling unroll — one MATERIALIZED
    * self-composition per round (`f_{k+1}(x) = f_k(f_k(x))`, hop
    * counts summing through), mirroring
    * [[graft.graph.Redirects.resolve]] exactly. Plain `+` on BIGINTs
    * (no SUM — no HUGEINT surface).
    */
  private def redirectRounds(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
         |         a.hops + COALESCE(b.hops, 0) AS hops
         |  FROM f${i - 1} a LEFT JOIN f${i - 1} b ON a.dst = b.src)""".stripMargin
    }.mkString(",\n")

  /** The q148/q153 oracle edge relation — the [[linkedPages]] template
    * and the engine's drop/classify rules, mirrored once.
    */
  private val OutlinkCte =
    """WITH aug AS (
      |  SELECT doc_id,
      |    '<html><body><p>' || text || '</p><a href="https://ex' || CAST(doc_id % 5 AS VARCHAR) || '.test/p/' || doc_id || '">x</a>' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '<a class="nav" href="/local/page">rel</a>' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN '<a href="#top">top</a>' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '<a href="mailto:a@b.test">m</a>' ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0 THEN '<A HREF="HTTP://UP' || CAST(doc_id % 2 AS VARCHAR) || '.TEST/x">c</A>' ELSE '' END ||
      |    CASE WHEN doc_id % 9 = 0 THEN '<a data-href="/decoy">d</a>' ELSE '' END ||
      |    '</body></html>' AS page
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, unnest(regexp_extract_all(page, '(?is)<a\s(?:[^>]*?\s)?href="([^"#]*)', 1)) AS href
      |  FROM aug),
      |f AS (
      |  SELECT doc_id, href FROM e
      |  WHERE length(href) > 0 AND NOT regexp_matches(lower(href), '^(mailto|javascript):')),
      |h AS (
      |  SELECT doc_id, href,
      |         CASE WHEN regexp_matches(href, '(?i)^https?://')
      |              THEN lower(regexp_extract(href, '(?i)^https?://([^/]+)', 1)) END AS host
      |  FROM f)""".stripMargin

  /** q155/q156 shape: universe 2^12 (per-doc word counts clamp there),
    * k = 32 → threshold n/32, digest O(k·L).
    */
  private val QdLogU = 12
  private val QdK = 32
  private val QdTwentieths = Seq(1, 5, 10, 15, 19)

  /** Generates the q-digest CTE chain: clamped word-count leaves at
    * depth L, threshold `n // k`, then one generated (family, fold)
    * CTE pair per level mirroring [[graft.sketch.QDigest.compress]]'s
    * level loop exactly — families are disjoint within a level, so the
    * relational form and the Scala loop provably agree. Ends with
    * `n0` = the digest node map and `geo` = nodes with their ranges
    * (depth via generated integer CASE — no log2, the libm ban).
    *
    * VERSION-PORTABILITY (the r9 driver-red lesson): the first cut of
    * this chain stacked a FULL JOIN plus correlated scalar subqueries
    * `(SELECT t FROM th)` per level — exactly the SQL surface DuckDB
    * releases keep reworking, and the driver's DuckDB evaluated it
    * differently from the judge's (rows/schema matched, hash didn't).
    * This form uses only the boring core that every version plans the
    * same way: each family CTE is UNION ALL + GROUP BY (parents
    * contribute `(pid, cnt, 0)`, children `(id//2, 0, cnt)`), the
    * threshold CROSS JOINs in once per pass, and every SUM-derived
    * value CASTs back to BIGINT (DuckDB types SUM as HUGEINT, which
    * some client versions fetch as float — '123.0' vs '123' in the
    * driver's canonicalizer).
    */
  private def qdigestCte(logU: Int, k: Int): String = {
    val u = 1L << logU
    val passes = (logU to 1 by -1).map { d =>
      val loP = 1L << (d - 1)
      val loC = 1L << d
      val hiC = 1L << (d + 1)
      s"""f$d AS MATERIALIZED (
         |  SELECT pid, CAST(SUM(pcnt) AS BIGINT) AS pcnt,
         |         CAST(SUM(ccnt) AS BIGINT) AS ccnt
         |  FROM (
         |    SELECT id AS pid, cnt AS pcnt, CAST(0 AS BIGINT) AS ccnt
         |    FROM n$d WHERE id >= $loP AND id < $loC
         |    UNION ALL
         |    SELECT id // 2 AS pid, CAST(0 AS BIGINT) AS pcnt, cnt AS ccnt
         |    FROM n$d WHERE id >= $loC AND id < $hiC)
         |  GROUP BY pid),
         |n${d - 1} AS MATERIALIZED (
         |  SELECT id, cnt FROM n$d WHERE id < $loP OR id >= $hiC
         |  UNION ALL
         |  SELECT nd.id, nd.cnt
         |  FROM n$d nd JOIN f$d f ON nd.id // 2 = f.pid CROSS JOIN th
         |  WHERE nd.id >= $loC AND nd.id < $hiC AND f.pcnt + f.ccnt > th.t
         |  UNION ALL
         |  SELECT f.pid AS id,
         |         CASE WHEN f.pcnt + f.ccnt <= th.t
         |              THEN f.pcnt + f.ccnt ELSE f.pcnt END AS cnt
         |  FROM f$d f CROSS JOIN th
         |  WHERE CASE WHEN f.pcnt + f.ccnt <= th.t
         |             THEN f.pcnt + f.ccnt ELSE f.pcnt END > 0)""".stripMargin
    }.mkString(",\n")
    val loCase = (logU to 0 by -1).map { d =>
      val base = 1L << d
      val width = u >> d
      s"WHEN id >= $base THEN (id - $base) * $width"
    }.mkString(" ", "\n         ", "")
    val hiCase = (logU to 0 by -1).map { d =>
      val base = 1L << d
      val width = u >> d
      s"WHEN id >= $base THEN (id - $base) * $width + $width"
    }.mkString(" ", "\n         ", "")
    s"""WITH vals AS (
       |  SELECT least(greatest(CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0)) AS BIGINT), 0), ${u - 1}) AS v
       |  FROM documents),
       |n$logU AS MATERIALIZED (SELECT $u + v AS id, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY 1),
       |th AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) // $k AS t,
       |                           CAST(SUM(cnt) AS BIGINT) AS n FROM n$logU),
       |$passes,
       |geo AS (
       |  SELECT id, cnt,
       |    CASE$loCase END AS lo,
       |    CASE$hiCase END AS hi
       |  FROM n0)""".stripMargin
  }

  /** q160: the grouped (per-host) twin of [[qdigestCte]] — the same
    * UNION ALL + GROUP BY family folds and BIGINT casts (the r10
    * portability form), with the group key `g` threaded through every
    * CTE: leaves group by `(g, v)`, the threshold is per-group
    * (`n_g // k`), the fold join keys on `(g, id//2)`, and the
    * threshold joins back ON g instead of a CROSS JOIN. `valsSql`
    * must emit `(g, v)` rows.
    */
  private def qdigestCteGrouped(logU: Int, k: Int, valsSql: String): String = {
    val u = 1L << logU
    val passes = (logU to 1 by -1).map { d =>
      val loP = 1L << (d - 1)
      val loC = 1L << d
      val hiC = 1L << (d + 1)
      s"""f$d AS MATERIALIZED (
         |  SELECT g, pid, CAST(SUM(pcnt) AS BIGINT) AS pcnt,
         |         CAST(SUM(ccnt) AS BIGINT) AS ccnt
         |  FROM (
         |    SELECT g, id AS pid, cnt AS pcnt, CAST(0 AS BIGINT) AS ccnt
         |    FROM n$d WHERE id >= $loP AND id < $loC
         |    UNION ALL
         |    SELECT g, id // 2 AS pid, CAST(0 AS BIGINT) AS pcnt, cnt AS ccnt
         |    FROM n$d WHERE id >= $loC AND id < $hiC)
         |  GROUP BY g, pid),
         |n${d - 1} AS MATERIALIZED (
         |  SELECT g, id, cnt FROM n$d WHERE id < $loP OR id >= $hiC
         |  UNION ALL
         |  SELECT nd.g, nd.id, nd.cnt
         |  FROM n$d nd
         |    JOIN f$d f ON nd.g = f.g AND nd.id // 2 = f.pid
         |    JOIN th ON th.g = nd.g
         |  WHERE nd.id >= $loC AND nd.id < $hiC AND f.pcnt + f.ccnt > th.t
         |  UNION ALL
         |  SELECT f.g, f.pid AS id,
         |         CASE WHEN f.pcnt + f.ccnt <= th.t
         |              THEN f.pcnt + f.ccnt ELSE f.pcnt END AS cnt
         |  FROM f$d f JOIN th ON th.g = f.g
         |  WHERE CASE WHEN f.pcnt + f.ccnt <= th.t
         |             THEN f.pcnt + f.ccnt ELSE f.pcnt END > 0)""".stripMargin
    }.mkString(",\n")
    val loCase = (logU to 0 by -1).map { d =>
      val base = 1L << d
      val width = u >> d
      s"WHEN id >= $base THEN (id - $base) * $width"
    }.mkString(" ", "\n         ", "")
    val hiCase = (logU to 0 by -1).map { d =>
      val base = 1L << d
      val width = u >> d
      s"WHEN id >= $base THEN (id - $base) * $width + $width"
    }.mkString(" ", "\n         ", "")
    s"""WITH vals AS ($valsSql),
       |cl AS (SELECT g, least(greatest(v, 0), ${u - 1}) AS v FROM vals),
       |n$logU AS MATERIALIZED (
       |  SELECT g, $u + v AS id, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM cl GROUP BY 1, 2),
       |th AS MATERIALIZED (
       |  SELECT g, CAST(SUM(cnt) AS BIGINT) // $k AS t,
       |         CAST(SUM(cnt) AS BIGINT) AS n
       |  FROM n$logU GROUP BY g),
       |$passes,
       |geo AS (
       |  SELECT g, id, cnt,
       |    CASE$loCase END AS lo,
       |    CASE$hiCase END AS hi
       |  FROM n0)""".stripMargin
  }

  /** q160 fixture: synthetic per-doc fetch latency, integer-exact and
    * identical on both engines (multiply/add/mod over doc_id and the
    * text's char length).
    */
  private val QdLatLogU = 11
  private val QdLatValsSql =
    "SELECT source AS g, CAST((doc_id * 1009 + length(text)) % 2048 AS BIGINT) AS v FROM documents"

  private val Moj1 = " cafÃ© naÃ¯ve"
  private val Moj2 = " bad�char"
  private val Moj3 = " xy"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- brute vocabulary search (SURVEY T8): single-pass multi-label
    // word-boundary matcher over every document.
    "q15_brute_vocab_search" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      BruteSearch.searchColumn(docs, "text", DemoVocab, "concepts")
        .select($"doc_id", explode($"concepts").as("concept"))
        .orderBy($"doc_id", $"concept")
    },

    // ---- exact n-gram Jaccard near-dup pairs (training-data dedup; the
    // exhaustive oracle for the MinHash/SimHash approximations).
    "q16_ngram_jaccard_pairs" -> { (s, dir) =>
      import s.implicits._
      graft.textops.NearDup.jaccardPairs(
        docsParallel(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy($"id_a", $"id_b")
    },

    // ---- normalization-robust exact dedup: q11's hash-groupBy over
    // the dedup KEY (lowercase, digit-fold, punctuation-strip,
    // whitespace-collapse — Lee et al. 2022's preprocessing), so
    // trivially-edited duplicates (casing, dates, punctuation) collide
    // where raw-text hashing misses them.
    "q81_normalized_dedup" -> { (s, dir) =>
      import s.implicits._
      docsParallel(s, dir)
        .groupBy(graft.textops.TextTokens.dedupKeyCol($"text").as("k"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
        .select($"keep_id", $"dup_count")
        .orderBy($"keep_id")
    },

    // ---- q81 through the OPTIMIZER RULE path: the query is authored
    // with the documented three-pass regexp_replace chain (the form
    // any SQL/DataFrame user writes from the docs, and the exact form
    // the DuckDB oracle mirrors), and graft.plans.DedupKeyFuse —
    // installed imperatively here, injected via spark.sql.extensions
    // in production — rewrites it to the fused single-scan codegen
    // expression at plan time (PlanCheck: `graft_dedup_key` present,
    // `regexp_replace` absent). Same relation as q81, arrived at from
    // the user-authored plan instead of the engine-native one.
    // NOTE: install() mutates the session's extraOptimizations, so
    // any later chain-authored query in the same session also fuses —
    // the intended production behavior.
    "q186_dedup_fuse_rule" -> { (s, dir) =>
      import s.implicits._
      graft.GraftExtensions.install(s)
      docsParallel(s, dir)
        .groupBy(graft.textops.TextTokens.dedupKeyRegexCol($"text").as("k"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
        .select($"keep_id", $"dup_count")
        .orderBy($"keep_id")
    },

    // ---- chunk-explode × vocab-match through the SECOND optimizer
    // rule (SURVEY §4's named candidate, VERDICT-r12 item 4): the
    // query is AUTHORED as `graft_chunks` → `explode` →
    // `graft_vocab_match(chunk.text)` — the user-facing composition —
    // and graft.plans.VocabBelowExplode rewrites it to ONE line-grain
    // span scan per document below the Generate plus a per-chunk
    // span-range slice above it (PlanCheck: `graft_vocab_spans` +
    // `graft_vocab_slice` present, `graft_vocab_match` absent). The
    // oracle mirrors the chunking exactly because the input is
    // normalized to one WORD per line (whitespace → newline), so
    // soft-limit-8 chunks are exactly 8-line groups with closed-form
    // offsets; the corpus is lowercase ASCII words, so a label
    // matches a chunk iff it equals one of its words.
    "q190_vocab_below_explode" -> { (s, dir) =>
      import s.implicits._
      graft.GraftExtensions.install(s)
      val labels = Seq("spark", "join", "merge", "filter", "scan", "window")
      val arr = labels.map(l => s"'$l'").mkString("array(", ",", ")")
      docsParallel(s, dir)
        .where(length(trim($"text")) > 0)
        .select($"doc_id",
          expr("regexp_replace(trim(text), '\\\\s+', chr(10))").as("t"))
        .select($"doc_id",
          explode(expr("graft_chunks(t, 8, cast(0 as double), -1)")).as("chunk"))
        .select($"doc_id",
          $"chunk.chunk_start".as("chunk_start"),
          $"chunk.chunk_end".as("chunk_end"),
          $"chunk.tokens".cast("long").as("n_tokens"),
          expr(s"array_join(graft_vocab_match(chunk.text, $arr, $arr), ',')")
            .as("concepts"))
        .orderBy($"doc_id", $"chunk_start")
    },

    // ---- soft dedup (SoftDedup, She et al. ACL 2024): reweight
    // instead of drop — per-doc sampling weight inversely proportional
    // to the mean corpus df of its distinct shingles. Near-duplicates
    // (the fixture's prefix-sharing docs) get graded down-weights that
    // hard dedup collapses to a binary. The gate is ALL-LONG by
    // construction (r10): both ratios emit as scaled-integer e9
    // columns via 64-bit integer division (Spark `div` / DuckDB `//`)
    // — the r8 round(x,9) doubles stayed driver-red because
    // ROUND(DOUBLE,9) is itself DuckDB-version-dependent.
    "q89_soft_dedup_weights" -> { (s, dir) =>
      import s.implicits._
      graft.textops.CurationOps.softDedupWeights(
        docsParallel(s, dir), "doc_id", "text", n = 3)
        .orderBy($"doc_id")
    },

    // ---- directional containment pairs: |S_A ∩ S_B| / |S_A| — the
    // asymmetric detector for small-doc-copied-into-big-doc
    // duplication that Jaccard's symmetric denominator hides. Hot
    // shingles (df > cap) are dropped from the join on both engines.
    "q80_containment_pairs" -> { (s, dir) =>
      import s.implicits._
      graft.textops.NearDup.containmentPairs(
        docsParallel(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, maxPostings = ContainCap)
        .orderBy($"id_a", $"id_b")
    },

    // ---- MinHash+LSH near-dup pairs with exact verification: the 100 TB
    // scale path (oracled: the seeded hash family is plain integer
    // arithmetic mirrored into DuckDB SQL; recall vs q16 additionally
    // asserted in NearDupSpec). FORCED distributed (driver gate at 0,
    // like q84's CC): the gate corpus fits the driver gate, which
    // q35/q70/q84/q173 take, so this gate keeps the distributed plan
    // under the oracle and its plan contract.
    "q17_minhash_lsh_pairs" -> { (s, dir) =>
      import s.implicits._
      graft.textops.NearDup.minhashLshPairsGated(
        docsParallel(s, dir), "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        limit = 0L, pairLimit = graft.util.DriverGate.PairWorkLimit)
        .orderBy($"id_a", $"id_b")
    },

    // ---- SimHash near-dup pairs (oracled like q17).
    "q18_simhash_pairs" -> { (s, dir) =>
      import s.implicits._
      graft.textops.NearDup.simhashPairs(
        docsParallel(s, dir), "doc_id", "text", n = 3, maxDistance = 3)
        .orderBy($"id_a", $"id_b")
    },

    // ---- text quality features + score (pre-training filter signals).
    "q19_text_quality" -> { (s, dir) =>
      import s.implicits._
      val feats = graft.textops.TextAnalysis.qualityFeatures(
        docsParallel(s, dir), "text")
      feats.select($"doc_id", $"n_chars", $"n_words", $"avg_word_len",
          $"distinct_ratio", $"stopword_hits",
          graft.textops.TextAnalysis.qualityScore($"n_words", $"distinct_ratio").as("quality"))
        .orderBy($"doc_id")
    },

    // ---- language ID via stopword-profile argmax.
    "q20_lang_id" -> { (s, dir) =>
      import s.implicits._
      docsParallel(s, dir)
        .select($"doc_id", graft.textops.TextAnalysis.langIdCol($"text").as("lang_pred"))
        .orderBy($"doc_id")
    },

    // ---- document fingerprint: min-MD5 over word trigram shingles
    // (a 1-perm MinHash — SQL-expressible because both engines share md5).
    "q21_doc_fingerprint" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      docs.select($"doc_id",
          explode(graft.textops.NearDup.shinglesCol($"text", 3)).as("shingle"))
        .groupBy($"doc_id").agg(min(md5($"shingle")).as("fingerprint"))
        .orderBy($"doc_id")
    },

    // ---- inverted index: term → sorted postings list, bounded to the
    // useful document-frequency band as a FRACTION of the corpus (scale
    // -stable: ≥1% of docs drops hapax noise, ≤90% drops stopword-scale
    // terms whose postings would be one giant skewed row — a production
    // layout shards those into delta-encoded blocks). Integer-exact
    // band arithmetic; distinct (doc, term) first (map-side combined),
    // then one ordered collect per term. Postings ship as a comma-joined
    // string (sorted numerically BEFORE stringifying) — the gate harness
    // hashes flat cells, not nested arrays.
    "q62_inverted_index" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val n = docs.select(countDistinct($"doc_id").as("n_docs"))
      docs
        .select($"doc_id", explode(graft.textops.TextTokens.wordsCol($"text")).as("term"))
        .distinct()
        .groupBy($"term")
        .agg(count(lit(1)).as("df"),
             array_join(transform(sort_array(collect_set($"doc_id")), _.cast("string")), ",")
               .as("postings"))
        .join(broadcast(n))
        .filter($"df" * 100 >= $"n_docs" && $"df" * 10 <= $"n_docs" * 9)
        .select($"term", $"df", $"postings")
        .orderBy($"term")
    },

    // ---- corpus-wide heavy-hitter trigrams: the n-gram frequency
    // table contamination checks and LM smoothing start from. Partial
    // map-side counts + one global top-k — the count shuffle moves
    // distinct trigrams, the final sort only k rows
    // (TakeOrderedAndProject, plan-asserted). Docs under 3 words are
    // EXCLUDED: shinglesCol's whole-text fallback is a fingerprinting
    // rule, and letting it leak one-word docs into a frequency table
    // would report unigrams as top "trigrams".
    "q59_top_ngrams" -> { (s, dir) =>
      import s.implicits._
      docsParallel(s, dir)
        .filter(size(graft.textops.TextTokens.wordsCol($"text")) >= 3)
        .select(explode(graft.textops.NearDup.shinglesCol($"text", 3)).as("trigram"))
        .groupBy($"trigram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"trigram".asc)
        .limit(20)
    },

    // ---- support-threshold heavy hitters via the BOUNDED-MEMORY
    // two-pass plan (per-partition Misra-Gries candidates + exact
    // verify of the bounded candidate set): unlike q59's full groupBy,
    // the shuffle never carries the complete type table — the 100 TB
    // shape for "which items exceed φ of the corpus". Output is EXACT
    // (the sketch only widens candidates; pass 2 restores true counts),
    // so the oracle is the plain HAVING query. Support in integer ppm —
    // no float threshold channel.
    "q108_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir)
        .select(explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      graft.textops.HeavyHitters.heavyHitters(toks, "word",
          supportPpm = HhSupportPpm, capacity = HhCapacity)
        .orderBy($"cnt".desc, $"item".asc)
    },

    // ---- Count-Min sketch TABLE (Cormode & Muthukrishnan 2005): the
    // depth×width counter summary of the corpus word stream — every
    // cell an integer derived from the shared salted 60-bit md5, so
    // the driver hash-compares the SKETCH ITSELF against the oracle
    // (not an error envelope). Shuffle keys ≤ depth·width regardless
    // of corpus size — the mergeable-summary 100 TB shape.
    "q118_cms_sketch" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir)
        .select(explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      graft.sketch.Sketches.cmsTable(toks, "word", CmsDepth, CmsWidth)
        .orderBy($"sk_row", $"bucket")
    },

    // ---- q-digest over per-doc word counts (the QUANTILE member of
    // the mergeable-sketch family): distributed universe-bounded leaf
    // groupBy, level-by-level family fold unrolled in the oracle —
    // the driver hash-compares the DIGEST ITSELF (all-integer nodes).
    "q155_qdigest" -> { (s, dir) =>
      import s.implicits._
      graft.sketch.QDigest.digestTable(
          docsParallel(s, dir),
          graft.textops.TextAnalysis.wordCountCol($"text"), QdLogU, QdK)
        .orderBy($"id")
    },

    // ---- q-digest rank queries at twentieth quantiles — integer
    // ranks (the q106 /20 discipline), the canonical
    // (hi asc, lo desc) walk; exact integers end-to-end.
    "q156_qdigest_quantiles" -> { (s, dir) =>
      import s.implicits._
      graft.sketch.QDigest.quantilesTable(
          docsParallel(s, dir),
          graft.textops.TextAnalysis.wordCountCol($"text"), QdLogU, QdK,
          QdTwentieths)
        .orderBy($"twentieths")
    },

    // ---- the digest ACTING on the pipeline (q155/q156 exist for
    // this): the p10 word-count floor read off the corpus q-digest
    // becomes a per-doc admission flag — a length filter whose
    // threshold is data-derived and sketch-cheap instead of
    // hand-tuned. The digest walk is control-plane (universe ≤ 2^12);
    // the admission pass is per-row math against one broadcast value.
    "q175_digest_length_floor" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val wc = graft.textops.TextAnalysis.wordCountCol($"text")
      val floorValue = graft.sketch.QDigest.quantilesTable(
          docs, wc, QdLogU, QdK, Seq(2))
        .select($"value").as[Long].head()
      docs.select($"doc_id", wc.cast("long").as("n_words"))
        .withColumn("floor_value", lit(floorValue))
        .withColumn("admitted", ($"n_words" >= lit(floorValue)).cast("int"))
        .orderBy($"doc_id")
    },

    // ---- per-HOST q-digest latency panel (q155's grouped twin, r9
    // VERDICT #8): one digest per host over synthetic fetch
    // latencies, each compressed at its own n_g/k threshold — the
    // crawl-ops shape (per-host p99 fetch latency / response size
    // without a per-host sort). Engine: map-side-combined
    // (host, leaf) count → flatMapGroups compression, NO driver
    // collect (hosts are unbounded at 100 TB where the global
    // digest's universe is not). Oracle: the grouped CTE chain with
    // the same UNION ALL + GROUP BY folds, threshold joined ON g.
    "q160_qdigest_by_host" -> { (s, dir) =>
      import s.implicits._
      graft.sketch.QDigest.digestByGroup(
          docsParallel(s, dir), $"source",
          ($"doc_id" * 1009 + length($"text")) % 2048, QdLatLogU, QdK)
        .withColumnRenamed("group", "host")
        .orderBy($"host", $"id")
    },

    // ---- Count-Min point estimates end-to-end: the 50 first distinct
    // words probed against the q118 sketch next to their exact counts
    // — `cms_est ≥ exact_cnt` with the overcount being collisions both
    // engines reproduce identically. The sketch broadcasts; the probe
    // set is bounded (TakeOrdered).
    "q119_cms_estimates" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir)
        .select(explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      val sketch = graft.sketch.Sketches.cmsTable(toks, "word", CmsDepth, CmsWidth)
      val probes = toks.groupBy($"word".as("item"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy($"item".asc).limit(50)
      graft.sketch.Sketches.cmsEstimates(probes, "item", sketch, CmsDepth, CmsWidth)
        .join(probes, Seq("item"))
        .select($"item", $"exact_cnt", $"cms_est")
        .orderBy($"item")
    },

    // ---- HyperLogLog register table (Flajolet et al. 2007), hand-
    // rolled on the shared hash so every register is cross-engine
    // exact (unlike the opaque DataSketches blobs behind
    // StreamDistinctCount): idx = top-p hash bits, r = max
    // leading-zero rank. Max-merge ⇒ duplicate- and replay-
    // insensitive; one map-side-combined aggregate over 2^p keys.
    "q120_hll_registers" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir)
        .select(explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      graft.sketch.Sketches.hllRegisters(toks, "word", HllP)
        .orderBy($"idx")
    },

    // ---- the HLL estimator over q120's registers: exact-integer
    // harmonic numerator z_int (absent registers reinstated at rank
    // 0), zero-register count, and the raw Flajolet estimate as ONE
    // fixed-order IEEE expression — the only float in the gate,
    // bit-identical across engines (no ln: the small-range correction
    // is spec-verified, not gated).
    "q121_hll_estimate" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir)
        .select(explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      graft.sketch.Sketches.hllEstimate(
        graft.sketch.Sketches.hllRegisters(toks, "word", HllP), HllP)
    },

    // ---- per-group HLL registers (q120 one level down: distinct
    // words per language — the per-domain distinct-URL telemetry
    // shape): one map-side-combined max over groups × 2^p keys.
    "q124_hll_grouped" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir).select($"lang",
        explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      graft.sketch.Sketches.hllRegistersByGroup(toks, "lang", "word", HllP)
        .select($"grp".as("lang"), $"idx", $"r")
        .orderBy($"lang", $"idx")
    },

    // ---- CMS inner product (corpus frequency-vector overlap without
    // joining the corpora): the two corpus halves sketched separately,
    // the estimate min_i Σ_b a·b next to the exact inner product —
    // est ≥ true with identical collision surplus in both engines.
    "q125_cms_inner_product" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir).select($"doc_id",
        explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      val a = graft.sketch.Sketches.cmsTable(
        toks.filter($"doc_id" % 3 =!= 0), "word", CmsDepth, CmsWidth)
      val b = graft.sketch.Sketches.cmsTable(
        toks.filter($"doc_id" % 3 === 0), "word", CmsDepth, CmsWidth)
      val est = graft.sketch.Sketches.cmsInnerProduct(a, b)
      val ea = toks.filter($"doc_id" % 3 =!= 0)
        .groupBy($"word").agg(count(lit(1)).as("na"))
      val eb = toks.filter($"doc_id" % 3 === 0)
        .groupBy($"word").agg(count(lit(1)).as("nb"))
      val truth = ea.join(eb, "word")
        .agg(coalesce(sum($"na" * $"nb"), lit(0L)).as("true_ip"))
      truth.crossJoin(broadcast(est))
    },

    // ---- C4 line-level cleaning (Raffel et al. 2020): docs augmented
    // with constructed lines exercising every rule (short,
    // javascript-mention, no terminal punctuation, clean keeper), then
    // the per-row filter — drop counts attributed to the first failing
    // rule, and the CLEANED text hash-verified via kept_md5. Pure
    // per-row array math; the plan is a map over the scan.
    "q123_c4_line_filter" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat_ws("\n", $"text",
          lit("too short"),
          lit("Please enable JavaScript to view the comments."),
          lit("A clean line with plenty of words here."),
          lit("no terminal punctuation in this line")).as("aug"))
      graft.textops.TextAnalysis.c4LineFilter(aug, "doc_id", "aug")
        .orderBy($"doc_id")
    },

    // ---- Flesch readability (reading ease + FK grade): docs augmented
    // with deterministic sentence-boundary fragments so sentence counts
    // vary, then the per-row heuristic — exact integer counts into one
    // fixed float nest, rounded at 6. Pure per-row HOF math.
    "q130_readability" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat($"text",
          when($"doc_id" % 2 === 0,
            lit(". Also a second sentence follows here! Does it read well?"))
            .otherwise(lit("")),
          when($"doc_id" % 5 === 0,
            lit(" Legalese incomprehensibility notwithstanding."))
            .otherwise(lit("")))
          .as("aug"))
      graft.textops.TextAnalysis.readability(aug, "doc_id", "aug")
        .orderBy($"doc_id")
    },

    // ---- HTML → text extraction: docs wrapped in a deterministic page
    // template (script/style/comment bodies, entity-bearing list items
    // on doc_id % 3, a footer with an undecoded entity), then the strip
    // chain + markup-shape signals. Pure per-row chained regex.
    "q135_html_extract" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat(
          lit("<html><head><title>Doc "), $"doc_id",
          lit("</title><script>var x=1; if(x<2){x=3;}</script><style>.a{color:red}</style></head><body><h1>Doc "),
          $"doc_id", lit("</h1><p>"), $"text", lit("</p>"),
          when($"doc_id" % 3 === 0,
            lit("<ul><li>alpha &amp; beta</li><li>&quot;gamma&quot;</li></ul>"))
            .otherwise(lit("")),
          lit("<!-- generated --><footer><a href=\"/about\">about</a> &copy; 2026</footer></body></html>"))
          .as("page"))
      graft.textops.TextAnalysis.htmlExtract(aug, "doc_id", "page")
        .orderBy($"doc_id")
    },

    // ---- WARC round trip: per-source crawl segments synthesized as
    // real WARC/1.0 blobs (Content-Length in BYTES via octet_length;
    // every 17th payload embeds a verbatim "WARC/1.0" line — the case
    // that shreds split-based readers), parsed by the length-honoring
    // scanner, verified against an independent derivation from the
    // table itself.
    "q136_warc_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val payload = when($"doc_id" % 17 === 0,
        concat(lit("WARC/1.0\r\n"), $"text")).otherwise($"text")
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.test/doc/"),
        $"doc_id",
        lit("\r\nWARC-Date: 2026-08-15T00:00:00Z\r\nContent-Length: "),
        octet_length(payload),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val blobs = docs.select($"source", $"doc_id", rec.as("rec"))
        .groupBy($"source")
        .agg(array_join(
          transform(array_sort(collect_list(struct($"doc_id", $"rec"))),
            x => x.getField("rec")), "").as("blob"))
      graft.ingest.Warc.records(blobs, $"blob".cast("binary"))
        .select(
          regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          octet_length($"payload").cast("long").as("n_bytes"),
          md5($"payload").as("payload_md5"))
        .orderBy($"doc_id")
    },

    // ---- DSv2 WARC FILE source (`spark.read.format("warc")`): q136's
    // record derivation, but entering from an on-disk hive-layout
    // crawl store (one `host=<source>.ex.test` directory per source,
    // multi-record segment files) read through graft.sources
    // .WarcDataSource with splits forced small enough to land
    // mid-record, plus a pushed host-prefix filter that prunes
    // non-matching host directories at planning. The fixture is
    // content-keyed (xxhash64 over the rows) so regenerated testdata
    // can never collide with a stale store; the 20-segment write is a
    // bounded driver-side fixture build, not a data path.
    "q179_warc_source" -> { (s, dir) =>
      import s.implicits._
      val root = warcStoreFixture(s, dir)
      s.read.format("warc").option("maxSplitBytes", 8192)
        .load(root)
        .where($"host".startsWith("src1"))
        .select(
          regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          $"host",
          octet_length($"payload").cast("long").as("n_bytes"),
          md5($"payload").as("payload_md5"))
        .orderBy($"doc_id")
    },

    // ---- WARC write→read round trip through the DSv2 SINK (q179
    // enters from a hand-built store; this gate exercises the write
    // half as the data path): documents → `df.write.format("warc")`
    // with partitionByHost (hive `host=` layout), record-gzip members
    // (the splittable compressed form), and mode("overwrite")
    // (SupportsTruncate) — then read back under a pushed host-prefix
    // filter with splits forced to land mid-member, against the same
    // documents-derived oracle. The store is rewritten EVERY
    // invocation (overwrite), so the gate times the real write+read
    // loop and a scale change can never serve a stale store; one
    // repartition(host) first so each host lands as one segment file
    // (the production layout, not one-file-per-task-per-host).
    "q187_warc_write_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val payload = when($"doc_id" % 17 === 0,
        concat(lit("WARC/1.0\r\n"), $"text")).otherwise($"text")
      val root = "/tmp/graft_warc_wstore"
      docs.select(
          concat($"source", lit(".ex.test")).as("host"),
          lit("response").as("warc_type"),
          concat(lit("https://"), $"source", lit(".ex.test/doc/"), $"doc_id")
            .as("target_uri"),
          lit("2026-08-15T00:00:00Z").as("warc_date"),
          payload.cast("binary").as("payload"))
        .repartition($"host")
        .write.format("warc")
        .option("partitionByHost", "true")
        .option("compress", "record-gzip")
        .mode("overwrite").save(root)
      s.read.format("warc")
        .option("maxSplitBytes", 4096).option("recordGzip", true)
        .load(root)
        .where($"host".startsWith("src1"))
        .select(
          regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          $"host",
          octet_length($"payload").cast("long").as("n_bytes"),
          md5($"payload").as("payload_md5"))
        .orderBy($"doc_id")
    },

    // ---- WARC scan ⋈ host dimension under DSv2 STATISTICS (the
    // VERDICT-r12 item): the scan reports its post-pruning listing
    // bytes through SupportsReportStatistics, so Catalyst costs the
    // warc relation from REAL bytes instead of defaultSizeInBytes and
    // the aggregated host dimension broadcasts — PlanCheck pins
    // BroadcastHashJoin and forbids SortMergeJoin. The scan also
    // accepts runtime In(host,…) filters (SupportsRuntimeFiltering):
    // the dimension's selective predicate makes this join
    // DPP-eligible, and the numeric planned-partition contract under
    // a runtime (not literal) filter is pinned in WarcSourceSpec.
    // Per-host rollup: record count + payload bytes from the store,
    // doc count from the dimension.
    // ---- streaming WARC archive loop with a CHECKPOINT RESTART (the
    // q187 discipline applied to readStream→writeStream): phase 1
    // batch-writes half the corpus into a source store, a streaming
    // query (admission control: maxFilesPerTrigger=12 over the 20
    // per-phase host segments → ≥2 checkpointed micro-batches per
    // phase under Trigger.AvailableNow; the deeper ≥3-batch drain +
    // snapshot-termination law is WarcSourceSpec's) archives it into
    // a sink store through the
    // streaming warc SINK (epoch-deterministic names); phase 2 appends
    // the other half to the source and RESTARTS the query from the
    // same checkpoint — committed segments must not re-emit, the delta
    // must land exactly once. Everything (source, sink, checkpoint) is
    // rebuilt every invocation, so the gate times the real
    // write→stream→write→read loop and the oracle equality over the
    // sink (rows + md5) IS the exactly-once proof: a replayed segment
    // duplicates rows, a dropped one loses them.
    "q189_warc_stream_archive" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val base = new java.io.File("/tmp/graft_warc_stream_gate")
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      rmrf(base)
      val srcRoot = s"${base.getPath}/src"
      val sinkRoot = s"${base.getPath}/sink"
      val ckpt = s"${base.getPath}/ckpt"
      val payload = when($"doc_id" % 17 === 0,
        concat(lit("WARC/1.0\r\n"), $"text")).otherwise($"text")
      def warcify(half: org.apache.spark.sql.Column) = docs.where(half)
        .select(
          concat($"source", lit(".ex.test")).as("host"),
          lit("response").as("warc_type"),
          concat(lit("https://"), $"source", lit(".ex.test/doc/"), $"doc_id")
            .as("target_uri"),
          lit("2026-08-15T00:00:00Z").as("warc_date"),
          payload.cast("binary").as("payload"))
        .repartition($"host")
      def drain(): Unit = {
        val q = s.readStream.format("warc")
          .option("maxFilesPerTrigger", 12)
          .load(srcRoot)
          .writeStream.format("warc")
          .option("partitionByHost", "true")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(sinkRoot)
        q.awaitTermination()
      }
      warcify($"doc_id" % 2 === 0).write.format("warc")
        .option("partitionByHost", "true").mode("append").save(srcRoot)
      drain()
      warcify($"doc_id" % 2 =!= 0).write.format("warc")
        .option("partitionByHost", "true").mode("append").save(srcRoot)
      drain()
      s.read.format("warc").option("maxSplitBytes", 4096).load(sinkRoot)
        .where($"host".startsWith("src1"))
        .select(
          regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          $"host",
          octet_length($"payload").cast("long").as("n_bytes"),
          md5($"payload").as("payload_md5"))
        .orderBy($"doc_id")
    },

    "q188_warc_host_join" -> { (s, dir) =>
      import s.implicits._
      val root = warcStoreFixture(s, dir)
      val dim = docsParallel(s, dir)
        .where(length($"source") === 5) // the two-digit sources
        .groupBy($"source")
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .select(concat($"source", lit(".ex.test")).as("host"), $"n_docs")
      s.read.format("warc").option("maxSplitBytes", 8192).load(root)
        .join(dim, Seq("host"))
        .groupBy($"host")
        .agg(count(lit(1)).cast("long").as("n_recs"),
          sum(octet_length($"payload")).cast("long").as("n_bytes"),
          max($"n_docs").as("n_docs"))
        .orderBy($"host")
    },

    // ---- DSIR bucket panel (Xie et al. 2023 — targeted data
    // selection; q71 gates the ONE-SHOT fit-and-score law, this pair
    // gates the SPLIT-PHASE deployment form): per-bucket
    // word-occurrence counts for the TARGET slice (doc_id % 7 = 0)
    // vs the RAW corpus, buckets = shingleHash60(word) mod 256. The
    // exact-integer relation both importance distributions are
    // estimated from; the ln() fit over its collected form is
    // driver-side and spec-pinned (libm is not cross-engine
    // mirrorable — the kmeans-codebook discipline).
    "q182_dsir_buckets" -> { (s, dir) =>
      import s.implicits._
      graft.textops.Dsir.bucketPanel(
          docsParallel(s, dir), "text", $"doc_id" % 7 === 0, buckets = 256)
        .orderBy($"bucket")
    },

    // ---- q182 with q71's FULL feature space: unigrams ++ bigrams
    // (space-joined, size-guarded) hashed into the same 256 buckets —
    // the panel the bigram-featured fit estimates from.
    "q184_dsir_bigram_buckets" -> { (s, dir) =>
      import s.implicits._
      graft.textops.Dsir.bucketPanel(
          docsParallel(s, dir), "text", $"doc_id" % 7 === 0, buckets = 256,
          bigrams = true)
        .orderBy($"bucket")
    },

    // ---- DSIR scoring pass over a FIXTURE weight table (w[b] =
    // (b·37 mod 2001) − 1000 — formula-mirrorable, so the oracle
    // carries no literal blob): per-doc Σ w[bucket(word)], integer
    // e6 weights, selected = score > 0. Pure per-row array math
    // against a broadcast literal — the corpus never shuffles.
    "q183_dsir_score" -> { (s, dir) =>
      import s.implicits._
      val w = Array.tabulate(256)(b => (b * 37 % 2001) - 1000L)
      graft.textops.Dsir.score(docsParallel(s, dir), "doc_id", "text", w)
        .orderBy($"doc_id")
    },

    // ---- q183 over the bigram feature space: the scoring map MUST
    // hash exactly what the panel counted, so the bigram-fitted path
    // gets its own gate (same formula table, wider features).
    "q185_dsir_bigram_score" -> { (s, dir) =>
      import s.implicits._
      val w = Array.tabulate(256)(b => (b * 37 % 2001) - 1000L)
      graft.textops.Dsir.score(docsParallel(s, dir), "doc_id", "text", w,
          bigrams = true)
        .orderBy($"doc_id")
    },

    // ---- HTTP response split (the step between q136's WARC records
    // and q135's HTML strip): status / media type / body from
    // synthesized response messages — pure per-row column expressions.
    "q137_http_split" -> { (s, dir) =>
      import s.implicits._
      val status = when($"doc_id" % 7 === 0, lit(404))
        .when($"doc_id" % 5 === 0, lit(301)).otherwise(lit(200))
      val ctype = when($"doc_id" % 3 === 0, lit("application/json"))
        .otherwise(lit("text/html; charset=UTF-8"))
      val payload = concat(lit("HTTP/1.1 "), status,
        lit(" X\r\nServer: demo\r\nContent-Type: "), ctype,
        lit("\r\n\r\n"), $"text")
      docsParallel(s, dir)
        .select($"doc_id", graft.ingest.Warc.httpParts(payload).as("h"))
        .select($"doc_id", $"h.http_status".as("http_status"),
          $"h.content_type".as("content_type"), md5($"h.body").as("body_md5"))
        .orderBy($"doc_id")
    },

    // ---- sitemapindex parsing (q157's upper level — the blind-probe
    // leg of the indexEntries → fetch → entries ingest loop): per-host
    // index blobs with a commented-out trap child, a padded loc, an
    // uppercase tag, a lastmod-less child, and a loc-less drop; hosts
    // ending in an odd digit ship a urlset instead, which must yield
    // ZERO index rows (the blind-probe contract).
    "q162_sitemap_index" -> { (s, dir) =>
      import s.implicits._
      val idxXml = concat(
        lit("<sitemapindex><!-- <sitemap><loc>https://"), $"source",
        lit("/trap.xml</loc></sitemap> -->\n<sitemap><loc> https://"),
        $"source", lit("/s1.xml </loc><lastmod>2026-0"),
        (($"doc_id" % 9) + 1).cast("string"),
        lit("-01</lastmod></sitemap>\n<SITEMAP><loc>https://"), $"source",
        lit("/s"), ($"doc_id" % 4).cast("string"),
        lit(".xml</loc></SITEMAP>\n<sitemap><lastmod>2026-01-02</lastmod></sitemap></sitemapindex>"))
      val urlsetXml = concat(
        lit("<urlset><url><loc>https://"), $"source", lit("/p/"), $"doc_id",
        lit("</loc></url></urlset>"))
      val blobs = docsParallel(s, dir).select($"doc_id", $"source",
        when($"doc_id" % 2 === 0, idxXml).otherwise(urlsetXml).as("xml"))
      graft.ingest.Sitemaps.indexEntries(blobs, "xml")
        .select($"doc_id", $"source", $"loc", $"lastmod")
        .orderBy($"doc_id", $"loc")
    },

    // ---- positional phrase search: consecutive-word match through
    // term-filtered positional postings (k−1 bounded equi-joins — the
    // operator bag-of-words BM25 can't express), occurrence counts per
    // document.
    "q138_phrase_search" -> { (s, dir) =>
      import s.implicits._
      graft.textops.Retrieval.phraseHits(docsParallel(s, dir), "doc_id",
          "text", Seq("join", "hash"))
        .orderBy($"doc_id")
    },

    // ---- line-level language consistency (code-switch detection):
    // docs augmented with deterministic foreign-language lines, then
    // per-line language ID against the whole-document label — one
    // explode into a map-side-combined per-doc rollup.
    "q140_code_switch" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat($"text",
          when($"doc_id" % 4 === 0,
            lit("\nder und das ist ein nicht der und")).otherwise(lit("")),
          when($"doc_id" % 6 === 0,
            lit("\nle la et les des est une le la")).otherwise(lit("")))
          .as("aug"))
      graft.textops.TextAnalysis.lineLangSwitch(aug, "doc_id", "aug")
        .orderBy($"doc_id")
    },

    // ---- proximity (NEAR/4) search: occurrence pairs of two terms
    // within 4 word positions, through the bucketed range join (the
    // q44 discipline) over term-filtered positional postings.
    "q141_proximity_search" -> { (s, dir) =>
      import s.implicits._
      graft.textops.Retrieval.proximityHits(docsParallel(s, dir), "doc_id",
          "text", termA = "join", termB = "scan", window = 4)
        .orderBy($"doc_id")
    },

    // ---- markdown → text: docs wrapped in a markdown template
    // (header, blockquote, emphasis, inline code, links, list, fenced
    // code block, underscore emphasis), then the strip chain. Pure
    // per-row chained regex.
    "q142_markdown_extract" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat(lit("# Doc "), $"doc_id",
          lit("\n\n> quoted intro\n\n**Bold start** and *emphasis* with `inline()` code.\n\n"),
          $"text",
          lit("\n\n- first [link text](https://x.test/a)\n- second ![alt words](img.png)\n\n```\ncode block to drop\n```\n\n_tail_"))
          .as("md"))
      graft.textops.TextAnalysis.markdownExtract(aug, "doc_id", "md")
        .orderBy($"doc_id")
    },

    // ---- outlink (web-graph edge) extraction: pages synthesized with
    // absolute links (host varies by doc), a relative link, a
    // fragment-only href, a mailto, and an UPPERCASE tag/scheme trap;
    // one regexp_extract_all + link-bounded explode, per-row host
    // math — no join, no aggregate.
    "q148_outlinks" -> { (s, dir) =>
      import s.implicits._
      graft.textops.TextAnalysis.outlinkEdges(
          linkedPages(s, dir), "doc_id", "page")
        .orderBy($"doc_id", $"href")
    },

    // ---- host in-degree panel (q148's rollup — what PageRank priors
    // and frontier priorities seed from; StreamHostGraph's batch
    // twin): external edges only, links + distinct source pages per
    // target host. One explode + one map-side-combined groupBy.
    "q153_host_indegree" -> { (s, dir) =>
      import s.implicits._
      graft.streaming.StreamHostGraph.hostInDegree(
          linkedPages(s, dir), "doc_id", "page")
        .orderBy($"host")
    },

    // ---- sitemap frontier seeding (the q150/q152 trio's third leg):
    // robots `Sitemap:` directives (global, duplicate collapses, one
    // host class has none) joined to per-host <urlset> blobs built
    // q136-style, parsed back with a commented-out <url> trap and
    // whitespace-padded <loc>s — verified against an independent
    // derivation from the table.
    "q157_sitemap_frontier" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val robots = Tables.load(s, dir, "documents").select($"source").distinct()
        .select($"source".as("host"), concat(
          lit("User-agent: *\nDisallow: /private\n"),
          when(!$"source".endsWith("7"),
            concat(lit("Sitemap: https://"), $"source", lit("/sitemap.xml\n")))
            .otherwise(lit("")),
          when(length($"source") % 2 === 0 && !$"source".endsWith("7"),
            concat(lit("# mirror\nSitemap: https://"), $"source",
              lit("/sitemap.xml\n"))).otherwise(lit(""))).as("txt"))
      val entryXml = concat(
        lit("<url><loc> https://"), $"source", lit("/p/"), $"doc_id",
        lit(" </loc>"),
        when($"doc_id" % 5 =!= 0,
          concat(lit("<lastmod>2026-08-"),
            lpad((($"doc_id" % 28) + 1).cast("string"), 2, "0"),
            lit("</lastmod>"))).otherwise(lit("")),
        lit("</url>"))
      val blobs = docs.select($"source", $"doc_id", entryXml.as("e"))
        .groupBy($"source")
        .agg(concat(
          lit("<urlset><!-- trap <url><loc>https://trap.test/x</loc></url> -->"),
          array_join(transform(array_sort(collect_list(struct($"doc_id", $"e"))),
            x => x.getField("e")), ""),
          lit("</urlset>")).as("xml"))
      val sm = graft.ingest.Robots.sitemapUrls(robots, "host", "txt")
      graft.ingest.Sitemaps.entries(
          sm.join(blobs, sm("host") === blobs("source")).drop("source"), "xml")
        .select($"host", $"sitemap_url", $"loc", $"lastmod")
        .orderBy($"host", $"loc")
    },

    // ---- recrawl planning (the freshness half of incremental
    // crawling; q95's content diff is the post-fetch half): sitemap
    // lastmod claims vs a synthesized crawl log — all four decision
    // classes fire (new / stale / fresh / aged+unclaimed); one
    // URL-keyed equi-join, ISO strings compare lexicographically.
    "q158_recrawl_plan" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val entries = docs.select(
        concat(lit("https://"), $"source", lit("/p/"), $"doc_id").as("loc"),
        when($"doc_id" % 5 =!= 0,
          concat(lit("2026-08-"),
            lpad((($"doc_id" % 28) + 1).cast("string"), 2, "0")))
          .as("lastmod"))
      val crawlLog = docs.filter($"doc_id" % 3 =!= 0).select(
        concat(lit("https://"), $"source", lit("/p/"), $"doc_id").as("loc"),
        concat(lit("2026-08-"),
          lpad((($"doc_id" % 15) + 1).cast("string"), 2, "0")).as("last_crawl"))
      graft.ingest.Frontier.recrawlPlan(entries, "loc", "lastmod",
          crawlLog, "loc", "last_crawl", agedCutoff = "2026-08-10")
        .orderBy($"loc")
    },

    // ---- crawl-trap / URL-template explosion panel (the frontier's
    // third input besides robots admission and recrawl freshness):
    // per (host, template) URL mass after hex→H / digit→N folding,
    // host-relative share as integer percentage, and the trap flag
    // (share ≥ 50 AND distinct paths ≥ 10 — a popular static page has
    // cardinality 1, a calendar's cardinality IS its URL count).
    // Even-length hosts carry a calendar trap at ~86% share; odd
    // hosts mix statics with md5-id pages exercising the hex fold
    // below both thresholds. Selectors use mod-7/mod-3 residues —
    // COPRIME with the testdata's source = src(doc_id % 20), so every
    // class actually varies within each host (mod-4/mod-5 residues
    // are CONSTANT per host here). All-integer emission.
    "q161_crawl_traps" -> { (s, dir) =>
      import s.implicits._
      val urls = docsParallel(s, dir).select($"source".as("host"),
        when(length($"source") % 2 === 0,
          when($"doc_id" % 7 =!= 3,
            concat(lit("/cal/"), ($"doc_id" % 28 + 1).cast("string"),
              lit("/"), ($"doc_id" % 12 + 1).cast("string")))
            .otherwise(lit("/about")))
          .otherwise(
            when($"doc_id" % 7 === 0,
              concat(lit("/id/"), md5($"doc_id".cast("string"))))
              .when($"doc_id" % 3 === 0, lit("/home"))
              .when($"doc_id" % 3 === 1, lit("/about"))
              .otherwise(lit("/contact"))).as("path"))
      graft.ingest.Frontier.trapPanel(urls, "host", "path",
          sharePct = 50, minPaths = 10)
        .orderBy($"host", $"template")
    },

    // ---- IBAN mod-97 PII validation (q146's sibling): candidates
    // synthesized with varying check digits (~1/97 validate), a
    // malformed class (digit country code), and the streaming mod-97
    // fold mirrored digit-for-digit.
    "q154_iban_pii" -> { (s, dir) =>
      import s.implicits._
      val cand = concat(
        when($"doc_id" % 11 === 0, lit("1E")).otherwise(lit("DE")),
        lpad(($"doc_id" % 100).cast("string"), 2, "0"),
        lpad($"doc_id".cast("string"), 18, "0"))
      docsParallel(s, dir).select($"doc_id", cand.as("candidate"))
        .withColumn("iban_valid",
          graft.textops.TextAnalysis.ibanValidCol($"candidate").cast("int"))
        .orderBy($"doc_id")
    },

    // ---- mojibake / encoding damage: docs augmented with the three
    // artifact classes (UTF-8-as-Latin-1 bigrams, U+FFFD, a C1
    // control), then split-count regex math with the damage ratio
    // rounded at 9. Pure per-row, zero shuffles.
    "q149_encoding_quality" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat($"text",
          when($"doc_id" % 7 === 0, lit(Moj1)).otherwise(lit("")),
          when($"doc_id" % 11 === 0, lit(Moj2)).otherwise(lit("")),
          when($"doc_id" % 13 === 0, lit(Moj3)).otherwise(lit("")))
          .as("aug"))
      graft.textops.TextAnalysis.encodingQuality(aug, "doc_id", "aug")
        .orderBy($"doc_id")
    },

    // ---- robots.txt admission: per-host policies (a `*` group for
    // everyone; even-length hosts add an exact GraftBot group that
    // SHADOWS the `*` rules — the RFC precedence trap; odd-length
    // hosts ending in 3/5 add a GraftBot group with ONLY a
    // Crawl-delay — a winning group with no path rules means
    // allow-all, never a fallback to `*`, the r9 ADVICE case),
    // candidate paths exercising longest-match with Allow tie wins,
    // RFC 9309 `*`/`$` pattern rules (mid-pattern wildcard, end
    // anchor, and a literal-vs-wildcard length tie), an unreachable
    // pre-group rule, a comment, an unsupported key, and an empty
    // Disallow. Per-host windows; URL decision is one host-keyed
    // join + max-struct rollup.
    "q150_robots_admission" -> { (s, dir) =>
      import s.implicits._
      val robots = Tables.load(s, dir, "documents").select($"source").distinct()
        .select($"source".as("host"), concat(
          lit("Disallow: /early\n# policy\nUser-agent: *\nDisallow: /private\nAllow: /private/area1$\nAllow: /private/ok\nDisallow: /pub/*2$\nCrawl-delay: 5\n"),
          // the exact group ships CRLF (a mixed-endings file — the
          // wild-robots norm the \r?\n split must absorb)
          when(length($"source") % 2 === 0,
            lit("\r\nUser-agent: GraftBot\r\nUser-agent: otherbot\r\nDisallow: /p/9\r\nAllow: /p/91\r\nDisallow: /p/*1\r\nDisallow:\r\n"))
            .otherwise(lit("")),
          when(length($"source") % 2 === 1 &&
              ($"source".endsWith("3") || $"source".endsWith("5")),
            lit("\nUser-agent: GraftBot\nCrawl-delay: 4\n"))
            .otherwise(lit(""))).as("txt"))
      val urls = docsParallel(s, dir).select($"doc_id",
        $"source".as("host"),
        when($"doc_id" % 4 === 0,
          concat(lit("/private/area"), ($"doc_id" % 3).cast("string")))
          .when($"doc_id" % 4 === 1,
            concat(lit("/private/ok/page"), ($"doc_id" % 3).cast("string")))
          .when($"doc_id" % 4 === 2,
            concat(lit("/p/"),
              floor(($"doc_id" % 520) / 4).cast("long").cast("string")))
          .otherwise(concat(lit("/pub/item"), ($"doc_id" % 7).cast("string")))
          .as("path"))
      graft.ingest.Robots.allowed(urls, "doc_id", "host", "path",
          robots, "host", "txt", "GraftBot")
        .select($"doc_id", $"host", $"path", $"allowed", $"rule")
        .orderBy($"doc_id")
    },

    // ---- politeness fetch schedule (q150's companion): Crawl-delay
    // parsed from per-host robots (exact group 0.5 s shadows the
    // star group's 2 s; hosts ending in 3 carry a FRACTIONAL star
    // delay 2.9 whose IEEE ×1000 product is 2899.999… — the explicit
    // round() both engines now share must emit 2900, the r9 ADVICE
    // truncation trap; hosts ending in 7 carry no star delay → the
    // caller default), then per-host FIFO slots by priority with a
    // per-host budget — slot × delay politeness offsets.
    "q152_fetch_schedule" -> { (s, dir) =>
      import s.implicits._
      val robots = Tables.load(s, dir, "documents").select($"source").distinct()
        .select($"source".as("host"), concat(
          lit("User-agent: *\nDisallow: /private\n"),
          when($"source".endsWith("3"), lit("Crawl-delay: 2.9\n"))
            .when(!$"source".endsWith("7"), lit("Crawl-delay: 2\n"))
            .otherwise(lit("")),
          when(length($"source") % 2 === 0,
            lit("\nUser-agent: GraftBot\nCrawl-delay: 0.5\n")).otherwise(lit("")))
          .as("txt"))
      val delays = graft.ingest.Robots.crawlDelays(robots, "host", "txt", "GraftBot")
      val urls = docsParallel(s, dir).select($"doc_id",
        $"source".as("host"), (($"doc_id" * 7) % 101).as("priority"))
      graft.ingest.Frontier.schedule(urls, "doc_id", "host",
          $"priority", delays, defaultDelayMs = 1000L, maxPerHost = 20)
        .select($"doc_id", $"host", $"delay_ms", $"slot", $"fetch_offset_ms")
        .orderBy($"doc_id")
    },

    // ---- Bloom-filter decontamination probe, cross-engine-exact: the
    // benchmark partition's shingles set k salted bits over m; every
    // doc reports how many of its shingles the filter claims present
    // (n_hits ≥ true containment — the surplus is false positives both
    // engines reproduce bit-for-bit). The verifiable twin of q30's
    // codegen'd bloom_filter_agg path; bit table broadcasts (≤ m
    // longs) — the corpus never shuffles for the membership test.
    "q122_bloom_probe" -> { (s, dir) =>
      import s.implicits._
      val sh = docsParallel(s, dir).select($"doc_id",
        explode(graft.textops.NearDup.shinglesCol($"text", 3)).as("shingle"))
      val bits = graft.sketch.Sketches.bloomBits(
        sh.filter($"doc_id" % 19 === 0).select($"shingle"), "shingle",
        BloomK, BloomM)
      graft.sketch.Sketches.bloomProbe(sh, "doc_id", "shingle", bits, BloomK, BloomM)
        .select($"id".as("doc_id"), $"n_items", $"n_hits")
        .orderBy($"doc_id")
    },

    // ---- script-mix fractions (wrong-script / mojibake detector):
    // per-doc char-class ratios over text augmented with a fixed
    // multilingual tail, classes as explicit code-point ranges so Java
    // regex and RE2 agree symbol-for-symbol.
    "q115_script_mix" -> { (s, dir) =>
      import s.implicits._
      val aug = docsParallel(s, dir).select($"doc_id",
        concat($"text", lit(" Привет мир 你好世界 1234")).as("aug"))
      graft.textops.TextAnalysis.scriptMix(aug, "aug")
        .select($"doc_id", $"n_cp", $"latin_frac", $"digit_frac",
          $"cyrillic_frac", $"han_frac")
        .orderBy($"doc_id")
    },

    // ---- Unicode NFC normalization (the pre-dedup canonicalization
    // multilingual corpora need): deterministic decomposed suffixes
    // (combining marks, constructed identically in both engines) pushed
    // through the JDK normalizer; the oracle runs DuckDB's
    // utf8proc-backed nfc_normalize — two independent UAX #15
    // implementations must agree byte-for-byte.
    "q114_nfc_normalize" -> { (s, dir) =>
      import s.implicits._
      val suffix = element_at(array(
        lit("é"), lit("Äb"), lit("ñ"),
        lit("ç"), lit("ố")),
        ($"doc_id" % 5).cast("int") + 1)
      docsParallel(s, dir)
        .select($"doc_id", concat($"text", lit(" "), suffix).as("raw"))
        .select($"doc_id", length($"raw").as("raw_cp"),
          graft.functions.TextNormalize.nfcCol($"raw").as("normalized"))
        .withColumn("norm_cp", length($"normalized"))
        .orderBy($"doc_id")
    },

    // ---- cross-corpus near-dup (Dolma-style priority dedup: the NEW
    // crawl deduped against the EXISTING corpus, which is never
    // re-examined against itself): a-bands × b-bands candidate join
    // through the q17 phases, exact-Jaccard verify. The two corpora
    // here are a deterministic split of the documents table.
    "q113_cross_corpus_pairs" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      graft.textops.NearDup.crossCorpusPairs(
          docs.filter($"doc_id" % 3 =!= 0), docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text", n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .orderBy($"id_a", $"id_b")
    },

    // ---- per-group heavy hitters (q108 one level down: the
    // per-LANGUAGE frequent-word table — per-domain boilerplate,
    // per-source hot URLs — with one MG summary per group per
    // partition; output exact, oracle = the per-group HAVING).
    "q112_heavy_hitters_grouped" -> { (s, dir) =>
      import s.implicits._
      val toks = docsParallel(s, dir)
        .select($"lang",
          explode(graft.textops.TextTokens.wordsCol($"text")).as("word"))
      graft.textops.HeavyHitters.heavyHittersByGroup(toks, "lang", "word",
          supportPpm = HhSupportPpm, capacity = HhCapacity)
        .orderBy($"lang", $"cnt".desc, $"item".asc)
    },

    // ---- edit-distance similarity self-join (fuzzy entity matching on
    // short keys): symmetric-delete candidates, exact levenshtein verify
    // — the equi-join shape of a string-similarity join.
    "q45_editdist_pairs" -> { (s, dir) =>
      import s.implicits._
      graft.textops.EditDistance.similarPairs(
          Tables.load(s, dir, "customer"), "c_custkey", "c_name", maxDist = 1)
        .orderBy($"id_a", $"id_b")
    },

    // ---- per-domain cap retention (the FineWeb "domain budget" step):
    // registrable domain via the REAL PSL walk (q94's operator), then
    // keep the top-k docs per domain by quality under a total order.
    // The rank filter plans as WindowGroupLimit — map tasks truncate to
    // k per domain BEFORE the shuffle. Oracle states the expected
    // eTLD+1 for the constructed URL shape independently (q94's
    // convention), so the PSL walk is re-verified, not mirrored.
    "q110_domain_cap" -> { (s, dir) =>
      import s.implicits._
      val urls = docsParallel(s, dir).select($"doc_id", $"n_chars",
        concat(lit("https://WWW."), $"source",
          lit(".Example"), ($"doc_id" % 97).cast("string"),
          lit(".CO.UK:8080/p/"), $"doc_id".cast("string")).as("url"))
      val domains = urls.withColumn("etld1",
        graft.functions.UrlUtil.etld1Col($"url"))
      graft.textops.CurationOps.domainCapRetention(
          domains, "doc_id", "etld1", "n_chars", k = DomainCapK)
        .select($"etld1", $"doc_id", $"n_chars", $"rk".cast("bigint").as("rk"))
        .orderBy($"etld1", $"rk")
    },

    // ---- Jaro-Winkler fuzzy-match pairs over the distinct-name
    // dictionary (record linkage on name-shaped keys): prefix-blocked
    // candidates, native codegen'd JW verify, row-support weights from
    // a map-side-combined count — the pair join never touches the row
    // table. The expression is float-for-float DuckDB parity (boost
    // threshold/prefix-cap semantics pinned in JaroWinklerSpec), so the
    // gate hash-compares RAW doubles, no quantization channel.
    "q109_jw_entity_pairs" -> { (s, dir) =>
      import s.implicits._
      graft.textops.EditDistance.jaroWinklerDictPairs(
          Tables.load(s, dir, "part"), "p_name", threshold = JwThreshold)
        .orderBy($"name_a", $"name_b")
    },

    // ---- triangle counting over the edit-distance similarity graph:
    // the cluster-density signal (degree-ordered orientation — the
    // hub-safe plan; see Triangles).
    "q51_editdist_triangles" -> { (s, dir) =>
      import s.implicits._
      val pairs = graft.textops.EditDistance.similarPairs(
        Tables.load(s, dir, "customer"), "c_custkey", "c_name", maxDist = 1)
      graft.graph.Triangles.perNodeCounts(pairs, "id_a", "id_b")
        .orderBy($"node")
    },

    // ---- multimodal decode stage through the driver gate: binary
    // payloads (documents as stand-in media) through the batched
    // mapPartitions decode. Image rows try a REAL javax.imageio header
    // decode first; these text payloads are not decodable images, so
    // every row takes the deterministic SHA-derived fallback, which
    // DuckDB mirrors — the whole binary-column plumbing is
    // hash-verified, not just spec'd (real-image decode is pinned by
    // MultimodalSpec on generated PNG/JPEG bytes).
    // ---- URL normalization + eTLD+1 (SURVEY T22) behind the gate:
    // synthetic per-doc URLs exercising host case-folding, a www
    // subdomain, a MULTI-LABEL public suffix (co.uk — where naive
    // "last two labels" parsing breaks), port/path/query/fragment
    // junk, through the Guava-PSL normalizer; the oracle states the
    // EXPECTED normalization for the constructed shape, so the PSL
    // walk is verified against independent ground truth rather than
    // mirrored. Per-row map (the PSL lookup is the one place a UDF is
    // unavoidable — a library call, bounded per row; no shuffle).
    "q94_url_etld1" -> { (s, dir) =>
      import s.implicits._
      val urls = docsParallel(s, dir).select($"doc_id",
        concat(lit("https://WWW."), $"source",
          lit(".Example"), ($"doc_id" % 3).cast("string"),
          lit(".CO.UK:8080/p/"), $"doc_id".cast("string"),
          lit("?utm_source=feed&id="), ($"doc_id" % 5).cast("string"),
          lit("#frag")).as("url"))
      urls.select($"doc_id", $"url",
          graft.functions.UrlUtil.normalizeCol($"url").as("normalized"),
          graft.functions.UrlUtil.etld1Col($"url").as("etld1"))
        .orderBy($"doc_id")
    },

    // ---- RFC 3986 URL canonicalization (q94's path-level sibling —
    // the frontier-dedup key): seven fixture classes through the real
    // canonicalizer — case+default-port+dot-segment, pop+unreserved
    // decode, trailing host dot+fragment+preserved //, reserved %2f
    // uppercased+non-default port kept, empty path, traversal above
    // root+query decode, and a non-http pass-through. The oracle
    // STATES the expected canonical string per class (the q94/q162
    // independent-ground-truth convention) — mod-7 selector, coprime
    // with source = src(doc_id % 20).
    "q163_url_canonical" -> { (s, dir) =>
      import s.implicits._
      val d = $"doc_id".cast("string")
      val url =
        when($"doc_id" % 7 === 0,
          concat(lit("HTTP://WWW."), upper($"source"), lit(".TEST:80/a/./"), d))
          .when($"doc_id" % 7 === 1,
            concat(lit("https://"), $"source", lit(".test:443/p/../q%7e/"), d))
          .when($"doc_id" % 7 === 2,
            concat(lit("http://"), $"source", lit(".test./x//y/"), d, lit("#frag")))
          .when($"doc_id" % 7 === 3,
            concat(lit("http://"), $"source", lit(".test:8080/%2fup/"), d))
          .when($"doc_id" % 7 === 4,
            concat(lit("http://"), $"source", lit(".test")))
          .when($"doc_id" % 7 === 5,
            concat(lit("http://"), $"source", lit(".test/a/../../b?q=%41"), d))
          .otherwise(concat(lit("ftp://"), $"source", lit(".test/"), d))
      docsParallel(s, dir)
        .select($"doc_id", url.as("url"),
          graft.functions.UrlUtil.canonicalUrlCol(url).as("canonical"))
        .orderBy($"doc_id")
    },

    // ---- anchor-text panel (q148/q153's semantic sibling — what the
    // web SAYS about each target, the classic retrieval-training
    // signal): pages synthesized with a lang-varying padded-mixed-case
    // main anchor (trim+lower must fire), a duplicate-host generic
    // anchor, a text-free anchor (kept, empty string), a child-tag
    // anchor (an outlink but NOT an anchor-text row), a relative link
    // (dropped by the panel's external filter), and the q148 non-edge
    // traps (fragment-only, mailto, data-href decoy). Two extract_all
    // passes zipped positionally, one map-side-combinable rollup.
    "q164_anchor_text" -> { (s, dir) =>
      import s.implicits._
      graft.textops.TextAnalysis.anchorTextPanel(
          anchorPages(s, dir), "doc_id", "page")
        .orderBy($"host", $"anchor")
    },

    // ---- host-graph PageRank (q57's web twin, and the gate for the
    // REDISTRIBUTED-dangling path q57's leak variant leaves spec-only):
    // edges = q148's extracted external links keyed by the linking
    // doc's own host, so every ex*/up* target is dangling by
    // construction and the dangling share flows every round. 3 rounds,
    // exact pico-unit fixed point — BIGINT on both engines.
    "q165_host_pagerank" -> { (s, dir) =>
      import s.implicits._
      val (nodes, edges) = hostGraph(s, dir)
      graft.graph.PageRank.ranks(nodes, "host", edges, "src", "dst", "w",
          iters = PrIters, redistributeDangling = true)
        .select($"node".as("host"), $"rank".as("rank_pp"))
        .orderBy($"host")
    },

    // ---- host-graph HITS (q165's mutually-recursive sibling — the
    // frontier wants BOTH: PageRank mass says fetch, hub scores say
    // DISCOVER THROUGH): sources are pure hubs and ex*/up* targets
    // pure authorities by construction, weights vary per edge; 2
    // rounds, MAX-normalized exact integer fixed point at 10^5.
    "q169_host_hits" -> { (s, dir) =>
      import s.implicits._
      val (nodes, edges) = hostGraph(s, dir)
      graft.graph.Hits.scores(nodes, "host", edges, "src", "dst", "w",
          iters = HitsIters)
        .select($"node".as("host"), $"hub", $"auth")
        .orderBy($"host")
    },

    // ---- frontier priority scoring (the composition the three crawl
    // panels exist FOR — recrawl freshness × host authority × trap
    // demotion folded into one all-integer fetch order): the q161 URL
    // shape gives even-length hosts a flagged calendar template; the
    // q158 lastmod/crawl-log shape fires all four freshness classes;
    // in-degree authority varies per host via a residue-filtered
    // doc→host link table (divisor 2..21 by target). Both side tables
    // are host/template-grained — broadcast joins; per-row CASE math.
    "q166_frontier_priority" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val urls = docs.select($"source".as("host"), $"doc_id",
        when(length($"source") % 2 === 0,
          when($"doc_id" % 7 =!= 3,
            concat(lit("/cal/"), ($"doc_id" % 28 + 1).cast("string"),
              lit("/"), ($"doc_id" % 12 + 1).cast("string")))
            .otherwise(lit("/about")))
          .otherwise(concat(lit("/p/"), $"doc_id".cast("string"))).as("path"))
      val traps = graft.ingest.Frontier.trapPanel(
        urls, "host", "path", sharePct = 50, minPaths = 10)
      val locs = urls.select($"host", $"doc_id",
        concat(lit("https://"), $"host", $"path").as("loc"))
      val entries = locs.select($"host", $"loc",
        when($"doc_id" % 5 =!= 0,
          concat(lit("2026-08-"),
            lpad((($"doc_id" % 28) + 1).cast("string"), 2, "0")))
          .as("lastmod"))
      val crawlLog = locs.filter($"doc_id" % 3 =!= 0).select($"loc",
        concat(lit("2026-08-"),
          lpad((($"doc_id" % 15) + 1).cast("string"), 2, "0")).as("last_crawl"))
      val plan = graft.ingest.Frontier.recrawlPlan(entries, "loc", "lastmod",
        crawlLog, "loc", "last_crawl", agedCutoff = "2026-08-10")
      val d2 = Tables.load(s, dir, "documents").filter($"doc_id" < 20)
        .select($"doc_id".as("k"), $"source".as("thost"))
      val indeg = docs.select($"doc_id", (($"doc_id" * 3 + 7) % 20).as("k"))
        .join(d2, "k")
        .filter($"doc_id" % ($"k" + 2) === 0)
        .groupBy($"thost")
        .agg(count_distinct($"doc_id").as("n_pages"))
        .withColumnRenamed("thost", "host")
      graft.ingest.Frontier.prioritize(plan, "loc", "host", "reason",
          indeg, "host", "n_pages", traps, "host", "template", "trap")
        .filter($"action" === "fetch")
        .select($"loc", $"host", $"reason", $"authority", $"trapped",
          $"priority")
        .orderBy($"priority".desc, $"loc")
    },

    // ---- redirect-chain resolution (the step between q163's
    // canonicalization — SPELLINGS of one resource — and frontier
    // dedup: 301 chains resolved to endpoints by pointer doubling):
    // chains up to 15 hops (doc_id descends to the block-of-16 floor)
    // against rounds=3 = an 8-hop ceiling, so BOTH boundary classes
    // fire (o ≤ 8 terminal with exact hop counts, o > 8 unresolved);
    // 2-cycles in a /c/ namespace pin the never-terminates class.
    "q167_redirect_resolve" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val chain = docs.filter($"doc_id" % 16 =!= 0).select(
        concat(lit("https://ex.test/p/"), $"doc_id".cast("string")).as("src"),
        concat(lit("https://ex.test/p/"),
          ($"doc_id" - 1).cast("string")).as("dst"))
      val cyc = docs.filter($"doc_id" % 10 === 9).select(
        concat(lit("https://ex.test/c/"), $"doc_id".cast("string")).as("src"),
        concat(lit("https://ex.test/c/"),
          when(expr("doc_id div 10") % 2 === 0, $"doc_id" + 10)
            .otherwise($"doc_id" - 10).cast("string")).as("dst"))
      graft.graph.Redirects.resolve(chain.union(cyc), "src", "dst", rounds = 3)
        .orderBy($"src")
    },

    // ---- fetch-budget apportionment (the quantity half of frontier
    // scheduling — q166 orders, this SIZES: a wave's global fetch
    // budget split across hosts by Hamilton largest-remainder over
    // char mass): exact-sum quotas, all 64-bit integer, the remainder
    // rank two-phase (never a single-task window).
    "q168_budget_apportion" -> { (s, dir) =>
      import s.implicits._
      val mass = docsParallel(s, dir).groupBy($"source")
        .agg(sum($"n_chars").as("mass"))
        .withColumnRenamed("source", "host")
      graft.ingest.Frontier.apportion(mass, "host", "mass", budget = 1000L)
        .orderBy($"host")
    },

    // ---- budgeted politeness schedule (q168's quotas CONSUMED by
    // q152's scheduler — the whole apportionment loop closed): per
    // host, the first quota_h URLs by priority at politeness spacing;
    // the hardCap literal keeps the map-side WindowGroupLimit while
    // the dynamic quota refines behind it.
    "q177_budgeted_schedule" -> { (s, dir) =>
      import s.implicits._
      val docs = docsParallel(s, dir)
      val urls = docs.select($"doc_id", $"source".as("host"),
        ($"doc_id" % 97).as("priority"))
      val delays = docs.select($"source".as("host")).distinct()
        .withColumn("delay_ms", (length($"host") % 3) * 500 + 500)
      val budgets = graft.ingest.Frontier.apportion(
        docs.groupBy($"source").agg(sum($"n_chars").as("mass"))
          .withColumnRenamed("source", "host"),
        "host", "mass", budget = 200L)
      graft.ingest.Frontier.scheduleBudgeted(urls, "doc_id", "host",
          $"priority", delays, defaultDelayMs = 1000L,
          budgets, "host", "quota", hardCap = 200)
        .select($"doc_id", $"host", $"slot",
          $"delay_ms".cast("long").as("delay_ms"),
          $"fetch_offset_ms".cast("long").as("fetch_offset_ms"))
        .orderBy($"host", $"slot")
    },

    // ---- fetch-status triage (the scheduler's health input): a
    // synthesized fetch log with mod-31 status classes — coprime with
    // source = src(doc_id % 20), so every host sees every class —
    // rolled to per-host counts, integer-ppm error rate, backoff at
    // 10%. One map-side-combinable rollup.
    "q178_status_triage" -> { (s, dir) =>
      import s.implicits._
      val log = docsParallel(s, dir).select($"source".as("host"),
        when($"doc_id" % 31 === 0, 500)
          .when($"doc_id" % 31 === 1, 503)
          .when($"doc_id" % 31 < 5, 404)
          .when($"doc_id" % 31 < 7, 301)
          .otherwise(200).as("status"))
      graft.ingest.Frontier.statusTriage(log, "host", "status",
          backoffPpm = 100000L)
        .orderBy($"host")
    },

    "q52_media_decode" -> { (s, dir) =>
      import s.implicits._
      val media = docsParallel(s, dir).select(
          $"doc_id".as("media_id"),
          when($"doc_id" % 2 === 0, "image").otherwise("video").as("kind"),
          $"text".cast("binary").as("bytes"),
          $"source")
        .as[graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.decodeFeatures(media).toDF()
        .select($"media_id", $"kind", $"n_bytes", $"sha256",
          $"width", $"height", $"duration_ms")
        .orderBy($"media_id")
    }
  )

  /** DuckDB twin of [[graft.textops.TextTokens.wordsCol]] — the single
    * words CTE every oracle that tokenizes builds on (shingles here,
    * repetition/TF-IDF in the curation set).
    */
  /** q80's hot-shingle document-frequency cap — mirrored into the
    * oracle. 100 of 500 sf0.01 docs: high enough that real duplicate
    * content joins, low enough that the cap filter is exercised.
    */
  private val ContainCap = 100L

  /** q108: 0.5% support (30 words qualify at every SF — threshold never
    * sits on a count boundary in testdata); capacity 512 ≥ ⌈10⁶/5000⌉ =
    * 200 satisfies the candidate-superset guarantee with slack.
    */
  private val HhSupportPpm = 5000L
  private val HhCapacity = 512
  private val JwThreshold = 0.85
  private val DomainCapK = 5

  /** Sketch-gate shapes (q118-q122). CMS 4×512 keeps the table bounded
    * (≤ 2048 rows) while small enough that sf0.01 word counts actually
    * collide — the estimator's overcount path is exercised, not
    * vacuous. HLL p=8 → 256 registers, W = 52 rank bits (z_int max
    * 256·2^53 = 2^61 < 2^63 — the exact-integer harmonic numerator
    * fits). Bloom 3×16384 over benchmark shingles: ~sf-scaled load
    * factor with a measurable false-positive surplus at sf0.01.
    */
  private val CmsDepth = 4
  private val CmsWidth = 512
  private val HllP = 8
  private val BloomK = 3
  private val BloomM = 16384

  /** Generated q142 oracle: folds the SAME step list as
    * [[graft.textops.TextAnalysis.markdownExtract]], with Java's `$1`
    * group syntax swapped for RE2's `\1`.
    */
  private val MarkdownExtractSql: String = {
    val chain = graft.textops.TextAnalysis.MarkdownSteps.foldLeft("md") {
      case (acc, (p, r)) =>
        s"regexp_replace($acc, '$p', '${r.replace("$", "\\")}', 'g')"
    }
    val text = s"trim(regexp_replace($chain, '\\s+', ' ', 'g'))"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    '# Doc ' || doc_id || chr(10) || chr(10) ||
       |    '> quoted intro' || chr(10) || chr(10) ||
       |    '**Bold start** and *emphasis* with `inline()` code.' || chr(10) || chr(10) ||
       |    text || chr(10) || chr(10) ||
       |    '- first [link text](https://x.test/a)' || chr(10) ||
       |    '- second ![alt words](img.png)' || chr(10) || chr(10) ||
       |    '```' || chr(10) || 'code block to drop' || chr(10) || '```' ||
       |    chr(10) || chr(10) || '_tail_' AS md
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(length(md) AS BIGINT) AS n_raw_chars,
       |  $text AS text_extracted,
       |  CAST(length($text) AS BIGINT) AS n_text_chars
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  /** Generated q135 oracle: the strip chain folds left over the same
    * (pattern, replacement) list as
    * [[graft.textops.TextAnalysis.htmlExtract]].
    */
  private val HtmlExtractSql: String = {
    val steps = Seq(
      ("(?is)<script[^>]*>.*?</script>", ""),
      ("(?is)<style[^>]*>.*?</style>", ""),
      ("(?s)<!--.*?-->", ""),
      ("(?is)<[^>]*>", " "),
      ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
      ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"))
    val chain = steps.foldLeft("page") { case (acc, (p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    val text = s"trim(regexp_replace($chain, '\\s+', ' ', 'g'))"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc ' || doc_id || '</title><script>var x=1; if(x<2){x=3;}</script><style>.a{color:red}</style></head><body><h1>Doc ' || doc_id || '</h1><p>' || text || '</p>' ||
       |    CASE WHEN doc_id % 3 = 0 THEN '<ul><li>alpha &amp; beta</li><li>&quot;gamma&quot;</li></ul>' ELSE '' END ||
       |    '<!-- generated --><footer><a href="/about">about</a> &copy; 2026</footer></body></html>' AS page
       |  FROM documents),
       |x AS (SELECT doc_id, page, $text AS text_extracted FROM aug)
       |SELECT doc_id,
       |  CAST(length(page) AS BIGINT) AS n_raw_chars,
       |  CAST(len(string_split_regex(page, '<[^>]+>')) - 1 AS BIGINT) AS n_tags,
       |  CAST(len(string_split_regex(page, '(?i)<a[\\s>]')) - 1 AS BIGINT) AS n_links,
       |  text_extracted,
       |  CAST(length(text_extracted) AS BIGINT) AS n_text_chars,
       |  CASE WHEN length(page) > 0
       |       THEN CAST(length(text_extracted) AS DOUBLE) / length(page)
       |       ELSE 0.0 END AS text_ratio
       |FROM x ORDER BY doc_id""".stripMargin
  }

  private[queries] val WordsCte =
    """WITH words AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS ws
      |  FROM documents
      |)""".stripMargin

  // Both CTEs mirror NearDup.shinglesCol EXACTLY, including the
  // short-document rule: a doc with 1..n-1 words contributes ONE
  // shingle of all its words joined (a missing UNION ALL branch here
  // would silently drop short docs on the oracle side only — invisible
  // until the generator emits one, then a gate hash mismatch).
  private[queries] val ShinglesCte = WordsCte +
    """, sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |    FROM words, unnest(generate_series(1, len(ws) - 2)) AS t(i)
      |    WHERE len(ws) >= 3
      |    UNION ALL
      |    SELECT doc_id, array_to_string(ws, ' ') AS shingle
      |    FROM words WHERE len(ws) BETWEEN 1 AND 2)
      |)""".stripMargin

  /** Multiplicity-keeping variant (simhash weights repeated shingles). */
  private val ShinglesAllCte = WordsCte +
    """, sha AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |  FROM words, unnest(generate_series(1, len(ws) - 2)) AS t(i)
      |  WHERE len(ws) >= 3
      |  UNION ALL
      |  SELECT doc_id, array_to_string(ws, ' ') AS shingle
      |  FROM words WHERE len(ws) BETWEEN 1 AND 2
      |)""".stripMargin

  /** The 60-bit cross-engine shingle hash — DuckDB mirror of
    * [[graft.textops.NearDup.shingleHash60]].
    *
    * RELATION-ALIGNMENT RULE (the r7 q89 lesson): whenever the ENGINE
    * aggregates over hashed shingles, the oracle must derive its
    * aggregate from the SAME hash relation (an `xs AS (SELECT DISTINCT
    * doc_id, $HashSql AS h FROM sh)` CTE), never from raw `sh` — a
    * single cross-doc hash collision otherwise diverges the integers
    * while row counts still match. Audit of every shingle-based gate:
    *  - q17/q35 (minhash): hash-aligned (`xs` CTE below).
    *  - q85 (contamination score): hash-aligned (`xs` CTE in
    *    Curation.scala).
    *  - q89 (soft-dedup): hash-aligned (`xs` CTE) as of r8.
    *  - q98 (KMV overlap): hash-aligned (`ha`/`hb` CTEs).
    *  - q16 (jaccard), q80 (containment), q21 (min-md5 fingerprint),
    *    q59 (top n-grams): BOTH engines aggregate the raw-shingle
    *    relation (no hashing anywhere) — collision-insensitive by
    *    construction.
    */
  private[queries] val HashSql = "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)"


  /** The q17 pair derivation as a reusable CTE chain ending in
    * `mh_pairs(id_a, id_b, jaccard)` — q17 selects from it directly;
    * the dedup-clustering oracle (q35) stacks a recursive
    * connected-components CTE on top of it.
    */
  private[queries] def minhashPairsCte(bands: Int, rowsPerBand: Int, threshold: Double,
      candPredicate: String = "a.doc_id < b.doc_id"): String = {
    val P = graft.textops.NearDup.MinhashPrime
    val params = graft.textops.NearDup.minhashParams(bands * rowsPerBand)
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * (h % $P) + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandRows = (0 until bands).map { j =>
      val cols = (j * rowsPerBand until (j + 1) * rowsPerBand).map(i => s"m$i").mkString(", ")
      s"SELECT doc_id, $j AS band, concat_ws('_', $cols) AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
    // verify joins on the 60-bit shingle HASH (like the Spark side) —
    // identical values both engines, so even collisions agree
    ShinglesCte + s""", xs AS (
      |  SELECT DISTINCT doc_id, $HashSql AS h FROM sh
      |), sigs AS (
      |  SELECT doc_id, $mins FROM xs GROUP BY doc_id
      |), bands AS ($bandRows
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_key = b.band_key AND $candPredicate
      |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM xs GROUP BY doc_id),
      |common AS (
      |  SELECT id_a, id_b, COUNT(*) AS cnt
      |  FROM cand
      |    JOIN xs sa ON sa.doc_id = id_a
      |    JOIN xs sb ON sb.doc_id = id_b AND sb.h = sa.h
      |  GROUP BY 1, 2),
      |mh_pairs AS (
      |  SELECT id_a, id_b,
      |         CAST(COALESCE(cnt, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(cnt, 0)) AS jaccard
      |  FROM cand LEFT JOIN common USING (id_a, id_b)
      |    JOIN sizes sa ON sa.doc_id = id_a
      |    JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(COALESCE(cnt, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(cnt, 0)) >= $threshold
      |)""".stripMargin
  }

  /** DuckDB mirror of [[graft.textops.NearDup.minhashLshPairs]], generated
    * from the SAME permutation params so both engines hash identically.
    * Params must match the q17 queries entry (bands=16, r=4, thr=0.5).
    */
  private def minhashOracleSql(bands: Int, rowsPerBand: Int, threshold: Double): String =
    minhashPairsCte(bands, rowsPerBand, threshold) +
      "\nSELECT id_a, id_b, jaccard FROM mh_pairs"

  /** DuckDB mirror of [[graft.textops.NearDup.simhashPairs]] (q18:
    * maxDistance=3). Same 60-bit hash, same per-bit sign sums, same
    * pigeonhole block bucketing.
    */
  private def simhashOracleSql(maxDistance: Int): String = {
    val bits = graft.textops.NearDup.SimhashBits
    val blocks = maxDistance + 1
    val width = bits / blocks
    val mask = (1L << width) - 1
    val sums = (0 until bits).map { i =>
      s"SUM(CASE WHEN ((x >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS c$i"
    }.mkString(", ")
    val fp = (0 until bits).map { i =>
      s"(CASE WHEN c$i > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val blockVals = (0 until blocks).map(b => s"($b)").mkString(", ")
    ShinglesAllCte + s""", xs AS (
      |  SELECT doc_id, $HashSql AS x FROM sha
      |), counts AS (
      |  SELECT doc_id, $sums FROM xs GROUP BY doc_id
      |), fps AS (
      |  SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM counts
      |), keyed AS (
      |  SELECT doc_id, fp, block, (fp >> (block * $width)) & $mask AS key
      |  FROM fps, (VALUES $blockVals) b(block)
      |)
      |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS distance
      |FROM keyed a JOIN keyed b
      |  ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= $maxDistance""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q15_brute_vocab_search" ->
      """SELECT doc_id, c AS concept
        |FROM documents, (VALUES
        |  ('SparkCompute', '\b(sparkcompute|spark)\b'),
        |  ('JoinOps',      '\b(joinops|join|merge)\b'),
        |  ('Filtering',    '\b(filtering|filter|scan)\b'),
        |  ('Windowing',    '\b(windowing|window)\b')) v(c, pat)
        |WHERE regexp_matches(lower(text), pat)""".stripMargin,

    "q16_ngram_jaccard_pairs" -> (ShinglesCte +
      """, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5""".stripMargin),

    // df over the 60-BIT HASH relation — the identical relation the
    // engine aggregates (CurationOps.softDedupWeights distincts on
    // shingleHash60), so even a cross-doc hash collision produces the
    // same integers on both sides (the q17 "xs" discipline; aggregating
    // raw shingles here was the suite's one engine/oracle relation
    // asymmetry — the driver's r07 hash-red channel).
    "q89_soft_dedup_weights" -> (ShinglesCte +
      s""", xs AS (SELECT DISTINCT doc_id, $HashSql AS h FROM sh
        |), dfreq AS (SELECT h, COUNT(*) AS df FROM xs GROUP BY h
        |), agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |         CAST(SUM(df) AS BIGINT) AS sum_df
        |  FROM xs JOIN dfreq USING (h) GROUP BY doc_id)
        |SELECT doc_id, n_shingles, sum_df,
        |       CAST((sum_df * 1000000000) // n_shingles AS BIGINT) AS commonness_e9,
        |       CAST((n_shingles * 1000000000) // sum_df AS BIGINT) AS weight_e9
        |FROM agg""".stripMargin),

    // Same regex chain as TextTokens.dedupKeyCol with RE2's 'g' flag
    // (Spark's regexp_replace is global by default; DuckDB's is not).
    "q81_normalized_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(regexp_replace(
        |           lower(text), '[0-9]+', '0', 'g'),
        |           '[^a-z0-9 \t\n\x0B\f\r]+', ' ', 'g'),
        |           '[ \t\n\x0B\f\r]+', ' ', 'g')) AS k
        |  FROM documents)
        |GROUP BY k""".stripMargin,

    // The fuse-rule gate shares q81's oracle verbatim: the engine
    // side authors the regex chain and the rule rewrites it, so the
    // oracle mirrors the chain exactly as q81's does.
    "q186_dedup_fuse_rule" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(regexp_replace(
        |           lower(text), '[0-9]+', '0', 'g'),
        |           '[^a-z0-9 \t\n\x0B\f\r]+', ' ', 'g'),
        |           '[ \t\n\x0B\f\r]+', ' ', 'g')) AS k
        |  FROM documents)
        |GROUP BY k""".stripMargin,

    // Same distinct-shingle relation as q16; the df cap applies to the
    // JOIN only (sizes stay uncapped — the lower-bound contract), and
    // pairs emit in BOTH orientations with A's size as denominator.
    "q80_containment_pairs" -> (ShinglesCte +
      s""", sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |capped AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle,
        |           COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= $ContainCap),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        |  FROM capped a JOIN capped b USING (shingle)
        |  WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, sa.n AS size_a, c AS n_common,
        |       CAST(c AS DOUBLE) / sa.n AS containment
        |FROM common JOIN sizes sa ON sa.doc_id = id_a
        |WHERE CAST(c AS DOUBLE) / sa.n >= 0.5""".stripMargin),

    "q17_minhash_lsh_pairs" -> minhashOracleSql(bands = 16, rowsPerBand = 4, threshold = 0.5),

    "q18_simhash_pairs" -> simhashOracleSql(maxDistance = 3),

    // Same augmented text (identical literal in this same source
    // file); counts via global regexp_replace ('g' — DuckDB is
    // per-first-match by default), ranges as RE2 hex escapes.
    "q115_script_mix" ->
      """WITH r AS (
        |  SELECT doc_id, text || ' Привет мир 你好世界 1234' AS aug FROM documents)
        |SELECT doc_id, length(aug) AS n_cp,
        |  CASE WHEN length(aug) > 0 THEN CAST(length(aug) -
        |    length(regexp_replace(aug, '[A-Za-z]', '', 'g')) AS DOUBLE) / length(aug)
        |    ELSE 0.0 END AS latin_frac,
        |  CASE WHEN length(aug) > 0 THEN CAST(length(aug) -
        |    length(regexp_replace(aug, '[0-9]', '', 'g')) AS DOUBLE) / length(aug)
        |    ELSE 0.0 END AS digit_frac,
        |  CASE WHEN length(aug) > 0 THEN CAST(length(aug) -
        |    length(regexp_replace(aug, '[\x{0400}-\x{04FF}]', '', 'g')) AS DOUBLE) / length(aug)
        |    ELSE 0.0 END AS cyrillic_frac,
        |  CASE WHEN length(aug) > 0 THEN CAST(length(aug) -
        |    length(regexp_replace(aug, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS DOUBLE) / length(aug)
        |    ELSE 0.0 END AS han_frac
        |FROM r ORDER BY doc_id""".stripMargin,

    // Independent UAX #15 implementation (utf8proc) over the same
    // constructed decomposed strings; lengths in code points both
    // engines.
    "q114_nfc_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, text || ' ' || CASE doc_id % 5
        |    WHEN 0 THEN 'e' || chr(769)
        |    WHEN 1 THEN 'A' || chr(776) || 'b'
        |    WHEN 2 THEN 'n' || chr(771)
        |    WHEN 3 THEN 'c' || chr(807)
        |    ELSE 'o' || chr(770) || chr(769) END AS raw
        |  FROM documents)
        |SELECT doc_id, length(raw) AS raw_cp,
        |       nfc_normalize(raw) AS normalized,
        |       length(nfc_normalize(raw)) AS norm_cp
        |FROM r ORDER BY doc_id""".stripMargin,

    // Same generated CTE chain as q17 (signatures are per-doc, so
    // computing them over the union then restricting the candidate join
    // to cross-corpus sides is the two-corpus computation exactly);
    // only the candidate predicate changes.
    "q113_cross_corpus_pairs" ->
      (minhashPairsCte(bands = 16, rowsPerBand = 4, threshold = 0.5,
        candPredicate = "(a.doc_id % 3) <> 0 AND (b.doc_id % 3) = 0") +
        "\nSELECT id_a, id_b, jaccard FROM mh_pairs"),

    "q19_text_quality" ->
      """WITH w AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id, n_chars, len(ws) AS n_words,
        |  CASE WHEN len(ws) > 0
        |       THEN CAST(n_chars - len(ws) + 1 AS DOUBLE) / len(ws) ELSE 0.0 END AS avg_word_len,
        |  CASE WHEN len(ws) > 0
        |       THEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) ELSE 0.0 END AS distinct_ratio,
        |  len(list_intersect(ws, ['the','and','of','to','in','is','a'])) AS stopword_hits,
        |  round((CASE WHEN len(ws) BETWEEN 10 AND 100000 THEN 1.0
        |              WHEN len(ws) > 0 THEN 0.5 ELSE 0.0 END)
        |        * (0.5 + 0.5 * CASE WHEN len(ws) > 0
        |             THEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) ELSE 0.0 END), 6) AS quality
        |FROM w""".stripMargin,

    "q20_lang_id" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |scores AS (
        |  SELECT doc_id, lang, len(list_intersect(ws, markers)) AS hits
        |  FROM w, (VALUES
        |    ('de', ['der','die','und','das','ist','ein','nicht']),
        |    ('en', ['the','and','of','to','in','is','a']),
        |    ('es', ['el','la','los','de','que','es','una']),
        |    ('fr', ['le','la','et','les','des','est','une'])) v(lang, markers)),
        |best AS (
        |  SELECT doc_id, lang, hits,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
        |  FROM scores)
        |SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'unknown' END AS lang_pred
        |FROM best WHERE rn = 1""".stripMargin,

    "q21_doc_fingerprint" -> (ShinglesCte +
      """
        |SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id""".stripMargin),

    // Multiplicity-keeping TRUE trigrams only (the len >= 3 branch —
    // no whole-short-doc fallback, mirroring the Spark-side filter):
    // frequency tables count every occurrence. Full ORDER BY + LIMIT is
    // deterministic under the (n DESC, trigram ASC) total order.
    // DISTINCT (doc, term) then an ordered list aggregate; the HAVING
    // band mirrors the Spark side's integer-exact corpus-fraction
    // bounds (df ≥ N/100, df ≤ 0.9·N). Postings serialize to a
    // comma-joined string (ordered numerically first) — pandas cannot
    // hash ndarray cells, so both sides ship flat strings.
    "q62_inverted_index" -> (WordsCte +
      """, dt AS (SELECT DISTINCT doc_id, unnest(ws) AS term FROM words),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         |FROM dt, nd GROUP BY term, n_docs
         |HAVING COUNT(*) * 100 >= n_docs AND COUNT(*) * 10 <= n_docs * 9""".stripMargin),

    "q59_top_ngrams" -> (WordsCte +
      """, tg AS (
        |  SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS trigram
        |  FROM words, unnest(generate_series(1, len(ws) - 2)) AS t(i)
        |  WHERE len(ws) >= 3)
        |SELECT trigram, COUNT(*) AS n FROM tg
        |GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin),

    // The heavy-hitter output is EXACT (two-pass sketch+verify on the
    // Spark side), so the oracle is the direct support-threshold HAVING
    // over the same word relation; the comparison is pure integers.
    "q108_heavy_hitters" -> (WordsCte +
      s""", w AS (SELECT unnest(ws) AS item FROM words),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM w)
        |SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt, n.n_total
        |FROM w, n
        |GROUP BY item, n.n_total
        |HAVING CAST(COUNT(*) AS BIGINT) * 1000000 >= n.n_total * $HhSupportPpm
        |ORDER BY cnt DESC, item ASC""".stripMargin),

    // The CMS table cell-for-cell: the salted 60-bit md5 (HashSql with
    // the row index folded into the hashed string) mod width, counted.
    // q-digest mirrors (generated — see qdigestCte)
    "q155_qdigest" -> (qdigestCte(QdLogU, QdK) +
      "\nSELECT id, lo, hi, cnt FROM geo ORDER BY id"),

    // grouped q-digest mirror (generated — see qdigestCteGrouped)
    "q160_qdigest_by_host" -> (qdigestCteGrouped(QdLatLogU, QdK, QdLatValsSql) +
      "\nSELECT g AS host, id, lo, hi, cnt FROM geo ORDER BY host, id"),

    // crawl-trap mirror: the same hex→H / digit→N fold (DuckDB's
    // regexp_replace needs the 'g' flag Spark applies by default),
    // window total per host, integer-// share, CASTs pinning BIGINT
    "q161_crawl_traps" ->
      """WITH urls AS (
        |  SELECT source AS host,
        |    CASE WHEN length(source) % 2 = 0 THEN
        |      CASE WHEN doc_id % 7 <> 3
        |           THEN '/cal/' || CAST(doc_id % 28 + 1 AS VARCHAR) || '/' || CAST(doc_id % 12 + 1 AS VARCHAR)
        |           ELSE '/about' END
        |    ELSE
        |      CASE WHEN doc_id % 7 = 0 THEN '/id/' || md5(CAST(doc_id AS VARCHAR))
        |           WHEN doc_id % 3 = 0 THEN '/home'
        |           WHEN doc_id % 3 = 1 THEN '/about'
        |           ELSE '/contact' END
        |    END AS path
        |  FROM documents),
        |t AS (
        |  SELECT host, path,
        |    regexp_replace(regexp_replace(lower(path), '[0-9a-f]{8,}', 'H', 'g'),
        |                   '[0-9]+', 'N', 'g') AS template
        |  FROM urls),
        |a AS (
        |  SELECT host, template, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |         CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths
        |  FROM t GROUP BY host, template),
        |s AS (
        |  SELECT host, template, n_urls, n_paths,
        |    CAST((n_urls * 100) // CAST(SUM(n_urls) OVER (PARTITION BY host) AS BIGINT) AS BIGINT) AS share_pct
        |  FROM a)
        |SELECT host, template, n_urls, n_paths, share_pct,
        |  CASE WHEN share_pct >= 50 AND n_paths >= 10 THEN 1 ELSE 0 END AS trap
        |FROM s ORDER BY host, template""".stripMargin,

    // anchor-text mirror: the [[anchorPages]] template, two parallel
    // regexp_extract_all unnests (DuckDB zips same-SELECT unnests
    // positionally — the lists are same-length by construction, one
    // pattern), the engine's drop rules, one rollup
    "q164_anchor_text" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |    '<p>' || text || '</p>' ||
        |    '<a href="https://t' || CAST(doc_id % 6 AS VARCHAR) || '.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '"> Read In ' || upper(lang) || ' </a>' ||
        |    CASE WHEN doc_id % 3 = 0 THEN '<a rel="nofollow" href="https://t' || CAST(doc_id % 6 AS VARCHAR) || '.test/p/' || CAST(doc_id % 40 AS VARCHAR) || '">Click HERE</a>' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '<a href="https://t0.test/banner"></a>' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '<a href="https://t1.test/img"><b>x</b></a>' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '<a href="/local">home</a>' ELSE '' END ||
        |    CASE WHEN doc_id % 8 = 0 THEN '<a href="#x">top</a>' ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN '<a href="mailto:a@b.test">mail</a>' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN '<a data-href="/decoy">d</a>' ELSE '' END AS page
        |  FROM documents),
        |ae AS (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(page, '${graft.textops.TextAnalysis.AnchorRe}', 1)) AS href,
        |         unnest(regexp_extract_all(page, '${graft.textops.TextAnalysis.AnchorRe}', 2)) AS anchor0
        |  FROM aug),
        |ke AS (
        |  SELECT doc_id, href, trim(lower(anchor0)) AS anchor,
        |         CASE WHEN regexp_matches(href, '(?i)^https?://')
        |              THEN lower(regexp_extract(href, '(?i)^https?://([^/]+)', 1)) END AS host
        |  FROM ae
        |  WHERE length(href) > 0
        |    AND NOT regexp_matches(lower(href), '^(mailto|javascript):'))
        |SELECT host, anchor,
        |       CAST(COUNT(*) AS BIGINT) AS n_links,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM ke WHERE host IS NOT NULL
        |GROUP BY host, anchor
        |ORDER BY host, anchor""".stripMargin,

    // host PageRank mirror: q148's edge relation keyed by the linking
    // doc's host, then the generated round unroll (see pagerankRounds)
    "q165_host_pagerank" -> (OutlinkCte + s""",
        |$HostEdgesCte,
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pr_nodes),
        |pr_tw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM pr_edges GROUP BY src),
        |r0 AS (SELECT host, CAST(1000000000000 AS BIGINT) AS rank FROM pr_nodes),
        |${pagerankRounds(PrIters)}
        |SELECT host, rank AS rank_pp FROM r$PrIters ORDER BY host""".stripMargin),

    // HITS mirror: the same host-graph relation, the generated
    // half-step/max-normalize unroll (see hitsRounds)
    "q169_host_hits" -> (OutlinkCte + s""",
        |$HostEdgesCte,
        |h0 AS (SELECT host AS node, CAST(100000 AS BIGINT) AS s FROM pr_nodes),
        |${hitsRounds(HitsIters, 100000L)}
        |SELECT h$HitsIters.node AS host, h$HitsIters.s AS hub, a$HitsIters.s AS auth
        |FROM h$HitsIters JOIN a$HitsIters ON h$HitsIters.node = a$HitsIters.node
        |ORDER BY host""".stripMargin),

    // frontier priority mirror: q161's trap fold + q158's freshness
    // classes + the residue-filtered in-degree, folded by the
    // band*1e6+authority law; the oracle derives the template from the
    // synthesized PATH directly (independent of the engine's loc→path
    // re-extraction — which this therefore tests)
    "q166_frontier_priority" ->
      """WITH urls AS (
        |  SELECT source AS host, doc_id,
        |    CASE WHEN length(source) % 2 = 0 THEN
        |      CASE WHEN doc_id % 7 <> 3
        |           THEN '/cal/' || CAST(doc_id % 28 + 1 AS VARCHAR) || '/' || CAST(doc_id % 12 + 1 AS VARCHAR)
        |           ELSE '/about' END
        |    ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        |a AS (
        |  SELECT host, template, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |         CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths
        |  FROM (SELECT host, path,
        |          regexp_replace(regexp_replace(lower(path), '[0-9a-f]{8,}', 'H', 'g'),
        |                         '[0-9]+', 'N', 'g') AS template
        |        FROM urls)
        |  GROUP BY host, template),
        |tr AS (
        |  SELECT host, template FROM (
        |    SELECT host, template, n_paths,
        |      CAST((n_urls * 100) // CAST(SUM(n_urls) OVER (PARTITION BY host) AS BIGINT) AS BIGINT) AS share_pct
        |    FROM a)
        |  WHERE share_pct >= 50 AND n_paths >= 10),
        |locs AS (
        |  SELECT host, doc_id, path, 'https://' || host || path AS loc FROM urls),
        |entries AS (
        |  SELECT host, doc_id, path, loc,
        |    CASE WHEN doc_id % 5 <> 0
        |         THEN '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END AS lastmod
        |  FROM locs),
        |log AS (
        |  SELECT loc, '2026-08-' || lpad(CAST(doc_id % 15 + 1 AS VARCHAR), 2, '0') AS last_crawl
        |  FROM locs WHERE doc_id % 3 <> 0),
        |plan AS (
        |  SELECT e.host, e.loc,
        |    regexp_replace(regexp_replace(lower(e.path), '[0-9a-f]{8,}', 'H', 'g'),
        |                   '[0-9]+', 'N', 'g') AS template,
        |    CASE WHEN l.last_crawl IS NULL THEN 'new'
        |         WHEN e.lastmod IS NOT NULL THEN
        |           CASE WHEN e.lastmod > l.last_crawl THEN 'stale' ELSE 'fresh' END
        |         ELSE CASE WHEN l.last_crawl < '2026-08-10' THEN 'aged' ELSE 'unclaimed' END
        |    END AS reason,
        |    CASE WHEN l.last_crawl IS NULL THEN 'fetch'
        |         WHEN e.lastmod IS NOT NULL THEN
        |           CASE WHEN e.lastmod > l.last_crawl THEN 'fetch' ELSE 'skip' END
        |         ELSE CASE WHEN l.last_crawl < '2026-08-10' THEN 'fetch' ELSE 'skip' END
        |    END AS action
        |  FROM entries e LEFT JOIN log l ON e.loc = l.loc),
        |ind AS (
        |  SELECT d2.source AS host, CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_pages
        |  FROM documents d JOIN documents d2 ON d2.doc_id = (d.doc_id * 3 + 7) % 20
        |  WHERE d2.doc_id < 20 AND d.doc_id % (d2.doc_id + 2) = 0
        |  GROUP BY 1),
        |p AS (
        |  SELECT pl.loc, pl.host, pl.reason, pl.action,
        |    CAST(least(COALESCE(i.n_pages, 0), 999999) AS BIGINT) AS authority,
        |    CASE WHEN tr.host IS NOT NULL THEN 1 ELSE 0 END AS trapped
        |  FROM plan pl
        |  LEFT JOIN ind i ON pl.host = i.host
        |  LEFT JOIN tr ON tr.host = pl.host AND tr.template = pl.template)
        |SELECT loc, host, reason, authority, trapped,
        |  CAST((CASE WHEN trapped = 1 THEN 0
        |             WHEN reason = 'new' THEN 3
        |             WHEN reason = 'stale' THEN 2
        |             WHEN reason = 'aged' THEN 1 ELSE 0 END) * 1000000 + authority AS BIGINT) AS priority
        |FROM p WHERE action = 'fetch'
        |ORDER BY priority DESC, loc""".stripMargin,

    // redirect mirror: the chain/cycle synthesis, the generated
    // pointer-doubling unroll, and the terminal probe against the raw
    // (functional) edge list
    "q167_redirect_resolve" -> (s"""WITH e AS (
        |  SELECT 'https://ex.test/p/' || CAST(doc_id AS VARCHAR) AS src,
        |         'https://ex.test/p/' || CAST(doc_id - 1 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 16 <> 0
        |  UNION ALL
        |  SELECT 'https://ex.test/c/' || CAST(doc_id AS VARCHAR),
        |         'https://ex.test/c/' || CAST(CASE WHEN (doc_id // 10) % 2 = 0
        |                                           THEN doc_id + 10
        |                                           ELSE doc_id - 10 END AS VARCHAR)
        |  FROM documents WHERE doc_id % 10 = 9),
        |f0 AS (SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM e),
        |${redirectRounds(3)}
        |SELECT f.src, f.dst AS target, f.hops,
        |       CASE WHEN t.src IS NULL THEN 1 ELSE 0 END AS terminal
        |FROM f3 f LEFT JOIN e t ON f.dst = t.src
        |ORDER BY f.src""".stripMargin),

    // apportionment mirror: base = (B·mass)//total, top-ups by global
    // remainder rank (the oracle may use a plain global window —
    // DuckDB is single-node; the ENGINE's two-phase rank is the part
    // under test), every SUM CAST to BIGINT
    "q168_budget_apportion" ->
      """WITH m AS (
        |  SELECT source AS host, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t FROM m),
        |b AS (
        |  SELECT host, mass,
        |         CAST((1000 * mass) // tot.t AS BIGINT) AS base,
        |         CAST((1000 * mass) % tot.t AS BIGINT) AS rem
        |  FROM m CROSS JOIN tot),
        |l AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover FROM b),
        |r AS (
        |  SELECT host, mass, base,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS rk
        |  FROM b)
        |SELECT r.host, r.mass,
        |       CAST(r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r CROSS JOIN l
        |ORDER BY r.host""".stripMargin,

    // First-match via MIN_BY over the cumulative walk instead of a
    // correlated ORDER BY … LIMIT 1 subquery (r10 version-portability:
    // `cum` is strictly increasing along the (hi asc, lo desc) walk —
    // every digest node carries cnt > 0 — so the first node with
    // cum >= rank is exactly the one minimizing cum, tie-free).
    "q156_qdigest_quantiles" -> (qdigestCte(QdLogU, QdK) +
      s""",
        |o AS (
        |  SELECT *, CAST(SUM(cnt) OVER (ORDER BY hi ASC, lo DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM geo),
        |r AS (
        |  SELECT j, CAST((th.n * j + 19) // 20 AS BIGINT) AS rank
        |  FROM th CROSS JOIN (VALUES ${QdTwentieths.map(j => s"($j)").mkString(", ")}) v(j))
        |SELECT r.j AS twentieths, r.rank,
        |       MIN_BY(o.hi - 1, o.cum) AS value
        |FROM r JOIN o ON o.cum >= r.rank
        |GROUP BY r.j, r.rank
        |ORDER BY r.j""".stripMargin),

    // digest-floor mirror: the q155 chain + the q156 MIN_BY walk at
    // j=2, CROSS JOINed into a per-doc admission flag
    "q175_digest_length_floor" -> (qdigestCte(QdLogU, QdK) +
      """,
        |o AS (
        |  SELECT *, CAST(SUM(cnt) OVER (ORDER BY hi ASC, lo DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM geo),
        |rk AS (SELECT CAST((th.n * 2 + 19) // 20 AS BIGINT) AS rank FROM th),
        |fv AS (
        |  SELECT CAST(MIN_BY(o.hi - 1, o.cum) AS BIGINT) AS v
        |  FROM rk JOIN o ON o.cum >= rk.rank)
        |SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS n_words,
        |       fv.v AS floor_value,
        |       CASE WHEN CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) >= fv.v
        |            THEN 1 ELSE 0 END AS admitted
        |FROM documents CROSS JOIN fv
        |ORDER BY doc_id""".stripMargin),

    // budgeted-schedule mirror: the q168 apportionment chain at
    // budget 200, then per-host priority ranks joined against quota
    // and delay tables — every emitted column BIGINT
    "q177_budgeted_schedule" ->
      """WITH m AS (
        |  SELECT source AS host, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t FROM m),
        |bse AS (
        |  SELECT host, mass,
        |         CAST((200 * mass) // tot.t AS BIGINT) AS base,
        |         CAST((200 * mass) % tot.t AS BIGINT) AS rem
        |  FROM m CROSS JOIN tot),
        |l AS (SELECT CAST(200 - SUM(base) AS BIGINT) AS leftover FROM bse),
        |rr AS (
        |  SELECT host, base,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS rk
        |  FROM bse),
        |q AS (
        |  SELECT rr.host,
        |         CAST(rr.base + CASE WHEN rr.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM rr CROSS JOIN l),
        |urls AS (
        |  SELECT doc_id, source AS host, doc_id % 97 AS priority
        |  FROM documents),
        |d AS (
        |  SELECT DISTINCT source AS host,
        |         (length(source) % 3) * 500 + 500 AS delay_ms
        |  FROM documents),
        |rn AS (
        |  SELECT u.doc_id, u.host,
        |         ROW_NUMBER() OVER (PARTITION BY u.host
        |                            ORDER BY u.priority DESC, u.doc_id ASC) AS rn
        |  FROM urls u)
        |SELECT rn.doc_id, rn.host, CAST(rn.rn - 1 AS BIGINT) AS slot,
        |       CAST(d.delay_ms AS BIGINT) AS delay_ms,
        |       CAST((rn.rn - 1) * d.delay_ms AS BIGINT) AS fetch_offset_ms
        |FROM rn
        |JOIN q ON rn.host = q.host
        |JOIN d ON rn.host = d.host
        |WHERE rn.rn <= q.quota
        |ORDER BY rn.host, slot""".stripMargin,

    // status-triage mirror: identical class CASEs, integer-// ppm,
    // every SUM CAST to BIGINT
    "q178_status_triage" ->
      """WITH log AS (
        |  SELECT source AS host,
        |    CASE WHEN doc_id % 31 = 0 THEN 500
        |         WHEN doc_id % 31 = 1 THEN 503
        |         WHEN doc_id % 31 < 5 THEN 404
        |         WHEN doc_id % 31 < 7 THEN 301
        |         ELSE 200 END AS status
        |  FROM documents),
        |p AS (
        |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_fetches,
        |    CAST(SUM(CASE WHEN status BETWEEN 200 AND 299 THEN 1 ELSE 0 END) AS BIGINT) AS n_2xx,
        |    CAST(SUM(CASE WHEN status BETWEEN 300 AND 399 THEN 1 ELSE 0 END) AS BIGINT) AS n_3xx,
        |    CAST(SUM(CASE WHEN status BETWEEN 400 AND 499 THEN 1 ELSE 0 END) AS BIGINT) AS n_4xx,
        |    CAST(SUM(CASE WHEN status BETWEEN 500 AND 599 THEN 1 ELSE 0 END) AS BIGINT) AS n_5xx
        |  FROM log GROUP BY host)
        |SELECT host, n_fetches, n_2xx, n_3xx, n_4xx, n_5xx,
        |       CAST((n_4xx + n_5xx) * 1000000 // n_fetches AS BIGINT) AS error_ppm,
        |       CASE WHEN (n_4xx + n_5xx) * 1000000 // n_fetches >= 100000
        |            THEN 1 ELSE 0 END AS backoff
        |FROM p ORDER BY host""".stripMargin,

    "q118_cms_sketch" -> (WordsCte +
      s""", w AS (SELECT unnest(ws) AS item FROM words),
        |c AS (
        |  SELECT i AS sk_row,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || item), 1, 15)) AS BIGINT)
        |           % $CmsWidth AS bucket
        |  FROM w, unnest(generate_series(0, ${CmsDepth - 1})) AS t(i))
        |SELECT sk_row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM c GROUP BY 1, 2 ORDER BY sk_row, bucket""".stripMargin),

    // Point estimates: min over the depth rows of the probed cells,
    // next to the exact counts of the same bounded probe set.
    "q119_cms_estimates" -> (WordsCte +
      s""", w AS (SELECT unnest(ws) AS item FROM words),
        |pr AS (
        |  SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |  FROM w GROUP BY 1 ORDER BY item ASC LIMIT 50),
        |c AS (
        |  SELECT i AS sk_row,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || item), 1, 15)) AS BIGINT)
        |           % $CmsWidth AS bucket
        |  FROM w, unnest(generate_series(0, ${CmsDepth - 1})) AS t(i)),
        |sk AS (SELECT sk_row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM c GROUP BY 1, 2),
        |pc AS (
        |  SELECT pr.item, t.i AS sk_row,
        |         CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || pr.item), 1, 15)) AS BIGINT)
        |           % $CmsWidth AS bucket
        |  FROM pr, unnest(generate_series(0, ${CmsDepth - 1})) AS t(i)),
        |est AS (
        |  SELECT pc.item,
        |         MIN(coalesce(sk.cnt, CAST(0 AS BIGINT))) AS cms_est
        |  FROM pc LEFT JOIN sk USING (sk_row, bucket)
        |  GROUP BY 1)
        |SELECT pr.item, pr.exact_cnt, est.cms_est
        |FROM pr JOIN est USING (item) ORDER BY item""".stripMargin),

    // HLL registers: idx = top-8 hash bits, rank = 53 − bitlength of
    // the low 52 bits (bin() drops leading zeros in both engines;
    // all-zero rest saturates at 53), register = max rank.
    "q120_hll_registers" -> (WordsCte +
      """, w AS (SELECT unnest(ws) AS item FROM words),
        |h AS (SELECT CAST(('0x' || substr(md5('0:' || item), 1, 15)) AS BIGINT) AS h FROM w),
        |rr AS (
        |  SELECT h >> 52 AS idx,
        |         CASE WHEN (h & 4503599627370495) = 0 THEN 53
        |              ELSE 53 - length(bin(h & 4503599627370495)) END AS rank
        |  FROM h)
        |SELECT idx, CAST(MAX(rank) AS BIGINT) AS r
        |FROM rr GROUP BY idx ORDER BY idx""".stripMargin),

    // The estimator over the q120 registers: exact-integer harmonic
    // numerator (absent registers contribute 2^53), then the raw
    // Flajolet estimate as the identical fixed-order IEEE expression
    // (explicit DOUBLE casts — DuckDB would otherwise read the alpha
    // literals as DECIMAL).
    "q121_hll_estimate" -> (WordsCte +
      """, w AS (SELECT unnest(ws) AS item FROM words),
        |h AS (SELECT CAST(('0x' || substr(md5('0:' || item), 1, 15)) AS BIGINT) AS h FROM w),
        |rr AS (
        |  SELECT h >> 52 AS idx,
        |         CASE WHEN (h & 4503599627370495) = 0 THEN 53
        |              ELSE 53 - length(bin(h & 4503599627370495)) END AS rank
        |  FROM h),
        |reg AS (SELECT idx, MAX(rank) AS r FROM rr GROUP BY idx),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
        |         CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS z_present
        |  FROM reg)
        |SELECT CAST(256 AS BIGINT) AS m,
        |       CAST(256 AS BIGINT) - n_present AS zeros,
        |       coalesce(z_present, CAST(0 AS BIGINT))
        |         + (CAST(256 AS BIGINT) - n_present) * (CAST(1 AS BIGINT) << 53) AS z_int,
        |       (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
        |         * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
        |         / CAST(coalesce(z_present, CAST(0 AS BIGINT))
        |                + (CAST(256 AS BIGINT) - n_present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)
        |         AS est_raw
        |FROM agg""".stripMargin),

    // Per-language register tables: the q120 bit math keyed by lang.
    "q124_hll_grouped" ->
      """WITH words AS (
        |  SELECT lang, list_filter(string_split_regex(lower(text), '\s+'),
        |                           w -> len(w) > 0) AS ws
        |  FROM documents
        |), w AS (SELECT lang, unnest(ws) AS item FROM words),
        |h AS (SELECT lang, CAST(('0x' || substr(md5('0:' || item), 1, 15)) AS BIGINT) AS h FROM w),
        |rr AS (
        |  SELECT lang, h >> 52 AS idx,
        |         CASE WHEN (h & 4503599627370495) = 0 THEN 53
        |              ELSE 53 - length(bin(h & 4503599627370495)) END AS rank
        |  FROM h)
        |SELECT lang, idx, CAST(MAX(rank) AS BIGINT) AS r
        |FROM rr GROUP BY lang, idx ORDER BY lang, idx""".stripMargin,

    // Inner product: per-half sketches through the q118 cells, the
    // min-over-rows fold (rows with no colliding buckets reinstated as
    // 0), and the exact Σ na·nb beside it.
    "q125_cms_inner_product" -> (WordsCte +
      s""", w AS (SELECT doc_id, unnest(ws) AS item FROM words),
        |ca AS (
        |  SELECT i AS sk_row,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || item), 1, 15)) AS BIGINT)
        |           % $CmsWidth AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM w, unnest(generate_series(0, ${CmsDepth - 1})) AS t(i)
        |  WHERE doc_id % 3 <> 0 GROUP BY 1, 2),
        |cb AS (
        |  SELECT i AS sk_row,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || item), 1, 15)) AS BIGINT)
        |           % $CmsWidth AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM w, unnest(generate_series(0, ${CmsDepth - 1})) AS t(i)
        |  WHERE doc_id % 3 = 0 GROUP BY 1, 2),
        |ip AS (
        |  SELECT ca.sk_row, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS ipr
        |  FROM ca JOIN cb USING (sk_row, bucket) GROUP BY 1),
        |est AS (
        |  SELECT MIN(coalesce(ip.ipr, CAST(0 AS BIGINT))) AS cms_ip
        |  FROM (SELECT DISTINCT sk_row FROM ca) rs LEFT JOIN ip USING (sk_row)),
        |ea AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS na FROM w
        |       WHERE doc_id % 3 <> 0 GROUP BY 1),
        |eb AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS nb FROM w
        |       WHERE doc_id % 3 = 0 GROUP BY 1),
        |tr AS (SELECT CAST(coalesce(SUM(ea.na * eb.nb), 0) AS BIGINT) AS true_ip
        |       FROM ea JOIN eb USING (item))
        |SELECT tr.true_ip, est.cms_ip FROM tr, est""".stripMargin),

    // The C4 line rules mirrored with list lambdas: same augmented
    // lines, same first-failing-rule attribution, and the kept lines
    // rejoined + md5'd so the cleaned TEXT is compared, not just
    // counts.
    "q123_c4_line_filter" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10), text,
        |           'too short',
        |           'Please enable JavaScript to view the comments.',
        |           'A clean line with plenty of words here.',
        |           'no terminal punctuation in this line') AS aug
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, string_split(aug, chr(10)) AS lines FROM aug
        |)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(lines, l ->
        |    NOT contains(lower(l), 'javascript')
        |    AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 3
        |    AND regexp_matches(rtrim(l), '[.!?"]$'))) AS BIGINT) AS n_kept,
        |  CAST(len(list_filter(lines, l ->
        |    contains(lower(l), 'javascript'))) AS BIGINT) AS n_js,
        |  CAST(len(list_filter(lines, l ->
        |    NOT contains(lower(l), 'javascript')
        |    AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) < 3)) AS BIGINT) AS n_short,
        |  CAST(len(list_filter(lines, l ->
        |    NOT contains(lower(l), 'javascript')
        |    AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 3
        |    AND NOT regexp_matches(rtrim(l), '[.!?"]$'))) AS BIGINT) AS n_punct,
        |  md5(array_to_string(list_filter(lines, l ->
        |    NOT contains(lower(l), 'javascript')
        |    AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 3
        |    AND regexp_matches(rtrim(l), '[.!?"]$')), chr(10))) AS kept_md5
        |FROM ls ORDER BY doc_id""".stripMargin,

    // Readability mirror: identical sentence/word/vowel-group regexes
    // (Java ≡ RE2 for these classes), constants parsed from strings so
    // both engines bind the same correctly-rounded doubles.
    "q130_readability" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 2 = 0 THEN '. Also a second sentence follows here! Does it read well?' ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0 THEN ' Legalese incomprehensibility notwithstanding.' ELSE '' END AS aug
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(aug), '\s+'), w -> len(w) > 0) AS ws,
        |    list_filter(string_split_regex(aug, '[.!?]+'), s -> len(trim(s)) > 0) AS sents
        |  FROM aug),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(sents) AS BIGINT) AS n_sentences,
        |    CAST(COALESCE(list_sum(list_transform(ws,
        |      w -> greatest(len(string_split_regex(w, '[aeiouy]+')) - 1, 1))), 0) AS BIGINT) AS n_syllables
        |  FROM base)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    round(CAST('206.835' AS DOUBLE)
        |          - CAST('1.015' AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |          - CAST('84.6' AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
        |  ELSE 0.0 END AS flesch_ease,
        |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    round(CAST('0.39' AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |          + CAST('11.8' AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |          - CAST('15.59' AS DOUBLE), 6)
        |  ELSE 0.0 END AS fk_grade
        |FROM sig ORDER BY doc_id""".stripMargin,

    // HTML mirror: identical page template, identical strip chain
    // (RE2 'g' = Java global default; lazy-dotall + literal classes
    // agree engine-to-engine), same entity order AFTER the tag strip.
    // The call chain is GENERATED — hand-nesting 11 regexp_replace
    // calls is exactly how parens go missing.
    "q135_html_extract" -> HtmlExtractSql,

    // WARC mirror: the oracle never parses — it derives the expected
    // record table straight from `documents` (same payload rule), so
    // the gate proves the format→parse loop reproduces the source.
    "q136_warc_roundtrip" ->
      """SELECT doc_id,
        |  CAST(strlen(payload) AS BIGINT) AS n_bytes,
        |  md5(payload) AS payload_md5
        |FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 17 = 0
        |             THEN 'WARC/1.0' || chr(13) || chr(10) || text
        |             ELSE text END AS payload
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // WARC file-source mirror: like q136, the oracle derives the
    // expected relation from `documents` directly (payload rule + the
    // host-prefix predicate the engine pushes into the scan) — the
    // gate proves the write→split→sync→parse→filter loop reproduces
    // the source rows.
    "q179_warc_source" ->
      """SELECT doc_id, source || '.ex.test' AS host,
        |  CAST(strlen(payload) AS BIGINT) AS n_bytes,
        |  md5(payload) AS payload_md5
        |FROM (SELECT doc_id, source,
        |        CASE WHEN doc_id % 17 = 0
        |             THEN 'WARC/1.0' || chr(13) || chr(10) || text
        |             ELSE text END AS payload
        |      FROM documents)
        |WHERE source LIKE 'src1%'
        |ORDER BY doc_id""".stripMargin,

    // write→read mirror: identical derivation — the engine side goes
    // documents → warc sink (host= layout, record-gzip, overwrite) →
    // warc source under the pushed filter, so equality proves the
    // WRITE half round-trips byte-exactly too.
    "q187_warc_write_roundtrip" ->
      """SELECT doc_id, source || '.ex.test' AS host,
        |  CAST(strlen(payload) AS BIGINT) AS n_bytes,
        |  md5(payload) AS payload_md5
        |FROM (SELECT doc_id, source,
        |        CASE WHEN doc_id % 17 = 0
        |             THEN 'WARC/1.0' || chr(13) || chr(10) || text
        |             ELSE text END AS payload
        |      FROM documents)
        |WHERE source LIKE 'src1%'
        |ORDER BY doc_id""".stripMargin,

    // vocab-below-explode mirror: one word per line (the derived
    // text), soft-limit-8 chunks = 8-line groups with running-sum
    // offsets (every line 1 token, lines keep their newline except
    // the last), matched concepts = sorted distinct chunk words in
    // the vocabulary. Mirrors the ENGINE's rewritten plan relation
    // exactly — the rule must be semantics-preserving for this to
    // hash-match.
    "q190_vocab_below_explode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(text), '\s+', chr(10), 'g'), chr(10)) AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |w AS (
        |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i,
        |    len(ws) AS n
        |  FROM d),
        |pos AS (
        |  SELECT doc_id, w, i, n,
        |    CAST(COALESCE(SUM(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS s
        |  FROM w),
        |lines AS (
        |  SELECT doc_id, w, i, n, s,
        |    s + length(w) + (CASE WHEN i = n THEN 0 ELSE 1 END) AS e,
        |    CAST((i - 1) // 8 AS INTEGER) AS c
        |  FROM pos)
        |SELECT doc_id,
        |  CAST(MIN(s) AS INTEGER) AS chunk_start,
        |  CAST(MAX(e) AS INTEGER) AS chunk_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  COALESCE(array_to_string(list_sort(list(DISTINCT w)
        |    FILTER (WHERE w IN ('spark','join','merge','filter','scan','window'))),
        |    ','), '') AS concepts
        |FROM lines
        |GROUP BY doc_id, c
        |ORDER BY doc_id, chunk_start""".stripMargin,

    // streaming-archive mirror: identical derivation to q187 — the
    // engine side routes documents → batch warc write → readStream
    // (admission-controlled) → streaming warc sink (with a checkpoint
    // restart between halves) → batch read; equality proves the loop
    // is exactly-once end to end.
    "q189_warc_stream_archive" ->
      """SELECT doc_id, source || '.ex.test' AS host,
        |  CAST(strlen(payload) AS BIGINT) AS n_bytes,
        |  md5(payload) AS payload_md5
        |FROM (SELECT doc_id, source,
        |        CASE WHEN doc_id % 17 = 0
        |             THEN 'WARC/1.0' || chr(13) || chr(10) || text
        |             ELSE text END AS payload
        |      FROM documents)
        |WHERE source LIKE 'src1%'
        |ORDER BY doc_id""".stripMargin,

    // stats-driven store⋈dimension join mirror: the same record
    // derivation rolled up per host, joined to the length-5-source
    // dimension the engine side broadcasts under the scan's reported
    // statistics.
    "q188_warc_host_join" ->
      """WITH pay AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 17 = 0
        |         THEN 'WARC/1.0' || chr(13) || chr(10) || text
        |         ELSE text END AS payload
        |  FROM documents),
        |d AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE length(source) = 5 GROUP BY source)
        |SELECT p.source || '.ex.test' AS host,
        |  CAST(COUNT(*) AS BIGINT) AS n_recs,
        |  CAST(SUM(strlen(p.payload)) AS BIGINT) AS n_bytes,
        |  MAX(d.n_docs) AS n_docs
        |FROM pay p JOIN d ON p.source = d.source
        |GROUP BY p.source
        |ORDER BY host""".stripMargin,

    // DSIR bucket mirror: the WordsCte occurrence relation, the HashSql
    // 60-bit fold mod 256 (nonnegative, so % ≡ pmod), SUM(CASE) target
    // counts with the q155 BIGINT cast.
    "q182_dsir_buckets" -> (WordsCte +
      """, wx AS (SELECT doc_id, unnest(ws) AS w FROM words)
        |SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
        |       CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_count,
        |       CAST(COUNT(*) AS BIGINT) AS r_count
        |FROM wx GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bigram-featured DSIR panel mirror: the q71 feature CTE (unigrams
    // || space-joined bigrams) under the q182 count law.
    "q184_dsir_bigram_buckets" -> (WordsCte +
      """, wx AS (
        |  SELECT doc_id,
        |         unnest(ws || list_transform(generate_series(1, len(ws) - 1),
        |                                     i -> ws[i] || ' ' || ws[i+1])) AS w
        |  FROM words)
        |SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
        |       CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_count,
        |       CAST(COUNT(*) AS BIGINT) AS r_count
        |FROM wx GROUP BY 1 ORDER BY 1""".stripMargin),

    // DSIR score mirror: the same bucket fold, the weight FORMULA
    // applied in place of a literal table, zero-word docs kept at
    // score 0 through the LEFT JOIN back to the words relation.
    "q183_dsir_score" -> (WordsCte +
      """, wx AS (SELECT doc_id, unnest(ws) AS w FROM words),
        |bx AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket
        |       FROM wx),
        |scores AS (
        |  SELECT doc_id, CAST(SUM((bucket * 37) % 2001 - 1000) AS BIGINT) AS s
        |  FROM bx GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
        |       COALESCE(s.s, 0) AS dsir_score_e6,
        |       CASE WHEN COALESCE(s.s, 0) > 0 THEN 1 ELSE 0 END AS selected
        |FROM words w LEFT JOIN scores s USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin),

    // Bigram-featured DSIR score mirror: q183's chain over q184's
    // feature CTE (n_words stays the UNIGRAM count — the budget
    // column, not the feature count).
    "q185_dsir_bigram_score" -> (WordsCte +
      """, wx AS (
        |  SELECT doc_id,
        |         unnest(ws || list_transform(generate_series(1, len(ws) - 1),
        |                                     i -> ws[i] || ' ' || ws[i+1])) AS w
        |  FROM words),
        |bx AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket
        |       FROM wx),
        |scores AS (
        |  SELECT doc_id, CAST(SUM((bucket * 37) % 2001 - 1000) AS BIGINT) AS s
        |  FROM bx GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
        |       COALESCE(s.s, 0) AS dsir_score_e6,
        |       CASE WHEN COALESCE(s.s, 0) > 0 THEN 1 ELSE 0 END AS selected
        |FROM words w LEFT JOIN scores s USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin),

    // HTTP mirror: same blank-line split arithmetic, same status-line
    // and (?im) Content-Type regexes (RE2 ≡ Java for these).
    "q137_http_split" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'HTTP/1.1 ' || st || ' X' || chr(13) || chr(10) ||
        |    'Server: demo' || chr(13) || chr(10) ||
        |    'Content-Type: ' || ct || chr(13) || chr(10) || chr(13) || chr(10) ||
        |    text AS payload
        |  FROM (SELECT doc_id, text,
        |          CASE WHEN doc_id % 7 = 0 THEN 404
        |               WHEN doc_id % 5 = 0 THEN 301 ELSE 200 END AS st,
        |          CASE WHEN doc_id % 3 = 0 THEN 'application/json'
        |               ELSE 'text/html; charset=UTF-8' END AS ct
        |        FROM documents)),
        |x AS (
        |  SELECT doc_id, payload,
        |    strpos(payload, chr(13) || chr(10) || chr(13) || chr(10)) AS sep
        |  FROM p),
        |h AS (
        |  SELECT doc_id, payload, sep,
        |    CASE WHEN sep > 0 THEN substr(payload, 1, sep - 1) ELSE payload END AS head
        |  FROM x)
        |SELECT doc_id,
        |  CAST(regexp_extract(head, 'HTTP/1\.[01] (\d{3})', 1) AS INT) AS http_status,
        |  lower(trim(regexp_extract(head, '(?im)^content-type:\s*([^;\r\n]+)', 1))) AS content_type,
        |  md5(CASE WHEN sep > 0 THEN substr(payload, sep + 4) ELSE '' END) AS body_md5
        |FROM h ORDER BY doc_id""".stripMargin,

    // Phrase mirror: adjacent-position scan over the same word arrays.
    "q138_phrase_search" -> (WordsCte +
      """
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM words, unnest(generate_series(1, len(ws) - 1)) t(i)
        |WHERE ws[i] = 'join' AND ws[i+1] = 'hash'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Code-switch mirror: the q20 scoring (same profiles, same
    // hits-desc/lang-desc tiebreak) applied at both granularities;
    // lines carry their index so duplicate line TEXT stays distinct.
    "q140_code_switch" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 4 = 0
        |         THEN chr(10) || 'der und das ist ein nicht der und' ELSE '' END ||
        |    CASE WHEN doc_id % 6 = 0
        |         THEN chr(10) || 'le la et les des est une le la' ELSE '' END AS t
        |  FROM documents),
        |profiles(lang, markers) AS (VALUES
        |  ('de', ['der','die','und','das','ist','ein','nicht']),
        |  ('en', ['the','and','of','to','in','is','a']),
        |  ('es', ['el','la','los','de','que','es','una']),
        |  ('fr', ['le','la','et','les','des','est','une'])),
        |dscore AS (
        |  SELECT doc_id, lang,
        |         len(list_intersect(string_split_regex(lower(t), '\s+'), markers)) AS hits
        |  FROM aug, profiles),
        |dbest AS (
        |  SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'unknown' END AS doc_lang,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
        |  FROM dscore),
        |dl AS (SELECT doc_id, doc_lang FROM dbest WHERE rn = 1),
        |lines AS (
        |  SELECT doc_id, i, ls[i] AS l
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM aug),
        |       unnest(generate_series(1, len(ls))) t(i)
        |  WHERE len(trim(ls[i])) > 0),
        |lscore AS (
        |  SELECT doc_id, i, lang,
        |         len(list_intersect(string_split_regex(lower(l), '\s+'), markers)) AS hits
        |  FROM lines, profiles),
        |lbest AS (
        |  SELECT doc_id, i,
        |         CASE WHEN hits > 0 THEN lang ELSE 'unknown' END AS line_lang,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id, i ORDER BY hits DESC, lang DESC) AS rn
        |  FROM lscore)
        |SELECT d.doc_id, d.doc_lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN b.line_lang <> d.doc_lang AND b.line_lang <> 'unknown'
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_switched,
        |  CAST(SUM(CASE WHEN b.line_lang <> d.doc_lang AND b.line_lang <> 'unknown'
        |                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS switch_frac
        |FROM lbest b JOIN dl d ON b.doc_id = d.doc_id
        |WHERE b.rn = 1
        |GROUP BY d.doc_id, d.doc_lang
        |ORDER BY d.doc_id""".stripMargin,

    // Proximity mirror: all-pairs position scan with the same distance
    // predicate (0-based engine positions vs 1-based array indices
    // cancel in the difference).
    "q141_proximity_search" -> (WordsCte +
      """
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM words,
        |     unnest(generate_series(1, len(ws))) t1(i),
        |     unnest(generate_series(1, len(ws))) t2(j)
        |WHERE ws[i] = 'join' AND ws[j] = 'scan' AND abs(i - j) <= 4
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Markdown mirror (generated — see MarkdownExtractSql).
    "q142_markdown_extract" -> MarkdownExtractSql,

    // outlink mirror: identical page template (shared CTE), the same
    // RE2-parity href pattern through regexp_extract_all group 1, the
    // same drop rules and host extraction
    "q148_outlinks" -> (OutlinkCte +
      """
        |SELECT doc_id, href, host,
        |       CASE WHEN host IS NOT NULL THEN 1 ELSE 0 END AS external
        |FROM h ORDER BY doc_id, href""".stripMargin),

    // in-degree mirror over the same edge CTE
    "q153_host_indegree" -> (OutlinkCte +
      """
        |SELECT host, COUNT(*) AS n_links,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM h WHERE host IS NOT NULL GROUP BY host ORDER BY host""".stripMargin),

    // sitemap mirror: ground truth stated INDEPENDENTLY from the table
    // (the q136 round-trip discipline) — the engine's parse must strip
    // the comment trap, trim the padded locs, and null absent lastmods
    // to land on this relation
    "q157_sitemap_frontier" ->
      """SELECT source AS host,
        |  'https://' || source || '/sitemap.xml' AS sitemap_url,
        |  'https://' || source || '/p/' || doc_id AS loc,
        |  CASE WHEN doc_id % 5 <> 0
        |       THEN '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |  END AS lastmod
        |FROM documents WHERE source NOT LIKE '%7'
        |ORDER BY host, loc""".stripMargin,

    // sitemapindex oracle: states the EXPECTED rows independently of
    // the parser (the q157/q150 convention — stronger than mirroring
    // the regexes): index hosts yield exactly their two loc-bearing
    // children (trap comment and loc-less child excluded), urlset
    // hosts yield nothing
    "q162_sitemap_index" ->
      """WITH idx AS (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 0),
        |r AS (
        |  SELECT doc_id, source,
        |         'https://' || source || '/s1.xml' AS loc,
        |         '2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-01' AS lastmod
        |  FROM idx
        |  UNION ALL
        |  SELECT doc_id, source,
        |         'https://' || source || '/s' || CAST(doc_id % 4 AS VARCHAR) || '.xml' AS loc,
        |         CAST(NULL AS VARCHAR) AS lastmod
        |  FROM idx)
        |SELECT doc_id, source, loc, lastmod FROM r
        |ORDER BY doc_id, loc""".stripMargin,

    // recrawl mirror: identical synthesis, the same left join + CASE
    "q158_recrawl_plan" ->
      """WITH e AS (
        |  SELECT 'https://' || source || '/p/' || doc_id AS loc,
        |         CASE WHEN doc_id % 5 <> 0
        |              THEN '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |         END AS lastmod
        |  FROM documents),
        |cl AS (
        |  SELECT 'https://' || source || '/p/' || doc_id AS loc,
        |         '2026-08-' || lpad(CAST(doc_id % 15 + 1 AS VARCHAR), 2, '0') AS last_crawl
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT e.loc, e.lastmod, cl.last_crawl,
        |  CASE WHEN cl.last_crawl IS NULL THEN 'fetch'
        |       WHEN e.lastmod IS NOT NULL THEN
        |         CASE WHEN e.lastmod > cl.last_crawl THEN 'fetch' ELSE 'skip' END
        |       WHEN cl.last_crawl < '2026-08-10' THEN 'fetch'
        |       ELSE 'skip' END AS action,
        |  CASE WHEN cl.last_crawl IS NULL THEN 'new'
        |       WHEN e.lastmod IS NOT NULL THEN
        |         CASE WHEN e.lastmod > cl.last_crawl THEN 'stale' ELSE 'fresh' END
        |       WHEN cl.last_crawl < '2026-08-10' THEN 'aged'
        |       ELSE 'unclaimed' END AS reason
        |FROM e LEFT JOIN cl ON e.loc = cl.loc
        |ORDER BY e.loc""".stripMargin,

    // IBAN mirror: identical candidate synthesis, the same structural
    // regex, rotate, letter expansion (A=10..Z=35), and the
    // list_reduce streaming mod-97 (prepended 0 = the engine fold's
    // init; reduce of a single element returns it, matching the
    // empty-array fold)
    "q154_iban_pii" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 11 = 0 THEN '1E' ELSE 'DE' END) ||
        |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
        |    lpad(CAST(doc_id AS VARCHAR), 18, '0') AS candidate
        |  FROM documents),
        |u AS (SELECT doc_id, candidate, upper(candidate) AS uc FROM c),
        |r AS (
        |  SELECT doc_id, candidate,
        |    CASE WHEN regexp_matches(uc, '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$')
        |         THEN 1 ELSE 0 END AS structural,
        |    substr(uc, 5) || substr(uc, 1, 4) AS rot
        |  FROM u),
        |d AS (
        |  SELECT doc_id, candidate, structural,
        |    list_reduce(list_prepend(0, list_transform(
        |      regexp_extract_all(
        |        array_to_string(list_transform(regexp_extract_all(rot, '.'),
        |          ch -> CASE WHEN ch BETWEEN '0' AND '9' THEN ch
        |                     ELSE CAST(ascii(ch) - 55 AS VARCHAR) END), ''),
        |        '.'),
        |      ch -> ascii(ch) - 48)), (a, b) -> (a * 10 + b) % 97) AS rem
        |  FROM r)
        |SELECT doc_id, candidate,
        |       CASE WHEN structural = 1 AND rem = 1 THEN 1 ELSE 0 END AS iban_valid
        |FROM d ORDER BY doc_id""".stripMargin,

    // encoding-damage mirror: identical artifact augmentation (the
    // Moj* constants interpolate the SAME chars both engines see),
    // identical hex-class split counting, ratio rounded at 9
    "q149_encoding_quality" ->
      s"""WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN '$Moj1' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN '$Moj2' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN '$Moj3' ELSE '' END AS aug
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(aug) AS BIGINT) AS n_chars,
        |    CAST(len(string_split_regex(aug, '\\x{fffd}')) - 1 AS BIGINT) AS n_replacement,
        |    CAST(len(string_split_regex(aug, '[\\x{80}-\\x{9f}]')) - 1 AS BIGINT) AS n_c1,
        |    CAST(len(string_split_regex(aug, '[\\x{c2}\\x{c3}\\x{e2}][\\x{80}-\\x{bf}]')) - 1 AS BIGINT) AS n_double_utf8
        |  FROM aug)
        |SELECT doc_id, n_chars, n_replacement, n_c1, n_double_utf8,
        |  CASE WHEN n_chars > 0
        |       THEN round(CAST(n_replacement + n_c1 + n_double_utf8 AS DOUBLE) * 1000.0 / CAST(n_chars AS DOUBLE), 9)
        |       ELSE 0.0 END AS damage_per_kchar,
        |  CASE WHEN n_replacement + n_c1 + n_double_utf8 = 0 THEN 1 ELSE 0 END AS is_clean
        |FROM c ORDER BY doc_id""".stripMargin,

    // robots mirror: identical policy synthesis, the same parse chain
    // (comment strip, key/value regexes, LAG/SUM group numbering,
    // pre-group drop), precedence from the agent headers of ALL
    // groups (rule-bearing or not — the winning-but-empty group is
    // allow-all), the same generated RFC 9309 pattern regexes
    // (trailing $ → anchor, metas escaped, * → .*), longest-match
    // with Allow tie via ROW_NUMBER (l DESC, allow DESC, path DESC —
    // the struct-max direction)
    "q150_robots_admission" ->
      """WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
        |rob AS (
        |  SELECT host,
        |    'Disallow: /early' || chr(10) || '# policy' || chr(10) ||
        |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
        |    'Allow: /private/area1$' || chr(10) ||
        |    'Allow: /private/ok' || chr(10) ||
        |    'Disallow: /pub/*2$' || chr(10) || 'Crawl-delay: 5' || chr(10) ||
        |    CASE WHEN length(host) % 2 = 0 THEN
        |      chr(13) || chr(10) || 'User-agent: GraftBot' || chr(13) || chr(10) || 'User-agent: otherbot' || chr(13) || chr(10) ||
        |      'Disallow: /p/9' || chr(13) || chr(10) || 'Allow: /p/91' || chr(13) || chr(10) ||
        |      'Disallow: /p/*1' || chr(13) || chr(10) || 'Disallow:' || chr(13) || chr(10)
        |    ELSE '' END ||
        |    CASE WHEN length(host) % 2 = 1 AND (host LIKE '%3' OR host LIKE '%5') THEN
        |      chr(10) || 'User-agent: GraftBot' || chr(10) || 'Crawl-delay: 4' || chr(10)
        |    ELSE '' END AS txt
        |  FROM hosts),
        |p AS (SELECT host, string_split_regex(txt, '\r?\n') AS parts FROM rob),
        |lines AS (
        |  SELECT host, i AS ln, regexp_replace(parts[i], '#.*$', '') AS clean
        |  FROM p, unnest(generate_series(1, len(parts))) t(i)),
        |kv AS (
        |  SELECT host, ln,
        |    lower(regexp_extract(clean, '^\s*([A-Za-z-]+)\s*:', 1)) AS key,
        |    trim(regexp_extract(clean, '^\s*[A-Za-z-]+\s*:(.*)$', 1)) AS val
        |  FROM lines
        |  WHERE lower(regexp_extract(clean, '^\s*([A-Za-z-]+)\s*:', 1))
        |        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
        |g AS (
        |  SELECT host, ln, key, val,
        |    CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END AS is_ua,
        |    COALESCE(LAG(CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY host ORDER BY ln), 0) AS prev_ua
        |  FROM kv),
        |gg AS (
        |  SELECT host, ln, key, val, is_ua,
        |    SUM(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY host ORDER BY ln) AS grp
        |  FROM g),
        |agents AS (SELECT host, grp, lower(val) AS agent FROM gg WHERE is_ua = 1 AND grp > 0),
        |rules AS (
        |  SELECT host, grp, val AS path,
        |         CASE WHEN key = 'allow' THEN 1 ELSE 0 END AS allow
        |  FROM gg WHERE key IN ('allow', 'disallow') AND length(val) > 0 AND grp > 0),
        |am AS (
        |  SELECT host, grp,
        |    CASE WHEN agent = 'graftbot' OR starts_with('graftbot', agent || '-')
        |         THEN CAST(length(agent) AS BIGINT)
        |         WHEN agent = '*' THEN 0 ELSE -1 END AS mlen
        |  FROM agents),
        |amv AS (SELECT * FROM am WHERE mlen >= 0),
        |prec AS (SELECT host, MAX(mlen) AS best FROM amv GROUP BY host),
        |winners AS (
        |  SELECT DISTINCT amv.host, grp
        |  FROM amv JOIN prec USING (host) WHERE mlen = best),
        |eff AS (
        |  SELECT DISTINCT w.host, r.path, r.allow
        |  FROM winners w JOIN rules r ON w.host = r.host AND w.grp = r.grp),
        |effr AS (
        |  SELECT host, path, allow,
        |    (path LIKE '%*%' OR path LIKE '%$') AS wild,
        |    '^' ||
        |    regexp_replace(regexp_replace(
        |      CASE WHEN path LIKE '%$' THEN substr(path, 1, length(path) - 1)
        |           ELSE path END,
        |      '([.^$+?()\[\]{}|\\])', '\\\1', 'g'), '\*', '.*', 'g') ||
        |    CASE WHEN path LIKE '%$' THEN '$' ELSE '' END AS rx
        |  FROM eff),
        |urls AS (
        |  SELECT doc_id, source AS host,
        |    CASE WHEN doc_id % 4 = 0 THEN '/private/area' || CAST(doc_id % 3 AS VARCHAR)
        |         WHEN doc_id % 4 = 1 THEN '/private/ok/page' || CAST(doc_id % 3 AS VARCHAR)
        |         WHEN doc_id % 4 = 2 THEN '/p/' || CAST(CAST(floor((doc_id % 520) / 4) AS BIGINT) AS VARCHAR)
        |         ELSE '/pub/item' || CAST(doc_id % 7 AS VARCHAR) END AS path
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, e.allow, e.path AS rule,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY length(e.path) DESC, e.allow DESC, e.path DESC) AS rn
        |  FROM urls u JOIN effr e ON u.host = e.host AND
        |    ((NOT e.wild AND starts_with(u.path, e.path)) OR
        |     (e.wild AND regexp_matches(u.path, e.rx)))),
        |w AS (SELECT doc_id, allow, rule FROM m WHERE rn = 1)
        |SELECT u.doc_id, u.host, u.path,
        |  CASE WHEN w.allow IS NULL THEN 1 ELSE w.allow END AS allowed, w.rule
        |FROM urls u LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin,

    // fetch-schedule mirror: the q150 parse chain with crawl-delay
    // rows, delay precedence from the agent headers of ALL groups
    // (the effectiveRules rule), ms = round(val*1000) — explicit on
    // both engines (truncation would emit 2899 for the 2.9 fixture),
    // then the per-host ROW_NUMBER slot assignment under the budget
    "q152_fetch_schedule" ->
      """WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
        |rob AS (
        |  SELECT host,
        |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
        |    CASE WHEN host LIKE '%3' THEN 'Crawl-delay: 2.9' || chr(10)
        |         WHEN host NOT LIKE '%7' THEN 'Crawl-delay: 2' || chr(10)
        |         ELSE '' END ||
        |    CASE WHEN length(host) % 2 = 0
        |         THEN chr(10) || 'User-agent: GraftBot' || chr(10) || 'Crawl-delay: 0.5' || chr(10)
        |         ELSE '' END AS txt
        |  FROM hosts),
        |p AS (SELECT host, string_split_regex(txt, '\r?\n') AS parts FROM rob),
        |lines AS (
        |  SELECT host, i AS ln, regexp_replace(parts[i], '#.*$', '') AS clean
        |  FROM p, unnest(generate_series(1, len(parts))) t(i)),
        |kv AS (
        |  SELECT host, ln,
        |    lower(regexp_extract(clean, '^\s*([A-Za-z-]+)\s*:', 1)) AS key,
        |    trim(regexp_extract(clean, '^\s*[A-Za-z-]+\s*:(.*)$', 1)) AS val
        |  FROM lines
        |  WHERE lower(regexp_extract(clean, '^\s*([A-Za-z-]+)\s*:', 1))
        |        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
        |g AS (
        |  SELECT host, ln, key, val,
        |    CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END AS is_ua,
        |    COALESCE(LAG(CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY host ORDER BY ln), 0) AS prev_ua
        |  FROM kv),
        |gg AS (
        |  SELECT host, ln, key, val, is_ua,
        |    SUM(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY host ORDER BY ln) AS grp
        |  FROM g),
        |agents AS (SELECT host, grp, lower(val) AS agent FROM gg WHERE is_ua = 1 AND grp > 0),
        |del AS (
        |  SELECT host, grp,
        |    CAST(round(CAST(val AS DOUBLE) * 1000.0) AS BIGINT) AS delay_ms
        |  FROM gg
        |  WHERE key = 'crawl-delay' AND grp > 0
        |    AND regexp_matches(val, '^[0-9]+(\.[0-9]+)?$')),
        |am AS (
        |  SELECT host, grp,
        |    CASE WHEN agent = 'graftbot' OR starts_with('graftbot', agent || '-')
        |         THEN CAST(length(agent) AS BIGINT)
        |         WHEN agent = '*' THEN 0 ELSE -1 END AS mlen
        |  FROM agents),
        |amv AS (SELECT * FROM am WHERE mlen >= 0),
        |prec AS (SELECT host, MAX(mlen) AS best FROM amv GROUP BY host),
        |winners AS (
        |  SELECT DISTINCT amv.host, grp
        |  FROM amv JOIN prec USING (host) WHERE mlen = best),
        |eff AS (
        |  SELECT w.host, MAX(d.delay_ms) AS delay_ms
        |  FROM winners w JOIN del d ON w.host = d.host AND w.grp = d.grp
        |  GROUP BY w.host),
        |urls AS (
        |  SELECT doc_id, source AS host, (doc_id * 7) % 101 AS priority
        |  FROM documents),
        |s AS (
        |  SELECT u.doc_id, u.host,
        |    COALESCE(e.delay_ms, 1000) AS delay_ms,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY u.host
        |      ORDER BY u.priority DESC, u.doc_id ASC) - 1 AS BIGINT) AS slot
        |  FROM urls u LEFT JOIN eff e USING (host))
        |SELECT doc_id, host, delay_ms, slot, slot * delay_ms AS fetch_offset_ms
        |FROM s WHERE slot < 20 ORDER BY doc_id""".stripMargin,

    // Bloom probe over the q16/q17 shingle relation: the benchmark
    // partition's k salted bit positions (distinct), every doc's
    // shingles probed — a shingle is claimed present iff all k
    // positions are set (duplicate positions within one shingle's k
    // hashes count twice in BOTH engines — consistent).
    "q122_bloom_probe" -> (ShinglesCte +
      s""", bb AS (
        |  SELECT DISTINCT
        |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 15)) AS BIGINT)
        |      % $BloomM AS pos
        |  FROM sh, unnest(generate_series(0, ${BloomK - 1})) AS t(i)
        |  WHERE doc_id % 19 = 0),
        |pp AS (
        |  SELECT doc_id, shingle,
        |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 15)) AS BIGINT)
        |      % $BloomM AS pos
        |  FROM sh, unnest(generate_series(0, ${BloomK - 1})) AS t(i)),
        |hit AS (
        |  SELECT doc_id, shingle FROM pp JOIN bb USING (pos)
        |  GROUP BY doc_id, shingle HAVING COUNT(*) = $BloomK),
        |n_i AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_items FROM sh GROUP BY doc_id),
        |n_h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM hit GROUP BY doc_id)
        |SELECT n_i.doc_id, n_i.n_items,
        |       coalesce(n_h.n_hits, CAST(0 AS BIGINT)) AS n_hits
        |FROM n_i LEFT JOIN n_h USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Per-group twin of q108's oracle: the direct per-language
    // support-threshold HAVING, pure integers.
    "q112_heavy_hitters_grouped" ->
      s"""WITH words AS (
         |  SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'),
         |                           w -> len(w) > 0) AS ws
         |  FROM documents
         |), w AS (SELECT lang, unnest(ws) AS item FROM words),
         |n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total FROM w GROUP BY lang)
         |SELECT w.lang, item, CAST(COUNT(*) AS BIGINT) AS cnt, n.n_total
         |FROM w JOIN n USING (lang)
         |GROUP BY w.lang, item, n.n_total
         |HAVING CAST(COUNT(*) AS BIGINT) * 1000000 >= n.n_total * $HhSupportPpm
         |ORDER BY lang, cnt DESC, item ASC""".stripMargin,

    // All-pairs levenshtein — the naive form of the Spark side's
    // symmetric-delete candidate join; fine at oracle scale.
    "q45_editdist_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(len(a.c_name) - len(b.c_name)) <= 1
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // Ground-truth eTLD+1 for the constructed URL shape (q94's
    // convention: label + the multi-label co.uk suffix, stated
    // independently of the PSL walk), then the same capped rank.
    "q110_domain_cap" ->
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |         'example' || CAST(doc_id % 97 AS VARCHAR) || '.co.uk' AS etld1
         |  FROM documents
         |), r AS (
         |  SELECT etld1, doc_id, n_chars,
         |         ROW_NUMBER() OVER (PARTITION BY etld1
         |           ORDER BY n_chars DESC, doc_id ASC) AS rk
         |  FROM u
         |)
         |SELECT etld1, doc_id, n_chars, rk
         |FROM r WHERE rk <= $DomainCapK
         |ORDER BY etld1, rk""".stripMargin,

    // Same dictionary + blocking + threshold; DuckDB's built-in
    // jaro_winkler_similarity is the independent reference the native
    // expression was pinned against (raw-double compare, no rounding).
    "q109_jw_entity_pairs" ->
      s"""WITH d AS (
         |  SELECT p_name AS n, CAST(COUNT(*) AS BIGINT) AS support
         |  FROM part WHERE p_name IS NOT NULL AND len(p_name) > 0
         |  GROUP BY p_name
         |)
         |SELECT a.n AS name_a, b.n AS name_b,
         |       jaro_winkler_similarity(a.n, b.n) AS jw,
         |       a.support AS support_a, b.support AS support_b
         |FROM d a JOIN d b
         |  ON substr(a.n, 1, 2) = substr(b.n, 1, 2)
         | AND a.n < b.n
         | AND abs(len(a.n) - len(b.n)) <= 4
         |WHERE jaro_winkler_similarity(a.n, b.n) >= $JwThreshold
         |ORDER BY name_a, name_b""".stripMargin,

    // Ground-truth normalization for the constructed URL shape:
    // lowercase host, scheme kept, port/path/query/fragment dropped,
    // registrable domain = label + '.co.uk' (the PSL multi-label
    // suffix) — stated independently, NOT derived by re-running the
    // Spark side's logic.
    "q94_url_etld1" ->
      """SELECT doc_id,
        |  'https://WWW.' || source || '.Example' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.CO.UK:8080/p/' || CAST(doc_id AS VARCHAR)
        |    || '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) || '#frag' AS url,
        |  'https://www.' || source || '.example' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.co.uk' AS normalized,
        |  'example' || CAST(doc_id % 3 AS VARCHAR) || '.co.uk' AS etld1
        |FROM documents""".stripMargin,

    // RFC 3986 canonicalization ground truth, stated per fixture
    // class (never derived by re-running the canonicalizer)
    "q163_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.TEST:80/a/./' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN 'https://' || source || '.test:443/p/../q%7e/' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN 'http://' || source || '.test./x//y/' || CAST(doc_id AS VARCHAR) || '#frag'
        |    WHEN 3 THEN 'http://' || source || '.test:8080/%2fup/' || CAST(doc_id AS VARCHAR)
        |    WHEN 4 THEN 'http://' || source || '.test'
        |    WHEN 5 THEN 'http://' || source || '.test/a/../../b?q=%41' || CAST(doc_id AS VARCHAR)
        |    ELSE 'ftp://' || source || '.test/' || CAST(doc_id AS VARCHAR) END AS url,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'http://www.' || source || '.test/a/' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN 'https://' || source || '.test/q~/' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN 'http://' || source || '.test/x//y/' || CAST(doc_id AS VARCHAR)
        |    WHEN 3 THEN 'http://' || source || '.test:8080/%2Fup/' || CAST(doc_id AS VARCHAR)
        |    WHEN 4 THEN 'http://' || source || '.test/'
        |    WHEN 5 THEN 'http://' || source || '.test/b?q=A' || CAST(doc_id AS VARCHAR)
        |    ELSE 'ftp://' || source || '.test/' || CAST(doc_id AS VARCHAR) END AS canonical
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB mirror of StubDecoder: sha256 over the SAME UTF-8 bytes,
    // dimensions from the digest's first bytes (hex-pair parses).
    "q52_media_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS sha256,
        |  64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) * 8 AS width,
        |  64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) * 8 AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 0
        |       ELSE 1000 + CAST(('0x' || substr(sha256(text), 5, 2)) AS INT) * 500
        |  END AS duration_ms
        |FROM documents""".stripMargin,

    // Triangles once each as x < y < z over the normalized (s < t) edge
    // list; orientation is irrelevant to the COUNT, so the naive form
    // checks the Spark side's degree-ordered plan exactly.
    "q51_editdist_triangles" ->
      """WITH e AS (
        |  SELECT a.c_custkey AS s, b.c_custkey AS t
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND abs(len(a.c_name) - len(b.c_name)) <= 1
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |tri AS (
        |  SELECT e1.s AS x, e1.t AS y, e2.t AS z
        |  FROM e e1
        |    JOIN e e2 ON e2.s = e1.t
        |    JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t),
        |nodes AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY node""".stripMargin
  )
}
