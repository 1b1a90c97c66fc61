package kgbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.graph.ConnectedComponents
import graft.textops.NearDup

/** The curation half of the `curation` workload: the job-heaviest
  * operator families through their `SparkEntry.queries` entries, on a
  * generated table directory in the testdata schema. One op runs each
  * query of [[Queries]] once, so every op is the same mix. Untraced ops
  * call the entries; the traced run calls q35's two layers (near-dup
  * pairs, connected components) as separate spans, materializing the
  * pairs between them.
  */
final class CurationWorkload(spark: SparkSession, work: Path, seed: Long, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val name = "curation"
  val unit = "row"
  val NDocs = 240
  val NClusters = 12

  /** (entry, span the traced run records it under, input table). */
  val Queries: Vector[(String, String, String)] = Vector(
    ("q35_dedup_clusters", "graph.cc", "documents"),
    ("q45_editdist_pairs", "textops.editdist", "customer"),
    ("q58_knn_graph", "vectors.knn_graph", "embeddings"),
    ("q88_hnsw_topk", "vectors.hnsw", "embeddings"),
    ("q165_host_pagerank", "graph.pagerank", "documents"),
    ("q169_host_hits", "graph.hits", "documents"),
    ("q107_kn_doc_filter3", "textops.knlm", "documents"))

  private var tables: Gen.CurationTables = _
  private val digests = scala.collection.mutable.Map.empty[String, String]
  private def dir = work.resolve("tables").toString
  private var rows = Map.empty[String, Long]
  private var bytes = Map.empty[String, Long]

  def setup(): Unit = {
    Fs.delete(work)
    Files.createDirectories(work)
    tables = Gen.curation(seed, NDocs, NClusters, nEmb = 240, nCust = 400, nTypos = 20)
    tables.docs.toDF().coalesce(1).write.parquet(s"$dir/documents.parquet")
    tables.embs.toDF().coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    tables.customers.toDF().coalesce(1).write.parquet(s"$dir/customer.parquet")
    rows = Map("documents" -> tables.docs.size.toLong, "embeddings" -> tables.embs.size.toLong,
      "customer" -> tables.customers.size.toLong)
    bytes = rows.keys.map(t => t -> Fs.bytesUnder(work.resolve(s"tables/$t.parquet"))).toMap
    digests.clear()
  }

  private def docs: DataFrame = graft.Tables.load(spark, dir, "documents")
    .repartition(spark.sparkContext.defaultParallelism)

  /** One op: every query of the cycle once. */
  def op(i: Int): OpResult = Queries.map(query).reduce((a, b) =>
    OpResult(a.units + b.units, a.inputBytes + b.inputBytes, 0L, 0L, a.ok && b.ok,
      Seq(a.note, b.note).filter(_.nonEmpty).mkString("; ")))

  private def query(entry: (String, String, String)): OpResult = {
    val (q, spanName, table) = entry
    val out: Array[Row] =
      if (tracer.enabled && spanName == "graph.cc") {
        val pairs = tracer.span("textops.neardup") {
          NearDup.minhashLshPairs(docs, "doc_id", "text",
            n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5).localCheckpoint()
        }
        raw("textops.pairs_out") += pairs.count()
        tracer.span(spanName) {
          ConnectedComponents.dedupClusters(pairs, "id_a", "id_b").orderBy($"doc_id").collect()
        }
      } else tracer.span(spanName) { SparkEntry.queries(q)(spark, dir).collect() }

    val problems = Seq.newBuilder[String]
    val d = digest(out)
    digests.get(q) match {
      case Some(prev) if prev != d => problems += s"$q result differs from its first run"
      case None => digests(q) = d
      case _ =>
    }
    q.take(3) match {
      case "q35" =>
        val groups = out.groupBy(_.getAs[Long]("cluster_id"))
          .values.map(_.map(_.getAs[Long]("doc_id")).toSet).toSet
        if (groups != tables.clusters.toSet)
          problems += s"$q: ${groups.size} clusters != ${tables.clusters.size} planted"
        raw("graph.clusters_out") += groups.size
      case "q45" =>
        val got = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
        if (!tables.typoPairs.subsetOf(got)) problems += "q45 missed planted typo pairs"
        raw("textops.pairs_out") += out.length
      case _ =>
    }
    val p = problems.result()
    OpResult(rows(table), bytes(table), 0L, 0L, p.isEmpty, p.take(3).mkString("; "))
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def layerCounts(n: Double): Map[String, Double] = Map(
    "textops.pairs_out" -> raw("textops.pairs_out") / n,
    "graph.clusters_out" -> raw("graph.clusters_out") / n)
}
