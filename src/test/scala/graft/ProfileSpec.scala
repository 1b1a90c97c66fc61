package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, raise_error, sum}

import graft.tools.Profile
import graft.util.Jobs

/** `Profile` over small in-spec frames: job labels and phases (a
  * streaming query's too), shuffle bytes, a failing gate, and the JSON
  * it writes.
  */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private def frame = spark.range(0, 1000, 1, 4).select(($"id" % 7).as("k"), $"id".as("v"))

  private lazy val document: String = {
    val p = new Profile.Profiler(spark)
    val records = try Seq(
      p.gate("labelled") {
        Jobs.labeled(spark.sparkContext, "spec: probe")(frame.count())
        frame.filter($"v" > 3)
      },
      p.gate("shuffle")(frame.groupBy($"k").agg(sum($"v"))),
      p.gate("throws")(frame.select(raise_error(lit("spec: planted failure")))),
      p.gate("after")(frame.select($"k")),
      p.gate("stream") {
        // a streaming query runs its batches on its own thread under
        // its own job group; they still belong to the build phase
        implicit val sqlCtx = spark.sqlContext
        val in = MemoryStream[Long]
        in.addData(1L to 100L)
        val q = in.toDF().groupBy(($"value" % 3).as("k")).count().writeStream
          .outputMode("complete").format("memory").queryName("profile_spec_stream").start()
        try q.processAllAvailable() finally q.stop()
        spark.table("profile_spec_stream")
      })
    finally p.close()
    Profile.document("in-spec", "4", records)
  }

  private lazy val records: Map[String, JsonNode] =
    new ObjectMapper().readTree(document).get("queries").elements().asScala
      .map(r => r.get("query").asText -> r).toMap

  private def jobs(q: String): Seq[JsonNode] = records(q).get("jobs").elements().asScala.toSeq

  test("the output parses as JSON, one record per gate with every field") {
    val root = new ObjectMapper().readTree(document)
    assert(root.get("sf").asText === "in-spec")
    assert(root.get("queries").size === 5)
    val fields = Seq("query", "rows", "error", "build_s", "plan_s", "run_s", "jobs",
      "totals", "scans", "operators", "plan", "log_warn_error")
    records.values.foreach(r => fields.foreach(f => assert(r.has(f), f)))
    assert(records("after").get("plan").asText.contains("== Physical Plan =="))
  }

  test("jobs run under Jobs.labeled carry that label") {
    val labelled = jobs("labelled").filter(_.get("label").asText == "spec: probe")
    assert(labelled.nonEmpty)
    assert(labelled.forall(_.get("phase").asText == "build"))
    assert(jobs("labelled").exists(j =>
      j.get("phase").asText == "run" && j.get("label").asText.isEmpty))
    val share = records("labelled").get("totals").get("labelled_share").asDouble
    assert(share > 0 && share < 1)
  }

  test("a shuffling query reports shuffle_write > 0") {
    assert(records("shuffle").get("totals").get("shuffle_write").asLong > 0)
    assert(records("shuffle").get("rows").asLong === 7)
  }

  test("every job lands in exactly one phase") {
    for (q <- records.keys) {
      val js = jobs(q)
      assert(js.map(_.get("id").asInt).distinct.size === js.size, q)
      assert(js.forall(j => Profile.Phases.contains(j.get("phase").asText)), q)
      assert(js.forall(j => Seq("stages", "tasks", "shuffle_read", "shuffle_write", "spill")
        .forall(f => j.get(f).asLong >= 0)), q)
    }
    assert(jobs("labelled").map(_.get("phase").asText).toSet === Set("build", "run"))
    assert(jobs("stream").exists(_.get("phase").asText == "build"))
  }

  test("a throwing query yields an error record and the run continues") {
    val failed = records("throws")
    assert(failed.get("error").asText.contains("spec: planted failure"))
    assert(failed.get("rows").isNull)
    assert(records("after").get("error").isNull)
    assert(records("after").get("rows").asLong === 1000)
  }
}
