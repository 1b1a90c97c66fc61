package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.exchange.{BatchExchange, InlineExchange}
import graft.plans.{Ledger, Packer}

/** SURVEY risk 2: the 24h async exchange must be restartable from
  * tables alone. These specs run ship and collect over a parquet
  * ledger with fresh DataFrames in between — no driver state carries
  * across the boundary.
  */
class BatchExchangeSpec extends SparkSpec {
  import spark.implicits._

  /** Mock batch API: answers every custom_id except the ones in
    * `lose`, writing result JSONL files like the real API.
    */
  private class LocalApi(dir: String, lose: Set[String]) extends BatchExchange.BatchApi {
    private var submitted = Map.empty[String, Seq[String]]
    override def submit(requestFiles: Seq[String]): String = {
      val id = s"batch-${submitted.size}"
      submitted += id -> requestFiles
      id
    }
    override def results(batchId: String): Option[Seq[String]] = {
      val reqFiles = submitted(batchId)
      val outDir = Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/results/$batchId")).toString
      val out = new java.io.PrintWriter(s"$outDir/out.jsonl")
      reqFiles.foreach { f =>
        // the API receives plain JSONL data files (not directories);
        // paths are FileSystem URIs (file:/... locally)
        val local = new java.io.File(new java.net.URI(f))
        assert(local.isFile, s"expected a data file, got $f")
        scala.io.Source.fromFile(local).getLines().foreach { line =>
          val id = line.split("\"custom_id\":\"")(1).split("\"")(0)
          if (!lose.contains(id))
            out.println(s"""{"custom_id":"$id","response":{"status_code":200,"body":{"choices":[{"message":{"content":"[\\"ok\\"]"}}]}}}""")
        }
      }
      out.close()
      Some(Seq(s"$outDir/out.jsonl"))
    }
  }

  private def freshLedger(ids: String*): DataFrame =
    ids.map(id => (id, s"""{"custom_id":"$id"}""", 10, null: String, null: String))
      .toDF("custom_id", "body_json", "input_tokens", "batch_id", "response_json")

  test("ship → (restart) → collect: responses ingested, lost ids reset") {
    val dir = Files.createTempDirectory("graft-batch").toString
    val ledgerPath = s"$dir/ledger"
    val api = new LocalApi(dir, lose = Set("b>F>mapping"))

    // session 1: ship
    val (shipped, Some(batchId)) = BatchExchange.ship(
      freshLedger("a>F>mapping", "b>F>mapping", "c>F>mapping"), api, dir,
      Packer.PackLimits(100, 1000, 100000)): @unchecked
    shipped.write.mode("overwrite").parquet(ledgerPath)

    // "24 hours later", fresh DataFrame from the table alone:
    val reloaded = spark.read.parquet(ledgerPath)
    assert(reloaded.filter($"batch_id".isNotNull).count() == 3)

    // session 2: collect
    val collected = BatchExchange.collect(reloaded, api, batchId)
    val rows = collected
      .select("custom_id", "batch_id", "response_json")
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows("a>F>mapping")._2.nonEmpty)
    assert(rows("c>F>mapping")._2.nonEmpty)
    // lost request: no response, batch_id reset for re-ship
    assert(rows("b>F>mapping")._2.isEmpty)
    assert(rows("b>F>mapping")._1.isEmpty)

    // session 3: re-ship only re-sends the lost row
    val (reshipped, Some(batch2)) = BatchExchange.ship(collected, api, dir,
      Packer.PackLimits(100, 1000, 100000)): @unchecked
    assert(batch2 != batchId)
    val pending2 = reshipped.filter($"batch_id" === batch2)
      .select("custom_id").as[String].collect().toSeq
    assert(pending2 == Seq("b>F>mapping"))
  }

  test("ship commits a manifest after the data files") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    val api = new LocalApi(dir, Set.empty)
    BatchExchange.ship(freshLedger("a>F>mapping", "b>F>mapping"), api, dir,
      Packer.PackLimits(1, 1000, 100000)) // 1 request/file → 2 files
    val Some((files, n)) = BatchExchange.readManifest(dir,
      spark.sparkContext.hadoopConfiguration): @unchecked
    assert(files.length == 2 && n == 2)
    files.foreach(f => assert(new java.io.File(new java.net.URI(f)).exists(), f))
    // crashed-mid-write simulation: no manifest → no committed file set
    val dir2 = Files.createTempDirectory("graft-manifest2").toString
    assert(BatchExchange.readManifest(dir2, spark.sparkContext.hadoopConfiguration).isEmpty)
  }

  test("tokenCappedPrefix: exact custom_id prefix, partitioned window only") {
    // 40 rows across many input partitions; tokens 1..40 in custom_id
    // order (ids zero-padded so string order == numeric order). Cap 100
    // admits ids 1..13 (sum 91) and rejects id 14 (would be 105).
    val rows = (1 to 40).map(i => (f"id$i%03d", "{}", i, null: String, null: String))
    val pending = spark.createDataFrame(rows).repartition(7)
      .toDF("custom_id", "body_json", "input_tokens", "batch_id", "response_json")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cut = BatchExchange.tokenCappedPrefix(pending, maxBatchTokens = 100L)
      val got = cut.select($"custom_id").as[String].collect().sorted.toSeq
      assert(got === (1 to 13).map(i => f"id$i%03d"))
      // the whole point of the two-phase cumsum: no unpartitioned window
      import org.apache.spark.sql.execution.window.WindowExec
      val wins = cut.queryExecution.executedPlan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, "expected the running-sum WindowExec")
      wins.foreach(win => assert(win.partitionSpec.nonEmpty,
        s"unpartitioned WindowExec in tokenCappedPrefix plan: $win"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ship with a token cap stamps exactly the capped prefix") {
    val dir = Files.createTempDirectory("graft-cap").toString
    val api = new LocalApi(dir, Set.empty)
    // 10-token rows, cap 25 → exactly the first 2 ids ship
    val (out, Some(batchId)) = BatchExchange.ship(
      freshLedger("a>F>mapping", "b>F>mapping", "c>F>mapping", "d>F>mapping"),
      api, dir, Packer.PackLimits(100, 1000, 100000),
      maxBatchTokens = 25L): @unchecked
    val stamped = out.filter($"batch_id" === batchId)
      .select("custom_id").as[String].collect().sorted.toSeq
    assert(stamped === Seq("a>F>mapping", "b>F>mapping"))
    val Some((_, n)) = BatchExchange.readManifest(dir,
      spark.sparkContext.hadoopConfiguration): @unchecked
    assert(n == 2, "manifest must record the same capped prefix")
  }

  test("ship with nothing pending is a no-op") {
    val answered = Seq(("a", "{}", 1, "b0", """{"done":1}"""))
      .toDF("custom_id", "body_json", "input_tokens", "batch_id", "response_json")
    val dir = Files.createTempDirectory("graft-batch2").toString
    val (out, id) = BatchExchange.ship(answered, new LocalApi(dir, Set.empty), dir)
    assert(id.isEmpty)
    assert(out.collect().toSeq == answered.collect().toSeq)
  }
}

class InlineExchangeSpec extends SparkSpec {
  import spark.implicits._

  test("retries transient failures, reports exhausted ones, replays cache") {
    val requests = Seq(
      ("flaky>x>chunk>0:1", "{}"),
      ("dead>x>chunk>0:1", "{}"),
      ("cached>x>chunk>0:1", "{}"),
      ("fine>x>chunk>0:1", "{}"))
      .toDF("custom_id", "body_json")
    val cache = Seq(("cached>x>chunk>0:1", """{"cached":true}"""))
      .toDF("custom_id", "response_json")

    val ex = InlineExchange(InlineExchangeSpec.transport, maxParallelism = 2,
      InlineExchange.RetryPolicy(maxAttempts = 3, backoffMs = 1), Some(cache))
    val out = ex.execute(requests).as[(String, String)].collect().toMap

    assert(out.contains("fine>x>chunk>0:1"))
    assert(out.contains("flaky>x>chunk>0:1"))      // succeeded on retry
    assert(!out.contains("dead>x>chunk>0:1"))      // exhausted retries
    assert(out("cached>x>chunk>0:1") == """{"cached":true}""") // replayed, not re-called
    assert(!InlineExchangeSpec.called.contains("cached>x>chunk>0:1"))
    assert(InlineExchangeSpec.attempts.get("flaky>x>chunk>0:1") == 2)
  }

  test("executeWithErrors: both frames read one materialization, freed by its scope") {
    val requests = Seq(("flaky2>x>chunk>0:1", "{}"), ("dead2>x>chunk>0:1", "{}"),
      ("fine2>x>chunk>0:1", "{}")).toDF("custom_id", "body_json")
    val scope = new graft.util.CacheScope
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (ok, errors) = InlineExchange(InlineExchangeSpec.transport, maxParallelism = 2,
      InlineExchange.RetryPolicy(maxAttempts = 3, backoffMs = 1)).executeWithErrors(requests, scope)
    assert(ok.select("custom_id").as[String].collect().sorted.toSeq ==
      Seq("fine2>x>chunk>0:1", "flaky2>x>chunk>0:1"))
    assert(errors.as[(String, String)].collect().toSeq ==
      Seq(("dead2>x>chunk>0:1", "permanently down")))
    ok.count(); errors.count()
    // the transport ran once per attempt, however often the frames are read
    assert(InlineExchangeSpec.attempts.get("fine2>x>chunk>0:1") == 1)
    assert(InlineExchangeSpec.attempts.get("flaky2>x>chunk>0:1") == 2)
    assert(InlineExchangeSpec.attempts.get("dead2>x>chunk>0:1") == 3)
    val held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(held.nonEmpty)
    scope.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet intersect held).isEmpty)
  }
}

object InlineExchangeSpec {
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val called = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val transport: InlineExchange.Transport = (id, _) => {
    called.add(id)
    val n = attempts.merge(id, 1, (a, b) => a + b)
    if (id.startsWith("dead")) throw new RuntimeException("permanently down")
    if (id.startsWith("flaky") && n < 2) throw new RuntimeException("transient")
    "\"ok\""
  }
}
