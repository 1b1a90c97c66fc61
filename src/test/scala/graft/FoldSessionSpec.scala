package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

import graft.streaming.{DurableLedger, FoldSession, StreamKeepBest, StreamPmi}
import graft.streaming.FoldSession.{Part, sumBy}

/** The fold-session kernel: construction-time `compactEvery` check,
  * the on-disk ledger layout, the durable form's resumable `start`,
  * and the job labels. Replay is pinned by
  * `DurableLedgerSpec`; each ported session's spec covers its own fold,
  * compaction, restart and `start`.
  */
class FoldSessionSpec extends SparkSpec {
  import spark.implicits._

  private val CountSchema = StructType.fromDDL("k STRING, n BIGINT")
  private val counts = Part(_.groupBy(col("k")).agg(count(lit(1)).as("n")),
    sumBy("k")("n"), schema = CountSchema)

  private final class DurableCounter(path: String, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "counter", path, compactEvery, counts) {
    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
    def current: Map[String, Long] =
      state().as[(String, Long)].collect().toMap
  }

  private def tmp(): String =
    Files.createTempDirectory("fold").toFile.getAbsolutePath

  test("compactEvery of 1 or below 0 is rejected at construction, before any commit") {
    for (bad <- Seq(1, -1)) {
      val dir = tmp()
      val e = intercept[IllegalArgumentException](
        new StreamKeepBest.DurableKeepBestSession(spark, dir, "id", "text", "q",
          compactEvery = bad))
      assert(e.getMessage ==
        s"requirement failed: compactEvery must be 0 (off) or >= 2: $bad")
      assert(DurableLedger.batches(dir).isEmpty)
    }
    // the accepted values construct
    new DurableCounter(tmp(), compactEvery = 0)
    new DurableCounter(tmp(), compactEvery = 2)
  }

  test("ledger layout: <path>/b<id> for one part, <path>/<dir>/b<id> for named parts") {
    val one = tmp()
    val c = new DurableCounter(one)
    c.ingest(Seq("a").toDF("k"), 0L)
    c.ingest(Seq("b").toDF("k"), 1L)
    assert(DurableLedger.batches(one) == Seq(0L, 1L))

    val two = tmp()
    val pmi = new StreamPmi.DurablePmiSession(spark, two, "text")
    pmi.ingest(Seq("x y z").toDF("text"), 3L)
    assert(new File(two).list().sorted.toSeq == Seq("big", "uni"))
    assert(DurableLedger.batches(s"$two/big") == Seq(3L))
    assert(DurableLedger.batches(s"$two/uni") == Seq(3L))
  }

  test("durable start resumes from its checkpoint without refolding a batch") {
    implicit val sqlCtx = spark.sqlContext
    val (root, ckpt) = (tmp(), tmp())
    val stream = MemoryStream[String]
    def run(rows: String*): Unit = {
      val q = new DurableCounter(root).start(stream.toDF().toDF("k"), Some(ckpt))
      try { stream.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    run("a", "b")
    run("a")
    assert(DurableLedger.batches(root) == Seq(0L, 1L))
    assert(new DurableCounter(root).current == Map("a" -> 2L, "b" -> 1L))
  }

  test("durable commits run as '<label>: commit' jobs and restore the description") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobDescription("outer")
      new DurableCounter(tmp()).ingest(Seq("a").toDF("k"), 0L)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "outer")
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("counter: commit") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(seen.contains("counter: commit"))
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
