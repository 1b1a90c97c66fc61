package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col

import graft.util.DriverGate

/** The jobs [[DriverGate.gate]] launches on each path, counted by a
  * listener, and what it leaves behind.
  */
class DriverGateSpec extends SparkSpec {
  import spark.implicits._

  private val Label = "driver gate spec: gate"

  /** `f`'s result and the descriptions of the jobs it launched. */
  private def jobsOf[A](f: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      // events arrive in order: once this job is seen, so are f's
      spark.sparkContext.setJobDescription("sentinel")
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(seen.contains("sentinel"))
      (a, seen.asScala.toSeq.takeWhile(_ != "sentinel"))
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** `df` with its AQE shuffle stages already run, so a cut launches
    * no job of its own.
    */
  private def shuffled(df: DataFrame): DataFrame = { df.queryExecution.toRdd; df }

  /** `n` rows of an RDD: no logical row bound. */
  private def unbounded(n: Int): DataFrame = spark.sparkContext.parallelize(0 until n, 4).toDF("id")

  /** 100 rows read back from a repartition: the cut's shuffle wrote 100. */
  private def bounded: DataFrame = shuffled(unbounded(100).repartition(4, col("id")))

  /** The gate over `df` at `limit`, solving to the row count, with its jobs. */
  private def gateAt(df: DataFrame, limit: Long,
      weight: Option[InternalRow => Long] = None): (Either[DataFrame, Int], Seq[String]) =
    jobsOf(DriverGate.gate(df, limit, Label, weight)(rows => Some(rows.length)))

  test("limit 0 launches no job") {
    val (out, jobs) = gateAt((1 to 10).toDF("id"), 0L)
    assert(jobs.isEmpty)
    assert(out.left.toOption.get.count() == 10)
  }

  test("a row bound over the limit launches no job") {
    val (out, jobs) = gateAt(bounded, 99L)
    assert(jobs.isEmpty)
    assert(out.left.toOption.get.count() == 100)
  }

  test("a row bound within the limit launches one job, which collects the rows") {
    val (out, jobs) = gateAt(bounded, 100L)
    assert(jobs == Seq(Label))
    assert(out == Right(100))
  }

  test("a frame over local rows is bounded by them") {
    val df = (1 to 10).toDF("id").filter(col("id") > 5)
    val (in, inJobs) = gateAt(df, 5L)
    assert(inJobs == Seq(Label) && in == Right(5))
    val (over, overJobs) = gateAt(df, 4L)
    assert(overJobs.isEmpty && over.isLeft)
  }

  test("without a row bound the gate counts, then collects") {
    val df = unbounded(10)
    val (in, inJobs) = gateAt(df, 10L)
    assert(inJobs == Seq(Label, Label) && in == Right(10))
    val (over, overJobs) = gateAt(df, 9L)
    assert(overJobs == Seq(Label) && over.isLeft)
  }

  test("a weighted frame is weighed before it is collected, even under a row bound") {
    val (in, inJobs) = gateAt(bounded, 200L, Some(_ => 2L))
    assert(inJobs == Seq(Label, Label) && in == Right(100))
    val (over, overJobs) = gateAt(bounded, 199L, Some(_ => 2L))
    assert(overJobs == Seq(Label) && over.isLeft)
  }

  test("the driver path frees its checkpoint; the distributed path keeps it") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(gateAt((1 to 10).toDF("id"), 10L)._1 == Right(10))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    // a declining solver hands the filled checkpoint on
    val (out, jobs) = jobsOf(DriverGate.gate((1 to 10).toDF("id"), 10L, Label)(_ => None))
    assert(jobs == Seq(Label))
    assert(spark.sparkContext.getPersistentRDDs.keySet.size == before.size + 1)
    assert(out.left.toOption.get.count() == 10)
  }

  test("a final stage that can multiply rows gets no bound") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 3 × 3 rows on one key: a shuffled join turns 6 input rows into 9
      def joined = shuffled(spark.sparkContext.parallelize(Seq.fill(3)(1)).toDF("k")
        .join(spark.sparkContext.parallelize(Seq.fill(3)(1)).toDF("j"), col("k") === col("j")))
      val (over, overJobs) = gateAt(joined, 8L)
      assert(overJobs == Seq(Label) && over.isLeft)
      // no bound, so the rows are counted before they are collected
      val (in, inJobs) = gateAt(joined, 9L)
      assert(inJobs == Seq(Label, Label) && in == Right(9))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
