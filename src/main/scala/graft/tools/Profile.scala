package graft.tools

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.{BlockBridge, BusBridge}

import graft.SparkEntry
import graft.Verify.jsonString

/** One profile of the gate queries, written as JSON.
  *
  * Usage: `runMain graft.tools.Profile <out.json> [query-prefix...]`,
  * with the gate data in `$SPARK_GRAFT_SF_DIR` and `local[$SPARK_GRAFT_CPUS]`
  * (default 4) under Bench's session conf. Every gate whose name starts
  * with one of the prefixes (all gates without one) runs twice; the
  * second, warm run is recorded, one JSON record per gate:
  *
  *  - `rows` (of `collect()`) and `error` (null, or the first line of
  *    what the gate threw — a failing gate is recorded and the run
  *    goes on);
  *  - `build_s` (the query function: its eager operator jobs),
  *    `plan_s` (physical planning) and `run_s` (`collect()`);
  *  - `jobs`: per job its `label` (`spark.job.description`), `phase`
  *    (`build`, `plan` or `run`), call `site`, start offset, wall, the
  *    gap since the previous job ended, stages, tasks, shuffle
  *    read/write bytes and spilled bytes; `totals` sums them and gives
  *    the share of job wall that carries a label;
  *  - `scans` (`Scan parquet` lines) and `operators` (distinct operator
  *    names) of the physical plan before it runs;
  *  - `plan`: the formatted final plan;
  *  - `log_warn_error`: the WARN/ERROR lines logged while the gate ran
  *    (both runs), each prefixed by run, phase and offset.
  */
object Profile {

  val Phases: Seq[String] = Seq("build", "plan", "run")

  /** The local property that carries a job's phase. Not the job group:
    * a streaming query sets its own group on its thread, which still
    * inherits this property from the thread that started it.
    */
  private val PhaseKey = "graft.profile.phase"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <out.json> [query-prefix...]")
    val prefixes = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the gate data directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
    val profiler = new Profiler(spark)
    val records =
      try gates.map { case (name, fn) =>
        System.err.println(s"[profile] $name")
        profiler.gate(name)(fn(spark, sfDir))
      } finally profiler.close()
    Files.writeString(Path.of(args(0)), document(sfDir, cpus, records))
    spark.stop()
  }

  /** The output file: the run's inputs and one record per line. */
  def document(sfDir: String, cpus: String, records: Seq[String]): String =
    s"""{"sf":${jsonString(sfDir)},"cpus":$cpus,"queries":[""" +
      records.mkString("\n", ",\n", "\n") + "]}\n"

  private final class Job(val id: Int, val start: Long, val label: String,
      val phase: String, val site: String) {
    var end = -1L
    var stages = 0L
    var tasks = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  /** Jobs by id, each completed stage counted on the job that first
    * listed it (a later job that reuses its output skips it). A job's
    * site is its SQL execution's call site when it has one: adaptive
    * execution submits its stages from a pool thread, whose own call
    * site names no graft code.
    */
  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()
    private val executionSite = new ConcurrentHashMap[String, String]()

    def reset(): Unit = { jobs.clear(); stageJob.clear(); executionSite.clear() }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSite.put(s.executionId.toString, callSite(s.details))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val site = Option(executionSite.get(prop("spark.sql.execution.id"))).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      val j = new Job(e.jobId, e.time, prop("spark.job.description"),
        prop(PhaseKey), site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.putIfAbsent(_, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        Option(e.stageInfo.taskMetrics).foreach { m =>
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
        }
      }
  }

  /** Profiles gates on `spark`: installs one listener and one log
    * appender, removed by [[close]].
    */
  final class Profiler(spark: SparkSession) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val recorder = new Recorder
    private val logs = new ConcurrentLinkedQueue[String]()
    @volatile private var at = "cold build"
    @volatile private var t0 = System.currentTimeMillis()

    private val appender = new AbstractAppender("graft-profile", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
          val thrown = Option(e.getThrown).map(t => s" [$t]").getOrElse("")
          val logger = Option(e.getLoggerName).getOrElse("").split('.').last
          logs.add(f"$at +${(e.getTimeMillis - t0) / 1e3}%.3fs ${e.getLevel} $logger: " +
            e.getMessage.getFormattedMessage + thrown)
        }
    }
    private val logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]
    sc.addSparkListener(recorder)
    appender.start()
    logContext.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logContext.updateLoggers()

    def close(): Unit = {
      logContext.getConfiguration.getRootLogger.removeAppender(appender.getName)
      logContext.updateLoggers()
      appender.stop()
      sc.removeSparkListener(recorder)
    }

    /** Runs the gate `build` makes twice and returns the JSON record of
      * the warm run. Between the runs: Bench's rep hygiene, freeing the
      * blocks the cold run persisted.
      */
    def gate(name: String)(build: => DataFrame): String = {
      logs.clear()
      val kept = sc.getPersistentRDDs.keySet
      def hygiene(): Unit = {
        spark.catalog.clearCache()
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!kept.contains(id)) BlockBridge.free(rdd)
        }
      }
      runOnce("cold", build)
      hygiene()
      System.gc()
      BusBridge.drain(sc)
      recorder.reset()
      try record(name, runOnce("warm", build)) finally hygiene()
    }

    private final class Run {
      val start = System.currentTimeMillis()
      val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var rows: Option[Long] = None
      var error: Option[String] = None
      var scans: Option[Int] = None
      var operators: Seq[String] = Nil
      var plan: Option[String] = None
    }

    private def runOnce(run: String, build: => DataFrame): Run = {
      val r = new Run
      t0 = r.start
      def phase[T](p: String)(f: => T): T = {
        at = s"$run $p"
        sc.setLocalProperty(PhaseKey, p)
        val s = System.nanoTime()
        try f finally {
          r.seconds(p) = (System.nanoTime() - s) / 1e9
          sc.setLocalProperty(PhaseKey, null)
        }
      }
      try {
        val df = phase("build")(build)
        val physical = phase("plan")(df.queryExecution.executedPlan.toString)
        r.scans = Some(physical.linesIterator.count(_.contains("Scan parquet")))
        r.operators = operatorNames(physical)
        r.rows = Some(phase("run")(df.collect().length.toLong))
        r.plan = Some(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      } catch {
        case e: Throwable =>
          r.error = Some(e.toString.linesIterator.nextOption().getOrElse("").take(500))
      }
      at = s"$run after"
      r
    }

    private def record(name: String, r: Run): String = {
      BusBridge.drain(sc)
      val jobs = recorder.jobs.values.asScala.toSeq.sortBy(j => (j.start, j.id))
      var prevEnd = r.start
      val jobJson = jobs.map { j =>
        val gap = math.max(0L, j.start - prevEnd)
        prevEnd = math.max(prevEnd, j.end)
        obj("id" -> j.id.toString, "label" -> jsonString(j.label),
          "phase" -> jsonString(j.phase), "site" -> jsonString(j.site),
          "start_s" -> secs(j.start - r.start),
          "wall_s" -> (if (j.end < 0) "null" else secs(j.end - j.start)),
          "gap_s" -> secs(gap), "stages" -> j.stages.toString,
          "tasks" -> j.tasks.toString, "shuffle_read" -> j.shuffleRead.toString,
          "shuffle_write" -> j.shuffleWrite.toString, "spill" -> j.spill.toString)
      }
      val walls = jobs.filter(_.end >= 0)
      val wall = walls.map(j => j.end - j.start).sum
      val labelled = walls.filter(_.label.nonEmpty).map(j => j.end - j.start).sum
      val totals = obj("jobs" -> jobs.size.toString,
        "stages" -> jobs.map(_.stages).sum.toString,
        "tasks" -> jobs.map(_.tasks).sum.toString,
        "shuffle_read" -> jobs.map(_.shuffleRead).sum.toString,
        "shuffle_write" -> jobs.map(_.shuffleWrite).sum.toString,
        "spill" -> jobs.map(_.spill).sum.toString,
        "job_wall_s" -> secs(wall),
        "labelled_share" -> (if (wall == 0) "null" else f"${labelled.toDouble / wall}%.3f"))
      obj(Seq("query" -> jsonString(name),
        "rows" -> r.rows.fold("null")(_.toString),
        "error" -> r.error.fold("null")(jsonString)) ++
        Phases.map(p => s"${p}_s" -> r.seconds.get(p).fold("null")(s => f"$s%.3f")) ++
        Seq("jobs" -> jobJson.mkString("[", ",", "]"), "totals" -> totals,
          "scans" -> r.scans.fold("null")(_.toString),
          "operators" -> r.operators.map(jsonString).mkString("[", ",", "]"),
          "plan" -> r.plan.fold("null")(jsonString),
          "log_warn_error" -> logs.asScala.map(jsonString).mkString("[", ",", "]")): _*)
    }
  }

  /** `<api> at <File>:<line>` from a long-form call site (a stack whose
    * first frame is the Spark API called): the first graft frame, so
    * an action a graft operator takes is named by the operator's line.
    */
  private def callSite(longForm: String): String = {
    val frames = longForm.linesIterator.map(_.trim).toSeq
    def method(f: String) = f.takeWhile(_ != '(').split('.').last
    def fileLine(f: String) = f.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')
    frames.find(_.startsWith("graft.")).fold(frames.headOption.getOrElse(""))(f =>
      s"${frames.headOption.fold("")(method)} at ${fileLine(f)}")
  }

  /** Distinct operator names of a physical plan string, in plan order. */
  private def operatorNames(plan: String): Seq[String] =
    plan.linesIterator
      .map(_.dropWhile(c => !c.isLetter && c != '*'))
      .map(_.stripPrefix("*(").dropWhile(_.isDigit).stripPrefix(") "))
      .map(_.takeWhile(_.isLetterOrDigit))
      .filter(_.nonEmpty).toSeq.distinct

  private def secs(ms: Long): String = f"${ms / 1e3}%.3f"

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
}
