package kgbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.exchange.BatchExchange.BatchApi
import graft.exchange.InlineExchange.Transport
import graft.functions.Tokenizer

/** One call into a layer, recorded from the benchmark's side of the
  * boundary. `parent` is 0 for an op's root span.
  */
final case class Span(id: Long, name: String, parent: Long, op: Int,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work launched under one job group (one span, or one untraced op). */
final class GroupStats {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val busyMs = new LongAdder
  val gcMs = new LongAdder
  val shuffleRead = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  /** (launch, finish) wall-clock ms of every task, for idle-gap math. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** Attributes jobs, stages and tasks to the job group that was set on
  * the calling thread when the job started. Listener events arrive on
  * Spark's bus thread; read only after [[Tracer.drain]].
  */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    stats(g).jobs.increment()
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    stats(g).stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val s = stats(g)
    s.tasks.increment()
    val info = e.taskInfo
    if (info != null) s.intervals.add((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.busyMs.add(m.executorRunTime)
      s.gcMs.add(m.jvmGCTime)
      s.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      s.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      s.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Spans around the benchmark's calls into each layer. Disabled, a span
  * is the bare call; the op still runs under one job group so its
  * shuffle bytes can be counted. Enabled, each span sets its own job
  * group for its duration and restores the parent's afterwards. Spans
  * stay in memory and are written out when the benchmark ends.
  */
final class Tracer(sc: SparkContext) {
  val listener = new GroupListener
  sc.addSparkListener(listener)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  var enabled = false
  var op = -1

  def group(s: Span): String = s"s${s.id}"
  def opGroup(op: Int): String = s"op$op"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), op, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(group(s), name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Run one op: traced, under its root span; untraced, under its own job group. */
  def runOp[T](i: Int)(body: => T): T = {
    op = i
    if (enabled) span("op")(body)
    else {
      sc.setJobGroup(opGroup(i), "op")
      try body finally sc.clearJobGroup()
    }
  }

  def drain(): Unit = org.apache.spark.kgbenchbridge.Bus.drain(sc)

  def stats(g: String): GroupStats = listener.groups.getOrDefault(g, new GroupStats)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      val st = stats(group(s))
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${st.jobs.sum},""" +
        s""""tasks":${st.tasks.sum},"shuffle_bytes":${st.shuffleRead.sum + st.shuffleWrite.sum}}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** Process-wide counters the counting wrappers bump from task threads
  * (local mode: tasks run in this JVM, so one set of counters sees
  * every call however the wrappers were serialized).
  */
object Counters {
  val tokenizerCalls = new AtomicLong
  val tokensCounted = new AtomicLong
  val transportCalls = new AtomicLong
  val transportThrows = new AtomicLong
  val requestIds: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val apiLines = new AtomicLong

  def reset(): Unit = {
    Seq(tokenizerCalls, tokensCounted, transportCalls, transportThrows, apiLines)
      .foreach(_.set(0))
    requestIds.clear()
  }
}

/** Counts calls and tokens of the tokenizer the pipeline is given. */
final class CountingTokenizer(inner: Tokenizer) extends Tokenizer {
  override def count(s: String): Int = {
    val n = inner.count(s)
    Counters.tokenizerCalls.incrementAndGet()
    Counters.tokensCounted.addAndGet(n)
    n
  }
}

/** Counts calls, distinct requests and thrown calls of a transport. */
final class CountingTransport(inner: Transport) extends Transport {
  override def call(customId: String, bodyJson: String): String = {
    Counters.transportCalls.incrementAndGet()
    Counters.requestIds.add(customId)
    try inner.call(customId, bodyJson)
    catch { case e: Exception => Counters.transportThrows.incrementAndGet(); throw e }
  }
}

/** Counts the request lines a batch API receives and their distinct ids. */
final class CountingBatchApi(inner: BatchApi) extends BatchApi {
  private val IdRe = "\"custom_id\":\"([^\"]*)\"".r
  override def submit(requestFiles: Seq[String]): String = {
    requestFiles.foreach { f =>
      val src = scala.io.Source.fromFile(new java.net.URI(f))
      try src.getLines().foreach { l =>
        Counters.apiLines.incrementAndGet()
        IdRe.findFirstMatchIn(l).foreach(m => Counters.requestIds.add(m.group(1)))
      } finally src.close()
    }
    inner.submit(requestFiles)
  }
  override def results(batchId: String): Option[Seq[String]] = inner.results(batchId)
}

/** Counts WARN and ERROR log events by origin: graft code, Spark, other. */
final class LogCounter extends AbstractAppender("kgbench-log-count", null, null, true,
    Property.EMPTY_ARRAY) {
  val graft = new AtomicLong
  val spark = new AtomicLong
  val other = new AtomicLong

  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
      val n = Option(e.getLoggerName).getOrElse("")
      if (n.startsWith("graft")) graft.incrementAndGet()
      else if (n.startsWith("org.apache.spark")) spark.incrementAndGet()
      else other.incrementAndGet()
    }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, Level.WARN, null)
    ctx.updateLoggers()
  }

  def reset(): Unit = Seq(graft, spark, other).foreach(_.set(0))
}

/** Load on the machine around a run: a fixed-work probe (SHA-256 over
  * 32 MiB on one thread) and the 1-minute load average. Reported beside
  * the metrics, never used to rescale them.
  */
object Ambient {
  def probeSeconds(): Double = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 7.toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 32) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Peak resident set of this JVM, MiB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }
}
