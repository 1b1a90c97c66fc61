package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Extension wiring: the native expression reachable from SQL via
  * spark.sql.extensions and via imperative install.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  // Own session: spark.sql.extensions only applies at session build, and
  // getOrCreate would return the shared (extension-less) test session —
  // clear active/default first, build, then restore for other suites.
  private lazy val spark: SparkSession = {
    val shared = SparkSpec.session // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      // withExtensions: same injection path spark.sql.extensions uses at
      // startup; the config string is ignored when the context already
      // exists, so tests apply the extension object directly
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }

  test("graft_vocab_match callable from SQL through session extensions") {
    spark.sparkContext.setLogLevel("WARN")
    val rows = spark.sql(
      """SELECT graft_vocab_match('We do CNC and MIG welding work',
        |         array('CNC', 'MIG welding', 'Copper Pipe 1/2in'),
        |         array('CNC Machining', 'Welding', 'Copper Pipe 1/2in')) AS m""".stripMargin)
      .collect()
    assert(rows.head.getAs[scala.collection.Seq[String]]("m").toSeq ==
      Seq("CNC Machining", "Welding"))
  }

  test("mismatched label/name arrays raise at plan time") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_vocab_match('x', array('a','b'), array('only'))").collect()
    }
    assert(e.getMessage.contains("2 labels vs 1 concept names"))
  }

  test("imperative install works on an extension-less session") {
    val plain = SparkSpec.session // the shared test session (no extensions)
    GraftExtensions.install(plain)
    val got = plain.sql(
      "SELECT graft_vocab_match('copper pipe here', array('Copper Pipe'), array('Copper Pipe')) AS m")
      .collect().head.getAs[scala.collection.Seq[String]]("m").toSeq
    assert(got == Seq("Copper Pipe"))
  }

  test("install is idempotent: a second call keeps the registry entries and logs no WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val plain = SparkSpec.session
    val registry = plain.sessionState.functionRegistry
    val names = Seq("graft_vocab_match", "graft_dedup_key", "graft_chunks", "graft_vocab_spans")
    def entries = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    GraftExtensions.install(plain)
    val first = entries
    assert(first.forall(_.isDefined))
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("install-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warns.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try GraftExtensions.install(plain)
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    first.zip(entries).zip(names).foreach { case ((a, b), n) => assert(a.get eq b.get, n) }
    import scala.jdk.CollectionConverters._
    val replaced = warns.asScala.filter(_.contains("previously registered"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }

  test("graft_dedup_key callable from SQL; equals the DataFrame key column") {
    val got = spark.sql(
      "SELECT graft_dedup_key('The QUICK  brown fox, v2.1!') AS k")
      .collect().head.getString(0)
    assert(got == "the quick brown fox v0 0") // "2" and "1" are separate digit runs
    // same key as TextTokens.dedupKeyCol over a frame
    import spark.implicits._
    val df = Seq("The QUICK  brown fox, v2.1!").toDF("text")
    val viaCol = df.select(
      graft.textops.TextTokens.dedupKeyCol(org.apache.spark.sql.functions.col("text")))
      .collect().head.getString(0)
    assert(got == viaCol)
  }
}
