package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Verify.jsonString

/** Single-query slice of [[graft.Verify]] — the inner loop for gate
  * authoring: dump the named queries' result parquet plus an
  * `oracle_sql.json` holding only their oracles, so `tools/check.py`
  * compares just those queries instead of the whole suite.
  *
  * Usage: runMain graft.tools.VerifyOne <name>[,<name>...] [sfDir] [outDir]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val entries = names.map(n => s"${jsonString(n)}: ${jsonString(graft.SparkEntry.oracleSql(n))}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      s"{${entries.mkString(", ")}}")
    spark.stop()
  }
}
