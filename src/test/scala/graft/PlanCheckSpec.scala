package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.row_number

import graft.tools.PlanCheck

/** The global-window contract PlanCheck holds every gate to. */
class PlanCheckSpec extends SparkSpec {
  import spark.implicits._

  test("a window with no partition fails the window contract; a partitioned one passes") {
    val df = spark.range(0, 100, 1, 4).select(($"id" % 3).as("g"), $"id")
    def globalWindows(w: org.apache.spark.sql.expressions.WindowSpec) =
      PlanCheck.globalWindows(df.withColumn("r", row_number().over(w)).queryExecution.sparkPlan)
    assert(globalWindows(Window.orderBy($"id")) === Seq("Window"))
    assert(globalWindows(Window.partitionBy($"g").orderBy($"id")).isEmpty)
  }
}
