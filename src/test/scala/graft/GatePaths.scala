package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.scalatest.Assertions._

/** Both paths of an operator behind the driver gate
  * ([[graft.util.DriverGate]]): the vector specs run every case at the
  * default gate and with the limit at 0 (the distributed path).
  */
object GatePaths {

  /** Whether `df` is a driver result: its optimized plan scans local
    * rows and joins nothing (the distributed paths end in joins or in a
    * checkpoint scan).
    */
  def isLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectFirst { case l: LocalRelation => l }.isDefined &&
      plan.collectFirst { case j: Join => j }.isEmpty
  }

  /** Asserts that `gated` (the default gate) and `forced` (limit 0)
    * have equal schemas and equal rows with multiplicity, that `forced`
    * is distributed and that `gated` took the driver path iff `local`;
    * returns the rows.
    */
  def agree(gated: => DataFrame, forced: => DataFrame, local: Boolean = true): Seq[Row] = {
    val (g, f) = (gated, forced)
    assert(isLocal(g) === local, s"expected the ${if (local) "driver" else "distributed"} path")
    assert(!isLocal(f), "limit 0 must force the distributed path")
    assert(g.schema === f.schema)
    val Seq(gr, fr) = Seq(g, f).map(_.collect().toSeq.sortBy(_.toString))
    assert(gr === fr, "driver and distributed paths disagree")
    gr
  }

  /** The failure of both paths (Spark wraps in-plan failures, so the
    * whole cause chain is searched); asserts both carry `msg`.
    */
  def bothFail(msg: String)(gated: => DataFrame, forced: => DataFrame): Unit =
    Seq(() => gated, () => forced).foreach { f =>
      val ex = intercept[Exception](f().collect())
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(chain.contains(msg), chain)
    }
}
