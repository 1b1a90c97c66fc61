package graft.util

import org.apache.spark.SparkContext

/** Job labels for multi-job operators. */
object Jobs {

  /** Run `f` with `spark.job.description` set to `desc`, then restore
    * the previous description — every job `f` launches carries the
    * operator/phase label in the UI, event log and listeners. The job
    * group (`spark.jobGroup.id`) is left untouched, so callers that
    * attribute jobs by group keep working.
    */
  def labeled[T](sc: SparkContext, desc: String)(f: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }
}
