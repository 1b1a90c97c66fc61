package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S10 — the reference's CSV orphan-request reports
  * (`data_etl_app/src/data_etl_app/services/batch_file_generator.py:73-109,203-208`)
  * as frames; writing one out is the caller's `write.csv`.
  */
object Reports {

  /** Orphan requests: ledger rows whose custom_id is no longer expected
    * by any deferred plan — the inverse of the T23 frontier. These are
    * re-planned or garbage-collected; the report records them first.
    */
  def orphanRequests(ledger: DataFrame, expected: DataFrame): DataFrame =
    ledger.join(expected.select(col("custom_id")), Seq("custom_id"), "left_anti")
}
