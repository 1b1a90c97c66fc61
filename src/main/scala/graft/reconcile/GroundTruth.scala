package graft.reconcile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** T18 — ground-truth overlay (reference
  * `data_etl_app/src/data_etl_app/utils/ground_truth_helper_util.py:9-49`;
  * binary precedence `new_extract_queue_bot.py:439-455`).
  *
  * Corrections are human edit logs over machine results:
  *  - '''concepts''': only the LAST log applies —
  *    `(results − remove) ∪ keys(add)`;
  *  - '''keywords''': ALL logs fold in order —
  *    `((results − remove₁) ∪ add₁) − remove₂ ∪ add₂ …`;
  *  - '''binary''': the human answer, when present, wins (applied
  *    inline at `Orchestrator.process`'s gate as `coalesce(human, machine)`).
  */
object GroundTruth {

  final case class Correction(remove: Set[String], add: Set[String])

  def finalConceptResults(results: Set[String], logs: Seq[Correction]): Set[String] =
    logs.lastOption match {
      case None => results
      case Some(last) => results.diff(last.remove).union(last.add)
    }

  def finalKeywordResults(results: Set[String], logs: Seq[Correction]): Set[String] =
    logs.foldLeft(results)((acc, log) => acc.diff(log.remove).union(log.add))

  /** Column form over array columns: one correction already reduced to
    * (remove, add) arrays — `array_union(array_except(results, remove), add)`.
    * Null-safe: a row without corrections passes through.
    */
  def overlay(results: Column, remove: Column, add: Column): Column =
    when(remove.isNull && add.isNull, results)
      .otherwise(array_union(
        array_except(coalesce(results, array()), coalesce(remove, array())),
        coalesce(add, array())))
}
