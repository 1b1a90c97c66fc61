package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.VocabMatch

/** Session extension wiring (the `SparkSessionExtensions` path —
  * SURVEY.md §7.4's extension-point story): registers the native
  * [[VocabMatch]] expression under SQL name `graft_vocab_match`.
  *
  * Usage (config-driven, no code):
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * SELECT graft_vocab_match(text, array('CNC','CNC Machining'),
  *                                 array('CNC Machining','CNC Machining'))
  * }}}
  * Args 2/3 are parallel FOLDABLE arrays (labels, concept names) —
  * resolved to the expression's compiled matcher at plan time, so SQL
  * callers get the same single-pass matcher as the DataFrame API.
  * (`Graft.registerAll` covers the plain-UDF functions; this class is
  * the injection route for native expressions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_vocab_match"),
      new ExpressionInfo(classOf[VocabMatch].getName, "graft_vocab_match"),
      (children: Seq[Expression]) => GraftExtensions.buildVocabMatch(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_dedup_key"),
      new ExpressionInfo(
        classOf[graft.functions.DedupKeyNormalize].getName, "graft_dedup_key"),
      (children: Seq[Expression]) => GraftExtensions.buildDedupKey(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_chunks"),
      new ExpressionInfo(
        classOf[graft.functions.ChunkSplit].getName, "graft_chunks"),
      (children: Seq[Expression]) => GraftExtensions.buildChunkSplit(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_vocab_spans"),
      new ExpressionInfo(
        classOf[graft.functions.VocabMatchSpans].getName, "graft_vocab_spans"),
      (children: Seq[Expression]) => GraftExtensions.buildVocabSpans(children)))
    // optimizer rules: the authored three-pass dedup-key regex chain
    // fuses to the single-scan codegen expression at plan time, and
    // vocab matching over exploded chunks pushes below the explode
    ext.injectOptimizerRule(_ => graft.plans.DedupKeyFuse)
    ext.injectOptimizerRule(_ => graft.plans.VocabBelowExplode)
  }
}

object GraftExtensions {

  private def literalStrings(e: Expression, what: String): Seq[String] = {
    require(e.foldable, s"graft_vocab_match: $what must be a foldable array literal")
    e.eval(null) match {
      case a: ArrayData =>
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      case other =>
        throw new IllegalArgumentException(
          s"graft_vocab_match: $what must be an array of strings, got $other")
    }
  }

  private[graft] def buildVocabMatch(children: Seq[Expression]): Expression = {
    require(children.length == 3,
      "graft_vocab_match(text, labels_array, concept_names_array)")
    val labels = literalStrings(children(1), "labels")
    val names = literalStrings(children(2), "concept names")
    require(labels.length == names.length,
      s"graft_vocab_match: ${labels.length} labels vs ${names.length} concept names")
    VocabMatch(children.head, labels.zip(names))
  }

  /** `graft_dedup_key(text)` — the fused normalized-dedup key over
    * `lower(text)` (the [[graft.textops.TextTokens.dedupKeyCol]]
    * composition), so SQL callers hash/group on the exact same key as
    * the DataFrame dedup operators.
    */
  private[graft] def buildDedupKey(children: Seq[Expression]): Expression = {
    require(children.length == 1, "graft_dedup_key(text)")
    graft.functions.DedupKeyNormalize(
      org.apache.spark.sql.catalyst.expressions.Lower(children.head))
  }

  /** `graft_chunks(text, soft_limit_tokens, overlap_ratio, max_chunks)`
    * — the Catalyst-visible soft-limit chunker
    * ([[graft.functions.ChunkSplit]]); limits are plan-time literals.
    * `max_chunks <= 0` means unlimited.
    */
  private[graft] def buildChunkSplit(children: Seq[Expression]): Expression = {
    require(children.length == 4,
      "graft_chunks(text, soft_limit_tokens, overlap_ratio, max_chunks)")
    def num(e: Expression, what: String): Double = {
      require(e.foldable, s"graft_chunks: $what must be a literal")
      e.eval(null) match {
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"graft_chunks: $what must be numeric, got $other")
      }
    }
    graft.functions.ChunkSplit(children.head,
      num(children(1), "soft_limit_tokens").toInt,
      num(children(2), "overlap_ratio"),
      num(children(3), "max_chunks").toInt)
  }

  /** `graft_vocab_spans(text, labels_array, concept_names_array)` —
    * line-grain match spans ([[graft.functions.VocabMatchSpans]]).
    */
  private[graft] def buildVocabSpans(children: Seq[Expression]): Expression = {
    require(children.length == 3,
      "graft_vocab_spans(text, labels_array, concept_names_array)")
    val labels = literalStrings(children(1), "labels")
    val names = literalStrings(children(2), "concept names")
    require(labels.length == names.length,
      s"graft_vocab_spans: ${labels.length} labels vs ${names.length} concept names")
    graft.functions.VocabMatchSpans(children.head, labels.zip(names))
  }

  /** Imperative registration for sessions built without the config:
    * the SQL functions land in the function registry, and the
    * [[graft.plans.DedupKeyFuse]] rewrite lands in
    * `spark.experimental.extraOptimizations` (a post-optimizer batch —
    * same fixed-point semantics as `injectOptimizerRule`, applied to
    * every query planned after this call). Idempotent: a function the
    * registry already holds is left as it is (replacing it would log a
    * "replaced a previously registered function" WARN per call).
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq[(String, Seq[Expression] => Expression)](
      "graft_vocab_match" -> buildVocabMatch,
      "graft_dedup_key" -> buildDedupKey,
      "graft_chunks" -> buildChunkSplit,
      "graft_vocab_spans" -> buildVocabSpans).foreach { case (name, builder) =>
        if (!registry.functionExists(FunctionIdentifier(name)))
          registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
    Seq(graft.plans.DedupKeyFuse, graft.plans.VocabBelowExplode)
      .foreach { r =>
        if (!spark.experimental.extraOptimizations.contains(r))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ r
      }
  }
}
