package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration for the engine's custom expressions, so `spark.sql`
  * users get them too. [[GraftExtensions]] injects them into every session
  * `graft.Session` builds; a session built elsewhere gets them with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * Kernels whose extra arguments are plan-time CONSTANTS (shingle widths,
  * Hilbert bits, stopword lists) are registered with foldable-literal
  * extraction; kernels parameterized by data-derived tables (codebooks,
  * centroid samples, merge tables, hyperplanes) stay DataFrame-API-only —
  * their constants come from the operator that computed them.
  */
object GraftFunctions {

  private def foldInt(e: Expression, fn: String, what: String): Int = e match {
    case e if e.foldable && e.dataType == IntegerType =>
      e.eval().asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a foldable INT, got $other")
  }

  private def foldStringSeq(e: Expression, fn: String, what: String): Seq[String] =
    e match {
      case e if e.foldable && e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == StringType =>
        e.eval().asInstanceOf[ArrayData].toObjectArray(StringType)
          .map(_.asInstanceOf[UTF8String].toString).toSeq
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a foldable ARRAY<STRING>, got $other")
    }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    (FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs(0),
        foldInt(exprs(1), "graft_word_shingles", "shingle width"))),
    (FunctionIdentifier("graft_minhash_slots"),
      new ExpressionInfo(classOf[MinHashSlots].getName, "graft_minhash_slots"),
      (exprs: Seq[Expression]) => MinHashSlots(exprs(0),
        if (exprs.length > 1)
          foldInt(exprs(1), "graft_minhash_slots", "shingle width")
        else 3)),
    (FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "graft_text_stats"),
      (exprs: Seq[Expression]) => TextStats(exprs(0),
        foldStringSeq(exprs(1), "graft_text_stats", "stopword list"))),
    (FunctionIdentifier("graft_repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "graft_repetition_stats"),
      (exprs: Seq[Expression]) => RepetitionStats(exprs(0))),
    (FunctionIdentifier("graft_rolling_token_hash"),
      new ExpressionInfo(classOf[RollingTokenHash].getName, "graft_rolling_token_hash"),
      (exprs: Seq[Expression]) => RollingTokenHash(exprs(0))),
    (FunctionIdentifier("graft_hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert_index"),
      (exprs: Seq[Expression]) => HilbertIndex(exprs(0), exprs(1),
        foldInt(exprs(2), "graft_hilbert_index", "bits"))),
    (FunctionIdentifier("graft_winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow_fingerprints"),
      (exprs: Seq[Expression]) => WinnowFingerprints(exprs(0),
        foldInt(exprs(1), "graft_winnow_fingerprints", "gram width k"),
        foldInt(exprs(2), "graft_winnow_fingerprints", "window w"))),
    (FunctionIdentifier("graft_text_dhash"),
      new ExpressionInfo(classOf[TextDHash].getName, "graft_text_dhash"),
      (exprs: Seq[Expression]) => TextDHash(exprs(0))))
}

/** `SparkSessionExtensions` hook (SURVEY.md §4 custom-hook tier): SQL
  * function surface + the literal-alternation RLIKE rewrite rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plans.RewriteLiteralAlternationRLike)
  }
}
