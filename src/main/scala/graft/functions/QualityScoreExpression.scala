package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** B243 — LEARNED QUALITY-CLASSIFIER INFERENCE (the fasttext-inference
  * shape every production corpus pipeline runs — CCNet/Wenzek '20 and
  * GPT-3/Brown '20 score documents with a frozen linear model over hashed
  * n-gram features): score = Σ w[h(unigram)] + Σ w[h(bigram)], keep iff
  * score > 0 (sigmoid(x) ≥ ½ ⟺ x ≥ 0, so the logistic threshold gates on
  * the INTEGER dot product — no floats anywhere).
  *
  * The frozen model is deterministic and engine-shared rather than
  * trained: feature j's weight is the Knuth scramble of the bucket id,
  * centered — w(j) = (((j · 2654435761) mod 2³¹) mod 2001) − 1000 ∈
  * [−1000, 1000] — and features hash by the engine-wide salted 40-bit
  * poly fold into 4096 buckets (`qc:` unigrams, `qc2:` bigrams). A real
  * deployment swaps the weight FUNCTION for a broadcast weight table;
  * every plan property (map-side, zero shuffles before the gate, codegen)
  * is identical.
  *
  * Tokenization matches the oracle exactly: split on single spaces, drop
  * empty tokens, bigrams joined with one space over the FILTERED list.
  * The fold walks codepoints (the PolyFoldExpression contract).
  *
  * This native expression is the codegen hot path (the b100 lesson: the
  * HOF spelling runs interpreted lambdas per token); the DuckDB oracle
  * replays the identical hash→dot→threshold arithmetic in pure SQL, and
  * QualityClassifierSpec replays it a third way in plain JVM Scala. */
case class QualityScoreExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "quality_score"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    QualityScoreExpression.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.QualityScoreExpression.score($c)")

  override protected def withNewChildInternal(newChild: Expression): QualityScoreExpression =
    copy(child = newChild)
}

object QualityScoreExpression {

  /** Feature buckets (2¹²) — small enough that the frozen weight function
    * inlines, large enough that the 4-gram salt collisions stay rare. */
  val Buckets = 4096L

  /** w(j) for bucket j: Knuth-scrambled, centered on 0 (ADVICE r14 rule:
    * selectors/weights always use the SCRAMBLED spelling, and the useful
    * bits are the HIGH ones — mod 2001 of the scramble mixes all of j's
    * bits, unlike any function of raw j's low bits). */
  def weight(bucket: Long): Long =
    (((bucket * 2654435761L) % 2147483648L) % 2001L) - 1000L

  private def featureWeight(salt: String, token: String): Long =
    weight(graft.llm.Winnowing.polyFoldString(salt + token) % Buckets)

  /** The full document score — static so codegen calls it directly. */
  def score(s: UTF8String): Long = {
    val toks = s.toString.split(" ", -1)
    var sum = 0L
    var prev: String = null
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        sum += featureWeight("qc:", t)
        if (prev != null) sum += featureWeight("qc2:", prev + " " + t)
        prev = t
      }
      i += 1
    }
    sum
  }

  def build(children: Seq[Expression]): QualityScoreExpression = {
    if (children.size != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "quality_score", "expectedNum" -> "1",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    QualityScoreExpression(children.head)
  }
}
