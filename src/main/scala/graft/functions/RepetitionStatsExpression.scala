package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** B245 — WITHIN-DOC REPETITION STATISTICS (the Gopher repetition rules,
  * Rae et al. '21 Appendix A: documents dominated by one repeated n-gram
  * or by duplicated n-gram mass are boilerplate/spam and get filtered
  * before training): `repetition_stats(text)` returns the five exact
  * integer sufficient statistics as ARRAY<BIGINT>
  *
  *   [0] n    — token count (split on ' ', empties dropped — the b45/
  *              B243 convention)
  *   [1] max2 — the most frequent word 2-gram's occurrence count
  *   [2] max3 — … 3-gram …
  *   [3] max4 — … 4-gram …
  *   [4] cov2 — tokens covered by 2-grams occurring ≥ 2 times in the doc
  *
  * The basis-point fractions and the keep gate are spelled in SQL on BOTH
  * engines from these counts (top-k = maxk·10⁴ div (n−k+1), coverage =
  * cov2·10⁴ div n) — the expression ships counts, not ratios, so the
  * division convention stays in shared oracle text.
  *
  * Every statistic is WITHIN-document: the whole pass is one map-side
  * codegen expression over the scan (zero exchanges — the B243 posture),
  * which is the entire 100 TB argument; the DuckDB oracle replays the
  * same counts with per-doc unnest + GROUP BY (its sf-scale crutch, not
  * the plan). One token walk builds all three gram maps and the coverage
  * mask; memory is O(doc grams), bounded by the longest document. */
case class RepetitionStatsExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    RepetitionStatsExpression.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RepetitionStatsExpression.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpression =
    copy(child = newChild)
}

object RepetitionStatsExpression {

  /** One pass over the token list: gram-count maps for k = 2..4 plus the
    * repeated-2-gram coverage mask. Static so codegen calls it directly. */
  def stats(s: UTF8String): ArrayData = {
    val toks = s.toString.split(" ", -1).filter(_.nonEmpty)
    val n = toks.length
    def maxCount(k: Int): Long = {
      if (n < k) return 0L
      val m = new java.util.HashMap[String, Long]()
      var i = 0
      while (i + k <= n) {
        val g = toks.slice(i, i + k).mkString(" ")
        m.merge(g, 1L, (a, b) => a + b)
        i += 1
      }
      var mx = 0L
      val it = m.values().iterator()
      while (it.hasNext) mx = math.max(mx, it.next())
      mx
    }
    val cov2: Long = {
      if (n < 2) 0L
      else {
        val m = new java.util.HashMap[String, Long]()
        var i = 0
        while (i + 2 <= n) {
          m.merge(toks(i) + " " + toks(i + 1), 1L, (a, b) => a + b)
          i += 1
        }
        val marked = new Array[Boolean](n)
        i = 0
        while (i + 2 <= n) {
          if (m.get(toks(i) + " " + toks(i + 1)) >= 2L) {
            marked(i) = true; marked(i + 1) = true
          }
          i += 1
        }
        marked.count(identity).toLong
      }
    }
    new GenericArrayData(
      Array(n.toLong, maxCount(2), maxCount(3), maxCount(4), cov2))
  }

  def build(children: Seq[Expression]): RepetitionStatsExpression = {
    if (children.size != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "repetition_stats", "expectedNum" -> "1",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    RepetitionStatsExpression(children.head)
  }
}
