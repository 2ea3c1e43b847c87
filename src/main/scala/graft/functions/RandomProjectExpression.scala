package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** B247 — SPARSE RANDOM PROJECTION (Achlioptas '01 "Database-friendly
  * random projections"; the JL-lemma transform every embedding pipeline
  * uses to cut storage/ANN cost before indexing): y_k = Σ_j q_j · r_jk
  * over a FROZEN {+1, 0, −1} matrix with P(±1) = 1/6 each and P(0) = 2/3
  * — Achlioptas' sparse scheme, 3× fewer multiplies than dense Gaussian
  * with the same JL guarantee.
  *
  * Everything is engine-exact integer arithmetic:
  *   - inputs quantize per element to bp fixed point,
  *     q_j = floor(x_j·10⁴ + 0.5) (float→double promotion then floor is
  *     bit-identical in both engines — the b199 cents convention);
  *   - the matrix entry is a pure integer scramble of the cell index,
  *     h = ((j·K + k + 1)·2654435761) mod 2³¹ mod 6 → +1 if h=0, −1 if
  *     h=1, else 0 (the frozen-model convention B243 set: deterministic,
  *     spelled identically in SQL — no weight table ships anywhere);
  *   - y is a BIGINT sum (|q| ≤ 10⁴·|x|, 64 terms — no overflow).
  *
  * The whole projection is ONE map-side expression per vector (zero
  * exchanges before the presentation explode/sort — the B243 posture);
  * the DuckDB oracle replays the identical arithmetic with unnest +
  * GROUP BY, its sf-scale crutch. */
case class RandomProjectExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "random_project"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    RandomProjectExpression.project(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RandomProjectExpression.project($c)")

  override protected def withNewChildInternal(newChild: Expression): RandomProjectExpression =
    copy(child = newChild)
}

object RandomProjectExpression {

  /** Output dimensionality (64 → 16 on the fixture: 4× compression). */
  val K = 16

  /** The frozen matrix cell: +1 / −1 / 0 with p = 1/6, 1/6, 2/3. */
  def cell(j: Int, k: Int): Long = {
    val h = (((j.toLong * K + k + 1) * 2654435761L) % 2147483648L) % 6L
    if (h == 0L) 1L else if (h == 1L) -1L else 0L
  }

  /** Per-element bp quantization — shared with the SQL spelling. */
  def quantize(x: Float): Long = math.floor(x.toDouble * 10000.0 + 0.5).toLong

  /** NULL-element convention (ADVICE r15): a null element contributes
    * NOTHING (q_j = 0) — exactly what the oracle's per-k `sum(q_j·cell)`
    * does, since SQL SUM skips NULL terms. Reading getFloat on a null slot
    * would return an UNDEFINED value (the ArrayData contract), so the
    * check must come first. Divergence domain (a vector whose elements
    * are ALL null sums to SQL NULL, not 0) plus the empty-array
    * convention (native: K zero components; oracle unnest: no rows) are
    * pinned empty on the fixture by CorpusBudgetSpec. */
  def project(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      q(j) = if (arr.isNullAt(j)) 0L else quantize(arr.getFloat(j))
      j += 1
    }
    val y = new Array[Long](K)
    j = 0
    while (j < n) {
      val qj = q(j)
      if (qj != 0L) {
        var k = 0
        while (k < K) {
          val c = cell(j, k)
          if (c != 0L) y(k) += qj * c
          k += 1
        }
      }
      j += 1
    }
    new GenericArrayData(y)
  }

  def build(children: Seq[Expression]): RandomProjectExpression = {
    if (children.size != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "random_project", "expectedNum" -> "1",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    RandomProjectExpression(children.head)
  }
}
