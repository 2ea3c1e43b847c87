package graft.functions

import java.util.Arrays

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-3-shingle hashes (SURVEY §2C tier (b); the
  * b43_dedup_minhash shingling hot loop).
  *
  * `shingle_hashes(text)` ≡ sorted
  * `array_distinct(transform(shingles, s -> xxhash64(s)))` over the same
  * shingles the declarative spelling builds —
  * `split(text, ' ')` (single-space `Pattern.split(-1)` semantics: empty
  * tokens kept, including both ends; fewer than 3 words → empty array)
  * then `concat_ws(' ', w[i], w[i+1], w[i+2])` — but the shingle STRINGS
  * never materialize: one byte scan finds the word boundaries, and since
  * consecutive words are separated by exactly one space, every 3-word
  * window is CONTIGUOUS in the source bytes — each shingle is hashed
  * zero-copy straight from the input's byte range (UTF-8 concat is byte
  * concat, so the digest equals `xxhash64` of the concatenated string),
  * then sort + dedup in place.
  *
  * Distinctness here is SET semantics (sorted), not array_distinct's
  * first-occurrence order — every consumer (MinHash minima, explode →
  * join/count) is order-insensitive, and the spec compares as sets.
  * What the fusion deletes from the plan: the split's String[] and
  * per-shingle String allocations and three interpreted HOF lambdas per
  * document (the trigram_hashes lesson); downstream, the per-doc cache
  * holds 8-byte longs instead of shingle text.
  */
case class ShingleHashesExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.catalogString}")
    }

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    ShingleHashesExpression.hashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashesExpression.hashes($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpression =
    copy(child = newChild)
}

object ShingleHashesExpression {

  /** One fused pass: boundary scan → per-window byte hash → sort+dedup.
    * Shared by eval, the generated code, and the spec's JVM oracle. */
  def hashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // word start offsets (single-space split, empty tokens kept): word i
    // spans [starts(i), starts(i+1) - 2] inclusive; sentinel at len + 1
    var nWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    if (nWords < 3) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = len + 1
    val out = new Array[Long](nWords - 2)
    var k = 0
    while (k < nWords - 2) {
      // shingle = bytes[starts(k) .. starts(k+3) - 2] with the two
      // in-between separators already being ' ' in the source — the
      // 3-word window is CONTIGUOUS in the original bytes, so no copy is
      // needed at all: hash the source range directly
      val from = starts(k)
      val until = starts(k + 3) - 2 // inclusive end
      out(k) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from,
        until - from + 1, 42L)
      k += 1
    }
    Arrays.sort(out)
    var uniq = 0
    var j = 0
    while (j < out.length) {
      if (j == 0 || out(j) != out(j - 1)) { out(uniq) = out(j); uniq += 1 }
      j += 1
    }
    new GenericArrayData(Arrays.copyOf(out, uniq))
  }

  def build(children: Seq[Expression]): ShingleHashesExpression = {
    if (children.size != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "shingle_hashes", "expectedNum" -> "1",
          "actualNum" -> children.size.toString, "docroot" -> ""))
    ShingleHashesExpression(children.head)
  }

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
