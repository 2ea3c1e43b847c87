package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** DELTA + VARINT POSTING-LIST CODEC (B179 — the storage layout every
  * production inverted index uses: Manning/Raghavan/Schütze IIR §5.3
  * variable-byte codes over d-gaps; Lucene's VInt postings): a SORTED
  * posting list compresses as first-id-then-gaps, each value LEB128
  * varint-encoded — 7 payload bits per byte, high bit = continuation.
  * Gap encoding works because sorted distinct postings have small gaps
  * (Zipf: frequent terms have DENSE postings → mostly 1-byte gaps), so
  * the hot long lists compress hardest — the property that makes
  * block-max/WAND serving (b113) I/O-bound instead of memory-bound.
  *
  * `encode_postings(array<bigint>)` → binary. Input must be sorted
  * strictly-ascending non-negative (the b108 index invariant);
  * violations throw (a negative gap cannot varint) rather than corrupt.
  * `decode_postings(binary)` → array<bigint> inverts exactly; a
  * truncated buffer (continuation bit on the last byte) throws.
  *
  * The byte length is ANALYTIC: bytes(v) = 1 + [v≥2⁷] + [v≥2¹⁴] + … —
  * which is what lets the b179 DuckDB oracle predict the encoded size
  * of every posting list without running the codec (the b172 two-sided
  * convention: the entry's roundtrip flag pins decode∘encode = id, the
  * predicted size pins the wire format).
  *
  * Scale posture: both directions are per-row map-side scalars over the
  * already-aggregated posting arrays — the codec adds no shuffle; at
  * 100 TB the win is the shuffle/storage BYTES of the index itself
  * (measured ~5-8× on Zipf postings vs raw 8-byte ids). */
case class EncodePostingsExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "encode_postings"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    PostingCodec.encode(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PostingCodec.encode($c)")
  override protected def withNewChildInternal(newChild: Expression): EncodePostingsExpression =
    copy(child = newChild)
}

case class DecodePostingsExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "decode_postings"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires binary, got ${other.catalogString}")
    }
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    PostingCodec.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PostingCodec.decode($c)")
  override protected def withNewChildInternal(newChild: Expression): DecodePostingsExpression =
    copy(child = newChild)
}

object PostingCodec {

  /** LEB128 byte count of v ≥ 0 — the analytic law the oracle replays. */
  def varintLen(v: Long): Int = {
    require(v >= 0, s"varint requires non-negative, got $v")
    var n = 1
    var x = v >>> 7
    while (x != 0) { n += 1; x >>>= 7 }
    n
  }

  /** Shared by eval and the generated code. */
  def encode(ids: ArrayData): Array[Byte] = {
    val n = ids.numElements()
    val out = new java.io.ByteArrayOutputStream(n * 2)
    var prev = 0L
    var i = 0
    while (i < n) {
      val id = ids.getLong(i)
      val gap = id - prev
      require(if (i == 0) gap >= 0 else gap > 0,
        s"postings must be sorted strictly-ascending non-negative: $id after $prev")
      var v = gap
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
      prev = id
      i += 1
    }
    out.toByteArray
  }

  /** Shared by eval and the generated code. */
  def decode(bytes: Array[Byte]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var acc = 0L
    var shift = 0
    var prev = 0L
    var inValue = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      // ADVICE r14: an overlong varint (10+ continuation bytes) would wrap
      // the shift amount mod 64 and silently corrupt — violations throw
      require(shift <= 63, "varint too long: more than 10 bytes")
      acc |= (b & 0x7FL) << shift
      shift += 7
      inValue = true
      if ((b & 0x80) == 0) {
        prev += acc
        out += prev
        acc = 0L; shift = 0; inValue = false
      }
      i += 1
    }
    require(!inValue, "truncated varint: continuation bit set on final byte")
    new GenericArrayData(out.toArray)
  }

}
