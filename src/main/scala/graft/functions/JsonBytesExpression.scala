package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `json_bytes(struct)`: the struct as JSON, the same bytes as
  * `to_json(struct, map('ignoreNullFields', 'false')).cast("binary")`,
  * written straight from the row into UTF-8 without the UTF8String →
  * String → chars → String → bytes round trip of `to_json`.
  *
  * What `to_json` writes, and so this: fields in schema order, a null
  * field as `"name":null` and a null element as `null`, no whitespace;
  * strings with Jackson's default escapes (`\"`, `\\`, `\b \t \n \f \r`,
  * other control characters as `\u00XX` in upper-case hex, everything
  * else as is); doubles as `Double.toString`, with `NaN` and `±Infinity`
  * quoted. A string that is not well-formed UTF-8 is first decoded and
  * re-encoded as `UTF8String.toString` does. It handles the types of the
  * WildWeb Feature schema (string, double, struct, array) and rejects any
  * other type at analysis.
  */
case class JsonBytesExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "json_bytes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if JsonBytesWriter.supports(s) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a struct of string, double, struct and array fields, " +
        s"got ${other.catalogString}")
  }

  @transient private lazy val writer = new JsonBytesWriter(child.dataType.asInstanceOf[StructType])

  override def nullSafeEval(input: Any): Any = writer.write(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("jsonBytes", writer, classOf[JsonBytesWriter].getName)
    defineCodeGen(ctx, ev, c => s"$w.write($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): JsonBytesExpression =
    copy(child = newChild)
}

/** Writes rows of one struct schema as JSON bytes; see
  * [[JsonBytesExpression]]. Stateless, so one instance serves every
  * thread. */
final class JsonBytesWriter(schema: StructType) extends Serializable {
  import JsonBytesWriter.{Null, Out}

  private type Field = (Out, SpecializedGetters, Int) => Unit

  private val root = struct(schema)

  def write(row: InternalRow): Array[Byte] = {
    val out = new Out
    root(out, row)
    java.util.Arrays.copyOf(out.buf, out.len)
  }

  private def struct(s: StructType): (Out, InternalRow) => Unit = {
    // `"name":` per field, the name escaped like any string
    val names = s.fields.map { f =>
      val o = new Out
      o.string(UTF8String.fromString(f.name)); o.byte(':')
      java.util.Arrays.copyOf(o.buf, o.len)
    }
    val writers = s.fields.map(f => field(f.dataType))
    (out, row) => {
      out.byte('{')
      var i = 0
      while (i < names.length) {
        if (i > 0) out.byte(',')
        out.bytes(names(i))
        if (row.isNullAt(i)) out.bytes(Null) else writers(i)(out, row, i)
        i += 1
      }
      out.byte('}')
    }
  }

  private def field(t: DataType): Field = t match {
    case _: StringType => (out, d, i) => out.string(d.getUTF8String(i))
    case DoubleType => (out, d, i) => out.double(d.getDouble(i))
    case s: StructType =>
      val w = struct(s)
      val n = s.length
      (out, d, i) => w(out, d.getStruct(i, n))
    case ArrayType(et, _) =>
      val w = field(et)
      (out, d, i) => {
        val a = d.getArray(i)
        out.byte('[')
        var k = 0
        while (k < a.numElements()) {
          if (k > 0) out.byte(',')
          if (a.isNullAt(k)) out.bytes(Null) else w(out, a, k)
          k += 1
        }
        out.byte(']')
      }
    case other => throw new IllegalArgumentException(s"json_bytes cannot write ${other.catalogString}")
  }
}

object JsonBytesWriter {
  private val Null = "null".getBytes(UTF_8)
  private val Hex = "0123456789ABCDEF".getBytes(UTF_8)

  def supports(t: DataType): Boolean = t match {
    case _: StringType | DoubleType => true
    case s: StructType => s.fields.forall(f => supports(f.dataType))
    case ArrayType(et, _) => supports(et)
    case _ => false
  }

  /** Escape of each ASCII byte: 0 = as is, 'u' = `\u00XX`, else the
    * character after the backslash. */
  private val Escapes: Array[Byte] = {
    val e = new Array[Byte](128)
    for (c <- 0 until 0x20) e(c) = 'u'.toByte
    for ((c, x) <- Seq('"' -> '"', '\\' -> '\\', '\b' -> 'b', '\t' -> 't', '\n' -> 'n',
        '\f' -> 'f', '\r' -> 'r')) e(c) = x.toByte
    e
  }

  /** A growable byte buffer. */
  private final class Out {
    var buf = new Array[Byte](512)
    var len = 0

    private def room(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(len + n, buf.length * 2))

    def byte(b: Char): Unit = { room(1); buf(len) = b.toByte; len += 1 }

    def bytes(b: Array[Byte]): Unit = {
      room(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length
    }

    def double(d: Double): Unit = {
      val s = java.lang.Double.toString(d).getBytes(UTF_8)
      if (java.lang.Double.isFinite(d)) bytes(s)
      else { byte('"'); bytes(s); byte('"') }
    }

    def string(s: UTF8String): Unit = {
      var (b, i) = Utf8.bytes(s)
      var end = i + s.numBytes
      if (!Utf8.valid(b, i, end)) {
        b = s.toString.getBytes(UTF_8); i = 0; end = b.length
      }
      room(end - i + 2)
      buf(len) = '"'; len += 1
      while (i < end) {
        val c = b(i)
        val e = if (c >= 0) Escapes(c) else 0
        if (e == 0) { buf(len) = c; len += 1 }
        else {
          room(end - i + 6)
          buf(len) = '\\'
          if (e == 'u') {
            buf(len + 1) = 'u'; buf(len + 2) = '0'; buf(len + 3) = '0'
            buf(len + 4) = Hex(c >> 4); buf(len + 5) = Hex(c & 0xF); len += 6
          } else { buf(len + 1) = e.toByte; len += 2 }
        }
        i += 1
      }
      buf(len) = '"'; len += 1
    }
  }
}
