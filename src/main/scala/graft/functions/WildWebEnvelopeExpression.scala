package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JsonToStructs, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.wildweb.WildWebSchemas

/** `wildweb_envelope(value)`: a landed WildWeb body decoded against
  * [[WildWebSchemas.envelope]], with exactly the result of
  * `from_json(value, WildWebSchemas.envelope)`.
  *
  * The fast path ([[EnvelopeDecoder]]) parses the body's UTF-8 bytes
  * straight into the row format, without Spark's char `Reader` and a
  * `String` per field. Any body it does not accept
  * goes to Spark's own `JsonToStructs`, built with the same (empty)
  * options and the session's time zone, so null and partial results are
  * Spark's by construction. One row is one landed file, so the kernel
  * runs once per body and needs no generated code of its own.
  */
case class WildWebEnvelopeExpression(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback {
  @transient private lazy val sparkDecoder =
    JsonToStructs(WildWebSchemas.envelope, Map.empty, child, timeZoneId)

  override def dataType: DataType = sparkDecoder.dataType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${other.catalogString}")
  }
  override def prettyName: String = "wildweb_envelope"

  override def nullSafeEval(input: Any): Any = {
    val body = input.asInstanceOf[UTF8String]
    val fast = EnvelopeDecoder.decode(body)
    if (fast != null) fast else sparkDecoder.nullSafeEval(body)
  }

  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))
  override protected def withNewChildInternal(newChild: Expression): WildWebEnvelopeExpression =
    copy(child = newChild)
}

/** The byte-level fast path of `wildweb_envelope`. It accepts a strict
  * subset of JSON on which Spark's decoder is known to agree:
  *
  *   - a root array of envelope objects, and nothing but JSON whitespace
  *     after it;
  *   - arrays, objects, strings and `null` only: a number, `true` or
  *     `false` anywhere rejects (Spark renders them into string fields);
  *   - strings of well-formed UTF-8 with no raw control character and
  *     only the standard escapes, a `\u` surrogate only as a pair;
  *   - each declared key at most once per object, at its declared type
  *     or `null` (a null envelope or incident element rejects); unknown
  *     keys skipped by a skip that validates their values;
  *   - strings up to [[MaxString]] bytes, keys up to [[MaxKey]] and
  *     nesting up to [[MaxDepth]], far inside Jackson's limits.
  *
  * [[decode]] returns null for every other document, which then goes to
  * Spark's decoder.
  */
object EnvelopeDecoder {
  val MaxString: Int = 1 << 20
  val MaxKey: Int = 1 << 10
  val MaxDepth: Int = 64

  private val envelopeStruct = WildWebSchemas.envelope.elementType.asInstanceOf[StructType]
  private def keys(names: Array[String]): Array[Array[Byte]] = names.map(_.getBytes(UTF_8))
  private val envelopeKeys = keys(envelopeStruct.fieldNames)
  private val incidentKeys = keys(WildWebSchemas.incident.fieldNames)
  private val Retrieved = envelopeStruct.fieldIndex("retrieved")
  private val Data = envelopeStruct.fieldIndex("data")
  private val Resources = WildWebSchemas.incident.fieldIndex("resources")

  /** The envelope array, or null when `body` is outside the subset. */
  def decode(body: UTF8String): ArrayData = {
    val (bytes, from) = Utf8.bytes(body)
    try new Parser(bytes, from, from + body.numBytes).document()
    catch { case Reject => null }
  }

  private object Reject extends scala.util.control.ControlThrowable

  private final class Parser(buf: Array[Byte], from: Int, end: Int) {
    private var pos = from
    private var scratch = new Array[Byte](256)
    // the last string scanned: bytes [strFrom, strFrom + strLen) of strBuf
    private var strBuf: Array[Byte] = buf
    private var strFrom = 0
    private var strLen = 0

    private def reject(): Nothing = throw Reject

    /** The next byte after JSON whitespace, not consumed; -1 at the end. */
    private def peek(): Int = {
      while (pos < end && { val b = buf(pos); b == ' ' || b == '\n' || b == '\r' || b == '\t' })
        pos += 1
      if (pos < end) buf(pos) & 0xFF else -1
    }

    private def expect(c: Char): Unit = if (peek() == c) pos += 1 else reject()

    def document(): ArrayData = {
      expect('[')
      val env = array(depth = 1) {
        val row = new GenericInternalRow(envelopeKeys.length)
        obj(envelopeKeys, depth = 2) {
          case Retrieved => row.update(Retrieved, stringOrNull())
          case Data => row.update(Data, arrayOrNull(depth = 3)(incident()))
        }
        row
      }
      if (peek() != -1) reject()
      env
    }

    private def incident(): InternalRow = {
      val row = new GenericInternalRow(incidentKeys.length)
      obj(incidentKeys, depth = 4) {
        case Resources => row.update(Resources, arrayOrNull(depth = 5)(stringOrNull()))
        case i => row.update(i, stringOrNull())
      }
      row
    }

    /** `[ elem, ... ]`, the `[` already consumed. */
    private def array(depth: Int)(elem: => Any): ArrayData = {
      if (depth > MaxDepth) reject()
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      if (peek() == ']') pos += 1
      else {
        var more = true
        while (more) {
          out += elem
          peek() match {
            case ',' => pos += 1
            case ']' => pos += 1; more = false
            case _ => reject()
          }
        }
      }
      new GenericArrayData(out.toArray)
    }

    private def arrayOrNull(depth: Int)(elem: => Any): ArrayData = peek() match {
      case '[' => pos += 1; array(depth)(elem)
      case 'n' => nul(); null
      case _ => reject()
    }

    /** `{ "key": value, ... }` at the next token (`null` rejects). A declared key's slot is
      * passed to `field`, which reads its value; unknown keys are skipped. */
    private def obj(declared: Array[Array[Byte]], depth: Int)(field: Int => Unit): Unit = {
      if (depth > MaxDepth) reject()
      expect('{')
      var seen = 0L
      if (peek() == '}') pos += 1
      else {
        var more = true
        while (more) {
          if (peek() != '"') reject()
          pos += 1
          scanString(MaxKey)
          val slot = lookup(declared)
          expect(':')
          if (slot < 0) skip(depth + 1)
          else {
            if ((seen & (1L << slot)) != 0) reject()
            seen |= 1L << slot
            field(slot)
          }
          peek() match {
            case ',' => pos += 1
            case '}' => pos += 1; more = false
            case _ => reject()
          }
        }
      }
    }

    private def lookup(declared: Array[Array[Byte]]): Int = {
      var i = 0
      while (i < declared.length) {
        val k = declared(i)
        if (k.length == strLen && java.util.Arrays.equals(
            k, 0, strLen, strBuf, strFrom, strFrom + strLen)) return i
        i += 1
      }
      -1
    }

    private def nul(): Unit =
      if (end - pos >= 4 && buf(pos) == 'n' && buf(pos + 1) == 'u' && buf(pos + 2) == 'l' &&
          buf(pos + 3) == 'l') pos += 4
      else reject()

    private def stringOrNull(): UTF8String = peek() match {
      case '"' =>
        pos += 1
        scanString(MaxString)
        // a copy: the input row and the scratch buffer are both reused
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(strBuf, strFrom, strFrom + strLen))
      case 'n' => nul(); null
      case _ => reject()
    }

    /** Skips one value of an unknown key, validating it. */
    private def skip(depth: Int): Unit = {
      if (depth > MaxDepth) reject()
      peek() match {
        case '"' => pos += 1; scanString(MaxString)
        case 'n' => nul()
        case '[' => pos += 1; array(depth)(skip(depth + 1))
        case '{' => obj(Array.empty, depth)(_ => ())
        case _ => reject()
      }
    }

    /** Scans the string body after its opening quote, up to and past the
      * closing one, and leaves its decoded bytes in (strBuf, strFrom,
      * strLen): a slice of the input when it has no escape, else of
      * `scratch`. */
    private def scanString(max: Int): Unit = {
      val start = pos
      var out = -1 // write position in scratch once an escape was seen
      var done = false
      while (!done) {
        if (pos >= end || pos - start > max) reject()
        val b = buf(pos)
        if (b == '"') {
          done = true
        } else if (b == '\\') {
          if (out < 0) {
            out = pos - start
            ensure(out)
            System.arraycopy(buf, start, scratch, 0, out)
          }
          out = escape(out)
        } else if (b >= 0x20) {
          if (out >= 0) { ensure(out + 1); scratch(out) = b; out += 1 }
          pos += 1
        } else if (b >= 0) {
          reject() // a raw control character
        } else {
          val n = Utf8.sequenceLength(buf, pos, end)
          if (n <= 0) reject()
          if (out >= 0) { ensure(out + n); System.arraycopy(buf, pos, scratch, out, n); out += n }
          pos += n
        }
      }
      if (out < 0) { strBuf = buf; strFrom = start; strLen = pos - start }
      else { strBuf = scratch; strFrom = 0; strLen = out }
      pos += 1
    }

    /** Decodes the escape at `pos` into scratch at `out`; returns the new
      * write position. */
    private def escape(out: Int): Int = {
      if (pos + 1 >= end) reject()
      val c = buf(pos + 1)
      pos += 2
      ensure(out + 4)
      c match {
        case '"' | '\\' | '/' => scratch(out) = c; out + 1
        case 'b' => scratch(out) = '\b'; out + 1
        case 'f' => scratch(out) = '\f'; out + 1
        case 'n' => scratch(out) = '\n'; out + 1
        case 'r' => scratch(out) = '\r'; out + 1
        case 't' => scratch(out) = '\t'; out + 1
        case 'u' =>
          val u = hex4()
          val cp =
            if (Character.isHighSurrogate(u)) {
              if (end - pos < 2 || buf(pos) != '\\' || buf(pos + 1) != 'u') reject()
              pos += 2
              val lo = hex4()
              if (!Character.isLowSurrogate(lo)) reject()
              Character.toCodePoint(u, lo)
            } else if (Character.isLowSurrogate(u)) reject()
            else u.toInt
          // never a lone surrogate, so the String encodes it exactly
          val bytes = new String(Character.toChars(cp)).getBytes(UTF_8)
          System.arraycopy(bytes, 0, scratch, out, bytes.length)
          out + bytes.length
        case _ => reject()
      }
    }

    private def hex4(): Char = {
      if (end - pos < 4) reject()
      var v = 0
      var i = 0
      while (i < 4) {
        val d = Character.digit(buf(pos + i).toInt, 16)
        if (d < 0) reject()
        v = v << 4 | d
        i += 1
      }
      pos += 4
      v.toChar
    }

    private def ensure(n: Int): Unit =
      if (n > scratch.length) scratch = java.util.Arrays.copyOf(scratch, math.max(n, scratch.length * 2))
  }
}

/** Well-formed UTF-8, as `java.nio`'s decoder accepts it: no overlong
  * form, no surrogate, nothing above U+10FFFF. */
object Utf8 {
  /** `s`'s bytes and the offset they start at, without a copy when `s`
    * lies on a heap byte array. */
  def bytes(s: UTF8String): (Array[Byte], Int) = s.getBaseObject match {
    case a: Array[Byte] => (a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
    case _ => (s.getBytes, 0)
  }

  /** The length of the well-formed sequence at `buf(i)` (a non-ASCII lead
    * byte), or 0 if it is malformed or runs past `end`. */
  def sequenceLength(buf: Array[Byte], i: Int, end: Int): Int = {
    def cont(k: Int, lo: Int = 0x80, hi: Int = 0xBF): Boolean =
      i + k < end && { val c = buf(i + k) & 0xFF; c >= lo && c <= hi }
    val b = buf(i) & 0xFF
    if (b >= 0xC2 && b <= 0xDF) { if (cont(1)) 2 else 0 }
    else if (b == 0xE0) { if (cont(1, 0xA0) && cont(2)) 3 else 0 }
    else if (b == 0xED) { if (cont(1, 0x80, 0x9F) && cont(2)) 3 else 0 }
    else if (b >= 0xE1 && b <= 0xEF) { if (cont(1) && cont(2)) 3 else 0 }
    else if (b == 0xF0) { if (cont(1, 0x90) && cont(2) && cont(3)) 4 else 0 }
    else if (b >= 0xF1 && b <= 0xF3) { if (cont(1) && cont(2) && cont(3)) 4 else 0 }
    else if (b == 0xF4) { if (cont(1, 0x80, 0x8F) && cont(2) && cont(3)) 4 else 0 }
    else 0
  }

  /** True iff bytes [from, end) are well-formed UTF-8. */
  def valid(buf: Array[Byte], from: Int, end: Int): Boolean = {
    var i = from
    while (i < end) {
      if (buf(i) >= 0) i += 1
      else {
        val n = sequenceLength(buf, i, end)
        if (n == 0) return false
        i += n
      }
    }
    true
  }
}
