package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String

/** What the tokenizer kernels ([[BpeEncodeExpression]],
  * [[UnigramEncodeExpression]], [[WordPieceEncodeExpression]]) share: the
  * byte-fallback id plane, the id-string decoder and, through
  * [[WordMemo]], the whitespace pre-tokenizer and the word memo.
  *
  * Id planes: each tokenizer's vocab ids sit below [[ByteBase]]; byte b of
  * a byte-fallback code point encodes as ByteBase + b (b in 0..255), so the
  * two planes are disjoint by construction (require-checked below). */
object Tokenizer {

  /** Byte id b encodes as ByteBase + b. Far above both vocabs' id ranges
    * so the planes can never collide even if a vocab grows by an order of
    * magnitude. */
  val ByteBase = 1000
  require(BpeEncodeExpression.tokenIds.valuesIterator.max < ByteBase,
    "BPE vocab ids overlap the byte-fallback id space")
  require(UnigramEncodeExpression.vocab.size < ByteBase,
    "unigram vocab ids overlap the byte-fallback id space")

  /** Appends the UTF-8 byte ids of `symbol`, space-separated from
    * whatever `sb` already holds. */
  def appendByteIds(sb: java.lang.StringBuilder, symbol: String): Unit =
    symbol.getBytes(UTF_8).foreach { b =>
      if (sb.length > 0) sb.append(' ')
      sb.append(ByteBase + (b & 0xFF))
    }

  /** Inverse of an encoder: each id appends `surface(id)` (index 0, the
    * OOV sentinel, is ""), and with `bytes` on, maximal RUNS of byte ids
    * decode as one UTF-8 sequence (a fallback code point spans up to 4
    * consecutive byte ids). Unknown, out-of-range and malformed ids (byte
    * ids too, with `bytes` off) decode to ""; an invalid byte run decodes
    * via the charset's U+FFFD replacement — deterministic, and
    * unreachable for encoder output. */
  def decode(s: UTF8String, surface: Array[String], bytes: Boolean): UTF8String = {
    val str = s.toString
    if (str.isEmpty) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder(str.length)
    val run = new java.io.ByteArrayOutputStream()
    def flushRun(): Unit = if (run.size() > 0) {
      sb.append(new String(run.toByteArray, UTF_8))
      run.reset()
    }
    str.split(" ", -1).foreach { w =>
      if (w.nonEmpty) {
        val id = try w.toInt catch { case _: NumberFormatException => 0 }
        if (bytes && id >= ByteBase && id <= ByteBase + 255) run.write(id - ByteBase)
        else {
          flushRun()
          if (id > 0 && id < surface.length) sb.append(surface(id))
        }
      }
    }
    flushRun()
    UTF8String.fromString(sb.toString)
  }
}

/** One tokenizer mode's `encode`: whitespace pre-tokenizes (single spaces
  * split, empty words drop), each word encodes through `encodeWord`, and
  * the words' id strings join with one space.
  *
  * The word→ids memo (bounded, per executor JVM) exploits
  * natural-language Zipf: a handful of distinct words dominate any shard,
  * so `encodeWord` runs once per distinct word, not once per occurrence.
  * Bounded so an adversarial high-cardinality corpus degrades to cache
  * misses, never to unbounded executor memory. */
final class WordMemo(encodeWord: String => String) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ids(w: String): String = {
    val cached = memo.get(w)
    if (cached != null) return cached
    val out = encodeWord(w)
    if (w.length <= WordMemo.MaxKeyLen && memo.size < WordMemo.Cap) memo.put(w, out)
    out
  }

  def encode(s: UTF8String): UTF8String = {
    val words = s.toString.split(" ", -1).filter(_.nonEmpty)
    UTF8String.fromString(words.map(ids).mkString(" "))
  }
}

object WordMemo {
  private val Cap = 65536
  /** ADVICE r14: cap KEY size too — the entry-count cap alone leaves
    * retained width unbounded on adversarial/high-entropy corpora (64Ki
    * arbitrary-length words per executor JVM for the process lifetime).
    * Words past this length are encoded but never memoized, bounding
    * retained heap to Cap * O(MaxKeyLen). Real-token hit rates are
    * unaffected (natural-language words are far shorter). */
  private val MaxKeyLen = 64
}
