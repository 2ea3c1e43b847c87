package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** BYTE-FALLBACK BPE (B172; VERDICT r13 item 5 / what's-missing #4 — the
  * GPT-2-style byte fallback of Radford et al. 2019 §2.2 and
  * SentencePiece's `--byte_fallback`): `bpe_encode_bf(text)` tokenizes
  * exactly like [[BpeEncodeExpression]] under the same frozen merge
  * table, except a symbol OUTSIDE the vocab — any code point beyond the
  * trained a-z charset — encodes as its UTF-8 BYTES, one id per byte at
  * [[BpeByteFallback.ByteBase]] + byteValue, instead of collapsing to
  * the lossy OOV sentinel 0. Every Unicode string (astral planes,
  * combining marks, symbols, uppercase) therefore round-trips losslessly:
  * no input has "no path" through the tokenizer, which is the property
  * a production tokenizer needs before the OOV sentinel can be retired.
  *
  * Words are segmented by CODE POINT (not UTF-16 char — a surrogate half
  * is not a valid fallback unit; its bytes alone would not re-decode),
  * the merge loop is byte-identical to the base tokenizer's (merges can
  * only fire on in-vocab a-z symbols, so the two encoders agree exactly
  * on all-[a-z] input — spec-pinned), and fallback decomposition happens
  * after merging, so an OOV code point's bytes are emitted contiguously.
  *
  * Id space: 1..26 chars, 27..26+K merges (as the base tokenizer),
  * [[BpeByteFallback.ByteBase]]+0 .. +255 bytes — disjoint by
  * construction (ByteBase ≫ 26+K, require-checked at class load).
  *
  * `bpe_decode_bf(ids)` inverts: vocab ids append their surface, maximal
  * RUNS of byte ids decode as one UTF-8 sequence (a fallback code point
  * spans up to 4 consecutive byte ids). decode∘encode ≡ despace is the
  * b151 law, extended from the corpus charset to ALL input — pinned
  * corpus-wide by the b172 entry over the unicode fixture and by
  * BpeSpec's randomized round-trip.
  *
  * Scale posture: both directions are pure map-side scalars inside
  * whole-stage codegen (the [[BpeEncodeExpression]] posture verbatim);
  * the byte table adds O(256) to the baked-in model, nothing shuffles. */
object BpeByteFallback {

  /** Byte id b encodes as ByteBase + b (b in 0..255). Far above the
    * vocab id range so the spaces can never collide even if the merge
    * table grows by an order of magnitude. */
  val ByteBase = 1000
  require(BpeEncodeExpression.tokenIds.valuesIterator.max < ByteBase,
    "vocab ids overlap the byte-fallback id space")

  private val memoCap = 65536
  /** ADVICE r14: cap KEY size too — the entry-count cap alone leaves
    * retained width unbounded on adversarial/high-entropy corpora (64Ki
    * arbitrary-length words per executor JVM for the process lifetime).
    * Words past this length are encoded but never memoized, bounding
    * retained heap to memoCap * O(memoMaxKeyLen). Real-token hit rates
    * are unaffected (natural-language words are far shorter). */
  private val memoMaxKeyLen = 64
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** w split into code-point strings (surrogate pairs stay whole). */
  private def codePointSymbols(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + cc)
      i += cc
    }
    out.result()
  }

  private def encodeWord(w: String): String = {
    val cached = memo.get(w)
    if (cached != null) return cached
    var syms = codePointSymbols(w)
    BpeEncodeExpression.merges.foreach { case (l, r) =>
      if (syms.length >= 2) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2 // leftmost-first, non-overlapping
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    val sb = new java.lang.StringBuilder(syms.length * 3)
    syms.foreach { s =>
      BpeEncodeExpression.tokenIds.get(s) match {
        case Some(id) =>
          if (sb.length > 0) sb.append(' ')
          sb.append(id)
        case None =>
          // fallback AFTER merging: the OOV code point's UTF-8 bytes,
          // contiguous, one id each
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
            if (sb.length > 0) sb.append(' ')
            sb.append(ByteBase + (b & 0xFF))
          }
      }
    }
    val ids = sb.toString
    if (w.length <= memoMaxKeyLen && memo.size < memoCap) memo.put(w, ids)
    ids
  }

  /** Shared by eval, the generated code, and the spec's JVM oracle. */
  def encode(s: UTF8String): UTF8String = {
    val words = s.toString.split(" ", -1).filter(_.nonEmpty)
    UTF8String.fromString(words.map(encodeWord).mkString(" "))
  }

  /** Vocab ids append their surface; maximal byte-id runs decode as one
    * UTF-8 sequence. Unknown ids decode to "" (the base-decoder rule);
    * an invalid byte run decodes via the charset's U+FFFD replacement —
    * deterministic, and unreachable for encoder output. */
  def decode(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.isEmpty) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder(str.length)
    val run = new java.io.ByteArrayOutputStream()
    def flushRun(): Unit = if (run.size() > 0) {
      sb.append(new String(run.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      run.reset()
    }
    str.split(" ", -1).foreach { w =>
      if (w.nonEmpty) {
        val id = try w.toInt catch { case _: NumberFormatException => 0 }
        if (id >= ByteBase && id <= ByteBase + 255) run.write(id - ByteBase)
        else {
          flushRun()
          if (id > 0 && id < BpeDecodeExpression.idToToken.length)
            sb.append(BpeDecodeExpression.idToToken(id))
        }
      }
    }
    flushRun()
    UTF8String.fromString(sb.toString)
  }
}
