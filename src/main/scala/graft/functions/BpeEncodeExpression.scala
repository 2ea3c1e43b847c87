package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native deterministic BPE tokenizer for B122 (Sennrich et al., ACL'16 —
  * the subword bridge between b101's whitespace tokens and model-ready
  * ids; reference scope per SURVEY §2C tier (b)), its inverse for B151
  * and its byte-fallback mode for B172.
  *
  * `bpe_encode(text)` → the space-joined token-id string of `text` under
  * the FROZEN merge table shipped as the classpath resource
  * `graft/bpe_merges.txt` (trained once by tools/train_bpe.py; the
  * checked-in file IS the tokenizer — no runtime training, so every
  * engine and every SF tokenizes identically). Whitespace pre-tokenizes;
  * merges are applied strictly in rank order, leftmost-first and
  * non-overlapping within each rank — for a well-formed BPE table (any
  * merge consuming a symbol ranks after the merge creating it, and a
  * merge can only DELETE adjacencies of older symbols, never create
  * them) this single rank-ordered pass is exactly greedy
  * lowest-rank-first BPE, which is what lets the DuckDB oracle replay it
  * as a chain of string `replace`s on a marker-delimited symbol string
  * (BpeTokenize.bpeOracleSql) and the spec cross-check it against the
  * priority-queue spelling.
  *
  * Ids: 'a'..'z' → 1..26 in alphabet order, merge k (1-based rank) →
  * 26 + k. Words are segmented by CODE POINT (a surrogate half is not a
  * valid fallback unit; its bytes alone would not re-decode). Merges only
  * fire on [a-z] symbols, so a symbol outside the vocab — any code point
  * beyond the trained a-z charset — survives merging as itself, and then:
  *  - `bpe_encode` emits the OOV sentinel 0 once per UTF-16 char of it
  *    (unreachable on the generated corpora — the spec pins the alphabet);
  *  - `bpe_encode_bf` (B172; VERDICT r13 item 5 — the GPT-2-style byte
  *    fallback of Radford et al. 2019 §2.2 and SentencePiece's
  *    `--byte_fallback`) emits its UTF-8 BYTES, contiguously, one id per
  *    byte in the [[Tokenizer.ByteBase]] plane. Every Unicode string
  *    (astral planes, combining marks, symbols, uppercase) therefore
  *    round-trips losslessly: no input has "no path" through the
  *    tokenizer. On all-[a-z] input the two modes agree exactly
  *    (spec-pinned).
  *
  * `bpe_decode(ids)` (B151; VERDICT r11 item 4 / r12 item 3) maps ids back
  * to surface text under the SAME table — id 0 and unknown ids → "";
  * `bpe_decode_bf` also decodes byte-id runs (see [[Tokenizer.decode]]).
  * BPE encoding drops word boundaries (the id string joins all words' ids
  * with the same separator), so the round-trip law the B151 entry pins
  * corpus-wide is decode(encode(text)) ≡ text with spaces removed — the
  * strongest inverse the id format admits, and exactly what a detokenizer
  * recovers before boundary re-insertion. B172 pins the same law for the
  * fallback pair over ALL input (the unicode fixture and BpeSpec's
  * randomized round-trip).
  *
  * Scale posture: pure map-side scalars inside whole-stage codegen — the
  * tables are O(vocab + 256) arrays baked into the class, nothing
  * shuffles at any corpus size, and each mode's [[WordMemo]] runs the
  * merge loop once per distinct word. */
object BpeEncodeExpression {

  /** The frozen merge table, rank order, from the checked-in resource. */
  val merges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "missing classpath resource graft/bpe_merges.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(l, r) = line.split(" ", 2)
      (l, r)
    }.toVector
    finally src.close()
  }

  /** token text → id: base chars 1..26, merge k → 26 + k. */
  val tokenIds: Map[String, Int] = {
    val base = ('a' to 'z').zipWithIndex.map { case (c, i) => (c.toString, i + 1) }
    val merged = merges.zipWithIndex.map { case ((l, r), k) => (l + r, 27 + k) }
    // a merge result can collide with nothing: base ids are single chars,
    // merge results are ≥ 2 chars, and train_bpe never emits duplicates
    (base ++ merged).toMap
  }

  /** id → token surface string; index 0 is the OOV sentinel (""). Built
    * from [[tokenIds]], so encode and decode cannot drift. */
  private val idToToken: Array[String] = {
    val arr = new Array[String](tokenIds.size + 1)
    arr(0) = ""
    tokenIds.foreach { case (tok, id) => arr(id) = tok }
    arr
  }

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

  private def encodeWord(w: String, byteFallback: Boolean): String = {
    var syms = codePointSymbols(w)
    merges.foreach { case (l, r) =>
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
      tokenIds.get(s) match {
        case Some(id) =>
          if (sb.length > 0) sb.append(' ')
          sb.append(id)
        case None if byteFallback => Tokenizer.appendByteIds(sb, s)
        case None =>
          s.foreach { _ =>
            if (sb.length > 0) sb.append(' ')
            sb.append('0')
          }
      }
    }
    sb.toString
  }

  private val base = new WordMemo(encodeWord(_, byteFallback = false))
  private val withBytes = new WordMemo(encodeWord(_, byteFallback = true))

  /** `bpe_encode`; shared by eval, the generated code, and the specs. */
  def encode(s: UTF8String): UTF8String = base.encode(s)

  /** `bpe_encode_bf`. */
  def encodeBf(s: UTF8String): UTF8String = withBytes.encode(s)

  /** `bpe_decode`. */
  def decode(s: UTF8String): UTF8String = Tokenizer.decode(s, idToToken, bytes = false)

  /** `bpe_decode_bf`. */
  def decodeBf(s: UTF8String): UTF8String = Tokenizer.decode(s, idToToken, bytes = true)

  /** Installs every native ([[Natives.install]]); kept because
    * perfbench's kernel pass calls it by this expression's name. */
  def register(s: org.apache.spark.sql.SparkSession): Unit = Natives.install(s)
}
