package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Tokenizer, UnigramEncodeExpression}
import graft.sources.Tables

/** [[graft.functions.UnigramEncodeExpression]] / B152 — the frozen-vocab
  * unigram-LM (SentencePiece) tokenizer. The t2 hash pins the exact ids
  * against DuckDB's exhaustive segmentation search at the gate SFs;
  * these pin the algorithmic claims locally:
  *
  *  - the Viterbi DP equals brute-force enumeration under the
  *    (cost, cut-mask) order — i.e. the bitmask tie-break really is
  *    composable and the DP is exact, on every corpus word AND on
  *    random strings (including OOV shapes);
  *  - vocab well-formedness: all 26 letters present (full [a-z]
  *    coverage), positive costs, no duplicate pieces;
  *  - the corpus stays inside the tokenizer's domain ([a-z ] alphabet,
  *    word length < 63 for the Long cut-mask).
  */
class UnigramSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf0001

  /** Independent oracle: enumerate EVERY segmentation recursively, pick
    * the (cost, mask) minimum. Exponential — test-scale words only. */
  private def bruteBest(w: String): Option[(Long, Long, List[Int])] = {
    val table = UnigramEncodeExpression.pieceTable
    val maxLen = UnigramEncodeExpression.maxPieceLen
    def go(pos: Int): List[(Long, Long, List[Int])] =
      if (pos == w.length) List((0L, 0L, Nil))
      else (1 to math.min(maxLen, w.length - pos)).toList.flatMap { len =>
        table.get(w.substring(pos, pos + len)).toList.flatMap { case (id, c) =>
          go(pos + len).map { case (cost, mask, ids) =>
            val cut = if (pos > 0) 1L << pos else 0L
            (cost + c, mask + cut, id :: ids)
          }
        }
      }
    go(0) match {
      case Nil => None
      case all => Some(all.minBy { case (c, m, _) => (c, m) })
    }
  }

  private def dpIds(w: String): String =
    UnigramEncodeExpression.encode(UTF8String.fromString(w)).toString

  test("Viterbi DP equals exhaustive (cost, cut-mask) search on every corpus word") {
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty).distinct
    assert(words.nonEmpty)
    words.foreach { w =>
      val want = bruteBest(w).map(_._3.mkString(" ")).getOrElse("0")
      assert(dpIds(w) === want, s"DP diverged from brute force on '$w'")
    }
  }

  test("DP = brute force on random strings, including ties and OOV shapes") {
    val rnd = new scala.util.Random(152)
    (1 to 400).foreach { _ =>
      // length ≤ 12 keeps enumeration cheap; alphabet skewed to the
      // vocab's dense region plus the occasional digit (OOV)
      val len = 1 + rnd.nextInt(12)
      // ~13% of strings carry a digit: letters-only pieces mean a digit
      // kills every path, so these probe the OOV-sentinel agreement too
      val w = (0 until len).map { _ =>
        val r = rnd.nextInt(30)
        if (r < 26) ('a' + r).toChar else ('0' + (r - 26)).toChar
      }.mkString
      val want = bruteBest(w).map(_._3.mkString(" ")).getOrElse("0")
      assert(dpIds(w) === want, s"DP diverged from brute force on '$w'")
    }
    // a non-[a-z] char anywhere kills every path
    Seq("café", "x😀", "Ab", "naïve").foreach { w =>
      assert(bruteBest(w) === None)
      assert(dpIds(w) === "0", s"'$w' must encode as the OOV sentinel")
    }
  }

  test("vocab is well-formed: letters complete, costs positive, pieces unique") {
    val pieces = UnigramEncodeExpression.vocab.map(_._1)
    assert(pieces.distinct.size === pieces.size)
    ('a' to 'z').foreach(c =>
      assert(pieces.contains(c.toString), s"letter $c missing — coverage broken"))
    UnigramEncodeExpression.vocab.foreach { case (p, c) =>
      assert(c > 0, s"piece '$p' has non-positive cost $c")
    }
    assert(UnigramEncodeExpression.maxPieceLen <= 8)
  }

  test("corpus stays inside the tokenizer domain ([a-z ], words < 63 chars)") {
    val docs = Tables.documents(spark, sf)
    assert(docs.filter(col("text").rlike("[^a-z ]")).count() === 0L)
    val maxWord = docs.select(explode(split(col("text"), " ")).as("w"))
      .agg(max(length(col("w")))).head.getInt(0)
    assert(maxWord < 63, s"word of length $maxWord overflows the Long cut-mask")
  }

  test("B152 entry: n_tokens consistent, every id in vocab, multi-piece words exist") {
    val rows = SparkEntry.queries("b152_unigram_tokenize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val maxId = UnigramEncodeExpression.vocab.size
    var sawMultiPiece = false
    rows.foreach { case (docId, ids, n) =>
      val parts = if (ids.isEmpty) Array.empty[String] else ids.split(" ")
      assert(parts.length.toLong === n || (ids.isEmpty && n === 0L))
      parts.foreach { p =>
        val id = p.toInt
        assert(id >= 1 && id <= maxId, s"doc $docId: id $p outside the vocab")
      }
      sawMultiPiece ||= parts.length > 0
    }
    // the tokenizer actually SEGMENTS: some corpus word needs ≥ 2 pieces
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty).distinct
    assert(words.exists(w => dpIds(w).split(" ").length > 1),
      "vocab memorized every corpus word — Viterbi untested")
  }

  // ——— B177 byte-fallback (UnigramEncodeExpression.encodeBf) ———

  private def dpBfIds(w: String): String =
    UnigramEncodeExpression.encodeBf(UTF8String.fromString(w)).toString

  /** bruteBest extended by the byte candidate: at each position, besides
    * vocab pieces, the single code point as its UTF-8 bytes at
    * ByteCostPerByte per byte — the exact candidate set the bf DP walks. */
  private def bruteBestBf(w: String): (Long, Long, List[String]) = {
    val table = UnigramEncodeExpression.pieceTable
    val maxLen = UnigramEncodeExpression.maxPieceLen
    def go(pos: Int): List[(Long, Long, List[String])] =
      if (pos == w.length) List((0L, 0L, Nil))
      else {
        val cut = if (pos > 0 && pos <= 62) 1L << pos else 0L
        val vocabPaths =
          (1 to math.min(maxLen, w.length - pos)).toList.flatMap { len =>
            table.get(w.substring(pos, pos + len)).toList.flatMap { case (id, c) =>
              go(pos + len).map { case (cost, mask, ids) =>
                (cost + c, mask + cut, id.toString :: ids)
              }
            }
          }
        val cp = w.codePointAt(pos)
        val cc = Character.charCount(cp)
        val bytes = w.substring(pos, pos + cc)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => (Tokenizer.ByteBase + (b & 0xFF)).toString).toList
        val bytePaths = go(pos + cc).map { case (cost, mask, ids) =>
          (cost + UnigramEncodeExpression.ByteCostPerByte * bytes.length,
            mask + cut, bytes ::: ids)
        }
        vocabPaths ::: bytePaths
      }
    go(0).minBy { case (c, m, _) => (c, m) }
  }

  test("B177: byte-fallback encoder equals the base encoder on in-charset input") {
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty).distinct
    assert(words.nonEmpty)
    val rnd = new scala.util.Random(1772)
    val randoms = (1 to 300).map(_ =>
      (0 until rnd.nextInt(30)).map(_ => (' ' +: ('a' to 'z'))(rnd.nextInt(27))).mkString)
    (words ++ randoms).foreach { w =>
      assert(dpBfIds(w) === dpIds(w), s"bf diverged from base on in-charset '$w'")
    }
  }

  test("B177: bf DP = brute force with byte candidates on random mixed unicode") {
    val rnd = new scala.util.Random(177)
    val exotic = "ABZ09!?éüж語😀𝄞 ".toCharArray // astral chars arrive as pairs
    (1 to 300).foreach { _ =>
      val len = 1 + rnd.nextInt(9)
      val sb = new StringBuilder
      while (sb.length < len) {
        val r = rnd.nextInt(40)
        if (r < 26) sb += ('a' + r).toChar
        else {
          val c = exotic(rnd.nextInt(exotic.length))
          if (c != ' ') { // space is the pre-tokenizer, not word content
            if (Character.isHighSurrogate(c)) sb ++= "😀" else sb += c
          }
        }
      }
      val w = sb.toString
      val (_, _, want) = bruteBestBf(w)
      assert(dpBfIds(w) === want.mkString(" "),
        s"bf DP diverged from brute force on '$w'")
    }
  }

  test("B177: arbitrary unicode round-trips; fallback bytes count exactly") {
    val rnd = new scala.util.Random(1770)
    val pool = "abcdefghijklmnopqrstuvwxyz ABZ09!?éüж語😀𝄞"
    val cps = pool.codePoints().toArray
    (1 to 300).foreach { _ =>
      val n = 1 + rnd.nextInt(20)
      val text = new String(
        (0 until n).map(_ => cps(rnd.nextInt(cps.length))).toArray, 0, n)
      val ids = dpBfIds(text)
      val decoded = UnigramEncodeExpression
        .decodeBf(UTF8String.fromString(ids)).toString
      assert(decoded === text.replace(" ", ""), s"round-trip broke on '$text'")
      val wantBytes = text.codePoints().toArray
        .filterNot(cp => (cp >= 'a' && cp <= 'z') || cp == ' ')
        .map(cp => new String(Character.toChars(cp))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8).length).sum
      val gotBytes = ids.split(" ").filter(_.nonEmpty)
        .count(_.toInt >= Tokenizer.ByteBase)
      assert(gotBytes === wantBytes,
        s"fallback fired off-domain on '$text': $gotBytes vs $wantBytes")
    }
  }
}
