package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{UnigramEncodeExpression, WordPieceEncodeExpression}
import graft.sources.Tables

/** [[graft.functions.WordPieceEncodeExpression]] / B155 — greedy
  * longest-match-first segmentation over the B152 vocab. The t2 hash
  * pins the ids against DuckDB's NOT-EXISTS-guarded linear walk; these
  * pin the local claims:
  *
  *  - max-munch invariant: at every boundary of the produced
  *    segmentation, no LONGER vocab piece matches (re-derived from the
  *    output, not from the implementation);
  *  - greedy and Viterbi genuinely disagree on reachable input (so the
  *    two tokenizers cannot silently share an implementation);
  *  - OOV → [UNK]-style sentinel.
  */
class WordPieceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf0001

  private def enc(w: String): String =
    WordPieceEncodeExpression.encode(UTF8String.fromString(w)).toString
  private def uni(w: String): String =
    UnigramEncodeExpression.encode(UTF8String.fromString(w)).toString

  private val idToPiece: Map[Int, String] =
    UnigramEncodeExpression.pieceTable.map { case (p, (id, _)) => id -> p }

  test("max-munch invariant holds on every corpus word and random strings") {
    val table = UnigramEncodeExpression.pieceTable
    val maxLen = UnigramEncodeExpression.maxPieceLen
    def check(w: String): Unit = {
      val ids = enc(w)
      if (ids != "0" && w.nonEmpty) {
        val pieces = ids.split(" ").map(s => idToPiece(s.toInt))
        assert(pieces.mkString === w, s"segmentation does not rebuild '$w'")
        var pos = 0
        pieces.foreach { p =>
          // no longer piece matches at this boundary
          ((p.length + 1) to math.min(maxLen, w.length - pos)).foreach { ln =>
            assert(!table.contains(w.substring(pos, pos + ln)),
              s"'$w'@$pos took '$p' but longer '${w.substring(pos, pos + ln)}' matches")
          }
          pos += p.length
        }
      }
    }
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq)
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty).distinct
    assert(words.nonEmpty)
    words.foreach(check)
    val rnd = new scala.util.Random(155)
    (1 to 300).foreach { _ =>
      check((0 until 1 + rnd.nextInt(12))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
  }

  test("greedy disagrees with Viterbi where max-munch is suboptimal") {
    // 'aggro': greedy consumes 'agg' and pays for stranded 'r'+'o';
    // Viterbi splits 'a'+'g'+'gro' at lower total cost. If the vocab
    // drifts, find any disagreeing word over the piece alphabet instead
    // of failing blind.
    val candidates = "aggro" +: {
      val pieces = UnigramEncodeExpression.pieceTable.keys.toSeq.sorted
      for (a <- pieces; b <- pieces if a.length + b.length <= 8)
        yield a + b
    }
    val diff = candidates.find(w => enc(w) != uni(w) && enc(w) != "0")
    assert(diff.nonEmpty,
      "greedy ≡ Viterbi on every probe — the comparison is vacuous")
    // and on the documented witness both produce valid rebuilds
    diff.foreach { w =>
      val g = enc(w).split(" ").map(s => idToPiece(s.toInt)).mkString
      val v = uni(w).split(" ").map(s => idToPiece(s.toInt)).mkString
      assert(g === w && v === w)
    }
  }

  test("OOV character yields the sentinel; empty and multi-space inputs behave") {
    assert(enc("ab9cd") === "0")
    assert(enc("café") === "0")
    assert(enc("a😀") === "0")
    assert(enc("") === "")
    assert(WordPieceEncodeExpression.encode(
      UTF8String.fromString("a  b")).toString === "1 2")
  }

  test("B155 entry: n_tokens consistent and ids in vocab") {
    val rows = SparkEntry.queries("b155_wordpiece_tokenize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val maxId = UnigramEncodeExpression.vocab.size
    rows.foreach { case (docId, ids, n) =>
      val parts = if (ids.isEmpty) Array.empty[String] else ids.split(" ")
      assert(parts.length.toLong === n || (ids.isEmpty && n === 0L))
      parts.foreach(p => assert(p.toInt >= 1 && p.toInt <= maxId,
        s"doc $docId: id $p outside the vocab"))
    }
  }
}
