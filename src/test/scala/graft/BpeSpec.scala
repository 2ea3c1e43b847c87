package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BpeEncodeExpression, Tokenizer}
import graft.sources.Tables

/** [[graft.functions.BpeEncodeExpression]] / B122 — the frozen-vocab BPE
  * tokenizer. The t2 hash pins the exact ids at the gate SFs; these pin
  * the algorithmic claims behind the oracle construction:
  *
  *  - the rank-ordered single-pass merge loop (what the expression and
  *    the replace-chain oracle both implement) equals canonical greedy
  *    lowest-rank-first BPE (the priority-queue spelling re-implemented
  *    independently here);
  *  - the corpus alphabet stays inside [a-z ], the precondition for the
  *    oracle's 26-letter charify stage;
  *  - id space: base chars 1..26, merge k → 26+k, no collisions.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf0001

  /** Independent JVM oracle: canonical greedy BPE — repeatedly merge the
    * LOWEST-RANK adjacent pair present (leftmost on ties), one merge at a
    * time, until no merge applies. */
  private def greedyBpe(word: String): Seq[String] = {
    val rank = BpeEncodeExpression.merges.zipWithIndex.toMap
    var syms = word.map(_.toString).toVector
    var done = false
    while (!done && syms.length >= 2) {
      val best = syms.indices.dropRight(1)
        .flatMap(i => rank.get((syms(i), syms(i + 1))).map(r => (r, i)))
        .sortBy(identity).headOption
      best match {
        case Some((_, i)) =>
          syms = (syms.take(i) :+ (syms(i) + syms(i + 1))) ++ syms.drop(i + 2)
        case None => done = true
      }
    }
    syms
  }

  private def greedyIds(text: String): String =
    text.split(" ", -1).filter(_.nonEmpty)
      .flatMap(w => greedyBpe(w).map(s => BpeEncodeExpression.tokenIds.getOrElse(s, 0)))
      .mkString(" ")

  test("rank-ordered pass equals canonical lowest-rank-first BPE on the corpus") {
    val texts = Tables.documents(spark, sf).select("text")
      .collect().map(_.getString(0))
    assert(texts.nonEmpty)
    texts.foreach { t =>
      val fast = BpeEncodeExpression.encode(UTF8String.fromString(t)).toString
      assert(fast === greedyIds(t), s"divergence on: ${t.take(80)}")
    }
  }

  test("equivalence holds on adversarial shapes (self-adjacency, overlaps, boundaries)") {
    // cases the corpus may not exercise: repeated letters (leftmost
    // tiebreak), merge-result adjacency, words that are single tokens,
    // multi-space boundaries, out-of-vocab letters (x/z → singles),
    // out-of-charset chars (the OOV sentinel once per UTF-16 char)
    val cases = Seq(
      "eeee errr erer", "stst stastast", "join joinjoin",
      "hashhash ashash", "batchbatch atchatch", "  double  spaces  ",
      "xzxz zzz", "value valuevalue", "a", "", "merge mergemerge",
      "é", "😀", "café 😀x naïve", "ABC a1b2")
    def enc(t: String) = BpeEncodeExpression.encode(UTF8String.fromString(t)).toString
    cases.foreach(t => assert(enc(t) === greedyIds(t), s"divergence on: '$t'"))
    assert(enc("é") === "0")
    assert(enc("😀") === "0 0")
  }

  test("corpus alphabet stays inside [a-z ] (the oracle charify precondition)") {
    val bad = Tables.documents(spark, sf)
      .filter(col("text").rlike("[^a-z ]")).count()
    assert(bad === 0L, s"$bad documents contain chars outside the charify alphabet")
  }

  test("id space is collision-free and merges are well-formed") {
    val ids = BpeEncodeExpression.tokenIds.values.toSeq
    assert(ids.size === ids.distinct.size)
    assert(BpeEncodeExpression.merges.nonEmpty)
    // well-formed: any merge input that is itself a merge RESULT must
    // have been created at an earlier rank — the precondition for the
    // single-pass = greedy equivalence (and for the replace chain)
    val created = scala.collection.mutable.Set[String]()
    ('a' to 'z').foreach(c => created += c.toString)
    BpeEncodeExpression.merges.foreach { case (l, r) =>
      assert(created.contains(l) && created.contains(r),
        s"merge ($l,$r) consumes a symbol not yet created at its rank")
      created += (l + r)
    }
  }

  test("bpe_decode inverts bpe_encode up to despacing (corpus + adversarial + random)") {
    def rt(t: String): Unit = {
      val ids = BpeEncodeExpression.encode(UTF8String.fromString(t)).toString
      val back = BpeEncodeExpression.decode(UTF8String.fromString(ids)).toString
      assert(back === t.replace(" ", ""), s"round-trip broke on: '${t.take(80)}'")
    }
    Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0)).filter(_ != null).foreach(rt)
    Seq("eeee errr erer", "stst stastast", "  double  spaces  ", "xz", "",
      "a", "merge mergemerge").foreach(rt)
    val rnd = new scala.util.Random(151)
    val alphabet = ('a' to 'z') :+ ' '
    (1 to 500).foreach { _ =>
      rt((0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(27))).mkString)
    }
  }

  test("bpe_decode: OOV sentinel and malformed ids decode to nothing, vocab ids to their surface") {
    BpeEncodeExpression.tokenIds.foreach { case (tok, id) =>
      assert(BpeEncodeExpression.decode(UTF8String.fromString(id.toString)).toString === tok)
    }
    assert(BpeEncodeExpression.decode(UTF8String.fromString("0")).toString === "")
    assert(BpeEncodeExpression.decode(UTF8String.fromString("9999")).toString === "")
    assert(BpeEncodeExpression.decode(UTF8String.fromString("")).toString === "")
    assert(BpeEncodeExpression.decode(UTF8String.fromString("1  2")).toString === "ab")
    // byte ids are unknown to the base decoder
    val byteIds = (Tokenizer.ByteBase to Tokenizer.ByteBase + 255).mkString(" ")
    assert(BpeEncodeExpression.decode(UTF8String.fromString(byteIds)).toString === "")
  }

  test("B151 entry: roundtrip_ok = 1 corpus-wide") {
    val rows = SparkEntry.queries("b151_bpe_roundtrip")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(2) && r.getLong(2) === 1L,
        s"doc ${r.getLong(0)}: round-trip law broken")
    }
  }

  test("B122 entry: n_tokens is consistent with ids and every id is in vocab") {
    val rows = SparkEntry.queries("b122_bpe_tokenize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val validIds = BpeEncodeExpression.tokenIds.values.toSet
    rows.foreach { case (docId, ids, n) =>
      val parts = if (ids.isEmpty) Array.empty[String] else ids.split(" ")
      assert(parts.length.toLong === n || (ids.isEmpty && n === 0L),
        s"doc $docId: n_tokens $n != ${parts.length}")
      parts.foreach(p => assert(validIds.contains(p.toInt),
        s"doc $docId: id $p outside the frozen vocab"))
    }
  }

  test("B172: byte-fallback encoder equals the base encoder on in-charset input") {
    // merges only ever fire on [a-z] symbols, so on [a-z ] text the two
    // encoders must produce identical id streams (fallback is reachable
    // only out of charset)
    val rnd = new scala.util.Random(172)
    val alphabet = ('a' to 'z') :+ ' '
    val randoms = (1 to 300).map(_ =>
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(27))).mkString)
    (Tables.documents(spark, sf).select("text").collect().take(200).map(_.getString(0)) ++
        randoms).foreach { text =>
      val t = UTF8String.fromString(text)
      assert(BpeEncodeExpression.encodeBf(t).toString ===
        BpeEncodeExpression.encode(t).toString, s"modes diverged on '$text'")
    }
  }

  test("B172: randomized unicode round-trips losslessly through byte fallback") {
    val rng = new scala.util.Random(42)
    val pools = Array(
      "abcdefghijklmnopqrstuvwxyz",
      "ABCÄÖÜßéàçñ", "привет", "日本語中文한국", "😀🚀𝄞𝌆", "!#$%&()*+-./:;<=>?@[]^_`{|}~0123456789")
    def randWord(): String = {
      val n = 1 + rng.nextInt(8)
      val sb = new StringBuilder
      (1 to n).foreach { _ =>
        val p = pools(rng.nextInt(pools.length))
        // pick by code point, never splitting a surrogate pair
        val cps = p.codePoints().toArray
        sb.appendAll(Character.toChars(cps(rng.nextInt(cps.length))))
      }
      sb.toString
    }
    (1 to 500).foreach { _ =>
      val text = (1 to (1 + rng.nextInt(6))).map(_ => randWord()).mkString(" ")
      val ids = BpeEncodeExpression.encodeBf(UTF8String.fromString(text))
      val back = BpeEncodeExpression.decodeBf(ids).toString
      assert(back === text.replace(" ", ""), s"round-trip broke on <$text>")
      // no OOV sentinel 0 ever appears with fallback on
      assert(!ids.toString.split(" ").contains("0"), s"sentinel id on <$text>")
    }
  }

  test("B172: a fallback code point's bytes stay contiguous and count exactly") {
    val enc = BpeEncodeExpression.encodeBf(UTF8String.fromString("ab😀cd")).toString
    val ids = enc.split(" ").map(_.toInt)
    // 😀 is 4 UTF-8 bytes -> exactly 4 consecutive byte ids between the
    // vocab ids for the a-z runs
    val byteIds = ids.filter(_ >= Tokenizer.ByteBase)
    assert(byteIds.length === 4)
    val first = ids.indexWhere(_ >= Tokenizer.ByteBase)
    assert(ids.slice(first, first + 4).forall(_ >= Tokenizer.ByteBase))
    assert(new String(byteIds.map(i => (i - Tokenizer.ByteBase).toByte),
      java.nio.charset.StandardCharsets.UTF_8) === "😀")
  }
}
