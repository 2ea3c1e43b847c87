package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{MinHashLsh, Multimodal, Similarity}
import graft.sources.Tables

/** Property tests for the approximate LLM-pipeline operators (SURVEY §5B.4):
  * LSH candidate sets vs exact similarity, stub multimodal decode. */
class MinHashLshSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  private def docsWithDups = {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  test("identical documents are always LSH candidates (recall=1 at j=1)") {
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val cands = MinHashLsh.candidatePairs(MinHashLsh.signatures(docsWithDups))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- expected)
      assert(cands.contains((id, id + 1000000L)),
        s"identical pair ($id, ${id + 1000000L}) missed by LSH")
  }

  test("nearDuplicates at 0.99 returns exactly the injected identical pairs") {
    val got = MinHashLsh.nearDuplicates(docsWithDups, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got.map(t => (t._1, t._2)).toSet === expected.map(id => (id, id + 1000000L)))
    assert(got.forall(_._3 === 1.0))
  }

  test("repartition gate: width derives from input bytes — tiny narrow " +
    "input passes through, byte-heavy narrow input fans out, wide input " +
    "keeps its partitioning") {
    val parallelism = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the local fixture IS the narrow case (1-2 parquet splits) AND the
    // tiny case (stat bytes ≪ SpreadTargetBytes): the r20 policy keeps
    // it at native width — fanning a sub-megabyte corpus to
    // defaultParallelism paid ~10-17 executor-CPU s of per-task
    // constants per downstream query (r20 A/B, b178 end-to-end)
    assert(docs.rdd.getNumPartitions < parallelism, "fixture unexpectedly wide")
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes < MinHashLsh.SpreadTargetBytes, "fixture unexpectedly heavy")
    val spread = MinHashLsh.spreadNarrowInput(docs)
    assert(spread.rdd.getNumPartitions === docs.rdd.getNumPartitions,
      "tiny narrow input was fanned out (pays per-task constants for nothing)")
    // a narrow input whose SIZE earns multiple partitions fans out to
    // exactly the earned width (capped at defaultParallelism): simulate
    // with an exploded self-multiplied corpus whose stats are large
    val heavy = docs.crossJoin(spark.range(0, 4000).select(col("id")))
      .select(col("doc_id"), concat(col("text"), col("id")).as("text"))
      .coalesce(1)
    val heavyBytes = heavy.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(heavyBytes > MinHashLsh.SpreadTargetBytes, "heavy fixture too light")
    val earned = (heavyBytes / MinHashLsh.SpreadTargetBytes)
      .min(parallelism).toInt
    val spreadHeavy = MinHashLsh.spreadNarrowInput(heavy)
    assert(spreadHeavy.rdd.getNumPartitions === earned,
      s"byte-heavy narrow input did not fan out to its earned width $earned")
    // a corpus already wider than the cluster must pass through untouched —
    // at 100 TB the unconditional repartition would be a full-text shuffle
    val wide = docs.repartition(parallelism * 2, col("doc_id"))
    val kept = MinHashLsh.spreadNarrowInput(wide)
    assert(kept.rdd.getNumPartitions === parallelism * 2,
      "already-wide input was repartitioned (gratuitous full shuffle)")
  }

  test("native shingle_hashes equals distinct xxhash64 of declarative shingles") {
    import spark.implicits._
    // corpus + spacing/unicode edge rows the synthetic data never hits:
    // double/leading/trailing spaces (empty tokens), <3 words, empty text,
    // non-ASCII multi-byte words
    val edges = Seq(
      (9001L, "a  b c"), (9002L, " a b c"), (9003L, "a b c "),
      (9004L, "one two"), (9005L, ""), (9006L, "  "),
      (9007L, "héllo wörld 智能 モデル data"), (9008L, "x y z x y z x y z"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionByName(edges)
    val native = docs
      .select(col("doc_id"), expr("array_sort(shingle_hashes(text))").as("hs"))
    // declarative spelling WITHOUT the size>=3 row filter, so short/empty
    // rows are compared too (both sides must yield the empty array)
    val decl = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), expr(
        """array_sort(array_distinct(transform(
          |  CASE WHEN size(words) >= 3
          |       THEN transform(sequence(0, size(words) - 3),
          |                      i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
          |       ELSE array() END,
          |  s -> xxhash64(s))))""".stripMargin).as("hs_decl"))
    val joined = native.join(decl, "doc_id")
    assert(joined.count() === docs.count())
    assert(joined.filter(expr("hs <> hs_decl")).count() === 0,
      "fused shingle hashing diverged from split+concat_ws+xxhash64")
  }

  test("shingle_hashes property: random spacing/unicode strings match the declarative spelling") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // words of ASCII/accented/CJK/astral chars, joined with 1-3 spaces,
    // with optional leading/trailing space — the full split edge space
    val wordGen = Gen.nonEmptyListOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf('é', 'ß', '智', 'モ'),
      1 -> Gen.const('\uD83D'), 1 -> Gen.const('\uDE00'))).map(_.mkString)
    val textGen = for {
      words <- Gen.listOfN(8, wordGen)
      seps <- Gen.listOfN(8, Gen.oneOf(" ", "  ", "   "))
      lead <- Gen.oneOf("", " ")
      trail <- Gen.oneOf("", " ")
    } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString.trim + trail
    val texts = (0 until 300).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(7L + i)))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
      expr("array_sort(shingle_hashes(text))").as("hs"))
    val decl = df.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), expr(
        """array_sort(array_distinct(transform(
          |  CASE WHEN size(words) >= 3
          |       THEN transform(sequence(0, size(words) - 3),
          |                      i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
          |       ELSE array() END,
          |  s -> xxhash64(s))))""".stripMargin).as("hs_decl"))
    val bad = native.join(decl, "doc_id").filter(expr("hs <> hs_decl")).count()
    assert(bad === 0, s"$bad generated strings diverged from the declarative spelling")
  }

  test("native minhash_sigs signatures are bit-identical to the agg spelling") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val native = MinHashLsh.signaturesNative(docs)
      .select(col("doc_id"), col("sig"))
    val declarative = MinHashLsh.signatures(docs)
      .select(col("doc_id"), col("sig").as("sig_agg"))
    val joined = native.join(declarative, "doc_id")
    assert(joined.count() === docs.filter(size(split(col("text"), " ")) >= 3).count())
    assert(joined.filter(expr("sig <> sig_agg")).count() === 0,
      "fused native signature diverged from the exploded 64-min aggregation")
  }

  test("minhash_sigs of an empty array is NULL, matching the agg spelling's no-row") {
    import spark.implicits._
    // a shingle-less doc has no signature: the groupBy-min spelling emits
    // no row, so the session-registered function must not emit a sentinel
    // that would band-collide every empty doc (ADVICE r5)
    val out = Seq(("empty", 0), ("nonempty", 1)).toDF("tag", "k")
      .select(col("tag"),
        expr("minhash_sigs(CAST(array() AS array<string>))").as("s_str"),
        expr("minhash_sigs(CAST(array() AS array<bigint>))").as("s_long"),
        expr("minhash_sigs(array('a b c'))").as("s_ok"))
      .collect()
    assert(out.forall(_.isNullAt(1)), "empty array<string> input must yield NULL")
    assert(out.forall(_.isNullAt(2)), "empty array<bigint> input must yield NULL")
    assert(out.forall(!_.isNullAt(3)), "non-empty input must stay non-null")
  }

  test("native lsh_bands equals the transform+slice+xxhash64 spelling") {
    val sigs = MinHashLsh.signaturesNative(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val both = sigs.select(col("doc_id"),
      expr("lsh_bands(sig)").as("native"),
      expr("""transform(sequence(0, 15),
             |          b -> xxhash64(slice(sig, b * 4 + 1, 4)))""".stripMargin)
        .as("decl"))
    assert(both.count() > 0)
    assert(both.filter(expr("native <> decl")).count() === 0,
      "fused band hashing diverged from the declarative spelling")
  }

  test("LSH verified jaccard equals exact jaccard on candidate pairs") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val cands = MinHashLsh.candidatePairs(MinHashLsh.signatures(docs)).limit(20)
    val verified = MinHashLsh.verifyJaccard(cands, docs).collect()
    // recompute one pair by hand through the shingle sets
    for (row <- verified.take(3)) {
      val (a, b) = (row.getLong(0), row.getLong(1))
      val shA = MinHashLsh.getClass // marker: exact recompute below
      val sh = graft.llm.TextDedup.shingles(docs)
      val setA = sh.filter(col("doc_id") === a).select("shingle").collect().map(_.getString(0)).toSet
      val setB = sh.filter(col("doc_id") === b).select("shingle").collect().map(_.getString(0)).toSet
      val exact = setA.intersect(setB).size.toDouble / setA.union(setB).size
      assert(math.abs(row.getDouble(2) - exact) < 1e-9)
    }
  }

  test("array-intersect verify is bit-identical to the exploded-join verify") {
    // the r6 hot-path reformulation (verifyJaccardFromArrays) must agree
    // with the exploded (doc, sh) join spelling on EVERY candidate pair
    val docs = docsWithDups
    val hArr = docs
      .select(col("doc_id"), expr("shingle_hashes(text)").as("hs"))
      .filter(size(col("hs")) > 0)
    val sh = hArr.select(col("doc_id"), explode_outer(col("hs")).as("sh"))
    val cands = MinHashLsh.candidatePairs(
      hArr.select(col("doc_id"), expr("minhash_sigs(hs)").as("sig")))
    val viaArrays = MinHashLsh.verifyJaccardFromArrays(cands, hArr)
    val viaExplode = MinHashLsh.verifyJaccardFromShingles(cands, sh)
    assert(viaArrays.count() === viaExplode.count())
    assert(viaArrays.exceptAll(viaExplode).count() === 0)
    assert(viaExplode.exceptAll(viaArrays).count() === 0)
  }

  test("B178: keep-best election is lawful and observably differs from keep-first") {
    val rows = SparkEntry.queries("b178_dedup_keep_best")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val byCanon = rows.groupBy(_._2)
    byCanon.foreach { case (canon, members) =>
      // the winner is a member of its own cluster and the only kept row
      assert(members.exists(_._1 == canon), s"canonical $canon not in cluster")
      assert(members.count(_._3 == 1L) === 1, s"cluster $canon kept != 1")
      members.foreach { case (id, _, kept) =>
        assert((kept == 1L) === (id == canon))
      }
    }
    // the planted mirror clusters: roughly half elect the MIRROR (higher
    // id) — the witness that keep-best is not keep-min-id — and some
    // elect the original, so the scramble is doing real work both ways
    val planted = rows.filter { case (id, _, _) => id >= 1000000L }
      .map { case (mirror, canon, _) => (mirror, canon) }
    assert(planted.nonEmpty)
    assert(planted.exists { case (mirror, canon) => canon == mirror },
      "no cluster elected its mirror — keep-best degenerated to keep-first")
    assert(planted.exists { case (mirror, canon) => canon == mirror - 1000000L },
      "no cluster elected its original")
    // election law replayed in plain JVM: argmax of the Knuth scramble,
    // ties to min id
    def q(id: Long) = (id * 2654435761L) % 2147483648L
    byCanon.foreach { case (canon, members) =>
      val want = members.map(_._1).minBy(id => (-q(id), id))
      assert(canon === want, s"cluster elected $canon, scramble argmax is $want")
    }
  }

  test("B187: cluster profile closes over the corpus and matches b90's components") {
    val profile = SparkEntry.queries("b187_dedup_cluster_profile")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(profile.nonEmpty)
    profile.foreach { case (sz, nc, nd, rm) =>
      assert(nd === sz * nc); assert(rm === (sz - 1) * nc)
    }
    // closure: histogram docs sum to the dup-injected corpus exactly
    val comp = SparkEntry.queries("b90_dedup_text_e2e")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(profile.map(_._3).sum === comp.length.toLong)
    // and the histogram IS b90's component-size distribution
    val wantHist = comp.groupBy(_._2).values.map(_.length)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(profile.map(p => p._1.toInt -> p._2).toMap === wantHist)
    // the planted mirrors guarantee a non-singleton bucket
    assert(profile.exists(p => p._1 >= 2 && p._2 > 0))
  }
}

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("identical vectors are always sign-LSH candidates") {
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val withDups = base.unionByName(
      base.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val cands = Similarity.candidatePairs(withDups)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- 0L until 10L)
      assert(cands.contains((id, id + 1000000L)), s"identical vec pair $id missed")
  }

  test("LSH-verified cosine matches brute-force cosine for shared pairs") {
    val e = Tables.embeddings(spark, sf)
    val lsh = Similarity.candidatePairs(e)
    val verified = Similarity.verifyCosine(lsh, e, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute-force twin over the same threshold
    val v = e.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    v.createOrReplaceTempView("simspec_v")
    val brute = spark.sql(
      """SELECT a.vec_id a, b.vec_id b,
        |  round(aggregate(zip_with(a.v, b.v, (x,y) -> x*y), 0D, (s,t) -> s+t) /
        |  (sqrt(aggregate(zip_with(a.v, a.v, (x,y) -> x*y), 0D, (s,t) -> s+t)) *
        |   sqrt(aggregate(zip_with(b.v, b.v, (x,y) -> x*y), 0D, (s,t) -> s+t))), 4) AS cos
        |FROM simspec_v a JOIN simspec_v b ON a.vec_id < b.vec_id""".stripMargin)
      .filter(col("cos") >= 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.nonEmpty, "no candidate pairs above threshold at all")
    for ((pair, cos) <- verified)
      assert(brute.get(pair).exists(b => math.abs(b - cos) < 1e-9),
        s"pair $pair cosine $cos disagrees with brute force ${brute.get(pair)}")
  }

  test("b75 embedding dedup collapses planted dup classes to the min id") {
    val out = SparkEntry.queries("b75_dedup_embedding")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Tables.embeddings(spark, sf).count()
    val ids = Tables.embeddings(spark, sf)
      .select(col("vec_id")).collect().map(_.getLong(0))
    // every corpus vector present exactly once, plus the planted copies
    val planted5 = ids.filter(_ % 5 == 0)
    val planted10 = ids.filter(_ % 10 == 0)
    assert(out.size == n + planted5.length + planted10.length)
    for (id <- planted5) assert(out(id + 1000000L) == id,
      s"copy of $id not labeled with its canonical id")
    for (id <- planted10) assert(out(id + 2000000L) == id,
      s"second copy of $id not labeled with its canonical id")
    // organic vectors (max pairwise cosine 0.51 < tau) stay singletons
    for (id <- ids) assert(out(id) == id, s"organic vector $id got clustered")
  }
}

class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("decode plumbing: every media row gets deterministic features") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.decodeFeatures(media)
    val n = media.count()
    assert(feats.count() === n)
    val row = feats.filter(col("media_id") === 0).collect().head
    // stub is deterministic: same payload → same fake dimensions, twice
    val again = Multimodal.decodeFeatures(media)
      .filter(col("media_id") === 0).collect().head
    assert(row === again)
    assert(row.width > 0 && row.height > 0 && row.frames > 0)
  }

  test("resize fits within the box preserving aspect; frame sampling strides") {
    val feats = Multimodal.decodeFeatures(Multimodal.mediaTable(spark, sf))
    val resized = Multimodal.resize(feats, maxW = 640, maxH = 480).collect()
    assert(resized.nonEmpty)
    for (f <- resized) {
      assert(f.width <= 640 && f.height <= 480 && f.width >= 1 && f.height >= 1)
    }
    val orig = feats.collect().map(f => f.media_id -> f).toMap
    // aspect check only where integer quantization doesn't dominate
    for (f <- resized; o = orig(f.media_id)
         if (o.width > 640 || o.height > 480) && math.min(f.width, f.height) >= 10) {
      val ratioBefore = o.width.toDouble / o.height
      val ratioAfter = f.width.toDouble / f.height
      assert(math.abs(ratioBefore - ratioAfter) / ratioBefore < 0.05,
        s"aspect drifted for ${f.media_id}: $ratioBefore -> $ratioAfter")
    }
    val sampled = Multimodal.sampleFrames(feats, stride = 10)
    val perMedia = sampled.groupBy("media_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (f <- feats.collect())
      assert(perMedia(f.media_id) === (f.frames + 9) / 10,
        s"wrong sample count for ${f.media_id}")
  }

  test("payload bytes survive the binary round-trip (digest check)") {
    val media = Multimodal.mediaTable(spark, sf)
    val viaBinary = media
      .select(col("media_id"), md5(col("payload")).as("h"))
    val direct = Tables.documents(spark, sf)
      .select(col("doc_id").as("media_id"), md5(col("text").cast("binary")).as("h2"))
    val joined = viaBinary.join(direct, "media_id")
      .filter(col("h") =!= col("h2")).count()
    assert(joined === 0)
  }

  test("B174: the PPM parser recovers a hand-built image exactly") {
    // 2x2 RGB image with known bytes, header written independently of
    // ppmPayload (different whitespace shape than the generator's)
    val pixels = Array[Byte](0, 127, -1, 10, 20, 30, 40, 50, 60, 70, 80, 90)
    val header = "P6 2\n2  255\n".getBytes("US-ASCII")
    val f = Multimodal.decodePpm(7L, header ++ pixels)
    assert(f.width === 2 && f.height === 2)
    assert(f.n_bytes === 12L)
    // -1 reads as unsigned 255
    assert(f.luma_sum === pixels.map(_ & 0xFF).sum.toLong)
  }

  test("B174: malformed payloads fail loudly (magic, truncation, length)") {
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(1L, "P5\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](9))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(2L, "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(3L, "P6\n2".getBytes("US-ASCII"))
    }
  }

  test("B174: generator and parser agree for every id shape (w/h residue sweep)") {
    (0L to 200L).foreach { id =>
      val f = Multimodal.decodePpm(id, Multimodal.ppmPayload(id))
      assert(f.width === (id % 48).toInt + 16)
      assert(f.height === (id % 32).toInt + 8)
      assert(f.n_bytes === 3L * f.width * f.height)
      // analytic mod-256 series sum (what the DuckDB oracle computes)
      val want = (0L until f.n_bytes).map(i => (id + i) % 256).sum
      assert(f.luma_sum === want)
    }
  }
}

/** Surrogate safety of the split('')-based codepoint fast path used by
  * [[graft.llm.LangId]]'s trigram hashing (ADVICE r3): Spark's split —
  * unlike java.lang.String.split("") on this JVM — must keep
  * supplementary-plane characters whole on a zero-width match, or every
  * position after an astral char shifts and the t2 hash diverges from the
  * oracle's codepoint-indexed ascii(substr(text, i, 1)). */
class CodepointSplitSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val spark = TestSession.spark

  private val probes = Seq(
    "a" + new String(Character.toChars(0x1D11E)) + "b",       // astral mid
    new String(Character.toChars(0x1F600)) + "head",          // astral first
    "tail" + new String(Character.toChars(0x1F600)),          // astral last
    "mixéd 中 " + new String(Character.toChars(0x1D11E)) + " ascii",
    "éclair combining mark",                             // combining acute
    "plain ascii")

  test("split('') extracts whole codepoints, identically to substring(i,1)") {
    import spark.implicits._
    val df = probes.toDF("text")
    val rows = df.select(
      expr("transform(split(text, ''), c -> ascii(c))").as("via_split"),
      expr("transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))")
        .as("via_substr"),
      col("text")).collect()
    for (r <- rows) {
      val t = r.getString(2)
      // JVM ground truth: the codepoint sequence
      val want = t.codePoints().toArray.toSeq
      val viaSplit = r.getSeq[Int](0)
      val viaSubstr = r.getSeq[Int](1)
      assert(viaSubstr === want, s"substring path diverged on '$t'")
      // split('') may keep one trailing zero-width match (ascii('') = 0) —
      // LangId bounds positions by length(text), never size(cps), so only
      // the first length(text) entries are load-bearing
      assert(viaSplit.take(want.length) === want, s"split('') path diverged on '$t'")
      assert(viaSplit.drop(want.length).forall(_ == 0),
        s"unexpected non-empty tail entries on '$t': $viaSplit")
    }
  }

  test("JVM String.split('') is NOT surrogate-safe (why the fixture pins Spark's)") {
    // documents the divergence that makes the b45_tri_unicode lock necessary:
    // if Spark ever delegated to this semantics, astral rows would shift
    val s = "a" + new String(Character.toChars(0x1D11E)) + "b"
    assert(s.split("").length === 4)                // surrogate halves split
    assert(s.codePoints().count() === 3L)           // but only 3 codepoints
  }

  test("native trigram_hashes equals the split('')-HOF spelling and codegens") {
    import spark.implicits._
    val df = probes.toDF("text") // all ≥ 3 codepoints (the LangId gate)
    val rows = df
      .withColumn("cps", expr("transform(split(text, ''), c -> ascii(c))"))
      .select(
        expr("trigram_hashes(text)").as("native"),
        expr("""transform(sequence(1, length(text) - 2),
               |  i -> element_at(cps, i) * 961
               |     + element_at(cps, i + 1) * 31
               |     + element_at(cps, i + 2))""".stripMargin).as("hof"),
        col("text"))
      .collect()
    for (r <- rows)
      assert(r.getSeq[Int](0) === r.getSeq[Int](1),
        s"native trigram diverged on '${r.getString(2)}'")
    // under-3-codepoint input → empty array; null in, null out
    val short = spark.sql(
      "SELECT size(trigram_hashes('ab')), trigram_hashes(CAST(NULL AS STRING))")
      .collect().head
    assert(short.getInt(0) === 0)
    assert(short.isNullAt(1))
    // stays inside whole-stage codegen over non-literal (scan) input —
    // a local Seq collapses to LocalTableScan, which has no WSCG stage
    // (the `*(n)` prefix marks the WholeStageCodegen span in this
    // rendering — the dot_f64 spec's convention)
    val plan = graft.sources.Tables.documents(spark, TestSession.sf0001)
      .select(expr("trigram_hashes(text)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [trigram_hashes"), plan)
  }
}
