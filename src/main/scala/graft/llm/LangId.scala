package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** Heuristic n-gram language identification (driver mandate: "language-ID
  * (n-gram heuristic)"). Fully deterministic and SQL-expressible, so it is
  * t2-checked end to end:
  *
  *   1. train split (even doc_ids) → per-language character-trigram
  *      frequency profiles, top-20 per language;
  *   2. test docs (doc_id % 20 == 1) → distinct trigrams;
  *   3. predicted language = argmax over languages of |doc ∩ profile|
  *      (ties broken by language name).
  *
  * Scale posture: profiles are a tiny aggregate (languages × 20 rows) —
  * broadcast to the trigram join; the per-doc trigram explode shuffles
  * (doc, trigram) pairs once. No driver materialization. Trigrams are
  * hashed to INTs at the explode (c1*961 + c2*31 + c3 over codepoints —
  * the same 3-term polynomial in both dialects), so the profile shuffle,
  * the distinct, and the profile join all carry 4-byte ints, never
  * strings. The polynomial is not injective for codepoints ≥ 31 apart
  * (rare same-valued collisions merge two trigrams into one profile
  * entry), but both engines compute the identical value, so the
  * heuristic — and the t2 hash — are unaffected; max value 993·0x10FFFF
  * < 2^31 keeps it inside INT32 on both engines.
  *
  * Note on the testdata: all five `lang` values share one identical 31-word
  * vocabulary (verified against the corpus), so prediction accuracy is
  * chance (1/5) BY CONSTRUCTION of the synthetic data — the t2 gate checks
  * the classifier's determinism and SQL semantics, not its skill.
  */
object LangId {

  private val b45l = entry(
    "b45_text_langid",
    """WITH train_tri AS (
      |  SELECT lang, unnest(list_transform(generate_series(1, length(text) - 2),
      |         i -> ascii(substr(text, i, 1)) * 961
      |            + ascii(substr(text, i + 1, 1)) * 31
      |            + ascii(substr(text, i + 2, 1)))) AS tri
      |  FROM documents WHERE doc_id % 2 = 0 AND length(text) >= 3),
      |profile AS (
      |  SELECT lang AS plang, tri FROM (
      |    SELECT lang, tri, count(*) AS cnt,
      |           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri) AS rn
      |    FROM train_tri GROUP BY lang, tri) p
      |  WHERE rn <= 20),
      |test_tri AS (
      |  SELECT DISTINCT doc_id, lang, tri FROM (
      |    SELECT doc_id, lang, unnest(list_transform(generate_series(1, length(text) - 2),
      |           i -> ascii(substr(text, i, 1)) * 961
      |              + ascii(substr(text, i + 1, 1)) * 31
      |              + ascii(substr(text, i + 2, 1)))) AS tri
      |    FROM documents WHERE doc_id % 20 = 1 AND length(text) >= 3) t),
      |scores AS (
      |  SELECT doc_id, lang, plang, count(*) AS score
      |  FROM test_tri JOIN profile USING (tri)
      |  GROUP BY doc_id, lang, plang)
      |SELECT doc_id, lang, plang AS predicted, score FROM (
      |  SELECT doc_id, lang, plang, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
      |  FROM scores) r
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d)
    // Trigram hashes come from the native fused-loop Expression — one
    // codepoint scan per doc emitting 4-byte ints. The r3 split('') + two
    // interpreted transform lambdas spelling (and before it the O(len²)
    // substring-seek spelling) live on in the b45_tri_unicode fixture's
    // spec cross-check; the codepoint semantics (incl. astral text, where
    // String.split("") would yield lone surrogate halves) are pinned on
    // data by b45_tri_unicode and by CodepointSplitSpec.
    val triOf = expr("trigram_hashes(text)")
    // length >= 3 proves the trigram array non-empty → explode_outer is
    // row-identical AND skips the inferred Generate guard that would
    // re-evaluate triOf per row (the b43 explode lesson)
    val trainTri = docs.filter(col("doc_id") % 2 === 0 && length(col("text")) >= 3)
      .select(col("lang"), explode_outer(triOf).as("tri"))
    val wProf = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
    val profile = trainTri.groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wProf))
      .filter(col("rn") <= 20)
      .select(col("lang").as("plang"), col("tri"))
    val testTri = docs.filter(col("doc_id") % 20 === 1 && length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode_outer(triOf).as("tri"))
      .distinct()
    val wBest = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("plang"))
    testTri.join(broadcast(profile), "tri")
      .groupBy("doc_id", "lang", "plang")
      .agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("plang").as("predicted"), col("score"))
      .orderBy("doc_id")
  }

  private val unicodeCsv = "/root/repo/fixtures/csv/unicode_probe.csv"

  /** B45± — fixture lock for the NATIVE trigram path above on NON-BMP
    * text: [[graft.functions.TrigramHashExpression]] evaluated over the
    * unicode_probe fixture (accented Latin, CJK, astral 𝄞/😀 rows),
    * against the oracle's codepoint-indexed ascii(substr(text, i, 1)).
    * If the native codepoint scan ever regressed to UTF-16 code units
    * (java.lang.String.split("") semantics — lone surrogate halves),
    * rows 4-5 would shift every position and diverge the hash.
    * CodepointSplitSpec additionally cross-checks the native expression
    * against the r3 split('')-HOF spelling on the same fixture. */
  private val b45tu = entry(
    "b45_tri_unicode",
    s"""SELECT probe_id, i AS pos,
       |       ascii(substr(text, i, 1)) * 961
       |     + ascii(substr(text, i + 1, 1)) * 31
       |     + ascii(substr(text, i + 2, 1)) AS tri
       |FROM (
       |  SELECT probe_id, text,
       |         unnest(generate_series(1, length(text) - 2)) AS i
       |  FROM read_csv('$unicodeCsv', header=true,
       |                columns={probe_id: 'BIGINT', text: 'VARCHAR'})
       |  WHERE length(text) >= 3) t
       |ORDER BY probe_id, pos""".stripMargin) { (s, _) =>
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("probe_id", LongType), StructField("text", StringType)))
    s.read.option("header", "true").schema(schema).csv(unicodeCsv)
      .filter(length(col("text")) >= 3)
      .select(col("probe_id"), posexplode_outer(expr("trigram_hashes(text)")))
      .select(col("probe_id"), (col("pos") + 1).as("pos"), col("col").as("tri"))
      .orderBy("probe_id", "pos")
  }

  /** SimHash near-dup over the dup-injected corpus (identical docs land at
    * Hamming distance 0). Fully t2 hash-matched: the token hash is the
    * cross-engine 40-bit polynomial fold, and banded candidate generation
    * with 4 bands at maxHamming 3 is COMPLETE by pigeonhole, so the Spark
    * band-join + Hamming filter equals the oracle's exact all-pairs
    * popcount. The 64-bit xxhash64 signature stays the scale default
    * ([[SimHash.XxTermHash]]), recall-tested in SimHashSpec. */
  private val b42s = entry(
    "b42_dedup_simhash",
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM all_docs),
       |th AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(
       |           ${Winnowing.polyFoldDuck("term")},
       |           [13, 29, 17]),
       |           (h, sh) -> xor((h * 1048573 + 11) & ${Winnowing.PolyMask},
       |                          ((h * 1048573 + 11) & ${Winnowing.PolyMask}) >> sh)) AS h
       |  FROM toks WHERE term <> ''),
       |bits AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, (SELECT unnest(generate_series(0, 39)) AS b) bb
       |  GROUP BY doc_id, b),
       |sigs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val withDups = docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    // bucketCap = None: the oracle above mirrors UNCAPPED complete banding
    // (exact all-pairs popcount), so the exactness twin must not drop hot
    // buckets; the capped default is the scale path.
    SimHash.nearDuplicates(withDups, maxHamming = 3,
        termHash = SimHash.PolyTermHash, bits = 40, bucketCap = None)
      .orderBy("doc_a", "doc_b")
  }

  val entries: Seq[Entry] = Seq(b45l, b45tu, b42s)
}
