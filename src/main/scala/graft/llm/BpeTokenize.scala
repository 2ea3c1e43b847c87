package graft.llm

import org.apache.spark.sql.functions._
import graft.Registry._
import graft.functions.{BpeEncodeExpression, Tokenizer}
import graft.sources.Tables

/** B122 — deterministic subword tokenization (SURVEY §2C tier (b); the
  * bridge between b101's whitespace tokens and model-ready ids, VERDICT
  * r10 item 7): BPE (Sennrich et al., ACL'16) under the FROZEN merge
  * table in `graft/bpe_merges.txt`, applied by the native codegen
  * [[graft.functions.BpeEncodeExpression]].
  *
  * The t2 oracle replays the EXACT tokenizer in DuckDB as a chain of
  * string `replace`s over a marker-delimited symbol string:
  *
  *   1. charify — each char c → `⟨c⟩` (the markers ⟨⟩ are outside the
  *      corpus alphabet, so every symbol boundary is explicit and no
  *      replace can match across or inside symbols);
  *   2. merges — in rank order, `⟨l⟩⟨r⟩` → `⟨lr⟩`. A rank-ordered
  *      non-overlapping left-to-right pass IS greedy lowest-rank-first
  *      BPE for a well-formed table: a merge consuming a symbol ranks
  *      after the merge creating it, and merging can only delete
  *      adjacencies between older symbols, never create them, so no
  *      earlier-rank pair ever reappears (BpeSpec cross-checks against
  *      the priority-queue spelling);
  *   3. idify — each `⟨tok⟩` → "id " (closing markers make every token
  *      pattern prefix-unambiguous), word boundaries drop, rtrim.
  *
  * Both engines therefore walk the identical merge trajectory and the
  * driver hash pins every token id of every document — an exact,
  * SQL-checkable twin of a real subword tokenizer, which is the reason
  * BPE (and not a probabilistic unigram LM) is the spelling here.
  *
  * Scale posture (100 TB): tokenization is pure map-side scalar work in
  * whole-stage codegen — no shuffle, no model broadcast beyond the merge
  * table baked into the expression class, Zipf-memoized per executor.
  * The output ORDER BY is gate presentation only. */
object BpeTokenize {

  /** Stage 1 of the replace-chain oracle: charify + rank-ordered merges
    * over `c` (≈ 91 expressions deep — under DuckDB's 128 binder cap). */
  private[llm] def charifyMergesExpr(c: String): String = {
    var e1 = c
    for (ch <- 'a' to 'z')
      e1 = s"replace($e1, '$ch', '⟨$ch⟩')"
    e1 = s"replace($e1, ' ', '⟨·⟩')"
    for ((l, r) <- BpeEncodeExpression.merges)
      e1 = s"replace($e1, '⟨$l⟩⟨$r⟩', '⟨$l$r⟩')"
    e1
  }

  /** Stage 2: idify over the stage-1 column `c` (≈ 92 deep). */
  private[llm] def idifyExpr(c: String): String = {
    var e2 = c
    for ((tok, id) <- BpeEncodeExpression.tokenIds.toSeq.sortBy(_._2))
      e2 = s"replace($e2, '⟨$tok⟩', '$id ')"
    s"rtrim(replace($e2, '⟨·⟩', ''))"
  }

  /** The marker-delimited replace-chain oracle, generated from the SAME
    * frozen resource the expression loads — one source of truth. The two
    * subquery stages keep each SELECT item under the binder's 128-deep
    * expression cap (depth resets per SELECT item). */
  private[llm] def bpeOracleSql: String = {
    val e1 = charifyMergesExpr("text")
    val e2 = idifyExpr("w")
    s"""SELECT doc_id, ids,
       |  CAST(CASE WHEN ids = '' THEN 0
       |       ELSE len(string_split(ids, ' ')) END AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, $e2 AS ids
       |      FROM (SELECT doc_id, $e1 AS w FROM documents) s) t
       |ORDER BY doc_id""".stripMargin
  }

  private val b122 = entry("b122_bpe_tokenize", bpeOracleSql, bench = true) {
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr("bpe_encode(text)").as("ids"))
        .withColumn("n_tokens",
          when(col("ids") === "", lit(0L))
            .otherwise(size(split(col("ids"), " ")).cast("long")))
        .orderBy("doc_id")
  }

  /** Stage 3 of the oracle for B151: decode the id string `c` back to
    * text. The id string is re-marker-delimited (`'1 27 5'` →
    * `'⟨1⟩⟨27⟩⟨5⟩'`) so every id pattern is prefix-unambiguous — then
    * each `⟨id⟩` replaces to its token surface (order-independent in
    * marker form), with the OOV sentinel `⟨0⟩` dropping to ''. ≈ 93
    * expressions deep — under DuckDB's 128 binder cap. */
  private[llm] def decodeExpr(c: String): String = {
    var e = s"CASE WHEN $c = '' THEN '' ELSE '⟨' || replace($c, ' ', '⟩⟨') || '⟩' END"
    e = s"replace($e, '⟨0⟩', '')"
    for ((tok, id) <- BpeEncodeExpression.tokenIds.toSeq.sortBy(_._2))
      e = s"replace($e, '⟨$id⟩', '$tok')"
    e
  }

  /** B151 round-trip oracle: replay encode (stages 1-2) then decode
    * (stage 3) in DuckDB and check decode(encode(text)) ≡ text minus
    * spaces — BPE ids join words with the same separator as tokens, so
    * despaced text is the exact inverse image (BpeEncodeExpression doc). */
  private[llm] def roundtripOracleSql: String = {
    val e1 = charifyMergesExpr("text")
    val e2 = idifyExpr("w")
    val e3 = decodeExpr("ids")
    s"""SELECT doc_id, decoded,
       |  CAST(decoded = replace(text, ' ', '') AS BIGINT) AS roundtrip_ok
       |FROM (SELECT doc_id, text, $e3 AS decoded
       |      FROM (SELECT doc_id, text, $e2 AS ids
       |            FROM (SELECT doc_id, text, $e1 AS w FROM documents) s) t) u
       |ORDER BY doc_id""".stripMargin
  }

  /** B151 — BPE DECODE + ROUND-TRIP GATE (VERDICT r12 item 3): the
    * native codegen inverse `bpe_decode` ([[graft.functions.BpeEncodeExpression]]) run
    * over the encoder's output corpus-wide, hash-pinned against the
    * DuckDB replay of BOTH directions. A hash-green run proves
    * decode(encode(text)) ≡ despaced text for every document at the gate
    * SF — the detokenizer law a training pipeline needs before it can
    * trust stored token ids as the system of record.
    *
    * Scale posture: two chained map-side scalars in one whole-stage
    * codegen span — no shuffle at any corpus size; ORDER BY is gate
    * presentation only. */
  private val b151 = entry("b151_bpe_roundtrip", roundtripOracleSql) {
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          expr("bpe_decode(bpe_encode(text))").as("decoded"))
        .select(col("doc_id"), col("decoded"),
          (col("decoded") === regexp_replace(col("text"), " ", ""))
            .cast("long").as("roundtrip_ok"))
        .orderBy("doc_id")
  }

  private val bytefallbackCsv = "/root/repo/fixtures/csv/bytefallback_probe.csv"

  /** A BYTE-FALLBACK ROUND-TRIP GATE (b172 for BPE, b177 for unigram;
    * VERDICT r13 item 5): the b151 law extended from the corpus charset to
    * ARBITRARY input — the `encode`→`decode` native chain run over a
    * fixture of accented Latin, Cyrillic, CJK, supplementary-plane
    * (😀, 𝄞, 𝌆), uppercase, punctuation and digit text, where the base
    * tokenizer would collapse every out-of-charset code point to the
    * lossy OOV sentinel.
    *
    * Two-sided t2 contract: (a) `decoded` must equal the despaced input
    * — DuckDB states the identity law, Spark runs the real expressions,
    * so any encode OR decode defect breaks the hash (the fallback chain
    * itself is not SQL-replayable: a replace-chain cannot enumerate
    * Unicode); (b) `n_fallback_bytes` — the count of byte ids the real
    * encoder emitted — must equal DuckDB's INDEPENDENT prediction,
    * octet_length of the text with the trained charset [a-z ] stripped:
    * exactly the non-vocab code points' UTF-8 bytes (BPE: merges never
    * leave [a-z] and fallback decomposes after merging; unigram: the
    * exchange argument in [[graft.functions.UnigramEncodeExpression]]).
    * A fallback that over- or under-emits bytes (e.g. splitting surrogate
    * halves) fails (b) even where the round-trip happens to survive.
    *
    * Scale posture: two chained map-side codegen scalars + one array
    * filter — shuffle-free at any corpus size (the b151 posture). */
  private[llm] def byteFallbackEntry(name: String, encode: String, decode: String): Entry =
    entry(name,
      s"""SELECT probe_id,
         |       replace(text, ' ', '') AS decoded,
         |       CAST(1 AS BIGINT) AS roundtrip_ok,
         |       CAST(octet_length(encode(regexp_replace(text, '[a-z ]', '', 'g')))
         |            AS BIGINT) AS n_fallback_bytes
         |FROM read_csv('$bytefallbackCsv', header=true,
         |              columns={probe_id: 'BIGINT', text: 'VARCHAR'})
         |ORDER BY probe_id""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("probe_id", LongType), StructField("text", StringType)))
      s.read.option("header", "true").schema(schema).csv(bytefallbackCsv)
        .withColumn("ids", expr(s"$encode(text)"))
        .withColumn("decoded", expr(s"$decode(ids)"))
        .select(col("probe_id"), col("decoded"),
          (col("decoded") === regexp_replace(col("text"), " ", ""))
            .cast("long").as("roundtrip_ok"),
          expr(s"CAST(size(filter(split(ids, ' '), x -> CAST(x AS INT) >= ${Tokenizer.ByteBase})) AS BIGINT)")
            .as("n_fallback_bytes"))
        .orderBy("probe_id")
    }

  private val b172 = byteFallbackEntry("b172_bpe_byte_fallback", "bpe_encode_bf", "bpe_decode_bf")

  val entries: Seq[Entry] = Seq(b122, b151, b172)
}
