package graft.llm

import org.apache.spark.sql.functions._
import graft.Registry._
import graft.functions.UnigramEncodeExpression
import graft.sources.Tables

/** B152 — deterministic UNIGRAM-LM subword tokenization (SURVEY §2C
  * tier (b); VERDICT r11 item 3 / r12 item 4): the SentencePiece
  * unigram model (Kudo, ACL'18) under the FROZEN integer-scored vocab
  * in `graft/unigram_vocab.txt`, segmented per word by the Viterbi DP
  * in the native codegen [[graft.functions.UnigramEncodeExpression]] —
  * the probabilistic counterpart to B122's merge-driven BPE, and the
  * one mainstream training-data tokenizer family B122 didn't cover.
  *
  * The t2 oracle does NOT replay the DP — it ENUMERATES every
  * segmentation of every distinct corpus word through a recursive CTE
  * (rows = partial paths carrying total cost + interior-cut bitmask)
  * and takes the (cost, mask)-minimal complete path per word. DP vs
  * exhaustive-search hash-equality therefore pins Viterbi OPTIMALITY
  * (and the exact tie-break), not just agreement between two copies of
  * the same algorithm. Per-doc ids are rebuilt by zipped-unnest word
  * position + ordered string_agg.
  *
  * Scale posture: tokenization is pure map-side scalar work in
  * whole-stage codegen — no shuffle, no broadcast, Zipf-memoized per
  * executor, O(len · maxPieceLen) per word. The oracle's enumeration
  * is exponential in word length by design (it is the spec of
  * correctness, not the production path) and runs only in the gate's
  * DuckDB at the gate SFs.
  *
  * Domain note (applies to the B155 oracle too): an UNCOVERABLE word
  * (a char outside every piece) has no complete path, so the oracle
  * drops it from the doc's ids where the expression emits the "0"
  * sentinel — a deliberate divergence OUTSIDE the tokenizer domain,
  * which UnigramSpec pins empty on the corpora ([a-z ] alphabet
  * guard); inside the domain the engines agree exactly. */
object UnigramTokenize {

  /** VALUES list for the oracle, generated from the SAME frozen
    * resource the expression loads — one source of truth. */
  private def vocabValues: String =
    UnigramEncodeExpression.vocab.zipWithIndex.map { case ((p, c), i) =>
      s"('$p', ${p.length}, ${c}::BIGINT, ${i + 1})"
    }.mkString(", ")

  private[llm] def unigramOracleSql: String =
    s"""WITH RECURSIVE v(piece, len, cost, id) AS (VALUES $vocabValues),
       |words AS (
       |  SELECT DISTINCT w AS word FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) s
       |  WHERE w <> ''),
       |paths(word, pos, cost, mask, ids) AS (
       |  SELECT word, 0::BIGINT, 0::BIGINT, 0::BIGINT, '' FROM words
       |  UNION ALL
       |  SELECT p.word, p.pos + v.len, p.cost + v.cost,
       |         p.mask + CASE WHEN p.pos = 0 THEN 0
       |                       ELSE (1::BIGINT << p.pos) END,
       |         p.ids || CAST(v.id AS VARCHAR) || ' '
       |  FROM paths p
       |  JOIN v ON substr(p.word, CAST(p.pos AS INT) + 1, v.len) = v.piece
       |  WHERE p.pos < len(p.word)),
       |best AS (
       |  SELECT word, rtrim(ids) AS ids FROM (
       |    SELECT word, ids,
       |           row_number() OVER (PARTITION BY word
       |                              ORDER BY cost, mask) AS rn
       |    FROM paths WHERE pos = len(word)) t
       |  WHERE rn = 1),
       |seq AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         unnest(generate_series(1, len(string_split(text, ' ')))) AS i
       |  FROM documents),
       |docids AS (
       |  SELECT s.doc_id, string_agg(b.ids, ' ' ORDER BY s.i) AS ids
       |  FROM seq s JOIN best b ON b.word = s.w
       |  WHERE s.w <> ''
       |  GROUP BY s.doc_id)
       |SELECT d.doc_id,
       |       CASE WHEN d.text IS NULL THEN NULL
       |            WHEN di.ids IS NULL THEN '' ELSE di.ids END AS ids,
       |       CASE WHEN d.text IS NULL THEN NULL
       |            WHEN di.ids IS NULL THEN 0::BIGINT
       |            ELSE CAST(len(string_split(di.ids, ' ')) AS BIGINT) END
       |         AS n_tokens
       |FROM documents d LEFT JOIN docids di USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private val b152 = entry("b152_unigram_tokenize", unigramOracleSql,
    bench = true) {
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr("unigram_encode(text)").as("ids"))
        .withColumn("n_tokens",
          when(col("ids") === "", lit(0L))
            .otherwise(size(split(col("ids"), " ")).cast("long")))
        .orderBy("doc_id")
  }

  /** B155 oracle: the same per-word recursion, but GREEDY — the walk is
    * linear (one row per consumed position), and the NOT EXISTS guard
    * enforces longest-match-first: a piece extends the walk only when no
    * LONGER vocab piece matches at the same position. One complete row
    * per word falls out (max-munch is deterministic); no enumeration. */
  private[llm] def wordpieceOracleSql: String =
    s"""WITH RECURSIVE v(piece, len, cost, id) AS (VALUES $vocabValues),
       |words AS (
       |  SELECT DISTINCT w AS word FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) s
       |  WHERE w <> ''),
       |walk(word, pos, ids) AS (
       |  SELECT word, 0::BIGINT, '' FROM words
       |  UNION ALL
       |  SELECT w.word, w.pos + v.len, w.ids || CAST(v.id AS VARCHAR) || ' '
       |  FROM walk w
       |  JOIN v ON substr(w.word, CAST(w.pos AS INT) + 1, v.len) = v.piece
       |  WHERE w.pos < len(w.word)
       |    AND NOT EXISTS (
       |      SELECT 1 FROM v v2
       |      WHERE v2.len > v.len
       |        AND substr(w.word, CAST(w.pos AS INT) + 1, v2.len) = v2.piece)),
       |best AS (
       |  SELECT word, rtrim(ids) AS ids FROM walk WHERE pos = len(word)),
       |seq AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         unnest(generate_series(1, len(string_split(text, ' ')))) AS i
       |  FROM documents),
       |docids AS (
       |  SELECT s.doc_id, string_agg(b.ids, ' ' ORDER BY s.i) AS ids
       |  FROM seq s JOIN best b ON b.word = s.w
       |  WHERE s.w <> ''
       |  GROUP BY s.doc_id)
       |SELECT d.doc_id,
       |       CASE WHEN d.text IS NULL THEN NULL
       |            WHEN di.ids IS NULL THEN '' ELSE di.ids END AS ids,
       |       CASE WHEN d.text IS NULL THEN NULL
       |            WHEN di.ids IS NULL THEN 0::BIGINT
       |            ELSE CAST(len(string_split(di.ids, ' ')) AS BIGINT) END
       |         AS n_tokens
       |FROM documents d LEFT JOIN docids di USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** B155 — WORDPIECE-STYLE GREEDY tokenization over the SAME frozen
    * vocab as B152: longest-match-first, no backtracking (the BERT
    * inference rule; see [[graft.functions.WordPieceEncodeExpression]]
    * for the documented ##-less simplification). Same ids, different
    * decision rule — WordPieceSpec pins a word where greedy and Viterbi
    * genuinely disagree, so the two entries cannot silently be one
    * implementation. */
  private val b155 = entry("b155_wordpiece_tokenize", wordpieceOracleSql) {
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr("wordpiece_encode(text)").as("ids"))
        .withColumn("n_tokens",
          when(col("ids") === "", lit(0L))
            .otherwise(size(split(col("ids"), " ")).cast("long")))
        .orderBy("doc_id")
  }

  /** B159 — TOKENIZER FAMILY COMPARISON: corpus-level efficiency stats
    * for all three frozen tokenizers (B122 BPE, B152 unigram, B155
    * WordPiece) in one relation — total tokens, fertility (tokens per
    * word, bp) and compression (chars per token, bp), the numbers a
    * tokenizer bake-off reports (fertility per Rust et al. ACL'21; cf.
    * b136's per-doc spelling). All-BIGINT: token totals are exact counts,
    * ratios are basis-point floor divisions.
    *
    * The oracle replays each tokenizer at the DISTINCT-WORD level and
    * weights by occurrence count — valid because all three tokenizers
    * are word-local (encode(text) concatenates encode(word)); the Spark
    * side runs the three codegen expressions over the full corpus, so
    * hash-equality ALSO re-pins the word-locality claim corpus-wide.
    *
    * Scale posture: one corpus pass, three map-side scalar columns, one
    * 3-row aggregate — no shuffle beyond the final partial-agg merge. */
  private val b159 = entry(
    "b159_tokenizer_compare", {
      val bpeE1 = BpeTokenize.charifyMergesExpr("word")
      val bpeE2 = BpeTokenize.idifyExpr("w")
      s"""WITH RECURSIVE v(piece, len, cost, id) AS (VALUES $vocabValues),
         |occ AS (
         |  SELECT w AS word, count(*) AS occ FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) s
         |  WHERE w <> '' GROUP BY w),
         |words AS (SELECT word FROM occ),
         |bpe AS (
         |  SELECT word, CAST(len(string_split(ids, ' ')) AS BIGINT) AS nt
         |  FROM (SELECT word, $bpeE2 AS ids
         |        FROM (SELECT word, $bpeE1 AS w FROM words) s) t),
         |paths(word, pos, cost, mask, n) AS (
         |  SELECT word, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT FROM words
         |  UNION ALL
         |  SELECT p.word, p.pos + v.len, p.cost + v.cost,
         |         p.mask + CASE WHEN p.pos = 0 THEN 0
         |                       ELSE (1::BIGINT << p.pos) END,
         |         p.n + 1
         |  FROM paths p
         |  JOIN v ON substr(p.word, CAST(p.pos AS INT) + 1, v.len) = v.piece
         |  WHERE p.pos < len(p.word)),
         |uni AS (
         |  SELECT word, n AS nt FROM (
         |    SELECT word, n, row_number() OVER (PARTITION BY word
         |                                       ORDER BY cost, mask) AS rn
         |    FROM paths WHERE pos = len(word)) t WHERE rn = 1),
         |walk(word, pos, n) AS (
         |  SELECT word, 0::BIGINT, 0::BIGINT FROM words
         |  UNION ALL
         |  SELECT w.word, w.pos + v.len, w.n + 1
         |  FROM walk w
         |  JOIN v ON substr(w.word, CAST(w.pos AS INT) + 1, v.len) = v.piece
         |  WHERE w.pos < len(w.word)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM v v2
         |      WHERE v2.len > v.len
         |        AND substr(w.word, CAST(w.pos AS INT) + 1, v2.len) = v2.piece)),
         |wp AS (SELECT word, n AS nt FROM walk WHERE pos = len(word)),
         |base AS (
         |  SELECT CAST(sum(occ) AS BIGINT) AS words,
         |         CAST(sum(occ * len(word)) AS BIGINT) AS chars
         |  FROM occ),
         |per AS (
         |  SELECT 'bpe' AS tokenizer, CAST(sum(o.occ * t.nt) AS BIGINT) AS tokens
         |  FROM occ o JOIN bpe t USING (word)
         |  UNION ALL
         |  SELECT 'unigram', CAST(sum(o.occ * t.nt) AS BIGINT)
         |  FROM occ o JOIN uni t USING (word)
         |  UNION ALL
         |  SELECT 'wordpiece', CAST(sum(o.occ * t.nt) AS BIGINT)
         |  FROM occ o JOIN wp t USING (word))
         |SELECT tokenizer, base.words, base.chars, tokens,
         |       CAST(tokens * 10000 // base.words AS BIGINT) AS fertility_bp,
         |       CAST(base.chars * 10000 // tokens AS BIGINT) AS cpt_bp
         |FROM per, base ORDER BY tokenizer""".stripMargin
    }) { (s, d) =>
    def ntoks(e: String) =
      when(expr(e) === "", lit(0L))
        .otherwise(size(split(expr(e), " ")).cast("long"))
    val per = Tables.documents(s, d).select(
      size(filter(split(col("text"), " "), w => w =!= "")).cast("long").as("nw"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("nc"),
      ntoks("bpe_encode(text)").as("t_bpe"),
      ntoks("unigram_encode(text)").as("t_uni"),
      ntoks("wordpiece_encode(text)").as("t_wp"))
      .agg(sum("nw").as("words"), sum("nc").as("chars"),
        sum("t_bpe").as("bpe"), sum("t_uni").as("unigram"),
        sum("t_wp").as("wordpiece"))
    per.selectExpr(
      "stack(3, 'bpe', bpe, 'unigram', unigram, 'wordpiece', wordpiece) AS (tokenizer, tokens)",
      "words", "chars")
      .select(col("tokenizer"), col("words"), col("chars"), col("tokens"),
        expr("tokens * 10000 div words").as("fertility_bp"),
        expr("chars * 10000 div tokens").as("cpt_bp"))
      .orderBy("tokenizer")
  }

  /** B177 — UNIGRAM BYTE-FALLBACK ROUND-TRIP GATE (completing VERDICT
    * r13 item 5's "extend b122/b152" — b172 covered the BPE half): the
    * b172 gate ([[BpeTokenize.byteFallbackEntry]]) over the
    * `unigram_encode_bf`→`unigram_decode_bf` chain, where the base
    * unigram tokenizer would emit the lossy OOV sentinel for every word
    * touching a non-[a-z] code point. */
  private val b177 = BpeTokenize.byteFallbackEntry(
    "b177_unigram_byte_fallback", "unigram_encode_bf", "unigram_decode_bf")

  val entries: Seq[Entry] = Seq(b152, b155, b159, b177)
}
