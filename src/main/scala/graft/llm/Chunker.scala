package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** CONTENT-DEFINED CHUNKING (SURVEY §2B round-7 row B103) — split every
  * document's token stream at boundaries decided by the CONTENT of a
  * small trailing window, not by fixed offsets: a boundary falls after
  * token i when polyfold("cdc:"‖(3-token window ending at i)) ≡ 0
  * (mod 16). This is the rsync/LBFS/FastCDC chunking idea applied to
  * text, and it is what makes chunk-level dedup and RAG stores robust to
  * edits: inserting or deleting a token only perturbs the ≤3 hash
  * windows that overlap the edit, so every boundary outside that
  * neighborhood — and therefore every other chunk's TEXT — is unchanged
  * (fixed-stride chunking shifts EVERY downstream chunk; ChunkerSpec
  * pins the locality property by editing a doc and bounding the chunk
  * diff). Expected chunk length = the modulus (16 tokens) plus the
  * 2-token warm-up.
  *
  * Engine-exact: the boundary predicate is the native poly_fold
  * (codepoint fold, PolyFoldSpec) on both sides, the chunk index is an
  * integer prefix sum, and reassembly is the b93 ordered-aggregate
  * idiom — no floats anywhere.
  *
  * Scale posture: one posexplode (map-side), one shuffle keyed on
  * doc_id for the PER-DOC prefix-sum window (bounded by max doc length,
  * never corpus-global — no Exchange SinglePartition, spec-asserted);
  * the chunk rollup reuses the same doc_id partitioning (grouping keys
  * are a superset), so no second exchange. */
object Chunker {

  /** Tokens in the rolling boundary window. */
  val WindowTokens = 3

  /** Boundary modulus — the expected tokens-per-chunk knob. */
  val Modulus = 16

  /** (doc_id, chunk_id, n_toks, chunk_text), chunks numbered from 1 in
    * token order; every doc's chunks concatenate to the original text. */
  def chunkify(docs: DataFrame): DataFrame =
    chunksRaw(docs).orderBy("doc_id", "chunk_id")

  /** The chunk relation without the presentation sort — for consumers
    * (B105) that re-shuffle anyway. */
  def chunksRaw(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    // posexplode_outer, not posexplode: the non-outer form lets
    // InferFiltersFromGenerate duplicate the generator into a pushed
    // filter (the b43 lesson); every doc has ≥1 token anyway
    val toks = ws.select(col("doc_id"), col("ws"),
        posexplode_outer(col("ws")).as(Seq("p", "tok")))
      .withColumn("i", col("p") + 1)
      // Nested CASE, not `A AND B` (ADVICE r7): element_at(ws, 0) throws if
      // ever evaluated, so the warm-up guard must be an explicit branch
      // rather than relying on And's evaluation order staying lazy.
      .withColumn("bnd", expr(
        s"""CASE WHEN i >= $WindowTokens THEN
           |  CASE WHEN poly_fold(concat('cdc:', element_at(ws, i - 2), ' ',
           |                      element_at(ws, i - 1), ' ',
           |                      element_at(ws, i))) % $Modulus = 0
           |       THEN 1 ELSE 0 END
           |ELSE 0 END""".stripMargin))
      .select("doc_id", "i", "tok", "bnd")
    val prior = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id",
        lit(1L) + coalesce(sum(col("bnd")).over(prior), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_toks"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(i, tok))), e -> e.tok)"),
          " ").as("chunk_text"))
  }

  /** B103 — content-defined chunk manifest over the documents table. */
  private val b103 = entry(
    "b103_text_chunks",
    s"""WITH
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |toks AS (
       |  SELECT doc_id, ws,
       |         unnest(generate_series(1, len(ws))) AS i,
       |         unnest(ws) AS tok
       |  FROM w),
       |flagged AS (
       |  SELECT doc_id, i, tok,
       |         CASE WHEN i >= $WindowTokens AND
       |              ${Winnowing.polyFoldDuck(
                         "('cdc:' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])")}
       |              % $Modulus = 0
       |              THEN 1 ELSE 0 END AS bnd
       |  FROM toks),
       |chunked AS (
       |  SELECT doc_id, i, tok,
       |         1 + COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM flagged)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       CAST(count(*) AS BIGINT) AS n_toks,
       |       string_agg(tok, ' ' ORDER BY i) AS chunk_text
       |FROM chunked GROUP BY doc_id, chunk_id
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    chunkify(Tables.documents(s, d).select("doc_id", "text"))
  }

  /** B105 — CHUNK-LEVEL DEDUP REPORT: the storage metric CDC exists for.
    * Chunks with byte-identical text are one stored object; per doc we
    * report how many of its chunks are non-canonical copies (canonical =
    * smallest (doc_id, chunk_id) holding that text — the B42/B75 min-id
    * rule at sub-document granularity) and the token mass saved. The
    * cross-doc window partitions by chunk_text: unlike b93's gram keys,
    * a partition here is one DUP GROUP (bounded by a text's copy count,
    * 11% dup rate on this corpus), so the window sort is skew-safe; a
    * 100 TB run keys the shuffle on a chunk-text hash with the b93
    * hashedGramKey trade. Composes B103 (this is why chunk boundaries
    * must be content-defined: a fixed-stride chunker would misalign
    * copies that differ by one leading token and find no duplicates). */
  private val b105 = entry(
    "b105_chunk_dedup",
    s"""WITH
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |toks AS (
       |  SELECT doc_id, ws,
       |         unnest(generate_series(1, len(ws))) AS i,
       |         unnest(ws) AS tok
       |  FROM w),
       |flagged AS (
       |  SELECT doc_id, i, tok,
       |         CASE WHEN i >= $WindowTokens AND
       |              ${Winnowing.polyFoldDuck(
                         "('cdc:' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])")}
       |              % $Modulus = 0
       |              THEN 1 ELSE 0 END AS bnd
       |  FROM toks),
       |chunked AS (
       |  SELECT doc_id, i, tok,
       |         1 + COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM flagged),
       |chunks AS (
       |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |         CAST(count(*) AS BIGINT) AS n_toks,
       |         string_agg(tok, ' ' ORDER BY i) AS chunk_text
       |  FROM chunked GROUP BY doc_id, chunk_id),
       |canon AS (
       |  SELECT doc_id, n_toks,
       |         row_number() OVER (PARTITION BY chunk_text
       |                            ORDER BY doc_id, chunk_id) AS rn
       |  FROM chunks)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |       CAST(sum(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS BIGINT) AS toks_saved
       |FROM canon GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val chunks = chunksRaw(Tables.documents(s, d).select("doc_id", "text"))
    val wDup = Window.partitionBy(col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .withColumn("rn", row_number().over(wDup))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("rn") > 1, col("n_toks")).otherwise(0L)).as("toks_saved"))
      .orderBy("doc_id")
  }

  /** B186 sliding-window geometry: width and stride in WORDS. Overlap =
    * SlideW − SlideS = 8 words — the context RAG retrieval pays for so
    * no answer span is ever split across a chunk boundary wider than W−S. */
  val SlideW = 32
  val SlideS = 24

  /** B186 — SLIDING-WINDOW CHUNKING (the fixed-size-with-overlap chunker
    * every RAG stack defaults to — LangChain/LlamaIndex's recursive/token
    * splitters degenerate to exactly this on flat text; the retrieval
    * granularity of Lewis et al. NeurIPS'20): chunk k of a doc covers
    * words [k·S, min(k·S + W, L)) — deterministic geometry from L alone,
    * no content sensitivity. The DELIBERATE contrast to b103's CDC
    * chunker: CDC boundaries survive edits (dedup-friendly) but vary per
    * doc; sliding windows give uniform retrieval granularity and
    * guaranteed overlap (W − S words) between consecutive chunks. A doc
    * of L ≤ W words is one whole chunk; otherwise n_chunks =
    * ⌈(L − W)/S⌉ + 1 (spelled with a CASE so the ceiling division never
    * sees a negative numerator — Spark `div` truncates where DuckDB `//`
    * floors).
    *
    * Scale posture: pure map-side explode (sequence over chunk indexes +
    * array slice) inside whole-stage codegen; output rows ≈ L/S per doc
    * — no shuffle, the ORDER BY is gate presentation only. */
  /** Shared by b186 (batch) and b191 (streamed ingest twin). */
  private val slidingOracleSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |         len(string_split(text, ' ')) AS l
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, w, l,
       |         CASE WHEN l <= $SlideW THEN 1
       |              ELSE (l - $SlideW + $SlideS - 1) // $SlideS + 1 END
       |           AS n_chunks
       |  FROM d),
       |x AS (
       |  SELECT doc_id, w, l, unnest(generate_series(0, n_chunks - 1)) AS k
       |  FROM n)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_no,
       |       CAST(k * $SlideS + 1 AS BIGINT) AS start_tok,
       |       CAST(least(CAST($SlideW AS BIGINT), l - k * $SlideS) AS BIGINT)
       |         AS n_tok,
       |       array_to_string(
       |         w[k * $SlideS + 1 : k * $SlideS + $SlideW], ' ') AS chunk_text
       |FROM x ORDER BY doc_id, chunk_no""".stripMargin

  /** The sliding-window geometry over ANY (doc_id, text) relation —
    * pure stateless row-local work, so it runs unchanged on a stream. */
  private[graft] def slideChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("l", size(col("w")).cast("long"))
      .withColumn("n_chunks",
        when(col("l") <= SlideW, lit(1L))
          .otherwise(expr(s"(l - $SlideW + $SlideS - 1) div $SlideS + 1")))
      .select(col("doc_id"), col("w"), col("l"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("k"))
      .select(col("doc_id"), col("k").as("chunk_no"),
        (col("k") * SlideS + 1).as("start_tok"),
        least(lit(SlideW.toLong), col("l") - col("k") * SlideS).as("n_tok"),
        expr(s"array_join(slice(w, CAST(k * $SlideS + 1 AS INT), $SlideW), ' ')")
          .as("chunk_text"))

  private val b186 = entry("b186_chunk_sliding", slidingOracleSql,
      bench = true) { (s, d) =>
    slideChunks(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .orderBy("doc_id", "chunk_no")
  }

  /** B191 — CHUNKING ON INGEST (the RAG indexing pipeline's front half:
    * documents arrive, chunks leave — a PURELY STATELESS streaming
    * transform, the simplest streaming shape in the engine and the one
    * production runs at the highest volume): the corpus replays in 6
    * doc_id-ordered chunks through a file source, [[slideChunks]] runs
    * per row in APPEND mode (no aggregate, no watermark, no state), and
    * the landed chunk table hash-matches b186's oracle. What this pins:
    * the geometry is row-local, so execution mode — batch, micro-batch,
    * or continuous — cannot change a single chunk boundary.
    *
    * Scale posture: per-row map-side work at scan throughput; state is
    * ZERO (append mode, no stateful operators), so this shape scales to
    * any ingest rate the source sustains. */
  private val b191 = entry("b191_stream_chunk_ingest",
      slidingOracleSql) { (s, d) =>
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = WorkDirs("b191_ingest")
    graft.streaming.StreamingOps.writeChunksDf(docs, dir, n = 6,
      sortCols = Seq("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = graft.streaming.StreamingOps.readStream(s, dir, schema)
    graft.streaming.StreamingOps
      .runToMemory(slideChunks(stream), "b191_replay", "append")
      .orderBy("doc_id", "chunk_no")
  }

  val entries: Seq[Entry] = Seq(b103, b105, b186, b191)
}
