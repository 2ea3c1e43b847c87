package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** Benchmark decontamination (SURVEY §2B round-6 row B92): flag training
  * documents that overlap a held-out evaluation/benchmark set by exact
  * word-n-gram match — the standard pre-training hygiene pass (the GPT-3
  * paper's 13-gram filter; done here at 8-gram granularity so the ~60-word
  * synthetic docs can overlap at all).
  *
  * Semantics: a corpus doc is CONTAMINATED when it shares ≥ `MinOverlap`
  * distinct 8-grams with ANY benchmark doc. Exact by construction (no
  * sketching), so the whole operator is SQL-expressible and t2-checked.
  *
  * Scale posture: the benchmark set is small by definition (thousands of
  * eval questions vs a 100 TB corpus) — its distinct-gram relation
  * BROADCASTS, and the corpus side streams map-side through one
  * explode → broadcast-semi-ish join → per-doc count, with one shuffle
  * for the per-doc aggregate. The corpus grams are never collected or
  * self-joined. At 100 TB the gram strings would drop to xxhash64 longs
  * before the join (the MinHashLsh rule: shuffle 8-byte hashes, never
  * strings); the t2 entry keeps strings so the oracle compares exactly —
  * the plan shape is identical either way.
  */
object Decontaminate {

  val GramWords = 8
  /** Flag threshold: ≥ 3 shared 8-grams ≈ a ≥ 10-word verbatim span,
    * tolerating single-gram coincidences in a small vocabulary. */
  val MinOverlap = 3

  /** Distinct word-8-grams per doc: (doc_id, gram). */
  private def grams(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= GramWords)
      .select(col("doc_id"), explode_outer(array_distinct(expr(
        s"""transform(sequence(0, size(w) - $GramWords),
           |          i -> array_join(slice(w, i + 1, $GramWords), ' '))""".stripMargin)))
        .as("gram"))

  /** The planted-contamination corpus: originals plus, for every doc with
    * `doc_id % 100 = 1`, a copy (id + 3000000) whose text is extended with
    * benchmark doc 0's text — verbatim benchmark leakage. The flagged set
    * is the 5 planted docs PLUS one organic hit (sf0.01 doc 332, a
    * near-verbatim copy of a benchmark doc — the corpus's jaccard-0.989
    * organic near-dup pair straddles the benchmark split), which is
    * exactly what a decontamination pass exists to catch. */
  private[llm] def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val bench0 = docs.filter(col("doc_id") === 0)
      .select(col("text").as("bench_text"))
    docs.unionByName(
      docs.filter(col("doc_id") % 100 === 1)
        .crossJoin(broadcast(bench0))
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ", col("text"), col("bench_text")).as("text")))
  }

  /** Overlap report: every non-benchmark corpus doc sharing ≥1 gram with
    * the benchmark set, its distinct-gram overlap count, and the
    * contamination flag. `benchmark` = original docs with doc_id % 40 = 0.
    *
    * `hashedGramKey` is the 100 TB path (the MinHashLsh 8-byte rule): the
    * broadcast benchmark relation and the join compares carry
    * xxhash64(gram) longs instead of gram strings — the broadcast shrinks
    * ~10× and the probe compares are single-word — at the cost of the
    * documented 2^-64-per-pair collision (a false overlap count of +1).
    * The t2 entries keep strings so the oracle compares exactly; path
    * equality on real data is pinned in CorpusCleanSpec. */
  def overlapReport(corpus: DataFrame, benchmark: DataFrame,
      hashedGramKey: Boolean = false): DataFrame = {
    def keyed(df: DataFrame): DataFrame =
      if (hashedGramKey) df.withColumn("gram", xxhash64(col("gram"))) else df
    val benchGrams = keyed(grams(benchmark)).select(col("gram")).distinct()
    keyed(grams(corpus))
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("overlap_ngrams"))
      .withColumn("contaminated", col("overlap_ngrams") >= MinOverlap)
      .orderBy("doc_id")
  }

  /** The distinct benchmark gram set [[overlapReport]] builds internally —
    * exposed so a caller running SEVERAL overlap passes against the SAME
    * benchmark (b270: clean + plants-only) computes it once. */
  private[graft] def benchGramSet(benchmark: DataFrame): DataFrame =
    grams(benchmark).select(col("gram")).distinct()

  /** Count of contaminated corpus docs against a PRE-BUILT gram set —
    * the scalar tail of [[overlapReport]] (filter(contaminated) + count)
    * without re-deriving the benchmark grams; one row (n_failures). */
  private[graft] def contaminatedCount(corpus: DataFrame,
      benchGrams: DataFrame): DataFrame =
    grams(corpus)
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("overlap_ngrams"))
      .filter(col("overlap_ngrams") >= MinOverlap)
      .agg(count(lit(1)).as("n_failures"))

  /** Shared DuckDB oracle for B92 (batch) and B96 (the same operator as
    * a chunked-stream replay): the replay must be execution-mode-
    * invisible, so one SQL string gates both. */
  private val overlapOracleSql: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents),
       |corpus AS (
       |  SELECT doc_id, text FROM docs
       |  UNION ALL
       |  SELECT d.doc_id + 3000000, d.text || ' ' || b.text
       |  FROM docs d, (SELECT text FROM docs WHERE doc_id = 0) b
       |  WHERE d.doc_id % 100 = 1),
       |bench AS (SELECT doc_id, text FROM docs WHERE doc_id % 40 = 0),
       |bgrams AS (
       |  SELECT DISTINCT unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${GramWords - 1}], ' ')))) AS gram
       |  FROM bench WHERE len(string_split(text, ' ')) >= $GramWords),
       |cgrams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${GramWords - 1}], ' ')))) AS gram
       |  FROM corpus
       |  WHERE len(string_split(text, ' ')) >= $GramWords
       |    AND doc_id NOT IN (SELECT doc_id FROM bench))
       |SELECT doc_id, count(*) AS overlap_ngrams,
       |       count(*) >= $MinOverlap AS contaminated
       |FROM cgrams JOIN bgrams USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** B92 — benchmark decontamination over the planted corpus. */
  private val b92 = entry("b92_text_decontaminate", overlapOracleSql) { (s, d) =>
    val corpus = plantedCorpus(s, d)
      .filter(!(col("doc_id") % 40 === 0 && col("doc_id") < 3000000L))
    val benchmark = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 40 === 0)
    overlapReport(corpus, benchmark)
  }

  /** B96 — the SAME [[overlapReport]] implementation run as a STREAM
    * (the b80 one-implementation-two-modes pattern): the planted corpus
    * replays in 6 doc_id-ordered chunks through a file source, the
    * benchmark gram side is a static broadcast (stream-static, stateless),
    * and the per-doc overlap aggregate runs in complete mode — the final
    * table IS the batch report, hash-matched against b92's oracle. A doc
    * never splits across chunks, so chunk boundaries can't split its
    * gram set. What this adds: corpus hygiene runs on INGEST streams in
    * production, and this pins that the operator is execution-mode-
    * invisible. State note: the per-doc aggregate is keyed state ∝ docs
    * seen — a production stream windows or TTLs it; the replay is finite
    * by construction. */
  private val b96 = entry("b96_stream_decontaminate", overlapOracleSql) { (s, d) =>
    import org.apache.spark.sql.types._
    val dir = WorkDirs("b96_chunks")
    val corpus = plantedCorpus(s, d)
      .filter(!(col("doc_id") % 40 === 0 && col("doc_id") < 3000000L))
    graft.streaming.StreamingOps.writeChunksDf(corpus, dir, n = 6,
      sortCols = Seq("doc_id"))
    val benchmark = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 40 === 0)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = graft.streaming.StreamingOps.readStream(s, dir, schema)
    graft.streaming.StreamingOps
      .runToMemory(overlapReport(stream, benchmark), "b96_replay", "complete")
      .orderBy("doc_id")
  }

  val entries: Seq[Entry] = Seq(b92, b96)
}
