package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** DSIR-style IMPORTANCE RESAMPLING (SURVEY §2B round-7 row B100) — the
  * data-selection pass (Xie et al., "Data Selection for Language Models
  * via Importance Resampling", 2023): score every raw-corpus document by
  * how much more likely its hashed n-gram features are under a TARGET
  * domain's bag-of-ngrams model than under the raw corpus's own, and keep
  * the top slice. Complements B98 (which balances GIVEN sources) — here
  * the notion of "good" is LEARNED from a target sample, which is how
  * pre-training corpora are actually steered toward a domain.
  *
  *   1. FEATURES: word unigrams + bigrams, hashed into B = 1024 buckets
  *      by polyfold("dsir:"‖feature) mod B (the paper's hashed n-gram
  *      generative model; the salt decorrelates from b56/b59/b98);
  *      the bigram transform is guarded on size ≥ 2 — Spark's
  *      `sequence(1, 0)` DESCENDS where DuckDB's generate_series is
  *      empty, a real cross-engine trap;
  *   2. MODELS: Laplace-smoothed bucket probabilities for target (docs
  *      with lang = target) and raw (all docs). Totals are derived by
  *      SUMMING the 1024-row bucket tables — no extra corpus pass;
  *   3. WEIGHTS: w[b] = floor((ln p_t[b] − ln p_r[b])·10⁶ + 0.5) as
  *      BIGINT. This is the ONLY float step: 1024 scalar ln-ratios,
  *      rounded to fixed point. DsirSpec measures every bucket's
  *      distance from its floor boundary (≥ 1e-4 on this corpus, vs
  *      ~1e-10 worst-case cross-engine libm drift), so per-DOC scores
  *      are exact BIGINT sums Σ c_doc[b]·w[b] — stronger than b95's
  *      rounded-per-doc-double contract: summation order cannot matter;
  *   4. SELECT: top ⌊N/10⌋ docs by (score DESC, doc_id) — exact integer
  *      ordering, executed as TakeOrderedAndProject (per-partition
  *      top-N + driver merge, never a global sort).
  *
  * Scale posture (100 TB): the corpus is scanned twice map-side (bucket
  * counts; scoring) — the standard two-pass trade, cheaper than
  * materializing a corpus-sized feature relation; both model tables are
  * 1024 rows → broadcast (plan-asserted); the per-doc score is one
  * map-side-combinable aggregate; selection state is O(topN) per
  * partition. Target-sample size only affects a 1024-row table, never a
  * shuffle. */
object DsirResample {

  /** Hashed-feature bucket count (the paper uses 10⁴; 2¹⁰ keeps the
    * model tables trivially broadcastable while leaving buckets
    * non-degenerate on the test corpus). */
  val Buckets = 1024

  /** Fixed-point scale for the per-bucket log-likelihood-ratio. */
  val WScale = 1000000L

  /** (doc_id, lang, b) — one row per feature OCCURRENCE (unigrams +
    * bigrams), bucketed. Map-side only: split, guarded bigram
    * transform, explode, polyfold. */
  def featureBuckets(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("ws"))
    val bigrams = expr(
      """IF(size(ws) >= 2,
        |   transform(sequence(1, size(ws) - 1),
        |             i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))),
        |   CAST(array() AS ARRAY<STRING>))""".stripMargin)
    ws.select(col("doc_id"), col("lang"),
        explode(concat(col("ws"), bigrams)).as("f"))
      // native codepoint fold (PolyFoldExpression) — the HOF spelling
      // allocates per CHARACTER and dominated the first bench of this
      // entry (14.2 s at sf0.1); equality with the SQL fold is
      // spec-pinned in PolyFoldSpec
      .select(col("doc_id"), col("lang"),
        (expr("poly_fold(concat('dsir:', f))") % Buckets).as("b"))
  }

  /** The 1024-row fixed-point weight table w[b] from one pass's bucket
    * counts; totals are sums OF the bucket tables (no corpus re-scan). */
  def bucketWeights(fb: DataFrame, targetLang: String): DataFrame = {
    val cntR = fb.groupBy("b").agg(count(lit(1)).as("cr"))
    val cntT = fb.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val tots = cntR.agg(sum("cr").as("tr"))
      .crossJoin(cntT.agg(sum("ct").as("tt")))
    val pT = (coalesce(col("ct"), lit(0L)) + 1).cast("double") /
      (col("tt") + Buckets).cast("double")
    val pR = (col("cr") + 1).cast("double") /
      (col("tr") + Buckets).cast("double")
    cntR.join(cntT, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("b"),
        floor((log(pT) - log(pR)) * WScale + lit(0.5d)).cast("long").as("w"))
  }

  /** Selected manifest: (doc_id, lang, score) of the top ⌊count/10⌋ docs
    * by target-likeness, doc_id order. */
  /** Exact BIGINT per-doc scores against a given weight table — works
    * unchanged on a STREAMING docs relation (stateless explode +
    * stream-static broadcast join + per-doc agg), which is what B104
    * replays. */
  def scoreDocs(docs: DataFrame, wt: DataFrame): DataFrame =
    featureBuckets(docs).join(broadcast(wt), "b")
      .groupBy("doc_id").agg(sum("w").as("score"))

  def select(docs: DataFrame, targetLang: String): DataFrame = {
    val fb = featureBuckets(docs)
    val wt = bucketWeights(fb, targetLang)
    val scored = scoreDocs(docs, wt)
    val topN = (docs.count() / 10).toInt
    val sel = scored.orderBy(col("score").desc, col("doc_id")).limit(topN)
    sel.join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("score"))
      .orderBy("doc_id")
  }

  /** B100 — DSIR selection toward lang='de' (the corpus's ~14% minority;
    * DsirSpec pins the observable enrichment). */
  private val b100 = entry(
    "b100_dsir_resample",
    s"""WITH
       |w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |feats AS (
       |  SELECT doc_id, lang, unnest(
       |    list_concat(ws,
       |      list_transform(generate_series(1, len(ws) - 1),
       |                     i -> ws[i] || ' ' || ws[i+1]))) AS f
       |  FROM w),
       |fb AS (SELECT doc_id, lang,
       |              ${Winnowing.polyFoldDuck("('dsir:' || f)")} % $Buckets AS b
       |       FROM feats),
       |cnt_r AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
       |cnt_t AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'de' GROUP BY b),
       |tot AS (SELECT (SELECT sum(cr) FROM cnt_r) AS tr,
       |               (SELECT sum(ct) FROM cnt_t) AS tt),
       |wt AS (
       |  SELECT r.b,
       |         CAST(floor((ln((COALESCE(t.ct, 0) + 1) * 1.0 / (tot.tt + $Buckets))
       |                   - ln((r.cr + 1) * 1.0 / (tot.tr + $Buckets))) * $WScale + 0.5)
       |              AS BIGINT) AS w
       |  FROM cnt_r r LEFT JOIN cnt_t t ON t.b = r.b, tot),
       |score AS (
       |  SELECT fb.doc_id, CAST(sum(wt.w) AS BIGINT) AS score
       |  FROM fb JOIN wt ON wt.b = fb.b GROUP BY fb.doc_id),
       |n AS (SELECT count(*) // 10 AS topn FROM documents)
       |SELECT s.doc_id, d.lang, s.score
       |FROM score s JOIN documents d ON d.doc_id = s.doc_id, n
       |QUALIFY row_number() OVER (ORDER BY s.score DESC, s.doc_id) <= n.topn
       |ORDER BY s.doc_id""".stripMargin, bench = true) { (s, d) =>
    select(Tables.documents(s, d).select("doc_id", "text", "lang"), "de")
  }

  private lazy val chunkDir104: String =
    java.nio.file.Files.createTempDirectory("graft_b104_chunks").toString

  /** B104 — STREAMING DSIR scoring (the b96 one-implementation-two-modes
    * pattern for the selection surface): the weight table is trained on
    * the BATCH corpus and FROZEN (localCheckpoint — production trains
    * offline and ships the 1024-row model to the scorer), then the same
    * [[scoreDocs]] runs over a 6-chunk doc_id-ordered file-stream replay
    * with a stream-static broadcast of the model and the per-doc
    * aggregate in complete mode. Scores are exact BIGINTs (B100's
    * fixed-point contract), so execution mode can't perturb even a
    * rounding: the final table must hash-match the batch oracle
    * verbatim. State note: per-doc keyed state ∝ docs seen — the b96
    * replay-only caveat applies. */
  private val b104 = entry(
    "b104_stream_dsir_score",
    s"""WITH
       |w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |feats AS (
       |  SELECT doc_id, lang, unnest(
       |    list_concat(ws,
       |      list_transform(generate_series(1, len(ws) - 1),
       |                     i -> ws[i] || ' ' || ws[i+1]))) AS f
       |  FROM w),
       |fb AS (SELECT doc_id, lang,
       |              ${Winnowing.polyFoldDuck("('dsir:' || f)")} % $Buckets AS b
       |       FROM feats),
       |cnt_r AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
       |cnt_t AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'de' GROUP BY b),
       |tot AS (SELECT (SELECT sum(cr) FROM cnt_r) AS tr,
       |               (SELECT sum(ct) FROM cnt_t) AS tt),
       |wt AS (
       |  SELECT r.b,
       |         CAST(floor((ln((COALESCE(t.ct, 0) + 1) * 1.0 / (tot.tt + $Buckets))
       |                   - ln((r.cr + 1) * 1.0 / (tot.tr + $Buckets))) * $WScale + 0.5)
       |              AS BIGINT) AS w
       |  FROM cnt_r r LEFT JOIN cnt_t t ON t.b = r.b, tot)
       |SELECT fb.doc_id, CAST(sum(wt.w) AS BIGINT) AS score
       |FROM fb JOIN wt ON wt.b = fb.b GROUP BY fb.doc_id
       |ORDER BY fb.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    // frozen model: trained on the batch corpus, materialized once
    val wt = bucketWeights(featureBuckets(docs), "de").localCheckpoint(true)
    val dir = chunkDir104
    graft.streaming.StreamingOps.writeChunksDf(docs, dir, n = 6,
      sortCols = Seq("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val stream = graft.streaming.StreamingOps.readStream(s, dir, schema)
    s.catalog.dropTempView("b104_replay") // idempotent re-runs
    graft.streaming.StreamingOps
      .runToMemory(scoreDocs(stream, wt), "b104_replay", "complete")
      .orderBy("doc_id")
  }

  val entries: Seq[Entry] = Seq(b100, b104)
}
