package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** B142 — INCREMENTAL DEDUPLICATION against corpus history: classify
  * each newly-arrived document as `exact` (byte-identical to a history
  * doc), `near` (3-shingle Jaccard ≥ τ with some history doc), or `new`.
  * Production corpora are continuously ingested, so dedup is
  * vs-HISTORY, not within-batch — the incremental complement of B42
  * (exact, whole-corpus) and B43 (near-dup, whole-corpus).
  *
  * Workload: history = docs with doc_id % 4 ≠ 3, batch = the rest, PLUS
  * planted arrivals (the B92/B42 convention) that make every branch
  * non-vacuous at every SF: history docs with doc_id % 28 = 0 re-arrive
  * verbatim (ids + 2·10⁶ → `exact`), and docs with doc_id % 28 = 14
  * re-arrive with a two-token prefix (`zq zq ` — Jaccard ≈ n/(n+2),
  * well above τ but not byte-identical → `near`).
  *
  * Semantics (exact, SQL-twinned): the exact side joins on sha256
  * digests; the near side is the B43 inverted-index join (candidates
  * only via shared shingles, never a cross join) with integer
  * basis-point Jaccard — common·10⁴ div (n_a + n_b − common) — and the
  * best match per batch doc is (jac_bp DESC, history id ASC). `exact`
  * takes precedence over `near`.
  *
  * Scale posture (100 TB): the exact join shuffles 32-byte digests,
  * never text. The near side shuffles (id, shingle) pairs keyed by
  * shingle — the B43 posting-list shape, with [[TextDedup.dfCapped]]
  * as the documented hotspot valve — and in the real incremental
  * setting the BATCH side is small relative to history (a day's ingest
  * vs the corpus), which is the asymmetry this operator exists to
  * exploit: history shingles can come from a standing index (B108's
  * build) rather than a re-scan. */
object IncrementalDedup {

  /** Near-dup threshold in basis points. */
  val NearBp = 8000L

  /** (history, batch) with planted arrivals. */
  private[llm] def splitWithArrivals(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val hist = docs.filter(col("doc_id") % 4 =!= 3)
    val exactArrivals = hist.filter(col("doc_id") % 28 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val nearArrivals = hist.filter(col("doc_id") % 28 === 14)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("zq zq "), col("text")).as("text"))
    val batch = docs.filter(col("doc_id") % 4 === 3)
      .unionByName(exactArrivals).unionByName(nearArrivals)
    (hist, batch)
  }

  /** Per-arrival doc metadata fold: (doc_id, exact_of, na) — the
    * sha256 history lookup plus the arrival's own shingle count. Batch
    * and stream feed the SAME relation shape (the B133/B143 convention):
    * the history digest side is a static broadcast-able dimension, the
    * per-doc aggregate is the only state. */
  private[llm] def arrivalMeta(hist: DataFrame, batch: DataFrame): DataFrame =
    batch
      // the shingle count is computed per ROW (not via a join against
      // withShingleArr) because on the B146 stream path a batch←batch
      // self-join would be an unsupported stream-stream join; the
      // expression text itself is TextDedup's single shared spelling
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        when(size(col("w")) >= 3,
          size(expr(TextDedup.shingleArrExpr("w"))).cast("long")).as("na"))
      .join(hist.select(sha2(col("text"), 256).as("h"),
        col("doc_id").as("hid")), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(min(col("hid")).as("exact_of"), max(col("na")).as("na"))

  /** Arrival×history shingle-overlap fold: (da, db, common). */
  private[llm] def overlapPairs(hist: DataFrame, batch: DataFrame): DataFrame =
    TextDedup.shingles(batch)
      .select(col("doc_id").as("da"), col("shingle"))
      .join(TextDedup.shingles(hist)
        .select(col("doc_id").as("db"), col("shingle")), "shingle")
      .groupBy("da", "db").agg(count(lit(1)).as("common"))

  /** Presentation tail over the two folds — shared verbatim by the
    * batch entry (B142) and the streamed twin (B146). */
  private[llm] def classify(meta: DataFrame, pairs: DataFrame,
      hist: DataFrame): DataFrame = {
    val hCounts = TextDedup.withShingleArr(hist)
      .select(col("doc_id").as("db"), size(col("sh_arr")).cast("long").as("nb"))
    val w = Window.partitionBy(col("da"))
      .orderBy(col("jac_bp").desc, col("db"))
    val best = pairs
      .join(meta.select(col("doc_id").as("da"), col("na")), "da")
      .join(hCounts, "db")
      .withColumn("jac_bp",
        expr("CAST(common * 10000 div (na + nb - common) AS BIGINT)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("da").as("doc_id"), col("db").as("best_match"),
        col("jac_bp").as("best_jac_bp"))
    meta.select(col("doc_id"), col("exact_of"))
      .join(best, Seq("doc_id"), "left")
      .withColumn("status", expr(
        s"""CASE WHEN exact_of IS NOT NULL THEN 'exact'
           |     WHEN best_jac_bp >= $NearBp THEN 'near'
           |     ELSE 'new' END""".stripMargin))
      .orderBy("doc_id")
  }

  /** The classification report: one row per batch doc —
    * (doc_id, exact_of, best_match, best_jac_bp, status), doc_id order. */
  def dedupAgainstHistory(hist: DataFrame, batch: DataFrame): DataFrame =
    classify(arrivalMeta(hist, batch), overlapPairs(hist, batch), hist)

  /** Shared DuckDB oracle for B142 (batch) and B146 (streamed replay) —
    * the replay must be execution-mode-invisible, so one SQL string
    * gates both (the B92/B96 convention). */
  private def reportOracleSql: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents),
       |hist AS (SELECT doc_id, text FROM docs WHERE doc_id % 4 <> 3),
       |batch AS (
       |  SELECT doc_id, text FROM docs WHERE doc_id % 4 = 3
       |  UNION ALL
       |  SELECT doc_id + 2000000, text FROM hist WHERE doc_id % 28 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, 'zq zq ' || text FROM hist
       |  WHERE doc_id % 28 = 14),
       |ex AS (
       |  SELECT b.doc_id, min(h.doc_id) AS exact_of
       |  FROM batch b JOIN hist h ON sha256(b.text) = sha256(h.text)
       |  GROUP BY b.doc_id),
       |bsh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - 2),
       |    i -> string_split(text, ' ')[i] || ' ' ||
       |         string_split(text, ' ')[i+1] || ' ' ||
       |         string_split(text, ' ')[i+2]))) AS shingle
       |  FROM batch WHERE len(string_split(text, ' ')) >= 3),
       |hsh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - 2),
       |    i -> string_split(text, ' ')[i] || ' ' ||
       |         string_split(text, ' ')[i+1] || ' ' ||
       |         string_split(text, ' ')[i+2]))) AS shingle
       |  FROM hist WHERE len(string_split(text, ' ')) >= 3),
       |bcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS na
       |         FROM bsh GROUP BY doc_id),
       |hcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
       |         FROM hsh GROUP BY doc_id),
       |pairs AS (
       |  SELECT b.doc_id AS da, h.doc_id AS db,
       |         CAST(count(*) AS BIGINT) AS common
       |  FROM bsh b JOIN hsh h USING (shingle)
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT da, db,
       |         CAST(common * 10000 // (bcnt.na + hcnt.nb - common)
       |              AS BIGINT) AS jac_bp
       |  FROM pairs
       |  JOIN bcnt ON bcnt.doc_id = da
       |  JOIN hcnt ON hcnt.doc_id = db),
       |best AS (
       |  SELECT da AS doc_id, db AS best_match, jac_bp AS best_jac_bp
       |  FROM (SELECT da, db, jac_bp,
       |               row_number() OVER (PARTITION BY da
       |                                  ORDER BY jac_bp DESC, db) AS rn
       |        FROM jac) t
       |  WHERE rn = 1)
       |SELECT b.doc_id, ex.exact_of, best.best_match, best.best_jac_bp,
       |       CASE WHEN ex.exact_of IS NOT NULL THEN 'exact'
       |            WHEN best.best_jac_bp >= $NearBp THEN 'near'
       |            ELSE 'new' END AS status
       |FROM batch b
       |LEFT JOIN ex ON ex.doc_id = b.doc_id
       |LEFT JOIN best ON best.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  private val b142 = entry("b142_incremental_dedup", reportOracleSql) {
    (s, d) =>
      val (hist, batch) = splitWithArrivals(s, d)
      dedupAgainstHistory(hist, batch)
  }

  /** B146 — STREAMED INCREMENTAL DEDUP: B142's true production shape —
    * arrivals STREAM against static history. The batch of arrivals
    * replays in 6 doc_id-ordered chunks; each micro-batch runs two
    * stream-static folds against the broadcast-able history dimensions
    * (the sha256 digest lookup and the shingle posting join), each into
    * a complete-mode aggregate; the SHARED [[classify]] tail then ranks
    * best matches post-stream. Oracle is B142's SQL verbatim — the
    * dedup-on-ingest gate must classify exactly as the batch audit
    * would. Streaming state: one row per arrival doc (meta) plus one per
    * surviving (arrival, history) candidate pair — both bounded by the
    * arrival batch, not the corpus. */
  private val b146 = entry("b146_stream_incremental_dedup", reportOracleSql) {
    (s, d) =>
      import org.apache.spark.sql.types._
      val (hist, batch) = splitWithArrivals(s, d)
      val dir = WorkDirs("b146_chunks")
      graft.streaming.StreamingOps.writeChunksDf(batch, dir, n = 6,
        sortCols = Seq("doc_id"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val meta = graft.streaming.StreamingOps.runToMemory(
        arrivalMeta(hist,
          graft.streaming.StreamingOps.readStream(s, dir, schema)),
        "b146_meta", "complete")
      val pairs = graft.streaming.StreamingOps.runToMemory(
        overlapPairs(hist,
          graft.streaming.StreamingOps.readStream(s, dir, schema)),
        "b146_pairs", "complete")
      classify(meta, pairs, hist)
  }

  val entries: Seq[Entry] = Seq(b142, b146)
}
