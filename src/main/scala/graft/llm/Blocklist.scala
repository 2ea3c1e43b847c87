package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** B182 — DICTIONARY BLOCKLIST FILTER (the C4 "bad words" pass, Raffel
  * et al. JMLR'20 §2.2 / the LDNOOBW list every web pipeline ships): drop
  * or flag documents by a term DICTIONARY with severity tiers — any
  * SEVERE term drops the document outright; MILD terms drop it only when
  * their density crosses [[ThrBp]] basis points of the token count;
  * everything else keeps with audit counts (the audit table is what a
  * governance review reads — silently vanished documents are how
  * filtering bugs ship).
  *
  * This is deliberately NOT b64's regex shape: a production blocklist is
  * thousands of terms, and N regex passes over 100 TB is the wrong plan —
  * the dictionary pass tokenizes once and hash-joins tokens against the
  * BROADCAST blocklist (word-boundary match for free), so cost is one
  * map-side explode + a doc-keyed rollup regardless of dictionary size.
  * The blocklist here reuses corpus vocabulary (the synthetic corpus
  * carries nothing genuinely blockable — the b64 make-it-bite pattern,
  * inverted: block ordinary words so every tier is exercised).
  *
  * Integer-exact: occurrence counts, density in bp by BIGINT floor
  * division, the drop rule as pure boolean algebra over counts; the
  * severity join is engine-shared VALUES.
  *
  * Scale posture: explode → broadcast hash join (the dictionary never
  * shuffles the corpus) → map-combinable per-doc rollup → one left join
  * back to the doc base. No windows, no driver traffic. */
object Blocklist {

  /** (term, severity): 2 = severe (zero tolerance), 1 = mild (density). */
  val Terms: Seq[(String, Int)] =
    Seq(("scan", 2), ("agg", 1), ("stream", 1))

  /** Mild-density drop threshold, basis points of n_tok. */
  val ThrBp = 800L

  private def valuesSql = Terms
    .map { case (t, s) => s"('$t', ${s}::BIGINT)" }.mkString(", ")

  /** The B182 CTE chain WITHOUT the leading WITH, `bl_`-prefixed so the
    * B256/B257 quality-ensemble oracle can chain it VERBATIM next to the
    * other stages' CTEs (the b94 composition convention); ends in
    * `bl_audit` — the full audit relation the final SELECT (and the
    * ensemble) read. */
  private[graft] val blockCtesDuck: String =
    s"""bl_dict(term, sev) AS (VALUES $valuesSql),
       |bl_toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |bl_base AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |bl_hits AS (
       |  SELECT t.doc_id,
       |         CAST(sum(CASE WHEN b.sev = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_mild,
       |         CAST(sum(CASE WHEN b.sev = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_severe
       |  FROM bl_toks t JOIN bl_dict b ON b.term = t.term
       |  GROUP BY t.doc_id),
       |bl_audit AS (
       |  SELECT b.doc_id, b.n_tok,
       |         coalesce(h.n_mild, 0) AS n_mild,
       |         coalesce(h.n_severe, 0) AS n_severe,
       |         coalesce(h.n_mild, 0) * 10000 // b.n_tok AS mild_bp,
       |         CASE WHEN coalesce(h.n_severe, 0) > 0
       |                OR coalesce(h.n_mild, 0) * 10000 // b.n_tok >= $ThrBp
       |              THEN 'drop' ELSE 'keep' END AS action
       |  FROM bl_base b LEFT JOIN bl_hits h ON h.doc_id = b.doc_id)""".stripMargin

  /** Shared by b182 (batch) and b183 (streamed admission twin). */
  private val blocklistOracleSql =
    s"""WITH $blockCtesDuck
       |SELECT doc_id, n_tok, n_mild, n_severe, mild_bp, action
       |FROM bl_audit ORDER BY doc_id""".stripMargin

  /** The audit chain over ANY (doc_id, text) relation — runs unchanged
    * as a batch pass (b182) or on an ingest stream (b183): per-token
    * classification is STATELESS (the blocklist broadcasts; no per-doc
    * state is consulted), so the per-doc verdict needs only the doc's
    * own tokens. */
  private[graft] def auditReport(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val bl = Terms.toDF("term", "sev")
    // token-level LEFT join (unblocked tokens keep sev null), then ONE
    // doc-keyed aggregate carrying all three counts — no post-aggregate
    // join, which is what lets the same plan run in complete mode on a
    // stream (a join above a streaming aggregate is unsupported). Every
    // corpus doc has >= 1 token (TablesSpec), so no doc vanishes in the
    // explode.
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(bl), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("sev") === 1, 1L).otherwise(0L)).as("n_mild"),
        sum(when(col("sev") === 2, 1L).otherwise(0L)).as("n_severe"))
      .withColumn("mild_bp", expr("n_mild * 10000 div n_tok"))
      .withColumn("action",
        when(col("n_severe") > 0 || col("mild_bp") >= ThrBp, "drop")
          .otherwise("keep"))
  }

  private val b182 = entry("b182_blocklist_filter", blocklistOracleSql,
      bench = true) { (s, d) =>
    auditReport(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .orderBy("doc_id")
  }

  /** B183 — BLOCKLIST ADMISSION ON INGEST: the b182 chain run where
    * production actually runs it — at the door, on the arriving stream,
    * before anything lands in the lake (the b96/b176 one-implementation-
    * two-modes pattern). The corpus replays in 6 doc_id-ordered chunks;
    * the blocklist is the broadcast static side; per-token
    * classification is stateless, and the per-doc rollup runs in
    * complete mode — the final admission log IS the batch audit table,
    * hash-matched against b182's oracle. Docs never split across chunks,
    * so a chunk boundary can't split a doc's token counts.
    *
    * State note: the per-doc aggregate is keyed state ∝ docs seen — a
    * production admission gate emits each doc's verdict on arrival
    * (docs are atomic per micro-batch, the b88 close-on-complete
    * convention); the replay is finite by construction. */
  private val b183 = entry("b183_stream_blocklist_admission",
      blocklistOracleSql) { (s, d) =>
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = WorkDirs("b183_admission")
    graft.streaming.StreamingOps.writeChunksDf(docs, dir, n = 6,
      sortCols = Seq("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = graft.streaming.StreamingOps.readStream(s, dir, schema)
    graft.streaming.StreamingOps
      .runToMemory(auditReport(stream), "b183_replay", "complete")
      .orderBy("doc_id")
  }

  val entries: Seq[Entry] = Seq(b182, b183)
}
