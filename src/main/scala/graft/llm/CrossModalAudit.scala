package graft.llm

import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B303 — CROSS-MODAL PAIRING AUDIT (VERDICT r18 item 7: documents,
  * embeddings and media slots exist as separate surfaces; nothing
  * validated their ALIGNMENT — the pre-training join every multimodal
  * corpus runs before packing (text, image, embedding) tuples).
  *
  * The audited snapshot is deliberately corrupted (deterministic plants,
  * the b73 constraint-check class):
  *   - ghost MEDIA slots: every doc_id % 19 = 7 re-registers a slot at
  *     id + [[GhostOffset]] whose document does not exist;
  *   - dropped EMBEDDINGS: every vec_id % 17 = 2 is missing from the
  *     audited embedding set (a failed backfill shard);
  *   - ghost EMBEDDINGS: every vec_id % 23 = 3 also appears at
  *     id + [[GhostOffset]] (an orphaned re-embed);
  *   - metadata DRIFT: every doc_id % 13 = 5 media slot carries lang
  *     'xx' in its typed metadata while the document says otherwise.
  *
  * Five checks, fixed-height report (check_name, n_violations):
  *   1. `media_ghost_doc` — media slots referencing no document;
  *   2. `emb_ghost_orphan` — embeddings referencing no document;
  *   3. `media_missing_embedding` — real media slots INSIDE the declared
  *      embedding coverage (doc_id < |embeddings|; the fixture embeds a
  *      fixed 500-doc prefix at every SF) with no embedding row;
  *   4. `media_lang_drift` — media metadata lang ≠ document lang;
  *   5. `media_source_drift` — same for source (organically clean: a
  *      PASSING check is part of the report's value).
  *
  * Every check is an anti-join or mismatch-filter on an equi key followed
  * by a count — map-side partial aggregates, |violations| counted never
  * materialized, checks union into a 5-row report (the b73 scale
  * posture). At 100 TB each check is one key-shuffled join of narrow
  * id/metadata projections; payloads never move (the Multimodal rule).
  */
object CrossModalAudit {

  /** Ghost-id offset (plan-build-guarded, the b282/b284 ADVICE class). */
  val GhostOffset = 8000000L

  private val b303 = entry(
    "b303_crossmodal_audit",
    s"""WITH media AS (
       |  SELECT doc_id AS media_id, doc_id,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |              WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |              ELSE 'video/mp4' END AS kind,
       |         CASE WHEN doc_id % 13 = 5 THEN 'xx' ELSE lang END AS meta_lang,
       |         source AS meta_source
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $GhostOffset, doc_id + $GhostOffset, 'image/png',
       |         lang, source
       |  FROM documents WHERE doc_id % 19 = 7),
       |emb AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id % 17 <> 2
       |  UNION ALL
       |  SELECT vec_id + $GhostOffset FROM embeddings WHERE vec_id % 23 = 3),
       |ncov AS (SELECT count(*) AS n FROM embeddings)
       |SELECT * FROM (
       |  SELECT 'media_ghost_doc' AS check_name,
       |         CAST(count(*) AS BIGINT) AS n_violations
       |  FROM media m
       |  WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = m.doc_id)
       |  UNION ALL
       |  SELECT 'emb_ghost_orphan', CAST(count(*) AS BIGINT)
       |  FROM emb e
       |  WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
       |  UNION ALL
       |  SELECT 'media_missing_embedding', CAST(count(*) AS BIGINT)
       |  FROM media m JOIN documents d ON d.doc_id = m.doc_id, ncov
       |  WHERE m.doc_id < ncov.n
       |    AND NOT EXISTS (SELECT 1 FROM emb e WHERE e.vec_id = m.doc_id)
       |  UNION ALL
       |  SELECT 'media_lang_drift', CAST(count(*) AS BIGINT)
       |  FROM media m JOIN documents d ON d.doc_id = m.doc_id
       |  WHERE m.meta_lang <> d.lang
       |  UNION ALL
       |  SELECT 'media_source_drift', CAST(count(*) AS BIGINT)
       |  FROM media m JOIN documents d ON d.doc_id = m.doc_id
       |  WHERE m.meta_source <> d.source)
       |ORDER BY check_name""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
    requireIdsBelow(docs, "doc_id", GhostOffset, "b303")
    val media = docs.select(
        col("doc_id").as("media_id"), col("doc_id"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("kind"),
        when(col("doc_id") % 13 === 5, lit("xx")).otherwise(col("lang"))
          .as("meta_lang"),
        col("source").as("meta_source"))
      .unionByName(docs.filter(col("doc_id") % 19 === 7)
        .select((col("doc_id") + GhostOffset).as("media_id"),
          (col("doc_id") + GhostOffset).as("doc_id"),
          lit("image/png").as("kind"), col("lang").as("meta_lang"),
          col("source").as("meta_source")))
    val embAll = Tables.embeddings(s, d).select(col("vec_id"))
    val emb = embAll.filter(col("vec_id") % 17 =!= 2)
      .unionByName(embAll.filter(col("vec_id") % 23 === 3)
        .select((col("vec_id") + GhostOffset).as("vec_id")))
    // coverage bound: the audited embedding set covers a declared doc-id
    // prefix; one O(1) broadcast scalar (the b109 rule)
    val nCov = embAll.agg(count(lit(1)).as("ncov"))
    def check(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    val docIds = docs.select("doc_id")
    val ghostMedia = check("media_ghost_doc",
      media.join(docIds, Seq("doc_id"), "left_anti"))
    val ghostEmb = check("emb_ghost_orphan",
      emb.join(docIds, col("vec_id") === docIds("doc_id"), "left_anti"))
    val missingEmb = check("media_missing_embedding",
      media.join(docIds, Seq("doc_id"))
        .crossJoin(broadcast(nCov)).filter(col("doc_id") < col("ncov"))
        .join(emb, col("doc_id") === emb("vec_id"), "left_anti"))
    val langDrift = check("media_lang_drift",
      media.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .filter(col("meta_lang") =!= col("lang")))
    val srcDrift = check("media_source_drift",
      media.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .filter(col("meta_source") =!= col("source")))
    ghostMedia.unionByName(ghostEmb).unionByName(missingEmb)
      .unionByName(langDrift).unionByName(srcDrift)
      .orderBy("check_name")
  }

  val entries: Seq[Entry] = Seq(b303)
}
