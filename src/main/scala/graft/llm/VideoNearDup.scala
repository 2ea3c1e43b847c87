package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B293 — VIDEO NEAR-DUP via frame-fingerprint set containment: the
  * temporal member of the perceptual-dedup family. A re-published CLIP
  * (the same video minus its intro, the classic re-upload) shares no
  * byte hash and no single whole-file fingerprint with its source — but
  * its SAMPLED-FRAME fingerprint set is a SUBSET of the source's, which
  * is exactly the asymmetric containment relation b282 joins on (tiny
  * Jaccard for a short clip of a long video; containment 10⁴).
  *
  * Composition — three proven pieces, no new machinery:
  *   - frames: b79's decode → frame-sample model (videos = the
  *     doc_id % 3 = 2 media slots; frame count (h % 300) + 1 from the
  *     payload fold h, stride-30 sampling);
  *   - per-frame fingerprint: content-derived (the b290 rule —
  *     fingerprints must survive re-publication, so they key on the
  *     SOURCE CONTENT fold h and the ABSOLUTE frame index, never on the
  *     media id): fp = poly_fold('vf:' ‖ h ‖ ':' ‖ frame);
  *   - the join: [[SetSimJoin.containmentJoinArr]] — b282's one-sided
  *     prefix filter, element-type-agnostic (BIGINT fps here, string
  *     shingles there), pinned lossless by SetSimJoinSpec's randomized
  *     brute-force equivalence.
  *
  * Planted clips: every [[VClipMod]]-th video with ≥ [[MinClipFrames]]
  * frames re-publishes at id + [[VClipIdOffset]] (plan-build-guarded)
  * cut at frame [[ClipCutFrames]] — a STRIDE MULTIPLE, so the clip's own
  * stride-30 samples land exactly on source sample positions and the
  * clip's fp set is a subset of the source's BY CONSTRUCTION:
  * containment 10⁴ at every SF. (A non-multiple cut models a re-encode
  * with shifted keyframes — that needs per-frame NEAR-matching, i.e.
  * b290's banded Hamming per frame, composed the same way; this entry
  * pins the aligned-clip channel.)
  *
  * The oracle is the UNBLOCKED posting-join spelling (the b282/b15b
  * pattern), so the t2 hash additionally proves the prefix filter
  * lossless on this corpus.
  *
  * Scale posture: fingerprint arrays are one map-side projection per
  * video (sequence + transform — ≤ 10 sampled frames per video, no
  * explode before the join); the containment join is b282's (df-ordered
  * prefix keys probe short posting lists, length filter, verify from
  * arrays). Never |V|². */
object VideoNearDup {

  /** Every VClipMod-th eligible video gets a planted clip. */
  val VClipMod = 5L

  /** Clip id offset (plan-build-guarded, the b282/b284 ADVICE class). */
  val VClipIdOffset = 8000000L

  /** Clip cut point — MUST stay a multiple of the b79 stride (30) for
    * the subset-by-construction property (see scaladoc). */
  val ClipCutFrames = 60L

  /** Minimum source frames for a plantable clip (≥ 2 sampled frames
    * survive the cut). */
  val MinClipFrames = 91L

  /** Sampled-frame fingerprint array for (h, cut): fp of every stride-30
    * frame index ≥ cut, shifted to ABSOLUTE source positions. */
  // greatest(stop, 0): the eligibility filter and the inferred
  // size(sh_arr) > 0 predicate can be COLLAPSED into one conjunction by
  // Catalyst, whose conjunct order may evaluate the sequence on a row the
  // eligibility conjunct would reject — Spark's sequence THROWS on
  // start > stop with a positive step (DuckDB's generate_series returns
  // empty), so the expression must be total; clamped rows are filtered
  // out and their one bogus element is never read
  private def arrSpark =
    "transform(sequence(CAST(0 AS BIGINT)," +
      " greatest((h % 300) + 1 - cut - 1, CAST(0 AS BIGINT))," +
      " CAST(30 AS BIGINT))," +
      " g -> poly_fold(concat('vf:', CAST(h AS STRING), ':'," +
      " CAST(g + cut AS STRING))))"

  private def fpDuck(gExpr: String) = Winnowing.polyFoldDuck(
    s"('vf:' || CAST(h AS VARCHAR) || ':' || CAST($gExpr AS VARCHAR))")

  private val b293 = entry(
    "b293_video_neardup", {
      s"""WITH vids AS (
         |  SELECT doc_id AS vid, ${Winnowing.polyFoldDuck("text")} AS h
         |  FROM documents WHERE doc_id % 3 = 2),
         |legs AS (
         |  SELECT vid, h, CAST(0 AS BIGINT) AS cut FROM vids
         |  UNION ALL
         |  SELECT vid + $VClipIdOffset, h, $ClipCutFrames FROM vids
         |  WHERE vid % $VClipMod = 0 AND (h % 300) + 1 >= $MinClipFrames),
         |fps AS (
         |  SELECT vid,
         |         unnest(list_transform(
         |           generate_series(CAST(0 AS BIGINT),
         |                           greatest((h % 300) + 1 - cut - 1,
         |                                    CAST(0 AS BIGINT)),
         |                           CAST(30 AS BIGINT)),
         |           g -> ${fpDuck("g + cut")})) AS fp
         |  FROM legs),
         |cnt AS (SELECT vid, CAST(count(*) AS BIGINT) AS n
         |        FROM fps GROUP BY vid),
         |pairs AS (
         |  SELECT a.vid AS va, b.vid AS vb,
         |         CAST(count(*) AS BIGINT) AS common
         |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.vid <> b.vid
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT va, vb, common, ca.n AS na, cb.n AS nb,
         |         CAST(common * 10000 // ca.n AS BIGINT) AS containment_bp
         |  FROM pairs
         |  JOIN cnt ca ON ca.vid = va
         |  JOIN cnt cb ON cb.vid = vb)
         |SELECT va AS contained_vid, vb AS container_vid, containment_bp,
         |       na AS n_contained, nb AS n_container,
         |       CAST(CASE WHEN va - vb = $VClipIdOffset THEN 1 ELSE 0 END
         |            AS BIGINT) AS is_planted
         |FROM m WHERE containment_bp >= ${SetSimJoin.ContainTauBp}
         |ORDER BY contained_vid, container_vid""".stripMargin
    }) { (s, d) =>
    val vids = Tables.documents(s, d).filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("vid"),
        expr(Winnowing.polyFoldSpark("text")).as("h"))
    requireIdsBelow(vids, "vid", VClipIdOffset, "b293")
    val legs = vids.select(col("vid"), col("h"), lit(0L).as("cut"))
      .unionByName(vids
        .filter(col("vid") % VClipMod === 0
          && expr(s"(h % 300) + 1 >= $MinClipFrames"))
        .select((col("vid") + VClipIdOffset).as("vid"), col("h"),
          lit(ClipCutFrames).as("cut")))
    val arrs = legs.select(col("vid").as("doc_id"), expr(arrSpark).as("sh_arr"))
    SetSimJoin.containmentJoinArr(arrs)
      .select(col("contained_doc").as("contained_vid"),
        col("container_doc").as("container_vid"),
        col("containment_bp"),
        col("n_contained"), col("n_container"),
        when(col("contained_doc") - col("container_doc") === VClipIdOffset,
          1L).otherwise(0L).as("is_planted"))
      .orderBy("contained_vid", "container_vid")
  }

  val entries: Seq[Entry] = Seq(b293)
}
