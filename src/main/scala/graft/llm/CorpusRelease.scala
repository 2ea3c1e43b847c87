package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B270 — THE CORPUS-RELEASE CAPSTONE: the one composition that takes the
  * raw documents table to a gated, carded, versioned release — the job a
  * data-release team actually ships, assembled from the engine's proven
  * stages (the r16 verdict's "what's missing #1"):
  *
  *   1. hygiene ([[CleanPipeline.hygieneRelease]], B94's chain verbatim:
  *      span removal → benchmark decontamination → exact dedup) → the
  *      RELEASED corpus (doc_id, text);
  *   2. training prep ([[ModelReady.modelReadyManifest]], B131's chain
  *      verbatim: budget cap → BPE → packing) over the release — the
  *      loader manifest, summarized on the report (sequences, slices,
  *      tokens);
  *   3. dataset card ([[CorpusAnalytics.datasetCard]], B190's chain
  *      verbatim) over the release — every card metric an info row;
  *   4. a B258-style publish gate over the release artifact, run TWICE
  *      (clean candidate and a planted-corruption candidate): four legs —
  *      `row_count:growth_band` (candidate/previous in bp; previous is
  *      the release's already-published ingest partitions, the b258
  *      restriction convention), `fingerprint:immutable_segments` (b77's
  *      per-segment XOR, LEFT-join direction so deleted history counts —
  *      the r16 advice rule), `leakage:train_heldout` (B140's split-
  *      leakage audit pointed at the release's own train/held-out split),
  *      and `dedup:no_surplus` (the release must stay exact-dup-free —
  *      hygiene's own invariant re-checked at the door).
  *
  * Versioning: the release identity is the order-independent XOR of the
  * canonical `rel:doc_id|text` fold over the whole artifact plus its row
  * count — the `version:*` info rows a registry would key this release by.
  *
  * The planted corruption is a SPLIT LEAK: held-out released docs from a
  * NEW ingest partition re-enter the train side as near-copies (one
  * appended token, so `dedup` stays quiet; ids shifted by [[PlantBase]]
  * into the same new partition, so `fingerprint` stays quiet; a few rows,
  * so `growth` stays inside its band; the copies land train-side BY
  * CONSTRUCTION — their shifted ids' split hash is part of the plant
  * predicate, spelled identically in both engines). Exactly the leakage
  * leg fires; CorpusReleaseSpec plants the other three corruption classes
  * and proves each trips exactly its own leg, plus that STAGE ORDER
  * BITES (decontaminating before span-removal changes the release).
  *
  * Fixture facts the gate is sized against (measured r17, all three SFs):
  * the clean release's organic split leakage is ZERO (hygiene's span
  * removal deletes every cross-doc repeated 5-gram span, so no 8-gram
  * survives in two docs); growth lands at 12527/12677/12572 bp →
  * band [[GrowthLoBp]]..[[GrowthHiBp]]; ≥ 3 plantable leak docs per SF.
  *
  * Scale posture: the stages' own (hygiene's gram-keyed shuffles, the
  * budget/pack two-phase scans, the card's bounded rollups); the gate
  * legs are the sanctioned scalar-aggregate class — one pass per audited
  * property, one-row broadcasts, the fingerprint catalog-sized. The
  * release relation is localCheckpointed ONCE and fans out to card,
  * manifest, version and all gate legs — the composition adds no new
  * corpus-scale shuffle beyond its stages. */
object CorpusRelease {

  /** Published ingest partitions: doc_id % 10 < 8 is the already-released
    * snapshot; partitions 8-9 are the new ingest under review. */
  val PublishedParts = 8L

  /** Accepted growth band for candidate/previous in bp (see fixture
    * facts above; an empty ingest (10000) and a doubled one both trip). */
  val GrowthLoBp = 11800L
  val GrowthHiBp = 13400L

  /** Planted-leak id shift (b140's convention) — ≡ 0 mod 10, so a plant
    * from partition 9 stays in partition 9 (fingerprint-quiet). */
  val PlantBase = 5000000L

  /** Minimum words for a plantable doc: an appended-token near-copy must
    * still share ≥ MinOverlap distinct 8-grams with its original. */
  val PlantMinWords: Long = Decontaminate.GramWords + Decontaminate.MinOverlap - 1L

  private val TrainBp = TrainLoad.TrainBp

  // ---- shared cross-engine expression texts -------------------------

  private[graft] def hSpark(idExpr: String) =
    s"poly_fold(concat('split:', CAST($idExpr AS STRING), ':v1')) % 10000"
  private[graft] def hDuck(idExpr: String) =
    s"${Winnowing.polyFoldDuck(s"('split:' || CAST($idExpr AS VARCHAR) || ':v1')")} % 10000"

  private[graft] val rowFoldSpark =
    Winnowing.polyFoldSpark("concat('rel:', CAST(doc_id AS STRING), '|', text)")
  private[graft] val rowFoldDuck =
    Winnowing.polyFoldDuck("('rel:' || CAST(doc_id AS VARCHAR) || '|' || text)")

  // ---- oracle --------------------------------------------------------

  private[graft] def gramsDuck(rel: String, withDoc: Boolean,
      extraKeys: String = ""): String = {
    val sel = if (withDoc) s"${extraKeys}doc_id, " else s"DISTINCT $extraKeys"
    s"""SELECT ${sel}unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${Decontaminate.GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${Decontaminate.GramWords - 1}], ' ')))) AS gram
       |  FROM $rel
       |  WHERE len(string_split(text, ' ')) >= ${Decontaminate.GramWords}""".stripMargin
  }

  private def legsDuck(cand: String, fp: String, tr: String, tg: String): String =
    s"""  SELECT 'dedup:no_surplus' AS check_id,
       |         (SELECT count(*) FROM $cand) AS n_checked,
       |         (SELECT count(*) - count(DISTINCT text) FROM $cand) AS n_failures
       |  UNION ALL
       |  SELECT 'fingerprint:immutable_segments',
       |         (SELECT count(*) FROM g_fp_prev),
       |         (SELECT count(*) FROM g_fp_prev p LEFT JOIN $fp c USING (seg)
       |          WHERE c.fp IS NULL OR p.fp IS DISTINCT FROM c.fp
       |             OR p.n IS DISTINCT FROM c.n)
       |  UNION ALL
       |  SELECT 'leakage:train_heldout',
       |         (SELECT count(*) FROM $tr),
       |         (SELECT count(*) FROM (
       |            SELECT t.doc_id FROM $tg t JOIN g_egrams e USING (gram)
       |            GROUP BY t.doc_id
       |            HAVING count(*) >= ${Decontaminate.MinOverlap}) q)
       |  UNION ALL
       |  SELECT 'row_count:growth_band',
       |         1,
       |         CASE WHEN (SELECT count(*) FROM g_prev) = 0 THEN 1
       |              WHEN (SELECT count(*) FROM $cand) * 10000
       |                   // (SELECT count(*) FROM g_prev)
       |                   BETWEEN $GrowthLoBp AND $GrowthHiBp
       |              THEN 0 ELSE 1 END""".stripMargin

  private def fpDuck(rel: String): String =
    s"""  SELECT doc_id % 10 AS seg, count(*) AS n, bit_xor($rowFoldDuck) AS fp
       |  FROM $rel WHERE doc_id % 10 < $PublishedParts GROUP BY 1""".stripMargin

  private val b270 = entry(
    "b270_corpus_release",
    s"""WITH ${CleanPipeline.hygieneCtesDuck()},
       |rel AS MATERIALIZED (SELECT doc_id, text FROM deduped),
       |relsrc AS MATERIALIZED (
       |  SELECT r.doc_id, r.text, d.source
       |  FROM rel r JOIN documents d USING (doc_id)),
       |${CorpusAnalytics.cardCtesDuck("relsrc")},
       |${ModelReady.modelReadyCtesDuck("relsrc")},
       |g_prev AS MATERIALIZED (SELECT doc_id, text FROM rel
       |           WHERE doc_id % 10 < $PublishedParts),
       |g_fp_prev AS (
       |${fpDuck("g_prev")}),
       |g_fp_clean AS (
       |${fpDuck("rel")}),
       |g_plant AS (
       |  SELECT doc_id + $PlantBase AS doc_id, text || ' zzleak' AS text
       |  FROM rel
       |  WHERE ${hDuck("doc_id")} >= $TrainBp
       |    AND doc_id % 10 = 9
       |    AND len(string_split(text, ' ')) >= $PlantMinWords
       |    AND ${hDuck(s"doc_id + $PlantBase")} < $TrainBp),
       |g_corr AS MATERIALIZED (
       |  SELECT doc_id, text FROM rel
       |  UNION ALL
       |  SELECT doc_id, text FROM g_plant),
       |g_fp_corr AS (
       |${fpDuck("g_corr")}),
       |g_tr_clean AS MATERIALIZED (SELECT doc_id, text FROM rel
       |               WHERE ${hDuck("doc_id")} < $TrainBp),
       |g_ev AS MATERIALIZED (SELECT doc_id, text FROM rel
       |         WHERE ${hDuck("doc_id")} >= $TrainBp),
       |g_tr_corr AS MATERIALIZED (SELECT doc_id, text FROM g_corr
       |              WHERE ${hDuck("doc_id")} < $TrainBp),
       |g_egrams AS MATERIALIZED (
       |  ${gramsDuck("g_ev", withDoc = false)}),
       |g_tg_clean AS (
       |  ${gramsDuck("g_tr_clean", withDoc = true)}),
       |g_tg_corr AS (
       |  ${gramsDuck("g_tr_corr", withDoc = true)}),
       |g_legs_clean AS MATERIALIZED (
       |${legsDuck("rel", "g_fp_clean", "g_tr_clean", "g_tg_clean")}),
       |g_legs_corr AS MATERIALIZED (
       |${legsDuck("g_corr", "g_fp_corr", "g_tr_corr", "g_tg_corr")}),
       |g_info AS (
       |  SELECT 'card:' || section || ':' || metric AS check_id,
       |         CAST(value AS BIGINT) AS n_checked
       |  FROM card_card
       |  UNION ALL
       |  SELECT 'manifest:n_sequences', (SELECT count(DISTINCT seq_id) FROM mr_slices)
       |  UNION ALL
       |  SELECT 'manifest:n_slices', (SELECT count(*) FROM mr_slices)
       |  UNION ALL
       |  SELECT 'manifest:n_tokens', (SELECT sum(n_toks) FROM mr_slices)
       |  UNION ALL
       |  SELECT 'version:fingerprint', (SELECT bit_xor($rowFoldDuck) FROM rel)
       |  UNION ALL
       |  SELECT 'version:n_docs', (SELECT count(*) FROM rel)),
       |rep AS (
       |  SELECT 'clean' AS candidate, check_id, n_checked, n_failures
       |  FROM g_legs_clean
       |  UNION ALL
       |  SELECT 'corrupted', check_id, n_checked, n_failures FROM g_legs_corr
       |  UNION ALL
       |  SELECT 'clean', 'zz_publish_verdict', 4,
       |         (SELECT sum(n_failures) FROM g_legs_clean)
       |  UNION ALL
       |  SELECT 'corrupted', 'zz_publish_verdict', 4,
       |         (SELECT sum(n_failures) FROM g_legs_corr)
       |  UNION ALL
       |  SELECT 'release', check_id, n_checked, 0 FROM g_info)
       |SELECT candidate, check_id, CAST(n_checked AS BIGINT) AS n_checked,
       |       CAST(n_failures AS BIGINT) AS n_failures,
       |       CASE WHEN candidate = 'release' THEN 'info'
       |            WHEN check_id = 'zz_publish_verdict'
       |            THEN CASE WHEN n_failures = 0 THEN 'go' ELSE 'no-go' END
       |            ELSE CASE WHEN n_failures = 0 THEN 'pass' ELSE 'fail' END
       |       END AS status
       |FROM rep ORDER BY candidate, check_id""".stripMargin,
    bench = true) { (s, d) =>
    releaseReport(s, Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source")))
  }

  // ---- engine side ---------------------------------------------------

  /** Per-segment (n, XOR) of a candidate's published partitions.
    * `folded = true` reuses the candidate's `fp` column as its row fold
    * (r21: the release fold is evaluated ONCE into the rel checkpoint and
    * reused by fpPrev/fpClean/fpCorr/version — the r20 shape re-folded
    * the full corpus text in each of those four legs, ~2 executor-CPU s
    * per fold at sf0.1). Only [[releaseReport]]'s relF legs pass it; any
    * other candidate is folded from its text, whatever columns it
    * carries, so a stale `fp` cannot hide a mutated row. */
  private[graft] def fpOf(cand: DataFrame, folded: Boolean = false): DataFrame = {
    val withFp =
      if (folded) cand
      else cand.withColumn("fp", expr(rowFoldSpark))
    withFp.filter(col("doc_id") % 10 < PublishedParts)
      .select((col("doc_id") % 10).as("seg"), col("fp"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").cast("long").as("fp"))
  }

  /** The four gate legs over one release candidate (doc_id, text).
    * `fpPrev`/`prevCount` come from the CLEAN release's published
    * partitions (the b258 previous-snapshot convention). Reusable with
    * ANY candidate — CorpusReleaseSpec plants its own corruptions
    * through it. */
  private[graft] def gateLegs(cand: DataFrame, fpPrev: DataFrame,
      prevCount: DataFrame, leakOverride: Option[DataFrame] = None,
      folded: Boolean = false): DataFrame = {
    val dedup = cand
      .agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_failures"))
      .select(lit("dedup:no_surplus").as("check_id"),
        col("n_checked"), col("n_failures"))
    val fingerprint = fpPrev
      .select(col("seg"), col("n").as("p_n"), col("fp").as("p_fp"))
      .join(broadcast(fpOf(cand, folded).select(col("seg"), col("n").as("c_n"),
        col("fp").as("c_fp"))), Seq("seg"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_fp").isNull || !(col("p_fp") <=> col("c_fp"))
          || !(col("p_n") <=> col("c_n")), 1L).otherwise(0L))
          .as("n_failures"))
      .select(lit("fingerprint:immutable_segments").as("check_id"),
        col("n_checked"), col("n_failures"))
    val leakage = leakOverride.getOrElse {
      val withH = cand.withColumn("h", expr(hSpark("doc_id")))
      val tr = withH.filter(col("h") < TrainBp).select("doc_id", "text")
      val ev = withH.filter(col("h") >= TrainBp).select("doc_id", "text")
      tr.agg(count(lit(1)).as("n_checked"))
        .crossJoin(broadcast(Decontaminate.overlapReport(tr, ev)
          .filter(col("contaminated"))
          .agg(count(lit(1)).as("n_failures"))))
        .select(lit("leakage:train_heldout").as("check_id"),
          col("n_checked"), col("n_failures"))
    }
    val growth = cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(prevCount))
      .select(lit("row_count:growth_band").as("check_id"),
        lit(1L).as("n_checked"),
        expr(s"CAST(CASE WHEN n_prev = 0 THEN 1" +
          s" WHEN n_cand * 10000 div n_prev" +
          s" BETWEEN $GrowthLoBp AND $GrowthHiBp" +
          " THEN 0 ELSE 1 END AS BIGINT)").as("n_failures"))
    dedup.unionByName(fingerprint).unionByName(leakage).unionByName(growth)
  }

  /** Legs + verdict, labeled — the b258 report shape. */
  private[graft] def gateReport(cand: DataFrame, fpPrev: DataFrame,
      prevCount: DataFrame, label: String,
      leakOverride: Option[DataFrame] = None,
      folded: Boolean = false): DataFrame = {
    val legs = gateLegs(cand, fpPrev, prevCount, leakOverride, folded)
    val verdict = legs.agg(sum("n_failures").as("n_failures"))
      .select(lit("zz_publish_verdict").as("check_id"),
        lit(4L).as("n_checked"), col("n_failures"))
    legs.unionByName(verdict)
      .select(lit(label).as("candidate"), col("check_id"),
        col("n_checked").cast("long").as("n_checked"),
        col("n_failures").cast("long").as("n_failures"),
        expr("CASE WHEN check_id = 'zz_publish_verdict'" +
          " THEN CASE WHEN n_failures = 0 THEN 'go' ELSE 'no-go' END" +
          " ELSE CASE WHEN n_failures = 0 THEN 'pass' ELSE 'fail' END END")
          .as("status"))
  }

  /** The planted split-leak docs for a release (see the object scaladoc's
    * corruption paragraph) — held-out docs re-entering train-side as
    * near-copies. Shared by b270 and the streamed gate's plant chunk
    * (b291). */
  private[graft] def plantOf(rel: DataFrame): DataFrame = rel
    .filter(expr(hSpark("doc_id")) >= TrainBp
      && col("doc_id") % 10 === 9
      && size(split(col("text"), " ")) >= PlantMinWords
      && expr(hSpark(s"doc_id + $PlantBase")) < TrainBp)
    .select((col("doc_id") + PlantBase).as("doc_id"),
      concat(col("text"), lit(" zzleak")).as("text"))

  /** The full release report over a raw (doc_id, text, source) corpus:
    * hygiene → release; card + manifest + version info rows; the gate
    * run on the clean and the leak-planted candidates. */
  private[graft] def releaseReport(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    // the release fans out to card, manifest, version, and every gate
    // leg of both candidates — materialize the hygiene chain ONCE
    // (hygieneRelease checkpoints internally since r21)
    val rel = CleanPipeline.hygieneRelease(docs.select(col("doc_id"),
      col("text")))
    val relsrc = rel.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("text"), col("source"))
    val withH = rel.withColumn("h", expr(hSpark("doc_id")))
    val trClean = withH.filter(col("h") < TrainBp).select("doc_id", "text")
    val ev = withH.filter(col("h") >= TrainBp).select("doc_id", "text")
    val plants = plantOf(rel)
    // The post-rel materializations are mutually independent one-row /
    // catalog-sized checkpoints; build them CONCURRENTLY (guide §2.6 —
    // overlap independent jobs) so their walls overlap instead of
    // serializing at DataFrame-construction time. Contents are
    // deterministic; only job submission order changes. r21 widened the
    // concurrent set to everything the final report consumes — the
    // row-fold relation, the dataset card, the manifest rollup, the
    // leakage legs — so the report action itself is a union of small
    // checkpointed legs (the r20 shape left the card, the version fold
    // and both candidates' fpOf folds in the final action: ~7
    // executor-CPU s of re-folded corpus text and a serial stage chain).
    // Each leg is a lazy val that QueryScope.parallel forces on its own
    // thread; fpPrev forces relF on the same thread.
    //
    // ADVICE r20: the corrLeak decomposition below counts clean-train
    // and plants-only failures separately, which equals one overlap
    // pass over their union ONLY if plant ids (doc_id + PlantBase)
    // never collide with clean ids — a collision would merge two docs'
    // grams in the union counting but count two docs here. Check the
    // headroom (the b244/b282 guard class); rel is checkpointed, so
    // this is one cheap concurrent scan, off the serial path.
    lazy val relMaxId = Option(rel.agg(max(col("doc_id"))).head()
      .getAs[java.lang.Long](0)).map(_.longValue).getOrElse(-1L)
    lazy val prevCount = QueryScope.materialize("prevCount")(
      rel.filter(col("doc_id") % 10 < PublishedParts)
        .agg(count(lit(1)).as("n_prev")))
    // the release row fold, evaluated ONCE (r21): fpPrev, fpClean,
    // fpCorr and version:fingerprint all read the checkpointed fp
    // column — the r20 shape re-folded the full corpus text in each of
    // those four legs (~2 executor-CPU s per fold at sf0.1)
    lazy val relF = QueryScope.materialize("relF")(rel.withColumn("fp", expr(rowFoldSpark)))
    lazy val fpPrev = QueryScope.materialize("fpPrev")(
      fpOf(relF.filter(col("doc_id") % 10 < PublishedParts), folded = true))
    // leakage machinery shared by BOTH candidates: the corrupted train
    // side is tr_clean ⊎ plants (disjoint ids; every plant hashes
    // train-side by construction) and its eval side is EXACTLY the
    // clean ev (no plant hashes held-out), and the per-doc overlap
    // count is independent across docs — so corrupted failures =
    // clean failures + plants-only failures, and the full clean-side
    // overlap pass runs ONCE instead of twice (the plants-only pass
    // touches ~1% of the docs). Eval grams are built once for both.
    lazy val evGrams = QueryScope.materialize("evGrams")(Decontaminate.benchGramSet(ev))
    lazy val cleanLeakFail = QueryScope.materialize("cleanLeakFail")(
      Decontaminate.contaminatedCount(trClean, evGrams))
    // ONE aggregate pass over the manifest: three separate scalar
    // aggs would re-run the whole budget→BPE→packing chain once per
    // metric (the manifest is not checkpointed, and the BPE encode
    // dominates it); the 1-row checkpoint fans out to the 3 info rows
    lazy val man = QueryScope.materialize("man")(ModelReady.modelReadyManifest(relsrc)
      .agg(countDistinct(col("seq_id")).cast("long").as("n_seq"),
        count(lit(1)).as("n_slices"),
        sum(col("n_toks")).cast("long").as("n_tokens")))
    lazy val card = QueryScope.materialize("card")(CorpusAnalytics.datasetCard(relsrc))
    QueryScope.parallel(Seq(() => relMaxId, () => prevCount, () => fpPrev,
      () => cleanLeakFail, () => man, () => card))
    require(relMaxId < PlantBase,
      s"b270 plant-id offset exhausted: max(doc_id) = $relMaxId >= " +
        s"$PlantBase — the corrLeak decomposition's disjoint-id premise " +
        "breaks; raise PlantBase in BOTH the entry and its oracle SQL")
    // the corrupted candidate carries the row fold too: plants
    // fold their own (appended-token) text — ~1% of the rows
    val corrF = relF.unionByName(plants.withColumn("fp", expr(rowFoldSpark)))
    val cleanLeak = trClean.agg(count(lit(1)).as("n_checked"))
      .crossJoin(broadcast(cleanLeakFail))
      .select(lit("leakage:train_heldout").as("check_id"),
        col("n_checked"), col("n_failures"))
    val corrLeak = trClean.agg(count(lit(1)).as("nc1"))
      .crossJoin(plants.agg(count(lit(1)).as("nc2")))
      .crossJoin(broadcast(cleanLeakFail.select(col("n_failures").as("f1"))))
      .crossJoin(broadcast(
        Decontaminate.contaminatedCount(plants, evGrams)
          .select(col("n_failures").as("f2"))))
      .select(lit("leakage:train_heldout").as("check_id"),
        (col("nc1") + col("nc2")).as("n_checked"),
        (col("f1") + col("f2")).as("n_failures"))
    val info = card
      .select(concat(lit("card:"), col("section"), lit(":"), col("metric"))
        .as("check_id"), col("value").cast("long").as("n_checked"))
      .unionByName {
        man.select(lit("manifest:n_sequences").as("check_id"),
            col("n_seq").as("n_checked"))
          .unionByName(man.select(lit("manifest:n_slices").as("check_id"),
            col("n_slices").as("n_checked")))
          .unionByName(man.select(lit("manifest:n_tokens").as("check_id"),
            col("n_tokens").as("n_checked")))
      }
      .unionByName(relF.select(col("fp"))
        .agg(expr("bit_xor(fp)").cast("long").as("v"))
        .select(lit("version:fingerprint").as("check_id"),
          col("v").as("n_checked")))
      .unionByName(rel.agg(count(lit(1)).as("v"))
        .select(lit("version:n_docs").as("check_id"),
          col("v").as("n_checked")))
      .select(lit("release").as("candidate"), col("check_id"),
        col("n_checked"), lit(0L).as("n_failures"), lit("info").as("status"))
    gateReport(relF, fpPrev, prevCount, "clean", Some(cleanLeak),
        folded = true)
      .unionByName(gateReport(corrF, fpPrev, prevCount, "corrupted",
        Some(corrLeak), folded = true))
      .unionByName(info)
      .orderBy("candidate", "check_id")
  }

  /** B272 — RELEASE DIFF / CHANGELOG: the hygiene pipeline run at TWO
    * ingest snapshots (previous = published partitions only; candidate =
    * full corpus) and diffed by canonical doc_id — the changelog a
    * release registry renders next to B270's gate report, and the
    * operator that makes re-release REPRODUCIBILITY observable.
    *
    * The four statuses are all real mechanisms, not bookkeeping:
    * `added` (new-partition survivors), `removed` (the GROWN benchmark
    * split newly contaminates old docs — decontamination is the only
    * removal mechanism under append), `kept`, and — the instructive one —
    * `changed`: because ingest partitions are RESIDUE classes, a new doc
    * can carry a LOWER id than published docs (out-of-order backfill),
    * stealing span-dedup keep-first positions and text-group canonical
    * survivorship, so an old doc_id can re-release with different text.
    * A naive "append-only ingests ⇒ append-only releases" assumption is
    * FALSE here, and the diff is where that shows up (measured: changed
    * = 0/1/153 at sf0.001/0.01/0.1 — the backfill effect needs id
    * density to bite; added/removed/kept nonzero at every SF).
    *
    * Word masses count the CANDIDATE text for added/kept/changed and the
    * PREVIOUS text for removed (what the reader of a changelog wants:
    * the mass entering vs leaving the release).
    *
    * Scale posture: two hygiene runs (in production the previous release
    * is a PERSISTED artifact — the diff re-derives it here only so the
    * oracle can pin the whole composition; the operator itself is the
    * full outer join + O(statuses) rollup) and one doc_id-keyed join.
    * Both releases localCheckpoint once. */
  private val b272 = entry(
    "b272_release_diff",
    s"""WITH prevdocs AS MATERIALIZED (
       |  SELECT * FROM documents WHERE doc_id % 10 < $PublishedParts),
       |${CleanPipeline.hygieneCtesDuck("prevdocs", "p_")},
       |${CleanPipeline.hygieneCtesDuck("documents", "c_")},
       |prv AS MATERIALIZED (SELECT doc_id, text FROM p_deduped),
       |cnd AS MATERIALIZED (SELECT doc_id, text FROM c_deduped),
       |d AS (
       |  SELECT CASE WHEN p.text IS NULL THEN 'added'
       |              WHEN c.text IS NULL THEN 'removed'
       |              WHEN p.text = c.text THEN 'kept'
       |              ELSE 'changed' END AS status,
       |         coalesce(c.text, p.text) AS text
       |  FROM prv p FULL JOIN cnd c USING (doc_id))
       |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words
       |FROM d GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // the two snapshot releases are independent — build their
    // checkpoints CONCURRENTLY (guide §2.6, the b270 convention) so the
    // two hygiene chains' walls overlap instead of serializing
    val Seq(prv, cnd) = QueryScope.parallel(Seq(
      () => CleanPipeline.hygieneRelease(
        docs.filter(col("doc_id") % 10 < PublishedParts)),
      () => CleanPipeline.hygieneRelease(docs)))
    prv.select(col("doc_id"), col("text").as("p_text"))
      .join(cnd.select(col("doc_id"), col("text").as("c_text")),
        Seq("doc_id"), "full_outer")
      .select(
        when(col("p_text").isNull, "added")
          .when(col("c_text").isNull, "removed")
          .when(col("p_text") === col("c_text"), "kept")
          .otherwise("changed").as("status"),
        coalesce(col("c_text"), col("p_text")).as("text"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_words"))
      .orderBy("status")
  }

  val entries: Seq[Entry] = Seq(b270, b272)
}
