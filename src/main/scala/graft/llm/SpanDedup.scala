package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** Repeated-span removal (SURVEY §2B round-6 row B93): corpus-wide EXACT
  * substring dedup at word-k-gram granularity — the ExactSubstr pass of
  * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  * Better"), which removes verbatim re-used spans WITHIN documents that
  * are otherwise distinct (doc-level dedup like B42/B43/B90 never sees
  * them). Their suffix-array machinery is a single-node construction;
  * the distributed equivalent is fixed-width span fingerprints: every
  * word-5-gram occurrence in the corpus is keyed, and every occurrence
  * EXCEPT the globally first (by doc_id, then position) of a gram that
  * occurs more than once has its 5 word positions deleted from its
  * document. Exact by construction → fully SQL-expressible → t2-checked.
  *
  * Scale posture: the only corpus-wide state is the per-gram occurrence
  * relation — ONE shuffle keyed on (gram, salt) (r21; at 100 TB the key
  * drops to xxhash64(gram), the MinHashLsh 8-byte rule; strings are
  * kept here so the oracle compares exactly). First-occurrence
  * selection is a SALTED two-phase min-struct/count aggregate — map-
  * side combinable, state O(1) per (gram, salt), the hot gram split
  * across [[SaltBuckets]] — NOT a row_number window (which would sort
  * whole hot-gram partitions). Position deletion and text reassembly
  * are per-document array kernels (one doc-keyed join, no corpus-width
  * word explode), no cross-doc state. The output is proportional to the
  * corpus, the intermediate to the span count (≈ words × 1).
  */
object SpanDedup {

  val SpanWords = 5

  /** Salt-bucket count for the gram-keyed shuffle (r21, guide §2.5): a
    * hot gram's occurrences spread across [[SaltBuckets]] deterministic
    * buckets — pmod(xxhash64(doc_id, pos), S), never rand() (the
    * SPARK-38388 retry hazard) — so neither the stats aggregate nor the
    * dup join can pin a degenerate corpus's hottest gram into one task.
    * Per-gram stats fold exactly across buckets (cnt sums, the
    * min-struct first is a min of per-bucket mins). */
  private[graft] val SaltBuckets = 8

  /** Estimated occurrence bytes one shuffle partition should carry —
    * the [[MinHashLsh.SpreadTargetBytes]] rule applied to the gram
    * relation. */
  private val OccPartitionBytes = 8L * 1024 * 1024

  /** The optimizer's size estimate for the exploded gram relation is
    * COMPRESSED-SCAN-rooted (Catalyst's size-only visitor propagates
    * the parquet scan bytes through Generate nearly unchanged —
    * measured 0.55 MB estimated vs tens of MB of actual occurrence
    * strings at sf0.1), so the width rule scales it by the physical
    * expansion: ~4-8× parquet→string decompression × ~k× the k-gram
    * explode. 64 is calibrated from the r21 width A/B at sf0.1/32
    * (W=1/2/4/8 → wall 4.2/3.0/2.4/2.5 s for the b93 dup pass; 64
    * yields W=4 there) and is harmless at the extremes: a kilobytes
    * gate corpus still earns W=1, a 100 TB corpus is capped at
    * defaultParallelism regardless. */
  private val OccEstExpansion = 64L

  /** (doc_id, pos, gram) — every word-k-gram occurrence, pos = 0-based
    * start. Docs shorter than k words contribute none (and can't contain
    * a duplicated span). */
  private def spans(docs: DataFrame, k: Int = SpanWords): DataFrame =
    docs.withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode_outer(expr(
        s"""transform(sequence(0, size(w) - $k),
           |          i -> array_join(slice(w, i + 1, $k), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos"), col("col").as("gram"))

  /** Every non-first occurrence of a corpus-duplicated k-gram, as
    * (doc_id, pos) — the shared dup-detection core of B93 and B244,
    * restructured r21 so the occurrence relation crosses the wire ONCE
    * (guide §2.4; the r20 shape shuffled it twice by the same key: once
    * into the gram-stats aggregate, once into the dup join):
    *
    *   - occ is repartitioned by (gram, salt) to a size-earned width
    *     (1 partition per [[OccPartitionBytes]] of the optimizer's
    *     estimate — a kilobytes-scale gate corpus stays at width 1, the
    *     r20 hygiene-spread lesson; estimate-quality caveat: this plan
    *     is Generate-rooted, not scan-rooted, so the estimate is a row-
    *     width extrapolation of the scan size — both clamps keep either
    *     error harmless) and PERSISTED: an InMemoryRelation keeps its
    *     outputPartitioning (the r21 graph-rounds probe), so
    *   - per-(gram, salt) stats aggregate exchange-free over the
    *     persisted relation, fold per gram in a second pre-aggregated
    *     exchange (≤ [[SaltBuckets]] rows per gram — the salted
    *     two-phase aggregate, r20 VERDICT item 1), and
    *   - the dup probe joins the cnt>1 grams back EXPLODED to every
    *     salt bucket, co-partitioned with occ — zero exchange on the
    *     occurrence side, and a hot gram's probe work stays spread
    *     across its salt buckets (strictly safer than the r20 plan,
    *     whose only skew remedy was AQE splitting the join exchange).
    *
    * Returns the lazy dup relation plus a release handle: callers
    * materialize their per-doc aggregate eagerly, then release the
    * persisted occ (the GraphOps pullAdj convention — nothing persisted
    * outlives the operator). `materialize = false` keeps the pure
    * recompute form, same logical shape, results identical (pinned in
    * CorpusCleanSpec). */
  private def dupOccurrences(docs: DataFrame, k: Int,
      hashedGramKey: Boolean, materialize: Boolean)
      : (DataFrame, () => Unit) = {
    val occ0 = spans(docs, k)
    val occKeyed =
      if (hashedGramKey) occ0.withColumn("gram", xxhash64(col("gram")))
      else occ0
    val salted = occKeyed.withColumn("salt",
      pmod(xxhash64(col("doc_id"), col("pos")), lit(SaltBuckets)).cast("int"))
    val (occ, release) =
      if (materialize) {
        val parallelism =
          docs.sparkSession.sparkContext.defaultParallelism.toLong
        val bytes = salted.queryExecution.optimizedPlan.stats.sizeInBytes *
          OccEstExpansion
        val w = (bytes / OccPartitionBytes).max(1).min(parallelism).toInt
        val p = salted.repartition(w, col("gram"), col("salt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (p, () => { p.unpersist(false); () })
      } else (salted, () => ())
    // per-(gram, salt) partials (exchange-free over the persisted occ),
    // folded per gram: cnt sums, first = min of per-bucket min-structs
    // (min over struct(doc_id, pos) is the global (doc, pos) order
    // because doc_id is the struct's leading field)
    val gramStats = occ.groupBy("gram", "salt").agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .groupBy("gram").agg(
        sum(col("cnt")).as("cnt"),
        min(col("first")).as("first"))
      .filter(col("cnt") > 1)
    val statsX = gramStats.select(col("gram"), col("first"),
      explode(sequence(lit(0), lit(SaltBuckets - 1))).as("salt"))
    val dup = occ.join(statsX, Seq("gram", "salt"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    (dup, release)
  }

  /** Cleaned corpus: every non-first occurrence of a corpus-duplicated
    * span has its word positions removed; text is reassembled from the
    * survivors. Output: (doc_id, n_words, n_removed, clean_text), one row
    * per input doc (a fully-deleted doc keeps its row with empty text).
    *
    * `hashedGramKey` is the 100 TB path (the MinHashLsh 8-byte rule): the
    * gram SHUFFLE key becomes xxhash64(gram) — the string is hashed
    * map-side and never crosses the wire — at the cost of the documented
    * 2^-64-per-pair collision (two distinct grams merging would delete a
    * coincidental span). The t2 entry keeps strings so the oracle
    * compares exactly; equality of the two paths on real data is pinned
    * in CorpusCleanSpec. */
  /** Covered word positions PER DOC as one array: collect the dup start
    * positions — unique per (doc, pos) by construction, so collect_list
    * is set-exact — and widen each to its k span inside the projection
    * (r21, guide §2.4: the r20 shape exploded covered positions and
    * re-distinct-ed them at corpus-word width). */
  private def perDocCov(dup: DataFrame, k: Int): DataFrame =
    dup.groupBy("doc_id")
      .agg(collect_list(col("pos")).as("starts"))
      .select(col("doc_id"), expr(
        s"""array_distinct(flatten(transform(starts,
           |  p -> sequence(p, p + ${k - 1}))))""".stripMargin).as("cov"))

  def removeRepeatedSpans(docs: DataFrame, hashedGramKey: Boolean = false,
      materializeOcc: Boolean = true): DataFrame = {
    val (dup, release) =
      dupOccurrences(docs, SpanWords, hashedGramKey, materializeOcc)
    // materialize the per-doc relation eagerly (dup-mass-sized), then
    // release the persisted occurrence relation — nothing persisted
    // escapes the operator, not even when the checkpoint fails
    val perDoc =
      if (materializeOcc)
        try perDocCov(dup, SpanWords).localCheckpoint(true) finally release()
      else perDocCov(dup, SpanWords)
    rebuildFromCov(docs, perDoc)
  }

  /** The lazy-shared spelling for COMPOSED callers (the b94/b270/b272/
    * b291/b297 hygiene chain): occ and the per-doc covered relation
    * persist LAZILY, so the caller's own eager materialization (the
    * hygiene rel checkpoint) computes the whole span pass inside ONE
    * job — the standalone spelling's separate per-doc checkpoint job
    * exists only to release occ before returning a lazy frame, and a
    * caller that materializes eagerly anyway shouldn't pay the extra
    * job boundary (r21 b270 phase probe: span job 2.7 s wall + rel
    * checkpoint 1.5 s → one ~3 s job). Caller MUST invoke the release
    * handle after its materialization; results are identical to
    * [[removeRepeatedSpans]] (same logical plan, pinned by the b94
    * oracle at 3 SFs). */
  private[llm] def removeRepeatedSpansShared(docs: DataFrame)
      : (DataFrame, () => Unit) = {
    val (dup, releaseOcc) =
      dupOccurrences(docs, SpanWords, hashedGramKey = false,
        materialize = true)
    val perDoc = perDocCov(dup, SpanWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (rebuildFromCov(docs, perDoc),
      () => { perDoc.unpersist(false); releaseOcc(); () })
  }

  /** The reassembly law shared by B93 and B244, r21 spelling: `perDoc`
    * is (doc_id, cov) with cov = the doc's deleted word positions; the
    * survivors stitch back PER DOC with array kernels — kept positions
    * are array_except(sequence(0, n−1), cov), an O(n + |cov|) hash
    * difference that preserves position order, and words re-attach by
    * index off the doc's own split. Replaces the r20 corpus-wide words
    * posexplode → (doc, pos)-keyed anti join → per-doc
    * sort-collect_list rebuild (3 exchanges + a corpus-width explode →
    * one doc-keyed left join; the whole rebuild is now
    * whole-stage-codegen map work). One row per input doc — a
    * fully-deleted doc keeps its row with empty text (empty kept array
    * → array_join = ""); n_removed + n_kept = n_words by construction
    * (cov positions all fall in [0, n) because every gram start p obeys
    * p + k − 1 ≤ n − 1). */
  private def rebuildFromCov(docs: DataFrame, perDoc: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        expr(
          """transform(
            |  array_except(sequence(0, size(w) - 1),
            |               coalesce(cov, array())),
            |  i -> element_at(w, i + 1))""".stripMargin).as("kw"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - size(col("kw")).cast("long")).as("n_removed"),
        array_join(col("kw"), " ").as("clean_text"))
      .orderBy("doc_id")

  /** B93 — repeated-span removal over the dup-injected corpus (every 7th
    * doc re-appears shifted by 1e6, so every one of its spans is a
    * non-first duplicate and the copy must clean to empty — while organic
    * cross-doc 5-gram repeats, if any, are removed surgically). */
  private val b93 = entry(
    "b93_dedup_spans",
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
       |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs),
       |words AS (
       |  SELECT doc_id, u['pos'] AS pos, u['word'] AS word FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
       |      i -> {'pos': i - 1, 'word': w[i]})) AS u
       |    FROM dw)),
       |occ AS (
       |  SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(w) - ${SpanWords - 1}),
       |      i -> {'pos': i - 1,
       |            'gram': array_to_string(w[i:i + ${SpanWords - 1}], ' ')})) AS u
       |    FROM dw WHERE len(w) >= $SpanWords)),
       |gram_stats AS (
       |  SELECT gram, count(*) AS cnt,
       |         min(struct_pack(doc_id := doc_id, pos := pos)) AS first
       |  FROM occ GROUP BY gram),
       |dup_occ AS (
       |  SELECT o.doc_id, o.pos
       |  FROM occ o JOIN gram_stats g USING (gram)
       |  WHERE g.cnt > 1
       |    AND NOT (o.doc_id = g.first['doc_id'] AND o.pos = g.first['pos'])),
       |covered AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(generate_series(pos, pos + ${SpanWords - 1})) AS pos
       |  FROM dup_occ),
       |kept AS (
       |  SELECT w.doc_id, w.pos, w.word FROM words w
       |  ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.pos = c.pos),
       |rebuilt AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(word, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, len(w) AS n_words,
       |       len(w) - coalesce(r.n_kept, 0) AS n_removed,
       |       coalesce(r.clean_text, '') AS clean_text
       |FROM dw d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin, bench = true) { (s, d) =>
    removeRepeatedSpans(TextDedup.docsWithDups(s, d))
  }

  // ---- B244: minimum-length exact substring dedup (Lee et al. '22) ----

  /** B244's seed-gram width. */
  val GramK = 10

  /** Minimum verbatim-repeat length (tokens) for removal — Lee et al.'s
    * ExactSubstr removes only LONG repeats (their threshold is 50 BPE
    * tokens); B93's k-gram pass has no length floor, so it also deletes
    * short common phrases ("of the end of the"), which over-removes on
    * natural text. 30 words here (their 50 BPE tokens ≈ 35 words; 30
    * keeps the gate exercised by the fixture's doc lengths). */
  val MinSpanTokens = 30

  /** A repeated region of ≥ [[MinSpanTokens]] tokens ⟺ a run of ≥
    * MinSpanTokens − GramK + 1 CONSECUTIVE duplicated gram starts. */
  val MinRun: Int = MinSpanTokens - GramK + 1

  /** Maximal-run exact substring dedup: every non-first occurrence of a
    * duplicated [[GramK]]-gram is a candidate, candidates coalesce into
    * maximal consecutive-position runs per doc (gaps-and-islands on a
    * doc-PARTITIONED window — never a global one), and only runs
    * spanning ≥ [[MinSpanTokens]] tokens are excised; the first
    * occurrence of every span survives (the min-struct convention B93
    * established). This is the distributed spelling of Lee et al. 2022's
    * ExactSubstr semantics — their suffix array finds maximal repeats ≥ L
    * on one node; the shingle-position posting join + island coalescing
    * finds the same regions (over-approximating only where DISTINCT
    * repeat sources overlap within one gram width) with corpus-scale
    * shuffles keyed on the gram.
    *
    * Scale posture: identical cost classes to B93 — one gram-keyed
    * shuffle (8-byte xxhash64 keys on the 100 TB path, strings here so
    * the oracle compares exactly), one map-combinable gram-stats
    * aggregate, per-doc windows and joins after that; the island window
    * state is O(1) per row. Runs and covered positions are proportional
    * to the DUPLICATED text mass, not the corpus. */
  def removeLongRepeats(docs: DataFrame,
      materializeOcc: Boolean = true): DataFrame = {
    val (dup, release) =
      dupOccurrences(docs, GramK, hashedGramKey = false, materializeOcc)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // island coalescing stays a DOC-partitioned window (state O(1) per
    // row, never SinglePartition); the run rollup and the per-doc
    // interval collect reuse its hash(doc_id) exchange (subset-key
    // clustering), so the whole tail is one exchange of the dup mass
    val runs = dup
      .withColumn("island", col("pos") - row_number().over(wDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("p0"), max("pos").as("p1"), count(lit(1)).as("len"))
      .filter(col("len") >= MinRun)
    val perDoc0 = runs.groupBy("doc_id")
      .agg(collect_list(struct(col("p0"), col("p1"))).as("ivs"))
      .select(col("doc_id"), expr(
        s"""array_distinct(flatten(transform(ivs,
           |  v -> sequence(v.p0, v.p1 + ${GramK - 1}))))""".stripMargin).as("cov"))
    val perDoc =
      if (materializeOcc) try perDoc0.localCheckpoint(true) finally release()
      else perDoc0
    rebuildFromCov(docs, perDoc)
  }

  /** The B244 fixture: the corpus plus PLANTED overlaps proving the
    * length threshold in both directions — every 9th doc re-appears as a
    * 40-token verbatim prefix plus a unique marker (≥ MinSpanTokens ⇒ the
    * copy's head must excise, the marker and the ORIGINAL must survive),
    * and every 11th doc re-appears as a 12-token prefix plus a marker
    * (< MinSpanTokens ⇒ nothing may be removed, where B93 would delete
    * it). */
  def plantedLongShort(docs: DataFrame): DataFrame = {
    val dw = docs.withColumn("w", split(col("text"), " "))
    val long = dw.filter(col("doc_id") % 9 === 0 && size(col("w")) >= 40)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(array_join(slice(col("w"), 1, 40), " "),
          lit(" zz"), col("doc_id").cast("string")).as("text"))
    val short = dw.filter(col("doc_id") % 11 === 0 && size(col("w")) >= 12)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(array_join(slice(col("w"), 1, 12), " "),
          lit(" qq"), col("doc_id").cast("string")).as("text"))
    docs.select(col("doc_id"), col("text"))
      .unionByName(long).unionByName(short)
  }

  private val b244 = entry(
    "b244_exact_substr_dedup",
    s"""WITH dw0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |         array_to_string(w[1:40], ' ') || ' zz' || CAST(doc_id AS VARCHAR)
       |  FROM dw0 WHERE doc_id % 9 = 0 AND len(w) >= 40
       |  UNION ALL
       |  SELECT doc_id + 4000000,
       |         array_to_string(w[1:12], ' ') || ' qq' || CAST(doc_id AS VARCHAR)
       |  FROM dw0 WHERE doc_id % 11 = 0 AND len(w) >= 12),
       |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
       |words AS (
       |  SELECT doc_id, u['pos'] AS pos, u['word'] AS word FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
       |      i -> {'pos': i - 1, 'word': w[i]})) AS u
       |    FROM dw)),
       |occ AS (
       |  SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(w) - ${GramK - 1}),
       |      i -> {'pos': i - 1,
       |            'gram': array_to_string(w[i:i + ${GramK - 1}], ' ')})) AS u
       |    FROM dw WHERE len(w) >= $GramK)),
       |gram_stats AS (
       |  SELECT gram, count(*) AS cnt,
       |         min(struct_pack(doc_id := doc_id, pos := pos)) AS first
       |  FROM occ GROUP BY gram),
       |dup AS (
       |  SELECT o.doc_id, o.pos
       |  FROM occ o JOIN gram_stats g USING (gram)
       |  WHERE g.cnt > 1
       |    AND NOT (o.doc_id = g.first['doc_id'] AND o.pos = g.first['pos'])),
       |runs AS (
       |  SELECT doc_id, island, min(pos) AS p0, max(pos) AS p1
       |  FROM (
       |    SELECT doc_id, pos,
       |           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |             AS island
       |    FROM dup)
       |  GROUP BY doc_id, island HAVING count(*) >= $MinRun),
       |covered AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(generate_series(p0, p1 + ${GramK - 1})) AS pos
       |  FROM runs),
       |kept AS (
       |  SELECT w.doc_id, w.pos, w.word FROM words w
       |  ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.pos = c.pos),
       |rebuilt AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(word, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, len(w) AS n_words,
       |       len(w) - coalesce(r.n_kept, 0) AS n_removed,
       |       coalesce(r.clean_text, '') AS clean_text
       |FROM dw d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // the b171 headroom rule: plant ids must not collide with real ones
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    require(maxId < 2000000L,
      s"b244 plant-id offsets exhausted: max(doc_id) = $maxId >= 2000000")
    removeLongRepeats(plantedLongShort(docs))
  }

  val entries: Seq[Entry] = Seq(b93, b244)
}
