package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** Corpus-level dataset analytics — the monitoring tables a training-data
  * pipeline publishes alongside the data itself.
  *
  * B162 — VOCABULARY GROWTH CURVE (the empirical Heaps'-law table): for
  * each doc_id decile of the corpus, cumulative docs, tokens, vocabulary
  * size, and the decile's NEW term count. Vocabulary saturation is the
  * working signal behind "is more data still adding diversity" and
  * dedup-drift monitoring. All-integer: deciles are width-based buckets
  * k = doc_id div w + 1 with w = ⌈(max_id+1)/10⌉ (overflow-free at any
  * id range, unlike a doc_id·10 spelling), vocabulary counts come from
  * per-term FIRST-occurrence docs, and the cumulative fold is a window
  * over exactly 10 rows.
  *
  * Scale posture: one corpus token pass collapses map-side into (a) a
  * per-decile doc/token aggregate (≤ 10 rows) and (b) a per-term min
  * aggregate (Zipf-bounded vocab) re-bucketed to ≤ 10 rows; the
  * cumulative window runs on one bounded 10-row partition (the b125
  * bounded-cardinality convention) — nothing data-proportional shuffles.
  *
  * B163 — CROSS-SOURCE DUPLICATION AUDIT: the (source, source) matrix of
  * near-duplicate pairs (exact 3-shingle Jaccard ≥ 0.5 over candidates
  * sharing ≥ 1 shingle), upper-triangular by source name. This is the
  * governance table that answers "which feeds copy which" before a
  * source-weighted mixture (B98/B153) bakes duplication into the
  * training distribution. Exact all-pairs via the posting-list join is
  * the GATE spelling (500-doc documents table); the corpus-scale
  * generator is MinHash LSH (b43_dedup_minhash) — the aggregate tail
  * composes unchanged over its candidates. */
object CorpusAnalytics {

  private val Deciles = 10L

  private val b162 = entry(
    "b162_vocab_growth",
    s"""WITH mx AS (
       |  SELECT CAST((max(doc_id) + 1 + ${Deciles - 1}) // $Deciles AS BIGINT) AS w
       |  FROM documents),
       |dk AS (
       |  SELECT doc_id, CAST(doc_id // w + 1 AS BIGINT) AS k,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |              AS BIGINT) AS nt
       |  FROM documents, mx),
       |per_docs AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(nt) AS BIGINT) AS ntok
       |  FROM dk GROUP BY k),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |firsts AS (
       |  SELECT term, min(doc_id) AS fd FROM toks WHERE term <> ''
       |  GROUP BY term),
       |fk AS (
       |  SELECT CAST(fd // w + 1 AS BIGINT) AS k,
       |         CAST(count(*) AS BIGINT) AS nv
       |  FROM firsts, mx GROUP BY 1),
       |ks AS (SELECT CAST(unnest(generate_series(1, $Deciles)) AS BIGINT) AS k)
       |SELECT k AS decile,
       |       CAST(sum(coalesce(nd, 0)) OVER (ORDER BY k) AS BIGINT) AS n_docs,
       |       CAST(sum(coalesce(ntok, 0)) OVER (ORDER BY k) AS BIGINT) AS n_tokens,
       |       CAST(sum(coalesce(nv, 0)) OVER (ORDER BY k) AS BIGINT) AS vocab,
       |       CAST(coalesce(nv, 0) AS BIGINT) AS new_terms
       |FROM ks LEFT JOIN per_docs USING (k) LEFT JOIN fk USING (k)
       |ORDER BY decile""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val width = broadcast(QueryScope.materialize("width")(docs.agg(
      expr(s"CAST((max(doc_id) + 1 + ${Deciles - 1}) div $Deciles AS BIGINT)")
        .as("w"))))
    val perDocs = docs.crossJoin(width)
      .select(expr("doc_id div w + 1").as("k"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("nt"))
      .groupBy("k").agg(count(lit(1)).as("nd"), sum("nt").as("ntok"))
    val firsts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(min("doc_id").as("fd"))
    val fk = firsts.crossJoin(width)
      .select(expr("fd div w + 1").as("k"))
      .groupBy("k").agg(count(lit(1)).as("nv"))
    val ks = (1L to Deciles).toDF("k")
    // the cumulative window runs over exactly 10 rows — the bounded-
    // cardinality exception to the no-SinglePartition rule (b125)
    val win = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    ks.join(perDocs, Seq("k"), "left").join(fk, Seq("k"), "left")
      .select(col("k").as("decile"),
        sum(coalesce(col("nd"), lit(0L))).over(win).as("n_docs"),
        sum(coalesce(col("ntok"), lit(0L))).over(win).as("n_tokens"),
        sum(coalesce(col("nv"), lit(0L))).over(win).as("vocab"),
        coalesce(col("nv"), lit(0L)).as("new_terms"))
      .orderBy("decile")
  }

  /** B163 near-dup threshold (the b142 'near' convention, in bp). */
  private val DupBp = 5000L

  private val b163 = entry(
    "b163_cross_source_dups",
    s"""WITH words AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       |  FROM words WHERE len(w) >= 3),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT da, db
       |  FROM pairs
       |  JOIN counts ca ON ca.doc_id = da
       |  JOIN counts cb ON cb.doc_id = db
       |  WHERE common * 10000 >= $DupBp * (ca.n + cb.n - common)),
       |srcs AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS src_lo,
       |       greatest(sa.source, sb.source) AS src_hi,
       |       CAST(count(*) AS BIGINT) AS n_dup_pairs
       |FROM dup
       |JOIN srcs sa ON sa.doc_id = da
       |JOIN srcs sb ON sb.doc_id = db
       |GROUP BY 1, 2
       |ORDER BY src_lo, src_hi""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d)
    // Negative A/B (r13, min-of-5 at sf0.1): routing candidates through
    // the B145 prefix filter (SetSimJoin.similarityJoin at τ=0.5 —
    // pair-set-identical, since floor(jac·10⁴) ≥ t ⟺ common·10⁴ ≥
    // t·union for integer t) measured 4.97 s vs 3.79 s for this full
    // posting join: at τ=0.5 the prefix keeps ~half of each doc's
    // shingles, so the candidate join shrinks only ~4× while the df
    // agg + per-doc rank window + extra checkpoint cost more than that
    // saves — the same crossover b43 hit at its τ=0.5 operating point
    // (r4 note in MinHashLsh). The prefix path wins at high τ (b145's
    // τ=0.8); below the crossover the straight join IS the fast plan.
    val corpus = MinHashLsh.spreadNarrowInput(
      docs.select(col("doc_id"), col("text")))
    val counts = TextDedup.withShingleArr(docs)
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    val sh = TextDedup.shingles(corpus)
    val pairs = sh.select(col("doc_id").as("da"), col("shingle"))
      .join(sh.select(col("doc_id").as("db"), col("shingle")), "shingle")
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
    // integer cross-multiplied threshold — no float jaccard on the gate
    val dup = pairs
      .join(counts.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(counts.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("common") * 10000L >= lit(DupBp) * (col("na") + col("nb") - col("common")))
    val srcs = docs.select(col("doc_id"), col("source"))
    dup
      .join(srcs.select(col("doc_id").as("da"), col("source").as("src_a")), "da")
      .join(srcs.select(col("doc_id").as("db"), col("source").as("src_b")), "db")
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  /** B168 — N-GRAM NOVELTY PROFILING (the measurement behind "dedup
    * makes LMs better", Lee et al. ACL'22: how much of each document is
    * text the corpus has already seen): per doc, the fraction of its
    * DISTINCT 3-shingles whose corpus-wide FIRST occurrence (min doc_id
    * — the ingestion-order convention b162 shares) is this document,
    * in integer basis points. A clean doc scores 10⁴; an exact copy of
    * an earlier doc scores 0; boilerplate-heavy docs sit low — the
    * per-doc signal a dedup/quality gate thresholds on, where B42/B43
    * only flag whole-doc duplicates. Docs with < 3 words have no
    * 3-shingles and are excluded (the b43 convention).
    *
    * Scale posture: one shingle pass collapses map-side into the
    * gram-keyed min aggregate (vocabulary-of-grams scale); the
    * novelty join re-keys the SAME shingle relation by gram — one
    * shuffle each way, per-doc rollup map-combinable; no windows, no
    * driver traffic. */
  private val b168 = entry(
    "b168_ngram_novelty",
    s"""WITH words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       |  FROM words WHERE len(w) >= 3),
       |firsts AS (
       |  SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY shingle)
       |SELECT s.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(count(*) FILTER (WHERE f.fd = s.doc_id) AS BIGINT)
       |         AS n_novel,
       |       CAST(count(*) FILTER (WHERE f.fd = s.doc_id) * 10000
       |            // count(*) AS BIGINT) AS novelty_bp
       |FROM sh s JOIN firsts f USING (shingle)
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin, bench = true) { (s, d) =>
    // feeds the min agg AND the novelty join
    val sh = QueryScope.materialize("sh")(TextDedup.shingles(MinHashLsh.spreadNarrowInput(
      Tables.documents(s, d).select(col("doc_id"), col("text")))))
    val firsts = sh.groupBy("shingle").agg(min("doc_id").as("fd"))
    sh.join(firsts, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("fd") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 10000 div n_grams").as("novelty_bp"))
      .orderBy("doc_id")
  }

  /** B169 — PER-SOURCE LENGTH PROFILE: exact token-length percentiles
    * (p50/p90/p99 by the nearest-rank definition ⌈p·n⌉ — integer-exact,
    * unlike interpolating percentile definitions), min/max/mean-as-ratio
    * — the dataset-card table published per source, and the input to
    * length-aware batching (B134) and truncation-budget decisions.
    * Mean is carried as (tok_sum, n_docs) BIGINTs; the caller divides.
    *
    * Scale posture: one map-side token count, one rank window
    * PARTITIONED by source (bounded parallelism = |sources|, never
    * SinglePartition), one per-source aggregate. The nearest-rank
    * values come from the SAME window pass via conditional min. */
  private val b169 = entry(
    "b169_length_profile",
    s"""WITH toks AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |ranked AS (
       |  SELECT source, n_tok,
       |         CAST(row_number() OVER (PARTITION BY source
       |                                 ORDER BY n_tok, source)
       |              AS BIGINT) AS rn,
       |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM toks)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       |       CAST(min(n_tok) AS BIGINT) AS tok_min,
       |       CAST(max(n_tok) AS BIGINT) AS tok_max,
       |       CAST(min(CASE WHEN rn * 100 >= 50 * n THEN n_tok END)
       |            AS BIGINT) AS p50,
       |       CAST(min(CASE WHEN rn * 100 >= 90 * n THEN n_tok END)
       |            AS BIGINT) AS p90,
       |       CAST(min(CASE WHEN rn * 100 >= 99 * n THEN n_tok END)
       |            AS BIGINT) AS p99
       |FROM ranked
       |GROUP BY source
       |ORDER BY source""".stripMargin, bench = true) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_tok"), col("source"))
    val cw = Window.partitionBy(col("source"))
    val ranked = toks
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(cw))
    def pct(p: Int) =
      min(when(col("rn") * 100 >= lit(p) * col("n"), col("n_tok")))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"),
        min("n_tok").as("tok_min"), max("n_tok").as("tok_max"),
        pct(50).as("p50"), pct(90).as("p90"), pct(99).as("p99"))
      .orderBy("source")
  }

  /** B171 — the CROSS-SOURCE AUDIT THROUGH THE LSH SCALE PATH, driver-
    * visible (VERDICT r13 item 4): b163's aggregate tail composed over
    * b43's MinHash-banded candidates instead of the exact all-pairs
    * posting join — the plan a 100 TB corpus actually runs (candidates
    * are O(Σ bucket²), never n²; the spec asserts no cartesian anywhere).
    *
    * The t2 contract is the b75/b90 recall convention: the audit
    * threshold here is EXACT set equality (jaccard = 1, spelled as the
    * integer `2·|A∩B| = |A|+|B|` on the hashed shingle sets — no floats
    * on the gate), and the corpus carries PLANTED cross-source mirrors
    * (every 6th doc re-appears under source 'mirror'). At τ = 1 LSH
    * recall is PROVABLE, not sampled: equal shingle sets ⇒ equal MinHash
    * signatures ⇒ identical buckets in EVERY band, so no qualifying pair
    * can be missed (`bucketCap = None` keeps the proof unconditional —
    * the b75 note), and false candidates die in the exact verify. The
    * sub-1 threshold tail is the SAME code with b163's cross-multiplied
    * gate swapped in; its recall is the measured-not-proved quantity
    * b43_dedup_minhash / b44_lsh_rule_recall track, which is why the
    * HASH gate pins the τ = 1 contract (an approximate-recall audit
    * can't hash-match an exact oracle). Hash-set equality stands in for
    * string-set equality modulo the engine-wide 2^-64-per-pair xxhash64
    * collision caveat (MinHashLsh convention).
    *
    * Scale posture: banding + bucket self-join (Σ bucket² candidates),
    * array-intersect verify touches candidates only, source tail is two
    * doc-keyed joins + a map-combinable (src, src) count — no windows,
    * no all-pairs relation anywhere in the plan. */
  private val b171 = entry(
    "b171_cross_source_dups_lsh",
    s"""WITH aug AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000, 'mirror', text FROM documents
       |  WHERE doc_id % 6 = 0),
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       |  FROM words WHERE len(w) >= 3),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT da, db
       |  FROM pairs
       |  JOIN counts ca ON ca.doc_id = da
       |  JOIN counts cb ON cb.doc_id = db
       |  WHERE common * 2 = ca.n + cb.n),
       |srcs AS (SELECT doc_id, source FROM aug)
       |SELECT least(sa.source, sb.source) AS src_lo,
       |       greatest(sa.source, sb.source) AS src_hi,
       |       CAST(count(*) AS BIGINT) AS n_dup_pairs
       |FROM dup
       |JOIN srcs sa ON sa.doc_id = da
       |JOIN srcs sb ON sb.doc_id = db
       |GROUP BY 1, 2
       |ORDER BY src_lo, src_hi""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    // ADVICE r14: the mirror-id offset is a literal shared with the oracle;
    // CHECK the headroom instead of assuming it — past 3M docs the mirror
    // ids would collide with real ones and both engines would agree on a
    // silently-wrong pair attribution. One O(1) driver scalar (b109 rule).
    val maxId = Option(docs.agg(max("doc_id")).head()
      .getAs[java.lang.Long](0)).map(_.longValue).getOrElse(-1L)
    require(maxId < 3000000L,
      s"b171 mirror-id offset exhausted: max(doc_id) = $maxId >= 3000000; " +
        "raise the offset constant in BOTH the entry and its oracle SQL")
    val aug = docs.unionByName(
      docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("mirror").as("source"), col("text")))
    // ADVICE r20: this spread input is a UNION, not a bare scan, so the
    // width comes from a propagated (not scan-rooted) size estimate —
    // harmless here because a union of two scan projections keeps
    // additive sizeInBytes; see the spreadNarrowInput scaladoc caveat
    val hArr = QueryScope.persist(
      MinHashLsh.spreadNarrowInput(aug.select(col("doc_id"), col("text")))
        .select(col("doc_id"), expr("shingle_hashes(text)").as("hs"))
        .filter(size(col("hs")) > 0))
    val sigs = hArr.select(col("doc_id"), expr("minhash_sigs(hs)").as("sig"))
    // bucketCap = None: the tau = 1 recall proof must be unconditional
    val cands = MinHashLsh.candidatePairs(sigs, bucketCap = None)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val a = hArr.select(col("doc_id").as("da"), col("hs").as("hs_a"))
    val b = hArr.select(col("doc_id").as("db"), col("hs").as("hs_b"))
    val dup = cands.join(a, "da").join(b, "db")
      .filter(size(array_intersect(col("hs_a"), col("hs_b"))).cast("long") * 2L ===
        size(col("hs_a")).cast("long") + size(col("hs_b")).cast("long"))
      .select(col("da"), col("db"))
    val srcs = aug.select(col("doc_id"), col("source"))
    // materialized before the entry's scope releases hArr
    val dupPairs = QueryScope.materialize("dupPairs")(dup
      .join(srcs.select(col("doc_id").as("da"), col("source").as("src_a")), "da")
      .join(srcs.select(col("doc_id").as("db"), col("source").as("src_b")), "db")
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("n_dup_pairs")))
    dupPairs.orderBy("src_lo", "src_hi")
  }

  /** B190 — DATASET CARD (Gebru et al. '21 "Datasheets for Datasets" /
    * the HuggingFace dataset card every published corpus ships): ONE
    * (section, metric, value) table unioning the governance numbers the
    * card's tables quote — corpus totals (docs, tokens, vocabulary),
    * global length percentiles (nearest-rank ⌈p·n⌉, the b169 definition,
    * computed WITHOUT a corpus-wide rank window: cumulative counts over
    * the distinct-length relation, bounded cardinality — the b125
    * exception), exact-duplication summary (distinct texts, surplus
    * copies, the hottest text's multiplicity — b42's statistics), and
    * mixture shape (source count, top source share in bp). Every value
    * BIGINT; the capstone proves the dashboards COMPOSE into the one
    * artifact users actually read.
    *
    * Scale posture: three corpus passes (tokens, text hashes, source
    * counts), each collapsing map-side into bounded relations (distinct
    * lengths, per-text counts → 1-row rollup, |sources| rows); the only
    * windows run over those bounded relations. No corpus-wide window,
    * no driver traffic. */
  /** The dataset-card oracle CTEs (card_toks → card_card), parameterized
    * by the input relation and WITHOUT the leading WITH — the r16
    * capstone-composition convention (card_ prefix keeps the names
    * disjoint from the hygiene and model-ready chains B270 composes them
    * with). `card_card` is the (section, metric, value) card. */
  private[graft] def cardCtesDuck(rel: String): String =
    s"""card_toks AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM $rel),
       |card_terms AS (
       |  SELECT count(DISTINCT term) AS n_terms FROM (
       |    SELECT unnest(string_split(text, ' ')) AS term FROM $rel) q),
       |card_lens AS (SELECT n_tok, count(*) AS cnt FROM card_toks GROUP BY n_tok),
       |card_cum AS (
       |  SELECT n_tok, sum(cnt) OVER (ORDER BY n_tok) AS cum,
       |         (SELECT sum(cnt) FROM card_lens) AS total
       |  FROM card_lens),
       |card_dups AS (
       |  SELECT count(*) AS n_distinct, sum(c) - count(*) AS surplus,
       |         max(c) AS max_copies
       |  FROM (SELECT count(*) AS c FROM $rel GROUP BY text) q),
       |card_src AS (SELECT source, count(*) AS c FROM $rel GROUP BY source),
       |card_card AS (
       |  SELECT 'corpus' AS section, 'n_docs' AS metric,
       |         (SELECT count(*) FROM $rel) AS value
       |  UNION ALL SELECT 'corpus', 'n_tokens', (SELECT sum(n_tok) FROM card_toks)
       |  UNION ALL SELECT 'corpus', 'n_terms', (SELECT n_terms FROM card_terms)
       |  UNION ALL SELECT 'length', 'min_tokens', (SELECT min(n_tok) FROM card_toks)
       |  UNION ALL SELECT 'length', 'p50_tokens',
       |    (SELECT min(n_tok) FROM card_cum WHERE cum * 100 >= 50 * total)
       |  UNION ALL SELECT 'length', 'p90_tokens',
       |    (SELECT min(n_tok) FROM card_cum WHERE cum * 100 >= 90 * total)
       |  UNION ALL SELECT 'length', 'max_tokens', (SELECT max(n_tok) FROM card_toks)
       |  UNION ALL SELECT 'dup', 'n_distinct_texts', (SELECT n_distinct FROM card_dups)
       |  UNION ALL SELECT 'dup', 'surplus_copies', (SELECT surplus FROM card_dups)
       |  UNION ALL SELECT 'dup', 'max_copies', (SELECT max_copies FROM card_dups)
       |  UNION ALL SELECT 'mixture', 'n_sources', (SELECT count(*) FROM card_src)
       |  UNION ALL SELECT 'mixture', 'top_source_share_bp',
       |    (SELECT max(c) * 10000 // sum(c) FROM card_src))""".stripMargin

  private val b190 = entry(
    "b190_dataset_card",
    s"""WITH ${cardCtesDuck("documents")}
       |SELECT section, metric, CAST(value AS BIGINT) AS value
       |FROM card_card ORDER BY section, metric""".stripMargin, bench = true) { (s, d) =>
    datasetCard(Tables.documents(s, d).select(col("doc_id"), col("text"),
      col("source")))
  }

  /** The dataset card's engine side — (section, metric, value) over any
    * (doc_id, text, source) relation. Shared by b190 and B270's release
    * capstone. */
  private[graft] def datasetCard(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"), col("source"))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    def row(section: String, metric: String, v: org.apache.spark.sql.DataFrame) =
      v.select(lit(section).as("section"), lit(metric).as("metric"),
        col(v.columns.head).cast("long").as("value"))
    val corpusTotals = QueryScope.materialize("corpusTotals")(toks.agg(count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens")))
    val nTerms = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(countDistinct("term").as("n_terms"))
    // nearest-rank percentiles from the bounded distinct-length relation
    // bounded (distinct lengths); feeds 2 windows
    val lens = QueryScope.materialize("lens")(toks.groupBy("n_tok").agg(count(lit(1)).as("cnt")))
    val cumW = Window.orderBy(col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = lens
      .withColumn("cum", sum("cnt").over(cumW))
      .crossJoin(broadcast(lens.agg(sum("cnt").as("total"))))
    def pct(p: Int) = cum.filter(col("cum") * 100 >= lit(p) * col("total"))
      .agg(min("n_tok").as(s"p$p"))
    val dups = QueryScope.materialize("dups")(docs.groupBy("text").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_distinct"),
        (sum("c") - count(lit(1))).as("surplus"), max("c").as("max_copies")))
    val src = QueryScope.materialize("src")(docs.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_sources"),
        expr("max(c) * 10000 div sum(c)").as("top_share")))
    row("corpus", "n_docs", corpusTotals.select("n_docs"))
      .unionByName(row("corpus", "n_tokens", corpusTotals.select("n_tokens")))
      .unionByName(row("corpus", "n_terms", nTerms))
      .unionByName(row("length", "min_tokens", toks.agg(min("n_tok"))))
      .unionByName(row("length", "p50_tokens", pct(50)))
      .unionByName(row("length", "p90_tokens", pct(90)))
      .unionByName(row("length", "max_tokens", toks.agg(max("n_tok"))))
      .unionByName(row("dup", "n_distinct_texts", dups.select("n_distinct")))
      .unionByName(row("dup", "surplus_copies", dups.select("surplus")))
      .unionByName(row("dup", "max_copies", dups.select("max_copies")))
      .unionByName(row("mixture", "n_sources", src.select("n_sources")))
      .unionByName(row("mixture", "top_source_share_bp", src.select("top_share")))
      .orderBy("section", "metric")
  }

  /** Exemplars per source shown on the card. */
  private val ExemplarK = 3

  /** B193 — DATASET-CARD EXEMPLARS (the "random samples" section every
    * HF dataset card renders — Gebru '21 recommends inspectable
    * examples per slice): K = 3 documents per source, drawn by
    * BOTTOM-K OF A SCRAMBLED HASH — the derandomized uniform sample
    * (b56's pure-function-of-the-key rule + the b167/b180 Knuth
    * scramble, mandatory here: unscrambled, the poly fold's consecutive
    * ids would make every source's "sample" its first K ids — newest-
    * crawl bias in production, where id blocks are ingest batches). The
    * draw is rerun-, engine- and partitioning-stable, and adding
    * documents evicts at most the displaced exemplars. Output carries a
    * 12-word preview — what the card actually renders.
    *
    * Scale posture: the rank window partitions by source (parallelism
    * \|sources\|, the b169 shape, never SinglePartition); at extreme
    * per-source cardinality the window swaps for a K-row struct-min
    * aggregate (the b29 TakeOrdered idiom) — same result, map-combinable. */
  private val b193 = entry(
    "b193_card_exemplars",
    s"""WITH scored AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         array_to_string(string_split(text, ' ')[1:12], ' ') AS preview,
       |         (${Winnowing.polyFoldDuck("('card:' || CAST(doc_id AS VARCHAR))")}
       |          % 2147483648) * 2654435761 % 2147483648 AS h
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, n_tok, preview,
       |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
       |           AS rnk
       |  FROM scored)
       |SELECT source, CAST(rnk AS BIGINT) AS exemplar_rank, doc_id, n_tok,
       |       preview
       |FROM ranked WHERE rnk <= $ExemplarK
       |ORDER BY source, exemplar_rank""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr("array_join(slice(split(text, ' '), 1, 12), ' ')").as("preview"),
        expr("(poly_fold(concat('card:', CAST(doc_id AS STRING))) % 2147483648) * 2654435761 % 2147483648")
          .as("h"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= ExemplarK)
      .select(col("source"), col("rnk").as("exemplar_rank"), col("doc_id"),
        col("n_tok"), col("preview"))
      .orderBy("source", "exemplar_rank")
  }

  /** B233 — SOURCE VOCABULARY OVERLAP (the corpus-mixing diagnostic:
    * how much of each source pair's token TYPE inventory is shared —
    * high overlap means redundant sources, low overlap means a domain
    * gap; the type-level companion of b163's document-level audit): per
    * source the distinct non-empty whitespace token set, pairwise
    * intersection via a token-keyed equi-join (per token the fanout is
    * C(sources-with-token, 2) ≤ C(20, 2) — SOURCE-bounded, never
    * corpus-bounded), union by inclusion-exclusion, Jaccard in integer
    * bp by cross-multiplication (inter·10⁴ div (v1+v2−inter)).
    *
    * Scale posture: one distinct (source, token) pass (map-combinable),
    * per-source vocab sizes broadcast, the intersection join keyed on
    * the TOKEN with |sources|²-bounded fanout, final |sources|² table. */
  private val b233 = entry(
    "b233_source_vocab_overlap",
    """WITH st AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents) t
      |  WHERE w <> ''),
      |vs AS (SELECT source, CAST(count(*) AS BIGINT) AS v
      |       FROM st GROUP BY source),
      |inter AS (
      |  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS i
      |  FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT inter.s1, inter.s2, v1.v AS v1, v2.v AS v2, inter.i AS inter,
      |       CAST(inter.i * 10000 // (v1.v + v2.v - inter.i) AS BIGINT)
      |         AS jaccard_bp
      |FROM inter JOIN vs v1 ON v1.source = inter.s1
      |JOIN vs v2 ON v2.source = inter.s2
      |ORDER BY inter.s1, inter.s2""".stripMargin, bench = true) { (s, d) =>
    val st = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
    val vs = st.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = st.as("a")
      .join(st.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(vs.select(col("source").as("s1"), col("v").as("v1"))), "s1")
      .join(broadcast(vs.select(col("source").as("s2"), col("v").as("v2"))), "s2")
      .select(col("s1"), col("s2"), col("v1"), col("v2"), col("i").as("inter"),
        expr("CAST(i * 10000 div (v1 + v2 - i) AS BIGINT)").as("jaccard_bp"))
      .orderBy("s1", "s2")
  }

  /** B235 minimum term frequency — keeps the trend table on the Zipf
    * head where a slope is a signal, not noise. */
  private val TrendMinTotal = 20L

  /** B235 — TRENDING TERMS (b196's sufficient-statistics OLS on the
    * CORPUS domain: per-term frequency slope across the b162 doc-id
    * deciles — the "emerging vocabulary" monitor that pairs with b162's
    * saturation curve): x = decile 1..10 is a FIXED design, so Σx = 55,
    * Σx² = 385, n = 10 and the OLS denominator n·Σx² − (Σx)² = 825 is a
    * frozen literal; absent deciles are implicit zeros (they contribute
    * nothing to Σy or Σxy, so the sparse per-(term, decile) counts ARE
    * the sufficient statistics — no densify pass). slope_micro =
    * (10·Σxy − 55·Σy)·10⁶ div 825, SIGNED — both engines truncate
    * toward zero identically (the b196 pin).
    *
    * Scale posture: one corpus token pass collapsing map-side into
    * (term, decile) counts (Zipf-bounded), one map-combinable term
    * aggregate; no window, no join. */
  private val b235 = entry(
    "b235_trending_terms",
    s"""WITH mx AS (
       |  SELECT CAST((max(doc_id) + 1 + ${Deciles - 1}) // $Deciles AS BIGINT)
       |    AS w
       |  FROM documents),
       |tk AS (
       |  SELECT CAST(doc_id // w + 1 AS BIGINT) AS k,
       |         unnest(string_split(text, ' ')) AS term
       |  FROM documents, mx),
       |cnt AS (
       |  SELECT term, k, CAST(count(*) AS BIGINT) AS n
       |  FROM tk WHERE term <> '' GROUP BY term, k),
       |st AS (
       |  SELECT term, CAST(sum(n) AS BIGINT) AS total,
       |         CAST(sum(k * n) AS BIGINT) AS sxy
       |  FROM cnt GROUP BY term)
       |SELECT term, total,
       |       CAST((10 * sxy - 55 * total) * 1000000 // 825 AS BIGINT)
       |         AS slope_micro
       |FROM st WHERE total >= $TrendMinTotal
       |ORDER BY term""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val width = broadcast(QueryScope.materialize("width")(docs.agg(
      expr(s"CAST((max(doc_id) + 1 + ${Deciles - 1}) div $Deciles AS BIGINT)")
        .as("w"))))
    val cnt = docs.crossJoin(width)
      .select(expr("doc_id div w + 1").as("k"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "k").agg(count(lit(1)).as("n"))
    cnt.groupBy("term")
      .agg(sum("n").as("total"), sum(expr("k * n")).as("sxy"))
      .filter(col("total") >= TrendMinTotal)
      .select(col("term"), col("total"),
        expr("CAST((10 * sxy - 55 * total) * 1000000 div 825 AS BIGINT)")
          .as("slope_micro"))
      .orderBy("term")
  }

  /** B279 minimum pair frequency — Church & Hanks' own guard: PMI's
    * rare-pair bias makes counts below ~5 pure noise. */
  private val PmiMinPair = 5L

  /** B279 — PMI COLLOCATION EXTRACTION (Church & Hanks, ACL 1990
    * "word association norms, mutual information, and lexicography" —
    * the association statistic behind collocation dictionaries,
    * tokenizer-vocabulary seeding, and phrase-mining passes; the
    * ASSOCIATION companion of b45's raw bigram counts: counts say WHAT
    * is frequent, PMI says what co-occurs MORE THAN CHANCE): over
    * adjacent whitespace-token pairs, the top-[[PmiTopK]] pairs by
    *
    *   lift = P(next = b | cur = a) / P(b)  =  (c_ab/c_a) / (c_b/N)
    *
    * — exp(PMI) under the conditional formulation, reported integer-
    * exact in basis points via the staged floor spelling
    * (c_ab·10⁴ div c_a)·N div c_b (identical text both engines, the
    * b167 ratio rule), with the [[PmiMinPair]] floor killing the
    * rare-pair bias. Ties cut deterministically by (a, b).
    *
    * Integer bounds: stage one is ≤ 10⁴ (c_ab ≤ c_a by construction),
    * so the widest intermediate is 10⁴·N — BIGINT-safe to N ~ 9·10¹⁴
    * tokens; past that the same CTEs re-spell over DECIMAL(38,0)
    * (the b267 bound-note convention).
    *
    * Scale posture: bigrams come from ONE corpus pass via map-side
    * adjacent pairing inside each document's own token array (transform
    * over sequence — no positional self-join, no shuffle before the
    * pair aggregate); unigram counts are a second map-combinable pass;
    * the pair relation joins the Zipf-bounded unigram dictionary twice
    * (the b125 dictionary class); N broadcasts as a one-row aggregate;
    * top-k is TakeOrdered (O(k) per partition — no global sort ever
    * materializes the pair relation). */
  private val PmiTopK = 20

  /** The b279 body over any `text`-columned frame (spec entry point). */
  private[graft] def pmiCollocations(
      docs: DataFrame, minPair: Long = PmiMinPair,
      topK: Int = PmiTopK): DataFrame = {
    val w2 = docs.select(split(col("text"), " ").as("w"))
    val uni = w2.select(explode(col("w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))
    val nt = uni.agg(sum("c").as("n_tok"))
    val bic = w2.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] AS a, w[i+1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPair)
    bic
      .join(uni.select(col("term").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("term").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(nt))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("CAST((c_ab * 10000 div c_a) * n_tok div c_b AS BIGINT)")
          .as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("a"), col("b"))
      .limit(topK)
  }

  private val b279 = entry(
    "b279_pmi_collocations",
    s"""WITH w2 AS (SELECT string_split(text, ' ') AS w FROM documents),
       |toks AS (SELECT unnest(w) AS term FROM w2),
       |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks
       |        WHERE term <> '' GROUP BY term),
       |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
       |bi AS (SELECT w[i] AS a, w[i+1] AS b
       |       FROM w2, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
       |       WHERE len(w) >= 2),
       |bic AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bi
       |        WHERE a <> '' AND b <> '' GROUP BY a, b),
       |scored AS (
       |  SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
       |         CAST((c_ab * 10000 // ua.c) * n_tok // ub.c AS BIGINT)
       |           AS lift_bp
       |  FROM bic JOIN uni ua ON ua.term = bic.a
       |           JOIN uni ub ON ub.term = bic.b
       |  CROSS JOIN nt
       |  WHERE c_ab >= $PmiMinPair)
       |SELECT a, b, c_ab, c_a, c_b, lift_bp
       |FROM scored ORDER BY lift_bp DESC, a, b LIMIT $PmiTopK""".stripMargin,
    bench = true) {
    (s, d) => pmiCollocations(Tables.documents(s, d))
  }

  /** B289 head size: the Zipf fit runs on the top-[[ZipfRankCap]] terms
    * by frequency (the law is a statement about the head; the tail is
    * sampling noise at any corpus size). */
  val ZipfRankCap = 256

  /** Zipf(s=1, V=256) inverse CDF over an integer uniform u ∈ [0, 2³¹):
    * rank = min{r : u < ⌊CDF(r)·2³¹⌋} — frozen harmonic thresholds (the
    * geomNoiseLadder freeze). */
  private def zipfLadder(uCol: String): String = {
    val M = graft.operators.PrivacyOps.UniformM
    val h = (1 to ZipfRankCap).map(1.0 / _).sum
    var cdf = 0.0
    val whens = (1 until ZipfRankCap).flatMap { r =>
      cdf += 1.0 / (r * h)
      val t = math.floor(cdf * M).toLong
      if (t >= M) None else Some(s"WHEN $uCol < $t THEN $r")
    }
    s"(CASE ${whens.mkString(" ")} ELSE $ZipfRankCap END)"
  }

  private def zipfUSpark(keyExpr: String): String =
    s"(((${Winnowing.polyFoldSpark(keyExpr)})" +
      s" % ${graft.operators.PrivacyOps.UniformM})" +
      s" * ${graft.operators.PrivacyOps.Knuth})" +
      s" % ${graft.operators.PrivacyOps.UniformM}"
  private def zipfUDuck(keyExpr: String): String =
    s"(((${Winnowing.polyFoldDuck(keyExpr)})" +
      s" % ${graft.operators.PrivacyOps.UniformM})" +
      s" * ${graft.operators.PrivacyOps.Knuth})" +
      s" % ${graft.operators.PrivacyOps.UniformM}"

  /** The shared log-log OLS tail: (leg, r, f) → per-leg n, slope,
    * intercept, r² (correlation form — one pass, no residual join). */
  private def zipfOlsSql(src: String): String =
    s"""SELECT leg, CAST(count(*) AS BIGINT) AS n_ranks,
       |       round((count(*) * sum(x*y) - sum(x) * sum(y))
       |             / (count(*) * sum(x*x) - sum(x) * sum(x)), 4)
       |         AS slope_r4,
       |       round((sum(y) - (count(*) * sum(x*y) - sum(x) * sum(y))
       |                       / (count(*) * sum(x*x) - sum(x) * sum(x))
       |                       * sum(x)) / count(*), 4) AS intercept_r4,
       |       round(((count(*) * sum(x*y) - sum(x) * sum(y))
       |              * (count(*) * sum(x*y) - sum(x) * sum(y)))
       |             / ((count(*) * sum(x*x) - sum(x) * sum(x))
       |                * (count(*) * sum(y*y) - sum(y) * sum(y))), 4)
       |         AS r2_r4
       |FROM $src GROUP BY leg ORDER BY leg""".stripMargin

  /** B289 — ZIPF RANK-FREQUENCY AUDIT (Zipf 1949; Piantadosi, Psych.
    * Bull. Rev. 2014 — natural language's most robust statistical law,
    * and therefore a NATURALNESS check for a training corpus: text
    * whose rank-frequency head does not fit a power law is machine-
    * generated, templated, or otherwise unrepresentative, whatever its
    * other quality scores say): per leg, the log-log OLS fit (slope,
    * intercept, r² in correlation form — one pass) over the top-256
    * term frequencies ranked descending. Two legs: `corpus` — the real
    * documents table, whose near-uniform synthetic vocabulary the audit
    * must report as a MISFIT (shallow slope, low r² — the fixture is
    * honest about being synthetic); `zipf_plant` — one draw per
    * lineitem row through a frozen Zipf(1, 256) inverse-CDF ladder
    * (harmonic thresholds, the geomNoiseLadder freeze), the positive
    * control that fits at slope ≈ −1, r² ≥ 0.97 at every SF.
    *
    * Floats: ln/round(4) per the b46 contract; the OLS sums run over
    * ≤ 2·256 rows.
    *
    * Scale posture: the corpus leg is one map-combinable term count
    * whose head is TakeOrdered (O(cap) per partition — never a global
    * sort or rank over the vocabulary); the plant leg is a map-side
    * CASE ladder collapsing to ≤ 256 groups; the OLS is a per-leg
    * aggregate over the ≤ 512-row union (b125). */
  private val b289 = entry(
    "b289_zipf_law_audit", {
      val u = zipfUDuck(
        "('zipf:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))")
      s"""WITH uni AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
         |  WHERE term <> '' GROUP BY term),
         |chead AS (
         |  SELECT f FROM uni ORDER BY f DESC, term LIMIT $ZipfRankCap),
         |corpus AS (
         |  SELECT 'corpus' AS leg,
         |         row_number() OVER (ORDER BY f DESC) AS r, f
         |  FROM chead),
         |draws AS (
         |  SELECT ${zipfLadder("u")} AS r0 FROM (
         |    SELECT $u AS u FROM lineitem) t),
         |pf AS (SELECT r0, CAST(count(*) AS BIGINT) AS f FROM draws
         |       GROUP BY r0),
         |phead AS (
         |  SELECT f FROM pf ORDER BY f DESC, r0 LIMIT $ZipfRankCap),
         |plant AS (
         |  SELECT 'zipf_plant' AS leg,
         |         row_number() OVER (ORDER BY f DESC) AS r, f
         |  FROM phead),
         |xy AS (
         |  SELECT leg, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
         |  FROM (SELECT * FROM corpus UNION ALL SELECT * FROM plant) legs)
         |${zipfOlsSql("xy")}""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val uni = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("f"))
    // TakeOrdered head; the 256-row rank window is the b125 exception
    val chead = uni.orderBy(col("f").desc, col("term")).limit(ZipfRankCap)
      .select(lit("corpus").as("leg"),
        row_number().over(Window.orderBy(col("f").desc, col("term")))
          .cast("long").as("r"), col("f"))
    val u = zipfUSpark(
      "concat('zipf:', CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING))")
    // compute u ONCE as a column (the b281 `seeded` pattern) — inlining it
    // via zipfLadder(s"($u)") would repeat the polyFold draw in every one
    // of the ~256 CASE branches (ADVICE r17 #1): a row mapping to rank r
    // re-evaluates the fold up to r times and the expression tree blows
    // past codegen limits. CollapseProject keeps the two projections
    // separate because the fold is not a cheap expression.
    val pf = Tables.lineitem(s, d)
      .select(expr(u).as("u"))
      .select(expr(zipfLadder("u")).as("r0"))
      .groupBy("r0").agg(count(lit(1)).as("f"))
    val phead = pf.orderBy(col("f").desc, col("r0")).limit(ZipfRankCap)
      .select(lit("zipf_plant").as("leg"),
        row_number().over(Window.orderBy(col("f").desc, col("r0")))
          .cast("long").as("r"), col("f"))
    val xy = chead.unionByName(phead)
      .select(col("leg"), log(col("r").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    xy.createOrReplaceTempView("b289_xy")
    s.sql(zipfOlsSql("b289_xy")) // pure double arithmetic — one shared text
  }

  val entries: Seq[Entry] =
    Seq(b162, b163, b168, b169, b171, b190, b193, b233, b235, b279, b289)
}
