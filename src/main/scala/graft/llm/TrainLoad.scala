package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.{QueryScope, WorkDirs}
import graft.sources.Tables

/** Round-12 arc — TRAINING-RUN LOADING AND EVALUATION PLUMBING: the
  * stages between a model-ready corpus (B131/B132) and an actual
  * training/eval run.
  *
  *   - B134 length-bucketed BATCH manifest — padding-minimizing batching
  *     for fine-tuning/inference loaders (docs are NOT packed there; they
  *     pad, so grouping similar lengths is the efficiency lever);
  *   - B135 deterministic train/val/test SPLIT — the hash-rule
  *     assignment every run must reproduce;
  *   - B136 tokenizer FERTILITY report — subwords-per-word and
  *     chars-per-subword by source, the standard tokenizer-quality
  *     measurement (a fertility spike on a source means the vocab
  *     underfits it);
  *   - B137 LM document scoring — each doc scored under the B129
  *     Kneser-Ney bigram LM (the CCNet quality-filter shape, with the
  *     in-engine LM instead of external KenLM), tiered per source;
  *   - B138 CURRICULUM ordering — tiered easy→hard loader order with
  *     deterministic intra-tier shuffle, sharded (the B132 convention);
  *   - B139 streamed twin of B137's scoring (frozen LM, the B104
  *     pattern);
  *   - B140 split-LEAKAGE audit — train docs sharing ≥3 word-8-grams
  *     with the held-out split (B92's decontamination machinery pointed
  *     at the B135 split boundary).
  */
object TrainLoad {

  // ---------------------------------------------------------------- B134

  /** Length-bucket width in whitespace tokens. */
  val LenBucket = 16L

  /** Documents per batch. */
  val BatchDocs = 32L

  /** B134 — length-bucketed batch manifest: bucket docs by
    * `n_tok div LenBucket`, order each bucket by (n_tok, doc_id), cut
    * into BatchDocs-sized batches, and report per batch the padded cost:
    * pad_tokens = n_docs·max_len − sum_tok. Everything is exact BIGINT.
    *
    * Scale posture: one shuffle keyed by the length bucket (bounded
    * cardinality — max doc length / LenBucket), a PARTITIONED window
    * (parallelism = buckets, never SinglePartition), then a
    * map-combinable (bucket, batch) aggregate over skinny rows. The text
    * never moves — only (doc_id, n_tok). */
  def lengthBatches(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("lb", expr(s"n_tok div $LenBucket"))
    val w = Window.partitionBy(col("lb")).orderBy(col("n_tok"), col("doc_id"))
    toks
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_seq", expr(s"CAST((rn - 1) div $BatchDocs AS BIGINT)"))
      .groupBy("lb", "batch_seq")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("max_len"),
        sum(col("n_tok")).as("sum_tok"))
      .withColumn("pad_tokens",
        col("n_docs") * col("max_len") - col("sum_tok"))
      .orderBy("lb", "batch_seq")
  }

  private val b134 = entry(
    "b134_length_bucket_batches",
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |lb AS (SELECT doc_id, n_tok, n_tok // $LenBucket AS lb FROM toks),
       |seqd AS (
       |  SELECT lb, n_tok,
       |         CAST((row_number() OVER (PARTITION BY lb
       |                                  ORDER BY n_tok, doc_id) - 1)
       |              // $BatchDocs AS BIGINT) AS batch_seq
       |  FROM lb)
       |SELECT lb, batch_seq,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(max(n_tok) AS BIGINT) AS max_len,
       |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       |       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_tokens
       |FROM seqd GROUP BY lb, batch_seq
       |ORDER BY lb, batch_seq""".stripMargin) { (s, d) =>
    lengthBatches(Tables.documents(s, d))
  }

  // ---------------------------------------------------------------- B135

  /** Split thresholds in basis points of the 40-bit key space mod 10⁴:
    * train < 9000 ≤ val < 9500 ≤ test. */
  val TrainBp = 9000L
  val ValBp = 9500L

  /** The one split rule (Spark spelling) — pure function of doc_id, so
    * assignment is rerun-, engine- and partitioning-stable, and adding
    * documents never reassigns existing ones (the B56 hash-split rule,
    * here with named splits and a val slice). */
  private def splitCol = expr(
    s"""CASE WHEN poly_fold(concat('split:', CAST(doc_id AS STRING), ':v1')) % 10000
       |       < $TrainBp THEN 'train'
       |     WHEN poly_fold(concat('split:', CAST(doc_id AS STRING), ':v1')) % 10000
       |       < $ValBp THEN 'val'
       |     ELSE 'test' END""".stripMargin)

  /** The same rule in DuckDB. */
  private def splitDuck: String = {
    val h = s"${Winnowing.polyFoldDuck("'split:' || CAST(doc_id AS VARCHAR) || ':v1'")} % 10000"
    s"CASE WHEN $h < $TrainBp THEN 'train' WHEN $h < $ValBp THEN 'val' ELSE 'test' END"
  }

  /** B135 — deterministic corpus split manifest: (doc_id, source, split,
    * n_tok). Pure map-side scalar work — no shuffle but the presentation
    * sort; the manifest is what both the trainer and every eval job read
    * so they can never disagree about membership. */
  def splitManifest(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("source"),
        splitCol.as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .orderBy("doc_id")
  }

  private val b135 = entry(
    "b135_corpus_split",
    s"""SELECT doc_id, source, $splitDuck AS split,
       |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    splitManifest(Tables.documents(s, d))
  }

  // ---------------------------------------------------------------- B136

  /** B136 — tokenizer fertility by source: subwords-per-word and
    * chars-per-subword in integer basis points, under the frozen B122
    * BPE. Fertility (Ács's measure; the SentencePiece/tokenizer-eval
    * convention) is THE signal that a vocab underserves a source — a
    * multilingual corpus shows it immediately on the script the merges
    * were not trained on.
    *
    * Scale posture: tokenization is B122's map-side codegen expression;
    * the per-source rollup partial-aggregates to O(sources) rows. No
    * data-proportional shuffle at all. */
  /** Per-doc tokenization stats (source, words, subwords, chars) — B136
    * aggregates them in batch, B143 folds them through a streamed
    * complete-mode aggregate; the stats are count-source-agnostic (the
    * B125/B133 split). */
  private[llm] def docTokStats(docs: DataFrame): DataFrame = {
    docs.select(col("source"),
        size(split(col("text"), " ")).cast("long").as("words"),
        expr("bpe_encode(text)").as("ids"),
        length(col("text")).cast("long").as("chars"))
      .withColumn("subwords",
        when(col("ids") === "", lit(0L))
          .otherwise(size(split(col("ids"), " ")).cast("long")))
  }

  /** The per-source aggregate over doc stats — shared by batch + stream. */
  private[llm] def fertilityAgg(stats: DataFrame): DataFrame =
    stats.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("n_words"),
        sum(col("subwords")).as("n_subwords"), sum(col("chars")).as("n_chars"))

  /** Presentation tail over the aggregated (source, n_docs, n_words,
    * n_subwords, n_chars) relation. */
  private[llm] def fertilityFromAgg(agg: DataFrame): DataFrame =
    agg
      .withColumn("fertility_bp", expr(
        "CASE WHEN n_words = 0 THEN NULL " +
          "ELSE CAST(n_subwords * 10000 div n_words AS BIGINT) END"))
      .withColumn("chars_per_subword_bp", expr(
        "CASE WHEN n_subwords = 0 THEN NULL " +
          "ELSE CAST(n_chars * 10000 div n_subwords AS BIGINT) END"))
      .orderBy("source")

  def fertilityReport(docs: DataFrame): DataFrame =
    fertilityFromAgg(fertilityAgg(docTokStats(docs)))

  /** B136's oracle — shared VERBATIM by B143's streamed twin (the
    * B125/B133 convention). */
  private def fertilityOracleSql: String =
    s"""WITH st1 AS (
       |  SELECT source, text, ${BpeTokenize.charifyMergesExpr("text")} AS w
       |  FROM documents),
       |ids AS (
       |  SELECT source, text, ${BpeTokenize.idifyExpr("w")} AS ids FROM st1),
       |perdoc AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
       |         CASE WHEN ids = '' THEN CAST(0 AS BIGINT)
       |              ELSE CAST(len(string_split(ids, ' ')) AS BIGINT)
       |         END AS subwords,
       |         CAST(length(text) AS BIGINT) AS chars
       |  FROM ids),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(words) AS BIGINT) AS n_words,
       |         CAST(sum(subwords) AS BIGINT) AS n_subwords,
       |         CAST(sum(chars) AS BIGINT) AS n_chars
       |  FROM perdoc GROUP BY source)
       |SELECT source, n_docs, n_words, n_subwords, n_chars,
       |       CASE WHEN n_words = 0 THEN NULL
       |            ELSE CAST(n_subwords * 10000 // n_words AS BIGINT)
       |       END AS fertility_bp,
       |       CASE WHEN n_subwords = 0 THEN NULL
       |            ELSE CAST(n_chars * 10000 // n_subwords AS BIGINT)
       |       END AS chars_per_subword_bp
       |FROM agg ORDER BY source""".stripMargin

  private val b136 = entry("b136_tokenizer_fertility", fertilityOracleSql) {
    (s, d) => fertilityReport(Tables.documents(s, d))
  }

  // ---------------------------------------------------------------- B137

  /** Per-doc LM scores under the B129 KN bigram model trained on the SAME
    * corpus (self-scoring — the quality-filter configuration, so every
    * bigram is in the model and the inner join is lossless):
    * (doc_id, n_bigrams, sum_kn_fp, score_fp) with score_fp =
    * sum div count in exact micro-units. Docs with < 2 non-empty words
    * have no bigram and drop — stated convention, mirrored in the oracle.
    *
    * Scale posture: the model is O(bigram TYPES) (Zipf-bounded) and
    * BROADCASTS; scoring is one map-side join over the pair explode plus
    * a map-combinable per-doc aggregate. Beyond broadcast size the join
    * re-keys both sides on (w1, w2) — the B95 gramKeyedModel convention
    * applies verbatim. */
  def lmScores(docs: DataFrame): DataFrame =
    NgramLm.bigramPairs(docs)
      .join(broadcast(NgramLm.knTable(docs).select("w1", "w2", "kn_fp")),
        Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("kn_fp")).as("sum_kn_fp"))
      .withColumn("score_fp",
        expr("CAST(sum_kn_fp div n_bigrams AS BIGINT)"))

  /** Shared oracle text for the scoring relation (chains B129's CTEs). */
  private def lmScoreCtesSql: String =
    s"""${NgramLm.knCtesSql},
       |scored AS (
       |  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(sum(k.kn_fp) AS BIGINT) AS sum_kn_fp
       |  FROM pairs p JOIN kn k ON k.w1 = p.w1 AND k.w2 = p.w2
       |  GROUP BY p.doc_id),
       |docscore AS (
       |  SELECT doc_id, n_bigrams, sum_kn_fp,
       |         CAST(sum_kn_fp // n_bigrams AS BIGINT) AS score_fp
       |  FROM scored)""".stripMargin

  /** B137 — LM quality scoring + per-source fluency tiers: tier 1 =
    * most fluent third of each source (ntile over the integer score —
    * deterministic, the B95 rounded-sort-key rule made exact). */
  private val b137 = entry(
    "b137_lm_doc_score",
    s"""WITH $lmScoreCtesSql
       |SELECT s.doc_id, d.source, s.n_bigrams, s.sum_kn_fp, s.score_fp,
       |       CAST(ntile(3) OVER (PARTITION BY d.source
       |                           ORDER BY s.score_fp DESC, s.doc_id)
       |            AS INTEGER) AS tier
       |FROM docscore s JOIN documents d USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin,
    bench = true) { (s, d) =>
    val docs = Tables.documents(s, d)
    val wTier = Window.partitionBy(col("source"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    lmScores(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("tier", ntile(3).over(wTier))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("sum_kn_fp"), col("score_fp"), col("tier"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- B138

  /** Curriculum shards per tier (the B132 sharding rule). */
  val CurriculumShards = 64L

  /** B138 — curriculum ordering manifest: loaders read tier 1 (most
    * fluent) first; within a tier, docs are sharded and pseudo-randomly
    * but reproducibly ordered by an independent salt — easy→hard
    * curriculum with B132's deterministic-shuffle discipline inside each
    * difficulty band. Output (tier, shard, pos, doc_id).
    *
    * Scale posture: scoring inherits B137's plan; the ordering adds ONE
    * shuffle keyed (tier, shard) (parallelism 3·S) and a partitioned
    * window — never a global sort or SinglePartition. */
  private val b138 = entry(
    "b138_curriculum_order",
    s"""WITH $lmScoreCtesSql,
       |tiered AS (
       |  SELECT s.doc_id,
       |         CAST(ntile(3) OVER (PARTITION BY d.source
       |                             ORDER BY s.score_fp DESC, s.doc_id)
       |              AS INTEGER) AS tier
       |  FROM docscore s JOIN documents d USING (doc_id)),
       |keyed AS (
       |  SELECT tier, doc_id,
       |         ${Winnowing.polyFoldDuck("'cur:' || CAST(doc_id AS VARCHAR)")} % $CurriculumShards AS shard,
       |         ${Winnowing.polyFoldDuck("'pos:' || CAST(doc_id AS VARCHAR)")} AS k
       |  FROM tiered)
       |SELECT tier, shard,
       |       CAST(row_number() OVER (PARTITION BY tier, shard
       |                               ORDER BY k, doc_id) AS BIGINT) AS pos,
       |       doc_id
       |FROM keyed ORDER BY tier, shard, pos""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val wTier = Window.partitionBy(col("source"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    val wPos = Window.partitionBy(col("tier"), col("shard"))
      .orderBy(col("k"), col("doc_id"))
    lmScores(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("tier", ntile(3).over(wTier))
      .select(col("doc_id"), col("tier"),
        expr(s"poly_fold(concat('cur:', CAST(doc_id AS STRING))) % $CurriculumShards")
          .as("shard"),
        expr("poly_fold(concat('pos:', CAST(doc_id AS STRING)))").as("k"))
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .select(col("tier"), col("shard"), col("pos"), col("doc_id"))
      .orderBy("tier", "shard", "pos")
  }

  // ---------------------------------------------------------------- B139

  /** B139 — STREAMED LM SCORING (the B104 frozen-model pattern): the KN
    * table trains once on the batch corpus and freezes
    * (localCheckpoint); documents replay in 6 doc_id-ordered chunks;
    * each micro-batch explodes its bigrams map-side against the
    * broadcast model and folds into a complete-mode per-doc aggregate.
    * Oracle is the shared scoring SQL — the streamed fold must be
    * execution-mode-invisible down to the last micro-unit. A doc never
    * splits across chunks, so no bigram straddles a batch boundary. */
  private val b139 = entry(
    "b139_stream_lm_score",
    s"""WITH $lmScoreCtesSql
       |SELECT doc_id, n_bigrams, sum_kn_fp, score_fp
       |FROM docscore ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val model = QueryScope.materialize("model")(NgramLm.knTable(docs).select("w1", "w2", "kn_fp"))
    val dir = WorkDirs("b139_chunks")
    graft.streaming.StreamingOps.writeChunksDf(docs, dir, n = 6,
      sortCols = Seq("doc_id"))
    val stream = graft.streaming.StreamingOps
      .readStream(s, dir, docs.schema)
    val scored = graft.streaming.StreamingOps.runToMemory(
      NgramLm.bigramPairs(stream)
        .join(broadcast(model), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("kn_fp")).as("sum_kn_fp")),
      "b139_replay", "complete")
    scored
      .withColumn("score_fp", expr("CAST(sum_kn_fp div n_bigrams AS BIGINT)"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- B140

  /** Planting stride: eval docs with doc_id % PlantMod = 0 are copied
    * into the train side (ids + PlantBase) as verbatim leakage, the B92
    * convention — the audit must flag every one of them. */
  val PlantMod = 10L
  val PlantBase = 5000000L

  /** B140 — SPLIT-LEAKAGE AUDIT: train-split docs sharing ≥
    * [[Decontaminate.MinOverlap]] distinct word-8-grams with the held-out
    * (val ∪ test) split — B92's [[Decontaminate.overlapReport]] pointed
    * at the B135 split boundary, which is the audit every pre-training
    * run owes its eval numbers. The held-out side is the small one
    * (~10% of the corpus) and BROADCASTS — the direction that scales.
    *
    * Deterministic leakage is PLANTED (eval docs re-keyed into train),
    * and organic near-dup pairs that straddle the split surface as the
    * true positives the audit exists for. */
  private val b140 = entry(
    "b140_split_leakage",
    s"""WITH docs AS (
       |  SELECT doc_id, text,
       |         ${Winnowing.polyFoldDuck("'split:' || CAST(doc_id AS VARCHAR) || ':v1'")} % 10000 AS h
       |  FROM documents),
       |train AS (
       |  SELECT doc_id, text FROM docs WHERE h < $TrainBp
       |  UNION ALL
       |  SELECT doc_id + $PlantBase, text FROM docs
       |  WHERE h >= $TrainBp AND doc_id % $PlantMod = 0),
       |ev AS (SELECT doc_id, text FROM docs WHERE h >= $TrainBp),
       |egrams AS (
       |  SELECT DISTINCT unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${Decontaminate.GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${Decontaminate.GramWords - 1}], ' ')))) AS gram
       |  FROM ev
       |  WHERE len(string_split(text, ' ')) >= ${Decontaminate.GramWords}),
       |tgrams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${Decontaminate.GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${Decontaminate.GramWords - 1}], ' ')))) AS gram
       |  FROM train
       |  WHERE len(string_split(text, ' ')) >= ${Decontaminate.GramWords})
       |SELECT doc_id, count(*) AS overlap_ngrams,
       |       count(*) >= ${Decontaminate.MinOverlap} AS contaminated
       |FROM tgrams JOIN egrams USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("h",
        expr("poly_fold(concat('split:', CAST(doc_id AS STRING), ':v1')) % 10000"))
    val train = docs.filter(col("h") < TrainBp).select("doc_id", "text")
    val heldOut = docs.filter(col("h") >= TrainBp).select("doc_id", "text")
    val planted = heldOut.filter(col("doc_id") % PlantMod === 0)
      .select((col("doc_id") + PlantBase).as("doc_id"), col("text"))
    Decontaminate.overlapReport(train.unionByName(planted), heldOut)
  }

  // ---------------------------------------------------------------- B141

  /* Epochs per fluency tier — 4×/2×/1× for tiers 1/2/3, spelled as the
     shared CASE in both engines below: quality-weighted repetition, the
     data-constrained-scaling doctrine (Muennighoff et al. '23: when the
     token budget exceeds unique data, repeat the high-quality slice up
     to ~4 epochs before quality degrades). Mass-ratio scheduling would
     be vacuous on this corpus (source masses are near-uniform), so the
     repeat signal is the B137 per-source MEAN LM score — real spread,
     guaranteed by the tiering. */

  /** B141 — QUALITY-WEIGHTED EPOCH SCHEDULE: per-source mean KN score
    * (exact integer micro-units: Σ sum_kn_fp div Σ n_bigrams), sources
    * ntile(3)-tiered globally, epochs 4/2/1 by tier, and the doc-level
    * repetition manifest (doc_id, source, epoch, n_tok) a loader reads.
    *
    * Scale posture: the per-source rollup is O(sources) rows and its
    * ordering window runs over those rows only (|sources|-scale, not
    * corpus-scale); the manifest explode is map-side off a broadcast
    * epochs join — docs never shuffle to be repeated. */
  private val b141 = entry(
    "b141_quality_epoch_schedule",
    s"""WITH $lmScoreCtesSql,
       |srcscore AS (
       |  SELECT d.source,
       |         CAST(sum(s.sum_kn_fp) // sum(s.n_bigrams) AS BIGINT)
       |           AS mean_fp
       |  FROM docscore s JOIN documents d USING (doc_id)
       |  GROUP BY d.source),
       |tiers AS (
       |  SELECT source, mean_fp,
       |         CAST(ntile(3) OVER (ORDER BY mean_fp DESC, source)
       |              AS INTEGER) AS tier
       |  FROM srcscore),
       |epochs AS (
       |  SELECT source, tier,
       |         CASE tier WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END AS n_epochs
       |  FROM tiers)
       |SELECT d.doc_id, d.source,
       |       CAST(unnest(generate_series(1, e.n_epochs)) AS INT) AS epoch,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
       |FROM documents d JOIN epochs e USING (source)
       |ORDER BY d.doc_id, epoch""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val srcScore = lmScores(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum(col("sum_kn_fp")).as("sfp"), sum(col("n_bigrams")).as("nb"))
      .withColumn("mean_fp", expr("CAST(sfp div nb AS BIGINT)"))
    val wTier = Window.orderBy(col("mean_fp").desc, col("source"))
    val epochs = srcScore
      .withColumn("tier", ntile(3).over(wTier))
      .withColumn("n_epochs", expr(
        "CASE tier WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END"))
      .select("source", "n_epochs")
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(broadcast(epochs), "source")
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("n_epochs"))).as("epoch"), col("n_tok"))
      .orderBy("doc_id", "epoch")
  }

  // ---------------------------------------------------------------- B143

  /** B143 — STREAMED TOKENIZER FERTILITY: B136's report from a
    * complete-mode streamed fold of the per-doc stats (6-chunk replay,
    * the B133 convention), presented through the SHARED
    * [[fertilityFromAgg]] tail. Oracle is B136's SQL verbatim — the
    * continuously-maintained tokenizer-health dashboard over an
    * ingesting corpus. Streaming state is O(sources) counters; each
    * batch tokenizes map-side before touching state. */
  private val b143 = entry("b143_stream_fertility", fertilityOracleSql) {
    (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val dir = WorkDirs("b143_chunks")
      graft.streaming.StreamingOps.writeChunksDf(docs, dir, n = 6,
        sortCols = Seq("doc_id"))
      val agg = graft.streaming.StreamingOps.runToMemory(
        fertilityAgg(docTokStats(
          graft.streaming.StreamingOps.readStream(s, dir, docs.schema))),
        "b143_replay", "complete")
      fertilityFromAgg(agg)
  }

  /** B230 — CLASS-BALANCED DOWNSAMPLING (the equal-per-label training
    * set behind language-ID / classifier training; the per-LABEL
    * counterpart of b135's random split and b98's source rebalance):
    * every language keeps exactly n_min = min class size docs, chosen as
    * the bottom-n_min of the SCRAMBLED doc-id hash per label — the
    * SCALE.md §3.9 rule: a raw polyFold/id selector keeps contiguous id
    * RUNS (newest-crawl bias); the Knuth scramble makes the sample
    * id-uniform while staying derandomized (rerun/engine/partition
    * stable). The en-heavy corpus (193/70/80/82/74 at sf0.001) makes the
    * balance provably binding.
    *
    * Scale posture: one map-combinable label count + O(|labels|) min
    * broadcast + one label-partitioned rank window over the corpus
    * (state = the running rank; the b28 argument per label). */
  private val b230 = entry(
    "b230_class_balanced_sample",
    """WITH lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang),
      |nm AS (SELECT CAST(min(n) AS BIGINT) AS n_min FROM lc),
      |r AS (
      |  SELECT lang, doc_id,
      |         CAST(row_number() OVER (PARTITION BY lang
      |                 ORDER BY ((doc_id % 2147483648) * 2654435761)
      |                          % 2147483648, doc_id)
      |              AS BIGINT) AS rn
      |  FROM documents)
      |SELECT r.lang, r.rn, r.doc_id
      |FROM r CROSS JOIN nm WHERE r.rn <= nm.n_min
      |ORDER BY r.lang, r.rn""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("lang", "doc_id")
    val nm = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("n_min"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(expr("((doc_id % 2147483648) * 2654435761) % 2147483648"),
        col("doc_id"))
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .crossJoin(broadcast(nm))
      .filter(col("rn") <= col("n_min"))
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  val entries: Seq[Entry] =
    Seq(b134, b135, b136, b137, b138, b139, b140, b141, b143, b230)
}
