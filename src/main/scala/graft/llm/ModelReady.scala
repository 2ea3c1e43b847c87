package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B131 — MODEL-READY CAPSTONE: the last mile of a training-data
  * pipeline, composing the round-11 stages end to end —
  *
  *   B124 token-budget cap (which documents are in the mixture)
  *     → B122 BPE tokenization (what the model actually consumes)
  *       → B97 sequence packing over the BPE id counts
  *         (how the loader slices them into fixed 512-token sequences)
  *
  * — so the output is the manifest a training loader reads: one row per
  * (sequence, document) slice of SUBWORD ids, for exactly the docs the
  * budget admitted. Selection runs on whitespace counts (B124's
  * semantics: mixture budgets are specified pre-tokenizer); packing runs
  * on the BPE id counts (the loader's truth). Docs whose BPE encoding is
  * empty (no ids) carry no training signal and drop before packing —
  * stated convention, mirrored in the oracle.
  *
  * The oracle is the literal composition of the three stages' oracle
  * texts — B124's per-source window, B122's two-stage replace chain
  * (generated from the same frozen resource), B97's naive global-window
  * packing — so the driver hash pins the ENTIRE path, not the stages in
  * isolation: a drift anywhere (budget tie-break, merge table, span
  * arithmetic) breaks the compose.
  *
  * Scale posture is inherited: B124's pruned two-phase scan, B122's
  * map-side codegen tokenization, B97's SinglePartition-free prefix —
  * nothing new moves. */
object ModelReady {

  /** The model-ready chain's oracle CTEs (mr_toks0 → mr_slices),
    * parameterized by the input relation and WITHOUT the leading WITH —
    * the r16 capstone-composition convention (mr_ prefix keeps the names
    * disjoint from the hygiene and card chains B270 composes them with;
    * `kept`/`toks` collided). `mr_slices` is the (seq_id, doc_id,
    * doc_off, n_toks) loader manifest. */
  private[graft] def modelReadyCtesDuck(rel: String): String =
    s"""mr_toks0 AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         ${Winnowing.polyFoldDuck("'cap:' || CAST(doc_id AS VARCHAR)")} AS pri
       |  FROM $rel),
       |mr_offs0 AS (
       |  SELECT doc_id,
       |         CAST(sum(n_tok) OVER (PARTITION BY source
       |                               ORDER BY pri, doc_id
       |                               ROWS UNBOUNDED PRECEDING) - n_tok
       |              AS BIGINT) AS start
       |  FROM mr_toks0),
       |mr_kept AS (SELECT doc_id FROM mr_offs0 WHERE start < ${CorpusBudget.Budget}),
       |mr_st1 AS (
       |  SELECT d.doc_id, ${BpeTokenize.charifyMergesExpr("d.text")} AS w
       |  FROM $rel d JOIN mr_kept USING (doc_id)),
       |mr_ids AS (SELECT doc_id, ${BpeTokenize.idifyExpr("w")} AS ids FROM mr_st1),
       |mr_toks AS (
       |  SELECT doc_id, CAST(len(string_split(ids, ' ')) AS BIGINT) AS n_tok
       |  FROM mr_ids WHERE ids <> ''),
       |mr_offs AS (
       |  SELECT doc_id, n_tok,
       |         CAST(sum(n_tok) OVER (ORDER BY doc_id
       |                               ROWS UNBOUNDED PRECEDING) - n_tok
       |              AS BIGINT) AS start
       |  FROM mr_toks),
       |mr_spans AS (
       |  SELECT doc_id, n_tok, start,
       |         start // ${SequencePack.SeqLen} AS first_seq,
       |         (start + n_tok - 1) // ${SequencePack.SeqLen} AS last_seq
       |  FROM mr_offs),
       |mr_manifest AS (
       |  SELECT unnest(generate_series(first_seq, last_seq)) AS seq_id,
       |         doc_id, n_tok, start
       |  FROM mr_spans),
       |mr_slices AS (
       |  SELECT seq_id, doc_id,
       |         greatest(start, seq_id * ${SequencePack.SeqLen}) - start AS doc_off,
       |         least(start + n_tok, (seq_id + 1) * ${SequencePack.SeqLen})
       |           - greatest(start, seq_id * ${SequencePack.SeqLen}) AS n_toks
       |  FROM mr_manifest)""".stripMargin

  /** The model-ready pipeline's engine side — budget cap → BPE → pack,
    * returning the loader manifest. Shared by b131 and B270's release
    * capstone. Expects (doc_id, source, text). */
  private[graft] def modelReadyManifest(docs: DataFrame): DataFrame = {
    val kept = CorpusBudget.budgetManifest(docs).select("doc_id")
    val toks = docs.join(kept, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr("bpe_encode(text)").as("ids"))
      .filter(col("ids") =!= "")
      .select(col("doc_id"),
        size(split(col("ids"), " ")).cast("long").as("n_tok"))
    SequencePack.packSpans(toks)
  }

  private val b131 = entry(
    "b131_model_ready_pipeline",
    s"""WITH ${modelReadyCtesDuck("documents")}
       |SELECT seq_id, doc_id, doc_off, n_toks
       |FROM mr_slices
       |ORDER BY seq_id, doc_id""".stripMargin, bench = true) { (s, d) =>
    modelReadyManifest(Tables.documents(s, d))
  }

  /** Output shards for the training shuffle. */
  val Shards = 64L

  /** B132 — DETERMINISTIC TRAINING SHUFFLE: loaders must read the corpus
    * in pseudo-random but REPRODUCIBLE order (epoch-0 shuffling is done
    * once at corpus scale, not in the loader), sharded into balanced
    * output files. shard = polyhash("shuf:"‖doc_id) mod S; within-shard
    * position = rank of polyhash("ord:"‖doc_id) — two independent salts
    * of the B56/B59 pure-function-of-the-key rule, so the permutation is
    * rerun-, engine- and partitioning-stable, and adding documents
    * perturbs only their own shard's suffix ranks, not other shards.
    *
    * Scale posture: ONE shuffle keyed by shard (balanced by hashing —
    * expected shard skew is O(√(N/S))), within-shard ordering is a
    * partitioned window (parallelism = S), never a global sort. */
  private val b132 = entry(
    "b132_training_shuffle",
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |         ${Winnowing.polyFoldDuck("'shuf:' || CAST(doc_id AS VARCHAR)")} % $Shards AS shard,
       |         ${Winnowing.polyFoldDuck("'ord:' || CAST(doc_id AS VARCHAR)")} AS k
       |  FROM documents)
       |SELECT shard,
       |       CAST(row_number() OVER (PARTITION BY shard
       |                               ORDER BY k, doc_id) AS BIGINT) AS pos,
       |       doc_id
       |FROM keyed ORDER BY shard, pos""".stripMargin, bench = true) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"),
        expr(s"poly_fold(concat('shuf:', CAST(doc_id AS STRING))) % $Shards")
          .as("shard"),
        expr("poly_fold(concat('ord:', CAST(doc_id AS STRING)))").as("k"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy("shard", "pos")
  }

  val entries: Seq[Entry] = Seq(b131, b132)
}
