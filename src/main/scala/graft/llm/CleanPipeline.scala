package graft.llm

import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** The corpus-CLEANING capstone (SURVEY §2B round-6 row B94) — the hygiene
  * half of the pipeline b57 predates, composed in production order:
  *
  *   1. repeated-span removal ([[SpanDedup]], B93) — verbatim re-used
  *      word-5-gram spans deleted corpus-wide (keep-first); docs cleaned
  *      to empty are dropped;
  *   2. benchmark decontamination ([[Decontaminate]], B92) — cleaned docs
  *      sharing ≥ 3 word-8-grams with the held-out benchmark set dropped;
  *   3. exact dedup (B42's rule) — one survivor per distinct cleaned
  *      text, canonical min doc_id;
  *   4. per-language rollup — (lang, n_docs, n_words) of what remains.
  *
  * Every stage is exact, so the WHOLE composition is hash-checked against
  * one chained-CTE oracle — the point (as with b57) is that the stages
  * COMPOSE into the job a user actually runs, not just pass in isolation.
  * Stage order matters and is pinned by the hash: decontamination sees
  * CLEANED text (span removal can delete the very spans that overlap the
  * benchmark — the doc-332 organic leak is partially cleaned by stage 1),
  * and dedup sees post-decontamination survivors.
  *
  * Shuffle budget = the stages' own: one gram-keyed shuffle + per-doc
  * rebuild (B93), one broadcast join + per-doc agg (B92), one digest-keyed
  * agg (B42), one |langs|-row rollup. Nothing new moves.
  */
object CleanPipeline {

  /** The hygiene chain's oracle CTEs (dw → deduped), WITHOUT the leading
    * WITH — the r16 capstone-composition convention, so composed entries
    * chain them VERBATIM (B270's release, B272's two-snapshot diff). The
    * defaults reproduce the b94 text byte for byte; `rel`/`pfx` let one
    * oracle instantiate the chain over several input snapshots with
    * disjoint CTE names. `${pfx}deduped` (doc_id, text) is the released
    * corpus. */
  private[graft] def hygieneCtesDuck(rel: String = "documents",
      pfx: String = ""): String =
    s"""${pfx}dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM $rel),
       |${pfx}words AS (
       |  SELECT doc_id, u['pos'] AS pos, u['word'] AS word FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
       |      i -> {'pos': i - 1, 'word': w[i]})) AS u
       |    FROM ${pfx}dw)),
       |${pfx}occ AS (
       |  SELECT doc_id, u['pos'] AS pos, u['gram'] AS gram FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(w) - ${SpanDedup.SpanWords - 1}),
       |      i -> {'pos': i - 1,
       |            'gram': array_to_string(w[i:i + ${SpanDedup.SpanWords - 1}], ' ')})) AS u
       |    FROM ${pfx}dw WHERE len(w) >= ${SpanDedup.SpanWords})),
       |${pfx}gram_stats AS (
       |  SELECT gram, count(*) AS cnt,
       |         min(struct_pack(doc_id := doc_id, pos := pos)) AS first
       |  FROM ${pfx}occ GROUP BY gram),
       |${pfx}dup_occ AS (
       |  SELECT o.doc_id, o.pos
       |  FROM ${pfx}occ o JOIN ${pfx}gram_stats g USING (gram)
       |  WHERE g.cnt > 1
       |    AND NOT (o.doc_id = g.first['doc_id'] AND o.pos = g.first['pos'])),
       |${pfx}covered AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(generate_series(pos, pos + ${SpanDedup.SpanWords - 1})) AS pos
       |  FROM ${pfx}dup_occ),
       |${pfx}kept AS (
       |  SELECT w.doc_id, w.pos, w.word FROM ${pfx}words w
       |  ANTI JOIN ${pfx}covered c ON w.doc_id = c.doc_id AND w.pos = c.pos),
       |${pfx}cleaned AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text
       |  FROM ${pfx}kept GROUP BY doc_id),
       |${pfx}bench AS (SELECT doc_id, text FROM $rel WHERE doc_id % 40 = 0),
       |${pfx}bgrams AS (
       |  SELECT DISTINCT unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${Decontaminate.GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${Decontaminate.GramWords - 1}], ' ')))) AS gram
       |  FROM ${pfx}bench WHERE len(string_split(text, ' ')) >= ${Decontaminate.GramWords}),
       |${pfx}corpus AS (SELECT doc_id, text FROM ${pfx}cleaned WHERE doc_id % 40 <> 0),
       |${pfx}cgrams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - ${Decontaminate.GramWords - 1}),
       |    i -> array_to_string(string_split(text, ' ')[i:i + ${Decontaminate.GramWords - 1}], ' ')))) AS gram
       |  FROM ${pfx}corpus WHERE len(string_split(text, ' ')) >= ${Decontaminate.GramWords}),
       |${pfx}contaminated AS (
       |  SELECT doc_id FROM ${pfx}cgrams JOIN ${pfx}bgrams USING (gram)
       |  GROUP BY doc_id HAVING count(*) >= ${Decontaminate.MinOverlap}),
       |${pfx}survivors AS (
       |  SELECT doc_id, text FROM ${pfx}corpus
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ${pfx}contaminated)),
       |${pfx}deduped AS (
       |  SELECT min(doc_id) AS doc_id, text
       |  FROM ${pfx}survivors GROUP BY text)""".stripMargin

  /** The hygiene pipeline's engine side — stages 1-3 of b94 (span
    * removal → decontamination → exact dedup), returning the RELEASED
    * corpus (doc_id, text), EAGERLY CHECKPOINTED (r21): every caller
    * (b94's rollup, B270's release capstone, B272's two snapshots,
    * B291's streamed gate, B297's calibration) fans the release out to
    * at least two consumers or materializes it immediately, so the
    * checkpoint lives here and the whole chain — span persist, stats,
    * dup probe, per-doc rebuild, decontamination, dedup — executes as
    * ONE job instead of a span-checkpoint job followed by a chain job
    * (the r21 b270 phase probe measured the two-job shape at 2.7 + 1.5 s
    * wall). The span relations are persisted in this function's own
    * [[graft.exec.QueryScope]], which releases them when it returns or
    * fails, so nothing persisted escapes. Shared by all five so they
    * cannot drift. Expects (doc_id, text).
    *
    * NEGATIVE RESULT (r20 A/B at sf0.1/32, still binding): spreading
    * the one-split parquet input across defaultParallelism before the
    * span pass measured 4.1 -> 67-71 executor-CPU s — the span pass's
    * own width now comes from the occ size rule inside
    * [[SpanDedup.removeRepeatedSpansShared]]. */
  private[graft] def hygieneRelease(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = QueryScope("hygieneRelease") {
    // 1. span removal over the plain corpus; FULLY-DELETED docs drop out.
    // "Fully deleted" is n_removed = n_words (zero kept words), NOT
    // clean_text = "" — an originally-empty doc also has empty clean_text
    // (its single empty token is never span-covered) but keeps its row in
    // the oracle's kept/cleaned CTEs, so it must survive here too.
    // cleaned is consumed twice (the decontamination gram explode and the
    // survivor anti-join's left side); both consumers share the span
    // pass's persisted per-doc covered relation, so the re-run is the
    // cheap doc-keyed rebuild join only.
    val cleaned = SpanDedup
      .removeRepeatedSpansShared(docs.select(col("doc_id"), col("text")))
      .filter(col("n_removed") < col("n_words"))
      .select(col("doc_id"), col("clean_text").as("text"))
    // 2. decontamination on CLEANED text vs the original benchmark split
    val bench = docs.filter(col("doc_id") % 40 === 0).select(col("doc_id"), col("text"))
    val corpus = cleaned.filter(col("doc_id") % 40 =!= 0)
    val contaminated = Decontaminate.overlapReport(corpus, bench)
      .filter(col("contaminated")).select(col("doc_id"))
    val survivors = corpus.join(contaminated, Seq("doc_id"), "left_anti")
    // 3. exact dedup on the cleaned text, canonical min id
    QueryScope.materialize("rel")(survivors.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text")))
  }

  private val b94 = entry(
    "b94_clean_pipeline",
    s"""WITH ${hygieneCtesDuck()}
       |SELECT d.lang, count(*) AS n_docs,
       |       CAST(sum(len(string_split(k.text, ' '))) AS BIGINT) AS n_words
       |FROM deduped k JOIN documents d ON d.doc_id = k.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin, bench = true) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    // 4. per-language rollup of the kept corpus
    hygieneRelease(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_words"))
      .orderBy("lang")
  }

  val entries: Seq[Entry] = Seq(b94)
}
