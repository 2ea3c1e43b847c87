package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** Perplexity-proxy quality bucketing (SURVEY §2B round-6 row B95) — the
  * CCNet pattern (Wenzek et al. 2020): score each document by its
  * surprisal under a language model trained on the corpus, then split
  * each language into head/middle/tail quality tertiles. CCNet uses a
  * KenLM 5-gram; the deterministic, SQL-expressible stand-in here is a
  * character-trigram LM with Laplace smoothing over the [[LangId]]
  * trigram machinery:
  *
  *   - train split (even doc_ids) → per-(lang, trigram) counts;
  *   - p(tri | lang) = (cnt + 1) / (total + vocab) — add-one smoothing,
  *     so unseen trigrams cost a finite, maximal surprisal;
  *   - per test doc (odd doc_ids): bits = −mean(ln p)/ln 2 over ALL its
  *     trigram occurrences (a log-perplexity, lower = more fluent);
  *   - bucket = ntile(3) per lang over (rounded bits, doc_id) — the
  *     rounded sort key keeps the tertile boundary decision identical
  *     across engines (raw float sums differ at ~1e-13 between Spark's
  *     and DuckDB's summation orders).
  *
  * Scale posture: the model is a (lang, tri, cnt) aggregate bounded by
  * |langs| · |charset|³ — broadcast-sized by construction at trigram
  * order; `gramKeyedModel = true` is the beyond-trigram (KenLM-order)
  * path that shuffles the scoring join keyed on (lang, gram) instead of
  * broadcasting the model. The test side is one explode + join + per-doc
  * aggregate, map-side combinable. No driver materialization.
  */
object Perplexity {

  /** Per-doc surprisal + tertile report over an events-shaped corpus:
    * train on even doc_ids, score odd ones. Exposed so the spec can feed
    * modified corpora (e.g. garbage-injected docs). Output:
    * (doc_id, lang, n_tris, bits, bucket).
    *
    * UNTRAINED-LANGUAGE CONTRACT: a test doc whose lang has NO train-split
    * docs is dropped from the report entirely (the inner `totals` join —
    * same clause in the DuckDB oracle). There is no model to score it
    * against; emitting an invented max-surprisal would silently pollute
    * the tertiles. Callers that must not lose such docs should anti-join
    * the report back against the test split to surface them
    * (PerplexitySpec pins the drop).
    *
    * `gramKeyedModel` is the beyond-trigram scale path the scaladoc above
    * names: at KenLM order (5-grams and up) the model stops being
    * broadcast-sized, so the scoring join shuffles BOTH sides keyed on
    * (lang, gram) instead of broadcasting the model. Result-identical at
    * any order (it is the same left join); equality at trigram order is
    * spec-pinned. `totals` stays broadcast in both modes — it is |langs|
    * rows by construction. */
  def perplexityReport(docs: DataFrame, gramKeyedModel: Boolean = false): DataFrame = {
    val triOf = expr("trigram_hashes(text)")
    val train = docs.filter(col("doc_id") % 2 === 0 && length(col("text")) >= 3)
      .select(col("lang"), explode_outer(triOf).as("tri"))
    val model = train.groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
    val totals = model.groupBy("lang")
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("vocab"))
    val test = docs.filter(col("doc_id") % 2 === 1 && length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode_outer(triOf).as("tri"))
    val modelSide =
      if (gramKeyedModel) model.hint("shuffle_hash") else broadcast(model)
    val scored = test
      .join(modelSide, Seq("lang", "tri"), "left")
      .na.fill(0L, Seq("cnt"))
      .join(broadcast(totals), "lang")
      .select(col("doc_id"), col("lang"),
        log((col("cnt") + 1).cast("double") / (col("total") + col("vocab")))
          .as("lnp"))
    val perDoc = scored.groupBy("doc_id", "lang").agg(
      count(lit(1)).as("n_tris"),
      round(-avg(col("lnp")) / lit(math.log(2.0)), 4).as("bits"))
    val wTile = Window.partitionBy(col("lang")).orderBy(col("bits"), col("doc_id"))
    perDoc
      .withColumn("bucket", ntile(3).over(wTile))
      .orderBy("doc_id")
  }

  /** The B95 CTE chain, `ppl_`-prefixed for verbatim chaining by the
    * B256/B257 ensemble oracle; ends in `ppl_report` — the full per-doc
    * tertile report (doc_id, lang, n_tris, bits, bucket) over the odd-id
    * test split. */
  private[graft] val pplCtesDuck: String =
    """ppl_train_tri AS (
      |  SELECT lang, unnest(list_transform(generate_series(1, length(text) - 2),
      |         i -> ascii(substr(text, i, 1)) * 961
      |            + ascii(substr(text, i + 1, 1)) * 31
      |            + ascii(substr(text, i + 2, 1)))) AS tri
      |  FROM documents WHERE doc_id % 2 = 0 AND length(text) >= 3),
      |ppl_model AS (
      |  SELECT lang, tri, count(*) AS cnt FROM ppl_train_tri GROUP BY 1, 2),
      |ppl_totals AS (
      |  SELECT lang, sum(cnt) AS total, count(*) AS vocab FROM ppl_model
      |  GROUP BY lang),
      |ppl_test_tri AS (
      |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, length(text) - 2),
      |         i -> ascii(substr(text, i, 1)) * 961
      |            + ascii(substr(text, i + 1, 1)) * 31
      |            + ascii(substr(text, i + 2, 1)))) AS tri
      |  FROM documents WHERE doc_id % 2 = 1 AND length(text) >= 3),
      |ppl_scored AS (
      |  SELECT t.doc_id, t.lang,
      |         ln((coalesce(m.cnt, 0) + 1) * 1.0 / (tt.total + tt.vocab)) AS lnp
      |  FROM ppl_test_tri t
      |  LEFT JOIN ppl_model m ON m.lang = t.lang AND m.tri = t.tri
      |  JOIN ppl_totals tt ON tt.lang = t.lang),
      |ppl_perdoc AS (
      |  SELECT doc_id, lang, count(*) AS n_tris,
      |         round(-avg(lnp) / ln(2), 4) AS bits
      |  FROM ppl_scored GROUP BY doc_id, lang),
      |ppl_report AS (
      |  SELECT doc_id, lang, n_tris, bits,
      |         CAST(ntile(3) OVER (PARTITION BY lang ORDER BY bits, doc_id)
      |           AS INTEGER) AS bucket
      |  FROM ppl_perdoc)""".stripMargin

  /** B95 — trigram-LM surprisal + per-lang quality tertiles. */
  private val b95 = entry(
    "b95_text_perplexity",
    s"""WITH $pplCtesDuck
      |SELECT doc_id, lang, n_tris, bits, bucket
      |FROM ppl_report ORDER BY doc_id""".stripMargin, bench = true) { (s, d) =>
    perplexityReport(Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang")))
  }

  val entries: Seq[Entry] = Seq(b95)
}
