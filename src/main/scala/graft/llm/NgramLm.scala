package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B129 — KNESER-NEY BIGRAM LM TRAINING (Kneser & Ney '95, the smoothing
  * KenLM implements and CCNet-style pipelines train their filtering
  * models with): the per-bigram statistics table a backoff LM needs —
  * raw count, left-context total, follower fanout N1+(w1,·),
  * continuation count N1+(·,w2) — plus the interpolated-KN probability
  *
  *   P(w2|w1) = max(c−D,0)/c(w1) + D·N1+(w1,·)/c(w1) · N1+(·,w2)/B
  *
  * with discount D = ¾ carried EXACTLY in integer micro-units
  * (scale 10⁶): with D = 3/4 every term clears denominators —
  * max(4c−3,0)·10⁶ div 4c(w1)  +  3·N1+(w1,·)·pcont div 4c(w1), where
  * pcont = N1+(·,w2)·10⁶ div B — so both engines walk identical BIGINT
  * arithmetic and the driver hash pins every probability. Documented
  * bound: exact up to c(w1,w2) ≲ 2.3·10¹² (4c·10⁶ at BIGINT range);
  * beyond that, rescale the fixed point (the b98 rule).
  *
  * Scale posture (100 TB): the token explode collapses map-side into the
  * (w1, w2) count agg — every downstream relation is O(bigram TYPES)
  * (Zipf-bounded), never O(tokens). The three model aggregates re-key the
  * TYPE table by w1 / by w2 (map-combinable, vocab-sized), and the two
  * enrichment joins are keyed on exactly those columns, so each is one
  * vocab-sized shuffle; B (distinct bigram types) is a one-row broadcast.
  * The top-500 presentation is TakeOrdered, not a global sort.
  *
  * The FULL table ([[knTable]]) and the oracle CTE chain ([[knCtesSql]])
  * are exposed for downstream consumers — B137 scores documents under
  * this LM, B139 is its streamed twin — so the model algebra has exactly
  * one spelling per engine. */
object NgramLm {

  /** Fixed-point probability scale (micro-units). */
  private[llm] val P = 1000000L

  /** Rows reported by B129 (top by count — the model head; the full
    * table is the write-out artifact in production). */
  private val Top = 500

  /** Per-doc bigram pairs (doc_id, w1, w2) — the one Spark spelling of
    * "consecutive word pairs", shared by training, scoring, and the B161
    * streamed fold. */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))))).as("p"))
      .select(col("doc_id"), col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")

  /** The FULL KN statistics table, unordered:
    * (w1, w2, c, cw1, n1w1, cont2, kn_fp). */
  def knTable(docs: DataFrame): DataFrame = {
    val bg = bigramPairs(docs)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val left = bg.groupBy("w1").agg(
      sum(col("c")).as("cw1"), count(lit(1)).as("n1w1"))
    val cont = bg.groupBy("w2").agg(count(lit(1)).as("cont2"))
    val btypes = bg.agg(count(lit(1)).as("b"))
    bg.join(left, "w1").join(cont, "w2").crossJoin(broadcast(btypes))
      .withColumn("kn_fp", expr(
        s"greatest(4 * c - 3, 0) * $P div (4 * cw1) + " +
          s"3 * n1w1 * (cont2 * $P div b) div (4 * cw1)"))
      .select(col("w1"), col("w2"), col("c"), col("cw1"), col("n1w1"),
        col("cont2"), col("kn_fp"))
  }

  /** The KN statistics table: B129's top-`Top` presentation. */
  def knBigrams(docs: DataFrame): DataFrame =
    knTable(docs).orderBy(col("c").desc, col("w1"), col("w2")).limit(Top)

  /** Shared oracle CTE chain ending in `kn(w1, w2, c, cw1, n1w1, cont2,
    * kn_fp)` — B129 takes its head, B137/B139 join scoring against it.
    * `toks(doc_id, t)` and `pairs(doc_id, w1, w2)` are also in scope for
    * consumers. */
  private[llm] def knCtesSql: String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pairs AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
       |  WHERE t[i] <> '' AND t[i + 1] <> ''),
       |bg AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
       |  FROM pairs GROUP BY w1, w2),
       |lft AS (
       |  SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
       |         CAST(count(*) AS BIGINT) AS n1w1
       |  FROM bg GROUP BY w1),
       |cont AS (
       |  SELECT w2, CAST(count(*) AS BIGINT) AS cont2 FROM bg GROUP BY w2),
       |btypes AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bg),
       |kn AS (
       |  SELECT w1, w2, c, cw1, n1w1, cont2,
       |         CAST(greatest(4 * c - 3, 0) * $P // (4 * cw1) +
       |              3 * n1w1 * (cont2 * $P // b) // (4 * cw1)
       |              AS BIGINT) AS kn_fp
       |  FROM bg JOIN lft USING (w1) JOIN cont USING (w2), btypes)""".stripMargin

  private val b129 = entry(
    "b129_kneser_ney_bigram",
    s"""WITH $knCtesSql
       |SELECT w1, w2, c, cw1, n1w1, cont2, kn_fp
       |FROM kn ORDER BY c DESC, w1, w2 LIMIT $Top""".stripMargin,
    bench = true) { (s, d) =>
    knBigrams(Tables.documents(s, d))
  }

  /** B158 parameters: min bigram support (Mikolov et al. 2013's δ — kills
    * one-off pairings) and the presentation cut. */
  private val MinSupport = 5L
  private val CollocTop = 50

  /** B158 — PMI-LIFT COLLOCATION MINING (the word2vec phrase-harvesting
    * statistic, Mikolov et al. NIPS'13 §4; equivalently exp(PMI)): for
    * every adjacent bigram, lift = c(w1,w2)·N / (c(w1,·)·c(·,w2)) over
    * the bigram-token relation — how much more often the pair co-occurs
    * than its marginals predict. Carried EXACTLY in integer fixed point
    * as a committed two-stage floor,
    *   lift_bp = (c12·10⁸ div c1) · N div (c2·10⁴),
    * so both engines walk identical BIGINT arithmetic (first stage ≤ 10⁸
    * since c12 ≤ c1; documented bound: exact up to N ≲ 9·10¹⁰ bigram
    * tokens, past which rescale the fixed point — the b98/b129 rule).
    * Support filter c ≥ [[MinSupport]]; top-[[CollocTop]] by (lift DESC,
    * w1, w2). This is the phrase inventory a tokenizer-training or
    * stopword-pruning pass consumes.
    *
    * Scale posture: reuses [[bigramPairs]]'s map-side-collapsing explode;
    * marginals are two vocab-sized re-keyings of the TYPE table (map-
    * combinable); N is a one-row broadcast; presentation is TakeOrdered,
    * never a global sort. */
  /** The lift/rank tail over an already-aggregated (w1, w2, c) bigram
    * TYPE table — shared by B158 (batch) and B161 (streamed fold), so
    * batch and stream cannot drift. */
  def liftFromBigrams(bgIn: DataFrame, minSupport: Long = MinSupport,
      top: Int = CollocTop): DataFrame = {
    val bg = QueryScope.materialize("bg")(bgIn) // feeds both marginals + N + the join
    val mleft = bg.groupBy("w1").agg(sum(col("c")).as("c1"))
    val mright = bg.groupBy("w2").agg(sum(col("c")).as("c2"))
    val ntok = bg.agg(sum(col("c")).as("n"))
    bg.filter(col("c") >= minSupport)
      .join(mleft, "w1").join(mright, "w2").crossJoin(broadcast(ntok))
      .withColumn("lift_bp",
        expr("(c * 100000000 div c1) * n div (c2 * 10000)"))
      .select(col("w1"), col("w2"), col("c"), col("c1"), col("c2"),
        col("lift_bp"))
      .orderBy(col("lift_bp").desc, col("w1"), col("w2"))
      .limit(top)
  }

  /** The ranked collocation table over an arbitrary documents frame
    * (spec hook + the b158 body). */
  def liftCollocations(docs: DataFrame, minSupport: Long = MinSupport,
      top: Int = CollocTop): DataFrame =
    liftFromBigrams(
      bigramPairs(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c")),
      minSupport, top)

  /** B158's oracle — shared VERBATIM by B161 (the twin convention). */
  private[graft] def collocOracleSql: String =
    s"""WITH $knCtesSql,
       |mleft AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM bg GROUP BY w1),
       |mright AS (SELECT w2, CAST(sum(c) AS BIGINT) AS c2 FROM bg GROUP BY w2),
       |ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bg)
       |SELECT w1, w2, c, c1, c2,
       |       CAST((c * 100000000 // c1) * n // (c2 * 10000) AS BIGINT)
       |         AS lift_bp
       |FROM bg JOIN mleft USING (w1) JOIN mright USING (w2), ntok
       |WHERE c >= $MinSupport
       |ORDER BY lift_bp DESC, w1, w2 LIMIT $CollocTop""".stripMargin

  private val b158 = entry("b158_pmi_collocations", collocOracleSql) {
    (s, d) => liftCollocations(Tables.documents(s, d))
  }

  /** B164 window radius (forward offsets 1..W — the asymmetric word2vec
    * window; symmetric counts are the same table with (w1,w2) swapped
    * rows added, a presentation choice, not new information). */
  private[graft] val CoocWindow = 3

  /** Per-doc windowed co-occurrence pairs (doc_id, w1, w2): (t[i], t[i+j])
    * for j = 1..[[CoocWindow]] — the word2vec/GloVe context-window
    * relation, of which [[bigramPairs]] is the W=1 special case. */
  private[graft] def windowPairs(docs: DataFrame, window: Int = CoocWindow): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), greatest(size(col("t")) - 1, lit(1)))).as("i"))
      .select(col("doc_id"), col("i"),
        element_at(col("t"), col("i")).as("w1"),
        explode(expr(
          s"slice(t, i + 1, least($window, size(t) - i))")).as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .select(col("doc_id"), col("w1"), col("w2"))

  /** B164 — WINDOWED PPMI CO-OCCURRENCE (the word2vec/GloVe statistics
    * table, Mikolov '13 / Pennington '14; Levy & Goldberg NIPS'14 showed
    * SGNS factorizes exactly this shifted-PMI matrix): B158's lift over
    * context-window pairs instead of adjacent bigrams — the input matrix
    * distributional embeddings are trained from. Reuses
    * [[liftFromBigrams]] VERBATIM (the algebra is pair-source-agnostic),
    * so the window relation is the only new code on either engine.
    *
    * Scale posture: the explode is O(tokens·W) and collapses map-side
    * into the (w1, w2) TYPE aggregate exactly like B129/B158; everything
    * downstream is vocabulary-scale. */
  private val b164 = entry(
    "b164_ppmi_cooccurrence",
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pairs AS (
       |  SELECT doc_id, t[i] AS w1, t[i + j] AS w2
       |  FROM toks,
       |       UNNEST(generate_series(1, len(t) - 1)) AS g(i),
       |       UNNEST(generate_series(1, $CoocWindow)) AS h(j)
       |  WHERE i + j <= len(t) AND t[i] <> '' AND t[i + j] <> ''),
       |bg AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
       |  FROM pairs GROUP BY w1, w2),
       |mleft AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM bg GROUP BY w1),
       |mright AS (SELECT w2, CAST(sum(c) AS BIGINT) AS c2 FROM bg GROUP BY w2),
       |ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bg)
       |SELECT w1, w2, c, c1, c2,
       |       CAST((c * 100000000 // c1) * n // (c2 * 10000) AS BIGINT)
       |         AS lift_bp
       |FROM bg JOIN mleft USING (w1) JOIN mright USING (w2), ntok
       |WHERE c >= $MinSupport
       |ORDER BY lift_bp DESC, w1, w2 LIMIT $CollocTop""".stripMargin,
    bench = true) {
    (s, d) =>
      liftFromBigrams(
        windowPairs(Tables.documents(s, d))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c")))
  }

  val entries: Seq[Entry] = Seq(b129, b158, b164)
}
