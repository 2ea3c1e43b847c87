package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Registry._
import graft.sources.Tables

/** HYBRID RETRIEVAL (SURVEY §2B row B110) — reciprocal-rank fusion of a
  * semantic (embedding-cosine) ranking and a lexical (token-Jaccard)
  * ranking per probe document: the standard two-tower fusion of a RAG /
  * training-data search stack (Cormack et al.'s RRF: score =
  * Σ 1/(60+rank), missing list contributes 0).
  *
  * Determinism contract (everything the t2 hash depends on):
  *   - the SEMANTIC rank orders by `round(cos, 4)` with a neighbor_id
  *     tiebreak — the b95/b107 rule. HybridSpec measures every cosine's
  *     distance from its 4dp boundary (≥3.6e-9 at sf0.01, ≥1.0e-9 at
  *     sf0.1, round-9 DuckDB sweep) — orders of magnitude above
  *     cross-engine float drift, so the rounded keys are engine-identical;
  *   - the LEXICAL rank needs NO rounding: Jaccard = i/(szP+szN−i) is one
  *     correctly-rounded IEEE division of exact BIGINTs — bit-identical in
  *     any engine — ordered with the same tiebreak;
  *   - the FUSED score is a sum of two doubles each of the form
  *     1/(60+rank) of engine-identical INT ranks — bit-identical again, so
  *     ranking by the raw score is safe and `round(score, 6)` only
  *     formats the output.
  *
  * Scale posture (100 TB): both towers are probe-pruned — the cosine side
  * broadcasts the probe vectors and streams the corpus map-side (b44's
  * shape, one narrow pass + per-probe top-k window); the Jaccard side
  * broadcasts the probes' token sets and intersects ONLY pairs sharing a
  * term (sparse inverted intersection, never |probes|×|corpus| dense), and
  * both rank windows partition by probe_id. The fusion join touches
  * O(|probes|·K) rows. For large probe sets the cosine tower swaps to the
  * IVF/PQ path (B84) and the Jaccard tower to MinHash candidates (B43) —
  * fusion is unchanged, which is the point of rank-based scoring.
  *
  * Stopword skew-cap (round-10, VERDICT r9 item 6): raw `term` is a skewed
  * key — a stopword present in ~every document would make the sparse
  * intersection degenerate to |probes|×|corpus| dense. [[dfKeptTokens]]
  * drops terms whose document frequency exceeds 90% of the corpus BEFORE
  * pair generation, via a broadcast ANTI join (the capped set is provably
  * tiny — at most avgDocLen/0.9 terms can each cover >90% of docs — so the
  * token table itself never shuffles). The predicate `df*10 > ndocs*9` is
  * exact BIGINT arithmetic, engine-identical, and NON-BINDING on the
  * testdata (max df ≈ 0.8×ndocs at sf0.001/0.01/0.1, measured 2026-08-13),
  * so the t2 hash is unchanged; the DuckDB oracle applies the same filter.
  * Such >90%-df terms carry ~zero Jaccard discrimination (they shift every
  * pair's intersection almost uniformly), which is why dropping them is the
  * standard stopword-removal semantics rather than an approximation knob.
  * SkewCapSpec pins: bounded pair counts on a planted stopword corpus, and
  * capped ≡ uncapped on the real corpus.
  */
object Hybrid {

  /** Per-modality ranking depth fed into the fusion. */
  private val K = 50

  /** The standard RRF dampening constant (Cormack et al.). */
  private val RrfK = 60

  private val NProbes = 10

  /** RRF contribution of one rank column — shared SQL text so Spark and
    * DuckDB evaluate the identical float expression (1e0/0e0 are DOUBLE
    * literals in both dialects). */
  private def rrfTerm(rn: String): String =
    s"coalesce(1e0 / ($RrfK + $rn), 0e0)"

  /** Jaccard over distinct token sets — one IEEE division of exact
    * BIGINTs, shared as SQL text (no rounding needed for rank identity). */
  private def jaccardExpr: String = "CAST(i AS DOUBLE) / (sz_p + sz_n - i)"

  /** Stopword df-cap: remove terms present in more than 90% of documents
    * from a distinct (doc_id, term) token table — see the class scaladoc.
    * Shape: the CAPPED term set (bounded by avgDocLen/0.9 rows) is
    * broadcast into a LEFT ANTI join, so the token table is filtered
    * map-side with no shuffle and no skewed-key join. */
  def dfKeptTokens(toksd: DataFrame): DataFrame = {
    val nd = toksd.agg(countDistinct(col("doc_id")).as("ndocs"))
    val capped = toksd.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") * 10 > col("ndocs") * 9)
      .select("term")
    toksd.join(broadcast(capped), Seq("term"), "left_anti")
  }

  /** B110 — RRF-fused top-10 neighbors per probe doc (doc_id < 10). */
  private val b110 = entry(
    "b110_hybrid_rrf",
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |cosp AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         round(list_dot_product(p.v, c.v) / (p.norm * c.norm), 4) AS cos4
       |  FROM v p JOIN v c ON p.vec_id < $NProbes AND p.vec_id <> c.vec_id),
       |sem AS (
       |  SELECT probe_id, neighbor_id, rn_s FROM (
       |    SELECT probe_id, neighbor_id,
       |           row_number() OVER (PARTITION BY probe_id
       |             ORDER BY cos4 DESC, neighbor_id) AS rn_s
       |    FROM cosp) t WHERE rn_s <= $K),
       |toksd0 AS (SELECT DISTINCT doc_id, term FROM (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
       |nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM toksd0),
       |tdf AS (SELECT term, count(*) AS df FROM toksd0 GROUP BY 1),
       |toksd AS (SELECT t.doc_id, t.term FROM toksd0 t
       |  JOIN tdf USING (term) CROSS JOIN nd WHERE df * 10 <= ndocs * 9),
       |sz AS (SELECT doc_id, count(*) AS sz FROM toksd GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS probe_id, b.doc_id AS neighbor_id, count(*) AS i
       |  FROM toksd a JOIN toksd b USING (term)
       |  WHERE a.doc_id < $NProbes AND b.doc_id <> a.doc_id
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT probe_id, neighbor_id, rn_l FROM (
       |    SELECT probe_id, neighbor_id,
       |           row_number() OVER (PARTITION BY probe_id
       |             ORDER BY $jaccardExpr DESC, neighbor_id) AS rn_l
       |    FROM inter
       |    JOIN (SELECT doc_id AS probe_id, sz AS sz_p FROM sz) USING (probe_id)
       |    JOIN (SELECT doc_id AS neighbor_id, sz AS sz_n FROM sz) USING (neighbor_id)
       |  ) t WHERE rn_l <= $K),
       |fused AS (
       |  SELECT probe_id, neighbor_id,
       |         ${rrfTerm("rn_s")} + ${rrfTerm("rn_l")} AS score
       |  FROM sem FULL JOIN lex USING (probe_id, neighbor_id))
       |SELECT probe_id, rn, neighbor_id, round(score, 6) AS rrf FROM (
       |  SELECT probe_id, neighbor_id, score,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |           ORDER BY score DESC, neighbor_id) AS INTEGER) AS rn
       |  FROM fused) t
       |WHERE rn <= 10 ORDER BY probe_id, rn""".stripMargin,
    bench = true) { (s, d) =>
    // -- semantic tower: b44's broadcast-probes shape, ranked on the
    //    ROUNDED cosine so rank boundaries are engine-identical
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(expr("dot_f64(v, v)")))
    val probes = v.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm"))
    val wS = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    val sem = v
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cnorm"))
      .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos4",
        round(expr("dot_f64(pv, cv)") / (col("pnorm") * col("cnorm")), 4))
      .withColumn("rn_s", row_number().over(wS))
      .filter(col("rn_s") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("rn_s"))

    // -- lexical tower: sparse inverted intersection — only pairs that
    //    SHARE a term are generated, keyed by the broadcast probe tokens;
    //    >90%-df stopwords are anti-joined away first (skew cap, see
    //    scaladoc — non-binding on the testdata, hash unchanged)
    val toksd = dfKeptTokens(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct())
    val sz = toksd.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val probeToks = toksd.filter(col("doc_id") < NProbes)
      .select(col("doc_id").as("probe_id"), col("term"))
    val inter = toksd.join(broadcast(probeToks), "term")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id").as("neighbor_id"))
      .agg(count(lit(1)).as("i"))
    val wL = Window.partitionBy(col("probe_id"))
      .orderBy(col("jac").desc, col("neighbor_id"))
    val lex = inter
      .join(broadcast(sz.select(col("doc_id").as("probe_id"),
        col("sz").as("sz_p"))), "probe_id")
      .join(sz.select(col("doc_id").as("neighbor_id"),
        col("sz").as("sz_n")), "neighbor_id")
      .withColumn("jac", expr(jaccardExpr))
      .withColumn("rn_l", row_number().over(wL))
      .filter(col("rn_l") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("rn_l"))

    // -- fusion: O(|probes|·K) rows; score is bit-identical cross-engine
    //    because both rank inputs are engine-identical INTs
    val wF = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    sem.join(lex, Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("score", expr(rrfTerm("rn_s")) + expr(rrfTerm("rn_l")))
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= 10)
      .select(col("probe_id"), col("rn"), col("neighbor_id"),
        round(col("score"), 6).as("rrf"))
      .orderBy("probe_id", "rn")
  }

  val entries: Seq[Entry] = Seq(b110)
}
