package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B145 — PREFIX-FILTERED SET-SIMILARITY SELF-JOIN (the AllPairs/PPJoin
  * lineage — Bayardo et al. WWW'07, Xiao et al. WWW'08): ALL document
  * pairs with 3-shingle Jaccard ≥ τ, EXACTLY, without a quadratic
  * candidate step. This is the third member of the near-dup family:
  * B43 answers a probe workload (broadcast probes), MinHash LSH is the
  * approximate corpus-scale path — B145 is the exact corpus-scale
  * self-join.
  *
  * The prefix principle: order all shingles globally by (df ASC,
  * shingle); a doc with n shingles exposes only its first
  * p = n − ⌈τ·n⌉ + 1 shingles (its RAREST ones) as join keys. For any
  * pair with jac ≥ τ the required overlap is ≥ max(⌈τ·n_a⌉, ⌈τ·n_b⌉),
  * and the standard prefix lemma gives that the two prefixes must share
  * a shingle — so the prefix⨝prefix join loses NO qualifying pair,
  * while at τ = 0.8 it exposes ~20% of each posting list (and the df
  * ordering puts those keys on the RAREST shingles, which is what
  * collapses the candidate count). Survivors verify by exact
  * intersection over the per-doc shingle ARRAYS (the B43
  * verify-from-arrays trick — two doc-keyed joins, no re-explode).
  *
  * Scale posture: the global order is (df ASC, shingle ASC) — a pure
  * SORT KEY, so no global rank (and no SinglePartition window over the
  * vocabulary) is ever materialized; the df dictionary is a
  * map-combinable vocab-scale aggregate (the standing B125 dictionary
  * at 100 TB) and each doc sorts its own shingles inside a doc-keyed
  * window. The candidate join shuffles prefix rows only; verification
  * is the b43 posting-list count join over candidates. SetSimJoinSpec
  * measures the candidate reduction and pins prefix ≡ brute-force on
  * randomized corpora — the lemma, not just this dataset. */
object SetSimJoin {

  /** Jaccard threshold in basis points (τ = 0.8). */
  val TauBp = 8000L

  /** Workload corpus: originals + exact copies (doc_id % 7 = 0, the B42
    * convention) + two-token-prefixed near copies (doc_id % 9 = 0, the
    * B142 convention) — pairs at jac = 1 and jac ≈ n/(n+2) both planted
    * at every SF, on top of the corpus's organic near-dups. */
  private[graft] def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(lit("zq zq "), col("text")).as("text")))
  }

  /** Exact τ-join via prefix filtering. Returns (doc_a, doc_b, jac_bp),
    * doc_a < doc_b, jac_bp ≥ τ, (doc_a, doc_b) order.
    *
    * Two standard lossless reductions on top of the prefix join:
    * the LENGTH filter (jac ≥ τ ⟹ τ·n_a ≤ n_b and τ·n_b ≤ n_a —
    * min/max set-size algebra, exact in integer cross-multiplication)
    * runs inside the candidate join and drops ~60% of candidate pairs
    * before dedup; and verification counts |A∩B| by the b43
    * POSTING-LIST join restricted to candidates (all-codegen count
    * aggregate) rather than array_intersect per pair — the array
    * spelling re-evaluates the intersect per filter reference inside
    * the join condition (profiled 3× per row, ~4.5 s at sf0.1 vs ~1 s
    * for the posting count). */
  def similarityJoin(docs: DataFrame, tauBp: Long = TauBp): DataFrame = {
    val arrs = QueryScope.materialize("arrs")(TextDedup.withShingleArr(docs))
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    // per-shingle document frequency — the prefix lemma needs a
    // CONSISTENT global total order, and (df ASC, shingle ASC) IS one:
    // no dense global rank (and no SinglePartition window over the
    // vocabulary) is ever materialized — each doc just sorts its own
    // shingles by the order's sort key inside the doc-keyed window
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // per-doc prefix: first n − ⌈τ·n⌉ + 1 shingles in global order;
    // materialized once — it feeds BOTH sides of the candidate join.
    // NEGATIVE RESULT (r21 A/B at sf0.1/32, min-of-5): replacing this
    // doc-keyed rank window with a groupBy(doc_id) collect_list +
    // array_sort + slice (the "window exchange → map" idea, VERDICT r20
    // item 5) measured b145 3.04→4.62 wall / 3.35→4.50 executor-CPU s
    // and b282 parity-to-worse — the window's codegen per-partition sort
    // is CHEAPER than the non-codegen ObjectHashAggregate collect over
    // the same posting rows. The window is doc-partitioned (state O(1)
    // per row, never SinglePartition); don't re-try without a new A/B.
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = QueryScope.materialize("prefix")(sh.join(dfreq, "shingle")
      .withColumn("pos", row_number().over(wDoc))
      .join(arrs.select(col("doc_id"), size(col("sh_arr")).cast("long").as("n")),
        "doc_id")
      .filter(col("pos") <=
        col("n") - expr(s"(n * $tauBp + 9999) div 10000") + 1)
      .select(col("doc_id"), col("n"), col("shingle")))
    val cands = prefix
      .select(col("doc_id").as("da"), col("n").as("na"), col("shingle"))
      .join(prefix
        .select(col("doc_id").as("db"), col("n").as("nb"), col("shingle")),
        "shingle")
      .filter(col("da") < col("db") &&
        col("nb") * 10000 >= col("na") * tauBp &&
        col("na") * 10000 >= col("nb") * tauBp)
      .select("da", "db").distinct()
    // exact |A∩B| via the posting-list join over candidate pairs only
    val cnt = arrs.select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    cands
      .join(sh.select(col("doc_id").as("da"), col("shingle")), "da")
      .join(sh.select(col("doc_id").as("db"), col("shingle")),
        Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jac_bp",
        expr("CAST(common * 10000 div (na + nb - common) AS BIGINT)"))
      .filter(col("jac_bp") >= tauBp)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jac_bp"))
      .orderBy("doc_a", "doc_b")
  }

  /** The prefix-free brute-force spelling (full posting-list join) —
    * SetSimJoinSpec pins prefix ≡ brute force; the oracle below is the
    * same relation in DuckDB. */
  private[graft] def bruteForceJoin(docs: DataFrame, tauBp: Long = TauBp): DataFrame = {
    val arrs = TextDedup.withShingleArr(docs)
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val cnt = arrs.select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    sh.select(col("doc_id").as("da"), col("shingle"))
      .join(sh.select(col("doc_id").as("db"), col("shingle")), "shingle")
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jac_bp",
        expr("CAST(common * 10000 div (na + nb - common) AS BIGINT)"))
      .filter(col("jac_bp") >= tauBp)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jac_bp"))
      .orderBy("doc_a", "doc_b")
  }

  private val b145 = entry(
    "b145_ssjoin_prefix",
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 4000000, 'zq zq ' || text FROM documents
       |  WHERE doc_id % 9 = 0),
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       |  FROM words WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |        FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         CAST(count(*) AS BIGINT) AS common
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b,
       |       CAST(common * 10000 // (ca.n + cb.n - common) AS BIGINT)
       |         AS jac_bp
       |FROM pairs
       |JOIN cnt ca ON ca.doc_id = da
       |JOIN cnt cb ON cb.doc_id = db
       |WHERE common * 10000 // (ca.n + cb.n - common) >= $TauBp
       |ORDER BY doc_a, doc_b""".stripMargin, bench = true) { (s, d) =>
    similarityJoin(corpus(s, d))
  }

  /** B282 containment threshold in basis points (τ = 0.8). */
  val ContainTauBp = 8000L

  /** B282 planted-excerpt id offset (shared by the Spark side and the
    * oracle text — one constant, ADVICE r17 #3/#4 class). */
  val ExcerptIdOffset = 7000000L

  /** B282 workload corpus: originals + planted EXCERPTS — the first
    * max(3, ⌊0.6·len⌋) tokens of every doc_id % 11 = 0 document at
    * id + 7,000,000. A token-prefix's 3-shingles are a subset of the
    * full document's, so every excerpt is contained at exactly 10⁴ bp
    * — the quote-inclusion signature planted at every SF. */
  private[graft] def containCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    requireIdsBelow(docs, "doc_id", ExcerptIdOffset, "b282")
    docs.unionByName(docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + ExcerptIdOffset).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1," +
          " greatest(3, size(split(text, ' ')) * 6 div 10)), ' ')")
          .as("text")))
  }

  /** Exact containment τ-join via one-sided prefix filtering: all
    * ORDERED pairs (a, b), a ≠ b, with |S_a ∩ S_b|·10⁴ div |S_a| ≥ τ —
    * the asymmetric quote-inclusion relation Jaccard cannot see (a
    * short excerpt inside a long document has tiny Jaccard but
    * containment 1).
    *
    * The one-sided prefix lemma: order shingles by (df ASC, shingle);
    * if |A∩B| ≥ ⌈τ·n_a⌉ then A's prefix of length n_a − ⌈τ·n_a⌉ + 1
    * must share a shingle with SOME element of B — were it disjoint
    * from B, the overlap would fit inside A's suffix of length
    * ⌈τ·n_a⌉ − 1 < required. So only the CONTAINED side prunes to a
    * prefix; the container side exposes all its shingles (there is no
    * upper length bound on a superset — the structural asymmetry vs
    * B145's two-sided filter). The length filter keeps only
    * n_b ≥ ⌈τ·n_a⌉ (B must have room for the required overlap);
    * survivors verify by the exact posting-list count join.
    *
    * Scale posture: the df order puts A's exposed keys on its RAREST
    * shingles, so the prefix⨝postings join probes short lists; the df
    * dictionary is the standing B125 vocab aggregate; verification is
    * candidate-bounded. SetSimJoinSpec pins prefix ≡ brute force on
    * randomized corpora — the lemma, not just this dataset. */
  def containmentJoin(docs: DataFrame, tauBp: Long = ContainTauBp): DataFrame =
    containmentJoinArr(TextDedup.withShingleArr(docs), tauBp)

  /** [[containmentJoin]] over a pre-built (doc_id, sh_arr) relation — the
    * element type is free (string shingles for b282, BIGINT frame
    * fingerprints for b293): every step below is element-type-agnostic. */
  def containmentJoinArr(arrs0: DataFrame, tauBp: Long = ContainTauBp): DataFrame = {
    val arrs = QueryScope.materialize("arrs")(arrs0)
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val cnt = arrs.select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("pos", row_number().over(wDoc))
      .join(cnt, "doc_id")
      .filter(col("pos") <=
        col("n") - expr(s"(n * $tauBp + 9999) div 10000") + 1)
      .select(col("doc_id").as("da"), col("n").as("na"), col("shingle"))
    val cands = prefix
      .join(sh.select(col("doc_id").as("db"), col("shingle")), "shingle")
      .filter(col("da") =!= col("db"))
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("nb") >= expr(s"(na * $tauBp + 9999) div 10000"))
      .select("da", "db").distinct()
    // verification from the per-doc shingle ARRAYS, intersect evaluated
    // ONCE in a projection (A/B'd vs the posting-list count join: most
    // candidates here share a single rare shingle and fail, so paying
    // two doc-keyed array joins beats shuffling the posting rows of
    // every candidate twice — min-of-5 7.39 s -> 4.89 s at sf0.1; and
    // unlike the b145 trap the intersect is NOT inside a join
    // condition, so it is not re-evaluated per filter reference)
    cands
      .join(arrs.select(col("doc_id").as("da"), col("sh_arr").as("arr_a")),
        "da")
      .join(arrs.select(col("doc_id").as("db"), col("sh_arr").as("arr_b")),
        "db")
      .select(col("da"), col("db"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("common"),
        size(col("arr_a")).cast("long").as("na"),
        size(col("arr_b")).cast("long").as("nb"))
      .withColumn("containment_bp",
        expr("CAST(common * 10000 div na AS BIGINT)"))
      .filter(col("containment_bp") >= tauBp)
      .select(col("da").as("contained_doc"), col("db").as("container_doc"),
        col("containment_bp"), col("na").as("n_contained"),
        col("nb").as("n_container"))
      .orderBy("contained_doc", "container_doc")
  }

  /** Brute-force containment (full posting join, both directions) —
    * the lemma-replay twin for SetSimJoinSpec. */
  private[graft] def containmentBruteForce(
      docs: DataFrame, tauBp: Long = ContainTauBp): DataFrame =
    containmentBruteForceArr(TextDedup.withShingleArr(docs), tauBp)

  /** [[containmentBruteForce]] over a pre-built (doc_id, sh_arr) relation
    * (element-type-agnostic, the b293 referee). */
  private[graft] def containmentBruteForceArr(
      arrs: DataFrame, tauBp: Long = ContainTauBp): DataFrame = {
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val cnt = arrs.select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    sh.select(col("doc_id").as("da"), col("shingle"))
      .join(sh.select(col("doc_id").as("db"), col("shingle")), "shingle")
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("containment_bp",
        expr("CAST(common * 10000 div na AS BIGINT)"))
      .filter(col("containment_bp") >= tauBp)
      .select(col("da").as("contained_doc"), col("db").as("container_doc"),
        col("containment_bp"), col("na").as("n_contained"),
        col("nb").as("n_container"))
      .orderBy("contained_doc", "container_doc")
  }

  /** B282 — CONTAINMENT SELF-JOIN (quote-inclusion detection): see
    * [[containmentJoin]]. The fourth member of the near-dup family —
    * B43/B145 score SYMMETRIC similarity; containment C(A,B) =
    * |S_A∩S_B|/|S_A| is what catches a document QUOTED INSIDE another
    * (tiny Jaccard, containment 1) — the dedup class behind
    * quotation-heavy web text and boilerplate-wrapped reposts. */
  private val b282 = entry(
    "b282_containment_join",
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ExcerptIdOffset,
       |         array_to_string(w[1:greatest(3, len(w)*6//10)], ' ')
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE doc_id % 11 = 0)),
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       |  FROM words WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |        FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         CAST(count(*) AS BIGINT) AS common
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT da AS contained_doc, db AS container_doc,
       |       CAST(common * 10000 // ca.n AS BIGINT) AS containment_bp,
       |       ca.n AS n_contained, cb.n AS n_container
       |FROM pairs JOIN cnt ca ON ca.doc_id = da
       |JOIN cnt cb ON cb.doc_id = db
       |WHERE common * 10000 // ca.n >= $ContainTauBp
       |ORDER BY contained_doc, container_doc""".stripMargin,
    bench = true) { (s, d) =>
    containmentJoin(containCorpus(s, d))
  }

  val entries: Seq[Entry] = Seq(b145, b282)
}
