package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.sources.Tables

/** B292 — RECORD LINKAGE (entity resolution): the multi-field sibling of
  * B198's vocabulary fuzzy join. A registration feed re-submits the SAME
  * entity with character-level noise (OCR/keyboard substitutions — the
  * classic dirty-CRM channel); the resolver must link each dirty
  * registration back to its canonical record WITHOUT an all-pairs
  * comparison.
  *
  * Records are the customer entity serialized field-by-field
  * (`name segment nation cents` — the multi-field part is what makes
  * organic false-positives vanish: two customers differing only in the
  * last name digit still differ in their balance digits, so organic
  * distance-≤1 pairs are structurally rare while planted typos are
  * exactly distance 1).
  *
  * Blocking is TWO-HALF pigeonhole (Hernández & Stolfo's multi-pass
  * blocking shape, SIGMOD'95 lineage): keys = the record's first and
  * second halves, keyed by (half-index, record length, half text). A
  * SUBSTITUTION edit touches exactly one half and preserves length, so
  * every equal-length pair within distance 1 shares the untouched half —
  * the same ≤-k-flips-spare-a-band argument as b290's bands and b198's
  * PassJoin segments. Candidates verify with exact `levenshtein ≤ 1`.
  * (The INDEL channel changes length and needs B198's shifted-segment
  * probes — cross-referenced, not duplicated, here: this operator's
  * contract is the substitution channel, stated in the oracle by the
  * same blocked spelling; EntityResolutionSpec proves the blocking
  * ≡ brute force on the fixture AND on randomized corpora.)
  *
  * Planted dirt: every [[DirtyMod]]-th customer re-registers at id +
  * [[ErIdOffset]] (plan-build-guarded, the b282/b284 ADVICE class) with
  * one seeded substitution — position 1 + polyFold('er:'‖custkey) mod
  * len, replacement 'q' (or 'x' if the original char IS 'q'), so the
  * typo is deterministic, engine-identical, and never a no-op.
  *
  * Scale posture: two map-side key projections of one customer scan; the
  * candidate join is an equi join on (half, length, text) whose block
  * sizes are data-bounded (the name field makes first-half keys unique
  * per entity; second-half blocks are segment×nation×balance-grained);
  * verify touches candidates only. Never |R|². Reference task shape:
  * dfpc-coe/etl-wildweb task.ts:1-165 has no linkage surface — this is
  * the training-pipeline/curation extension. */
object EntityResolution {

  /** Every DirtyMod-th customer gets a dirty re-registration. */
  val DirtyMod = 7L

  /** Dirty-registration id offset (guarded at plan build). */
  val ErIdOffset = 1000000L

  /** Levenshtein acceptance radius (substitution channel). */
  val ErRadius = 1L

  private def centsDuck =
    "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"

  /** The serialized entity record, one definition per dialect. */
  private val recDuck =
    "c_name || ' ' || c_mktsegment || ' ' || CAST(c_nationkey AS VARCHAR)" +
      s" || ' ' || CAST($centsDuck AS VARCHAR)"
  private val recSpark =
    "concat(c_name, ' ', c_mktsegment, ' ', CAST(c_nationkey AS STRING)," +
      " ' ', CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS STRING))"

  private def posDuck(rec: String) =
    s"1 + ${Winnowing.polyFoldDuck("('er:' || CAST(c_custkey AS VARCHAR))")} % length($rec)"
  private def posSpark(rec: String) =
    s"1 + ${Winnowing.polyFoldSpark("concat('er:', CAST(c_custkey AS STRING))")} % length($rec)"

  /** The blocked match join over ANY (reg_id, rec) relation — factored so
    * EntityResolutionSpec can drive randomized corpora through the exact
    * production path (the SetSimJoin convention). */
  private[graft] def matchPairs(regs: DataFrame): DataFrame = {
    val keys = regs
      .select(col("reg_id"), col("rec"), lit(0).as("ki"),
        length(col("rec")).as("l"),
        expr("substring(rec, 1, length(rec) div 2)").as("key"))
      .unionByName(regs.select(col("reg_id"), col("rec"), lit(1).as("ki"),
        length(col("rec")).as("l"),
        expr("substring(rec, length(rec) div 2 + 1, length(rec))").as("key")))
    val cand = keys.select(col("ki"), col("l"), col("key"),
        col("reg_id").as("ra"), col("rec").as("reca"))
      .join(keys.select(col("ki"), col("l"), col("key"),
        col("reg_id").as("rb"), col("rec").as("recb")),
        Seq("ki", "l", "key"))
      .filter(col("ra") < col("rb"))
      .select("ra", "reca", "rb", "recb").distinct()
    cand
      .select(col("ra"), col("rb"),
        levenshtein(col("reca"), col("recb")).cast("long").as("dist"))
      .filter(col("dist") <= ErRadius)
  }

  /** The registration feed: canonical records + seeded dirty
    * re-registrations. */
  private[graft] def registrations(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    requireIdsBelow(c, "c_custkey", ErIdOffset, "b292")
    val canonical = c.select(col("c_custkey").as("reg_id"),
      expr(recSpark).as("rec"))
    val dirty = c.filter(col("c_custkey") % DirtyMod === 0)
      .withColumn("rec0", expr(recSpark))
      .withColumn("pos", expr(posSpark("rec0")).cast("int"))
      .select((col("c_custkey") + ErIdOffset).as("reg_id"),
        expr("concat(substring(rec0, 1, pos - 1)," +
          " CASE WHEN substring(rec0, pos, 1) = 'q' THEN 'x' ELSE 'q' END," +
          " substring(rec0, pos + 1, length(rec0)))").as("rec"))
    canonical.unionByName(dirty)
  }

  private val b292 = entry(
    "b292_entity_resolution",
    s"""WITH c AS (
       |  SELECT c_custkey, $recDuck AS rec FROM customer),
       |regs AS MATERIALIZED (
       |  SELECT c_custkey AS reg_id, rec FROM c
       |  UNION ALL
       |  SELECT c_custkey + $ErIdOffset,
       |         substr(rec, 1, pos - 1)
       |           || CASE WHEN substr(rec, pos, 1) = 'q' THEN 'x'
       |                   ELSE 'q' END
       |           || substr(rec, pos + 1, length(rec))
       |  FROM (SELECT c_custkey, rec, ${posDuck("rec")} AS pos FROM c)
       |  WHERE c_custkey % $DirtyMod = 0),
       |keys AS (
       |  SELECT reg_id, rec, 0 AS ki, length(rec) AS l,
       |         substr(rec, 1, length(rec) // 2) AS key
       |  FROM regs
       |  UNION ALL
       |  SELECT reg_id, rec, 1, length(rec),
       |         substr(rec, length(rec) // 2 + 1, length(rec))
       |  FROM regs),
       |cand AS (
       |  SELECT DISTINCT a.reg_id AS ra, a.rec AS reca,
       |                  b.reg_id AS rb, b.rec AS recb
       |  FROM keys a JOIN keys b
       |    ON a.ki = b.ki AND a.l = b.l AND a.key = b.key
       |   AND a.reg_id < b.reg_id),
       |m AS (
       |  SELECT ra, rb, CAST(levenshtein(reca, recb) AS BIGINT) AS dist
       |  FROM cand)
       |SELECT ra AS reg_a, rb AS reg_b, dist,
       |       CAST(CASE WHEN rb - ra = $ErIdOffset THEN 1 ELSE 0 END
       |            AS BIGINT) AS is_planted
       |FROM m WHERE dist <= $ErRadius
       |ORDER BY reg_a, reg_b""".stripMargin) { (s, d) =>
    matchPairs(registrations(s, d))
      .select(col("ra").as("reg_a"), col("rb").as("reg_b"), col("dist"),
        when(col("rb") - col("ra") === ErIdOffset, 1L).otherwise(0L)
          .as("is_planted"))
      .orderBy("reg_a", "reg_b")
  }

  val entries: Seq[Entry] = Seq(b292)
}
