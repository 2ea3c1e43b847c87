package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.{QueryScope, WorkDirs}
import graft.llm.Winnowing
import graft.sources.Tables

/** Round-4 scale-pipeline operators (SURVEY §2B round-4 additions): the
  * pieces a 100 TB training-data job leans on between the query operators
  * and the LLM suite — frequency analysis, reproducible sampling, join
  * prefiltering, and write-side data layout.
  *
  * Design rules shared by all four:
  *   - exact results stay oracle-checked (the bloom prefilter and the
  *     layout write are RESULT-invisible — correctness must prove that);
  *   - nothing here materializes per-row data on the driver; the only
  *     driver-side values are O(1) scalars/sketches (documented per op).
  */
object ScaleOps {

  /** Events with two PLANTED heavy users (7 and 13, each tripled) so the
    * detector observably fires at every sf. The testdata keeps the mean
    * events-per-user at ~67 for every sf while the user count scales, and
    * the organic max/mean ratio measured across sf0.001/0.01/0.1 is
    * ≤ 1.48 while the tripled keys sit at ≥ 1.87× — so a 5/3× mean
    * threshold separates cleanly at all three scales (integer-exact as
    * 3·cnt·users > 5·total; no float share ever computed). */
  private[graft] def plantedEvents(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
    val hot = ev.filter(col("user_id").isin(7, 13))
    ev.unionByName(hot).unionByName(hot)
  }

  private val plantedSql =
    """SELECT event_id, user_id FROM events
      |UNION ALL SELECT event_id, user_id FROM events WHERE user_id IN (7, 13)
      |UNION ALL SELECT event_id, user_id FROM events WHERE user_id IN (7, 13)""".stripMargin

  /** B58 — exact heavy hitters (frequent items): keys whose frequency
    * exceeds 5/3× the mean key frequency. One hash-agg shuffle on the key
    * (map-side partial combine) materialized ONCE behind an eager
    * localCheckpoint barrier (the LshCaps precedent): both consumers —
    * the hitter filter and the single-row (total, users) reduce that
    * broadcasts back into it — read the checkpointed |keys|-sized
    * relation, so the raw input is scanned and shuffled exactly once
    * (without the barrier Catalyst plans the counts subtree twice, once
    * per crossJoin side: two full scans at 100 TB). No driver-side
    * scalar, and no `sum OVER ()` window either — that would funnel all
    * |keys| rows through one partition, while the reduce here combines
    * map-side to one row per partition first. Output carries exact
    * BIGINTs (cnt, total, users) instead of a rounded share: cnt/total
    * at a rounding boundary is the b22 float-vs-decimal trap, and the
    * caller can divide.
    *
    * Scale: the agg output is |distinct keys| rows, not |input|; for
    * key spaces too large to aggregate exactly, the count-min-sketch twin
    * ([[countMinEstimates]], b58_agg_countmin) is the single-pass
    * mergeable-sketch path with the same planted-hitter shape. */
  private val b58 = entry(
    "b58_agg_heavyhitters",
    s"""WITH aug AS ($plantedSql),
       |counts AS (SELECT user_id, count(*) AS cnt FROM aug GROUP BY user_id),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS users FROM counts)
       |SELECT user_id, cnt, total, users
       |FROM counts CROSS JOIN tot
       |WHERE cnt * users * 3 > 5 * total
       |ORDER BY cnt DESC, user_id""".stripMargin) { (s, d) =>
    val counts = QueryScope.materialize("counts")(
      plantedEvents(s, d).groupBy("user_id").agg(count(lit(1)).as("cnt")))
    val tot = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("users"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * col("users") * 3 > lit(5) * col("total"))
      .orderBy(col("cnt").desc, col("user_id"))
  }

  /** Count-min-sketch estimates for the planted hitters — the approximate
    * twin of b58 (rows-only by design, like b19/b23a: sketch estimates are
    * not SQL-replicable). The sketch build is fully distributed (mergeable
    * per-partition sketches, one reduce); only the ~KB sketch itself
    * reaches the driver, where the bounded candidate set is probed.
    * Guarantee (ε=0.001, δ=0.01): estimate ∈ [true, true + ε·n] with
    * probability ≥ 1-δ — asserted in ScaleOpsSpec. */
  def countMinEstimates(s: SparkSession, d: String): DataFrame = {
    val aug = plantedEvents(s, d)
    val cms = aug.stat.countMinSketch(col("user_id"), eps = 0.001,
      confidence = 0.99, seed = 42)
    import s.implicits._
    Seq(7L, 13L).map(k => (k, cms.estimateCount(k)))
      .toDF("user_id", "est").orderBy("user_id")
  }

  private val b58c = entryNoOracle("b58_agg_countmin")(countMinEstimates)

  /** B59 — deterministic stratified sampling: per-stratum rates applied as
    * `polyhash(salt || key) % 10000 < rate_bp(stratum)`. Like b56's hash
    * split this is a PURE FUNCTION of the row key: rerun-, engine- and
    * partitioning-stable, and new rows join the sample incrementally — the
    * properties seeded `sampleBy`/TABLESAMPLE cannot give at 100 TB (their
    * draw depends on partition layout and run seed). Map-side only: zero
    * shuffles, the filter runs inside the scan's codegen stage.
    *
    * The salt ("strat:") decorrelates this hash from b56's split buckets —
    * without it, sampling would systematically favor one split. */
  private val strataBp = Map("en" -> 2000, "de" -> 5000, "es" -> 4000,
    "fr" -> 6000, "zh" -> 3000)

  private val b59 = {
    val caseSql = strataBp.toSeq.sorted
      .map { case (l, bp) => s"WHEN '$l' THEN $bp" }.mkString(" ")
    val keyDuck = "('strat:' || CAST(doc_id AS VARCHAR))"
    val keySpark = "concat('strat:', CAST(doc_id AS STRING))"
    entry(
      "b59_sample_stratified",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Winnowing.polyFoldDuck(keyDuck)} % 10000
         |      < CASE lang $caseSql ELSE 0 END
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(expr(s"${Winnowing.polyFoldSpark(keySpark)} % 10000") <
          expr(s"CASE lang $caseSql ELSE 0 END"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }
  }

  /** B60 — bloom-prefiltered join: build a bloom filter over the (already
    * filtered) dim side's join key, prefilter the fact side BEFORE its
    * shuffle, then run the exact join. False positives survive the
    * prefilter but die in the join, so the RESULT is exactly the plain
    * join's — which is what the oracle (bloom-free SQL) proves.
    *
    * Scale rationale: with a 20%-selective dim, ~80% of 100 TB of fact
    * rows would otherwise be shuffled only to find no partner. The sketch
    * build is distributed (mergeable per-partition blooms); one ~1 MB
    * bloom reaches the driver and ships back as a broadcast — the same
    * shape Spark's own runtime row-level filtering
    * (spark.sql.optimizer.runtime.bloomFilter.enabled) injects for
    * shuffle joins, here as an explicit, plannable operator. The probe is
    * Catalyst's own codegen'd [[BloomFilterMightContain]] over the
    * serialized sketch as a binary literal — the exact expression the
    * runtime bloom-join rewrite plants, so the prefilter stays inside
    * whole-stage codegen with zero boxing (VERDICT r12 item 8; the
    * boxing Scala-UDF spelling is kept as [[bloomPrefilteredUdf]], the
    * documented fallback if this Catalyst-internal constructor shifts
    * in a future Spark 4.x — ScaleOpsSpec pins the two paths equal).
    * Sized for 2^20 keys at fpp 1% (~1.2 MB); at real scale the
    * expectedNumItems comes from table stats. */
  private val b60 = entry(
    "b60_join_bloom",
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderstatus")
    val bloom = dim.stat.bloomFilter(col("o_orderkey"),
      expectedNumItems = 1L << 20, fpp = 0.01)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(bloomProbe(s, bloom, col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .orderBy("o_orderstatus")
  }

  /** The native probe: Catalyst's BloomFilterMightContain over the
    * serialized sketch as a binary literal — constant-foldable on the
    * filter side, codegen'd on the probe side (the same expression shape
    * Spark's runtime bloom-join rewrite injects). Exposed through a
    * session temp function because Column has no public
    * Expression-wrapping constructor in Spark 4; call_function keeps the
    * call site in the public API. */
  private[operators] def bloomProbe(s: SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain",
      children => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(children(0), children(1)),
      "built-in")
    call_function("bloom_might_contain", lit(bos.toByteArray), key)
  }

  /** The bloom-prefiltered fact side alone (spec hook): ScaleOpsSpec
    * asserts it is a superset of the true matching set and strictly
    * smaller than the unfiltered fact table — i.e. the prefilter both
    * preserves recall and actually cuts the shuffle. */
  def bloomPrefiltered(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bloom = dim.stat.bloomFilter(col("o_orderkey"),
      expectedNumItems = 1L << 20, fpp = 0.01)
    Tables.lineitem(s, d).select("l_orderkey")
      .filter(bloomProbe(s, bloom, col("l_orderkey")))
  }

  /** The boxing Scala-UDF probe spelling — the documented FALLBACK if
    * the Catalyst-internal BloomFilterMightContain constructor shifts in
    * a future Spark 4.x (it is not a public API). Result-identical to
    * [[bloomPrefiltered]] (ScaleOpsSpec pins it): the UDF returns false
    * for null keys where the native predicate returns null — both drop
    * the row under filter semantics. */
  def bloomPrefilteredUdf(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bloom = dim.stat.bloomFilter(col("o_orderkey"),
      expectedNumItems = 1L << 20, fpp = 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val mightContain = udf((k: java.lang.Long) =>
      k != null && bloomB.value.mightContainLong(k))
    Tables.lineitem(s, d).select("l_orderkey")
      .filter(mightContain(col("l_orderkey")))
  }

  /** B61 — write-side data layout: hive-partition lineitem by ship month
    * and sort each file by orderkey, then answer a month-bounded query
    * from the re-read. The t2 hash is over the re-read result against the
    * ORIGINAL table's oracle, proving layout is semantics-free; the plan
    * win is structural: the month predicate becomes partition PRUNING
    * (non-matching directories are never listed into the scan — asserted
    * on the plan in ScaleOpsSpec) and the in-file orderkey sort tightens
    * parquet min/max row-group skipping for key lookups.
    *
    * Scale: this is the 100 TB ingest pattern — one repartition by the
    * partition column at write time (here: coalesced small local write),
    * then every downstream month-range query reads only its partitions.
    * 82 months exist in the data; the two-month probe reads ~2.4%. */
  private val b61 = entry(
    "b61_layout_partitioned",
    """SELECT l_returnflag,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |       count(DISTINCT l_orderkey) AS orders
      |FROM lineitem
      |WHERE strftime(l_shipdate, '%Y-%m') IN ('1995-03', '1995-04')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val out = WorkDirs("b61_layout") + "/lineitem"
    Tables.lineitem(s, d)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      // local[32] writes a small table: one file per partition dir keeps
      // the fixture tidy; the 100 TB path replaces coalesce with
      // repartition(ship_month) so each month writes in parallel
      .coalesce(1)
      .sortWithinPartitions("ship_month", "l_orderkey")
      .write.mode("overwrite").partitionBy("ship_month")
      .parquet(out)
    s.read.parquet(out)
      .filter(col("ship_month").isin("1995-03", "1995-04"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("l_orderkey")).as("orders"))
      .orderBy("l_returnflag")
  }

  /** The pruned re-read alone (spec hook): ScaleOpsSpec asserts the
    * month filter lands in the scan's PartitionFilters, not a post-scan
    * Filter — i.e. pruning actually happens. */
  def layoutScan(s: SparkSession): DataFrame =
    s.read.parquet(WorkDirs("b61_layout") + "/lineitem")
      .filter(col("ship_month").isin("1995-03", "1995-04"))

  /** B62 — CDC snapshot merge (upsert): apply a change batch of
    * updates / inserts / deletes to a keyed base snapshot in one pass —
    * the MERGE INTO staple of every periodically-refreshed 100 TB table,
    * expressed engine-level (no table-format dependency): one full-outer
    * join on the key, change rows win, delete ops drop the row.
    *
    * The change batch is DERIVED deterministically from the base (every
    * 10th key updated, every 25th inserted under a shifted key, every
    * 50th deleted) so the operator is exercised against a batch where all
    * three op kinds bite, and the oracle replays the identical merge.
    * Money stays exact integer cents end-to-end (the b22 lesson).
    *
    * Scale: one shuffle of each side on the merge key — with the base
    * bucketed/range-partitioned by key at write time (the b61 layout
    * pattern) the base side's shuffle disappears and only the (much
    * smaller) change batch moves. Delete is a filter on the joined op,
    * not a second anti-join pass. */
  private val b62 = entry(
    "b62_merge_upsert", CdcSnapshots.mergedSql) { (s, d) =>
    val base = CdcSnapshots.base(s, d)
    CdcSnapshots.applyChanges(base, CdcSnapshots.changes(base))
      .orderBy("k")
  }

  /** B66 — skew-salted join, driver-visible: [[ScaleTechniques.saltedJoin]]
    * run over the planted-skew event stream (users 7/13 tripled — the same
    * hot keys b58 detects) against a per-user dimension, proving at the t2
    * level that salting is RESULT-invisible: the oracle is the plain
    * unsalted join. The left side's hot keys are split across 8 salt
    * sub-keys (deterministic xxhash64 of event_id — never rand(), t2
    * rules); the dim side replicates 8×, which is the trade: at 100 TB a
    * hot key that would pin one reducer at 3× the median instead spreads
    * across 8, for an 8× copy of the (small) dim side. Row-level output —
    * the strongest equivalence statement, not an aggregate that could
    * mask multiplicity bugs. */
  private val b66 = entry(
    "b66_join_salted",
    s"""WITH aug AS ($plantedSql),
       |dim AS (SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events)
       |SELECT event_id, user_id, cohort
       |FROM aug JOIN dim USING (user_id)
       |ORDER BY event_id, user_id""".stripMargin) { (s, d) =>
    val dim = Tables.events(s, d).select(col("user_id")).distinct()
      .withColumn("cohort", col("user_id") % 10)
    ScaleTechniques.saltedJoin(
        plantedEvents(s, d), dim, "user_id",
        saltSource = col("event_id"), saltBuckets = 8)
      .select("event_id", "user_id", "cohort")
      .orderBy("event_id", "user_id")
  }

  private[graft] def b76LayoutDir: String = WorkDirs("b76_zorder") + "/lineitem"

  /** B76 — Z-order (Morton) clustered layout: bucketize (l_orderkey,
    * l_partkey) into 2^21 range buckets each, interleave with the native
    * [[graft.functions.ZOrderExpression]], range-partition + sort the
    * write by the z-value, then answer a TWO-dimensional range probe from
    * the re-read. b61 clusters one column; sorting by z keeps rows close
    * in BOTH key dimensions physically close, so parquet min/max row-group
    * stats stay tight on both columns and a range predicate on either
    * skips most row groups (the Delta/Iceberg OPTIMIZE ZORDER recipe,
    * engine-level). The t2 hash is against the ORIGINAL table's oracle —
    * layout is semantics-free, which is the correctness statement.
    *
    * The only driver-side values are the four min/max bucketization
    * boundaries (one O(1) agg row — at 100 TB they come from table
    * stats). The probe bounds derive from the same boundaries with
    * integer arithmetic, so both engines compute identical predicates.
    *
    * Scale: one repartitionByRange shuffle at write time (range ids from
    * sampled z-values — Spark's range partitioner — so files tile the
    * z-curve); each 5%-per-dimension probe then reads ~the intersection's
    * tiles instead of the full table. Measured on the sf0.1 write: the
    * 2-D probe's min/max stats prune 30 of 32 row groups — 6.6% of rows
    * scanned — where a single-column sort could prune on one dimension
    * only (SCALE.md §1). */
  private val b76 = entry(
    "b76_layout_zorder",
    """WITH b AS (SELECT min(l_orderkey) AS oklo, max(l_orderkey) AS okhi,
      |                  min(l_partkey) AS pklo, max(l_partkey) AS pkhi
      |           FROM lineitem)
      |SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |       count(DISTINCT l_partkey) AS parts
      |FROM lineitem, b
      |WHERE l_orderkey <= oklo + (okhi - oklo) // 20
      |  AND l_partkey <= pklo + (pkhi - pklo) // 20
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    // O(1) driver row: bucketization boundaries (table stats at 100 TB)
    val b = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    val (oklo, okhi, pklo, pkhi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val mask = graft.functions.ZOrderExpression.Mask
    // integral DIV end-to-end: a double divide would lose exactness past
    // 2^53 once (k - lo) * mask outgrows a double's mantissa
    def bucket(key: String, lo: Long, hi: Long) =
      expr(s"(($key - ${lo}L) * ${mask}L) DIV ${math.max(hi - lo, 1L)}L")
    val out = ScaleOps.b76LayoutDir
    li.withColumn("bx", bucket("l_orderkey", oklo, okhi))
      .withColumn("by", bucket("l_partkey", pklo, pkhi))
      .withColumn("z", expr("z_order2(bx, by)"))
      .drop("bx", "by")
      .repartitionByRange(32, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("l_orderkey") <= oklo + (okhi - oklo) / 20 &&
        col("l_partkey") <= pklo + (pkhi - pklo) / 20)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("l_partkey")).as("parts"))
      .orderBy("l_returnflag")
  }

  /** B167 parameters: sample size, the 31-bit uniform range, and Knuth's
    * multiplicative constant (TAOCP §6.4). The poly fold alone is NOT a
    * valid uniform for a RATIO statistic: near-identical keys ("prio:41"
    * vs "prio:42") differ by a tiny additive delta, so the fold's
    * MAGNITUDE clusters (measured: 80% of u within 10⁻³ of 0.456) even
    * though its low bits mix fine (why b56/b59's mod-10⁴ bucketing is
    * unaffected). One multiplicative scramble mod 2³¹ spreads additive
    * deltas across the whole ring — measured u deciles uniform and the
    * DLT estimate within 6% of true mass at both test SFs. */
  private val PrioK = 50
  private val PrioM = 1L << 31
  private val PrioKnuth = 2654435761L

  /** B167 — DETERMINISTIC PRIORITY SAMPLING (Duffield, Lund & Thorup,
    * JACM'07): a weight-proportional bottom-k sample with the
    * near-optimal subset-sum estimator — the principled way to keep a
    * k-doc sketch whose estimates of ANY token-mass subset are unbiased
    * (modulo the derandomized draw). Priorities q_i = w_i/u_i with
    * u_i = h_i/M derived from the b56/b59 pure-function-of-the-key rule:
    * h_i = polyhash("prio:"‖doc_id) folded to [1, 2³¹] — so the sample
    * is rerun-, engine- and partitioning-stable, and new docs enter by
    * local comparison. Integer spelling q = ⌊w·M/h⌋ (w·M ≤ 2³¹·~10³ ≪
    * 2⁶³; the floor quantization is shared by both engines, so selection
    * is identical); top-K by (q DESC, doc_id), τ = the (K+1)-th priority,
    * estimator weight ŵ = max(w, τ) per the DLT estimator.
    *
    * Scale posture: the priority is map-side scalar; top-(K+1) is
    * TakeOrderedAndProject (no global sort); the rank/τ window runs over
    * the K+1 SELECTED rows only (bounded cardinality, the b125
    * exception); τ broadcasts back as a one-row dimension. */
  private val b167 = entry(
    "b167_priority_sample",
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
       |  FROM documents),
       |pri AS (
       |  SELECT doc_id, source, w,
       |         CAST(w * $PrioM //
       |              ((${graft.llm.Winnowing.polyFoldDuck(
                          "('prio:' || CAST(doc_id AS VARCHAR))")}
       |                % $PrioM) * $PrioKnuth % $PrioM + 1) AS BIGINT) AS q
       |  FROM toks),
       |topk AS (
       |  SELECT doc_id, source, w, q,
       |         CAST(row_number() OVER (ORDER BY q DESC, doc_id)
       |              AS BIGINT) AS rn
       |  FROM pri
       |  ORDER BY q DESC, doc_id LIMIT ${PrioK + 1}),
       |tau AS (SELECT q AS tau FROM topk WHERE rn = ${PrioK + 1})
       |SELECT doc_id, source, w, q,
       |       CAST(greatest(w, coalesce(tau, w)) AS BIGINT) AS est_w
       |FROM topk LEFT JOIN tau ON TRUE
       |WHERE rn <= $PrioK
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val key = "concat('prio:', CAST(doc_id AS STRING))"
    val pri = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .withColumn("q", expr(
        s"CAST(w * $PrioM div ((${graft.llm.Winnowing.polyFoldSpark(key)}" +
          s" % $PrioM) * $PrioKnuth % $PrioM + 1) AS BIGINT)"))
    // TakeOrdered for the K+1 head; the rank window then runs over the
    // selected rows only (bounded cardinality — the b125 exception)
    val head = QueryScope.materialize("head")(
      pri.orderBy(col("q").desc, col("doc_id")).limit(PrioK + 1))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("q").desc, col("doc_id"))
    val ranked = head.withColumn("rn", row_number().over(w))
    val tau = broadcast(
      ranked.filter(col("rn") === PrioK + 1).select(col("q").as("tau")))
    // LEFT join against the (possibly EMPTY) one-row τ relation: a corpus
    // of ≤ K docs has no rank-(K+1) row, and an inner cross join would
    // annihilate the sample instead of degrading to keep-everything with
    // est_w = w (the DLT small-population case; ADVICE r13)
    ranked.filter(col("rn") <= PrioK)
      .join(tau, lit(true), "left")
      .select(col("doc_id"), col("source"), col("w"), col("q"),
        greatest(col("w"), coalesce(col("tau"), col("w"))).as("est_w"))
      .orderBy("doc_id")
  }

  /** B194 — TIME TRAVEL / SNAPSHOT-AS-OF from a versioned CDC log (the
    * Delta/Iceberg `VERSION AS OF` semantics, engine-level — the natural
    * completion of b62's one-batch merge and b72's streamed apply): the
    * change LOG carries (seq, k, op, …) across two versions; AS OF s
    * reconstructs by collapsing `seq ≤ s` to its LAST-WRITER-WINS row
    * per key (max seq; at most one change per (k, seq), so the
    * struct-max is unambiguous — keys k % 30 = 0 carry BOTH a v1 'U'
    * and a v2 'U', so the tie-break provably binds) and applying once.
    * The output unions the as_of = 1 and as_of = 2 snapshots; as_of = 1
    * must equal b62's merged table exactly (spec-pinned), and v2's
    * deletes of v1-INSERTED keys pin that reconstruction composes
    * across versions rather than re-reading the base.
    *
    * Scale posture: the log collapse is one map-combinable struct-max
    * aggregate keyed on k (log-sized, not table-sized); apply is b62's
    * single key join. A real lakehouse stores checkpoints so AS OF
    * replays only the log suffix — same operator, shorter log. */
  private val b194 = entry(
    "b194_time_travel", {
      def snap(s: Int) =
        s"""SELECT $s AS as_of, k,
           |       CASE WHEN op IS NOT NULL THEN c.status ELSE b.status END AS status,
           |       CASE WHEN op IS NOT NULL THEN c.cents ELSE b.cents END AS cents
           |FROM base b FULL OUTER JOIN (
           |  SELECT k, op, status, cents FROM (
           |    SELECT k, op, status, cents,
           |           row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
           |    FROM log WHERE seq <= $s) t
           |  WHERE rn = 1) c USING (k)
           |WHERE op IS NULL OR op <> 'D'""".stripMargin
      s"""WITH base AS (
         |  ${CdcSnapshots.baseSql}),
         |log AS (
         |  ${CdcSnapshots.logSql})
         |SELECT CAST(as_of AS BIGINT) AS as_of, k, status, cents FROM (
         |${snap(1)}
         |UNION ALL
         |${snap(2)}) u
         |ORDER BY as_of, k""".stripMargin
    }) { (s, d) =>
    val base = CdcSnapshots.base(s, d)
    val theLog = CdcSnapshots.log(base)
    def snap(asOfSeq: Long) =
      CdcSnapshots.asOf(base, theLog, asOfSeq)
        .select(lit(asOfSeq).as("as_of"), col("k"), col("status"), col("cents"))
    snap(1L).unionByName(snap(2L)).orderBy("as_of", "k")
  }

  /** B210 — SCD TYPE-2 DIMENSION BUILD (Kimball's slowly-changing
    * dimension, "The Data Warehouse Toolkit" ch. 5) from the b194 CDC
    * log: stack the base snapshot as version seq = 0 ('I') under the
    * (seq, k, op, …) change log, and each key's ordered changes become
    * versioned rows valid over [valid_from, valid_to) — valid_to =
    * lead(seq) per key (NULL = open), 'D' tombstones CLOSE the prior
    * version (their seq becomes its valid_to) but emit no row, and
    * is_current flags the open version. The fixture exercises every
    * shape: re-updated keys get three-row chains 0→1→2→open, v1 deletes
    * leave a closed-only key, v1 inserts deleted in v2 open and close
    * entirely inside the log.
    *
    * The load-bearing law (spec-pinned): slicing the SCD2 table at any
    * s — rows with valid_from ≤ s < coalesce(valid_to, ∞) — must
    * reproduce [[CdcSnapshots.asOf]] exactly; SCD2 is the materialized
    * union of every AS-OF snapshot, which is the entire point of the
    * Type-2 shape.
    *
    * Scale posture: one key-partitioned lead window over base+log (per
    * key state = its version count) + a filter; no join at all — cheaper
    * than the b194 reconstruction it indexes. */
  /** B210's oracle — shared VERBATIM by B241's streamed maintenance (the
    * b72/b214 twin convention). */
  private[graft] val scd2OracleSql: String =
    s"""WITH base AS (
       |  ${CdcSnapshots.baseSql}),
       |log AS (
       |  ${CdcSnapshots.logSql}),
       |stacked AS (
       |  SELECT 0 AS seq, k, 'I' AS op, status, cents FROM base
       |  UNION ALL
       |  SELECT seq, k, op, status, cents FROM log),
       |v AS (
       |  SELECT k, CAST(seq AS BIGINT) AS valid_from, op, status, cents,
       |         CAST(lead(seq) OVER (PARTITION BY k ORDER BY seq)
       |              AS BIGINT) AS valid_to
       |  FROM stacked)
       |SELECT k, valid_from, valid_to, status, cents,
       |       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_current
       |FROM v WHERE op <> 'D'
       |ORDER BY k, valid_from""".stripMargin

  private val b210 = entry(
    "b210_scd2_dimension", scd2OracleSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = CdcSnapshots.base(s, d)
    val stacked = base.select(lit(0L).as("seq"), col("k"), lit("I").as("op"),
        col("status"), col("cents"))
      .unionByName(CdcSnapshots.log(base)
        .select(col("seq"), col("k"), col("op"), col("status"), col("cents")))
    val w = Window.partitionBy(col("k")).orderBy(col("seq"))
    stacked
      .withColumn("valid_to", lead(col("seq"), 1).over(w))
      .filter(col("op") =!= "D")
      .select(col("k"), col("seq").as("valid_from"), col("valid_to"),
        col("status"), col("cents"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("k", "valid_from")
  }

  val entries: Seq[Entry] =
    Seq(b58, b58c, b59, b60, b61, b62, b66, b76, b167, b194, b210)
}
