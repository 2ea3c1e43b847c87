package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** Product-analytics operator family beyond the funnel/cohort/transition
  * rows (B117/B118/B195): association rules over order baskets (B197).
  *
  * Everything here follows the repo's exactness contract (SURVEY §2B
  * preamble): BIGINT fixed-point metrics (bp = 10⁴, micro = 10⁶) with
  * documented overflow bounds, floor division on POSITIVE operands only
  * (so Spark `div` ≡ DuckDB `//`), and a total ORDER BY over a unique
  * key.
  */
object AnalyticsOps {

  /** Minimum pair support (baskets containing both items). 2 is the
    * smallest non-trivial threshold and is non-vacuous at all three gate
    * SFs (2 324 / 3 445 / 3 573 surviving pairs at sf0.001/0.01/0.1). */
  private val MinSup = 2L

  /** Per-order DISTINCT baskets (o, ps[]) of an (o, item) relation —
    * ONE order-keyed exchange (map-side partial collect_set dedupes
    * within-order repeats before the shuffle), checkpointed and shared
    * by the whole basket family (r20, the GraphOps.orderBaskets
    * argument): items, item counts, pair counts, basket sizes and
    * held-out picks all derive MAP-SIDE from it, where the items
    * self-join spelling paid a sort-merge join plus its aggregate
    * exchange per consumer. Per-order pair fanout stays C(basket, 2);
    * the basket array rides only inside map pipelines (generates), it
    * is never shuffled at pair width. */
  private def basketsOf(rel: DataFrame): DataFrame =
    QueryScope.materialize("baskets")(rel.groupBy(col("o")).agg(collect_set(col("p")).as("ps")))

  /** (p1 < p2) co-occurrence pairs of a basket relation, one row per
    * (order, pair) — the map-side double explode; aggregate downstream.
    * `ps` is carried for consumers that extend pairs within the same
    * basket (b249's third item); column pruning drops it elsewhere. */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets.select(explode(col("ps")).as("p1"), col("ps"))
      .select(col("p1"), explode(col("ps")).as("p2"), col("ps"))
      .filter(col("p1") < col("p2"))

  /** Distinct (p1 < p2) pair supports ≥ [[MinSup]]. */
  private def pairSupports(baskets: DataFrame): DataFrame =
    basketPairs(baskets)
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= MinSup)

  /** Per-item basket counts (p, n_item). */
  private def itemCounts(baskets: DataFrame): DataFrame =
    baskets.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("n_item"))

  /** B197 — MARKET-BASKET ASSOCIATION RULES (Agrawal & Srikant,
    * VLDB'94): the A-priori pair pass over order baskets. A basket is an
    * order's DISTINCT part set; for every co-occurring pair (p1 < p2)
    * surviving [[MinSup]] the row carries the classic rule metrics, all
    * exact BIGINT fixed point:
    *
    *   - support_bp  = n_pair·10⁴ div N          (share of all baskets)
    *   - conf12_bp   = n_pair·10⁴ div n(p1)      (confidence p1 → p2)
    *   - conf21_bp   = n_pair·10⁴ div n(p2)      (confidence p2 → p1)
    *   - lift_micro  = n_pair·N·10⁶ div (n(p1)·n(p2))
    *
    * Overflow bound: n_pair ≤ N, so lift's numerator ≤ N²·10⁶ — safe in
    * BIGINT while N < ~3·10⁶ baskets; past that, drop the lift scale to
    * 10⁴ (the bound is a property of the SCALE constant, not the plan).
    * All operands are positive, so floor division is truncation in both
    * engines.
    *
    * This is the rule-mining semantics over the same co-purchase
    * self-join shape B119 ranks with PageRank (GraphOps.copurchaseEdges):
    * per-order pair fanout is C(basket, 2), bounded by basket size
    * (≤ 13 distinct parts/order in the generated data), never |parts|².
    *
    * Scale posture (100 TB): one distinct pass over the fact table, one
    * self-join keyed on the order key with bounded fanout feeding a
    * map-combinable (p1, p2) count, then two joins against the
    * |parts|-sized item-count dimension (broadcast) and one O(1) basket
    * count scalar cross-broadcast (the b100/b109 one-row convention). No
    * window, no corpus-side all-pairs. */
  private val b197 = entry(
    "b197_basket_rules",
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |n AS (SELECT count(DISTINCT o) AS n_baskets FROM items),
       |itemn AS (SELECT p, count(*) AS n_item FROM items GROUP BY p),
       |pairs AS (
       |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_pair
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p)
       |SELECT p.p1, p.p2, CAST(p.n_pair AS BIGINT) AS n_pair,
       |       CAST(p.n_pair * 10000 // n.n_baskets AS BIGINT) AS support_bp,
       |       CAST(p.n_pair * 10000 // i1.n_item AS BIGINT) AS conf12_bp,
       |       CAST(p.n_pair * 10000 // i2.n_item AS BIGINT) AS conf21_bp,
       |       CAST(p.n_pair * n.n_baskets * 1000000 // (i1.n_item * i2.n_item)
       |            AS BIGINT) AS lift_micro
       |FROM pairs p CROSS JOIN n
       |JOIN itemn i1 ON i1.p = p.p1
       |JOIN itemn i2 ON i2.p = p.p2
       |WHERE p.n_pair >= $MinSup
       |ORDER BY p.p1, p.p2""".stripMargin, bench = true) { (s, d) =>
    val baskets = basketsOf(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
    // every order has ≥ 1 lineitem, so count(DISTINCT o) = basket rows
    val nTot = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemN = itemCounts(baskets)
    val pairs = pairSupports(baskets)
    pairs
      .crossJoin(broadcast(nTot))
      .join(broadcast(itemN.select(col("p").as("p1"), col("n_item").as("n1"))),
        "p1")
      .join(broadcast(itemN.select(col("p").as("p2"), col("n_item").as("n2"))),
        "p2")
      .select(col("p1"), col("p2"), col("n_pair"),
        expr("CAST(n_pair * 10000 div n_baskets AS BIGINT)").as("support_bp"),
        expr("CAST(n_pair * 10000 div n1 AS BIGINT)").as("conf12_bp"),
        expr("CAST(n_pair * 10000 div n2 AS BIGINT)").as("conf21_bp"),
        expr("CAST(n_pair * n_baskets * 1000000 div (n1 * n2) AS BIGINT)")
          .as("lift_micro"))
      .orderBy("p1", "p2")
  }

  /** B249 — A-PRIORI 3-ITEMSET CANDIDATE GENERATION + VERIFICATION
    * (Agrawal & Srikant VLDB'94 §2.1.1, the step B197 stops short of —
    * and the step where A-priori's entire value lives: DOWNWARD CLOSURE
    * prunes the candidate space before any counting): C3 = triples whose
    * THREE sub-pairs are all frequent (L2, support ≥ [[MinSup]]), each
    * verified against the baskets for its true count. The row ships the
    * audit a mining run reads: the three sub-pair supports, the closure
    * bound (min of them — n_basket ≤ bound is a THEOREM, spec-pinned),
    * the true count and the survives-support flag. The fixture makes the
    * prune's necessity visible: 1.6M raw triples at sf0.1 collapse to ONE
    * candidate, and candidates ≠ frequent (it fails verification).
    *
    * Scale posture (the A-priori argument, distributed): enumeration is
    * STAGED — items self-join to L2-pruned pairs first (semi-join against
    * the broadcast L2), then extend by one item with BOTH new sub-pairs
    * semi-joined against L2 — so per-order fanout is bounded by the
    * frequent-pair adjacency, never C(basket, 3); beyond broadcast size
    * the semi-joins shuffle keyed on the pair, same plan class. Margins
    * re-join broadcast. */
  private val b249 = entry(
    "b249_basket_triples",
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |l2 AS (
       |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS s
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING count(*) >= $MinSup),
       |tri AS (
       |  SELECT a.p AS p1, b.p AS p2, c.p AS p3,
       |         CAST(count(*) AS BIGINT) AS n_basket
       |  FROM items a
       |  JOIN items b ON a.o = b.o AND a.p < b.p
       |  JOIN items c ON a.o = c.o AND b.p < c.p
       |  GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT t.p1, t.p2, t.p3, x.s AS s12, y.s AS s13, z.s AS s23,
       |         t.n_basket
       |  FROM tri t
       |  JOIN l2 x ON x.p1 = t.p1 AND x.p2 = t.p2
       |  JOIN l2 y ON y.p1 = t.p1 AND y.p2 = t.p3
       |  JOIN l2 z ON z.p1 = t.p2 AND z.p2 = t.p3)
       |SELECT p1, p2, p3, s12, s13, s23,
       |       least(s12, s13, s23) AS closure_bound, n_basket,
       |       CAST(n_basket >= $MinSup AS BIGINT) AS is_frequent
       |FROM cand ORDER BY p1, p2, p3""".stripMargin, bench = true) { (s, d) =>
    val baskets = basketsOf(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
    val l2 = QueryScope.materialize("l2")(basketPairs(baskets)
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= MinSup)) // feeds 5 joins below
    val l2k = l2.select(col("p1").as("k1"), col("p2").as("k2"))
    // staged pruned enumeration: extend only L2 pairs, check both new
    // sub-pairs against L2 before counting. The basket array rides
    // through the broadcast semi-join inside the map pipeline (never
    // shuffled), so the third-item extension is an explode of the SAME
    // basket — the old items-join-on-o spelling shuffled the C(sz,2)
    // pair relation by the order key to find its basket again.
    val ab = basketPairs(baskets)
      .join(broadcast(l2k),
        col("p1") === col("k1") && col("p2") === col("k2"), "left_semi")
    val tri = ab
      .select(col("p1"), col("p2"), explode(col("ps")).as("p3"))
      .filter(col("p2") < col("p3"))
      .join(broadcast(l2k),
        col("p1") === col("k1") && col("p3") === col("k2"), "left_semi")
      .join(broadcast(l2k),
        col("p2") === col("k1") && col("p3") === col("k2"), "left_semi")
      .groupBy("p1", "p2", "p3")
      .agg(count(lit(1)).as("n_basket"))
    tri
      .join(broadcast(l2.select(col("p1").as("k1"), col("p2").as("k2"),
        col("s").as("s12"))),
        col("p1") === col("k1") && col("p2") === col("k2")).drop("k1", "k2")
      .join(broadcast(l2.select(col("p1").as("k1"), col("p2").as("k2"),
        col("s").as("s13"))),
        col("p1") === col("k1") && col("p3") === col("k2")).drop("k1", "k2")
      .join(broadcast(l2.select(col("p1").as("k1"), col("p2").as("k2"),
        col("s").as("s23"))),
        col("p2") === col("k1") && col("p3") === col("k2")).drop("k1", "k2")
      .select(col("p1"), col("p2"), col("p3"), col("s12"), col("s13"),
        col("s23"), least(col("s12"), col("s13"), col("s23"))
          .as("closure_bound"),
        col("n_basket"),
        expr(s"CAST(n_basket >= $MinSup AS BIGINT)").as("is_frequent"))
      .orderBy("p1", "p2", "p3")
  }

  /** "now" for B199's recency metric: 2001-09-01T00:00Z in epoch µs — a
    * literal parameter (Registry determinism contract: never
    * current_timestamp()), one month past the orders table's max
    * o_orderdate (2001-08-01), so every recency is strictly positive. */
  private val NowUs = 999302400000000L

  /** B199 — RFM SEGMENTATION (Hughes 1994; the classic customer-value
    * quintile grid): per customer over orders,
    * recency_days = (now − max(o_orderdate)) div day (positive by the
    * [[NowUs]] choice), frequency = order count, monetary_cents =
    * Σ floor(o_totalprice·100 + 0.5) — the cents fixed point is taken
    * PER ROW before the sum (o_totalprice carries float error at the 3rd
    * decimal; floor(+0.5) of a 2-decimal-intended double is
    * engine-identical IEEE, and the BIGINT sum is then order-independent,
    * where a double sum would hash-diverge on summation order).
    * Quintiles are ntile(5) over total orders (metric, custkey) — ANSI
    * ntile (⌈n/5⌉-sized leading buckets) is deterministic given a total
    * order and identical in both engines; recency ranks ASC (most recent
    * = bucket 1), frequency/monetary rank DESC (best = bucket 1), and
    * rfm_code = r·100 + f·10 + m.
    *
    * Scale posture (VERDICT r14 item 2): one map-combinable aggregate
    * keyed on the customer, then three GLOBAL quintile assignments over
    * the customer dimension — which at a 100 TB estate is billions of
    * rows, so none of them may run as a naive `ntile OVER (ORDER BY …)`
    * (an Exchange SinglePartition funneling every customer through one
    * task). Each runs as [[OrderStats.withGlobalRank]]'s two-phase
    * bucketed scan instead — recency buckets by day (calendar-bounded
    * range), frequency by order count, monetary by cents div 2²² —
    * followed by the closed-form [[OrderStats.ntileFromRank]] mapping
    * (no window at all for the tile). SinglePartition-freedom is
    * plan-asserted (OrderStatsSpec); the oracle keeps the naive ntile
    * spelling — same relation, different physical plan, hash-equal. */
  private val b199 = entry(
    "b199_rfm_segments",
    s"""WITH m AS (
       |  SELECT o_custkey,
       |         CAST(($NowUs - epoch_us(max(o_orderdate))) // 86400000000
       |              AS BIGINT) AS recency_days,
       |         count(*) AS frequency,
       |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |              AS BIGINT) AS monetary_cents
       |  FROM orders GROUP BY o_custkey),
       |q AS (
       |  SELECT o_custkey, recency_days, frequency, monetary_cents,
       |         CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey)
       |              AS BIGINT) AS r_q,
       |         CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
       |              AS BIGINT) AS f_q,
       |         CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
       |              AS BIGINT) AS m_q
       |  FROM m)
       |SELECT o_custkey, recency_days, frequency, monetary_cents,
       |       r_q, f_q, m_q, r_q * 100 + f_q * 10 + m_q AS rfm_code
       |FROM q ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val m = QueryScope.materialize("m")(Tables.orders(s, d).groupBy("o_custkey").agg(
      // o_orderdate decodes as TIMESTAMP_NTZ; the cast is exact under the
      // UTC session timezone (Tables.events note)
      expr(s"CAST(($NowUs - unix_micros(CAST(max(o_orderdate) AS TIMESTAMP)))" +
        " div 86400000000 AS BIGINT)").as("recency_days"),
      count(lit(1)).as("frequency"),
      sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("monetary_cents"))) // feeds three rank passes + their fold collects
    // three two-phase global ranks (ASC recency; DESC frequency/monetary —
    // bucket on the NEGATED value, monotone under trunc div); each bucket
    // range is bounded: days by the calendar, frequency by max orders per
    // customer, cents div 2^22 by max customer value / 4.2e6
    val (mr, n, _) = OrderStats.withGlobalRank(m,
      expr("recency_days div 64"),
      Seq(col("recency_days"), col("o_custkey")), "_rn_r")
    val (mf, _, _) = OrderStats.withGlobalRank(mr,
      expr("(-frequency) div 4"),
      Seq(col("frequency").desc, col("o_custkey")), "_rn_f")
    val (mm, _, _) = OrderStats.withGlobalRank(mf,
      expr("(-monetary_cents) div 4194304"),
      Seq(col("monetary_cents").desc, col("o_custkey")), "_rn_m")
    mm.select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        OrderStats.ntileFromRank("_rn_r", n, 5).as("r_q"),
        OrderStats.ntileFromRank("_rn_f", n, 5).as("f_q"),
        OrderStats.ntileFromRank("_rn_m", n, 5).as("m_q"))
      .withColumn("rfm_code",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy("o_custkey")
  }

  /** Welch t² as ONE shared expression text (the bm25Expr float
    * convention): both engines take the exact BIGINT sufficient
    * statistics, promote via explicit CAST(· AS DOUBLE) — a bare `1.0`
    * literal parses as DECIMAL in BOTH engines and decimal arithmetic
    * does not hash like IEEE — and walk the identical left-associated
    * IEEE op sequence, so round(·,4) hashes. v/n is spelled
    * (n·Σx² − Σx·Σx) / (n²·(n−1)). */
  private val welchT2Expr: String =
    "round(((CAST(sum1 AS DOUBLE)/nu1 - CAST(sum0 AS DOUBLE)/nu0)" +
      " * (CAST(sum1 AS DOUBLE)/nu1 - CAST(sum0 AS DOUBLE)/nu0))" +
      " / ((CAST(nu0 AS DOUBLE)*ss0 - CAST(sum0 AS DOUBLE)*sum0)" +
      " / (CAST(nu0 AS DOUBLE)*nu0*(nu0-1))" +
      " + (CAST(nu1 AS DOUBLE)*ss1 - CAST(sum1 AS DOUBLE)*sum1)" +
      " / (CAST(nu1 AS DOUBLE)*nu1*(nu1-1))), 4)"

  /** B201 — A/B EXPERIMENT READOUT (the two-sample Welch test over a
    * deterministic assignment; Kohavi et al., KDD'07 practice): users
    * are assigned variant = knuth_scramble(user_id) div 2³⁰ — the TOP bit
    * of the 31-bit scramble, never the bottom (ADVICE r14: the multiplier
    * is odd, so `scramble % 2` reduces to raw `user_id % 2` and the
    * scramble is a no-op for a low-bit split; the high bit actually mixes
    * — the same reason SCALE.md §3.9 mandates scrambled selectors for
    * keep/drop gates) — and the metric is each
    * user's total purchase VALUE in exact cents (floor(value·100 + 0.5)
    * per event row, then BIGINT sums; users with no purchase events
    * count as 0 — intent-to-treat, so nu0+nu1 = all users). The readout
    * row carries the exact per-variant sufficient statistics (n, Σx,
    * Σx²), integer mean cents, and Welch's t² from [[welchT2Expr]] —
    * sufficient statistics make the whole test ONE map-combinable
    * aggregate (the b196 OLS argument, here for inference).
    *
    * Overflow bounds (documented, not checked per row): Σx² ≤
    * users·(maxUserCents)² ≈ 7.5·10¹³ at sf0.1 and sum0² ≈ 5.8·10¹⁶ —
    * inside BIGINT; past ~10⁸ users the float promotion moves before the
    * products (the expression constant changes, not the plan). */
  private val b201 = entry(
    "b201_ab_experiment",
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |v AS (SELECT user_id,
       |             (((user_id % 2147483648) * 2654435761) % 2147483648)
       |               // 1073741824 AS variant FROM u),
       |px AS (SELECT user_id,
       |              sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
       |       FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |x AS (SELECT v.variant, coalesce(px.cents, 0) AS cents
       |      FROM v LEFT JOIN px ON px.user_id = v.user_id),
       |st AS (SELECT variant, count(*) AS nu, sum(cents) AS sx,
       |              sum(cents * cents) AS sxx
       |       FROM x GROUP BY variant),
       |piv AS (SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN nu ELSE 0 END) AS BIGINT) AS nu0,
       |    CAST(sum(CASE WHEN variant = 1 THEN nu ELSE 0 END) AS BIGINT) AS nu1,
       |    CAST(sum(CASE WHEN variant = 0 THEN sx ELSE 0 END) AS BIGINT) AS sum0,
       |    CAST(sum(CASE WHEN variant = 1 THEN sx ELSE 0 END) AS BIGINT) AS sum1,
       |    CAST(sum(CASE WHEN variant = 0 THEN sxx ELSE 0 END) AS BIGINT) AS ss0,
       |    CAST(sum(CASE WHEN variant = 1 THEN sxx ELSE 0 END) AS BIGINT) AS ss1
       |  FROM st)
       |SELECT nu0, nu1, sum0, sum1, ss0, ss1,
       |       CAST(sum0 // nu0 AS BIGINT) AS mean0_cents,
       |       CAST(sum1 // nu1 AS BIGINT) AS mean1_cents,
       |       CAST(sum1 // nu1 AS BIGINT) - CAST(sum0 // nu0 AS BIGINT)
       |         AS diff_cents,
       |       $welchT2Expr AS t2
       |FROM piv""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val u = ev.select("user_id").distinct()
    val v = u.withColumn("variant",
      expr("(((user_id % 2147483648) * 2654435761) % 2147483648)" +
        " div 1073741824"))
    val px = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
    val x = v.join(px, Seq("user_id"), "left")
      .select(col("variant"), coalesce(col("cents"), lit(0L)).as("cents"))
    val st = x.groupBy("variant").agg(
      count(lit(1)).as("nu"), sum("cents").as("sx"),
      sum(col("cents") * col("cents")).as("sxx"))
    st.agg(
        sum(when(col("variant") === 0, col("nu")).otherwise(0L)).as("nu0"),
        sum(when(col("variant") === 1, col("nu")).otherwise(0L)).as("nu1"),
        sum(when(col("variant") === 0, col("sx")).otherwise(0L)).as("sum0"),
        sum(when(col("variant") === 1, col("sx")).otherwise(0L)).as("sum1"),
        sum(when(col("variant") === 0, col("sxx")).otherwise(0L)).as("ss0"),
        sum(when(col("variant") === 1, col("sxx")).otherwise(0L)).as("ss1"))
      .select(col("nu0"), col("nu1"), col("sum0"), col("sum1"),
        col("ss0"), col("ss1"),
        expr("CAST(sum0 div nu0 AS BIGINT)").as("mean0_cents"),
        expr("CAST(sum1 div nu1 AS BIGINT)").as("mean1_cents"),
        expr("CAST(sum1 div nu1 AS BIGINT) - CAST(sum0 div nu0 AS BIGINT)")
          .as("diff_cents"),
        expr(welchT2Expr).as("t2"))
  }

  /** B202 — TIME-WEIGHTED AVERAGE VALUE per user (the TWAP/VWAP shape of
    * financial time series, on the events domain): each observation
    * holds until the next one (a right-continuous step function), so the
    * weight of a value is the interval to the user's NEXT event —
    * lead(ts) OVER (PARTITION BY user ORDER BY ts, event_id), event_id
    * breaking timestamp ties (the b195 total order), last observation
    * carrying no interval. twap_cents = Σ(cents·Δms) div Σ(Δms), exact
    * BIGINT end to end: cents = floor(value·100 + 0.5) per row and Δms =
    * Δµs div 1000 (ms keeps cents·Δms ≤ ~1.6·10¹⁵ per interval —
    * documented bound; Δ ≥ 0 by the ordering so all divisions are on
    * positive operands). Users whose events all share one timestamp
    * (Σms = 0) drop — the HAVING mirrors in both engines.
    *
    * Scale posture: one lead window PARTITIONED BY USER (state bounded
    * per user), one map-combinable per-user sum — the b195 cost class;
    * no global window, no driver traffic. */
  private val b202 = entry(
    "b202_twap_user",
    """WITH seq AS (
      |  SELECT user_id,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         (lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                   ORDER BY ts, event_id)
      |          - epoch_us(ts)) // 1000 AS d_ms
      |  FROM events),
      |agg AS (
      |  SELECT user_id, count(d_ms) AS n_iv,
      |         CAST(sum(d_ms) AS BIGINT) AS tot_ms,
      |         CAST(sum(cents * d_ms) AS BIGINT) AS wsum
      |  FROM seq WHERE d_ms IS NOT NULL
      |  GROUP BY user_id HAVING sum(d_ms) > 0)
      |SELECT user_id, n_iv, tot_ms,
      |       CAST(wsum // tot_ms AS BIGINT) AS twap_cents
      |FROM agg ORDER BY user_id""".stripMargin, bench = true) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("d_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .withColumn("d_ms", expr("d_us div 1000"))
      .filter(col("d_ms").isNotNull)
    seq.groupBy("user_id")
      .agg(count(col("d_ms")).as("n_iv"), sum("d_ms").as("tot_ms"),
        sum(col("cents") * col("d_ms")).as("wsum"))
      .filter(col("tot_ms") > 0)
      .select(col("user_id"), col("n_iv"), col("tot_ms"),
        expr("CAST(wsum div tot_ms AS BIGINT)").as("twap_cents"))
      .orderBy("user_id")
  }

  /** B203 — TEMPORAL COALESCE / interval union (Snodgrass, "Developing
    * Time-Oriented Database Applications in SQL", ch. 6; the classic
    * gaps-and-islands with VARIABLE-length intervals): each event opens
    * an interval [ts, ts + cents seconds) (cents = floor(value·100+0.5),
    * so durations span 3 s – ~9.1 h against a ~10.7 h mean inter-event
    * gap — both merges and gaps occur), and a user's overlapping or
    * touching intervals coalesce into maximal islands. Where B67's
    * fixed-gap sessionize only compares ADJACENT timestamps, variable
    * durations need the running max of interval END over all preceding
    * rows: island-break ⟺ ts_us > max(end_us) over rows before this one
    * (touching, ts = run_end, merges — half-open intervals). Island ids
    * are the running sum of break flags; the island row carries min
    * start, max end, event count and duration.
    *
    * Ordering is (ts_us, event_id) — the repo's deterministic timestamp
    * tie-break. All arithmetic BIGINT µs (cents·10⁶ ≤ 3.3·10¹⁰/row).
    *
    * Scale posture: two user-partitioned windows (running max, running
    * sum) + one map-combinable (user, island) aggregate — the b195/b202
    * cost class; no global window, no driver traffic. */
  /** B203's oracle — shared VERBATIM by B246's streamed incremental
    * maintenance (the b214/b224/b234/b241 twin convention). */
  private[graft] val intervalCoalesceOracleSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         epoch_us(ts) + CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000
      |           AS end_us
      |  FROM events),
      |m AS (
      |  SELECT *, max(end_us) OVER (PARTITION BY user_id
      |                              ORDER BY ts_us, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING
      |                              AND 1 PRECEDING) AS run_end
      |  FROM seq),
      |f AS (
      |  SELECT *, CASE WHEN run_end IS NULL OR ts_us > run_end
      |                 THEN 1 ELSE 0 END AS nf
      |  FROM m),
      |i AS (
      |  SELECT *, CAST(sum(nf) OVER (PARTITION BY user_id
      |                               ORDER BY ts_us, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |              AS island
      |  FROM f)
      |SELECT user_id, island, CAST(count(*) AS BIGINT) AS n_events,
      |       min(ts_us) AS start_us, max(end_us) AS end_us,
      |       CAST((max(end_us) - min(ts_us)) // 1000 AS BIGINT) AS dur_ms
      |FROM i GROUP BY user_id, island
      |ORDER BY user_id, island""".stripMargin

  private val b203 = entry(
    "b203_interval_coalesce", intervalCoalesceOracleSql,
    bench = true) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (unix_micros(col("ts")) +
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000L"))
          .as("end_us"))
    seq
      .withColumn("run_end",
        max(col("end_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nf",
        when(col("run_end").isNull || col("ts_us") > col("run_end"), 1)
          .otherwise(0))
      .withColumn("island",
        sum(col("nf")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("end_us")).as("end_us"))
      .withColumn("dur_ms", expr("(end_us - start_us) div 1000"))
      .orderBy("user_id", "island")
  }

  /** Session gap for B204: 6 h in µs. Sized against the events domain's
    * ~10.7 h mean inter-event gap so sessions are non-trivial in BOTH
    * directions (~43% of gaps merge → mean session ≈ 1.8 events; most
    * sessions still lack most event types, so pattern support is a real
    * statistic, not 10⁴ bp everywhere — B117's funnel over a lifetime
    * horizon IS near-vacuous that way, which is why this row scopes to
    * sessions). */
  private[graft] val SessGapUs = 21600000000L

  /** B204 — SEQUENTIAL-PATTERN SUPPORT COUNTING (the 2-sequence pass of
    * GSP/SPADE; Srikant & Agrawal EDBT'96, Zaki MLJ'01): for every
    * ordered event-type pair (a, b), the number of SESSIONS containing
    * some a strictly before some b, and its share of all sessions in
    * integer bp. Sessions are fixed-gap islands ([[SessGapUs]]) per user
    * — the b67 semantics inline. The exists-a-before-b predicate
    * collapses exactly to min_ts(a) < max_ts(b) within the session, so
    * the quadratic-looking containment check is an equi-join of two
    * 5-row-per-session summaries (bounded by |event_types|, never by
    * session length).
    *
    * Scale posture: one lag window per user, one map-combinable
    * (user, sess, type) aggregate, a per-session self-join with ≤ |T|²
    * fanout, and one O(1) session-count scalar cross-broadcast (the b197
    * convention). */
  private val b204 = entry(
    "b204_seq_pattern_support",
    s"""WITH seq AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |                                 ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SessGapUs
       |                 THEN 1 ELSE 0 END AS nf
       |  FROM seq),
       |s AS (
       |  SELECT *, CAST(sum(nf) OVER (PARTITION BY user_id
       |                               ORDER BY ts_us, event_id
       |                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |              AS sess
       |  FROM f),
       |t AS (
       |  SELECT user_id, sess, event_type,
       |         min(ts_us) AS mn, max(ts_us) AS mx
       |  FROM s GROUP BY user_id, sess, event_type),
       |ns AS (
       |  SELECT count(*) AS n_sessions
       |  FROM (SELECT DISTINCT user_id, sess FROM s)),
       |sup AS (
       |  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_sess
       |  FROM t a JOIN t b
       |    ON a.user_id = b.user_id AND a.sess = b.sess
       |   AND a.event_type <> b.event_type AND a.mn < b.mx
       |  GROUP BY a.event_type, b.event_type)
       |SELECT sup.t1, sup.t2, CAST(sup.n_sess AS BIGINT) AS n_sess,
       |       CAST(sup.n_sess * 10000 // ns.n_sessions AS BIGINT)
       |         AS support_bp
       |FROM sup CROSS JOIN ns
       |ORDER BY sup.t1, sup.t2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("nf",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessGapUs, 1).otherwise(0))
      .withColumn("sess",
        sum(col("nf")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
    val t = sess.groupBy("user_id", "sess", "event_type")
      .agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
    val nSess = sess.select("user_id", "sess").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    t.as("a")
      .join(t.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.sess") === col("b.sess") &&
          col("a.event_type") =!= col("b.event_type") &&
          col("a.mn") < col("b.mx"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n_sess"))
      .crossJoin(broadcast(nSess))
      .select(col("t1"), col("t2"), col("n_sess"),
        expr("CAST(n_sess * 10000 div n_sessions AS BIGINT)").as("support_bp"))
      .orderBy("t1", "t2")
  }

  /** B205 — CUSUM CHANGEPOINT SCAN per user (Page, Biometrika 1954; the
    * offline max-|S| form): over a user's event values in order, the
    * centered cumulative sum S_k = Σ_{i≤k}(x_i − x̄) localizes a level
    * shift at the argmax of S. To stay EXACT BIGINT the row scales S by
    * n: s_k = n·prefix_k − k·Σx (≡ n·Σ_{i≤k}(x_i − x̄), same argmax and
    * range shape, zero endpoints). The row carries the per-user extremes,
    * range, and the FIRST k attaining the max (ties → smallest k, via
    * min-filtered conditional agg — composable, unlike an arbitrary
    * arg_max). Overflow: n·prefix ≤ n²·maxcents ≈ 1.4·10⁸ per user at
    * the ~65-event density; safe while n²·maxcents < 9·10¹⁸ (n ~ 10⁷
    * events/user at web-scale cents — far past any real user).
    *
    * Scale posture: two user-partitioned windows (prefix sum, row
    * number) + two map-combinable per-user aggregates and a per-user
    * totals join — the b195/b202 cost class. */
  private val b205 = entry(
    "b205_cusum_changepoint",
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |p AS (
      |  SELECT user_id, event_id, cents,
      |         CAST(sum(cents) OVER (PARTITION BY user_id
      |                               ORDER BY ts_us, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |           AS pref,
      |         CAST(row_number() OVER (PARTITION BY user_id
      |                                 ORDER BY ts_us, event_id) AS BIGINT)
      |           AS k
      |  FROM seq),
      |tot AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(cents) AS BIGINT) AS sx
      |  FROM seq GROUP BY user_id),
      |sc AS (
      |  SELECT p.user_id, p.k, tot.n, tot.n * p.pref - p.k * tot.sx AS s_k
      |  FROM p JOIN tot USING (user_id)),
      |mx AS (
      |  SELECT user_id, max(s_k) AS s_max, min(s_k) AS s_min
      |  FROM sc GROUP BY user_id)
      |SELECT sc.user_id, max(sc.n) AS n, mx.s_max, mx.s_min,
      |       mx.s_max - mx.s_min AS s_range,
      |       CAST(min(CASE WHEN sc.s_k = mx.s_max THEN sc.k END) AS BIGINT)
      |         AS argmax_k
      |FROM sc JOIN mx USING (user_id)
      |GROUP BY sc.user_id, mx.s_max, mx.s_min
      |ORDER BY sc.user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val p = seq
      .withColumn("pref",
        sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
      .withColumn("k", row_number().over(w).cast("long"))
    val tot = seq.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"))
    val sc = p.join(tot, "user_id")
      .select(col("user_id"), col("k"), col("n"),
        (col("n") * col("pref") - col("k") * col("sx")).as("s_k"))
    val mx = sc.groupBy("user_id")
      .agg(max(col("s_k")).as("s_max"), min(col("s_k")).as("s_min"))
    sc.join(mx, "user_id")
      .groupBy(col("user_id"), col("s_max"), col("s_min"))
      .agg(max(col("n")).as("n"),
        min(when(col("s_k") === col("s_max"), col("k"))).as("argmax_k"))
      .select(col("user_id"), col("n"), col("s_max"), col("s_min"),
        (col("s_max") - col("s_min")).as("s_range"), col("argmax_k"))
      .orderBy("user_id")
  }

  /** B206 — 2-D SKYLINE / Pareto frontier (Börzsönyi, Kossmann &
    * Stocker, ICDE'01) over purchasing customers, maximizing (last-order
    * DAY, monetary cents): "no other customer is both at least as
    * recently active and at least as valuable, with one strict" — the
    * recency×value retention shortlist (order count was rejected: it
    * correlates with monetary so tightly the frontier degenerates to one
    * row; the day grain keeps the first dimension's cardinality
    * CALENDAR-bounded). The quadratic dominance test collapses to the
    * classic sort-scan: per last-day group keep only rows at the group
    * max M (equal-day domination), then a running max of group-max-M
    * over STRICTLY more recent days (ROWS ... 1 PRECEDING over the
    * distinct-day relation, one row per day so the frame boundary IS the
    * strict boundary) — frontier iff m = gmax(day) AND gmax(day) > run.
    * Duplicate (day, M) points neither dominate the other and all stay,
    * which the replay spec pins.
    *
    * Scale posture: one map-combinable customer aggregate, one
    * map-combinable day-group aggregate, then a window over the
    * DISTINCT-DAY relation — cardinality bounded by the calendar
    * (121/577/1136 days at the three SFs), not by data — and a
    * broadcast join back. The all-pairs spelling never runs; the JVM
    * replay at the gate SF is the losslessness proof (the b198/b200
    * pattern, in the spec rather than the oracle). */
  private val b206 = entry(
    "b206_skyline_pareto",
    """WITH m AS (
      |  SELECT o_custkey,
      |         CAST(epoch_us(max(o_orderdate)) // 86400000000 AS BIGINT)
      |           AS last_day,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS monetary_cents
      |  FROM orders GROUP BY o_custkey),
      |g AS (SELECT last_day, max(monetary_cents) AS gmax
      |      FROM m GROUP BY last_day),
      |r AS (SELECT last_day, gmax,
      |             max(gmax) OVER (ORDER BY last_day DESC
      |                             ROWS BETWEEN UNBOUNDED PRECEDING
      |                             AND 1 PRECEDING) AS run
      |      FROM g)
      |SELECT m.o_custkey, m.last_day, m.monetary_cents
      |FROM m JOIN r ON r.last_day = m.last_day
      |WHERE m.monetary_cents = r.gmax AND (r.run IS NULL OR r.gmax > r.run)
      |ORDER BY m.o_custkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, d).groupBy("o_custkey").agg(
      expr("CAST(unix_micros(CAST(max(o_orderdate) AS TIMESTAMP))" +
        " div 86400000000 AS BIGINT)").as("last_day"),
      sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("monetary_cents"))
    val g = m.groupBy("last_day").agg(max("monetary_cents").as("gmax"))
    // global window over the distinct-day relation only (calendar-bounded,
    // never data-proportional)
    val w = Window.orderBy(col("last_day").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.withColumn("run", max(col("gmax")).over(w))
    m.join(broadcast(r), "last_day")
      .filter(col("monetary_cents") === col("gmax") &&
        (col("run").isNull || col("gmax") > col("run")))
      .select(col("o_custkey"), col("last_day"), col("monetary_cents"))
      .orderBy("o_custkey")
  }

  /** The B208 pattern: a view, then any run of clicks/errors, then the
    * FIRST purchase that follows. [ce] excludes p, so the match always
    * ends at the first p after the run — backtracking (Java) and
    * automaton (RE2/DuckDB) engines agree on every match and on the
    * non-overlapping count; never put the terminator inside the starred
    * class or the two regex engines may disagree. */
  private val CepPattern = "v[ce]*p"

  /** B208 — EVENT-SEQUENCE REGEX MATCH (MATCH_RECOGNIZE-lite / complex
    * event processing on the stored domain; SQL:2016 row-pattern
    * semantics' simplest useful fragment): each user's history becomes a
    * string of event-type initials in (ts, event_id) order — the five
    * types have distinct initials c/e/p/s/v — and the row counts
    * non-overlapping occurrences of [[CepPattern]] (view → any clicks or
    * errors → purchase, the "browse converts without leaving" motif
    * B117's step funnel cannot express: the funnel admits ANY
    * interleaving, the regex forbids s/v/p inside the gap).
    *
    * Scale posture: one per-user sorted collect (bounded by a user's own
    * activity — the b21 contract) + one codegen'd regexp_count; no
    * window, no join, no driver traffic. */
  private val b208 = entry(
    "b208_event_regex_match",
    s"""WITH seq AS (
       |  SELECT user_id, substr(event_type, 1, 1) AS ini,
       |         epoch_us(ts) AS ts_us, event_id
       |  FROM events),
       |s AS (
       |  SELECT user_id, string_agg(ini, '' ORDER BY ts_us, event_id) AS sq
       |  FROM seq GROUP BY user_id)
       |SELECT user_id, CAST(length(sq) AS BIGINT) AS seq_len,
       |       CAST(len(regexp_extract_all(sq, '$CepPattern')) AS BIGINT)
       |         AS n_matches
       |FROM s ORDER BY user_id""".stripMargin, bench = true) { (s, d) =>
    val seq = Tables.events(s, d)
      .select(col("user_id"), substring(col("event_type"), 1, 1).as("ini"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
    seq.groupBy("user_id")
      .agg(concat_ws("",
        expr("transform(array_sort(collect_list(struct(ts_us, event_id, ini)))," +
          " x -> x.ini)")).as("sq"))
      .select(col("user_id"), length(col("sq")).cast("long").as("seq_len"),
        regexp_count(col("sq"), lit(CepPattern)).cast("long").as("n_matches"))
      .orderBy("user_id")
  }

  /** B209 — GINI CONCENTRATION per nation (Gini 1912, via the exact
    * rank-sum identity G = (2·Σ r·x_(r) − (n+1)·Σx) / (n·Σx); the
    * revenue-concentration dashboard behind "top customers" risk): per
    * nation over its purchasing customers' monetary cents, reported in
    * integer bp. Everything BIGINT: the numerator 2Σrx − (n+1)Σx is
    * computed FIRST (it is ≤ n·Σx and ≥ 0 — Σrx is maximal when ranked
    * ascending, minimal (n+1)Σx/2 under any permutation — so the later
    * ·10⁴ div is on positive operands) and only then scaled; safe while
    * n·Σx < 9.2·10¹⁴ per nation (sf0.1: ~7·10¹²; past that drop the
    * scale to 10² — a constant, not a plan change). Rank ties (equal
    * cents) are broken by custkey, which provably cannot change the
    * result: Σ r·x over a tied group is invariant under any rank
    * permutation within the group.
    *
    * Scale posture: customer-key aggregate (map-combinable), one
    * nation-partitioned rank window over the CUSTOMER dimension (~10⁴×
    * smaller than facts, the b199 argument), one map-combinable nation
    * aggregate. */
  private val b209 = entry(
    "b209_gini_concentration",
    """WITH m AS (
      |  SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
      |         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY c.c_nationkey, o.o_custkey),
      |r AS (
      |  SELECT nk, cents,
      |         CAST(row_number() OVER (PARTITION BY nk ORDER BY cents, ck)
      |              AS BIGINT) AS rk
      |  FROM m),
      |g AS (
      |  SELECT nk, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(cents) AS BIGINT) AS sx,
      |         CAST(sum(rk * cents) AS BIGINT) AS srx
      |  FROM r GROUP BY nk)
      |SELECT nk AS nationkey, n, sx AS total_cents,
      |       CAST((2 * srx - (n + 1) * sx) * 10000 // (n * sx) AS BIGINT)
      |         AS gini_bp
      |FROM g ORDER BY nationkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_custkey").as("ck"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("cents"))
    val w = Window.partitionBy(col("nk")).orderBy(col("cents"), col("ck"))
    m.withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("rk") * col("cents")).as("srx"))
      .select(col("nk").as("nationkey"), col("n"), col("sx").as("total_cents"),
        expr("CAST((2 * srx - (n + 1) * sx) * 10000 div (n * sx) AS BIGINT)")
          .as("gini_bp"))
      .orderBy("nationkey")
  }

  /** The B212 χ² contribution as ONE shared expression text (the
    * welchT2Expr convention): the exact BIGINT residual numerator
    * n·T − r·c (|·| ≤ T² ≈ 10¹⁰ at sf0.1 — BIGINT-safe while T < 3·10⁹
    * events) is cast to DOUBLE ONCE and squared in IEEE, over the
    * DOUBLE-promoted T·r·c. */
  private val chi2Expr: String =
    "round((CAST(n * t - r * c AS DOUBLE) * CAST(n * t - r * c AS DOUBLE))" +
      " / (CAST(t AS DOUBLE) * r * c), 4)"

  /** B212 — SEASONALITY GRID + INDEPENDENCE RESIDUALS (Pearson's χ²
    * contingency machinery, 1900, applied as the day-of-week × hour
    * traffic heatmap every analytics product ships): cell counts
    * n(d, h), margins r(d) and c(h), expectation under independence
    * r·c/T as exact integer micro (r·c·10⁶ div T), and each cell's χ²
    * contribution (n·T − r·c)²/(T·r·c) via [[chi2Expr]]. Day/hour
    * derive from epoch µs arithmetic ((us div 86400000000 + 4) % 7 with
    * 0 = Monday, us % 86400000000 div 3600000000) — NO calendar
    * functions, whose week-start and DST conventions differ between
    * engines; the µs spelling is engine-proof by construction.
    *
    * Scale posture: one map-combinable (d, h) count (168 cells), two
    * broadcast margin joins, one O(1) total cross-broadcast — the whole
    * test is dashboard-sized after a single fact pass. */
  private val b212 = entry(
    "b212_seasonality_chi2",
    s"""WITH e AS (
       |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
       |         epoch_us(ts) % 86400000000 // 3600000000 AS hod
       |  FROM events),
       |cells AS (
       |  SELECT dow, hod, CAST(count(*) AS BIGINT) AS n
       |  FROM e GROUP BY dow, hod),
       |rm AS (SELECT dow, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY dow),
       |cm AS (SELECT hod, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY hod),
       |tm AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells)
       |SELECT cells.dow, cells.hod, cells.n,
       |       CAST(rm.r * cm.c * 1000000 // tm.t AS BIGINT) AS exp_micro,
       |       $chi2Expr AS chi2_c
       |FROM cells JOIN rm USING (dow) JOIN cm USING (hod) CROSS JOIN tm
       |ORDER BY cells.dow, cells.hod""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(
      expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
      expr("unix_micros(ts) % 86400000000 div 3600000000").as("hod"))
    val cells = e.groupBy("dow", "hod").agg(count(lit(1)).as("n"))
    val rm = cells.groupBy("dow").agg(sum("n").as("r"))
    val cm = cells.groupBy("hod").agg(sum("n").as("c"))
    val tm = cells.agg(sum("n").as("t"))
    cells.join(broadcast(rm), "dow").join(broadcast(cm), "hod")
      .crossJoin(broadcast(tm))
      .select(col("dow"), col("hod"), col("n"),
        expr("CAST(r * c * 1000000 div t AS BIGINT)").as("exp_micro"),
        expr(chi2Expr).as("chi2_c"))
      .orderBy("dow", "hod")
  }

  /** B213 — TIME-TO-CONVERT DECILES (the first-passage-time readout of
    * product analytics: "how long from first view to the first purchase
    * AFTER it"): per user, fv = min view ts, ttc_ms = (min purchase ts
    * strictly after fv − fv) div 1000; non-converting users (no view,
    * or no later purchase) drop. The distribution ships as ANSI
    * ntile(10) deciles over (ttc_ms, user_id) — the b199 determinism
    * argument — each with count/min/max ms.
    *
    * Scale posture (VERDICT r14 item 2): two map-combinable per-user
    * aggregates (view min; filtered later-purchase min after a user-keyed
    * join of the purchase stream to the view-min dimension), then the
    * global decile over the USER dimension as [[OrderStats]]'s two-phase
    * scan (ttc_ms div 2³¹ ≈ 25-day buckets — range bounded by the event
    * horizon) + closed-form [[OrderStats.ntileFromRank]] — never a
    * SinglePartition ntile window over a relation that grows with the
    * estate (plan-asserted, OrderStatsSpec). */
  private val b213 = entry(
    "b213_time_to_convert",
    """WITH fv AS (
      |  SELECT user_id, min(epoch_us(ts)) AS fv_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |fp AS (
      |  SELECT e.user_id,
      |         CAST((min(epoch_us(e.ts)) - fv.fv_us) // 1000 AS BIGINT)
      |           AS ttc_ms
      |  FROM events e JOIN fv ON fv.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.fv_us
      |  GROUP BY e.user_id, fv.fv_us),
      |dec AS (
      |  SELECT user_id, ttc_ms,
      |         CAST(ntile(10) OVER (ORDER BY ttc_ms, user_id) AS BIGINT)
      |           AS decile
      |  FROM fp)
      |SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
      |       min(ttc_ms) AS min_ms, max(ttc_ms) AS max_ms
      |FROM dec GROUP BY decile ORDER BY decile""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("fv_us"))
    // feeds the rank pass + its fold collect
    val fp = QueryScope.materialize("fp")(ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(unix_micros(col("ts")) > col("fv_us"))
      .groupBy("user_id", "fv_us")
      .agg(min(unix_micros(col("ts"))).as("fp_us"))
      .select(col("user_id"),
        expr("CAST((fp_us - fv_us) div 1000 AS BIGINT)").as("ttc_ms")))
    val (ranked, n, _) = OrderStats.withGlobalRank(fp,
      expr("ttc_ms div 2147483648"),
      Seq(col("ttc_ms"), col("user_id")), "_rn")
    ranked.withColumn("decile", OrderStats.ntileFromRank("_rn", n, 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), min("ttc_ms").as("min_ms"),
        max("ttc_ms").as("max_ms"))
      .orderBy("decile")
  }

  /** B215 — LAST-TOUCH ATTRIBUTION (the marketing-analytics revenue
    * allocator: every purchase credits the user's most recent PRECEDING
    * non-purchase event type): per purchase, channel = last non-purchase
    * type over ROWS UNBOUNDED PRECEDING AND 1 PRECEDING with IGNORE
    * NULLS (Spark `last(expr, ignoreNulls)` ≡ DuckDB `last_value(expr
    * IGNORE NULLS)` — frame semantics identical), purchases with no
    * prior touch land in the '(none)' bucket; channels aggregate
    * n/revenue cents/revenue share bp (revenue·10⁴ div total).
    *
    * Scale posture: one user-partitioned window + one map-combinable
    * channel aggregate (≤|types| rows) + an O(1) total cross-broadcast. */
  /** B215's oracle — shared VERBATIM by B224's streamed maintenance (the
    * b195/b214 twin convention). */
  private[graft] val attributionOracleSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |att AS (
      |  SELECT event_type, cents,
      |         last_value(CASE WHEN event_type <> 'purchase'
      |                         THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS src
      |  FROM seq),
      |ch AS (
      |  SELECT coalesce(src, '(none)') AS channel,
      |         CAST(count(*) AS BIGINT) AS n_purchases,
      |         CAST(sum(cents) AS BIGINT) AS revenue_cents
      |  FROM att WHERE event_type = 'purchase'
      |  GROUP BY coalesce(src, '(none)')),
      |tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS t FROM ch)
      |SELECT channel, n_purchases, revenue_cents,
      |       CAST(revenue_cents * 10000 // tot.t AS BIGINT) AS share_bp
      |FROM ch CROSS JOIN tot
      |ORDER BY channel""".stripMargin

  /** The channel-rollup tail over (channel, cents) allocation rows —
    * shared by B215 (batch window) and B224 (streamed stateful fold),
    * the normalizeTransitions pattern. */
  private[graft] def channelShares(att: DataFrame): DataFrame = {
    val ch = att.groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("revenue_cents"))
    val tot = ch.agg(sum("revenue_cents").as("t"))
    ch.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_purchases"), col("revenue_cents"),
        expr("CAST(revenue_cents * 10000 div t AS BIGINT)").as("share_bp"))
      .orderBy("channel")
  }

  private val b215 = entry(
    "b215_attribution_last_touch", attributionOracleSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val att = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("src",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
    channelShares(att.filter(col("event_type") === "purchase")
      .select(coalesce(col("src"), lit("(none)")).as("channel"), col("cents")))
  }

  /** B216 — GROWTH ACCOUNTING / revenue waterfall (the SaaS
    * new-expansion-contraction-churn bridge; Skok's "SaaS metrics"
    * canon): per (user, week — [[graft.operators.PipelineOps.weekFloorExpr]])
    * purchase cents, each consecutive-week pair (full outer join of week
    * w against w−1 per user) decomposes into
    *   new (first-ever week), resurrected (absent w−1, not first),
    *   expansion (max(0, cur−prev)), contraction (−max(0, prev−cur)),
    *   churned (−prev when absent in w),
    * with retained = min(cur, prev) implied. The BRIDGE IDENTITY —
    * revenue(w) − revenue(w−1) = new + resurrected + expansion +
    * contraction + churned — holds exactly in integer cents and is
    * spec-pinned per week.
    *
    * Scale posture: one map-combinable (user, week) aggregate, one
    * per-user first-week aggregate (broadcast-joined), one self-join
    * keyed (user, week) with ±1-week shift, one map-combinable week
    * aggregate. */
  /** B216's oracle — shared VERBATIM by B248's streamed maintenance (the
    * b214/b224/b234/b241/b246 twin convention). */
  private[graft] val growthOracleSql: String =
    s"""WITH uw AS (
       |  SELECT user_id,
       |         ${graft.operators.PipelineOps.weekFloorSqlDuck} AS week,
       |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
       |           AS cents
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY user_id, 2),
       |fw AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY user_id),
       |pairs AS (
       |  SELECT coalesce(c.user_id, p.user_id) AS user_id,
       |         coalesce(c.week, p.week + 1) AS week,
       |         c.cents AS cur, p.cents AS prev
       |  FROM uw c FULL OUTER JOIN uw p
       |    ON p.user_id = c.user_id AND p.week = c.week - 1),
       |cls AS (
       |  SELECT pairs.week,
       |         CASE WHEN cur IS NOT NULL AND prev IS NULL
       |                   AND pairs.week = fw.first_week THEN cur ELSE 0 END
       |           AS new_c,
       |         CASE WHEN cur IS NOT NULL AND prev IS NULL
       |                   AND pairs.week > fw.first_week THEN cur ELSE 0 END
       |           AS res_c,
       |         CASE WHEN cur IS NOT NULL AND prev IS NOT NULL AND cur > prev
       |              THEN cur - prev ELSE 0 END AS exp_c,
       |         CASE WHEN cur IS NOT NULL AND prev IS NOT NULL AND cur < prev
       |              THEN cur - prev ELSE 0 END AS con_c,
       |         CASE WHEN cur IS NULL THEN -prev ELSE 0 END AS chu_c
       |  FROM pairs JOIN fw ON fw.user_id = pairs.user_id)
       |SELECT week, CAST(sum(new_c) AS BIGINT) AS new_cents,
       |       CAST(sum(res_c) AS BIGINT) AS resurrected_cents,
       |       CAST(sum(exp_c) AS BIGINT) AS expansion_cents,
       |       CAST(sum(con_c) AS BIGINT) AS contraction_cents,
       |       CAST(sum(chu_c) AS BIGINT) AS churned_cents,
       |       CAST(sum(new_c + res_c + exp_c + con_c + chu_c) AS BIGINT)
       |         AS net_cents
       |FROM cls GROUP BY week ORDER BY week""".stripMargin

  /** The classification + bridge tail over an arbitrary per-(user, week)
    * purchase-cents relation — B216 feeds the batch aggregate, B248 the
    * streamed complete-mode fold; the bridge algebra is fold-agnostic. */
  private[graft] def growthFromWeekly(uw: DataFrame): DataFrame = {
    val fw = uw.groupBy("user_id").agg(min("week").as("first_week"))
    val c = uw.select(col("user_id").as("cu"), col("week").as("cw"),
      col("cents").as("cur"))
    val p = uw.select(col("user_id").as("pu"), col("week").as("pw"),
      col("cents").as("prev"))
    val pairs = c.join(p, col("pu") === col("cu") && col("pw") === col("cw") - 1,
        "full_outer")
      .select(coalesce(col("cu"), col("pu")).as("user_id"),
        coalesce(col("cw"), col("pw") + 1).as("week"),
        col("cur"), col("prev"))
    pairs.join(fw, "user_id")
      .select(col("week"),
        when(col("cur").isNotNull && col("prev").isNull &&
          col("week") === col("first_week"), col("cur")).otherwise(0L).as("new_c"),
        when(col("cur").isNotNull && col("prev").isNull &&
          col("week") > col("first_week"), col("cur")).otherwise(0L).as("res_c"),
        when(col("cur").isNotNull && col("prev").isNotNull &&
          col("cur") > col("prev"), col("cur") - col("prev")).otherwise(0L)
          .as("exp_c"),
        when(col("cur").isNotNull && col("prev").isNotNull &&
          col("cur") < col("prev"), col("cur") - col("prev")).otherwise(0L)
          .as("con_c"),
        when(col("cur").isNull, -col("prev")).otherwise(0L).as("chu_c"))
      .groupBy("week")
      .agg(sum("new_c").as("new_cents"), sum("res_c").as("resurrected_cents"),
        sum("exp_c").as("expansion_cents"), sum("con_c").as("contraction_cents"),
        sum("chu_c").as("churned_cents"),
        sum(col("new_c") + col("res_c") + col("exp_c") + col("con_c") +
          col("chu_c")).as("net_cents"))
      .orderBy("week")
  }

  private val b216 = entry(
    "b216_growth_accounting", growthOracleSql) { (s, d) =>
    growthFromWeekly(Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        expr(graft.operators.PipelineOps.weekFloorExpr).as("week"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents")))
  }

  /** B217 — ITEM-ITEM RECOMMENDATION SERVE TABLE (the co-occurrence
    * conditional ranking behind "customers also bought"; Linden et al.,
    * IEEE IC'03): b197's basket pairs symmetrized, then per item the top
    * 3 partners by confidence (n_pair·10⁴ div n_item) with
    * (conf DESC, partner ASC) rank — a deterministic dense serve table,
    * minsup [[MinSup]] inherited.
    *
    * Scale posture: the bounded-fanout basket self-join (b197 argument)
    * + one item-partitioned rank window over the PAIR relation (≤
    * basket-pair cardinality, far below facts) + broadcast item counts. */
  private val b217 = entry(
    "b217_item_item_topk",
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |itemn AS (SELECT p, count(*) AS n_item FROM items GROUP BY p),
       |pairs AS (
       |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_pair
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p),
       |sym AS (
       |  SELECT p1 AS a, p2 AS b, n_pair FROM pairs WHERE n_pair >= $MinSup
       |  UNION ALL
       |  SELECT p2, p1, n_pair FROM pairs WHERE n_pair >= $MinSup),
       |conf AS (
       |  SELECT sym.a, sym.b,
       |         CAST(sym.n_pair * 10000 // i.n_item AS BIGINT) AS conf_bp
       |  FROM sym JOIN itemn i ON i.p = sym.a),
       |rk AS (
       |  SELECT a, b, conf_bp,
       |         CAST(row_number() OVER (PARTITION BY a
       |                                 ORDER BY conf_bp DESC, b) AS BIGINT)
       |           AS rnk
       |  FROM conf)
       |SELECT a AS item, rnk, b AS rec, conf_bp
       |FROM rk WHERE rnk <= 3
       |ORDER BY item, rnk""".stripMargin, bench = true) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val baskets = basketsOf(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
    val itemN = itemCounts(baskets)
    val pairs = pairSupports(baskets)
    // symmetrize with ONE explode pass (the b144 corner-explode argument:
    // union legs are separate subtrees, so the union spelling re-executed
    // the whole basket self-join + aggregate once per direction)
    val sym = pairs.select(explode(array(
        struct(col("p1").as("a"), col("p2").as("b"), col("n_pair")),
        struct(col("p2").as("a"), col("p1").as("b"), col("n_pair")))).as("s"))
      .select(col("s.a").as("a"), col("s.b").as("b"),
        col("s.n_pair").as("n_pair"))
    val conf = sym
      .join(broadcast(itemN.select(col("p").as("a"), col("n_item"))), "a")
      .select(col("a"), col("b"),
        expr("CAST(n_pair * 10000 div n_item AS BIGINT)").as("conf_bp"))
    val w = Window.partitionBy(col("a")).orderBy(col("conf_bp").desc, col("b"))
    conf.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("a").as("item"), col("rnk"), col("b").as("rec"),
        col("conf_bp"))
      .orderBy("item", "rnk")
  }

  /** B218 — STICKINESS (WAU / trailing-4-week MAU, the DAU/MAU engagement
    * ratio at week grain every growth dashboard carries): per week w,
    * wau = distinct active users in w, mau4 = distinct users across
    * weeks w−3..w (computed by fanning each (user, week) presence row
    * out to the ≤4 windows it serves — a BOUNDED-fanout equi-ish join,
    * never a distinct-over-range window, which neither engine has), and
    * stickiness_bp = wau·10⁴ div mau4 ≤ 10⁴.
    *
    * Scale posture: per-(user, week) presence is map-combinable; the
    * fanout join multiplies by ≤4 then collapses to (week, user)
    * distinct → week counts; the week spine is calendar-bounded. */
  private val b218 = entry(
    "b218_stickiness_wau_mau",
    s"""WITH uw AS (
       |  SELECT DISTINCT user_id,
       |         ${graft.operators.PipelineOps.weekFloorSqlDuck} AS week
       |  FROM events),
       |wk AS (SELECT DISTINCT week FROM uw),
       |wau AS (SELECT week, CAST(count(*) AS BIGINT) AS wau FROM uw GROUP BY week),
       |mau AS (
       |  SELECT wk.week, CAST(count(DISTINCT uw.user_id) AS BIGINT) AS mau4
       |  FROM wk JOIN uw
       |    ON uw.week BETWEEN wk.week - 3 AND wk.week
       |  GROUP BY wk.week)
       |SELECT wau.week, wau.wau, mau.mau4,
       |       CAST(wau.wau * 10000 // mau.mau4 AS BIGINT) AS stickiness_bp
       |FROM wau JOIN mau USING (week)
       |ORDER BY wau.week""".stripMargin) { (s, d) =>
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr(graft.operators.PipelineOps.weekFloorExpr).as("week"))
      .distinct()
    val wk = uw.select("week").distinct()
    val wau = uw.groupBy("week").agg(count(lit(1)).as("wau"))
    val mau = wk.select(col("week").as("w"))
      .join(uw, col("week").between(col("w") - 3, col("w")))
      .select(col("w").as("week"), col("user_id")).distinct()
      .groupBy("week").agg(count(lit(1)).as("mau4"))
    wau.join(mau, "week")
      .select(col("week"), col("wau"), col("mau4"),
        expr("CAST(wau * 10000 div mau4 AS BIGINT)").as("stickiness_bp"))
      .orderBy("week")
  }

  /** The B219 per-type c·ln(c) term — 0 for empty counts, CAST-to-DOUBLE
    * before the product (the welchT2Expr literal rule: bare float
    * literals parse DECIMAL). */
  private def clnc(c: String): String =
    s"CASE WHEN $c > 0 THEN CAST($c AS DOUBLE) * ln(CAST($c AS DOUBLE))" +
      s" ELSE CAST(0 AS DOUBLE) END"

  /** B219's Shannon entropy over the FIXED five-type pivot, as ONE
    * shared expression text: H = ln(n) − Σ c·ln(c) / n. Pivoting the
    * closed type set into named columns is what makes the float SUM
    * deterministic — the five terms add in the WRITTEN order, where a
    * SQL sum() over a doubles column would expose engine partial-sum
    * order (the b22 lesson applied to entropy). */
  private val entropyExpr: String =
    s"round(ln(CAST(n AS DOUBLE)) - (${clnc("c_click")} + ${clnc("c_error")}" +
      s" + ${clnc("c_purchase")} + ${clnc("c_signup")} + ${clnc("c_view")})" +
      s" / CAST(n AS DOUBLE), 4)"

  /** B219 — BEHAVIORAL DIVERSITY SCORE (Shannon entropy of each user's
    * event-type mix — the exploration/specialization signal recsys and
    * engagement models feed on; Shannon 1948): per user, the closed
    * five-type histogram pivots to fixed columns (conditional
    * map-combinable sums — the closed set IS the contract, like b208's
    * pattern alphabet), and H computes via [[entropyExpr]] with the
    * written-order float sum. Bounds 0 ≤ H ≤ ln(5) ≈ 1.6094 spec-pinned.
    *
    * Scale posture: ONE map-combinable aggregate keyed on user; the
    * entropy is a scalar expression over six columns — no window, no
    * join, no second pass. */
  private val b219 = entry(
    "b219_user_entropy",
    s"""WITH pv AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c_click,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c_error,
       |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c_purchase,
       |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c_signup,
       |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS c_view
       |  FROM events GROUP BY user_id)
       |SELECT user_id, n,
       |       CAST((CASE WHEN c_click > 0 THEN 1 ELSE 0 END) +
       |            (CASE WHEN c_error > 0 THEN 1 ELSE 0 END) +
       |            (CASE WHEN c_purchase > 0 THEN 1 ELSE 0 END) +
       |            (CASE WHEN c_signup > 0 THEN 1 ELSE 0 END) +
       |            (CASE WHEN c_view > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_types,
       |       $entropyExpr AS entropy
       |FROM pv ORDER BY user_id""".stripMargin) { (s, d) =>
    val pv = Tables.events(s, d).groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c_click"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("c_error"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("c_purchase"),
      sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("c_signup"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_view"))
    pv.select(col("user_id"), col("n"),
        expr("CAST((CASE WHEN c_click > 0 THEN 1 ELSE 0 END) +" +
          " (CASE WHEN c_error > 0 THEN 1 ELSE 0 END) +" +
          " (CASE WHEN c_purchase > 0 THEN 1 ELSE 0 END) +" +
          " (CASE WHEN c_signup > 0 THEN 1 ELSE 0 END) +" +
          " (CASE WHEN c_view > 0 THEN 1 ELSE 0 END) AS BIGINT)").as("n_types"),
        expr(entropyExpr).as("entropy"))
      .orderBy("user_id")
  }

  /** B220 — DUPLICATE-TRANSACTION AUDIT (the double-charge candidate
    * pass of payment forensics): pairs of a user's events in the same
    * DOLLAR bucket (cents div 100 — the bucket is what makes the
    * blocking key selective without an all-pairs scan) within 24 h,
    * ordered (ts, event_id) so each unordered pair emits exactly once;
    * rows carry the gap for triage. 22/195/2228 pairs at the three gate
    * SFs — non-vacuous, not exploding.
    *
    * Scale posture: an EQUI-join keyed (user, dollar) — cost Σ group²
    * over same-user-same-dollar groups (collision-sized), never n²; the
    * time predicate is a join residual. The b43-LSH shape with an exact
    * blocking key. */
  private val b220 = entry(
    "b220_duplicate_txn_audit",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS dollars
      |  FROM events)
      |SELECT a.user_id, a.event_id AS e1, b.event_id AS e2, a.dollars,
      |       CAST((b.us - a.us) // 1000 AS BIGINT) AS gap_ms
      |FROM e a JOIN e b
      |  ON a.user_id = b.user_id AND a.dollars = b.dollars
      | AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
      | AND b.us - a.us <= 86400000000
      |ORDER BY a.user_id, e1, e2""".stripMargin, bench = true) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100").as("dollars"))
    e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.dollars") === col("b.dollars") &&
          (col("a.us") < col("b.us") ||
            (col("a.us") === col("b.us") &&
              col("a.event_id") < col("b.event_id"))) &&
          col("b.us") - col("a.us") <= 86400000000L)
      .select(col("a.user_id").as("user_id"), col("a.event_id").as("e1"),
        col("b.event_id").as("e2"), col("a.dollars").as("dollars"),
        expr("CAST((b.us - a.us) div 1000 AS BIGINT)").as("gap_ms"))
      .orderBy("user_id", "e1", "e2")
  }

  /** Benford first-digit probabilities, floor(log10(1 + 1/d)·10⁶) — the
    * nine micro constants ARE the contract (no runtime log10, whose libm
    * could differ); they sum to 999995 (floor loss ≤ 9). */
  private val BenfordMicro: Seq[(Long, Long)] = Seq(
    1L -> 301029L, 2L -> 176091L, 3L -> 124938L, 4L -> 96910L, 5L -> 79181L,
    6L -> 66946L, 7L -> 57991L, 8L -> 51152L, 9L -> 45757L)

  /** B221 — BENFORD FIRST-DIGIT AUDIT (Benford 1938; Nigrini's forensic
    * accounting screen): the first-digit distribution of order totals in
    * cents vs the Benford expectation log10(1 + 1/d), both in integer
    * micro. First digit extracts via string head (engine-identical for
    * positive integers — no float log10 in the digit path either);
    * constants are frozen literals [[BenfordMicro]]. Deviation is signed
    * micro; the verdict column |dev| is left to the reader — the audit
    * table is the operator.
    *
    * Scale posture: one map-combinable 9-bucket count + an O(1) total
    * cross-broadcast + a 9-row broadcast constants join. */
  private val b221 = entry(
    "b221_benford_audit", {
      val vals = BenfordMicro.map { case (dd, m) => s"($dd, $m)" }.mkString(", ")
      s"""WITH fd AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
         |                               AS BIGINT) AS VARCHAR), 1, 1)
         |              AS BIGINT) AS digit
         |  FROM orders),
         |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
         |        FROM fd GROUP BY digit),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
         |bf(digit, benford_micro) AS (VALUES $vals)
         |SELECT cnt.digit, cnt.n,
         |       CAST(cnt.n * 1000000 // tot.t AS BIGINT) AS obs_micro,
         |       CAST(bf.benford_micro AS BIGINT) AS benford_micro,
         |       CAST(cnt.n * 1000000 // tot.t - bf.benford_micro AS BIGINT)
         |         AS dev_micro
         |FROM cnt CROSS JOIN tot JOIN bf USING (digit)
         |ORDER BY cnt.digit""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val fd = Tables.orders(s, d).select(
      expr("CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)" +
        " AS STRING), 1, 1) AS BIGINT)").as("digit"))
    val cnt = fd.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum("n").as("t"))
    val bf = BenfordMicro.toDF("digit", "benford_micro")
    cnt.crossJoin(broadcast(tot)).join(broadcast(bf), "digit")
      .select(col("digit"), col("n"),
        expr("CAST(n * 1000000 div t AS BIGINT)").as("obs_micro"),
        col("benford_micro"),
        expr("CAST(n * 1000000 div t - benford_micro AS BIGINT)")
          .as("dev_micro"))
      .orderBy("digit")
  }

  /** B222 — COHORT LTV CURVE (the lifetime-value-by-age readout layered
    * on B118's retention triangle: the same (cohort, offset) grid
    * carrying MONEY instead of presence): cohort = a user's first
    * ACTIVITY week (any event — the b118 convention), revenue = purchase
    * cents per (cohort, offset = week − cohort); cum_cents accumulates
    * over each cohort's present offsets (zero-revenue offsets are
    * absent; the cumulative at present offsets is unaffected), and
    * ltv_per_user_cents = cum div cohort size (ALL users in the cohort —
    * intent-to-treat, the b201 argument).
    *
    * Scale posture: two map-combinable aggregates + a user-keyed join +
    * one cohort-partitioned cumulative window over the (cohort, offset)
    * GRID (calendar² rows, never data-proportional) + a broadcast
    * cohort-size join. */
  private val b222 = entry(
    "b222_cohort_ltv", {
      val wf = graft.operators.PipelineOps.weekFloorSqlDuck
      s"""WITH co AS (
         |  SELECT user_id, min($wf) AS cohort_week
         |  FROM events GROUP BY user_id),
         |cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
         |       FROM co GROUP BY cohort_week),
         |rev AS (
         |  SELECT co.cohort_week, $wf - co.cohort_week AS offs,
         |         CAST(count(*) AS BIGINT) AS n_purchases,
         |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
         |              AS BIGINT) AS rev_cents
         |  FROM events e JOIN co ON co.user_id = e.user_id
         |  WHERE e.event_type = 'purchase'
         |  GROUP BY co.cohort_week, 2),
         |cum AS (
         |  SELECT cohort_week, offs, n_purchases, rev_cents,
         |         CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
         |                                   ORDER BY offs
         |                                   ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cum_cents
         |  FROM rev)
         |SELECT cum.cohort_week, cum.offs, cum.n_purchases, cum.rev_cents,
         |       cum.cum_cents, cs.cohort_size,
         |       CAST(cum.cum_cents // cs.cohort_size AS BIGINT)
         |         AS ltv_per_user_cents
         |FROM cum JOIN cs USING (cohort_week)
         |ORDER BY cum.cohort_week, cum.offs""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wf = graft.operators.PipelineOps.weekFloorExpr
    val ev = Tables.events(s, d)
    val co = ev.groupBy("user_id").agg(min(expr(wf)).as("cohort_week"))
    val cs = co.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(co, "user_id")
      .groupBy(col("cohort_week"),
        (expr(wf) - col("cohort_week")).as("offs"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("offs"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.withColumn("cum_cents", sum(col("rev_cents")).over(w).cast("long"))
      .join(broadcast(cs), "cohort_week")
      .select(col("cohort_week"), col("offs"), col("n_purchases"),
        col("rev_cents"), col("cum_cents"), col("cohort_size"),
        expr("CAST(cum_cents div cohort_size AS BIGINT)")
          .as("ltv_per_user_cents"))
      .orderBy("cohort_week", "offs")
  }

  /** B223 bin width: $25k in cents — ~25 occupied bins over the order
    * price range at every SF (the generated totalprice distribution is
    * SF-invariant). */
  private val HistW = 2500000L

  /** B223 — EQUI-WIDTH HISTOGRAM + CDF (the profiler primitive behind
    * every "distribution of X" panel, and the exact-integer sibling of
    * B23's percentiles): order totals in cents bucket by div
    * [[HistW]], each bin carrying count, share bp, cumulative count and
    * CDF bp (cum·10⁴ div N — monotone, ending at 10⁴ exactly).
    * Empty interior bins are absent (the bin spine is the OCCUPIED set;
    * CDF at present bins is unaffected — the b222 offsets argument).
    *
    * Scale posture: one map-combinable bin count + a cumulative window
    * over the BIN spine (range-bounded, ~25 rows) + O(1) total. */
  private val b223 = entry(
    "b223_histogram_cdf",
    s"""WITH b AS (
       |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // $HistW
       |           AS bin,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b),
       |c AS (
       |  SELECT bin, n,
       |         CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
       |              AS BIGINT) AS cum
       |  FROM b)
       |SELECT c.bin, c.bin * $HistW AS lo_cents, c.n,
       |       CAST(c.n * 10000 // tot.t AS BIGINT) AS share_bp,
       |       c.cum, CAST(c.cum * 10000 // tot.t AS BIGINT) AS cdf_bp
       |FROM c CROSS JOIN tot
       |ORDER BY c.bin""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val b = Tables.orders(s, d)
      .select(expr(s"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div $HistW")
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val tot = b.agg(sum("n").as("t"))
    val w = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)
    b.withColumn("cum", sum(col("n")).over(w).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), (col("bin") * HistW).as("lo_cents"), col("n"),
        expr("CAST(n * 10000 div t AS BIGINT)").as("share_bp"), col("cum"),
        expr("CAST(cum * 10000 div t AS BIGINT)").as("cdf_bp"))
      .orderBy("bin")
  }

  /** B225 — FULFILLMENT CYCLE-TIME PROFILE (the order-to-last-shipment
    * operations dashboard): per order, cycle_days = floor((max ship −
    * order date) / day) — the generated dates are uncorrelated so cycles
    * go NEGATIVE, and BOTH engines' integer division truncates toward
    * zero (b196's pin), so the sign-corrected FLOOR is spelled explicitly
    * on BOTH sides. On this corpus the dates are midnight-aligned (every
    * difference is an exact day multiple, trunc ≡ floor — the hash can't
    * tell), but the committed floor spelling holds for ANY timestamps;
    * per 30-day order period: n, exact LOWER-median cycle (rank-window
    * order statistic at rn = (n+1) div 2, orderkey tie-break — the b211
    * argument: interpolated medians are engine-divergent doubles), min
    * and max.
    *
    * Scale posture: fact join keyed on the order + map-combinable order
    * agg; the median rank window partitions by PERIOD over the ORDER
    * dimension — grain-bounded groups; final agg map-combinable. */
  private val b225 = entry(
    "b225_cycle_time_profile",
    """WITH s AS (
      |  SELECT l_orderkey, max(epoch_us(l_shipdate)) AS ship_us
      |  FROM lineitem GROUP BY l_orderkey),
      |c AS (
      |  SELECT o.o_orderkey,
      |         epoch_us(o.o_orderdate) // 86400000000 // 30 AS period,
      |         (s.ship_us - epoch_us(o.o_orderdate)) // 86400000000
      |           - CAST((s.ship_us - epoch_us(o.o_orderdate)) % 86400000000 < 0
      |                  AS BIGINT)
      |           AS cycle_days
      |  FROM orders o JOIN s ON s.l_orderkey = o.o_orderkey),
      |r AS (
      |  SELECT period, cycle_days,
      |         CAST(row_number() OVER (PARTITION BY period
      |                                 ORDER BY cycle_days, o_orderkey)
      |              AS BIGINT) AS rn,
      |         CAST(count(*) OVER (PARTITION BY period) AS BIGINT) AS n
      |  FROM c)
      |SELECT period, max(n) AS n_orders,
      |       CAST(min(CASE WHEN rn = (n + 1) // 2 THEN cycle_days END)
      |            AS BIGINT) AS med_days,
      |       min(cycle_days) AS min_days, max(cycle_days) AS max_days
      |FROM r GROUP BY period ORDER BY period""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // dates decode TIMESTAMP_NTZ; exact under the UTC session tz (the
    // b199/Tables.events convention)
    val ship = Tables.lineitem(s, d).groupBy("l_orderkey")
      .agg(max(unix_micros(col("l_shipdate").cast("timestamp"))).as("ship_us"))
    // sign-corrected floor day difference (the b118 weekFloor rule) and
    // the period floor (order dates are all post-epoch → plain div is
    // already the floor for the period bucket)
    val odUs = "unix_micros(CAST(o_orderdate AS TIMESTAMP))"
    val dayFloor = s"((ship_us - $odUs) div 86400000000L" +
      s" - cast((ship_us - $odUs) % 86400000000L < 0 as bigint))"
    val c = Tables.orders(s, d)
      .join(ship, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"),
        expr(s"$odUs div 86400000000L div 30").as("period"),
        expr(dayFloor).as("cycle_days"))
    val w = Window.partitionBy(col("period"))
      .orderBy(col("cycle_days"), col("o_orderkey"))
    val wc = Window.partitionBy(col("period"))
    c.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wc).cast("long"))
      .groupBy("period")
      .agg(max(col("n")).as("n_orders"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("cycle_days")))
          .as("med_days"),
        min(col("cycle_days")).as("min_days"),
        max(col("cycle_days")).as("max_days"))
      .orderBy("period")
  }

  /** B226 — SUPPLIER CONCENTRATION (Herfindahl–Hirschman index per part
    * — the supply-risk screen of procurement analytics): per part,
    * supplier quantity shares (l_quantity is integer-valued by
    * generation, cast exact) collapse to hhi_micro = Σq_s²·10⁶ div Q² —
    * ONE floor division at the end instead of per-share flooring, so the
    * statistic is exact and the 10⁶/n ≤ hhi ≤ 10⁶ law holds with
    * integer equality cases (the spec pins both bounds).
    *
    * Scale posture: one map-combinable (part, supplier) aggregate + one
    * map-combinable part aggregate; no window, no join. */
  private val b226 = entry(
    "b226_supplier_hhi",
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |agg AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |         CAST(sum(q) AS BIGINT) AS tot_q,
      |         CAST(sum(q * q) AS BIGINT) AS sq2
      |  FROM ps GROUP BY l_partkey)
      |SELECT l_partkey, n_suppliers, tot_q,
      |       CAST(sq2 * 1000000 // (tot_q * tot_q) AS BIGINT) AS hhi_micro
      |FROM agg ORDER BY l_partkey""".stripMargin) { (s, d) =>
    val ps = Tables.lineitem(s, d)
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    ps.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_suppliers"), sum("q").as("tot_q"),
        sum(col("q") * col("q")).as("sq2"))
      .select(col("l_partkey"), col("n_suppliers"), col("tot_q"),
        expr("CAST(sq2 * 1000000 div (tot_q * tot_q) AS BIGINT)")
          .as("hhi_micro"))
      .orderBy("l_partkey")
  }

  /** B227 — ABC / PARETO CLASSIFICATION (the 80/15/5 inventory policy
    * grid; Pareto 1896 via Dickie's 1951 ABC): parts ranked by revenue
    * cents DESC (partkey tie-break), cumulative share in bp over the
    * rank order, class A while cum ≤ 8000, B while ≤ 9500, else C —
    * the INCLUSIVE-boundary convention (the first part crossing 80%
    * is still A), deterministic by the total rank order.
    *
    * Scale posture (VERDICT r14 item 2): map-combinable part revenue,
    * then the global rank AND running revenue sum over the PART dimension
    * as ONE [[OrderStats.withGlobalRank]] two-phase scan (bucket =
    * −rev_cents div 2²⁰; both statistics stitch from the same per-bucket
    * fold), the grand total arriving as a driver literal from that fold —
    * no SinglePartition window, no separate one-row total aggregate
    * (plan-asserted, OrderStatsSpec). The oracle keeps the naive global
    * window + CROSS JOIN tot spelling — hash-equal by construction. */
  private val b227 = entry(
    "b227_abc_classification",
    """WITH pr AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS rev_cents
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM pr),
      |r AS (
      |  SELECT l_partkey, rev_cents,
      |         CAST(row_number() OVER (ORDER BY rev_cents DESC, l_partkey)
      |              AS BIGINT) AS rnk,
      |         CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
      |                                   ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS cum
      |  FROM pr)
      |SELECT r.l_partkey, r.rev_cents, r.rnk,
      |       CAST(r.cum * 10000 // tot.t AS BIGINT) AS cum_bp,
      |       CASE WHEN r.cum * 10000 // tot.t <= 8000 THEN 'A'
      |            WHEN r.cum * 10000 // tot.t <= 9500 THEN 'B'
      |            ELSE 'C' END AS abc_class
      |FROM r CROSS JOIN tot
      |ORDER BY r.rnk""".stripMargin) { (s, d) =>
    val pr = QueryScope.materialize("pr")(Tables.lineitem(s, d).groupBy("l_partkey")
      .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .as("rev_cents"))) // feeds the rank pass + its fold collect
    val (r, _, Seq(tot)) = OrderStats.withGlobalRank(pr,
      expr("(-rev_cents) div 1048576"),
      Seq(col("rev_cents").desc, col("l_partkey")), "rnk",
      runningSums = Seq((col("rev_cents"), "cum")))
    r.select(col("l_partkey"), col("rev_cents"), col("rnk"),
        expr(s"CAST(cum * 10000 div ${tot}L AS BIGINT)").as("cum_bp"),
        expr(s"CASE WHEN cum * 10000 div ${tot}L <= 8000 THEN 'A'" +
          s" WHEN cum * 10000 div ${tot}L <= 9500 THEN 'B' ELSE 'C' END")
          .as("abc_class"))
      .orderBy("rnk")
  }

  /** Minimum history for a B228 flag — with fewer than 4 prior
    * observations the variance estimate is noise. */
  private val ZMinHist = 4L

  /** B228 — ROLLING Z-SCORE OUTLIERS, fully integer (the streaming-shaped
    * anomaly monitor; Grubbs-style |x − μ| > 2σ over a trailing
    * baseline): per event, the baseline is the PRECEDING ≤8 events' (n,
    * Σx, Σx²) — the current row is excluded, so an outlier can't mask
    * itself — and the flag inequality (x − μ)² > 4σ² cross-multiplies to
    * BIGINT exactness: (n·x − Σx)² > 4·(n·Σx² − Σx²ᵗᵒᵗ)… spelled
    * dev² = (n·x − Sx)² and thr = 4·(n·Sxx − Sx·Sx), flag ⟺ dev² > thr
    * (multiply both sides of (x−μ)² > 4·(n·Sxx − Sx²)/n² by n² — no
    * floats anywhere). Overflow: n ≤ 8, cents ≤ 3.3·10⁴ → dev² ≤ 6.9·10¹⁰.
    * Only flagged rows with n ≥ [[ZMinHist]] emit.
    *
    * Scale posture: one user-partitioned frame window (O(1) per-row
    * state) + filter; no join, no driver traffic. */
  /** B228's oracle — shared VERBATIM by B234's streamed monitor (the
    * b214/b224 twin convention). */
  private[graft] val zscoreOracleSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |f AS (
       |  SELECT user_id, event_id, cents,
       |         CAST(count(cents) OVER w AS BIGINT) AS n,
       |         CAST(sum(cents) OVER w AS BIGINT) AS sx,
       |         CAST(sum(cents * cents) OVER w AS BIGINT) AS sxx
       |  FROM seq
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, cents, n,
       |       (n * cents - sx) * (n * cents - sx) AS dev2,
       |       4 * (n * sxx - sx * sx) AS thr
       |FROM f
       |WHERE n >= $ZMinHist
       |  AND (n * cents - sx) * (n * cents - sx) > 4 * (n * sxx - sx * sx)
       |ORDER BY user_id, event_id""".stripMargin

  private val b228 = entry(
    "b228_rolling_zscore_outliers", zscoreOracleSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-8, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("n", count(col("cents")).over(w).cast("long"))
      .withColumn("sx", sum(col("cents")).over(w).cast("long"))
      .withColumn("sxx", sum(col("cents") * col("cents")).over(w).cast("long"))
      .filter(col("n") >= ZMinHist)
      .select(col("user_id"), col("event_id"), col("cents"), col("n"),
        ((col("n") * col("cents") - col("sx")) *
          (col("n") * col("cents") - col("sx"))).as("dev2"),
        (lit(4L) * (col("n") * col("sxx") - col("sx") * col("sx"))).as("thr"))
      .filter(col("dev2") > col("thr"))
      .orderBy("user_id", "event_id")
  }

  /** B232 — TOP CONVERSION PATHS (the "paths to purchase" table of
    * journey analytics; b208's sequence machinery turned into a grouped
    * inventory): per user, the ≤6-step window of type initials ENDING at
    * the first purchase (instr is 1-based and engine-identical;
    * non-converting users drop), grouped into path counts with share bp
    * over converting users. No regex backreferences anywhere — RE2
    * (DuckDB) has none, so adjacent-step collapsing is deliberately NOT
    * spelled (the raw window is the portable contract).
    *
    * Scale posture: one per-user sorted collect (b21 contract) + string
    * ops + a map-combinable path count (≤ |alphabet|⁶ rows) + O(1)
    * total. */
  private val b232 = entry(
    "b232_conversion_paths",
    s"""WITH seq AS (
       |  SELECT user_id, substr(event_type, 1, 1) AS ini,
       |         epoch_us(ts) AS ts_us, event_id
       |  FROM events),
       |s AS (
       |  SELECT user_id, string_agg(ini, '' ORDER BY ts_us, event_id) AS sq
       |  FROM seq GROUP BY user_id),
       |p AS (
       |  SELECT user_id, instr(sq, 'p') AS pos, sq FROM s
       |  WHERE instr(sq, 'p') > 0),
       |pa AS (
       |  SELECT user_id,
       |         substr(sq, CASE WHEN pos > 6 THEN pos - 5 ELSE 1 END,
       |                CASE WHEN pos > 6 THEN 6 ELSE pos END) AS path
       |  FROM p),
       |pc AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
       |       FROM pa GROUP BY path),
       |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS t FROM pc)
       |SELECT pc.path, pc.n_users,
       |       CAST(pc.n_users * 10000 // tot.t AS BIGINT) AS share_bp
       |FROM pc CROSS JOIN tot
       |ORDER BY pc.n_users DESC, pc.path""".stripMargin) { (s, d) =>
    val seq = Tables.events(s, d)
      .select(col("user_id"), substring(col("event_type"), 1, 1).as("ini"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val sq = seq.groupBy("user_id")
      .agg(concat_ws("",
        expr("transform(array_sort(collect_list(struct(ts_us, event_id, ini)))," +
          " x -> x.ini)")).as("sq"))
      .withColumn("pos", instr(col("sq"), "p"))
      .filter(col("pos") > 0)
    val pc = sq
      .select(expr("substr(sq, CASE WHEN pos > 6 THEN pos - 5 ELSE 1 END," +
        " CASE WHEN pos > 6 THEN 6 ELSE pos END)").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
    val tot = pc.agg(sum("n_users").as("t"))
    pc.crossJoin(broadcast(tot))
      .select(col("path"), col("n_users"),
        expr("CAST(n_users * 10000 div t AS BIGINT)").as("share_bp"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** The committed week floor over a µs EPOCH column (start_us), both
    * dialects — the weekFloorExpr spelling without the ts cast (B236's
    * session weeks; positive on this corpus, floor committed anyway). */
  private def weekOfUs(c: String): String =
    s"($c - 1704067200000000) div 604800000000" +
      s" - cast(($c - 1704067200000000) % 604800000000 < 0 as bigint)"
  private def weekOfUsDuck(c: String): String =
    s"($c - 1704067200000000) // 604800000000" +
      s" - CAST(($c - 1704067200000000) % 604800000000 < 0 AS BIGINT)"

  /** B236 — WEEKLY BOUNCE RATE (the landing-quality headline of web
    * analytics): sessions are the b204 6 h fixed-gap islands
    * ([[SessGapUs]] — the constant IS shared, so "session" means the
    * same thing across the engine); a bounce is a 1-event session; per
    * week of SESSION START: sessions, bounces, bounce share bp.
    *
    * Scale posture: the b204 lag-window sessionizer + one map-combinable
    * (user, sess) aggregate + one map-combinable week aggregate — the
    * b195/b204 cost class with a calendar-bounded output. */
  private val b236 = entry(
    "b236_bounce_rate_weekly",
    s"""WITH seq AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |                                 ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SessGapUs
       |                 THEN 1 ELSE 0 END AS nf
       |  FROM seq),
       |s AS (
       |  SELECT *, CAST(sum(nf) OVER (PARTITION BY user_id
       |                               ORDER BY ts_us, event_id
       |                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |              AS sess
       |  FROM f),
       |g AS (
       |  SELECT user_id, sess, min(ts_us) AS start_us,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM s GROUP BY user_id, sess),
       |wk AS (
       |  SELECT CAST(${weekOfUsDuck("start_us")} AS BIGINT) AS week,
       |         CAST(count(*) AS BIGINT) AS n_sessions,
       |         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_bounces
       |  FROM g GROUP BY 1)
       |SELECT week, n_sessions, n_bounces,
       |       CAST(n_bounces * 10000 // n_sessions AS BIGINT) AS bounce_bp
       |FROM wk ORDER BY week""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("nf",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessGapUs, 1).otherwise(0))
      .withColumn("sess",
        sum(col("nf")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
    sess.groupBy("user_id", "sess")
      .agg(min(col("ts_us")).as("start_us"), count(lit(1)).as("n"))
      .groupBy(expr(s"CAST(${weekOfUs("start_us")} AS BIGINT)").as("week"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("week"), col("n_sessions"), col("n_bounces"),
        expr("CAST(n_bounces * 10000 div n_sessions AS BIGINT)")
          .as("bounce_bp"))
      .orderBy("week")
  }

  /** B237 — LINEAR MULTI-TOUCH ATTRIBUTION (the equal-credit allocator —
    * b215's last-touch counterpart; Shao & Li KDD'11 ch. on rule-based
    * models): each purchase's cents split EQUALLY across the touches in
    * its segment (the non-purchase events since the user's previous
    * purchase), with integer remainder discipline — share = cents div k
    * per touch and the LAST touch (max (ts, event_id)) receives
    * cents − (k−1)·share, so every purchase allocates EXACTLY its cents
    * (fractional-cent leakage is a real reconciliation bug in naive
    * float splits; the conservation law is spec-pinned to the corpus
    * total). Segments via the purchase-prefix count over PRECEDING rows
    * (a touch and the purchase it precedes share the count); purchases
    * with no touch land whole in '(none)'.
    *
    * Scale posture: two user-partitioned windows (segment id, last-touch
    * rank) + one (user, segment) aggregate + a segment-keyed join of
    * touches to their purchase + a map-combinable channel rollup. */
  private val b237 = entry(
    "b237_attribution_linear",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |              OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              AS BIGINT) AS seg
      |  FROM events),
      |pur AS (
      |  SELECT user_id, seg, cents
      |  FROM seq WHERE event_type = 'purchase'),
      |tch AS (
      |  SELECT user_id, seg, event_type AS channel,
      |         CAST(row_number() OVER (PARTITION BY user_id, seg
      |                                 ORDER BY ts_us DESC, event_id DESC)
      |              AS BIGINT) AS rdesc,
      |         CAST(count(*) OVER (PARTITION BY user_id, seg) AS BIGINT) AS k
      |  FROM seq WHERE event_type <> 'purchase'),
      |alloc AS (
      |  SELECT t.channel,
      |         CAST(CASE WHEN t.rdesc = 1
      |              THEN p.cents - (t.k - 1) * (p.cents // t.k)
      |              ELSE p.cents // t.k END AS BIGINT) AS credit
      |  FROM pur p JOIN tch t ON t.user_id = p.user_id AND t.seg = p.seg
      |  UNION ALL
      |  SELECT '(none)' AS channel, p.cents AS credit
      |  FROM pur p
      |  WHERE NOT EXISTS (SELECT 1 FROM tch t
      |                    WHERE t.user_id = p.user_id AND t.seg = p.seg)),
      |ch AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
      |         CAST(sum(credit) AS BIGINT) AS revenue_cents
      |  FROM alloc GROUP BY channel),
      |tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS t FROM ch)
      |SELECT channel, n_credits, revenue_cents,
      |       CAST(revenue_cents * 10000 // tot.t AS BIGINT) AS share_bp
      |FROM ch CROSS JOIN tot
      |ORDER BY channel""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("seg",
        count(when(col("event_type") === "purchase", 1))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)).cast("long"))
    val pur = seq.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("seg"), col("cents"))
    val wt = Window.partitionBy(col("user_id"), col("seg"))
    val tch = seq.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("seg"), col("event_type").as("channel"),
        col("ts_us"), col("event_id"))
      .withColumn("rdesc",
        row_number().over(wt.orderBy(col("ts_us").desc, col("event_id").desc))
          .cast("long"))
      .withColumn("k", count(lit(1)).over(wt).cast("long"))
    val credited = pur.join(tch, Seq("user_id", "seg"))
      .select(col("channel"),
        when(col("rdesc") === 1,
          col("cents") - (col("k") - 1) * expr("cents div k"))
          .otherwise(expr("cents div k")).cast("long").as("credit"))
    val none = pur.join(tch.select("user_id", "seg").distinct(),
        Seq("user_id", "seg"), "left_anti")
      .select(lit("(none)").as("channel"), col("cents").as("credit"))
    val ch = credited.unionByName(none)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_credits"), sum("credit").as("revenue_cents"))
    val tot = ch.agg(sum("revenue_cents").as("t"))
    ch.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_credits"), col("revenue_cents"),
        expr("CAST(revenue_cents * 10000 div t AS BIGINT)").as("share_bp"))
      .orderBy("channel")
  }

  /** B238 — RECOMMENDER EVALUATION (leave-one-out hit-rate@3 of B217's
    * serve table — the b188 eval pattern applied to recsys; Cremonesi
    * RecSys'10 methodology): per basket with ≥ 2 distinct items, hold
    * out the MAX partkey (a deterministic rule — any fixed holdout works
    * for a relative metric; max is order-free), and the basket HITS if
    * any remaining item's top-3 recommendations contain the held-out
    * item. Reported per basket size: baskets, hits, hitrate bp. The recs
    * relation is B217's chain inline (same minsup, same tie rule), so
    * this row moves exactly when the serve table moves.
    *
    * Self-recommendation bias note: the held-out item still participated
    * in the co-occurrence counts (standard offline-eval leakage, true of
    * the cited methodology too); the metric is comparative, not
    * absolute.
    *
    * Scale posture: the b197/b217 bounded-fanout joins + one semi-join
    * of context items against the ≤3-per-item recs dimension + a
    * map-combinable size rollup. */
  private val b238 = entry(
    "b238_rec_eval_hitrate",
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |itemn AS (SELECT p, count(*) AS n_item FROM items GROUP BY p),
       |pairs AS (
       |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_pair
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p),
       |sym AS (
       |  SELECT p1 AS a, p2 AS b, n_pair FROM pairs WHERE n_pair >= $MinSup
       |  UNION ALL
       |  SELECT p2, p1, n_pair FROM pairs WHERE n_pair >= $MinSup),
       |conf AS (
       |  SELECT sym.a, sym.b,
       |         CAST(sym.n_pair * 10000 // i.n_item AS BIGINT) AS conf_bp
       |  FROM sym JOIN itemn i ON i.p = sym.a),
       |recs AS (
       |  SELECT a, b FROM (
       |    SELECT a, b,
       |           row_number() OVER (PARTITION BY a
       |                              ORDER BY conf_bp DESC, b) AS rnk
       |    FROM conf) r
       |  WHERE rnk <= 3),
       |sized AS (
       |  SELECT o, CAST(count(*) AS BIGINT) AS sz, max(p) AS held
       |  FROM items GROUP BY o HAVING count(*) >= 2),
       |hits AS (
       |  SELECT s.o, s.sz,
       |         CAST(CASE WHEN EXISTS (
       |           SELECT 1 FROM items c JOIN recs r ON r.a = c.p
       |           WHERE c.o = s.o AND c.p <> s.held AND r.b = s.held)
       |           THEN 1 ELSE 0 END AS BIGINT) AS hit
       |  FROM sized s)
       |SELECT sz AS basket_size, CAST(count(*) AS BIGINT) AS n_baskets,
       |       CAST(sum(hit) AS BIGINT) AS n_hits,
       |       CAST(sum(hit) * 10000 // count(*) AS BIGINT) AS hitrate_bp
       |FROM hits GROUP BY sz ORDER BY sz""".stripMargin, bench = true) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val baskets = basketsOf(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
    val itemN = itemCounts(baskets)
    val pairs = pairSupports(baskets)
    // one explode pass, not a 2-leg union re-running the self-join (the
    // b144/b217 argument)
    val sym = pairs.select(explode(array(
        struct(col("p1").as("a"), col("p2").as("b"), col("n_pair")),
        struct(col("p2").as("a"), col("p1").as("b"), col("n_pair")))).as("s"))
      .select(col("s.a").as("a"), col("s.b").as("b"),
        col("s.n_pair").as("n_pair"))
    val conf = sym
      .join(broadcast(itemN.select(col("p").as("a"), col("n_item"))), "a")
      .select(col("a"), col("b"),
        expr("CAST(n_pair * 10000 div n_item AS BIGINT)").as("conf_bp"))
    val w = Window.partitionBy(col("a")).orderBy(col("conf_bp").desc, col("b"))
    val recs = conf.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3).select(col("a"), col("b"))
    // basket size and held-out pick are map-side projections of the
    // basket array (count of distinct items per order = size(ps),
    // max(p) = array_max) — the groupBy(o) re-aggregation disappears
    val sized = baskets.select(col("o"),
        size(col("ps")).cast("long").as("sz"),
        array_max(col("ps")).as("held"))
      .filter(col("sz") >= 2)
    // a basket hits iff SOME context item recommends the held-out item:
    // semi-join of (order, context, held) against the recs dimension;
    // the context items explode from the SAME basket row, so the old
    // sized⋈items order-keyed shuffle disappears too
    val hitOrders = baskets
      .select(col("o"), size(col("ps")).cast("long").as("sz"),
        array_max(col("ps")).as("held"), explode(col("ps")).as("p"))
      .filter(col("sz") >= 2 && col("p") =!= col("held"))
      .join(recs, col("a") === col("p") && col("b") === col("held"),
        "left_semi")
      .select("o").distinct()
      .withColumn("hit", lit(1L))
    sized.join(hitOrders, Seq("o"), "left")
      .select(col("sz"), coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("sz").as("basket_size"))
      .agg(count(lit(1)).as("n_baskets"), sum("hit").as("n_hits"))
      .select(col("basket_size"), col("n_baskets"), col("n_hits"),
        expr("CAST(n_hits * 10000 div n_baskets AS BIGINT)").as("hitrate_bp"))
      .orderBy("basket_size")
  }

  /** B239 — JOIN-KEY SKEW DIAGNOSTIC (the profiler that DECIDES when
    * b66's salted join is warranted — Spark's AQE skew threshold made an
    * explicit, auditable table): over the fact table's part key, one
    * summary row: key count, row total, the heaviest key (smallest key
    * id among ties — composable), its count, the exact LOWER-median and
    * p99 per-key counts (rank-window order statistics, the b225
    * argument), and skew = max·n_keys·10⁶ div total (max/mean in micro —
    * ≥ 10⁶ by construction, = 10⁶ iff perfectly uniform).
    *
    * Scale posture (VERDICT r14 item 2 — in the very query whose purpose
    * is diagnosing skew, the diagnostic itself must not be the skew): the
    * oracle spells the order statistics as a global rank window over ALL
    * distinct keys, but the Spark side never ranks keys at all. It
    * collapses the key counts to the COUNT HISTOGRAM (count value →
    * number of keys — the b190 cumulative-counts idiom; distinct per-key
    * count values grow O(√facts), and the two-phase scan bounds driver
    * traffic to O(buckets) regardless), runs [[OrderStats.withGlobalRank]]
    * over the histogram for the cumulative key count, and reads the
    * median/p99 as the first histogram row whose cumulative count reaches
    * the rank position (nearest-rank over grouped data — exactly the
    * oracle's rank-window answer, since keys sharing a count are a
    * contiguous rank run). n_keys/total arrive as driver literals from
    * the same fold; max_key is a 1-row-broadcast join + per-partition
    * top-1 (TakeOrdered — no global sort). No SinglePartition anywhere
    * (plan-asserted, OrderStatsSpec). */
  private val b239 = entry(
    "b239_key_skew_report",
    """WITH kc AS (
      |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY l_partkey),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |         CAST(sum(c) AS BIGINT) AS total,
      |         CAST(max(c) AS BIGINT) AS max_c
      |  FROM kc),
      |mk AS (SELECT min(k) AS max_key FROM kc, st WHERE kc.c = st.max_c),
      |r AS (
      |  SELECT c,
      |         CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS rn
      |  FROM kc),
      |q AS (
      |  SELECT
      |    CAST(min(CASE WHEN rn = (st.n_keys + 1) // 2 THEN c END) AS BIGINT)
      |      AS med_c,
      |    CAST(min(CASE WHEN rn = (st.n_keys * 99 + 99) // 100 THEN c END)
      |         AS BIGINT) AS p99_c
      |  FROM r CROSS JOIN st GROUP BY st.n_keys)
      |SELECT st.n_keys, st.total, mk.max_key, st.max_c, q.med_c, q.p99_c,
      |       CAST(st.max_c * st.n_keys * 1000000 // st.total AS BIGINT)
      |         AS skew_max_mean_micro
      |FROM st CROSS JOIN mk CROSS JOIN q""".stripMargin) { (s, d) =>
    val kc = QueryScope.materialize("kc")(Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c")))
    // count histogram: O(distinct count values) = O(sqrt(facts)) rows
    // feeds the scan pass + its fold collect
    val hist = QueryScope.materialize("hist")(kc.groupBy("c").agg(count(lit(1)).as("nk")))
    val (h2, dCount, Seq(nKeys, total)) = OrderStats.withGlobalRank(hist,
      expr("c div 1024"), Seq(col("c")), "_rn",
      runningSums = Seq((col("nk"), "cumk"), (expr("c * nk"), "cumr")))
    val medPos = (nKeys + 1) / 2
    val p99Pos = (nKeys * 99 + 99) / 100
    // nearest-rank over the grouped histogram: the key at rank position p
    // has count = min{c : cumulative keys(c) >= p}
    val med = h2.filter(col("cumk") >= medPos)
      .orderBy("c").limit(1).select(col("c").as("med_c"))
    val p99 = h2.filter(col("cumk") >= p99Pos)
      .orderBy("c").limit(1).select(col("c").as("p99_c"))
    val mc = h2.filter(col("_rn") === dCount).select(col("c").as("max_c"))
    val mk = kc.join(broadcast(mc), col("c") === col("max_c"))
      .orderBy("k").limit(1)
      .select(col("k").as("max_key"), col("max_c"))
    mk.crossJoin(broadcast(med)).crossJoin(broadcast(p99))
      .select(lit(nKeys).as("n_keys"), lit(total).as("total"),
        col("max_key"), col("max_c"), col("med_c"), col("p99_c"),
        expr(s"CAST(max_c * ${nKeys}L * 1000000 div ${total}L AS BIGINT)")
          .as("skew_max_mean_micro"))
  }

  /** B240 — BRAND AFFINITY MATRIX (b197's association pass ROLLED UP
    * THROUGH A DIMENSION — the merchandising cross-sell grid): baskets
    * coarsen from parts to their p_brand via a broadcast dimension join
    * BEFORE the distinct (so a basket with three parts of one brand is
    * ONE brand presence), then the standard pair support/lift in exact
    * integer bp/micro. 25 brands → a ≤ C(25,2) matrix; lift > 10⁶ marks
    * complements, < 10⁶ substitutes.
    *
    * Scale posture: fact → BROADCAST dim join (the canonical star-schema
    * move) + (order, brand) distinct + bounded C(brands-in-basket, 2)
    * self-join fanout + broadcast margins + O(1) basket-count scalar. */
  private val b240 = entry(
    "b240_brand_affinity",
    """WITH bi AS (
      |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM bi),
      |bn AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM bi GROUP BY b),
      |pairs AS (
      |  SELECT a.b AS b1, c.b AS b2, CAST(count(*) AS BIGINT) AS n_pair
      |  FROM bi a JOIN bi c ON a.o = c.o AND a.b < c.b
      |  GROUP BY a.b, c.b)
      |SELECT p.b1, p.b2, p.n_pair,
      |       CAST(p.n_pair * 10000 // n.n_baskets AS BIGINT) AS support_bp,
      |       CAST(p.n_pair * n.n_baskets * 1000000 // (b1n.n_b * b2n.n_b)
      |            AS BIGINT) AS lift_micro
      |FROM pairs p CROSS JOIN n
      |JOIN bn b1n ON b1n.b = p.b1
      |JOIN bn b2n ON b2n.b = p.b2
      |ORDER BY p.b1, p.b2""".stripMargin, bench = true) { (s, d) =>
    // brand baskets via the shared collect_set spelling (the b197
    // convention, r20 basket-family phase 2: n/bn/pairs all derive
    // map-side from the one checkpointed basket relation)
    val baskets = basketsOf(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("o"), col("p_brand").as("p")))
    val n = baskets.agg(count(lit(1)).as("n_baskets"))
    val bn = itemCounts(baskets).select(col("p").as("b"), col("n_item").as("n_b"))
    val pairs = basketPairs(baskets)
      .groupBy(col("p1").as("b1"), col("p2").as("b2"))
      .agg(count(lit(1)).as("n_pair"))
    pairs.crossJoin(broadcast(n))
      .join(broadcast(bn.select(col("b").as("b1"), col("n_b").as("n1"))), "b1")
      .join(broadcast(bn.select(col("b").as("b2"), col("n_b").as("n2"))), "b2")
      .select(col("b1"), col("b2"), col("n_pair"),
        expr("CAST(n_pair * 10000 div n_baskets AS BIGINT)").as("support_bp"),
        expr("CAST(n_pair * n_baskets * 1000000 div (n1 * n2) AS BIGINT)")
          .as("lift_micro"))
      .orderBy("b1", "b2")
  }

  val entries: Seq[Entry] =
    Seq(b197, b199, b201, b202, b203, b204, b205, b206, b208, b209, b212, b249,
      b213, b215, b216, b217, b218, b219, b220, b221, b222, b223, b225,
      b226, b227, b228, b232, b236, b237, b238, b239, b240)
}
