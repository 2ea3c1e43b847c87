package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B63 — connected components: the cluster-resolution step every dedup
  * pipeline needs after pair generation. Exact/LSH near-dup detectors
  * (B42/B43) emit PAIRS; keeping one representative per duplicate CLASS
  * requires the transitive closure of those pairs — doc A ~ B and B ~ C
  * must collapse to one cluster even though (A, C) was never emitted.
  *
  * Algorithm: distributed min-label propagation with pointer jumping.
  * Each node starts labeled with its own id; each round
  *   (1) propagates the minimum label across edges (one hash-agg join), and
  *   (2) pointer-jumps `lbl := lbl(lbl)` (one self-join), doubling the
  *       distance a small label has travelled.
  * Labels are node ids, only ever decrease, and are bounded below by the
  * component minimum, so the per-round label sum is a strictly decreasing
  * convergence metric; at the fixpoint every node carries its component's
  * minimum id. With pointer jumping the round count is O(log diameter) —
  * a 1M-node chain resolves in ~20 rounds, where plain propagation would
  * need 1M. This is the standard massively-parallel CC recipe (label
  * propagation + path doubling, as in Pregel-style CC and the
  * large-star/small-star family) expressed over DataFrames.
  *
  * Scale posture: per round the plan shuffles |V| labels (hash agg on the
  * edge destination + two hash joins on node id) — never materializes the
  * closure, which is what makes the DuckDB oracle's recursive-CTE
  * transitive closure (fine at sf0.01) unusable at 100 TB while this
  * converges with O(|V| + |E|) state per round. The driver loop reads one
  * O(1) scalar per round (the label sum) — the sanctioned b46-style
  * scalar, not a per-row collect. Each round ends in an eager
  * localCheckpoint: it cuts the exponentially growing lineage AND feeds
  * the next round's two consumers (propagate join + jump self-join) from
  * materialized blocks; at 100 TB this becomes reliable checkpointing to
  * object storage with explicit cleanup of round N-1.
  */
object GraphOps {

  /** Resolve connected components of an undirected edge list.
    *
    * @param edges (a, b) long pairs; direction is ignored (both
    *              orientations are added internally).
    * @param nodes (n) the node universe — must cover every endpoint;
    *              isolated nodes come out as their own singleton component.
    * @return (n, component) with component = min node id reachable from n.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxRounds: Int = 40): DataFrame = {
    val und = QueryScope.materialize("und")(edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst"))))
    var lbl = QueryScope.materialize("lbl0")(nodes.select(col("n"), col("n").as("lbl")))
    var rounds = 0
    var converged = false
    while (!converged) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds")
      val nbrMin = und.join(lbl, und("src") === lbl("n"))
        .groupBy(und("dst").as("nn")).agg(min(col("lbl")).as("nbr_min"))
      val prop = lbl.join(nbrMin, lbl("n") === nbrMin("nn"), "left")
        .select(lbl("n"), lbl("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"))
      // labels are always live node ids (min over node ids), so the jump
      // join is total and inner; prop is evaluated once per consumer —
      // two light |V|-row hash joins, cheaper than a second checkpoint
      // barrier per round
      val jumped = prop.as("x").join(prop.as("y"), col("x.lbl") === col("y.n"))
        .select(col("x.n").as("n"), col("x.prev").as("prev"), col("y.lbl").as("lbl"))
      val next = QueryScope.materialize("next")(jumped)
      // convergence = no label moved this round. A changed-row count (not a
      // label-sum compare) stays exact for ids anywhere in the Long range —
      // hashed ids would overflow a sum — and an empty node set yields 0,
      // converging immediately instead of NPE-ing on a NULL aggregate.
      converged = next.filter(col("lbl") =!= col("prev")).count() == 0
      QueryScope.release(lbl)
      lbl = next
      rounds += 1
    }
    QueryScope.release(und)
    lbl.select(col("n"), col("lbl").as("component"))
  }

  /** Deterministic test topology over `documents`: the B42 dup-injection
    * pairs ((d, d+1000000) for d % 7 = 0) as edges, PLUS chain edges
    * (d, d+7) between consecutive multiples of 7 — one long path whose
    * diameter defeats plain propagation and proves the pointer-jumping
    * round bound (GraphOpsSpec pins rounds ≤ log-scale, and the chain
    * collapses to a single component labeled 0). All other docs are
    * singletons. */
  private val b63 = entry(
    "b63_graph_components",
    """WITH RECURSIVE
      |docs AS (SELECT doc_id FROM documents),
      |nodes(n) AS (
      |  SELECT doc_id FROM docs
      |  UNION ALL SELECT doc_id + 1000000 FROM docs WHERE doc_id % 7 = 0),
      |e0(a, b) AS (
      |  SELECT doc_id, doc_id + 1000000 FROM docs WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT d1.doc_id, d2.doc_id FROM docs d1
      |  JOIN docs d2 ON d2.doc_id = d1.doc_id + 7
      |  WHERE d1.doc_id % 7 = 0),
      |edges(a, b) AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      |reach(n, m) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m)
      |SELECT n AS doc_id, min(m) AS component
      |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val m7 = docs.filter(col("doc_id") % 7 === 0)
    val nodes = docs.unionByName(m7.select((col("doc_id") + 1000000L).as("doc_id")))
      .select(col("doc_id").as("n"))
    val dupEdges = m7.select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
    val chainEdges = m7.select(col("doc_id").as("a"))
      .join(docs.select(col("doc_id").as("b")), col("b") === col("a") + 7)
    connectedComponents(dupEdges.unionByName(chainEdges), nodes)
      .select(col("n").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** Fixed-point scale (1e12) and iteration count for B119. Six rounds is
    * a DETERMINISM choice, not a convergence claim: both engines compute
    * the identical six integer iterations, so the hash pins the trajectory
    * regardless of how close it is to the fixpoint. */
  private[graft] val PrIters = 6
  private[graft] val PrScale = 1000000000000L

  /** The per-iteration SQL pair (inflow agg + rank update), unrolled
    * [[PrIters]] times — recursive CTEs cannot aggregate over their own
    * recursive reference, so iteration-as-text is the oracle spelling.
    * The CAST on the sum is load-bearing: DuckDB widens sum(BIGINT) to
    * HUGEINT (int128) and the widening propagates to the output column,
    * failing the driver's type-sensitive hash even when every value is
    * bit-identical (the b100/b97 rule). */
  private[graft] def prIterSql: String = (1 to PrIters).map { k =>
    s"""i$k AS (SELECT e.dst AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS inflow
       |  FROM r${k - 1} r JOIN outdeg o ON o.node = r.node
       |  JOIN edges e ON e.src = r.node GROUP BY e.dst),
       |r$k AS (SELECT i.node,
       |  (15 * ($PrScale // n.n)) // 100 + (85 * i.inflow) // 100 AS rank
       |  FROM i$k i, n)""".stripMargin
  }.mkString(",\n")

  /** B119 — PAGERANK in exact fixed-point integer arithmetic (Page et al.
    * 1999; the Pregel iteration shape, Malewicz et al. SIGMOD'10) over the
    * part CO-PURCHASE graph: parts sharing an order are linked (the
    * item-item graph behind "customers also bought" ranking). Damping 0.85
    * as the integer expression `base + (85 * inflow) div 100` with
    * base = `(15 * (SCALE div N)) div 100`, shares as `rank div outdeg` —
    * every operation is a BIGINT `div`/`*`/`+` on positive values, so both
    * engines walk the bit-identical trajectory and the t2 hash pins all
    * [[PrIters]] iterations, not just a converged blur. The co-purchase
    * graph is symmetric by construction, so no dangling-mass or
    * missing-inflow handling is needed (every node has in-degree ≥ 1).
    *
    * Scale posture (100 TB): edge generation joins the fact table to
    * itself on the order key — per-order fanout is C(order size, 2),
    * bounded by basket size, never |parts|²; each iteration is one
    * broadcast-joinable degree lookup + one shuffle keyed on the edge
    * destination with map-side partial sums (hot parts combine before the
    * exchange), the canonical Pregel round as a DataFrame plan; the
    * per-round localCheckpoint cuts the exponentially growing lineage
    * exactly like [[connectedComponents]]. The only driver traffic is the
    * O(1) node-count scalar (the b109 convention). */
  private val b119 = entry(
    "b119_pagerank_copurchase",
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |outdeg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM outdeg),
       |r0 AS (SELECT node, $PrScale // n.n AS rank FROM outdeg, n),
       |$prIterSql
       |SELECT node AS part_id, rank AS pr_fixed FROM r$PrIters
       |ORDER BY part_id""".stripMargin) { (s, d) =>
    // the <>-distinct edge list grouped by src IS the symmetric
    // adjacency — the b157 fused construction; symmetric enables the
    // zero-exchange pull rounds
    pageRankAdj(copurchaseAdjacency(s, d), symmetric = true)
      .select(col("node").as("part_id"), col("rank").as("pr_fixed"))
      .orderBy("part_id")
  }

  private val LpaRounds = 4

  /** Per-round label-frequency argmax CTEs for the B157 oracle: count
    * neighbor labels, then pick per node by (count DESC, label ASC) —
    * the same total order the Spark side encodes as max(struct(cnt,
    * -label)). */
  private def lpaIterSql: String = (1 to LpaRounds).map { k =>
    s"""c$k AS (SELECT e.dst AS node, l.label, count(*) AS cnt
       |  FROM l${k - 1} l JOIN edges e ON e.src = l.node
       |  GROUP BY e.dst, l.label),
       |l$k AS (SELECT node, label FROM (
       |  SELECT node, label,
       |         row_number() OVER (PARTITION BY node
       |                            ORDER BY cnt DESC, label) AS rn
       |  FROM c$k) t WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** B157 — LABEL PROPAGATION community detection (Raghavan et al. 2007)
    * over the part co-purchase graph, SYNCHRONOUS variant: every node
    * starts as its own label; each round every node adopts the most
    * frequent label among its in-neighbors, ties broken by the SMALLEST
    * label — the deterministic spelling of the usually-randomized LPA
    * (synchronous + total-order tie-break ⇒ rerun- and engine-exact, so
    * the t2 hash pins all [[LpaRounds]] rounds of the trajectory).
    *
    * Scale posture: a Pregel round is one shuffle keyed on the edge
    * destination with map-side combinable (node, label) counts, then a
    * second map-side-combinable argmax aggregate on node — no windows;
    * per-round localCheckpoint cuts the growing lineage. The per-round
    * label→edge join is BROADCAST only while the node count (one O(1)
    * driver scalar, the b119/b109 convention) fits [[LpaBroadcastMaxNodes]]
    * — a measured ~9% win at bench SF (r13 A/B, 5.61→5.10 s) — and falls
    * back to a plain shuffled equi-join past the cap, where the round
    * cost is the pure Pregel O(|E|) exchanged bytes (ADVICE r13: a
    * node-cardinality broadcast would OOM the driver at 100 TB). */
  private val b157 = entry(
    "b157_label_propagation",
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$lpaIterSql
       |SELECT node AS part_id, label AS community
       |FROM l$LpaRounds ORDER BY part_id""".stripMargin, bench = true) { (s, d) =>
    // the <>-distinct edge list grouped by src IS the symmetric
    // adjacency — build it fused (orderBaskets → collect_set), skipping
    // the pair-distinct exchange entirely
    labelPropagationAdj(copurchaseAdjacency(s, d), LpaRounds,
        distinctSymmetric = true)
      .select(col("node").as("part_id"), col("label").as("community"))
      .orderBy("part_id")
  }

  /** Broadcast cap for the per-round LPA label table: past this node
    * count the label join degrades to a shuffled equi-join (the b144
    * broadcast-cap convention — 2M rows ≈ 32 MB of (node, label) pairs,
    * comfortably executor- and driver-safe; a full-corpus node table is
    * neither). */
  private val LpaBroadcastMaxNodes = 2000000L

  /** [[LpaRounds]]-round synchronous LPA over a (src, dst) edge list —
    * the generic spec hook; groups the edges into adjacency rows and
    * delegates to [[labelPropagationAdj]]. collect_LIST, not set: a
    * caller-planted duplicate edge row must keep voting twice, exactly
    * as the per-edge join spelling counted it. */
  private[graft] def labelPropagation(edgesIn: DataFrame, rounds: Int): DataFrame =
    labelPropagationAdj(
      edgesIn.groupBy(col("src").as("node"))
        .agg(collect_list(col("dst")).as("nbrs")),
      rounds)

  /** Packed-long base for the iteration operators' argmax values. The
    * packed spellings are only used when [[materializeChunked]]'s
    * runtime guard holds (r20 VERDICT item 1 / ADVICE: the old comment
    * claimed "any TPC-H part key" — false at SF ≳ 21k where partkey
    * exceeds 2³¹ and sign-extended recovery breaks); past the guard the
    * operators fall back to two-column keys and struct orderings. */
  private val Pack32 = 1L << 32

  /** Degree cap for grouped-adjacency rows (r20 VERDICT item 2): a hub
    * node's neighbor list splits into ⌈deg / AdjChunk⌉ (node, ci, od,
    * nbrs-slice) rows, so one power-law hub can neither pin a whole
    * round into a single task nor materialize an unbounded row — votes,
    * inflow sums and frontier mins are associative across chunks, so
    * every round aggregate is unchanged (GraphOpsSpec plants a hub with
    * deg ≫ cap and pins chunked ≡ unchunked). TPC-H co-purchase degrees
    * never reach the cap, so at gate SFs each node is exactly one chunk.
    * `od` is the FULL degree (list size before chunking — share
    * denominators must not see the slice width). */
  private[graft] val AdjChunk = 4096

  /** (node, nbrs[]) → (node, od, ci, nbrs-slice): the chunked adjacency.
    * A narrow projection + generate, so the upstream groupBy(node)
    * partitioning is preserved into the persisted relation. */
  private[graft] def chunkAdj(grouped: DataFrame): DataFrame =
    grouped.select(col("node"), size(col("nbrs")).cast("long").as("od"),
        posexplode(expr(
          s"""transform(sequence(0, greatest(size(nbrs) - 1, 0) div $AdjChunk),
             |          i -> slice(nbrs, i * $AdjChunk + 1, $AdjChunk))""".stripMargin)))
      .select(col("node"), col("od"), col("pos").as("ci"), col("col").as("nbrs"))

  /** The chunked adjacency materialized ONCE (localCheckpoint — one
    * build pass feeds stats and every round), plus the O(1) driver
    * scalars the iterative operators need: node count (broadcast-cap
    * decision, b109 convention), total edge cells (the pull width), and
    * the packed-long domain guard.
    *
    * packedOk gates every packed-long spelling: ids in [0, 2³¹) and
    * |E| < 2³¹ make dst·2³²+label injective, shiftright recovery exact,
    * and cnt·2³² sign-safe (cnt ≤ |E|); outside the domain the
    * operators use two-column keys / struct orderings (r20 VERDICT
    * item 1: the old "any TPC-H part key" claim was false past SF~21k). */
  private final case class AdjInfo(grouped: DataFrame, nNodes: Long,
      totE: Long, packedOk: Boolean)

  private def materializeChunked(adjIn: DataFrame): AdjInfo = {
    val grouped = QueryScope.materialize("grouped")(chunkAdj(adjIn))
    // the packed spellings multiply node ids, so they only ever apply to
    // LONG ids — generic callers with e.g. string nodes (b166's word
    // graph) skip the id-domain scalars entirely
    val longIds =
      grouped.schema("node").dataType == org.apache.spark.sql.types.LongType
    if (!longIds) {
      val st = grouped.agg(
        count(when(col("ci") === 0, lit(1))).as("n"),
        sum(size(col("nbrs")).cast("long"))).head()
      val totE = if (st.isNullAt(1)) 0L else st.getLong(1)
      AdjInfo(grouped, st.getLong(0), totE, packedOk = false)
    } else {
      val st = grouped.agg(
        count(when(col("ci") === 0, lit(1))).as("n"),
        min(col("node")), max(col("node")),
        min(expr("array_min(nbrs)")), max(expr("array_max(nbrs)")),
        sum(size(col("nbrs")).cast("long"))).head()
      val n = st.getLong(0)
      val totE = if (st.isNullAt(5)) 0L else st.getLong(5)
      val packedOk = n == 0 || {
        val minId = math.min(st.getLong(1),
          if (st.isNullAt(3)) st.getLong(1) else st.getLong(3))
        val maxId = math.max(st.getLong(2),
          if (st.isNullAt(4)) st.getLong(2) else st.getLong(4))
        minId >= 0 && maxId < (1L << 31) && totE < (1L << 31)
      }
      AdjInfo(grouped, n, totE, packedOk)
    }
  }

  /** Edge cells per pull partition: ~500k cells ≈ 4-8 MB of exploded
    * (node, nbr) longs — the spreadNarrowInput size-earned-width rule
    * applied to the round input (r21 A/B at sf0.1/32: LPA pull rounds
    * at the session's 32 shuffle partitions cost 8.5 executor-CPU s,
    * at the earned width ~4.5 — per-task constants dominate |E| = 2.4M
    * at gate SF; the width grows with the data, capped at
    * defaultParallelism). */
  private val PullCellsPerPartition = 500000L

  /** The broadcast-regime round input: the chunked adjacency
    * repartitioned by node to its size-earned width and PERSISTED —
    * persist, not localCheckpoint, is load-bearing: a LogicalRDD drops
    * outputPartitioning (the r20 bydst probe), while an InMemoryRelation
    * keeps it, which is what lets the pull-shaped round aggregates run
    * with ZERO exchanges (probed r21: InMemoryTableScan → Generate →
    * BroadcastHashJoin → HashAggregate all preserve hash(node)). Only
    * built in the broadcast regime (node count ≤ cap), so the persisted
    * relation is bounded; the past-cap fallback iterates the
    * checkpointed relation with push rounds. Persisted in the caller's
    * [[QueryScope]], which releases it once the caller's rounds have
    * run. */
  private def pullAdj(grouped: DataFrame, totE: Long): DataFrame = {
    val k = math.max(1L, math.min(
      grouped.sparkSession.sparkContext.defaultParallelism.toLong,
      (totE + PullCellsPerPartition - 1) / PullCellsPerPartition)).toInt
    QueryScope.persist(grouped.repartition(k, col("node")))
  }

  /** Per-node argmax of (cnt DESC, label ASC) over (node, label, cnt)
    * rows — packed long max when the domain guard holds (a
    * DeclarativeAggregate long max, the r20 measurement), struct min
    * otherwise (min(struct(−cnt, label)) needs no label negation, so it
    * is exact for ANY long label). Both run exchange-free when the
    * input is already clustered by node. */
  private def argmaxLabel(votes: DataFrame, packedOk: Boolean): DataFrame =
    if (packedOk)
      votes.groupBy("node")
        .agg(max(col("cnt") * Pack32 + (lit(Pack32 - 1) - col("label")))
          .as("best"))
        .select(col("node"),
          (lit(Pack32 - 1) - pmod(col("best"), lit(Pack32))).as("label"))
    else
      votes.groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("b"))
        .select(col("node"), col("b.l").as("label"))

  /** LPA over a grouped adjacency (node, nbrs[]) relation (chunked and
    * persisted internally — [[materializeChunked]]).
    *
    * Round shape, broadcast regime (node count ≤
    * [[LpaBroadcastMaxNodes]]) over a DISTINCT SYMMETRIC adjacency: the
    * round is PULL-shaped — explode the adjacency (node, nbr), look the
    * nbr's label up in the BROADCAST label table (symmetric: votes of
    * v's in-neighbors ≡ labels of v's out-neighbors), and aggregate by
    * the adjacency's own node key. Because the persisted adjacency
    * keeps hash(node) partitioning and Generate/BroadcastHashJoin
    * preserve it, BOTH round aggregates (vote count by (node, label),
    * argmax by node) are local — the round body has ZERO exchanges
    * (r21; was 2 per round: the r20 push shape shuffled packed votes
    * keyed dst and then argmax keyed node).
    *
    * Push regime (generic adjacency, or past the broadcast cap): join
    * the O(|V|)-row adjacency to the label side on node, explode, and
    * aggregate votes keyed (dst, label) — map-side combinable, the pure
    * Pregel O(|E|)-bytes round. The packed-long vote key is used only
    * under [[materializeChunked]]'s domain guard, with
    * shiftrightunsigned recovery (ADVICE r20); outside the domain the
    * keys stay two-column and the argmax a struct ordering. */
  private[graft] def labelPropagationAdj(adjIn: DataFrame, rounds: Int,
      distinctSymmetric: Boolean = false): DataFrame = QueryScope("labelPropagation") {
    val info = materializeChunked(adjIn)
    val smallEnoughToBroadcast = info.nNodes <= LpaBroadcastMaxNodes
    val pull = smallEnoughToBroadcast && distinctSymmetric
    val adj = if (pull) pullAdj(info.grouped, info.totE) else info.grouped
    // Round 1 over a DISTINCT SYMMETRIC adjacency is a projection-class
    // aggregate: every node starts self-labeled, so node v's votes are
    // its in-neighbors' ids, each with count exactly 1 (distinct) — the
    // (count DESC, label ASC) argmax degenerates to min(in-neighbor id)
    // = min over the chunk array_mins. Zero exchanges instead of the
    // full vote round; rounds 2+ run the generic shape. Callers assert
    // the precondition (copurchaseAdjacency is both); the generic edge
    // wrapper never sets it. Equivalence pinned by GraphOpsSpec's
    // dual-path replay and the b157 oracle at all three SFs.
    val fastFirst = distinctSymmetric && rounds >= 1
    var l =
      QueryScope.materialize("l0")(
        if (fastFirst)
          adj.groupBy("node").agg(min(array_min(col("nbrs"))).as("label"))
        else
          adj.groupBy("node").agg(min(col("node")).as("label")))
    val remaining = if (fastFirst) rounds - 1 else rounds
    for (_ <- 1 to remaining) {
      l = QueryScope.materialize("l")(
        if (pull) {
          // pull round: zero exchanges (see scaladoc)
          argmaxLabel(
            adj.select(col("node"), explode(col("nbrs")).as("u"))
              .join(broadcast(l.select(col("node").as("u"), col("label"))), "u")
              .groupBy(col("node"), col("label"))
              .agg(count(lit(1)).as("cnt")),
            info.packedOk)
        } else {
          // push round: votes keyed on the receiving dst
          val labelSide = if (smallEnoughToBroadcast) broadcast(l) else l
          val exploded = adj.join(labelSide, "node")
            .select(explode(col("nbrs")).as("dst"), col("label"))
          if (info.packedOk)
            exploded
              .groupBy((col("dst") * Pack32 + col("label")).as("pk"))
              .agg(count(lit(1)).as("cnt"))
              .select(shiftrightunsigned(col("pk"), 32).as("node"),
                pmod(col("pk"), lit(Pack32)).as("label"), col("cnt"))
              .groupBy("node")
              .agg(max(col("cnt") * Pack32 +
                (lit(Pack32 - 1) - col("label"))).as("best"))
              .select(col("node"),
                (lit(Pack32 - 1) - pmod(col("best"), lit(Pack32))).as("label"))
          else
            argmaxLabel(
              exploded.groupBy(col("dst").as("node"), col("label"))
                .agg(count(lit(1)).as("cnt")),
              packedOk = false)
        })
    }
    l
  }

  /** The [[PrIters]]-round fixed-point iteration over a (src, dst) edge
    * list in which every node has out-degree ≥ 1 and in-degree ≥ 1
    * (symmetric graphs qualify). Spec hook for planted graphs.
    *
    * Grouped-adjacency rounds (the r20 [[copurchaseAdjacency]] shape):
    * the edge list is grouped ONCE into (node, nbrs[]) rows —
    * collect_LIST, so a caller-planted duplicate edge keeps
    * contributing two shares, exactly like the per-edge join — and each
    * round joins O(|V|) rows, computes share = rank div size(nbrs)
    * inline (the out-degree IS the array length; the separate outdeg
    * join disappears), and re-expands edges with one map-side explode
    * into the dst-keyed partial sum. The rank side broadcasts while the
    * node count fits [[LpaBroadcastMaxNodes]] (what actually ships is
    * O(|V|) rank rows — a node-count cap, where the old edge-count cap
    * guarded re-shuffling the per-edge relation); past it the round is
    * a node-keyed shuffled join, the same O(|E|)-bytes-per-round class
    * as the per-edge fallback. */
  private[graft] def pageRank(edgesIn: DataFrame): DataFrame =
    pageRankAdj(edgesIn.groupBy(col("src").as("node"))
      .agg(collect_list(col("dst")).as("nbrs")))

  /** [[pageRank]] over a pre-grouped (node, nbrs[]) adjacency (chunked
    * and persisted internally — [[materializeChunked]]; `od` is the
    * full pre-chunk degree, so shares are exact under chunking).
    *
    * `symmetric` + broadcast regime runs the PULL round (the b157
    * argument: in-neighbors ≡ out-neighbors): the rank state carries
    * (node, od, rank), the broadcast side is the projected share table
    * (node, rank div od), and the inflow sum aggregates by the
    * adjacency's own hash(node)-partitioned key — ZERO exchanges per
    * round (r21; the push shape paid the dst-keyed inflow exchange).
    * Every node of a symmetric graph has in-degree ≥ 1 and every rank
    * is ≥ base > 0, so the inner pull join is total — no universe
    * re-join needed. Generic/asymmetric callers (and past the cap)
    * keep the push round: one node-keyed join + one dst-keyed
    * map-combinable partial-sum exchange, the canonical Pregel round. */
  private[graft] def pageRankAdj(adjIn: DataFrame,
      symmetric: Boolean = false): DataFrame = QueryScope("pageRank") {
    val info = materializeChunked(adjIn)
    val nNodes = info.nNodes // O(1) driver scalar (b109 convention)
    val base = (15L * (PrScale / nNodes)) / 100L
    val prGraphSmall = nNodes <= LpaBroadcastMaxNodes
    if (symmetric && prGraphSmall) {
      val adj = pullAdj(info.grouped, info.totE)
      var r = adj.filter(col("ci") === 0)
        .select(col("node"), col("od"), lit(PrScale / nNodes).as("rank"))
      for (_ <- 1 to PrIters) {
        val share = broadcast(
          r.select(col("node").as("u"), expr("rank div od").as("share")))
        r = QueryScope.materialize("r")(
          adj.select(col("node"), col("od"), explode(col("nbrs")).as("u"))
            .join(share, "u")
            .groupBy(col("node"))
            .agg(min(col("od")).as("od"), sum(col("share")).as("inflow"))
            .select(col("node"), col("od"),
              (lit(base) + expr("(85 * inflow) div 100")).as("rank")))
      }
      r.select(col("node"), col("rank"))
    } else {
      val adj = info.grouped
      def prRankSide(df: DataFrame): DataFrame =
        if (prGraphSmall) broadcast(df) else df
      var r = adj.filter(col("ci") === 0)
        .select(col("node"), lit(PrScale / nNodes).as("rank"))
      for (_ <- 1 to PrIters) {
        r = QueryScope.materialize("r")(adj.join(prRankSide(r), "node")
          // share BEFORE the explode: the generate then carries one long
          // per edge instead of re-materializing the nbrs array per row
          .select(expr("rank div od").as("share"), col("nbrs"))
          .select(col("share"), explode(col("nbrs")).as("node"))
          .groupBy("node")
          .agg(sum(col("share")).as("inflow"))
          .select(col("node"),
            (lit(base) + expr("(85 * inflow) div 100")).as("rank")))
      }
      r
    }
  }

  /** Per-node TRIANGLE COUNTS over an undirected (src < dst) edge list,
    * via DEGREE-ORDERED ORIENTATION — the standard massively-parallel
    * triangle recipe (Suri & Vassilvitskii '11): orient every edge from
    * its lower-(degree, id) endpoint to its higher one, enumerate wedges
    * only from each node's ORIENTED out-neighborhood, and close them
    * against the oriented edge set. Orientation caps per-node wedge
    * fanout at O(√|E|) (arboricity bound) — the difference between a
    * workable plan and a hub node exploding into deg² wedge rows — while
    * the triangle SET is provably unchanged (each triangle has exactly
    * one lowest-ranked corner, which enumerates it exactly once).
    *
    * Scale posture: two hash joins keyed on node / (node, node) pairs
    * with map-side combine into the per-corner count aggregate; no
    * cartesian anywhere (spec-asserted), wedge-reduction vs the
    * unoriented spelling measured in GraphOpsSpec. */
  /** Degree table of a canonical (src < dst) edge list. */
  private[graft] def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  private[graft] def triangleCounts(edgesIn: DataFrame): DataFrame = {
    val edges = QueryScope.materialize("edges")(edgesIn)
    triangleCountsOn(edges, QueryScope.materialize("deg")(degreesOf(edges)))
  }

  /** The core pass over an already-MATERIALIZED edge list and its degree
    * table — B147 shares both with its coefficient denominator, so the
    * materialization and the O(|E|) degree aggregate run once. */
  private def triangleCountsOn(edges: DataFrame, deg: DataFrame): DataFrame = {
    // orient u→v iff (deg(u), u) < (deg(v), v); ranks are total, so each
    // undirected edge gets exactly one orientation
    val ranked = edges
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
    val oriented = ranked.select(
        when(col("ds") < col("dd") ||
          (col("ds") === col("dd") && col("src") < col("dst")),
          struct(col("src").as("a"), col("dst").as("b"),
            col("ds").as("ra"), col("dd").as("rb")))
          .otherwise(struct(col("dst").as("a"), col("src").as("b"),
            col("dd").as("ra"), col("ds").as("rb"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.rb").as("rb"))
    // GROUPED oriented out-neighborhoods (the r20 adjacency argument):
    // the wedge enumeration is pairs WITHIN each node's oriented
    // neighborhood, so grouping once and double-exploding map-side
    // replaces the e1⋈e2 self-join (its exchange + two sorts over the
    // oriented relation); per-row fanout is unchanged — C(outdeg, 2),
    // arboricity-bounded by the orientation
    val adjO = QueryScope.materialize("adjO")(oriented
      .groupBy(col("a"))
      .agg(collect_list(struct(col("b"), col("rb"))).as("ns")))
    val wedges = adjO
      .select(col("a"), explode(col("ns")).as("x"), col("ns"))
      .select(col("a"), col("x"), explode(col("ns")).as("y"))
      .filter(col("x.rb") < col("y.rb") ||
        (col("x.rb") === col("y.rb") && col("x.b") < col("y.b")))
      .select(col("a"), col("x.b").as("w1"), col("y.b").as("w2"))
    // closing-edge probe: the wedge relation is the big side (arboricity-
    // bounded but still ≫ |E|), so while the edge set genuinely fits a
    // broadcast (≤ 2M edges ≈ 32 MB serialized; 1.2M at sf0.1 profiled
    // 2× faster than shuffling 41M wedge rows) probe it map-side; past
    // that, fall back to the standard shuffled MR close keyed (w1, w2) —
    // the cap is sized so the forced broadcast can never itself become
    // the pathology it avoids. Edge stats are one cheap scalar job off
    // the already-materialized checkpoint.
    // the probe key is the PACKED closing pair w1·2³² + w2 — one long
    // equi-key instead of a two-column struct key, so the 41M-row probe
    // hashes/compares 8 bytes per row (the b148 packing). Packing an
    // equi-join key only needs INJECTIVITY, which Long wrap preserves
    // for ids in [0, 2³²) — but NOT beyond (TPC-H part keys pass 2³²
    // near SF 21k), so the packed probe runs under a runtime id-domain
    // guard and falls back to the two-column (w1, w2) key past it
    // (r20 VERDICT item 1; GraphOpsSpec plants an id ≥ 2³² and pins
    // fallback ≡ packed semantics).
    // closing keys re-expand map-side from the grouped checkpoint
    val est = edges.agg(count(lit(1)), min(least(col("src"), col("dst"))),
      max(greatest(col("src"), col("dst")))).head()
    val nEdges = est.getLong(0)
    val packedOk = nEdges == 0 ||
      (est.getLong(1) >= 0 && est.getLong(2) < (1L << 32))
    val closingAll = adjO.select(col("a"), explode(col("ns")).as("n"))
    val tri = if (packedOk) {
      val closing = closingAll
        .select((col("a") * lit(1L << 32) + col("n.b")).as("wk"))
      val closingSide =
        if (nEdges <= 2000000L) broadcast(closing) else closing
      wedges
        .select(col("a"), col("w1"), col("w2"),
          (col("w1") * lit(1L << 32) + col("w2")).as("wk"))
        .join(closingSide, Seq("wk"))
        .select(col("a"), col("w1"), col("w2"))
    } else {
      val closing = closingAll
        .select(col("a").as("w1"), col("n.b").as("w2"))
      val closingSide =
        if (nEdges <= 2000000L) broadcast(closing) else closing
      wedges.join(closingSide, Seq("w1", "w2"))
        .select(col("a"), col("w1"), col("w2"))
    }
    // one explode, NOT a 3-way union of corner projections: Union legs are
    // separate plan subtrees, so the union spelling re-executed the whole
    // wedge join + closing probe once PER CORNER (3× the dominant cost —
    // measured 229→48 executor-CPU s at sf0.1/32 threads); explode emits
    // the identical corner multiset from ONE pass, in the same codegen
    // stage as the closing probe
    tri.select(explode(array(col("a"), col("w1"), col("w2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-order distinct part baskets — the shared first stage of every
    * co-purchase construction. ONE order-keyed exchange over the fact
    * table (map-side partial collect_set dedupes within-order repeats
    * before the shuffle), replacing the lineitem self-join: the join
    * spelling shuffled the fact table into a sort-merge join and THEN
    * paid a second full-width distinct exchange over the C(basket,2)
    * pair fanout; the basket spelling moves each fact row once and
    * explodes pairs map-side (r20 A/B at sf0.1/32: 8.9 → 6.8
    * executor-CPU s for the canonical edge list, wall 3.3 → 1.6).
    * Per-order fanout stays C(basket, 2) — bounded by basket size. */
  private def orderBaskets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))

  /** Canonical (src < dst, distinct) co-purchase edge list — B119's
    * construction with the `<` canonical form; shared by B144/B147/B148.
    * Basket-explode spelling (see [[orderBaskets]]); the cross-order
    * distinct is the one pair-keyed exchange. */
  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    orderBaskets(s, d)
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") < col("dst"))
      .distinct()

  /** SYMMETRIC distinct co-purchase adjacency (node, nbrs[]) — the
    * grouped-edge representation the Pregel-round operators (B157 LPA,
    * B207 BFS, B231 PPR) iterate over. Both directions fall out of the
    * basket double-explode, and the cross-order distinct FUSES into the
    * node-keyed collect_set (no separate pair-distinct exchange at all:
    * one order-keyed exchange + one node-keyed exchange builds the
    * whole graph). Equivalent to grouping `sym` by its src — nbrs is
    * the distinct partner set; size(nbrs) is the symmetric out-degree.
    *
    * Why grouped: each iteration round now joins O(|V|) adjacency ROWS
    * against the O(|V|) label/share/frontier side and re-expands edges
    * with one map-side explode — instead of re-scanning and re-probing
    * the O(|E|) edge relation per round. The |E| cells still flow
    * through each round's partial aggregate, but the per-round
    * materialized-scan and join-probe work drops from |E| to |V| rows
    * (r20 A/B: b157 47.1 → measured-below CPU-s; hub rows carry
    * deg-sized arrays — bounded by the distinct-partner count, the same
    * skew bound the per-edge spelling has on its hot keys). */
  private[graft] def copurchaseAdjacency(s: SparkSession, d: String): DataFrame =
    orderBaskets(s, d)
      .select(explode(col("ps")).as("node"), col("ps"))
      .select(col("node"), explode(col("ps")).as("nbr"))
      .filter(col("nbr") =!= col("node"))
      .groupBy("node").agg(collect_set(col("nbr")).as("nbrs"))

  /** B144's oracle — shared VERBATIM by B148's streamed fold (the
    * streamed maintenance must land on exactly the batch counts). */
  private[graft] val triangleOracleSql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.src = e1.dst
       |  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |corners AS (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT node AS part_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM corners GROUP BY node ORDER BY part_id""".stripMargin

  /** B144 — per-part triangle counts in the co-purchase graph: "how
    * clustered is each product's neighborhood", the local-clustering
    * numerator. The oracle enumerates triangles by id order (a < b < c)
    * — a DIFFERENT enumeration whose triangle set provably coincides, so
    * the hash pins the orientation argument, not just arithmetic. */
  private val b144 = entry("b144_graph_triangles", triangleOracleSql,
    bench = true) {
    (s, d) =>
      triangleCounts(copurchaseEdges(s, d))
        .select(col("node").as("part_id"), col("n_triangles"))
        .orderBy("part_id")
  }

  /** B148's per-batch fold: the (node, delta) triangle-count increments
    * contributed by `batch`'s edges against the accumulated `old` edge
    * state — the LAST-COMPLETING-EDGE attribution rule: a batch edge
    * e = (a, b) closes a triangle through neighbor c iff both (a, c)
    * and (b, c) are in `old` OR are batch-mates with a smaller
    * canonical key, so each triangle of the final graph is counted at
    * exactly one edge of exactly one batch (spec-pinned on split/tied
    * arrival scenarios). Both inputs are canonical (src < dst) disjoint
    * edge sets. The packed key src·2³² + dst is collision-free for node
    * ids below 2³² (any TPC-H part key; a wider id space would switch to
    * a struct comparison). */
  private[graft] def triangleDelta(old: DataFrame, batch: DataFrame): DataFrame = {
    val all = old.withColumn("isNew", lit(false))
      .unionByName(batch.withColumn("isNew", lit(true)))
      .withColumn("k", col("src") * lit(1L << 32) + col("dst"))
    val adj = QueryScope.materialize("adj")(all.select(col("src").as("u"), col("dst").as("v"),
        col("isNew"), col("k"))
      .unionByName(all.select(col("dst").as("u"), col("src").as("v"),
        col("isNew"), col("k")))) // two probes per fold
    val e = batch.select(col("src").as("ea"), col("dst").as("eb"))
      .withColumn("ek", col("ea") * lit(1L << 32) + col("eb"))
    val tri = e
      .join(adj.as("x"), col("x.u") === col("ea") &&
        (!col("x.isNew") || col("x.k") < col("ek")))
      .join(adj.as("y"), col("y.u") === col("eb") &&
        col("y.v") === col("x.v") &&
        (!col("y.isNew") || col("y.k") < col("ek")))
      .select(col("ea").as("a"), col("eb").as("b"), col("x.v").as("c"))
    // single-pass corner explode (same reasoning as triangleCountsOn: a
    // 3-way union would re-run the two adjacency joins once per corner)
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("delta"))
  }

  /** B147 — LOCAL CLUSTERING COEFFICIENT: B144's triangle numerator over
    * the wedge denominator, coeff = 2·T(v) / (deg(v)·(deg(v)−1)) in
    * integer basis points — "how interconnected is each product's
    * co-purchase neighborhood", the standard local graph-density metric
    * (Watts-Strogatz). Nodes with deg < 2 have no defined coefficient
    * and drop (stated convention, mirrored); triangle-free nodes report
    * 0 via the left join.
    *
    * Scale posture: B144's plan + one degree aggregate (map-combinable,
    * O(nodes) rows) and one node-keyed left join — nothing new moves. */
  private val b147 = entry(
    "b147_graph_clustering",
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT src AS node FROM edges
       |    UNION ALL SELECT dst FROM edges) n
       |  GROUP BY node),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.src = e1.dst
       |  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |corners AS (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri),
       |tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS t
       |         FROM corners GROUP BY node)
       |SELECT d.node AS part_id, d.deg,
       |       CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
       |       CAST(2 * COALESCE(t.t, 0) * 10000 // (d.deg * (d.deg - 1))
       |            AS BIGINT) AS coeff_bp
       |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
       |WHERE d.deg >= 2
       |ORDER BY part_id""".stripMargin) { (s, d) =>
    // numerator and denominator share ONE materialized edge list and
    // ONE degree table (checkpointed — it feeds both the coefficient
    // denominator and the orientation ranks)
    val edges = QueryScope.materialize("edges")(copurchaseEdges(s, d))
    val deg = QueryScope.materialize("deg")(degreesOf(edges))
    deg
      .join(triangleCountsOn(edges, deg), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .filter(col("deg") >= 2)
      .select(col("node").as("part_id"), col("deg"), col("n_triangles"),
        expr("CAST(2 * n_triangles * 10000 div (deg * (deg - 1)) AS BIGINT)")
          .as("coeff_bp"))
      .orderBy("part_id")
  }

  /** K-core parameters (B149): k sits in the co-purchase graph's
    * phase-transition band — below it the core is near-total, above it
    * the cascade empties the graph — so the peel runs a REAL multi-round
    * cascade at every SF (7 rounds to empty at sf0.001; 2-3 rounds to an
    * ~94% core at sf0.01/0.1, measured). MaxPeelRounds bounds the driver
    * loop above the observed maximum; exceeding it throws (the b63
    * convention: never ship a wrong fixpoint). */
  val KCoreK = 70L
  val MaxPeelRounds = 10

  /** Peel trajectory over an undirected canonical (src < dst) edge list:
    * (node, dropped_round) — the 1-based round each node left the
    * k-core peel, 0 for survivors (the k-core itself). Reporting the
    * TRAJECTORY rather than the surviving set keeps the gate
    * non-vacuous even where the cascade empties the graph. */
  private[graft] def kCorePeel(edgesIn: DataFrame, k: Long,
      maxRounds: Int = MaxPeelRounds): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = QueryScope.materialize("edges")(edgesIn)
    val adj = QueryScope.materialize("adj")(
      edges.select(col("src").as("node"), col("dst").as("other"))
        .unionByName(edges.select(col("dst").as("node"), col("src").as("other"))))
    var alive = QueryScope.materialize("alive0")(adj.select("node").distinct())
    var dropped = Seq.empty[(Long, Int)].toDF("node", "dropped_round")
    var round = 0
    var converged = false
    while (!converged) {
      // degree WITHIN the surviving subgraph; zero-degree survivors get
      // 0 via the left join and drop with everyone below k
      val deg = alive
        .join(adj.join(alive.select(col("node").as("other")), "other"),
          Seq("node"), "left")
        .groupBy("node").agg(count(col("other")).as("d"))
      val drop = QueryScope.materialize("drop")(deg.filter(col("d") < k).select("node"))
      if (drop.isEmpty) converged = true
      else {
        // only DROPPING rounds count against the budget: a cascade of
        // depth exactly maxRounds converges (its confirming empty round
        // is free), matching the oracle's maxRounds-deep unroll
        round += 1
        if (round > maxRounds)
          throw new IllegalStateException(
            s"k-core peel did not converge in $maxRounds rounds")
        dropped = QueryScope.materialize("dropped")(dropped.unionByName(
          drop.withColumn("dropped_round", lit(round))))
        alive = QueryScope.materialize("alive")(alive.join(drop, Seq("node"), "left_anti"))
      }
    }
    dropped.unionByName(alive.withColumn("dropped_round", lit(0)))
  }

  /** The unrolled-peel oracle text: `rounds` chained (deg, drop, alive)
    * CTE triples — the b119 iteration-as-text spelling; both engines
    * walk the identical trajectory, and extra rounds past convergence
    * are no-ops (peeling is monotone), so a fixed unroll ≥ the Spark
    * loop's convergence round is exact. */
  private def kCoreOracleSql(k: Long, rounds: Int): String = {
    val sb = new StringBuilder
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and each round references its predecessor three times —
    // un-materialized, the unroll re-scans the fact table 3^rounds times
    // (observed as a too-many-open-files explosion)
    sb.append(s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS MATERIALIZED (
       |  SELECT src AS node, dst AS other FROM edges
       |  UNION ALL SELECT dst, src FROM edges),
       |a0 AS MATERIALIZED (SELECT DISTINCT node FROM adj),
       |""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s"""deg$i AS MATERIALIZED (
         |  SELECT a.node, CAST(count(e.other) AS BIGINT) AS d
         |  FROM a${i - 1} a LEFT JOIN adj e
         |    ON e.node = a.node AND e.other IN (SELECT node FROM a${i - 1})
         |  GROUP BY a.node),
         |drop$i AS MATERIALIZED (SELECT node FROM deg$i WHERE d < $k),
         |a$i AS MATERIALIZED (SELECT node FROM a${i - 1}
         |        WHERE node NOT IN (SELECT node FROM drop$i)),
         |""".stripMargin)
    }
    sb.append("trajectory AS (\n")
    for (i <- 1 to rounds)
      sb.append(s"  SELECT node, $i AS r FROM drop$i\n  UNION ALL\n")
    sb.append(s"  SELECT node, 0 AS r FROM a$rounds)\n")
    sb.append("SELECT node AS part_id, CAST(r AS INT) AS dropped_round\n")
    sb.append("FROM trajectory ORDER BY part_id")
    sb.toString
  }

  /** B149 — K-CORE DECOMPOSITION by distributed peeling (the standard
    * iterative-deletion algorithm): repeatedly delete nodes whose degree
    * within the surviving subgraph is below k, reporting each node's
    * drop round (0 = the k-core). K-core is the classic graph-based
    * pruning/denoising primitive (keep only densely-embedded products /
    * documents / users).
    *
    * Scale posture: each round is one node-keyed semi join + one
    * map-combinable degree agg over the SURVIVING adjacency — O(|E|)
    * per round, never materializing neighborhoods; the driver loop
    * reads a one-scalar emptiness check per round and the per-round
    * localCheckpoint is the b63 lineage discipline. Round count is
    * bounded by the cascade depth (phase-transition graphs converge in
    * single digits; the guard throws rather than ship a wrong core). */
  private val b149 = entry(
    "b149_graph_kcore",
    kCoreOracleSql(KCoreK, MaxPeelRounds)) { (s, d) =>
    kCorePeel(copurchaseEdges(s, d), KCoreK)
      .select(col("node").as("part_id"), col("dropped_round"))
      .orderBy("part_id")
  }

  /** HITS fixed-point scale (micro-units) and round count — like B119,
    * the round count is a DETERMINISM choice: both engines walk the same
    * six integer iterations and the hash pins the trajectory. */
  private val HitsIters = 6
  private val HitsScale = 1000000L

  /** B150 — HITS hubs & authorities (Kleinberg '99) over the naturally
    * DIRECTED purchase graph customer → part: authority(part) = how
    * endorsed a product is by strong buyers, hub(customer) = how much a
    * buyer's basket concentrates on strong products — the classic
    * mutually-recursive pair, the co-purchase complement of B119's
    * single-score PageRank.
    *
    * Integer arithmetic: scores live in micro-units and each half-round
    * normalizes by the MAX raw score (the L∞ normalization variant) —
    * chosen over sum-normalization because it keeps every intermediate
    * product inside BIGINT at any graph size: raw scores are bounded by
    * max-degree·Scale (≤ 10⁸ here), so raw·Scale ≤ 10¹⁴ ≪ 2⁶³, while
    * sum-normalized raw·Scale would overflow on the first round of a
    * large graph. Max-normalization also keeps resolution: the top
    * node is exactly Scale, everything else a fraction of it in
    * micro-units.
    *
    * Scale posture: per half-round one edge-keyed join + one
    * map-combinable score aggregate (the b119 Pregel shape); the max is
    * a one-row broadcast; per-round localCheckpoint is the b63 lineage
    * discipline. */
  private val b150 = entry(
    "b150_graph_hits", {
      val sb = new StringBuilder
      sb.append(s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |h0 AS MATERIALIZED (
         |  SELECT DISTINCT c, CAST($HitsScale AS BIGINT) AS h FROM e),
         |""".stripMargin)
      for (i <- 1 to HitsIters) {
        sb.append(s"""a${i}r AS MATERIALIZED (
           |  SELECT p, CAST(sum(h) AS BIGINT) AS v
           |  FROM e JOIN h${i - 1} USING (c) GROUP BY p),
           |a${i}m AS MATERIALIZED (SELECT max(v) AS m FROM a${i}r),
           |a$i AS MATERIALIZED (
           |  SELECT p, CAST(v * $HitsScale // m AS BIGINT) AS a
           |  FROM a${i}r, a${i}m),
           |h${i}r AS MATERIALIZED (
           |  SELECT c, CAST(sum(a) AS BIGINT) AS v
           |  FROM e JOIN a$i USING (p) GROUP BY c),
           |h${i}m AS MATERIALIZED (SELECT max(v) AS m FROM h${i}r),
           |h$i AS MATERIALIZED (
           |  SELECT c, CAST(v * $HitsScale // m AS BIGINT) AS h
           |  FROM h${i}r, h${i}m),
           |""".stripMargin)
      }
      sb.append(s"""scores AS (
         |  SELECT 'cust' AS side, c AS node_id, h AS score_fp FROM h$HitsIters
         |  UNION ALL
         |  SELECT 'part', p, a FROM a$HitsIters)
         |SELECT side, node_id, score_fp FROM scores
         |ORDER BY side, node_id""".stripMargin)
      sb.toString
    }) { (s, d) =>
    val edges = QueryScope.materialize("edges")(
      Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct())
    // materialize the half-round's join+agg ONCE — both consumers (the max
    // aggregate and the normalized projection) read the checkpointed rows,
    // instead of re-running the edge join per side of the crossJoin
    def normalized(raw: DataFrame, key: String, out: String): DataFrame = {
      val scores = QueryScope.materialize("scores")(raw)
      QueryScope.materialize("normalized")(
        scores.crossJoin(broadcast(scores.agg(max(col("v")).as("m"))))
          .select(col(key), expr(s"CAST(v * $HitsScale div m AS BIGINT)").as(out)))
    }
    var h = QueryScope.materialize("h0")(edges.select(col("c")).distinct()
      .withColumn("h", lit(HitsScale)))
    var a = h.limit(0).select(col("c").as("p"), col("h").as("a"))
    for (_ <- 1 to HitsIters) {
      a = normalized(
        edges.join(h, "c").groupBy("p").agg(sum(col("h")).as("v")), "p", "a")
      h = normalized(
        edges.join(a, "p").groupBy("c").agg(sum(col("a")).as("v")), "c", "h")
    }
    h.select(lit("cust").as("side"), col("c").as("node_id"),
        col("h").as("score_fp"))
      .unionByName(a.select(lit("part").as("side"), col("p").as("node_id"),
        col("a").as("score_fp")))
      .orderBy("side", "node_id")
  }

  /** BFS round count for B207 — a DETERMINISM choice like [[PrIters]]:
    * both engines compute the identical four expand-and-min rounds, so
    * the hash pins distances ≤ 4 (the co-purchase graph's effective
    * diameter at the gate SFs; unreached nodes simply don't appear). */
  private[graft] val BfsRounds = 4

  /** Seed selector for B207: graph nodes ≡ 0 (mod 97). A fixed prime
    * residue is engine-identical and scale-stable (~1% of parts at any
    * SF); NOT a keep/drop ratio selector, so the SCALE.md §3.9 scramble
    * rule doesn't bite (any deterministic seed set works — the operator
    * under test is the traversal, not the seed choice). */
  private[graft] val BfsSeedMod = 97L

  /** B207 — MULTI-SOURCE BFS / hop-distance labeling (the unweighted
    * single-source shortest-path Pregel shape, Malewicz SIGMOD'10; the
    * "distance-to-nearest-hub" feature of graph feature engineering)
    * over the part co-purchase graph: dist(n) = min hops from any seed
    * ([[BfsSeedMod]]), computed as [[BfsRounds]] unrolled
    * expand-and-group-min rounds — round k's relation holds the exact
    * BFS distance for every node within k hops (expanding the FULL
    * frontier each round keeps the relation a distance table, so min()
    * is the whole merge logic; a delta-frontier variant saves traffic
    * but needs an anti-join per round — the full-relation spelling is
    * the oracle-shared one).
    *
    * Scale posture: per-round cost is one join of the distance table to
    * the symmetrized edge list keyed on the node (map-side combinable
    * min), the canonical Pregel round; localCheckpoint per round cuts
    * lineage (the b63/b119 convention); rounds are O(diameter-bound),
    * fixed. No driver traffic at all. */
  private val b207 = entry(
    "b207_graph_bfs_hops",
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |sym AS MATERIALIZED (
       |  SELECT src AS a, dst AS b FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |r0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist
       |  FROM sym WHERE a % $BfsSeedMod = 0),
       |${(1 to BfsRounds).map { k =>
           s"""r$k AS MATERIALIZED (
              |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
              |    SELECT node, dist FROM r${k - 1}
              |    UNION ALL
              |    SELECT s.b AS node, r.dist + 1 AS dist
              |    FROM r${k - 1} r JOIN sym s ON s.a = r.node)
              |  GROUP BY node)""".stripMargin
         }.mkString(",\n")}
       |SELECT node AS part_id, dist FROM r$BfsRounds
       |ORDER BY part_id""".stripMargin, bench = true) { (s, d) =>
    // grouped symmetric adjacency (the r20 copurchaseAdjacency shape),
    // degree-chunked + checkpointed once (r21 — materializeChunked);
    // rounds join the frontier and re-expand edges with one map-side
    // explode
    val info = materializeChunked(copurchaseAdjacency(s, d))
    val adj = info.grouped
    var dist = QueryScope.materialize("dist0")(adj.filter(col("ci") === 0).select(col("node"))
      .filter(col("node") % BfsSeedMod === 0)
      .withColumn("dist", lit(0L)))
    // DELTA-FRONTIER execution of the same semantics: only last round's
    // newly-labeled nodes expand (unweighted BFS labels each node at its
    // FIRST reach, so already-labeled nodes can never improve — min() over
    // the full relation and the anti-joined delta provably agree, and the
    // oracle stays the full-relation spelling). A/B at sf0.1 (min-of-5,
    // r14): full-relation 4.46 s vs delta 4.38 s — PARITY locally, because
    // the copurchase edge construction dominates at this SF; the delta
    // spelling is kept for the round-cost asymptotics (rounds 2+ shuffle
    // frontier×degree, not |labeled|×degree — at 100 TB the full-relation
    // spelling re-shuffles the whole labeled set every round).
    // BFS stays PUSH-shaped where LPA/PPR went pull (r21 A/B at
    // sf0.1/32: pull probes all |E| cells every round — 7.0 executor-
    // CPU s — while the delta push explodes only frontier×degree, 1.7-3
    // CPU s; a sparse-frontier algorithm must not pay a full-graph
    // pass per round). Broadcast regime: the frontier joins map-side
    // AND the seen set broadcasts into the anti-join (r21 — the
    // shuffled anti was the round's only remaining exchange pair
    // besides the expand aggregate; A/B 3.0 → 1.7 CPU). Past the cap
    // both degrade to node-keyed shuffled joins — the Pregel class.
    val bfsGraphSmall = info.nNodes <= LpaBroadcastMaxNodes
    def capped(df: DataFrame): DataFrame =
      if (bfsGraphSmall) broadcast(df) else df
    var frontier = dist
    for (_ <- 1 to BfsRounds) {
      val reached = adj.join(capped(frontier), "node")
        // dist+1 BEFORE the explode — the generate carries one long
        // per edge instead of re-materializing the nbrs array per row
        .select((col("dist") + 1L).as("d1"), col("nbrs"))
        .select(col("d1"), explode(col("nbrs")).as("node"))
        .groupBy("node")
        .agg(min(col("d1")).as("dist"))
      val fresh = QueryScope.materialize("fresh")(
        reached.join(capped(dist.select(col("node").as("seen"))),
            col("node") === col("seen"), "left_anti"))
      dist = QueryScope.materialize("dist")(dist.unionByName(fresh))
      frontier = fresh
    }
    dist.select(col("node").as("part_id"), col("dist")).orderBy("part_id")
  }

  /** B231 — PERSONALIZED PAGERANK (Haveliwala WWW'02; random walk with
    * restart to the [[BfsSeedMod]] seed set — "proximity to the hubs"
    * ranking, where B119's global teleport ranks popularity and B207
    * ranks by hop count, PPR weights ALL paths): exact fixed-point
    * integer iteration, restart(n) = SCALE div |S| on seeds else 0,
    * rank = (15·restart) div 100 + (85·inflow) div 100, [[PrIters]]
    * rounds — the same determinism argument as b119 (both engines walk
    * the bit-identical trajectory; the hash pins the trajectory, not a
    * converged blur). Unreached nodes (rank 0) drop.
    *
    * Scale posture: identical to b119 — per round one broadcast-sized
    * degree lookup + one dst-keyed shuffle with map-side partial sums +
    * localCheckpoint; the restart vector is a per-row CASE, not a join. */
  private val b231 = entry(
    "b231_personalized_pagerank", {
      val restart = s"CASE WHEN n.node % $BfsSeedMod = 0" +
        s" THEN $PrScale // ns.c ELSE 0 END"
      val iters = (1 to PrIters).map { k =>
        s"""i$k AS (
           |  SELECT s.b AS node, CAST(sum(r.rank // o.od) AS BIGINT) AS inflow
           |  FROM r${k - 1} r JOIN outdeg o ON o.node = r.node
           |  JOIN sym s ON s.a = r.node
           |  WHERE r.rank > 0
           |  GROUP BY s.b),
           |r$k AS (
           |  SELECT n.node,
           |         CAST((15 * ($restart)) // 100
           |              + (85 * coalesce(i.inflow, 0)) // 100 AS BIGINT)
           |           AS rank
           |  FROM nodes n CROSS JOIN ns
           |  LEFT JOIN i$k i ON i.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |sym AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM e0
         |  UNION ALL SELECT dst, src FROM e0),
         |nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes
         |       WHERE node % $BfsSeedMod = 0),
         |outdeg AS MATERIALIZED (
         |  SELECT a AS node, CAST(count(*) AS BIGINT) AS od
         |  FROM sym GROUP BY a),
         |r0 AS MATERIALIZED (
         |  SELECT n.node, CAST(CASE WHEN n.node % $BfsSeedMod = 0
         |                           THEN $PrScale // ns.c ELSE 0 END
         |                      AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN ns),
         |$iters
         |SELECT node, rank FROM r$PrIters WHERE rank > 0
         |ORDER BY node""".stripMargin
    }, bench = true) { (s, d) =>
    // grouped symmetric adjacency (the r20 copurchaseAdjacency shape),
    // degree-chunked, and — in the broadcast regime — repartitioned to
    // its size-earned width and persisted with hash(node) partitioning
    // intact (r21, pullAdj); nodes and out-degrees are FREE off it —
    // ci = 0 selects one row per node and od is the full pre-chunk
    // degree
    val info = materializeChunked(copurchaseAdjacency(s, d))
    val pprGraphSmall = info.nNodes <= LpaBroadcastMaxNodes
    val adj =
      if (pprGraphSmall) pullAdj(info.grouped, info.totE) else info.grouped
    val nodesOd = adj.filter(col("ci") === 0).select(col("node"), col("od"))
    val nSeeds = nodesOd.filter(col("node") % BfsSeedMod === 0).count()
    require(nSeeds > 0, "seed set empty — PPR undefined")
    val restart = s"CASE WHEN node % $BfsSeedMod = 0" +
      s" THEN ${PrScale}L div ${nSeeds}L ELSE 0L END"
    var rank = QueryScope.materialize("rank0")(nodesOd.select(col("node"), col("od"),
      expr(s"CAST($restart AS BIGINT)").as("rank")))
    // Broadcast regime (node count ≤ the b157 cap): PULL rounds (r21,
    // the b119 shape) — the broadcast side is the share table projected
    // off the (node, od, rank) state, the inflow sum aggregates by the
    // adjacency's own hash(node) key, and the restart/update left-join
    // runs between two hash(node)-clustered sides: ZERO exchanges per
    // round (was: the dst-keyed inflow exchange + the update join's
    // node-side exchange; r21 A/B at sf0.1/32: 7.5 → 3.2 executor-CPU
    // s — the round-1/2 sparse-sender waste of probing all |E| cells
    // is outweighed by deleting every per-round exchange at the earned
    // width). Past the cap: the push round — node-keyed join +
    // dst-keyed map-combinable partial sums, the Pregel class.
    for (_ <- 1 to PrIters) {
      val inflow =
        if (pprGraphSmall)
          adj.select(col("node"), explode(col("nbrs")).as("u"))
            .join(broadcast(rank.filter(col("rank") > 0)
              .select(col("node").as("u"),
                expr("rank div od").as("share"))), "u")
            .groupBy(col("node"))
            .agg(sum("share").as("inflow"))
            .select(col("node").as("inode"), col("inflow"))
        else
          adj.join(rank.filter(col("rank") > 0).select("node", "rank"), "node")
            // share BEFORE the explode — one long per edge, not the array
            .select(expr("rank div od").as("share"), col("nbrs"))
            .select(col("share"), explode(col("nbrs")).as("inode"))
            .groupBy("inode").agg(sum("share").as("inflow"))
      rank = QueryScope.materialize("rank")(nodesOd
        .join(inflow, col("node") === col("inode"), "left")
        .select(col("node"), col("od"),
          expr(s"CAST((15 * ($restart)) div 100" +
            " + (85 * coalesce(inflow, 0L)) div 100 AS BIGINT)").as("rank")))
    }
    rank.filter(col("rank") > 0).select(col("node"), col("rank"))
      .orderBy("node")
  }

  val entries: Seq[Entry] =
    Seq(b63, b119, b144, b147, b149, b150, b157, b207, b231)
}
