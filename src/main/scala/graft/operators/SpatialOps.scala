package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.QueryScope
import graft.sources.Tables

/** B200 — SPATIAL RADIUS SELF-JOIN via uniform grid blocking (the
  * ε-grid-order idea of Böhm et al., ICDE 2001; the cell-partitioned
  * spatial join every geo engine runs before exact distance tests): find
  * all point pairs within radius r. Each point lands in a square cell of
  * width w ≥ r; a qualifying pair can then differ by at most one cell
  * per axis, so candidates = pairs in the SAME or 8-ADJACENT cells — an
  * EQUI-join on the shifted cell key (probe side explodes its 3×3
  * neighborhood), never the |P|² cross join. Every candidate verifies
  * with the exact integer squared distance (micro-degree BIGINTs:
  * deltas < 10⁶ so d² < 2·10¹², exact), and each qualifying pair is
  * produced EXACTLY once — the probe offset to the partner's cell is
  * unique — so no dedup pass is needed (pinned in spec).
  *
  * Points: each distinct events user gets deterministic micro-degree
  * coordinates from two rounds of the repo's Knuth multiplicative
  * scramble (SCALE.md §3.9 — the scramble is what makes consecutive ids
  * spread uniformly; raw ids would cluster on the grid diagonal). The
  * stand-in derivation IS part of both engine spellings; a deployment
  * swaps it for real lat/lon micro-degree columns and keeps the join.
  * The radius ADAPTS to the population: r² = [[SpatialOps.RBase]] div n
  * keeps the expected pair count data-proportional (non-vacuous at
  * sf0.001's 15 users AND non-explosive at sf0.1's 1500), mirroring how
  * a co-location audit tightens its radius as density grows.
  *
  * The t2 oracle is the ALL-PAIRS spelling — the hash gate proves the
  * 3×3 blocking lossless on the corpus (the b198/b15b pattern).
  *
  * Scale posture (100 TB): one distinct pass for points, one O(1)
  * driver scalar (the population count, the b119/b109 convention) to
  * size the cell width, then an equi-join keyed on (cell_x, cell_y)
  * whose per-cell cost is bounded by local density — the plan AQE-skews
  * like any equi-join if one cell is hot; no window, no cross join. */
object SpatialOps {

  /** r² numerator: r² = RBase div n — at 1500 users r ≈ 25 800 µdeg
    * (~2.9 km at the equator), at 15 users r ≈ 258 000 µdeg. */
  private val RBase = 1000000000000L

  /** Deterministic micro-degree coordinates in [0, 10⁶)² per distinct
    * user — two iterated Knuth scrambles, shared verbatim with the
    * oracle SQL. */
  private val xExpr =
    "(((user_id % 2147483648) * 2654435761) % 2147483648) % 1000000"
  private val yExpr =
    "((((((user_id % 2147483648) * 2654435761) % 2147483648)" +
      " * 2654435761) % 2147483648)) % 1000000"

  private[operators] def points(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("user_id").distinct()
      .withColumn("x", expr(xExpr))
      .withColumn("y", expr(yExpr))

  private val b200 = entry(
    "b200_spatial_radius_join",
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |p AS (SELECT user_id, $xExpr AS x, $yExpr AS y FROM u),
       |n AS (SELECT count(*) AS n FROM p),
       |r AS (SELECT $RBase // n AS r2 FROM n)
       |SELECT a.user_id AS u1, b.user_id AS u2,
       |       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |            AS BIGINT) AS d2
       |FROM p a JOIN p b ON a.user_id < b.user_id CROSS JOIN r
       |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= r.r2
       |ORDER BY u1, u2""".stripMargin, bench = true) { (s, d) =>
    val p = QueryScope.materialize("p")(points(s, d))
    // O(1) driver scalar (population count) sizes the radius and the
    // cell width w = ceil-isqrt(r²) ≥ r, exact in Long arithmetic
    val n = p.count()
    val r2 = RBase / n
    var w = math.sqrt(r2.toDouble).toLong max 1L
    while (w * w < r2) w += 1
    while (w > 1 && (w - 1) * (w - 1) >= r2) w -= 1
    val cells = p.withColumn("cx", expr(s"x div $w"))
      .withColumn("cy", expr(s"y div $w"))
    val probes = cells
      .withColumn("dx", explode(expr("sequence(-1, 1)")))
      .withColumn("dy", explode(expr("sequence(-1, 1)")))
      .select(col("user_id").as("ua"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    probes.join(cells.select(col("user_id").as("ub"), col("x").as("xb"),
        col("y").as("yb"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("ua") < col("ub"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= r2)
      .select(col("ua").as("u1"), col("ub").as("u2"), col("d2"))
      .orderBy("u1", "u2")
  }

  val entries: Seq[Entry] = Seq(b200)
}
