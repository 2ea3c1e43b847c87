package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ScaleOps
import graft.sources.Tables

/** Round-4 scale operators: count-min error bounds, bloom prefilter
  * recall/reduction, partition pruning on the layout write. */
class ScaleOpsSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("count-min estimates dominate true counts within eps*n (planted hitters)") {
    val est = ScaleOps.countMinEstimates(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = SparkEntry.queries("b58_agg_heavyhitters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = ScaleOps.plantedEvents(spark, sf).count()
    for ((k, t) <- truth) {
      assert(est(k) >= t, s"CMS underestimated key $k: ${est(k)} < $t")
      assert(est(k) <= t + (0.001 * n).toLong + 1,
        s"CMS estimate for $k outside the eps*n bound: ${est(k)} vs true $t")
    }
  }

  test("exact heavy hitters are exactly the planted keys") {
    val hitters = SparkEntry.queries("b58_agg_heavyhitters")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(hitters === Set(7L, 13L),
      s"planted keys 7 and 13 (each x3) must be the only >5/3x-mean keys: $hitters")
  }

  test("bloom prefilter keeps every true match and drops most others") {
    val pre = ScaleOps.bloomPrefiltered(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val trueKeys = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val factKeys = Tables.lineitem(spark, sf)
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    val trueMatches = factKeys.intersect(trueKeys)
    assert(trueMatches.subsetOf(pre), "bloom dropped a true match (impossible FN)")
    // fpp=0.01 over ~80% non-matching keys: the pass-through set must stay
    // close to the true set — allow 5% slack over |trueMatches|
    assert(pre.size <= (trueMatches.size * 1.05).toInt + 5,
      s"prefilter barely filtered: ${pre.size} passed vs ${trueMatches.size} true")
    assert(pre.size < factKeys.size, "prefilter dropped nothing")
  }

  test("bloom probe: native BloomFilterMightContain ≡ the UDF fallback, and codegens") {
    // the two probe spellings must pass the identical key set (same
    // sketch parameters, same serialized bits)
    val native = ScaleOps.bloomPrefiltered(spark, sf)
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaUdf = ScaleOps.bloomPrefilteredUdf(spark, sf)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(native === viaUdf)
    // and the native probe stays inside whole-stage codegen: no ScalaUDF
    // boxing in the filter (the point of VERDICT r12 item 8)
    val plan = ScaleOps.bloomPrefiltered(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"probe still boxes through a UDF:\n$plan")
    assert(plan.contains("might_contain"), s"native bloom probe missing:\n$plan")
  }

  test("layout re-read prunes non-matching month partitions at the source") {
    // materialize the layout write first (the entry performs the write)
    SparkEntry.queries("b61_layout_partitioned")(spark, sf).collect()
    val scan = ScaleOps.layoutScan(spark)
    val explained = scan.queryExecution.executedPlan.toString
    // the month predicate must land in PartitionFilters (directory-level
    // pruning), not survive as a post-scan data Filter
    val parts = explained
      .replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    // replaceAll returns the INPUT unchanged on no match — a renamed plan
    // field must fail the assert, not silently match the full plan string
    assert(parts != explained && parts.contains("ship_month"),
      s"ship_month not in PartitionFilters:\n$explained")
    val monthsRead = scan.select("ship_month").distinct()
      .collect().map(_.getString(0)).toSet
    assert(monthsRead === Set("1995-03", "1995-04"))
  }

  test("merge upsert: inserts added, deletes gone, updates applied, rest untouched") {
    val merged = SparkEntry.queries("b62_merge_upsert")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val deleted = base.keySet.filter(_ % 50 == 0)
    val updated = base.keySet.filter(k => k % 10 == 0 && k % 50 != 0)
    val inserted = base.keySet.filter(_ % 25 == 0).map(_ + 10000000L)
    assert(merged.keySet === base.keySet -- deleted ++ inserted)
    for (k <- updated)
      assert(merged(k) === ("X-UPDATED", base(k)._2 + 500), s"update not applied at $k")
    for (k <- inserted)
      assert(merged(k) === ("N-NEW", base(k - 10000000L)._2), s"bad insert at $k")
    for (k <- base.keySet -- deleted -- updated)
      assert(merged(k) === base(k), s"untouched row changed at $k")
  }

  test("z_order2 matches the JVM interleave twin and handles nulls/masking") {
    import spark.implicits._
    val probes = Seq[(java.lang.Long, java.lang.Long)](
      (0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (12345L, 67890L),
      (graft.functions.ZOrderExpression.Mask, graft.functions.ZOrderExpression.Mask),
      // out-of-range inputs must wrap (mask), not corrupt
      ((1L << 40) + 7L, 2L), (null, 1L), (1L, null))
    val got = probes.toDF("x", "y").selectExpr("x", "y", "z_order2(x, y) AS z")
      .collect()
    for (r <- got) {
      if (r.isNullAt(0) || r.isNullAt(1)) assert(r.isNullAt(2), s"null in, null out: $r")
      else assert(r.getLong(2) ===
        graft.functions.ZOrderExpression.interleave(r.getLong(0), r.getLong(1)), s"$r")
    }
    // ordering sanity: z-order of (hi, hi) dominates (lo, lo)
    assert(graft.functions.ZOrderExpression.interleave(100, 100) >
      graft.functions.ZOrderExpression.interleave(3, 3))
  }

  test("z-order layout: both range predicates reach the scan as pushed filters") {
    SparkEntry.queries("b76_layout_zorder")(spark, sf).collect()
    val scan = spark.read.parquet(ScaleOps.b76LayoutDir)
      .filter(col("l_orderkey") <= 100 && col("l_partkey") <= 50)
    // read the scan node's own metadata — the plan's toString TRUNCATES
    // long field lists ("..."), which a string regex can't see past
    val pushed = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("PushedFilters")
    }.getOrElse(fail("no FileSourceScanExec in the re-read plan"))
    assert(pushed.contains("LessThanOrEqual(l_orderkey") &&
      pushed.contains("LessThanOrEqual(l_partkey"),
      s"2-D predicates not pushed to the scan: $pushed")
  }

  test("sketch maintenance: merged partials equal full recompute, near exact") {
    val merged = SparkEntry.queries("b78_sketch_maintenance")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val recomputed = graft.operators.PipelineOps.sketchRecompute(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === recomputed, "sketch merge != from-scratch recompute")
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, est) <- merged)
      assert(math.abs(est - exact(k)).toDouble <= math.max(2.0, 0.02 * exact(k)),
        s"estimate $est too far from exact ${exact(k)} for $k")
  }

  test("B194: as-of-1 equals b62's merge; v2 rewrites and deletes provably bind") {
    val tt = SparkEntry.queries("b194_time_travel")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val v1 = tt.filter(_._1 == 1L).map(t => (t._2, t._3, t._4))
    val v2 = tt.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).toSeq
    val merged = SparkEntry.queries("b62_merge_upsert")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(v1.toSeq === merged.toSeq, "AS OF 1 diverged from the one-batch merge")
    // v2 re-update beats v1's: every surviving k % 30 == 0 key reads Z-UPD2
    val reupdated = v2.filter(t => t._1 % 30 == 0 && t._1 % 50 != 0
      && t._1 < CdcSnapshotsShift)
    assert(reupdated.nonEmpty)
    reupdated.foreach { case (k, status, _) =>
      assert(status === "Z-UPD2", s"key $k kept v1's value — LWW not binding")
    }
    // v2 deletes of v1-INSERTED keys: gone at as_of 2, present at as_of 1
    val v1Keys = v1.map(_._1).toSet
    val v2Keys = v2.map(_._1).toSet
    val delIns = v1.map(_._1)
      .filter(k => k >= CdcSnapshotsShift && (k - CdcSnapshotsShift) % 100 == 0)
    assert(delIns.nonEmpty)
    delIns.foreach { k =>
      assert(v1Keys.contains(k) && !v2Keys.contains(k),
        s"inserted key $k not deleted by v2")
    }
  }

  private val CdcSnapshotsShift = graft.operators.CdcSnapshots.shift

  test("B210: version chains are gapless with at most one open row, and " +
    "slicing at any seq reproduces the as-of snapshot") {
    import graft.operators.CdcSnapshots
    val sf = TestSession.sf0001
    val rows = SparkEntry.queries("b210_scd2_dimension")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getString(3), r.getLong(4), r.getLong(5)))
    // chain law: per key, sorted versions abut (valid_to = next valid_from),
    // only the last may be open, is_current ⟺ open
    rows.groupBy(_._1).foreach { case (k, vs) =>
      val s = vs.sortBy(_._2)
      s.init.zip(s.tail).foreach { case (a, b) =>
        assert(a._3.contains(b._2), s"key $k: gap ${a._3} -> ${b._2}")
      }
      assert(s.init.forall(_._3.nonEmpty), s"key $k: open row mid-chain")
      s.foreach(v => assert((v._6 == 1L) === v._3.isEmpty, s"key $k is_current"))
    }
    assert(rows.count(_._3.isEmpty) >= 1 && rows.exists(_._3.nonEmpty))
    // slice law: SCD2 at s ≡ asOf(s) for every version incl. the base
    val base = CdcSnapshots.base(spark, sf)
    val theLog = CdcSnapshots.log(base)
    for (s <- 0L to 2L) {
      val slice = rows.filter(v => v._2 <= s && v._3.forall(_ > s))
        .map(v => (v._1, v._4, v._5)).toSet
      val want =
        (if (s == 0) base else CdcSnapshots.asOf(base, theLog, s))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSet
      assert(slice === want, s"SCD2 slice at seq $s != as-of snapshot")
    }
  }

  test("B241: the chunked log STRADDLES the version boundary, so the " +
    "in-batch multi-seq apply path is load-bearing, and some key carries " +
    "changes in both versions") {
    import graft.operators.CdcSnapshots
    val sf = TestSession.sf0001
    // replicate the entry's chunking: 4 count-balanced chunks over the
    // (seq, k)-sorted log — the seq-1/seq-2 boundary cannot sit on a
    // chunk edge unless the seq-1 volume is an exact quarter multiple
    val theLog = CdcSnapshots.log(CdcSnapshots.base(spark, sf))
      .orderBy("seq", "k").collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = theLog.length
    val bounds = (1 to 3).map(i => i * n / 4)
    val chunks = (Seq(0) ++ bounds ++ Seq(n)).sliding(2).map {
      case Seq(a, b) => theLog.slice(a, b)
    }.toSeq
    assert(chunks.exists(c => c.map(_._1).distinct.length > 1),
      "no chunk carries both versions — the multi-seq loop is vacuous here")
    // and the straddling chunk carries a key with changes in BOTH seqs
    val straddle = chunks.find(c => c.map(_._1).distinct.length > 1).get
    val k1 = straddle.filter(_._1 == 1L).map(_._2).toSet
    val k2 = straddle.filter(_._1 == 2L).map(_._2).toSet
    assert(theLog.filter(_._1 == 1L).map(_._2).toSet
      .intersect(theLog.filter(_._1 == 2L).map(_._2).toSet).nonEmpty,
      "no key changes in both versions — the close-then-reopen path untested")
    assert(k1.nonEmpty && k2.nonEmpty)
  }
}
