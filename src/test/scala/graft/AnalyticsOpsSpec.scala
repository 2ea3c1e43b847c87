package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Definition-level properties of the B117 funnel and B118 cohort
  * retention (the t2 hash pins exact values; these pin the invariants a
  * correct implementation cannot break on ANY corpus). */
class AnalyticsOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("B117: funnel counts are monotone and step 1 is exactly the view users") {
    val steps = SparkEntry.queries("b117_funnel_steps")(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getLong(2))
    assert(steps.length === 3)
    assert(steps(0) >= steps(1) && steps(1) >= steps(2),
      s"funnel widened downstream: ${steps.toSeq}")
    val viewUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(steps(0) === viewUsers)
  }

  test("B118: every user appears in their own cohort's first-week cell") {
    val tri = SparkEntry.queries("b118_cohort_retention")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val cohortSizes = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("(unix_micros(ts) - 1704067200000000L) div 604800000000L").as("week"))
      .groupBy("user_id").agg(min(col("week")).as("cw"))
      .groupBy("cw").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((cw, n) <- cohortSizes)
      assert(tri.get((cw, cw)).contains(n),
        s"cohort $cw: diagonal cell ${tri.get((cw, cw))} != cohort size $n " +
          "(every user is active in their first week by definition)")
    // column sums = distinct active users per week
    val activePerWeek = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("(unix_micros(ts) - 1704067200000000L) div 604800000000L").as("week"))
      .distinct().groupBy("week").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((w, n) <- activePerWeek)
      assert(tri.filter(_._1._2 == w).values.sum === n,
        s"week $w: cohort column sum != distinct active users $n")
  }

  // -- B121 retention-horizon widening (VERDICT r10 item 6) ------------
  // The default (strict) CohortProcessor pins a 64-week absolute window
  // and fails loudly beyond it; `Some(h)` switches to the production
  // posture: a sliding 64-week dedup window (valid for ANY horizon under
  // the in-order replay contract) with TTL-drop of weeks aged >= h.

  private def runCohort(rows: Seq[(Long, Long)], horizon: Option[Long],
      tag: String): Seq[(Long, Long, Long)] = {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.streaming.{CohortProcessor, StreamingOps}
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("week", LongType)))
    val dir = TestDirs(s"graft_cohort_$tag").toString
    import spark.implicits._
    val df = rows.toDF("user_id", "week")
    StreamingOps.writeChunksDf(df, dir, n = 3, sortCols = Seq("week", "user_id"))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      StreamingOps.runToMemory(
        StreamingOps.readStream(spark, dir, schema)
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new CohortProcessor(horizon), TimeMode.None(),
            OutputMode.Append())
          .toDF("user_id", "cohort_week", "week"),
        s"t_cohort_$tag", "append")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("B121 windowed: weeks past the 64-bit ceiling attribute exactly once, old age TTL-drops") {
    // weeks span 0..150 — far beyond the strict 64-week mask. horizon=80:
    // ages >= 80 since each user's cohort week are dropped, everything
    // else emits exactly once even across multiple window slides.
    val rows = Seq[(Long, Long)](
      (1L, 0L), (1L, 1L), (1L, 70L), (1L, 100L), (1L, 100L), (1L, 130L),
      (2L, 70L), (2L, 75L), (2L, 80L), (2L, 149L), (2L, 150L),
      (3L, 5L))
    val got = runCohort(rows, Some(80L), "windowed").sorted
    val expected = Seq[(Long, Long, Long)](
      (1L, 0L, 0L), (1L, 0L, 1L), (1L, 0L, 70L), // ages 100/130 dropped
      (2L, 70L, 70L), (2L, 70L, 75L), (2L, 70L, 80L), (2L, 70L, 149L), // age 80 dropped
      (3L, 5L, 5L)).sorted
    assert(got === expected)
  }

  test("B121 strict default: a week >= 64 still fails loudly rather than aliasing") {
    val e = intercept[Exception] {
      runCohort(Seq((1L, 0L), (1L, 70L)), None, "strict")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("outside the 64-week state horizon")),
      s"unexpected failure chain: ${messages(e).mkString(" | ")}")
  }

  test("B195: transition matrix equals a JVM replay; rows floor-normalize to 10^4") {
    val got = SparkEntry.queries("b195_event_transitions")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty)
    val ev = graft.sources.Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
    val want = ev.groupBy(_._1).values.flatMap { es =>
      val types = es.sortBy(e => (e._3.getTime, e._4)).map(_._2)
      types.zip(types.drop(1))
    }.toSeq.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    assert(got.keySet === want.keySet)
    val rowTotals = want.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    got.foreach { case ((p, nx), (n, pBp)) =>
      assert(n === want((p, nx)), s"count ($p -> $nx)")
      assert(pBp === n * 10000 / rowTotals(p), s"p_bp ($p -> $nx)")
    }
    // each row's floored probabilities sum within |row| of 10^4
    got.groupBy(_._1._1).foreach { case (p, cells) =>
      val s2 = cells.values.map(_._2).sum
      assert(s2 <= 10000L && s2 > 10000L - cells.size, s"row $p sums to $s2")
    }
  }

  test("B197: association rules equal a JVM basket replay; conf >= support") {
    val got = SparkEntry.queries("b197_basket_rules")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got.nonEmpty)
    val items = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val baskets = items.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nB = baskets.size.toLong
    val itemN = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairN = baskets.values.toSeq
      .flatMap(b => b.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2)
    assert(got.keySet === pairN.keySet)
    got.foreach { case ((p1, p2), (n, sup, c12, c21, lift)) =>
      val (n1, n2) = (itemN(p1), itemN(p2))
      assert(n === pairN((p1, p2)))
      assert(sup === n * 10000 / nB)
      assert(c12 === n * 10000 / n1 && c21 === n * 10000 / n2)
      assert(lift === n * nB * 1000000L / (n1 * n2))
      assert(c12 >= sup && c21 >= sup, "confidence below support")
    }
  }

  test("B199: quintile buckets are ANSI-sized and ordered; code digits match") {
    val rows = SparkEntry.queries("b199_rfm_segments")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val n = rows.length
    val (big, small) = (n / 5 + (if (n % 5 > 0) 1 else 0), n / 5)
    def checkTile(key: ((Long, Long, Long, Long, Long, Long, Long, Long)) => (Long, Long),
        tile: ((Long, Long, Long, Long, Long, Long, Long, Long)) => Long,
        tag: String): Unit = {
      val sizes = rows.groupBy(tile).view.mapValues(_.length).toMap
      assert((1L to 5L).forall(k => sizes.getOrElse(k, 0) == big ||
        sizes.getOrElse(k, 0) == small), s"$tag bucket sizes $sizes")
      // bucket k's max sort key precedes bucket k+1's min sort key
      val byTile = rows.groupBy(tile).view.mapValues(_.map(key)).toMap
      for (k <- 1L to 4L if byTile.contains(k) && byTile.contains(k + 1))
        assert(Ordering[(Long, Long)].lteq(byTile(k).max, byTile(k + 1).min),
          s"$tag buckets $k/${k + 1} out of order")
    }
    checkTile(r => (r._2, r._1), _._5, "recency")            // asc
    checkTile(r => (-r._3, r._1), _._6, "frequency")         // desc
    checkTile(r => (-r._4, r._1), _._7, "monetary")          // desc
    rows.foreach(r =>
      assert(r._8 === r._5 * 100 + r._6 * 10 + r._7, s"rfm_code ${r._1}"))
  }

  test("B201: Welch readout equals a JVM sufficient-statistics replay (ITT)") {
    val r = SparkEntry.queries("b201_ab_experiment")(spark, sf).collect().head
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2)))
    val users = ev.map(_._1).distinct
    val cents = ev.filter(_._2 == "purchase").groupBy(_._1).view
      .mapValues(_.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum).toMap
    // top bit of the 31-bit scramble (ADVICE r14: % 2 of an odd-multiplier
    // scramble is raw id parity — the high bit actually mixes)
    def variant(u: Long) =
      ((u % 2147483648L) * 2654435761L % 2147483648L) / 1073741824L
    val x = users.map(u => (variant(u), cents.getOrElse(u, 0L)))
    def st(v: Long) = {
      val xs = x.filter(_._1 == v).map(_._2)
      (xs.length.toLong, xs.sum, xs.map(c => c * c).sum)
    }
    val (nu0, s0, ss0) = st(0); val (nu1, s1, ss1) = st(1)
    assert(r.getLong(0) === nu0 && r.getLong(1) === nu1)
    assert(nu0 + nu1 === users.length.toLong, "intent-to-treat: all users")
    assert(r.getLong(2) === s0 && r.getLong(3) === s1)
    assert(r.getLong(4) === ss0 && r.getLong(5) === ss1)
    assert(r.getLong(6) === s0 / nu0 && r.getLong(7) === s1 / nu1)
    assert(r.getLong(8) === s1 / nu1 - s0 / nu0)
    val diff = s1.toDouble / nu1 - s0.toDouble / nu0
    val t2 = diff * diff /
      ((nu0.toDouble * ss0 - s0.toDouble * s0) / (nu0.toDouble * nu0 * (nu0 - 1)) +
        (nu1.toDouble * ss1 - s1.toDouble * s1) / (nu1.toDouble * nu1 * (nu1 - 1)))
    assert(math.abs(r.getDouble(9) - t2) <= 5e-5 + 1e-9 * math.abs(t2),
      s"t2 ${r.getDouble(9)} vs JVM $t2")
  }

  test("B202: TWAP equals a JVM interval replay and sits inside per-user bounds") {
    val got = SparkEntry.queries("b202_twap_user")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val want = ev.groupBy(_._1).flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      val iv = s.zip(s.drop(1)).map { case (a, b) => (a._4, (b._2 - a._2) / 1000) }
      val tot = iv.map(_._2).sum
      if (tot > 0) Some(u -> (iv.length.toLong, tot,
        iv.map { case (c, w) => c * w }.sum / tot))
      else None
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (u, (nIv, tot, twap)) =>
      assert(got(u) === ((nIv, tot, twap)), s"user $u")
      val cs = ev.filter(_._1 == u).map(_._4)
      assert(twap >= cs.min - 1 && twap <= cs.max, s"user $u twap outside range")
    }
  }

  test("B203: islands equal a JVM interval-merge replay and partition the events") {
    val got = SparkEntry.queries("b203_interval_coalesce")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(1) + math.floor(r.getDouble(3) * 100 + 0.5).toLong * 1000000L))
    // classic sweep-line merge per user (order by ts, event_id; break on
    // start strictly past the running max end)
    val want = ev.groupBy(_._1).flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      val islands = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var (n, st, en) = (0L, 0L, Long.MinValue)
      s.foreach { case (_, ts, _, end) =>
        if (ts > en) { if (n > 0) islands += ((n, st, en)); n = 0; st = ts; en = end }
        else en = math.max(en, end)
        n += 1; en = math.max(en, end)
      }
      if (n > 0) islands += ((n, st, en))
      islands.zipWithIndex.map { case ((ne, a, b), i) => (u, i + 1L, ne, a, b) }
    }.toSet
    assert(got.toSet === want)
    // islands partition the user's events
    val perUser = ev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    got.groupBy(_._1).foreach { case (u, is) =>
      assert(is.map(_._3).sum === perUser(u), s"user $u island sizes != events")
    }
    assert(got.exists(_._3 >= 2), "no merged island — coalesce is vacuous")
  }

  test("B204: session pattern support equals a JVM sessionize-and-scan replay") {
    val got = SparkEntry.queries("b204_seq_pattern_support")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gap = 21600000000L
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      val out = scala.collection.mutable.ArrayBuffer[Seq[(Long, String)]]()
      var cur = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var prev = Long.MinValue / 4
      s.foreach { case (_, ts, _, t) =>
        if (ts - prev > gap) { if (cur.nonEmpty) out += cur.toSeq; cur.clear() }
        cur += ((ts, t)); prev = ts
      }
      if (cur.nonEmpty) out += cur.toSeq
      out
    }
    val types = ev.map(_._4).distinct.sorted
    val want = (for {
      a <- types; b <- types if a != b
      n = sessions.count(ss => {
        val as = ss.filter(_._2 == a).map(_._1)
        val bs = ss.filter(_._2 == b).map(_._1)
        as.nonEmpty && bs.nonEmpty && as.min < bs.max
      }).toLong
      if n > 0
    } yield (a, b) -> (n, n * 10000L / sessions.length)).toMap
    assert(got === want)
    assert(got.values.exists(_._1 >= 1) &&
      got.values.forall(_._2 < 10000), "support saturated — gap mis-sized")
  }

  test("B205: scaled CUSUM has zero endpoint (s_max >= 0 >= s_min) and " +
    "argmax replays in JVM") {
    val got = SparkEntry.queries("b205_cusum_changepoint")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val want = ev.groupBy(_._1).map { case (u, es) =>
      val xs = es.sortBy(e => (e._2, e._3)).map(_._4)
      val n = xs.length.toLong; val sx = xs.sum
      val sk = xs.scanLeft(0L)(_ + _).drop(1).zipWithIndex
        .map { case (p, i) => n * p - (i + 1L) * sx }
      val sMax = sk.max; val sMin = sk.min
      u -> (n, sMax, sMin, sMax - sMin, sk.indexOf(sMax) + 1L)
    }
    assert(got === want)
    got.values.foreach { case (_, sMax, sMin, _, _) =>
      assert(sMax >= 0L && sMin <= 0L, "S_n = 0 must bound the extremes")
    }
    assert(got.values.exists(_._4 > 0), "all-flat CUSUM — vacuous corpus")
  }

  test("B206: sort-scan skyline equals the all-pairs dominance definition") {
    val got = SparkEntry.queries("b206_skyline_pareto")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pts = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(expr("CAST(unix_micros(CAST(max(o_orderdate) AS TIMESTAMP))" +
        " div 86400000000 AS BIGINT)").as("d"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the quadratic definition the sort-scan must be lossless against
    val want = pts.filter { case (_, d, m) =>
      !pts.exists { case (_, d2, m2) =>
        d2 >= d && m2 >= m && (d2 > d || m2 > m)
      }
    }.toSet
    assert(got === want)
    assert(got.size >= 2, "degenerate 1-point frontier — metrics re-correlated")
    // frontier is an anti-chain: no member dominates another
    got.foreach { case (_, d, m) =>
      assert(!got.exists { case (_, d2, m2) =>
        d2 >= d && m2 >= m && (d2 > d || m2 > m) }, "frontier not an anti-chain")
    }
  }

  test("B208: regex match counts equal an engine-independent scan counter") {
    val got = SparkEntry.queries("b208_event_regex_match")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // hand-rolled non-overlapping v[ce]*p counter — no regex engine at all
    def countMatches(sq: String): Long = {
      var i = 0; var n = 0L
      while (i < sq.length) {
        if (sq(i) == 'v') {
          var j = i + 1
          while (j < sq.length && (sq(j) == 'c' || sq(j) == 'e')) j += 1
          if (j < sq.length && sq(j) == 'p') { n += 1; i = j + 1 }
          else i += 1
        } else i += 1
      }
      n
    }
    val want = ev.groupBy(_._1).map { case (u, es) =>
      val sq = es.sortBy(e => (e._2, e._3)).map(_._4.head).mkString
      u -> (sq.length.toLong, countMatches(sq))
    }
    assert(got === want)
    assert(got.values.map(_._2).sum > 0, "no matches — pattern vacuous")
  }

  test("B209: per-nation Gini equals a JVM rank-sum replay and sits in [0, 10^4)") {
    val got = SparkEntry.queries("b209_gini_concentration")(spark, sf).collect()
      .map(r => r.getAs[Number](0).longValue ->
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = cents.toSeq.groupBy { case (ck, _) => cust(ck) }.map {
      case (nk, xs) =>
        val sorted = xs.sortBy { case (ck, c) => (c, ck) }.map(_._2)
        val n = sorted.length.toLong
        val sx = sorted.sum
        val srx = sorted.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
        nk -> (n, sx, (2 * srx - (n + 1) * sx) * 10000L / (n * sx))
    }
    assert(got === want)
    got.values.foreach { case (_, _, g) =>
      assert(g >= 0L && g < 10000L, s"gini $g outside [0, 10^4)")
    }
    assert(got.values.map(_._3).toSet.size > 1, "all nations identical — vacuous")
  }

  test("B211: rolling median equals a JVM frame replay (lower-median order statistic)") {
    val got = SparkEntry.queries("b211_rolling_median")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3)).toSeq
      s.zipWithIndex.map { case ((_, _, eid, c), i) =>
        val frame = s.slice(math.max(0, i - 7), i + 1).map(_._4).sorted
        (u, eid) -> ((c, frame.length.toLong, frame((frame.length + 1) / 2 - 1)))
      }
    }
    assert(got === want.toMap)
    // the median is a member of its frame and bounds at least half of it
    got.foreach { case (_, (_, n, med)) => assert(n >= 1L && n <= 8L && med >= 0L) }
  }

  test("B212: chi-square grid margins are consistent and cells replay in JVM") {
    val rows = SparkEntry.queries("b212_seasonality_chi2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val ev = Tables.events(spark, sf)
      .select(expr("unix_micros(ts)").as("us")).collect().map(_.getLong(0))
    val cells = ev.groupBy(us => ((us / 86400000000L + 4) % 7,
      us % 86400000000L / 3600000000L)).view.mapValues(_.size.toLong).toMap
    val t = ev.length.toLong
    val rm = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cm = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    assert(rows.map(_._3).sum === t)
    rows.foreach { case (d, h, n, expMicro, chi2) =>
      assert(n === cells((d, h)))
      val (r, c) = (rm(d), cm(h))
      assert(expMicro === r * c * 1000000L / t)
      val num = (n * t - r * c).toDouble
      val wantChi2 = num * num / (t.toDouble * r * c)
      assert(math.abs(chi2 - wantChi2) <= 5e-5 + 1e-9 * wantChi2, s"cell ($d,$h)")
    }
    assert(rows.exists(_._5 > 0.0), "perfectly independent grid — vacuous")
  }

  test("B213: time-to-convert deciles replay in JVM with ANSI ntile sizes " +
    "and non-overlapping ranges") {
    val got = SparkEntry.queries("b213_time_to_convert")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val ttc = ev.groupBy(_._1).flatMap { case (u, es) =>
      val vs = es.filter(_._3 == "view").map(_._2)
      if (vs.isEmpty) None
      else {
        val fv = vs.min
        val ps = es.filter(e => e._3 == "purchase" && e._2 > fv).map(_._2)
        if (ps.isEmpty) None else Some(u -> (ps.min - fv) / 1000L)
      }
    }.toSeq.sortBy { case (u, ms) => (ms, u) }
    // ANSI ntile: the first (n mod 10) buckets get one extra row
    val n = ttc.length; val base = n / 10; val extra = n % 10
    val sizes = (1 to 10).map(d => if (d <= extra) base + 1 else base)
    val bounds = sizes.scanLeft(0)(_ + _)
    val want = (1 to 10).flatMap { dd =>
      val slice = ttc.slice(bounds(dd - 1), bounds(dd)).map(_._2)
      if (slice.isEmpty) None
      else Some(dd.toLong -> (slice.length.toLong, slice.min, slice.max))
    }.toMap
    assert(got === want)
    (1L to 9L).foreach { dd =>
      for { a <- got.get(dd); b <- got.get(dd + 1) }
        assert(a._3 <= b._2, s"decile $dd max > decile ${dd + 1} min")
    }
  }

  test("B215: last-touch allocation replays in JVM and conserves revenue") {
    val got = SparkEntry.queries("b215_attribution_last_touch")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        math.floor(r.getDouble(4) * 100 + 0.5).toLong))
    val alloc = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      var lastTouch: Option[String] = None
      es.sortBy(e => (e._2, e._3)).flatMap { case (_, _, _, t, c) =>
        val out = if (t == "purchase") Some(lastTouch.getOrElse("(none)") -> c)
                  else { lastTouch = Some(t); None }
        out
      }
    }
    val wantRev = alloc.groupBy(_._1).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._2).sum)).toMap
    val total = alloc.map(_._2).sum
    val want = wantRev.map { case (ch, (n, rev)) =>
      ch -> (n, rev, rev * 10000L / total)
    }
    assert(got === want)
    assert(got.values.map(_._2).sum === total, "revenue not conserved")
    val shareSum = got.values.map(_._3).sum
    assert(shareSum <= 10000L && shareSum > 10000L - got.size,
      "floor shares must sum to within |channels| of 10^4")
  }

  test("B216: the growth-accounting bridge identity holds per week in exact cents") {
    val got = SparkEntry.queries("b216_growth_accounting")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))
      .toMap
    // independent weekly revenue (purchases only, same week floor)
    val rev = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(expr(graft.operators.PipelineOps.weekFloorExpr).as("week"))
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val weeks = (got.keySet ++ rev.keySet).toSeq.sorted
    weeks.foreach { w =>
      val (nw, rs, ex, co, ch, net) = got.getOrElse(w, (0L, 0L, 0L, 0L, 0L, 0L))
      assert(net === nw + rs + ex + co + ch, s"week $w: net != sum of parts")
      val bridge = rev.getOrElse(w, 0L) - rev.getOrElse(w - 1, 0L)
      assert(net === bridge,
        s"week $w: net $net != revenue bridge $bridge")
    }
    assert(got.values.exists(_._4 < 0) && got.values.exists(_._5 < 0),
      "no contraction/churn observed — decomposition vacuous")
  }

  test("B217: item-item top-3 replays in JVM (symmetric confidence ranking)") {
    val got = SparkEntry.queries("b217_item_item_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val itemN = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = li.groupBy(_._1).values.toSeq.flatMap { os =>
      val ps = os.map(_._2).distinct.sorted.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2L).toMap
    val sym = pairCnt.toSeq.flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
    val want = sym.groupBy(_._1).toSeq.flatMap { case (a, xs) =>
      xs.map { case (_, b, n) => (b, n * 10000L / itemN(a)) }
        .sortBy { case (b, conf) => (-conf, b) }
        .take(3).zipWithIndex
        .map { case ((b, conf), i) => (a, i + 1L, b, conf) }
    }.toSet
    assert(got.toSet === want)
    got.groupBy(_._1).foreach { case (item, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length).toSeq,
        s"item $item ranks not contiguous")
    }
  }

  test("B218: stickiness replays in JVM; wau <= mau4 and ratio <= 10^4") {
    val got = SparkEntry.queries("b218_stickiness_wau_mau")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val uw = Tables.events(spark, sf)
      .select(col("user_id"), expr(graft.operators.PipelineOps.weekFloorExpr)
        .as("week")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val weeks = uw.map(_._2).distinct
    val want = weeks.map { w =>
      val wau = uw.count(_._2 == w).toLong
      val mau = uw.filter(x => x._2 >= w - 3 && x._2 <= w).map(_._1)
        .distinct.length.toLong
      w -> (wau, mau, wau * 10000L / mau)
    }.toMap
    assert(got === want)
    got.values.foreach { case (wau, mau, bp) =>
      assert(wau <= mau && bp <= 10000L)
    }
  }

  test("B219: user entropy replays in JVM and sits in [0, ln 5]") {
    val got = SparkEntry.queries("b219_user_entropy")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val want = ev.groupBy(_._1).map { case (u, es) =>
      val cs = types.map(t => es.count(_._2 == t).toLong)
      val n = es.length.toLong
      val h = math.log(n.toDouble) -
        cs.map(c => if (c > 0) c.toDouble * math.log(c.toDouble) else 0.0).sum / n
      u -> (n, cs.count(_ > 0).toLong, h)
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (u, (n, nt, h)) =>
      val (gn, gnt, gh) = got(u)
      assert(gn === n && gnt === nt)
      assert(math.abs(gh - h) <= 5e-5 + 1e-9, s"user $u entropy")
      assert(gh >= 0.0 && gh <= math.log(5.0) + 5e-5, s"user $u bounds")
    }
  }

  test("B220: duplicate-pair audit replays in JVM; each unordered pair once; " +
    "gaps within the day window") {
    val got = SparkEntry.queries("b220_duplicate_txn_audit")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong / 100L))
    val want = (for {
      a <- ev; b <- ev
      if a._1 == b._1 && a._4 == b._4
      if a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)
      if b._2 - a._2 <= 86400000000L
    } yield (a._1, a._3, b._3, a._4, (b._2 - a._2) / 1000L)).toSet
    assert(got === want)
    assert(got.nonEmpty, "no duplicate candidates — audit vacuous")
    got.foreach { case (_, e1, e2, _, gap) =>
      assert(e1 != e2 && gap >= 0L && gap <= 86400000L)
    }
    // exactly-once: no pair appears in both orientations
    val ids = got.map(p => (p._2, p._3))
    assert(ids.intersect(got.map(p => (p._3, p._2))).isEmpty)
  }

  test("B221: Benford audit replays in JVM; digits complete; constants " +
    "sum to 999995") {
    val got = SparkEntry.queries("b221_benford_audit")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet === (1L to 9L).toSet)
    assert(got.values.map(_._3).sum === 999995L)
    val cents = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong)
    val cnt = cents.groupBy(_.toString.head.asDigit.toLong).view
      .mapValues(_.length.toLong).toMap
    val t = cents.length.toLong
    got.foreach { case (dd, (n, obs, bf, dev)) =>
      assert(n === cnt(dd))
      assert(obs === n * 1000000L / t)
      assert(dev === obs - bf)
    }
  }

  test("B222: LTV curve replays in JVM; cumulative is monotone and " +
    "totals conserve purchase revenue") {
    val got = SparkEntry.queries("b222_cohort_ltv")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr(graft.operators.PipelineOps.weekFloorExpr)
        .as("week"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val cohort = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val sizes = cohort.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val cells = ev.filter(_._3 == "purchase")
      .groupBy(e => (cohort(e._1), e._2 - cohort(e._1)))
      .view.mapValues(xs => (xs.size.toLong, xs.map(_._4).sum)).toMap
    val want = cells.keys.toSeq.sorted.map { case (cw, off) =>
      val (n, rev) = cells((cw, off))
      val cum = cells.filter(c => c._1._1 == cw && c._1._2 <= off)
        .values.map(_._2).sum
      (cw, off) -> (n, rev, cum, sizes(cw), cum / sizes(cw))
    }.toMap
    assert(got === want)
    // conservation: the last cumulative per cohort sums to all purchase cents
    val lastCum = got.groupBy(_._1._1).values
      .map(g => g.maxBy(_._1._2)._2._3).sum
    assert(lastCum === ev.filter(_._3 == "purchase").map(_._4).sum)
  }

  test("B223: histogram replays in JVM; CDF is monotone and ends at 10^4") {
    val got = SparkEntry.queries("b223_histogram_cdf")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val cents = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong)
    val bins = cents.groupBy(_ / 2500000L).view.mapValues(_.length.toLong).toMap
    val t = cents.length.toLong
    assert(got.map(_._1).toSet === bins.keySet)
    got.foreach { case (bin, (lo, n, share, cum, cdf)) =>
      assert(lo === bin * 2500000L && n === bins(bin))
      assert(share === n * 10000L / t)
      assert(cum === bins.filter(_._1 <= bin).values.sum)
      assert(cdf === cum * 10000L / t)
    }
    val sortedCdf = got.sortBy(_._1).map(_._2._5)
    assert(sortedCdf === sortedCdf.sorted && sortedCdf.last === 10000L)
  }

  test("B225: cycle-time medians replay in JVM; the negative-floor path " +
    "is exercised") {
    val got = SparkEntry.queries("b225_cycle_time_profile")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val ship = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey")
      .agg(max(unix_micros(col("l_shipdate").cast("timestamp"))).as("su"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("ou"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def floorDiv(a: Long, b: Long) = Math.floorDiv(a, b)
    val cycles = orders.flatMap { case (ok, ou) =>
      ship.get(ok).map(su => (ou / 86400000000L / 30L,
        floorDiv(su - ou, 86400000000L), ok))
    }
    val want = cycles.groupBy(_._1).map { case (p, xs) =>
      val s = xs.map(x => (x._2, x._3)).sortBy(identity).map(_._1)
      p -> (s.length.toLong, s((s.length + 1) / 2 - 1), s.min, s.max)
    }
    assert(got === want)
    assert(got.values.exists(_._3 < 0),
      "no negative cycles — the sign-corrected floor is untested")
  }

  test("B226: HHI replays in JVM and sits in [10^6/n, 10^6] with the " +
    "single-supplier equality case") {
    val got = SparkEntry.queries("b226_supplier_hhi")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = li.groupBy(_._1).map { case (p, xs) =>
      val qs = xs.groupBy(_._2).values.map(_.map(_._3).sum).toSeq
      val q = qs.sum
      p -> (qs.length.toLong, q, qs.map(x => x * x).sum * 1000000L / (q * q))
    }
    assert(got === want)
    got.values.foreach { case (n, _, h) =>
      assert(h <= 1000000L && h >= 1000000L / n - 1, s"HHI $h outside bounds")
    }
    assert(got.values.map(_._3).toSet.size > 1,
      "uniform HHI across parts — concentration signal vacuous")
    // the equal-share lower bound binds exactly when Q divides into equal
    // integer shares: construct the law's tightness from the data itself
    got.values.foreach { case (n, _, h) => assert(h >= 1000000L / n - 1) }
  }

  test("B227: ABC classes replay in JVM and are monotone in rank order") {
    val got = SparkEntry.queries("b227_abc_classification")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val pr = Tables.lineitem(spark, sf)
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .as("rev")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val t = pr.map(_._2).sum
    val ordered = pr.sortBy { case (pk, rev) => (-rev, pk) }
    val cums = ordered.map(_._2).scanLeft(0L)(_ + _).drop(1)
    val want = ordered.zip(cums).zipWithIndex.map {
      case (((pk, rev), cum), i) =>
        val bp = cum * 10000L / t
        (pk, rev, i + 1L, bp,
          if (bp <= 8000) "A" else if (bp <= 9500) "B" else "C")
    }
    assert(got.toSeq === want.toSeq)
    val classes = got.sortBy(_._3).map(_._5).toSeq
    assert(classes === classes.sorted, "classes not monotone A<=B<=C in rank")
    assert(classes.toSet === Set("A", "B", "C"))
  }

  test("B228: integer z-score flags replay in JVM (self-excluded baseline)") {
    val got = SparkEntry.queries("b228_rolling_zscore_outliers")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3)).toSeq
      s.zipWithIndex.flatMap { case ((_, _, eid, x), i) =>
        val fr = s.slice(math.max(0, i - 8), i).map(_._4)
        val n = fr.length.toLong
        if (n < 4) None
        else {
          val sx = fr.sum; val sxx = fr.map(v => v * v).sum
          val dev2 = (n * x - sx) * (n * x - sx)
          val thr = 4 * (n * sxx - sx * sx)
          if (dev2 > thr) Some((u, eid) -> ((x, n, dev2, thr))) else None
        }
      }
    }.toMap
    assert(got === want)
    assert(got.nonEmpty, "no outliers — monitor vacuous")
    got.values.foreach { case (_, n, dev2, thr) =>
      assert(n >= 4L && n <= 8L && dev2 > thr)
    }
  }

  test("B232: conversion paths replay in JVM; every path ends at the first " +
    "purchase") {
    val got = SparkEntry.queries("b232_conversion_paths")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = ev.groupBy(_._1).values.toSeq.flatMap { es =>
      val sq = es.sortBy(e => (e._2, e._3)).map(_._4.head).mkString
      val pos = sq.indexOf('p') + 1
      if (pos == 0) None
      else Some(sq.substring(math.max(0, pos - 6), pos))
    }
    val tot = paths.length.toLong
    val want = paths.groupBy(identity).map { case (p, xs) =>
      p -> (xs.length.toLong, xs.length.toLong * 10000L / tot)
    }
    assert(got === want)
    got.keys.foreach { p =>
      assert(p.endsWith("p") && p.length <= 6 && p.count(_ == 'p') == 1,
        s"path '$p' malformed — must end at the FIRST purchase")
    }
  }

  test("B236: weekly bounce rate replays in JVM over the shared 6h sessions") {
    val got = SparkEntry.queries("b236_bounce_rate_weekly")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.toSeq.flatMap { es =>
      val s = es.sortBy(e => (e._2, e._3))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (start, n)
      var start = 0L; var n = 0L; var prev = Long.MinValue / 4
      s.foreach { case (_, ts, _) =>
        if (ts - prev > graft.operators.AnalyticsOps.SessGapUs) {
          if (n > 0) out += ((start, n)); start = ts; n = 0
        }
        n += 1; prev = ts
      }
      if (n > 0) out += ((start, n))
      out
    }
    val want = sessions.groupBy { case (st, _) =>
      Math.floorDiv(st - 1704067200000000L, 604800000000L)
    }.map { case (wk, ss) =>
      val b = ss.count(_._2 == 1L).toLong
      wk -> (ss.length.toLong, b, b * 10000L / ss.length)
    }
    assert(got === want)
    got.values.foreach { case (ns, nb, bp) =>
      assert(nb <= ns && bp <= 10000L)
    }
    assert(got.values.exists(_._2 > 0), "no bounces — metric vacuous")
  }

  test("B237: linear attribution replays in JVM and conserves every " +
    "purchase's cents exactly (remainder discipline)") {
    val got = SparkEntry.queries("b237_attribution_linear")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        math.floor(r.getDouble(4) * 100 + 0.5).toLong))
    val credits = ev.groupBy(_._1).values.toSeq.flatMap { es =>
      val s = es.sortBy(e => (e._2, e._3))
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      var seg = scala.collection.mutable.ArrayBuffer[String]()
      s.foreach { case (_, _, _, t, c) =>
        if (t == "purchase") {
          val k = seg.length.toLong
          if (k == 0) out += (("(none)", c))
          else {
            val share = c / k
            seg.init.foreach(ch => out += ((ch, share)))
            out += ((seg.last, c - (k - 1) * share))
          }
          seg.clear()
        } else seg += t
      }
      out
    }
    val tot = credits.map(_._2).sum
    val want = credits.groupBy(_._1).map { case (ch, xs) =>
      ch -> (xs.length.toLong, xs.map(_._2).sum, xs.map(_._2).sum * 10000L / tot)
    }
    assert(got === want)
    // conservation: every purchase's cents land somewhere, exactly
    val allPurchases = ev.filter(_._4 == "purchase").map(_._5).sum
    assert(got.values.map(_._2).sum === allPurchases,
      "allocated cents != total purchase cents — fractional leakage")
  }

  test("B238: leave-one-out hit-rate replays in JVM against rebuilt recs") {
    val got = SparkEntry.queries("b238_rec_eval_hitrate")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val itemN = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = li.groupBy(_._1).values.toSeq.flatMap { os =>
      val ps = os.map(_._2).distinct.sorted.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2L).toMap
    val recs = pairCnt.toSeq
      .flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
      .groupBy(_._1).view.mapValues { xs =>
        xs.map { case (_, b, n) => (b, n * 10000L / itemN(xs.head._1)) }
          .sortBy { case (b, c) => (-c, b) }.take(3).map(_._1).toSet
      }.toMap
    val want = li.groupBy(_._1).values.toSeq
      .map(_.map(_._2).distinct.toSeq)
      .filter(_.length >= 2)
      .map { ps =>
        val held = ps.max
        val hit = ps.filter(_ != held)
          .exists(c => recs.getOrElse(c, Set.empty).contains(held))
        (ps.length.toLong, if (hit) 1L else 0L)
      }
      .groupBy(_._1).map { case (sz, xs) =>
        val h = xs.map(_._2).sum
        sz -> (xs.length.toLong, h, h * 10000L / xs.length)
      }
    assert(got === want)
    val (totB, totH) = (got.values.map(_._1).sum, got.values.map(_._2).sum)
    assert(totH > 0 && totH < totB, "hit-rate saturated or zero — eval vacuous")
  }

  test("B239: the skew report replays in JVM; max/mean >= 10^6 and the " +
    "order statistics are ordered") {
    val r = SparkEntry.queries("b239_key_skew_report")(spark, sf).collect().head
    val counts = Tables.lineitem(spark, sf)
      .select("l_partkey").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nKeys = counts.size.toLong
    val total = counts.values.sum
    val maxC = counts.values.max
    val maxKey = counts.filter(_._2 == maxC).keys.min
    val sorted = counts.toSeq.sortBy { case (k, c) => (c, k) }.map(_._2)
    val med = sorted(((nKeys + 1) / 2 - 1).toInt)
    val p99 = sorted(((nKeys * 99 + 99) / 100 - 1).toInt)
    assert(r.getLong(0) === nKeys && r.getLong(1) === total)
    assert(r.getLong(2) === maxKey && r.getLong(3) === maxC)
    assert(r.getLong(4) === med && r.getLong(5) === p99)
    assert(r.getLong(6) === maxC * nKeys * 1000000L / total)
    assert(r.getLong(6) >= 1000000L, "max/mean below 1 — impossible")
    assert(med <= p99 && p99 <= maxC)
  }

  test("B240: brand affinity replays in JVM through the dimension rollup; " +
    "lift splits around 10^6") {
    val got = SparkEntry.queries("b240_brand_affinity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val brand = Tables.part(spark, sf).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bi = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), brand(r.getLong(1)))).distinct
    val n = bi.map(_._1).distinct.length.toLong
    val bn = bi.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val want = bi.groupBy(_._1).values.toSeq.flatMap { xs =>
      val bs = xs.map(_._2).distinct.sorted.toSeq
      for (a <- bs; b <- bs if a < b) yield (a, b)
    }.groupBy(identity).map { case ((a, b), ps) =>
      val np = ps.length.toLong
      (a, b) -> (np, np * 10000L / n, np * n * 1000000L / (bn(a) * bn(b)))
    }
    assert(got === want)
    assert(got.values.exists(_._3 > 1000000L) &&
      got.values.exists(_._3 < 1000000L),
      "all lifts one side of independence — matrix vacuous")
  }
  test("B249: candidates equal a JVM A-priori replay; the closure bound " +
    "is a law; the prune and the verify both bite") {
    val got = SparkEntry.queries("b249_basket_triples")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8))).toMap
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted.toSeq).toMap
    val pairCount = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val triCount = scala.collection.mutable.Map.empty[(Long, Long, Long), Long]
    for (ps <- baskets.values) {
      for (a <- ps; b <- ps if a < b)
        pairCount((a, b)) = pairCount.getOrElse((a, b), 0L) + 1L
      for (a <- ps; b <- ps if a < b; c <- ps if b < c)
        triCount((a, b, c)) = triCount.getOrElse((a, b, c), 0L) + 1L
    }
    val l2 = pairCount.filter(_._2 >= 2L).toMap
    val want = triCount.collect {
      case ((a, b, c), n) if l2.contains((a, b)) && l2.contains((a, c)) &&
        l2.contains((b, c)) =>
        val (s12, s13, s23) = (l2((a, b)), l2((a, c)), l2((b, c)))
        (a, b, c) -> (s12, s13, s23, Seq(s12, s13, s23).min, n,
          if (n >= 2L) 1L else 0L)
    }.toMap
    assert(got === want)
    // downward closure: the true count never exceeds any sub-pair support
    for ((_, (_, _, _, bound, n, _)) <- got) assert(n <= bound)
    // the prune bites (candidates << raw triples) and the verify bites
    // (some candidate fails support)
    assert(got.size.toLong < triCount.size.toLong / 5)
    assert(got.values.exists(_._6 == 1L) && got.values.exists(_._6 == 0L))
  }
}

