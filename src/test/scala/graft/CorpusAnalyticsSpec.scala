package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, size, split}
import graft.sources.Tables

/** B162 vocabulary growth + B163 cross-source dup audit: structural
  * invariants and planted shapes beyond the t2 hash. */
class CorpusAnalyticsSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001
  import spark.implicits._

  test("B162: cumulative columns are monotone and close over the whole corpus") {
    val rows = SparkEntry.queries("b162_vocab_growth")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 10)
    assert(rows.map(_._1).toSeq === (1L to 10L))
    // monotone cumulatives
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4)
    }
    // closure: final row covers the whole corpus exactly
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count()
    val allTerms = docs.select("text").collect().flatMap(r =>
      Option(r.getString(0)).toSeq.flatMap(_.split(" ", -1))).filter(_.nonEmpty)
    val last = rows.last
    assert(last._2 === nDocs)
    assert(last._3 === allTerms.length.toLong)
    assert(last._4 === allTerms.distinct.length.toLong)
    // new_terms decomposes the vocabulary exactly
    assert(rows.map(_._5).sum === last._4)
    // and the curve actually bends: the first decile carries most of this
    // tiny closed vocabulary (Heaps saturation is visible, not vacuous)
    assert(rows.head._4 > last._4 / 2)
  }

  test("B163: planted cross-source near-dup lands in the right matrix cell") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "srcA"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota", "srcB"), // near-dup of 0
      (2L, "completely different text with other words entirely here", "srcB"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "srcC") // exact dup of 0
    ).toDF("doc_id", "text", "source")
    // run the b163 body on the planted frame via a scratch view of the
    // registry shape: reuse the module through a temp swap is overkill —
    // recompute with the same public pieces
    val out = {
      import org.apache.spark.sql.functions._
      val corpus = graft.llm.MinHashLsh.spreadNarrowInput(
        docs.select(col("doc_id"), col("text")))
      val counts = graft.llm.TextDedup.withShingleArr(docs)
        .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
      val sh = graft.llm.TextDedup.shingles(corpus)
      val pairs = sh.select(col("doc_id").as("da"), col("shingle"))
        .join(sh.select(col("doc_id").as("db"), col("shingle")), "shingle")
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("common"))
      val dup = pairs
        .join(counts.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(counts.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .filter(col("common") * 10000L >= lit(5000L) * (col("na") + col("nb") - col("common")))
      val srcs = docs.select(col("doc_id"), col("source"))
      dup
        .join(srcs.select(col("doc_id").as("da"), col("source").as("src_a")), "da")
        .join(srcs.select(col("doc_id").as("db"), col("source").as("src_b")), "db")
        .select(least(col("src_a"), col("src_b")).as("src_lo"),
          greatest(col("src_a"), col("src_b")).as("src_hi"))
        .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    assert(out.getOrElse(("srcA", "srcB"), 0L) === 1L, s"matrix: $out")
    assert(out.getOrElse(("srcA", "srcC"), 0L) === 1L, s"matrix: $out")
    assert(out.getOrElse(("srcB", "srcC"), 0L) === 1L, s"matrix: $out") // 1~3 near-dup
    assert(!out.keySet.exists { case (a, b) => a == "srcB" && b == "srcB" },
      "dissimilar same-source doc must not pair")
  }

  test("B163 entry runs and is upper-triangular by source name") {
    val rows = SparkEntry.queries("b163_cross_source_dups")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (lo, hi, n) =>
      assert(lo <= hi); assert(n > 0L)
    }
  }

  test("B164: windowed pairs strictly contain the adjacent bigrams (W=1 ⊂ W=3)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val adj = graft.llm.NgramLm.bigramPairs(docs)
      .groupBy("w1", "w2").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val win = graft.llm.NgramLm.windowPairs(docs)
      .groupBy("w1", "w2").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(adj.nonEmpty)
    // every adjacent pair occurs in the window relation at least as often
    adj.foreach { case (k, c) =>
      assert(win.getOrElse(k, 0L) >= c, s"window lost adjacent pair $k")
    }
    // and the window genuinely adds longer-range pairs
    assert(win.values.sum > adj.values.sum)
  }

  test("B165: recall@10 grows with the dimension budget and stays in [0, 10]") {
    val rows = SparkEntry.queries("b165_similarity_matryoshka")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 60) // 3 dims × 20 probes
    rows.foreach { case (_, _, rec) => assert(rec >= 0L && rec <= 10L) }
    val mean = rows.groupBy(_._1).view.mapValues(v =>
      v.map(_._3).sum.toDouble / v.size).toMap
    assert(mean(8) <= mean(16) + 0.5 && mean(16) <= mean(32) + 0.5,
      s"recall ladder not monotone-ish: $mean")
    assert(mean(32) > mean(8), s"dim budget has no effect: $mean")
  }

  test("B166: keywords come from the vocabulary; frequent words outrank the rare one") {
    val rows = SparkEntry.queries("b166_textrank_keywords")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length === 20)
    val vocab = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq.flatMap(_.split(" ", -1)))
      .filter(_.nonEmpty).toSet
    rows.foreach { case (w, pr) => assert(vocab.contains(w)); assert(pr > 0L) }
    // 'dup' appears in ~26 of ~14000 positions — a well-mixed word graph
    // must not rank it as a keyword ahead of the dense core
    val rankOf = rows.map(_._1).zipWithIndex.toMap
    assert(!rankOf.get("dup").exists(_ < 10),
      s"rare word ranked as a top keyword: $rows")
    // rerun-deterministic
    val again = SparkEntry.queries("b166_textrank_keywords")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(again.toSeq === rows.toSeq)
  }

  test("B168: first doc scores 10⁴, an exact copy scores 0, overlap scores between") {
    import org.apache.spark.sql.functions._
    val planted = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"), // exact copy → 0 novel
      (2L, "alpha beta gamma nine ten eleven twelve"), // shares 1 of 5 grams
      (3L, "totally fresh words only in here")
    ).toDF("doc_id", "text")
    val sh = graft.llm.TextDedup.shingles(planted).localCheckpoint(true)
    val firsts = sh.groupBy("shingle").agg(min("doc_id").as("fd"))
    val out = sh.join(firsts, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        count(when(col("fd") === col("doc_id"), 1)).as("novel"))
      .select(col("doc_id"), expr("novel * 10000 div n").as("bp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) === 10000L)
    assert(out(1L) === 0L, "exact copy must have zero novelty")
    assert(out(2L) === 4 * 10000L / 5, "1 of 5 grams seen before")
    assert(out(3L) === 10000L)
  }

  test("B168 entry: bounds, first-doc law, and consistency with the corpus") {
    val rows = SparkEntry.queries("b168_ngram_novelty")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, novel, bp) =>
      assert(novel >= 0L && novel <= n)
      assert(bp === novel * 10000L / n)
    }
    // the first doc in ingestion order is all-novel by definition
    val first = rows.minBy(_._1)
    assert(first._4 === 10000L)
    // Σ novel over docs = distinct gram count (each gram novel exactly once)
    val distinctGrams = graft.llm.TextDedup
      .shingles(Tables.documents(spark, sf).select("doc_id", "text"))
      .select("shingle").distinct().count()
    assert(rows.map(_._3).sum === distinctGrams)
  }

  test("B169: percentiles equal the nearest-rank definition computed in plain JVM") {
    val rows = SparkEntry.queries("b169_length_profile")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val bySource = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def nearest(xs: IndexedSeq[Long], p: Int): Long =
      xs((p * xs.length + 99) / 100 - 1) // ceil(p·n/100), 1-based → index
    rows.foreach { case (src, n, sum, mn, mx, p50, p90, p99) =>
      val xs = bySource(src)
      assert(n === xs.length.toLong)
      assert(sum === xs.sum); assert(mn === xs.head); assert(mx === xs.last)
      assert(p50 === nearest(xs, 50), s"$src p50")
      assert(p90 === nearest(xs, 90), s"$src p90")
      assert(p99 === nearest(xs, 99), s"$src p99")
      assert(mn <= p50 && p50 <= p90 && p90 <= p99 && p99 <= mx)
    }
  }

  test("B167: sample equals a JVM replay and the DLT estimator lands near total mass") {
    val rows = SparkEntry.queries("b167_priority_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === 50)
    // independent JVM replay of the derandomized draw
    val m = 1L << 31
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong))
    val pri = docs.map { case (id, src, w) =>
      val h = graft.llm.Winnowing.polyFoldString(s"prio:$id") % m *
        2654435761L % m + 1
      (id, src, w, w * m / h)
    }
    val ordered = pri.sortBy { case (id, _, _, q) => (-q, id) }
    val tau = ordered(50)._4
    val want = ordered.take(50)
      .map { case (id, src, w, q) => (id, src, w, q, math.max(w, tau)) }
      .sortBy(_._1)
    assert(rows.toSeq === want.toSeq)
    // the subset-sum estimator over the whole population should land near
    // the true token mass (one derandomized draw — generous 35% band;
    // measured ~ +6% at sf0.001)
    val est = rows.map(_._5).sum.toDouble
    val truth = docs.map(_._3).sum.toDouble
    assert(est > truth * 0.65 && est < truth * 1.35,
      s"estimator $est vs truth $truth")
  }

  test("B171: LSH audit plan has no all-pairs join and finds every planted mirror pair") {
    val df = SparkEntry.queries("b171_cross_source_dups_lsh")(spark, sf)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // planted recall: every mirrored doc with >= 3 words pairs with its
    // original (identical text => equal shingle sets => provable collide)
    val mirrorable = Tables.documents(spark, sf)
      .filter(col("doc_id") % 6 === 0 &&
        size(split(col("text"), " ")) >= 3).count()
    val mirrorPairs = rows.filter(r => r._1 == "mirror" || r._2 == "mirror")
      .map(_._3).sum
    assert(mirrorable > 0)
    assert(mirrorPairs >= mirrorable,
      s"mirror-involved dup pairs $mirrorPairs < planted $mirrorable")
    // scale shape: candidates come from banded buckets, never a cross
    // join — the executed plan must carry no cartesian / nested-loop join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "all-pairs join in b171 plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in b171 plan")
  }

  test("B167: a corpus of <= K docs degrades to keep-everything with est_w = w (ADVICE r13)") {
    // τ has no rank-(K+1) row on a tiny corpus; the LEFT-joined fallback
    // must keep every doc with its own weight as the estimate instead of
    // annihilating the sample through an inner cross join
    val tiny = TestDirs("b167tiny").toString
    Tables.documents(spark, sf).orderBy("doc_id").limit(30)
      .coalesce(1).write.mode("overwrite").parquet(s"$tiny/documents.parquet")
    val rows = SparkEntry.queries("b167_priority_sample")(spark, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(rows.length === 30)
    rows.foreach { case (id, w, estW) => assert(estW === w, s"doc $id") }
  }

  test("B190: the dataset card equals a JVM replay of every section") {
    val card = SparkEntry.queries("b190_dataset_card")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val lens = docs.map(_._2.split(" ", -1).length.toLong).sorted
    val n = lens.length.toLong
    assert(card(("corpus", "n_docs")) === n)
    assert(card(("corpus", "n_tokens")) === lens.sum)
    assert(card(("corpus", "n_terms")) ===
      docs.flatMap(_._2.split(" ", -1)).distinct.length.toLong)
    // nearest-rank ⌈p·n⌉
    def nearestRank(p: Int) = lens(((p * n + 99) / 100 - 1).toInt)
    assert(card(("length", "min_tokens")) === lens.min)
    assert(card(("length", "max_tokens")) === lens.max)
    assert(card(("length", "p50_tokens")) === nearestRank(50))
    assert(card(("length", "p90_tokens")) === nearestRank(90))
    val byText = docs.groupBy(_._2).values.map(_.length.toLong)
    assert(card(("dup", "n_distinct_texts")) === byText.size.toLong)
    assert(card(("dup", "surplus_copies")) === byText.sum - byText.size)
    assert(card(("dup", "max_copies")) === byText.max)
    val bySrc = docs.groupBy(_._3).values.map(_.length.toLong)
    assert(card(("mixture", "n_sources")) === bySrc.size.toLong)
    assert(card(("mixture", "top_source_share_bp")) === bySrc.max * 10000 / n)
    assert(card.size === 12)
  }

  test("B193: exemplars are the scrambled bottom-K per source, not the first K ids") {
    val rows = SparkEntry.queries("b193_card_exemplars")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def h(id: Long) = {
      val f = graft.llm.Winnowing.polyFoldString(s"card:$id")
      (f % 2147483648L) * 2654435761L % 2147483648L
    }
    val bySrc = docs.groupBy(_._1)
    assert(rows.groupBy(_._1).keySet === bySrc.keySet)
    bySrc.foreach { case (src, ds) =>
      val want = ds.map(_._2).sortBy(id => (h(id), id)).take(3)
      val got = rows.filter(_._1 == src).sortBy(_._2).map(_._3).toSeq
      assert(got === want.toSeq, s"source $src exemplars")
      // the anti-bias property: the sample is NOT simply the smallest ids
      // for every source (the unscrambled poly fold would make it so)
    }
    val firstK = bySrc.map { case (src, ds) => src -> ds.map(_._2).sorted.take(3).toSeq }
    val got = rows.groupBy(_._1).map { case (s2, rs) => s2 -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(bySrc.keys.exists(s2 => got(s2) !== firstK(s2)),
      "every source sampled its first K ids — the scramble is not biting")
  }

  test("B233: source vocabulary overlap replays in JVM with the " +
    "inclusion-exclusion and bound laws") {
    val sf = TestSession.sf0001
    val got = SparkEntry.queries("b233_source_vocab_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).view.mapValues(
      _.flatMap(_._2.split(" ")).filter(_.nonEmpty).toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val want = (for {
      i <- srcs.indices; j <- i + 1 until srcs.length
      a = srcs(i); b = srcs(j)
      inter = (vocab(a) & vocab(b)).size.toLong
    } yield (a, b) -> ((vocab(a).size.toLong, vocab(b).size.toLong, inter,
      inter * 10000L / (vocab(a).size + vocab(b).size - inter)))).toMap
    assert(got === want)
    got.foreach { case ((a, b), (v1, v2, inter, j)) =>
      assert(a < b, "matrix not upper-triangular")
      assert(inter <= math.min(v1, v2) && j <= 10000L)
    }
    assert(got.values.map(_._4).toSet.size > 1, "uniform overlap - vacuous")
  }

  test("B235: per-term decile slopes replay in JVM over the fixed 10-point " +
    "design (implicit zero deciles)") {
    val sf = TestSession.sf0001
    val got = SparkEntry.queries("b235_trending_terms")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val w = (docs.map(_._1).max + 1 + 9) / 10
    val cnt = docs.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(term => (term, id / w + 1))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = cnt.keys.map(_._1).toSeq.distinct.flatMap { term =>
      val total = (1L to 10L).map(k => cnt.getOrElse((term, k), 0L)).sum
      if (total < 20) None
      else {
        val sxy = (1L to 10L).map(k => k * cnt.getOrElse((term, k), 0L)).sum
        Some(term -> (total, (10 * sxy - 55 * total) * 1000000L / 825L))
      }
    }.toMap
    assert(got === want)
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 < 0),
      "slopes all one sign - trend table vacuous")
  }

  test("B279: a true collocation outranks chance pairs and the staged " +
    "integer lift replays in JVM") {
    // 'new' is ALWAYS followed by 'york' (perfect collocation); the
    // filler tokens pair near-independently. Church & Hanks' statistic
    // must put (new, york) on top with lift ≈ N/c_york.
    val filler = Seq("the", "cat", "sat", "mat", "dog", "ran")
    val docs = (0 until 12).map { i =>
      val pad = (0 until 10).map(j => filler((i * 7 + j * 3) % filler.length))
      (i.toLong, (pad.take(5) ++ Seq("new", "york") ++ pad.drop(5)).mkString(" "))
    }.toDF("doc_id", "text")
    val got = graft.llm.CorpusAnalytics
      .pmiCollocations(docs, minPair = 2L, topK = 1000).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    // JVM replay of the exact staged-floor spelling
    val toks = docs.collect().map(_.getString(1).split(" ", -1))
    val uni = toks.flatten.filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTok = uni.values.sum
    val bic = toks.flatMap(w => w.sliding(2).filter(_.length == 2))
      .map(p => (p(0), p(1))).filter(p => p._1.nonEmpty && p._2.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = bic.collect { case ((a, b), cab) if cab >= 2L =>
      ((a, b), (cab, uni(a), uni(b),
        (cab * 10000L / uni(a)) * nTok / uni(b)))
    }.toMap
    assert(got.toMap === want)
    // ranking: the planted collocation is the global argmax, strictly
    val top = got.maxBy(_._2._4)
    assert(top._1 === ("new", "york"))
    assert(got.filter(_._1 != (("new", "york"))).forall(_._2._4 < top._2._4),
      "collocation does not strictly dominate - statistic vacuous")
    // and its lift is the perfect-collocation value: c_ab = c_a, so
    // stage one is exactly 10^4 and lift = 10^4 * N / c_york
    assert(top._2._4 === 10000L * nTok / uni("york"))
  }

  test("B289: both legs' OLS fits replay in the JVM, the Zipf plant fits" +
    " a power law and the synthetic corpus is reported as a misfit") {
    val got = SparkEntry.queries("b289_zipf_law_audit")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // JVM replay of the corpus leg (term head + log-log OLS)
    val freqs = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => r.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, f) => (-f, t) }
      .take(graft.llm.CorpusAnalytics.ZipfRankCap).map(_._2)
    def ols(fs: Seq[Long]): (Long, Double, Double, Double) = {
      val xy = fs.zipWithIndex.map { case (f, i) =>
        (math.log(i + 1.0), math.log(f.toDouble)) }
      val n = xy.length.toDouble
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxy = xy.map(p => p._1 * p._2).sum
      val (sxx, syy) = (xy.map(p => p._1 * p._1).sum, xy.map(p => p._2 * p._2).sum)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val inter = (sy - slope * sx) / n
      val r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
        ((n * sxx - sx * sx) * (n * syy - sy * sy))
      def r4(v: Double) = BigDecimal(v)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (xy.length.toLong, r4(slope), r4(inter), r4(r2))
    }
    assert(got("corpus") === ols(freqs), "corpus leg diverges from JVM OLS")
    // the audit's teeth: the seeded Zipf control FITS (slope near -1,
    // high r2) while the synthetic near-uniform corpus is a MISFIT
    val (pn, pSlope, _, pR2) = got("zipf_plant")
    assert(pn > 100 && pSlope > -1.2 && pSlope < -0.9 && pR2 >= 0.9,
      s"Zipf plant does not fit: slope=$pSlope r2=$pR2")
    val (_, cSlope, _, cR2) = got("corpus")
    assert(math.abs(cSlope) < 0.5 && cR2 < 0.5,
      s"synthetic corpus not reported as a misfit: slope=$cSlope r2=$cR2")
  }

  test("B279 entry: top-k shape, ordering, floor, and count consistency") {
    val rows = SparkEntry.queries("b279_pmi_collocations")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length === 20)
    // ordered by (lift desc, a, b) with the unique tiebreak
    rows.sliding(2).foreach { case Array(x, y) =>
      assert(x._6 > y._6 ||
        (x._6 === y._6 && (x._1 < y._1 || (x._1 === y._1 && x._2 < y._2))))
    }
    rows.foreach { case (_, _, cab, ca, cb, lift) =>
      assert(cab >= 5L, "min-pair floor violated")
      assert(cab <= ca && cab <= cb, "pair count exceeds a member count")
      assert(lift > 0L)
    }
  }
}
