package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Retrieval
import graft.sources.Tables

/** B107/B108/B108b contracts (the house pattern for every operator
  * family — VERDICT r8 item 1):
  *
  *  - a plain-JVM BM25 oracle replaying b107's full ranking (tokenize →
  *    tf/df/dl → Lucene-idf Okapi score → rounded-score + doc_id-tiebreak
  *    top-10) compared row-for-row against the Spark output;
  *  - the b95/b100 boundary-margin contract: every BM25 score's distance
  *    from its 4dp rounding boundary is MEASURED and must dwarf
  *    cross-engine libm drift (~1e-13 at these magnitudes), so the t2
  *    hash cannot flip on a different ln implementation;
  *  - blocked-index equivalence: [[Retrieval.invertedIndexBlocked]] at a
  *    forced-small block size (so the testdata vocab exercises >1 block
  *    per term) merges to EXACTLY the monolithic single-block index, and
  *    [[Retrieval.phraseFromIndex]] over the written small-block index
  *    matches a JVM phrase scan of the raw text;
  *  - the [[Retrieval.MaxPos]] pack guard fails LOUDLY on an over-long
  *    doc instead of silently aliasing postings into the next doc_id;
  *  - the b108b probe read is term-pruned AT THE SCAN: PushedFilters
  *    carries the term equality into the parquet reader (the PlanSpec
  *    pattern).
  */
class RetrievalSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  // ---- plain-JVM corpus replay ------------------------------------------

  /** (doc_id, tokens) — split with limit -1 to mirror Spark's split
    * semantics (trailing empty strings kept). */
  private lazy val corpus: Seq[(Long, Array[String])] =
    Tables.documents(spark, sf).select("doc_id", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))

  private val queryTerms: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "stream",
    3L -> "fast", 3L -> "table", 3L -> "scan")

  /** Raw (un-rounded) BM25 score per (query_id, doc_id), the JVM oracle. */
  private lazy val jvmScores: Map[(Long, Long), Double] = {
    val dl = corpus.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val n = dl.size.toLong
    val avgdl = dl.values.sum.toDouble / n
    val tf: Map[(Long, String), Long] = corpus.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, os) => (id, t) -> os.length.toLong }
    }.toMap
    val qts = queryTerms.map(_._2).distinct
    val df: Map[String, Long] =
      qts.map(t => t -> corpus.count(_._2.contains(t)).toLong).toMap
    val grouped = queryTerms.groupBy(_._1)
    (for {
      (qid, terms) <- grouped.toSeq
      docId <- corpus.map(_._1)
      contribs = terms.flatMap { case (_, term) =>
        tf.get((docId, term)).map { f =>
          val idf = math.log(1.0 + (n - df(term) + 0.5) / (df(term) + 0.5))
          idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl(docId) / avgdl))
        }
      }
      if contribs.nonEmpty
    } yield (qid, docId) -> contribs.sum).toMap
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** JVM top-10 per query by (rounded score desc, doc_id asc). */
  private lazy val jvmTop10: Seq[(Long, Int, Long, Double)] =
    jvmScores.toSeq.groupBy(_._1._1).toSeq.flatMap { case (qid, scored) =>
      scored.map { case ((_, d), s) => (d, round4(s)) }
        .sortBy { case (d, r) => (-r, d) }
        .take(10).zipWithIndex
        .map { case ((d, r), i) => (qid, i + 1, d, r) }
    }.sortBy(t => (t._1, t._2))

  /** Raw QL-Dirichlet (μ=50) scores per (query_id, doc_id) — the DIRECT
    * (non-decomposed) formula Σ_t ln((tf + μ·p(t|C)) / (dl + μ)) over
    * docs matching ≥1 query term: an independent spelling of what b156
    * computes sparsely, so agreement pins the decomposition identity. */
  private lazy val jvmQlTop10: Seq[(Long, Int, Long, Double)] = {
    val mu = 50.0
    val dl = corpus.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val tc = dl.values.sum.toDouble
    val qts = queryTerms.map(_._2).distinct
    val cf: Map[String, Long] = qts.map(t =>
      t -> corpus.map(_._2.count(_ == t).toLong).sum).toMap
    val tf: Map[(Long, String), Long] = corpus.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, os) => (id, t) -> os.length.toLong }
    }.toMap
    val grouped = queryTerms.groupBy(_._1)
    val scores = for {
      (qid, terms) <- grouped.toSeq
      live = terms.map(_._2).filter(t => cf(t) > 0)
      docId <- corpus.map(_._1)
      if live.exists(t => tf.contains((docId, t)))
    } yield {
      val s = live.map { t =>
        val f = tf.getOrElse((docId, t), 0L).toDouble
        math.log((f + mu * cf(t) / tc) / (dl(docId) + mu))
      }.sum
      (qid, docId, s)
    }
    scores.groupBy(_._1).toSeq.flatMap { case (qid, sc) =>
      sc.map { case (_, d, s) => (d, round4(s)) }
        .sortBy { case (d, r) => (-r, d) }
        .take(10).zipWithIndex
        .map { case ((d, r), i) => (qid, i + 1, d, r) }
    }.sortBy(t => (t._1, t._2))
  }

  test("B156: sparse-decomposed QL ≡ the direct smoothed formula, row for row") {
    val got = SparkEntry.queries("b156_ql_dirichlet")(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got == jvmQlTop10,
      s"spark=${got.take(5)}... jvm=${jvmQlTop10.take(5)}...")
  }

  test("B107: Spark BM25 top-10 ≡ plain-JVM oracle, row for row") {
    val got = SparkEntry.queries("b107_text_bm25")(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got == jvmTop10,
      s"spark=${got.take(5)}... jvm=${jvmTop10.take(5)}...")
  }

  test("B107: every score sits ≥ 1e-10 from its 4dp rounding boundary") {
    // margin of s from the half-up boundary: distance of s*1e4 from the
    // nearest x.5, rescaled. Cross-engine drift (libm ln ulps + a
    // different summation order over ≤5 contributions at magnitude ~15)
    // is ~1e-14 absolute. Measured minima over the full score relation:
    // 2.0e-8 at sf0.001 (this corpus), 4.9e-10 at sf0.01 and 3.4e-9 at
    // sf0.1 (DuckDB, round-9 sweep) — every scale ≥4 orders above drift.
    val margins = jvmScores.values.map { s =>
      val scaled = s * 1e4
      val frac = scaled - math.floor(scaled)
      math.abs(frac - 0.5)
    }
    val minMargin = margins.min / 1e4
    assert(minMargin >= 1e-10,
      f"a BM25 score sits $minMargin%.3e from its 4dp rounding boundary " +
        "— cross-engine drift could flip the t2 hash; change the query " +
        "workload or widen the rounding")
  }

  // ---- B108 blocked build ------------------------------------------------

  private def docsDf = Tables.documents(spark, sf).select("doc_id", "text")

  test("B108: small-block build merges to exactly the monolithic index") {
    val mono = Retrieval.invertedIndex(docsDf, docsPerBlock = 1L << 40)
      .orderBy("term").collect()
    val merged = Retrieval.invertedIndex(docsDf, docsPerBlock = 4L)
      .orderBy("term").collect()
    assert(mono.length == merged.length)
    mono.zip(merged).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1), s"df differs for ${a.getString(0)}")
      assert(a.getLong(2) == b.getLong(2), s"cnt differs for ${a.getString(0)}")
      assert(a.getSeq[Long](3) == b.getSeq[Long](3),
        s"postings differ for ${a.getString(0)}")
    }
  }

  test("B108: forced-small block size actually exercises >1 block per term") {
    val blocks = Retrieval.invertedIndexBlocked(docsDf, docsPerBlock = 4L)
    val multi = blocks.groupBy("term").agg(countDistinct("block_no").as("nb"))
      .filter(col("nb") > 1).count()
    assert(multi > 0, "no term spans more than one block — the " +
      "equivalence test above would be vacuous")
  }

  test("B108: a doc beyond MaxPos tokens fails loudly at build, never aliases") {
    import spark.implicits._
    val longDoc = Seq((7L, Array.fill(Retrieval.MaxPos.toInt + 1)("w")
      .mkString(" "))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Retrieval.invertedIndexBlocked(longDoc).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("chunk first"),
      s"expected the B108 pack-limit raise_error, got: ${e.getMessage}")
  }

  test("B108: null text passes the pack guard (posexplode_outer row kept)") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, null: String)).toDF("doc_id", "text")
    // must not raise; the null-token row aggregates under a null term
    assert(Retrieval.invertedIndexBlocked(docs).collect().nonEmpty)
  }

  // ---- B108b written-index phrase serving --------------------------------

  private lazy val writtenIndexPath: String = {
    val dir = TestDirs("graft_retrieval_spec").toString + "/index"
    Retrieval.invertedIndexBlocked(docsDf, docsPerBlock = 4L)
      .repartitionByRange(4, col("term"))
      .sortWithinPartitions("term", "block_no")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("B108b: phrase-from-written-index ≡ JVM phrase scan of raw text") {
    val jvm = corpus.map { case (id, ts) =>
      id -> ts.indices.dropRight(1)
        .count(i => ts(i) == "table" && ts(i + 1) == "hash")
    }.filter(_._2 > 0).sortBy(_._1)
    val got = Retrieval
      .phraseFromIndex(spark.read.parquet(writtenIndexPath), "table", "hash")
      .collect().toSeq.map(r => r.getLong(0) -> r.getLong(1).toInt)
    assert(got == jvm, s"index=$got jvm=$jvm")
  }

  test("B108b: probe read is term-pruned at the parquet scan (PushedFilters)") {
    val probe = spark.read.parquet(writtenIndexPath)
      .filter(col("term") === "table")
    val plan = probe.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("EqualTo(term,table)"),
      s"term equality not pushed to the scan:\n$plan")
  }

  // ---- B109 incremental merge --------------------------------------------

  /** Mid-block split for docsPerBlock=4: doc 7 sits inside block 1, so
    * block 1 keys exist on BOTH sides of the split (merge path) while
    * every block-0 key exists only in the old index (pass-through path). */
  private val MergeSplit = 7L

  test("B109: incremental merge ≡ fresh full rebuild, row for row") {
    val old = Retrieval.invertedIndexBlocked(
      docsDf.filter(col("doc_id") < MergeSplit), docsPerBlock = 4L)
    val delta = Retrieval.invertedIndexBlocked(
      docsDf.filter(col("doc_id") >= MergeSplit), docsPerBlock = 4L)
    val merged = Retrieval.presentTerms(Retrieval.mergeIndex(old, delta))
      .orderBy("term").collect()
    val full = Retrieval.invertedIndex(docsDf, docsPerBlock = 4L)
      .orderBy("term").collect()
    assert(merged.length == full.length)
    merged.zip(full).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1), s"df differs for ${a.getString(0)}")
      assert(a.getLong(2) == b.getLong(2), s"cnt differs for ${a.getString(0)}")
      assert(a.getSeq[Long](3) == b.getSeq[Long](3),
        s"postings differ for ${a.getString(0)}")
    }
  }

  test("B109: the split actually exercises both merge paths") {
    val old = Retrieval.invertedIndexBlocked(
      docsDf.filter(col("doc_id") < MergeSplit), docsPerBlock = 4L)
    val delta = Retrieval.invertedIndexBlocked(
      docsDf.filter(col("doc_id") >= MergeSplit), docsPerBlock = 4L)
    val dkeys = delta.select("term", "block_no").distinct()
    val untouched =
      old.join(dkeys, Seq("term", "block_no"), "left_anti").count()
    val touched =
      old.join(dkeys, Seq("term", "block_no"), "left_semi").count()
    assert(untouched > 0, "no pass-through keys — equivalence is vacuous " +
      "for the anti-join path")
    assert(touched > 0, "no co-owned keys — equivalence is vacuous for " +
      "the re-aggregation path")
  }

  // ---- B111 index-served BM25 --------------------------------------------

  test("B111: index-served BM25 ≡ corpus-scan b107, row for row") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val scan = rows("b107_text_bm25")
    val served = rows("b111_bm25_from_index")
    assert(served == scan, s"served=${served.take(5)}... scan=${scan.take(5)}...")
    assert(scan == jvmTop10) // and both match the JVM oracle
  }

  test("B111: probe read is term-pruned at the scan (PushedFilters In)") {
    // the entry's own probe scan is hidden behind its eager checkpoint, so
    // re-open the artifact it wrote and assert the pruned-scan shape
    SparkEntry.queries("b111_bm25_from_index")(spark, sf).collect()
    val probe = spark
      .read.parquet(Retrieval.b111IndexDir + "/terms")
      .filter(col("term").isin("agg", "join"))
    val plan = probe.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("In(term"),
      s"term IN-list not pushed to the index scan:\n$plan")
  }

  // ---- B113 block-max pruned BM25 ----------------------------------------

  private val rareQueryTerms: Seq[(Long, String)] =
    queryTerms ++ Seq(4L -> "dup", 4L -> "merge")

  /** JVM full-scoring oracle over the b113 workload (same machinery as
    * [[jvmScores]], parameterized by query set). */
  private def jvmTop10For(qts: Seq[(Long, String)]): Seq[(Long, Int, Long, Double)] = {
    val dl = corpus.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val n = dl.size.toLong
    val avgdl = dl.values.sum.toDouble / n
    val tf: Map[(Long, String), Long] = corpus.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, os) => (id, t) -> os.length.toLong }
    }.toMap
    val df: Map[String, Long] = qts.map(_._2).distinct
      .map(t => t -> corpus.count(_._2.contains(t)).toLong).toMap
    qts.groupBy(_._1).toSeq.flatMap { case (qid, terms) =>
      val scored = for {
        docId <- corpus.map(_._1)
        contribs = terms.flatMap { case (_, term) =>
          tf.get((docId, term)).map { f =>
            val idf = math.log(1.0 + (n - df(term) + 0.5) / (df(term) + 0.5))
            idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl(docId) / avgdl))
          }
        }
        if contribs.nonEmpty
      } yield (docId, round4(contribs.sum))
      scored.sortBy { case (d, r) => (-r, d) }.take(10).zipWithIndex
        .map { case ((d, r), i) => (qid, i + 1, d, r) }
    }.sortBy(t => (t._1, t._2))
  }

  test("B113: block-max pruned BM25 ≡ JVM full scoring, row for row") {
    val got = SparkEntry.queries("b113_bm25_blockmax")(spark, sf)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val jvm = jvmTop10For(rareQueryTerms)
    assert(got == jvm, s"spark=${got.take(5)}... jvm=${jvm.take(5)}...")
  }

  test("B113: pruning is non-vacuous — blocks actually drop, result exact") {
    val parts = Retrieval.bm25BlockMax(spark, sf)
    val total = parts.candidates.count()
    val kept = parts.survivors.count()
    assert(kept < total,
      s"no (query, block) pruned ($kept of $total kept) — the bound " +
        "phase is dead weight on this corpus; tighten blocks or workload")
    // and the rare-term query specifically prunes hard
    val q4Total = parts.candidates.filter(col("query_id") === 4).count()
    val q4Kept = parts.survivors.filter(col("query_id") === 4).count()
    assert(q4Kept < q4Total,
      s"rare-term query pruned nothing ($q4Kept of $q4Total)")
  }

  test("B113: bound metadata read never touches the postings column") {
    // phase 1 reads (term, block_no, df) from the terms artifact — the
    // columnar scan must not materialize the postings arrays
    SparkEntry.queries("b113_bm25_blockmax")(spark, sf).collect()
    val meta = spark.read.parquet(Retrieval.b113IndexDir + "/terms")
      .select("term", "block_no", "df")
      .filter(col("term").isin("dup", "merge"))
    val plan = meta.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("In(term"),
      s"term IN-list not pushed to the metadata scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("postings"),
      s"metadata scan reads the postings column:\n$plan")
  }

  test("B114: streamed query-side serving ≡ corpus-scan b107, row for row") {
    val served = SparkEntry.queries("b114_stream_bm25_serve")(spark, sf)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(served == jvmTop10,
      s"streamed=${served.take(5)}... jvm=${jvmTop10.take(5)}...")
  }

  test("B114: scoring genuinely straddles micro-batches (cross-batch merge)") {
    // Run the entry here rather than relying on the previous test having
    // executed in the same JVM — under a test filter this suite member
    // must stand alone (ADVICE r10). The replay is idempotent, so a
    // duplicate run in the full suite only costs time, not correctness.
    SparkEntry.queries("b114_stream_bm25_serve")(spark, sf).collect()
    val contrib = spark.read.parquet(Retrieval.b114Dir + "/contrib")
    val batches = contrib.select("batch_id").distinct().count()
    assert(batches >= 2, s"replay produced only $batches micro-batch(es)")
    val straddlers = contrib.select("query_id", "batch_id").distinct()
      .groupBy("query_id").count().filter(col("count") >= 2).count()
    assert(straddlers >= 1,
      "no query had contributions in >=2 batches — the term-ordered chunking no longer splits queries")
  }

  test("B115: expansion selects 3 integer-keyed terms per query, disjoint from the query") {
    val parts = Retrieval.rm3(spark, sf)
    val exp = parts.exp.collect().map(r => (r.getLong(0), r.getString(1)))
    val qids = Retrieval.QueryTerms.map(_._1).distinct
    val orig = Retrieval.QueryTerms.toSet
    assert(exp.length === qids.length * 3,
      s"expected ${qids.length * 3} expansion terms, got ${exp.length}")
    for (qid <- qids)
      assert(exp.count(_._1 == qid) === 3, s"query $qid expansion count")
    assert(exp.forall(e => !orig.contains(e)),
      "an expansion term duplicates an original query term")
  }

  test("B115: expansion is non-vacuous — the re-ranking differs from plain BM25") {
    val rm3Rows = SparkEntry.queries("b115_bm25_rm3")(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val baseRows = jvmTop10.map(t => (t._1, t._2, t._3))
    assert(rm3Rows != baseRows,
      "RM3 output is identical to pass-1 BM25 — expansion changed nothing")
  }

  test("B115: every pass-2 score sits ≥ 1e-10 from its 4dp rounding boundary") {
    val margins = Retrieval.rm3(spark, sf).scores.collect().map { r =>
      val scaled = r.getDouble(2) * 1e4
      val frac = scaled - math.floor(scaled)
      math.abs(frac - 0.5)
    }
    val minMargin = margins.min / 1e4
    assert(minMargin >= 1e-10,
      f"an RM3 score sits $minMargin%.3e from its 4dp rounding boundary")
  }

  test("B116: no two results of a query share content; collapse is non-vacuous") {
    val res = SparkEntry.queries("b116_bm25_dedup_collapse")(spark, sf)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(4)))
    // full result lists survive the collapse (enough non-dup candidates)
    for (qid <- res.map(_._1).distinct)
      assert(res.count(_._1 == qid) === 10, s"query $qid returned <10 rows")
    // at least one top-10 slot absorbed a duplicate at this SF (1+0+2
    // clusters measured at sf0.001; 3+2+2 at sf0.01)
    assert(res.exists(_._4 >= 2L), "collapse vacuous — no cluster in any top-10")
    // the defining property: a query's results never repeat content
    val textOf = graft.llm.TextDedup.docsWithDups(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (qid <- res.map(_._1).distinct) {
      val texts = res.filter(_._1 == qid).map(t => textOf(t._3))
      assert(texts.distinct.length === texts.length,
        s"query $qid serves duplicate content after the collapse")
    }
  }

  test("B109: old-index split is broadcast (semi+anti), never a wide shuffle") {
    val old = spark.read.parquet(writtenIndexPath)
    val delta = Retrieval.invertedIndexBlocked(
      docsDf.filter(col("doc_id") >= MergeSplit), docsPerBlock = 4L)
    val plan = Retrieval.mergeIndex(old, delta)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"pass-through path is not a broadcast anti join:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"touched path is not a semi join:\n$plan")
  }

  test("B188: eval metrics equal a JVM replay of the boolean-AND qrels") {
    val got = SparkEntry.queries("b188_retrieval_eval")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSet))
    val ranked = SparkEntry.queries("b107_text_bm25")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val termsOf = graft.llm.Retrieval.QueryTerms.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet === termsOf.keySet)
    termsOf.foreach { case (q, terms) =>
      val rel = docs.filter { case (_, ws) => terms.subsetOf(ws) }.map(_._1).toSet
      val page = ranked.filter(_._1 == q)
      val hits = page.filter(p => rel.contains(p._3))
      val firstRn = hits.map(_._2).sorted.headOption
      val want = (rel.size.toLong, hits.length.toLong,
        hits.length.toLong * 10000 / rel.size,
        firstRn.map(rn => 1000000L / rn).getOrElse(0L))
      assert(got(q) === want, s"query $q metrics diverged")
      assert(rel.nonEmpty, s"query $q has no relevant docs — qrels vacuous")
    }
    // the metric discriminates: not every query scores a perfect page
    assert(got.values.map(_._3).toSet.size > 1 ||
      got.values.exists(_._3 < 10000L),
      "recall@10 is saturated everywhere — eval has no signal")
  }
}
