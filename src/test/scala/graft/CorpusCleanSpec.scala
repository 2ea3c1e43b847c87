package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.QueryScope
import graft.llm.{CleanPipeline, Decontaminate, SpanDedup, TextDedup}
import graft.sources.Tables

/** Corpus-cleaning operators beyond doc-level dedup: benchmark
  * decontamination (B92) and repeated-span removal (B93). */
class CorpusCleanSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  /** The physical operators of `leg`, one a line, as the shipping entry
    * `entry` recorded it before its eager checkpoint. A persisted relation
    * the leg reads stays one scan line: its own plan (the occurrence
    * relation's size-earned repartition) belongs to no leg. */
  private def legPlan(entry: String, leg: String): String = QueryScope("pin") {
    SparkEntry.queries(entry)(spark, sf)
    val plan = QueryScope.legs.collectFirst { case (`leg`, p) => p }
      .getOrElse(fail(s"$entry recorded no $leg leg"))
    spark.sessionState.executePlan(plan).sparkPlan
      .collect { case op => op.simpleString(1000) }.mkString("\n")
  }

  test("B92: every planted benchmark-leak doc is flagged contaminated") {
    val report = SparkEntry.queries("b92_text_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 100 === 1)
      .select(col("doc_id")).collect().map(_.getLong(0) + 3000000L)
    assert(planted.nonEmpty)
    for (id <- planted)
      assert(report.getOrElse(id, false), s"planted leak doc $id not flagged")
  }

  test("B92: benchmark docs themselves never appear in the report") {
    val ids = SparkEntry.queries("b92_text_decontaminate")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bench = Tables.documents(spark, sf)
      .filter(col("doc_id") % 40 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bench.nonEmpty)
    assert(ids.intersect(bench).isEmpty,
      "a benchmark doc leaked into its own contamination report")
  }

  test("B93: every injected duplicate copy cleans to empty") {
    // the copy's doc_id (1e6 + x) is always greater than its original's,
    // so no span occurrence in a copy can be a gram's first — every word
    // of every copy is covered and must be removed
    val out = SparkEntry.queries("b93_dedup_spans")(spark, sf)
      .filter(col("doc_id") >= 1000000L).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      assert(r.getLong(2) === r.getLong(1),
        s"copy ${r.getLong(0)}: removed ${r.getLong(2)} of ${r.getLong(1)} words")
      assert(r.getString(3) === "", s"copy ${r.getLong(0)} kept text")
    }
  }

  test("B94 edge: 'originally empty' survives span removal; 'fully deleted' does not") {
    // the b94 filter is n_removed < n_words, NOT clean_text != "": an
    // originally-empty doc (split("") = [""], 1 uncoverable empty token)
    // keeps its row in the oracle's kept/cleaned CTEs and must survive,
    // while a fully-span-deleted doc (n_removed = n_words) must drop
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g"), // original — all spans first occurrences
      (2L, "a b c d e f g"), // verbatim copy — fully deleted
      (3L, "")               // originally empty
    ).toDF("doc_id", "text")
    val cleaned = SpanDedup.removeRepeatedSpans(corpus)
      .filter(col("n_removed") < col("n_words"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(cleaned.keySet === Set(1L, 3L),
      s"survivor set wrong: ${cleaned.keySet}")
    assert(cleaned(1L) === "a b c d e f g")
    assert(cleaned(3L) === "", "originally-empty doc must survive with empty text")
  }

  test("B94: the clean pipeline never keeps more than the input, and stages bite") {
    val docs = Tables.documents(spark, sf)
    val out = SparkEntry.queries("b94_clean_pipeline")(spark, sf).collect()
    val keptDocs = out.map(_.getLong(1)).sum
    val keptWords = out.map(_.getLong(2)).sum
    val inDocs = docs.count()
    val inWords = docs.agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(keptDocs < inDocs,
      s"pipeline dropped nothing ($keptDocs of $inDocs docs) — no stage bit")
    assert(keptWords < inWords,
      s"pipeline removed no words ($keptWords of $inWords)")
    // the benchmark split alone accounts for some drop; the stages must
    // remove MORE than just the benchmark exclusion
    val benchDocs = docs.filter(col("doc_id") % 40 === 0).count()
    assert(keptDocs < inDocs - benchDocs + 1,
      s"only the benchmark exclusion bit: kept $keptDocs of $inDocs ($benchDocs bench)")
    // deterministic: a rerun yields the identical rollup
    val again = SparkEntry.queries("b94_clean_pipeline")(spark, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("hashed-gram-key scale paths equal the string-key paths (B92 + B93)") {
    // the 100 TB spelling shuffles/broadcasts xxhash64(gram) longs instead
    // of gram strings; results must be identical absent a 2^-64 collision
    val docs = TextDedup.docsWithDups(spark, sf)
    val spanStr = SpanDedup.removeRepeatedSpans(docs)
    val spanHash = SpanDedup.removeRepeatedSpans(docs, hashedGramKey = true)
    assert(spanStr.exceptAll(spanHash).count() === 0)
    assert(spanHash.exceptAll(spanStr).count() === 0)
    val corpus = docs.filter(col("doc_id") % 40 =!= 0)
    val bench = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 40 === 0)
    val ovStr = Decontaminate.overlapReport(corpus, bench)
    val ovHash = Decontaminate.overlapReport(corpus, bench, hashedGramKey = true)
    assert(ovStr.exceptAll(ovHash).count() === 0)
    assert(ovHash.exceptAll(ovStr).count() === 0)
  }

  test("B92 plan: the benchmark gram side broadcasts (corpus side streams map-side)") {
    val plan = SparkEntry.queries("b92_text_decontaminate")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark grams did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the overlap join shuffled the corpus side:\n$plan")
  }

  test("B93 plan: first-occurrence selection is a salted two-phase partial aggregate, not a window") {
    // the entry plan starts at the eager per-doc covered checkpoint; the
    // stats/dup stages live in that leg's recorded plan
    val plan = legPlan("b93_dedup_spans", "perDoc")
    assert(plan.contains("partial_min"),
      s"per-gram first-occurrence lost its map-side partial aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"a window operator appeared in span removal (hot-gram sort risk):\n$plan")
    // the r21 salt: both the stats key and the dup-probe join key carry
    // the salt bucket, so a hot gram can never pin one task
    assert(plan.contains("salt"),
      s"the gram shuffle lost its salt bucket (hot-gram skew guard):\n$plan")
  }


  test("B93: untouched docs reassemble to their original text verbatim") {
    val docs = TextDedup.docsWithDups(spark, sf)
    val joined = SpanDedup.removeRepeatedSpans(docs)
      .join(docs, "doc_id")
    val untouched = joined.filter(col("n_removed") === 0)
    assert(untouched.count() > 0, "no doc survived untouched — fixture degenerate")
    assert(untouched.filter(col("clean_text") =!= col("text")).count() === 0,
      "a zero-removal doc did not reassemble to its original text")
    // and removal accounting is exact for every doc
    assert(joined.filter(
      col("n_words") - col("n_removed") =!=
        when(col("clean_text") === "", 0L)
          .otherwise(size(split(col("clean_text"), " ")))).count() === 0,
      "kept-word accounting diverged from the reassembled text")
  }

  // ---- B244: minimum-length exact substring dedup ----------------------

  private lazy val b244rows =
    SparkEntry.queries("b244_exact_substr_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  test("B244: long plants lose exactly their 40-token verbatim head; " +
    "the marker and the ORIGINAL survive") {
    val longIds = Tables.documents(spark, sf)
      .filter(col("doc_id") % 9 === 0 &&
        size(split(col("text"), " ")) >= 40)
      .select("doc_id").collect().map(_.getLong(0))
    assert(longIds.nonEmpty, "fixture has no long-plant candidates")
    for (id <- longIds) {
      val (nw, nr, clean) = b244rows(id + 2000000L)
      assert(nw === 41L && nr === 40L && clean === s"zz$id",
        s"copy of $id: n_words=$nw n_removed=$nr clean='$clean'")
    }
    // plants have strictly HIGHER ids, so they can never steal first-
    // occurrence status: every original doc's row must be bit-identical
    // with and without the plants (originals that do lose text — e.g. the
    // corpus's own organic near-dup copies like doc 360 of doc 8 — lose
    // exactly the same text either way)
    val unplanted = SpanDedup.removeLongRepeats(
        Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    for ((id, row) <- unplanted)
      assert(b244rows(id) === row, s"plants changed original $id's outcome")
    assert(unplanted.exists(_._2._2 == 0L), "no original survived untouched")
    assert(unplanted.exists(_._2._2 > 0L),
      "fixture degenerate: no organic long repeat found (doc 8/360 family)")
  }

  test("B244: short plants (12 tokens, below MinSpanTokens) are NOT removed " +
    "— the length floor B93 lacks") {
    val shortIds = Tables.documents(spark, sf)
      .filter(col("doc_id") % 11 === 0 &&
        size(split(col("text"), " ")) >= 12)
      .select("doc_id").collect().map(_.getLong(0))
    assert(shortIds.nonEmpty, "fixture has no short-plant candidates")
    for (id <- shortIds) {
      val (nw, nr, _) = b244rows(id + 4000000L)
      assert(nw === 13L && nr === 0L,
        s"short plant of $id was removed: n_removed=$nr (threshold broken)")
    }
  }

  test("B244: the MinSpanTokens threshold is exact at the boundary") {
    import spark.implicits._
    val at = (1 to SpanDedup.MinSpanTokens).map(i => s"sa$i").mkString(" ")
    val under = (1 to SpanDedup.MinSpanTokens - 1).map(i => s"sc$i").mkString(" ")
    val docs = Seq(
      (1L, at + " enda"), (2L, at + " endb"),       // exactly 30 shared
      (3L, under + " endc"), (4L, under + " endd")) // 29 shared
      .toDF("doc_id", "text")
    val got = SpanDedup.removeLongRepeats(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) === 0L, "first occurrence must survive")
    assert(got(2L) === SpanDedup.MinSpanTokens.toLong,
      "a repeat of exactly MinSpanTokens must excise")
    assert(got(3L) === 0L && got(4L) === 0L,
      "a repeat one token under the floor must survive")
  }

  test("B244 plan: island coalescing windows are doc-partitioned, " +
    "never SinglePartition") {
    // the island window lives in the per-doc interval leg, which the
    // shipping entry materializes eagerly
    val plan = legPlan("b244_exact_substr_dedup", "perDoc")
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(1500))
    // and the shipping entry's default materialized path, under AQE
    val shipped = SparkEntry.queries("b244_exact_substr_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!shipped.contains("Exchange SinglePartition"), shipped.take(1500))
  }

  test("a failing span-pass checkpoint leaves no relation persisted") {
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("planted text failure")
      "never"
    }
    val docs = spark.range(64).select(col("id").as("doc_id"),
      boom(col("id")).as("text"))
    val sc = spark.sparkContext
    // a persist whose first job fails registers a cache entry but never
    // builds its RDD, so count the entries too (numCachedEntries is
    // private[spark] in Scala, public in bytecode)
    val cache = spark.sharedState.cacheManager
    def entries = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    for ((label, run) <- Seq[(String, () => Any)](
        "hygieneRelease" -> (() => CleanPipeline.hygieneRelease(docs)),
        "removeRepeatedSpans" -> (() => SpanDedup.removeRepeatedSpans(docs)),
        "removeLongRepeats" -> (() => SpanDedup.removeLongRepeats(docs)))) {
      val (rdds, cached) = (sc.getPersistentRDDs.keySet, entries)
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("planted text failure")), e)
      // new ids, not the count: the ContextCleaner may drop earlier
      // tests' checkpoints while this runs
      assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty, label)
      assert(entries === cached, label)
    }
  }
}
