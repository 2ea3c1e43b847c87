package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{CorpusBudget, Quantize}
import graft.sources.Tables

/** B123 int8 quantization + B124 token-budget cap + B125 vocab coverage:
  * semantic invariants, two-phase-vs-naive equality, and the plan shapes
  * (broadcast scale join, no SinglePartition window on the corpus path). */
class CorpusBudgetSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001
  import spark.implicits._

  // ---- B123 ------------------------------------------------------------

  private lazy val qstats = Quantize.dimStats(Tables.embeddings(spark, sf))
    .collect()
    .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
      r.getLong(4)))

  test("B123: every dim saturates at its own max and mean error is below " +
    "the half-step bound") {
    assert(qstats.nonEmpty)
    for ((dim, scale, nVals, nSat, errFp) <- qstats) {
      assert(nSat >= 1, s"dim $dim: the max-abs element itself must hit ±127")
      assert(nSat <= nVals)
      // per-element |x - x̂| ≤ scale/254 (half a quantization step), so the
      // nano-unit error mass is bounded by nVals · (scale·1e9/254 + 1)
      val bound = nVals.toDouble * (scale * 1e9 / 254.0 + 1.0)
      assert(errFp.toDouble <= bound,
        s"dim $dim: error mass $errFp exceeds half-step bound $bound")
    }
  }

  test("B123: an all-zero dimension quantizes to code 0 with zero error") {
    val df = Seq((1L, Array(0.0f, 2.5f)), (2L, Array(0.0f, -1.25f)))
      .toDF("vec_id", "embedding")
    val rows = Quantize.dimStats(df).collect()
    val z = rows.find(_.getLong(0) == 0L).get
    assert(z.getDouble(1) == 0.0 && z.getLong(3) == 0L && z.getLong(4) == 0L)
    val nz = rows.find(_.getLong(0) == 1L).get
    assert(nz.getDouble(1) == 2.5 && nz.getLong(3) >= 1L)
  }

  test("B123 plan: scales re-join by broadcast; no sort-merge join") {
    val plan = Quantize.dimStats(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "per-dim scale table must broadcast, not shuffle the exploded vectors")
    assert(!plan.contains("SortMergeJoin"), plan.linesIterator.take(30).mkString("\n"))
  }

  // ---- B126 ------------------------------------------------------------

  test("B126: rank-clipping tightens every dimension's scale and saturates " +
    "the outlier budget") {
    val full = qstats.map(r => r._1 -> r._2).toMap
    val clipped = Quantize.clippedDimStats(Tables.embeddings(spark, sf))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(clipped.length === full.size)
    for ((dim, thr, _, nSat) <- clipped) {
      assert(thr <= full(dim),
        s"dim $dim: rank-$thr clip threshold above the max-abs scale")
      // the k-1 magnitudes strictly above the threshold all clamp to ±127,
      // and the threshold element itself quantizes to ±127
      assert(nSat >= 1L)
    }
    // clipping must bite somewhere on real data: at least one dim strictly
    // tightened (embeddings are not all k-way ties at the max)
    assert(clipped.exists { case (dim, thr, _, _) => thr < full(dim) })
  }

  // ---- B124 ------------------------------------------------------------

  private lazy val docs = Tables.documents(spark, sf)

  private lazy val manifest = CorpusBudget.budgetManifest(docs).collect()
    .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  test("B124: two-phase scan equals the naive per-source window") {
    // definition-level oracle: the naive single-window Spark spelling
    docs.createOrReplaceTempView("cb_docs")
    val pri = graft.llm.Winnowing
      .polyFoldSpark("concat('cap:', CAST(doc_id AS STRING))")
    val naive = spark.sql(
      s"""SELECT doc_id, source, n_tok, start FROM (
         |  SELECT doc_id, source, n_tok,
         |         sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
         |  FROM (SELECT doc_id, source,
         |               CAST(size(split(text, ' ')) AS BIGINT) AS n_tok,
         |               $pri AS pri
         |        FROM cb_docs))
         |WHERE start < ${CorpusBudget.Budget} ORDER BY doc_id""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(manifest.toSeq === naive.toSeq)
  }

  test("B124: per-source budget semantics — full sources kept whole, " +
    "capped sources stop exactly at the budget boundary") {
    val B = CorpusBudget.Budget
    val totals = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("t"), count(lit(1)).as("docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bySrc = manifest.groupBy(_._2)
    assert(bySrc.keySet === totals.keySet, "no source may vanish under the cap")
    for ((src, rows) <- bySrc) {
      val (t, nDocs) = totals(src)
      for ((_, _, _, start) <- rows) assert(start < B)
      if (t < B) assert(rows.length.toLong === nDocs, s"$src under budget must keep all")
      else {
        // budget reached: the kept prefix covers at least B tokens
        val covered = rows.map(r => r._4 + r._3).max
        assert(covered >= B, s"$src kept prefix ends at $covered < $B")
      }
    }
  }

  test("B124 plan: no SinglePartition exchange — the prefix scan is the " +
    "two-phase distributed form") {
    val plan = CorpusBudget.budgetManifest(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      plan.linesIterator.take(40).mkString("\n"))
  }

  // ---- B247 ------------------------------------------------------------

  private def jvmCell(j: Int, k: Int): Long = {
    val h = (((j.toLong * 16 + k + 1) * 2654435761L) % 2147483648L) % 6L
    if (h == 0L) 1L else if (h == 1L) -1L else 0L
  }

  test("B247: the frozen Achlioptas matrix has the 1/6, 1/6, 2/3 shape") {
    val cells = for (j <- 0 until 64; k <- 0 until 16) yield jvmCell(j, k)
    val n = cells.length.toDouble
    val pPlus = cells.count(_ == 1L) / n
    val pMinus = cells.count(_ == -1L) / n
    val pZero = cells.count(_ == 0L) / n
    assert(math.abs(pPlus - 1.0 / 6) < 0.07, s"P(+1) = $pPlus")
    assert(math.abs(pMinus - 1.0 / 6) < 0.07, s"P(-1) = $pMinus")
    assert(math.abs(pZero - 2.0 / 3) < 0.07, s"P(0) = $pZero")
  }

  test("B247: projection equals a JVM replay, and JL distances survive") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = SparkEntry.queries("b247_random_projection")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def q(x: Float): Long = math.floor(x.toDouble * 10000.0 + 0.5).toLong
    def proj(v: Array[Float]): Array[Long] = {
      val y = new Array[Long](16)
      for (j <- v.indices; k <- 0 until 16) y(k) += q(v(j)) * jvmCell(j, k)
      y
    }
    val projs = emb.view.mapValues(proj).toMap
    for ((id, v) <- projs; k <- 0 until 16)
      assert(got((id, k.toLong)) === v(k), s"vec $id dim $k")
    // JL sanity: E[||Δy||²] = (1/3)·||Δq||², so 3·||Δy||²/||Δq||² ≈ 1;
    // with K = 16 individual pairs scatter but the median must hold
    val ids = emb.keys.toSeq.sorted.take(25)
    val ratios = for (a <- ids; b <- ids if a < b) yield {
      val dq = emb(a).zip(emb(b)).map { case (x, y) => q(x) - q(y) }
        .map(d => d.toDouble * d).sum
      val dy = projs(a).zip(projs(b)).map { case (x, y) => (x - y).toDouble }
        .map(d => d * d).sum
      3.0 * dy / (16.0 * dq)
    }
    val sortedR = ratios.sorted
    val med = sortedR(sortedR.length / 2)
    assert(med > 0.5 && med < 2.0, s"JL median distortion $med")
    assert(ratios.forall(r => r > 0.02 && r < 50), "a pair distorted wildly")
  }

  test("B247: null elements contribute zero (the SQL SUM null-skip " +
    "convention); empty array yields K zero components; both divergence " +
    "domains are EMPTY on the fixture") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // ADVICE r15: pin the conventions the oracle can't express directly.
    // Native: null slot → q_j = 0 (matches the oracle's sum skipping the
    // NULL product); empty array → 16 zeros (the oracle's unnest emits no
    // rows for it). Both are therefore only hash-safe while the fixture
    // carries no null elements and no empty embeddings — assert that too.
    val withNull = new GenericArrayData(
      Array[Any](1.0f, null, -2.5f) ++ Array.fill[Any](61)(0.0f))
    val noNull = new GenericArrayData(
      Array[Any](1.0f, 0.0f, -2.5f) ++ Array.fill[Any](61)(0.0f))
    val a = graft.functions.RandomProjectExpression.project(withNull).toLongArray()
    val b = graft.functions.RandomProjectExpression.project(noNull).toLongArray()
    assert(a.toSeq === b.toSeq, "null element must act as exactly zero")
    val empty = graft.functions.RandomProjectExpression
      .project(new GenericArrayData(Array.empty[Any])).toLongArray()
    assert(empty.toSeq === Seq.fill(16)(0L))
    val bad = Tables.embeddings(spark, sf)
      .filter(expr("size(embedding) = 0 OR exists(embedding, x -> x IS NULL)"))
      .count()
    assert(bad === 0L, "fixture grew null/empty embeddings — the native " +
      "conventions above would diverge from the oracle")
  }

  test("B247 plan: the projection is map-side — zero exchanges") {
    val plan = Quantize.projected(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("random_project"), plan)
  }

  // ---- B251 ------------------------------------------------------------

  test("B251: separability equals a JVM replay; radii positive; all " +
    "C(10,2) pairs present") {
    val got = SparkEntry.queries("b251_label_centroid_separation")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getInt(1).toLong, r.getSeq[Float](2).toArray))
    def q(x: Float): Long = math.floor(x.toDouble * 10000.0 + 0.5).toLong
    val byLabel = emb.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dims = emb.head._2.length
    val cen = byLabel.map { case (l, vs) =>
      val n = vs.length.toLong
      l -> (0 until dims).map(d => vs.map(v => q(v(d))).sum / n).toArray
    }
    val rad = byLabel.map { case (l, vs) =>
      val n = vs.length.toLong
      val ssq = vs.map(v => v.map(x => { val a = q(x); a * a }).sum).sum
      l -> (ssq / n - cen(l).map(c => c * c).sum)
    }
    val labels = byLabel.keys.toSeq.sorted
    assert(got.size === labels.combinations(2).size)
    for (Seq(a, b) <- labels.combinations(2)) {
      val d2 = cen(a).zip(cen(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      val sep = d2 * 10000L / (rad(a) + rad(b))
      assert(got((a, b)) === ((d2, rad(a), rad(b), sep)), s"pair ($a,$b)")
      assert(rad(a) > 0 && d2 >= 0)
    }
  }

  // ---- B242 ------------------------------------------------------------

  private lazy val quotaManifest = CorpusBudget.shareQuotaManifest(docs)
    .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3)))

  test("B242: two-phase share-quota scan equals the naive per-source window") {
    docs.createOrReplaceTempView("cb_docs")
    val pri = "((" + graft.llm.Winnowing
      .polyFoldSpark("concat('quota:', CAST(doc_id AS STRING))") +
      " % 2147483648) * 2654435761) % 2147483648"
    val naive = spark.sql(
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |         CAST(size(split(text, ' ')) AS BIGINT) AS n_tok,
         |         $pri AS pri
         |  FROM cb_docs),
         |q AS (SELECT CAST(sum(n_tok) * ${CorpusBudget.MaxShareBp} div 10000
         |        AS BIGINT) AS quota FROM toks)
         |SELECT doc_id, source, n_tok, start FROM (
         |  SELECT doc_id, source, n_tok,
         |         sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
         |                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
         |  FROM toks) CROSS JOIN q
         |WHERE start < quota ORDER BY doc_id""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(quotaManifest.toSeq === naive.toSeq)
  }

  test("B242: quota semantics — the ceiling binds on some sources (capped " +
    "at the boundary) and spares others (kept whole), per the share rule") {
    val totals = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("t"), count(lit(1)).as("docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val quota = totals.values.map(_._1).sum * CorpusBudget.MaxShareBp / 10000
    val bySrc = quotaManifest.groupBy(_._2)
    assert(bySrc.keySet === totals.keySet, "no source may vanish under the quota")
    var capped = 0
    var whole = 0
    for ((src, rows) <- bySrc) {
      val (t, nDocs) = totals(src)
      for ((_, _, _, start) <- rows) assert(start < quota)
      if (t <= quota) {
        assert(rows.length.toLong === nDocs, s"$src under quota must keep all")
        whole += 1
      } else {
        val covered = rows.map(r => r._4 + r._3).max
        assert(covered >= quota, s"$src kept prefix ends at $covered < $quota")
        // over-quota keeps a PREFIX; it only drops docs when some start
        // lands past the quota (the last kept doc may straddle — the
        // B124/B97 overshoot convention)
        if (rows.length.toLong < nDocs) capped += 1
      }
    }
    assert(capped > 0, "the 500 bp ceiling must observably drop docs somewhere")
    assert(whole > 0, "the 500 bp ceiling must not bind everywhere")
  }

  test("B242 plan: no SinglePartition exchange in the quota scan") {
    val plan = CorpusBudget.shareQuotaManifest(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      plan.linesIterator.take(40).mkString("\n"))
  }

  // ---- B260 ------------------------------------------------------------

  test("B260: the synthetic domain is deterministic (JVM replay), an order" +
    " of magnitude finer-grained than source, and total (no doc unassigned)") {
    val got = docs.selectExpr("doc_id",
        s"${CorpusBudget.domainExprSpark} AS domain")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === docs.count())
    def replay(id: Long): String = {
      val f = graft.llm.Winnowing.polyFoldString(s"dom:$id")
      "dom" + (((f % 2147483648L) * 2654435761L) % 2147483648L % 256L)
    }
    for ((id, d) <- got) assert(d === replay(id), s"doc $id domain diverged")
    val nDomains = got.values.toSet.size
    val nSources = docs.select("source").distinct().count()
    assert(nDomains > 5 * nSources,
      s"$nDomains domains vs $nSources sources — grain did not multiply")
  }

  test("B260: quota semantics hold at domain grain — the 50 bp ceiling" +
    " caps some domains (prefix-kept) and spares others (kept whole)") {
    val manifest = SparkEntry.queries("b260_domain_share_quota")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val totals = docs.selectExpr(
        s"${CorpusBudget.domainExprSpark} AS domain",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n")
      .groupBy("domain").agg(sum("n").as("t"), count(lit(1)).as("docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val quota = totals.values.map(_._1).sum * CorpusBudget.DomainShareBp / 10000
    val byDom = manifest.groupBy(_._2)
    assert(byDom.keySet === totals.keySet, "no domain may vanish under the quota")
    var capped = 0
    var whole = 0
    for ((dom, rows) <- byDom) {
      val (t, nDocs) = totals(dom)
      for ((_, _, _, start) <- rows) assert(start < quota)
      if (t <= quota) {
        assert(rows.length.toLong === nDocs, s"$dom under quota must keep all")
        whole += 1
      } else if (rows.length.toLong < nDocs) capped += 1
    }
    assert(capped > 0, "the 50 bp ceiling must observably drop docs somewhere")
    assert(whole > 0, "the 50 bp ceiling must not bind everywhere")
  }

  // ---- B128 ------------------------------------------------------------

  test("B128: streaming admission equals a sequential JVM fold of the " +
    "sharded arrival-order rule") {
    val got = SparkEntry.queries("b128_stream_budget_admission")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // definition-level oracle: walk docs in doc_id order, one counter per
    // (source, shard), admit while under the slice budget
    val pri = graft.llm.Winnowing
      .polyFoldSpark("concat('adm:', CAST(doc_id AS STRING))")
    val rows = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr(s"$pri % ${graft.llm.CorpusBudget.ShardCount}").as("shard"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val acc = scala.collection.mutable.Map.empty[(String, Long), Long]
    val want = rows.flatMap { case (id, src, n, sh) =>
      val a = acc.getOrElse((src, sh), 0L)
      if (a < graft.llm.CorpusBudget.ShardBudget) {
        acc((src, sh)) = a + n; Some((id, src, n, a))
      } else None
    }
    assert(got.toSeq === want.toSeq)
    assert(want.nonEmpty && want.length < rows.length,
      "the sharded budget must bind on the test corpus")
  }

  // ---- B125 ------------------------------------------------------------

  test("B125: coverage is positive, nondecreasing, and ≤ 10000 bp; ranks " +
    "are dense from 1") {
    val rows = CorpusBudget.vocabCoverage(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq === (1 to rows.length))
    val freqs = rows.map(_._3)
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      "spectrum must be frequency-sorted")
    val cums = rows.map(_._4)
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.head >= 1L && cums.last <= 10000L)
  }
}
