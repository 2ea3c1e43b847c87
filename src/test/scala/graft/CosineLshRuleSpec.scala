package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** [[graft.plans.CosineLshRewrite]] — the injected optimizer rule that
  * rescues naive all-pairs `cosine ≥ τ` joins into the banded sign-LSH
  * candidate+verify shape.
  *
  * The sf0.001 embeddings corpus has max pairwise cosine 0.51 between
  * distinct vectors, so with planted duplicates and τ = 0.9 the TRUE
  * result set is exactly the planted identical pairs — which sign-LSH
  * finds with probability 1 (identical projections). That makes
  * rewritten-vs-naive EQUALITY (not just recall) assertable here.
  */
class CosineLshRuleSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  private def vecs = {
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val withDups = base.unionByName(
      base.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    withDups
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(expr("dot_f64(v, v)")))
  }

  private def naive = {
    val a = vecs.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
    val b = vecs.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb"))
    a.crossJoin(b).filter(
      col("a") < col("b") &&
      expr("dot_f64(va, vb)") / (col("na") * col("nb")) >= lit(0.9))
      .select(col("a"), col("b"))
  }

  // The rewrite is OPT-IN (lossy recall — see the rule's scaladoc): every
  // test that wants it firing must enable it; the session default is off.
  private def withRuleEnabled[A](f: => A): A = {
    spark.conf.set("spark.graft.cosineLshRewrite.enabled", "true")
    try f finally spark.conf.unset("spark.graft.cosineLshRewrite.enabled")
  }

  test("sign_lsh_bands of an empty vector is NULL (no shared all-zero signature)") {
    // an empty vector projects to 0 on every plane — a non-null result
    // would give ALL empty vectors one shared signature that collides in
    // every band (the minhash_sigs empty-input rule, r5 ADVICE)
    import spark.implicits._
    val out = Seq(1).toDF("k")
      .select(
        expr("sign_lsh_bands(CAST(array() AS array<double>))").as("empty_bands"),
        expr("sign_lsh_bands(array(1.0D, -2.0D))").as("ok_bands"))
      .collect().head
    assert(out.isNullAt(0), "empty vector must yield NULL bands")
    assert(!out.isNullAt(1), "non-empty vector must stay non-null")
  }

  test("naive cross join + cosine threshold plans with no nested loop / cartesian") {
    withRuleEnabled {
      val plan = naive.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(naive.queryExecution.optimizedPlan.toString.contains("__graft_lsh"), "rule did not fire")
    }
  }

  test("rewritten results equal the exact naive results (planted dups, τ=0.9)") {
    val got = withRuleEnabled(naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val want = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "planted duplicates must qualify")
    assert(got === want)
  }

  test("inner-join multiplicity is preserved (each pair exactly once)") {
    val rows = withRuleEnabled(naive.collect().map(r => (r.getLong(0), r.getLong(1))))
    assert(rows.length === rows.toSet.size, "a pair was emitted through more than one band")
  }

  test("unit-vector dot spelling is rescued ONLY under assumeUnitVectors") {
    val unit = vecs.select(col("vec_id"),
      expr("transform(v, x -> x / norm)").as("u"))
    val a = unit.select(col("vec_id").as("a"), col("u").as("ua"))
    val b = unit.select(col("vec_id").as("b"), col("u").as("ub"))
    def j = a.crossJoin(b).filter(
      col("a") < col("b") && expr("dot_f64(ua, ub)") >= lit(0.9))
    withRuleEnabled {
      // a raw dot bound is only an angle bound for unit vectors, which the
      // rule cannot prove — without the assertion it must NOT fire
      assert(!j.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
      spark.conf.set("spark.graft.cosineLshRewrite.assumeUnitVectors", "true")
      try {
        assert(j.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
        val plan = j.queryExecution.sparkPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
        val got = j.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.conf.unset("spark.graft.cosineLshRewrite.enabled")
        val want = j.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === want)
      } finally spark.conf.set("spark.graft.cosineLshRewrite.assumeUnitVectors", "false")
    }
  }

  test("non-norm denominators are not rescued") {
    withRuleEnabled {
      val a = vecs.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
      val b = vecs.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb"))
      // constant-folded literal denominator: rejected by pattern shape
      val j1 = a.crossJoin(b).filter(
        expr("dot_f64(va, vb)") / (lit(1.0) * lit(2.0)) >= lit(0.9))
      assert(!j1.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
      // literal × one-side factor survives constant folding and reaches the
      // side check — a reference-free literal must not count as a "side"
      val j2 = a.crossJoin(b).filter(
        expr("dot_f64(va, vb)") / (lit(2.0) * col("nb")) >= lit(0.9))
      assert(!j2.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
      // both factors from the SAME side is not a norm product either
      val j3 = a.crossJoin(b).filter(
        expr("dot_f64(va, vb)") / (col("na") * col("na")) >= lit(0.9))
      assert(!j3.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
    }
  }

  test("joins with an equi key are left alone") {
    withRuleEnabled {
      val a = vecs.select(col("vec_id").as("a"), col("v").as("va"))
      val b = vecs.select(col("vec_id").as("b"), col("v").as("vb"))
      val j = a.join(b, col("a") === col("b") && expr("dot_f64(va, vb)") >= lit(0.9))
      assert(!j.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
    }
  }

  test("non-positive thresholds are not rescued (sign-LSH needs τ > 0)") {
    withRuleEnabled {
      val a = vecs.select(col("vec_id").as("a"), col("v").as("va"))
      val b = vecs.select(col("vec_id").as("b"), col("v").as("vb"))
      val j = a.crossJoin(b).filter(expr("dot_f64(va, vb)") >= lit(-0.5))
      assert(!j.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
    }
  }

  test("rule is idempotent: reapplying to its own output is a fixpoint") {
    withRuleEnabled {
      // extraOptimizations-style installs rerun the batch; the equi-conjunct
      // bail must make a second application a no-op
      val once = naive.queryExecution.optimizedPlan // rewrite already applied
      assert(once.toString.contains("__graft_lsh"))
      val twice = graft.plans.CosineLshRewrite(once)
      assert(twice.canonicalized == once.canonicalized,
        "second application changed the plan")
    }
  }

  test("rule is OFF by default: an unconfigured session keeps the exact plan") {
    // default-on would silently drop qualifying pairs for exact-result
    // callers — the lossy rewrite must be an explicit opt-in
    assert(spark.conf.getOption("spark.graft.cosineLshRewrite.enabled").isEmpty)
    assert(!naive.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
  }

  test("property: recall >= 0.9 on seeded near-parallel pairs at τ=0.95") {
    // 80 base vectors (seeded), each with a slightly-perturbed twin at
    // cosine ≈ 0.97-0.99; expected banded sign-LSH recall at that angle is
    // ~0.99 (p_plane = 1 - θ/π ≈ 0.95, band⁴-of-4 ≈ 1-(1-0.95⁴)⁴), so 0.9
    // is a robust statistical floor for a fixed seed.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 80).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val twin = v.map(x => x + 0.15 * rnd.nextGaussian())
      Seq((i.toLong, v.toSeq), (i + 1000L, twin.toSeq))
    }
    val vecsDf = rows.toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("dot_f64(v, v)")))
    val a = vecsDf.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
    val b = vecsDf.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb"))
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def j = a.crossJoin(b).filter(
      col("a") < col("b") &&
      expr("dot_f64(va, vb)") / (col("na") * col("nb")) >= lit(0.95))
    val got = withRuleEnabled {
      assert(j.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
      pairsOf(j)
    }
    val want = pairsOf(j)
    assert(want.size >= 30, s"seed produced too few qualifying pairs: ${want.size}")
    assert(got.subsetOf(want), "precision must be exact (residual predicate)")
    val recall = got.size.toDouble / want.size
    assert(recall >= 0.9, f"recall $recall%.3f below the statistical floor")
  }

  test("outer joins are not rewritten") {
    val a = vecs.select(col("vec_id").as("a"), col("v").as("va"), col("norm").as("na"))
    val b = vecs.select(col("vec_id").as("b"), col("v").as("vb"), col("norm").as("nb"))
    val j = a.join(b,
      expr("dot_f64(va, vb)") / (col("na") * col("nb")) >= lit(0.9), "left")
    assert(!j.queryExecution.optimizedPlan.toString.contains("__graft_lsh"))
  }
}
