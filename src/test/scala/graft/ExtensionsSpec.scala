package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.wildweb.WildCadIncident

/** SparkSessionExtensions wiring + typed Dataset path + A15/A16 surfaces. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions (spark.sql.extensions conf) provides feature_id in SQL") {
    // TestSession is built with spark.sql.extensions=graft.GraftExtensions —
    // the config-driven injection path a cluster deployment would use
    // (builder.withExtensions is ignored by getOrCreate once a session
    // exists, so the conf route is the one worth pinning)
    val got = TestSession.spark.sql("SELECT feature_id('abc') AS fid")
      .collect().head.getString(0)
    assert(got === "wildweb-abc")
    // the other injected natives resolve through the same conf route
    val z = TestSession.spark.sql("SELECT z_order2(3L, 5L) AS z")
      .collect().head.getLong(0)
    assert(z === graft.functions.ZOrderExpression.interleave(3L, 5L))
  }

  test("TopKAgg property: random data (with ties) matches the window formulation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val spark = TestSession.spark
    import spark.implicits._
    // few distinct values force ties; the id tiebreak must resolve them
    // identically in the agg and in the window ORDER BY
    val rowGen = for {
      key <- Gen.choose(0, 4)
      value <- Gen.choose(0, 9).map(_ * 0.5)
    } yield (key, value)
    val rows = (0 until 500).flatMap(i =>
      rowGen.apply(Gen.Parameters.default, Seed(11L + i)))
      .zipWithIndex.map { case ((k, v), id) => (k.toLong, v, id.toLong) }
    val df = rows.toDF("k", "v", "id")
    val topk = udaf(graft.functions.TopKAgg(7))
    val got = df.groupBy("k").agg(topk(col("v"), col("id")).as("top"))
      .select(col("k"), posexplode(col("top")))
      .select(col("k"), (col("pos") + 1).as("rank"),
        col("col._1").as("v"), col("col._2").as("id"))
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id"))
    val expected = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7).select("k", "rank", "v", "id")
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "bounded-state top-k diverged from the window formulation")
  }

  test("dot_f64 native expression matches the HOF fold bit-for-bit and codegens") {
    val spark = TestSession.spark
    val df = spark.sql(
      """SELECT dot_f64(a, b) AS native,
        |       aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS hof
        |FROM (SELECT array(1.5D, -2.25D, 3.125D, 0.1D) AS a,
        |             array(4.0D, 0.5D, -1.75D, 0.3D) AS b)""".stripMargin)
    val row = df.collect().head
    assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(row.getDouble(1)))
    // null element → null; mismatched lengths → null (a silent
    // common-prefix dot would score corrupt vectors plausibly)
    val edge = spark.sql(
      """SELECT dot_f64(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS n,
        |       dot_f64(array(2.0D, 3.0D, 99.0D), array(10.0D, 10.0D)) AS mismatch""".stripMargin)
      .collect().head
    assert(edge.isNullAt(0))
    assert(edge.isNullAt(1))
    // participates in whole-stage codegen (the `*(n)` span prefix) over
    // non-literal input — literal input constant-folds away entirely,
    // which is itself proof eval works under the interpreter
    val plan = spark.range(2)
      .selectExpr("dot_f64(array(CAST(id AS DOUBLE), 2.0D), array(3.0D, 4.0D)) AS d")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    assert(plan.contains("dot_f64"), plan)
  }

  test("dot_f64 rejects wrong arity with an analysis error") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      TestSession.spark.sql("SELECT dot_f64(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("dot_f64"), e.getMessage)
    // a wrong input type fails at analysis too, not in constant folding
    // or in the generated code's compile
    for ((query, message) <- Seq(
        "SELECT feature_id(1)" -> "feature_id requires string, got int",
        "SELECT feature_id(id) FROM range(3)" -> "feature_id requires string, got bigint")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        TestSession.spark.sql(query).collect()
      }
      assert(e.getMessage.contains(message), e.getMessage)
    }
  }

  test("typed Dataset path decodes incidents into WildCadIncident") {
    val spark = TestSession.spark
    import spark.implicits._
    val ds = graft.wildweb.WildWebPipeline
      .incidents(graft.wildweb.WildWebPipeline.readEnvelopes(
        spark, "/root/repo/fixtures/wildweb/run_ok"))
      .select("fire.*")
      .as[WildCadIncident]
    val recs = ds.collect()
    assert(recs.length === 19) // 10 ok + 9 bad-coords (pre-filter stage)
    val w9 = recs.find(_.uuid == "w009").get
    assert(w9.ic.isEmpty && w9.longitude.contains("-120.5"))
    assert(recs.find(_.uuid == "w010").get.resources.get.size === 3)
  }

  test("A15 schema introspection returns the declared contracts") {
    import graft.wildweb.{WildWebPipeline, WildWebSchemas}
    assert(WildWebPipeline.schema("input") === WildWebSchemas.envelope.json)
    assert(WildWebPipeline.schema("output") === WildWebSchemas.feature.json)
    assert(WildWebPipeline.schema("anything-else") === "{}")
  }

  test("A16 job entrypoint: abort run submits nothing (in-process check)") {
    // run() on the abort fixture returns Aborted — WildWebJob maps that to
    // exit 0 + no POST; verified at the Outcome level (the full process
    // path is exercised by the B54/B5 HTTP test)
    val out = graft.wildweb.WildWebPipeline.run(
      TestSession.spark, "/root/repo/fixtures/wildweb/run_abort",
      graft.wildweb.WildWebConfig("1 Week",
        java.time.Instant.parse("2026-01-15T12:00:00Z")))
    assert(out === graft.wildweb.WildWebPipeline.Aborted)
  }
}
