package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Ingest/sink robustness beyond the golden paths: schema evolution on the
  * JSON edge, partitioned writes (the B4 100 TB path). */
class RobustnessSpec extends AnyFunSuite {
  private val spark = TestSession.spark

  test("JSON decode tolerates unknown extra fields (schema evolution)") {
    val dir = TestDirs("graft_evo").toString
    // an envelope with fields the schema doesn't declare — upstream adding
    // fields must not break ingestion (from_json keeps declared fields)
    Files.writeString(java.nio.file.Paths.get(s"$dir/center_new.json"),
      """[{"retrieved": "2026-01-15T12:00:00Z", "apiVersion": "9.9",
        |  "data": [{"ic": null, "date": "2026-01-15T11:00:00Z",
        |    "name": "EVO FIRE", "type": "Wildfire", "uuid": "evo1",
        |    "acres": "1", "fuels": null, "inc_num": null, "fire_num": null,
        |    "latitude": "40.0", "location": null, "longitude": "105.0",
        |    "resources": [], "webComment": null, "fire_status": "Active",
        |    "fiscal_data": "FS", "brand_new_field": {"nested": true}}]}]""".stripMargin)
    val feats = graft.wildweb.WildWebPipeline.features(
      graft.wildweb.WildWebPipeline.incidents(
        graft.wildweb.WildWebPipeline.readEnvelopes(spark, dir)),
      graft.wildweb.WildWebConfig("1 Week",
        java.time.Instant.parse("2026-01-15T12:00:00Z")))
    val rows = feats.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("id") === "wildweb-evo1")
  }

  test("corrupt file in a scan directory fails loudly; opt-in skip reads the rest") {
    val dir = TestDirs("graft_corrupt").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // a truncated/garbage .parquet alongside the good file — the scan
    // must FAIL by default (silently dropping data at 100 TB is the
    // worst outcome), and read the good rows under the explicit opt-in
    Files.write(java.nio.file.Paths.get(s"$dir/part-junk.parquet"),
      "not a parquet file".getBytes)
    val err = intercept[Exception] {
      spark.read.parquet(dir).count()
    }
    assert(err.getMessage != null)
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try
      assert(spark.read.parquet(dir).count() === 2L,
        "ignoreCorruptFiles should read the intact file's rows")
    finally prev match {
      case Some(p) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", p)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  test("ANSI mode: integer cast overflow throws instead of wrapping") {
    // Spark 4 defaults to ANSI; the engine RELIES on that for exact
    // integer arithmetic (the b22/b58 exact-sums convention) — silent
    // wraparound would corrupt those results instead of failing the job
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val err = intercept[Exception] {
      spark.range(1).select(expr("CAST(3000000000L AS INT)")).collect()
    }
    assert(err.getMessage.contains("CAST_OVERFLOW") ||
      err.getMessage.toLowerCase.contains("overflow"),
      s"expected a cast-overflow error, got: ${err.getMessage}")
  }

  test("B4 scale path: partitioned parquet write prunes partitions on read") {
    val out = TestDirs("graft_part").toString + "/docs"
    Tables.documents(spark, TestSession.sf0001)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    // directory layout is the partition key
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("lang=")).sorted
    assert(langDirs.length === 5, langDirs.mkString(","))
    // a lang filter must prune to one partition (visible in the scan)
    val df = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = df.queryExecution.sparkPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"), scan)
    val full = Tables.documents(spark, TestSession.sf0001)
      .filter(col("lang") === "en").count()
    assert(df.count() === full)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime (SURVEY §4B)") {
    // fact partitioned by nationkey joined to a dim filtered AFTER planning
    // time — only DPP (runtime subquery into the scan's partition filters)
    // can prune here, and at 100 TB that is the difference between reading
    // one partition directory and all of them
    val out = TestDirs("graft_dpp").toString + "/cust"
    Tables.customer(spark, TestSession.sf0001)
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(out)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    // DPP needs the pruning side to be reusable/cheap; broadcast join gives
    // that for free
    val dim = Tables.nation(spark, TestSession.sf0001)
      .filter(col("n_name") === "CANADA")
    val fact = spark.read.parquet(out)
    val joined = fact.join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP subquery in plan:\n$plan")
    val expected = Tables.customer(spark, TestSession.sf0001)
      .join(Tables.nation(spark, TestSession.sf0001)
          .filter(col("n_name") === "CANADA"),
        col("c_nationkey") === col("n_nationkey")).count()
    assert(joined.count() === expected)
  }
}
