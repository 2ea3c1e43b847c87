package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Registry._
import graft.exec.WorkDirs
import graft.functions.{TopKAgg, Udfs, WeightedMeanAgg}
import graft.sources.Tables

/** SURVEY §2B extension-path operators: B3 (CSV scan), B4 (sorted sink +
  * re-read), B24 (custom typed Aggregator), B39 (Scala UDF + native codegen
  * Expression), B40 (generator / lateral explode).
  */
object Extensions {

  private val csvPath = "/root/repo/fixtures/csv/dispatch_centers.csv"

  /** B3 — CSV scan with header + explicit schema (inference is forbidden at
    * scale: one extra full pass over 100 TB). */
  private val b03 = entry(
    "b03_scan_csv",
    s"""SELECT center_code, center_name, state, lat, lon, active
       |FROM read_csv('$csvPath', header=true,
       |  columns={center_code: 'VARCHAR', center_name: 'VARCHAR',
       |           state: 'VARCHAR', lat: 'DOUBLE', lon: 'DOUBLE',
       |           active: 'BOOLEAN'})
       |WHERE active ORDER BY center_code""".stripMargin) { (s, _) =>
    val schema = StructType(Seq(
      StructField("center_code", StringType), StructField("center_name", StringType),
      StructField("state", StringType), StructField("lat", DoubleType),
      StructField("lon", DoubleType), StructField("active", BooleanType)))
    s.read.option("header", "true").schema(schema).csv(csvPath)
      .filter(col("active"))
      .orderBy("center_code")
  }

  /** B4 — sink: sorted single-file parquet write, then re-read (the t2 hash
    * is over the re-read, proving the round-trip is lossless). Single-file +
    * sortWithinPartitions is the diffable-output mode; the 100 TB path drops
    * coalesce(1) and partitions by a key column instead. */
  private val b04 = entry(
    "b04_sink_parquet",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity >= 49
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    val out = WorkDirs("b04_sink") + "/out"
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .filter(col("l_quantity") >= 49)
      .coalesce(1)
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out).orderBy("l_orderkey", "l_linenumber")
  }

  /** B4 (JSON half) — JSON-lines sink + schema'd re-read: the t2 hash is
    * over the re-read rows against the source-table oracle, proving the
    * write→read round trip lossless for longs, strings, doubles (Jackson
    * shortest-repr doubles re-parse bit-exact) and dates. Explicit read
    * schema — JSON inference is forbidden at scale for the same
    * extra-full-pass reason as CSV. */
  private val b04j = entry(
    "b04_sink_json",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s
      |FROM orders WHERE o_totalprice >= 300000
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val out = WorkDirs("b04j_sink") + "/out"
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .filter(col("o_totalprice") >= 300000)
      .coalesce(1)
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType)))
    // the re-read date is a real DateType (round trip proven); it is
    // FORMATTED for output because the oracle compare bridges DuckDB DATE
    // through pandas as datetime — a dtype-family mismatch vs Spark's date
    s.read.schema(schema).json(out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"))
      .orderBy("o_orderkey")
  }

  /** B24 — the custom weighted-mean Aggregator as an untyped UDAF column:
    * average extended price weighted by quantity, per return flag. */
  private val b24 = entry(
    "b24_agg_custom_udaf",
    """SELECT l_returnflag,
      |       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val wmean = udaf(WeightedMeanAgg)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(wmean(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** B87 — grouped top-k via the bounded-state [[TopKAgg]] Aggregator:
    * top-5 events by value per event_type, WITHOUT a window sort — the
    * agg buffer holds k pairs, map-side combine reduces each partition
    * to ≤ k rows per group before the shuffle (shuffle ∝ groups·k, not
    * rows — the b25/b29 window formulation shuffles every row). The
    * oracle IS the window SQL: same result, different physical cost.
    * Nulls are filtered explicitly so the agg's ordering domain is total
    * (the window spelling would sort them NULLS LAST — a silent
    * divergence if a null value ever appeared). */
  private val b87 = entry(
    "b87_agg_topk",
    """SELECT event_type, rank, event_id, round(value, 4) AS value
      |FROM (
      |  SELECT event_type, event_id, value,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY value DESC, event_id) AS INTEGER) AS rank
      |  FROM events WHERE value IS NOT NULL) t
      |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin) { (s, d) =>
    val topk = udaf(TopKAgg(5))
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("event_id"), round(col("col._1"), 4).as("value"))
      .orderBy("event_type", "rank")
  }

  /** B39 — scalar UDF (haversine) + the native codegen `feature_id`,
    * both over deterministic synthetic coordinates. The oracle replicates
    * the haversine formula verbatim (identical double op sequence). */
  private val b39 = entry(
    "b39_udf_expression",
    """SELECT c_custkey,
      |       'wildweb-' || CAST(c_custkey AS VARCHAR) AS fid,
      |       round(2 * 6371.0088 * asin(sqrt(
      |         sin(radians((39.7392 - (c_custkey % 160 - 80 + 0.5)) / 2)) ^ 2 +
      |         cos(radians(c_custkey % 160 - 80 + 0.5)) * cos(radians(39.7392)) *
      |         sin(radians((-104.9903 - (c_custkey % 360 - 180 + 0.5)) / 2)) ^ 2
      |       )), 4) AS dist_km
      |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val hav = udf(Udfs.haversineKm _)
    val lat = (col("c_custkey") % 160 - 80 + 0.5).cast("double")
    val lon = (col("c_custkey") % 360 - 180 + 0.5).cast("double")
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        expr("feature_id(CAST(c_custkey AS STRING))").as("fid"),
        round(hav(lat, lon, lit(39.7392), lit(-104.9903)), 4).as("dist_km"))
      .orderBy("c_custkey")
  }

  /** B40 — generator: lateral posexplode of the wildweb resources array
    * (reference task.ts:20 `resources: array<any>`). */
  private val b40 = entry(
    "b40_generator_explode",
    """SELECT fire.uuid AS uuid,
      |       generate_subscripts(fire.resources, 1) AS pos,
      |       unnest(fire.resources) AS resource
      |FROM (
      |  SELECT unnest(data) AS fire
      |  FROM read_json('/root/repo/fixtures/wildweb/run_ok/*.json',
      |    format='array',
      |    columns={retrieved: 'VARCHAR',
      |             data: 'STRUCT(ic VARCHAR, "date" VARCHAR, name VARCHAR,
      |                    "type" VARCHAR, uuid VARCHAR, acres VARCHAR,
      |                    fuels VARCHAR, inc_num VARCHAR, fire_num VARCHAR,
      |                    latitude VARCHAR, location VARCHAR, longitude VARCHAR,
      |                    resources VARCHAR[], webComment VARCHAR,
      |                    fire_status VARCHAR, fiscal_data VARCHAR)[]'})) t
      |ORDER BY uuid, pos""".stripMargin) { (s, _) =>
    import graft.wildweb.WildWebPipeline
    WildWebPipeline.incidents(
        WildWebPipeline.readEnvelopes(s, "/root/repo/fixtures/wildweb/run_ok"))
      .select(col("fire.uuid").as("uuid"), posexplode(col("fire.resources")))
      .select(col("uuid"), (col("pos") + 1).as("pos"), col("col").as("resource"))
      .orderBy("uuid", "pos")
  }

  /** B65 — ORC sink + re-read: the same lossless round-trip contract as
    * b04, through Spark's native ORC source. DuckDB cannot read ORC, so
    * the oracle runs over the ORIGINAL parquet table — which is the
    * stronger statement anyway: write→read through a second columnar
    * format preserves the exact values. ORC matters at scale as the
    * interchange format with Hive/Trino estates; predicate pushdown and
    * column pruning work on the re-read scan exactly as for parquet
    * (same DataSource V1 scan machinery). */
  private val b65 = entry(
    "b65_sink_orc",
    """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
      |FROM part WHERE p_size >= 40
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val out = WorkDirs("b65_sink") + "/out"
    Tables.part(s, d)
      .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      .filter(col("p_size") >= 40)
      .coalesce(1)
      .sortWithinPartitions("p_partkey")
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("p_partkey")
  }

  /** B74 — schema-evolution read: two parquet generations of the same
    * table — v1 written before a column existed, v2 with the added
    * o_orderstatus — read together with mergeSchema, the old generation
    * null-padded. This is how a 100 TB table actually evolves: columns
    * are ADDED, history is never rewritten, and every reader must handle
    * the union schema. The oracle replays the generational split over the
    * original table (v1 rows get NULL status), proving the merged read is
    * exactly the logical union — nothing dropped, nothing misaligned.
    *
    * Footer-schema merging is a listing-time cost, not a scan cost; at
    * scale `spark.sql.parquet.mergeSchema` stays off globally and the
    * union schema comes from the table catalog — the read path exercised
    * here is identical. */
  private val b74 = entry(
    "b74_schema_evolution",
    """SELECT o_orderkey, o_totalprice,
      |       CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val out = WorkDirs("b74_evo")
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/gen=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/gen=2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$out/gen=1", s"$out/gen=2")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** B106 — the GLOBAL running sum anti-pattern, auto-repaired: the naive
    * `sum(x) OVER (ORDER BY k)` spelling (no PARTITION BY — what a SQL
    * user writes for a prefix sum) normally plans as Exchange
    * SinglePartition + one Window task over the whole relation.
    * [[graft.plans.GlobalWindowScanRewrite]] decomposes it into the B97
    * two-phase bucketed scan automatically; this entry runs the NAIVE SQL
    * through the rule and the driver hash pins semantic equivalence
    * (GlobalWindowSpec additionally pins rule-on ≡ rule-off and the
    * partitioned plan shape). The COALESCE makes the summed column
    * provably non-nullable — the rule's integer-exactness precondition. */
  private val b106 = entry(
    "b106_global_running_sum",
    """WITH cents AS (
      |  SELECT o_orderkey,
      |         COALESCE(CAST(floor(o_totalprice * 100) AS BIGINT), 0) AS cents
      |  FROM orders)
      |SELECT o_orderkey, cents,
      |       CAST(sum(cents) OVER (ORDER BY o_orderkey
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
      |FROM cents ORDER BY o_orderkey""".stripMargin, bench = true) { (s, d) =>
    graft.plans.RuleInstall.ensure(s, graft.plans.GlobalWindowScanRewrite)
    Tables.registerAll(s, d)
    // floor (exact in both engines) before the BIGINT cast: Spark's
    // double→long cast truncates where DuckDB's ROUNDS — casting the raw
    // product would silently diverge on half-cent values
    s.sql(
      """SELECT o_orderkey, cents,
        |       sum(cents) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS running
        |FROM (SELECT o_orderkey,
        |             COALESCE(CAST(floor(o_totalprice * 100) AS BIGINT), 0) AS cents
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val entries: Seq[Entry] = Seq(b03, b04, b04j, b24, b39, b40, b65, b74, b87, b106)
}
