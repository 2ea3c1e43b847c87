package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** Round-5 table-maintenance operators: file-level zone-map pruning (B81)
  * and small-file compaction (B82) — the two jobs that keep a 100 TB
  * parquet table readable, beyond the write-time layouts b61 (hive
  * partitioning) and b76 (Z-order) already pin.
  *
  * Both are RESULT-invisible: the t2 oracle is the plain query over the
  * ORIGINAL table, so correctness proves the maintenance step changed
  * physical layout only. The structural win (files pruned / files merged)
  * is asserted on the artifacts in MaintenanceOpsSpec.
  */
object MaintenanceOps {

  private[graft] def b81LayoutDir: String = WorkDirs("b81_zonemap") + "/lineitem"

  /** Per-file (min, max, rows) manifest over `key` — the zone map. One
    * distributed pass grouping on the hidden `_metadata.file_path` column;
    * output is O(|files|) rows. At 100 TB the same relation is maintained
    * incrementally at write time (parquet footers already hold these
    * stats); deriving it with a scan here keeps the operator
    * self-contained while the CONSUMER side — prune-then-read — is
    * exactly the manifest protocol. */
  def zoneMap(layout: DataFrame, key: String): DataFrame =
    layout
      .select(col(key), col("_metadata.file_path").as("file"))
      .groupBy("file")
      .agg(min(col(key)).as("mn"), max(col(key)).as("mx"),
        count(lit(1)).as("rows"))

  /** The file paths whose [mn, mx] zone intersects [lo, hi] — the pruned
    * read set. The collect is O(|files|) driver-side rows (a few KB per
    * thousand files): manifests are SUPPOSED to come to the driver — that
    * is what lets the scheduler skip listing/opening the other files. */
  def prunedFiles(manifest: DataFrame, lo: Long, hi: Long): Seq[String] =
    manifest.filter(col("mx") >= lo && col("mn") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq

  /** B81 — zone-map (file-skipping manifest) scan: range-cluster lineitem
    * by orderkey into 16 files, derive the per-file min/max manifest,
    * prune the file list against an orderkey range probe, and answer the
    * query from ONLY the surviving files (plus the residual row filter —
    * zone granularity over-admits; false positives die in the filter,
    * which is what keeps the result exact and the oracle green).
    *
    * b61/b76 push skipping into the format (hive dirs, parquet row-group
    * stats); this is the third, engine-agnostic level: an explicit
    * manifest relation the planner consults BEFORE any file is opened —
    * the Iceberg/Delta file-pruning protocol, expressed as two operators
    * ([[zoneMap]], [[prunedFiles]]) of this engine itself.
    *
    * Driver-side values: the 2 probe bounds (O(1) agg row, table stats at
    * 100 TB) and the pruned path list (O(|files|) — see [[prunedFiles]]).
    * The probe spans ~1/10 of the key range → ~2-3 of 16 zones survive;
    * MaintenanceOpsSpec asserts the pruning on the manifest itself. */
  private val b81 = entry(
    "b81_scan_zonemap",
    """WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem),
      |p AS (SELECT lo + (hi - lo) // 3 AS plo,
      |             lo + (hi - lo) // 3 + (hi - lo) // 10 AS phi FROM b)
      |SELECT l_linestatus, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |       count(DISTINCT l_orderkey) AS orders
      |FROM lineitem, p
      |WHERE l_orderkey BETWEEN plo AND phi
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    // O(1) driver row: probe bounds from the key extent (stats at 100 TB)
    val b = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val plo = lo + (hi - lo) / 3
    val phi = plo + (hi - lo) / 10
    val out = b81LayoutDir
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(out)
    val files = prunedFiles(zoneMap(s.read.parquet(out), "l_orderkey"), plo, phi)
    s.read.parquet(files: _*)
      .filter(col("l_orderkey").between(plo, phi))
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("l_orderkey")).as("orders"))
      .orderBy("l_linestatus")
  }

  private[graft] def b82SmallDir: String = WorkDirs("b82_small") + "/events"
  private[graft] def b82CompactDir: String = WorkDirs("b82_compact") + "/events"

  /** Target rows per compacted file. At 100 TB this is derived from the
    * target file SIZE (e.g. 512 MB) / avg row width from table stats; a
    * row-count knob keeps the local fixture deterministic. */
  private[graft] val CompactRowsPerFile = 4096L

  /** Compact `smallDir` (many under-sized files) into `outDir`:
    * ceil(rows / rowsPerFile) files, range-clustered AND sorted by `key`
    * so compaction doubles as re-clustering — merged files keep tight
    * min/max zones on the key instead of interleaving rows arbitrarily
    * (what a plain repartition(n) would do, destroying b81-style
    * skipping). Returns the compacted re-read.
    *
    * One count() scalar (O(1)) + one range-exchange of the small files'
    * rows. The 100 TB job runs per partition-directory (b61 layout) so
    * each month compacts independently — same code, pushed down a level. */
  def compact(spark: SparkSession, smallDir: String, outDir: String,
      key: String, rowsPerFile: Long = CompactRowsPerFile): DataFrame = {
    val small = spark.read.parquet(smallDir)
    val rows = small.count() // O(1) driver scalar
    val nFiles = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    small.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** B82 — small-file compaction: shatter events into 64 under-sized
    * files (the streaming-ingest pathology: every micro-batch commit
    * writes one file per partition), then [[compact]] them to
    * ceil(n/4096) range-clustered files and answer the query from the
    * compacted re-read against the ORIGINAL table's oracle.
    *
    * Why it matters at 100 TB: file count, not byte count, drives
    * scheduler/listing/footer overhead — 10M under-sized files can cost
    * more wall-clock than the scan itself. Money uses the b62 exact
    * integer-cents convention (round(value*100) per ROW, then BIGINT
    * sums — never a float aggregate). */
  private val b82 = entry(
    "b82_maintain_compact",
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       count(DISTINCT user_id) AS users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .repartition(64) // the ingest pathology: 64 tiny files
      .write.mode("overwrite").parquet(b82SmallDir)
    compact(s, b82SmallDir, b82CompactDir, key = "event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
        countDistinct(col("user_id")).as("users"))
      .orderBy("event_type")
  }

  /** B86 — bucketed-table layout: both join sides written `bucketBy(8,
    * key)` + `sortBy(key)` ([[ScaleTechniques.writeBucketed]]), then the
    * fact-fact join reads them CO-LOCATED — zero Exchange below the join
    * (asserted on the plan in MaintenanceOpsSpec; the only shuffle left
    * is the aggregation's, ∝ groups). The write-side twin of b13's
    * sort-merge join: at 100 TB, bucketing moves the fact table's join
    * shuffle from EVERY query to the one-time write — the third layout
    * lever after partition dirs (b61) and file clustering (b76/b81).
    *
    * The oracle is the plain join over the original tables: bucketing,
    * like every layout op, must be RESULT-invisible. */
  private val b86 = entry(
    "b86_layout_bucketed",
    """SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |       count(DISTINCT o_custkey) AS custs
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    ScaleTechniques.writeBucketed(
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
      "graft_b86_lineitem", "l_orderkey", buckets = 8)
    ScaleTechniques.writeBucketed(
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_custkey"),
      "graft_b86_orders", "o_orderkey", buckets = 8)
    bucketedJoin(s)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("o_custkey")).as("custs"))
      .orderBy("o_orderstatus")
  }

  /** The bucketed fact-fact join alone (spec hook): MaintenanceOpsSpec
    * asserts no ShuffleExchange exists below the join. The merge hint
    * keeps the planner on the sort-merge path the buckets exist for —
    * at the local test scale it would otherwise broadcast the small side
    * and never touch the bucketing (fact-fact sides at 100 TB are both
    * far past any broadcast threshold). */
  def bucketedJoin(s: SparkSession): DataFrame =
    s.table("graft_b86_lineitem").hint("merge")
      .join(s.table("graft_b86_orders"),
        col("l_orderkey") === col("o_orderkey"))

  /** Columns profiled by b185 — integer/string only, so min/max
    * stringification is engine-exact (no float/timestamp formatting on
    * the gate; `ts`/`value` stats belong to the b33/b22 families). */
  private val StatsCols = Seq("event_id", "user_id", "event_type", "props")

  /** B185 — CATALOG STATISTICS COLLECTION (the ANALYZE TABLE pass:
    * Spark's own `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`, the
    * Hive/Iceberg stats job): per column, exact NDV, min/max
    * (stringified), and null count — the numbers a cost-based optimizer
    * feeds on (join reorder, broadcast decisions, AQE skew detection all
    * start from NDV + bounds). The corpus has no nulls, so `props` is
    * deterministically NULLed on every event_id % 10 = 0 (the b64
    * make-it-bite pattern) and the null counter must recover exactly
    * that.
    *
    * One corpus pass computes all 16 aggregates; `stack` unpivots the
    * 1×16 row into the 4-row catalog table. Exact NDV via count(DISTINCT)
    * means an EXPAND ×|columns| over the scan — the committed gate
    * spelling; the 100 TB path swaps in the b19/b78 HLL sketches per
    * column (mergeable, incremental under b82-style compaction) at the
    * documented ~2% error, leaving bounds and null counts exact.
    *
    * Scale posture: map-side partial aggregates throughout; output is
    * |columns| rows — catalog-sized, not data-sized. */
  private val b185 = entry(
    "b185_table_stats", {
      val per = StatsCols.map { c =>
        s"""  SELECT '$c' AS column_name,
           |         count(DISTINCT $c) AS ndv,
           |         CAST(min($c) AS VARCHAR) AS min_s,
           |         CAST(max($c) AS VARCHAR) AS max_s,
           |         count(*) - count($c) AS n_null
           |  FROM lifted""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH lifted AS (
         |  SELECT event_id, user_id, event_type,
         |         CASE WHEN event_id % 10 = 0 THEN NULL ELSE props END AS props
         |  FROM events),
         |s AS (
         |$per)
         |SELECT column_name, CAST(ndv AS BIGINT) AS ndv, min_s, max_s,
         |       CAST(n_null AS BIGINT) AS n_null
         |FROM s ORDER BY column_name""".stripMargin
    }, bench = true) { (s, d) =>
    val lifted = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_id") % 10 === 0, lit(null: String))
          .otherwise(col("props")).as("props"))
    val aggs = StatsCols.flatMap(c => Seq(
      countDistinct(col(c)).cast("long").as(s"${c}__ndv"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull")))
    lifted.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${StatsCols.size}, " + StatsCols.map(c =>
        s"'$c', ${c}__ndv, ${c}__min, ${c}__max, ${c}__nnull")
        .mkString(", ") + ") AS (column_name, ndv, min_s, max_s, n_null)"))
      .orderBy("column_name")
  }

  /** B189 — INCREMENTAL STATISTICS MAINTENANCE (the ANALYZE job under
    * APPENDS — b185's b69 twin: a 100 TB table's stats refresh from the
    * delta batch, never a full rescan): the corpus splits into a BASE
    * snapshot and an arriving DELTA (event_id % 8 = 0 — a later ingest),
    * per-column partials are computed on each side SEPARATELY, and the
    * catalog row is their MERGE — count/null-count add, min/max take
    * least/greatest IN TYPE SPACE (merging stringified bounds would
    * compare "10" < "9"; stringification happens after the merge).
    *
    * The t2 trick: the ORACLE recomputes every statistic from the FULL
    * table in one pass — so hash-green IS the merge ≡ recompute theorem
    * for these statistics, checked inside the gate rather than by a
    * tolerance spec. NDV is deliberately absent: it is the one catalog
    * statistic that does NOT merge exactly (that's b78's HLL-sketch
    * territory, merge ≡ recompute pinned bit-exact there); everything a
    * CBO needs besides it maintains incrementally for free.
    *
    * Scale posture: the delta pass touches only the delta; the base
    * partials would persist in the catalog (here recomputed — the gate
    * corpus has no stored catalog); the merge is a 2-row aggregate. */
  private val b189 = entry(
    "b189_stats_incremental", {
      val per = StatsCols.map { c =>
        s"""  SELECT '$c' AS column_name,
           |         count(*) AS n_rows,
           |         count(*) - count($c) AS n_null,
           |         CAST(min($c) AS VARCHAR) AS min_s,
           |         CAST(max($c) AS VARCHAR) AS max_s
           |  FROM lifted""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH lifted AS (
         |  SELECT event_id, user_id, event_type,
         |         CASE WHEN event_id % 10 = 0 THEN NULL ELSE props END AS props
         |  FROM events),
         |s AS (
         |$per)
         |SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
         |       CAST(n_null AS BIGINT) AS n_null, min_s, max_s
         |FROM s ORDER BY column_name""".stripMargin
    }) { (s, d) =>
    val lifted = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_id") % 10 === 0, lit(null: String))
          .otherwise(col("props")).as("props"))
    val base = lifted.filter(col("event_id") % 8 =!= 0)
    val delta = lifted.filter(col("event_id") % 8 === 0)
    // per-side partials, typed min/max
    def partials(df: org.apache.spark.sql.DataFrame) = {
      val aggs = Seq(count(lit(1)).as("n_rows")) ++ StatsCols.flatMap(c => Seq(
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull")))
      df.agg(aggs.head, aggs.tail: _*)
    }
    // MERGE in type space: counts add, bounds least/greatest over the
    // two partial rows — then stringify and stack to catalog rows
    val mergeAggs = Seq(sum(col("n_rows")).as("n_rows")) ++
      StatsCols.flatMap(c => Seq(
        min(col(s"${c}__min")).cast("string").as(s"${c}__min"),
        max(col(s"${c}__max")).cast("string").as(s"${c}__max"),
        sum(col(s"${c}__nnull")).as(s"${c}__nnull")))
    partials(base).unionByName(partials(delta))
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .select(expr(s"stack(${StatsCols.size}, " + StatsCols.map(c =>
        s"'$c', n_rows, ${c}__nnull, ${c}__min, ${c}__max")
        .mkString(", ") + ") AS (column_name, n_rows, n_null, min_s, max_s)"))
      .orderBy("column_name")
  }

  /** B192 drift rule: a column drifts when its null rate moves > 5 % or
    * its NDV ratio leaves ±15 % — the two signals that fire on silent
    * upstream changes (a producer starts emitting nulls; a new enum
    * value ships) without tripping on benign id-range growth. */
  private val NullDeltaBp = 500L
  private val NdvLoBp = 8500L
  private val NdvHiBp = 11500L

  /** B192 — PROFILE DRIFT MONITORING (Deequ's anomaly detection /
    * Monte Carlo–free data-quality monitoring, Schelter et al. VLDB'18:
    * profile every snapshot, alert on profile DELTAS): two snapshots of
    * the events table — A (odd event_ids, "yesterday") and B (even ids,
    * "today") — are profiled per column (rows, NDV, null count) and the
    * report flags columns whose null rate moved > [[NullDeltaBp]] or
    * whose NDV ratio left [[NdvLoBp]], [[NdvHiBp]]]. Drift is PLANTED
    * twice so both detectors provably fire: the b185 null plant falls
    * entirely in B (event_id % 10 = 0 ⇒ even — props' null rate jumps
    * 0 → ~20 %), and B's event_type gains a new enum value 'drifted' on
    * user_id % 5 = 0 (NDV 5 → 6 = ratio 12000 bp). event_id/user_id
    * must stay clean — the rule ignores benign min/max movement
    * (id ranges grow every day; bounds are reported, not alerted on).
    *
    * Scale posture: two profile passes (each the b185 shape — map-side
    * partials, catalog-sized output) + a |columns|-row join. In
    * production A's profile is the STORED artifact from yesterday's run
    * (the b189 posture), so monitoring costs one pass over today only. */
  private val b192 = entry(
    "b192_profile_drift", {
      def prof(rel: String) = StatsCols.map { c =>
        s"""  SELECT '$c' AS column_name, count(*) AS n_rows,
           |         count(DISTINCT $c) AS ndv,
           |         count(*) - count($c) AS n_null
           |  FROM $rel""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH lifted AS (
         |  SELECT event_id, user_id, event_type,
         |         CASE WHEN event_id % 10 = 0 THEN NULL ELSE props END AS props
         |  FROM events),
         |a AS (SELECT * FROM lifted WHERE event_id % 2 = 1),
         |b AS (
         |  SELECT event_id, user_id,
         |         CASE WHEN user_id % 5 = 0 THEN 'drifted' ELSE event_type END
         |           AS event_type,
         |         props
         |  FROM lifted WHERE event_id % 2 = 0),
         |pa AS (
         |${prof("a")}),
         |pb AS (
         |${prof("b")}),
         |j AS (
         |  SELECT pa.column_name,
         |         CAST(pa.ndv AS BIGINT) AS ndv_a,
         |         CAST(pb.ndv AS BIGINT) AS ndv_b,
         |         CAST(pa.n_null * 10000 // pa.n_rows AS BIGINT) AS null_bp_a,
         |         CAST(pb.n_null * 10000 // pb.n_rows AS BIGINT) AS null_bp_b,
         |         CAST(pb.ndv * 10000 // pa.ndv AS BIGINT) AS ndv_ratio_bp
         |  FROM pa JOIN pb USING (column_name))
         |SELECT column_name, ndv_a, ndv_b, null_bp_a, null_bp_b, ndv_ratio_bp,
         |       CAST(CASE WHEN abs(null_bp_b - null_bp_a) > $NullDeltaBp
         |                   OR ndv_ratio_bp < $NdvLoBp
         |                   OR ndv_ratio_bp > $NdvHiBp
         |                 THEN 1 ELSE 0 END AS BIGINT) AS drifted
         |FROM j ORDER BY column_name""".stripMargin
    }) { (s, d) =>
    val lifted = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_id") % 10 === 0, lit(null: String))
          .otherwise(col("props")).as("props"))
    val a = lifted.filter(col("event_id") % 2 === 1)
    val b = lifted.filter(col("event_id") % 2 === 0)
      .withColumn("event_type",
        when(col("user_id") % 5 === 0, lit("drifted"))
          .otherwise(col("event_type")))
    def profile(df: org.apache.spark.sql.DataFrame) = {
      val aggs = Seq(count(lit(1)).as("n_rows")) ++ StatsCols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"${c}__ndv"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull")))
      df.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${StatsCols.size}, " + StatsCols.map(c =>
          s"'$c', n_rows, ${c}__ndv, ${c}__nnull").mkString(", ") +
          ") AS (column_name, n_rows, ndv, n_null)"))
    }
    val pa = profile(a).select(col("column_name"),
      col("ndv").as("ndv_a"),
      expr("CAST(n_null * 10000 div n_rows AS BIGINT)").as("null_bp_a"))
    val pb = profile(b).select(col("column_name"),
      col("ndv").as("ndv_b"),
      expr("CAST(n_null * 10000 div n_rows AS BIGINT)").as("null_bp_b"))
    pa.join(pb, "column_name")
      .withColumn("ndv_ratio_bp", expr("CAST(ndv_b * 10000 div ndv_a AS BIGINT)"))
      .withColumn("drifted",
        (abs(col("null_bp_b") - col("null_bp_a")) > NullDeltaBp ||
          col("ndv_ratio_bp") < NdvLoBp || col("ndv_ratio_bp") > NdvHiBp)
          .cast("long"))
      .select("column_name", "ndv_a", "ndv_b", "null_bp_a", "null_bp_b",
        "ndv_ratio_bp", "drifted")
      .orderBy("column_name")
  }

  private[graft] def b252EvoDir: String = WorkDirs("b252_evo")

  /** Epoch µs of 1997-01-01T00:00Z — the schema-change boundary. */
  private val EvoCutoffUs = 852076800000000L

  /** B252 — SCHEMA-EVOLUTION READ (the schema-drift reality of any
    * long-lived lake: ingestion eras write different column sets, and
    * `mergeSchema` must union them with NULL backfill — Parquet schema
    * merging, the Delta/Iceberg ADD COLUMN semantics at the raw-file
    * level): era-1 files carry (o_orderkey, o_custkey, o_totalprice);
    * era-2 files add o_orderpriority; the merged read groups revenue by
    * the evolved column with era-1 rows landing in the '(pre-schema)'
    * bucket. The oracle never sees the files — it re-derives the same
    * relation from the source table with the date-driven CASE, so the
    * hash pins that mergeSchema + NULL backfill lose and invent nothing.
    *
    * Scale posture: schema merging is a FOOTER-level operation (the
    * merged StructType is computed from file metadata, not data);
    * per-file projection pushes the union schema down with NULL fill for
    * absent columns — the read stays columnar and pruned. At 100 TB the
    * one knob that matters is set explicitly: mergeSchema on the READ
    * (era dirs keep their own footers; no rewrite of old files). */
  private val b252 = entry(
    "b252_schema_evolution_read",
    s"""WITH eff AS (
       |  SELECT CASE WHEN epoch_us(o_orderdate) >= $EvoCutoffUs
       |              THEN o_orderpriority ELSE '(pre-schema)' END AS priority,
       |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
       |       CAST(sum(cents) AS BIGINT) AS revenue_cents
       |FROM eff GROUP BY priority
       |ORDER BY priority""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val cut = unix_micros(expr("CAST(o_orderdate AS TIMESTAMP)"))
    // era 1: the pre-1997 schema (no priority column in the files)
    orders.filter(cut < EvoCutoffUs)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$b252EvoDir/era=1")
    // era 2: the evolved schema
    orders.filter(cut >= EvoCutoffUs)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$b252EvoDir/era=2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$b252EvoDir/era=1", s"$b252EvoDir/era=2")
      .select(coalesce(col("o_orderpriority"), lit("(pre-schema)"))
          .as("priority"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
      .orderBy("priority")
  }

  /** B253 — REFERENTIAL-INTEGRITY AUDIT (the dbt `relationships` test /
    * Great Expectations FK check — the first data-quality gate any
    * warehouse runs): for each declared FK edge, the row count, orphan
    * count (children whose key has no parent — one left-anti join) and
    * orphan share in bp. Three clean edges audit the REAL tables (their
    * zero rows are the point: FK integrity is an asserted property, not
    * an assumption), and a fourth leg audits a DELIBERATELY corrupted
    * lineitem copy (every 97th orderkey bumped past the key space — the
    * b171/b244 planted convention), proving the detector fires: the
    * corrupted leg's orphan count equals the planted mass exactly.
    *
    * Scale posture: each check is ONE left-anti join keyed on the FK with
    * the parent key column broadcast when dimension-sized (customer/part)
    * and shuffled when fact-sized (orders); counts map-combine. No
    * windows, no driver traffic. */
  private val b253 = entry(
    "b253_referential_audit",
    """WITH checks AS (
      |  SELECT 'lineitem->orders' AS fk_check,
      |         (SELECT count(*) FROM lineitem) AS n_rows,
      |         (SELECT count(*) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = l.l_orderkey))
      |           AS n_orphans
      |  UNION ALL
      |  SELECT 'lineitem->part',
      |         (SELECT count(*) FROM lineitem),
      |         (SELECT count(*) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM part p
      |                            WHERE p.p_partkey = l.l_partkey))
      |  UNION ALL
      |  SELECT 'orders->customer',
      |         (SELECT count(*) FROM orders),
      |         (SELECT count(*) FROM orders o
      |          WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                            WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'corrupted_lineitem->orders',
      |         (SELECT count(*) FROM lineitem),
      |         (SELECT count(*) FROM (
      |            SELECT CASE WHEN l_orderkey % 97 = 0
      |                        THEN l_orderkey + 1000000000
      |                        ELSE l_orderkey END AS k FROM lineitem) l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = l.k)))
      |SELECT fk_check, CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(n_orphans AS BIGINT) AS n_orphans,
      |       CAST(n_orphans * 10000 // n_rows AS BIGINT) AS orphan_bp
      |FROM checks ORDER BY fk_check""".stripMargin) { (s, d) =>
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    def audit(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
      val keys = parent.select(col(pkey).as("_pk")).distinct()
      val pk = if (bcast) broadcast(keys) else keys
      val orphans = child.join(pk, col(key) === col("_pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_rows")).crossJoin(broadcast(orphans))
        .select(lit(name).as("fk_check"), col("n_rows"), col("n_orphans"),
          expr("CAST(n_orphans * 10000 div n_rows AS BIGINT)")
            .as("orphan_bp"))
    }
    // headroom guard (ADVICE r15, the b171/b244 planted convention): the
    // corrupted leg is only a proof if every bumped key lands OUTSIDE the
    // real key space — if orderkeys ever reach 1e9 at some SF, bumped keys
    // collide with real parents and BOTH engines agree on a silently
    // undercounted orphan mass (the worst failure mode: green hash, wrong
    // semantics). Two O(1)-result aggregates, driver-bounded. max() of an
    // EMPTY table is null (ADVICE r16) — read via Option so the guard
    // raises its own message, not a NullPointerException; an empty table
    // trivially satisfies the headroom (no key to collide).
    def maxKeyBelowBump(df: DataFrame, key: String): Boolean = {
      val r = df.agg(max(col(key))).head()
      r.isNullAt(0) || r.getLong(0) < 1000000000L
    }
    require(maxKeyBelowBump(ord, "o_orderkey") &&
      maxKeyBelowBump(li, "l_orderkey"),
      "orderkey space reaches the 1e9 bump offset — the planted corrupted " +
        "leg would collide with real keys and undercount orphans")
    val corrupted = li.select(
      expr("CASE WHEN l_orderkey % 97 = 0 THEN l_orderkey + 1000000000" +
        " ELSE l_orderkey END").as("k"))
    audit("lineitem->orders", li, "l_orderkey", ord, "o_orderkey",
        bcast = false)
      .unionByName(audit("lineitem->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey", bcast = true))
      .unionByName(audit("orders->customer", ord, "o_custkey",
        Tables.customer(s, d), "c_custkey", bcast = true))
      .unionByName(audit("corrupted_lineitem->orders", corrupted, "k", ord,
        "o_orderkey", bcast = false))
      .orderBy("fk_check")
  }

  /** B254 — KEY-UNIQUENESS AUDIT (B253's sibling: the dbt `unique` test):
    * per declared primary key, row count, distinct keys, duplicated-key
    * count and surplus rows (rows − distinct). Two clean keys audit the
    * real tables (zero surplus IS the assertion) and a third leg audits a
    * deliberately corrupted orders copy (every 101st row re-appended — the
    * B253 planted convention), reporting exactly the planted surplus.
    *
    * Scale posture: each check is one map-combinable key aggregate
    * (count + per-key counts collapsing to the duplicate summary — the
    * b42/b190 dup-statistics shape); no joins, no windows. */
  private val b254 = entry(
    "b254_uniqueness_audit",
    """WITH audits AS (
      |  SELECT 'orders.o_orderkey' AS uniq_check,
      |         (SELECT count(*) FROM orders) AS n_rows,
      |         (SELECT count(*) FROM (
      |            SELECT o_orderkey FROM orders GROUP BY 1
      |            HAVING count(*) > 1)) AS n_dup_keys,
      |         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
      |           AS n_surplus
      |  UNION ALL
      |  SELECT 'part.p_partkey',
      |         (SELECT count(*) FROM part),
      |         (SELECT count(*) FROM (
      |            SELECT p_partkey FROM part GROUP BY 1
      |            HAVING count(*) > 1)),
      |         (SELECT count(*) - count(DISTINCT p_partkey) FROM part)
      |  UNION ALL
      |  SELECT 'corrupted_orders.o_orderkey',
      |         (SELECT count(*) FROM orders)
      |           + (SELECT count(*) FROM orders WHERE o_orderkey % 101 = 0),
      |         (SELECT count(*) FROM (
      |            SELECT o_orderkey FROM (
      |              SELECT o_orderkey FROM orders
      |              UNION ALL
      |              SELECT o_orderkey FROM orders WHERE o_orderkey % 101 = 0)
      |            GROUP BY 1 HAVING count(*) > 1)),
      |         (SELECT count(*) FROM orders WHERE o_orderkey % 101 = 0))
      |SELECT uniq_check, CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(n_dup_keys AS BIGINT) AS n_dup_keys,
      |       CAST(n_surplus AS BIGINT) AS n_surplus
      |FROM audits ORDER BY uniq_check""".stripMargin) { (s, d) =>
    def audit(name: String, df: DataFrame, key: String): DataFrame = {
      val perKey = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      perKey.agg(sum("c").as("n_rows"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
          (sum("c") - count(lit(1))).as("n_surplus"))
        .select(lit(name).as("uniq_check"), col("n_rows"),
          col("n_dup_keys"), col("n_surplus"))
    }
    val ord = Tables.orders(s, d).select("o_orderkey")
    val corrupted = ord.unionByName(ord.filter(col("o_orderkey") % 101 === 0))
    audit("orders.o_orderkey", ord, "o_orderkey")
      .unionByName(audit("part.p_partkey",
        Tables.part(s, d).select("p_partkey"), "p_partkey"))
      .unionByName(audit("corrupted_orders.o_orderkey", corrupted,
        "o_orderkey"))
      .orderBy("uniq_check")
  }

  /** B255 — ACCEPTED-VALUES AUDIT (the third dbt-test staple alongside
    * B253 relationships and B254 unique): per declared categorical
    * column, rows, violations (values outside the accepted set) and, for
    * observability, the count of DISTINCT offending values. Two clean
    * columns assert zero on the real tables; a corrupted orders copy
    * (every 103rd status rewritten to 'X') reports exactly the planted
    * mass. Scale posture: one map-side `isin` filter + count per check —
    * the audit never shuffles at all. */
  private val b255 = entry(
    "b255_accepted_values_audit",
    """WITH audits AS (
      |  SELECT 'orders.o_orderstatus' AS av_check,
      |         (SELECT count(*) FROM orders) AS n_rows,
      |         (SELECT count(*) FROM orders
      |          WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS n_violations,
      |         (SELECT count(DISTINCT o_orderstatus) FROM orders
      |          WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS n_bad_values
      |  UNION ALL
      |  SELECT 'events.event_type',
      |         (SELECT count(*) FROM events),
      |         (SELECT count(*) FROM events
      |          WHERE event_type NOT IN ('view', 'click', 'purchase',
      |                                   'signup', 'error')),
      |         (SELECT count(DISTINCT event_type) FROM events
      |          WHERE event_type NOT IN ('view', 'click', 'purchase',
      |                                   'signup', 'error'))
      |  UNION ALL
      |  SELECT 'corrupted_orders.o_orderstatus',
      |         (SELECT count(*) FROM orders),
      |         (SELECT count(*) FROM (
      |            SELECT CASE WHEN o_orderkey % 103 = 0 THEN 'X'
      |                        ELSE o_orderstatus END AS st FROM orders)
      |          WHERE st NOT IN ('O', 'F', 'P')),
      |         (SELECT count(DISTINCT st) FROM (
      |            SELECT CASE WHEN o_orderkey % 103 = 0 THEN 'X'
      |                        ELSE o_orderstatus END AS st FROM orders)
      |          WHERE st NOT IN ('O', 'F', 'P')))
      |SELECT av_check, CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(n_violations AS BIGINT) AS n_violations,
      |       CAST(n_bad_values AS BIGINT) AS n_bad_values
      |FROM audits ORDER BY av_check""".stripMargin) { (s, d) =>
    def audit(name: String, df: DataFrame, c: String,
        ok: Seq[String]): DataFrame = {
      val bad = df.filter(!col(c).isin(ok: _*))
        .agg(count(lit(1)).as("n_violations"),
          countDistinct(col(c)).as("n_bad_values"))
      df.agg(count(lit(1)).as("n_rows")).crossJoin(broadcast(bad))
        .select(lit(name).as("av_check"), col("n_rows"),
          col("n_violations"), col("n_bad_values"))
    }
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
    val statuses = Seq("O", "F", "P")
    val corrupted = ord.select(
      expr("CASE WHEN o_orderkey % 103 = 0 THEN 'X' ELSE o_orderstatus END")
        .as("o_orderstatus"))
    audit("orders.o_orderstatus", ord, "o_orderstatus", statuses)
      .unionByName(audit("events.event_type",
        Tables.events(s, d).select("event_type"), "event_type",
        Seq("view", "click", "purchase", "signup", "error")))
      .unionByName(audit("corrupted_orders.o_orderstatus", corrupted,
        "o_orderstatus", statuses))
      .orderBy("av_check")
  }

  /** B281 expected Benford shares in bp: floor(log10(1 + 1/d)·10⁴),
    * d = 1..9 — frozen driver-side doubles shared by both SQL texts
    * (the geomNoiseLadder freeze convention). */
  private[graft] val BenfordExpBp: Seq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 10000).toLong)

  /** Benford inverse CDF over an integer uniform u ∈ [0, 2³¹):
    * digit = min{d : u < ⌊log10(d+1)·2³¹⌋} — 8 frozen thresholds,
    * ELSE 9 (log10(10) = 1 saturates the range). */
  private def benfordDigitLadder(uCol: String): String = {
    val whens = (1 to 8).map { d =>
      val t = math.floor(math.log10(d + 1.0) * PrivacyOps.UniformM).toLong
      s"WHEN $uCol < $t THEN $d"
    }
    s"(CASE ${whens.mkString(" ")} ELSE 9 END)"
  }

  private def benfordUSpark(keyExpr: String): String =
    s"(((${graft.llm.Winnowing.polyFoldSpark(keyExpr)})" +
      s" % ${PrivacyOps.UniformM}) * ${PrivacyOps.Knuth})" +
      s" % ${PrivacyOps.UniformM}"
  private def benfordUDuck(keyExpr: String): String =
    s"(((${graft.llm.Winnowing.polyFoldDuck(keyExpr)})" +
      s" % ${PrivacyOps.UniformM}) * ${PrivacyOps.Knuth})" +
      s" % ${PrivacyOps.UniformM}"

  /** B281 — BENFORD FIRST-DIGIT AUDIT (Benford 1938; Nigrini's forensic
    * accounting standard — the screening test an audit pipeline runs
    * over monetary columns before trusting them: fabricated or
    * unit-biased amounts betray themselves in the leading-digit
    * distribution): per (leg, digit 1..9), the count, observed share in
    * bp, the frozen expected Benford share [[BenfordExpBp]], the signed
    * deviation, and the leg's mean absolute deviation.
    *
    * Three legs (the b258/b276 planted convention): `orders` — the real
    * o_totalprice cents (TPC-H totals are range-concentrated, NOT
    * Benford; the audit REPORTS that honestly); `benford_plant` —
    * synthetic digits drawn from the exact Benford pmf via a frozen
    * 8-threshold inverse CDF over the seeded per-order uniform (the
    * geomNoiseLadder freeze), the audit's negative control (small MAD);
    * `uniform_plant` — digits 1 + (u mod 9), the classic fabrication
    * signature (MAD ~ 6× the Benford leg's), the positive control. The
    * spec pins the separation, not fixture-specific masses.
    *
    * Integer-exact: first digit via the decimal string head of the
    * BIGINT cents (no float log10 on the data path); shares/deviations
    * in bp by floor division.
    *
    * Scale posture: three map-side digit projections of ONE orders scan
    * unioned before a single (leg, digit) aggregate (≤ 27 groups); the
    * per-leg totals and MAD are windows over the 27-row rollup (the
    * b125 exception); the seeded draws are whole-stage-codegen'd CASE
    * ladders, no join anywhere. */
  private val b281 = entry(
    "b281_benford_audit", {
      val expCase = "CASE digit " + BenfordExpBp.zipWithIndex.map {
        case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ") + " END"
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM orders),
         |seeded AS (
         |  SELECT cents,
         |         ${benfordUDuck("('bf:' || CAST(o_orderkey AS VARCHAR))")}
         |           AS u
         |  FROM base),
         |legs AS (
         |  SELECT 'orders' AS leg,
         |         CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
         |           AS digit
         |  FROM seeded
         |  UNION ALL
         |  SELECT 'benford_plant', CAST(${benfordDigitLadder("u")} AS BIGINT)
         |  FROM seeded
         |  UNION ALL
         |  SELECT 'uniform_plant', 1 + u % 9 FROM seeded),
         |cnt AS (SELECT leg, digit, CAST(count(*) AS BIGINT) AS n
         |        FROM legs GROUP BY leg, digit),
         |grid AS (
         |  SELECT l.leg, CAST(d.digit AS BIGINT) AS digit
         |  FROM (VALUES ('orders'), ('benford_plant'), ('uniform_plant'))
         |         l(leg)
         |  CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) d(digit)),
         |cntf AS (
         |  SELECT g.leg, g.digit, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
         |  FROM grid g LEFT JOIN cnt c
         |    ON g.leg = c.leg AND g.digit = c.digit),
         |sh AS (
         |  SELECT leg, digit, n,
         |         CAST(n * 10000 // sum(n) OVER (PARTITION BY leg)
         |              AS BIGINT) AS obs_bp,
         |         CAST($expCase AS BIGINT) AS exp_bp
         |  FROM cntf),
         |dev AS (
         |  SELECT *, obs_bp - exp_bp AS dev_bp FROM sh)
         |SELECT leg, digit, n, obs_bp, exp_bp, dev_bp,
         |       CAST(sum(abs(dev_bp)) OVER (PARTITION BY leg) // 9
         |            AS BIGINT) AS mad_bp
         |FROM dev ORDER BY leg, digit""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val seeded = base.select(col("cents"),
      expr(benfordUSpark("concat('bf:', CAST(o_orderkey AS STRING))"))
        .as("u"))
    val legs = seeded.select(lit("orders").as("leg"),
        expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
      .unionByName(seeded.select(lit("benford_plant").as("leg"),
        expr(s"CAST(${benfordDigitLadder("u")} AS BIGINT)").as("digit")))
      .unionByName(seeded.select(lit("uniform_plant").as("leg"),
        expr("1 + u % 9").as("digit")))
    val wLeg = Window.partitionBy(col("leg"))
    val expCase = "CASE digit " + BenfordExpBp.zipWithIndex.map {
      case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ") + " END"
    // zero-fill the 1..9 digit grid per leg (ADVICE r17 #2): a digit
    // absent from a leg must contribute |0 − exp_bp| to the MAD, not be
    // silently excluded (latent on current fixtures — all 9 digits
    // appear — but a skewed real dataset would understate the MAD)
    val digits = s.range(1, 10).select(col("id").cast("long").as("digit"))
    val grid = Seq("orders", "benford_plant", "uniform_plant")
      .map(l => digits.select(lit(l).as("leg"), col("digit")))
      .reduce(_ unionByName _)
    val cnt = legs.groupBy("leg", "digit").agg(count(lit(1)).as("n"))
    grid.join(cnt, Seq("leg", "digit"), "left")
      .select(col("leg"), col("digit"),
        coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("obs_bp",
        expr(s"CAST(n * 10000 div sum(n) OVER (PARTITION BY leg)" +
          " AS BIGINT)"))
      .withColumn("exp_bp", expr(s"CAST($expCase AS BIGINT)"))
      .withColumn("dev_bp", col("obs_bp") - col("exp_bp"))
      .withColumn("mad_bp",
        expr("CAST(sum(abs(dev_bp)) OVER (PARTITION BY leg) div 9" +
          " AS BIGINT)"))
      .select("leg", "digit", "n", "obs_bp", "exp_bp", "dev_bp", "mad_bp")
      .orderBy("leg", "digit")
  }

  val entries: Seq[Entry] =
    Seq(b81, b82, b86, b185, b189, b192, b252, b253, b254, b255, b281)
}
