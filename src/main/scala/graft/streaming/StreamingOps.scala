package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.exec.WorkDirs

/** Structured Streaming operators (SURVEY B48-B54) over a file-chunked
  * replay of the events table. Every aggregation has a batch twin
  * registered as a t2 query (StreamingBatchTwins) — the streaming runs are
  * validated by batch-equivalence (SURVEY §5B.5) in StreamingSpec.
  *
  * Scale posture: all stateful ops are keyed → state is hash-partitioned
  * across executors and bounded by the watermark (windows expire, dedup
  * buffers age out); file-source replay is Trigger.AvailableNow for batch
  * catch-up, ProcessingTime for live tailing. The submit sink is
  * foreachBatch → idempotent-by-batch-id POST (HttpSubmitSink).
  */
object StreamingOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Split the batch events table into `n` ordered parquet chunk files under
    * `dir` (named so the file source lists them in order — SURVEY §7 hard
    * point 5), simulating arrival order by event time. */
  def writeChunks(spark: SparkSession, sfDir: String, dir: String, n: Int): Unit =
    writeChunksDf(
      graft.sources.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      dir, n)

  /** [[writeChunks]] over an arbitrary events-shaped DataFrame (the b52
    * replay injects duplicate rows before chunking). Exact-duplicate rows
    * share their (ts, event_id) sort key, so they land adjacent — same or
    * neighboring chunk — which keeps them inside any watermark horizon. */
  def writeChunksDf(events: DataFrame, dir: String, n: Int,
      sortCols: Seq[String] = Seq("ts", "event_id")): Unit =
    writeChunksWith(events, dir, n, sortCols) { (df, path) =>
      df.write.mode("overwrite").parquet(path)
    }

  /** The one collect-order-chunk loop behind every replay serializer
    * (parquet and JSON share ordering semantics by construction — the two
    * copies previously here could silently diverge). Test-scale replay
    * harness only: collects the full table to the driver to cut exact,
    * deterministic chunk boundaries. */
  private def writeChunksWith(events: DataFrame, dir: String, n: Int,
      sortCols: Seq[String])(write: (DataFrame, String) => Unit): Unit = {
    // chunk count varies with row count (ceil(rows/n) per chunk), so a
    // same-JVM re-run against a smaller dataset would leave stale
    // chunk_NNNN dirs that the readStream chunk_* glob replays — clear
    // them first
    Option(new java.io.File(dir).listFiles()).foreach(
      _.filter(_.getName.startsWith("chunk_")).foreach(f => WorkDirs.delete(f.toPath)))
    val spark = events.sparkSession
    val ordered = events.orderBy(sortCols.map(col): _*)
    val rows = ordered.collect()
    val perChunk = math.max(1, (rows.length + n - 1) / n)
    rows.grouped(perChunk).zipWithIndex.foreach { case (chunk, i) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toSeq, 1), ordered.schema)
      write(df.coalesce(1), f"$dir/chunk_$i%04d")
    }
  }

  /** File-source stream over the chunk directory (one chunk per trigger →
    * deterministic arrival order). Defaults to the events shape; B72
    * streams change batches through the same reader with its own schema. */
  def readStream(spark: SparkSession, dir: String,
      schema: StructType = eventSchema): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/chunk_*")

  /** Timestamp format carrying MICROSECOND precision through JSON — the
    * default JSON timestamp format is millisecond-granular and would
    * silently truncate event times (diverging every event-time operator
    * downstream). Shared by the B89 writer and reader. */
  val JsonTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** JSON-lines chunk replay (B89): THE SAME chunking loop as
    * [[writeChunksDf]] — only the serializer differs — so the two formats
    * cannot drift in ordering semantics. */
  def writeChunksJson(events: DataFrame, dir: String, n: Int,
      sortCols: Seq[String] = Seq("ts", "event_id")): Unit =
    writeChunksWith(events, dir, n, sortCols) { (df, path) =>
      df.write.mode("overwrite")
        .option("timestampFormat", JsonTsFormat)
        .json(path)
    }

  /** File-source stream over JSON chunks (explicit schema — inference is
    * forbidden at scale, and a streaming source cannot infer anyway). */
  def readStreamJson(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .option("timestampFormat", JsonTsFormat)
      .json(s"$dir/chunk_*")

  /** B48 — tumbling 1h window counts/sums per event_type, with watermark. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
        col("event_type"), col("n"), col("total"))

  /** B49 — sliding 1h window, 15min slide. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
        col("event_type"), col("n"), col("total"))

  /** B50 — session windows, 30min gap per user. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        col("user_id"), col("n"), col("total"))

  /** B283 — tumbling 1-DAY counts in append mode: each day's count emits
    * exactly when the watermark passes the day end (state ∝ OPEN windows
    * inside the watermark horizon, never ∝ days seen); day_id matches
    * the b276 batch rollup's datediff under the UTC session (epoch-
    * aligned day windows ≡ CAST(ts AS DATE)). */
  def dailyCountsAppend(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(
        expr("CAST(datediff(CAST(window.start AS DATE), DATE '2024-01-01')" +
          " AS BIGINT)").as("day_id"),
        col("n"))

  /** B52 — streaming dedup within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** B53 — arbitrary stateful per-key processing: running balance per user
    * via flatMapGroupsWithState (the documented fallback for
    * transformWithState, SURVEY §7 hard point 4). State is one (count, sum)
    * pair per user; each micro-batch emits the updated balance, so the
    * last emission per user (max n_events) is the final fold. */
  def runningBalance(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Double)],
              state: GroupState[(Long, Double)]) =>
          var (n, bal) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, _, v) => n += 1; bal += v }
          state.update((n, bal))
          Iterator((userId, n, math.rint(bal * 10000) / 10000))
      }
      .toDF("user_id", "n_events", "balance")
  }

  /** B53 (t2 twin) — the same per-key fold over EXACT integer cents
    * (`cents` column pre-computed with Spark SQL round, which agrees with
    * DuckDB's — proven by b22): the state is a (count, Long cents) pair,
    * so the fold is order-independent and the final emission per user
    * hash-matches a DuckDB GROUP BY with no float-summation drift. This is
    * what makes B53 driver-visible (b53_stream_balance) rather than
    * spec-only. */
  def runningBalanceCents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("event_id"), col("cents"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, rows: Iterator[(Long, Long, Long)],
              state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, _, c) => n += 1; cents += c }
          state.update((n, cents))
          Iterator((userId, n, cents))
      }
      .toDF("user_id", "n_events", "balance_cents")
  }

  /** B53 (native path) — the same running balance on Spark 4's
    * transformWithState: a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * with a typed ValueState. Preferred over flatMapGroupsWithState when
    * available (composable state variables, TTL support, timers); both are
    * kept since the survey flags transformWithState as the newest API
    * (SURVEY §7 hard point 4). Requires the RocksDB state store provider.
    */
  def runningBalanceTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
    typed.groupByKey(_._1)
      .transformWithState(new BalanceProcessor(), TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "n_events", "balance")
  }

  /** B55 — stream-stream interval join: each purchase joined to the same
    * user's view events in the preceding 4 hours. BOTH sides carry a
    * watermark and the join condition bounds event time in both
    * directions, so Spark can expire buffered rows from the join state —
    * the unbounded-state trap of stream-stream joins (state would
    * otherwise grow with the full history). Equi key user_id keeps it a
    * hash-partitioned stateful join. Batch twin: b55_stream_join_batch. */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(views,
        col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 240 MINUTES") &&
        col("v_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** B83 — stream-stream LEFT OUTER interval join: B55's join, but every
    * purchase survives — view-less purchases emit with NULL view columns.
    * The semantic difference is WHEN: an inner join emits matches as they
    * arrive, but an outer row can only emit once the watermark proves no
    * matching view can still arrive (p_ts + interval < watermark), so
    * null-emission is watermark-DRIVEN — the part batch twins can't show
    * and StreamingSpec pins with a flush sentinel that advances the
    * watermark past the tail. State stays bounded exactly as B55 (both
    * sides watermarked + time-range condition → eviction).
    *
    * ONE implementation for both modes (the b62/b72/b80 sharing rule):
    * batch execution drops the watermarks (EliminateEventTimeWatermark)
    * and plans a plain left join — the t2-checked
    * b83_stream_join_outer_batch twin. */
  def viewPurchaseJoinOuter(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(views,
        col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 240 MINUTES") &&
        col("v_ts") <= col("p_ts"),
        "leftOuter")
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** B80 — stream-static enrichment join: the streaming fact joined to a
    * STATIC (batch) dimension, then a windowed per-cohort aggregate. ONE
    * implementation for both execution modes (the b62/b72 sharing rule):
    * with a streaming `events` this plans a stateless per-micro-batch
    * broadcast join + stateful windowed agg; with a batch `events` the
    * EliminateEventTimeWatermark rule drops the watermark and it IS the
    * t2-checked batch twin (b80_stream_static_batch). Only the stream
    * side keeps state — a static dim needs none (vs B55's double-buffered
    * stream-stream join), which is why enrichment dims should join
    * stream-static whenever freshness allows. */
  def cohortHourly(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(dim, "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("cohort"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("ws"),
        col("cohort"), col("n"), col("total"))

  /** The B80 static dimension: per-user cohort, derived from the batch
    * events table (stands in for a slowly-changing user dim). */
  def cohortDim(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("cohort", col("user_id") % 10)

  /** B50+ (native timers) — session windows via [[SessionProcessor]]:
    * transformWithState with EVENT-TIME timers, the only mechanism that
    * can ever emit a key's final session in a stream (session_window
    * relies on the engine's internal state timeout; this is the
    * user-managed equivalent). Micros carried alongside the watermark
    * column so the fold uses the b50 micros-exact gap rule. */
  def sessionsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsm"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(), TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "start_micros", "n", "total")
  }

  /** [[sessionsTws]] folding EXACT integer cents (the b53 convention) —
    * the deterministic instance the driver-visible b88 entry replays. */
  def sessionsCentsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsm"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessorCents(), TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "start_micros", "n", "cents")
  }

  /** The B259 watermark-closed weekly fold: purchases keyed by (user,
    * week), each week emitting its FINAL cents total when the watermark
    * passes its close ([[WeekCloseProcessor]]). NOTE: the watermark is
    * declared before the purchase filter, but predicate PUSHDOWN moves
    * the filter below the EventTimeWatermark node — only rows surviving
    * the filter advance the watermark (measured: a view-typed sentinel
    * never closed the last week). A flush sentinel must therefore be a
    * purchase; callers filter its key from the emitted set (the b88
    * sentinel convention). */
  def weeklyCentsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr(graft.operators.PipelineOps.weekFloorExpr).as("week"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(t => (t._1, t._2))
      .transformWithState(new WeekCloseProcessor(), TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("user_id", "week", "cents")
  }

  /** The B269 watermark-closed interval-island fold: every event opens
    * [ts, ts + cents·1s); a user's overlapping-or-touching intervals
    * coalesce, each island emitting its FINAL row when the watermark
    * passes its (moving) end ([[IslandCloseProcessor]]). No filter sits
    * between the watermark node and the fold, so EVERY event advances
    * the watermark — the flush sentinel can be any event row. */
  def intervalIslandsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (unix_micros(col("ts")) +
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000L"))
          .as("end_us"),
        col("ts"))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new IslandCloseProcessor(), TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("user_id", "n_events", "start_us", "end_us")
  }

  /** The B214 stateful adjacency fold: (user, ts, event_id, type) stream
    * → (prev_type, next_type) emissions via [[TransitionProcessor]]. */
  def transitionPairsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TransitionProcessor(), TimeMode.None(),
        OutputMode.Append())
      .toDF("prev_type", "next_type")
  }

  /** The B224 stateful attribution fold: (user, ts, event_id, type,
    * value) stream → (channel, cents) emissions via
    * [[AttributionProcessor]]. */
  def attributionTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new AttributionProcessor(), TimeMode.None(),
        OutputMode.Append())
      .toDF("channel", "cents")
  }

  /** The B234 stateful z-score monitor: (user, ts, event_id, value)
    * stream → flagged (user, event_id, cents, n, dev2, thr) emissions via
    * [[ZScoreProcessor]]. */
  def zscoreTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new ZScoreProcessor(), TimeMode.None(),
        OutputMode.Append())
      .toDF("user_id", "event_id", "cents", "n", "dev2", "thr")
  }

  /** Run a streaming DataFrame to completion against the memory sink
    * (Trigger.AvailableNow — B54) and return the materialized result.
    * The sink's view `name` replaces any existing view of that name, so
    * an entry re-run in the same session starts from an empty sink. */
  def runToMemory(df: DataFrame, name: String, mode: String): DataFrame =
    runToMemoryQ(df, name, mode)._1

  /** [[runToMemory]] variant that also returns the finished query handle
    * (for progress/state-metrics assertions). */
  def runToMemoryQ(df: DataFrame, name: String, mode: String): (DataFrame, StreamingQuery) = {
    df.sparkSession.catalog.dropTempView(name)
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (df.sparkSession.table(name), q)
  }

  /** B54 — foreachBatch sink variant: apply `f` per micro-batch. */
  def runForeachBatch(df: DataFrame, mode: String)(f: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
    q.awaitTermination()
    q
  }
}
