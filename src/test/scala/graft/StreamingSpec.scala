package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Streaming batch-equivalence + watermark tests (SURVEY §5B.5, B48-B54):
  * a file-chunked replay of the events table must converge to the batch
  * twin of each aggregation; a scripted late arrival must be dropped.
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sf = TestSession.sf0001

  private lazy val chunkDir: String = {
    val dir = TestDirs("graft_stream").toString
    StreamingOps.writeChunks(spark, sf, dir, n = 6)
    dir
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("B48: streaming tumbling window converges to batch twin") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.tumbling(StreamingOps.readStream(spark, chunkDir)),
      "t_tumbling", "complete")
    val batch = SparkEntry.queries("b48_window_tumbling_batch")(spark, sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("B80: stream-static enrichment join converges to batch twin") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.cohortHourly(StreamingOps.readStream(spark, chunkDir),
        StreamingOps.cohortDim(spark, sf)),
      "t_cohort", "complete")
    val batch = SparkEntry.queries("b80_stream_static_batch")(spark, sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("B49: streaming sliding window converges to batch twin") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sliding(StreamingOps.readStream(spark, chunkDir)),
      "t_sliding", "complete")
    val batch = SparkEntry.queries("b49_window_sliding_batch")(spark, sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("B50: streaming session windows converge to batch twin") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sessions(StreamingOps.readStream(spark, chunkDir)),
      "t_sessions", "complete")
    val batch = SparkEntry.queries("b50_window_session_batch")(spark, sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("B52: dropDuplicatesWithinWatermark removes replayed duplicates") {
    // duplicate chunk 0 as a later arrival (same event_ids, within horizon)
    val dir = TestDirs("graft_dups").toString
    val src = spark.read.parquet(s"$chunkDir/chunk_0000")
    src.write.parquet(s"$dir/chunk_0000")
    src.write.parquet(s"$dir/chunk_0001") // exact duplicates
    val streamed = StreamingOps.runToMemory(
      StreamingOps.dedup(StreamingOps.readStream(spark, dir)),
      "t_dedup", "append")
    assert(streamed.count() === src.count())
    assert(streamed.select("event_id").distinct().count() === src.count())
  }

  test("B55: stream-stream interval join converges to the batch twin") {
    val events = StreamingOps.readStream(spark, chunkDir)
    val (streamed, q) = StreamingOps.runToMemoryQ(
      StreamingOps.viewPurchaseJoin(events), "t_ssjoin", "append")
    val batch = SparkEntry.queries("b55_stream_join_batch")(spark, sf)
      .select("purchase_id", "view_id", "user_id", "gap_us")
    assert(sortedRows(streamed.select("purchase_id", "view_id", "user_id", "gap_us"))
      === sortedRows(batch))
    // bounded state (SCALE.md §3.5): the join buffers only rows the
    // watermark + interval bound still need — far fewer than the full
    // view/purchase history it would hold without eviction
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps.nonEmpty, "no state operator metrics for the join")
    val buffered = stateOps.map(_.numRowsTotal).sum
    val totalInput = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase")).count()
    assert(buffered < totalInput,
      s"join state ($buffered) did not stay below total input ($totalInput) — eviction broken")
  }

  test("B83: outer interval join emits watermark-driven nulls, converges to twin") {
    // A left-outer stream-stream join can only emit an UNMATCHED purchase
    // once the watermark proves no matching view can still arrive — the
    // tail of a finite replay would stay buffered forever. Flush sentinels
    // (one per side, far past max ts + interval + delay) advance the
    // watermark so every real purchase resolves; the sentinel ids are
    // filtered from the comparison (the sentinel purchase itself is the
    // one row legitimately still buffered at stop).
    val dir = TestDirs("graft_outer").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val flushTs = new Timestamp(maxTs.getTime + 10L * 3600 * 1000)
    import spark.implicits._
    val sentinelViewId = 9000001L
    val sentinelPurchaseId = 9000002L
    // exact-key sentinel handling (ADVICE r5): assert the fixture can't
    // collide with the sentinel ids instead of range-filtering real rows
    assert(ev.agg(max("event_id")).head().getLong(0) < sentinelViewId,
      "fixture event_id range grew into the sentinel ids")
    val flush = Seq(
      (sentinelViewId, flushTs, -1L, "view", 0.0, "{}"),
      (sentinelPurchaseId, flushTs, -2L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingOps.writeChunksDf(ev.unionByName(flush), dir, n = 6)
    val streamed = StreamingOps.runToMemory(
      StreamingOps.viewPurchaseJoinOuter(StreamingOps.readStream(spark, dir)),
      "t_ssouter", "append")
    val got = streamed.filter(col("purchase_id") =!= sentinelPurchaseId)
      .select("purchase_id", "view_id", "user_id", "gap_us")
    val batch = SparkEntry.queries("b83_stream_join_outer_batch")(spark, sf)
      .select("purchase_id", "view_id", "user_id", "gap_us")
    assert(sortedRows(got) === sortedRows(batch))
    // and the outer join genuinely adds view-less purchases vs the inner
    assert(got.filter(col("view_id").isNull).count() > 0,
      "fixture has no unmatched purchases — outer semantics untested")
  }

  test("B50+: event-time timers close every session, matching the batch twin") {
    // transformWithState + timers require the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // flush sentinel (its own user) advances the watermark past every
      // real session's end so the FINAL session per user — reachable only
      // through timer expiry — actually emits before the replay stops
      val dir = TestDirs("graft_sess_tws").toString
      val ev = graft.sources.Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val flushTs = new Timestamp(maxTs.getTime + 10L * 3600 * 1000)
      import spark.implicits._
      val flush = Seq((9000001L, flushTs, -1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      StreamingOps.writeChunksDf(ev.unionByName(flush), dir, n = 6)
      val streamed = StreamingOps.runToMemory(
        StreamingOps.sessionsTws(StreamingOps.readStream(spark, dir)),
        "t_sess_tws", "append")
      val got = streamed.filter(col("user_id") >= 0)
        .select(
          date_format(timestamp_micros(col("start_micros")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("user_id"), col("n"), col("total"))
      val batch = SparkEntry.queries("b50_window_session_batch")(spark, sf)
      // join on the session identity; totals compared with a float
      // tolerance (the processor folds in ts order, the batch agg in
      // partition order — same values, different float summation order)
      val joined = got.join(batch,
        Seq("session_start", "user_id", "n"), "full_outer")
      assert(got.count() === batch.count(),
        s"session count mismatch: ${got.count()} streamed vs ${batch.count()} batch")
      assert(joined.filter(got("total").isNull || batch("total").isNull).count() === 0,
        "a session exists on only one side")
      assert(joined.filter(abs(got("total") - batch("total")) > 1e-6).count() === 0)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("B53: stateful running balance folds to the batch per-user totals") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.runningBalance(StreamingOps.readStream(spark, chunkDir)),
      "t_balance", "append")
    // final emission per user = row with max n_events
    val finals = streamed.groupBy("user_id")
      .agg(max_by(col("balance"), col("n_events")).as("balance"),
        max(col("n_events")).as("n"))
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(round(sum(col("value")), 4).as("expected"), count(lit(1)).as("n_exp"))
    val joined = finals.join(batch, "user_id")
    assert(joined.filter(col("n") =!= col("n_exp")).count() === 0)
    assert(joined.filter(abs(col("balance") - col("expected")) > 1e-6).count() === 0)
  }

  test("B214: cross-chunk adjacencies count exactly once in the stateful " +
    "transition fold") {
    import java.sql.Timestamp
    import spark.implicits._
    // user 1's walk a->b->c->d straddles all three chunks (2 rows per
    // chunk under (ts, event_id) ordering with n = 3 over 6 rows); user
    // 2 interleaves to prove key isolation
    val rows = Seq(
      (1L, 1000L, 1L, "a"), (2L, 1500L, 2L, "x"),
      (1L, 2000L, 3L, "b"), (2L, 2500L, 4L, "y"),
      (1L, 3000L, 5L, "c"), (1L, 4000L, 6L, "d"))
    val df = rows.map { case (u, ms, id, t) =>
      (id, new Timestamp(ms), u, t)
    }.toDF("event_id", "ts", "user_id", "event_type")
    val dir = TestDirs("graft_b214_spec").toString
    StreamingOps.writeChunksDf(df, dir, n = 3)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = StreamingOps.runToMemory(
        StreamingOps.transitionPairsTws(StreamingOps.readStream(spark, dir, df.schema)),
        "t_transitions_spec", "append")
        .collect().map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got === Map(("a", "b") -> 1, ("b", "c") -> 1, ("c", "d") -> 1,
        ("x", "y") -> 1),
        "each adjacency (incl. the chunk-straddling ones) exactly once")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("B224: a purchase is attributed to a touch from an EARLIER chunk, " +
    "and pre-touch purchases land in (none)") {
    import java.sql.Timestamp
    import spark.implicits._
    // user 1: purchase BEFORE any touch (-> none), view in chunk 1,
    // purchase in chunk 3 (straddles two chunk boundaries); user 2's
    // click interleaves to prove key isolation
    val rows = Seq(
      (1L, 1000L, 1L, "purchase", 2.0), (1L, 1500L, 2L, "view", 0.0),
      (2L, 2000L, 3L, "click", 0.0), (2L, 2500L, 4L, "purchase", 3.0),
      (1L, 3000L, 5L, "error", 0.0), (1L, 4000L, 6L, "purchase", 5.0))
    val df = rows.map { case (u, ms, id, t, v) =>
      (id, new Timestamp(ms), u, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = TestDirs("graft_b224_spec").toString
    StreamingOps.writeChunksDf(df, dir, n = 3)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = StreamingOps.runToMemory(
        StreamingOps.attributionTws(StreamingOps.readStream(spark, dir, df.schema)),
        "t_attribution_spec", "append")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(got === Seq(("(none)", 200L), ("click", 300L), ("error", 500L)),
        "cross-chunk touch carry, (none) fallback, and key isolation")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("B234: the z-score deque carries across chunks — a spike after a " +
    "flat cross-chunk baseline flags, the baseline itself does not") {
    import java.sql.Timestamp
    import spark.implicits._
    // user 1: six flat $1.00 events spread over 3 chunks, then a $50 spike
    // (must flag with n = 7); user 2 interleaves flat (never flags)
    val rows = (1 to 6).map(i => (1L, i * 1000L, i.toLong, 1.0)) ++
      Seq((2L, 6500L, 90L, 2.0), (2L, 6600L, 91L, 2.0)) ++
      Seq((1L, 7000L, 7L, 50.0))
    val df = rows.map { case (u, ms, id, v) =>
      (id, new Timestamp(ms), u, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val dir = TestDirs("graft_b234_spec").toString
    StreamingOps.writeChunksDf(df, dir, n = 3)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = StreamingOps.runToMemory(
        StreamingOps.zscoreTws(StreamingOps.readStream(spark, dir, df.schema)),
        "t_zscore_spec", "append")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(got.length === 1, s"expected exactly the spike: ${got.toSeq}")
      val (u, eid, cents, n) = got.head
      assert(u === 1L && eid === 7L && cents === 5000L && n === 6L,
        "the spike must be judged against the SIX flat events carried " +
          "across all three chunks")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("B53 native: transformWithState running balance matches batch totals") {
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamingOps.runToMemory(
        StreamingOps.runningBalanceTws(StreamingOps.readStream(spark, chunkDir)),
        "t_balance_tws", "append")
      val finals = streamed.groupBy("user_id")
        .agg(max_by(col("balance"), col("n_events")).as("balance"),
          max(col("n_events")).as("n"))
      val batch = graft.sources.Tables.events(spark, sf)
        .groupBy("user_id")
        .agg(round(sum(col("value")), 4).as("expected"), count(lit(1)).as("n_exp"))
      val joined = finals.join(batch, "user_id")
      assert(joined.filter(col("n") =!= col("n_exp")).count() === 0)
      assert(joined.filter(abs(col("balance") - col("expected")) > 1e-6).count() === 0)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("B54+: checkpointed restart resumes without reprocessing (exactly-once source progress)") {
    // run 1 consumes the existing chunks to completion; run 2 restarts
    // from the SAME checkpoint after new chunks land and must process
    // ONLY those — the file-source offsets live in the checkpoint, which
    // is what makes a crashed job resumable without duplicates at scale
    val srcDir = TestDirs("graft_ckpt_src").toString
    val ckpt = TestDirs("graft_ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def drain(): Unit = {
      val q = StreamingOps.readStream(spark, srcDir)
        .select("event_id")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.collect().map(_.getLong(0)) }; ()
        }
        .start()
      q.awaitTermination()
    }
    val all = spark.read.parquet(s"$chunkDir/chunk_0000", s"$chunkDir/chunk_0001")
    spark.read.parquet(s"$chunkDir/chunk_0000").write.parquet(s"$srcDir/chunk_0000")
    drain()
    val afterRun1 = seen.size
    assert(afterRun1 === spark.read.parquet(s"$chunkDir/chunk_0000").count())
    spark.read.parquet(s"$chunkDir/chunk_0001").write.parquet(s"$srcDir/chunk_0001")
    drain() // restart from checkpoint
    assert(seen.size === all.count(), "restart reprocessed or dropped rows")
    assert(seen.distinct.size === seen.size, "duplicate event_ids across restart")
  }

  test("B51: late data behind the watermark is dropped (append mode)") {
    val dir = TestDirs("graft_late").toString
    def chunk(name: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit = {
      import spark.implicits._
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.parquet(s"$dir/$name")
      Thread.sleep(1100) // distinct mtimes → deterministic file-source order
    }
    // hour-10 window gets 2 on-time events; then time advances past 11:30.
    // Spark commits the advanced watermark one micro-batch after observing
    // the event that moves it, so chunk_0002 is the commit batch (watermark
    // 11:20 > window end 11:00 → hour-10 finalized there); the late event
    // for 10:05 then arrives behind the watermark — must NOT appear.
    chunk("chunk_0000", Seq(
      (1L, "2024-03-01 10:00:10", 1L, "view", 1.0, "{}"),
      (2L, "2024-03-01 10:20:00", 1L, "view", 1.0, "{}")))
    chunk("chunk_0001", Seq(
      (3L, "2024-03-01 11:30:00", 1L, "view", 1.0, "{}")))
    chunk("chunk_0002", Seq(
      (5L, "2024-03-01 11:35:00", 1L, "view", 1.0, "{}")))
    chunk("chunk_0003", Seq(
      (4L, "2024-03-01 10:05:00", 1L, "view", 100.0, "{}"))) // late
    val result = StreamingOps.runToMemory(
      StreamingOps.tumbling(StreamingOps.readStream(spark, dir)),
      "t_late", "append")
    val hour10 = result.filter(col("ws") === "2024-03-01 10:00").collect()
    assert(hour10.length === 1)
    assert(hour10.head.getAs[Long]("n") === 2, "late event leaked into closed window")
    assert(hour10.head.getAs[Double]("total") === 2.0)
  }

  test("B54/B5: foreachBatch HTTP submit delivers the FeatureCollection") {
    // in-process HTTP receiver (JDK httpserver) — B5 integration test
    val received = new java.util.concurrent.atomic.AtomicReference[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/etl", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes())
      received.set(body)
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/etl"
      val features = graft.wildweb.WildWebPipeline.run(
        spark, "/root/repo/fixtures/wildweb/run_ok",
        graft.wildweb.WildWebConfig("1 Week",
          java.time.Instant.parse("2026-01-15T12:00:00Z"))) match {
        case graft.wildweb.WildWebPipeline.Completed(f, _) => f
        case other => fail(s"unexpected $other")
      }
      val status = graft.sources.HttpSubmitSink.submit(features, url)
      assert(status === 200)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val got = mapper.readTree(received.get())
      assert(got.get("type").asText() === "FeatureCollection")
      assert(got.get("features").size() === 11)
    } finally server.stop(0)
  }

  test("B112: streamed index folds converge to the one-shot rebuild (b108)") {
    val streamed = SparkEntry.queries("b112_stream_index_merge")(spark, sf)
    val oneShot = SparkEntry.queries("b108_index_build")(spark, sf)
    assert(sortedRows(streamed) === sortedRows(oneShot))
  }

  test("B91: chunked submit delivers per partition — >1 POST, lossless reassembly") {
    // (chunkId -> body) landed idempotently, the b91 receiver contract
    val landed = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/submit", exchange => {
      val chunkId = exchange.getRequestHeaders.getFirst("X-Chunk-Id").toLong
      landed.put(chunkId, new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/submit"
      import spark.implicits._
      val df = (1 to 100).map(i => (i.toLong, s"row_$i")).toDF("id", "tag")
        .repartition(4) // forces multiple chunks
      val posts = graft.sources.HttpSubmitSink.submitJsonLinesChunked(df, url, 7L)
      assert(posts > 1, s"expected >1 POST from 4 partitions, got $posts")
      assert(landed.size().toLong === posts, "chunk ids collided across POSTs")
      // order-free reassembly: the concatenated chunk set re-reads to the
      // exact original rows — nothing lost or duplicated at boundaries
      import scala.jdk.CollectionConverters._
      val lines = landed.values().asScala.flatMap(_.split("\n")).toSeq
      val back = spark.read.schema("id LONG, tag STRING")
        .json(lines.toDS()).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(back === (1 to 100).map(i => (i.toLong, s"row_$i")).toSet)
    } finally server.stop(0)
  }
  test("B246: open islands straddle chunk boundaries — carry, touching-merge, " +
    "id continuity, and close-then-reopen all land batch-equal") {
    import spark.implicits._
    // 2 rows/chunk under (ts_us, event_id) order:
    //   u1: [1000,5000) c1 + [3000,4000) c2 merge across the boundary
    //       (island 1, 2 events); [9000,12000) c3 breaks -> island 2
    //   u2: [2000,2500) c1 closes; [6000,7000) c2 opens island 2, and
    //       [6500,8000) c3 OVERLAP-merges into it across the boundary
    val rows = Seq(
      (1L, 1L, 1000L, 5000L), (2L, 2L, 2000L, 2500L),
      (1L, 3L, 3000L, 4000L), (2L, 4L, 6000L, 7000L),
      (2L, 6L, 6500L, 8000L), (1L, 5L, 9000L, 12000L))
    val ev = rows.toDF("user_id", "event_id", "ts_us", "end_us")
    val cd = TestDirs("graft_b246_spec_c").toString
    val sd = TestDirs("graft_b246_spec_s").toString
    val got = graft.streaming.StreamReplay.runIntervalMerge(spark, ev, cd, sd, nChunks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (1L, 1L, 2L, 1000L, 5000L, 4L), (1L, 2L, 1L, 9000L, 12000L, 3L),
      (2L, 1L, 1L, 2000L, 2500L, 0L), (2L, 2L, 2L, 6000L, 8000L, 2L)))
    // the snapshot chain proves the straddle is real: after batch 0, u1's
    // island 1 is OPEN with 1 event; the final table shows it absorbed a
    // later chunk's event
    val v1 = spark.read.parquet(s"$sd/v1")
      .filter(col("user_id") === 1L && col("open") === 1).collect()
    assert(v1.length === 1 && v1.head.getAs[Long]("n_events") === 1L,
      "after chunk 1, u1's island must be open with exactly its first event")
  }
  test("B248: some (user, week) purchase sum straddles a chunk boundary — " +
    "the complete-mode fold is load-bearing, not incidental") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        expr(graft.operators.PipelineOps.weekFloorExpr).as("week"))
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4)))
    // replicate writeChunksDf's boundaries: 6 chunks of ceil(n/6) rows
    val per = math.max(1, (ev.length + 5) / 6)
    val chunkOf = ev.zipWithIndex
      .map { case ((_, u, t, w), i) => ((u, w, t), i / per) }
    val straddling = chunkOf.filter(_._1._3 == "purchase")
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
      .count(_._2 >= 2)
    assert(straddling > 0,
      "no (user, week) purchase mass crosses a chunk boundary — the " +
        "fixture would not exercise cross-batch accumulation")
  }

  test("B259: watermark-closed weekly fold emits the exact batch fold" +
    " and ends with BOUNDED state (only the sentinel key open)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = TestDirs("graft_week_close").toString
      val ev = graft.sources.Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      // sentinel must be a PURCHASE: predicate pushdown moves the purchase
      // filter below the watermark node (weeklyCentsTws scaladoc)
      val flushTs = new Timestamp(maxTs.getTime + 8L * 24 * 3600 * 1000)
      import spark.implicits._
      val flush = Seq((9000003L, flushTs, -1L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      StreamingOps.writeChunksDf(ev.unionByName(flush), dir, n = 6)
      val (streamed, q) = StreamingOps.runToMemoryQ(
        StreamingOps.weeklyCentsTws(StreamingOps.readStream(spark, dir)),
        "t_week_close", "append")
      val got = streamed.filter(col("user_id") =!= -1L)
      val batch = graft.sources.Tables.events(spark, sf)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          expr(graft.operators.PipelineOps.weekFloorExpr).as("week"))
        .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
      assert(sortedRows(got) === sortedRows(batch),
        "emit-on-watermark-close diverged from the batch weekly fold")
      // the production state bound: every real (user, week) closed and
      // CLEARED when the watermark passed its week end — only the
      // sentinel's own key (whose close the watermark never reaches) may
      // remain, vs the ∝ pairs-seen state a complete-mode fold holds
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty, "no state operator metrics")
      val remaining = stateOps.map(_.numRowsTotal).sum
      val pairs = batch.count()
      assert(remaining <= 1,
        s"$remaining state rows remain after the replay — weeks did not " +
          s"close on watermark (expected <= 1 of $pairs pairs: the sentinel)")
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("B269: watermark-closed interval islands emit the exact batch" +
    " coalesce and end with BOUNDED state (only the sentinel open);" +
    " the moving-end timer re-arm is exercised by a mid-stream gap") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = TestDirs("graft_island_close").toString
      val ev = graft.sources.Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val flushTs = new Timestamp(maxTs.getTime + 8L * 24 * 3600 * 1000)
      import spark.implicits._
      val flush = Seq((9000004L, flushTs, -1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      StreamingOps.writeChunksDf(ev.unionByName(flush), dir, n = 6)
      val (streamed, q) = StreamingOps.runToMemoryQ(
        StreamingOps.intervalIslandsTws(StreamingOps.readStream(spark, dir)),
        "t_island_close", "append")
      val got = streamed.filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("n_events"), col("start_us"),
          col("end_us"))
      val batch = SparkEntry.queries("b203_interval_coalesce")(spark, sf)
        .select(col("user_id"), col("n_events"), col("start_us"),
          col("end_us"))
      assert(sortedRows(got) === sortedRows(batch),
        "emit-on-watermark-close diverged from the batch interval coalesce")
      // the state bound this row exists for: every island emitted AND
      // cleared — live state is the open-island value alone, so only the
      // sentinel's never-closing island may remain. A per-user id counter
      // would make this |users|+1 (the bug the rank-in-tail design fixed).
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty, "no state operator metrics")
      val remaining = stateOps.map(_.numRowsTotal).sum
      assert(remaining <= 1,
        s"$remaining state rows remain — islands did not close on watermark")
      // the fixture must exercise the TIMER path mid-stream, not only
      // eager closes: some user's inter-island gap must exceed the chunk
      // span so its open island's timer fires before its next event
      val users = ev.filter(col("user_id") =!= -1L)
        .select("user_id").distinct().count()
      assert(got.count() > users,
        "every user has one island — no island ever closed mid-stream")
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("B283: watermark-closed day counts equal the batch rollup, the" +
    " CUSUM twin equals the batch detector row-for-row, and state is" +
    " bounded to the sentinel's open window") {
    val dir = TestDirs("graft_cusum_stream").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val flushTs = new Timestamp(maxTs.getTime + 8L * 24 * 3600 * 1000)
    import spark.implicits._
    val flush = Seq((9000005L, flushTs, -1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingOps.writeChunksDf(ev.unionByName(flush), dir, n = 6)
    val (days, q) = StreamingOps.runToMemoryQ(
      StreamingOps.dailyCountsAppend(StreamingOps.readStream(spark, dir)),
      "t_cusum_days", "append")
    // the emitted relation IS the real day series (the sentinel's own
    // window never closes, so no key filter exists to get wrong)
    val batchDays = ev
      .groupBy(expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01')" +
        " AS BIGINT)").as("day_id"))
      .agg(count(lit(1)).as("n"))
    assert(sortedRows(days) === sortedRows(batchDays),
      "watermark-closed day counts diverged from the batch rollup")
    // streamed twin == batch detector, row for row
    val got = SparkEntry.queries("b283_stream_cusum")(spark, sf).collect()
    val want = SparkEntry.queries("b276_cusum_changepoint")(spark, sf)
      .collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq,
      "streamed CUSUM diverged from the batch detector")
    // state bound: every real day window emitted AND cleared; only the
    // sentinel's far-future window may remain open
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps.nonEmpty, "no state operator metrics")
    val remaining = stateOps.map(_.numRowsTotal).sum
    assert(remaining <= 1,
      s"$remaining state rows remain — day windows did not close on" +
        " watermark")
  }
}


