package graft

import java.nio.file.Files
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.HttpSubmitSink
import graft.wildweb.{WildWebConfig, WildWebPipeline}

/** Reference-semantics golden test (SURVEY §5B.3): the Spark pipeline's
  * FeatureCollection must equal fixtures/wildweb/expected_featurecollection
  * .json, which tools/make_wildweb_fixtures.py derives independently from
  * the reference semantics (task.ts:109-140). Covers every CHANGELOG-
  * documented edge: null data, bad coords, sign flip, range boundary.
  */
class WildWebPipelineSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val okDir = "/root/repo/fixtures/wildweb/run_ok"
  private val abortDir = "/root/repo/fixtures/wildweb/run_abort"
  private val now = Instant.parse("2026-01-15T12:00:00Z")
  private val mapper = new ObjectMapper()

  test("golden: 1 Week run over run_ok matches expected FeatureCollection") {
    WildWebPipeline.run(spark, okDir, WildWebConfig("1 Week", now)) match {
      case WildWebPipeline.Completed(features, errors) =>
        assert(errors.count() === 0)
        val got = mapper.readTree(WildWebPipeline.featureCollectionJson(features))
        val expected = mapper.readTree(
          new java.io.File("/root/repo/fixtures/wildweb/expected_featurecollection.json"))
        assert(got === expected)
      case other => fail(s"expected Completed, got $other")
    }
  }

  test("A7: each IncidentRange keeps the right incident set") {
    def ids(range: String): Set[String] = {
      val envs = WildWebPipeline.readEnvelopes(spark, okDir)
      WildWebPipeline.features(WildWebPipeline.incidents(envs), WildWebConfig(range, now))
        .select("id").collect().map(_.getString(0)).toSet
    }
    val bad = Set("wildweb-x006", "wildweb-x007") // 1h old, always kept
    assert(ids("24 Hours") === bad ++ Set("wildweb-w001", "wildweb-w002",
      "wildweb-w009", "wildweb-w010"))
    assert(ids("48 Hours") === bad ++ Set("wildweb-w001", "wildweb-w002",
      "wildweb-w003", "wildweb-w009", "wildweb-w010"))
    assert(ids("72 Hours") === bad ++ Set("wildweb-w001", "wildweb-w002",
      "wildweb-w003", "wildweb-w004", "wildweb-w009", "wildweb-w010"))
    // 1 Week: w006 sits exactly at now-168h — kept (strictly-older dropped)
    assert(ids("1 Week").contains("wildweb-w006"))
    assert(!ids("1 Week").contains("wildweb-w008"))
  }

  test("A10: longitude negation is unconditional (negative source flips positive)") {
    val envs = WildWebPipeline.readEnvelopes(spark, okDir)
    val feats = WildWebPipeline.features(
      WildWebPipeline.incidents(envs), WildWebConfig("1 Week", now))
    val coords = feats.filter(org.apache.spark.sql.functions.col("id") === "wildweb-w009")
      .select("geometry.coordinates").collect().head.getSeq[Double](0)
    assert(coords === Seq(120.5, 31.0))
  }

  test("A4: multi-element envelope aborts the whole run (nothing submitted)") {
    assert(WildWebPipeline.run(spark, abortDir, WildWebConfig("1 Week", now))
      === WildWebPipeline.Aborted)
  }

  test("A14: corrupt center is quarantined, others still produce features") {
    val dir = TestDirs("wildweb_corrupt")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$okDir/center_ok.json"),
        dir.resolve("center_ok.json"))
      java.nio.file.Files.writeString(dir.resolve("center_corrupt.json"),
        """{"not": "an envelope" ~~~garbage""")
      WildWebPipeline.run(spark, dir.toString, WildWebConfig("1 Week", now)) match {
        case WildWebPipeline.Completed(features, errors) =>
          assert(errors.select("center").collect().map(_.getString(0)).toSeq
            === Seq("center_corrupt"))
          assert(features.count() === 9) // center_ok's surviving incidents
        case other => fail(s"expected Completed, got $other")
      }
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("A7/A8 divergence pinned: unparseable date drops the ROW; the reference quarantines the CENTER") {
    // Reference trajectory for a garbage date: moment('not-a-date') is
    // invalid, isBefore() returns false so the A7 range gate does NOT skip
    // it, then toISOString() yields null and `.replace` throws
    // (task.ts:113,118) into the per-center catch (task.ts:144) — one bad
    // date costs the center its WHOLE batch. graft diverges deliberately:
    // try_to_timestamp nulls the row out of the A7 filter, the center's
    // remaining incidents flow, and nothing lands in quarantine —
    // row-level damage control instead of center-level collateral (at
    // scale one poisoned row must not sink a shard). This fixture pins
    // the divergence so it stays an audited decision, not an accident.
    val dir = TestDirs("wildweb_baddate")
    try {
      java.nio.file.Files.writeString(dir.resolve("center_baddate.json"),
        """[{"retrieved": "2026-01-15T12:00:00Z", "data": [
          |  {"uuid": "bd1", "name": "GHOST FIRE", "date": "not-a-date",
          |   "latitude": "34.1", "longitude": "118.1"},
          |  {"uuid": "bd2", "name": "REAL FIRE", "date": "2026-01-15T10:00:00Z",
          |   "latitude": "34.2", "longitude": "118.2"}
          |]}]""".stripMargin)
      WildWebPipeline.run(spark, dir.toString, WildWebConfig("1 Week", now)) match {
        case WildWebPipeline.Completed(features, errors) =>
          assert(errors.count() === 0,
            "graft must NOT center-quarantine on a bad date (the reference would)")
          val ids = features.select("id").collect().map(_.getString(0)).toSeq
          assert(ids === Seq("wildweb-bd2"),
            "the unparseable-date row must drop; its center-mates must survive")
        case other => fail(s"expected Completed, got $other")
      }
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  /** Runs `body` over a temporary landed directory of `<center>.json`
    * files with the given contents. */
  private def landed[T](centers: (String, String)*)(body: String => T): T = {
    val dir = TestDirs("wildweb_landed")
    try {
      for ((c, text) <- centers) Files.writeString(dir.resolve(s"$c.json"), text)
      body(dir.toString)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  private def incident(uuid: String): String =
    s"""{"uuid": "$uuid", "name": "FIRE $uuid", "date": "2026-01-15T10:00:00Z",
       | "latitude": "34.2", "longitude": "118.2"}""".stripMargin

  private def envelope(uuids: String*): String =
    s"""{"retrieved": "2026-01-15T12:00:00Z", "data": [${uuids.map(incident).mkString(",")}]}"""

  private val corrupt = """{"not": "an envelope" ~~~garbage"""

  test("body order is Spark's orderBy(\"id\") order: UTF-8 bytes, not UTF-16 units") {
    // U+FF01 is EF BC 81 in UTF-8 and FF01 in UTF-16; U+1F525 is F0 9F 94 A5
    // and the surrogate pair D83D DD25: the two encodings order them apart
    val uuids = Seq("\uFF01", "\uD83D\uDD25", "z", "A", "\u00E9")
    landed("center_a" -> s"[${envelope(uuids.take(3): _*)}]",
        "center_b" -> s"[${envelope(uuids.drop(3): _*)}]") { dir =>
      WildWebPipeline.run(spark, dir, WildWebConfig("1 Week", now)) match {
        case WildWebPipeline.Completed(features, _) =>
          val want = features.orderBy("id").select("id").collect().map(_.getString(0)).toSeq
          assert(want.sorted !== want, "the ids must order differently in UTF-16")
          val body = mapper.readTree(WildWebPipeline.featureCollectionJson(features))
          val got = (0 until body.get("features").size())
            .map(i => body.get("features").get(i).get("id").asText())
          assert(got === want)
        case other => fail(s"expected Completed, got $other")
      }
    }
  }

  test("A4: a center whose body is [] aborts the run without failing it") {
    landed("center_ok" -> s"[${envelope("e1")}]", "center_empty" -> "[]") { dir =>
      assert(WildWebPipeline.run(spark, dir, WildWebConfig("1 Week", now))
        === WildWebPipeline.Aborted)
    }
  }

  test("A4 over A14: a corrupt center next to a multi-element center aborts") {
    landed("center_corrupt" -> corrupt,
        "center_multi" -> s"[${envelope("m1")}, ${envelope("m2")}]") { dir =>
      assert(WildWebPipeline.run(spark, dir, WildWebConfig("1 Week", now))
        === WildWebPipeline.Aborted)
    }
  }

  test("A14: every center corrupt completes with no features and every center quarantined") {
    landed("center_c2" -> corrupt, "center_c1" -> corrupt, "center_c3" -> "[{") { dir =>
      WildWebPipeline.run(spark, dir, WildWebConfig("1 Week", now)) match {
        case WildWebPipeline.Completed(features, errors) =>
          val body = mapper.readTree(WildWebPipeline.featureCollectionJson(features))
          assert(body === mapper.readTree("""{"type":"FeatureCollection","features":[]}"""))
          assert(errors.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
            Seq("center_c1", "center_c2", "center_c3").map(_ -> "envelope decode failed"))
        case other => fail(s"expected Completed, got $other")
      }
    }
  }

  test("A14: a quarantined center keeps its name when its file name needs URI escaping") {
    // the landed file's path reaches Spark as a URI: ' ' reads as %20,
    // '%' as %25, and '+' must not decode to a space
    val centers = Seq("CA KRN", "a+b", "CA%41")
    val dir = TestDirs("wildweb_names")
    val (landed, fetchErrors) = graft.sources.WildWebFetcher.fetchAll(
      centers, c => s"http://feed.invalid/$c", dir.toString,
      _ => (200, corrupt.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(landed === centers && fetchErrors.isEmpty)
    WildWebPipeline.run(spark, dir.toString, WildWebConfig("1 Week", now)) match {
      case WildWebPipeline.Completed(_, errors) =>
        assert(errors.select("center").collect().map(_.getString(0)).toSeq === centers.sorted)
      case other => fail(s"expected Completed, got $other")
    }
  }

  test("no landed center (every fetch failed) completes with nothing to submit or quarantine") {
    landed() { dir =>
      WildWebPipeline.run(spark, dir, WildWebConfig("1 Week", now)) match {
        case WildWebPipeline.Completed(features, errors) =>
          assert(features.count() === 0 && errors.count() === 0)
        case other => fail(s"expected Completed, got $other")
      }
    }
  }

  test("an invocation is two Spark jobs and no shuffle: run, submit, error epilogue") {
    val sc = spark.sparkContext
    val described = "wildweb-job-shape"
    val sentinel = "wildweb-job-shape-end"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val sentinelEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        d.foreach(jobs.put(e.jobId, _))
        if (d.contains(described)) e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageJob.containsKey(e.stageInfo.stageId)) {
          val m = e.stageInfo.taskMetrics
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.get(e.jobId) == sentinel) sentinelEnded.countDown()
    }
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/submit", exchange => {
      exchange.getRequestBody.readAllBytes()
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    server.start()
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(described)
      WildWebPipeline.run(spark, okDir, WildWebConfig("1 Week", now)) match {
        case WildWebPipeline.Completed(features, errors) =>
          HttpSubmitSink.submit(features, s"http://localhost:${server.getAddress.getPort}/submit")
          assert(errors.collect().isEmpty)
        case other => fail(s"expected Completed, got $other")
      }
      // listener events arrive in order: once the sentinel job's end is
      // seen, every event of the invocation's jobs has been delivered
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelEnded.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val invocationJobs = jobs.asScala.collect { case (id, `described`) => id }
      assert(invocationJobs.size === 2, s"jobs: ${jobs.asScala.toSeq.sorted}")
      assert(shuffleBytes.get() === 0L)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
      server.stop(0)
    }
  }

  test("invalid IncidentRange is rejected at config parse (A1)") {
    intercept[IllegalArgumentException] {
      WildWebConfig("12 Hours", now).rangeHours
    }
  }
}
