package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.WildWebFetcher

/** A2 live-fetch semantics: sequential order, per-center quarantine on
  * failure, landed files feed the pipeline. */
class WildWebFetcherSpec extends AnyFunSuite {

  test("fetch is sequential, errors quarantine the center and continue") {
    val order = scala.collection.mutable.ArrayBuffer[String]()
    val inFlight = new AtomicInteger(0)
    val ok = """[{"retrieved": "2026-01-15T12:00:00Z", "data": null}]""".getBytes("UTF-8")
    val transport: String => (Int, Array[Byte]) = { url =>
      assert(inFlight.incrementAndGet() === 1, "concurrent fetch detected")
      try {
        order += url
        url match {
          case u if u.contains("BAD-HTTP") => (500, "boom".getBytes("UTF-8"))
          case u if u.contains("BAD-NET")  => throw new java.io.IOException("reset")
          case _ => (200, ok)
        }
      } finally inFlight.decrementAndGet()
    }
    val dir = TestDirs("graft_fetch").toString
    val centers = Seq("AZ-PDC", "BAD-HTTP", "CO-PBC", "BAD-NET", "NM-ABC")
    val (landed, errors) = WildWebFetcher.fetchAll(
      centers, c => s"https://example.test/centers/$c/incidents", dir, transport)
    assert(landed === Seq("AZ-PDC", "CO-PBC", "NM-ABC"))
    assert(errors.map(_._1) === Seq("BAD-HTTP", "BAD-NET"))
    assert(errors.head._2 === "HTTP 500")
    assert(order === centers.map(c => s"https://example.test/centers/$c/incidents"),
      "fetch order must follow config order (rate-limit contract)")
    // landed files are pipeline-readable
    val envs = graft.wildweb.WildWebPipeline.readEnvelopes(TestSession.spark, dir)
    assert(envs.count() === 3)
    assert(envs.filter(org.apache.spark.sql.functions.col("envelope").isNull).count() === 0)
  }

  test("the HTTP transport lands each body byte for byte") {
    // 0xFF is not UTF-8: a decode and re-encode would replace it
    val body = Array[Byte]('['.toByte, 0xFF.toByte, ']'.toByte)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/centers", exchange => {
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val dir = TestDirs("graft_fetch_bytes")
      val (landed, _) = WildWebFetcher.fetchAll(Seq("RAW-DC"),
        c => s"http://localhost:${server.getAddress.getPort}/centers/$c", dir.toString,
        WildWebFetcher.httpTransport())
      assert(landed === Seq("RAW-DC"))
      assert(Files.readAllBytes(dir.resolve("RAW-DC.json")).sameElements(body))
    } finally server.stop(0)
  }

  test("end-to-end: fetch from a real local server, then pipeline + golden count") {
    val body = Files.readString(java.nio.file.Paths.get(
      "/root/repo/fixtures/wildweb/run_ok/center_ok.json"))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/centers", exchange => {
      val bytes = body.getBytes
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val dir = TestDirs("graft_fetch_e2e").toString
      val (landed, errors) = WildWebFetcher.fetchAll(
        Seq("TEST-DC"),
        c => s"http://localhost:${server.getAddress.getPort}/centers/$c/incidents",
        dir, WildWebFetcher.httpTransport())
      assert(landed === Seq("TEST-DC") && errors.isEmpty)
      val feats = graft.wildweb.WildWebPipeline.features(
        graft.wildweb.WildWebPipeline.incidents(
          graft.wildweb.WildWebPipeline.readEnvelopes(TestSession.spark, dir)),
        graft.wildweb.WildWebConfig("1 Week",
          java.time.Instant.parse("2026-01-15T12:00:00Z")))
      assert(feats.count() === 9) // center_ok's surviving incidents
    } finally server.stop(0)
  }
}
