package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.time.Duration

/** A2 — the live HTTP source scan (reference task.ts:76-86): GET each
  * dispatch center's incidents endpoint STRICTLY SEQUENTIALLY — the
  * reference deliberately serializes requests for an upstream rate limit
  * (CHANGELOG v1.2.0), and that contract must survive re-platforming, so
  * this runs driver-side with concurrency 1 (the center list is
  * config-scale, dozens of entries — never data-scale). Each body lands
  * byte for byte as received, one JSON file per center in `outDir`, which
  * the distributed pipeline ([[graft.wildweb.WildWebPipeline.readEnvelopes]])
  * then scans in parallel.
  *
  * Error semantics are A14's: a non-2xx response or transport failure
  * quarantines that center and the fetch continues (task.ts:75,84-86,
  * 144-146); callers submit partial results and fail afterwards.
  */
object WildWebFetcher {

  /** One client per JVM: JDK 17's HttpClient has no close(), and every
    * instance keeps its selector thread until it is collected. */
  private lazy val client =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  /** transport: url → (status, body bytes). Pluggable for tests; the
    * default is a JDK HttpClient GET. */
  def httpTransport(): String => (Int, Array[Byte]) = url => {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }

  /** Fetch every center in order; land bodies as `<outDir>/<center>.json`.
    * Returns (landed centers, (center, error) quarantine). */
  def fetchAll(
      centers: Seq[String],
      urlFor: String => String,
      outDir: String,
      transport: String => (Int, Array[Byte])): (Seq[String], Seq[(String, String)]) = {
    Files.createDirectories(Paths.get(outDir))
    val results = centers.map { center => // sequential by construction
      try {
        val (status, body) = transport(urlFor(center))
        if (status / 100 != 2) // non-2xx → error (task.ts:84-86)
          Left(center -> s"HTTP $status")
        else {
          Files.write(Paths.get(s"$outDir/$center.json"), body)
          Right(center)
        }
      } catch {
        case e: Exception => Left(center -> e.toString) // A14: continue
      }
    }
    (results.collect { case Right(c) => c },
      results.collect { case Left(e) => e })
  }
}
