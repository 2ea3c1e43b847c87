package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process upstream feed and submit receiver on one loopback
  * HttpServer with a single handler thread:
  *
  *   GET  /feed/<center>  serves the current snapshot's body for a center;
  *   POST /submit         stores the FeatureCollection and acknowledges it.
  *
  * With `sampleHeap` set, the receiver first forces a full GC and records
  * the heap in use: the POST is in flight, so the program holds its whole
  * output at that moment. The GC's duration is recorded so that callers
  * can take it out of their timings.
  *
  * Both sides keep their bodies in files under `dir`, not on the heap, so
  * the heap the program measures in this JVM is its own: bodies are
  * encoded to files before an invocation starts (serving costs the file
  * read and the socket write), and the submitted body streams to a file.
  * Counters cover the current invocation and are reset by [[load]].
  */
final class FeedServer(dir: Path) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newSingleThreadExecutor()
  private val feedDir = dir.resolve("feed")
  private val submitFile = dir.resolve("submitted.json")
  @volatile private var status: Map[String, Int] = Map.empty

  @volatile var requests: Int = 0
  @volatile var bytesServed: Long = 0L
  @volatile var submitTransferNs: Long = 0L
  @volatile var sampleHeap: Boolean = false
  @volatile var submitHeapMb: Double = 0.0
  @volatile var submitGcNs: Long = 0L

  server.createContext("/feed/", (ex: HttpExchange) => {
    val center = ex.getRequestURI.getPath.stripPrefix("/feed/")
    val file = feedDir.resolve(center + ".body")
    requests += 1
    status.get(center) match {
      case Some(s) =>
        val size = Files.size(file)
        bytesServed += size
        ex.sendResponseHeaders(s, if (size == 0) -1 else size)
        if (size > 0) Files.copy(file, ex.getResponseBody)
      case None => ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  })

  server.createContext("/submit", (ex: HttpExchange) => {
    if (sampleHeap) {
      val g0 = System.nanoTime()
      submitHeapMb = FeedServer.heapAfterGcMb()
      submitGcNs = System.nanoTime() - g0
    }
    val t0 = System.nanoTime()
    Files.copy(ex.getRequestBody, submitFile, StandardCopyOption.REPLACE_EXISTING)
    submitTransferNs = System.nanoTime() - t0
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })

  server.setExecutor(pool)
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Serve `served` (center → HTTP status and body) from now on, and reset
    * the per-invocation counters and the submitted body. */
  def load(served: Seq[(String, (Int, Array[Byte]))]): Unit = {
    if (Files.exists(feedDir)) Files.list(feedDir).forEach(f => Files.delete(f))
    Files.createDirectories(feedDir)
    served.foreach { case (c, (_, bytes)) => Files.write(feedDir.resolve(c + ".body"), bytes) }
    status = served.map { case (c, (s, _)) => c -> s }.toMap
    Files.deleteIfExists(submitFile)
    requests = 0; bytesServed = 0L; submitTransferNs = 0L
    submitHeapMb = 0.0; submitGcNs = 0L
  }

  /** The body of the last submit since [[load]], empty if there was none. */
  def submitted: Array[Byte] =
    if (Files.exists(submitFile)) Files.readAllBytes(submitFile) else Array.emptyByteArray

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object FeedServer {
  /** Heap in use after a full GC, in MB. With `settle`, a pause lets
    * Spark's ContextCleaner drop the blocks of RDDs the GC found
    * unreachable, and a second full GC follows. */
  def heapAfterGcMb(settle: Boolean = false): Double = {
    System.gc()
    if (settle) { Thread.sleep(100); System.gc() }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Probe.MB
  }
}
