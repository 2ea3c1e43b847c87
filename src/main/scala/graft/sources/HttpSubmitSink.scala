package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTTP submit sink (SURVEY B5 — the A13 `this.submit(fc)` analog,
  * reference task.ts:149). Batch mode posts one FeatureCollection;
  * streaming delivery posts each micro-batch's partitions as JSON-lines
  * chunks ([[submitJsonLinesChunked]], driven from `foreachBatch` by
  * StreamReplay's B91 loop).
  *
  * Faithful A13/A14 semantics: the POST always runs, even when upstream
  * stages quarantined some centers (partial delivery), and the caller is
  * expected to fail AFTER delivery if a quarantine exists
  * (task.ts:144-157).
  *
  * Scale posture: the collection is assembled per micro-batch (the
  * reference's unit of delivery is one invocation's FeatureCollection, so
  * batch size == collection size by contract); at 100 TB the upstream
  * pipeline windows the stream so each POST stays bounded, and batchId
  * makes redelivery idempotent on the receiving side.
  */
object HttpSubmitSink {

  /** POST a feature DataFrame (wildweb Feature schema) as one GeoJSON
    * FeatureCollection, sent as the one byte array
    * [[graft.wildweb.WildWebPipeline.featureCollectionJson]] builds.
    * Returns the HTTP status. */
  def submit(features: DataFrame, url: String, batchId: Long = -1L): Int =
    post(graft.wildweb.WildWebPipeline.featureCollectionJson(features),
      "application/geo+json", url, batchId)

  /** Per-PARTITION JSON-lines delivery (one object per row) — the
    * schema-agnostic delivery twin of [[submit]], and the body shape the
    * B91 t2 loop re-reads and hash-matches. Each non-empty partition POSTs its own rows from
    * the executor that holds them, so no whole-batch driver collect exists
    * anywhere on the sink edge. Every POST carries X-Batch-Id plus
    * X-Chunk-Id = the partition id; a failed task is retried by Spark and
    * may re-POST its chunk, so the receiver must land chunks idempotently
    * keyed on (batch, chunk) — the same redelivery contract batchId
    * already gives whole batches. Chunk reassembly is order-free by
    * format: JSON-lines concatenate, and the B91 re-read consumes the
    * landed chunk set as one directory. Returns the number of POSTs
    * (= non-empty partitions; empty partitions send nothing). */
  def submitJsonLinesChunked(df: DataFrame, url: String, batchId: Long = -1L): Long = {
    val chunks = df.sparkSession.sparkContext.longAccumulator("http_submit_chunks")
    df.toJSON.foreachPartition { (rows: Iterator[String]) =>
      if (rows.hasNext) {
        val chunkId = org.apache.spark.TaskContext.getPartitionId()
        post(rows.mkString("\n").getBytes(UTF_8), "application/x-ndjson", url, batchId,
          chunkId = Some(chunkId))
        chunks.add(1L)
      }
    }
    chunks.value
  }

  /** One client per JVM: JDK 17's HttpClient has no close(), and every
    * instance keeps its selector thread until it is collected. */
  private lazy val client =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  /** POSTs `body` as is; the response body is discarded, only the status
    * is read. */
  private def post(body: Array[Byte], contentType: String, url: String,
      batchId: Long, chunkId: Option[Int] = None): Int = {
    val builder = HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", contentType)
      .header("X-Batch-Id", batchId.toString)
    chunkId.foreach(c => builder.header("X-Chunk-Id", c.toString))
    val req = builder.POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.discarding())
    // non-2xx → error, mirroring the fetch guard (task.ts:84-86)
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"submit failed: HTTP ${resp.statusCode()}")
    resp.statusCode()
  }
}
