package graft.wildweb

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.exec.QueryScope
import graft.functions.Natives

/** The reference's whole dataflow (A1-A14, reference task.ts:67-158)
  * re-expressed as one declarative Spark plan.
  *
  * The per-center HTTP fetch loop (A2, task.ts:76-86) is replaced by a
  * directory of landed JSON files, one envelope per center — the live
  * ingestion layer stays outside the engine (and must keep fetch
  * concurrency = 1 per host to honor the upstream rate limit,
  * CHANGELOG v1.2.0); a `center` column replaces the loop variable.
  *
  * Bug-compatible semantics preserved deliberately (SURVEY §7 "what's hard"):
  *   - A4: ANY center whose envelope has != 1 elements aborts the ENTIRE run
  *     with nothing submitted and no error raised (task.ts:93-97);
  *   - A10: longitude negation is unconditional, so an already-negative
  *     source longitude flips positive (task.ts:138);
  *   - A8: the date is normalized BEFORE the metadata embed, so
  *     `properties.metadata.date` is also normalized (task.ts:118,133);
  *   - A9: empty/whitespace/non-numeric/zero coordinates are all dropped —
  *     Spark's cast-to-null merges the JS falsy/NaN/zero branches into
  *     null-or-zero checks with the same kept-set (task.ts:120-124).
  *
  * Scale posture: everything is one narrow pipeline (scan → filter → project)
  * with zero shuffles; at 100 TB the input directory is partitioned by
  * center/day and the plan parallelizes per file split. An invocation is
  * one Spark job for [[run]] and one collect for the submit body: the A4
  * guard and the A14 quarantine are observed metrics of the features'
  * own scan, one tiny value per center.
  *
  * Both JSON edges are byte-level kernels from [[graft.functions.Natives]]:
  * `wildweb_envelope` decodes a landed body from its UTF-8 bytes and
  * `json_bytes` writes each Feature's JSON straight from the row. The
  * decoder's fast path takes only a strict, well-formed subset of JSON;
  * every other body falls back to Spark's own `from_json`, so both edges
  * give exactly what `from_json` and `to_json` give.
  */
object WildWebPipeline {

  /** A15 — machine-readable schema/capabilities introspection (reference
    * task.ts:52-65 `schema(type, flow)`): the declared input (Environment +
    * incident envelope) and output (GeoJSON Feature) contracts as Spark
    * schema JSON, for config UIs / layer wiring. */
  def schema(end: String): String = end match {
    case "input"  => WildWebSchemas.envelope.json
    case "output" => WildWebSchemas.feature.json
    case _        => "{}" // outgoing flow → empty contract (task.ts:63)
  }

  sealed trait Outcome
  /** A4 tripped: whole run aborted, nothing submitted (task.ts:93-97). */
  case object Aborted extends Outcome
  /** features ready to submit; errors = per-center quarantine (A14). The
    * reference delivers partial results and fails AFTER submit when errors
    * exist (task.ts:144-157) — callers must do the same. */
  final case class Completed(features: DataFrame, errors: DataFrame) extends Outcome

  /** A2/A3 — read one JSON envelope file per center and decode it against
    * the declared schema with the `wildweb_envelope` kernel: its byte-level
    * fast path parses a well-formed body straight from UTF-8, and any other
    * body goes to Spark's `from_json`, so the result is exactly
    * `from_json(value, WildWebSchemas.envelope)`. Corrupt/mismatched bodies
    * yield a null envelope (PERMISSIVE) and are quarantined by [[run]],
    * mirroring the per-center try/catch (A14) rather than failing the job.
    * The center is the landed file's name. `_metadata` holds it
    * URI-encoded (`CA KRN` reads `CA%20KRN`), so it is decoded as a URI
    * path: a literal `+` is escaped first, as `url_decode` would read it as
    * a space.
    * Installs the natives first: a plain session carries no extensions. */
  def readEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    Natives.install(spark)
    val name = regexp_extract(col("_metadata.file_name"), "(.+)\\.json$", 1)
    // url_decode is typed nullable and a file name is never null: the
    // coalesce keeps `center` non-nullable
    val center = coalesce(url_decode(replace(name, lit("+"), lit("%2B"))), name)
    spark.read.option("wholetext", "true").text(dir)
      .select(center.as("center"), col("value"))
      .withColumn("envelope", call_function("wildweb_envelope", col("value")))
  }

  /** A5/A6 — explode envelopes into one row per incident. `explode` on a
    * null `data` array emits zero rows, which is exactly the null-collection
    * coalesce (task.ts:101-104). */
  def incidents(envelopes: DataFrame): DataFrame =
    envelopes
      .filter(col("envelope").isNotNull)
      .select(col("center"), explode(col("envelope").getItem(0).getField("data")).as("fire"))

  /** A8 as a column: minute-truncated UTC "yyyy-MM-dd HH:mm" (task.ts:118);
    * null for unparseable input (see features() for the semantics note). */
  def normalizedDate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_format(date_trunc("minute", try_to_timestamp(c)), "yyyy-MM-dd HH:mm")

  /** A9 as a column: true iff the string parses to a nonzero finite double
    * (task.ts:120-124 — JS falsy/NaN/zero branches collapse to
    * null-or-zero under Spark's trimming try_cast). */
  def coordValid(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val d = c.try_cast("double")
    d.isNotNull && d =!= 0.0 && !isnan(d)
  }

  /** A7-A9 — the kept incidents: `(center, fire, lon_d, lat_d)` with
    * `fire.date` normalized and both coordinates parsed. */
  def kept(incidents: DataFrame, config: WildWebConfig): DataFrame = {
    val cutoffTs = lit(Timestamp.from(config.cutoff))
    incidents
      // A7 — keep iff date >= now - range (strictly-older dropped, task.ts:113).
      // try_to_timestamp: ANSI mode is on (Spark 4 default) and a plain
      // to_timestamp would fail the job on one malformed date.
      .filter(try_to_timestamp(col("fire.date")) >= cutoffTs)
      // A8 — truncate to minute, UTC, "yyyy-MM-dd HH:mm"; mutate BEFORE the
      // metadata embed so metadata.date is normalized too (task.ts:118)
      .withColumn("fire", col("fire").withField("date", normalizedDate(col("fire.date"))))
      // A9 — geo-validity: both coords must cast to nonzero finite doubles
      // (task.ts:120-124; '' / ' ' / 'abc' → null via try_cast, 0/'0' → zero
      // — all dropped; ANSI cast would throw on 'abc' instead)
      .filter(coordValid(col("fire.longitude")) && coordValid(col("fire.latitude")))
      .select(col("center"), col("fire"),
        col("fire.longitude").try_cast("double").as("lon_d"),
        col("fire.latitude").try_cast("double").as("lat_d"))
  }

  /** A10 (unconditional negation, task.ts:138) + A11 (feature projection)
    * over [[kept]] rows: GeoJSON Feature structs (schema
    * [[WildWebSchemas.feature]] + a `center` column). */
  def features(kept: DataFrame): DataFrame =
    kept.select(
      col("center"),
      concat(lit("wildweb-"), col("fire.uuid")).as("id"),
      lit("Feature").as("type"),
      struct(
        col("fire.name").as("callsign"),
        col("fire.date").as("start"),
        col("fire").as("metadata")).as("properties"),
      struct(
        lit("Point").as("type"),
        array(-col("lon_d"), col("lat_d")).as("coordinates")).as("geometry"))

  /** A7-A11 — the per-incident transform chain, ending in GeoJSON Feature
    * structs. */
  def features(incidents: DataFrame, config: WildWebConfig): DataFrame =
    features(kept(incidents, config))

  /** Full A1-A14 run over a landed directory as one Spark job, the
    * `feats` checkpoint of the [[kept]] rows; the features are their A10/A11
    * projection. An observation at the envelope level, below every
    * filter, records the A4 violations and the undecoded centers (A14) in
    * the same pass; it is read once the checkpoint has returned, and the
    * quarantine is built on the driver, sorted by center. */
  def run(spark: SparkSession, dir: String, config: WildWebConfig): Outcome =
      QueryScope("wildweb") {
    val obs = Observation()
    val envelopes = readEnvelopes(spark, dir).observe(obs,
      // A4 — cardinality guard: a decoded envelope with != 1 elements
      // aborts the whole run silently
      count_if(col("envelope").isNotNull && size(col("envelope")) =!= 1).as("bad"),
      // A14 — quarantine centers whose body failed schema decode (the
      // reference catches per center and continues, task.ts:75,144-146)
      collect_list(when(col("envelope").isNull, col("center"))).as("undecoded"))
    // Required, not an optimization: under ANSI, getItem(0) on [] throws
    val feats = QueryScope.materialize("feats")(kept(
      incidents(envelopes.filter(size(col("envelope")) === 1)), config))
    val metrics = obs.get
    if (metrics("bad").asInstanceOf[Long] > 0) Aborted
    else {
      val undecoded = metrics("undecoded").asInstanceOf[scala.collection.Seq[String]]
      Completed(features(feats), spark.createDataFrame(
        undecoded.sorted.map(c => Row(c, "envelope decode failed")).asJava, errorSchema))
    }
  }

  private val errorSchema = StructType(Seq(
    StructField("center", StringType, nullable = false),
    StructField("error", StringType, nullable = false)))

  /** Spark's `orderBy` order for strings (UTF8String.compareTo) over their
    * UTF-8 bytes: unsigned bytes, a prefix first, null first. */
  private val utf8Order: Ordering[Array[Byte]] =
    Ordering.comparatorToOrdering(java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte]))

  /** A12/A13 — the FeatureCollection JSON as UTF-8 bytes, features in
    * `orderBy("id")` order (task.ts:70-73,142,149). One collect of
    * (id, feature JSON) as bytes, sorted on the driver and copied into one
    * presized array. Each feature is written by the `json_bytes` kernel
    * straight from the row: the bytes of `to_json(feature,
    * ignoreNullFields=false)` — JSON.stringify keeps explicit nulls, the
    * reference emits "ic": null, not an absent field (task.ts:133) —
    * without `to_json`'s String round trip. This is the submit-sink edge
    * (one HTTP POST in the reference), test-scale by definition. The
    * 100 TB path writes feature JSON-lines with `df.write.json` instead
    * and submits per batch via foreachBatch. */
  def featureCollectionJson(features: DataFrame): Array[Byte] = {
    Natives.install(features.sparkSession)
    val feats = features
      .select(col("id").cast("binary"), call_function("json_bytes",
        struct(col("id"), col("type"), col("properties"), col("geometry"))))
      .as(Encoders.tuple(Encoders.BINARY, Encoders.BINARY))
      .collect()
      .sortBy(_._1)(utf8Order)
    val head = """{"type":"FeatureCollection","features":[""".getBytes(UTF_8)
    val body = ByteBuffer.allocate(
      head.length + feats.iterator.map(_._2.length).sum + (feats.length - 1).max(0) + 2)
    body.put(head)
    for (((_, json), i) <- feats.iterator.zipWithIndex) {
      if (i > 0) body.put(','.toByte)
      body.put(json)
    }
    body.put(']'.toByte).put('}'.toByte).array()
  }
}
