package perfbench

import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

/** Seeded synthetic WildWeb feed plus the expected ETL output, computed
  * from the reference semantics without touching Spark:
  *
  *   - A4: a decodable envelope with != 1 elements aborts the whole run;
  *   - A7: keep an incident iff its date >= now - range (unparseable dates
  *     drop the row, the engine's pinned divergence);
  *   - A8: `start` and `metadata.date` are the minute-truncated UTC date
  *     "yyyy-MM-dd HH:mm";
  *   - A9: both coordinates must parse to a nonzero finite number
  *     (null, blank, "abc", "NaN", "0" and "0.0" all drop the incident);
  *   - A10: longitude is negated unconditionally;
  *   - A14: a non-2xx center is quarantined by the fetch, an undecodable
  *     body by the pipeline; the other centers still deliver.
  *
  * A snapshot is a pure function of (seed, invocation, spec), so the
  * same seed serves the same bytes on every run.
  */
object Feed {

  final case class Incident(
      ic: Option[String], date: String, name: String, tpe: String,
      uuid: String, acres: Option[String], fuels: Option[String],
      incNum: Option[String], fireNum: Option[String],
      latitude: Option[String], location: Option[String],
      longitude: Option[String], resources: Option[Seq[String]],
      webComment: Option[String], fireStatus: String, fiscalData: String)

  sealed trait Body
  /** A decodable envelope: one `data` slot per element (None = JSON null). */
  final case class Envelope(elements: Seq[Option[Seq[Incident]]]) extends Body
  /** A body that fails schema decode. */
  final case class Corrupt(text: String) extends Body
  /** A non-2xx response. */
  final case class HttpError(status: Int) extends Body

  final case class Snapshot(now: Instant, range: String,
                            centers: Seq[(String, Body)]) {
    def incidents: Int = centers.map {
      case (_, Envelope(els)) => els.map(_.map(_.size).getOrElse(0)).sum
      case _ => 0
    }.sum
  }

  /** Workload shape: `centers` endpoints sharing `incidents` decodable
    * incidents with Zipf(`alpha`) sizes; `inRange` of them fall inside the
    * range window; `badCoords` carry an A9-invalid coordinate. */
  final case class Spec(centers: Int, incidents: Int, range: String,
                        alpha: Double, inRange: Double, badCoords: Double)

  val Now: Instant = Instant.parse("2026-01-15T12:00:00Z")

  private def rangeHours(range: String): Long =
    graft.wildweb.WildWebConfig(range, Now).rangeHours

  def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft((h ^ p) * 0xBF58476D1CE4E5B9L, 31)))

  private val Names = Vector("CANYON", "MESA", "PINE", "OAK", "SAGE", "RIDGE",
    "CEDAR", "ASPEN", "BLUFF", "CREEK", "SUMMIT", "HOLLOW", "BASIN", "FORK")
  private val Types = Vector("Wildfire", "Prescribed Fire", "Smoke Check",
    "Vegetation Fire", "False Alarm")
  private val Fuels = Vector("Timber", "Grass", "Brush", "Slash", "Chaparral")
  private val Statuses = Vector("Active", "Contained", "Controlled", "Out")
  private val Comments = Vector("initial attack", "crews on scene",
    "containment 40% — \"line\" holding", "air tanker ordered\nwind 15 mph",
    "déjà vu: rekindle of 2025 burn", "back\\slash and tab\tcheck")
  private val BadCoords = Vector[Option[String]](
    None, Some(""), Some(" "), Some("0"), Some("0.0"), Some("abc"), Some("NaN"))

  private val IsoSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
  private val IsoMillis = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)
  private val IsoOffset = DateTimeFormatter.ISO_OFFSET_DATE_TIME
  private val Offsets = Vector("-07:00", "-03:30", "+05:30", "+09:00").map(ZoneOffset.of)
  private val Minute = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
    .withZone(ZoneOffset.UTC)

  private def coord(r: SplittableRandom, lo: Double, hi: Double): String =
    java.math.BigDecimal.valueOf(lo + r.nextDouble() * (hi - lo))
      .setScale(1 + r.nextInt(5), java.math.RoundingMode.HALF_UP).toPlainString

  private def date(r: SplittableRandom, at: Instant): String = r.nextInt(200) match {
    case 0 => "not-a-date"
    case n if n < 20 => IsoMillis.format(at)
    case n if n < 40 =>
      IsoOffset.format(OffsetDateTime.ofInstant(at, Offsets(r.nextInt(Offsets.size))))
    case _ => IsoSeconds.format(at)
  }

  private def incident(r: SplittableRandom, uuid: String, spec: Spec): Incident = {
    val hours = rangeHours(spec.range)
    val ageS =
      if (r.nextDouble() < spec.inRange) r.nextLong(hours * 3600L + 1)
      else hours * 3600L + 60 + r.nextLong(7L * 24 * 3600)
    val at = Now.minusSeconds(ageS).plusMillis(r.nextInt(1000))
    val bad = r.nextDouble() < spec.badCoords
    val badLon = bad && r.nextBoolean()
    val lat = if (bad && !badLon) BadCoords(r.nextInt(BadCoords.size)) else Some(coord(r, 30, 49))
    val lon0 = coord(r, 100, 124)
    val lon = if (badLon) BadCoords(r.nextInt(BadCoords.size))
              else Some(if (r.nextInt(10) == 0) "-" + lon0 else lon0)
    def opt(p: Int, v: => String) = if (r.nextInt(100) < p) None else Some(v)
    Incident(
      ic = opt(20, s"IC ${Names(r.nextInt(Names.size)).toLowerCase.capitalize}"),
      date = date(r, at),
      name = s"${Names(r.nextInt(Names.size))} FIRE",
      tpe = Types(r.nextInt(Types.size)),
      uuid = uuid,
      acres = opt(15, (r.nextInt(50000) / 10.0).toString),
      fuels = opt(10, Fuels(r.nextInt(Fuels.size))),
      incNum = opt(5, f"INC-${r.nextInt(100000)}%05d"),
      fireNum = opt(30, f"FN-${r.nextInt(10000)}%04d"),
      latitude = lat,
      location = opt(10, s"${r.nextInt(9000) + 100} ${Names(r.nextInt(Names.size)).toLowerCase.capitalize} Rd"),
      longitude = lon,
      resources = r.nextInt(20) match {
        case 0 => None
        case n if n < 10 => Some(Seq.empty)
        case _ => Some(Seq.fill(1 + r.nextInt(4))(
          s"${Vector("Engine", "Crew", "Dozer", "Helicopter")(r.nextInt(4))} ${r.nextInt(99) + 1}"))
      },
      webComment = opt(25, Comments(r.nextInt(Comments.size))),
      fireStatus = Statuses(r.nextInt(Statuses.size)),
      fiscalData = s"FS-${2024 + r.nextInt(3)}")
  }

  /** Zipf(alpha) split of `total` over `n` slots, exact sum, seed-permuted. */
  private def sizes(r: SplittableRandom, n: Int, total: Int, alpha: Double): Seq[Int] = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, alpha))
    val base = w.map(x => (x / w.sum * total).toInt)
    val withRest = base.updated(0, base.head + (total - base.sum))
    shuffle(r, n).map(withRest)
  }

  /** `xs.map(f)` on the common fork-join pool; the result keeps the order. */
  def parMap[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val out = new Array[Any](xs.size)
    java.util.stream.IntStream.range(0, xs.size).parallel().forEach(i => out(i) = f(xs(i)))
    out.toIndexedSeq.asInstanceOf[IndexedSeq[B]]
  }

  /** A seeded Fisher-Yates permutation of 0 until n. */
  def shuffle(r: SplittableRandom, n: Int): Seq[Int] = {
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    perm.toSeq
  }

  /** One invocation's feed. Besides the `spec.centers - 3` regular centers
    * it plants one HTTP 503 center, one center with a truncated (corrupt)
    * body and one center answering `data: null`. */
  def snapshot(seed: Long, invocation: Int, spec: Spec): Snapshot = {
    val r = rng(seed, invocation, 0)
    val regular = spec.centers - 3
    val n = sizes(r, regular, spec.incidents, spec.alpha)
    val names = (0 until spec.centers).map(i => f"cc$i%03d")
    val bodies: Seq[Body] = parMap(n.zipWithIndex.toIndexedSeq) { case (k, ci) =>
      val cr = rng(seed, invocation, ci + 1)
      Envelope(Seq(Some((0 until k).map(j =>
        incident(cr, f"$seed%x-$invocation%x-$ci%02x-$j%06x", spec)))))
    } ++ Seq(
      HttpError(503),
      Corrupt(envelopeJson(Envelope(Seq(Some(Seq(
        incident(rng(seed, invocation, -1), "corrupt", spec))))), Now).dropRight(7)),
      Envelope(Seq(None)))
    // the planted centers land at seeded positions among the regular ones
    Snapshot(Now, spec.range, shuffle(r, spec.centers).zip(names).map {
      case (b, name) => name -> bodies(b) })
  }

  private def q(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private def field(sb: java.lang.StringBuilder, k: String, v: Option[String], first: Boolean = false): Unit = {
    if (!first) sb.append(',')
    q(sb, k); sb.append(':')
    v match { case Some(s) => q(sb, s); case None => sb.append("null") }
  }

  /** The upstream response body for a decodable envelope. */
  def envelopeJson(e: Envelope, retrieved: Instant): String = {
    val sb = new java.lang.StringBuilder(1024)
    sb.append('[')
    e.elements.zipWithIndex.foreach { case (data, k) =>
      if (k > 0) sb.append(',')
      sb.append("{\"retrieved\":"); q(sb, IsoSeconds.format(retrieved)); sb.append(",\"data\":")
      data match {
        case None => sb.append("null")
        case Some(incs) =>
          sb.append('[')
          incs.zipWithIndex.foreach { case (i, j) =>
            if (j > 0) sb.append(',')
            sb.append('{')
            field(sb, "ic", i.ic, first = true); field(sb, "date", Some(i.date))
            field(sb, "name", Some(i.name)); field(sb, "type", Some(i.tpe))
            field(sb, "uuid", Some(i.uuid)); field(sb, "acres", i.acres)
            field(sb, "fuels", i.fuels); field(sb, "inc_num", i.incNum)
            field(sb, "fire_num", i.fireNum); field(sb, "latitude", i.latitude)
            field(sb, "location", i.location); field(sb, "longitude", i.longitude)
            sb.append(",\"resources\":")
            i.resources match {
              case None => sb.append("null")
              case Some(rs) =>
                sb.append('[')
                rs.zipWithIndex.foreach { case (s, n) => if (n > 0) sb.append(','); q(sb, s) }
                sb.append(']')
            }
            field(sb, "webComment", i.webComment); field(sb, "fire_status", Some(i.fireStatus))
            field(sb, "fiscal_data", Some(i.fiscalData))
            sb.append('}')
          }
          sb.append(']')
      }
      sb.append('}')
    }
    sb.append(']').toString
  }

  /** (HTTP status, body bytes) served for one center. */
  def served(b: Body, now: Instant): (Int, Array[Byte]) = b match {
    case e: Envelope => 200 -> envelopeJson(e, now).getBytes("UTF-8")
    case Corrupt(t) => 200 -> t.getBytes("UTF-8")
    case HttpError(s) => s -> s"upstream error $s".getBytes("UTF-8")
  }

  /** Decode a landed fixture body with the same meaning as [[Body]]. */
  def parseBody(text: String): Body = {
    val node = try Some(mapper.readTree(text)) catch { case _: Exception => None }
    def s(n: JsonNode, k: String): Option[String] =
      Option(n.get(k)).filterNot(_.isNull).map(_.asText)
    node match {
      case Some(arr: ArrayNode) =>
        Envelope((0 until arr.size).map { k =>
          Option(arr.get(k).get("data")).filterNot(_.isNull).map { d =>
            (0 until d.size).map { j =>
              val n = d.get(j)
              Incident(s(n, "ic"), s(n, "date").orNull, s(n, "name").orNull,
                s(n, "type").orNull, s(n, "uuid").orNull, s(n, "acres"),
                s(n, "fuels"), s(n, "inc_num"), s(n, "fire_num"),
                s(n, "latitude"), s(n, "location"), s(n, "longitude"),
                Option(n.get("resources")).filterNot(_.isNull)
                  .map(rs => (0 until rs.size).map(rs.get(_).asText)),
                s(n, "webComment"), s(n, "fire_status").orNull,
                s(n, "fiscal_data").orNull)
            }
          }
        })
      case _ => Corrupt(text)
    }
  }

  sealed trait Expected
  case object ExpectAbort extends Expected
  final case class ExpectRun(features: IndexedSeq[(String, ObjectNode)],
                             decodeQuarantine: Seq[String],
                             fetchQuarantine: Seq[String]) extends Expected

  val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  private def instantOf(s: String): Option[Instant] =
    try Some(OffsetDateTime.parse(s, IsoOffset).toInstant)
    catch { case _: Exception => None }

  private val Numeric = "[+-]?(\\d+(\\.\\d*)?|\\.\\d+)".r

  private def coordValue(s: Option[String]): Option[Double] =
    s.map(_.trim).collect { case v @ Numeric(_*) => v.toDouble }.filter(_ != 0.0)

  /** The FeatureCollection's features (sorted by id) and both quarantine
    * sets the reference semantics give for `centers` under (now, range). */
  def expect(centers: Seq[(String, Body)], now: Instant, range: String): Expected = {
    val decoded = centers.collect { case (_, e: Envelope) => e }
    if (decoded.exists(_.elements.size != 1)) ExpectAbort
    else {
      val cutoff = now.minus(rangeHours(range), ChronoUnit.HOURS)
      val feats = parMap(decoded.toIndexedSeq)(_.elements.head.getOrElse(Nil).flatMap { i =>
        for {
          at <- instantOf(i.date) if !at.isBefore(cutoff)
          lon <- coordValue(i.longitude)
          lat <- coordValue(i.latitude)
        } yield {
          val norm = Minute.format(at.truncatedTo(ChronoUnit.MINUTES))
          "wildweb-" + i.uuid -> feature(i, norm, lon, lat)
        }
      }).flatten
      ExpectRun(feats.sortBy(_._1).toIndexedSeq,
        centers.collect { case (c, _: Corrupt) => c }.sorted,
        centers.collect { case (c, _: HttpError) => c }.sorted)
    }
  }

  private def feature(i: Incident, date: String, lon: Double, lat: Double): ObjectNode = {
    def put(o: ObjectNode, k: String, v: Option[String]): Unit =
      v.fold(o.putNull(k))(o.put(k, _))
    val meta = nf.objectNode()
    put(meta, "ic", i.ic); meta.put("date", date); meta.put("name", i.name)
    meta.put("type", i.tpe); meta.put("uuid", i.uuid); put(meta, "acres", i.acres)
    put(meta, "fuels", i.fuels); put(meta, "inc_num", i.incNum)
    put(meta, "fire_num", i.fireNum); put(meta, "latitude", i.latitude)
    put(meta, "location", i.location); put(meta, "longitude", i.longitude)
    i.resources.fold(meta.putNull("resources")) { rs =>
      val a = meta.putArray("resources"); rs.foreach(a.add); meta
    }
    put(meta, "webComment", i.webComment); meta.put("fire_status", i.fireStatus)
    meta.put("fiscal_data", i.fiscalData)
    val f = nf.objectNode()
    f.put("id", "wildweb-" + i.uuid); f.put("type", "Feature")
    val p = f.putObject("properties")
    p.put("callsign", i.name); p.put("start", date); p.set[JsonNode]("metadata", meta)
    val g = f.putObject("geometry")
    g.put("type", "Point")
    g.putArray("coordinates").add(-lon).add(lat)
    f
  }

  /** The expected FeatureCollection document. */
  def collection(e: ExpectRun): ObjectNode = {
    val fc = nf.objectNode()
    fc.put("type", "FeatureCollection")
    val a = fc.putArray("features")
    e.features.foreach { case (_, f) => a.add(f) }
    fc
  }

  /** Stream-compare a submitted FeatureCollection with the expectation.
    * Returns None when equal, else the first difference. */
  def compare(body: Array[Byte], e: ExpectRun): Option[String] = {
    import com.fasterxml.jackson.core.JsonToken
    val p = mapper.getFactory.createParser(body)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return Some("body is not a JSON object")
      var n = 0
      var sawType = false
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.getCurrentName match {
          case "type" =>
            p.nextToken(); sawType = p.getText == "FeatureCollection"
          case "features" =>
            if (p.nextToken() != JsonToken.START_ARRAY) return Some("features is not an array")
            while (p.nextToken() == JsonToken.START_OBJECT) {
              val got: JsonNode = mapper.readTree(p)
              if (n >= e.features.size) return Some(s"extra feature ${got.get("id")}")
              val (id, want) = e.features(n)
              if (got != want) return Some(s"feature $n ($id) differs: got $got")
              n += 1
            }
          case other => return Some(s"unexpected top-level field $other")
        }
      }
      if (!sawType) Some("type is not FeatureCollection")
      else if (n != e.features.size) Some(s"features: got $n, want ${e.features.size}")
      else None
    } finally p.close()
  }
}
