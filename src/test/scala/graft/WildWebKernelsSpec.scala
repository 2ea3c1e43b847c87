package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.EnvelopeDecoder
import graft.wildweb.{WildWebConfig, WildWebPipeline, WildWebSchemas}

/** The two WildWeb JSON kernels against the Spark expressions they
  * replace: `wildweb_envelope` must give exactly `from_json(value,
  * WildWebSchemas.envelope)` on any body, and `json_bytes` exactly the
  * bytes of `to_json(…, ignoreNullFields=false)`. */
class WildWebKernelsSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val now = Instant.parse("2026-01-15T12:00:00Z")
  private val fixtureBodies: Seq[(String, Array[Byte])] =
    Seq("run_ok", "run_abort").flatMap { run =>
      Files.list(Paths.get(s"fixtures/wildweb/$run")).iterator.asScala.toSeq
        .sortBy(_.toString).map(p => s"$run/${p.getFileName}" -> Files.readAllBytes(p))
    }

  // ------------------------------------------------------------ a feed

  private val texts = Vector("initial attack", "containment 40% — \"line\" holding",
    "air tanker ordered\nwind 15 mph", "déjà vu", "back\\slash and tab\tcheck",
    "fire \uD83D\uDD25 emoji", "ctrl \u0001\u001F\u007F end", "slash / and \u2028 sep",
    "日本語", "")

  /** A JSON string literal of `s`, escaped in one of several legal ways:
    * a code point may be written raw or as `\u` escapes (a surrogate
    * pair for one above U+FFFF). */
  private def quote(s: String, r: Random): String = {
    val sb = new StringBuilder("\"")
    s.codePoints().forEach { cp =>
      val u = r.nextInt(6) == 0
      cp match {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= (if (u) "\\u000a" else "\\n")
        case '\t' => sb ++= (if (u) "\\u0009" else "\\t")
        case '/' if u => sb ++= "\\/"
        case _ if cp < 0x20 || u && cp > 0x7E =>
          Character.toChars(cp).foreach(c => sb ++= f"\\u${c.toInt}%04X")
        case _ => sb.appendAll(Character.toChars(cp))
      }
    }
    sb.append('"').toString
  }

  private def value(r: Random, v: Option[String]): String =
    v.fold("null")(quote(_, r))

  private def ws(r: Random): String = Seq("", "", " ", "\n  ", "\t", "\r\n")(r.nextInt(6))

  /** A random incident object: declared keys in random order, some
    * missing or null, now and then an unknown key with a nested value. */
  private def incident(r: Random, uuid: String): String = {
    def text() = if (r.nextInt(5) == 0) None else Some(texts(r.nextInt(texts.size)))
    val coord = () => Some(
      if (r.nextInt(4) > 0) Seq("34.05", "-118.2", "1e2", " 7.5 ")(r.nextInt(4))
      else Seq("0", "", " ", "abc")(r.nextInt(4)))
    val fields = Seq[(String, String)](
      "ic" -> value(r, text()),
      "date" -> value(r, Some(Seq("2026-01-15T11:23:45Z", "2026-01-10T00:00:00.250Z",
        "2026-01-14T20:00:00-07:00", "not-a-date")(r.nextInt(4)))),
      "name" -> value(r, Some(s"FIRE $uuid")),
      "type" -> value(r, Some("Wildfire")),
      "uuid" -> value(r, Some(uuid)),
      "acres" -> value(r, text()),
      "fuels" -> value(r, text()),
      "inc_num" -> value(r, text()),
      "fire_num" -> value(r, text()),
      "latitude" -> value(r, coord()),
      "location" -> value(r, text()),
      "longitude" -> value(r, coord()),
      "resources" -> (r.nextInt(4) match {
        case 0 => "null"
        case 1 => "[]"
        case _ => Seq.fill(1 + r.nextInt(3))(value(r, text())).mkString("[", ",", "]")
      }),
      "webComment" -> value(r, text()),
      "fire_status" -> value(r, Some("Active")),
      "fiscal_data" -> value(r, Some("FS-2026")))
    // uuid always stays: the feature ids must be distinct for the order checks
    val kept = r.shuffle(fields).filter { case (k, _) => k == "uuid" || r.nextInt(20) != 0 }
    val unknown =
      if (r.nextInt(4) == 0) Seq("extra" -> s"""{"a": [null, "x", {}], "b": ${quote("y", r)}}""")
      else Nil
    (kept ++ unknown).map { case (k, v) => s"${ws(r)}${quote(k, r)}${ws(r)}:${ws(r)}$v" }
      .mkString("{", ",", "}")
  }

  private def body(r: Random, center: Int): String = {
    val data = r.nextInt(8) match {
      case 0 => "null"
      case _ => Seq.tabulate(r.nextInt(12))(j => incident(r, f"g$center%02d-$j%03d"))
        .mkString("[" + ws(r), "," + ws(r), ws(r) + "]")
    }
    s"""${ws(r)}[{"retrieved": "2026-01-15T12:00:00Z",${ws(r)}"data": $data}]${ws(r)}"""
  }

  private val generated: Seq[String] = {
    val r = new Random(2026)
    Seq.tabulate(60)(body(r, _))
  }

  // ------------------------------------------------------------ decoder

  /** Mutations of a well-formed body, each as bytes. */
  private val mutations: Seq[(String, Array[Byte])] = {
    val ok = """[{"retrieved": "2026-01-15T12:00:00Z", "data": [{"uuid": "m1", "date": "2026-01-15T10:00:00Z", "ic": "x", "resources": ["a", null]}]}]"""
    def edit(from: String, to: String) = ok.replace(from, to)
    val text: Seq[(String, String)] = Seq(
      "truncated mid-string" -> ok.take(40),
      "truncated mid-array" -> ok.dropRight(3),
      "truncated after root" -> ok.take(ok.length - 1),
      "string as number" -> edit("\"x\"", "42"),
      "string as float" -> edit("\"x\"", "-0.5e3"),
      "string as true" -> edit("\"x\"", "true"),
      "string as object" -> edit("\"x\"", """{"k": "v"}"""),
      "string as array" -> edit("\"x\"", """["v"]"""),
      "data as object" -> """[{"retrieved": "r", "data": {"uuid": "m1"}}]""",
      "data as string" -> """[{"retrieved": "r", "data": "none"}]""",
      "resources as string" -> edit("""["a", null]""", "\"a\""),
      "resources element number" -> edit("""["a", null]""", """["a", 1]"""),
      "retrieved as number" -> edit("\"2026-01-15T12:00:00Z\"", "20260115"),
      "unknown key with number" -> edit("\"ic\"", "\"n\": 1, \"ic\""),
      "unknown key with nested values" ->
        edit("\"ic\"", """"z": {"a": [null, "b", {"c": []}]}, "ic""""),
      "unknown key in envelope" -> edit("\"retrieved\"", "\"meta\": [\"x\"], \"retrieved\""),
      "key differing in case" -> edit("\"date\"", "\"Date\""),
      "escaped key" -> edit("\"date\"", "\"d\\u0061te\""),
      "duplicate declared key" -> edit("\"ic\": \"x\"", "\"ic\": \"x\", \"ic\": \"y\""),
      "duplicate data key" -> edit("\"data\": [", "\"data\": null, \"data\": ["),
      "duplicate unknown key" -> edit("\"ic\"", "\"z\": null, \"z\": \"q\", \"ic\""),
      "single-object root" -> ok.drop(1).dropRight(1),
      "empty root array" -> "[]",
      "empty body" -> "",
      "whitespace body" -> " \n\t ",
      "null root" -> "null",
      "null envelope element" -> "[null]",
      "empty envelope object" -> "[{}]",
      "empty incident object" -> """[{"retrieved": "r", "data": [{}, {"uuid": "e"}]}]""",
      "null incident element" -> edit("\"data\": [", "\"data\": [null, "),
      "two envelopes" -> (ok.dropRight(1) + "," + ok.drop(1)),
      "trailing garbage" -> (ok + " x"),
      "trailing bracket" -> (ok + "]"),
      "trailing second root" -> (ok + ok),
      "trailing whitespace" -> (ok + " \r\n\t"),
      "escapes" -> edit("\"x\"", "\"q\\\" b\\\\ s\\/ \\b\\f\\n\\r\\t \\u00e9 \\u0000 \\uFFFF\""),
      "paired surrogate escape" -> edit("\"x\"", "\"\\ud83d\\uDD25\""),
      "lone high surrogate" -> edit("\"x\"", "\"\\uD83D\""),
      "high surrogate then text" -> edit("\"x\"", "\"\\uD83Dabc\""),
      "lone low surrogate" -> edit("\"x\"", "\"\\uDD25\""),
      "reversed surrogates" -> edit("\"x\"", "\"\\uDD25\\uD83D\""),
      "short unicode escape" -> edit("\"x\"", "\"\\u12\""),
      "single-quote escape" -> edit("\"x\"", "\"it\\'s\""),
      "unknown escape" -> edit("\"x\"", "\"\\x41\""),
      "single-quoted string" -> edit("\"x\"", "'x'"),
      "raw tab in string" -> edit("\"x\"", "\"a\tb\""),
      "raw newline in string" -> edit("\"x\"", "\"a\nb\""),
      "raw NUL in string" -> edit("\"x\"", "\"a\u0000b\""),
      "raw DEL in string" -> edit("\"x\"", "\"a\u007Fb\""),
      "non-BMP raw" -> edit("\"x\"", "\"\uD83D\uDD25 日本\""),
      "deep unknown nesting" -> edit("\"ic\"", "\"z\": " + "[" * 80 + "]" * 80 + ", \"ic\""),
      "comment" -> edit("[{", "[/* c */{"),
      "unquoted key" -> edit("\"ic\"", "ic"),
      "nul literal misspelt" -> edit("\"x\"", "nul"),
      "null literal glued" -> edit("\"x\"", "nullx"),
      "missing colon" -> edit("\"ic\": ", "\"ic\" "),
      "trailing comma" -> edit("null]", "null,]"),
      "vertical tab whitespace" -> edit("[{", "[\u000B{"))
    val bytes: Seq[(String, Array[Byte])] = Seq(
      "BOM" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ ok.getBytes(UTF_8)),
      "invalid UTF-8 lead" -> splice(ok, "x", Array(0xC3, 0x28)),
      "overlong NUL" -> splice(ok, "x", Array(0xC0, 0x80)),
      "encoded surrogate" -> splice(ok, "x", Array(0xED, 0xA0, 0x80)),
      "above U+10FFFF" -> splice(ok, "x", Array(0xF4, 0x90, 0x80, 0x80)),
      "stray continuation" -> splice(ok, "x", Array(0x80)),
      "truncated sequence" -> splice(ok, "x", Array(0xE6, 0x97)),
      "byte FF" -> splice(ok, "x", Array(0xFF)),
      "invalid UTF-8 in a key" -> splice(ok, "ic", Array(0xC3, 0x28)),
      "invalid UTF-8 in an unknown value" ->
        splice(ok.replace("\"ic\"", "\"z\": \"x\", \"ic\""), "x", Array(0xFE)))
    text.map { case (n, t) => n -> t.getBytes(UTF_8) } ++ bytes
  }

  /** `ok` with the first `"<inside>"` string's contents replaced by raw
    * `bytes`. */
  private def splice(ok: String, inside: String, bytes: Array[Int]): Array[Byte] = {
    val at = ok.indexOf("\"" + inside + "\"") + 1
    ok.take(at).getBytes(UTF_8) ++ bytes.map(_.toByte) ++ ok.drop(at + inside.length).getBytes(UTF_8)
  }

  /** Asserts that the kernel equals `from_json` on every body, both in
    * null-ness and in `to_json` of the result. */
  private def assertDecodesLikeSpark(bodies: Seq[(String, Array[Byte])]): Unit = {
    val df = spark.createDataFrame(
      bodies.map { case (n, b) => Row(n, b) }.asJava,
      StructType(Seq(StructField("name", StringType), StructField("raw", BinaryType))))
      .select(col("name"), col("raw").cast("string").as("value"))
      .select(col("name"),
        call_function("wildweb_envelope", col("value")).as("kernel"),
        from_json(col("value"), WildWebSchemas.envelope).as("spark"))
    assert(df.schema("kernel").dataType === df.schema("spark").dataType)
    val opts = java.util.Map.of("ignoreNullFields", "false")
    val rows = df.select(col("name"), col("kernel"), col("spark"),
      to_json(col("kernel"), opts), to_json(col("spark"), opts)).collect()
    assert(rows.length === bodies.size)
    for (r <- rows) {
      assert(r.isNullAt(1) === r.isNullAt(2), s"${r.getString(0)}: null-ness differs")
      assert(r.get(1) === r.get(2), s"${r.getString(0)}: decoded rows differ")
      assert(r.getString(3) === r.getString(4), s"${r.getString(0)}: to_json differs")
    }
  }

  private def fastPath(b: Array[Byte]) = EnvelopeDecoder.decode(UTF8String.fromBytes(b))

  test("wildweb_envelope equals from_json on the fixtures and a generated feed") {
    assertDecodesLikeSpark(fixtureBodies ++
      generated.zipWithIndex.map { case (b, i) => s"generated $i" -> b.getBytes(UTF_8) })
  }

  test("wildweb_envelope equals from_json on mutated bodies") {
    assertDecodesLikeSpark(mutations)
    // the mutations exercise both paths
    val (fast, slow) = mutations.partition { case (_, b) => fastPath(b) != null }
    assert(fast.map(_._1).toSet.contains("escapes") && fast.size >= 8, fast.map(_._1))
    assert(Set("BOM", "lone high surrogate", "duplicate declared key", "single-object root",
      "trailing garbage", "string as number", "invalid UTF-8 lead", "raw tab in string")
      .subsetOf(slow.map(_._1).toSet), slow.map(_._1))
  }

  test("the fast path accepts every well-formed fixture and generated body") {
    for ((name, b) <- fixtureBodies ++ generated.map(g => "generated" -> g.getBytes(UTF_8)))
      assert(fastPath(b) != null, s"$name fell back to from_json")
  }

  test("the fast path decodes escapes to the exact bytes") {
    val env = fastPath(("[{\"retrieved\": \"\\\"\\\\\\/\\b\\f\\n\\r\\t\\u00e9\\uD83D\\uDD25\\u0000\", " +
      "\"data\": null}]").getBytes(UTF_8))
    assert(env != null)
    assert(env.getStruct(0, 2).getUTF8String(0).toString ===
      "\"\\/\b\f\n\r\t\u00e9\uD83D\uDD25\u0000")
    assert(env.getStruct(0, 2).isNullAt(1))
  }

  // ------------------------------------------------------------ encoder

  private val featureCols = Seq(col("id"), col("type"), col("properties"), col("geometry"))

  /** Asserts json_bytes(struct) is byte-equal to to_json(…,
    * ignoreNullFields=false).cast("binary") on every row of `df`. */
  private def assertEncodesLikeSpark(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): Unit = {
    val rows = df.select(
      call_function("json_bytes", struct(cols: _*)),
      to_json(struct(cols: _*), java.util.Map.of("ignoreNullFields", "false")).cast("binary"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (got, want) = (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
      assert(java.util.Arrays.equals(got, want),
        s"\n got: ${new String(got, UTF_8)}\nwant: ${new String(want, UTF_8)}")
    }
  }

  /** The parent's featureCollectionJson: the same body built with
    * to_json. */
  private def viaToJson(features: DataFrame): Array[Byte] = {
    val jsons = features.orderBy("id").select(to_json(struct(featureCols: _*),
      java.util.Map.of("ignoreNullFields", "false"))).collect().map(_.getString(0))
    jsons.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}").getBytes(UTF_8)
  }

  private def completed(dir: String): DataFrame =
    WildWebPipeline.run(spark, dir, WildWebConfig("1 Week", now)) match {
      case WildWebPipeline.Completed(features, _) => features
      case other => fail(s"expected Completed, got $other")
    }

  test("json_bytes equals to_json bytes on the fixture's features") {
    val features = completed("fixtures/wildweb/run_ok")
    assertEncodesLikeSpark(features, featureCols)
    assert(java.util.Arrays.equals(
      WildWebPipeline.featureCollectionJson(features), viaToJson(features)))
  }

  test("featureCollectionJson equals the to_json body on a generated feed") {
    val dir = TestDirs("wildweb_kernels")
    generated.zipWithIndex.foreach { case (b, i) =>
      Files.writeString(dir.resolve(f"cc$i%03d.json"), b)
    }
    val features = completed(dir.toString)
    assert(features.count() > 100)
    assertEncodesLikeSpark(features, featureCols)
    assert(java.util.Arrays.equals(
      WildWebPipeline.featureCollectionJson(features), viaToJson(features)))
  }

  test("json_bytes equals to_json bytes on adversarial values") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    val strings = Seq("plain", "quote \" and backslash \\", controls, "del \u007F",
      "non-BMP \uD83D\uDD25 \uD834\uDD1E", "é 日本 \u2028\u2029 \uFEFF", "slash /", "", null)
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
      0.0, 1e-7, 1e7, 1.0E21, 123456789.125, 0.1 + 0.2, Double.MinPositiveValue,
      Double.MaxValue, -118.2437, 2.0E-3)
    val meta = WildWebSchemas.incident
    val schema = WildWebSchemas.feature
    def incidentRow(i: Int): Row = Row.fromSeq(meta.fields.toSeq.zipWithIndex.map {
      case (f, k) if f.dataType.isInstanceOf[ArrayType] =>
        if (i % 3 == 0) null else Seq(strings(i % strings.size), null, strings((i + k) % strings.size))
      case (_, k) => strings((i + k) % strings.size)
    })
    val rows = doubles.indices.map { i =>
      Row(s"wildweb-${strings(i % strings.size)}", "Feature",
        if (i == 5) null else Row(strings((i + 1) % strings.size), "start", incidentRow(i)),
        Row("Point", if (i == 7) null else Seq(doubles(i), doubles((i + 3) % doubles.size),
          if (i % 2 == 0) null else doubles((i + 7) % doubles.size))))
    }
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case other => other
    }
    val df = spark.createDataFrame(rows.asJava, nullable(schema).asInstanceOf[StructType])
    assertEncodesLikeSpark(df, featureCols)
    // strings that are not well-formed UTF-8 re-encode as to_json's String round trip does
    val bad = Seq(Array(0xC3, 0x28), Array(0xED, 0xA0, 0x80), Array(0x61, 0xFF, 0x22, 0x01),
      Array(0xF0, 0x9F, 0x94)).map(a => Row(a.map(_.toByte)))
    val raw = spark.createDataFrame(bad.asJava, StructType(Seq(StructField("b", BinaryType))))
      .select(col("b").cast("string").as("s"), lit(1.5).as("d"))
    assertEncodesLikeSpark(raw, Seq(col("s"), col("d"), array(col("s"), lit(null)).as("a")))
    // a null struct is null, as to_json gives
    assert(spark.range(1).select(call_function("json_bytes",
      when(lit(false), struct(lit("x").as("s"))))).head().isNullAt(0))
  }

  test("json_bytes rejects types outside the Feature schema at analysis") {
    for (bad <- Seq(struct(lit(1).as("i")), struct(map(lit("k"), lit("v")).as("m")),
        struct(lit(true).as("b")), lit("not a struct")))
      intercept[AnalysisException](spark.range(1).select(call_function("json_bytes", bad)).schema)
  }
}
