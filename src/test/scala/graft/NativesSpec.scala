package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Natives

/** One native-function table, one session factory, one query scope, one
  * scratch-dir owner: the table reaches every session through an entry or
  * GraftExtensions, and `src/main` keeps no second way to build a session,
  * register a native, check a native's arity, write a native's expression
  * node, memoize a tokenizer's words, place byte-fallback ids, checkpoint,
  * persist, run concurrent legs, make or delete a scratch dir, or drop a
  * memory-sink view. */
class NativesSpec extends AnyFunSuite {
  private val names = Natives.table.map(_._1)

  test("the table lists 26 distinct names, none a Spark built-in") {
    assert(names.size === 26 && names.distinct.size === 26)
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    assert(names.filter(builtin).isEmpty)
    // the WildWeb JSON kernels are in the table, under names Spark does not define
    assert(Seq("wildweb_envelope", "json_bytes").forall(n => names.contains(n) && !builtin(n)))
  }

  test("GraftExtensions injects exactly the table's names") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = new SimpleFunctionRegistry
    // registerFunctions is private[sql] in Scala, public in bytecode
    ext.getClass.getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, reg)
    assert(reg.listFunction().map(_.funcName).sorted === names.sorted)
  }

  test("on a session without the natives, one entry installs all 26;" +
    " a second install changes nothing") {
    // a fresh session with every native dropped: the registry of a
    // session built without GraftExtensions
    val s = TestSession.spark.newSession()
    val reg = s.sessionState.functionRegistry
    names.foreach(n => reg.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !s.catalog.functionExists(n)))
    val rows = SparkEntry.queries("b17_agg_hash")(s, TestSession.sf0001).count()
    assert(rows > 0)
    assert(names.filterNot(s.catalog.functionExists) === Seq.empty)
    assert(s.sql("SELECT feature_id('abc')").head().getString(0) === "wildweb-abc")
    def listed = s.catalog.listFunctions().collect().map(_.name).sorted.toSeq
    val once = listed
    Natives.install(s)
    assert(listed === once)
  }

  private lazy val sources: Seq[Path] = Files.walk(Paths.get("src/main/scala"))
    .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  private def offenders(pattern: String, allowed: Set[String]): Seq[Path] =
    sources.filter(f => !allowed(f.getFileName.toString) &&
      pattern.r.findFirstIn(Files.readString(f)).isDefined)

  test("src/main builds sessions and registers natives in one place each") {
    assert(sources.size > 100, s"source scan found only ${sources.size} files")
    assert(offenders("""SparkSession\.builder""", Set("Sessions.scala")) === Seq.empty)
    assert(offenders("RegisterOnce", Set.empty) === Seq.empty)
    assert(offenders("createOrReplaceTempFunction",
      Set("Natives.scala", "ScaleOps.scala")) === Seq.empty)
    assert(offenders("""\w+(Expression|Codec|Fallback)\.register\(""", Set.empty) === Seq.empty)
  }

  test("src/main checks native arity in one place and has one kernel expression node") {
    assert(sources.size > 100, s"source scan found only ${sources.size} files")
    assert(offenders("WRONG_NUM_ARGS", Set("Natives.scala")) === Seq.empty)
    assert(sources.filter(f => f.toString.contains("graft/functions/") &&
      Files.readString(f).contains("def build(")) === Seq.empty)
    assert(offenders("""(extends|with)\s+(UnaryExpression|BinaryExpression|CodegenFallback)\b""",
      Set("NativeExpression.scala", "WildWebEnvelopeExpression.scala",
        "JsonBytesExpression.scala")) === Seq.empty)
  }

  test("src/main writes the tokenizer core once: one word memo, one byte-id plane") {
    val functions = sources.filter(_.toString.contains("graft/functions/"))
    assert(functions.size > 20, s"source scan found only ${functions.size} kernel files")
    def holding(pattern: String): Seq[String] = functions
      .filter(f => pattern.r.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString)
    assert(holding("ConcurrentHashMap") === Seq("Tokenizer.scala"))
    assert(holding("""\bByteBase\s*=""") === Seq("Tokenizer.scala"))
    assert(offenders("""object\s+(BpeByteFallback|UnigramByteFallback|BpeDecodeExpression)\b""",
      Set.empty) === Seq.empty)
  }

  test("src/main checkpoints, persists and runs concurrent legs only through QueryScope") {
    assert(sources.size > 100, s"source scan found only ${sources.size} files")
    val scope = Set("QueryScope.scala")
    for (raw <- Seq("""localCheckpoint\(""", """(?<!QueryScope)\.persist\(""",
        """\.cache\(\)""", """unpersist\(""", "newFixedThreadPool",
        """scala\.concurrent\.(Future|\{)"""))
      assert(offenders(raw, scope) === Seq.empty, raw)
    assert(offenders("releaseCheckpoint|roundFrames|materializeOcc|graph_rounds|span_stages",
      Set.empty) === Seq.empty)
  }

  test("src/main makes scratch dirs and drops memory-sink views in one place each") {
    assert(sources.size > 100, s"source scan found only ${sources.size} files")
    assert(offenders("createTempDirectory", Set("WorkDirs.scala")) === Seq.empty)
    assert(offenders("""Files\.walk|Files\.delete|deleteIfExists|\.delete\(\)""",
      Set("WorkDirs.scala")) === Seq.empty)
    assert(offenders("dropTempView", Set("StreamingOps.scala", "Tables.scala")) === Seq.empty)
  }

  test("specs make temp dirs only through TestDirs") {
    val specs = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(specs.size > 50, s"source scan found only ${specs.size} spec files")
    val owners = Set("TestDirs.scala", "NativesSpec.scala")
    assert(specs.filter(f => !owners(f.getFileName.toString) &&
      Files.readString(f).contains("createTemp")) === Seq.empty)
  }
}
