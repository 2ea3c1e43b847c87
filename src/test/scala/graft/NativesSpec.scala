package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Natives

/** One native-function table, one session factory: the table reaches
  * every session through an entry or GraftExtensions, and `src/main`
  * keeps no second way to build a session or register a native. */
class NativesSpec extends AnyFunSuite {
  private val names = Natives.table.map(_._1)

  test("the table lists 24 distinct names, none a Spark built-in") {
    assert(names.size === 24 && names.distinct.size === 24)
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    assert(names.filter(builtin).isEmpty)
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

  test("on a session without the natives, one entry installs all 24;" +
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

  test("src/main builds sessions and registers natives in one place each") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"source scan found only ${files.size} files")
    def offenders(pattern: String, allowed: Set[String]): Seq[Path] =
      files.filter(f => !allowed(f.getFileName.toString) &&
        pattern.r.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders("""SparkSession\.builder""", Set("Sessions.scala")) === Seq.empty)
    assert(offenders("RegisterOnce", Set.empty) === Seq.empty)
    assert(offenders("createOrReplaceTempFunction",
      Set("Natives.scala", "ScaleOps.scala")) === Seq.empty)
    assert(offenders("""\w+(Expression|Codec|Fallback)\.register\(""", Set.empty) === Seq.empty)
  }
}
