package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution). */
object TestSession {
  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // getOrCreate hands back any live session, and BenchSweepSpec leaves
    // an extension-less one behind: install the natives either way
    graft.functions.Natives.install(s)
    s
  }
  // self-healing (not a lazy val): BenchSweepSpec deliberately kills the
  // SparkContext to prove the bench sweep survives it — suites running
  // after it must get a fresh session, not the stopped one. Suites run
  // sequentially in the forked test JVM, and each suite class is
  // instantiated right before it runs, so a construction-time capture of
  // this def is always live for that suite.
  private var current: SparkSession = null
  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }
  val sf0001 = "/root/testdata/sf0.001"
}

/** t1 smoke (SURVEY §5B.1): every registered query runs at sf0.001,
  * returns rows, and has the column set its oracle SQL declares. */
class SmokeSpec extends AnyFunSuite {
  for (e <- SparkEntry.all) {
    test(s"${e.name} runs non-empty at sf0.001") {
      val df = e.q(TestSession.spark, TestSession.sf0001)
      assert(df.columns.nonEmpty)
      assert(df.limit(1).count() >= 0) // materializes the plan
      assert(df.count() > 0, s"${e.name} returned 0 rows")
    }
  }

  test("driver entry() smoke: rows > 0") {
    assert(SparkEntry.entry(TestSession.spark).count() > 0)
  }

  test("query and oracle keys are consistent") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
