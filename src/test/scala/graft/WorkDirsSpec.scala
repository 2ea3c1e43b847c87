package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.exec.WorkDirs

/** Prints the work root of a JVM that made one work dir, then exits: the
  * child process of the exit-cleanup test. */
object WorkDirsChild {
  def main(args: Array[String]): Unit = {
    WorkDirs("child_probe")
    println(WorkDirs.root)
  }
}

/** The scratch-directory owner: one root per JVM, one directory per key,
  * emptied on demand, gone when the JVM exits. */
class WorkDirsSpec extends AnyFunSuite {
  private def children(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("a key maps to one directory under the one root") {
    val a = WorkDirs("spec_same")
    assert(WorkDirs("spec_same") === a)
    assert(Files.isDirectory(Paths.get(a)))
    for (k <- Seq("spec_same", "spec_other", "spec_nested/reports"))
      assert(Paths.get(WorkDirs(k)).startsWith(WorkDirs.root), k)
    assert(Paths.get(WorkDirs("spec_other")) === WorkDirs.root.resolve("spec_other"))
  }

  test("sixteen concurrent first calls for one key make one directory") {
    val pool = Executors.newFixedThreadPool(16)
    try {
      val go = new CountDownLatch(1)
      val calls = (1 to 16).map(_ => pool.submit(new Callable[String] {
        def call(): String = { go.await(); WorkDirs("spec_race") }
      }))
      go.countDown()
      val paths = calls.map(_.get(30, TimeUnit.SECONDS)).distinct
      assert(paths === Seq(WorkDirs.root.resolve("spec_race").toString))
      assert(children(WorkDirs.root).count(_.startsWith("spec_race")) === 1)
    } finally pool.shutdownNow()
  }

  test("fresh empties the directory and keeps its path") {
    val dir = Paths.get(WorkDirs("spec_fresh"))
    Files.createDirectories(dir.resolve("sub"))
    Files.writeString(dir.resolve("sub/f.txt"), "x")
    Files.writeString(dir.resolve("g.txt"), "y")
    assert(WorkDirs.fresh("spec_fresh") === dir.toString)
    assert(Files.isDirectory(dir) && children(dir).isEmpty)
  }

  test("the root is deleted when the JVM exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
      "graft.WorkDirsChild").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor(60, TimeUnit.SECONDS) && p.exitValue() === 0, out)
    val root = Paths.get(out.linesIterator.toSeq.last)
    assert(root.getFileName.toString.startsWith("graft_work"), out)
    assert(!Files.exists(root), s"$root survived the JVM")
  }

  test("b91 run twice in one JVM: equal rows; its landing dir holds only the second run's files") {
    val spark = TestSession.spark
    val q = SparkEntry.queries("b91_stream_submit_sink")
    def tmpLandings = children(Paths.get(System.getProperty("java.io.tmpdir")))
      .count(_.startsWith("graft_b91_landing"))
    val tmpBefore = tmpLandings
    val first = q(spark, TestSession.sf0001).collect().toSeq
    val landing = WorkDirs.root.resolve("b91_landing")
    val firstFiles = children(landing)
    assert(firstFiles.nonEmpty && firstFiles.forall(_.matches("""batch_\d{6}_chunk_\d{4}\.jsonl""")),
      firstFiles)
    // a file no run of this dataset writes: the second run must remove it
    val stale = landing.resolve("batch_999999_chunk_0000.jsonl")
    Files.writeString(stale, "{}")
    val second = q(spark, TestSession.sf0001).collect().toSeq
    assert(second === first)
    assert(!Files.exists(stale))
    assert(children(landing) === firstFiles)
    assert(children(WorkDirs.root).count(_.startsWith("b91_landing")) === 1)
    assert(tmpLandings === tmpBefore)
  }
}
