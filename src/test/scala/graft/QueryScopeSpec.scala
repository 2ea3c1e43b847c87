package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.QueryScope

/** The query scope's contract: concurrent legs stop together, persisted
  * relations never outlive their scope, recorded legs reach the enclosing
  * scope, and checkpoint jobs are tagged without touching the caller's
  * job description. */
class QueryScopeSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  private val sc = spark.sparkContext

  /** Job tags and end results, by job id, for jobs started while it ran. */
  private class Jobs extends SparkListener {
    val tags = new ConcurrentHashMap[Int, Set[String]]()
    val descriptions = new ConcurrentHashMap[Int, String]()
    val ends = new ConcurrentHashMap[Int, JobResult]()
    val started = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      tags.put(e.jobId, p.flatMap(x => Option(x.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty))
      p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .foreach(descriptions.put(e.jobId, _))
      started.countDown()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.jobResult)
    def tagged(tag: String): Seq[Int] =
      tags.asScala.collect { case (id, t) if t(tag) => id }.toSeq
  }

  private def listening[T](body: Jobs => T): T = {
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    try body(jobs) finally sc.removeSparkListener(jobs)
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(50)
    }
  }

  test("parallel: a failing leg cancels its running sibling's job and rethrows promptly") {
    // 2 partitions × 2000 rows × 10 ms: the sibling would run ~20 s
    val slow = udf { (id: Long) => Thread.sleep(10); id }
    listening { jobs =>
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](QueryScope("qs-cancel") {
        QueryScope.parallel(Seq[() => Any](
          () => spark.range(0, 4000, 1, 2).select(slow(col("id"))).collect(),
          () => {
            assert(jobs.started.await(30, TimeUnit.SECONDS), "sibling never started")
            throw new IllegalStateException("planted leg failure")
          }))
      })
      val waited = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage === "planted leg failure")
      assert(waited < 10, s"parallel took $waited s to rethrow")
      eventually("the sibling's job to end") {
        val ids = jobs.tagged("qs-cancel")
        ids.nonEmpty && ids.forall(jobs.ends.containsKey)
      }
      for (id <- jobs.tagged("qs-cancel"))
        assert(jobs.ends.get(id).isInstanceOf[JobFailed], s"job $id: ${jobs.ends.get(id)}")
    }
  }

  test("a scope whose body throws releases what it persisted") {
    // numCachedEntries is private[spark] in Scala, public in bytecode
    val cache = spark.sharedState.cacheManager
    def entries = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = entries
    val e = intercept[IllegalStateException](QueryScope("qs-leak") {
      assert(QueryScope.persist(spark.range(100).toDF("id")).count() === 100)
      assert(entries !== before, "persist registered no cache entry")
      throw new IllegalStateException("planted body failure")
    })
    assert(e.getMessage === "planted body failure")
    assert(entries === before)
  }

  test("a leg recorded in a nested scope is readable from the enclosing scope") {
    @volatile var seenLater: Seq[String] = null
    val inheriting = QueryScope("qs-outer") {
      QueryScope("inner") {
        QueryScope.materialize("evens")(spark.range(10).filter(col("id") % 2 === 0).toDF())
      }
      val legs = QueryScope.legs
      assert(legs.map(_._1) === Seq("evens"))
      assert(legs.head._2.toString.contains("Range"), legs.head._2.toString)
      new Thread(() => seenLater = QueryScope.legs.map(_._1))
    }
    assert(QueryScope.legs.isEmpty)
    // a thread created inside the scope inherits it, but a closed scope
    // holds nothing
    inheriting.start()
    inheriting.join()
    assert(seenLater === Seq.empty)
  }

  test("materialize tags its job <scope>/<leg> and leaves the caller's description alone") {
    listening { jobs =>
      sc.setJobDescription("caller/build")
      try {
        QueryScope("qs-tag") {
          QueryScope.materialize("ids")(spark.range(5).toDF("id"))
        }
        assert(sc.getLocalProperty("spark.job.description") === "caller/build")
        assert(!sc.getJobTags().contains("qs-tag/ids"))
        eventually("the tagged checkpoint job")(jobs.tagged("qs-tag/ids").nonEmpty)
        for (id <- jobs.tagged("qs-tag/ids"))
          assert(jobs.descriptions.get(id) === "caller/build")
      } finally sc.setJobDescription(null)
    }
  }
}
