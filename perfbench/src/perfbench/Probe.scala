package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side measurement for one session, attached from outside.
  *
  * Always: executor CPU summed over completed stages (steal-immune).
  * When traced: an aggregate per job description ("workload/item/phase")
  * of jobs, stages, tasks and task metrics, plus a fingerprint of every
  * SQL execution's final physical plan. Everything stays in memory;
  * [[take]] hands over what accumulated since the last call.
  */
final class Probe(spark: SparkSession, traced: Boolean) {
  import Probe._

  val cpuNs = new AtomicLong(0)

  private val aggs = mutable.Map[String, Agg]()
  private val stageDesc = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val sqlPlans = mutable.Map[Long, (String, SparkPlanInfo)]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private val lock = new Object

  private def agg(desc: String): Agg = aggs.getOrElseUpdate(desc, new Agg)

  private val listener = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      if (traced) lock.synchronized {
        val info = e.stageInfo
        val a = agg(stageDesc.getOrElse(info.stageId, ""))
        a.stages += 1
        val ms = stageTaskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
        if (m != null) a.stageRows += StageRow(info.stageId, info.name, ms.size,
          ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2),
          m.executorCpuTime / 1e9, m.shuffleReadMetrics.totalBytesRead / MB,
          m.shuffleWriteMetrics.bytesWritten / MB,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) lock.synchronized {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      e.stageIds.foreach(stageDesc(_) = desc)
      jobStart(e.jobId) = desc -> e.time
      agg(desc).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (desc, t0) => agg(desc).spans += (t0 -> e.time) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) lock.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val a = agg(stageDesc.getOrElse(e.stageId, ""))
        a.tasks += 1
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0) a.useful += 1
        a.taskMs += info.duration
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += info.duration
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufReadB += m.shuffleReadMetrics.totalBytesRead
        a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlPlans(s.executionId) = s.description -> s.sparkPlanInfo
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          sqlPlans.get(u.executionId).foreach { case (d, _) =>
            sqlPlans(u.executionId) = d -> u.sparkPlanInfo }
        case x: SparkListenerSQLExecutionEnd =>
          sqlPlans.remove(x.executionId).foreach { case (d, plan) =>
            agg(d).plan.add(fingerprint(plan)) }
        case _ =>
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  // Listener events post asynchronously: a window's numbers are complete
  // only once the bus has drained. LiveListenerBus.waitUntilEmpty() is
  // private[spark] but public in bytecode.
  private val waitUntilEmpty: () => Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethod("waitUntilEmpty")
    () => { m.invoke(bus); () }
  }

  def drain(): Unit = waitUntilEmpty()

  /** Everything aggregated since the previous call, keyed by description. */
  def take(): Map[String, Agg] = { drain(); lock.synchronized { val r = aggs.toMap; aggs.clear(); r } }
}

object Probe {
  val MB = 1048576.0

  /** One completed stage: tasks, max/median task time, CPU, shuffle, spill. */
  final case class StageRow(stageId: Int, name: String, tasks: Int, taskMaxMs: Long,
                            taskP50Ms: Long, cpuS: Double, shuffleReadMb: Double,
                            shuffleWriteMb: Double, spillMb: Double)

  final class Fingerprint(var executions: Int = 0, var exchanges: Int = 0,
                          var singlePartition: Int = 0, var bnlj: Int = 0,
                          var windows: Int = 0, var codegenStages: Int = 0) {
    def add(o: Fingerprint): Unit = {
      executions += o.executions; exchanges += o.exchanges
      singlePartition += o.singlePartition; bnlj += o.bnlj
      windows += o.windows; codegenStages += o.codegenStages
    }
  }

  final class Agg {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var useful = 0
    val taskMs = mutable.ArrayBuffer[Long]()
    var schedMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var spillB = 0L
    val spans = mutable.ArrayBuffer[(Long, Long)]()
    val plan = new Fingerprint()
    val stageRows = mutable.ArrayBuffer[StageRow]()

    def add(o: Agg): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; useful += o.useful
      taskMs ++= o.taskMs; schedMs += o.schedMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shufReadB += o.shufReadB; shufWriteB += o.shufWriteB; spillB += o.spillB
      spans ++= o.spans; plan.add(o.plan); stageRows ++= o.stageRows
    }

    /** Wall time during which at least one job of this aggregate ran. */
    def busyS: Double = {
      var end = Long.MinValue; var total = 0L
      spans.sortBy(_._1).foreach { case (s, e) =>
        if (s > end) { total += e - s; end = e }
        else if (e > end) { total += e - end; end = e }
      }
      total / 1e3
    }
  }

  def merge(aggs: Iterable[Agg]): Agg = { val a = new Agg; aggs.foreach(a.add); a }

  /** Shape counts of a physical plan as the SQL UI reports it, walking
    * through AQE stages and reused exchanges. */
  def fingerprint(root: SparkPlanInfo): Fingerprint = {
    val f = new Fingerprint(executions = 1)
    def walk(p: SparkPlanInfo): Unit = {
      p.nodeName match {
        case "Exchange" =>
          f.exchanges += 1
          if (p.simpleString.contains("SinglePartition")) f.singlePartition += 1
        case "BroadcastNestedLoopJoin" | "CartesianProduct" => f.bnlj += 1
        case "Window" | "WindowGroupLimit" => f.windows += 1
        case n if n.startsWith("WholeStageCodegen") => f.codegenStages += 1
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(root)
    f
  }
}
