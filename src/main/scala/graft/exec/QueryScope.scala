package graft.exec

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import scala.collection.mutable
import scala.util.DynamicVariable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of a query's eager work: its materialized legs, its
  * persisted relations and its concurrent legs. Every
  * `Registry.entry` runs inside a scope named after the entry; an
  * operator whose persisted relation must not outlive it opens its
  * own, nested scope. Scopes nest per thread.
  *
  *   - [[materialize]] checkpoints a leg eagerly. Its jobs carry the
  *     tag `<scope>/<leg>`, and the scope records the leg's
  *     pre-checkpoint logical plan (cache substitution applied, nothing
  *     executed), so plan pins and PlanDump read the shipping path.
  *     A leg is named after the val it binds (a var's initial value is
  *     `<var>0`); a repeated leg keeps its first occurrence, a loop's
  *     round 1.
  *   - [[persist]] holds a relation until the scope closes.
  *   - [[parallel]] runs independent legs concurrently and cancels the
  *     siblings' Spark jobs on the first failure.
  *
  * Closing a scope (in `finally`) unpersists its relations in reverse
  * order and hands its recorded legs to the enclosing scope.
  * Checkpoints are not released on close; a loop frees a superseded
  * round with [[release]]. Outside any scope, [[materialize]] only
  * checkpoints. Threads created inside a scope (Spark's own pools
  * included) inherit it; once closed it holds nothing and counts as no
  * scope. */
final class QueryScope private (val name: String) {
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private val recorded = mutable.LinkedHashMap.empty[String, LogicalPlan]
  @volatile private var open = true

  private def record(leg: String, plan: LogicalPlan): Unit = synchronized {
    if (!recorded.contains(leg)) recorded(leg) = plan
  }

  /** Unpersists in reverse order and returns the recorded legs. */
  private def close(): Seq[(String, LogicalPlan)] = synchronized {
    open = false
    persisted.reverseIterator.foreach(_.unpersist(false))
    persisted.clear()
    try recorded.toSeq finally recorded.clear()
  }
}

object QueryScope {
  private val current = new DynamicVariable[Option[QueryScope]](None)
  private def active: Option[QueryScope] = current.value.filter(_.open)

  /** Runs `body` in a new scope nested in the current one (its name is
    * `<parent>/<name>`) and closes it, failure or not. */
  def apply[T](name: String)(body: => T): T = {
    val parent = active
    val scope = new QueryScope(parent.fold(name)(p => s"${p.name}/$name"))
    try current.withValue(Some(scope))(body)
    finally {
      val legs = scope.close()
      for (p <- parent; (leg, plan) <- legs) p.record(leg, plan)
    }
  }

  /** The current scope's recorded legs (nested scopes' included), in
    * recording order; empty outside any scope. */
  def legs: Seq[(String, LogicalPlan)] =
    active.fold(Seq.empty[(String, LogicalPlan)])(s =>
      s.synchronized(s.recorded.toSeq))

  /** `df.localCheckpoint(true)`, tagged and recorded as leg `leg`. */
  def materialize(leg: String)(df: DataFrame): DataFrame = active match {
    case None => df.localCheckpoint(true)
    case Some(scope) =>
      scope.record(leg, df.queryExecution.withCachedData)
      tagged(df.sparkSession.sparkContext, s"${scope.name}/$leg")(
        df.localCheckpoint(true))
  }

  /** Persists `df` (MEMORY_AND_DISK) until the current scope closes. */
  def persist(df: DataFrame): DataFrame = {
    val scope = active.getOrElse(throw new IllegalStateException(
      "QueryScope.persist outside a scope: nothing would release it"))
    scope.synchronized(scope.persisted += df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Frees a checkpoint's blocks once the round that produced it is
    * superseded. Safe only because the frame is never read again (a
    * truncated-lineage RDD cannot recompute). Best-effort: a frame that
    * is not a checkpoint is left to the ContextCleaner. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    }

  /** Runs `legs` concurrently, one thread each, inside the current scope
    * (a fresh one outside any), with the scope's name as their job tag.
    * Returns their results in order. The first failure cancels the
    * siblings' jobs and interrupts their threads before it is rethrown. */
  def parallel[T](legs: Seq[() => T]): Seq[T] = active match {
    case None => QueryScope("parallel")(parallel(legs))
    case Some(scope) =>
      val sc = SparkSession.active.sparkContext
      val pool = Executors.newFixedThreadPool(legs.size.max(1))
      val done = new ExecutorCompletionService[T](pool)
      try {
        val futures = legs.map(leg => done.submit(() =>
          current.withValue(Some(scope))(tagged(sc, scope.name)(leg()))))
        for (_ <- legs)
          try done.take().get()
          catch {
            case e: ExecutionException =>
              sc.cancelJobsWithTag(scope.name, "a sibling leg failed")
              pool.shutdownNow()
              throw e.getCause
          }
        futures.map(_.get())
      } finally pool.shutdown()
  }

  private def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }
}
