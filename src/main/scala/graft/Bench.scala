package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Bench main — runs the headline query set on SPARK_GRAFT_SF_DIR (default
  * sf0.1) and prints ONE JSON line the driver records as BENCH_r{N}.json.
  *
  * Each query is fully materialized through the "noop" sink (not .count(),
  * which would let Catalyst prune the whole plan down to a metadata count
  * for scan-shaped queries). One untimed warmup of the flagship agg pays
  * JIT/codegen + parquet footer costs so the timings measure the plans.
  *
  * Steal-immune metric (VERDICT r18 item 1): alongside wall time, a
  * SparkListener accumulates per-stage EXECUTOR CPU TIME (plus GC time,
  * shuffle read/write and spill bytes), snapshotted around every rep. CPU
  * time is invariant to host CPU steal — a steal episode inflates wall
  * while CPU stays at band — so regressions and episodes are separable
  * from the artifact alone. Per-query `cpu` (min over successful reps)
  * rides the headline line; per-rep arrays land in BENCH_DETAIL.json,
  * including `gc_reps` (VERDICT r19 item 2: heavy oversubscription can
  * inflate CPU itself via lock-spin/GC interplay, so the adjudication
  * rule is three-input — CPU band × load-at-rep × GC share).
  *
  * Survivability (VERDICT r19 item 1 — the r19 driver artifact lost 14 of
  * 99 queries to ONE fatal rep): if a rep kills the SparkContext, the
  * sweep REBUILDS the session (and its listener) and keeps measuring; and
  * BENCH_DETAIL.json is re-flushed after every query, so a timeout kill
  * mid-sweep still leaves a parseable partial artifact.
  */
object Bench {

  final case class Rep(wall: Double, cpu: Double, gc: Double, load: String,
                       shufReadMb: Double, shufWriteMb: Double,
                       spillMb: Double, ok: Boolean)

  final case class SweepResult(
      results: Seq[(String, (Double, Double))],
      errors: scala.collection.mutable.LinkedHashMap[String, String],
      repDetail: scala.collection.mutable.LinkedHashMap[String, Seq[Rep]])

  /** Locale-pinned decimal formatting (ADVICE r19: the f interpolator is
    * locale-sensitive — a non-US default locale would emit decimal COMMAS
    * and invalid JSON). */
  private[graft] def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").take(3).mkString(" ") finally src.close()
    } catch { case _: Throwable => "" }

  /** Executor-side metric accumulation for one session: registers the
    * stage-completion listener and builds the bus drain. Re-instantiated
    * when the sweep rebuilds a dead session. */
  private final class Metrics(spark: SparkSession) {
    val cpuNs = new AtomicLong(0)
    val gcMs = new AtomicLong(0)
    val shufReadB = new AtomicLong(0)
    val shufWriteB = new AtomicLong(0)
    val spillB = new AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            cpuNs.addAndGet(m.executorCpuTime)
            gcMs.addAndGet(m.jvmGCTime)
            shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      })
    // Listener events post asynchronously; a rep's counters are only
    // complete once the bus drains. LiveListenerBus.waitUntilEmpty() is
    // private[spark] (public at the bytecode level) — reach it via
    // reflection, falling back to poll-until-stable if the internal API
    // moves.
    val drain: () => Unit =
      (try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        val wue = bus.getClass.getMethod("waitUntilEmpty")
        wue.invoke(bus) // probe once so failures fall back now
        Some(() => { wue.invoke(bus); () })
      } catch { case _: Throwable => None }).getOrElse { () =>
        var last = -1L; var stable = 0; var waited = 0
        while (stable < 2 && waited < 2000) {
          val cur = cpuNs.get
          if (cur == last) stable += 1 else { stable = 0; last = cur }
          Thread.sleep(25); waited += 25
        }
      }
  }

  /** The measured sweep, factored out of main so BenchSweepSpec can plant
    * a context-killing query mid-sweep and assert the queries AFTER it
    * still get measured reps (VERDICT r19 item 1).
    *
    * @param mkSession builds (or rebuilds) the session; called again
    *                  whenever a rep leaves the SparkContext stopped.
    * @param flushDetail called with the full detail-JSON string after
    *                    every query — the incremental artifact flush.
    * @return per-query (min wall, min cpu of successful reps), the error
    *         map, and the per-rep detail. */
  private[graft] def sweep(
      mkSession: () => SparkSession,
      entries: Seq[Registry.Entry],
      sfDir: String,
      reps: Int,
      flushDetail: (SweepResult, SparkSession) => Unit = (_, _) => ())
      : (SweepResult, SparkSession) = {
    var spark = mkSession()
    var metrics = new Metrics(spark)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val repDetail = scala.collection.mutable.LinkedHashMap[String, Seq[Rep]]()
    val results = scala.collection.mutable.ArrayBuffer[(String, (Double, Double))]()
    for (e <- entries) {
      val times = (1 to reps).flatMap { _ =>
        // a prior rep (of this or an earlier query) may have killed the
        // context — a fatal query must cost ITS OWN measurements only,
        // never the rest of the sweep's (the r19 artifact lost 14 queries
        // to one b163 fatal)
        if (spark.sparkContext.isStopped) {
          System.err.println("[bench] SparkContext stopped — rebuilding session")
          spark = mkSession()
          metrics = new Metrics(spark)
        }
        val load = loadavg()
        metrics.drain()
        val cpu0 = metrics.cpuNs.get; val gc0 = metrics.gcMs.get
        val sr0 = metrics.shufReadB.get
        val sw0 = metrics.shufWriteB.get; val sp0 = metrics.spillB.get
        val t0 = System.nanoTime()
        def mk(ok: Boolean) = {
          val wall = (System.nanoTime() - t0) / 1e9
          // a stopped context can no longer drain (and its counters are
          // final anyway)
          if (!spark.sparkContext.isStopped) metrics.drain()
          Rep(wall, (metrics.cpuNs.get - cpu0) / 1e9,
            (metrics.gcMs.get - gc0) / 1e3, load,
            (metrics.shufReadB.get - sr0) / 1048576.0,
            (metrics.shufWriteB.get - sw0) / 1048576.0,
            (metrics.spillB.get - sp0) / 1048576.0, ok)
        }
        try {
          e.q(spark, sfDir).write.mode("overwrite").format("noop").save()
          val r = mk(ok = true)
          repDetail(e.name) = repDetail.getOrElse(e.name, Seq.empty) :+ r
          Some(r)
        } catch {
          // failing reps record their elapsed time and load too, marked
          // err=true, so anomalous reps stay adjudicable (ADVICE r18
          // item 5) — but must NOT contribute a (near-zero) elapsed time
          // to the min-of-reps result
          case t: Throwable =>
            System.err.println(s"[bench] ${e.name}: $t")
            errors(e.name) = t.getClass.getSimpleName
            repDetail(e.name) =
              repDetail.getOrElse(e.name, Seq.empty) :+ mk(ok = false)
            None
        }
      }
      times.map(_.wall).minOption
        .foreach(w => results += (e.name -> (w, times.map(_.cpu).min)))
      flushDetail(SweepResult(results.toSeq, errors, repDetail), spark)
    }
    (SweepResult(results.toSeq, errors, repDetail), spark)
  }

  /** The headline JSON line over `qs` (ascending by wall), with `omitted`
    * lightest queries dropped to fit the driver's output-tail window. */
  private[graft] def line(r: SweepResult,
      qs: Seq[(String, (Double, Double))], omitted: Int, sfDir: String): String = {
    val errs = r.errors
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = r.results.map(_._2._1).sum
    val cpuTotal = r.results.map(_._2._2).sum
    val qjson = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v._1, 3) }
      .mkString("{", ",", "}")
    val cjson = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v._2, 3) }
      .mkString("{", ",", "}")
    val om = if (omitted > 0)
      s""","queries_omitted":$omitted,"detail":"BENCH_DETAIL.json"""" else ""
    s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","cpu_total":${fmt(cpuTotal, 3)},"queries":$qjson,"cpu":$cjson,"errors":$errs$om,"sf":"$sfDir"}"""
  }

  /** Full detail artifact: the complete headline map + per-rep (wall, cpu,
    * gc, loadavg-at-rep-start, shuffle, spill, err) arrays — the
    * steal-adjudication evidence. */
  private[graft] def detailJson(r: SweepResult, sfDir: String): String = {
    def arr(f: Rep => String) = r.repDetail.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val asc = r.results.sortBy(_._2._1)
    line(r, asc, 0, sfDir).stripSuffix("}") +
      s""","reps":${arr(x => fmt(x.wall, 3))}""" +
      s""","cpu_reps":${arr(x => fmt(x.cpu, 3))}""" +
      s""","gc_reps":${arr(x => fmt(x.gc, 3))}""" +
      s""","load":${arr(x => "\"" + x.load + "\"")}""" +
      s""","shuffle_read_mb":${arr(x => fmt(x.shufReadMb, 1))}""" +
      s""","shuffle_write_mb":${arr(x => fmt(x.shufWriteMb, 1))}""" +
      s""","spill_mb":${arr(x => fmt(x.spillMb, 1))}""" +
      s""","rep_ok":${arr(x => x.ok.toString)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def mkSession(): SparkSession = Sessions.local("graft-bench")

    // min-of-3 absorbs the host's multi-second CPU-steal spikes
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Local-A/B filter only (driver never sets it): comma-separated bench
    // names → time just those (the Verify SPARK_GRAFT_ONLY convention)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val entries = SparkEntry.benchQueries
      .filter(e => only.forall(_.contains(e.name)))

    // incremental artifact flush (VERDICT r19 item 1): BENCH_DETAIL.json
    // is rewritten after EVERY query, so a driver timeout kill mid-sweep
    // still leaves a parseable partial artifact (never clobbered by an
    // A/B-filtered run)
    val flush: (SweepResult, SparkSession) => Unit =
      if (only.isEmpty) { (r, _) =>
        try {
          val w = new java.io.PrintWriter("BENCH_DETAIL.json")
          try w.println(detailJson(r, sfDir)) finally w.close()
        } catch { case t: Throwable => System.err.println(s"[bench] detail: $t") }
      } else (_, _) => ()

    val warmupSession = mkSession()
    // warmup (untimed): JIT, codegen compiler, parquet footers
    SparkEntry.queries("b17_agg_hash")(warmupSession, sfDir)
      .write.mode("overwrite").format("noop").save()

    val (result, lastSession) = sweep(mkSession, entries, sfDir, reps, flush)

    // The driver records only the LAST ~2000 chars of output (BENCH_r16's
    // tail field is exactly 2000), so a full per-query map (~2.9k chars at
    // 88 queries) head-truncates and `parsed` comes back null (VERDICT r16
    // "what's missing" #5). Emit a line GUARANTEED to fit: keep the
    // heaviest (band-watched) queries and drop lightest-first until the
    // serialized line is under budget, recording how many were omitted;
    // the COMPLETE map is always in BENCH_DETAIL.json alongside.
    val asc = result.results.sortBy(_._2._1)
    val MaxLine = 1700
    val fit = (0 to asc.size)
      .map(drop => (drop, line(result, asc.drop(drop), drop, sfDir)))
      .find(_._2.length <= MaxLine)
      .map(_._2).getOrElse(line(result, Seq.empty, asc.size, sfDir))
    // rc stays 0 even with per-query errors: the JSON line (with its
    // "errors" map) must still reach the recorder
    println(fit)
    lastSession.stop()
  }
}
