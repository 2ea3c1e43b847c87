package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.sources.{HttpSubmitSink, WildWebFetcher}
import graft.wildweb.{WildWebConfig, WildWebPipeline}

/** The benchmark's JVM side. One closed-loop client drives one workload
  * through the program's public entry points and writes a single JSON
  * record at the end:
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 --cpus C
  *            --data DIR --fixtures DIR --work DIR --out FILE
  *   selftest --fixtures DIR --seed N --out FILE
  */
object Main {

  sealed trait Workload { def name: String }
  final case class WildWeb(name: String, spec: Feed.Spec) extends Workload
  final case class Registry(name: String, sf: Double, entries: Seq[String]) extends Workload

  val workloads: Seq[Workload] = Seq(
    WildWeb("wildweb_feed", Feed.Spec(centers = 48, incidents = 20000,
      range = "24 Hours", alpha = 1.0, inRange = 0.30, badCoords = 0.05)),
    WildWeb("wildweb_backfill", Feed.Spec(centers = 8, incidents = 60000,
      range = "1 Week", alpha = 1.0, inRange = 0.93, badCoords = 0.05)),
    Registry("registry_heavy", 0.03, Seq("b282_containment_join", "b145_ssjoin_prefix")))

  /** Scale of the tables the kernel pass reads. */
  val KernelSf = 0.1

  /** Entries whose per-entry wall and CPU are per-layer metrics. */
  def tracedEntries: Seq[String] = workloads.collect { case Registry("registry_heavy", _, es) => es }.flatten

  val TailPercentile = 90

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val record = argv.headOption match {
      case Some("run") => run(args)
      case Some("selftest") => selftest(args)
      case _ => sys.error("usage: Main run|selftest --key value ...")
    }
    Files.writeString(Paths.get(args("out")), Feed.mapper.writeValueAsString(toJava(record)))
  }

  // ---------------------------------------------------------------- helpers

  private def toJava(x: Any): Any = x match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => j.put(k.toString, toJava(v)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case v => v
  }

  private def nowS(): Double = System.nanoTime() / 1e9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  /** Nearest-rank percentile. */
  private def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.max(0, math.ceil(p / 100.0 * xs.size).toInt - 1))

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  def mkSession(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def effectiveConfig(s: SparkSession): Map[String, Any] = Map(
    "master" -> s.sparkContext.master,
    "default_parallelism" -> s.sparkContext.defaultParallelism,
    "spark.sql.shuffle.partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
    "spark.sql.adaptive.enabled" -> s.conf.get("spark.sql.adaptive.enabled"),
    "spark.sql.session.timeZone" -> s.conf.get("spark.sql.session.timeZone"),
    "spark.sql.autoBroadcastJoinThreshold" -> s.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    "spark_version" -> s.version,
    "java_version" -> System.getProperty("java.version"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / Probe.MB)

  // ---------------------------------------------------------------- wildweb

  final case class Inv(latencyS: Double, invocationS: Double, fetchS: Double, runS: Double,
                       submitS: Double, transferS: Double, requests: Int, fetchMb: Double,
                       submitMb: Double, fetchQuarantined: Int, incidents: Int, features: Int,
                       quarantined: Int, heapPeakMb: Double, failure: Option[String])

  /** One scheduled invocation as `WildWebJob` makes it: fetch → run →
    * submit → error epilogue (collect the quarantined centers), against
    * `server`, which must already serve `centers`. Then, untimed, the
    * output check against `expected`, which is computed only after the
    * invocation so that the heap measured during it is the program's own.
    *
    * With `sampleHeap`, the peak heap is the largest heap in use after a
    * forced full GC at three points: before the fetch, while the submit
    * POST is in flight (the receiver forces it) and after the epilogue.
    * The receiver's GC is taken out of every timing. */
  def invoke(spark: SparkSession, server: FeedServer, sampleHeap: Boolean, tag: String,
             centers: Seq[String], expected: () => Feed.Expected,
             config: WildWebConfig, incidents: Int, landed: Path): Inv = {
    val sc = spark.sparkContext
    server.sampleHeap = sampleHeap
    val floorMb = if (sampleHeap) FeedServer.heapAfterGcMb() else 0.0
    val t0 = nowS()
    sc.setJobDescription(s"$tag/fetch")
    val (_, fetchErrors) = WildWebFetcher.fetchAll(centers,
      c => s"${server.base}/feed/$c", landed.toString, WildWebFetcher.httpTransport())
    val t1 = nowS()
    sc.setJobDescription(s"$tag/run")
    val outcome = WildWebPipeline.run(spark, landed.toString, config)
    val t2 = nowS()
    sc.setJobDescription(s"$tag/submit")
    outcome match {
      case WildWebPipeline.Completed(features, _) =>
        HttpSubmitSink.submit(features, s"${server.base}/submit")
      case WildWebPipeline.Aborted =>
    }
    val t3 = nowS()
    sc.setJobDescription(s"$tag/epilogue")
    val decodeErrs = outcome match {
      case WildWebPipeline.Completed(_, errors) => errors.collect().map(_.getString(0)).toSeq.sorted
      case WildWebPipeline.Aborted => Nil
    }
    val t4 = nowS()
    sc.setJobDescription(null)
    val heapPeakMb = if (sampleHeap) Seq(floorMb, server.submitHeapMb, FeedServer.heapAfterGcMb()).max else 0.0
    val gcS = server.submitGcNs / 1e9
    val body = server.submitted
    val exp = expected()
    val (quarantined, failure) = (exp, outcome) match {
      case (Feed.ExpectAbort, WildWebPipeline.Aborted) =>
        0 -> (if (body.nonEmpty) Some("aborted run submitted a body") else None)
      case (e: Feed.ExpectRun, WildWebPipeline.Completed(_, _)) =>
        val fetchErrs = fetchErrors.map(_._1).sorted
        decodeErrs.size -> (
          if (fetchErrs != e.fetchQuarantine) Some(s"fetch quarantine $fetchErrs, want ${e.fetchQuarantine}")
          else if (decodeErrs != e.decodeQuarantine) Some(s"decode quarantine $decodeErrs, want ${e.decodeQuarantine}")
          else Feed.compare(body, e))
      case (e, o) => 0 -> Some(s"outcome $o, want $e")
    }
    deleteTree(landed)
    val features = exp match { case e: Feed.ExpectRun => e.features.size; case _ => 0 }
    val inv = Inv(t3 - t0 - gcS, t4 - t0 - gcS, t1 - t0, t2 - t1, t3 - t2 - gcS, server.submitTransferNs / 1e9,
      server.requests, server.bytesServed / Probe.MB, body.length / Probe.MB, fetchErrors.size,
      incidents, features, quarantined, heapPeakMb, failure.map(f => s"$tag: $f"))
    server.load(Nil)
    inv
  }

  private def fixtureCenters(dir: Path): Seq[(String, String)] =
    Files.list(dir).iterator.asScala.toSeq.filter(_.toString.endsWith(".json")).sortBy(_.toString)
      .map(p => p.getFileName.toString.stripSuffix(".json") -> Files.readString(p))

  /** Golden self-check through the invocation path: the generator's
    * expectation for fixtures run_ok must equal the checked-in golden
    * FeatureCollection, and the program must deliver exactly it; run_abort
    * must abort with nothing submitted. Returns failures. */
  def selfCheck(spark: SparkSession, server: FeedServer, fixtures: Path, work: Path): Seq[String] = {
    val golden = Feed.mapper.readTree(fixtures.resolve("expected_featurecollection.json").toFile)
    Seq("run_ok", "run_abort").flatMap { run =>
      val raw = fixtureCenters(fixtures.resolve(run))
      val expected = Feed.expect(raw.map { case (c, t) => c -> Feed.parseBody(t) }, Feed.Now, "1 Week")
      val goldenFailure = (run, expected) match {
        case ("run_ok", e: Feed.ExpectRun) if Feed.collection(e) != golden =>
          Some("selfcheck: generator expectation for run_ok differs from the golden file")
        case ("run_abort", e) if e != Feed.ExpectAbort =>
          Some("selfcheck: generator expectation for run_abort is not an abort")
        case _ => None
      }
      server.load(raw.map { case (c, t) => c -> (200 -> t.getBytes("UTF-8")) })
      val inv = invoke(spark, server, sampleHeap = false, s"selfcheck/$run", raw.map(_._1), () => expected,
        WildWebConfig("1 Week", Feed.Now), 0, work.resolve(s"landed/selfcheck-$run"))
      goldenFailure.toSeq ++ inv.failure
    }
  }

  // --------------------------------------------------------------- registry

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** `df` observed for its row count and an order-insensitive digest. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"), bit_xor(h).as("x"),
      coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("s"))
  }

  private def digest(obs: Observation): (Long, String) = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    rows -> s"$rows:${m("x")}:${m("s")}"
  }

  private def resolve(names: Seq[String]): Seq[graft.Registry.Entry] = {
    val all = graft.SparkEntry.all.map(e => e.name -> e).toMap
    names.map(n => all.getOrElse(n, sys.error(s"unknown registry entry $n")))
  }

  // -------------------------------------------------------------------- run

  def run(a: Args): Map[String, Any] = {
    val w = workloads.find(_.name == a("workload")).getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val data = w match {
      case r: Registry => s"${a("data")}/sf${r.sf}"
      case _ => s"${a("data")}/sf$KernelSf"
    }
    val work = Paths.get(a("work")).toAbsolutePath
    val fixtures = Paths.get(a("fixtures"))
    Files.createDirectories(work)

    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    val latencies = mutable.ArrayBuffer[Double]()
    // registry: entry → (wall, executor CPU) of each timed execution
    val perEntry = mutable.LinkedHashMap[String, (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double])]()
    val passWall = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    val heap = mutable.ArrayBuffer[Double]() // peak heap after GC, one per timed pass
    var items = 0L
    val layers = mutable.ArrayBuffer[Map[String, Double]]() // one per pass
    val artifact = mutable.LinkedHashMap[String, Probe.Agg]()
    val extra = mutable.LinkedHashMap[String, Any]()
    // JVM uptime at the end of each phase of the run, for its time budget
    val uptime = mutable.LinkedHashMap[String, Double]()
    def mark(phase: String): Unit =
      uptime(phase) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val server = w match { case _: WildWeb => Some(new FeedServer(work.resolve("server"))); case _ => None }
    var spark: SparkSession = null
    try {
      // set-up, once and cold, as every scheduled invocation of the
      // shipped program starts: the first session of this JVM, then the
      // warm-up
      val t0 = nowS()
      spark = mkSession(cpus, work.toString)
      val t1 = nowS()
      w match {
        case _: WildWeb => failures ++= selfCheck(spark, server.get, fixtures, work)
        case _: Registry =>
          graft.SparkEntry.queries("b17_agg_hash")(spark, data)
            .write.mode("overwrite").format("noop").save()
      }
      val (buildS, warmupS) = (t1 - t0, nowS() - t1)
      mark("setup")
      val probe = new Probe(spark, traced)
      val sc = spark.sparkContext
      extra("config") = effectiveConfig(spark)

      def passLayers(aggs: Map[String, Probe.Agg], own: Map[String, Double]): Unit = {
        if (traced) {
          aggs.foreach { case (d, ag) =>
            val key = d.replaceAll("/inv-\\d+/", "/inv/")
            artifact.getOrElseUpdate(key, new Probe.Agg).add(ag) }
          val all = Probe.merge(aggs.values)
          val ms = all.taskMs.map(_.toDouble).toSeq
          layers += own ++ Map(
            "plans.exchanges" -> all.plan.exchanges.toDouble,
            "plans.single_partition" -> all.plan.singlePartition.toDouble,
            "plans.bnlj" -> all.plan.bnlj.toDouble,
            "plans.windows" -> all.plan.windows.toDouble,
            "plans.codegen_stages" -> all.plan.codegenStages.toDouble,
            "exec.run_s" -> all.busyS,
            "exec.jobs" -> all.jobs.toDouble,
            "exec.stages" -> all.stages.toDouble,
            "exec.tasks" -> all.tasks.toDouble,
            "exec.useful_task_ratio" -> (if (all.tasks == 0) 0.0 else all.useful.toDouble / all.tasks),
            "exec.task_p50_ms" -> median(ms),
            "exec.task_max_s" -> (if (ms.isEmpty) 0.0 else ms.max / 1e3),
            "exec.scheduler_delay_s" -> all.schedMs / 1e3,
            "exec.cpu_s" -> all.cpuNs / 1e9,
            "exec.gc_s" -> all.gcMs / 1e3,
            "exec.shuffle_read_mb" -> all.shufReadB / Probe.MB,
            "exec.shuffle_write_mb" -> all.shufWriteB / Probe.MB,
            "exec.spill_mb" -> all.spillB / Probe.MB)
        }
      }

      w match {
        case WildWeb(name, spec) =>
          val srv = server.get
          def invocation(i: Int): Inv = {
            // the snapshot is dropped before the invocation and generated
            // again for the check, so the generator's data stays off the
            // heap the invocation is measured with
            val (centers, incidents, config) = {
              val snap = Feed.snapshot(seed, i, spec)
              srv.load(Feed.parMap(snap.centers.toIndexedSeq) { case (c, b) => c -> Feed.served(b, snap.now) })
              (snap.centers.map(_._1), snap.incidents, WildWebConfig(snap.range, snap.now))
            }
            invoke(spark, srv, sampleHeap = true, s"$name/inv-$i", centers, () => {
              val snap = Feed.snapshot(seed, i, spec)
              Feed.expect(snap.centers, snap.now, snap.range)
            }, config, incidents, work.resolve(s"landed/inv-$i"))
          }
          // untimed full-size invocations prime the JIT for this size; their
          // output is checked like every other
          Seq(-2, -1).foreach(i => invocation(i).failure.foreach(failures += _))
          mark("priming")
          probe.take()
          val start = nowS()
          var i = 0
          do {
            val cpu0 = { probe.drain(); probe.cpuNs.get }
            val inv = invocation(i)
            val aggs = probe.take()
            val cpu = (probe.cpuNs.get - cpu0) / 1e9
            attempted += 1
            inv.failure.foreach(failures += _)
            latencies += inv.latencyS
            passWall += inv.invocationS
            passCpu += cpu
            items += inv.features
            heap += inv.heapPeakMb
            def phase(p: String) = Probe.merge(aggs.collect { case (d, ag) if d.endsWith(s"/$p") => ag })
            val run = phase("run")
            val submit = phase("submit")
            val runMs = run.taskMs.map(_.toDouble).toSeq
            passLayers(aggs, Map(
              "sources.fetch_s" -> inv.fetchS,
              "sources.fetch_requests" -> inv.requests.toDouble,
              "sources.fetch_mb" -> inv.fetchMb,
              "sources.fetch_quarantined" -> inv.fetchQuarantined.toDouble,
              "sources.submit_s" -> inv.submitS,
              "sources.submit_mb" -> inv.submitMb,
              "sources.submit_transfer_s" -> inv.transferS,
              "wildweb.run_s" -> inv.runS,
              "wildweb.run_jobs" -> run.jobs.toDouble,
              "wildweb.run_tasks" -> run.tasks.toDouble,
              "wildweb.run_task_max_s" -> (if (runMs.isEmpty) 0.0 else runMs.max / 1e3),
              "wildweb.run_task_p50_s" -> median(runMs) / 1e3,
              "wildweb.run_cpu_s" -> run.cpuNs / 1e9,
              "wildweb.decode_mb_per_s" -> inv.fetchMb / inv.runS,
              "wildweb.incidents" -> inv.incidents.toDouble,
              "wildweb.features" -> inv.features.toDouble,
              "wildweb.quarantined" -> inv.quarantined.toDouble,
              "wildweb.collect_s" -> submit.busyS,
              "wildweb.collect_jobs" -> submit.jobs.toDouble,
              "wildweb.collect_shuffle_mb" -> (submit.shufReadB + submit.shufWriteB) / Probe.MB))
            i += 1
          } while (nowS() - start < seconds)

        case Registry(name, _, names) =>
          val entries = resolve(names)
          val out = work.resolve("outputs")
          deleteTree(out)
          Files.createDirectories(out)
          // untimed check pass: oracle-backed results land as parquet for
          // the oracle comparison; every entry's digest is the reference
          // the timed passes must reproduce
          val reference = entries.flatMap { e =>
            sc.setJobDescription(s"$name/${e.name}/check")
            try {
              val obs = Observation()
              val df = observed(e.q(spark, data), obs)
              if (e.oracle.isDefined) df.write.mode("overwrite").parquet(out.resolve(e.name).toString)
              else df.write.mode("overwrite").format("noop").save()
              val (rows, d) = digest(obs)
              if (e.oracle.isEmpty && rows == 0) failures += s"${e.name}: check pass returned 0 rows"
              Some(e.name -> d)
            } catch {
              case t: Throwable => failures += s"${e.name}: check pass failed: $t"; None
            }
          }.toMap
          sc.setJobDescription(null)
          Files.writeString(out.resolve("oracle_sql.json"), Feed.mapper.writeValueAsString(
            toJava(entries.flatMap(e => e.oracle.map(e.name -> _)).toMap)))
          extra("oracle_entries") = entries.filter(_.oracle.isDefined).map(_.name)
          extra("outputs_dir") = out.toString
          extra("data_dir") = data
          extra("rows") = reference.map { case (k, v) => k -> v.takeWhile(_ != ':').toLong }
          probe.take() // the check pass is not part of any timed pass
          mark("check")

          // pass -1 is untimed: it primes the JIT like the wildweb priming
          // invocations, and its outputs are checked like every other
          var start = 0.0
          var p = -1
          do {
            if (p == 0) { mark("priming"); start = nowS() }
            val timed = p >= 0
            val order = Feed.shuffle(Feed.rng(seed, p, 1), entries.size).map(entries)
            var build = 0.0; var plan = 0.0; var sampling = 0.0; var passHeap = 0.0
            val p0 = nowS()
            val cpu0 = { probe.drain(); probe.cpuNs.get }
            order.foreach { e =>
              val c0 = { probe.drain(); probe.cpuNs.get }
              val t0 = nowS()
              attempted += 1
              try {
                sc.setJobDescription(s"$name/${e.name}/build")
                val df = e.q(spark, data)
                val t1 = nowS()
                if (traced) {
                  sc.setJobDescription(s"$name/${e.name}/plan")
                  df.queryExecution.executedPlan
                }
                val t2 = nowS()
                sc.setJobDescription(s"$name/${e.name}/write")
                val obs = Observation()
                observed(df, obs).write.mode("overwrite").format("noop").save()
                val t3 = nowS()
                val (rows, d) = digest(obs)
                build += t1 - t0; plan += t2 - t1
                probe.drain()
                if (timed) {
                  latencies += t3 - t0
                  val (ws, cs) = perEntry.getOrElseUpdate(e.name, (mutable.ArrayBuffer(), mutable.ArrayBuffer()))
                  ws += t3 - t0; cs += (probe.cpuNs.get - c0) / 1e9
                }
                val problem =
                  if (e.oracle.isEmpty && rows == 0) Some("returned 0 rows")
                  else if (!reference.get(e.name).contains(d)) Some(s"digest $d differs from the check pass ${reference.get(e.name)}")
                  else None
                problem.foreach(pr => failures += s"${e.name} pass $p: $pr")
              } catch {
                case t: Throwable => failures += s"${e.name} pass $p: $t"
              }
              val g0 = nowS()
              passHeap = math.max(passHeap, FeedServer.heapAfterGcMb(settle = true))
              sampling += nowS() - g0
            }
            sc.setJobDescription(null)
            probe.drain()
            val aggs = probe.take()
            if (timed) {
              passWall += nowS() - p0 - sampling
              passCpu += (probe.cpuNs.get - cpu0) / 1e9
              heap += passHeap
              items += entries.size
              passLayers(aggs, Map(
                "registry.build_s" -> build,
                "registry.eager_jobs" -> aggs.collect { case (d, ag) if d.endsWith("/build") => ag.jobs }.sum.toDouble,
                "plans.plan_s" -> plan))
            }
            p += 1
          } while (p <= 0 || nowS() - start < seconds)
          extra("entries") = perEntry.map { case (k, (ws, cs)) =>
            k -> Map("wall_s" -> ws.toSeq, "cpu_s" -> cs.toSeq) }
          if (traced) layers.indices.foreach { i =>
            layers(i) = layers(i) ++ perEntry.flatMap { case (k, (ws, cs)) =>
              if (i < ws.size) Seq(s"entry.$k.wall_s" -> ws(i), s"entry.$k.cpu_s" -> cs(i)) else Nil }
          }
      }

      mark("timed")
      val kernels = if (traced) {
        sc.setJobDescription(s"${w.name}/kernels/kernel")
        val k = Kernels.measure(spark, s"${a("data")}/sf$KernelSf")
        sc.setJobDescription(null)
        k
      } else Map.empty[String, Double]

      val e2e = Map(
        "setup_s" -> (buildS + warmupS),
        "heap_peak_mb" -> median(heap.toSeq),
        // registry: the median over entries of each entry's median, so
        // that the entries' different sizes do not make it depend on the
        // number of passes
        "latency_p50_s" -> (if (perEntry.isEmpty) median(latencies.toSeq)
                            else median(perEntry.values.map(ws => median(ws._1.toSeq)).toSeq)),
        "pass_wall_s" -> median(passWall.toSeq),
        "pass_cpu_s" -> median(passCpu.toSeq))

      val perLayer: Map[String, Double] = if (!traced) Map.empty else {
        val keys = layers.flatMap(_.keys).distinct
        keys.map(k => k -> median(layers.flatMap(_.get(k)).toSeq)).toMap ++
          Map("session.build_s" -> buildS, "session.warmup_s" -> warmupS) ++
          kernels.map { case (k, v) => s"functions.$k.ns_per_row" -> v }
      }

      Map(
        "workload" -> w.name, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
        "attempted" -> attempted, "failures" -> failures.toSeq,
        "passes" -> passWall.size,
        "latency_tail_s" -> percentile(latencies.toSeq, TailPercentile),
        "latency_tail_percentile" -> TailPercentile, "latency_samples" -> latencies.size,
        "items_per_s" -> items / passWall.sum,
        "latencies_s" -> latencies.toSeq, "pass_wall_s" -> passWall.toSeq,
        "pass_cpu_s" -> passCpu.toSeq, "heap_peak_mb" -> heap.toSeq,
        "end_to_end" -> e2e, "per_layer" -> perLayer, "uptime_s" -> { mark("end"); uptime },
        "trace_artifact" -> artifact.map { case (d, ag) => d -> Map(
          "jobs" -> ag.jobs, "stages" -> ag.stages, "tasks" -> ag.tasks, "useful_tasks" -> ag.useful,
          "busy_s" -> ag.busyS, "cpu_s" -> ag.cpuNs / 1e9, "gc_s" -> ag.gcMs / 1e3,
          "scheduler_delay_s" -> ag.schedMs / 1e3,
          "shuffle_read_mb" -> ag.shufReadB / Probe.MB, "shuffle_write_mb" -> ag.shufWriteB / Probe.MB,
          "spill_mb" -> ag.spillB / Probe.MB,
          "plan" -> Map("executions" -> ag.plan.executions, "exchanges" -> ag.plan.exchanges,
            "single_partition" -> ag.plan.singlePartition, "bnlj" -> ag.plan.bnlj,
            "windows" -> ag.plan.windows, "codegen_stages" -> ag.plan.codegenStages),
          "stages_detail" -> ag.stageRows.map(r => Map("stage" -> r.stageId, "name" -> r.name,
            "tasks" -> r.tasks, "task_max_ms" -> r.taskMaxMs, "task_p50_ms" -> r.taskP50Ms,
            "cpu_s" -> r.cpuS, "shuffle_read_mb" -> r.shuffleReadMb,
            "shuffle_write_mb" -> r.shuffleWriteMb, "spill_mb" -> r.spillMb)))
        }) ++ extra
    } finally {
      server.foreach(_.stop())
      if (spark != null) stopSession(spark)
    }
  }

  // --------------------------------------------------------------- selftest

  /** Generator facts the benchmark's tests pin: the digest of every
    * workload's first snapshot and whether the expectation for fixtures
    * run_ok equals the golden file. */
  def selftest(a: Args): Map[String, Any] = {
    val seed = a("seed").toLong
    val fixtures = Paths.get(a("fixtures"))
    val snapshots = workloads.collect { case WildWeb(name, spec) =>
      val snap = Feed.snapshot(seed, 0, spec)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      snap.centers.foreach { case (c, b) =>
        val (status, bytes) = Feed.served(b, snap.now)
        md.update(s"$c:$status:".getBytes("UTF-8")); md.update(bytes)
      }
      val expected = Feed.expect(snap.centers, snap.now, snap.range)
      name -> Map(
        "sha256" -> md.digest().map("%02x".format(_)).mkString,
        "incidents" -> snap.incidents,
        "features" -> (expected match { case e: Feed.ExpectRun => e.features.size; case _ => -1 }))
    }.toMap
    val golden = Feed.mapper.readTree(fixtures.resolve("expected_featurecollection.json").toFile)
    val ok = Feed.expect(fixtureCenters(fixtures.resolve("run_ok")).map { case (c, t) => c -> Feed.parseBody(t) },
      Feed.Now, "1 Week")
    val abort = Feed.expect(fixtureCenters(fixtures.resolve("run_abort")).map { case (c, t) => c -> Feed.parseBody(t) },
      Feed.Now, "1 Week")
    Map("snapshots" -> snapshots,
      "golden_equal" -> (ok match { case e: Feed.ExpectRun => Feed.collection(e) == golden; case _ => false }),
      "abort_expected" -> (abort == Feed.ExpectAbort),
      "workloads" -> workloads.map(_.name),
      "traced_entries" -> tracedEntries,
      "kernels" -> Kernels.names)
  }
}
