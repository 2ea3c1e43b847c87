package graft.wildweb

/** A16 — the scheduled-invocation entrypoint (reference task.ts:47-50,
  * 161-164): one batch run = read landed envelopes → pipeline → submit →
  * error epilogue. Run via spark-submit on a schedule (the EventBridge/
  * Lambda analog) or locally:
  *
  *   runMain graft.wildweb.WildWebJob <inputDir> <submitUrl> <range> <nowIso>
  *
  * Faithful control-flow semantics:
  *   - A4 abort → exit 0 with NOTHING submitted and no error (task.ts:93-97);
  *   - A13/A14 → submit ALWAYS runs (partial results delivered), then the
  *     job FAILS (exit 1) if any center was quarantined (task.ts:144-157).
  */
object WildWebJob {
  def main(args: Array[String]): Unit = {
    val Array(inputDir, submitUrl, range, nowIso) = args.take(4)
    val spark = graft.Sessions.local("wildweb-etl")
    try {
      val config = WildWebConfig(range, java.time.Instant.parse(nowIso))
      WildWebPipeline.run(spark, inputDir, config) match {
        case WildWebPipeline.Aborted =>
          // A4: log + return; nothing submitted, run not marked failed
          System.err.println("[wildweb] envelope cardinality violation — run aborted")
        case WildWebPipeline.Completed(features, errors) =>
          graft.sources.HttpSubmitSink.submit(features, submitUrl)
          val errs = errors.collect() // one row per quarantined center
          if (errs.nonEmpty) {
            errs.foreach(e => System.err.println(s"[wildweb] center error: $e"))
            sys.exit(1) // fail AFTER delivering partial output (task.ts:151-157)
          }
      }
    } finally spark.stop()
  }
}
