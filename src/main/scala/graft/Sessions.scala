package graft

import org.apache.spark.sql.SparkSession

/** The one session the engine's mains build. Master: `SPARK_MASTER`, else
  * `local[SPARK_GRAFT_CPUS]`, else one thread per available processor.
  * The rest is fixed: 32 shuffle partitions, UTC session time zone, no UI,
  * WARN logging; AQE stays at Spark's default (on). The session carries no
  * extensions — registry entries install the natives they need
  * ([[graft.functions.Natives.install]]). */
object Sessions {
  def local(app: String): SparkSession = {
    val threads = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$threads]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
