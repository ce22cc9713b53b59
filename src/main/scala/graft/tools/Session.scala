package graft.tools

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one session policy of the tool mains (the frozen `graft.Bench` /
  * `graft.Verify` harness keeps its own):
  *   - master `SPARK_MASTER`, else `local[cores]`;
  *   - `spark.sql.shuffle.partitions` = cores;
  *   - UTC session time zone, no UI, WARN log level;
  *   - an event log under `SPARK_GRAFT_EVENTLOG` when it is set (per-stage
  *     attribution without a live UI: mine job/stage durations offline).
  * AQE and its skew-join handling are Spark's defaults and are not set.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(appName: String, cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EVENTLOG").foreach { dir =>
      new File(dir).mkdirs()
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
