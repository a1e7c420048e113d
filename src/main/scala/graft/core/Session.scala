package graft.core

import org.apache.spark.sql.SparkSession

/** The one `SparkSession` builder for every driver, tool and test:
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time, `events.parquet`'s TIMESTAMP(NANOS) read as epoch-nanos longs,
  * no UI, and the driver log level. It returns the `Builder`, so a
  * caller adds its own settings (executor launch wiring, timeouts, a
  * `local-cluster` master) before `getOrCreate()`. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else the host's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String, cpus: Int = cpus,
              logLevel: String = "WARN"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
}
