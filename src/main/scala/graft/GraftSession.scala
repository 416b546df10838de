package graft

import org.apache.spark.sql.SparkSession

/** The one session shape the mains and the test suite run on. */
object GraftSession {

  /** `local[cpus]` with shuffle partitions = cpus, UTC session time,
    * INT64 nanosecond parquet timestamps read as longs (events.parquet),
    * AQE with partition coalescing, no UI. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
