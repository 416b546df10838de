package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loading over the driver-provided synthetic parquet dirs
  * (/root/repo/TESTDATA.md). All queries take a `sfDir` and resolve
  * tables through here so scans stay uniform (columnar parquet,
  * vectorized reader, filter/column pushdown handled by Catalyst).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // The engine-wide contract is `ts: BIGINT` epoch nanoseconds
      // (exact parity with DuckDB's epoch_ns on the oracle side),
      // independent of how the driver generated the parquet:
      //  - TIMESTAMP(NANOS): Spark has no nanosecond TimestampType, so
      //    `nanosAsLong` reads the raw INT64 — already nanos.
      //  - TIMESTAMP(MICROS, NTZ): arrives as TimestampNTZType; the
      //    NTZ→TZ cast is the identity on the stored micros under the
      //    UTC session zone every entry point pins, and unix_micros
      //    then recovers them losslessly (×1000 → nanos).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The NTZ→TZ cast below is the identity ONLY under a UTC
      // session zone; every entry point pins it, but an externally
      // built session must not silently shift ts by a zone offset.
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val raw = read(spark, sfDir, name)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => raw
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => raw.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
        case other => throw new IllegalStateException(
          s"events.ts must be INT64 nanos or a timestamp type, got $other — " +
            "a DOUBLE or STRING ts would be silently misinterpreted " +
            "against the epoch-nanos contract")
      }
    } else read(spark, sfDir, name)
  }

  /** The table's schema comes from its footer, read on the driver
    * (under the session conf just set, so `events` converts with
    * `nanosAsLong`), not from Spark's per-read inference job. */
  private def read(spark: SparkSession, sfDir: String,
                   name: String): DataFrame =
    graft.sources.ParquetFooter.read(spark, Seq(s"$sfDir/$name.parquet"))
}
