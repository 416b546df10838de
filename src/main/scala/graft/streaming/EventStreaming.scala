package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming ingest path (an extension beyond the batch
  * reference — SURVEY.md §2.9): a landing-directory stream of event
  * files → watermarked tumbling-window aggregates.
  *
  * The same transformation works identically on a batch DataFrame
  * (Structured Streaming's unified semantics); `Verify` checks the
  * batch-equivalent bucket aggregation against DuckDB, while the
  * streaming execution itself (incremental state, watermark-based
  * state eviction) is exercised in EventStreamingSpec.
  */
object EventStreaming {

  /** events schema as landed by the synthetic generator (ts read as
    * INT64 nanos — see graft.Tables). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open a file-landing stream over a directory of event parquet
    * files. New files are discovered incrementally; at scale, set
    * maxFilesPerTrigger to bound micro-batch size. */
  def readLanding(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.readStream.schema(eventSchema).parquet(dir)
  }

  /** Tumbling-window counts/sums per event type with a watermark for
    * late file arrivals. Works on both streaming and batch frames.
    * Input needs `ts` as INT64 nanos; windowing is on the derived
    * microsecond timestamp. */
  def tumblingAgg(events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming exact dedup for at-least-once sources that re-deliver
    * events: duplicates of `event_id` within the watermark horizon
    * are dropped, and — unlike a plain dropDuplicates — state is
    * EVICTED once the watermark passes, so the state store stays
    * bounded by the horizon instead of growing with the stream. */
  def dedupStream(events: DataFrame, watermark: String): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: join each micro-batch against a slowly
    * changing dimension frame. The dim side is broadcast per batch —
    * the standard shape for attaching reference data (user profiles,
    * instrument calibration) to a live stream without shuffling it. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream inner join (purchases ⋈ clicks shape): rows of two
    * live streams matched on `key` when the right event time falls in
    * `[left time − within, left time]` — e.g. "the click that led to
    * this purchase, at most 10 minutes earlier".
    *
    * Both sides are event-schema streams (`ts` INT64 nanos). Each side
    * carries its own watermark AND the join condition bounds the two
    * event times against each other — the combination Structured
    * Streaming needs to know when buffered rows can never match again,
    * so per-side join state is EVICTED as the watermark advances.
    * Without the time bound the state grows with the stream; with it,
    * state is bounded by (watermark delay + within) per key. Matches
    * emit eagerly, including across micro-batch boundaries. */
  def joinWithin(left: DataFrame, right: DataFrame, key: String,
                 watermark: String, within: String): DataFrame = {
    val l = left.select(col(key),
        col("event_id").as("l_event_id"), col("value").as("l_value"),
        timestamp_micros(expr("ts div 1000")).as("l_time"))
      .withWatermark("l_time", watermark)
    val r = right.select(col(key).as("__rk"),
        col("event_id").as("r_event_id"), col("value").as("r_value"),
        timestamp_micros(expr("ts div 1000")).as("r_time"))
      .withWatermark("r_time", watermark)
    l.join(r,
      col(key) === col("__rk") &&
        col("r_time") >= col("l_time") - expr(s"interval $within") &&
        col("r_time") <= col("l_time"))
      .drop("__rk")
  }

  /** Streaming parquet sink: exactly-once file commits through the
    * checkpointed offset log + `_spark_metadata`, hive-partitioned by
    * event_type so downstream batch reads partition-prune — the
    * landing-to-lake leg of the pipeline. */
  def writeLanding(events: DataFrame, outDir: String,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_type")
      .outputMode("append")
      .start()

  /** Continuous bucketed ingestion — the foreachBatch bridge from a
    * live stream into [[graft.operators.Bucketing]]'s zero-exchange
    * join layout: each micro-batch appends into a table bucketed on
    * `key` (created by the first batch), so a consumer can
    * `coLocatedJoin` against other tables bucketed on the same key
    * WITHOUT waiting for a nightly rewrite of the whole landing zone.
    *
    * Semantics: checkpointed offsets make this at-least-once across
    * failure-replays of an uncommitted batch (foreachBatch is not a
    * transactional sink); run [[compactBuckets]] periodically anyway —
    * it rewrites to one file per bucket, which restores the per-bucket
    * sort/file count after many small appends and — when passed the
    * stream's natural key as `dedupKeys` — collapses replayed
    * duplicates (both halves pinned by a spec that deletes the commit
    * record and restarts from the checkpoint). The exactly-once
    * alternative is [[writeLanding]] + a scheduled [[compactLanding]].
    *
    * Reader staleness: appends happen on the stream's cloned session,
    * so a session that already resolved the table must
    * `spark.catalog.refreshTable(table)` to see newer micro-batches. */
  def bucketedSink(events: DataFrame, table: String, key: String, buckets: Int,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ForeachBatchSink.start(events, checkpointDir) { (batch, _) =>
      batch.write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet")
        .saveAsTable(table) // first batch creates, rest append
    }

  /** One-shot landing → bucketed compaction: read the streaming
    * parquet sink through its `_spark_metadata` commit log (only
    * COMMITTED files — exactly-once view even while the stream runs)
    * and rewrite it as the bucketed join layout. */
  def compactLanding(spark: SparkSession, landingDir: String,
                     table: String, key: String, buckets: Int): Unit = {
    // nanosAsLong is needed only for this read; restore the caller's
    // value so unrelated parquet reads on the shared session keep
    // their semantics.
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "true")
    try {
      val df = spark.read.schema(eventSchema).parquet(landingDir)
      graft.operators.Bucketing.writeBucketed(
        df.repartition(buckets, col(key)), table, key, buckets)
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None    => spark.conf.unset(confKey)
    }
  }

  /** Rewrite a bucketed table to exactly one file per bucket —
    * the periodic compaction that keeps [[bucketedSink]]'s
    * one-file-per-batch-per-bucket accumulation from degrading scans.
    * Repartitioning on [[graft.operators.Bucketing.bucketIdExpr]]
    * (the writer's own pmod(murmur3(key), n)) pins each bucket's rows
    * inside one task even when the input scan claims a matching hash
    * partitioning, so the rewrite really is one file per bucket.
    *
    * Swap protocol — the data is reachable under SOME table name at
    * every instant: write to `table__compact`, rename live →
    * `table__old`, rename `table__compact` → live, drop `table__old`.
    * The only reader-visible window is between the two metadata
    * renames (no data movement happens there). A crash anywhere is
    * recovered by re-running: the preamble finishes a half-done swap
    * (compact exists + live missing → promote compact) and clears
    * stale staging tables, so a retry converges. */
  def compactBuckets(spark: SparkSession, table: String, key: String,
                     buckets: Int, dedupKeys: Seq[String] = Nil): Unit = {
    val tmp = s"${table}__compact"
    val bak = s"${table}__old"
    // Crash recovery: a prior run that died between the two renames
    // left the fresh data under __compact and nothing under the live
    // name — finish its swap instead of redoing the work.
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp))
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    if (spark.catalog.tableExists(bak))
      graft.operators.Bucketing.dropManagedTable(spark, bak)
    // With a dedup key the rewrite also collapses [[bucketedSink]]'s
    // at-least-once replay duplicates (one extra exchange on the
    // dedup key — only paid when requested).
    val live = spark.table(table)
    val input = if (dedupKeys.isEmpty) live else live.dropDuplicates(dedupKeys)
    graft.operators.Bucketing.writeBucketed(
      input.repartition(
        buckets, graft.operators.Bucketing.bucketIdExpr(key, buckets)),
      tmp, key, buckets)
    spark.sql(s"ALTER TABLE $table RENAME TO $bak")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    graft.operators.Bucketing.dropManagedTable(spark, bak)
  }
}
