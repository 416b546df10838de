package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.StatsStore

/** Streaming ingest into the stats store — the streaming-lakehouse
  * ingest shape: micro-batches land as stats-ledgered ingest batches
  * (batch id = the streaming batchId), so the store's range-skipping
  * reads serve LIVE data the moment a batch commits.
  *
  * Replay class: EXACTLY-ONCE with no sink-side state at all —
  * [[StatsStore.appendBatch]] is already a ledgered commit (data via
  * dynamic partition overwrite first, stats-row presence IS the
  * commit, a landed batch id short-circuits), which is precisely the
  * contract foreachBatch redelivery needs. The streaming engine's
  * batchId sequence provides the fresh-id discipline the store
  * requires.
  *
  * Scale: per-batch work ∝ the batch (one bucket-partitioned write +
  * one agg for stats); the stats table grows by batches × buckets ×
  * columns rows per commit — metadata-sized. Arrival-correlated
  * columns (event time) make every landed batch a tight stats band,
  * so time-range queries over the live store skip all but the
  * relevant batches ([[StatsStore.readRange]]). */
object StreamingStats {

  /** One micro-batch (factored out for the gated query and drills):
    * an empty batch commits nothing; everything else is
    * [[StatsStore.appendBatch]]'s exactly-once contract. */
  def processStatsBatch(batch: DataFrame, batchId: Long, path: String,
                        key: String, buckets: Int,
                        statCols: Seq[String]): Unit = {
    if (batch.isEmpty) return
    StatsStore.appendBatch(batch, key, path, buckets, batchId, statCols)
  }
}
