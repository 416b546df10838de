package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The one foreachBatch adapter every streaming sink here starts
  * through: `process` runs once per micro-batch with Spark's batch id,
  * offsets checkpoint under `checkpointDir`, append mode, default
  * trigger.
  *
  * Delivery is at-least-once: a batch whose commit record never landed
  * is redelivered under the SAME batch id when the query restarts from
  * its checkpoint. Each `process*` function documents which replay
  * class makes it safe under that redelivery — an idempotent merge
  * (replace-by-key, set union, max), a ledger (in the state table, or a
  * generation-published state file) that skips a landed batch id, or
  * keyed duplicates a read view or compaction collapses. */
object ForeachBatchSink {

  def start(stream: DataFrame, checkpointDir: String)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(process)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
}
