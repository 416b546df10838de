package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Streaming domain-shift monitor — the deployment shape of q156:
  * a reference token profile ([[Curation.bucketProfile]], saved once
  * when the corpus was last blessed) is frozen as a managed table;
  * documents land on a stream and each micro-batch profiles ITSELF
  * and appends its Jensen–Shannon divergence against the reference.
  * The alerting query downstream is a one-row threshold read — the
  * ingest owner sees "the crawler started returning something else"
  * within one micro-batch instead of at the next batch audit.
  *
  * The reference profile is dim-sized and immutable between
  * re-blessings, so it loads ONCE at sink start driver-side (the
  * [[StreamingBpe]] artifact pattern — per-batch reloads would buy
  * nothing and a mid-stream profile swap would mix baselines in one
  * output table; a new blessing means a new sink). Per-batch output
  * is deterministic given the batch, so replays are exact duplicates
  * keyed by batch_id — the shared foreachBatch at-least-once
  * contract; a `dropDuplicates("batch_id")` read view collapses them.
  *
  * Output rows: (batch_id, n_old, n_new, js) — n_old the reference
  * token mass, n_new the batch's. */
object StreamingShift {

  def shiftSink(docs: DataFrame, refTable: String, outTable: String,
                textCol: String, dim: Int, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val snap = docs.sparkSession.table(refTable)
      .select(col("bucket").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    ForeachBatchSink.start(docs, checkpointDir) { (batch, bid) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        import s.implicits._
        val ref = snap.toDF("bucket", "cnt")
        Curation.jsShift(ref,
            Curation.bucketProfile(batch, textCol, dim))
          .select(lit(bid).as("batch_id"), col("n_old"), col("n_new"),
            col("js"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(outTable)
      }
    }
  }
}
