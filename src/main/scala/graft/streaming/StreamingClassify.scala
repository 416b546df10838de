package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Streaming classification sink over a SAVED Naive-Bayes weight
  * table — the deployment shape of the classifier family, twinning
  * [[StreamingBpe]] for the tokenizer: train once (q125/q135), save
  * the weight table beside the data, then batch-classify the corpus
  * OR stream-classify arrivals with the same exact-integer argmax —
  * identical predictions (spec-pinned).
  *
  * The weight table is (bucket, y, w) with priors at bucket = −1
  * ([[Curation.nbTrainMulti]]'s output written with `saveAsTable`).
  * It is re-resolved per micro-batch from the batch's own session —
  * a vocab-sized scan, and the robust choice across the stream's
  * cloned sessions. Because nothing STOPS an operator overwriting the
  * weight table mid-stream, every output row carries `model_fp`, an
  * order-independent fingerprint of the exact weight rows that scored
  * it — if two models' predictions ever land in one table the mix is
  * attributable row by row instead of silent (spec-pinned: the
  * fingerprint changes when any weight changes). Prediction itself is
  * [[Curation.nbPredictMulti]], pure integer arithmetic, so replayed
  * micro-batches are EXACT duplicates keyed by `idCol` (the
  * at-least-once + keyed-dedup contract every foreachBatch sink here
  * documents).
  *
  * Retraining is a NEW weight table and a NEW sink — predictions
  * from different models must not mix in one output table (the
  * [[StreamingBpe]] stance); `model_fp` is the audit that catches a
  * violation, not a license for one.
  */
object StreamingClassify {

  /** Order-independent fingerprint of a weight table: XOR of each
    * row's xxhash64 — one vocab-sized aggregation to a single row,
    * broadcast onto the predictions (no extra shuffle). */
  private[graft] def weightFingerprint(weights: DataFrame): DataFrame =
    weights.agg(expr("bit_xor(xxhash64(bucket, y, w))").as("model_fp"))

  /** Start the classify sink: (idCol, textCol) stream → (idCol,
    * pred, score, model_fp) appended to `outTable`. */
  def predictSink(docs: DataFrame, weightsTable: String, outTable: String,
                  idCol: String, textCol: String, dim: Int,
                  checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ForeachBatchSink.start(docs, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val weights = batch.sparkSession.table(weightsTable)
        Curation.nbPredictMulti(batch, idCol, textCol, weights, dim)
          .crossJoin(broadcast(weightFingerprint(weights)))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(outTable)
      }
    }
}
