package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.IvfIndex

/** Streaming ingest for the ANN index: each micro-batch of
  * (`idCol`, `vecCol`) embeddings folds into a [[IvfIndex.save]]d
  * index via [[IvfIndex.appendSaved]] — assignment is the native
  * nearest-centroid projection against the SAVED centroids (no Lloyd
  * pass, the existing lists never move) and the append lands under
  * the lists table's own bucket spec, so probes stay zero-exchange
  * while the stream runs. The ANN twin of [[StreamingDedup]]: dedup
  * labels and the similarity index both stay current under batch
  * ingest without any from-scratch rebuild.
  *
  * Same at-least-once caveat as every foreachBatch sink here: a
  * replayed micro-batch re-appends its rows. Appended vectors are
  * keyed, so a compaction with `dedupKeys = Seq(idCol)` (see
  * [[EventStreaming.compactBuckets]]) collapses replay duplicates;
  * until then a duplicated neighbor can shadow one true top-k slot —
  * flagged here rather than hidden because exactly-once requires the
  * landing-lift path ([[EventStreaming.compactLanding]]), not
  * foreachBatch.
  *
  * Centroid drift is the deployment knob: the saved centroids were
  * trained on the corpus at save time, and recall at nprobe < k
  * degrades as the streamed distribution drifts. [[IvfIndex.provenance]]
  * records the training slice; re-train cadence is policy, not
  * mechanism, so it lives with the caller.
  */
object StreamingAnn {

  /** Start the incremental index sink over a stream of embeddings. */
  def indexSink(vectors: DataFrame, name: String, idCol: String,
                vecCol: String,
                checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ForeachBatchSink.start(vectors, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty)
        IvfIndex.appendSaved(batch.sparkSession, name, batch, idCol, vecCol)
    }
}
