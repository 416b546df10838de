package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Bpe

/** Streaming ENCODE sink for the saved tokenizer artifact — the
  * deployment shape of q120: documents land on a stream, the trained
  * merges load ONCE from their managed table ([[Bpe.loadMerges]] —
  * the artifact is immutable between retrains, so per-batch reloads
  * would buy nothing and cost a table scan per micro-batch), and each
  * micro-batch is encoded by the same kernel expression the batch
  * path uses and appended to the output table. Completes batch/stream
  * symmetry for the tokenizer artifact: train once (q113), save
  * (q120), then EITHER batch-encode the corpus OR stream-encode
  * arrivals — byte for byte the same tokens (spec-pinned).
  *
  * Same at-least-once caveat as every foreachBatch sink here: a
  * replayed micro-batch re-appends its rows. Encoding is
  * deterministic (merges are frozen for the sink's lifetime), so
  * replay duplicates are EXACT duplicates keyed by `idCol` — a
  * `dropDuplicates(idCol)` read view or a keyed compaction
  * ([[EventStreaming.compactBuckets]] with `dedupKeys = Seq(idCol)`)
  * collapses them losslessly; spec-pinned via the pruned-checkpoint
  * replay drill.
  *
  * Retrain cadence is policy, not mechanism (the [[StreamingAnn]]
  * centroid-drift stance): a NEW artifact version means a NEW sink —
  * tokens from different vocabularies must not mix in one table.
  */
object StreamingBpe {

  /** Start the encode sink: (idCol, textCol) stream → (idCol,
    * n_tokens, toks) appended to `outTable`, tokens from the saved
    * `mergesTable` artifact. */
  def encodeSink(docs: DataFrame, mergesTable: String, outTable: String,
                 idCol: String, textCol: String, checkpointDir: String,
                 byteLevel: Boolean = false, specials: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val merges = Bpe.loadMerges(docs.sparkSession, mergesTable)
    ForeachBatchSink.start(docs, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val toks =
          TextFunctions.bpeEncode(col(textCol), merges, byteLevel, specials)
        batch.select(col(idCol),
            size(toks).cast("long").as("n_tokens"),
            array_join(toks, " ").as("toks"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(outTable)
      }
    }
  }

  /** Streaming DECODE sink — the detok half of the deployment loop
    * (eval dumps, sample inspection, serving): token-ID sequences
    * land on a stream, the saved vocabulary snapshot loads ONCE
    * ([[Bpe.loadVocab]] collected driver-side — vocab-sized, and the
    * artifact is immutable between retrains exactly like the merge
    * table), and each micro-batch inverts ids → tokens → text with
    * the q138/q137 semantics: char-mode tokens concatenate with the
    * ▁ word-boundary symbol restored to spaces; byte-mode tokens
    * unhex ([[Bpe.decodeBytes]]), specials passing through verbatim
    * in both. Decoding is deterministic, so replayed micro-batches
    * are exact duplicates keyed by `idCol` (the shared foreachBatch
    * contract above). Rows whose id sequence is empty are skipped —
    * there is nothing to decode.
    *
    * Output: (idCol, n_ids, text) appended to `outTable`. */
  def decodeSink(docs: DataFrame, vocabTable: String, outTable: String,
                 idCol: String, idsCol: String, checkpointDir: String,
                 byteLevel: Boolean = false, specials: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val snap = Bpe.loadVocab(docs.sparkSession, vocabTable)
      .select(col("id").cast("long"), col("token"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ForeachBatchSink.start(docs, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        import s.implicits._
        val vdf = snap.toDF("id", "token")
        val toks = batch
          .filter(length(col(idsCol)) > 0)
          .select(col(idCol),
            posexplode(split(col(idsCol), ",")).as(Seq("pos", "id")))
          .select(col(idCol), col("pos"), col("id").cast("long").as("id"))
          .join(broadcast(vdf), Seq("id"))
          .groupBy(col(idCol))
          .agg(count(lit(1)).cast("long").as("n_ids"),
            transform(
              array_sort(collect_list(struct(col("pos"), col("token")))),
              x => x.getField("token")).as("__toks"))
        val text =
          if (byteLevel) Bpe.decodeBytes(col("__toks"), specials)
          else replace(array_join(col("__toks"), ""), lit("▁"), lit(" "))
        toks.select(col(idCol), col("n_ids"), text.as("text"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(outTable)
      }
    }
  }
}
