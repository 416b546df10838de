package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The batch-ingest dedup deployment, wired end-to-end as a stream:
  * each micro-batch of documents updates a PERSISTED signature table
  * and a PERSISTED label table incrementally — the live composition of
  * [[Dedup.lshCandidatePairsIncremental]] (old–old pairs never
  * recompute) and [[Dedup.incrementalComponents]] (history never
  * re-clusters). After any number of batches the label table is
  * bit-identical to a from-scratch [[Dedup.connectedComponents]] over
  * the full corpus's pairs (spec-pinned), but each batch only paid
  * O(batch) work.
  *
  * Per batch: signatures for the batch's documents only (narrow agg),
  * tagged with the micro-batch id and appended to `sigTable`; the
  * batch band-joins the accumulated table for its candidate pairs; the
  * pairs fold into `labelTable` through the contraction delta. The
  * label table is rewritten per batch — it holds only PAIRED documents
  * (dup-cluster members), which is tiny relative to the corpus; the
  * corpus itself is never stored here at all.
  *
  * Same at-least-once caveat as [[EventStreaming.bucketedSink]]: a
  * replayed batch re-appends its signatures. Replayed signature rows
  * are exact duplicates (same doc_id, band, sig), and candidate pairs
  * are distinct-ed, so the LABELS stay correct — only the signature
  * table carries dups until a compaction with dedupKeys collapses it.
  */
object StreamingDedup {

  /** One micro-batch's incremental update (factored out so a
    * non-streaming caller — e.g. a nightly batch ingest — can drive
    * the identical path). */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   textCol: String, sigTable: String, labelTable: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val sigs = Dedup.minhashSignatures(batch, idCol, textCol)
      .withColumn("ingest_batch", lit(batchId))
    sigs.write.mode(SaveMode.Append).format("parquet").saveAsTable(sigTable)
    val all = spark.table(sigTable)
    val newPairs = Dedup.lshCandidatePairsIncremental(
      all, idCol, col("ingest_batch") === batchId)
    val prior =
      if (spark.catalog.tableExists(labelTable)) spark.table(labelTable)
      else spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("keep_id")).limit(0)
    // materialize the update with lineage cut BEFORE overwriting the
    // table it was derived from (overwrite-while-reading refuses)
    val updated = Dedup.incrementalComponents(prior, newPairs)
      .localCheckpoint(true)
    updated.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(labelTable)
    org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(updated)
  }
}
