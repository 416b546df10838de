package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming BM25 indexer: each micro-batch's documents tokenize into
  * per-(doc, term) postings that UPSERT into the standing index —
  * standing rows for the batch's doc ids are replaced, everything
  * else appends. Replay safety is a third class alongside the KMV
  * idempotent merge and the CMS ledger: re-tokenizing the same
  * document produces the same postings, and replace-by-key is
  * idempotent, so at-least-once delivery needs NO ledger — and the
  * same path IS the update path when a document's text changes.
  * Every derived BM25 statistic (df, dl, N, avgdl) re-derives from
  * the postings at query time, so the index is one table.
  */
object StreamingRetrieval {

  /** One micro-batch's upsert (factored out for the gated query). */
  def processPostingsBatch(batch: DataFrame, idCol: String,
                           textCol: String, table: String): Unit = {
    if (batch.isEmpty) return
    val bs = graft.operators.Retrieval
      .buildPostings(batch, idCol, textCol).localCheckpoint(true)
    StandingTable.fold(batch.sparkSession, table) {
      case Some(prior) => Some(prior
        .join(bs.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti")
        .unionByName(bs))
      case None => Some(bs)
    }
  }
}
