package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming CDC-apply sink: each micro-batch of change events folds
  * into the standing snapshot table via [[graft.operators.Cdc.fold]].
  * The fold is a per-key max over a unique sequence — idempotent and
  * order-free — so at-least-once delivery and cross-batch reordering
  * are safe with NO landed-batch ledger (the KMV class; q288 drills a
  * replayed batch through the gate). Tombstones stay in the table;
  * readers go through [[graft.operators.Cdc.readView]].
  */
object StreamingCdc {

  /** One micro-batch's fold (factored out for the gated query and
    * batch-ingest callers), through [[StandingTable.fold]]. */
  def processCdcBatch(batch: DataFrame, keyCol: String,
                      seqCols: Seq[String], opCol: String,
                      payloadCols: Seq[String], table: String): Unit = {
    if (batch.isEmpty) return
    StandingTable.fold(batch.sparkSession, table) {
      case Some(prior) => Some(graft.operators.Cdc.fold(prior, batch,
        keyCol, seqCols, opCol, payloadCols))
      case None => Some(graft.operators.Cdc.snapshot(batch, keyCol,
        seqCols, opCol, payloadCols))
    }
  }
}
