package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.UserJourneys

/** Streaming dimension maintenance: each micro-batch of events folds
  * into a standing SCD Type 2 table via [[UserJourneys.scd2Fold]] —
  * the `MERGE INTO`-style slowly-changing-dimension upkeep, expressed
  * as a foreachBatch fold whose per-batch work is the batch plus the
  * touched users' change rows (untouched users pass through verbatim).
  *
  * At-least-once is FREE here, like the KMV sink and unlike the
  * linear sketch folds: an exactly-redelivered batch replays each
  * touched user's compressed stream with rows that either duplicate a
  * standing change row (identical (ts, tie, state) — the lag collapse
  * removes the copy) or were non-changes the first time (state equals
  * the covering range's — collapsed again), so the fold is idempotent
  * and needs no landed-batch ledger. The contract is ordered ingest:
  * batches at-or-after the standing horizon. Mid-history backfill
  * would need collapsed events the standing table no longer has — a
  * rebuild, not a fold.
  */
object StreamingJourneys {

  /** One micro-batch's fold (factored out for the gated query and
    * batch-ingest callers), through [[StandingTable.fold]]. */
  def processScd2Batch(batch: DataFrame, userCol: String, tsCol: String,
                       stateCol: String, tieCol: String,
                       table: String): Unit = {
    if (batch.isEmpty) return
    StandingTable.fold(batch.sparkSession, table) {
      case Some(prior) => Some(UserJourneys.scd2Fold(prior, batch,
        userCol, tsCol, stateCol, tieCol))
      case None => Some(UserJourneys.scd2States(batch, userCol, tsCol,
        stateCol, tieCol))
    }
  }
}
