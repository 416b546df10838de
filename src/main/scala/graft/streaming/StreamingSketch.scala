package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sketches
import graft.functions.TextFunctions.tokens

/** Streaming corpus monitoring on the mergeable-sketch substrate: each
  * micro-batch folds its per-source KMV sketch into a persisted sketch
  * table via [[Sketches.kmvMerge]] — per-batch work is one batch scan
  * plus a merge over |sources| k-length arrays, and the standing table
  * never exceeds |sources| rows no matter how much history has
  * streamed through. The live "how many distinct tokens has each
  * source contributed" dashboard at any corpus rate.
  *
  * At-least-once is FREE here, not a caveat: KMV merge is set union —
  * idempotent — so a replayed batch folds to the identical table (the
  * [[graft.SketchSpec]] replay drill pins this), unlike the
  * append-shaped sinks that need landed-id sidecars.
  */
object StreamingSketch {

  /** One micro-batch's fold (factored out for batch-ingest callers
    * and the gated query): batch sketch → union with the standing
    * table → kmvMerge per key → overwrite. The table is |keys| rows
    * of ≤ k longs — rewriting it wholesale per batch
    * ([[StandingTable.fold]]) IS the bounded design. */
  def processBatch(batch: DataFrame, keyCol: String, textCol: String,
                   k: Int, table: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val bs = Sketches.kMinPerKey(
      batch.select(col(keyCol), explode(tokens(col(textCol))).as("__w"))
        .select(col(keyCol), Sketches.hash48(col("__w")).as("h")),
      keyCol, "h", k)
    StandingTable.fold(spark, table) {
      case Some(prior) => Some(prior.unionByName(bs)
        .groupBy(col(keyCol)).agg(Sketches.kmvMerge(col("hs"), k).as("hs")))
      case None => Some(bs)
    }
  }

  /** One micro-batch's HLL fold: batch register table → register-wise
    * max with the standing table → overwrite. Same idempotent-merge
    * class as [[processBatch]]'s KMV union — a replayed batch
    * re-maxes the same registers into themselves, so at-least-once
    * needs NO ledger (contrast [[processCmsBatch]]). Standing state:
    * ≤ 2^p rows per key, ever. */
  def processHllBatch(batch: DataFrame, keyCol: String, textCol: String,
                      p: Int, cap: Int, table: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val bs = Sketches.hllRegisters(
      batch.select(col(keyCol),
          explode(graft.functions.TextFunctions.shingles(col(textCol), 3))
            .as("__g"))
        .select(col(keyCol), Sketches.hash48(col("__g")).as("h")),
      keyCol, "h", p, cap)
    StandingTable.fold(spark, table) {
      case Some(prior) => Some(Sketches.hllMergeRegs(prior, bs))
      case None => Some(bs)
    }
  }

  /** One micro-batch's histogram fold — the same linear-merge shape
    * as [[processCmsBatch]] (cell-wise sum, replay double-counts), so
    * the same in-table ledger discipline: data cells keep the
    * histogram's bucket ≥ 0 contract (non-negative values), and
    * ledger sentinels live at bucket = -1 - batchId. One table
    * overwrite commits state + ledger together. */
  def processHistBatch(batch: DataFrame, valCol: String, width: Int,
                       table: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val bs = Sketches.histogram(batch.select(col(valCol)), valCol, width)
    val ledgerRow = spark.range(1).select(lit(-1L - batchId).as("bucket"),
      lit(1L).as("cnt"))
    StandingTable.fold(spark, table) {
      case Some(prior) if !prior.filter(col("bucket") === -1L - batchId)
          .isEmpty =>
        None // replay: already folded
      case Some(prior) => Some(prior.filter(col("bucket") >= 0L)
        .unionByName(bs)
        .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
        .unionByName(prior.filter(col("bucket") < 0L))
        .unionByName(ledgerRow))
      case None => Some(bs.unionByName(ledgerRow))
    }
  }

  /** One micro-batch's Count-Min fold. CMS merge is cell-wise SUM —
    * linear, NOT idempotent — so unlike [[processBatch]]'s KMV union,
    * at-least-once redelivery would double-count. Replay safety comes
    * from a landed-batch ledger stored IN the sketch table itself as
    * sentinel rows (row = -1, bucket = batch id): state and ledger
    * commit in ONE table overwrite, so no crash point can separate
    * "batch folded" from "batch recorded" — the torn-write shape that
    * a side ledger table would reintroduce. A replayed batch id is
    * skipped before any work. The ledger grows one 3-long row per
    * batch; a production sink with monotonic batch ids compacts it to
    * a high-water mark at fold time. */
  def processCmsBatch(batch: DataFrame, textCol: String, depth: Int,
                      width: Int, table: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return // nothing to fold; replaying it is also a no-op
    val tf = batch
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val bs = Sketches.cmsSketch(tf, "__w", "__c", depth, width)
    val ledgerRow = spark.range(1).select(lit(-1L).as("row"),
      lit(batchId).as("bucket"), lit(1L).as("cell"))
    StandingTable.fold(spark, table) {
      case Some(prior) if !prior
          .filter(col("row") === -1L && col("bucket") === batchId).isEmpty =>
        None // replay: already folded — skip, don't re-sum
      case Some(prior) => Some(
        Sketches.cmsMergeCells(prior.filter(col("row") >= 0L), bs)
          .unionByName(prior.filter(col("row") === -1L))
          .unionByName(ledgerRow))
      case None => Some(bs.unionByName(ledgerRow))
    }
  }
}
