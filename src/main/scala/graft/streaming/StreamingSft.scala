package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sft

/** Streaming conversation-state sink: each micro-batch of (strictly
  * later) events folds into the standing merged-turns table via
  * [[Sft.foldTurns]]. The fold is NOT idempotent — replaying a batch
  * would extend turn texts twice — so this sink is the LEDGER class
  * (like CMS/histogram, unlike CDC's idempotent max): landed batch
  * ids ride as sentinel rows INSIDE the state table, so state and
  * ledger commit in one overwrite with no torn-write window, and a
  * redelivered batch is skipped whole.
  *
  * In-table encoding (one table = one atomic commit):
  *  - turn rows: the [[Sft.mergedTurns]] schema verbatim;
  *  - per-user last-event-time rows: role `'__t__'`, value_fp =
  *    last_t (the only tail fact turns cannot re-derive; folds by
  *    max — the rest of the tail is recomputed from turns);
  *  - ledger rows: role `'__ledger__'`, user_id = −1 − batchId.
  *
  * Two state layouts share ONE sink loop ([[runSftBatch]]): the
  * whole-table managed-table layout (the q288-class baseline twin)
  * and the bucket-scoped Lakehouse store (the 100-TB path — both
  * its writes AND its reads bounded by the batch's buckets). The
  * loop owns the empty-guard → init-if-absent → ledger-replay-skip
  * ordering, so a crash-recovery fix lands once, not twice.
  */
object StreamingSft {

  private def turnRow(turns: DataFrame): DataFrame =
    turns.select(col("user_id"), col("session_id"), col("turn_id"),
      col("role"), col("n_events"), col("value_fp"), col("turn_text"))

  private def tRows(lastT: DataFrame): DataFrame =
    lastT.select(col("user_id"), lit(0L).as("session_id"),
      lit(0L).as("turn_id"), lit("__t__").as("role"),
      lit(0L).as("n_events"), col("last_t").as("value_fp"),
      lit("").as("turn_text"))

  // ------------------------------------------------- the one loop

  /** The state-layout strategy a sink plugs into [[runSftBatch]]:
    * where state lives and how a batch's fold lands are the ONLY
    * layout-specific parts — the loop owns everything else. */
  private trait SftStateIO {
    def exists(): Boolean
    /** Has this batch id already landed? (the in-state ledger) */
    def landed(batchId: Long): Boolean
    /** First batch: materialize fresh state. */
    def init(turns: DataFrame, batchT: DataFrame, batchId: Long): Unit
    /** Fold a later batch in and commit atomically. */
    def fold(batch: DataFrame, batchT: DataFrame, batchId: Long): Unit
  }

  /** The shared sink loop: empty guard → init-if-absent →
    * ledger-replay skip → fold+commit. Both layouts run THIS. */
  private def runSftBatch(batch: DataFrame, batchId: Long,
                          io: SftStateIO): Unit = {
    if (batch.isEmpty) return
    val batchT = Sft.rawTurns(batch).groupBy(col("user_id"))
      .agg(max(col("t")).as("last_t"))
    if (!io.exists()) {
      io.init(Sft.mergedTurns(batch), batchT, batchId)
      return
    }
    if (io.landed(batchId)) return
    io.fold(batch, batchT, batchId)
  }

  // ------------------------------------------- whole-table layout

  /** Managed-table state: every commit overwrites the whole table
    * (turns + tail + ledger in one atomic swap). Kept deliberately as
    * the q288-class baseline twin of the bucket-scoped sink. */
  private final class TableIO(spark: SparkSession, table: String)
      extends SftStateIO {
    def exists(): Boolean = spark.catalog.tableExists(table)

    def landed(batchId: Long): Boolean =
      spark.table(table).filter(col("role") === "__ledger__" &&
        col("user_id") === -1L - batchId).head(1).nonEmpty

    private def ledgerRow(batchId: Long): DataFrame =
      spark.range(1).select(
        lit(-1L - batchId).as("user_id"), lit(0L).as("session_id"),
        lit(0L).as("turn_id"), lit("__ledger__").as("role"),
        lit(0L).as("n_events"), lit(0L).as("value_fp"),
        lit("").as("turn_text"))

    private def commit(turns: DataFrame, lastT: DataFrame,
                       oldLedger: DataFrame, batchId: Long): Unit =
      turnRow(turns).unionByName(tRows(lastT))
        .unionByName(oldLedger).unionByName(ledgerRow(batchId))
        .localCheckpoint(true)
        .write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(table)

    def init(turns: DataFrame, batchT: DataFrame, batchId: Long): Unit = {
      graft.operators.Bucketing.dropManagedTable(spark, table)
      commit(turns, batchT, ledgerRow(batchId).limit(0), batchId)
    }

    def fold(batch: DataFrame, batchT: DataFrame, batchId: Long): Unit = {
      val st = spark.table(table)
      val turns = st.filter(!col("role").startsWith("__"))
      val lastT = st.filter(col("role") === "__t__")
        .select(col("user_id"), col("value_fp").as("last_t"))
      val folded = Sft.foldTurns(turns, Sft.tailOf(turns, lastT), batch)
      val mergedT = lastT.unionByName(batchT)
        .groupBy(col("user_id")).agg(max(col("last_t")).as("last_t"))
      commit(folded, mergedT,
        st.filter(col("role") === "__ledger__"), batchId)
    }
  }

  /** One micro-batch's fold (factored out for the gated query). */
  def processSftBatch(batch: DataFrame, batchId: Long,
                      table: String): Unit =
    runSftBatch(batch, batchId, new TableIO(batch.sparkSession, table))

  /** Reader view: the turn rows only. */
  def readTurns(state: DataFrame): DataFrame =
    state.filter(!col("role").startsWith("__"))

  // --------------------------------------------- bucket-scoped state

  /** Synthesized store key: turn rows ≥ 0 as turn·10¹² + session·10⁶
    * + USER — each component < 10⁶ by the synthetic-data contract,
    * the composite stays well under 2⁶³. The user sits in the LOW
    * bits deliberately: the store buckets by `tkey mod buckets`, and
    * 10⁶/10¹² are multiples of any small bucket count, so the bucket
    * is effectively `user mod buckets` — one user's whole
    * conversation history co-locates, and a batch touches exactly
    * its users' buckets. (turn-major would make bucket ≡ turn_id:
    * every conversation's first turn in ONE bucket — a full-store
    * rewrite per batch.) Per-user last-t rows and the batch ledger
    * live in reserved negative ranges so one keyed store holds all
    * three row kinds and commits atomically per bucket. */
  private val TKeyLastT = -1000000000000000L
  private val TKeyLedger = -2000000000000000L

  private def turnKey = col("turn_id") * 1000000000000L +
    col("session_id") * 1000000L + col("user_id")

  private def storeRows(turns: DataFrame, lastT: DataFrame,
                        ledgerIds: DataFrame): DataFrame =
    turns.select(turnKey.as("tkey"), col("user_id"), col("session_id"),
        col("turn_id"), col("role"), col("n_events"), col("value_fp"),
        col("turn_text"))
      .unionByName(lastT.select(
        (lit(TKeyLastT) - col("user_id")).as("tkey"), col("user_id"),
        lit(0L).as("session_id"), lit(0L).as("turn_id"),
        lit("__t__").as("role"), lit(0L).as("n_events"),
        col("last_t").as("value_fp"), lit("").as("turn_text")))
      .unionByName(ledgerIds.select(
        (lit(TKeyLedger) - col("id")).as("tkey"), lit(-1L).as("user_id"),
        lit(0L).as("session_id"), lit(0L).as("turn_id"),
        lit("__ledger__").as("role"), lit(0L).as("n_events"),
        lit(0L).as("value_fp"), lit("").as("turn_text")))

  /** Lakehouse-store state with BOUNDED I/O on both sides: writes
    * land as a [[graft.operators.Lakehouse.mergeInto]] of only the
    * rows the batch changes (the [[Sft.foldTurnsDelta]] upsert set,
    * the batch users' last-t rows, one ledger sentinel — merge I/O ∝
    * touched buckets by the store's own contract), and READS are
    * partition-pruned to the dirs the batch can possibly need: the
    * tkey layout makes a turn row's bucket ≡ user mod B and a last-t
    * row's bucket = pmod(TKeyLastT − user, B), both pure functions of
    * the batch's users, and the replay probe needs exactly the one
    * bucket its sentinel key hashes to. A 1-user micro-batch against
    * a 100-TB standing store therefore opens a constant number of
    * bucket dirs (spec-pinned via task input metrics). */
  private final class BucketIO(spark: SparkSession, path: String,
                               buckets: Int) extends SftStateIO {
    // the candidate-bucket derivation (turn bucket ≡ user mod B)
    // holds exactly when B divides the tkey component width — any
    // other B would silently scatter a user's turns across buckets
    // the fold never reads
    require(1000000L % buckets == 0,
      s"buckets must divide 10^6 (the tkey component width), got $buckets")
    private val B = buckets.toLong
    private val root = new org.apache.hadoop.fs.Path(path)
    private val fs =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def exists(): Boolean = fs.exists(root)

    private def ledgerBucket(batchId: Long): Long =
      Math.floorMod(TKeyLedger - batchId, B)

    def landed(batchId: Long): Boolean =
      spark.read.parquet(path)
        .filter(col("bucket") === ledgerBucket(batchId) &&
          col("tkey") === TKeyLedger - batchId)
        .head(1).nonEmpty

    def init(turns: DataFrame, batchT: DataFrame, batchId: Long): Unit =
      graft.operators.Lakehouse.writeStore(
        storeRows(turns, batchT,
          spark.range(1).select(lit(batchId).as("id"))),
        "tkey", path, buckets)

    def fold(batch: DataFrame, batchT: DataFrame, batchId: Long): Unit = {
      // candidate dirs from the BATCH alone: turn buckets ∪ last-t
      // buckets of the batch's users (≤ 2·B values, layout-bounded)
      val cand = batch
        .select(pmod(col("user_id"), lit(B)).cast("long").as("b"))
        .union(batch.select(
          pmod(lit(TKeyLastT) - col("user_id"), lit(B)).cast("long")))
        .distinct().collect().map(_.getLong(0)).toSet
      val st = spark.read.parquet(path)
        .filter(col("bucket").isin(cand.toSeq: _*))
      // restrict standing rows to the batch's users: the fold's old
      // side can only match them, and other users sharing a bucket
      // would only inflate the tail/anti-join shuffles
      val batchUsers = batch.select(col("user_id")).distinct()
      val turns = st.filter(col("tkey") >= 0L)
        .join(batchUsers, Seq("user_id"), "left_semi")
        .select(col("user_id"), col("session_id"), col("turn_id"),
          col("role"), col("n_events"), col("value_fp"),
          col("turn_text"))
      val lastT = st.filter(col("role") === "__t__")
        .join(batchUsers, Seq("user_id"), "left_semi")
        .select(col("user_id"), col("value_fp").as("last_t"))
      val delta = Sft.foldTurnsDelta(turns, Sft.tailOf(turns, lastT),
        batch)
      val mergedT = lastT.unionByName(batchT)
        .groupBy(col("user_id")).agg(max(col("last_t")).as("last_t"))
      // materialize the (batch-sized) upsert set ONCE: mergeInto
      // evaluates its batch several times (candidates, keys, touched,
      // replacement), and each un-checkpointed evaluation would
      // re-scan the candidate dirs — one pass, not five
      val upserts = storeRows(delta, mergedT,
          spark.range(1).select(lit(batchId).as("id")))
        .withColumn("op", lit("U"))
        .localCheckpoint(true)
      graft.operators.Lakehouse.mergeInto(spark, path, upserts,
        "tkey", buckets)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(upserts)
    }
  }

  /** [[processSftBatch]] with bucket-scoped state I/O — same sink
    * loop, the [[BucketIO]] layout. */
  def processSftBatchBucketed(batch: DataFrame, batchId: Long,
                              path: String, buckets: Int): Unit =
    runSftBatch(batch, batchId,
      new BucketIO(batch.sparkSession, path, buckets))

  /** Turn rows of a bucketed store. */
  def readTurnsBucketed(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    spark.read.parquet(path).filter(col("tkey") >= 0L)
      .select(col("user_id"), col("session_id"), col("turn_id"),
        col("role"), col("n_events"), col("value_fp"), col("turn_text"))
}
