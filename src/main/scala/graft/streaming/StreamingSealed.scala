package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{Lakehouse, Sft}
import graft.sources.ParquetFooter

/** Streaming SEALED-CONVERSATION export: the q366 watermark invariant
  * composed with the q367 phased byte-append, as a foreachBatch sink.
  *
  * Per micro-batch: the batch's events land idempotently under their
  * own `_events/bid=<batchId>/ub=<userBucket>` dirs, the ingest
  * watermark advances INCREMENTALLY to `max(prev wm, batch max)` —
  * the watermark is monotone by construction, so no log read ever
  * recomputes it — and ONLY the conversations newly sealed by that
  * advance (last event ≤ wm − gap now, but not at the previous
  * watermark — sealing is monotone in the watermark, so "newly
  * sealed" is an interval on the conversation's fixed last-event
  * time) render and APPEND as JSONL shards at byteOffset = the
  * landed byte total. Sealed renders are immutable by the invariant
  * (any strictly-later event is more than a session gap away and
  * must open a NEW session), so no landed shard is ever rewritten —
  * the final layout is byte-identical to a from-scratch phased
  * export over the landed log, which is exactly what the gate's
  * oracle rebuilds.
  *
  * LATENESS CONTRACT: a row whose event time is ≤ prev wm − gap is
  * REJECTED at landing. Such a row can never extend an open session
  * (every open session's events are > prev wm − gap, a full gap
  * away), but replayed through a per-user recompute it COULD insert
  * a session boundary below already-sealed (exported, immutable)
  * sessions and renumber every session id above it — silently
  * divorcing the landed log from the export. Rejecting at the door
  * keeps the two mutually consistent: the export is byte-identical
  * to a from-scratch run over the landed log, unconditionally.
  *
  * The sealing scan is BOUNDED, never the log, and LEDGER-DRIVEN:
  * (1) an ACTIVE-USER state table (`_active/b<gen>`: user_id, last_t
  * — rows kept only while `last_t > wm − gap`, so it is bounded by
  * the session-gap window, not by users-ever-seen) names the only
  * users who can own a newly sealed session this tick: a session
  * with last event in `(prev wm − gap, wm − gap]` belongs to a user
  * who was active at the previous watermark or who appears in this
  * batch — nobody else. (2) Every landed file carries a ledgered
  * `user_id` min/max (an `e,` line in the state file — the `_vstats`
  * discipline applied to the landing: stats publish in the SAME
  * atomic state write that ledgers the batch, so a readable file
  * without stats cannot exist), and the candidate-history read opens
  * EXACTLY the files whose user range intersects the candidate set —
  * never a directory listing of `_events`, never a partition-filter-
  * then-scan. A fresh batch's per-`ub` file ranges are wide (one
  * file per bucket), so fresh files prune only by bucket membership;
  * [[compactEvents]] periodically folds ledgered files into
  * user-RANGE-partitioned segments whose ranges are tight and
  * disjoint, so k candidate users open O(k) segment files no matter
  * how many `ub` buckets they hash into — the scan cost is
  * candidate-proportional even when every bucket is hot, where a
  * bucket-grain prune would degenerate to the whole log.
  * Candidates' pruned history re-runs through [[Sft.rawTurns]]:
  * session numbering is a per-user cumulative count, so the pruned
  * per-user FULL-history recompute assigns exactly the session ids a
  * whole-log recompute would — no incremental session-id state to
  * drift under in-window disorder. A user whose sessions have all
  * sealed drops out of the state table; if they return, they
  * re-enter as a batch user and their history re-derives every old
  * session id (already-exported sessions stay excluded by the
  * `> prev wm − gap` lower bound, and the lateness contract
  * guarantees no landed row can have renumbered them).
  *
  * Replay discipline (the ledger class): a GENERATION state file
  * (`_graft_sealed_state.b<gen>`, complete-or-absent via
  * temp+rename; newest generation wins, older ones are GC'd after
  * publish) records the completed batch ids, the watermark, the
  * landed byte total, the landed part-file INVENTORY, and the
  * events-file stats ledger; the active table generation
  * `_active/b<batchId>` publishes with it (written first — a crash
  * between leaves a stray generation the next attempt deletes before
  * rewriting). A redelivered batch short-circuits on the ledger; a
  * batch that crashed between its line append and its state publish
  * leaves stray part files the next attempt deletes by inventory
  * diff before re-appending — a part file belongs to exactly one
  * (batch, shard) append, so the diff is exact. Generations mean no
  * crash point ever reads as "no state" once a batch has committed.
  * An inventory divergence that is not a stray-suffix tear dies
  * loudly. An `_events` dir landed by a crashed batch is simply
  * never read (the ledger doesn't name it) until its redelivery
  * overwrite-lands and publishes it.
  *
  * Scale: the per-batch OUTPUT work is ∝ newly sealed conversations;
  * the inventory check is a directory listing of the out dir (∝
  * shard files — metadata, never data); the state table and the
  * collected candidate set are ∝ gap-window-active users (the same
  * broadcast-bounded driver state the table itself is); the sealing
  * scan opens only ledgered files whose user range intersects the
  * candidates; and the stats ledger is ∝ live files — bounded by
  * [[compactEvents]], which also keeps per-file ranges tight.
  * Nothing per-tick scales with stream lifetime. */
object StreamingSealed {

  private val StatePrefix = "_graft_sealed_state.b"

  /** One ledgered events file: root-relative path + its `user_id`
    * min/max (the pruning stats). */
  private final case class EventsFile(path: String, minU: Long,
                                      maxU: Long)

  private final case class State(batches: Seq[(Long, Long, Long)],
                                 files: Map[String, Long],
                                 events: Seq[EventsFile]) {
    def ids: Set[Long] = batches.map(_._1).toSet
    def wm: Long =
      if (batches.isEmpty) Long.MinValue else batches.maxBy(_._1)._2
    def landed: Long =
      if (batches.isEmpty) 0L else batches.maxBy(_._1)._3
    /** The newest ledgered batch id — the active-table generation. */
    def activeGen: Option[Long] =
      if (batches.isEmpty) None else Some(batches.maxBy(_._1)._1)
  }

  private type Fs = org.apache.hadoop.fs.FileSystem

  /** Newest complete state generation ([[GenState.readNewest]] —
    * complete-or-absent, so there is no torn-read case to guess
    * about); empty only before the first commit. The line codec
    * (`b,`/`f,`/`e,` rows) is this sink's own — the generation
    * mechanics are the shared substrate. */
  private def readState(fs: Fs, root: String): State =
    GenState.readNewest(fs, root, StatePrefix) match {
      case None => State(Nil, Map.empty, Nil)
      case Some(txt) =>
        val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
        State(
          lines.filter(_.startsWith("b,")).map { l =>
            val Array(_, id, wm, landed) = l.split(",")
            (id.toLong, wm.toLong, landed.toLong)
          },
          lines.filter(_.startsWith("f,")).map { l =>
            val Array(_, path, size) = l.split(",")
            path -> size.toLong
          }.toMap,
          lines.filter(_.startsWith("e,")).map { l =>
            val Array(_, path, mn, mx) = l.split(",")
            EventsFile(path, mn.toLong, mx.toLong)
          })
    }

  /** Publish a state generation ([[GenState.publish]]): batch
    * publishes keep their batch-id-named generation (ids are
    * monotone under the streaming engine), while a batch-less
    * publish ([[compactEvents]]) takes the next free number. The
    * active-table generation the new state names survives the GC;
    * strays die. */
  private def writeState(fs: Fs, root: String, genHint: Long,
                         st: State): Unit = {
    val lines = st.batches.sortBy(_._1)
      .map { case (id, wm, landed) => s"b,$id,$wm,$landed" } ++
      st.files.toSeq.sortBy(_._1).map { case (f, n) => s"f,$f,$n" } ++
      st.events.sortBy(_.path)
        .map(e => s"e,${e.path},${e.minU},${e.maxU}")
    GenState.publish(fs, root, StatePrefix, genHint,
      lines.mkString("", "\n", "\n"))
    gcActiveGens(fs, root, keep = st.activeGen)
  }

  // ------------------------------------------ active-user state table

  private def activeDir(root: String, gen: Long) =
    GenState.dirPath(root, "_active", gen)

  /** Delete active-table generations other than `keep` (the newest
    * ledgered one) — stray generations are a crashed attempt's. */
  private def gcActiveGens(fs: Fs, root: String,
                           keep: Option[Long]): Unit =
    GenState.gcDirGens(fs, root, "_active", keep)

  /** The `_active/b<gen>` layout [[processSealedTail]] writes. */
  private val ActiveSchema = StructType.fromDDL(
    "user_id BIGINT, last_t BIGINT")

  /** The ledgered active-user rows (user_id, last_t) — gap-window
    * bounded. Empty before the first commit. */
  private def readActive(spark: org.apache.spark.sql.SparkSession,
                         fs: Fs, root: String,
                         st: State): DataFrame =
    st.activeGen.filter(g => fs.exists(
        new org.apache.hadoop.fs.Path(activeDir(root, g)))) match {
      case Some(g) =>
        ParquetFooter.read(spark, Seq(activeDir(root, g)), Some(ActiveSchema))
      case None => spark.range(0)
        .select(col("id").as("user_id"), col("id").as("last_t"))
    }

  /** The landed part-file inventory: relative path -> size, a
    * recursive LISTING of the out dir (metadata only, no data
    * read). */
  private def listParts(fs: Fs, out: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(out)
    if (!fs.exists(root)) return Map.empty
    val it = fs.listFiles(root, true)
    val m = scala.collection.mutable.Map[String, Long]()
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.startsWith("part-")) {
        val rel = s.getPath.toString.stripPrefix(
          fs.makeQualified(root).toString).stripPrefix("/")
        m += rel -> s.getLen
      }
    }
    m.toMap
  }

  /** One micro-batch of the sealed export (factored out for the
    * gated query and the crash drills). `userBuckets` is the `ub`
    * landing fan-out — it must stay CONSTANT for the life of a store
    * (it is a physical dir layout, like a bucket count). */
  def processSealedBatch(batch: DataFrame, batchId: Long, root: String,
                         budgetBytes: Long,
                         userBuckets: Int = 16): Unit = {
    require(userBuckets >= 1,
      s"userBuckets must be >= 1, got $userBuckets")
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = readState(fs, root)
    if (st.ids.contains(batchId)) return // ledgered: fully landed
    val outPath = s"$root/out"
    // heal a torn previous attempt BEFORE anything else: stray part
    // files (on disk, absent from the ledgered inventory) are a
    // crashed append's — delete them; any other divergence is not a
    // crashed suffix and must not be silently "repaired". Before the
    // first commit the inventory is empty and stray == everything,
    // which is exactly right: only a crashed batch could have
    // written there. A stray _active generation (written but never
    // ledgered) heals the same way.
    val parts = listParts(fs, outPath)
    val stray = parts.keySet -- st.files.keySet
    stray.foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(outPath, f), false)
    }
    if ((parts -- stray) != st.files)
      throw new IllegalStateException(
        s"out dir at $outPath diverges from the ledgered inventory " +
          "beyond a crashed-suffix tear — refusing to repair")
    gcActiveGens(fs, root, keep = st.activeGen)
    // the lateness contract: rows at or below prev wm − gap are
    // rejected (see the header) — landed, they could renumber
    // already-exported sessions on a user's return
    val admitted =
      if (st.batches.isEmpty) batch
      else batch.filter(expr("ts div 1000") > st.wm - Sft.GapUs)
    // ONE pass over the (micro-batch-sized) admitted rows: emptiness,
    // the batch watermark, and per-user maxima together
    val batchT = admitted.select(col("user_id"),
        expr("ts div 1000").as("t"))
      .groupBy(col("user_id")).agg(max(col("t")).as("last_t"))
      .localCheckpoint(true)
    try {
      // ONE collect over the (already-checkpointed, user-count-sized)
      // per-user maxima: batch emptiness, the watermark advance, AND
      // the per-(bid, ub) stats ledger all derive from it — this was
      // two separate driver actions (a max() agg plus a per-ub
      // min/max collect) before; §5, fewer actions on a multi-action
      // lifecycle path
      val ubStats = batchT.groupBy(
          pmod(col("user_id"), lit(userBuckets.toLong)).as("ub"))
        .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"),
          max(col("last_t")).as("mt"))
        .collect().toSeq
      if (ubStats.isEmpty && st.batches.isEmpty)
        return // nothing ever landed: no watermark to advance
      // land the admitted events idempotently under their own
      // (bid, ub) dirs, and ledger each landed file's user_id
      // min/max — the stats ride the SAME atomic state publish that
      // ledgers the batch, so the candidate-history read can be
      // ledger-driven with no unledgered-file case
      val newFiles: Seq[EventsFile] =
        if (ubStats.isEmpty) Nil
        else {
          admitted.withColumn("bid", lit(batchId))
            .withColumn("ub", pmod(col("user_id"), lit(userBuckets.toLong)))
            // one file per (bid, ub) dir: without the repartition every
            // input task writes a sliver into every ub dir it touches —
            // tasks × ub small files per batch, paid again on every
            // candidate-history read
            .repartition(userBuckets, col("ub"))
            .write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bid", "ub").parquet(s"$root/_events")
          // per-(bid, ub) user range from the same collect; one file
          // per dir, so dir grain IS file grain
          ubStats.map { r =>
            EventsFile(s"_events/bid=$batchId/ub=${r.getLong(0)}",
              r.getLong(1), r.getLong(2))
          }
        }
      val wm = if (ubStats.isEmpty) st.wm
               else math.max(st.wm, ubStats.map(_.getLong(3)).max)
      processSealedTail(spark, fs, root, outPath, batchId, st, batchT,
        newFiles, wm, budgetBytes)
    } finally {
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(batchT)
    }
  }

  /** Seal + export + publish, after the batch has landed. */
  private def processSealedTail(spark: org.apache.spark.sql.SparkSession,
                                fs: Fs, root: String, outPath: String,
                                batchId: Long, st: State,
                                batchT: DataFrame,
                                newFiles: Seq[EventsFile], wm: Long,
                                budgetBytes: Long): Unit = {
    val first = st.batches.isEmpty
    // candidates: every user who can own a session with last event in
    // (prev wm − gap, wm − gap] — the previously-active users plus
    // this batch's users; everyone else's sessions sealed (and
    // exported) earlier. The set is gap-window bounded — the same
    // driver-sized state the _active table itself is — so it is
    // collected ONCE as (user, last_t) pairs: candidate file
    // selection, the sealing semi-join, and the next active-table
    // generation all derive from this one action (previously a
    // localCheckpoint + a collect + a re-scan for the table write —
    // §5, the driver state was already driver-sized by contract)
    val mrows: Array[(Long, Long)] = readActive(spark, fs, root, st)
      .unionByName(batchT)
      .groupBy(col("user_id")).agg(max(col("last_t")).as("last_t"))
      .filter(if (first) lit(true) else col("last_t") > st.wm - Sft.GapUs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    locally {
      val cands: Array[Long] = mrows.map(_._1).sorted
      def overlaps(mn: Long, mx: Long): Boolean = {
        val i = java.util.Arrays.binarySearch(cands, mn)
        val ins = if (i >= 0) i else -i - 1
        ins < cands.length && cands(ins) <= mx
      }
      val ledger = st.events ++ newFiles
      val sel = ledger.filter(e => overlaps(e.minU, e.maxU))
      val add =
        if (sel.isEmpty) 0L // no ledgered file holds a candidate row:
                            // nothing can newly seal this tick
        else {
          // the pruned sealing scan: ONLY the selected files open
          // (compacted segments have tight disjoint user ranges, so
          // this is candidate-proportional even with every ub bucket
          // hot); the semi-join then cuts range-overlap bycatch down
          // to exactly the candidates. rawTurns over a user's
          // complete history assigns the same session ids a
          // whole-log recompute would. Sessionized ONCE and
          // checkpointed: the tail facts (newly sealed keys) and the
          // render both consume it.
          // candidate restriction via a broadcast semi-join against a
          // LOCAL relation built from the collected candidate set —
          // no job materializes the probe side
          val candDf = spark.createDataFrame(
            mrows.toSeq.map(u => Tuple1(u._1))).toDF("user_id")
          val raw = Sft.rawTurns(
              ParquetFooter.read(spark, sel.map(e => s"$root/${e.path}"))
                .join(broadcast(candDf), Seq("user_id"), "left_semi")
                .drop("bid", "ub"))
            .localCheckpoint(true)
          val lines = try {
            val newKeys = raw
              .groupBy(col("user_id"), col("session_id"))
              .agg(max(col("t")).as("lt"))
              .filter(col("lt") <= wm - Sft.GapUs &&
                (if (first) lit(true) else col("lt") > st.wm - Sft.GapUs))
              .select(col("user_id"), col("session_id"))
            val esc = (c: org.apache.spark.sql.Column) =>
              regexp_replace(c, "([\"\\\\])", "\\\\$1")
            // the sealed-keys semi-join lands BELOW the merge/render
            // windows: only newly sealed conversations' events flow
            // through turn merging and templating (candidates that
            // stay open render nothing this tick). One
            // materialization: writeLines evaluates its input twice
            // and the byte total is read once more.
            Sft.render(Sft.mergedTurnsOfRaw(
                raw.join(newKeys, Seq("user_id", "session_id"),
                  "left_semi")))
              .select(
                (col("user_id") * 1000000L + col("session_id")).as("ck"),
                concat(lit("{\"ck\":"),
                  col("user_id") * 1000000L + col("session_id"),
                  lit(",\"render\":\""), esc(col("rendered")), lit("\"}"))
                  .as("line"))
              .withColumn("n_bytes",
                (length(col("line")) + 1L).cast("long"))
              .localCheckpoint(true)
          } finally {
            org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(raw)
          }
          // writeLines returns the landed byte total from its own
          // layout histogram — no separate aggregation pass (§5)
          try Lakehouse.writeLines(lines, "ck", outPath, budgetBytes,
            byteOffset = st.landed, mode = SaveMode.Append)
          finally {
            org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(lines)
          }
        }
      // publish: active table generation first (still unreferenced —
      // a crash here leaves a stray the next attempt heals), then
      // the state file that names it. The rows come from the already-
      // collected candidate pairs — a local-relation write, no re-scan
      val actRows = mrows.filter(_._2 > wm - Sft.GapUs).toSeq
      spark.createDataFrame(actRows).toDF("user_id", "last_t")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(activeDir(root, batchId))
      writeState(fs, root, batchId,
        State(st.batches :+ ((batchId, wm, st.landed + add)),
          listParts(fs, outPath), ledger))
    }
  }

  /** Fold every ledgered events file into `nSegments` user-RANGE-
    * partitioned, user-sorted segment files — the [[Lakehouse]]
    * `compactVersioned` model applied to the landing log. After a
    * compact, per-file user ranges are TIGHT and DISJOINT, so a
    * sealing tick with k candidate users opens O(k) files no matter
    * how many `ub` buckets the candidates hash into, and the stats
    * ledger (and the per-tick planning cost that reads it) stops
    * growing with batch count.
    *
    * One full rewrite of the landed log — the price every OPTIMIZE
    * pays — plus one single-column (`user_id`) read-back of the
    * fresh segments for their exact per-file ranges (parquet column
    * pruning: the stats pass never touches the payload columns).
    * Publish is the same complete-or-absent state-generation write
    * the sink uses; the old dirs are deleted only AFTER the new
    * state is durable, and a crash anywhere leaves either the old
    * ledger fully live or the new one — stray unledgered dirs are
    * never read and the next compact GCs them.
    *
    * Single-writer contract (same as the sink): never run
    * concurrently with a sealing tick. */
  def compactEvents(spark: org.apache.spark.sql.SparkSession,
                    root: String, nSegments: Int): Unit = {
    require(nSegments >= 1, s"nSegments must be >= 1, got $nSegments")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = readState(fs, root)
    if (st.events.isEmpty) return
    val SegGen = "_events_c/g(\\d+)/.*".r
    val ledgeredGens = st.events.map(_.path).collect {
      case SegGen(g) => g.toLong
    }
    // a crashed compact may have left a stray UNledgered generation
    // dir: the next number must clear everything on disk too, or the
    // fresh write would land among stale files
    val cDir = new org.apache.hadoop.fs.Path(root, "_events_c")
    val diskGens =
      if (!fs.exists(cDir)) Nil
      else fs.listStatus(cDir).map(_.getPath.getName)
        .filter(_.startsWith("g")).map(_.stripPrefix("g").toLong).toSeq
    val gen = (ledgeredGens ++ diskGens).maxOption.getOrElse(0L) + 1
    val genDir = s"$root/_events_c/g$gen"
    ParquetFooter.read(spark, st.events.map(e => s"$root/${e.path}"))
      .drop("bid", "ub")
      .repartitionByRange(nSegments, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode(SaveMode.Overwrite).parquet(genDir)
    // exact per-file ranges from the written segments: one pruned
    // read of the user_id column alone. Segment files live flat in
    // the generation dir, so the file NAME is the relative path.
    val segFiles = ParquetFooter.read(spark, Seq(genDir))
      .groupBy(input_file_name().as("f"))
      .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
      .collect().toSeq.map { r =>
        val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
        EventsFile(s"_events_c/g$gen/$name", r.getLong(1), r.getLong(2))
      }
    writeState(fs, root, genHint = 0L,
      State(st.batches, st.files, segFiles))
    // GC everything the new ledger no longer names: the whole bid=*
    // landing area and every older segment generation. A crashed
    // batch's unledgered landing dies here too — its redelivery
    // re-lands it in full.
    fs.delete(new org.apache.hadoop.fs.Path(root, "_events"), true)
    diskGens.filter(_ != gen).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"_events_c/g$g"),
        true)
    }
    ledgeredGens.filter(_ != gen).distinct.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"_events_c/g$g"),
        true)
    }
  }
}
