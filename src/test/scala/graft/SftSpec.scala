package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Sft, Trend}
import graft.functions.DecayedSum.decayedSumFixedOver
import graft.functions.DecayedSumFixed

/** The SFT data-prep family ([[Sft]]) on crafted event frames — turn
  * merging, template bytes, ledger rule order, preference tie-breaks,
  * mask-span arithmetic — plus the native decayed-sum window function
  * against the naive recurrence and [[Trend.psiDrift]] invariants. */
class SftSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** events-shaped frame: (event_id, ts ns, user_id, event_type,
    * value). Timestamps are seconds here, scaled to ns. */
  private def events(rows: Seq[(Long, Long, Long, String, Double)]) =
    rows.toDF("event_id", "sec", "user_id", "event_type", "value")
      .select(col("event_id"), (col("sec") * 1000000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"))

  test("mergedTurns: consecutive same-role events merge, alternation " +
    "survives, session gap splits conversations") {
    val ev = events(Seq(
      // user 1, one session: click,view (user) -> purchase (asst) ->
      // click (user)
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "view", 2.0),
      (3L, 20L, 1L, "purchase", 3.0), (4L, 30L, 1L, "click", 4.0),
      // same user, >30 min later: a fresh session
      (5L, 4000L, 1L, "error", 5.0)))
    val turns = Sft.mergedTurns(ev)
      .select("user_id", "session_id", "turn_id", "role", "n_events",
        "turn_text")
      .as[(Long, Long, Long, String, Long, String)].collect().sortBy(t =>
        (t._2, t._3))
    assert(turns.map(t => (t._2, t._3, t._4, t._5)).toSeq == Seq(
      (1L, 1L, "user", 2L), (1L, 2L, "assistant", 1L),
      (1L, 3L, "user", 1L), (2L, 1L, "assistant", 1L)))
    assert(turns.head._6 == "<|user|> click#100 view#200")
    assert(turns(1)._6 == "<|assistant|> purchase#300")
  }

  test("render: token count is n_events + n_turns; bytes are the " +
    "space-joined turn texts in order") {
    val ev = events(Seq(
      (1L, 0L, 7L, "click", 1.0), (2L, 10L, 7L, "purchase", 2.5)))
    val r = Sft.render(Sft.mergedTurns(ev))
      .select("rendered", "n_tokens").as[(String, Long)].head()
    assert(r._1 == "<|user|> click#100 <|assistant|> purchase#250")
    assert(r._2 == 4L) // 2 events + 2 turns
    assert(r._1.split(" ").length == 4)
  }

  test("ledger: first-fail rule order — too_short beats no_user_start " +
    "beats no_assistant_end") {
    val ev = events(Seq(
      // user 1: single assistant turn — too_short (not no_user_start)
      (1L, 0L, 1L, "purchase", 1.0),
      // user 2: assistant then user — starts wrong AND ends wrong;
      // no_user_start must win
      (2L, 0L, 2L, "error", 1.0), (3L, 10L, 2L, "click", 1.0),
      // user 3: user then user-merged then nothing — ends user
      (4L, 0L, 3L, "click", 1.0), (5L, 10L, 3L, "purchase", 1.0),
      (6L, 20L, 3L, "view", 1.0),
      // user 4: kept
      (7L, 0L, 4L, "click", 1.0), (8L, 10L, 4L, "purchase", 1.0)))
    val v = Sft.ledger(Sft.mergedTurns(ev))
      .select("user_id", "verdict").as[(Long, String)].collect().toMap
    assert(v == Map(1L -> "too_short", 2L -> "no_user_start",
      3L -> "no_assistant_end", 4L -> "kept"))
  }

  test("prefPairs: score ties break by turn_id (max side high, min " +
    "side low); zero-margin conversations drop") {
    val ev = events(Seq(
      // user 1: three assistant turns, scores 3, 1, 3 — chosen is the
      // LATER of the tied max (turn tie-break), rejected the score-1
      (1L, 0L, 1L, "purchase", 3.0), (2L, 0L, 1L, "click", 0.0),
      (3L, 10L, 1L, "error", 1.0), (4L, 10L, 1L, "click", 0.0),
      (5L, 20L, 1L, "purchase", 3.0),
      // user 2: two assistant turns, equal scores — zero margin, drop
      (6L, 0L, 2L, "purchase", 2.0), (7L, 0L, 2L, "click", 0.0),
      (8L, 10L, 2L, "purchase", 2.0)))
    val got = Sft.prefPairs(Sft.mergedTurns(ev))
      .select("user_id", "chosen_turn", "rejected_turn", "margin_fp")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 5L, 3L, 200L)))
  }

  test("lossMaskSpans: spans cover exactly the assistant content " +
    "tokens, offset by the packed position plus the role tag") {
    val ev = events(Seq(
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "purchase", 2.0),
      (3L, 20L, 1L, "purchase", 3.0), // merges with previous
      (4L, 0L, 2L, "error", 4.0)))
    val turns = Sft.mergedTurns(ev)
    val spans = Sft.lossMaskSpans(turns, col("user_id"), budget = 5L)
      .select("conv_key", "seq_id", "span_start", "span_len")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // conv 1: tokens = 3 events + 2 turns = 5, packs at offset 0 of
    // seq 0; assistant turn starts after the 2-token user turn, +1
    // for its tag -> span (0, 3, 2). conv 2: starts at global token
    // 5 -> seq 1 offset 0; its single assistant turn spans (1, 1, 1).
    assert(spans.toSeq == Seq((1L, 0L, 3L, 2L), (2L, 1L, 1L, 1L)))
    // mask mass == total assistant content tokens
    val asst = turns.filter(col("role") === "assistant")
      .agg(sum("n_events")).as[Long].head()
    assert(spans.map(_._4).sum == asst)
  }

  test("foldTurns: chained folds == from-scratch across every weave " +
    "shape — turn extension, new turn in attached session, fresh " +
    "session, brand-new user") {
    val all = events(Seq(
      // user 1: old ends with an assistant turn; batch1 starts
      // assistant within gap -> TURN EXTENSION; batch2 starts user
      // within gap -> new turn in the same session
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "purchase", 2.0),
      (3L, 1100L, 1L, "error", 3.0),
      (4L, 2200L, 1L, "view", 4.0),
      // user 2: batch1 arrives after a >30min gap -> fresh session
      (5L, 0L, 2L, "click", 1.0),
      (6L, 3000L, 2L, "view", 5.0),
      // user 3 appears only in batch2 -> brand-new user
      (7L, 2300L, 3L, "signup", 6.0)))
    def t(e: org.apache.spark.sql.DataFrame) = e.withColumn("__s",
      expr("ts div 1000000000"))
    val (b0, b1, b2) = (t(all).filter(col("__s") <= 1000L).drop("__s"),
      t(all).filter(col("__s") > 1000L && col("__s") <= 2100L).drop("__s"),
      t(all).filter(col("__s") > 2100L).drop("__s"))
    val (turns0, tail0) = Sft.turnsState(b0)
    val f1 = Sft.foldTurns(turns0, tail0, b1)
    val lastT1 = Sft.rawTurns(b0.unionByName(b1))
      .groupBy(col("user_id")).agg(max(col("t")).as("last_t"))
    val f2 = Sft.foldTurns(f1, Sft.tailOf(f1, lastT1), b2)
    val key = (r: (Long, Long, Long, String, Long, Long, String)) =>
      (r._1, r._2, r._3)
    val got = f2.select("user_id", "session_id", "turn_id", "role",
        "n_events", "value_fp", "turn_text")
      .as[(Long, Long, Long, String, Long, Long, String)]
      .collect().sortBy(key).toSeq
    val exp = Sft.mergedTurns(all).select("user_id", "session_id",
        "turn_id", "role", "n_events", "value_fp", "turn_text")
      .as[(Long, Long, Long, String, Long, Long, String)]
      .collect().sortBy(key).toSeq
    assert(got == exp)
    // the extension really happened: user 1 session 1 has an
    // assistant turn holding BOTH purchase and error events
    assert(exp.exists(r => r._1 == 1L && r._4 == "assistant" &&
      r._5 == 2L && r._7.contains("purchase#200 error#300")))
  }

  test("randomized weave drill: BOTH streaming sinks (whole-table and " +
    "bucket-scoped) land on the from-scratch merged turns for " +
    "arbitrary seeded event streams sliced into time batches") {
    import graft.streaming.StreamingSft
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      // random walk over seconds with ~15% super-gap jumps, so the
      // slices exercise every weave shape: turn extension, same-
      // session new turn, attached vs fresh session, brand-new user,
      // and (occasionally) an empty batch
      var sec = 0L
      val rows = (0 until 120).map { i =>
        sec += (if (rnd.nextDouble() < 0.15) 2000L
                else rnd.nextInt(600).toLong + 1L)
        (i.toLong + 1L, sec, rnd.nextInt(4).toLong + 1L,
          Seq("click", "view", "purchase", "error",
            "signup")(rnd.nextInt(5)),
          (rnd.nextInt(500) + 1) / 100.0)
      }
      val all = events(rows)
      val hi = rows.map(_._2).max
      def slice(b: Int) = events(rows.filter(r =>
        r._2 > hi * b / 4 && r._2 <= hi * (b + 1) / 4))
      val table = s"graft_sft_rand_$trial"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val path = freshDir(s"graft_sft_randb_$trial")
      (0 until 4).foreach { b =>
        StreamingSft.processSftBatch(slice(b), b.toLong, table)
        StreamingSft.processSftBatchBucketed(slice(b), b.toLong, path,
          buckets = 16)
      }
      val cols = Seq("user_id", "session_id", "turn_id", "role",
        "n_events", "value_fp", "turn_text")
      def sorted(df: org.apache.spark.sql.DataFrame)
          : Seq[(Long, Long, Long, String, Long, Long, String)] =
        df.select(cols.map(col): _*)
          .as[(Long, Long, Long, String, Long, Long, String)].collect()
          .sortBy(r => (r._1, r._2, r._3)).toSeq
      val exp = sorted(Sft.mergedTurns(all))
      assert(sorted(StreamingSft.readTurns(spark.table(table))) == exp,
        s"whole-table sink diverged on trial $trial")
      assert(sorted(StreamingSft.readTurnsBucketed(spark, path)) == exp,
        s"bucket-scoped sink diverged on trial $trial")
    }
  }

  /** The sealed-export drills' three batches. u1 sessions at sec
    * 0-20, 5000-5020, 9100; u2 at 100-120, 6000, 12000; u3 at 9000.
    * Slice watermarks seal exactly two new conversations per batch;
    * u2's 12000 session never seals. */
  private val sealedRows = Seq(
    (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "view", 1.0),
    (3L, 20L, 1L, "purchase", 1.0),
    (4L, 100L, 2L, "click", 1.0), (5L, 120L, 2L, "view", 1.0),
    (6L, 5000L, 1L, "click", 1.0), (7L, 5020L, 1L, "error", 1.0),
    (8L, 6000L, 2L, "signup", 1.0),
    (9L, 9000L, 3L, "click", 1.0),
    (10L, 9100L, 1L, "view", 1.0),
    (11L, 12000L, 2L, "click", 1.0))
  private def sealedSlice(b: Int) = events(sealedRows.filter { r =>
    val cut0 = 5020L; val cut1 = 9100L
    b match {
      case 0 => r._2 <= cut0
      case 1 => r._2 > cut0 && r._2 <= cut1
      case _ => r._2 > cut1
    }
  })

  test("StreamingSealed: a drilled run (torn export healed by " +
    "inventory diff, batch redelivered after a later one) lands " +
    "byte-identical to a clean streamed run; only newly sealed " +
    "conversations export per batch; unsealed ones never do") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamingSealed.processSealedBatch
    def outLines(root: String): Seq[(Long, String)] =
      spark.read.text(s"$root/out")
        .select(col("shard").cast("long"), col("value"))
        .as[(Long, String)].collect().sorted.toSeq
    def listParts(root: String): Map[String, Long] = {
      val base = Paths.get(root, "out")
      val out = scala.collection.mutable.Map[String, Long]()
      Files.walk(base).forEach { p =>
        if (Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-"))
          out += base.relativize(p).toString -> Files.size(p)
      }
      out.toMap
    }
    // clean reference run
    val ref = freshDir("graft_sealed_ref")
    (0 until 3).foreach(b =>
      processSealedBatch(sealedSlice(b), b.toLong, ref, 512L))
    val expected = outLines(ref)
    // per-batch sealing: exactly conversations 1-2 then 3-4 then 5-6
    // (cks u*1e6+session), and u2's open 12000 session NEVER exports
    val cks = expected.map(l =>
      l._2.split(",")(0).stripPrefix("{\"ck\":").toLong).sorted
    assert(cks == Seq(1000001L, 1000002L, 1000003L, 2000001L,
      2000002L, 3000001L))
    // drilled run: batches 0, 1 land normally
    val root = freshDir("graft_sealed_drill")
    processSealedBatch(sealedSlice(0), 0L, root, 512L)
    processSealedBatch(sealedSlice(1), 1L, root, 512L)
    val gen1 = Paths.get(root, "_graft_sealed_state.b1")
    val savedState = Files.readAllBytes(gen1)
    val hconf = spark.sparkContext.hadoopConfiguration
    val hfs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
    val act1 = new org.apache.hadoop.fs.Path(root, "_active/b1")
    val actBak = new org.apache.hadoop.fs.Path(root, "_active_bak")
    org.apache.hadoop.fs.FileUtil.copy(hfs, act1, hfs, actBak, false,
      hconf)
    val partsAfter1 = listParts(root)
    // batch 2 lands fully, then the CRASH WINDOW is reconstructed:
    // its appended lines are on disk but the state publish is rolled
    // back to generation b1 — exactly what a kill between writeLines
    // and writeState leaves. At that crash point the b1 ACTIVE
    // generation is still on disk (its GC runs only after the b2
    // state file is durable), so it is restored too; the b2 active
    // dir stays behind as the stray the heal must delete
    processSealedBatch(sealedSlice(2), 2L, root, 512L)
    Files.delete(Paths.get(root, "_graft_sealed_state.b2"))
    Files.write(gen1, savedState)
    org.apache.hadoop.fs.FileUtil.copy(hfs, actBak, hfs, act1, false,
      hconf)
    assert(listParts(root).keySet.size > partsAfter1.size,
      "the torn attempt's stray files must exist for the drill")
    // replay of batch 2: the inventory diff deletes the stray files
    // (and the stray active generation), the re-append lands at the
    // SAME byte offset — byte-identical to the clean run
    processSealedBatch(sealedSlice(2), 2L, root, 512L)
    assert(outLines(root) == expected)
    assert(!Files.exists(Paths.get(root, "_active/b1")) &&
      Files.exists(Paths.get(root, "_active/b2")),
      "publish must GC superseded active generations")
    // redelivery of batch 1 AFTER batch 2: ledger-skipped, nothing
    // moves
    val fp = listParts(root)
    processSealedBatch(sealedSlice(1), 1L, root, 512L)
    assert(listParts(root) == fp && outLines(root) == expected)
  }

  test("StreamingSealed through the sink adapter: after the last " +
    "batch's commit record is lost, Spark redelivers it under the " +
    "same batch id on restart and the generation ledger skips it — " +
    "the export bytes do not change") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.{ForeachBatchSink, StreamingSealed}
    val base = tempDir("graft_sealed_redeliver")
    val root = s"$base/store"
    def land(b: Int): Unit = sealedSlice(b).coalesce(1).write
      .mode("append").parquet(s"$base/src")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = ForeachBatchSink.start(
        spark.readStream.schema(sealedSlice(0).schema)
          .parquet(s"$base/src"), s"$base/ckpt") { (batch, batchId) =>
      seen += batchId
      StreamingSealed.processSealedBatch(batch, batchId, root, 512L)
    }
    // relative path -> SHA-256 of the bytes, for every file under dir
    def bytesUnder(dir: String): Map[String, String] = {
      val top = Paths.get(dir)
      val m = scala.collection.mutable.Map[String, String]()
      Files.walk(top).forEach { p =>
        if (Files.isRegularFile(p)) m += top.relativize(p).toString ->
          org.apache.commons.codec.digest.DigestUtils.sha256Hex(
            Files.readAllBytes(p))
      }
      m.toMap
    }
    // one file per slice, each its own micro-batch (ids 0, 1, 2)
    land(0)
    val q = start()
    q.processAllAvailable()
    Seq(1, 2).foreach { b => land(b); q.processAllAvailable() }
    q.stop()
    assert(seen == Seq(0L, 1L, 2L))
    val exported = bytesUnder(s"$root/out")
    val store = bytesUnder(root)
    val cks = spark.read.text(s"$root/out").select(col("value"))
      .as[String].collect()
      .map(_.split(",")(0).stripPrefix("{\"ck\":").toLong).sorted.toSeq
    assert(cks == Seq(1000001L, 1000002L, 1000003L, 2000001L,
      2000002L, 3000001L))
    // crash after batch 2 exported but before Spark recorded it done
    prune(s"$base/ckpt", "commits", _ != "2")
    seen.clear()
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(seen == Seq(2L), "the restart must redeliver batch 2")
    assert(bytesUnder(s"$root/out") == exported)
    // the ledger skips before any work: no state generation, landing
    // or active dir is rewritten either
    assert(bytesUnder(root) == store)
  }

  /** Task-level input ROWS read across every Spark job `f` runs (the
    * LakehouseSpec pin helper): row counts, not bytes — the
    * vectorized parquet reader bypasses `bytesRead` in local mode,
    * but every scanned row increments `recordsRead`. LocalRelation
    * inputs (the crafted batches here) read as zero, so the counter
    * isolates the landed-log scans. */
  private def recordsReadDuring(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          acc.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.sql.GraftSqlBridge.waitListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    acc.get()
  }

  test("StreamingSealed sealing scan is bucket-pruned to candidate " +
    "users: a later batch never re-reads earlier batches' events " +
    "once their users' sessions have sealed (measured recordsRead, " +
    "with accounting and a negative control)") {
    import graft.streaming.StreamingSealed.processSealedBatch
    // users 4,5,6 land 3000 events in batch 0 (ub 0,1,2 at UB=4);
    // user 7 (ub 3) trickles 10 events in each of batches 1 and 2
    val bulk = (0L until 3000L).map { i =>
      (i, (i % 100L), 4L + i % 3L, "click", 1.0)
    }
    val trickle1 = (0L until 10L).map { i =>
      (10000L + i, 4000L + i, 7L, "view", 1.0)
    }
    val trickle2 = (0L until 10L).map { i =>
      (20000L + i, 8000L + i, 7L, "view", 1.0)
    }
    val root = freshDir("graft_sealed_prune")
    processSealedBatch(events(bulk), 0L, root, 1L << 20,
      userBuckets = 4)
    // batch 1 SEALS users 4,5,6 (wm 4009 puts their last events well
    // past the gap): the accounting control — their history IS read
    // when it is the newly sealed output
    val sealRead = recordsReadDuring {
      processSealedBatch(events(trickle1), 1L, root, 1L << 20,
        userBuckets = 4)
    }
    assert(sealRead >= 3000L,
      s"batch 1 must read the sealed users' history (read $sealRead)")
    // batch 2's only candidate is user 7 (users 4,5,6 sealed and
    // dropped from the active table): its sealing scan opens ONLY
    // ub=3 dirs — the 3000 bulk events are never re-read. The old
    // full-log shape would scan >= 3020 rows here.
    val pruned = recordsReadDuring {
      processSealedBatch(events(trickle2), 2L, root, 1L << 20,
        userBuckets = 4)
    }
    assert(pruned < 500L,
      s"batch 2's sealing scan read $pruned rows (expected ~20: user " +
        "7's own dirs plus the active table — not the 3000-event log)")
    // the output is still exactly right: users 4,5,6 sealed at batch
    // 1; user 7's 4000s session sealed at batch 2; its 8000s session
    // stays open
    val cks = spark.read.text(s"$root/out")
      .select(col("value")).as[String].collect()
      .map(_.split(",")(0).stripPrefix("{\"ck\":").toLong).sorted.toSeq
    assert(cks == Seq(4000001L, 5000001L, 6000001L, 7000001L))
  }

  test("StreamingSealed + compactEvents: candidates hashing into " +
    "EVERY ub bucket still scan only the segments covering them — " +
    "far less than the landed log (measured recordsRead, with " +
    "accounting control). A bucket-grain prune would degenerate to " +
    "the full log here") {
    import graft.streaming.StreamingSealed.{processSealedBatch,
      compactEvents}
    // 100 bulk users (0..99) x 60 events at secs 0..59 — one session
    // each, spread over ALL 4 ub buckets; trickle users 1000..1003
    // hit ub 0,1,2,3 — every bucket hot in the steady state
    val bulk = for { u <- 0L until 100L; i <- 0L until 60L }
      yield (u * 100L + i, i, u, "click", 1.0)
    val trickle1 = (0L until 4L).map(i =>
      (900000L + i, 10000L + i, 1000L + i, "view", 1.0))
    val trickle2 = (0L until 4L).map(i =>
      (910000L + i, 20000L + i, 1000L + i, "view", 1.0))
    val root = freshDir("graft_sealed_allhot")
    processSealedBatch(events(bulk), 0L, root, 1L << 20,
      userBuckets = 4)
    // batch 1 (wm 10003) SEALS all 100 bulk sessions: the accounting
    // control — the sealing scan legitimately reads the whole log
    // when the whole log is newly sealed output
    val sealRead = recordsReadDuring {
      processSealedBatch(events(trickle1), 1L, root, 1L << 20,
        userBuckets = 4)
    }
    assert(sealRead >= 6000L,
      s"batch 1 must read the sealed bulk history (read $sealRead)")
    // fold the landing into user-range segments: per-file user
    // ranges become tight and disjoint
    compactEvents(spark, root, nSegments = 16)
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "_events")),
      "compact must GC the superseded bid=* landing dirs")
    // batch 2's candidates are users 1000..1003 — one per ub bucket,
    // so a bucket-grain prune keeps every bucket and re-reads all
    // ~6000 landed rows. Range-selected segments open only the
    // files covering those users: one ~400-row segment plus the
    // active table and the checkpoint cache re-reads (recordsRead
    // counts cache-block rows — the measured bound budgets the
    // candidate frames twice, never the log)
    val pruned = recordsReadDuring {
      processSealedBatch(events(trickle2), 2L, root, 1L << 20,
        userBuckets = 4)
    }
    assert(pruned < 2200L,
      s"batch 2's sealing scan read $pruned rows with every bucket " +
        "hot (expected one ~400-row segment, not the ~6000-row log)")
    // output stays exactly right: 100 bulk sessions sealed at batch
    // 1, the trickle users' first sessions sealed at batch 2, their
    // 20000s sessions still open
    val cks = spark.read.text(s"$root/out")
      .select(col("value")).as[String].collect()
      .map(_.split(",")(0).stripPrefix("{\"ck\":").toLong).sorted.toSeq
    val expCks = ((0L until 100L) ++ (1000L until 1004L))
      .map(_ * 1000000L + 1L).sorted
    assert(cks == expCks)
  }

  test("StreamingSealed lateness contract: sub-watermark rows are " +
    "rejected at landing, so a returning user's session numbering " +
    "never shifts and the landed log never diverges from the export") {
    import graft.streaming.StreamingSealed.processSealedBatch
    val root = freshDir("graft_sealed_late")
    // u1's first session at secs 0..20
    processSealedBatch(events(Seq(
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "view", 1.0),
      (3L, 20L, 1L, "purchase", 1.0))), 0L, root, 1L << 20,
      userBuckets = 4)
    // batch 1: u2 at 10000 -> wm 10000 seals u1's session (ck 1000001)
    processSealedBatch(events(Seq(
      (4L, 10000L, 2L, "click", 1.0))), 1L, root, 1L << 20,
      userBuckets = 4)
    def cks(): Seq[Long] = spark.read.text(s"$root/out")
      .select(col("value")).as[String].collect()
      .map(_.split(",")(0).stripPrefix("{\"ck\":").toLong).sorted.toSeq
    def landedRows(): Long =
      spark.read.parquet(s"$root/_events").count()
    assert(cks() == Seq(1000001L) && landedRows() == 4L)
    // batch 2: u1 returns with ONLY sub-watermark rows (secs 5000,
    // 5001 <= wm 10000 - gap 1800) — rejected at the door. Landed,
    // they would insert a phantom session below u1's exported
    // session on the next recompute and renumber everything above
    processSealedBatch(events(Seq(
      (5L, 5000L, 1L, "error", 1.0),
      (6L, 5001L, 1L, "error", 1.0))), 2L, root, 1L << 20,
      userBuckets = 4)
    assert(cks() == Seq(1000001L) && landedRows() == 4L,
      "a fully-late batch must land nothing and export nothing")
    // redelivery of the late batch: ledger-skipped
    processSealedBatch(events(Seq(
      (5L, 5000L, 1L, "error", 1.0))), 2L, root, 1L << 20,
      userBuckets = 4)
    assert(landedRows() == 4L)
    // batch 3: u1's genuine return at 30000; batch 4 (u3 at 50000)
    // seals it as session 2 — the ck proves the rejected rows never
    // entered the numbering (landed, they'd have made it session 3)
    processSealedBatch(events(Seq(
      (7L, 30000L, 1L, "signup", 1.0))), 3L, root, 1L << 20,
      userBuckets = 4)
    processSealedBatch(events(Seq(
      (8L, 50000L, 3L, "click", 1.0))), 4L, root, 1L << 20,
      userBuckets = 4)
    assert(cks() == Seq(1000001L, 1000002L, 2000001L))
  }

  test("DecayedSumFixed == the naive per-step truncating recurrence; " +
    "partitions are independent") {
    val rows = Seq((1L, 1L, 17L), (1L, 2L, 100L), (1L, 3L, 3L),
      (1L, 4L, 55L), (2L, 1L, 9L), (2L, 2L, 9L))
    val got = rows.toDF("k", "ord", "v")
      .select(col("k"), col("ord"),
        decayedSumFixedOver(col("v"), 9L, 10L, Seq(col("k")),
          Seq(col("ord"))).as("st"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    def naive(vs: Seq[Long]): Seq[Long] =
      vs.scanLeft(0L)((st, v) => st * 9L / 10L + v).tail
    val exp = rows.groupBy(_._1).flatMap { case (k, rs) =>
      val ordered = rs.sortBy(_._2)
      ordered.map(_._2).zip(naive(ordered.map(_._3)))
        .map { case (o, st) => (k, o) -> st }
    }
    assert(got == exp)
    // truncation really happened (not float decay): 17 -> 15 + 100
    assert(got((1L, 2L)) == 115L)
    assert(got((1L, 4L)) == ((17L * 9 / 10 + 100L) * 9 / 10 + 3L) * 9 / 10 + 55L)
  }

  test("DecayedSumFixed rejects decay >= 1 and negative factors") {
    intercept[IllegalArgumentException] {
      DecayedSumFixed(org.apache.spark.sql.GraftSqlBridge.expression(lit(1L)), 10L, 10L)
    }
    intercept[IllegalArgumentException] {
      DecayedSumFixed(org.apache.spark.sql.GraftSqlBridge.expression(lit(1L)), -1L, 10L)
    }
  }

  test("psiDrift: identical waves give zero PSI; a shifted wave gives " +
    "strictly positive; totals are per-wave row counts") {
    val same = (0L until 40L).map(i => ("s", i % 2, (i / 2) % 4))
      .toDF("source", "wave", "bin")
    val z = Trend.psiDrift(same, nBins = 4, keyCol = "source")
      .select("n0", "n1", "psi_fp").as[(Long, Long, Long)].head()
    assert(z == ((20L, 20L, 0L)))
    val shifted = ((0L until 20L).map(_ => ("s", 0L, 0L)) ++
      (0L until 20L).map(_ => ("s", 1L, 3L)))
      .toDF("source", "wave", "bin")
    val p = Trend.psiDrift(shifted, nBins = 4, keyCol = "source")
      .select("psi_fp").as[Long].head()
    assert(p > 10000L) // a full mass shift is a large PSI
  }
}
