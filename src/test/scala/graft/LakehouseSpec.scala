package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ConcurrentCommitException, Graph, Lakehouse, StatsStore}

/** [[Lakehouse]] physical contracts the SQL gate cannot see (bytes
  * and mtimes on disk), plus [[Graph.labelPropagation]] against the
  * naive synchronous recurrence. */
class LakehouseSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf(ids: Seq[Long]) =
    ids.map(i => (i, s"text $i body", "en", s"src${i % 3}", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def partFiles(dir: String): Map[String, Long] = {
    val base = Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Long]()
    Files.walk(base).forEach { p =>
      if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_")
        && !p.getFileName.toString.startsWith(".")) {
        out += base.relativize(p).toString ->
          Files.getLastModifiedTime(p).toMillis
      }
    }
    out.toMap
  }

  /** Task-level input ROWS read across every Spark job `f` runs —
    * the measured-I/O side of the candidate-bucket pruning contract.
    * (Row counts, not bytes: the vectorized parquet reader's column
    * data bypasses `bytesRead` accounting in local mode, but every
    * scanned row increments `recordsRead`.) Tests run sequentially in
    * the forked JVM, so the global listener sees only `f`'s tasks. */
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

  /** Store rows for the pruning pins: buckets 0, 2, 3 hold 10k rows
    * each (ids ≢ 1 mod 4 below 40000); bucket 1 — the candidate the
    * 1-key batches target — holds only 100 (ids ≡ 1 mod 4 below
    * 400). A full-store pass costs ≥ 30000 records; a pruned one a
    * few hundred. */
  private def prunePinRows =
    ((0L until 40000L).filter(_ % 4 != 1) ++
      (0L until 400L).filter(_ % 4 == 1))
      .map(i => (i, s"text $i", "en", s"src${i % 3}", 10L + i % 7))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("mergeInto rewrites exactly the touched buckets: untouched " +
    "bucket files keep bytes and mtimes; emptied bucket dirs vanish; " +
    "an absent-key delete touches nothing") {
    val path = freshDir("graft_mspec")
    // 8 docs across 4 buckets: bucket = id % 4
    Lakehouse.writeStore(docsDf(0L until 8L), "doc_id", path, buckets = 4)
    val before = partFiles(path)
    // batch: update doc 1 (bucket 1), delete docs 2 and 6 (ALL of
    // bucket 2 -> emptied), delete key 999 (absent -> no touch)
    val batch = Seq(
      (1L, "U", "text 1 v2", "en", "srcX", 111L),
      (2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L),
      (999L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val (touched, rewritten) =
      Lakehouse.mergeInto(spark, path, batch, "doc_id", 4)
    assert(touched == 2L && rewritten == 2L) // buckets 1 and 2
    val after = partFiles(path)
    // bucket 2 gone entirely
    assert(!Files.exists(Paths.get(path, "bucket=2")))
    // buckets 0 and 3 byte-for-byte untouched (same files, same mtime)
    val untouched = before.keySet.filter(f =>
      f.startsWith("bucket=0") || f.startsWith("bucket=3"))
    assert(untouched.nonEmpty)
    untouched.foreach { f => assert(after(f) == before(f), f) }
    // content: doc 1 updated, 2 and 6 gone, rest intact
    val got = spark.read.parquet(path)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "src0", 1L -> "srcX", 3L -> "src0",
      4L -> "src1", 5L -> "src2", 7L -> "src1"))
    // a second merge deleting only an absent key is a no-op
    val noop = Seq((999L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    assert(Lakehouse.mergeInto(spark, path, noop, "doc_id", 4) ==
      ((0L, 0L)))
    val after2 = partFiles(path)
    assert(after2 == after)
  }

  test("jsonl append touches only the last landed shard dir (new part " +
    "file) and creates new dirs; landed part files keep their mtimes") {
    val path = freshDir("graft_jspec")
    val all = docsDf(0L until 40L)
    val old = all.filter(col("doc_id") < 30L)
    // ~25 bytes/line overhead + text -> pick a budget that yields
    // multiple shards
    Lakehouse.writeJsonl(old, path, budgetBytes = 600L)
    val before = partFiles(path)
    val landed = Lakehouse.jsonLines(old).agg(sum("n_bytes"))
      .as[Long].head()
    val lastShard = before.keys.map(_.split("/")(0))
      .map(_.stripPrefix("shard=").toLong).max
    Lakehouse.writeJsonl(all.filter(col("doc_id") >= 30L), path,
      budgetBytes = 600L, byteOffset = landed,
      mode = org.apache.spark.sql.SaveMode.Append)
    val after = partFiles(path)
    // every pre-existing part file survives bit-identical (same mtime)
    before.foreach { case (f, m) => assert(after(f) == m, f) }
    // new files land only in the last landed shard or beyond
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty)
    newFiles.foreach { f =>
      val sid = f.split("/")(0).stripPrefix("shard=").toLong
      assert(sid >= lastShard, f)
    }
    // and the combined layout equals the from-scratch one, manifest
    // for manifest
    val path2 = freshDir("graft_jspec_full")
    Lakehouse.writeJsonl(all, path2, budgetBytes = 600L)
    val a = Lakehouse.jsonlManifest(spark, path)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val b = Lakehouse.jsonlManifest(spark, path2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("jsonLines escapes quotes and backslashes; parsed JSON " +
    "round-trips the raw text") {
    val tricky = Seq((1L, "say \"hi\" \\ bye", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val line = Lakehouse.jsonLines(tricky).select("line").as[String].head()
    assert(line.contains("\\\"hi\\\"") && line.contains("\\\\ bye"))
    val parsed = Seq(line).toDF("value")
      .select(get_json_object(col("value"), "$.text")).as[String].head()
    assert(parsed == "say \"hi\" \\ bye")
  }

  test("compactStore rewrites only fragmented buckets: they collapse " +
    "to one part file, already-compact buckets keep bytes and mtimes, " +
    "content is preserved; a second compact is a no-op") {
    val path = freshDir("graft_cspec")
    // bucket = id % 4; base write covers all buckets, append touches
    // only buckets 0 and 1 (ids 8, 9) -> exactly those fragment
    Lakehouse.writeStore(docsDf(0L until 8L), "doc_id", path, buckets = 4)
    Lakehouse.appendStore(docsDf(Seq(8L, 9L)), "doc_id", path,
      buckets = 4)
    val before = partFiles(path)
    val (touched, rewritten) = Lakehouse.compactStore(spark, path,
      "doc_id")
    assert(touched == 2L && rewritten == 2L)
    val after = partFiles(path)
    // compacted buckets: exactly one part file each
    Seq("bucket=0", "bucket=1").foreach { b =>
      assert(after.keys.count(_.startsWith(b)) == 1, b)
    }
    // untouched buckets byte-and-mtime identical
    before.keys.filter(f => f.startsWith("bucket=2") ||
      f.startsWith("bucket=3")).foreach { f =>
      assert(after(f) == before(f), f)
    }
    // content preserved
    val got = spark.read.parquet(path).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(got == (0L to 9L).toSeq)
    // idempotent: nothing left to compact
    assert(Lakehouse.compactStore(spark, path, "doc_id") == ((0L, 0L)))
    assert(partFiles(path) == after)
  }

  test("readJsonl parses the export back to the exact source rows") {
    val path = freshDir("graft_rjspec")
    val src = docsDf(0L until 25L)
    Lakehouse.writeJsonl(src, path, budgetBytes = 400L)
    val got = Lakehouse.readJsonl(spark, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    val exp = src.withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == exp.toSeq)
  }

  test("StreamingSft ledger skips a redelivered batch id; the same " +
    "slice under a FRESH id double-appends (the negative control " +
    "that proves the ledger is load-bearing)") {
    import graft.streaming.StreamingSft
    def ev(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("event_id", "sec", "user_id", "event_type", "value")
        .select(col("event_id"), (col("sec") * 1000000000L).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    val b0 = ev(Seq((1L, 0L, 1L, "purchase", 1.0)))
    val b1 = ev(Seq((2L, 10L, 1L, "purchase", 2.0)))
    def run(table: String, replayId: Long): String = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      StreamingSft.processSftBatch(b0, 0L, table)
      StreamingSft.processSftBatch(b1, 1L, table)
      StreamingSft.processSftBatch(b1, replayId, table)
      StreamingSft.readTurns(spark.table(table))
        .select("turn_text").as[String].head()
    }
    // same id -> ledger skip -> the correct single append
    assert(run("graft_sft_led_ok", 1L) ==
      "<|assistant|> purchase#100 purchase#200")
    // fresh id -> the ledger CANNOT know -> double append (corrupt):
    // this is exactly the failure an idempotent fold would not have,
    // and why this sink is ledger-class
    assert(run("graft_sft_led_bad", 2L) ==
      "<|assistant|> purchase#100 purchase#200 purchase#200")
  }

  test("bucket-scoped StreamingSft: a batch touching one user leaves " +
    "other users' bucket files byte- and mtime-identical; replay is " +
    "ledger-skipped") {
    import graft.streaming.StreamingSft
    def ev(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("event_id", "sec", "user_id", "event_type", "value")
        .select(col("event_id"), (col("sec") * 1000000000L).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    val path = freshDir("graft_sftb_spec")
    // users 1 and 2 land in different buckets (tkey = user*1e12 + …;
    // buckets = 16 -> bucket = tkey mod 16 differs by user here)
    val b0 = ev(Seq((1L, 0L, 1L, "purchase", 1.0),
      (2L, 0L, 2L, "click", 2.0)))
    StreamingSft.processSftBatchBucketed(b0, 0L, path, buckets = 16)
    val before = partFiles(path)
    // batch 1 touches ONLY user 1 (extends its assistant turn)
    val b1 = ev(Seq((3L, 10L, 1L, "purchase", 3.0)))
    StreamingSft.processSftBatchBucketed(b1, 1L, path, buckets = 16)
    val after = partFiles(path)
    // user 2's turn row key: user sits in the LOW bits, so its
    // bucket is (1e12 + 1e6 + 2) mod 16 = 2
    val u2bucket = (1000000000000L + 1000000L + 2L) % 16
    val u2files = before.keySet.filter(_.startsWith(s"bucket=$u2bucket/"))
    assert(u2files.nonEmpty)
    u2files.foreach { f => assert(after(f) == before(f), f) }
    // the fold itself happened
    val turns = StreamingSft.readTurnsBucketed(spark, path)
    assert(turns.filter(col("user_id") === 1L)
      .select("turn_text").as[String].head() ==
      "<|assistant|> purchase#100 purchase#300")
    // replayed batch id: no file in the store changes at all
    StreamingSft.processSftBatchBucketed(b1, 1L, path, buckets = 16)
    assert(partFiles(path) == after)
  }

  test("versioned store: merges never touch old version dirs (bytes " +
    "and mtimes pinned), the new version dir holds ONLY touched " +
    "buckets, and v0 reads back exactly after two merges") {
    val path = freshDir("graft_ttspec")
    val base = docsDf(0L until 8L) // buckets = id % 4
    Lakehouse.writeVersioned(base, "doc_id", path, buckets = 4)
    val v0files = partFiles(path + "/v0")
    // merge 1: update doc 1 only -> touches bucket 1 only
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4)
    // merge 2: delete docs 2 and 6 (all of bucket 2 -> emptied)
    val m2 = Seq((2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 2L, m2, "doc_id", 4)
    // v0 untouched byte for byte
    assert(partFiles(path + "/v0") == v0files)
    // v1 holds only bucket 1; v2 has NO dirs (bucket 2 was emptied —
    // its pointer is a tombstone, not a file)
    val v1buckets = partFiles(path + "/v1").keySet.map(_.split("/")(0))
    assert(v1buckets == Set("bucket=1"))
    assert(!Files.exists(Paths.get(path, "v2")) ||
      partFiles(path + "/v2").isEmpty)
    // time travel: every version reads back as its historical state
    def state(v: Long) = Lakehouse.readVersioned(spark, path, v)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    assert(state(0L) == (0L until 8L).map(i => i -> s"src${i % 3}").toMap)
    assert(state(1L) == state(0L) + (1L -> "srcX"))
    assert(state(2L) == state(1L) - 2L - 6L)
  }

  test("vacuumVersions deletes exactly the unreferenced version dirs, " +
    "keeps retained dirs byte/mtime-identical, and reading below the " +
    "floor fails while floor-and-above stays exact") {
    val path = freshDir("graft_ttvac")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", path,
      buckets = 4)
    // v1 touches ALL buckets (updates ids 0..3 -> one per bucket), so
    // v0 becomes unreferenced at floor 1
    val m1 = (0L until 4L).map(i =>
      (i, "U", s"text $i v2", "en", "srcX", 100L + i))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4)
    val m2 = Seq((5L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 2L, m2, "doc_id", 4)
    val keepFiles = partFiles(path + "/v1") ++ partFiles(path + "/v2")
    assert(Lakehouse.vacuumVersions(spark, path, 1L) == ((1L, 2L)))
    assert(!Files.exists(Paths.get(path, "v0")))
    assert(partFiles(path + "/v1") ++ partFiles(path + "/v2") ==
      keepFiles)
    // floor and above read exactly
    val v2 = Lakehouse.readVersioned(spark, path, 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(v2 == Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L))
    // below the floor the data is GONE — the surrendered contract
    intercept[Exception] {
      Lakehouse.readVersioned(spark, path, 0L).collect()
    }
    // a second vacuum is a no-op
    assert(Lakehouse.vacuumVersions(spark, path, 1L) == ((0L, 2L)))
  }

  test("mergeInto reads ONLY candidate bucket dirs: a 1-key batch " +
    "against row-fat non-candidate buckets scans a few hundred " +
    "records, not the store; a batch keyed INTO a fat bucket scans " +
    "it (negative control)") {
    val path = freshDir("graft_mprune")
    Lakehouse.writeStore(prunePinRows, "doc_id", path, buckets = 4)
    // accounting control: one full pass really costs >= 30000 records
    assert(recordsReadDuring(spark.read.parquet(path).count())
      >= 30000L)
    val b1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val pruned = recordsReadDuring {
      assert(Lakehouse.mergeInto(spark, path, b1, "doc_id", 4) ==
        ((1L, 1L)))
    }
    assert(pruned < 3000L,
      s"classification read is not bucket-pruned: scanned $pruned " +
        "records with 30000 standing in non-candidate buckets")
    // negative control: a key that LIVES in a fat bucket must scan it
    val b2 = Seq((2L, "U", "tiny now", "en", "srcX", 8L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val unpruned = recordsReadDuring {
      Lakehouse.mergeInto(spark, path, b2, "doc_id", 4)
    }
    assert(unpruned > 10000L,
      s"control should have scanned the fat bucket: $unpruned")
  }

  test("mergeVersioned + mergeVersionedLogged classify within " +
    "candidate buckets only (measured input records), and the " +
    "changelog row matches the batch's true classification") {
    val path = freshDir("graft_vprune")
    val logPath = freshDir("graft_vprune_log")
    Lakehouse.writeVersioned(prunePinRows, "doc_id", path, buckets = 4,
      commitTs = 10L)
    // v1: update key 1 + ghost-delete key 997 (both bucket 1)
    val b1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L),
      (997L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val pruned = recordsReadDuring {
      Lakehouse.mergeVersionedLogged(spark, path, logPath, 1L, b1,
        "doc_id", 4, commitTs = 20L)
    }
    assert(pruned < 3000L,
      s"versioned classification not pruned: scanned $pruned records")
    val log = spark.read.parquet(logPath)
      .select("version", "n_updates", "n_inserts", "n_deletes",
        "n_noop_deletes", "touched_buckets")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(log == Seq((1L, 1L, 0L, 0L, 1L, 1L)))
    // and the merge itself landed: v1 state readable by version AND ts
    assert(Lakehouse.readVersioned(spark, path, 1L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "srcX")
    assert(Lakehouse.readVersionedAsOf(spark, path, 25L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "srcX")
    assert(Lakehouse.readVersionedAsOf(spark, path, 15L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "src1")
  }

  test("bucket-scoped StreamingSft fold reads only the batch users' " +
    "bucket dirs: a 1-user batch against another user's 20k-turn " +
    "standing bucket scans a bounded record count, and that bucket's " +
    "files stay byte- and mtime-identical") {
    import graft.streaming.StreamingSft
    val path = freshDir("graft_sftprune")
    // user 2's standing history is row-fat: 20k ALTERNATING-role
    // events -> 20k merged turn rows in bucket 2; user 1 is tiny.
    // buckets = 16: u1 turn bucket 1, u2 turn bucket 2; u1 last-t 15,
    // u2 last-t 14; batch-1 ledger 15 -> candidates {1, 15} only.
    val u2 = (0 until 20000).map { j =>
      (1000L + j, j.toLong, 2L,
        if (j % 2 == 0) "click" else "purchase",
        ((j * 2654435761L) % 99991L) / 100.0)
    }
    val b0rows = Seq((1L, 0L, 1L, "purchase", 1.0)) ++ u2
    def ev(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("event_id", "sec", "user_id", "event_type", "value")
        .select(col("event_id"), (col("sec") * 1000000000L).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    StreamingSft.processSftBatchBucketed(ev(b0rows), 0L, path,
      buckets = 16)
    // accounting control: a full-store pass really costs >= 20000
    assert(recordsReadDuring(spark.read.parquet(path).count())
      >= 20000L)
    val before = partFiles(path)
    val b1 = ev(Seq((50000L, 100000L, 1L, "purchase", 3.0)))
    val pruned = recordsReadDuring {
      StreamingSft.processSftBatchBucketed(b1, 1L, path, buckets = 16)
    }
    assert(pruned < 4000L,
      s"fold read is not bucket-pruned: scanned $pruned records " +
        "with 20000 turns standing in another user's bucket")
    // user 2's standing files untouched byte-for-byte
    val u2files = before.keySet.filter(_.startsWith("bucket=2/"))
    assert(u2files.nonEmpty)
    val after = partFiles(path)
    u2files.foreach { f => assert(after(f) == before(f), f) }
    // and the fold is correct: user 1 gained its second session
    val turns = StreamingSft.readTurnsBucketed(spark, path)
      .filter(col("user_id") === 1L)
    assert(turns.count() == 2L)
  }

  test("diffVersions reads only pointer-differing buckets (measured " +
    "input records; row-fat untouched buckets stay cold) and " +
    "classifies added/removed/changed exactly") {
    val path = freshDir("graft_vdiffspec")
    Lakehouse.writeVersioned(prunePinRows, "doc_id", path, buckets = 4,
      commitTs = 10L)
    // v1: update key 1, delete key 5, insert key 401 (all bucket 1)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L),
      (5L, "D", "", "", "", 0L),
      (401L, "U", "fresh", "en", "srcN", 5L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4,
      commitTs = 20L)
    var diff: Seq[(Long, String)] = Nil
    val pruned = recordsReadDuring {
      diff = Lakehouse.diffVersions(spark, path, 0L, 1L, "doc_id")
        .select("doc_id", "change").as[(Long, String)].collect()
        .sortBy(_._1).toSeq
    }
    assert(diff == Seq((1L, "changed"), (5L, "removed"),
      (401L, "added")))
    assert(pruned < 3000L,
      s"diff read is not manifest-pruned: scanned $pruned records")
    // negative control: touch a fat bucket in v2, its diff scans it
    // from BOTH sides
    val m2 = Seq((2L, "U", "tiny", "en", "srcX", 4L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 2L, m2, "doc_id", 4,
      commitTs = 30L)
    val unpruned = recordsReadDuring {
      assert(Lakehouse.diffVersions(spark, path, 1L, 2L, "doc_id")
        .select("doc_id", "change").as[(Long, String)].collect()
        .toSeq == Seq((2L, "changed")))
    }
    assert(unpruned > 10000L,
      s"control should have scanned the fat bucket: $unpruned")
  }

  test("checkpointManifest collapses history at or below the floor " +
    "into one file; every as-of view >= floor (by version and by " +
    "timestamp) reads back identically") {
    val path = freshDir("graft_ckpt")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", path,
      buckets = 4, commitTs = 10L)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4,
      commitTs = 20L)
    val m2 = Seq((2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 2L, m2, "doc_id", 4,
      commitTs = 30L)
    def snap(v: Long) = Lakehouse.readVersioned(spark, path, v)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    def snapTs(ts: Long) = Lakehouse.readVersionedAsOf(spark, path, ts)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val (s1, s2) = (snap(1L), snap(2L))
    val (t25, t35) = (snapTs(25L), snapTs(35L))
    val (rb, ra, fb, fa) = Lakehouse.checkpointManifest(spark, path, 1L)
    // three appended files -> one; v0's 4 pointers + v1's 1 collapse
    // to 4 resolved rows (bucket 1's v0 row superseded), v2 rows kept,
    // plus the floor-marker row
    assert(fb == 3L && fa == 1L)
    assert(rb == 6L && ra == 6L)
    assert(Files.list(Paths.get(path, "_manifest")).toArray
      .map(p => Paths.get(p.toString).getFileName.toString)
      .count(_.startsWith("part-")) == 1)
    // read-equivalence at and above the floor, both resolution modes
    assert(snap(1L) == s1 && snap(2L) == s2)
    assert(snapTs(25L) == t25 && snapTs(35L) == t35)
    // below the floor the partial post-collapse state must NOT leak —
    // the floor marker turns it into a loud failure
    val e = intercept[IllegalArgumentException] {
      Lakehouse.readVersioned(spark, path, 0L)
    }
    assert(e.getMessage.contains("checkpoint floor"))
  }

  test("versioned-store guards: duplicate full write fails; " +
    "out-of-order merge version fails; reading before the first " +
    "commit fails descriptively; a fully-emptied view reads back as " +
    "an EMPTY frame with the store schema") {
    val path = freshDir("graft_vguard")
    val base = docsDf(Seq(0L, 4L)) // one bucket (buckets = 1)
    Lakehouse.writeVersioned(base, "doc_id", path, buckets = 1)
    // duplicate full write
    val e1 = intercept[IllegalArgumentException] {
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 1)
    }
    assert(e1.getMessage.contains("already exists"))
    // out-of-order version (must be 1)
    val m = Seq((0L, "D", "", "", "", 0L), (4L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.mergeVersioned(spark, path, 3L, m, "doc_id", 1)
    }
    assert(e2.getMessage.contains("one past the last"))
    // before the first commit
    val e3 = intercept[IllegalArgumentException] {
      Lakehouse.readVersioned(spark, path, -1L)
    }
    assert(e3.getMessage.contains("predates the first commit"))
    // empty a 1-bucket store entirely: the pointer is a tombstone and
    // the view is EMPTY, not an exception
    Lakehouse.mergeVersioned(spark, path, 1L, m, "doc_id", 1)
    val emptied = Lakehouse.readVersioned(spark, path, 1L)
    assert(emptied.count() == 0L)
    assert(emptied.columns.contains("doc_id") &&
      emptied.columns.contains("text"))
    // v0 still time-travels
    assert(Lakehouse.readVersioned(spark, path, 0L).count() == 2L)
  }

  test("StreamingLakehouse versioned sink: a redelivered batch id " +
    "commits nothing (manifest and dirs byte-identical); a fresh id " +
    "commits a new version (the negative control that proves the " +
    "manifest-ledger is load-bearing)") {
    import graft.streaming.StreamingLakehouse.processVersionedBatch
    val path = freshDir("graft_vstream_spec")
    val b0 = docsDf(0L until 8L).withColumn("op", lit("U"))
      .select(col("doc_id"), col("op"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    processVersionedBatch(b0, 0L, path, "doc_id", 4)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    processVersionedBatch(m1, 1L, path, "doc_id", 4)
    val before = partFiles(path)
    // redelivery of batch 1: the manifest-ledger short-circuits
    processVersionedBatch(m1, 1L, path, "doc_id", 4)
    assert(partFiles(path) == before)
    // fresh id: the ledger CANNOT know -> a new version commits
    processVersionedBatch(m1, 2L, path, "doc_id", 4)
    assert(Files.exists(Paths.get(path, "v2")))
    assert(spark.read.parquet(s"$path/_manifest")
      .select("version").distinct().count() == 3L)
    // and the state is still correct at every version
    assert(Lakehouse.readVersioned(spark, path, 2L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "srcX")
  }

  test("versioned sink crash consistency: a torn commit (version dir " +
    "written, manifest append lost) is invisible to readers, and the " +
    "replayed batch overwrites the orphan and lands correctly") {
    import graft.streaming.StreamingLakehouse.processVersionedBatch
    val path = freshDir("graft_vcrash")
    val b0 = docsDf(0L until 8L).withColumn("op", lit("U"))
      .select(col("doc_id"), col("op"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    processVersionedBatch(b0, 0L, path, "doc_id", 4)
    // simulate the crash window: run the commit, then roll the
    // manifest back to its pre-commit bytes — v1's data dir remains
    // as an orphan the manifest knows nothing about
    val manifestDir = Paths.get(path, "_manifest")
    val snapshot = Paths.get(tempDir("graft_mansnap"))
    Files.list(manifestDir).forEach { p =>
      Files.copy(p, snapshot.resolve(p.getFileName.toString))
    }
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    processVersionedBatch(m1, 1L, path, "doc_id", 4)
    // roll back the manifest (delete everything, restore snapshot)
    Files.list(manifestDir).forEach(p => Files.delete(p))
    Files.list(snapshot).forEach { p =>
      Files.copy(p, manifestDir.resolve(p.getFileName.toString))
    }
    assert(Files.exists(Paths.get(path, "v1"))) // the orphan
    // readers resolve through the manifest alone: the orphan is
    // invisible — even an as-of-1 read resolves every pointer to v0
    assert(Lakehouse.readVersioned(spark, path, 0L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "src1")
    assert(Lakehouse.readVersioned(spark, path, 1L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "src1")
    // the replayed batch is NOT in the ledger (its append was lost),
    // so it re-commits: the orphan dir is overwritten and v1 lands
    processVersionedBatch(m1, 1L, path, "doc_id", 4)
    assert(Lakehouse.readVersioned(spark, path, 1L)
      .filter(col("doc_id") === 1L).select("source").as[String].head()
      == "srcX")
    // and a second redelivery is now ledger-skipped
    val files = partFiles(path)
    processVersionedBatch(m1, 1L, path, "doc_id", 4)
    assert(partFiles(path) == files)
  }

  test("lookupStore opens only the keys' candidate bucket dirs " +
    "(measured input records) and returns exactly the present keys") {
    val path = freshDir("graft_plook")
    Lakehouse.writeStore(prunePinRows, "doc_id", path, buckets = 4)
    var got: Seq[Long] = Nil
    val scanned = recordsReadDuring {
      got = Lakehouse.lookupStore(spark, path, "doc_id",
          Seq(1L, 5L, 997L), buckets = 4)
        .select("doc_id").as[Long].collect().sorted.toSeq
    }
    assert(got == Seq(1L, 5L)) // 997 is absent (bucket-1 ids < 400)
    assert(scanned < 3000L,
      s"lookup is not bucket-pruned: scanned $scanned records")
  }

  test("re-merge on an EVOLVED mixed-schema store keeps the widened " +
    "column (survivors rebuild under the mergeSchema union, never one " +
    "sampled footer), a batch missing a standing column fails fast, " +
    "and narrow regions stay mergeable narrow") {
    val path = freshDir("graft_evomerge")
    Lakehouse.writeStore(docsDf(0L until 8L), "doc_id", path, buckets = 4)
    // merge 1 EVOLVES bucket 1: id 1 gains `quality`
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L, 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars",
        "quality")
    Lakehouse.mergeInto(spark, path, m1, "doc_id", 4)
    // merge 2 — the r13 data-loss scenario: candidate set spans one
    // WIDENED bucket (1: survivor id 1 carries quality=9) and one
    // NARROW bucket (2); the old one-footer read could resolve the
    // narrow schema and rewrite id 1 without its quality
    val m2 = Seq(
      (5L, "U", "text 5 v2", "en", "srcY", 55L, 3L),
      (2L, "U", "text 2 v2", "en", "srcY", 22L, 4L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars",
        "quality")
    Lakehouse.mergeInto(spark, path, m2, "doc_id", 4)
    val q = spark.read.option("mergeSchema", "true").parquet(path)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(q(1L) == Some(9L), "widened survivor value LOST in re-merge")
    assert(q(5L) == Some(3L) && q(2L) == Some(4L))
    assert(q(6L).isEmpty && q(0L).isEmpty) // pre-evolution rows: null
    // a batch MISSING the now-standing quality column in bucket 1
    // fails fast instead of silently nulling id 1's value
    val narrow1 = Seq((1L, "U", "x", "en", "s", 1L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      Lakehouse.mergeInto(spark, path, narrow1, "doc_id", 4)
    }
    assert(e.getMessage.contains("quality"))
    // but bucket 3 never widened — the pruned schema union keeps
    // narrow regions mergeable narrow
    val narrow3 = Seq((3L, "U", "text 3 v2", "en", "srcZ", 33L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    assert(Lakehouse.mergeInto(spark, path, narrow3, "doc_id", 4) ==
      ((1L, 1L)))
  }

  test("manifest checkpoint publishes ATOMICALLY: every crash point " +
    "in the stage->delete->rename protocol leaves a readable " +
    "manifest (old live, staged ignored, or swap completed on read)") {
    val path = freshDir("graft_ckptcrash")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", path,
      buckets = 4, commitTs = 10L)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4,
      commitTs = 20L)
    val m2 = Seq((2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 2L, m2, "doc_id", 4,
      commitTs = 30L)
    def snap(v: Long): Seq[(Long, String)] =
      Lakehouse.readVersioned(spark, path, v)
        .select(col("doc_id"), col("source"))
        .as[(Long, String)].collect().sorted.toSeq
    val s1 = snap(1L); val s2 = snap(2L)
    def copyDir(from: String, to: String): Unit = {
      Files.createDirectories(Paths.get(to))
      Files.list(Paths.get(from)).forEach { p =>
        Files.copy(p, Paths.get(to, p.getFileName.toString))
      }
    }
    def clearDir(dir: String): Unit =
      if (Files.exists(Paths.get(dir))) {
        Files.walk(Paths.get(dir)).sorted(
          java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      }
    val man = s"$path/_manifest"
    val next = s"$path/_manifest__next"
    val pre = freshDir("graft_ckpt_pre") // pre-checkpoint manifest
    copyDir(man, pre)
    assert(Lakehouse.checkpointManifest(spark, path, 1L)._4 == 1L)
    val post = freshDir("graft_ckpt_post") // collapsed manifest
    copyDir(man, post)
    assert(!Files.exists(Paths.get(next))) // clean swap leaves no stage
    // crash A: staged complete __next, old manifest still live — the
    // old manifest serves; the stage is ignored garbage
    clearDir(man); copyDir(pre, man); copyDir(post, next)
    assert(snap(1L) == s1 && snap(2L) == s2)
    assert(Lakehouse.readVersioned(spark, path, 0L).count() == 8L,
      "pre-swap reads must still serve sub-floor history")
    // ... and a re-run checkpoint clears the stale stage and lands
    assert(Lakehouse.checkpointManifest(spark, path, 1L)._4 == 1L)
    assert(!Files.exists(Paths.get(next)))
    assert(snap(1L) == s1 && snap(2L) == s2)
    // crash B: the fatal window of an in-place overwrite — manifest
    // GONE, complete __next staged. Recovery completes the swap on
    // the next read; no crash point loses the store.
    clearDir(man); copyDir(post, next)
    assert(snap(2L) == s2)
    assert(Files.exists(Paths.get(man, "_SUCCESS")) &&
      !Files.exists(Paths.get(next)), "recovery must finish the swap")
    assert(snap(1L) == s1)
    intercept[IllegalArgumentException] { // floor marker survived
      Lakehouse.readVersioned(spark, path, 0L)
    }
    // crash C: INCOMPLETE stage (no _SUCCESS) next to a live
    // manifest — ignored, never adopted
    clearDir(next)
    Files.createDirectories(Paths.get(next))
    Files.write(Paths.get(next, "part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(snap(2L) == s2)
    assert(Files.exists(Paths.get(next)), "a live manifest never " +
      "adopts an incomplete stage")
  }

  test("optimistic concurrency: a stale writer loses the v-slot with " +
    "ConcurrentCommitException and the retry loop re-lands it; an " +
    "in-flight marker blocks pre-data; reclaim is same-token only; " +
    "breakCommit refuses committed versions") {
    val path = freshDir("graft_occ")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", path,
      buckets = 4, commitTs = 10L, writerToken = "w0")
    def upd(id: Long, src: String) = Seq(
      (id, "U", s"text $id cc", "en", src, 100L + id))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    // writer A commits v1; writer B had ALSO resolved head=0 — its
    // stale v1 attempt must lose, not corrupt
    Lakehouse.mergeVersioned(spark, path, 1L, upd(1L, "srcA"),
      "doc_id", 4, commitTs = 20L, writerToken = "writer-a")
    intercept[ConcurrentCommitException] {
      Lakehouse.mergeVersioned(spark, path, 1L, upd(2L, "srcB"),
        "doc_id", 4, commitTs = 30L, writerToken = "writer-b")
    }
    // the commit loop re-resolves and lands B at v2: BOTH batches in
    // a linear history, every intermediate state intact
    assert(Lakehouse.mergeVersionedConcurrent(spark, path,
      upd(2L, "srcB"), "doc_id", 4, "writer-b", commitTs = 30L) == 2L)
    def src(v: Long, id: Long): String =
      Lakehouse.readVersioned(spark, path, v)
        .filter(col("doc_id") === id).select("source").as[String].head()
    assert(src(1L, 1L) == "srcA" && src(1L, 2L) == "src2")
    assert(src(2L, 1L) == "srcA" && src(2L, 2L) == "srcB")
    // in-flight window: writer C holds the v3 marker but hasn't
    // appended pointers — a foreign writer is blocked BEFORE any
    // data write, and the store is untouched
    Files.write(Paths.get(path, "_commits", "v3"),
      "writer-c".getBytes("UTF-8"))
    val e = intercept[ConcurrentCommitException] {
      Lakehouse.mergeVersioned(spark, path, 3L, upd(3L, "srcD"),
        "doc_id", 4, commitTs = 40L, writerToken = "writer-d")
    }
    assert(e.holder == "writer-c")
    assert(!Files.exists(Paths.get(path, "v3")),
      "the losing writer must never write the version dir")
    // the lease-less recovery: break the dead writer's lock, commit
    Lakehouse.breakCommit(spark, path, 3L)
    Lakehouse.mergeVersioned(spark, path, 3L, upd(3L, "srcD"),
      "doc_id", 4, commitTs = 40L, writerToken = "writer-d")
    assert(src(3L, 3L) == "srcD")
    // ... but a COMMITTED version's marker is protected
    intercept[IllegalArgumentException] {
      Lakehouse.breakCommit(spark, path, 3L)
    }
    // same-token reclaim: a writer that crashed between marker and
    // manifest append replays INTO its own slot
    Files.write(Paths.get(path, "_commits", "v4"),
      "writer-e".getBytes("UTF-8"))
    Lakehouse.mergeVersioned(spark, path, 4L, upd(4L, "srcE"),
      "doc_id", 4, commitTs = 50L, writerToken = "writer-e")
    assert(src(4L, 4L) == "srcE")
    // two concurrent FIRST writers: the v0 slot arbitrates
    val path2 = freshDir("graft_occ0")
    Files.createDirectories(Paths.get(path2, "_commits"))
    Files.write(Paths.get(path2, "_commits", "v0"),
      "ghost".getBytes("UTF-8"))
    intercept[ConcurrentCommitException] {
      Lakehouse.writeVersioned(docsDf(0L until 4L), "doc_id", path2,
        buckets = 4, commitTs = 10L, writerToken = "w1")
    }
  }

  test("lookupVersioned opens only the keys' candidate bucket dirs " +
    "at the resolved version (measured input records) and serves " +
    "every retained historical state; fat non-candidate buckets " +
    "scan in the negative control only") {
    val path = freshDir("graft_vlook")
    Lakehouse.writeVersioned(prunePinRows, "doc_id", path, buckets = 4,
      commitTs = 10L)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4,
      commitTs = 20L)
    // accounting control: one full resolved pass costs >= 30000 rows
    assert(recordsReadDuring(
      Lakehouse.readVersioned(spark, path, 1L).count()) >= 30000L)
    var got: Seq[(Long, String)] = Nil
    val scanned = recordsReadDuring {
      got = Lakehouse.lookupVersioned(spark, path, "doc_id",
          Seq(1L, 5L, 997L), version = 1L, buckets = 4)
        .select(col("doc_id"), col("source")).as[(Long, String)]
        .collect().sorted.toSeq
    }
    assert(got == Seq((1L, "srcX"), (5L, "src2"))) // 997 absent
    assert(scanned < 3000L,
      s"versioned lookup not bucket-pruned: scanned $scanned records")
    // time travel: the same GET against v0 serves the OLD row
    assert(Lakehouse.lookupVersioned(spark, path, "doc_id", Seq(1L),
        version = 0L, buckets = 4)
      .select("source").as[String].head() == "src1")
    // negative control: a key living in a fat bucket must scan it
    val unpruned = recordsReadDuring {
      Lakehouse.lookupVersioned(spark, path, "doc_id", Seq(2L),
        version = 1L, buckets = 4).count()
    }
    assert(unpruned > 10000L,
      s"control should have scanned the fat bucket: $unpruned")
  }

  test("restoreVersion is a MANIFEST-ONLY commit: zero data dirs " +
    "move, the restored view equals the target, history across the " +
    "restore stays intact, tombstones restore emptiness, a no-op " +
    "restore commits nothing, and vacuum keeps restored-to dirs") {
    val path = freshDir("graft_restore")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", path,
      buckets = 4, commitTs = 10L)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, m1, "doc_id", 4,
      commitTs = 20L)
    val m2 = Seq((2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 2L, m2, "doc_id", 4,
      commitTs = 30L) // empties bucket 2
    val filesBefore = partFiles(path)
    // restore to v0: only buckets 1 (updated) and 2 (emptied) differ
    assert(Lakehouse.restoreVersion(spark, path, toVersion = 0L,
      asVersion = 3L, commitTs = 40L) == 2L)
    assert(!Files.exists(Paths.get(path, "v3")), "restore moved data")
    def ids(v: Long): Seq[Long] = Lakehouse.readVersioned(spark, path, v)
      .select("doc_id").as[Long].collect().sorted.toSeq
    def src(v: Long, id: Long): String =
      Lakehouse.readVersioned(spark, path, v)
        .filter(col("doc_id") === id).select("source").as[String].head()
    assert(ids(3L) == (0L until 8L) && src(3L, 1L) == "src1")
    assert(ids(2L) == Seq(0L, 1L, 3L, 4L, 5L, 7L), "history broke")
    assert(Lakehouse.readVersionedAsOf(spark, path, 35L)
      .count() == 6L) // between v2 and the restore
    assert(Lakehouse.readVersionedAsOf(spark, path, 45L).count() == 8L)
    // restore BACK to v2 from the restored-v0 head: bucket 2 must
    // re-empty via a TOMBSTONE pointer, not a data write
    assert(Lakehouse.restoreVersion(spark, path, toVersion = 2L,
      asVersion = 4L, commitTs = 50L) == 2L)
    assert(ids(4L) == Seq(0L, 1L, 3L, 4L, 5L, 7L) &&
      src(4L, 1L) == "srcX")
    // a restore to the state already current is a NO-OP: no commit,
    // the version slot stays free
    assert(Lakehouse.restoreVersion(spark, path, toVersion = 4L,
      asVersion = 5L, commitTs = 60L) == 0L)
    assert(Lakehouse.readVersioned(spark, path, 99L).count() == 6L)
    // data files: NOTHING restored ever copied or rewrote a byte
    assert(partFiles(path).filter(_._1.startsWith("v")) ==
      filesBefore.filter(_._1.startsWith("v")))
    // vacuum at floor 3 keeps v0 (the restored-to dirs) and v1
    // (v4 = the v2 state points bucket 1 at vdir 1); only v2's
    // never-referenced empty dir goes
    assert(Lakehouse.vacuumVersions(spark, path, 3L) == ((1L, 2L)))
    assert(ids(3L) == (0L until 8L))
    assert(ids(4L) == Seq(0L, 1L, 3L, 4L, 5L, 7L))
  }

  test("branchVersioned is a ZERO-COPY fork: pre-fork reads resolve " +
    "the base's immutable dirs, divergent commits are invisible " +
    "across the fork, a chained clone resolves through the base " +
    "chain, and the branch's vacuum never touches base dirs") {
    val src = freshDir("graft_brsrc")
    val br = freshDir("graft_brdst")
    val br2 = freshDir("graft_brdst2")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", src,
      buckets = 4, commitTs = 10L)
    val m1 = Seq((1L, "U", "text 1 v2", "en", "srcX", 111L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, src, 1L, m1, "doc_id", 4,
      commitTs = 20L)
    assert(Lakehouse.branchVersioned(spark, src, br) == 1L)
    // zero copy: the branch holds NO data dirs at the fork
    assert(!Files.list(Paths.get(br)).toArray.map(_.toString)
      .exists(p => Paths.get(p).getFileName.toString.matches("v\\d+")))
    def ids(path: String, v: Long): Seq[Long] =
      Lakehouse.readVersioned(spark, path, v)
        .select("doc_id").as[Long].collect().sorted.toSeq
    def src1(path: String, v: Long): String =
      Lakehouse.readVersioned(spark, path, v)
        .filter(col("doc_id") === 1L).select("source").as[String].head()
    assert(ids(br, 0L) == ids(src, 0L) && ids(br, 1L) == ids(src, 1L))
    assert(src1(br, 1L) == "srcX" && src1(br, 0L) == "src1")
    // DIVERGE: branch deletes {2, 6}; source updates id 3 — each
    // invisible to the other, and the branch commit leaves every
    // source byte untouched
    val srcFiles = partFiles(src)
    val mBr = Seq((2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 2L, mBr, "doc_id", 4,
      commitTs = 30L)
    assert(partFiles(src) == srcFiles, "branch commit wrote into base")
    val mSrc = Seq((3L, "U", "text 3 v2", "en", "srcZ", 133L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, src, 2L, mSrc, "doc_id", 4,
      commitTs = 30L)
    assert(ids(br, 2L) == Seq(0L, 1L, 3L, 4L, 5L, 7L))
    assert(ids(src, 2L) == (0L until 8L).toSeq)
    assert(Lakehouse.readVersioned(spark, br, 2L)
      .filter(col("doc_id") === 3L).select("source").as[String].head()
      == "src0", "source's divergent edit leaked into the branch")
    assert(Lakehouse.readVersioned(spark, src, 2L)
      .filter(col("doc_id") === 2L).count() == 1L,
      "branch's divergent delete leaked into the source")
    // chained clone: br2 forks br at 2; v0 resolves through the
    // chain to the ROOT base's dir
    assert(Lakehouse.branchVersioned(spark, br, br2) == 2L)
    assert(ids(br2, 2L) == Seq(0L, 1L, 3L, 4L, 5L, 7L))
    assert(ids(br2, 0L) == (0L until 8L).toSeq)
    // the branch's vacuum deletes only dirs UNDER ITS OWN PATH (here
    // its empty delete-commit dir); base dirs survive untouched even
    // when unreferenced by the branch's retained views
    assert(Lakehouse.vacuumVersions(spark, br, 2L) == ((1L, 2L)))
    assert(ids(br, 2L) == Seq(0L, 1L, 3L, 4L, 5L, 7L))
    assert(Files.exists(Paths.get(src, "v0")) &&
      Files.exists(Paths.get(src, "v1")))
  }

  test("replayQuarantine re-admits only now-valid corrected rows " +
    "via the pruned merge and APPENDS replay stamps — the original " +
    "violation rows stay as the audit trail") {
    val path = freshDir("graft_replay")
    val qPath = freshDir("graft_replayq")
    Lakehouse.writeStore(docsDf(0L until 8L), "doc_id", path,
      buckets = 4)
    val rule = col("n_chars") >= lit(100L)
    val batch = Seq(
      (1L, "U", "text 1 v2", "en", "srcA", 150L), // valid
      (2L, "U", "text 2 v2", "en", "srcB", 50L), // violates
      (5L, "U", "text 5 v2", "en", "srcC", 60L)) // violates
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    assert(Lakehouse.mergeIntoChecked(spark, path, qPath, 1L, batch,
      "doc_id", 4, rule, "too_small") == ((1L, 2L)))
    // corrections: id 2 fixed, id 5 still violating
    val corrected = Seq(
      (2L, "text 2 v2", "en", "srcB", 200L),
      (5L, "text 5 v2", "en", "srcC", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Lakehouse.replayQuarantine(spark, path, qPath, 2L,
      corrected, "doc_id", 4, rule) == ((1L, 1L)))
    val byId = spark.read.parquet(path)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(byId(1L) == ("srcA", 150L)) // the originally-valid upsert
    assert(byId(2L) == ("srcB", 200L)) // re-admitted corrected row
    assert(byId(5L) == ("src2", 15L)) // still-bad: original row stands
    val audit = spark.read.parquet(qPath)
      .select(col("doc_id"), col("version"), col("reason"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(audit == Seq((2L, 1L, "too_small"), (2L, 2L, "replayed"),
      (5L, 1L, "too_small")))
  }

  test("StatsStore range scan opens only batches whose stats " +
    "intersect (measured recordsRead), with accounting and negative " +
    "controls; stats rows land per (batch, bucket)") {
    val path = freshDir("graft_stats")
    // 4 ingest batches x 2500 rows with DISJOINT value bands — the
    // arrival-correlated shape stats skipping exists for
    (0L until 4L).foreach { b =>
      val df = (0L until 2500L).map(i => (b * 2500L + i, b * 10000L + i))
        .toDF("k", "v")
      StatsStore.appendBatch(df, "k", path, buckets = 4, batch = b,
        statCols = Seq("v"))
    }
    assert(spark.read.parquet(s"$path/_stats").count() == 16L)
    // accounting control: a full pass costs >= 10000 records
    assert(recordsReadDuring(spark.read.parquet(path).count())
      >= 10000L)
    // a range living entirely inside batch 1's band reads ~1 batch
    val scanned = recordsReadDuring {
      val got = StatsStore.readRange(spark, path, "v", 10000L, 12499L)
      assert(got.count() == 2500L)
    }
    assert(scanned < 4000L,
      s"stats-pruned range scan read $scanned rows (expected ~2500)")
    // negative control: a range covering every band opens every batch
    val full = recordsReadDuring {
      assert(StatsStore.readRange(spark, path, "v", 0L, 40000L)
        .count() == 10000L)
    }
    assert(full >= 10000L)
    // a range no band covers reads no data rows at all
    val miss = recordsReadDuring {
      assert(StatsStore.readRange(spark, path, "v", 90000L, 99000L)
        .count() == 0L)
    }
    assert(miss < 100L, s"missing-range scan read $miss rows")
  }

  test("StatsStore range scan opens surviving (batch, bucket) PAIRS, " +
    "not the batch-set x bucket-set cross product (measured " +
    "recordsRead, with accounting and a negative control)") {
    val path = freshDir("graft_statpair")
    // 2 batches x 2 buckets, 5000 rows per dir; each batch has ONE
    // hot bucket in the probe band [100, 5099] and one cold bucket —
    // batch pruning alone keeps BOTH batches, so only pair-level
    // roots can halve the read
    (0L until 2L).foreach { b =>
      val df = (0L until 10000L).map { i =>
        val hot = (b == 0L && i % 2 == 1L) || (b == 1L && i % 2 == 0L)
        val v = if (hot) 100L + i / 2
                else 500000L + b * 200000L + i / 2
        (b * 10000L + i, v) // k bands disjoint per batch
      }.toDF("k", "v")
      StatsStore.appendBatch(df, "k", path, buckets = 2, batch = b,
        statCols = Seq("v", "k"))
    }
    // both batches survive the band — the cross product is all 4 dirs
    assert(StatsStore.rangeBatches(spark, path, "v", 100L, 5099L) ==
      Seq(0L, 1L))
    // accounting control: a full pass costs >= 20000 records
    assert(recordsReadDuring(
      StatsStore.readStore(spark, path).count()) >= 20000L)
    // the pruned scan reads ~the 2 hot dirs (10000 rows), never the
    // 2 cold dirs the batch-set x bucket-set isin pair would admit
    val scanned = recordsReadDuring {
      val got = StatsStore.readRange(spark, path, "v", 100L, 5099L)
      assert(got.count() == 10000L)
    }
    assert(scanned < 12000L,
      s"pair-pruned range scan read $scanned rows (expected ~10000; " +
        "20000 means the cross-product dirs were opened)")
    // multi-predicate intersection prunes at the pair grain too: a k
    // band covering only batch 0 intersected with the hot-v band
    // leaves ONE dir (batch 0, bucket 1)
    val multi = recordsReadDuring {
      assert(StatsStore.readRangeMulti(spark, path,
        Seq(("v", 100L, 5099L), ("k", 0L, 9999L))).count() == 5000L)
    }
    assert(multi < 7000L,
      s"pair-pruned multi scan read $multi rows (expected ~5000)")
  }

  test("diffStores on a fresh fork reads NOTHING (zero-copy pointer " +
    "equality); after a narrow divergence it reads only the " +
    "differing bucket") {
    val src = freshDir("graft_dssrc")
    val br = freshDir("graft_dsbr")
    // bucket 1 holds 100 rows; buckets 0/2/3 hold 10k each
    Lakehouse.writeVersioned(prunePinRows, "doc_id", src, buckets = 4)
    Lakehouse.branchVersioned(spark, src, br)
    val fresh = recordsReadDuring {
      assert(Lakehouse.diffStores(spark, src, 0L, br, 0L, "doc_id")
        .count() == 0L)
    }
    assert(fresh < 100L, s"fresh-fork diff read $fresh rows")
    // branch edits one key in the SMALL bucket: the diff reads only
    // that bucket from either side (~200 rows), never the 30k store
    val batch = Seq((1L, "U", "text 1 v2", "en", "sX", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 1L, batch, "doc_id", 4)
    val scanned = recordsReadDuring {
      val d = Lakehouse.diffStores(spark, src, 0L, br, 1L, "doc_id")
        .collect()
      assert(d.length == 1L && d.head.getAs[String]("change") ==
        "changed")
    }
    assert(scanned < 1500L,
      s"narrow cross-store diff read $scanned rows")
  }

  test("mergeBranch applies disjoint branch changes onto the base " +
    "(tombstoning branch-emptied buckets), refuses on conflicts " +
    "without committing anything") {
    val src = freshDir("graft_mbsrc")
    val br = freshDir("graft_mbbr")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", src,
      buckets = 4)
    val fork = Lakehouse.branchVersioned(spark, src, br)
    assert(fork == 0L)
    // branch: update doc 1 (bucket 1), delete ALL of bucket 2 (2, 6)
    val brBatch = Seq(
      (1L, "U", "text 1 v2", "en", "srcX", 111L),
      (2L, "D", "", "", "", 0L), (6L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 1L, brBatch, "doc_id", 4)
    // base: update doc 3 (bucket 3) — disjoint from the branch
    val baseBatch = Seq((3L, "U", "text 3 v2", "en", "srcB", 33L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, src, 1L, baseBatch, "doc_id", 4)
    assert(Lakehouse.branchConflicts(spark, src, br, fork).isEmpty)
    val n = Lakehouse.mergeBranch(spark, src, br, forkVersion = fork,
      asVersion = 2L)
    assert(n == 2L) // branch moved buckets 1 and 2
    val got = Lakehouse.readVersioned(spark, src, 2L)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "src0", 1L -> "srcX", 3L -> "srcB",
      4L -> "src1", 5L -> "src2", 7L -> "src1"))
    // the emptied bucket landed as a TOMBSTONE pointer (no data dir
    // for bucket 2 under v2), and the base no longer references any
    // branch dir: deleting the branch leaves every view readable
    assert(!Files.exists(Paths.get(src, "v2", "bucket=2")))
    val brPath = Paths.get(br)
    org.apache.commons.io.FileUtils.deleteDirectory(brPath.toFile)
    assert(Lakehouse.readVersioned(spark, src, 2L).count() == 6L)
    assert(Lakehouse.readVersioned(spark, src, 1L).count() == 8L)
    // CONFLICT drill on a fresh fork: both sides move bucket 3
    val br2 = freshDir("graft_mbbr2")
    val fork2 = Lakehouse.branchVersioned(spark, src, br2)
    Lakehouse.mergeVersioned(spark, br2, 3L, baseBatch, "doc_id", 4)
    val baseBatch2 = Seq((7L, "U", "text 7 v3", "en", "srcC", 77L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, src, 3L, baseBatch2, "doc_id", 4)
    assert(Lakehouse.branchConflicts(spark, src, br2, fork2) ==
      Set(3L))
    val manBefore = spark.read.parquet(s"$src/_manifest").count()
    val e = intercept[IllegalStateException] {
      Lakehouse.mergeBranch(spark, src, br2, fork2, 4L)
    }
    assert(e.getMessage.contains("bucket(s) 3"))
    // the refused merge committed NOTHING: manifest unchanged, the
    // v4 slot still free (a later writer can take it)
    assert(spark.read.parquet(s"$src/_manifest").count() == manBefore)
    assert(!Files.exists(Paths.get(src, "_commits", "v4")))
  }

  test("changedBuckets-driven IVM step reads only the changed " +
    "buckets (measured recordsRead)") {
    val path = freshDir("graft_ivmspec")
    Lakehouse.writeVersioned(prunePinRows, "doc_id", path, buckets = 4)
    val batch = Seq((1L, "U", "text 1 v2", "en", "sX", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, batch, "doc_id", 4)
    assert(recordsReadDuring(
      Lakehouse.readVersioned(spark, path, 1L).count()) >= 30000L)
    val scanned = recordsReadDuring {
      val cb = Lakehouse.changedBuckets(spark, path, 0L, 1L)
      assert(cb == Set(1L))
      Lakehouse.readVersioned(spark, path, 1L, Some(cb))
        .groupBy(col("source")).count().collect()
    }
    assert(scanned < 1500L, s"IVM step read $scanned rows")
  }

  test("StreamingReplica: bootstrap + catch-up, quiet-tick no-op, " +
    "marker loss re-applies idempotently, and the real stream lands " +
    "the same state") {
    import graft.streaming.StreamingReplica
    val src = freshDir("graft_repsrc")
    val rep = freshDir("graft_repdst")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", src,
      buckets = 4)
    val b1 = Seq(
      (1L, "U", "text 1 v2", "en", "srcX", 111L),
      (2L, "D", "", "", "", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, src, 1L, b1, "doc_id", 4)
    // tick 1: bootstrap from v0, apply v1
    assert(StreamingReplica.processTick(spark, src, rep, "doc_id", 4)
      == 1L)
    def stateOf(p: String) = spark.read.parquet(p)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val expect1 = Map(0L -> "src0", 1L -> "srcX", 3L -> "src0",
      4L -> "src1", 5L -> "src2", 6L -> "src0", 7L -> "src1")
    assert(stateOf(rep) == expect1)
    // quiet tick: nothing new, nothing applied
    assert(StreamingReplica.processTick(spark, src, rep, "doc_id", 4)
      == 0L)
    // crash window: the v1 merge landed but its marker publish was
    // lost — rewind the marker and re-tick; the re-applied diff is
    // idempotent (replace-by-key), so the state is unchanged
    val repFs = new org.apache.hadoop.fs.Path(rep)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mkOut = repFs.create(
      new org.apache.hadoop.fs.Path(rep, "_graft_cdf_applied"), true)
    mkOut.write("0".getBytes("UTF-8")); mkOut.close()
    assert(StreamingReplica.processTick(spark, src, rep, "doc_id", 4)
      == 1L)
    assert(stateOf(rep) == expect1)
    // a second source commit, then the REAL stream (a tick source
    // driving processTick through the sink adapter) catches the
    // replica up
    val b2 = Seq((4L, "U", "text 4 v2", "en", "srcY", 44L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, src, 2L, b2, "doc_id", 4)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = graft.streaming.ForeachBatchSink.start(mem.toDF(),
        freshDir("graft_repckpt")) { (batch, _) =>
      StreamingReplica.processTick(batch.sparkSession, src, rep, "doc_id", 4)
    }
    mem.addData(1L); q.processAllAvailable(); q.stop()
    assert(stateOf(rep) == expect1 + (4L -> "srcY"))
    assert(StreamingReplica.appliedVersion(spark, rep).contains(2L))
  }

  test("StatsStore is ledgered: replayed appendBatch lands exactly " +
    "once; an orphan dir is invisible and GC'd; compaction is " +
    "lossless with merged stats behind an atomic swap a crash " +
    "cannot tear; expiry is metadata-only") {
    val path = freshDir("graft_statlife")
    // batches 0..2 with disjoint value bands [b*1000, b*1000+99]
    (0L until 3L).foreach { b =>
      val df = (0L until 100L).map(i => (b * 100L + i, b * 1000L + i))
        .toDF("k", "v")
      StatsStore.appendBatch(df, "k", path, buckets = 2, batch = b,
        statCols = Seq("v"))
    }
    assert(StatsStore.readStore(spark, path).count() == 300L)
    // replay of a landed batch id short-circuits: no duplicate rows,
    // no duplicate stats
    StatsStore.appendBatch(
      (0L until 100L).map(i => (i, i)).toDF("k", "v"),
      "k", path, buckets = 2, batch = 0L, statCols = Seq("v"))
    assert(StatsStore.readStore(spark, path).count() == 300L)
    assert(spark.read.parquet(s"$path/_stats").count() == 6L)
    // a crashed ingest's data dir (no stats rows) is INVISIBLE to
    // ledger-routed readers...
    (0L until 50L).map(i => (i, i)).toDF("k", "v")
      .withColumn("bucket", pmod(col("k"), lit(2L)))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/batch=9")
    assert(spark.read.parquet(path).count() == 350L) // raw sees it
    assert(StatsStore.readStore(spark, path).count() == 300L)
    // ...and the next maintenance GCs it
    val into = StatsStore.compactBatches(spark, path, "k", Seq(0L, 1L))
    // compaction ids come from the negative namespace — disjoint from
    // streaming batchIds, so a post-compaction micro-batch can never
    // collide with a compaction output in the ledger
    assert(into == -1L)
    assert(!Files.exists(Paths.get(path, "batch=9")))
    assert(!Files.exists(Paths.get(path, "batch=0")))
    // lossless across compaction; stats merged per bucket
    assert(StatsStore.readStore(spark, path).count() == 300L)
    val st = spark.read.parquet(s"$path/_stats")
      .filter(col("batch") === -1L)
      .agg(min(col("min_v")), max(col("max_v")), sum(col("n_rows")))
      .head()
    assert(st.getLong(0) == 0L && st.getLong(1) == 1099L &&
      st.getLong(2) == 200L)
    // a range inside old batch 0's band now opens the merged batch
    assert(StatsStore.rangeBatches(spark, path, "v", 0L, 99L) ==
      Seq(-1L))
    assert(StatsStore.readRange(spark, path, "v", 0L, 99L)
      .count() == 100L)
    // torn-swap drill: a COMPLETE staged _stats__next beside a
    // deleted _stats (the crash window between delete and rename) —
    // the next reader completes the swap
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(path, "_stats"), fs,
      new org.apache.hadoop.fs.Path(path, "_stats__next"),
      false, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_stats"), true)
    assert(StatsStore.readStore(spark, path).count() == 300L)
    assert(Files.exists(Paths.get(path, "_stats")))
    // expiry: cutoff 2000 drops the merged batch (max 1099), keeps
    // batch 2 — and only its dirs remain
    assert(StatsStore.expireBatches(spark, path, "v", 2000L) ==
      Seq(-1L))
    assert(StatsStore.readStore(spark, path).count() == 100L)
    assert(!Files.exists(Paths.get(path, "batch=-1")))
    assert(Files.exists(Paths.get(path, "batch=2")))
    // idempotent: nothing left below the cutoff
    assert(StatsStore.expireBatches(spark, path, "v", 2000L).isEmpty)
    // a FULLY-expired store stays readable (the _schema sentinel):
    // zero rows, the store's own schema — not a parquet inference
    // error over a dir with only metadata left
    assert(StatsStore.expireBatches(spark, path, "v",
      Long.MaxValue) == Seq(2L))
    assert(StatsStore.readStore(spark, path).count() == 0L)
    assert(StatsStore.readStore(spark, path).columns.toSeq ==
      Seq("k", "v", "batch", "bucket"))
    assert(StatsStore.readRange(spark, path, "v", 0L, 99L)
      .count() == 0L)
    // expiry on an unledgered column dies loudly instead of silently
    // retaining batches forever (the retention-leak guard)
    StatsStore.appendBatch(
      (0L until 10L).map(i => (i, i)).toDF("k", "v"),
      "k", path, buckets = 2, batch = 7L, statCols = Seq("v"))
    val leak = intercept[IllegalArgumentException] {
      StatsStore.expireBatches(spark, path, "nope", 0L)
    }
    assert(leak.getMessage.contains("nope"))
    // ingest ids must stay out of the compaction namespace
    intercept[IllegalArgumentException] {
      StatsStore.appendBatch(
        (0L until 10L).map(i => (i, i)).toDF("k", "v"),
        "k", path, buckets = 2, batch = -5L, statCols = Seq("v"))
    }
  }

  test("StreamingStats sink lands micro-batches exactly-once through " +
    "the stats ledger (real stream), and range skipping serves the " +
    "live store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{ForeachBatchSink, StreamingStats}
    implicit val sqlCtx = spark.sqlContext
    val path = freshDir("graft_sstrm")
    val mem = MemoryStream[(Long, Long)]
    val q = ForeachBatchSink.start(mem.toDF().toDF("k", "v"),
        freshDir("graft_sstrmck")) { (batch, batchId) =>
      StreamingStats.processStatsBatch(batch, batchId, path, "k", 2, Seq("v"))
    }
    mem.addData((0L until 100L).map(i => (i, i)): _*)
    q.processAllAvailable()
    mem.addData((100L until 200L).map(i => (i, 1000L + i)): _*)
    q.processAllAvailable()
    q.stop()
    assert(StatsStore.readStore(spark, path).count() == 200L)
    // each micro-batch is one ledgered ingest batch with its own band
    assert(StatsStore.rangeBatches(spark, path, "v", 1100L, 1199L) ==
      Seq(1L))
    assert(StatsStore.readRange(spark, path, "v", 1100L, 1199L)
      .count() == 100L)
  }

  test("asOfJoinVersioned stamps probes with commit windows and " +
    "reads only the stamped versions' candidate buckets (measured " +
    "recordsRead)") {
    val path = freshDir("graft_asofspec")
    Lakehouse.writeVersioned(prunePinRows, "doc_id", path, buckets = 4,
      commitTs = 100L)
    val batch = Seq((1L, "U", "text 1 v2", "en", "sX", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, path, 1L, batch, "doc_id", 4,
      commitTs = 200L)
    val probes = Seq((1L, 150L), (1L, 250L), (5L, 50L))
      .toDF("doc_id", "pts")
    val scanned = recordsReadDuring {
      val got = Lakehouse.asOfJoinVersioned(spark, probes, "pts",
          path, "doc_id", 4)
        .select("doc_id", "pts", "source")
        .as[(Long, Long, Option[String])].collect().toSet
      assert(got == Set((1L, 150L, Some("src1")),
        (1L, 250L, Some("sX")), (5L, 50L, None)))
    }
    // key 1 lives in the 100-row bucket; both stamped versions read
    // only that bucket — the 30k fat buckets stay cold
    assert(scanned < 1500L, s"as-of join read $scanned rows")
  }

  test("asOfJoinVersioned evaluates the probe side ONCE, not once " +
    "per stamped version (counted probe-scan evaluations, with " +
    "accounting)") {
    val path = freshDir("graft_asof1p")
    def dim(src: String) = (0L until 8L)
      .map(i => (i, s"text $i", "en", src, 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Lakehouse.writeVersioned(dim("s0"), "doc_id", path, buckets = 2,
      commitTs = 100L)
    Lakehouse.mergeVersioned(spark, path, 1L,
      dim("s1").withColumn("op", lit("U")), "doc_id", 2,
      commitTs = 200L)
    Lakehouse.mergeVersioned(spark, path, 2L,
      dim("s2").withColumn("op", lit("U")), "doc_id", 2,
      commitTs = 300L)
    // 200k probes spread over all three commit windows, tapped by an
    // accumulator UDF: every EVALUATION of the probe subtree counts
    // once per row, while re-reads of the stamped CHECKPOINT do not
    // re-run it — exactly the one-pass contract (recordsRead can't
    // make this distinction: cache-block rows count there too)
    val acc = spark.sparkContext.longAccumulator("probe_evals")
    val tap = udf { (x: Long) => acc.add(1L); x }
    val probes = spark.range(200000L)
      .select(tap((col("id") % 8L)).as("doc_id"),
        (lit(150L) + col("id") % 3L * 100L).as("pts"))
    val got = Lakehouse.asOfJoinVersioned(spark, probes, "pts", path,
      "doc_id", 2)
    assert(got.count() == 200000L)
    // stamping spot-checks: each window resolves its own source
    assert(got.filter(col("pts") === 150L &&
      col("source") =!= "s0").count() == 0L)
    assert(got.filter(col("pts") === 350L &&
      col("source") =!= "s2").count() == 0L)
    // accounting: the probe rows really flow through the tap...
    assert(acc.value >= 200000L,
      s"probe scan unaccounted: ${acc.value} evaluations")
    // ...and only once — the un-checkpointed shape re-evaluated the
    // probe source for the version collect AND once per stamped
    // version (4x here)
    assert(acc.value < 400000L,
      s"probe side evaluated ${acc.value} times for 200000 rows — " +
        "the stamped frame is being re-scanned per version")
  }

  test("versioned-store stats skipping opens only intersecting dirs " +
    "(measured recordsRead), composes with time travel, and dies " +
    "loudly on any resolved dir without stats") {
    val path = freshDir("graft_vstat")
    // the key carries the band in its bucket bits (k = id*4 + band —
    // the tkey discipline), so each band owns one bucket and its v
    // range [band*10000, band*10000+9999] is the dir's stats band
    def rows(bands: Seq[Long]) = bands.flatMap { b =>
      (0L until 10000L).map(i => (i * 4L + b, b * 10000L + i, s"p$b"))
    }.toDF("k", "v", "src")
    Lakehouse.writeVersioned(rows(Seq(0L, 1L)), "k", path, buckets = 4,
      commitTs = 100L, statCols = Seq("v"))
    Lakehouse.mergeVersioned(spark, path, 1L,
      rows(Seq(2L, 3L)).withColumn("op", lit("U")), "k", 4,
      commitTs = 200L, statCols = Seq("v"))
    // head: a band-2 range resolves 4 dirs, admits exactly 1
    assert(Lakehouse.versionedRangeDirs(spark, path, 1L, "v",
      20000L, 29999L) == Seq((1L, 2L)))
    // accounting control: the full head read costs all 40k rows
    assert(recordsReadDuring(
      Lakehouse.readVersioned(spark, path, 1L).count() : Unit)
      >= 40000L)
    val scanned = recordsReadDuring {
      assert(Lakehouse.readVersionedRange(spark, path, 1L, "v",
        20000L, 29999L).count() == 10000L)
    }
    assert(scanned < 12000L,
      s"stats-pruned versioned range read $scanned rows " +
        "(expected ~10000 — one dir of four)")
    // time travel: the same range AS OF v0 admits nothing (bands 2-3
    // had not arrived) and reads no data
    assert(Lakehouse.versionedRangeDirs(spark, path, 0L, "v",
      20000L, 29999L).isEmpty)
    assert(Lakehouse.readVersionedRange(spark, path, 0L, "v",
      20000L, 29999L).count() == 0L)
    // false-negative guards: an unledgered column dies loudly...
    val miss = intercept[IllegalArgumentException] {
      Lakehouse.versionedRangeDirs(spark, path, 1L, "nope", 0L, 1L)
    }
    assert(miss.getMessage.contains("nope"))
    // ...and so does a resolved dir committed WITHOUT stats — range
    // reads refuse rather than silently skip it
    Lakehouse.mergeVersioned(spark, path, 2L,
      Seq((40001L, 99L, "x")).toDF("k", "v", "src")
        .withColumn("op", lit("U")), "k", 4, commitTs = 300L)
    val bare = intercept[IllegalArgumentException] {
      Lakehouse.versionedRangeDirs(spark, path, 2L, "v", 0L, 1L)
    }
    assert(bare.getMessage.contains("v2/bucket=1"))
    // a branch PROMOTE carries stats too: fork, edit a band-0 row on
    // the branch, merge back with statCols — the promoted dir is
    // ledgered and the head range read still prunes (and the guard
    // that just fired on v2 is silenced by its own statCols path:
    // rewrite v2's key through the branch so every resolved dir has
    // stats again)
    val br = freshDir("graft_vstatbr")
    Lakehouse.branchVersioned(spark, path, br)
    Lakehouse.mergeVersioned(spark, br, 3L,
      Seq((0L, 5L, "edited"), (40001L, 98L, "x2"))
        .toDF("k", "v", "src").withColumn("op", lit("U")),
      "k", 4, commitTs = 400L, statCols = Seq("v"))
    Lakehouse.mergeBranch(spark, path, br, forkVersion = 2L,
      asVersion = 3L, commitTs = 500L, statCols = Seq("v"))
    // buckets 0 and 1 now resolve to the promoted v3 dirs (with
    // stats) — the bare v2 dir is no longer resolved, so the guard is
    // silenced; the band-2 range still opens exactly one dir, and a
    // low-band range reads only the promoted bucket-0 dir (11 rows
    // with v in [0, 10]: i = 1..10 plus the edited k=0 at v=5)
    assert(Lakehouse.versionedRangeDirs(spark, path, 3L, "v",
      20000L, 29999L) == Seq((1L, 2L)))
    assert(Lakehouse.versionedRangeDirs(spark, path, 3L, "v",
      0L, 10L) == Seq((3L, 0L)))
    assert(Lakehouse.readVersionedRange(spark, path, 3L, "v", 0L, 10L)
      .count() == 11L)
  }

  test("compactVersioned rewrites the head as ONE commit: reads above " +
    "it resolve a single vdir, vacuum then reclaims every older dir, " +
    "history below stays readable until the floor passes, and stats " +
    "re-ledger so range pruning survives the rewrite") {
    val path = freshDir("graft_vcompact")
    def rows(bands: Seq[Long]) = bands.flatMap { b =>
      (0L until 1000L).map(i => (i * 4L + b, b * 10000L + i, s"p$b"))
    }.toDF("k", "v", "src")
    Lakehouse.writeVersioned(rows(Seq(0L, 1L)), "k", path, buckets = 4,
      commitTs = 100L, statCols = Seq("v"))
    Lakehouse.mergeVersioned(spark, path, 1L,
      rows(Seq(2L, 3L)).withColumn("op", lit("U")), "k", 4,
      commitTs = 200L, statCols = Seq("v"))
    assert(Lakehouse.compactVersioned(spark, path, 2L, "k",
      commitTs = 300L, statCols = Seq("v")) == 4L)
    // lossless, and the head resolves a SINGLE vdir
    assert(Lakehouse.readVersioned(spark, path, 2L).count() == 4000L)
    assert(Lakehouse.versionedRangeDirs(spark, path, 2L, "v",
      0L, 40000L).map(_._1).toSet == Set(2L))
    // the re-ledgered stats still prune (one dir for one band)
    assert(Lakehouse.versionedRangeDirs(spark, path, 2L, "v",
      20000L, 29999L) == Seq((2L, 2L)))
    // history below the compaction stays readable until vacuumed...
    assert(Lakehouse.readVersioned(spark, path, 0L).count() == 2000L)
    val (del, kept) = Lakehouse.vacuumVersions(spark, path, floor = 2L)
    assert(del == 2L && kept == 1L)
    // ...after which the compacted head is all that remains
    assert(Lakehouse.readVersioned(spark, path, 2L).count() == 4000L)
    assert(!Files.exists(Paths.get(path, "v0")))
  }

  test("rebaseBranch resets the fork floor after a promote: the SAME " +
    "bucket edits again and merges back clean; the branch's own dirs " +
    "are surrendered and reads resolve through the base") {
    val src = freshDir("graft_rbs")
    val br = freshDir("graft_rbb")
    Lakehouse.writeVersioned(prunePinRows, "doc_id", src, buckets = 4)
    val fork1 = Lakehouse.branchVersioned(spark, src, br)
    val e1 = Seq((1L, "U", "text 1 r1", "en", "r1", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 1L, e1, "doc_id", 4)
    // a second LOCAL commit before the promote: the branch's own
    // version counter runs ahead of the base's — after the rebase its
    // next commit RE-USES number 2, which must not collide with the
    // stale _commits/v2 marker this commit leaves behind
    val e1b = Seq((1L, "U", "text 1 r1b", "en", "r1", 10L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 2L, e1b, "doc_id", 4,
      writerToken = "w1")
    assert(Lakehouse.mergeBranch(spark, src, br, fork1, 1L) == 1L)
    // the stale fork floor sees the promote itself as a conflict on
    // the very bucket the branch contributed
    assert(Lakehouse.branchConflicts(spark, src, br, fork1) == Set(1L))
    val fork2 = Lakehouse.rebaseBranch(spark, br, src)
    assert(fork2 == 1L)
    assert(Lakehouse.branchConflicts(spark, src, br, fork2).isEmpty)
    // own dirs surrendered; the branch's v1 now resolves to the
    // base's dir through the _base chain
    assert(!Files.exists(Paths.get(br, "v1")))
    assert(Lakehouse.readVersioned(spark, br, 1L)
      .filter(col("doc_id") === 1L).select(col("source"))
      .as[String].head() == "r1")
    // round 2 edits the SAME bucket and merges back with zero
    // conflicts — the long-lived-branch contract. The commit RE-USES
    // version number 2 under a DIFFERENT writer token: the rebase
    // must have cleared the branch's stale _commits/v2 marker, or
    // this would read as a foreign writer's live slot and throw
    val e2 = Seq((1L, "U", "text 1 r2", "en", "r2", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 2L, e2, "doc_id", 4,
      writerToken = "w2")
    assert(Lakehouse.mergeBranch(spark, src, br, fork2, 2L) == 1L)
    assert(Lakehouse.readVersioned(spark, src, 2L)
      .filter(col("doc_id") === 1L).select(col("source"))
      .as[String].head() == "r2")
    // only a branch of `base` may rebase onto it
    intercept[IllegalArgumentException] {
      Lakehouse.rebaseBranch(spark, src, br)
    }
  }

  test("vstats ownership follows data ownership: a branch's " +
    "same-NUMBERED vdir never borrows the base's stats — stats-less " +
    "branch commits die loudly, and pruning decisions use the " +
    "owning store's ranges") {
    val src = freshDir("graft_vown")
    // v0: band 0 (bucket 0, v 0..9) + band 2 (bucket 2, v 20000..)
    def band(b: Long, base: Long) =
      (0L until 10L).map(i => (i * 4L + b, base + i, s"p$b"))
        .toDF("k", "v", "src")
    Lakehouse.writeVersioned(
      band(0L, 0L).unionByName(band(2L, 20000L)), "k", src,
      buckets = 4, commitTs = 100L, statCols = Seq("v"))
    val br1 = freshDir("graft_vownb1")
    val br2 = freshDir("graft_vownb2")
    Lakehouse.branchVersioned(spark, src, br1)
    Lakehouse.branchVersioned(spark, src, br2)
    // the base's own v1: band-2 keys move to v 21000.. WITH stats —
    // the same-numbered dir whose stats must never vouch for a branch
    Lakehouse.mergeVersioned(spark, src, 1L,
      band(2L, 21000L).withColumn("op", lit("U")), "k", 4,
      commitTs = 200L, statCols = Seq("v"))
    // br1's v1 touches the SAME bucket WITHOUT stats: a range read
    // must refuse loudly — under bare-(vdir,bucket) stats union the
    // base's v1 row would pass the coverage guard and br1's dir
    // could be silently pruned (the false negative)
    Lakehouse.mergeVersioned(spark, br1, 1L,
      band(2L, 90000L).withColumn("op", lit("U")), "k", 4,
      commitTs = 200L)
    val err = intercept[IllegalArgumentException] {
      Lakehouse.versionedRangeDirs(spark, br1, 1L, "v", 0L, 1L)
    }
    assert(err.getMessage.contains("v1/bucket=2"))
    // br2's v1 touches the same bucket WITH stats but a DIFFERENT
    // range (90000..) — the pruning decision must use br2's own
    // ranges: the base's v1 range admits NOTHING on the branch...
    Lakehouse.mergeVersioned(spark, br2, 1L,
      band(2L, 90000L).withColumn("op", lit("U")), "k", 4,
      commitTs = 200L, statCols = Seq("v"))
    assert(Lakehouse.versionedRangeDirs(spark, br2, 1L, "v",
      21000L, 21009L).isEmpty,
      "base's same-numbered v1 stats leaked into the branch's pruning")
    // ...the branch's own range admits exactly its dir...
    assert(Lakehouse.versionedRangeDirs(spark, br2, 1L, "v",
      90000L, 90009L) == Seq((1L, 2L)))
    assert(Lakehouse.readVersionedRange(spark, br2, 1L, "v",
      90000L, 90009L).count() == 10L)
    // ...pre-fork pointers still resolve stats through the base...
    assert(Lakehouse.versionedRangeDirs(spark, br2, 1L, "v",
      0L, 9L) == Seq((0L, 0L)))
    // ...and the base is untouched by either branch
    assert(Lakehouse.versionedRangeDirs(spark, src, 1L, "v",
      21000L, 21009L) == Seq((1L, 2L)))
    assert(Lakehouse.versionedRangeDirs(spark, src, 1L, "v",
      90000L, 90009L).isEmpty)
  }

  test("rebaseBranch guards: refuses on unmerged post-fork edits " +
    "(force discards), on a live clone of the branch, and on an " +
    "in-flight foreign commit slot") {
    val src = freshDir("graft_rgsrc")
    val br = freshDir("graft_rgbr")
    Lakehouse.writeVersioned(docsDf(0L until 16L), "doc_id", src,
      buckets = 4)
    Lakehouse.branchVersioned(spark, src, br)
    val edit = Seq((1L, "U", "edited 1", "en", "br", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 1L, edit, "doc_id", 4)
    // mis-sequenced rebase-before-merge: the branch's bucket-1 edit
    // is not reflected at the base head — refused
    val unmerged = intercept[IllegalArgumentException] {
      Lakehouse.rebaseBranch(spark, br, src)
    }
    assert(unmerged.getMessage.contains("not reflected"))
    Lakehouse.mergeBranch(spark, src, br, forkVersion = 0L,
      asVersion = 1L)
    // an in-flight FOREIGN slot (marker, no manifest rows) refuses —
    // breakCommit clears a dead writer's slot, then rebase proceeds
    val fs = new org.apache.hadoop.fs.Path(br)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(br, "_commits/v99")
    val out = fs.create(marker, true)
    out.write("other-writer".getBytes("UTF-8")); out.close()
    val inflight = intercept[IllegalArgumentException] {
      Lakehouse.rebaseBranch(spark, br, src)
    }
    assert(inflight.getMessage.contains("v99"))
    Lakehouse.breakCommit(spark, br, 99L)
    // a live GRANDCHILD clone resolves through the branch's own dirs
    // — rebase refuses until it is gone
    val gc = freshDir("graft_rggc")
    Lakehouse.branchVersioned(spark, br, gc)
    val cloned = intercept[IllegalArgumentException] {
      Lakehouse.rebaseBranch(spark, br, src)
    }
    assert(cloned.getMessage.contains("live clone"))
    fs.delete(new org.apache.hadoop.fs.Path(gc), true)
    assert(Lakehouse.rebaseBranch(spark, br, src) == 1L)
    // force: a genuinely unmerged edit is discardable on request
    val src2 = freshDir("graft_rgsrc2")
    val br2 = freshDir("graft_rgbr2")
    Lakehouse.writeVersioned(docsDf(0L until 8L), "doc_id", src2,
      buckets = 4)
    Lakehouse.branchVersioned(spark, src2, br2)
    Lakehouse.mergeVersioned(spark, br2, 1L, edit, "doc_id", 4)
    assert(Lakehouse.rebaseBranch(spark, br2, src2, force = true)
      == 0L)
    assert(Lakehouse.readVersioned(spark, br2, 0L)
      .filter(col("doc_id") === 1L).select(col("source"))
      .as[String].head() != "br") // the edit is gone
  }

  test("vacuumVersionsSafe discovers the TRANSITIVE clone set: a " +
    "grandchild's needs survive its parent's manifest checkpoint " +
    "(the level-by-level hole), with owner-resolved needs so a " +
    "same-numbered intermediate dir never over-retains") {
    val src = freshDir("graft_tvsrc")
    val br = freshDir("graft_tvbr")
    val gc = freshDir("graft_tvgc")
    Lakehouse.writeVersioned(docsDf(0L until 16L), "doc_id", src,
      buckets = 4, commitTs = 100L)
    Lakehouse.branchVersioned(spark, src, br)
    val edit = Seq((1L, "U", "edited 1", "en", "g1", 9L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    Lakehouse.mergeVersioned(spark, br, 1L, edit, "doc_id", 4,
      commitTs = 150L)
    Lakehouse.branchVersioned(spark, br, gc) // forks BEFORE collapse
    // br rewrites every bucket and checkpoints: its own manifest no
    // longer lists vdir 0 — the premise of the hazard, asserted
    val wave = docsDf(0L until 16L).select(col("doc_id"),
      lit("U").as("op"), col("text"), col("lang"),
      lit("brx").as("source"), col("n_chars"))
    Lakehouse.mergeVersioned(spark, br, 2L, wave, "doc_id", 4,
      commitTs = 160L)
    Lakehouse.checkpointManifest(spark, br, floor = 2L)
    assert(!spark.read.parquet(s"$br/_manifest")
      .filter(!col("empty") && col("bucket") =!= -1L &&
        col("vdir") === 0L)
      .head(1).nonEmpty,
      "premise broken: br still lists vdir 0 — direct discovery " +
        "would have retained it anyway")
    // src advances twice, then vacuums at floor 2 with NO explicit
    // branch list: the registry walk (src -> br -> gc) retains v0
    // for the grandchild; v1 is reclaimed (gc's pointer at br's
    // same-numbered v1 is OWNED by br, not src)
    def srcWave(tag: String) = docsDf(0L until 16L).select(
      col("doc_id"), lit("U").as("op"), col("text"), col("lang"),
      lit(tag).as("source"), col("n_chars"))
    Lakehouse.mergeVersioned(spark, src, 1L, srcWave("m3"), "doc_id",
      4, commitTs = 200L)
    Lakehouse.mergeVersioned(spark, src, 2L, srcWave("m4"), "doc_id",
      4, commitTs = 300L)
    assert(Lakehouse.liveClones(spark, src) == Seq(br))
    assert(Lakehouse.cloneClosure(spark, src).toSet == Set(br, gc))
    assert(Lakehouse.vacuumVersionsSafe(spark, src, floor = 2L)
      == ((1L, 2L)))
    assert(Files.exists(Paths.get(src, "v0")))
    assert(!Files.exists(Paths.get(src, "v1")))
    assert(Files.exists(Paths.get(src, "v2")))
    // the retention proof: the grandchild's head reads intact AFTER
    // the base vacuum — doc 1 carries br's pre-collapse edit, the
    // other 15 resolve through the retained src/v0
    val gcHead = Lakehouse.readVersioned(spark, gc, 1L)
    assert(gcHead.count() == 16L)
    assert(gcHead.filter(col("doc_id") === 1L)
      .select(col("source")).as[String].head() == "g1")
    assert(gcHead.filter(col("source") === lit("g1")).count() == 1L)
  }

  test("stat-first clustering turns a pushed range predicate into " +
    "rowgroup skips on a MOD-KEYED store (measured recordsRead, " +
    "unclustered negative control)") {
    // ts deliberately ANTI-correlated with the key: sorted-by-key
    // files have full-span rowgroup ts ranges (no skips possible);
    // stat-first clustering is the only thing that tightens them
    val n = 100000L
    val rows = spark.range(n).select(col("id").as("k"),
      ((col("id") * 7919L) % n).as("ts"), lit("x").as("pay"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val clustered = freshDir("graft_rgc")
    val control = freshDir("graft_rgu")
    hconf.setInt("parquet.block.size", 16 * 1024)
    hconf.setInt("parquet.page.size", 4 * 1024)
    try {
      Lakehouse.writeVersioned(rows, "k", clustered, buckets = 4,
        commitTs = 100L, statCols = Seq("ts"))
      Lakehouse.writeVersioned(rows, "k", control, buckets = 4,
        commitTs = 100L)
    } finally {
      hconf.unset("parquet.block.size")
      hconf.unset("parquet.page.size")
    }
    // dir grain is honest about its limit: every bucket spans the
    // whole ts range, all 4 dirs admit
    assert(Lakehouse.versionedRangeDirs(spark, clustered, 0L, "ts",
      0L, 9999L).size == 4)
    val scannedClustered = recordsReadDuring {
      assert(Lakehouse.readVersionedRange(spark, clustered, 0L, "ts",
        0L, 9999L).count() == 10000L)
    }
    val scannedControl = recordsReadDuring {
      assert(Lakehouse.readVersioned(spark, control, 0L)
        .filter(col("ts").between(0L, 9999L)).count() == 10000L)
    }
    assert(scannedControl >= n,
      s"control read only $scannedControl rows — rowgroups are " +
        "skipping without clustering; the pin proves nothing")
    assert(scannedClustered < n / 3,
      s"clustered range scan read $scannedClustered of $n rows — " +
        "rowgroup pruning is not engaging")
  }

  test("bloom index admits only the dirs holding a probed value " +
    "(measured recordsRead), misses read nothing, and an unindexed " +
    "resolved dir dies loudly") {
    val path = freshDir("graft_vbloom")
    // band-in-bucket layout: band b's dir holds v in [b*10^4, +9999],
    // so a point v is in exactly one dir — the pruning ground truth
    def rows(bands: Seq[Long]) = bands.flatMap { b =>
      (0L until 10000L).map(i => (i * 4L + b, b * 10000L + i, s"p$b"))
    }.toDF("k", "v", "src")
    Lakehouse.writeVersioned(rows(Seq(0L, 1L)), "k", path, buckets = 4,
      commitTs = 100L)
    assert(Lakehouse.buildBloomIndex(spark, path, 0L, "v",
      expectedItems = 10000L) == 2L)
    Lakehouse.mergeVersioned(spark, path, 1L,
      rows(Seq(2L, 3L)).withColumn("op", lit("U")), "k", 4,
      commitTs = 200L)
    // the commit's fresh dirs lack blooms: a head lookup refuses
    // rather than scanning blind — PARTIAL coverage is loud too
    val bare = intercept[IllegalArgumentException] {
      Lakehouse.versionedBloomDirs(spark, path, 1L, "v", Seq(25000L))
    }
    assert(bare.getMessage.contains("v1/bucket=2"))
    // incremental extension builds ONLY the fresh dirs' blooms (the
    // v0 dirs are never re-read), and a re-run adds nothing
    assert(Lakehouse.extendBloomIndex(spark, path, 1L, "v",
      expectedItems = 10000L) == 2L)
    assert(Lakehouse.extendBloomIndex(spark, path, 1L, "v",
      expectedItems = 10000L) == 0L)
    assert(Lakehouse.versionedBloomDirs(spark, path, 1L, "v",
      Seq(25000L)) == Seq((1L, 2L)))
    // point lookup opens ONE dir of four (accounting control: the
    // full head is 40k rows)
    val scanned = recordsReadDuring {
      assert(Lakehouse.lookupVersionedByCol(spark, path, 1L, "v",
        Seq(25000L)).count() == 1L)
    }
    assert(scanned < 12000L,
      s"bloom-pruned lookup read $scanned rows (expected ~10000)")
    // a two-dir probe set opens exactly its two dirs
    assert(Lakehouse.versionedBloomDirs(spark, path, 1L, "v",
      Seq(5L, 25000L)) == Seq((0L, 0L), (1L, 2L)))
    assert(Lakehouse.lookupVersionedByCol(spark, path, 1L, "v",
      Seq(5L, 25000L)).count() == 2L)
    // an absent value admits nothing and reads no data
    val missScan = recordsReadDuring {
      assert(Lakehouse.lookupVersionedByCol(spark, path, 1L, "v",
        Seq(999999L)).count() == 0L)
    }
    assert(missScan < 1000L,
      s"bloom miss still read $missScan rows")
    // LOCAL-THEN-OWNER across a branch: the branch's own commit
    // lacks a bloom (loud, named with the branch as owner), its
    // extension lands in the BRANCH's _vbloom (the base is never
    // written), and the lookup then serves across inherited
    // (base-bloom) and own (local-bloom) dirs
    val br = freshDir("graft_vbloombr")
    Lakehouse.branchVersioned(spark, path, br)
    Lakehouse.mergeVersioned(spark, br, 2L,
      Seq((100000L * 4L + 2L, 77777L, "brx")).toDF("k", "v", "src")
        .withColumn("op", lit("U")), "k", 4, commitTs = 300L)
    val brBare = intercept[IllegalArgumentException] {
      Lakehouse.versionedBloomDirs(spark, br, 2L, "v", Seq(77777L))
    }
    assert(brBare.getMessage.contains("v2/bucket=2") &&
      brBare.getMessage.contains(br))
    assert(Lakehouse.extendBloomIndex(spark, br, 2L, "v",
      expectedItems = 10000L) == 1L)
    assert(Files.exists(Paths.get(br, "_vbloom", "col=v"))) // own ledger...
    assert(Lakehouse.versionedBloomDirs(spark, br, 2L, "v",
      Seq(77777L)) == Seq((2L, 2L)))
    assert(Lakehouse.versionedBloomDirs(spark, br, 2L, "v",
      Seq(5L)) == Seq((0L, 0L))) // ...and inherits the base's
    assert(Lakehouse.lookupVersionedByCol(spark, br, 2L, "v",
      Seq(5L, 77777L)).count() == 2L)
    // ...while the base's index is untouched by the branch ops
    assert(Lakehouse.versionedBloomDirs(spark, path, 1L, "v",
      Seq(77777L)).isEmpty)
  }

  test("StatsStore drained and live reads agree on schema: the " +
    "_schema sentinel's partition-column types match a live " +
    "partitioned read") {
    val path = freshDir("graft_schagree")
    val rows = (0L until 100L)
      .map(i => (i, i * 1000L, s"t${i % 3}"))
      .toDF("event_id", "ts", "event_type")
    StatsStore.appendBatch(rows, "event_id", path, buckets = 4,
      batch = 0L, statCols = Seq("ts"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    // capture the live shapes BEFORE expiry: the frames are lazy and
    // expiry GCs the orphaned dirs they would re-read
    val liveShape = shape(StatsStore.readStore(spark, path))
    val rangeShape = shape(
      StatsStore.readRange(spark, path, "ts", 0L, 1000L))
    assert(StatsStore.expireBatches(spark, path, "ts",
      cutoff = Long.MaxValue) == Seq(0L))
    val drained = StatsStore.readStore(spark, path)
    assert(drained.count() == 0L)
    assert(shape(drained) == liveShape,
      s"drained ${drained.schema.simpleString} != live $liveShape")
    assert(shape(drained) == rangeShape)
    // the union a caller would actually write must not die: a fresh
    // live read against the drained-era frame
    StatsStore.appendBatch(rows, "event_id", path, buckets = 4,
      batch = 1L, statCols = Seq("ts"))
    assert(StatsStore.readStore(spark, path).unionByName(drained)
      .count() == 100L)
  }

  test("labelPropagation == the naive synchronous recurrence; a " +
    "bridge edge does NOT fuse two triangles (unlike CC)") {
    // two triangles 1-2-3 and 10-11-12 joined by bridge 3-10
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val sym = (edges ++ edges.map(_.swap)).distinct
      val nodes = sym.map(_._1).distinct
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { n =>
          val votes = (adj(n) :+ n).map(lab).groupBy(identity)
            .map { case (l, vs) => (l, vs.size) }
          n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      lab
    }
    val got = Graph.labelPropagation(pairs.toDF("id_a", "id_b"), 4)
      .as[(Long, Long)].collect().toMap
    assert(got == naive(pairs, 4))
    // communities: triangle labels converge within, differ across
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L) && got(11L) == got(12L))
    assert(got(1L) != got(10L))
  }
}
