package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, Interpolate}
import graft.streaming.EventStreaming

class TemporalOpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asOf: latest right row at or before left time, per key") {
    val left = Seq((1L, 100L, "a"), (1L, 250L, "b"), (2L, 50L, "c"), (3L, 10L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (2L, 60L, 30.0))
      .toDF("k", "t", "v")
    val out = AsOfJoin.asOf(left, "k", "t", right, "k", "t", Seq("v"))
      .collect().map(r => (r.getAs[String]("tag"), Option(r.getAs[Any]("v")))).toMap
    assert(out("a").contains(10.0)) // inclusive: right at exactly t matches
    assert(out("b").contains(20.0)) // latest of the two
    assert(out("c").isEmpty)        // right row is later than left
    assert(out("d").isEmpty)        // key has no right rows
  }

  test("asOf: ties at the same (key, time) resolve deterministically") {
    val left = Seq((1L, 100L, "a")).toDF("k", "t", "tag")
    // three right rows at the identical (key, time): greatest val wins
    val right = Seq((1L, 100L, 7.0), (1L, 100L, 9.0), (1L, 100L, 8.0))
      .toDF("k", "t", "v")
    (1 to 3).foreach { _ =>
      val out = AsOfJoin.asOf(left, "k", "t",
        right.repartition(4), "k", "t", Seq("v")).collect()
      assert(out.head.getAs[Double]("v") == 9.0)
    }
  }

  test("native as-of operator agrees with the window form, ties included") {
    import graft.plans.NativeAsOf
    val left = Seq((1L, 100L, "a"), (1L, 250L, "b"), (2L, 50L, "c"),
      (3L, 10L, "d"), (1L, 99L, "e")).toDF("k", "t", "tag")
    val right = Seq((1L, 100L, 10.0), (1L, 100L, 30.0), (1L, 100L, 20.0),
      (1L, 200L, 40.0), (2L, 60L, 50.0)).toDF("k", "t", "v")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("tag") -> Option(r.getAs[Any]("v"))).toMap
    val native = collect(NativeAsOf.asOf(
      left, "k", "t", right.repartition(5), "k", "t", Seq("v")))
    val windowed = collect(graft.operators.AsOfJoin.asOf(
      left, "k", "t", right, "k", "t", Seq("v")))
    assert(native == windowed)
    assert(native("a").contains(30.0)) // tie at t=100: greatest value wins
    assert(native("e").isEmpty)        // before every right row
    assert(native("b").contains(40.0))
    assert(native("c").isEmpty)
    assert(native("d").isEmpty)
  }

  test("native as-of plans one exchange per side and a merge exec") {
    import graft.plans.NativeAsOf
    val left = Seq((1L, 100L, "a")).toDF("k", "t", "tag")
    val right = Seq((1L, 90L, 1.0)).toDF("k", "t", "v")
    val df = NativeAsOf.asOf(left, "k", "t", right, "k", "t", Seq("v"))
    df.collect() // finalize AQE
    // count only the FINAL adaptive plan, not the echoed initial one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("AsOfJoin"), plan) // Exec suffix is stripped in plan strings
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 shuffles, plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("interpolate: linear between samples, clamped at edges") {
    val grid = Seq((1L, 0L, 15L), (2L, 5L, 15L), (3L, 20L, 15L), (4L, 30L, 15L))
      .toDF("gid", "t", "k")
    val samples = Seq((15L, 10L, 100.0), (15L, 20L, 200.0))
      .toDF("k", "t", "value")
    val out = Interpolate.linear(grid, "k", "t", samples, "k", "t", "value")
      .collect().map(r => r.getAs[Long]("gid") -> r.getAs[Double]("value_interp")).toMap
    assert(out(1L) == 100.0) // before first sample: clamp
    assert(out(2L) == 100.0) // still before
    assert(out(3L) == 200.0) // exactly at a sample
    assert(out(4L) == 200.0) // after last: clamp
    val mid = Interpolate.linear(
      Seq((9L, 15L, 15L)).toDF("gid", "t", "k"), "k", "t",
      samples, "k", "t", "value")
      .collect().head.getAs[Double]("value_interp")
    assert(mid == 150.0) // halfway
  }

  test("streaming tumbling agg matches batch over incremental micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreaming.tumblingAgg(streamDf, "10 minutes", "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("agg_out").start()
    val min10 = 600L * 1000 * 1000 * 1000
    // two micro-batches landing in two different windows
    mem.addData((1L, min10 / 2, 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    mem.addData((2L, min10 / 3, 1L, "click", 2.0, "{}"),
      (3L, min10 + min10 / 2, 2L, "view", 5.0, "{}"))
    q.processAllAvailable()
    val rows = spark.table("agg_out").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Double]("total")))
    q.stop()
    assert(rows.toSet == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreaming.dedupStream(streamDf, "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    val sec = 1000L * 1000 * 1000
    mem.addData((1L, 10 * sec, 1L, "click", 1.0, "{}"),
      (1L, 10 * sec, 1L, "click", 1.0, "{}"), // same-batch duplicate
      (2L, 20 * sec, 1L, "view", 2.0, "{}"))
    q.processAllAvailable()
    mem.addData((2L, 20 * sec, 1L, "view", 2.0, "{}"), // cross-batch duplicate
      (3L, 30 * sec, 2L, "click", 3.0, "{}"))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id"))
    q.stop()
    assert(ids.sorted.toSeq == Seq(1L, 2L, 3L)) // each event exactly once
  }

  test("stream-static enrichment joins the dim without shuffling it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = EventStreaming.enrich(streamDf, dim, "user_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    mem.addData((1L, 1L, 1L, "click", 1.0, "{}"),
      (2L, 2L, 9L, "view", 2.0, "{}")) // user 9 has no dim row
    q.processAllAvailable()
    val rows = spark.table("enrich_out").collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier"))).toMap
    q.stop()
    assert(rows == Map(1L -> Some("gold"), 2L -> None))
  }

  test("stream-stream join matches across micro-batches and evicts state") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Long, Long, String, Double, String)]
    val clicks = MemoryStream[(Long, Long, Long, String, Double, String)]
    def df(m: MemoryStream[(Long, Long, Long, String, Double, String)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreaming.joinWithin(df(purchases), df(clicks),
      "user_id", watermark = "5 minutes", within = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    val min = 60L * 1000 * 1000 * 1000 // one minute in nanos
    def pairs() = spark.table("ssj_out").collect()
      .map(r => (r.getAs[Long]("l_event_id"), r.getAs[Long]("r_event_id"))).toSet

    // batch 1: a click, then its purchase 4 minutes later — same batch
    clicks.addData((100L, 1 * min, 1L, "click", 0.0, "{}"))
    purchases.addData((200L, 5 * min, 1L, "purchase", 9.99, "{}"))
    q.processAllAvailable()
    assert(pairs() == Set((200L, 100L)))

    // batch 2: purchase arrives a micro-batch AFTER its click, still
    // inside the 10-minute bound -> buffered click state matches it;
    // a different user's click never joins
    clicks.addData((101L, 7 * min, 2L, "click", 0.0, "{}"))
    q.processAllAvailable()
    purchases.addData((201L, 12 * min, 2L, "purchase", 5.0, "{}"))
    q.processAllAvailable()
    assert(pairs() == Set((200L, 100L), (201L, 101L)))

    // a click 11 minutes BEFORE the purchase is outside `within`
    clicks.addData((102L, 1 * min, 3L, "click", 0.0, "{}"))
    purchases.addData((202L, 12 * min, 3L, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    assert(pairs() == Set((200L, 100L), (201L, 101L)))

    // advance BOTH watermarks far ahead (global watermark = min), so
    // old buffered state is evicted; a too-late click for an old
    // purchase must be dropped, not matched
    clicks.addData((103L, 100 * min, 9L, "click", 0.0, "{}"))
    purchases.addData((203L, 100 * min, 8L, "purchase", 0.0, "{}"))
    q.processAllAvailable()
    clicks.addData((104L, 4 * min, 1L, "click", 0.0, "{}")) // would match 200L
    q.processAllAvailable()
    assert(pairs() == Set((200L, 100L), (201L, 101L)),
      "late click beyond the watermark must not revive evicted state")
    q.stop()
  }

  test("streaming parquet sink lands partitioned, exactly-once files") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val base = tempDir("landing")
    val q = EventStreaming.writeLanding(streamDf, s"$base/out", s"$base/ckpt")
    mem.addData((1L, 1L, 1L, "click", 1.0, "{}"),
      (2L, 2L, 2L, "view", 2.0, "{}"))
    q.processAllAvailable()
    mem.addData((3L, 3L, 1L, "click", 3.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$base/out")
    assert(back.count() == 3)
    // hive partition dirs by event_type, with the exactly-once log
    assert(new java.io.File(s"$base/out/event_type=click").exists())
    assert(new java.io.File(s"$base/out/_spark_metadata").exists())
    assert(back.filter(col("event_type") === "click").count() == 2)
  }

  test("bucketedSink + compaction land the stream in the zero-exchange join layout") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bucketing
    Bucketing.dropManagedTable(spark, "ev_bucketed")
    Bucketing.dropManagedTable(spark, "ev_bucketed__compact")
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ckpt = tempDir("bsink")
    val q = EventStreaming.bucketedSink(streamDf, "ev_bucketed", "user_id", 4, ckpt)
    mem.addData((1L, 1L, 1L, "click", 1.0, "{}"),
      (2L, 2L, 2L, "view", 2.0, "{}"))
    q.processAllAvailable()
    mem.addData((3L, 3L, 1L, "click", 3.0, "{}"),
      (4L, 4L, 3L, "view", 4.0, "{}"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("ev_bucketed").count() == 4)
    Bucketing.writeBucketed(
      Seq((1L, "gold"), (2L, "basic"), (3L, "basic")).toDF("user_id", "tier"),
      "user_dim_b", "user_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      def assertNoExchange(): Long = {
        val j = Bucketing.coLocatedJoin(spark, "ev_bucketed", "user_dim_b", "user_id")
        j.collect()
        val plan = j.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(!plan.contains("Exchange"),
          s"streamed bucketed table must join shuffle-free:\n$plan")
        j.count()
      }
      assert(assertNoExchange() == 4)
      // per-batch appends accumulate files; compaction rewrites to one
      // file per bucket with identical rows and the same join shape
      val filesBefore = spark.table("ev_bucketed").inputFiles.length
      EventStreaming.compactBuckets(spark, "ev_bucketed", "user_id", 4)
      assert(spark.table("ev_bucketed").count() == 4)
      val filesAfter = spark.table("ev_bucketed").inputFiles.length
      assert(filesAfter <= 4 && filesAfter <= filesBefore,
        s"$filesBefore -> $filesAfter")
      assert(assertNoExchange() == 4)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    Bucketing.dropManagedTable(spark, "ev_bucketed")
    Bucketing.dropManagedTable(spark, "user_dim_b")
  }

  test("compactLanding lifts the exactly-once landing sink into the bucketed layout") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bucketing
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val base = tempDir("compact")
    val q = EventStreaming.writeLanding(streamDf, s"$base/out", s"$base/ckpt")
    mem.addData((1L, 1L, 1L, "click", 1.0, "{}"),
      (2L, 2L, 2L, "view", 2.0, "{}"))
    q.processAllAvailable()
    mem.addData((3L, 3L, 3L, "click", 3.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val confBefore = spark.conf.getOption(confKey)
    EventStreaming.compactLanding(spark, s"$base/out", "ev_landing_b", "user_id", 4)
    // session conf is restored — the nanos override must not leak into
    // unrelated parquet reads on the shared session
    assert(spark.conf.getOption(confKey) == confBefore)
    val back = spark.table("ev_landing_b")
    assert(back.count() == 3)
    assert(back.inputFiles.length <= 4) // one file per non-empty bucket
    assert(back.select("event_type").distinct().count() == 2) // partition col restored
    Bucketing.dropManagedTable(spark, "ev_landing_b")
  }

  test("bucketedSink replay duplicates; compaction with a dedup key collapses them") {
    import graft.operators.Bucketing
    for (t <- Seq("ev_replay", "ev_replay__compact", "ev_replay__old"))
      Bucketing.dropManagedTable(spark, t)
    val base = tempDir("replay")
    Seq((1L, 1L, 1L, "click", 1.0, "{}"), (2L, 2L, 2L, "view", 2.0, "{}"),
      (3L, 3L, 1L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$base/src")
    def start() = EventStreaming.bucketedSink(
      spark.readStream.schema(EventStreaming.eventSchema).parquet(s"$base/src"),
      "ev_replay", "user_id", 4, s"$base/ckpt")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.table("ev_replay").count() == 3)
    // simulate a crash after the micro-batch wrote but before its
    // offset committed: delete the commit record and restart from the
    // checkpoint — the restarted query replays batch 0 into the
    // non-transactional foreachBatch sink
    // prune the checkpoint to "batch 0 offsets written, nothing
    // committed": drop every commit record and any trailing batch's
    // offsets, so restart re-executes the data batch
    prune(s"$base/ckpt", "commits", _ => false)
    prune(s"$base/ckpt", "offsets", _ == "0")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // the sink appends through the stream's cloned session; a batch
    // reader that already resolved the table must refresh to see the
    // new files (standard Spark staleness, documented on bucketedSink)
    spark.catalog.refreshTable("ev_replay")
    // (a) at-least-once, exactly as documented: the batch appended twice
    assert(spark.table("ev_replay").count() == 6)
    // (b) compaction keyed on the stream's natural key collapses them
    EventStreaming.compactBuckets(spark, "ev_replay", "user_id", 4,
      dedupKeys = Seq("event_id"))
    assert(spark.table("ev_replay").count() == 3)
    assert(spark.table("ev_replay").select("event_id").distinct().count() == 3)
    Bucketing.dropManagedTable(spark, "ev_replay")
  }

  test("streaming incremental dedup: labels match from-scratch CC after 3 batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Bucketing, Dedup}
    import graft.streaming.StreamingDedup
    for (t <- Seq("sd_sigs", "sd_labels")) Bucketing.dropManagedTable(spark, t)
    val corpus = (0L until 12L).map { i =>
      val txt = if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
      else if (i % 3 == 1) "some wholly unrelated document body number " + i
      else "the quick brown fox jumps over the lazy cat"
      (i, txt)
    }
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.ForeachBatchSink.start(
        mem.toDF().toDF("doc_id", "text"), tempDir("sdl")) { (batch, batchId) =>
      StreamingDedup.processBatch(batch, batchId, "doc_id", "text",
        "sd_sigs", "sd_labels")
    }
    // dup families straddle all three batch boundaries
    mem.addData(corpus.slice(0, 5): _*); q.processAllAvailable()
    mem.addData(corpus.slice(5, 9): _*); q.processAllAvailable()
    mem.addData(corpus.slice(9, 12): _*); q.processAllAvailable()
    q.stop()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = m(spark.table("sd_labels").select("id", "keep_id"))
    val sigs = Dedup.minhashSignatures(
      corpus.toDF("doc_id", "text"), "doc_id", "text")
    val scratch = m(Dedup.connectedComponents(
      Dedup.lshCandidatePairs(sigs, "doc_id")))
    assert(streamed == scratch)
    // one signature row per (doc, band): nothing recomputed or re-added
    assert(spark.table("sd_sigs").count() == 12 * 4)
    for (t <- Seq("sd_sigs", "sd_labels")) Bucketing.dropManagedTable(spark, t)
  }

  test("streaming ANN ingest: appended index stays exact at nprobe = k") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Bucketing, IvfIndex, Similarity}
    import graft.streaming.StreamingAnn
    for (t <- Seq("sann_centroids", "sann_lists"))
      Bucketing.dropManagedTable(spark, t)
    def vec(i: Long): Array[Float] =
      Array.tabulate(4)(j => math.sin(i * 3.7 + j).toFloat)
    val base = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val (centroids, indexed) = IvfIndex.build(base, "vec_id", "embedding", k = 4)
    IvfIndex.save(spark, "sann", centroids, indexed, buckets = 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.indexSink(mem.toDF().toDF("vec_id", "embedding"),
      "sann", "vec_id", "embedding",
      tempDir("sann"))
    val late = (40L until 60L).map(i => (i, vec(i)))
    mem.addData(late.take(10): _*); q.processAllAvailable()
    mem.addData(late.drop(10): _*); q.processAllAvailable()
    q.stop()
    val all = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id") < 3)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "cos", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // two streamed batches folded in; nprobe = k == exact over union
    assert(rs(IvfIndex.topKSaved(spark, "sann", queries,
      "vec_id", "embedding", k = 5, nprobe = 4)) ==
      rs(Similarity.bruteForceTopK(all, queries, "vec_id", "embedding", 5)))
    assert(spark.table("sann_lists").count() == 60)
    for (t <- Seq("sann_centroids", "sann_lists"))
      Bucketing.dropManagedTable(spark, t)
  }

  test("streaming ANN replay: dup vectors corrupt top-k; dedup compaction restores exactness") {
    import graft.operators.{Bucketing, IvfIndex, Similarity}
    import graft.streaming.{EventStreaming, StreamingAnn}
    for (t <- Seq("rann_centroids", "rann_lists", "rann_lists__compact",
        "rann_lists__old"))
      Bucketing.dropManagedTable(spark, t)
    def vec(i: Long): Array[Float] =
      Array.tabulate(4)(j => math.cos(i * 2.3 + j).toFloat)
    val base = (0L until 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val (centroids, indexed) = IvfIndex.build(base, "vec_id", "embedding", k = 4)
    IvfIndex.save(spark, "rann", centroids, indexed, buckets = 2)
    // file-source stream so a checkpoint crash-replay is simulable
    val dir = tempDir("rann")
    val late = (30L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    late.write.parquet(s"$dir/src")
    def start() = StreamingAnn.indexSink(
      spark.readStream.schema(late.schema).parquet(s"$dir/src"),
      "rann", "vec_id", "embedding", s"$dir/ckpt")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    spark.catalog.refreshTable("rann_lists")
    assert(spark.table("rann_lists").count() == 40)
    // crash after the append, before the offset commit: drop commit
    // records (and stray .crc shadows) and restart — batch 0 replays
    prune(s"$dir/ckpt", "commits", _ => false)
    prune(s"$dir/ckpt", "offsets", _ == "0")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    spark.catalog.refreshTable("rann_lists")
    assert(spark.table("rann_lists").count() == 50) // at-least-once
    val all = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id") < 3)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "cos", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val exact = rs(Similarity.bruteForceTopK(all, queries, "vec_id", "embedding", 5))
    // the documented failure window is REAL: replayed vectors consume
    // top-k slots twice, so the probe result diverges from exact
    assert(rs(IvfIndex.topKSaved(spark, "rann", queries,
      "vec_id", "embedding", k = 5, nprobe = 4)) != exact)
    // dedup compaction on the vector key collapses the replay; the
    // index is whole again
    EventStreaming.compactBuckets(spark, "rann_lists", "list_id", 2,
      dedupKeys = Seq("vec_id"))
    spark.catalog.refreshTable("rann_lists")
    assert(spark.table("rann_lists").count() == 40)
    assert(rs(IvfIndex.topKSaved(spark, "rann", queries,
      "vec_id", "embedding", k = 5, nprobe = 4)) == exact)
    for (t <- Seq("rann_centroids", "rann_lists"))
      Bucketing.dropManagedTable(spark, t)
  }

  test("compactBuckets swap keeps data reachable and a retry converges after a crash") {
    import graft.operators.Bucketing
    for (t <- Seq("cb_crash", "cb_crash__compact", "cb_crash__old"))
      Bucketing.dropManagedTable(spark, t)
    def mk(n: Int) = (1L to n.toLong).map(i => (i, s"v$i")).toDF("user_id", "v")
    Bucketing.writeBucketed(mk(6), "cb_crash", "user_id", 4)

    // crash state A: died after writing __compact, before any rename —
    // live table still resolves; a retry just redoes the compact
    Bucketing.writeBucketed(
      spark.table("cb_crash").repartition(4, col("user_id")),
      "cb_crash__compact", "user_id", 4)
    assert(spark.table("cb_crash").count() == 6)
    EventStreaming.compactBuckets(spark, "cb_crash", "user_id", 4)
    assert(spark.table("cb_crash").count() == 6)
    assert(!spark.catalog.tableExists("cb_crash__compact"))
    assert(!spark.catalog.tableExists("cb_crash__old"))

    // crash state B: died between the two renames — live name gone,
    // fresh data stranded under __compact, old under __old. The data
    // is still reachable (under __compact), and a retry's recovery
    // preamble promotes it back under the live name.
    Bucketing.writeBucketed(
      spark.table("cb_crash").repartition(4, col("user_id")),
      "cb_crash__compact", "user_id", 4)
    spark.sql("ALTER TABLE cb_crash RENAME TO cb_crash__old")
    assert(spark.table("cb_crash__compact").count() == 6) // reachable
    EventStreaming.compactBuckets(spark, "cb_crash", "user_id", 4)
    assert(spark.table("cb_crash").count() == 6)
    assert(spark.table("cb_crash").inputFiles.length <= 4)
    assert(!spark.catalog.tableExists("cb_crash__compact"))
    assert(!spark.catalog.tableExists("cb_crash__old"))
    Bucketing.dropManagedTable(spark, "cb_crash")
  }

  test("stateful sessionization closes sessions across micro-batches") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Sessionize.sessions(mem.toDS().groupByKey(_.user_id), gapNs = 100L)
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    // batch 1: two events in one session for user 1
    mem.addData(Event(1L, 1000L, 1.0), Event(1L, 1050L, 2.0))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() == 0) // session still open
    // batch 2: a far-future event closes the open session
    mem.addData(Event(1L, 5000L, 9.0))
    q.processAllAvailable()
    val sessions = spark.table("sess_out").as[Session].collect()
    q.stop()
    assert(sessions.toSeq == Seq(Session(1L, 1000L, 1050L, 2L, 3.0)))
  }

  test("event-time timeout evicts idle sessions once the watermark passes") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val mem = MemoryStream[TsEvent]
    val q = Sessionize.sessionsWithTimeout(mem.toDS(), gapMs = 60000, watermark = "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sess_to").start()
    // t=0 would equal the initial watermark and be dropped as late
    mem.addData(TsEvent(1L, ts(100), 1.0), TsEvent(1L, ts(130), 2.0))
    q.processAllAvailable()
    assert(spark.table("sess_to").count() == 0) // open, not timed out
    // a different user far in the future advances the watermark…
    mem.addData(TsEvent(2L, ts(600), 9.0))
    q.processAllAvailable()
    // …and the timeout fires on the following trigger
    mem.addData(TsEvent(2L, ts(601), 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sess_to").as[Session].collect()
    q.stop()
    assert(sessions.toSeq.contains(Session(1L, 100000L, 130000L, 2L, 3.0)))
  }

  test("file-landing stream over a landing dir aggregates all events") {
    val dir = java.nio.file.Paths.get(tempDir("landing"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val landed = EventStreaming.readLanding(spark, dir.toString)
    val q = EventStreaming.tumblingAgg(landed, "1 hour", "1 minute")
      .writeStream.outputMode("complete").format("memory").queryName("land_out").start()
    q.processAllAvailable()
    val total = spark.table("land_out").agg(sum($"n")).as[Long].head()
    q.stop()
    assert(total == 1000L)
  }

  test("Trend.slopePerKey: exact slope on clean lines, per key, degenerate keys drop") {
    import graft.operators.Trend
    val rows = (0L until 50L).map(x => ("up", 1000000L + x, 2 * x + 1)) ++
      (0L until 50L).map(x => ("down", 2000000L + x, 500 - 3 * x)) ++
      Seq(("flat1", 7L, 9L)) // single point: slope undefined -> drops
    val out = Trend.slopePerKey(rows.toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("up") == ((50L, 2.0)))   // exact, not approximately
    assert(out("down") == ((50L, -3.0)))
    assert(!out.contains("flat1"))
  }

  test("labelCentroids + centroidSimilarity: means per dimension, cosine of profiles") {
    import graft.operators.Similarity
    val rows = Seq(
      (0L, Array(1f, 0f, 0f)), (0L, Array(3f, 0f, 0f)), // label 0 -> (2,0,0)
      (1L, Array(0f, 2f, 0f)),                          // label 1 -> (0,2,0)
      (2L, Array(4f, 0f, 0f))                           // label 2 -> (4,0,0)
    ).toDF("label", "embedding")
    val cents = Similarity.labelCentroids(rows, "label", "embedding")
    val c = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(c(0L) == List(2.0, 0.0, 0.0))
    assert(c(1L) == List(0.0, 2.0, 0.0))
    val sim = Similarity.centroidSimilarity(cents, "label")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sim((0L, 2L)) == 1.0) // same direction, different magnitude
    assert(sim((0L, 1L)) == 0.0) // orthogonal profiles
    assert(!sim.contains((1L, 0L))) // upper triangle only
  }

  test("centroidDrift: moved label scores < 1, stable label 1, unmatched drops") {
    import graft.operators.Similarity
    val prev = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 2f)))
      .toDF("label", "embedding")
    val cur = Seq(
      (0L, Array(1f, 0f)), (0L, Array(0f, 1f)), // label 0 rotates 45°
      (1L, Array(0f, 5f)),                      // label 1 same direction
      (9L, Array(3f, 3f)))                      // brand-new label
      .toDF("label", "embedding")
    val drift = Similarity.centroidDrift(
        Similarity.labelCentroids(prev, "label", "embedding"),
        Similarity.labelCentroids(cur, "label", "embedding"), "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(drift(1L) == 1.0)
    assert(drift(0L) == 0.7071) // cos 45°
    assert(!drift.contains(9L)) // new label: no prior centroid, drops
  }

  test("RunningAnomaly: streamed state fold == batch window form across micro-batches") {
    import graft.streaming.RunningAnomaly
    import graft.streaming.RunningAnomaly.{Point, Scored}
    val rng = new scala.util.Random(3)
    val pts = (0 until 60).map(i =>
      Point(if (i % 2 == 0) "a" else "b", i.toLong,
        10.0 + rng.nextInt(5) + (if (i == 40) 500.0 else 0.0)))
    val batchOut = RunningAnomaly.batch(
        pts.toDF("key", "ord", "value"), "key", "ord", "value", 3.0, 5L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(3), Option(r.getAs[Any]("z")), r.getBoolean(5)))).toMap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Point]
    val q = RunningAnomaly.scored(mem.toDS(), 3.0, 5L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ra_out").start()
    val (first, second) = pts.partition(_.ord < 30)
    mem.addData(first: _*); q.processAllAvailable()
    mem.addData(second: _*); q.processAllAvailable()
    val streamed = spark.table("ra_out").as[Scored].collect()
    q.stop()
    assert(streamed.length == 60)
    streamed.foreach { s =>
      val b = batchOut((s.key, s.ord))
      assert((s.n, s.z, s.flag) == ((b._1, b._2, b._3)), s"at (${s.key},${s.ord})")
    }
    // the 500.0 spike is flagged once warmup has passed
    assert(streamed.find(s => s.ord == 40L).exists(_.flag))
  }

  test("RunningTrend: streamed slope == batch slopePerKey after every micro-batch") {
    import graft.operators.Trend
    import graft.streaming.RunningTrend
    import graft.streaming.RunningTrend.{TPoint, TrendOut}
    val rng = new scala.util.Random(7)
    // key a trends up, key b trends down, key c is degenerate (one x)
    val pts = (0 until 40).map { i =>
      val k = if (i % 2 == 0) "a" else "b"
      val x = (i / 2).toLong
      val y = if (k == "a") 3 * x + rng.nextInt(3) else 90 - 2 * x + rng.nextInt(3)
      TPoint(k, x, y)
    } :+ TPoint("c", 5L, 11L) :+ TPoint("c", 5L, 13L)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TPoint]
    val q = RunningTrend.slopes(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("rt_out").start()
    val batches = pts.grouped(15).toSeq
    var seen = Seq.empty[TPoint]
    batches.foreach { b =>
      val before = spark.table("rt_out").count()
      mem.addData(b: _*); q.processAllAvailable()
      seen = seen ++ b
      // latest snapshot per key this batch == batch operator on prefix
      val snap = spark.table("rt_out").as[TrendOut].collect()
        .drop(before.toInt).map(t => t.key -> ((t.n, t.slope))).toMap
      val expect = Trend.slopePerKey(
          seen.toDF("key", "x", "y"), "key", "x", "y")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      snap.foreach { case (k, (n, slopeOpt)) =>
        assert(n == seen.count(_.key == k).toLong, s"n at $k")
        (expect.get(k), slopeOpt) match {
          case (Some((en, es)), Some(s)) =>
            assert(en == n && es == s, s"slope at $k: batch $es streamed $s")
          case (None, None) => () // degenerate key dropped by batch, None here
          case other => fail(s"mismatched presence at $k: $other")
        }
      }
    }
    q.stop()
    // the degenerate key really exercised the None branch
    val cRows = spark.table("rt_out").as[TrendOut].collect().filter(_.key == "c")
    assert(cRows.nonEmpty && cRows.forall(_.slope.isEmpty))
  }
}
