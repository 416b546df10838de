package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sketches

/** Mergeable sketches ([[graft.operators.Sketches]]): KMV k-min
  * correctness against a naive reference, merge associativity (the
  * property the q211 '__all__' row turns into a cross-engine check),
  * Count-Min's overestimate invariant, and the histogram-quantile
  * error bound. */
class SketchSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hash48 matches DuckDB's ('0x'||substr(md5,1,12))::BIGINT") {
    // duckdb: SELECT ('0x'||substr(md5('a'),1,12))::BIGINT → 14025043329265
    val got = spark.range(1)
      .select(Sketches.hash48(lit("a")).as("h")).head.getLong(0)
    assert(got == 14025043329265L)
  }

  test("kMinPerKey == naive k smallest distinct hashes, across partitions") {
    val k = 8
    // deterministic pseudo-random values with repeats, many partitions
    val rows = (0 until 2000).map(i => (s"k${i % 3}", s"v${i % 157}"))
    val df = spark.createDataFrame(rows).toDF("key", "v")
      .repartition(13)
      .select(col("key"), Sketches.hash48(col("v")).as("h"))
    val got = Sketches.kMinPerKey(df, "key", "h", k)
      .as[(String, Seq[Long])].collect().toMap
    val naive = rows.groupBy(_._1).map { case (key, vs) =>
      val hs = vs.map(_._2).distinct
        .map(v => spark.range(1).select(Sketches.hash48(lit(v))).head.getLong(0))
        .distinct.sorted.take(k)
      key -> hs
    }
    assert(got.keySet == naive.keySet)
    naive.foreach { case (key, hs) => assert(got(key) == hs, key) }
  }

  test("KMV merge is associative: sketch(union) == merge(sketches)") {
    val k = 16
    val parts = Seq(
      (0 until 300).map(i => s"a$i"),
      (100 until 500).map(i => s"a$i"), // overlapping values
      (0 until 50).map(i => s"b$i"))
    def sketch(vs: Seq[String]): Seq[Long] = {
      val df = vs.toDF("v")
        .select(lit("x").as("key"), Sketches.hash48(col("v")).as("h"))
      Sketches.kMinPerKey(df, "key", "h", k)
        .as[(String, Seq[Long])].head._2
    }
    val direct = sketch(parts.flatten)
    val merged = parts.map(sketch).map(hs => Tuple1(hs)).toDF("hs")
      .agg(Sketches.kmvMerge(col("hs"), k).as("hs"))
      .as[Seq[Long]].head
    assert(merged == direct)
  }

  test("KMV estimate is exact below k and within 3x sketch stderr above") {
    val k = 64
    val n = 1000
    val df = (0 until n).map(i => s"tok$i").toDF("v")
      .select(lit("x").as("key"), Sketches.hash48(col("v")).as("h"))
    val sk = Sketches.kMinPerKey(df, "key", "h", k)
    val est = sk.select(Sketches.kmvEstimate(col("hs"), k)).head.getLong(0)
    // KMV stderr ≈ n/sqrt(k-2); 3σ window
    assert(math.abs(est - n) < 3.0 * n / math.sqrt(k - 2), s"est=$est")
    val small = (0 until 10).map(i => s"s$i").toDF("v")
      .select(lit("x").as("key"), Sketches.hash48(col("v")).as("h"))
    val estSmall = Sketches.kMinPerKey(small, "key", "h", k)
      .select(Sketches.kmvEstimate(col("hs"), k)).head.getLong(0)
    assert(estSmall == 10L)
  }

  test("Count-Min never underestimates; cells conserve total mass per row") {
    val depth = 4; val width = 32
    val tf = (0 until 200).map(i => (s"w$i", (i % 7 + 1).toLong))
      .toDF("w", "c")
    val sketch = Sketches.cmsSketch(tf, "w", "c", depth, width)
    val total = tf.agg(sum("c")).head.getLong(0)
    val perRow = sketch.groupBy("row").agg(sum("cell").as("m"))
      .as[(Int, Long)].collect()
    assert(perRow.length == depth && perRow.forall(_._2 == total))
    val est = Sketches.cmsLookup(sketch, tf, "w", depth, width)
    assert(est.filter(col("cms_est") < col("c")).count() == 0)
  }

  test("streaming KMV sink: stream == batch, and a replayed batch " +
    "is a no-op (merge idempotence)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingSketch
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    val table = "kmv_stream_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val rows = (0 until 60).map(i => (s"s${i % 3}", s"w${i % 23} w${i % 11}"))
    val mem = MemoryStream[(String, String)]
    val ckpt = tempDir("kmv_ckpt")
    val q = graft.streaming.ForeachBatchSink.start(
        mem.toDF().toDF("source", "text"), ckpt) { (batch, _) =>
      StreamingSketch.processBatch(batch, "source", "text", k, table)
    }
    rows.grouped(20).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    q.stop()
    def state() = spark.table(table)
      .as[(String, Seq[Long])].collect().toMap
    val streamed = state()
    // batch twin
    val batch = Sketches.kMinPerKey(
      rows.toDF("source", "text")
        .select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        .select(col("source"), Sketches.hash48(col("w")).as("h")),
      "source", "h", k).as[(String, Seq[Long])].collect().toMap
    assert(streamed == batch)
    // replay the first 20 rows — set-union merge must change nothing
    StreamingSketch.processBatch(
      rows.take(20).toDF("source", "text"), "source", "text", k, table)
    assert(state() == batch)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming KMV sink, real restart: a redelivered batch id " +
    "folds to the same table (idempotent merge, no ledger)") {
    import graft.streaming.{ForeachBatchSink, StreamingSketch}
    val k = 8
    val table = "kmv_restart_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val rows = (0 until 60).map(i => (s"s${i % 3}", s"w${i % 23} w${i % 11}"))
    val base = tempDir("kmv_restart")
    def land(g: Seq[(String, String)]): Unit =
      g.toDF("source", "text").coalesce(1).write.mode("append")
        .parquet(s"$base/src")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = ForeachBatchSink.start(
        spark.readStream.schema("source STRING, text STRING")
          .parquet(s"$base/src"), s"$base/ckpt") { (batch, batchId) =>
      seen += batchId
      StreamingSketch.processBatch(batch, "source", "text", k, table)
    }
    land(rows.take(20))
    val q = start()
    q.processAllAvailable()
    rows.drop(20).grouped(20).foreach { g => land(g); q.processAllAvailable() }
    q.stop()
    assert(seen == Seq(0L, 1L, 2L))
    def state() = spark.table(table)
      .as[(String, Seq[Long])].collect().toMap
    val batchTwin = Sketches.kMinPerKey(
      rows.toDF("source", "text")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .select(col("source"), Sketches.hash48(col("w")).as("h")),
      "source", "h", k).as[(String, Seq[Long])].collect().toMap
    assert(state() == batchTwin)
    // crash after batch 2 folded but before Spark recorded it done:
    // the restart redelivers batch 2 under id 2, and the set-union
    // merge folds it into the table it already shaped
    prune(s"$base/ckpt", "commits", _ != "2")
    seen.clear()
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(seen == Seq(2L), "the restart must redeliver batch 2")
    spark.catalog.refreshTable(table)
    assert(state() == batchTwin)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming CMS sink: stream == batch, replayed batch id skipped " +
    "by the in-table ledger — and WITHOUT the ledger it double-counts " +
    "(the negative control proving the ledger is load-bearing)") {
    import graft.streaming.{ForeachBatchSink, StreamingSketch}
    val (depth, width) = (3, 16)
    val table = "cms_stream_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val rows = (0 until 60).map(i => Tuple1(s"w${i % 23} w${i % 11}"))
    // a file source, so a restart from the checkpoint replays for real
    val base = tempDir("cms_ckpt")
    def land(g: Seq[Tuple1[String]]): Unit =
      g.toDF("text").coalesce(1).write.mode("append").parquet(s"$base/src")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = ForeachBatchSink.start(
        spark.readStream.schema("text STRING").parquet(s"$base/src"),
        s"$base/ckpt") { (batch, batchId) =>
      seen += batchId
      StreamingSketch.processCmsBatch(batch, "text", depth, width, table,
        batchId)
    }
    // one file per group, each its own micro-batch (ids 0, 1, 2)
    land(rows.take(20))
    val q = start()
    q.processAllAvailable()
    rows.drop(20).grouped(20).foreach { g => land(g); q.processAllAvailable() }
    q.stop()
    assert(seen == Seq(0L, 1L, 2L))
    def toCellMap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("row").cast("long"), col("bucket").cast("long"),
        col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def cells() = toCellMap(spark.table(table).filter(col("row") >= 0L))
    def cellsOf(df: org.apache.spark.sql.DataFrame) = {
      val tf = df.select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      toCellMap(Sketches.cmsSketch(tf, "w", "c", depth, width))
    }
    val batchTwin = cellsOf(rows.toDF("text"))
    assert(cells() == batchTwin)
    // crash after batch 2 folded but before Spark recorded it done:
    // drop its commit record and restart — Spark redelivers batch 2
    // under id 2, and the ledger must skip the fold entirely
    prune(s"$base/ckpt", "commits", _ != "2")
    seen.clear()
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(seen == Seq(2L), "the restart must redeliver batch 2")
    spark.catalog.refreshTable(table)
    assert(cells() == batchTwin)
    // negative control: the same redelivery under a FRESH batch id
    // double-counts those rows — linear merge has no idempotence to
    // hide behind, which is exactly why the ledger exists
    StreamingSketch.processCmsBatch(
      rows.drop(40).toDF("text"), "text", depth, width, table, 99L)
    val doubled = cells()
    assert(doubled != batchTwin)
    val extra = cellsOf(rows.drop(40).toDF("text"))
    assert(doubled == batchTwin.map { case (k, v) =>
      k -> (v + extra.getOrElse(k, 0L)) }.filter(_._2 > 0))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("HLL register math: index = top p bits, rank = LZC+1, capped") {
    val p = 6; val cap = 30
    // crafted raw hashes exercise every branch of the rank formula:
    //   h = 0            → reg 0, w = 0        → r = cap (the w=0 guard)
    //   h = 1            → reg 0, w = 1        → 43-1 = 42, capped to 30
    //   h = 1 << 42      → reg 1, w = 0        → cap
    //   h = (1<<42) | (1<<41) → reg 1, w = 2^41 → r = 43-42 = 1
    //   h = 3 << 41      → same cell as above (max collapses them)
    //   h = (5<<42) | 12345   → reg 5, bin(12345) is 14 wide → r = 29
    val hs = Seq(0L, 1L, 1L << 42, (1L << 42) | (1L << 41),
      (5L << 42) | 12345L)
    val df = hs.map(h => ("k", h)).toDF("key", "h")
    val regs = Sketches.hllRegisters(df, "key", "h", p, cap)
      .as[(String, Long, Int)].collect()
      .map { case (_, reg, r) => reg -> r }.toMap
    assert(regs == Map(0L -> 30, 1L -> 30, 5L -> 29))
  }

  test("HLL merge is idempotent and associative; estimate tracks exact") {
    val p = 6; val cap = 30
    def regsOf(vs: Seq[String]) = Sketches.hllRegisters(
      vs.toDF("v").select(lit("x").as("key"),
        Sketches.hash48(col("v")).as("h")), "key", "h", p, cap)
    val a = regsOf((0 until 800).map(i => s"a$i"))
    val b = regsOf((400 until 1200).map(i => s"a$i")) // overlap
    val direct = regsOf((0 until 1200).map(i => s"a$i"))
      .as[(String, Long, Int)].collect().sorted.toSeq
    // merge(a, b) == direct sketch of the union
    val merged = Sketches.hllMergeRegs(a, b)
    assert(merged.as[(String, Long, Int)].collect().sorted.toSeq == direct)
    // re-folding b is invisible (the q269 no-ledger replay contract)
    val replayed = Sketches.hllMergeRegs(merged, b)
    assert(replayed.as[(String, Long, Int)].collect().sorted.toSeq == direct)
    // raw estimator lands within 3σ ≈ 3·1.04/√64 ≈ 39% of exact
    val est = Sketches.hllEstimate(merged, "key", p, cap)
      .as[(String, Long)].head._2
    assert(math.abs(est - 1200.0) / 1200.0 < 0.39, s"est=$est")
  }

  test("HLL estimator refuses p/cap combinations that overflow BIGINT") {
    val regs = Seq(("k", 0L, 1)).toDF("key", "reg", "r")
    intercept[IllegalArgumentException] {
      Sketches.hllEstimate(regs, "key", p = 16, cap = 30)
    }
  }

  test("HllRegistersAgg (native TypedImperativeAggregate) == the " +
    "groupBy-max register table under forced partial aggregation") {
    import graft.functions.HllAgg.hllRegistersAgg
    val p = 6; val cap = 30
    val hashed = (0 until 3000)
      .map(i => (s"k${i % 3}", s"item-${i % 700}"))
      .toDF("key", "g")
      .select(col("key"), graft.operators.Sketches.hash48(col("g")).as("h"))
      .repartition(7) // partials on every path: update → serialize → merge
    val native = hashed.groupBy(col("key"))
      .agg(hllRegistersAgg(col("h"), p, cap).as("regs"))
      .select(col("key"), posexplode(col("regs")).as(Seq("reg", "r")))
      .filter(col("r") > 0)
      .select(col("key"), col("reg").cast("long").as("reg"), col("r"))
      .as[(String, Long, Long)].collect().toSet
    val reference = graft.operators.Sketches
      .hllRegisters(hashed, "key", "h", p, cap)
      .as[(String, Long, Long)].collect().toSet
    assert(native == reference)
    assert(native.nonEmpty)
  }

  test("exactQuantiles == sort-based type-1 on adversarial data: " +
    "bucket boundaries, heavy ties, pct=1 and pct=100") {
    import graft.operators.Quantiles
    // values cluster on bucket edges (multiples of width) and repeat
    val width = 10
    val raw = Seq.fill(40)(10L) ++ Seq.fill(1)(9L) ++ Seq.fill(30)(20L) ++
      (0 until 29).map(i => (i * 37 % 97).toLong)
    val pcts = Seq(1, 50, 90, 100)
    val got = Quantiles.exactQuantiles(raw.map(Tuple1(_)).toDF("v"),
        "v", width, pcts)
      .as[(Long, Long)].collect().toMap
    val sorted = raw.sorted
    pcts.foreach { p =>
      val exact = sorted((p * sorted.length + 99) / 100 - 1)
      assert(got(p.toLong) == exact, s"p=$p got=${got(p.toLong)} want=$exact")
    }
  }

  test("exactQuantilesByKey matches the per-key sort-based answer") {
    import graft.operators.Quantiles
    val rows = for (k <- Seq("a", "b"); i <- 0 until 50)
      yield (k, if (k == "a") (i * i % 89).toLong else (i % 7).toLong)
    val got = Quantiles.exactQuantilesByKey(rows.toDF("k", "v"), "k", "v",
        width = 8, pcts = Seq(50, 99))
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (k <- Seq("a", "b"); p <- Seq(50, 99)) {
      val sorted = rows.filter(_._1 == k).map(_._2).sorted
      val exact = sorted((p * sorted.length + 99) / 100 - 1)
      assert(got((k, p.toLong)) == exact, s"k=$k p=$p")
    }
  }

  test("histogram quantile estimate within [exact, exact + width)") {
    val width = 10
    val vals = (0 until 500).map(i => Tuple1((i * i % 997).toLong)).toDF("v")
    val hist = Sketches.histogram(vals, "v", width)
    val est = Sketches.histQuantiles(hist, width, Seq(50, 90, 99))
      .as[(Long, Long)].collect().toMap
    val sorted = vals.as[Long].collect().sorted
    Seq(50, 90, 99).foreach { p =>
      val target = (p * sorted.length + 99) / 100
      val exact = sorted(target - 1)
      val e = est(p.toLong)
      assert(e >= exact && e - exact < width, s"p=$p est=$e exact=$exact")
    }
  }
}
