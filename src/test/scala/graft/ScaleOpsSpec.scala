package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BloomPrune, Bucketing}

/** Scale-path techniques: bucketed co-located joins (zero-exchange)
  * and Bloom-filter join pruning. */
class ScaleOpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("bucketed write + same-key join plans with ZERO exchanges") {
    val li = Tables.t(spark, sf, "lineitem")
    val ord = Tables.t(spark, sf, "orders")
    Bucketing.writeBucketed(li.select("l_orderkey", "l_quantity"),
      "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(ord.select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_bucketed", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val joined = Bucketing.coLocatedJoin(spark, "li_bucketed",
        "ord_bucketed", "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // and it agrees with the plain join
      val expected = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom-pruned join: fact side shrinks before the shuffle, same result") {
    val li = Tables.t(spark, sf, "lineitem")
    val ord = Tables.t(spark, sf, "orders")
      .filter(col("o_totalprice") > 50000) // selective dim
      .select("o_orderkey", "o_totalprice")
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
    val pruned = BloomPrune.prunedJoin(li, "l_orderkey",
      ord, "o_orderkey", expectedDimKeys = 10000)
    assert(pruned.count() == plain.count())
    // the pruned fact side is strictly smaller than the full fact table
    val prunedFact = BloomPrune.prune(li, col("l_orderkey"),
      ord, col("o_orderkey"), 10000, 0.01)
    assert(prunedFact.count() < li.count())
    // no false negatives by construction: every joining key survives
    val joiningKeys = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select("l_orderkey").distinct().count()
    assert(prunedFact.select("l_orderkey").distinct().count() >= joiningKeys)
    // the prune filter is the NATIVE might_contain expression inside
    // whole-stage codegen — no UDF in the scan-adjacent stage
    prunedFact.collect()
    val plan = prunedFact.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("UDF"), s"prune filter must not use a UDF:\n$plan")
  }

  test("bloom-cascade decontamination: native might_contain prune, no " +
    "UDF, and output identical to the broadcast-exact q46 path") {
    import graft.operators.Dedup
    val doc = Tables.t(spark, sf, "documents")
    val corpus = doc.filter(col("doc_id") >= 20)
    val bench = doc.filter(col("doc_id") < 20)
    val cascade = Dedup.contaminationBloom(corpus, "doc_id", "text",
      bench, "text", 3, expectedBenchNgrams = 100000L)
    val exact = Dedup.contamination(corpus, "doc_id", "text",
      bench, "text", 3)
    // lossless: no false negatives (Bloom) + no false positives
    // (exact confirm) ⇒ set-identical output
    assert(cascade.exceptAll(exact).isEmpty && exact.exceptAll(cascade).isEmpty)
    cascade.collect()
    val plan = cascade.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("UDF"), s"prune filter must not use a UDF:\n$plan")
  }

  test("prefix-sum bucketing survives sparse composite keys: sampled " +
    "range fallback keeps buckets row-balanced; equal-width stays on " +
    "dense ids; ranks exact either way") {
    import graft.operators.Packing
    import spark.implicits._
    // the q184 shape: label << 40 | doc_id — two point-width clusters
    // in a 2^40-wide key space, one label dominant. Equal-width
    // bucketing would put 900 of 1000 rows in ONE bucket.
    val skewedKeys = ((0 until 900).map(i => 0L * (1L << 40) + i) ++
      (0 until 100).map(i => 1L * (1L << 40) + i)).toDF("key")
    val nB = spark.sparkContext.defaultParallelism
    val probe = Packing.bucketProbe(skewedKeys, "key")
      .groupBy(col("bucket")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probe.size >= nB,
      s"sparse keys must spread over >= $nB buckets, got ${probe.size}: $probe")
    val ideal = 1000.0 / probe.size
    assert(probe.values.max <= 2 * ideal,
      s"range buckets must be row-balanced (ideal $ideal): $probe")
    // dense ids keep the deterministic equal-width fast path: near-
    // uniform buckets with no sampling involved
    val dense = (0 until 1000).map(_.toLong * 2 + 1).toDF("key")
    val dprobe = Packing.bucketProbe(dense, "key")
      .groupBy(col("bucket")).count()
      .collect().map(r => r.getLong(1))
    assert(dprobe.max <= 2 * 1000 / dprobe.length)
    // and the ranks over the skewed keys are EXACT — identical to the
    // sorted order — because any monotonic bucketing yields the same
    // prefix counts
    val ranked = Packing.stableIds(skewedKeys, "key")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = skewedKeys.as[Long].collect().sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(ranked == expected)
  }

  test("IVF index: nprobe=k reproduces brute force; partial probe has recall") {
    import graft.operators.{IvfIndex, Similarity}
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (centroids, indexed) = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
    assert(centroids.length == 8)
    // every vector lands in exactly one list
    assert(indexed.count() == emb.count())
    assert(indexed.groupBy("list_id").count().count() <= 8)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing ALL lists is exact — same pairs as brute force
    val full = IvfIndex.topK(indexed, centroids, queries, "vec_id", "embedding",
      k = 5, nprobe = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
    // probing half the lists keeps most of the true neighbors
    val half = IvfIndex.topK(indexed, centroids, queries, "vec_id", "embedding",
      k = 5, nprobe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (half & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 with nprobe=4/8 was $recall")
  }

  test("two-level IVF: full probe reproduces brute force; partial probe " +
      "has recall; fine assignment is a pure projection") {
    import graft.operators.{IvfIndex, Similarity}
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (coarse, fineSeeds, lists) = IvfIndex.buildTwoLevel(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k1 = 4, k2 = 3, coarseIters = 2)
    assert(coarse.length == 4)
    // every vector lands in exactly one (list, fine) cell; fine ids
    // index into the cell's own seed set
    assert(lists.count() == emb.count())
    val fs = fineSeeds.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = lists.select("list_id", "fine_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells.subsetOf(fs), s"assigned cells $cells not in seeds $fs")
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every (coarse, fine) cell is exact — the graceful-
    // degradation anchor: the hierarchy routes, it never drops rows
    val full = IvfIndex.topK2(lists, coarse, fineSeeds, queries,
        "vec_id", "embedding", k = 5, nprobe1 = 4, nprobe2 = 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
    // a partial probe keeps a useful share of the true neighbors
    val part = IvfIndex.topK2(lists, coarse, fineSeeds, queries,
        "vec_id", "embedding", k = 5, nprobe1 = 2, nprobe2 = 2)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (part & brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@5 with (2,2)/(4,3) probes was $recall")
    // fine assignment never shuffles or window-ranks the corpus — the
    // seed argmax is a codegen'd projection (the flat-IVF discipline)
    val plan = lists.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"fine assignment must not shuffle the corpus:\n$plan")
    assert(!plan.contains("Window"),
      s"fine assignment must not rank via a window:\n$plan")
  }

  test("IVF assignment is a pure projection: no Exchange, no Window") {
    import graft.operators.IvfIndex
    val emb = Tables.t(spark, sf, "embeddings")
    val (_, indexed) = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
    indexed.collect()
    val plan = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"assignment must not shuffle the corpus:\n$plan")
    assert(!plan.contains("Window"),
      s"assignment must not rank via a window:\n$plan")
    // "*(n)" prefixes mark whole-stage-codegen stages in simpleString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("IVF save/load round-trips: reloaded index gives identical topK") {
    import graft.operators.IvfIndex
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (centroids, indexed) = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
    IvfIndex.save(spark, "ivf_test", centroids, indexed, buckets = 4,
      provenance = Map("source" -> sf, "iters" -> "3"))
    val (c2, idx2) = IvfIndex.load(spark, "ivf_test")
    // the artifact carries its derivation through the parquet footer
    val prov = IvfIndex.provenance(spark, "ivf_test")
    assert(prov("k") == "8")
    assert(prov("provenance").contains("\"source\"") &&
      prov("provenance").contains(sf))
    assert(c2.length == centroids.length)
    c2.zip(centroids).foreach { case (a, b) => assert(a.sameElements(b)) }
    assert(idx2.count() == emb.count())
    def res(cs: Array[Array[Double]], idx: org.apache.spark.sql.DataFrame) =
      IvfIndex.topK(idx, cs, queries, "vec_id", "embedding", k = 5, nprobe = 4)
        .select("q_id", "n_id", "cos", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(res(c2, idx2) == res(centroids, indexed))
  }

  test("IVF probe over the bucketed lists table: corpus side joins with zero exchanges") {
    import graft.operators.IvfIndex
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (centroids, indexed) = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
    IvfIndex.save(spark, "ivf_colo", centroids, indexed, buckets = 4)
    // big-query-batch mode: merge join instead of broadcasting probes
    val bucketed = IvfIndex.topKSaved(spark, "ivf_colo", queries,
      "vec_id", "embedding", k = 5, nprobe = 8, broadcastProbes = false)
    bucketed.collect()
    val plan = bucketed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // the lists scan is bucketed, so ONLY the probe side shuffles into
    // the bucket layout: exactly one list_id exchange in the whole plan
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    val listIdExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(list_id"))
    assert(listIdExchanges == 1,
      s"$listIdExchanges list_id exchanges (probe side only expected):\n${plan.take(3000)}")
    // identical results to the broadcast probe path
    val viaBroadcast = IvfIndex.topKSaved(spark, "ivf_colo", queries,
      "vec_id", "embedding", k = 5, nprobe = 8)
      .select("q_id", "n_id", "cos", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaMerge = bucketed
      .select("q_id", "n_id", "cos", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaMerge == viaBroadcast)
  }

  test("two-level IVF save/load: reloaded probe joins the composite-" +
      "bucketed lists with zero corpus-side exchanges; results identical") {
    import graft.operators.IvfIndex
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (coarse, fineSeeds, lists) = IvfIndex.buildTwoLevel(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k1 = 4, k2 = 3, coarseIters = 1)
    IvfIndex.saveTwoLevel(spark, "ivf2_colo", coarse, fineSeeds, lists,
      buckets = 4)
    val direct = IvfIndex.topK2(lists, coarse, fineSeeds, queries,
        "vec_id", "embedding", k = 5, nprobe1 = 4, nprobe2 = 3)
      .select("q_id", "n_id", "cos", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val reloaded = IvfIndex.topK2Saved(spark, "ivf2_colo", queries,
      "vec_id", "embedding", k = 5, nprobe1 = 4, nprobe2 = 3,
      broadcastProbes = false)
    reloaded.collect()
    val plan = reloaded.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    // the composite-key bucketing means only the probe side shuffles
    // into the (list_id, fine_id) layout
    val keyExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(list_id"))
    assert(keyExchanges == 1,
      s"$keyExchanges composite-key exchanges (probe side only expected):" +
        s"\n${plan.take(3000)}")
    val viaSaved = reloaded
      .select("q_id", "n_id", "cos", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaSaved == direct)
  }

  test("IVF appendSaved: incremental ingest stays exact and keeps the bucketed probe") {
    import graft.operators.{IvfIndex, Similarity}
    val emb = Tables.t(spark, sf, "embeddings")
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val (centroids, indexed) = IvfIndex.build(old, "vec_id", "embedding", k = 8)
    IvfIndex.save(spark, "ivf_app", centroids, indexed, buckets = 4)
    IvfIndex.appendSaved(spark, "ivf_app", batch, "vec_id", "embedding")
    // every vector lands in exactly one list, old rows untouched
    assert(spark.table("ivf_app_lists").count() == emb.count())
    // nprobe = k after the append == brute force over the UNION —
    // the exactness anchor is independent of where centroids came from
    val probed = IvfIndex.topKSaved(spark, "ivf_app", queries,
      "vec_id", "embedding", k = 5, nprobe = 8, broadcastProbes = false)
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "cos", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rs(probed) == rs(Similarity.bruteForceTopK(
      emb, queries, "vec_id", "embedding", 5)))
    // the append kept the bucket spec: the lists scan is still
    // bucketed and only the probe side shuffles into its layout
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    assert(plan.linesIterator
      .count(_.contains("Exchange hashpartitioning(list_id")) == 1, plan.take(3000))
  }

  test("IVF rebuild: staged swap == direct build; exactness, bucketing, provenance survive") {
    import graft.operators.{IvfIndex, Similarity}
    val emb = Tables.t(spark, sf, "embeddings")
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val (centroids, indexed) = IvfIndex.build(old, "vec_id", "embedding", k = 6)
    IvfIndex.save(spark, "ivf_rb", centroids, indexed, buckets = 4,
      provenance = Map("trained_on" -> "old slice"))
    IvfIndex.appendSaved(spark, "ivf_rb", batch, "vec_id", "embedding")
    // from-scratch reference: the same Lloyd rounds from the same
    // (stale) seeds over the same full corpus, no table lifecycle
    val (cDirect, aDirect) = IvfIndex.buildFrom(emb, "embedding", centroids, 2)
    IvfIndex.rebuild(spark, "ivf_rb", "embedding", iters = 2)
    val (cReb, lists) = IvfIndex.load(spark, "ivf_rb")
    // rebuilt-through-saved-tables == from-scratch, centroid for
    // centroid and assignment for assignment — so any probe (and
    // therefore any recall number at any nprobe) is identical too
    cReb.zip(cDirect).foreach { case (a, b) => assert(a.sameElements(b)) }
    val asgReb = lists.select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asgDirect = aDirect.select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asgReb == asgDirect)
    // exactness anchor still holds on the rebuilt index
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = IvfIndex.topKSaved(spark, "ivf_rb", queries,
      "vec_id", "embedding", k = 5, nprobe = 6, broadcastProbes = false)
    assert(rs(probed) == rs(Similarity.bruteForceTopK(
      emb, queries, "vec_id", "embedding", 5)))
    // the stage-and-rename preserved the bucket spec: lists scan still
    // bucketed, only the probe side shuffles into its layout
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    assert(plan.linesIterator
      .count(_.contains("Exchange hashpartitioning(list_id")) == 1, plan.take(3000))
    // the artifact records the rebuild and keeps its ancestry
    val prov = IvfIndex.provenance(spark, "ivf_rb")("provenance")
    assert(prov.contains("rebuilt") && prov.contains("old slice"), prov)
  }

  test("IVF drift monitor -> rebuild: trigger fires, quantization improves, converges") {
    import graft.operators.IvfIndex
    import spark.implicits._
    // constructed drift: old corpus = clusters at 0° and 90° with the
    // saved centroids exactly on them; a batch lands at 30°, pulling
    // list 0's population mean to ~10° while the centroid stays at 0°
    def pt(id: Long, deg: Double) = {
      val r = math.toRadians(deg)
      (id, Array(math.cos(r).toFloat, math.sin(r).toFloat))
    }
    val a = (0 until 100).map(i => pt(i.toLong, (i % 5 - 2) * 0.1))
    val b = (0 until 100).map(i => pt(100L + i, 90 + (i % 5 - 2) * 0.1))
    val c = (0 until 50).map(i => pt(200L + i, 30 + (i % 5 - 2) * 0.1))
    val oldDf = (a ++ b).toDF("vec_id", "embedding")
    val seeds = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val (c0, assigned) = IvfIndex.buildFrom(oldDf, "embedding", seeds, iters = 0)
    IvfIndex.save(spark, "ivf_drift2d", c0, assigned, buckets = 2)
    IvfIndex.appendSaved(spark, "ivf_drift2d", c.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    // the monitor sees it: list 0 drifted (cos(0°,10°) ≈ 0.985),
    // list 1 did not
    val drift = IvfIndex.indexDrift(spark, "ivf_drift2d", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(drift(0L) < 0.99, s"list 0 should read drifted: $drift")
    assert(drift(1L) > 0.999, s"list 1 should read stable: $drift")
    def quantization(): Double = {
      val (cs, lists) = IvfIndex.load(spark, "ivf_drift2d")
      val rows = lists.select(col("list_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      rows.map { case (l, v) =>
        val cv = cs(l)
        val dot = v.zip(cv).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) *
          math.sqrt(cv.map(x => x * x).sum))
      }.sum / rows.length
    }
    val qBefore = quantization()
    // below-threshold call is a NO-OP: tables untouched
    assert(!IvfIndex.rebuildIfDrifted(spark, "ivf_drift2d", "embedding",
      minCos = 0.9, iters = 2))
    val (cUntouched, _) = IvfIndex.load(spark, "ivf_drift2d")
    cUntouched.zip(c0).foreach { case (x, y) => assert(x.sameElements(y)) }
    // above threshold it fires, and the centroids move to the data
    assert(IvfIndex.rebuildIfDrifted(spark, "ivf_drift2d", "embedding",
      minCos = 0.999, iters = 2))
    val qAfter = quantization()
    assert(qAfter > qBefore + 0.005,
      s"rebuild should tighten quantization: $qBefore -> $qAfter")
    // converged: centroids now sit on their list means, drift reads
    // clean, and the same trigger no longer fires
    val drift2 = IvfIndex.indexDrift(spark, "ivf_drift2d", "embedding")
      .agg(org.apache.spark.sql.functions.min(col("drift"))).head().getDouble(0)
    assert(drift2 >= 0.9999, s"post-rebuild drift $drift2")
    assert(!IvfIndex.rebuildIfDrifted(spark, "ivf_drift2d", "embedding",
      minCos = 0.999, iters = 2))
  }

  test("partitioned write: reads prune to the matching partition dirs") {
    val ev = Tables.t(spark, sf, "events")
    val out = tempDir("parted") + "/events"
    // hive-style layout on the natural coarse key — at 100 TB this is
    // date/type partitioning; a filtered read must touch only its dirs
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    val df = spark.read.parquet(out).filter(col("event_type") === "click")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("PartitionFilters"), plan)
    // the scan's own metric proves pruning: fewer files read than exist
    // (inputFiles would lie — it lists the relation pre-pruning)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = finalPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    val allFiles = spark.read.parquet(out).inputFiles.length
    assert(scan.metrics("numFiles").value < allFiles,
      s"read ${scan.metrics("numFiles").value} of $allFiles files")
  }

  test("approx_percentile tracks exact percentiles (the 100x scale path)") {
    // q33 keeps exact percentile because the oracle demands exactness;
    // at corpus scale the sort-based exact agg gives way to the
    // sketch-based approx_percentile — this pins how close it stays
    import org.apache.spark.sql.functions.expr
    val li = Tables.t(spark, sf, "lineitem")
    val r = li.groupBy(col("l_returnflag")).agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx"))
      .collect()
    r.foreach { row =>
      val e = row.getDouble(1); val a = row.getDouble(2)
      assert(math.abs(a - e) / e < 0.01, s"${row.getString(0)}: $a vs $e")
    }
  }

  test("heap-based brute-force topK is row-identical to the window form") {
    import graft.operators.Similarity
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "cos", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val window = rows(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val heap = rows(Similarity.bruteForceTopKScalable(emb, queries, "vec_id", "embedding", 5))
    assert(heap == window)
    // and only the candidate set (partitions x queries x k) reaches the
    // final rank — the corpus itself is never shuffled on q_id
    val plan = Similarity.bruteForceTopKScalable(emb, queries, "vec_id", "embedding", 5)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("MapPartitions"), plan.take(1500))
  }

  test("IVF seeding: hash-stratified init beats first-k-by-id on id-clustered data") {
    import graft.operators.{IvfIndex, Similarity}
    import spark.implicits._
    // the degenerate-init scenario: ids CORRELATE with content — four
    // angularly separated clusters (axes e0..e3), ids grouped by
    // cluster, so "first k by id" draws every seed from cluster 0
    val corpus = (0 until 200).map { i =>
      val c = i / 50 // cluster = id block
      val v = new Array[Float](8)
      v(c) = 1.0f
      v(4 + (i % 4)) = 0.05f + 0.01f * (i % 10) // deterministic jitter
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 50 === 7)
    val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // recall at nprobe=1 AND how much of the corpus that one probe
    // scans — recall alone can't expose the degenerate init, because
    // collapsing everything into one giant list is "exact" by scanning
    // the whole corpus (precisely what IVF exists to avoid at 100 TB)
    def stats(seeds: Array[Array[Double]]): (Double, Long) = {
      val (centroids, indexed) = IvfIndex.buildFrom(corpus, "embedding", seeds, iters = 1)
      val got = IvfIndex.topK(indexed, centroids, queries, "vec_id", "embedding",
        k = 5, nprobe = 1)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val maxList = indexed.groupBy("list_id").count()
        .agg(max("count")).head().getLong(0)
      ((got & brute).size.toDouble / brute.size, maxList)
    }

    val firstK = IvfIndex.seedFirstK(corpus, "vec_id", "embedding", 4)
    val strat = IvfIndex.seedStratified(corpus, "vec_id", "embedding", 4)
    // the failure mode, pinned: every first-k seed lives in cluster 0
    assert(firstK.forall(v => v.indexOf(v.max) == 0))
    // stratified seeds spread across clusters (deterministic draw)
    val stratClusters = strat.map(v => v.indexOf(v.max)).toSet
    assert(stratClusters.size >= 3, s"seeds covered $stratClusters")
    val (rFirst, maxFirst) = stats(firstK)
    val (rStrat, maxStrat) = stats(strat)
    // stratified: high recall from a BOUNDED probe (balanced lists)
    assert(rStrat >= 0.7, s"stratified recall@nprobe=1 was $rStrat")
    assert(maxStrat <= 120, s"stratified max list $maxStrat of 200")
    // first-k: whatever recall it reports, it pays for it in probe
    // cost — the lists collapse toward one blob
    assert(maxFirst > maxStrat,
      s"first-k max list $maxFirst vs stratified $maxStrat (recall $rFirst vs $rStrat)")
  }

  test("topKPerKey: duplicate candidates inflate ranks; the dedup flag fixes it") {
    import graft.operators.Similarity
    import spark.implicits._
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7),
      (2L, 10L, 0.5), (2L, 11L, 0.6)).toDF("q_id", "n_id", "cos")
    val dup = scored.union(scored) // e.g. undeduped multi-band LSH candidates
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "cos", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val expected = rows(Similarity.topKPerKey(scored, 2))
    assert(rows(Similarity.topKPerKey(dup, 2, dedupCandidates = true)) == expected)
    // without the flag the double-count is visible: q1's top-2 is its
    // best neighbor twice — the documented hazard the flag prevents
    val inflated = Similarity.topKPerKey(dup, 2)
      .filter(col("q_id") === 1L).select("n_id").as[Long].collect()
    assert(inflated.sorted.toSeq == Seq(10L, 10L))
  }

  test("dropManagedTable clears an orphaned warehouse dir via Hadoop FS") {
    // simulate a prior session's leftover: a dir in the warehouse with
    // no catalog entry — CREATE would fail if the cleanup missed it
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val orphan = new org.apache.hadoop.fs.Path(warehouse, "orphan_tbl")
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphan)
    fs.create(new org.apache.hadoop.fs.Path(orphan, "junk.parquet")).close()
    assert(fs.exists(orphan))
    Bucketing.dropManagedTable(spark, "orphan_tbl")
    assert(!fs.exists(orphan))
    // and the subsequent bucketed CREATE under the same name succeeds
    import spark.implicits._
    Bucketing.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      "orphan_tbl", "k", 2)
    assert(spark.table("orphan_tbl").count() == 2)
    Bucketing.dropManagedTable(spark, "orphan_tbl")
  }

  test("string keys prune too") {
    import spark.implicits._
    val fact = Seq("a", "b", "c", "d", "zz").toDF("k")
    val dim = Seq("a", "c").toDF("k")
    val pruned = BloomPrune.prune(fact, col("k"), dim, col("k"), 100, 0.01)
      .as[String].collect().toSet
    assert(Set("a", "c").subsetOf(pruned))
    assert(!pruned.contains(null))
  }

  test("semanticDedup: copies drop behind their original; dissimilar vectors survive") {
    import spark.implicits._
    import graft.operators.Dedup
    val dim = 8
    def unit(i: Int): Array[Float] = Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    // six orthogonal originals (pairwise cos 0 — below any threshold),
    // three exact copies with LATER ids; identical vectors always get
    // the same argmax cluster, so the copies must drop whatever the
    // md5 seeding picked.
    val rows = (0 until 6).map(i => (i.toLong, unit(i))) ++
      Seq((10L, unit(0)), (11L, unit(3)), (12L, unit(0)))
    val out = Dedup.semanticDedup(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, minCos = 0.9)
    val kept = out.filter($"kept").select($"vec_id").as[Long].collect().toSet
    val dropped = out.filter(!$"kept").select($"vec_id").as[Long].collect().toSet
    assert(dropped == Set(10L, 11L, 12L))
    assert(kept == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // cluster ids come from the k seeds
    val clusters = out.select($"cluster_id").distinct().as[Long].collect()
    assert(clusters.forall(c => c >= 0 && c < 3), clusters.mkString(","))
    // the pair search is an equi-join on cluster_id — never a cross
    // product over the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("semanticDedup recall is cluster-bounded by design (cross-cluster dups survive)") {
    import spark.implicits._
    import graft.operators.Dedup
    // k = 1: everything co-clusters, so even with one cluster the
    // earlier-id rule keeps exactly the first of each dup set —
    // the exhaustive-recall limit of the operator.
    val rows = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(0.999f, 0.001f)))
    val out = Dedup.semanticDedup(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 1, minCos = 0.9)
    val kept = out.filter($"kept").select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L)) // 1 is an exact copy, 3 a near-copy of 0
  }
}
