package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}

class TextOpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines at scale"),
    (3L, "the quick brown fox jumps over the lazy dog")  // exact dup of 0
  ).toDF("doc_id", "text")

  test("shingles: n-grams, count = tokens - n + 1; short docs give empty") {
    val out = docs.select(TextFunctions.shingles($"text", 3).as("sh"))
      .select(size($"sh")).as[Int].collect()
    assert(out.toSeq == Seq(7, 7, 6, 7))
    val short = Seq("a b").toDF("text")
      .select(size(TextFunctions.shingles($"text", 3))).as[Int].head()
    assert(short == 0)
  }

  test("native shingles expression matches the composed form exactly") {
    val rng = new scala.util.Random(3)
    val randomTexts = Seq.fill(40) {
      Seq.fill(rng.nextInt(12))(rng.alphanumeric.take(1 + rng.nextInt(6)).mkString)
        .mkString(if (rng.nextBoolean()) " " else "  ")
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  leading and trailing  spaces   collapse  ",
      "tab\tand\nnewline separated tokens here",
      "two words", "one", "", "a b c") ++ randomTexts
    val df = texts.toDF("text")
    val both = df.select(
      TextFunctions.shingles($"text", 3).as("native"),
      TextFunctions.shinglesComposed($"text", 3).as("composed")).collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r)
    }
  }

  test("exact dedup groups find the planted duplicate") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("minhash LSH pairs the near-dup and exact-dup, not the unrelated doc") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    assert(sigs.count() == 4 * 4) // 4 docs x 4 bands
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("incremental LSH candidates complete the full pair set") {
    // a larger corpus with dup pairs straddling the old/new boundary
    val corpus = (0L until 12L).map { i =>
      val base = if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
      else if (i % 3 == 1) "some wholly unrelated document body number " + i
      else "the quick brown fox jumps over the lazy cat"
      (i, base)
    }.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = rows(Dedup.lshCandidatePairs(sigs, "doc_id"))
    val isNew = col("doc_id") >= 8
    // the incremental batch's pairs plus the prior corpus's own pairs
    // reconstruct the full pair set exactly — no pair lost or invented
    val oldOnly = rows(Dedup.lshCandidatePairs(
      sigs.filter(col("doc_id") < 8), "doc_id"))
    val incr = rows(Dedup.lshCandidatePairsIncremental(sigs, "doc_id", isNew))
    assert(incr.forall { case (a, b) => a >= 8 || b >= 8 })
    assert((oldOnly ++ incr) == full)
    // degenerate check: everything-new reproduces the full set
    assert(rows(Dedup.lshCandidatePairsIncremental(sigs, "doc_id", lit(true))) == full)
    // skew guard: the dup families form 4-member buckets per band;
    // capping at 3 excludes them — output shrinks, never grows
    val capped = rows(Dedup.lshCandidatePairsIncremental(
      sigs, "doc_id", isNew, maxBucketHits = 3))
    assert(capped.subsetOf(incr))
    assert(capped.size < incr.size)
    // scale shape of the guard: the broadcast side must be the HOT
    // set (count > cap, tiny by construction), removed via an anti
    // join — broadcasting the non-hot complement is O(corpus × bands)
    // and OOMs the driver at the scale the cap exists for
    val plan = Dedup.lshCandidatePairsIncremental(
      sigs, "doc_id", isNew, maxBucketHits = 3)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"))
    assert("""__bn#\d+L? > 3""".r.findFirstIn(plan).isDefined)
  }

  test("bigram surprisal floor: Heaps-tail table shrinks; singletons back off") {
    import graft.operators.Surprisal
    // heavy tail: one frequent bigram repeated across 50 docs, plus
    // 100 singleton bigrams — the Heaps'-law regime the floor targets
    val corpus = ((0L until 50L).map(i => (i, "a b")) ++
      (50L until 150L).map(i => (i, s"u$i v$i"))).toDF("doc_id", "text")
    val (_, surp1, _) = Surprisal.bigramParts(corpus, 1L)
    val (_, surp2, _) = Surprisal.bigramParts(corpus, 2L)
    assert(surp1.count() == 101) // every bigram type keeps a row
    assert(surp2.count() == 1)   // the floor drops the singleton tail
    def m(minCount: Long) = Surprisal.bigramSurprisal(corpus, minCount)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val floored = m(2L)
    // frequent doc: conditional −ln(c2/c1) = −ln(50/50) = 0
    assert(floored(0L) == 0.0)
    // singleton doc: backoff −ln(c(w2)/N) = ln(150), rounded to 4
    assert(math.abs(floored(60L) - 5.0106) < 1e-9)
    // minCount = 1 reproduces the pure conditional form: −ln(1/1) = 0
    assert(m(1L)(60L) == 0.0)
  }

  test("incremental components == from-scratch CC over the union; untouched rows stay") {
    // labels of the prior corpus: {1,2}->1, {10,11}->10, singleton 30
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (30L, 30L))
      .toDF("id", "keep_id")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 1: brand-new pair only — old components byte-untouched
    val b1 = m(Dedup.incrementalComponents(
      labels, Seq((20L, 21L)).toDF("id_a", "id_b")))
    assert(b1 == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 30L -> 30L,
      20L -> 20L, 21L -> 20L))
    // batch 2: a new doc bridges the two old components through a
    // NON-root member (11) — both components re-root to the global min
    val b2 = m(Dedup.incrementalComponents(
      labels, Seq((2L, 40L), (11L, 40L)).toDF("id_a", "id_b")))
    assert(b2 == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 40L -> 1L,
      30L -> 30L))
    // all-old no-op edges: labels unchanged, nothing added
    val b3 = m(Dedup.incrementalComponents(
      labels, Seq((1L, 2L)).toDF("id_a", "id_b")))
    assert(b3 == m(labels))
    // invariant on a real corpus: incremental over the batch split ==
    // from-scratch CC over the full LSH pair set
    val corpus = (0L until 12L).map { i =>
      val base = if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
      else if (i % 3 == 1) "some wholly unrelated document body number " + i
      else "the quick brown fox jumps over the lazy cat"
      (i, base)
    }.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val isNew = col("doc_id") >= 8
    val oldLabels = Dedup.connectedComponents(
      Dedup.lshCandidatePairs(sigs.filter(!isNew), "doc_id"))
    val newPairs = Dedup.lshCandidatePairsIncremental(sigs, "doc_id", isNew)
    val incr = m(Dedup.incrementalComponents(oldLabels, newPairs))
    val scratch = m(Dedup.connectedComponents(
      Dedup.lshCandidatePairs(sigs, "doc_id")))
    assert(incr == scratch)
  }

  test("incremental curation delta: new keeper displaces, joiner drops") {
    import graft.operators.Curation
    val oldL = Seq((5L, 5L), (7L, 5L), (9L, 9L)).toDF("id", "keep_id")
    // batch {0, 10}: 0 joins {5,7} with a smaller id (displaces keeper
    // 5); 10 joins {9} and drops
    val newL = Dedup.incrementalComponents(oldL,
      Seq((0L, 7L), (9L, 10L)).toDF("id_a", "id_b"))
    val delta = Curation.incrementalCurationDelta(oldL, newL,
      col("id") % 5 === 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(delta == Map(0L -> "new_keep", 10L -> "new_drop", 5L -> "displaced"))
  }

  test("ngram jaccard: identical docs = 1.0, near-dup high, ordered pairs") {
    val pairs = Seq((0L, 1L), (0L, 3L), (0L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 3L)) == 1.0)
    assert(j((0L, 1L)) > 0.5 && j((0L, 1L)) < 1.0)
    assert(!j.contains((0L, 2L))) // zero intersection drops out
  }

  test("pipeline cache lifecycle: clearCache leaves no persisted RDDs") {
    import graft.operators.TextPipelineQueries
    val d = "/root/testdata/sf0.001"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q17_minhash_signatures", "q18_dedup_minhash_lsh", "q19_ngram_jaccard",
      "q41_dedup_groups", "q42_embedding_dup_groups", "q43_ivf_topk_exact")
      .foreach(q => SparkEntry.queries(q)(spark, d).collect())
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
    TextPipelineQueries.clearCache(spark)
    // compare against `before`, not empty: other suites share the session
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "clearCache must unpersist every shared intermediate")
  }

  test("connected components: chains collapse to the component minimum") {
    // a long chain (diameter 7 → several propagation rounds), a small
    // clique, and a pair; unconnected docs never appear in the output
    val chain = (20L until 27L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L)))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (20L to 27L).foreach(i => assert(cc(i) == 20L, s"node $i"))
    Seq(1L, 2L, 3L).foreach(i => assert(cc(i) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(!cc.contains(99L))
  }

  test("connected components: diameter beyond the propagation budget converges (star fallback)") {
    // a 61-node path (diameter 60) with a tiny propagation budget —
    // min-label propagation cannot finish in 3 rounds, so the
    // large-star/small-star contraction must take over and still
    // label every node with the path minimum
    val path = (100L until 160L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(path, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 61)
    (100L to 160L).foreach(i => assert(cc(i) == 100L, s"node $i -> ${cc(i)}"))
    // and two separate deep chains stay separate components
    val two = ((200L until 230L).map(i => (i, i + 1)) ++
      (300L until 330L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val cc2 = Dedup.connectedComponents(two, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (200L to 230L).foreach(i => assert(cc2(i) == 200L))
    (300L to 330L).foreach(i => assert(cc2(i) == 300L))
  }

  test("decontamination flags benchmark overlap, broadcasts the bench side") {
    val bench = docs.filter($"doc_id" === 0L) // "eval set" = doc 0
    val corpus = docs.filter($"doc_id" > 0L)
    val out = Dedup.contamination(corpus, "doc_id", "text", bench, "text", 3)
    val hits = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(3L) == 7L) // exact dup: all 7 shingles overlap
    assert(hits(1L) == 6L) // near-dup: the changed last word is in 1 shingle
    assert(!hits.contains(2L)) // unrelated doc absent, not zero
    // the benchmark n-gram set must broadcast — the corpus side is
    // never shuffled on shingle strings
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sequence packing: distributed prefix sum equals the sequential rule") {
    import graft.operators.Packing
    // sparse, unordered ids across many partitions; budget 10
    val rng = new scala.util.Random(7)
    val rows = rng.shuffle((0 until 200).map(i => (i * 3L + 7, 1L + rng.nextInt(6))).toList)
    val df = rows.toDF("doc_id", "n_tokens").repartition(13)
    val out = Packing.packByBudget(df, "doc_id", "n_tokens", 10L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // sequential reference: exclusive prefix sum in id order
    var run = 0L
    rows.sortBy(_._1).foreach { case (id, tok) =>
      assert(out(id) == ((tok, run / 10L)), s"doc $id")
      run += tok
    }
    assert(out.size == 200)
    // first sequence starts at 0; seq ids are non-decreasing in id order
    assert(out(rows.map(_._1).min)._2 == 0L)
  }

  test("stableIds: dense 0-based rank in key order on gappy shuffled ids") {
    import graft.operators.Packing
    val rng = new scala.util.Random(11)
    val ids = rng.shuffle((0 until 300).map(i => i * 7L + 3).toList)
    val out = Packing.stableIds(ids.toDF("doc_id").repartition(9), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.sorted.zipWithIndex.foreach { case (id, i) =>
      assert(out(id) == i.toLong, s"id $id")
    }
    assert(out.size == 300)
  }

  test("sequence packing: empty and single-row inputs") {
    import graft.operators.Packing
    val empty = Packing.packByBudget(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 10L)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("doc_id", "n_tokens", "seq_id"))
    val one = Packing.packByBudget(
      Seq((5L, 25L)).toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 10L)
      .collect().head
    assert((one.getLong(0), one.getLong(1), one.getLong(2)) == ((5L, 25L, 0L)))
  }

  test("shard writer: deterministic bytes, intra-shard order, idempotent overwrite") {
    import graft.operators.Packing
    // packed layout with a payload column, sparse shuffled ids
    val rng = new scala.util.Random(3)
    val rows = rng.shuffle((0 until 120).map(i =>
      (i * 5L + 2, 1L + rng.nextInt(9), s"payload-${i * 5L + 2}")).toList)
    val packed = Packing.packByBudget(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 20L)
      .join(rows.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    val base = tempDir("shards")
    Packing.writeShards(packed, "doc_id", s"$base/a", seqsPerShard = 3L)
    Packing.writeShards(packed, "doc_id", s"$base/b", seqsPerShard = 3L)
    // idempotent overwrite: third write lands on a's path again
    Packing.writeShards(packed, "doc_id", s"$base/a", seqsPerShard = 3L)
    def shardFiles(root: String): Map[String, java.io.File] = {
      val dirs = new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      dirs.map { d =>
        val data = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(data.length == 1, s"${d.getName}: one data file per shard")
        d.getName -> data.head
      }.toMap
    }
    val (fa, fb) = (shardFiles(s"$base/a"), shardFiles(s"$base/b"))
    assert(fa.keySet == fb.keySet && fa.nonEmpty)
    // byte-identical across independent runs (and across the overwrite)
    fa.foreach { case (shard, f) =>
      val (ba, bb) = (java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fb(shard).toPath))
      assert(java.util.Arrays.equals(ba, bb), s"$shard bytes differ")
    }
    // intra-shard row order: ascending doc_id inside every data file
    fa.foreach { case (shard, f) =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select($"doc_id").as[Long].collect()
      assert(ids.toSeq == ids.sorted.toSeq, s"$shard rows out of order")
    }
    // nothing lost, nothing duplicated; sequences land whole
    val back = spark.read.parquet(s"$base/a")
    assert(back.count() == 120)
    assert(back.select($"seq_id", $"shard_id").distinct()
      .collect().forall(r => r.getLong(0) / 3L == r.getAs[Number](1).longValue()))
  }

  test("packSealed: greedy-by-start shard fill, per-shard sequence restart") {
    import graft.operators.Packing
    val rng = new scala.util.Random(13)
    val rows = rng.shuffle((0 until 180).map(i =>
      (i * 4L + 3, 1L + rng.nextInt(8))).toList)
    // budget 10, 3 seqs/shard -> capacity 30 tokens
    val out = Packing.packSealed(rows.toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = 10L, seqsPerShard = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // sequential reference: global prefix sum places the shard; the
    // sequence number restarts from the shard's own first doc
    var run = 0L
    var shardStart = Map.empty[Long, Long]
    rows.sortBy(_._1).foreach { case (id, tok) =>
      val shard = run / 30L
      val s0 = shardStart.getOrElse(shard, run)
      shardStart += shard -> s0
      assert(out(id) == ((shard, (run - s0) / 10L)), s"doc $id")
      run += tok
    }
    assert(out.size == 180)
    // every shard's sequences start at 0 — the sealed property
    val firstSeqs = out.values.groupBy(_._1).map { case (_, v) => v.map(_._2).min }
    assert(firstSeqs.forall(_ == 0L))
  }

  test("repairSealedShards: rewrites ONLY flagged shards; unflagged " +
    "bytes and mtimes pinned; emptied shard deleted") {
    import graft.operators.Packing
    val rng = new scala.util.Random(17)
    // dense-ish corpus: ~20 shards at capacity 30
    val rows = (0 until 120).map(i =>
      (i * 2L + 1, 3L + rng.nextInt(5), s"pay-${i * 2L + 1}"))
    val packed = Packing.packSealed(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = 10L, seqsPerShard = 3L)
      .join(rows.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    val base = tempDir("sealrep")
    Packing.writeByShardColumn(packed, "doc_id", s"$base/s")
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    val pre = files(s"$base/s")
    val preBytes = pre.map { case (sdir, f) =>
      sdir -> java.nio.file.Files.readAllBytes(f.toPath) }
    val preMtimes = pre.map { case (s, f) => s -> f.lastModified() }
    // flag two docs of ONE mid shard (one shrinks, one wholly cut),
    // plus EVERY doc of the last shard (wholly cut -> dir must go)
    val layout = packed.select($"doc_id", $"shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val midShard = 5L
    val lastShard = layout.values.max
    val midDocs = layout.filter(_._2 == midShard).keys.toSeq.sorted.take(2)
    val lastDocs = layout.filter(_._2 == lastShard).keys.toSeq
    val flagged = (midDocs ++ lastDocs).toDF("doc_id")
    // repaired: first mid doc shrinks to 1 token; everything else cut
    val repaired = Seq((midDocs.head, 1L, "repaired"))
      .toDF("doc_id", "n_tokens", "ids")
    Packing.repairSealedShards(spark, s"$base/s", flagged, repaired,
      "doc_id", budget = 10L)
    val post = files(s"$base/s")
    // the emptied last shard is GONE; the flagged mid shard remains
    assert(!post.contains(s"shard_id=$lastShard"))
    assert(post.contains(s"shard_id=$midShard"))
    assert(post.keySet == pre.keySet - s"shard_id=$lastShard")
    // unflagged shards: byte-identical AND mtime-pinned (never rewritten)
    post.foreach { case (sdir, f) =>
      if (sdir != s"shard_id=$midShard") {
        assert(java.util.Arrays.equals(
          java.nio.file.Files.readAllBytes(f.toPath), preBytes(sdir)),
          s"$sdir bytes changed")
        assert(f.lastModified() == preMtimes(sdir), s"$sdir was rewritten")
      }
    }
    // the repaired shard: membership frozen (minus the cut doc),
    // payload swapped, sequence layout recomputed from zero
    val back = spark.read.parquet(s"$base/s")
      .filter($"shard_id" === midShard)
      .select($"doc_id", $"n_tokens", $"seq_in_shard", $"ids")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1)
    val expectedMembers = layout.filter(_._2 == midShard).keys.toSeq.sorted
      .filterNot(_ == midDocs(1)) // wholly-cut doc gone
    assert(back.map(_._1).toSeq == expectedMembers)
    assert(back.find(_._1 == midDocs.head).get._4 == "repaired")
    var run = 0L
    back.foreach { case (id, tok, seq, _) =>
      assert(seq == run / 10L, s"doc $id seq")
      run += tok
    }
    // and a repair with an empty flag set is a no-op
    Packing.repairSealedShards(spark, s"$base/s",
      Seq.empty[Long].toDF("doc_id"), repaired, "doc_id", 10L)
  }

  test("appendSealedShards: lands at the from-scratch sealed layout, " +
    "rewrites only the last landed shard plus new ones") {
    import graft.operators.Packing
    val rng = new scala.util.Random(29)
    val rows = (0 until 150).map(i =>
      (i * 3L + 1, 1L + rng.nextInt(9), s"p-${i * 3L + 1}"))
    def sealedOf(rs: Seq[(Long, Long, String)]) =
      Packing.packSealed(rs.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
          "doc_id", "n_tokens", budget = 10L, seqsPerShard = 3L)
        .join(rs.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    val base = tempDir("sealinc")
    Packing.writeByShardColumn(sealedOf(rows), "doc_id", s"$base/full")
    val (old, batch) = rows.splitAt(120)
    Packing.writeByShardColumn(sealedOf(old), "doc_id", s"$base/incr")
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    val preMtimes = files(s"$base/incr")
      .map { case (s, f) => s -> f.lastModified() }
    Packing.appendSealedShards(
      batch.map(r => (r._1, r._2, r._3)).toDF("doc_id", "n_tokens", "ids"),
      "doc_id", "n_tokens", s"$base/incr", 10L, 3L)
    val (ff, fi) = (files(s"$base/full"), files(s"$base/incr"))
    assert(ff.keySet == fi.keySet && ff.nonEmpty)
    ff.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi(shard).toPath)),
        s"$shard differs from from-scratch")
    }
    // only the LAST pre-append shard may be rewritten
    val lastOld = preMtimes.keys.map(_.stripPrefix("shard_id=").toLong).max
    preMtimes.foreach { case (shard, t) =>
      if (shard.stripPrefix("shard_id=").toLong < lastOld)
        assert(fi(shard).lastModified() == t, s"$shard was rewritten")
    }
    // append-only contract enforced
    intercept[IllegalArgumentException] {
      Packing.appendSealedShards(Seq((old.head._1, 3L, "x"))
          .toDF("doc_id", "n_tokens", "ids"),
        "doc_id", "n_tokens", s"$base/incr", 10L, 3L)
    }
  }

  test("appendShards: lands at the from-scratch layout, rewrites only touched shards") {
    import graft.operators.Packing
    val rng = new scala.util.Random(5)
    val rows = (0 until 150).map(i =>
      (i * 3L + 1, 1L + rng.nextInt(9), s"p-${i * 3L + 1}"))
    def packedOf(rs: Seq[(Long, Long, String)], offset: Long = 0L) =
      Packing.packByBudget(rs.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
          "doc_id", "n_tokens", 25L, tokenOffset = offset)
        .join(rs.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    val base = tempDir("shinc")
    // reference: the whole corpus written from scratch
    Packing.writeShards(packedOf(rows), "doc_id", s"$base/full", 3L)
    // incremental: first 120 docs, then the id-suffix batch appended
    val (old, batch) = rows.splitAt(120)
    Packing.writeShards(packedOf(old), "doc_id", s"$base/incr", 3L)
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    val preMtimes = files(s"$base/incr")
      .map { case (s, f) => s -> f.lastModified() }
    Packing.appendShards(
      batch.map(r => (r._1, r._2, r._3)).toDF("doc_id", "n_tokens", "ids"),
      "doc_id", "n_tokens", s"$base/incr", 25L, 3L)
    val (ff, fi) = (files(s"$base/full"), files(s"$base/incr"))
    assert(ff.keySet == fi.keySet)
    // byte-identical to from-scratch, shard for shard
    ff.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi(shard).toPath)),
        s"$shard differs from from-scratch")
    }
    // untouched shards were not rewritten: same file, same mtime
    // (only the LAST old shard and the new ones may change)
    val lastOld = preMtimes.keys.map(_.stripPrefix("shard_id=").toLong).max
    preMtimes.foreach { case (shard, t) =>
      if (shard.stripPrefix("shard_id=").toLong < lastOld)
        assert(fi(shard).lastModified() == t, s"$shard was rewritten")
    }
    // append-only contract is enforced, not assumed
    intercept[IllegalArgumentException] {
      Packing.appendShards(Seq((old.head._1, 3L, "x"))
          .toDF("doc_id", "n_tokens", "ids"),
        "doc_id", "n_tokens", s"$base/incr", 25L, 3L)
    }
  }

  test("streaming shard sink: batches land at the from-scratch layout; " +
    "replayed batch skipped, shard bytes exactly once") {
    import graft.operators.Packing
    import graft.streaming.StreamingShards
    val rng = new scala.util.Random(11)
    val rows = (0 until 90).map(i =>
      (i * 2L + 1, 1L + rng.nextInt(9), s"p-${i * 2L + 1}"))
    val base = tempDir("shsink")
    // reference: whole corpus written from scratch
    val ref = Packing.packByBudget(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 25L)
      .join(rows.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    Packing.writeShards(ref, "doc_id", s"$base/full", 3L)
    // stream the same rows in two ordered batches — ONE file each
    // (the sink's append-only contract requires in-id-order arrival;
    // the file source orders same-mtime files by name, so multi-file
    // writes would interleave)
    val (b1, b2) = rows.splitAt(60)
    b1.toDF("doc_id", "n_tokens", "ids").coalesce(1)
      .write.parquet(s"$base/src")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.StringType)))
    def start() = StreamingShards.shardSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src"),
      s"$base/incr", "doc_id", "n_tokens", 25L, 3L, s"$base/ckpt")
    val q1 = start(); q1.processAllAvailable()
    assert(q1.exception.isEmpty, q1.exception); q1.stop()
    b2.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q2 = start(); q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception); q2.stop()
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    val (ff, fi) = (files(s"$base/full"), files(s"$base/incr"))
    assert(ff.keySet == fi.keySet && ff.nonEmpty)
    ff.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi(shard).toPath)),
        s"$shard differs from from-scratch")
    }
    // crash drill: wipe commits so the LAST batch replays on restart —
    // the id watermark must skip it and leave every shard byte alone
    prune(s"$base/ckpt", "commits", _ == "0")
    val pre = files(s"$base/incr")
      .map { case (s, f) => s -> f.lastModified() }
    val q3 = start(); q3.processAllAvailable()
    assert(q3.exception.isEmpty, q3.exception); q3.stop()
    val post = files(s"$base/incr")
    assert(post.keySet == ff.keySet)
    pre.foreach { case (shard, t) =>
      assert(post(shard).lastModified() == t, s"$shard rewritten on replay")
    }
    assert(spark.read.parquet(s"$base/incr").count() == 90)
  }

  test("sealed streaming shard sink: batches land at the from-scratch " +
    "sealed layout; replayed batch skipped, bytes exactly once") {
    import graft.operators.Packing
    import graft.streaming.StreamingShards
    val rng = new scala.util.Random(31)
    val rows = (0 until 90).map(i =>
      (i * 2L + 1, 1L + rng.nextInt(9), s"p-${i * 2L + 1}"))
    val base = tempDir("shsinkseal")
    Packing.writeByShardColumn(
      Packing.packSealed(rows.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
          "doc_id", "n_tokens", 25L, 3L)
        .join(rows.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id")),
      "doc_id", s"$base/full")
    val (b1, b2) = rows.splitAt(60)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.StringType)))
    def start() = StreamingShards.sealedShardSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src"),
      s"$base/incr", "doc_id", "n_tokens", 25L, 3L, s"$base/ckpt")
    b1.toDF("doc_id", "n_tokens", "ids").coalesce(1)
      .write.parquet(s"$base/src")
    val q1 = start(); q1.processAllAvailable()
    assert(q1.exception.isEmpty, q1.exception); q1.stop()
    b2.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q2 = start(); q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception); q2.stop()
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    val (ff, fi) = (files(s"$base/full"), files(s"$base/incr"))
    assert(ff.keySet == fi.keySet && ff.nonEmpty)
    ff.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi(shard).toPath)),
        s"$shard differs from from-scratch sealed layout")
    }
    // replay drill: wipe the second commit; the sink must skip the
    // replayed batch and leave every shard byte and mtime alone
    new java.io.File(s"$base/ckpt/commits").listFiles().toSeq
      .filterNot(_.getName.stripPrefix(".").stripSuffix(".crc") == "0")
      .foreach(f => assert(f.delete(), f.toString))
    val pre = files(s"$base/incr").map { case (s, f) => s -> f.lastModified() }
    val q3 = start(); q3.processAllAvailable()
    assert(q3.exception.isEmpty, q3.exception); q3.stop()
    files(s"$base/incr").foreach { case (s, f) =>
      assert(f.lastModified() == pre(s), s"$s rewritten on replay")
    }
    assert(spark.read.parquet(s"$base/incr").count() == 90)
  }

  test("streaming shard sink: crash recovery — a partially-landed batch " +
    "is repaired to the from-scratch bytes; a non-suffix overlap refuses " +
    "loudly without mutating files") {
    import graft.operators.Packing
    import graft.streaming.StreamingShards
    val rng = new scala.util.Random(23)
    val rows = (0 until 90).map(i =>
      (i * 2L + 1, 1L + rng.nextInt(9), s"p-${i * 2L + 1}"))
    val base = tempDir("shcrash")
    val ref = Packing.packByBudget(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 25L)
      .join(rows.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    Packing.writeShards(ref, "doc_id", s"$base/full", 3L)
    val (b1, b2) = rows.splitAt(60)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.StringType)))
    def start() = StreamingShards.shardSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src"),
      s"$base/incr", "doc_id", "n_tokens", 25L, 3L, s"$base/ckpt")
    b1.toDF("doc_id", "n_tokens", "ids").coalesce(1)
      .write.parquet(s"$base/src")
    val q1 = start(); q1.processAllAvailable()
    assert(q1.exception.isEmpty, q1.exception); q1.stop()
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    // SIMULATED CRASH: half of b2 lands on disk via a direct append
    // (no checkpoint commit, no sidecar update — exactly the state a
    // mid-append failure leaves), then the FULL batch arrives on the
    // stream. The sink must classify it as a crashed suffix, strip
    // the landed half, and re-append the whole batch.
    val (b2a, _) = b2.splitAt(15)
    Packing.appendShards(b2a.toDF("doc_id", "n_tokens", "ids"),
      "doc_id", "n_tokens", s"$base/incr", 25L, 3L)
    val preMtimes = files(s"$base/incr")
      .map { case (s, f) => s -> f.lastModified() }
    b2.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q2 = start(); q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception); q2.stop()
    val (ff, fi) = (files(s"$base/full"), files(s"$base/incr"))
    assert(ff.keySet == fi.keySet && ff.nonEmpty)
    ff.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi(shard).toPath)),
        s"$shard differs from from-scratch after crash recovery")
    }
    // shards the crash could not have touched were never rewritten
    val b1MaxId = b1.map(_._1).max
    val untouchable = preMtimes.keys
      .map(_.stripPrefix("shard_id=").toLong)
      .filter { s =>
        val ids = spark.read.parquet(s"$base/incr/shard_id=$s")
          .select($"doc_id").as[Long].collect()
        ids.max < b1MaxId && s < preMtimes.size - 2
      }
    untouchable.foreach { s =>
      assert(fi(s"shard_id=$s").lastModified() == preMtimes(s"shard_id=$s"),
        s"shard $s rewritten during recovery")
    }
    assert(spark.read.parquet(s"$base/incr").count() == 90)
    // a NON-suffix partial overlap (one genuinely old id re-sent among
    // fresh ones) refuses loudly and leaves every byte alone
    val preBytes = files(s"$base/incr").map { case (s, f) =>
      s -> java.nio.file.Files.readAllBytes(f.toPath) }
    val bad = Seq((b1.head._1, 3L, "x"),
      (rows.map(_._1).max + 2, 3L, "y"))
    bad.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q3 = start()
    val thrown = try { q3.processAllAvailable(); None }
      catch { case e: Exception => Some(e) }
    val msg = q3.exception.map(_.toString)
      .orElse(thrown.map(_.toString)).getOrElse("")
    assert(msg.contains("NOT an id-suffix"),
      s"non-suffix overlap must fail loudly; got: ${msg.take(500)}")
    q3.stop()
    files(s"$base/incr").foreach { case (s, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath), preBytes(s)),
        s"$s mutated by a refused repair")
    }
  }

  test("streaming shard sink: sidecar durability — a crash between " +
    "landing files and refreshing the sidecar heals on replay (next " +
    "append lands at the right offsets); a torn sidecar heals by " +
    "rescan instead of wiping the corpus") {
    import graft.operators.Packing
    import graft.streaming.StreamingShards
    val rng = new scala.util.Random(47)
    val rows = (0 until 90).map(i =>
      (i * 2L + 1, 1L + rng.nextInt(9), s"p-${i * 2L + 1}"))
    val base = tempDir("shside")
    val ref = Packing.packByBudget(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 25L)
      .join(rows.map(r => (r._1, r._3)).toDF("doc_id", "ids"), Seq("doc_id"))
    Packing.writeShards(ref, "doc_id", s"$base/full", 3L)
    val (b1, rest) = rows.splitAt(45)
    val (b2, b3) = rest.splitAt(25)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.StringType)))
    def start() = StreamingShards.shardSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/src"),
      s"$base/incr", "doc_id", "n_tokens", 25L, 3L, s"$base/ckpt")
    b1.toDF("doc_id", "n_tokens", "ids").coalesce(1)
      .write.parquet(s"$base/src")
    val q1 = start(); q1.processAllAvailable()
    assert(q1.exception.isEmpty, q1.exception); q1.stop()
    val sidecar = java.nio.file.Paths.get(s"$base/incr/_graft_landed")
    // SIMULATED CRASH shape 1: b2's data fully lands (direct append —
    // what a foreachBatch that died right before refreshSidecar leaves
    // behind, with the checkpoint uncommitted), sidecar still reads
    // the PRE-append stats
    val stale = java.nio.file.Files.readAllBytes(sidecar)
    Packing.appendShards(b2.toDF("doc_id", "n_tokens", "ids"),
      "doc_id", "n_tokens", s"$base/incr", 25L, 3L)
    java.nio.file.Files.write(sidecar, stale)
    // b2 re-arrives (the replay): every id already landed -> skip,
    // but the audit must repair the sidecar...
    b2.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q2 = start(); q2.processAllAvailable()
    assert(q2.exception.isEmpty, q2.exception); q2.stop()
    // ...so the NEXT (fresh) batch appends at the right global offsets
    b3.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q3 = start(); q3.processAllAvailable()
    assert(q3.exception.isEmpty, q3.exception); q3.stop()
    def files(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).head).toMap
    val (ff, fi) = (files(s"$base/full"), files(s"$base/incr"))
    assert(ff.keySet == fi.keySet && ff.nonEmpty)
    ff.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi(shard).toPath)),
        s"$shard differs from from-scratch after stale-sidecar replay")
    }
    // SIMULATED CRASH shape 2: a torn (empty) sidecar — a crashed
    // in-place writer's worst case. A fresh batch must HEAL by
    // rescan, not classify the layout as empty and overwrite it.
    java.nio.file.Files.write(sidecar, Array.empty[Byte])
    val extra = Seq((rows.map(_._1).max + 2, 4L, "z1"),
      (rows.map(_._1).max + 4, 5L, "z2"))
    extra.toDF("doc_id", "n_tokens", "ids").coalesce(1).write.mode("append")
      .parquet(s"$base/src")
    val q4 = start(); q4.processAllAvailable()
    assert(q4.exception.isEmpty, q4.exception); q4.stop()
    assert(spark.read.parquet(s"$base/incr").count() == 92,
      "torn sidecar must heal by rescan, not wipe the landed corpus")
    val refAll = Packing.packByBudget(
        (rows ++ extra).map(r => (r._1, r._2)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 25L)
      .join((rows ++ extra).map(r => (r._1, r._3)).toDF("doc_id", "ids"),
        Seq("doc_id"))
    Packing.writeShards(refAll, "doc_id", s"$base/full92", 3L)
    val (f92, fi2) = (files(s"$base/full92"), files(s"$base/incr"))
    assert(f92.keySet == fi2.keySet)
    f92.foreach { case (shard, f) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(fi2(shard).toPath)),
        s"$shard differs from from-scratch after torn-sidecar heal")
    }
  }

  test("simhash: identical docs equal, near-dups close in hamming") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(1L)) <= ham(h(0L), h(2L)))
    assert(h.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("simhashPairs: banded candidates, hamming verify, honest recall boundary") {
    val sims = Seq(
      (1L, 0x00FFL), (2L, 0x00FEL), // share the high byte; hamming 1
      (3L, 0x0F0FL), (4L, 0x0D0BL), // hamming 2, one bit per band
      (5L, 0xFF00L), (6L, 0xF800L), // share the low byte; hamming 3
      (7L, 0x0000L)                 // collides with both groups, hamming 8
    ).toDF("doc_id", "simhash")
    def run(bands: Int) =
      Dedup.simhashPairs(sims, "doc_id", bands = bands).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // bands=2: the pigeonhole guarantee (hamming <= bands-1) holds for
    // (1,2); (5,6) at hamming 3 surfaces because its bits cluster in
    // one band; (3,4) at hamming 2 split across BOTH bands is the
    // documented miss; 7's collisions die in the hamming verify
    assert(run(2) == Set((1L, 2L, 1L), (5L, 6L, 3L)))
    // more bands buy the missed pair back: at bands=4, (3,4) leaves
    // two nibbles untouched and becomes a candidate
    assert(run(4) == Set((1L, 2L, 1L), (3L, 4L, 2L), (5L, 6L, 3L)))
  }

  test("exactIncrementalDups: batch joins the corpus digest table, canonical id wins") {
    val corpus = Seq((3L, "aaa"), (2L, "bbb"), (1L, "aaa")).toDF("doc_id", "text")
    val batch = Seq((10L, "aaa"), (11L, "ccc")).toDF("doc_id", "text")
    val out = Dedup.exactIncrementalDups(corpus, batch, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 duplicates the corpus "aaa" group, whose canonical id is the
    // group MIN (1, not 3); 11 is new text and is absent
    assert(out == Set((10L, 1L)))
  }

  test("cosine: orthogonal = 0, identical = 1") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(1f, 2f)),
      (Array(1f, 0f), Array(-1f, 0f))
    ).toDF("a", "b")
    val cos = df.select(round(VectorFunctions.cosine($"a", $"b"), 9)).as[Double].collect()
    assert(cos.toSeq == Seq(0.0, 1.0, -1.0))
  }

  test("native cosine expression: bit-identical to composed form, null-safe") {
    val rng = new scala.util.Random(7)
    val pairs = Seq.fill(50)((Array.fill(16)(rng.nextFloat() * 2 - 1),
      Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = pairs.toDF("a", "b")
    val both = df.select(
      VectorFunctions.cosine($"a", $"b").as("native"),
      VectorFunctions.cosineComposed($"a", $"b").as("composed")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact ==
    // null array and length mismatch → null, like zip_with propagation
    val edge = Seq((Array(1f, 2f), null: Array[Float]),
      (Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b").as("c")).collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("brute force topk returns k rows per query, ranked desc") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0.8f, 0.2f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .orderBy($"rk").collect()
    assert(top.map(_.getAs[Long]("n_id")).toSeq == Seq(1L, 3L))
  }

  test("char-ngram language id detects distinct real sentences") {
    import graft.functions.LangId
    assert(LangId.detect("the weather is nice today and we should go outside") == "en")
    assert(LangId.detect("le temps est beau aujourd'hui et nous devrions sortir") == "fr")
    assert(LangId.detect("el clima está agradable hoy y deberíamos salir afuera") == "es")
    assert(LangId.detect("das wetter ist heute schön und wir sollten rausgehen") == "de")
    assert(LangId.detect("") == "und")
    assert(LangId.detect(null) == "und")
    // distributed form over a DataFrame column
    val out = Seq("the dog is here", "le chien est ici").toDF("text")
      .select(LangId.langIdUdf($"text").as("lang")).as[String].collect()
    assert(out.toSeq == Seq("en", "fr"))
  }

  test("registered SQL functions: blake2b, cosine_sim, lang_id") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       blake2b(CAST('abc' AS BINARY)) AS h,
        |       lang_id('the weather is nice today and we should go out') AS l
        |""".stripMargin).head()
    assert(r.getAs[Double]("c") == 1.0)
    // RFC 7693 appendix A digest of "abc"
    assert(r.getAs[String]("h").startsWith("ba80a53f981c4d0d"))
    assert(r.getAs[String]("l") == "en")
  }

  test("registered SQL functions: shingles, positioned_shingles " +
    "(LATERAL VIEW generator), hll_registers_agg (aggregate)") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq((1L, "a b c d")).toDF("id", "text")
      .createOrReplaceTempView("g_sql_fn_docs")
    val sh = spark.sql(
      "SELECT shingles(text, 3) AS s FROM g_sql_fn_docs")
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val gen = spark.sql(
      """SELECT id, pos, ngram FROM g_sql_fn_docs
        |LATERAL VIEW positioned_shingles(text, 2) t AS pos, ngram
        |""".stripMargin).as[(Long, Int, String)].collect().toSeq
    assert(gen == Seq((1L, 0, "a b"), (1L, 1, "b c"), (1L, 2, "c d")))
    // aggregate path through SQL: registers of two distinct hashes
    val regs = spark.sql(
      """SELECT hll_registers_agg(h, 6, 30) AS r FROM (
        |  SELECT CAST(conv(substr(md5(x), 1, 12), 16, 10) AS BIGINT) AS h
        |  FROM VALUES ('u'), ('v'), ('u') AS t(x))
        |""".stripMargin).as[Seq[Long]].head()
    assert(regs.length == 64 && regs.count(_ > 0L) == 2)
  }

  test("positioned_shingles generator: short/empty/null inputs yield " +
    "zero rows, multi-space runs collapse like ShingleKernel") {
    import graft.functions.PositionedShingles.positionedShingles
    val df = Seq((1L, "a b"), (2L, ""), (3L, null),
      (4L, "  x  y z  ")).toDF("id", "text")
    val out = df.select($"id",
        positionedShingles($"text", 3).as(Seq("pos", "ngram")))
      .as[(Long, Int, String)].collect().toSet
    // ids 1 (too short), 2 (empty), 3 (null) generate nothing;
    // id 4 trims + collapses runs to (x y z)
    assert(out == Set((4L, 0, "x y z")))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq("Hello  World", "hello world").toDF("text")
      .select(TextFunctions.fingerprint($"text").as("fp"))
    assert(df.distinct().count() == 1)
  }

  test("contaminationFraction: graded overlap incl. zero-hit rows; bench side broadcasts") {
    val bench = Seq((100L, "w x y z")).toDF("doc_id", "text") // shingles: wxy xyz
    val corpus = Seq(
      (0L, "w x y z q"),   // shingles wxy xyz yzq -> 2/3 hit
      (1L, "a b c d"),     // 0/2 hit — must still appear
      (2L, "w x y")        // 1/1 hit
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationFraction(corpus, "doc_id", "text", bench, "text", 3)
    val rows = out.select($"doc_id", $"n_sh", $"n_hit", $"frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(rows(0L) == ((0L, 3L, 2L, 0.6667)))
    assert(rows(1L) == ((1L, 2L, 0L, 0.0)))
    assert(rows(2L) == ((2L, 1L, 1L, 1.0)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bm25: closed-form score, tf saturation and length normalization") {
    import graft.operators.Retrieval
    val docs = Seq(
      (0L, "cat sat"),              // tf=1, dl=2
      (1L, "cat cat cat cat"),      // tf=4, dl=4
      (2L, "dog ran far away home") // no match, dl=5
    ).toDF("doc_id", "text")
    val queries = Seq((7L, "cat")).toDF("q_id", "q_text")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "q_id", "q_text", k = 10)
      .select($"q_id", $"doc_id", $"score", $"rk")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(out.map(_._2).toSeq == Seq(1L, 0L)) // doc2 absent: no match
    // closed form: n=3, df=2, avgdl=11/3; idf = ln((3-2+0.5)/(2+0.5)+1)
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
    def s(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (11.0 / 3)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.find(_._2 == 0L).get._3 == r4(s(1, 2)))
    assert(out.find(_._2 == 1L).get._3 == r4(s(4, 4)))
    // saturation: 4x the tf is well under 4x the score
    assert(s(4, 4) < 2.5 * s(1, 4))
  }

  test("bm25 plan: query terms broadcast; no vocabulary-wide frequency table") {
    import graft.operators.Retrieval
    val docs = Seq((0L, "a b"), (1L, "b c")).toDF("doc_id", "text")
    val queries = Seq((0L, "b")).toDF("q_id", "q_text")
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "q_id", "q_text", 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("minhashCalibration: exact dup estimates 1.0; errors bounded by sketch variance") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i % 5 == 0) s"x$i" else s"w$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, near)).toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(
      Dedup.signaturesFromShingles(sh, "doc_id"), "doc_id")
    val out = Dedup.minhashCalibration(sh, pairs, "doc_id")
      .select($"id_a", $"id_b", $"est", $"jaccard", $"abs_err")
      .as[(Long, Long, Double, Double, Double)].collect()
    val exactDup = out.find(r => r._1 == 0L && r._2 == 1L).get
    assert(exactDup._3 == 1.0 && exactDup._4 == 1.0 && exactDup._5 == 0.0)
    // estimates are quarters of 1/8 and live in [0,1]
    assert(out.forall(r => r._3 >= 0 && r._3 <= 1 &&
      math.abs(r._3 * 8 - math.round(r._3 * 8)) < 1e-9))
    // k=8 sketch: per-pair error can reach ~2σ = 2·√(J(1−J)/8) ≈ 0.35
    assert(out.forall(_._5 <= 0.5), out.mkString(","))
  }

  test("rrfFuse: both-list docs outrank single-list docs; exact scores; ties by id") {
    import graft.operators.Retrieval
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("q_id", "doc_id", "rk")
    val b = Seq((0L, 10L, 2L), (0L, 12L, 1L)).toDF("q_id", "doc_id", "rk")
    val out = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .select($"doc_id", $"rrf", $"rk")
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) == ((10L, r6(1.0 / 61 + 1.0 / 62), 1L))) // in both lists
    // 11 (rank 2 in a) and 12 (rank 1 in b): 1/61 > 1/62
    assert(out(1) == ((12L, r6(1.0 / 61), 2L)))
    assert(out(2) == ((11L, r6(1.0 / 62), 3L)))
  }

  test("duplicatedNgramFraction weights by occurrences, not distinct types") {
    val corpus = Seq(
      (0L, "p q r p q r s t u"), // shingles: pqr qrp rpq pqr qrs rst stu -> pqr x2 shared
      (1L, "p q r z z z"),       // pqr shared; qrz rzz zzz unique
      (2L, "m n o m n o m n o")  // self-repeated mno x3... but only 1 doc -> df=1
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedNgramFraction(corpus, "doc_id", "text", 3, 2)
      .select($"doc_id", $"n_occ", $"n_dup", $"frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // doc0: 7 occurrences, 'p q r' occurs twice and is shared with doc1
    assert(out(0L)._2 == 7L && out(0L)._3 == 2L)
    assert(out(1L)._2 == 4L && out(1L)._3 == 1L)
    // doc2's repeats live in one doc only: df=1 < minDocs -> no dup mass
    assert(out(2L)._3 == 0L)
  }

  test("containment: a truncated subset scores 1.0 where Jaccard is diluted") {
    // doc 1 is the first half of doc 0 (a truncated re-crawl): every
    // shingle of 1 appears in 0, so contain_a(1 in pair (1,?)) ...
    // pairs are (id_a < id_b) so (0,1): contain_b = |A∩B|/|B| = 1.0
    val big = (0 until 40).map(i => s"w$i").mkString(" ")
    val small = (0 until 20).map(i => s"w$i").mkString(" ")
    val df = Seq((0L, big), (1L, small)).toDF("doc_id", "text")
    val sh = Dedup.shingleTable(df, "doc_id", "text", 3)
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val r = Dedup.containmentFromShingles(sh, pairs, "doc_id").head()
    // shingles: big has 38, small 18, all of small's are in big
    assert(r.getAs[Double]("contain_b") == 1.0)
    assert(r.getAs[Double]("contain_a") == math.rint(18.0 / 38.0 * 10000) / 10000)
    assert(r.getAs[Double]("jaccard") == math.rint(18.0 / 38.0 * 10000) / 10000)
    // symmetric Jaccard alone would read ~0.47 ("not a dup") for a
    // pair where one side is literally contained in the other
    assert(r.getAs[Double]("jaccard") < 0.5 && r.getAs[Double]("contain_b") >= 1.0)
  }

  test("tokenEntropyPerKey: uniform = ln(vocab), constant = 0, per key") {
    import graft.operators.Surprisal
    val df = Seq(
      ("uni", "a b c d"),          // 4 tokens once each -> ln 4
      ("mono", "x x x x x"),       // one token -> 0
      ("skew", "y y y z")          // H = ln4 - (3 ln3)/4
    ).toDF("source", "text")
    val out = Surprisal.tokenEntropyPerKey(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("uni") == ((4L, 4L, math.rint(math.log(4) * 10000) / 10000)))
    assert(out("mono") == ((1L, 5L, 0.0)))
    val hSkew = math.log(4) - 3 * math.log(3) / 4
    assert(out("skew") == ((2L, 4L, math.rint(hSkew * 10000) / 10000)))
  }

  test("evalRanked: known precision/recall/MRR, no-relevant and no-hit edges") {
    import graft.operators.Retrieval
    val ranked = Seq(
      // q0: relevant doc first -> MRR 1.0; 2 of 3 judged docs in top-3
      (0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      // q1: first hit at rank 2
      (1L, 20L, 1L), (1L, 21L, 2L),
      // q2: no relevant docs at all
      (2L, 30L, 1L)).toDF("q_id", "doc_id", "rk")
    val judged = Seq((0L, 10L), (0L, 12L), (0L, 99L),
      (1L, 21L)).toDF("q_id", "doc_id")
    val out = Retrieval.evalRanked(ranked, judged, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out(0L) == ((2L, 3L, 0.6667, 0.6667, 1.0)))
    assert(out(1L) == ((1L, 1L, 0.3333, 1.0, 0.5)))
    assert(out(2L) == ((0L, 0L, 0.0, 0.0, 0.0)))
  }

  test("centroid sums merge: incremental == from-scratch on exact-integer data") {
    val rows = Seq((0L, 0L, Array(1f, 2f)), (1L, 0L, Array(3f, 6f)),
      (2L, 1L, Array(2f, 0f)), (3L, 1L, Array(0f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val scratch = Similarity.labelCentroids(rows, "label", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    val merged = Similarity.centroidsFromSums(
      Similarity.mergeCentroidSums(
        Similarity.centroidSums(rows.filter($"vec_id" % 2 === 0), "label", "embedding"),
        Similarity.centroidSums(rows.filter($"vec_id" % 2 =!= 0), "label", "embedding"),
        "label"), "label")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(merged == scratch)
    assert(scratch(0L) == List(2.0, 4.0))
    assert(scratch(1L) == List(1.0, 1.0))
  }

  test("exactSubstringSpans: planted span found, maximal, correctly placed") {
    // docs 0 and 1 share tokens 3..11 of doc 0 (= positions 2..10 of
    // doc 1): a 9-token verbatim run; doc 2 is unrelated.
    val shared = "one two three four five six seven eight nine"
    val d = Seq(
      (0L, s"aa bb cc $shared zz"),
      (1L, s"xx yy $shared qq rr"),
      (2L, "totally different words in this document here right now ok"))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(d, "doc_id", "text",
      n = 5, minLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(spans.toSeq == Seq((0L, 1L, 3L, 2L, 9L)))
  }

  test("exactSubstringSpans: below minLen is silent; within-doc repeats don't pair") {
    val d = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "z z a b c d e f z z")) // shares only 6 tokens (< minLen 8)
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(d, "doc_id", "text", n = 5, minLen = 8)
    assert(spans.count() == 0)
    // lower the bar and the 6-token span appears with exact bounds
    val found = Dedup.exactSubstringSpans(d, "doc_id", "text", n = 5, minLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(found.toSeq == Seq((0L, 1L, 0L, 2L, 6L)))
  }

  test("spanCoverage: overlapping spans count positions once; span-free docs 0.0") {
    // doc 0 (10 tokens) carries two overlapping spans covering
    // positions 0..5 and 3..8 -> 9 distinct covered positions, not 12
    val d = Seq((0L, "a b c d e f g h i j"), (1L, "k l m n o"))
      .toDF("doc_id", "text")
    val spans = Seq((0L, 9L, 0L, 0L, 6L), (0L, 9L, 3L, 2L, 6L))
      .toDF("doc_a", "doc_b", "start_a", "start_b", "len")
    val byId = Dedup.spanCoverage(d, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byId(0L) == ((10L, 0.9)))
    assert(byId(1L) == ((5L, 0.0))) // doc 9 absent from input df: ignored
  }

  test("exactSubstringSpans: hot n-gram cap prunes boilerplate instead of exploding") {
    // 30 docs share one boilerplate sentence; 2 docs share a rare one.
    val boiler = "this page is generated automatically do not edit it"
    val rare = "only these two documents share this exact phrase here"
    val d = ((0 until 30).map(i => (i.toLong, s"filler$i $boiler")) ++
      Seq((100L, s"aa $rare"), (101L, s"bb $rare")))
      .toDF("doc_id", "text")
    val unbounded = Dedup.exactSubstringSpans(d, "doc_id", "text",
      n = 5, minLen = 8, maxOccurrences = Int.MaxValue)
    assert(unbounded.count() == 30L * 29 / 2 + 1) // quadratic without the cap
    val capped = Dedup.exactSubstringSpans(d, "doc_id", "text",
      n = 5, minLen = 8, maxOccurrences = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(capped.toSeq == Seq((100L, 101L, 9L))) // rare span survives
  }

  test("incremental spans complete the full span set; old-old pairs excluded") {
    // docs 0,1 (old) and 5 (new) share a 9-token phrase; doc 2 is
    // unrelated. Incremental must report exactly the new-member pairs
    // and union with the old corpus's own spans to the full set.
    val shared = "one two three four five six seven eight nine"
    val d = Seq(
      (0L, s"aa bb $shared zz"),
      (1L, s"xx $shared yy"),
      (2L, "totally different words in this document here right now ok"),
      (5L, s"$shared qq rr ss"))
      .toDF("doc_id", "text")
    val ng = Dedup.positionedNgrams(d, "doc_id", "text", 5)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val inc = Dedup.spansIncrementalFromNgrams(ng, "doc_id",
      col("doc_id") >= 5L).collect().map(key).toSet
    assert(inc.map(p => (p._1, p._2)) == Set((0L, 5L), (1L, 5L))) // no (0,1)
    val oldOnly = Dedup.exactSubstringSpans(
      d.filter(col("doc_id") < 5L), "doc_id", "text").collect().map(key).toSet
    assert(oldOnly.map(p => (p._1, p._2)) == Set((0L, 1L)))
    val full = Dedup.exactSubstringSpans(d, "doc_id", "text")
      .collect().map(key).toSet
    assert(inc ++ oldOnly == full) // the invariant that makes it sound
  }

  test("removeSpans: canonical copy kept, others cut; re-detection finds nothing") {
    // three docs share a 9-token phrase (min doc 0 keeps it), doc 3
    // is untouched, doc 4 is wholly contained in doc 0.
    val shared = "one two three four five six seven eight nine"
    val d = Seq(
      (0L, s"aa bb $shared zz"),
      (1L, s"xx $shared yy"),
      (2L, s"$shared qq rr ss"),
      (3L, "totally different words in this document here right now ok"),
      (4L, s"bb $shared zz")) // == doc 0 positions 1..11
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(d, "doc_id", "text",
      n = 5, minLen = 8)
    val cleaned = Dedup.removeSpans(d, "doc_id", "text", spans)
    val byId = cleaned.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(byId(0L) == ((s"aa bb $shared zz", 0L))) // global min: canonical
    assert(byId(1L) == (("xx yy", 9L)))
    assert(byId(2L) == (("qq rr ss", 9L)))
    assert(byId(3L) == (("totally different words in this document here right now ok", 0L)))
    assert(byId(4L) == (("", 11L))) // wholly contained -> empty, kept as a row
    // the shipped guarantee: span detection over the cleaned corpus is silent
    assert(Dedup.exactSubstringSpans(
      cleaned.select(col("doc_id"), col("text_clean").as("text")),
      "doc_id", "text", n = 5, minLen = 8).count() == 0)
  }

  test("spansAgainstReference: ref×corpus only; corpus-corpus overlap survives") {
    // ref doc 0 shares `bench` with corpus docs 20/21; corpus docs
    // 20/22 also share `dup` with EACH OTHER only — decontamination
    // must cut `bench` from the corpus and leave `dup` alone (that
    // overlap is q124's dedup problem, not contamination).
    val bench = "b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val dup = "d1 d2 d3 d4 d5 d6 d7 d8 d9"
    val d = Seq(
      (0L, s"ref head $bench ref tail"),
      (1L, "other eval doc with its own words entirely here now"),
      (20L, s"aa $bench zz $dup"),
      (21L, s"$bench qq rr ss"),
      (22L, s"xx yy $dup ww"))
      .toDF("doc_id", "text")
    val ng = Dedup.positionedNgrams(d, "doc_id", "text", 5)
    val spans = Dedup.spansAgainstReference(ng, "doc_id", col("doc_id") < 20L)
    val pairs = spans.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 20L), (0L, 21L))) // no ref-ref, no corpus-corpus
    val cleaned = Dedup.removeSpans(d.filter(col("doc_id") >= 20L),
      "doc_id", "text",
      spans.select(col("ref_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("start_ref").as("start_a"), col("start").as("start_b"),
        col("len")))
    val byId = cleaned.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(byId.keySet == Set(20L, 21L, 22L)) // ref docs never rewritten
    assert(byId(20L) == ((s"aa zz $dup", 9L))) // bench cut, dup kept
    assert(byId(21L) == (("qq rr ss", 9L)))
    assert(byId(22L) == ((s"xx yy $dup ww", 0L))) // untouched passthrough
    // shipped guarantee: re-probing the cleaned corpus against the
    // reference is silent
    val ng2 = Dedup.positionedNgrams(
      d.filter(col("doc_id") < 20L).unionAll(
        cleaned.select(col("doc_id"), col("text_clean").as("text"))),
      "doc_id", "text", 5)
    assert(Dedup.spansAgainstReference(ng2, "doc_id",
      col("doc_id") < 20L).count() == 0)
  }

  test("longestIntraRepeat: loop length found; hot cap kills the degenerate doc") {
    val loop = "l1 l2 l3 l4 l5 l6 l7"
    val d = Seq(
      (0L, s"head $loop middle bit $loop tail words here"),
      (1L, "no internal repetition in this document at all today ok"),
      (2L, Seq.fill(80)("a").mkString(" "))) // degenerate: one token x80
      .toDF("doc_id", "text")
    val out = Dedup.longestIntraRepeat(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 7L) // the injected 7-token loop
    assert(out(1L) == 0L)
    // the single 5-gram of doc 2 occurs 76 times > cap: excluded
    // BEFORE the quadratic within-doc pairing — reported 0, by design
    assert(out(2L) == 0L)
  }

  test("removeSpans: overlapping cut ranges union, positions counted once") {
    // doc 1 loses [0,6) to doc 0 and [3,9) to a second span: 9
    // distinct positions cut, one survivor token.
    val d = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i k"))
      .toDF("doc_id", "text")
    val spans = Seq((0L, 1L, 0L, 0L, 6L), (0L, 1L, 3L, 3L, 6L))
      .toDF("doc_a", "doc_b", "start_a", "start_b", "len")
    val byId = Dedup.removeSpans(d, "doc_id", "text", spans).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(byId(0L) == (("a b c d e f g h i j", 0L)))
    assert(byId(1L) == (("k", 9L)))
  }
}
