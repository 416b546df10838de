package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

class CurationSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- PII redaction ----

  test("redactPii scrubs emails, phones, IPs and long ids; leaves short numbers") {
    val out = Seq(
      "mail bob.smith+x@corp.example.org now",
      "call 415-555-1234 or 415.555.9876",
      "host 192.168.0.1 up",
      "ssn-ish 123456789 and card 4111111111111111",
      "year 2024 room 101 stays").toDF("text")
      .select(Curation.redactPii($"text").as("t")).as[String].collect()
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "call <PHONE> or <PHONE>")
    assert(out(2) == "host <IP> up")
    assert(out(3) == "ssn-ish <ID> and card <ID>")
    assert(out(4) == "year 2024 room 101 stays") // <9 digits untouched
  }

  test("redaction order: IPs are not half-eaten by the phone or id rules") {
    val out = Seq("ip 10.0.34.7 phone 555-010-0034 id 9000000034")
      .toDF("text").select(Curation.redactPii($"text").as("t"))
      .as[String].head()
    assert(out == "ip <IP> phone <PHONE> id <ID>", out)
    val counted = Seq(out).toDF("t")
      .select(Curation.redactionCount($"t")).as[Long].head()
    assert(counted == 3L)
  }

  test("redaction is a pure projection: no exchange in the plan") {
    val df = Seq("a@b.co").toDF("text").select(Curation.redactPii($"text"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  // ---- boilerplate line removal ----

  private def linedDocs = Seq(
    (0L, "unique zero\nall rights reserved\nfooter"),
    (1L, "unique one\nall rights reserved\nfooter"),
    (2L, "unique two\nall rights reserved\nfooter"),
    (3L, "all rights reserved\nfooter") // nothing unique -> disappears
  ).toDF("doc_id", "text")

  test("dropBoilerplateLines drops corpus-wide lines, keeps unique lines in order") {
    val out = Curation.dropBoilerplateLines(linedDocs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L)) // doc 3 fully boilerplate
    assert(out(0L) == ("unique zero", 1L))
    assert(out(1L) == ("unique one", 1L))
  }

  test("dropBoilerplateLines preserves multi-line order after the drop") {
    val df = Seq(
      (0L, "keep a\ncommon\nkeep b\nkeep c"),
      (1L, "common\nother one"),
      (2L, "common\nother two")).toDF("doc_id", "text")
    val r = Curation.dropBoilerplateLines(df, "doc_id", "text", minDocs = 3)
      .filter($"doc_id" === 0L).head()
    assert(r.getString(1) == "keep a\nkeep b\nkeep c")
    assert(r.getLong(2) == 3L)
  }

  test("document-frequency counts distinct docs, not occurrences") {
    // "rep" appears 3 times but in only ONE doc -> must survive minDocs=3
    val df = Seq(
      (0L, "rep\nrep\nrep"),
      (1L, "solo")).toDF("doc_id", "text")
    val out = Curation.dropBoilerplateLines(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "rep\nrep\nrep")
  }

  // ---- paragraph-grain dedup ----

  test("dropRepeatedParagraphs catches case/spacing near-dup paragraphs") {
    val df = Seq(
      (0L, "intro zero\n\nSubscribe To Our Newsletter\n\nbody zero"),
      (1L, "intro one\n\nsubscribe  to  our newsletter\n\nbody one"),
      (2L, "intro two\n\nSUBSCRIBE TO OUR NEWSLETTER"),
      (3L, "Subscribe To Our Newsletter") // all-boilerplate -> disappears
    ).toDF("doc_id", "text")
    val out = Curation.dropRepeatedParagraphs(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    // the three case/spacing variants canonicalize together and drop;
    // survivors keep their ORIGINAL text and order
    assert(out(0L) == ("intro zero\n\nbody zero", 2L))
    assert(out(1L) == ("intro one\n\nbody one", 2L))
    assert(out(2L) == ("intro two", 1L))
    // exact line hashing would NOT have merged the variants: each
    // raw form occurs in only one doc
    val lineGrain = Curation.dropBoilerplateLines(df, "doc_id", "text", minDocs = 3)
    assert(lineGrain.agg(sum($"n_kept")).head().getLong(0) >
      out.values.map(_._2).sum)
  }

  // ---- quality gate ----

  test("gopherQuality gates on word count, mean length and stopword diversity") {
    val long = ("the of and " * 20) + Seq.fill(40)("substance").mkString(" ")
    val df = Seq(
      (0L, long),              // 100 words, >=2 distinct stopwords
      (1L, "too short to pass"),
      (2L, Seq.fill(60)("nostopwordshere").mkString(" "))).toDF("doc_id", "text")
    val out = Curation.gopherQuality(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out(0L)); assert(!out(1L)); assert(!out(2L))
    // failure reasons are inspectable, not just the composite bit
    val r2 = Curation.gopherQuality(df, "doc_id", "text")
      .filter($"doc_id" === 2L).head()
    assert(r2.getAs[Long]("n_stop_distinct") == 0L)
    assert(r2.getAs[Long]("n_words") == 60L)
  }

  // ---- deterministic mixing ----

  private def sourcedDocs = (0L until 400L).map(i => (i, s"src${i % 4}"))
    .toDF("doc_id", "source")

  test("mixBySource: integer weights duplicate exactly; zero weight drops all") {
    val out = Curation.mixBySource(sourcedDocs, "doc_id", "source",
      Map("src0" -> 2.0, "src1" -> 0.0), defaultWeight = 1.0)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == 200L) // 100 docs x 2 copies
    assert(!bySrc.contains("src1"))
    assert(bySrc("src2") == 100L && bySrc("src3") == 100L)
    // copy_idx enumerates copies
    val idx = out.filter($"source" === "src0").groupBy("copy_idx").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idx == Map(1L -> 100L, 2L -> 100L))
  }

  test("mixBySource: fractional weights sample deterministically near the rate") {
    val run1 = Curation.mixBySource(sourcedDocs, "doc_id", "source",
      Map("src0" -> 0.25), defaultWeight = 0.0)
    val n = run1.count()
    assert(n > 10 && n < 40, s"~25 of 100 expected, got $n")
    // reproducible: identical membership on a second evaluation
    val run2 = Curation.mixBySource(sourcedDocs, "doc_id", "source",
      Map("src0" -> 0.25), defaultWeight = 0.0)
    assert(run1.select("doc_id", "copy_idx").except(
      run2.select("doc_id", "copy_idx")).isEmpty)
    // 1.5 = everyone once, about half twice
    val w15 = Curation.mixBySource(sourcedDocs.filter($"source" === "src0"),
      "doc_id", "source", Map("src0" -> 1.5))
    val c = w15.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(c.forall(x => x == 1L || x == 2L))
    assert(c.count(_ == 2L) > 25 && c.count(_ == 2L) < 75)
  }

  test("mixBySource: fraction rounding to 1.0 keeps ~all extra copies") {
    // frac = 0.9999999 rounds to 0x10000; the threshold must clamp to
    // the 4-char "ffff" (not format as "10000", which lexicographically
    // matches only ~6% of hashes) so ~every row gets its second copy
    val w2 = Curation.mixBySource(sourcedDocs.filter($"source" === "src0"),
      "doc_id", "source", Map("src0" -> 1.9999999))
    val c = w2.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(c.length == 100)
    assert(c.count(_ == 2L) >= 99, s"expected ~100 doubled, got ${c.count(_ == 2L)}")
  }

  test("mixBySource is shuffle-free (pure projection + explode)") {
    val df = Curation.mixBySource(sourcedDocs, "doc_id", "source",
      Map("src0" -> 2.0))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  // ---- per-source contribution cap ----

  test("capPerSource keeps exactly N per source, deterministically") {
    val out = Curation.capPerSource(sourcedDocs, "doc_id", "source", maxDocs = 30)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.forall(_ == 30L)) // 100 docs/source capped to 30
    assert(out.agg(max($"src_rank")).head().getLong(0) == 30L)
    // reproducible: a second evaluation keeps the identical doc set
    val again = Curation.capPerSource(sourcedDocs, "doc_id", "source", 30)
    assert(out.select("doc_id").except(again.select("doc_id")).isEmpty)
    // a source under the cap survives whole
    val small = Curation.capPerSource(
      sourcedDocs.filter($"doc_id" < 10), "doc_id", "source", 30)
    assert(small.count() == 10)
    // the hash ranking is a draw, not a prefix: kept ids are not just
    // the lowest ids of each source
    val keptSrc0 = out.filter($"source" === "src0")
      .select("doc_id").as[Long].collect().toSet
    val lowest30 = sourcedDocs.filter($"source" === "src0")
      .orderBy("doc_id").limit(30).select("doc_id").as[Long].collect().toSet
    assert(keptSrc0 != lowest30)
  }

  test("capPerSource plans exactly one exchange (the source grouping)") {
    val df = Curation.capPerSource(sourcedDocs, "doc_id", "source", 30)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected the single window shuffle:\n$plan")
  }

  // ---- keep-one materialization ----

  test("capPerSourceScalable == capPerSource row-for-row on a skewed corpus") {
    // one pathologically hot source (5000 rows) beside small ones
    val rows = (0L until 5000L).map(i => (i, "hot")) ++
      (5000L until 5100L).map(i => (i, "s" + (i % 3)))
    val df = rows.toDF("doc_id", "source")
    def m(out: org.apache.spark.sql.DataFrame) =
      out.select("doc_id", "source", "src_rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val window = m(Curation.capPerSource(df, "doc_id", "source", 20))
    val scalable = m(Curation.capPerSourceScalable(df, "doc_id", "source", 20))
    assert(scalable == window)
    // hot-source pruning is real: replay the offsets math — only the
    // leading range-buckets survive the __off < maxDocs filter, so a
    // small multiple of maxDocs rows reaches the sort, not the corpus
    val counts = df
      .withColumn("__b", substring(
        md5(concat(col("doc_id").cast("string"), lit("|cap"))), 1, 2))
      .filter(col("source") === "hot")
      .groupBy(col("__b")).count().orderBy(col("__b")).collect()
    var off = 0L; var ranked = 0L
    counts.foreach { r =>
      if (off < 20) ranked += r.getLong(1)
      off += r.getLong(1)
    }
    assert(ranked < 200, s"hot source still ranks $ranked of 5000 rows")
  }

  test("splitAssign: exhaustive, near-proportional, and stable under corpus growth") {
    val docs = (0L until 2000L).toDF("doc_id")
    val full = Curation.splitAssign(docs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc gets exactly one split, fractions near 80/10/10
    assert(full.size == 2000)
    val counts = full.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 80, counts)
    assert(math.abs(counts("val") - 200) < 50, counts)
    assert(math.abs(counts("test") - 200) < 50, counts)
    // THE property: assignment depends only on the id — a doc keeps
    // its split when the corpus around it grows (held-out sets stay
    // uncontaminated across incremental ingest batches)
    val early = Curation.splitAssign(
      docs.filter(col("doc_id") < 500), "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    early.foreach { case (id, s) => assert(full(id) == s) }
    // pure projection: no exchange before the caller's own plan
    val plan = Curation.splitAssign(docs, "doc_id")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), plan)
  }

  test("keepOne drops exactly the non-canonical group members") {
    val corpus = (0L to 9L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val groups = Seq((0L, 0L), (5L, 0L), (7L, 0L), (3L, 3L), (8L, 3L))
      .toDF("id", "keep_id")
    val kept = Curation.keepOne(corpus, "doc_id", groups)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 4L, 6L, 9L))
  }

  // ---- int8 quantization ----

  test("quantizeInt8 bounds dequantization error by scale/2 per component") {
    val df = Seq(
      (0L, Array(0.1f, -0.5f, 0.9f, 0.0f)),
      (1L, Array(100f, 200f, 150f, 175f)),
      (2L, Array(0.42f, 0.42f, 0.42f, 0.42f))). // constant vector
      toDF("vec_id", "embedding")
    val q = Curation.quantizeInt8(df, "embedding")
    val rows = q.withColumn("deq",
        Curation.dequantInt8($"qvec", $"vmin", $"scale"))
      .select($"vec_id", $"embedding", $"deq", $"scale", $"qvec").collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](1).map(_.toDouble)
      val deq = r.getSeq[Double](2)
      val scale = r.getDouble(3)
      val qs = r.getSeq[Int](4)
      assert(qs.forall(v => v >= 0 && v <= 255), qs)
      orig.zip(deq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= scale / 2 + 1e-9,
          s"vec ${r.getLong(0)}: $o vs $d (scale $scale)")
      }
    }
    // constant vector: scale floors at 1e-12, quantizes to zeros
    val const = rows.find(_.getLong(0) == 2L).get
    assert(const.getSeq[Int](4).forall(_ == 0))
  }

  // ---- streaming twins of the stateless curation transforms ----

  test("chunkDocs and hashedFeatures run unchanged on a stream (stream == batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((0L, "a b c d e"), (1L, "x y z"))
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    // stateless projections/generators compose on a stream verbatim —
    // no watermark, no state store, append mode
    val q = Curation.hashedFeatures(
      Curation.chunkDocs(streamDf, "doc_id", "text", 3, 3)
        .withColumnRenamed("chunk_text", "text")
        .withColumn("doc_id", concat(col("doc_id"), lit("#"), col("chunk_idx"))),
      "doc_id", "text", 16)
      .writeStream.outputMode("complete").format("memory")
      .queryName("chunk_feat_out").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    val streamed = spark.table("chunk_feat_out")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    val batch = Curation.hashedFeatures(
      Curation.chunkDocs(docs.toDF("doc_id", "text"), "doc_id", "text", 3, 3)
        .withColumnRenamed("chunk_text", "text")
        .withColumn("doc_id", concat(col("doc_id"), lit("#"), col("chunk_idx"))),
      "doc_id", "text", 16).as[(String, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("c4LineFilter + redactPii run unchanged on a stream (stream == batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, "Good line one two three four five.\nshort.\nmail a@b.co today ok fine."),
      (1L, "curly { words words words words words.\nAnother keeper line right here."))
    val mem = MemoryStream[(Long, String)]
    def clean(df: org.apache.spark.sql.DataFrame) =
      Curation.c4LineFilter(df, "doc_id", "text")
        .select($"doc_id", Curation.redactPii($"clean").as("clean"),
          $"n_kept", $"n_dropped")
    val q = clean(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("c4_clean_out").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    assert(q.exception.isEmpty, q.exception)
    val streamed = spark.table("c4_clean_out")
      .as[(Long, String, Long, Long)].collect().toSet
    q.stop()
    val batch = clean(docs.toDF("doc_id", "text"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.find(_._1 == 0L).get._2.contains("<EMAIL>")) // PII scrubbed
  }

  test("jsShift over profiles == one-pass tokenJsDivergence; " +
    "streaming shift sink twins the batch form and flags a shifted batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val oldDocs = (0L until 40L).map(i => (i, s"alpha beta gamma delta tok$i"))
    val sameish = (100L until 120L).map(i => (i, s"alpha beta gamma delta tok$i"))
    val shifted = (200L until 220L).map(i => (i, s"ZZZ QQQ WWW XXX other$i"))
    // form equivalence: profiles + full-outer tail == the one-pass op
    val union = (oldDocs ++ sameish).toDF("doc_id", "text")
    val onePass = Curation.tokenJsDivergence(union, "text",
      $"doc_id" >= 100L, 64).as[(Long, Long, Double)].head()
    val viaProfiles = Curation.jsShift(
      Curation.bucketProfile(oldDocs.toDF("doc_id", "text"), "text", 64),
      Curation.bucketProfile(sameish.toDF("doc_id", "text"), "text", 64))
      .as[(Long, Long, Double)].head()
    assert(onePass == viaProfiles)
    // the sink over a frozen reference profile
    import graft.operators.Bucketing
    import graft.streaming.StreamingShift
    for (t <- Seq("graft_shift_ref", "shift_out"))
      Bucketing.dropManagedTable(spark, t)
    Curation.bucketProfile(oldDocs.toDF("doc_id", "text"), "text", 64)
      .write.format("parquet").saveAsTable("graft_shift_ref")
    val base = tempDir("shift")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingShift.shiftSink(mem.toDF().toDF("doc_id", "text"),
      "graft_shift_ref", "shift_out", "text", 64, s"$base/ckpt")
    mem.addData(sameish: _*); q.processAllAvailable()
    mem.addData(shifted: _*); q.processAllAvailable()
    assert(q.exception.isEmpty, q.exception); q.stop()
    val out = spark.table("shift_out")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((viaProfiles._1, viaProfiles._2, viaProfiles._3)))
    // a same-language batch sits near zero; a shifted one jumps
    assert(out(0L)._3 < 0.1, out(0L).toString)
    assert(out(1L)._3 > 0.5, out(1L).toString) // disjoint vocabulary
    for (t <- Seq("graft_shift_ref", "shift_out"))
      Bucketing.dropManagedTable(spark, t)
  }

  test("jsShift fails LOUDLY on a degenerate profile (zero-total side) " +
    "instead of emitting a silent null js") {
    // an empty reference profile: every bucket count lands on the new
    // side, t_old = 0 — the downstream `js > τ` alert would never see
    // a null, so the op must throw, not return it
    val ref = Seq.empty[(Long, Long)].toDF("bucket", "cnt")
    val cur = Curation.bucketProfile(
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"), "text", 64)
    val e = intercept[Exception] { Curation.jsShift(ref, cur).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("degenerate JS profile")), e.toString)
    // and the healthy path still returns a real number
    val ok = Curation.jsShift(cur, cur).as[(Long, Long, Double)].head()
    assert(ok._3 == 0.0)
  }

  test("objective data prep: FIM segments partition the doc; span-" +
    "corruption sentinel interleave reconstructs the original exactly") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      (2L, "one two three"),
      (3L, "solo")).toDF("doc_id", "text")
    // FIM: <PRE> p <SUF> s <MID> m with p ++ m ++ s == original
    Curation.fimTransform(docs, "doc_id", "text")
      .collect().foreach { r =>
        val id = r.getLong(0)
        val orig = docs.filter($"doc_id" === id)
          .select($"text").as[String].head()
        val fim = r.getString(4)
        val segs = scala.collection.mutable.Map(
          "<PRE>" -> Vector.empty[String], "<SUF>" -> Vector.empty[String],
          "<MID>" -> Vector.empty[String])
        var cur = "<PRE>"
        fim.split(" ").filter(_.nonEmpty).foreach { t =>
          if (segs.contains(t)) cur = t else segs(cur) = segs(cur) :+ t
        }
        val rebuilt =
          (segs("<PRE>") ++ segs("<MID>") ++ segs("<SUF>")).mkString(" ")
        assert(rebuilt == orig, s"doc $id: $fim")
        assert(r.getLong(1) + r.getLong(2) + r.getLong(3)
          == orig.split(" ").length.toLong)
      }
    // span corruption: substituting each <Xk> in inputs with span k's
    // words from targets MUST reproduce the document verbatim
    Curation.spanCorrupt(docs, "doc_id", "text")
      .collect().foreach { r =>
        val id = r.getLong(0)
        val orig = docs.filter($"doc_id" === id)
          .select($"text").as[String].head()
        val (nMasked, inputs, targets) =
          (r.getLong(1), r.getString(2), r.getString(3))
        val spans = scala.collection.mutable.Map.empty[String, List[String]]
        var cur: String = null
        targets.split(" ").filter(_.nonEmpty).foreach { t =>
          if (t.startsWith("<X")) { cur = t; spans(cur) = Nil }
          else spans(cur) = spans(cur) :+ t
        }
        assert(spans.values.map(_.size).sum.toLong == nMasked)
        val rebuilt = inputs.split(" ").filter(_.nonEmpty).flatMap { t =>
          if (t.startsWith("<X")) spans(t) else Seq(t)
        }.mkString(" ")
        assert(rebuilt == orig, s"doc $id\n in: $inputs\ntgt: $targets")
        // sentinels appear in document order: <X0>, <X1>, ...
        val ks = inputs.split(" ").filter(_.startsWith("<X"))
          .map(_.stripPrefix("<X").stripSuffix(">").toInt)
        assert(ks.toSeq == ks.indices.toSeq)
      }
  }

  // ---- hashed features ----

  test("hashedFeatures: buckets in range, counts conserve tokens, same token same bucket") {
    val df = Seq((0L, "a b a c"), (1L, "a d")).toDF("doc_id", "text")
    val out = Curation.hashedFeatures(df, "doc_id", "text", 8)
      .select($"doc_id", $"bucket", $"cnt")
      .as[(Long, Long, Long)].collect()
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    assert(out.filter(_._1 == 0L).map(_._3).sum == 4) // token mass conserved
    assert(out.filter(_._1 == 1L).map(_._3).sum == 2)
    // 'a' hashes to one bucket: both docs share it
    val aBuckets = out.filter(r => r._3 >= 2 && r._1 == 0L).map(_._2)
    assert(aBuckets.length == 1 &&
      out.exists(r => r._1 == 1L && r._2 == aBuckets.head))
  }

  // ---- temperature mixing ----

  test("temperatureWeights: alpha=1 is identity, alpha=0 equalizes, mass conserved") {
    val df = (Seq.fill(60)("big") ++ Seq.fill(20)("mid") ++ Seq.fill(20)("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "src")
    val w1 = Curation.temperatureWeights(df, "src", 1.0)
    assert(w1.values.forall(w => math.abs(w - 1.0) < 1e-12), w1)
    val w0 = Curation.temperatureWeights(df, "src", 0.0)
    // equal share: each source targets 100/3 docs
    assert(math.abs(w0("big") - 100.0 / 3 / 60) < 1e-12)
    assert(math.abs(w0("small") - 100.0 / 3 / 20) < 1e-12)
    val wh = Curation.temperatureWeights(df, "src", 0.5)
    // flattening: dominant source down, small sources up
    assert(wh("big") < 1.0 && wh("small") > 1.0, wh)
    // expected mass conserved at every alpha: sum n_s * w_s == N
    Seq(w0, wh, w1).foreach { w =>
      val mass = 60 * w("big") + 20 * w("mid") + 20 * w("small")
      assert(math.abs(mass - 100.0) < 1e-9, s"mass $mass for $w")
    }
  }

  test("zScoreGatePerKey: the same value is normal for one key, anomalous for another") {
    // key 'a' baseline ~100, key 'b' baseline ~5; value 40 is a dip
    // for 'a' (z << -2) and a spike for 'b' (z >> 2)
    val df = (Seq((0L, "a", 100.0), (1L, "a", 102.0), (2L, "a", 98.0),
      (3L, "a", 101.0), (4L, "a", 40.0),
      (5L, "b", 5.0), (6L, "b", 6.0), (7L, "b", 4.0), (8L, "b", 5.0),
      (9L, "b", 40.0))).toDF("id", "k", "v")
    // the outlier inflates its own key's sample sd, so |z| tops out
    // near 1.79 here — gate at 1.5
    val out = Curation.zScoreGatePerKey(df, "k", "id", "v", maxAbsZ = 1.5)
      .select($"id", $"z", $"pass").as[(Long, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!out(4L)._2 && out(4L)._1 < -1.7) // dip vs a's baseline
    assert(!out(9L)._2 && out(9L)._1 > 1.7)  // spike vs b's baseline
    assert(Seq(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L).forall(out(_)._2))
  }

  // ---- dedupUnitsWithin (intra-document de-looping) ----

  test("dedupUnitsWithin keeps first occurrences in order; canon merges variants") {
    val df = Seq(
      (0L, "alpha\n\nBeta  Two\n\nbeta two\n\nalpha\n\ngamma"),
      (1L, "solo para")).toDF("doc_id", "text")
    val out = Curation.dedupUnitsWithin(df, "doc_id", "text")
      .select($"doc_id", $"clean", $"n_kept", $"n_dropped")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // 'beta two' is a case/spacing variant of 'Beta  Two'; second 'alpha' repeats
    assert(out(0L) == ((0L, "alpha\n\nBeta  Two\n\ngamma", 3L, 2L)))
    assert(out(1L) == ((1L, "solo para", 1L, 0L)))
  }

  test("dedupUnitsWithin is per-document: cross-doc repeats survive") {
    val df = Seq(
      (0L, "same para\n\nown zero"),
      (1L, "same para\n\nown one")).toDF("doc_id", "text")
    val out = Curation.dedupUnitsWithin(df, "doc_id", "text")
      .agg(sum($"n_dropped")).as[Long].head()
    assert(out == 0L) // repetition judged within each doc alone
  }

  // ---- incremental vocabulary ----

  test("mergeTokenCounts: merged slice counts == from-scratch; ranking identical") {
    val docs = Seq((0L, "a b a"), (1L, "b c"), (2L, "a c c d")).toDF("doc_id", "text")
    val full = Curation.buildVocab(docs, "text", 3)
      .select($"token", $"id", $"cnt").as[(String, Long, Long)].collect().toSet
    val old = Curation.tokenCounts(docs.filter($"doc_id" < 2), "text")
    val batch = Curation.tokenCounts(docs.filter($"doc_id" === 2L), "text")
    val merged = Curation.vocabFromCounts(
      Curation.mergeTokenCounts(old, batch), 3)
      .select($"token", $"id", $"cnt").as[(String, Long, Long)].collect().toSet
    assert(merged == full)
  }

  test("collapseRuns folds consecutive repeats only; reappearances survive") {
    val df = Seq(
      (0L, "a\na\na\nb\na"),  // run of 3 'a', then b, then a AGAIN
      (1L, "x\ny"),
      (2L, "z\nz")).toDF("doc_id", "text")
    val out = Curation.collapseRuns(df, "doc_id", "text")
      .select($"doc_id", $"clean", $"n_kept", $"n_dropped")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) == ((0L, "a\nb\na", 3L, 2L))) // set-grain would kill the last 'a'
    assert(out(1L) == ((1L, "x\ny", 2L, 0L)))
    assert(out(2L) == ((2L, "z", 1L, 1L)))
  }

  // ---- zScoreGate (corpus-relative outlier gate) ----

  test("zScoreGate: both tails cut, interior passes, z values exact") {
    // values: mean 10, sample sd = sqrt(34) ≈ 5.831: the tails sit at
    // |z| ≈ 1.372, the interior at ≤ 0.343 — gate at 1.0
    val df = Seq((0L, 2.0), (1L, 8.0), (2L, 10.0), (3L, 12.0), (4L, 18.0))
      .toDF("doc_id", "v")
    val out = Curation.zScoreGate(df, "doc_id", "v", maxAbsZ = 1.0)
      .select($"doc_id", $"z", $"pass")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val mu = 10.0
    val sd = math.sqrt(Seq(2.0, 8.0, 10.0, 12.0, 18.0)
      .map(x => (x - mu) * (x - mu)).sum / 4) // sample stddev
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) == ((r4((2.0 - mu) / sd), false)))  // low tail
    assert(out(4L) == ((r4((18.0 - mu) / sd), false))) // high tail
    assert(out(2L) == ((0.0, true)))
    assert(out(1L)._2 && out(3L)._2)
  }

  // ---- keepBest (quality-aware group rooting) ----

  test("keepBest re-roots every group at its best-scoring member, ties -> min id") {
    val groups = Seq( // two groups: {1,2,3} rooted at 1, {7,9} rooted at 7
      (1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)).toDF("id", "keep_id")
    val scores = Seq( // 3 longest in group A; tie 7==9 in group B
      (1L, 5L), (2L, 8L), (3L, 11L), (7L, 4L), (9L, 4L)).toDF("doc_id", "score")
    val out = Curation.keepBest(groups, scores, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 7L -> 7L, 9L -> 7L))
  }

  test("keepBest composes with keepOne: the kept copy is the best one") {
    val groups = Seq((1L, 1L), (2L, 1L)).toDF("id", "keep_id")
    val corpus = Seq((1L, "short"), (2L, "much longer copy"), (5L, "solo"))
      .toDF("doc_id", "text")
    val scores = corpus.select($"doc_id", length($"text").cast("long").as("score"))
    val kept = Curation.keepOne(corpus, "doc_id",
      Curation.keepBest(groups, scores, "doc_id"))
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 5L)) // keepOne's min-id default would keep 1
  }

  // ---- chunkDocs (training windows) ----

  test("chunkDocs: 50% overlap windows cover every token; tail chunk short") {
    val df = Seq((0L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Curation.chunkDocs(df, "doc_id", "text", window = 4, stride = 2)
      .orderBy($"chunk_idx")
      .select($"chunk_idx", $"n_tokens", $"chunk_text")
      .as[(Long, Long, String)].collect()
    assert(out.length == 5) // starts 0,2,4,6,8
    assert(out(0) == (0L, 4L, "t1 t2 t3 t4"))
    assert(out(1) == (1L, 4L, "t3 t4 t5 t6"))
    assert(out(4) == (4L, 2L, "t9 t10")) // tail
    // every token appears in at least one chunk
    val covered = out.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("chunkDocs is a zero-exchange generator (codegen projection)") {
    val df = Seq((0L, "a b c")).toDF("doc_id", "text")
    val plan = Curation.chunkDocs(df, "doc_id", "text", 16, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ---- vocabulary + tokenize-to-ids ----

  test("buildVocab ranks by count desc then token asc; caps at maxSize") {
    val df = Seq("b b b a a c c d").toDF("text")
    val v = Curation.buildVocab(df, "text", 3)
      .select($"token", $"id", $"cnt").as[(String, Long, Long)].collect().toList
    // counts: b=3, a=2, c=2, d=1 -> a beats c on the tie; d capped out
    assert(v == List(("b", 0L, 3L), ("a", 1L, 2L), ("c", 2L, 2L)))
  }

  test("tokenizeToIds emits the exact in-order id sequence with OOV marking") {
    val docs = Seq((0L, "b a d c b"), (1L, "d d")).toDF("doc_id", "text")
    // counts: d=3, b=2, a=1, c=1 -> vocab(3): d=0, b=1, a=2; c is OOV
    val vocab = Curation.buildVocab(docs, "text", 3)
    val out = Curation.tokenizeToIds(docs, "doc_id", "text", vocab)
      .select($"doc_id", $"n_tok", $"n_oov", $"ids")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((5L, 1L, "1,2,0,-1,1")))
    assert(out(1L) == ((2L, 0L, "0,0")))
  }

  test("tokenizeToIds broadcasts the vocabulary (corpus never shuffles for lookup)") {
    val docs = Seq((0L, "a b")).toDF("doc_id", "text")
    val plan = Curation.tokenizeToIds(docs, "doc_id", "text",
      Curation.buildVocab(docs, "text", 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  // ---- classifier-gate inference ----

  test("linearScoreGate: score is the integer dot over hashedFeatures; gate obeys threshold") {
    val docs = Seq((0L, "alpha beta beta"), (1L, "gamma delta epsilon zeta"),
      (2L, "alpha")).toDF("doc_id", "text")
    val feats = Curation.hashedFeatures(docs, "doc_id", "text", 16)
      .as[(Long, Long, Long)].collect()
    val expected = feats.groupBy(_._1).view
      .mapValues(_.map { case (_, b, c) => c * (b % 7 - 3) }.sum).toMap
    val thr = expected.values.max // exactly one doc passes (the argmax)
    val out = Curation.linearScoreGate(docs, "doc_id", "text", 16, thr)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 3)
    out.foreach { case (id, score, pass) =>
      assert(score == expected(id), s"doc $id")
      assert(pass == (score >= thr), s"doc $id")
    }
  }

  test("nbTrain/nbGate: closed-form weights; disjoint vocab separates perfectly") {
    // Two classes with disjoint vocab: class 1 says "good", class 0
    // says "bad". Weights come out positive for good's bucket,
    // negative for bad's, and the gate separates the seeds exactly.
    val dim = 64
    val docs = Seq(
      (0L, "good good good"), (1L, "good good"),
      (2L, "bad bad"), (3L, "bad bad bad bad"),
      (10L, "good bad good")) // held-out, majority-good
      .toDF("doc_id", "text")
    val labels = Seq((0L, 1), (1L, 1), (2L, 0), (3L, 0)).toDF("doc_id", "y")
    val wts = Curation.nbTrain(docs, "doc_id", "text", labels, dim)
    val wMap = wts.as[(Long, Long)].collect().toMap
    assert(wMap.size == dim + 1)
    // bucket assignment reproduced via the operator's own featurizer
    val bOf = Curation.hashedFeatures(docs, "doc_id", "text", dim)
      .filter(col("doc_id") === 0L || col("doc_id") === 2L)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t._2).toMap
    val (bGood, bBad) = (bOf(0L), bOf(2L))
    // closed form: c1_good=5, c0_good=0, c1_bad=0, c0_bad=6, T1=5, T0=6
    def w(c1: Long, c0: Long) = math.round(10000 *
      (math.log((c1 + 1.0) / (5 + dim)) - math.log((c0 + 1.0) / (6 + dim))))
    assert(wMap(bGood) == w(5, 0))
    assert(wMap(bBad) == w(0, 6))
    assert(wMap(-1L) == 0L) // balanced priors: ln(2/2) = 0
    assert(bGood != bBad) // the closed form assumes no bucket collision
    val gate = Curation.nbGate(docs, "doc_id", "text", wts, dim)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(gate(0L)._3 && gate(1L)._3 && !gate(2L)._3 && !gate(3L)._3)
    assert(gate(0L)._2 == 3 * wMap(bGood)) // score IS the integer dot
    assert(gate(10L)._3) // 2 good vs 1 bad: positive wins
    assert(gate(10L)._2 == 2 * wMap(bGood) + wMap(bBad))
  }

  test("nbTrainMulti/nbPredictMulti: separable classes exact; ties to smallest class") {
    val dim = 64
    val docs = Seq((0L, "aa aa"), (1L, "bb bb"), (2L, "cc cc"),
      (10L, "zz")).toDF("doc_id", "text")
    val labels = Seq((0L, "de"), (1L, "en"), (2L, "fr")).toDF("doc_id", "y")
    // distinct buckets keep the closed-form reasoning honest
    val buckets = Curation.hashedFeatures(docs, "doc_id", "text", dim)
      .select("bucket").distinct().count()
    assert(buckets == 4)
    val wts = Curation.nbTrainMulti(docs, "doc_id", "text", labels, dim)
    assert(wts.count() == dim * 3 + 3)
    val pred = Curation.nbPredictMulti(docs, "doc_id", "text", wts, dim)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(0L) == "de" && pred(1L) == "en" && pred(2L) == "fr")
    // "zz" is unseen: equal class sizes and totals make every class
    // score identical — the tie must break to the smallest class name
    assert(pred(10L) == "de")
  }

  test("streaming classify sink: saved weights, stream == batch predictions") {
    import graft.operators.Bucketing
    import graft.streaming.StreamingClassify
    for (t <- Seq("nb_weights_sink", "nb_pred_out"))
      Bucketing.dropManagedTable(spark, t)
    val base = tempDir("nbsink")
    val train = Seq((0L, "aa aa"), (1L, "bb bb"), (2L, "cc cc"))
      .toDF("doc_id", "text")
    val labels = Seq((0L, "de"), (1L, "en"), (2L, "fr")).toDF("doc_id", "y")
    Curation.nbTrainMulti(train, "doc_id", "text", labels, 64)
      .write.mode("overwrite").format("parquet").saveAsTable("nb_weights_sink")
    val arrivals = Seq((10L, "aa zz"), (11L, "bb"), (12L, "cc cc aa"))
    arrivals.toDF("doc_id", "text").write.parquet(s"$base/src")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = StreamingClassify.predictSink(
      spark.readStream.schema(schema).parquet(s"$base/src"),
      "nb_weights_sink", "nb_pred_out", "doc_id", "text", 64, s"$base/ckpt")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("nb_pred_out")
      .select($"doc_id", $"pred", $"score")
      .as[(Long, String, Long)].collect().toSet
    val batch = Curation.nbPredictMulti(arrivals.toDF("doc_id", "text"),
        "doc_id", "text", spark.table("nb_weights_sink"), 64)
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.map(t => t._1 -> t._2).toMap ==
      Map(10L -> "de", 11L -> "en", 12L -> "fr"))
    // every output row records WHICH model scored it: one fingerprint
    // across the batch, equal to the weight table's own, and sensitive
    // to any weight change (the model-mixing audit column)
    val fps = spark.table("nb_pred_out").select($"model_fp")
      .as[Long].collect().toSet
    val wfp = StreamingClassify.weightFingerprint(
      spark.table("nb_weights_sink")).as[Long].head()
    assert(fps == Set(wfp))
    val bumped = StreamingClassify.weightFingerprint(
      spark.table("nb_weights_sink")
        .withColumn("w", $"w" + 1L)).as[Long].head()
    assert(bumped != wfp)
    for (t <- Seq("nb_weights_sink", "nb_pred_out"))
      Bucketing.dropManagedTable(spark, t)
  }

  // ---- robust (median/MAD) outlier gate ----

  test("madGatePerKey: the spike can't hide itself (head-to-head vs mean/stddev)") {
    // One key: ~20 values near 10, one 1000x anomaly, one genuine 3x
    // shift. The z-gate's stddev is inflated by the 1000 until the 30
    // sails through; median/MAD (50% breakdown) flags both.
    val rows = (0 until 20).map(i => ("k", i.toLong, 10.0 + (i % 3 - 1))) ++
      Seq(("k", 100L, 1000.0), ("k", 101L, 30.0))
    val df = rows.toDF("key", "id", "value")
    val madFail = Curation.madGatePerKey(df, "key", "id", "value", 3.0)
      .filter(!$"pass").select($"id").as[Long].collect().toSet
    assert(madFail == Set(100L, 101L))
    val zFail = Curation.zScoreGatePerKey(df, "key", "id", "value", 3.0)
      .filter(!$"pass").select($"id").as[Long].collect().toSet
    assert(zFail == Set(100L))
  }

  test("madGatePerKey: each key has its own baseline") {
    val rows = Seq(("a", 0L, 1.0), ("a", 1L, 1.1), ("a", 2L, 0.9),
      ("a", 3L, 1.0), ("a", 4L, 50.0),
      ("b", 5L, 50.0), ("b", 6L, 51.0), ("b", 7L, 49.0), ("b", 8L, 50.5))
    val out = Curation.madGatePerKey(rows.toDF("key", "id", "value"),
      "key", "id", "value", 3.0)
    val fail = out.filter(!$"pass").select($"id").as[Long].collect().toSet
    assert(fail == Set(4L)) // 50.0 is an outlier for key a, normal for key b
  }

  // ---- Unicode NFC normalization ----

  test("nfc composes decomposed sequences, is idempotent, and stays a pure projection") {
    import graft.functions.TextFunctions.nfc
    val df = Seq("e\u0301", "\u00e9", "plain ascii", "a\u030a x o\u0308")
      .toDF("s")
    val out = df.select(nfc($"s").as("n")).as[String].collect()
    assert(out(0) == "\u00e9") // e + combining acute composes
    assert(out(1) == "\u00e9") // already composed: unchanged
    assert(out(2) == "plain ascii")
    assert(out(3) == "\u00e5 x \u00f6") // a+ring, o+diaeresis
    val twice = df.select(nfc(nfc($"s")).as("n")).as[String].collect()
    assert(twice.sameElements(out))
    val plan = df.select(nfc($"s")).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("nfc_normalize is SQL-registered") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql("SELECT nfc_normalize('e\u0301') AS n").as[String].head()
    assert(r == "\u00e9")
  }

  // ---- epoch shuffle ----

  test("epochShuffle: dense per-epoch permutation, epochs differ, " +
    "rank independent of input partitioning") {
    val ids = (0L until 300L).toDF("doc_id")
    val out = Curation.epochShuffle(ids, "doc_id", epochs = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 900)
    (0L until 3L).foreach { e =>
      val ords = out.filter(_._1 == e).map(_._2).sorted
      assert(ords.sameElements(1L to 300L), s"epoch $e not a dense permutation")
    }
    // different epochs order the same keys differently
    val byEpoch = out.groupBy(_._1)
      .map { case (e, rs) => e -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(byEpoch(0L) != byEpoch(1L) && byEpoch(1L) != byEpoch(2L))
    // two-phase bucketed rank is partitioning-invariant
    val again = Curation.epochShuffle(ids.repartition(7), "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == out.toSet)
  }

  test("epochShuffle: no single-reducer epoch sort; offsets broadcast") {
    val plan = Curation.epochShuffle((0L until 50L).toDF("doc_id"),
      "doc_id", 2).queryExecution.executedPlan.toString
    // the corpus-sized window partitions by (epoch, bucket), never by
    // epoch alone \u2014 a lone-epoch partition would be the 1-reducer sort
    assert(plan.contains("__b"), plan)
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastQueryStage"), plan)
  }

  test("epochShuffleIncremental: chained folds reproduce the from-scratch " +
    "permutation; landed ords are trusted, never recomputed") {
    val all = (0L until 240L).toDF("doc_id")
    val scratch = Curation.epochShuffle(all, "doc_id", epochs = 2,
        salt = "inc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // fold in two successive batches over a 180-key bootstrap
    val landed0 = Curation.epochShuffle((0L until 180L).toDF("doc_id"),
      "doc_id", epochs = 2, salt = "inc")
    val landed1 = Curation.epochShuffleIncremental(landed0,
      (180L until 210L).toDF("doc_id"), "doc_id", epochs = 2, salt = "inc")
    val landed2 = Curation.epochShuffleIncremental(landed1,
      (210L until 240L).toDF("doc_id"), "doc_id", epochs = 2, salt = "inc")
    val woven = landed2.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(woven == scratch)
    // the landed ords are TRUSTED, not recomputed (the severed-bridge
    // proof style): corrupt every landed ord by +1000 and the fold
    // carries the corruption through — a re-rank of the landed keys
    // could never reproduce it
    val corrupted = landed0.withColumn("ord", col("ord") + 1000L)
    val out = Curation.epochShuffleIncremental(corrupted,
        (180L until 185L).toDF("doc_id"), "doc_id", epochs = 2,
        salt = "inc").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val plain = Curation.epochShuffleIncremental(landed0,
        (180L until 185L).toDF("doc_id"), "doc_id", epochs = 2,
        salt = "inc").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    (0L until 180L).foreach { k =>
      (0L until 2L).foreach { e =>
        assert(out((e, k)) == plain((e, k)) + 1000L,
          s"landed ord of key $k epoch $e was recomputed, not trusted")
      }
    }
  }

  // ---- token-budget planner ----

  test("tokenBudgetPlan: alpha=1 reproduces natural epochs=B/total; " +
    "alpha=0 splits the budget evenly across sources") {
    val df = Seq(
      (1L, "a b c d", "big"), (2L, "e f g h", "big"), (3L, "i j", "big"),
      (4L, "k l", "small"))
      .toDF("doc_id", "text", "source")
    val nat = Curation.tokenBudgetPlan(df, "text", "source", 1200L, 1.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(4), r.getLong(5)))).toMap
    // natural sampling: every source traversed the same number of times
    assert(nat("big") == ((10L, 100.0, 1000L)))
    assert(nat("small") == ((2L, 100.0, 200L)))
    val uni = Curation.tokenBudgetPlan(df, "text", "source", 1200L, 0.0)
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    // uniform sampling: equal token contribution per source
    assert(uni("big") == 600L && uni("small") == 600L)
  }

  // ---- C4 line filter ----

  test("c4LineFilter: punct/min-words/brace rules; all-fail doc keeps " +
    "empty clean; plan is exchange-free") {
    val d = Seq(
      (1L, "This line has the five words needed.\nshort one.\n" +
        "brace { line with plenty of words here.\n" +
        "no terminal punctuation despite many words here\n" +
        "Ends with a bang indeed it does!"),
      (2L, "tiny.\nnope"))
      .toDF("doc_id", "text")
    val out = Curation.c4LineFilter(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("This line has the five words needed.\n" +
      "Ends with a bang indeed it does!", 2L, 3L)))
    assert(out(2L) == (("", 0L, 2L)))
    val plan = Curation.c4LineFilter(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("weightedSample: selection tracks weight (9:1 weights give ~90% " +
    "heavy picks), without replacement, deterministic, heap-planned") {
    val df = (0L until 10000L).map(i => (i, if (i % 2 == 0) 9L else 1L))
      .toDF("id", "w")
    val got = Curation.weightedSample(df, "id", "w", 1000)
    val rows = got.collect()
    val heavy = rows.count(_.getLong(1) == 9L)
    // E[heavy fraction] = 9/10 per E-S draw; the fixed hash makes the
    // realized count a constant — the band just documents the law
    assert(heavy >= 850 && heavy <= 950, s"heavy=$heavy")
    assert(rows.map(_.getLong(0)).distinct.length == 1000)
    // reproducible: same seed, same winners
    assert(Curation.weightedSample(df, "id", "w", 1000)
      .collect().map(_.getLong(0)).toSet == rows.map(_.getLong(0)).toSet)
    // top-k by computed priority plans as TakeOrdered, not a global sort
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
