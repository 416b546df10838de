package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.operators.Bpe

class BpeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("learnMerges reproduces the hand-computed merge sequence, stops when dry") {
    // words: abab ×3, abc ×2.
    // round 0: (a,b) count 8 (2 per abab + 1 per abc) beats (b,a)=3,(b,c)=2
    // round 1: (ab,ab)=3 beats (ab,c)=2
    // round 2: (ab,c)=2
    // round 3: nothing repeats -> early stop at 3 of the requested 5
    val df = Seq((0L, "abab abc abab"), (1L, "abab abc")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", numMerges = 5)
    assert(merges == Seq(("a", "b"), ("ab", "ab"), ("ab", "c")))
  }

  test("kernel encode == composed replace-chain encode on the corpus") {
    val merges = Seq(("a", "b"), ("ab", "ab"), ("ab", "c"))
    val df = Seq("ababc", "abab abc ababab", "xyz", "", "a",
      "abcabab cababa").toDF("text")
    val both = df.select(
      TextFunctions.bpeEncode(col("text"), merges).as("kernel"),
      Bpe.encodeComposed(col("text"), merges).as("composed"))
    assert(both.filter(not(col("kernel") === col("composed"))).count() == 0)
    // spot-check the cascade: later merges apply to earlier outputs
    val one = df.filter(col("text") === "ababc")
      .select(TextFunctions.bpeEncode(col("text"), merges))
      .as[Seq[String]].head()
    assert(one == Seq("abab", "c"))
  }

  test("byte mode: kernel == composed on the corpus; tokens are hex byte runs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.learnMergesFromWords(
      Bpe.wordTableBytes(d, "text"), numMerges = 8)
    assert(merges.length == 8)
    assert(merges.forall { case (a, b) =>
      (a + b).matches("[0-9A-F]+") && (a + b).length % 2 == 0 })
    val both = d.select(
      TextFunctions.bpeEncode(col("text"), merges, byteLevel = true).as("kernel"),
      Bpe.encodeComposedBytes(col("text"), merges).as("composed"))
    assert(both.filter(not(col("kernel") === col("composed"))).count() == 0)
    // lossless at the byte level: unhexed glued tokens == text sans spaces
    val bad = d.select(
        unhex(array_join(TextFunctions.bpeEncode(col("text"), merges,
          byteLevel = true), "")).cast("string").as("glued"),
        regexp_replace(col("text"), " ", "").as("orig"))
      .filter(col("glued") =!= col("orig"))
    assert(bad.count() == 0)
  }

  test("byte mode on multibyte UTF-8: 2/3-byte chars split, merges rejoin, lossless") {
    // "é" is C3A9 (2 bytes), "日" E697A5 (3 bytes): byte symbols must
    // split them, a learned merge must be able to rejoin them, and
    // unhex of the glued tokens must reproduce the exact UTF-8 text.
    val d = Seq((0L, "café café 日本 x"), (1L, "café 日本 日本")).toDF("doc_id", "text")
    val merges = Bpe.learnMergesFromWords(
      Bpe.wordTableBytes(d, "text"), numMerges = 12)
    assert(merges.nonEmpty)
    val both = d.select(
      TextFunctions.bpeEncode(col("text"), merges, byteLevel = true).as("kernel"),
      Bpe.encodeComposedBytes(col("text"), merges).as("composed"))
    assert(both.filter(not(col("kernel") === col("composed"))).count() == 0)
    val bad = d.select(
        unhex(array_join(TextFunctions.bpeEncode(col("text"), merges,
          byteLevel = true), "")).cast("string").as("glued"),
        regexp_replace(col("text"), " ", "").as("orig"))
      .filter(col("glued") =!= col("orig"))
    assert(bad.count() == 0) // byte-exact round trip through hex symbols
    // the top merge rejoins a split multibyte char: "café" and "日本"
    // repeat, so some learned token must span a full char's bytes
    val toks = d.select(explode(TextFunctions.bpeEncode(col("text"), merges,
      byteLevel = true)).as("t")).distinct().as[String].collect().toSet
    assert(toks.exists(t => t.length >= 4 && t.matches("[0-9A-F]+")),
      toks.mkString(","))
  }

  test("special tokens pass through verbatim — whole-word AND glued") {
    val merges = Seq(("61", "62")) // 'a','b' -> 'ab'
    val special = Seq("<|eot|>")
    // whole-word special: kernel == composed (the oracle shape)
    val df = Seq("ab <|eot|> ab", "<|eot|>", "ab").toDF("text")
    val both = df.select(
      TextFunctions.bpeEncode(col("text"), merges, byteLevel = true,
        specials = special).as("kernel"),
      Bpe.encodeComposedBytes(col("text"), merges, special).as("composed"))
    assert(both.filter(not(col("kernel") === col("composed"))).count() == 0)
    val one = df.filter(col("text") === "ab <|eot|> ab")
      .select(TextFunctions.bpeEncode(col("text"), merges, byteLevel = true,
        specials = special)).as[Seq[String]].head()
    assert(one == Seq("6162", "<|eot|>", "6162"))
    // glued special: the kernel splits around it; bytes never leak in
    val glued = Seq("ab<|eot|>ab").toDF("text")
      .select(TextFunctions.bpeEncode(col("text"), merges, byteLevel = true,
        specials = special)).as[Seq[String]].head()
    assert(glued == Seq("6162", "<|eot|>", "6162"))
    // leftmost-longest: a special that is a prefix of another
    val two = Seq("x<|eot|><|eot|>x").toDF("text")
      .select(TextFunctions.bpeEncode(col("text"), merges, byteLevel = true,
        specials = Seq("<|eot|>", "<|eot|><|eot|>")))
      .as[Seq[String]].head()
    assert(two == Seq("78", "<|eot|><|eot|>", "78"))
  }

  test("training scales past the toy regime: 300 merges, lineage bounded") {
    // The oracle bound is NumMerges=10 (CTE-chain depth) and the
    // driver corpus's 31-word vocabulary saturates at ~90 merges, so
    // the depth demonstration needs a richer (seeded, deterministic)
    // vocabulary: 1500 word types, each repeated so every pair is a
    // candidate. Runs the SAME training loop to 300 merges — the
    // checkpoint cadence keeps lineage bounded at any depth — and
    // pins the artifact's internal consistency: every merge's
    // operands are primitive chars or earlier merge outputs.
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val words = (0 until 1500).map { _ =>
      (0 until (4 + rnd.nextInt(8)))
        .map(_ => alpha(rnd.nextInt(26))).mkString }
    val d = (words ++ words).grouped(20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(d, "text", numMerges = 300)
    assert(merges.length == 300, s"stopped early at ${merges.length}")
    assert(merges.distinct.length == 300) // no pair learned twice
    val known = scala.collection.mutable.Set[String]()
    merges.foreach { case (a, b) =>
      assert(a.length == 1 || known.contains(a), s"lhs $a unseen")
      assert(b.length == 1 || known.contains(b), s"rhs $b unseen")
      known += a + b
    }
    // the 300-merge tokenizer still encodes losslessly
    val bad = d.select(
        array_join(TextFunctions.bpeEncode(col("text"), merges), "").as("glued"),
        regexp_replace(col("text"), " ", "").as("orig"))
      .filter(col("glued") =!= col("orig"))
    assert(bad.count() == 0)
  }

  test("true vocab closes over the corpus: zero OOV, id roundtrip lossless") {
    import graft.operators.Curation
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.learnMerges(d, "text", numMerges = 6)
    val vocab = Bpe.vocabTable(Bpe.wordTable(d, "text"), merges)
      .groupBy($"token").agg(min($"id").as("id"))
    val bpeText = d.select($"doc_id",
      array_join(TextFunctions.bpeEncode($"text", merges), " ").as("text"))
    val ids = Curation.tokenizeToIds(bpeText, "doc_id", "text", vocab)
    assert(ids.filter($"n_oov" =!= 0L).count() == 0) // closure, not luck
    // ids -> tokens -> glued text reproduces the original sans spaces
    val rev = vocab.collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    val decoded = ids.select($"doc_id", $"ids").as[(Long, String)].collect()
      .map { case (id, s) =>
        id -> s.split(",").map(x => rev(x.toLong)).mkString }.toMap
    val orig = d.select($"doc_id", regexp_replace($"text", " ", ""))
      .as[(Long, String)].collect().toMap
    assert(decoded == orig)
  }

  test("preserveSpaces decode: byte-exact on spacing the oracle corpus can't reach") {
    // q137 pins decode(encode(x)) == x through the DuckDB gate on the
    // single-spaced corpus; this pins the kernel contract where the
    // oracle can't follow: runs of spaces, leading/trailing spaces,
    // multibyte UTF-8, and a special GLUED to text — every space char
    // must ride as its own "20" token and unhex must reproduce the
    // document byte for byte.
    val texts = Seq("a  b", " leading", "trailing ", "café  日本",
      "x<|eot|> y", "<|eot|>", "", "   ")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Seq(("61", "62")) // 'ab'
    val toks = TextFunctions.bpeEncode($"text", merges, byteLevel = true,
      specials = Seq("<|eot|>"), preserveSpaces = true)
    val out = d.select($"doc_id", $"text", toks.as("toks"),
        Bpe.decodeBytes(toks, Seq("<|eot|>")).as("decoded"))
    assert(out.filter($"decoded" =!= $"text").count() == 0)
    // the space tokens are literal and counted: "a  b" = ab-merge? no —
    // 'a','b' separated by spaces stay single bytes around two 20s
    val spaced = out.filter($"doc_id" === 0L)
      .select($"toks").as[Seq[String]].head()
    assert(spaced == Seq("61", "20", "20", "62"))
    // glued special: bytes -> special -> space -> bytes, all preserved
    val glued = out.filter($"doc_id" === 4L)
      .select($"toks").as[Seq[String]].head()
    assert(glued == Seq("78", "<|eot|>", "20", "79"))
  }

  test("encode round-trips: concatenated tokens reproduce the text") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.learnMerges(d, "text", numMerges = 6)
    assert(merges.length == 6) // real corpus has at least 6 repeating pairs
    val bad = d.select(
        array_join(TextFunctions.bpeEncode(col("text"), merges), "").as("glued"),
        regexp_replace(col("text"), " ", "").as("orig"))
      .filter(col("glued") =!= col("orig"))
    assert(bad.count() == 0) // tokenization is lossless
  }

  test("greedy merge application: overlapping pairs resolve left-to-right") {
    // [a,a,a] with merge (a,a) -> [aa, a], never [a, aa]
    val merges = Seq(("a", "a"))
    val out = Seq("aaa").toDF("text")
      .select(TextFunctions.bpeEncode(col("text"), merges))
      .as[Seq[String]].head()
    assert(out == Seq("aa", "a"))
    val composed = Seq("aaa").toDF("text")
      .select(Bpe.encodeComposed(col("text"), merges))
      .as[Seq[String]].head()
    assert(composed == Seq("aa", "a"))
  }

  test("incremental word tables: merged slices train the from-scratch merges") {
    val df = Seq((0L, "abab abc abab"), (1L, "abab abc"), (2L, "abc cc abab"))
      .toDF("doc_id", "text")
    val scratch = Bpe.learnMerges(df, "text", 4)
    val merged = Bpe.learnMergesFromWords(
      Bpe.mergeWordTables(
        Bpe.wordTable(df.filter($"doc_id" < 2), "text"),
        Bpe.wordTable(df.filter($"doc_id" === 2), "text")), 4)
    assert(merged == scratch)
  }

  test("saveMerges/loadMerges round-trips the artifact in rank order") {
    val merges = Seq(("a", "b"), ("ab", "ab"), ("ab", "c"))
    Bpe.saveMerges(spark, "graft_test_bpe_merges", merges)
    assert(Bpe.loadMerges(spark, "graft_test_bpe_merges") == merges)
    // overwrite, don't append
    Bpe.saveMerges(spark, "graft_test_bpe_merges", merges.take(1))
    assert(Bpe.loadMerges(spark, "graft_test_bpe_merges") == merges.take(1))
  }

  test("encode runs unchanged on a stream (stream == batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val merges = Seq(("a", "b"), ("ab", "ab"))
    val rows = Seq((0L, "abab xy"), (1L, "ababab b"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.bpeEncode($"text", merges).as("toks"))
      .writeStream.outputMode("append").format("memory")
      .queryName("bpe_stream").start()
    mem.addData(rows: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("bpe_stream")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val batch = rows.toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.bpeEncode($"text", merges).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(streamed == batch)
    assert(batch(0L) == List("abab", "x", "y"))
  }

  // Streaming-twin boundary note (the replay-safety contract for the
  // tokenizer family, and the explicit NON-goal beside it): the
  // encode sink below streams because encoding is a pure per-document
  // projection — no corpus-global state, so batch and stream are the
  // same expression. The exact-substring span family (q116/q121/q124)
  // deliberately has NO streaming twin: a shared span is a property
  // of a PAIR of documents anywhere in the corpus, so detecting it on
  // arrival would need the full positioned-n-gram index of everything
  // ever seen as mutable streaming state — corpus-sized, not
  // key-sized, which is the line every other twin here respects
  // (RunningTrend keeps five integers per key; this would keep the
  // corpus). The deployment contract is batch-periodic instead:
  // spans/removal run as a scheduled batch pass over landed data
  // (exactly how Lee et al. run it), with the incremental LSH/digest
  // families covering the between-passes window for near- and exact-
  // whole-document duplicates.
  test("streaming encode sink: saved artifact, stream == batch, replay-safe by key") {
    import graft.operators.Bucketing
    import graft.streaming.StreamingBpe
    for (t <- Seq("graft_bpe_sink_merges", "bpe_enc_out"))
      Bucketing.dropManagedTable(spark, t)
    val base = tempDir("bpesink")
    val merges = Seq(("a", "b"), ("ab", "ab"))
    Bpe.saveMerges(spark, "graft_bpe_sink_merges", merges)
    val rows = Seq((0L, "abab xy"), (1L, "ababab b"), (2L, "abc"))
    rows.toDF("doc_id", "text").write.parquet(s"$base/src")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def start() = StreamingBpe.encodeSink(
      spark.readStream.schema(schema).parquet(s"$base/src"),
      "graft_bpe_sink_merges", "bpe_enc_out", "doc_id", "text", s"$base/ckpt")
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val batch = rows.toDF("doc_id", "text").select($"doc_id",
        size(TextFunctions.bpeEncode($"text", merges)).cast("long"),
        array_join(TextFunctions.bpeEncode($"text", merges), " "))
      .as[(Long, Long, String)].collect().toSet
    def table() = spark.table("bpe_enc_out")
      .as[(Long, Long, String)].collect()
    assert(table().toSet == batch) // stream == batch, byte for byte
    // crash drill: batch 0 wrote but its offset never committed —
    // prune the checkpoint and restart; the sink re-appends batch 0
    prune(s"$base/ckpt", "commits", _ => false)
    prune(s"$base/ckpt", "offsets", _ == "0")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    spark.catalog.refreshTable("bpe_enc_out")
    val replayed = table()
    assert(replayed.length == 6) // at-least-once, as documented
    // determinism makes replays EXACT duplicates: keyed dedup is lossless
    assert(replayed.toSet == batch)
    for (t <- Seq("graft_bpe_sink_merges", "bpe_enc_out"))
      Bucketing.dropManagedTable(spark, t)
  }

  test("streaming decode sink: saved vocab, round-trips the encode sink's ids") {
    import graft.operators.{Bucketing, Curation}
    import graft.streaming.StreamingBpe
    for (t <- Seq("graft_bpe_dec_vocab", "bpe_dec_out"))
      Bucketing.dropManagedTable(spark, t)
    val base = tempDir("bpedec")
    // char-mode corpus with ▁ word-boundary marking (q138 semantics):
    // encode to ids against the marked vocab, save the vocab, stream
    // the id sequences through the decode sink, get the text back
    val rows = Seq((0L, "abab xy ab"), (1L, "b a"), (2L, "abc abc"))
    val docs = rows.toDF("doc_id", "text")
    val marked = docs.select($"doc_id", $"text",
      regexp_replace($"text", " ", " ▁ ").as("mtext"))
    val merges = Seq(("a", "b"), ("ab", "ab"))
    val vocab = Bpe.vocabTable(
        Bpe.wordTable(marked.select($"mtext".as("text")), "text"), merges)
      .groupBy($"token").agg(min($"id").as("id"))
    Bpe.saveVocab(spark, "graft_bpe_dec_vocab", vocab)
    val ids = Curation.tokenizeToIds(
      marked.select($"doc_id",
        array_join(TextFunctions.bpeEncode($"mtext", merges), " ").as("text")),
      "doc_id", "text", vocab)
    assert(ids.filter($"n_oov" =!= 0L).count() == 0)
    ids.select($"doc_id", $"ids").write.parquet(s"$base/src")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.StringType)))
    val q = StreamingBpe.decodeSink(
      spark.readStream.schema(schema).parquet(s"$base/src"),
      "graft_bpe_dec_vocab", "bpe_dec_out", "doc_id", "ids", s"$base/ckpt")
    q.processAllAvailable(); q.stop()
    val decoded = spark.table("bpe_dec_out")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(decoded == rows.toMap) // stream detok == original corpus
    for (t <- Seq("graft_bpe_dec_vocab", "bpe_dec_out"))
      Bucketing.dropManagedTable(spark, t)
  }

  test("unigram viterbi: integer order (fewest, then highest freq, " +
    "then smallest rendering); single-char floor always covers") {
    import graft.operators.Unigram
    // "abcd": {abcd} beats any split; without it, {ab,cd} vs {abc,d}
    // both n=2 — frequency decides; frequency tie -> rendering
    assert(Unigram.viterbi("abcd",
      Map("abcd" -> 1L, "ab" -> 99L, "cd" -> 99L), 4).get == Seq("abcd"))
    assert(Unigram.viterbi("abcd",
      Map("ab" -> 5L, "cd" -> 5L, "abc" -> 9L, "d" -> 2L), 4).get
      == Seq("abc", "d")) // 11 > 10
    assert(Unigram.viterbi("abcd",
      Map("ab" -> 5L, "cd" -> 5L, "a" -> 1L, "bcd" -> 9L), 4).get
      == Seq("a", "bcd")) // tie at 10 -> "a bcd" < "ab cd"
    // uncovered word: None (segmentWords turns this into a loud error)
    assert(Unigram.viterbi("xyz", Map("x" -> 1L, "z" -> 1L), 4).isEmpty)
    // char floor: any word covered by its alphabet
    assert(Unigram.viterbi("zzz", Map("z" -> 1L), 4).get
      == Seq("z", "z", "z"))
  }

  test("unigram hard-EM: seed covers, refit prunes unused tokens, " +
    "encode round-trips the corpus") {
    import graft.operators.{Bpe, Unigram}
    val corpus = Seq((0L, "lower lower newest newest newest widest"),
      (1L, "lower widest widest")).toDF("doc_id", "text")
    val words = Bpe.wordTableRaw(corpus, "text")
    val seed = Unigram.seedVocab(words, 4, 16)
    // the seed's single-char floor: every corpus char present
    val seedToks = seed.select($"token").as[String].collect().toSet
    "lowernewst".foreach(c => assert(seedToks.contains(c.toString), c))
    val vocab = Unigram.refit(words, seed)
    val vocabToks = vocab.select($"token").as[String].collect().toSet
    // carve-down: refit only keeps tokens the segmentation used
    assert(vocabToks.subsetOf(seedToks) && vocabToks.size < seedToks.size)
    // usage counts conserve mass: Σ cnt·len(token) == Σ freq·len(word)
    val lhs = vocab.select(sum($"cnt" * length($"token"))).as[Long].head()
    val rhs = words.select(sum($"freq" * length($"word"))).as[Long].head()
    assert(lhs == rhs)
    // encode: concatenating each doc's tokens reproduces its text
    val enc = Unigram.encode(corpus, "doc_id", "text", vocab)
      .select($"doc_id", $"toks").as[(Long, String)].collect().toMap
    corpus.as[(Long, String)].collect().foreach { case (id, text) =>
      assert(enc(id).replace(" ", "") == text.replace(" ", ""), s"doc $id")
    }
  }

  test("encode is a zero-exchange codegen projection") {
    val merges = Seq(("a", "b"))
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextFunctions.bpeEncode(col("text"), merges))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(plan.contains("*(1) Project")) // the codegen'd stage prefix
  }

  test("wordpiece objective: perfectly-collocated rare pair beats " +
    "frequent-but-independent pair") {
    import spark.implicits._
    // "qu" occurs 3x and q NEVER appears without u (score 3/(3*3));
    // "es" occurs 5x but e and s are everywhere (score diluted).
    val docs = Seq("ques quest quel es es es es es e e e e s s s s")
      .toDF("text")
    val wt = Bpe.wordTable(docs, "text")
    val wp = Bpe.learnMergesWordpiece(wt, 1)
    val bpe = Bpe.learnMergesFromWords(wt, 1)
    assert(wp.head == ("q", "u"), s"wp picked ${wp.head}")
    assert(bpe.head == ("e", "s"), s"bpe picked ${bpe.head}")
  }

  test("greedy longest-match encode: longest wins, char fallback, " +
    "zero-exchange projection") {
    import spark.implicits._
    val vocab = Seq("t", "a", "b", "l", "e", "s", "ta", "tab", "le", "fast")
    val got = Seq("tables", "fast", "x", "").toDF("w")
      .select(col("w"), Bpe.greedyEncodeWord(col("w"), vocab).as("toks"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("tables") == Seq("tab", "le", "s")) // longest-first, not t+a+b
    assert(got("fast") == Seq("fast"))             // whole-word token wins
    assert(got("x") == Seq("x"))                   // not in vocab: char fallback
    assert(got("") == Seq.empty)
    val plan = Seq("tables").toDF("w")
      .select(Bpe.greedyEncodeWord(col("w"), vocab))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
