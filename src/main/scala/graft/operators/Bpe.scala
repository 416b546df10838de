package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenization (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer an LLM data pipeline actually runs, completing the
  * word-level vocabulary family ([[Curation.buildVocab]]) with the
  * subword path that q47's packing and q75's chunking meter real
  * token budgets against.
  *
  * Scale shape: training NEVER iterates over the corpus. One
  * map-side-combined shuffle builds the word-frequency TYPE table
  * (Heaps' law: types grow ~√corpus, so the table is tiny relative
  * to any training corpus), and every merge round is a narrow
  * explode + aggregate over that table with a single-row TakeOrdered
  * — per-round cost is bounded by the type table, independent of
  * corpus size. Encoding is one corpus-parallel projection with the
  * merge list broadcast ([[graft.functions.TextFunctions.bpeEncode]]
  * keeps it a single codegen-friendly kernel call at any vocabulary
  * size; [[encodeComposed]] is the oracle-expressible composed twin).
  *
  * Symbol representation: a word is ONE string with each symbol
  * wrapped in spaces — `regexp_replace(w, "([^ ])", " \$1 ")` turns
  * `"ab"` into `" a  b "` (double space between symbols, triple at
  * word boundaries when applied to whole documents). A merge (a, b)
  * is then plain string `replace(" a  b " -> " ab ")`, which has
  * exactly the reference BPE's greedy left-to-right non-overlapping
  * application semantics IN BOTH Spark and DuckDB — the trick that
  * makes training oracle-checkable round by round. Characters are
  * UTF-16 units (fine for the BMP text this corpus holds; byte-level
  * BPE would swap [[spaced]] for a byte expansion, nothing else).
  */
object Bpe {
  private val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** `"ab"` → `" a  b "`: every non-space char becomes ` c `. */
  def spaced(c: Column): Column = regexp_replace(c, "([^ ])", " $1 ")

  /** BYTE-LEVEL symbol expansion of one word: every UTF-8 byte
    * becomes its 2-hex-digit uppercase name, spaced like [[spaced]]
    * (`"ab"` → `" 61  62 "`). `hex()` is the byte expansion both
    * engines share — it plays the role of GPT-2's bytes-to-unicode
    * table, making bytes printable merge-able string symbols, so the
    * whole training/encode machinery runs unchanged on top. */
  def byteSpaced(c: Column): Column = regexp_replace(hex(c), "(..)", " $1 ")

  private[graft] def mergePattern(a: String, b: String): (String, String) =
    (s" $a  $b ", s" $a$b ")

  /** The unspaced word table (word, freq) — the [[Unigram]] family's
    * substrate, which segments raw words rather than spaced symbol
    * strings. */
  def wordTableRaw(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The word-frequency type table in spaced form: (w, freq). The one
    * corpus-sized pass of training. */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    wordTableRaw(df, textCol)
      .select(spaced(col("word")).as("w"), col("freq"))

  /** [[wordTable]] in byte-level form: the same type table with
    * [[byteSpaced]] symbols, so [[learnMergesFromWords]] trains
    * byte-level merges with zero further changes — the swap the
    * char-mode scaladoc promised. */
  def wordTableBytes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(byteSpaced(col("word")).as("w"), col("freq"))

  /** Frequency-weighted adjacent-symbol-pair counts over a spaced
    * type table — overlapping occurrences count individually, the
    * reference get_stats semantics. */
  def pairCounts(words: DataFrame): DataFrame =
    words.select(split(trim(col("w")), "  ").as("syms"), col("freq"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms)-2), " +
          "i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Add two word tables over DISJOINT row sets — the incremental
    * half of training (the tokenCounts/q86 pattern): per-slice tables
    * merge by summed frequency, so a batch ingest extends the type
    * table without rescanning history, and training over the merged
    * table reproduces the from-scratch merges verbatim (q119 shares
    * q113's oracle). */
  def mergeWordTables(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("w")).agg(sum(col("freq")).as("freq"))

  /** Learn up to `numMerges` merges: each round takes the globally
    * most frequent pair (ties broken (a asc, b asc) — deterministic
    * across engines) and applies it to the type table lazily; the
    * replace chain is locally checkpointed every 8 rounds so lineage
    * depth stays bounded at any merge count. The returned list is
    * driver-side by design — it IS the tokenizer artifact (bounded by
    * `numMerges`, the IVF-centroid precedent), broadcast into the
    * encode kernel. Stops early when no pair repeats. */
  def learnMerges(df: DataFrame, textCol: String,
                  numMerges: Int): Seq[(String, String)] =
    learnMergesFromWords(wordTable(df, textCol), numMerges)

  /** [[learnMerges]] over a prebuilt (possibly incrementally merged)
    * word table. */
  def learnMergesFromWords(wordTab: DataFrame,
                           numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    var base = wordTab.persist(mem)
    base.count()
    var words: DataFrame = base
    var pending = 0
    val merges = ArrayBuffer[(String, String)]()
    var done = false
    while (merges.length < numMerges && !done) {
      val top = pairCounts(words)
        .filter(col("cnt") >= 2) // a pair seen once is not a vocabulary unit
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val (pat, rep) = mergePattern(a, b)
        words = words.select(replace(col("w"), lit(pat), lit(rep)).as("w"),
          col("freq"))
        pending += 1
        if (pending == 8) {
          val mat = words.localCheckpoint(true)
          base.unpersist(blocking = false)
          base = mat
          words = mat
          pending = 0
        }
      }
    }
    base.unpersist(blocking = false)
    merges.toSeq
  }

  /** WordPiece-objective merge learning: each round merges the pair
    * maximizing LIKELIHOOD GAIN `count(ab) / (count(a)·count(b))`
    * (the WordPiece/SentencePiece-BPE scoring, vs plain-BPE's raw
    * `count(ab)`) — the score prefers pairs that co-occur more than
    * their parts' popularity predicts, so frequent-but-independent
    * symbol pairs ("e"+"s" everywhere) lose to genuinely collocated
    * ones. Mechanics are [[learnMergesFromWords]]'s verbatim (type
    * table, lazy replace chain, bounded-lineage checkpoints); the one
    * extra per-round aggregate is the freq-weighted symbol count
    * table (vocabulary-sized, map-side combined). The score divides
    * exact integers in DOUBLE — one IEEE division, identical in both
    * engines — with the (a, b) tie-break preserved. */
  def learnMergesWordpiece(wordTab: DataFrame,
                           numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    var base = wordTab.persist(mem)
    base.count()
    var words: DataFrame = base
    var pending = 0
    val merges = ArrayBuffer[(String, String)]()
    var done = false
    while (merges.length < numMerges && !done) {
      val syms = words
        .select(explode(split(trim(col("w")), "  ")).as("sym"), col("freq"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("sf"))
      val top = pairCounts(words)
        .filter(col("cnt") >= 2)
        .join(syms.select(col("sym").as("a"), col("sf").as("fa")), Seq("a"))
        .join(syms.select(col("sym").as("b"), col("sf").as("fb")), Seq("b"))
        .withColumn("score", col("cnt").cast("double") /
          (col("fa").cast("double") * col("fb").cast("double")))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(1).select(col("a"), col("b")).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val (pat, rep) = mergePattern(a, b)
        words = words.select(replace(col("w"), lit(pat), lit(rep)).as("w"),
          col("freq"))
        pending += 1
        if (pending == 8) {
          val mat = words.localCheckpoint(true)
          base.unpersist(blocking = false)
          base = mat
          words = mat
          pending = 0
        }
      }
    }
    base.unpersist(blocking = false)
    merges.toSeq
  }

  /** The TRUE BPE vocabulary: the id space a trainer consumes. Base
    * symbols (every initial symbol occurring in the type table,
    * sorted) take ids 0..k−1; merge OUTPUTS take k..k+numMerges−1 in
    * rank order — the GPT-2 vocab-file layout, and closed over any
    * encode of the training corpus by construction (every emitted
    * token is either an initial symbol or a merge output), so
    * id-mapping has NO OOV path (q133 pins n_oov = 0 corpus-wide).
    * Works identically for char and byte mode (feed [[wordTable]] or
    * [[wordTableBytes]]).
    *
    * The global row_number window is vocab-sized (base symbols +
    * numMerges — the IVF-centroid class of bounded smallness), not
    * corpus-sized; `base.count()` is the same bounded collect every
    * artifact here does. Two merges CAN emit the same string (e.g.
    * (a,bc) and (ab,c)); consumers resolve by MIN id
    * ([[graft.operators.Curation.tokenizeToIds]] callers group
    * first), mirrored in the oracle. Output: (token, id). */
  def vocabTable(wordTab: DataFrame,
                 merges: Seq[(String, String)]): DataFrame = {
    val spark = wordTab.sparkSession
    import spark.implicits._
    val base = wordTab
      .select(explode(split(trim(col("w")), " {2,}")).as("token"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("token"))
    val nBase = base.count()
    base.select(col("token"),
        (row_number().over(w) - 1).cast("long").as("id"))
      .unionByName(merges.zipWithIndex
        .map { case ((a, b), r) => (a + b, nBase + r) }
        .toDF("token", "id"))
  }

  /** Persist the tokenizer artifact as a managed table (rank, lhs,
    * rhs) — the deployment shape where the trained tokenizer lives
    * beside the data and every consumer loads it instead of
    * retraining (the [[Pq.saveCodebook]] lifecycle). */
  def saveMerges(spark: org.apache.spark.sql.SparkSession, name: String,
                 merges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    Bucketing.dropManagedTable(spark, name)
    merges.zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
      .toDF("rank", "lhs", "rhs")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(name)
  }

  /** Load a [[saveMerges]] table back into rank order. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 name: String): Seq[(String, String)] =
    spark.table(name).orderBy(col("rank"))
      .select(col("lhs"), col("rhs"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Persist a [[vocabTable]] as a managed table (token, id) — the
    * other half of the tokenizer artifact ([[saveMerges]] carries the
    * ENCODER's merge rules; this carries the id space an embedding
    * table and any DECODER need). Same lifecycle: write once per
    * training run, every consumer loads. */
  def saveVocab(spark: org.apache.spark.sql.SparkSession, name: String,
                vocab: DataFrame): Unit = {
    Bucketing.dropManagedTable(spark, name)
    vocab.select(col("token"), col("id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(name)
  }

  /** Reload a [[saveVocab]] table: (token, id). */
  def loadVocab(spark: org.apache.spark.sql.SparkSession,
                name: String): DataFrame = spark.table(name)

  /** Composed encode: the whole document as one spaced string through
    * the merge chain in rank order, then split back to the flat token
    * sequence (word boundaries are triple spaces, so no merge crosses
    * a word). Sequential rank-order application equals the reference
    * priority-iterative encode as long as no merge's output string
    * duplicates an existing symbol (a consumed pair cannot otherwise
    * re-form — BpeSpec pins kernel == composed on the corpus).
    * Oracle-expressible, but the plan carries one `replace` node per
    * merge — the real-vocabulary path is the kernel expression
    * ([[graft.functions.TextFunctions.bpeEncode]]), one node at any
    * merge count. */
  def encodeComposed(c: Column, merges: Seq[(String, String)]): Column = {
    val enc = merges.foldLeft(spaced(c)) { case (e, (a, b)) =>
      val (pat, rep) = mergePattern(a, b)
      replace(e, lit(pat), lit(rep))
    }
    when(length(trim(enc)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(enc), " {2,}"))
  }

  /** Byte-mode DECODE: tokens → the original text. Tokens are hex
    * byte runs (specials pass through verbatim), so decode is
    * `unhex(concat(tokens))` — specials are first hex-expanded so one
    * unhex covers the whole stream, which is exactly their UTF-8
    * bytes, i.e. the text the special stood for. A pure projection
    * (no shuffle, no state): detok for eval dumps costs one map pass
    * at any corpus size.
    *
    * Byte-exact inverse of [[graft.functions.TextFunctions.bpeEncode]]
    * with `preserveSpaces = true` (spaces ride as "20" tokens); under
    * plain byte mode it reproduces the text with spaces elided (the
    * [[graft.BpeSpec]] glued contract). */
  def decodeBytes(toks: Column, specials: Seq[String] = Nil): Column = {
    val hexed =
      if (specials.isEmpty) toks
      else transform(toks, t =>
        when(t.isin(specials: _*), hex(t)).otherwise(t))
    unhex(array_join(hexed, "")).cast("string")
  }

  /** [[encodeComposed]]'s byte-level twin, with SPECIAL-token
    * passthrough: each whitespace word either IS a special (emitted
    * verbatim as one never-decomposed symbol) or expands to its
    * [[byteSpaced]] hex symbols; word boundaries are triple spaces
    * exactly like the char path, so the same merge-chain replaces
    * apply. Oracle-expressible (hex + per-word CASE in DuckDB); the
    * real-vocabulary path is the kernel
    * ([[graft.functions.TextFunctions.bpeEncode]] with
    * `byteLevel = true`), which also handles specials GLUED to text —
    * the composed twin only honors whole-word specials, the shape the
    * oracle corpus uses. */
  /** WordPiece-style GREEDY longest-match-first encode of one word
    * against an explicit vocabulary — the third classic encode
    * algorithm beside merge-order BPE ([[encodeComposed]]) and
    * unigram Viterbi ([[Unigram]]); BERT's WordPiece runtime is
    * exactly this loop over its learned vocab. At each position the
    * LONGEST vocab token matching the remaining suffix is emitted;
    * characters absent from the vocab fall back to themselves as
    * single-char tokens (so coverage never fails).
    *
    * The vocab rides as a bounded array literal sorted longest-first,
    * making `filter(vocab, matches)[1]` the longest match — the whole
    * encode is one codegen'd `aggregate` projection (one fold step
    * per character position, each scanning the small vocab), with no
    * join, no shuffle, no UDF. Oracle-expressible as a recursive CTE
    * with the same longest-first list ([[BpeQueries]] q217). */
  def greedyEncodeWord(w: Column, vocab: Seq[String]): Column = {
    val sorted = vocab.distinct.sortBy(v => (-v.length, v))
    val varr = array(sorted.map(lit): _*)
    val enc = aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("toks")),
      (st, _) => {
        val pos = st.getField("pos")
        // `get` (not element_at) — ANSI mode throws on index-past-end,
        // and the filter result IS empty when no vocab token matches
        val m = coalesce(
          get(filter(varr, v => w.substr(pos, length(v)) === v), lit(0)),
          w.substr(pos, lit(1)))
        when(pos > length(w), st)
          .otherwise(struct((pos + length(m)).as("pos"),
            concat(st.getField("toks"), array(m)).as("toks")))
      },
      st => st.getField("toks"))
    when(length(w) === 0, array().cast("array<string>")).otherwise(enc)
  }

  def encodeComposedBytes(c: Column, merges: Seq[(String, String)],
                          specials: Seq[String] = Nil): Column = {
    val words = filter(split(c, " "), w => length(w) > 0)
    val sym: Column => Column =
      if (specials.isEmpty) byteSpaced
      else w => when(w.isin(specials: _*),
        concat(lit(" "), w, lit(" "))).otherwise(byteSpaced(w))
    val enc = merges.foldLeft(array_join(transform(words, sym), " ")) {
      case (e, (a, b)) =>
        val (pat, rep) = mergePattern(a, b)
        replace(e, lit(pat), lit(rep))
    }
    when(length(trim(enc)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(enc), " {2,}"))
  }
}
