package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions

/** Subword (BPE) tokenization through the oracle gate (q113–q115):
  * the learned merge table, the encoded corpus, and sequence packing
  * metered in real subword tokens instead of whitespace words.
  *
  * The DuckDB oracle re-learns the merges round by round as chained
  * CTEs — the spaced-string representation makes one training round
  * a plain `replace` + pair-count + `ORDER BY ... LIMIT 1`, identical
  * in both engines (see [[Bpe]]), so the merge table, every encoded
  * token, and the packing layout are hash-compared end to end.
  */
object BpeQueries {

  private def docs(s: SparkSession, d: String) = t(s, d, "documents")

  /** The tokenizer artifact is learn-once (like the IVF index and PQ
    * codebooks): cached per (session, dir) so every consumer — and
    * every bench iteration — measures encode, not retraining. */
  private val NumMerges = 10
  private val PackBudget = 1024L

  private val mergeCache =
    scala.collection.concurrent.TrieMap[(String, String), Seq[(String, String)]]()

  private def sessionKey(s: SparkSession): String =
    try s.getClass.getMethod("sessionUUID").invoke(s).asInstanceOf[String]
    catch { case _: ReflectiveOperationException =>
      String.valueOf(System.identityHashCode(s)) }

  private def merges(s: SparkSession, d: String): Seq[(String, String)] =
    mergeCache.getOrElseUpdate((sessionKey(s), d),
      Bpe.learnMerges(docs(s, d), "text", NumMerges))

  private def bytesMerges(s: SparkSession, d: String): Seq[(String, String)] =
    mergeCache.getOrElseUpdate((sessionKey(s), d + "#bytes"),
      Bpe.learnMergesFromWords(Bpe.wordTableBytes(docs(s, d), "text"),
        NumMerges))

  /** The full vocab (base symbols + merge outputs) as a driver-side
    * list — the artifact the greedy longest-match encode broadcasts
    * as an array literal (bounded like the merge list; same
    * learn-once lifecycle). */
  private val gvCache =
    scala.collection.concurrent.TrieMap[(String, String), Seq[String]]()

  private def greedyVocab(s: SparkSession, d: String): Seq[String] =
    gvCache.getOrElseUpdate((sessionKey(s), d), {
      import s.implicits._
      Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), merges(s, d))
        .select("token").as[String].collect().toSeq
    })

  /** WordPiece-objective merges — learn-once like the BPE chain. */
  private def wpMerges(s: SparkSession, d: String): Seq[(String, String)] =
    mergeCache.getOrElseUpdate((sessionKey(s), d + "#wp"),
      Bpe.learnMergesWordpiece(Bpe.wordTable(docs(s, d), "text"), NumMerges))

  private def wpVocab(s: SparkSession, d: String): Seq[String] =
    gvCache.getOrElseUpdate((sessionKey(s), d + "#wp"), {
      import s.implicits._
      Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), wpMerges(s, d))
        .select("token").as[String].collect().toSeq
    })

  /** The v4 pipeline's curated, metered corpus — span removal, the
    * learned gate, and the subword count, materialized ONCE per
    * (session, dir). A real pipeline materializes the curated corpus
    * before packing shards (packing's two-phase prefix sum drives
    * several actions, each of which would otherwise re-run the whole
    * removal→gate→encode chain). Same lifecycle as the shingle/span
    * caches, dropped by [[clearCache]]. */
  private val v4Cache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  /** The cleaned-and-gated v4 CORPUS itself (doc_id, text) — span
    * removal + learned NB gate, materialized once; [[v4Metered]] and
    * the v5 shard terminal (q143) both read it. */
  private def v4Corpus(s: SparkSession, d: String): DataFrame =
    v4Cache.getOrElseUpdate((sessionKey(s), d + "#corpus"), {
      val dd = docs(s, d)
      val cleaned = Dedup.removeSpans(
          TextPipelineQueries.augSpanDocs(s, d), "doc_id", "text",
          TextPipelineQueries.spanTab(s, d))
        .select(col("doc_id"), col("text_clean").as("text"))
      val weights = Curation.nbTrain(dd, "doc_id", "text",
        dd.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), (col("lang") === "en").cast("int").as("y")),
        64)
      val kept = Curation.nbGate(cleaned, "doc_id", "text", weights, 64)
        .filter(col("pred")).select(col("doc_id"))
      cleaned.join(kept, Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  private def v4Metered(s: SparkSession, d: String): DataFrame =
    v4Cache.getOrElseUpdate((sessionKey(s), d),
      v4Corpus(s, d)
        .select(col("doc_id"),
          size(TextFunctions.bpeEncode(col("text"), merges(s, d)))
            .cast("long").as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** q133's per-document token-id table (doc_id, n_tokens, ids) —
    * the shard writer's payload, shared by q139/q144/q150 (and
    * q143's sibling chain). Materialized ONCE per (session, dir): a
    * real pipeline persists the encoded-id corpus before sharding —
    * the pack/write/audit family drives several actions, each of
    * which would otherwise re-run the whole encode→vocab→ids chain
    * (the [[v4Corpus]] argument applied to the id artifact). */
  private def idsTable(s: SparkSession, d: String): DataFrame =
    v4Cache.getOrElseUpdate((sessionKey(s), d + "#ids"), {
      val m = merges(s, d)
      val bpeText = docs(s, d).select(col("doc_id"),
        array_join(TextFunctions.bpeEncode(col("text"), m), " ").as("text"))
      val vocab = Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), m)
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      Curation.tokenizeToIds(bpeText, "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
          col("ids"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The trained unigram vocabulary (seed → one hard-EM round →
    * prune), learn-once per (session, dir) like the merge table. */
  private val UniMaxLen = 4
  private val UniTopK = 64
  private val UniPruneFloor = 1500L

  private def uniVocab(s: SparkSession, d: String): DataFrame =
    v4Cache.getOrElseUpdate((sessionKey(s), d + "#univocab"), {
      val words = Bpe.wordTableRaw(docs(s, d), "text")
      Unigram.refit(words, Unigram.seedVocab(words, UniMaxLen, UniTopK))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Byte-mode twin: the word table rendered as uppercase hex (2
    * chars = 1 byte = 1 unit), trained with unit = 2 so every token
    * is byte-aligned by construction. */
  private def hexWords(s: SparkSession, d: String): DataFrame =
    Bpe.wordTableRaw(docs(s, d), "text")
      .select(hex(col("word")).as("word"), col("freq"))

  private def uniBytesVocab(s: SparkSession, d: String): DataFrame =
    v4Cache.getOrElseUpdate((sessionKey(s), d + "#unibytes"), {
      val words = hexWords(s, d)
      Unigram.refit(words,
          Unigram.seedVocab(words, UniMaxLen, UniTopK, unit = 2))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The byte-mode decode roundtrip under a given byte vocabulary:
    * every word segmented, tokens concatenated and unhexed back to
    * text, reassembled in document order — shared by q191 (from-
    * scratch vocab) and q204 (incrementally-folded vocab). */
  private def bytesRoundtrip(s: SparkSession, d: String,
                             vocab: DataFrame): DataFrame = {
    val seg = Unigram.segmentWords(hexWords(s, d), vocab)
      .select(col("word").as("__hx"), col("toks"),
        size(split(col("toks"), " ")).cast("long").as("__nt"),
        decode(unhex(regexp_replace(col("toks"), " ", "")), "UTF-8")
          .as("__dec"))
    docs(s, d).select(col("doc_id"), col("text"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .withColumn("__hx", hex(col("w")))
      .join(seg, Seq("__hx"))
      .groupBy(col("doc_id"))
      .agg(min(col("text")).as("__text"),
        sum(col("__nt")).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("__dec")))),
          x => x.getField("__dec"))).as("decoded"))
      .select(col("doc_id"), col("n_tokens"), col("decoded"),
        (col("decoded") === col("__text")).as("ok"))
  }

  /** The digest input rendering shared by the shard-manifest rows and
    * both engines: every payload field of the row, pipe-joined. */
  private def shardRowContent =
    concat_ws("|", col("doc_id"), col("n_tokens"), col("seq_id"), col("ids"))

  /** The sealed-layout rendering: sequence identity is hierarchical
    * (shard_id, seq_in_shard), so both fields enter the digest. */
  private def sealedRowContent =
    concat_ws("|", col("doc_id"), col("n_tokens"),
      col("shard_id").cast("long"), col("seq_in_shard"), col("ids"))

  /** [[idsTable]]'s chain over the span-AUGMENTED corpus — the
    * pre-repair baseline both q167 and the sealed-repair family
    * derive from. Immutable per (session, dir), so it materializes
    * once like the raw-corpus id table. */
  private def augIdsTable(s: SparkSession, d: String): DataFrame =
    v4Cache.getOrElseUpdate((sessionKey(s), d + "#augids"), {
      val m = merges(s, d)
      val vocab = Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), m)
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      Curation.tokenizeToIds(
          TextPipelineQueries.augSpanDocs(s, d).select(col("doc_id"),
            array_join(TextFunctions.bpeEncode(col("text"), m), " ")
              .as("text")),
          "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
          col("ids"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  lazy val specs: Seq[QuerySpec] = Seq(
    // WordPiece-style greedy longest-match encode over the BPE-learned
    // vocab (Bpe.greedyEncodeWord) — encoded once per DISTINCT word
    // (the type-table discipline: vocabulary-sized work, not
    // corpus-sized), weighted back by freq downstream.
    QuerySpec("q217_greedy_encode", (s, d) => {
      val v = greedyVocab(s, d)
      Bpe.wordTableRaw(docs(s, d), "text")
        .select(col("word").as("w"), col("freq"),
          Bpe.greedyEncodeWord(col("word"), v).as("__t"))
        .select(col("w"), col("freq"),
          array_join(col("__t"), " ").as("toks"),
          size(col("__t")).cast("long").as("n_tok"))
    },
      // greedy longest-match as a recursive CTE: the longest-first
      // token list makes list_filter(...)[1] the longest match; char
      // fallback keeps coverage total
      s"""WITH RECURSIVE ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |wr AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |wf AS (SELECT word, count(*)::BIGINT AS freq FROM wr
         |       WHERE len(word) > 0 GROUP BY word),
         |vt AS (SELECT DISTINCT token FROM vocab),
         |vlist AS (SELECT list(token ORDER BY length(token) DESC, token) AS vl
         |          FROM vt),
         |st AS (
         |  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM wf
         |  UNION ALL
         |  SELECT word, CAST(pos + length(m) AS INT) AS pos,
         |         list_append(toks, m) AS toks
         |  FROM (SELECT word, pos, toks,
         |          coalesce(list_filter(vlist.vl,
         |                     v -> substr(word, pos, length(v)) = v)[1],
         |                   substr(word, pos, 1)) AS m
         |        FROM st, vlist WHERE pos <= length(word)) x),
         |done AS (SELECT word, toks FROM st WHERE pos > length(word))
         |SELECT wf.word AS w, wf.freq, array_to_string(d.toks, ' ') AS toks,
         |       len(d.toks)::BIGINT AS n_tok
         |FROM wf JOIN done d USING (word)""".stripMargin),
    // Same vocab, two encode algorithms: merge-order BPE vs greedy
    // longest-match, metered in corpus fertility (tokens per word,
    // basis points). The practical bake-off every tokenizer swap
    // runs — greedy is one pass per word; merge-order replays the
    // merge history — and the integer fertility makes the comparison
    // itself gate-checkable.
    QuerySpec("q218_tokenizer_bakeoff", (s, d) => {
      val v = greedyVocab(s, d)
      val ms = merges(s, d)
      val wt = Bpe.wordTableRaw(docs(s, d), "text")
      def total(nt: org.apache.spark.sql.Column, name: String) =
        wt.select(col("freq"), nt.as("__nt"))
          .agg(sum(col("freq")).as("n_words"),
            sum(col("freq") * col("__nt")).as("n_tokens"))
          .select(lit(name).as("tokenizer"), col("n_words"),
            col("n_tokens"),
            expr("n_tokens * 10000 div n_words").as("fertility_bp"))
      total(size(Bpe.greedyEncodeWord(col("word"), v)).cast("long"),
          "greedy_longest_match")
        .unionByName(total(
          size(Bpe.encodeComposed(col("word"), ms)).cast("long"),
          "bpe_merge_order"))
    },
      // greedy totals from the recursive encode; merge-order totals
      // straight from the final training type table words{N}
      s"""WITH RECURSIVE ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |wr AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |wf AS (SELECT word, count(*)::BIGINT AS freq FROM wr
         |       WHERE len(word) > 0 GROUP BY word),
         |vt AS (SELECT DISTINCT token FROM vocab),
         |vlist AS (SELECT list(token ORDER BY length(token) DESC, token) AS vl
         |          FROM vt),
         |st AS (
         |  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM wf
         |  UNION ALL
         |  SELECT word, CAST(pos + length(m) AS INT) AS pos,
         |         list_append(toks, m) AS toks
         |  FROM (SELECT word, pos, toks,
         |          coalesce(list_filter(vlist.vl,
         |                     v -> substr(word, pos, length(v)) = v)[1],
         |                   substr(word, pos, 1)) AS m
         |        FROM st, vlist WHERE pos <= length(word)) x),
         |done AS (SELECT word, toks FROM st WHERE pos > length(word)),
         |g AS (SELECT CAST(sum(wf.freq) AS BIGINT) AS n_words,
         |             CAST(sum(wf.freq * len(d.toks)) AS BIGINT) AS n_tokens
         |      FROM wf JOIN done d USING (word)),
         |b AS (SELECT CAST(sum(freq) AS BIGINT) AS n_words,
         |             CAST(sum(freq * len(string_split(trim(w), '  ')))
         |                  AS BIGINT) AS n_tokens
         |      FROM words$NumMerges)
         |SELECT 'greedy_longest_match' AS tokenizer, n_words, n_tokens,
         |       CAST(n_tokens * 10000 // n_words AS BIGINT) AS fertility_bp
         |FROM g
         |UNION ALL
         |SELECT 'bpe_merge_order' AS tokenizer, n_words, n_tokens,
         |       CAST(n_tokens * 10000 // n_words AS BIGINT) AS fertility_bp
         |FROM b""".stripMargin),
    // Distributed-data-loader read plan over the sealed layout: per
    // epoch, shards are permuted by salted-hash rank and dealt
    // round-robin to W workers — the PyTorch DistributedSampler
    // contract (shuffle(shards)[rank::world_size]) as a query, with
    // per-worker token totals and a balance audit (skew_bp = this
    // worker's tokens / ideal share, basis points). All ranking runs
    // over the SHARD CATALOG (metadata-scale — thousands of rows at
    // 100 TB), never over documents.
    QuerySpec("q219_loader_plan", (s, d) => {
      import s.implicits._
      val W = 4
      val ids = idsTable(s, d)
      val shards = Packing.packSealed(
          ids.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
        .groupBy(col("shard_id").cast("long").as("shard_id"))
        .agg(countDistinct(col("seq_in_shard")).cast("long").as("n_seqs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
      val epochs = Seq(0L, 1L).toDF("epoch")
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch")).orderBy(col("hk"), col("shard_id"))
      val planned = shards.crossJoin(broadcast(epochs))
        .withColumn("hk", md5(concat(col("shard_id").cast("string"),
          lit("|lp|"), col("epoch").cast("string"))))
        .withColumn("worker",
          ((row_number().over(wRank) - 1) % W).cast("long"))
      val tot = shards.agg(sum(col("n_tokens")).as("tot"))
      planned.groupBy(col("epoch"), col("worker"))
        .agg(count(lit(1)).as("n_shards"), sum(col("n_seqs")).as("n_seqs"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("epoch"), col("worker"), col("n_shards"),
          col("n_seqs"), col("n_tokens"),
          expr(s"n_tokens * $W * 10000 div tot").as("skew_bp"))
    },
      // loader plan recomputed from the sealed layout CTEs: hash-rank
      // permutation per epoch, round-robin deal, balance in bp
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |$shardLayoutCtes,
         |$sealedLayoutCtes,
         |shl AS (SELECT shard_id,
         |         count(DISTINCT seq_in_shard)::BIGINT AS n_seqs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |       FROM sl GROUP BY 1),
         |e AS (SELECT unnest(range(2)) AS epoch),
         |r AS (SELECT epoch, shard_id, n_seqs, n_tokens,
         |        row_number() OVER (PARTITION BY epoch
         |          ORDER BY md5(CAST(shard_id AS VARCHAR) || '|lp|' ||
         |                       CAST(epoch AS VARCHAR)), shard_id) AS rk
         |      FROM shl CROSS JOIN e),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM shl)
         |SELECT CAST(epoch AS BIGINT) AS epoch,
         |       CAST((rk - 1) % 4 AS BIGINT) AS worker,
         |       CAST(count(*) AS BIGINT) AS n_shards,
         |       CAST(sum(n_seqs) AS BIGINT) AS n_seqs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_tokens) * 4 * 10000 // tot AS BIGINT) AS skew_bp
         |FROM r CROSS JOIN tot GROUP BY epoch, worker, tot""".stripMargin),
    // WordPiece-objective training: merges ranked by likelihood gain
    // cnt/(sf_a·sf_b) instead of raw count — collocation beats bare
    // frequency (Bpe.learnMergesWordpiece). Completes the tokenizer
    // TRAINING trio: BPE count-order (q113), unigram EM carve-down
    // (q173), wordpiece likelihood (here).
    QuerySpec("q221_wordpiece_merges", (s, d) => {
      import s.implicits._
      wpMerges(s, d).zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
    },
      s"""WITH ${wpTrainingCtes(NumMerges)}
         |SELECT * FROM (
         |${(0 until NumMerges).map(r =>
             s"  SELECT ${r}::BIGINT AS rank, a AS lhs, b AS rhs FROM wpb$r")
             .mkString("  UNION ALL\n")}
         |)""".stripMargin),
    // The full WordPiece pipeline: likelihood-trained vocab + greedy
    // longest-match runtime (q217's encoder, different artifact) —
    // per-distinct-word segmentations under the wp vocab.
    QuerySpec("q222_wordpiece_encode", (s, d) => {
      val v = wpVocab(s, d)
      Bpe.wordTableRaw(docs(s, d), "text")
        .select(col("word").as("w"), col("freq"),
          Bpe.greedyEncodeWord(col("word"), v).as("__t"))
        .select(col("w"), col("freq"),
          array_join(col("__t"), " ").as("toks"),
          size(col("__t")).cast("long").as("n_tok"))
    },
      s"""WITH RECURSIVE ${wpTrainingCtes(NumMerges)},
         |${wpVocabCte(NumMerges)},
         |wr AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |wf AS (SELECT word, count(*)::BIGINT AS freq FROM wr
         |       WHERE len(word) > 0 GROUP BY word),
         |vlist AS (SELECT list(token ORDER BY length(token) DESC, token) AS vl
         |          FROM wpvocab),
         |st AS (
         |  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM wf
         |  UNION ALL
         |  SELECT word, CAST(pos + length(m) AS INT) AS pos,
         |         list_append(toks, m) AS toks
         |  FROM (SELECT word, pos, toks,
         |          coalesce(list_filter(vlist.vl,
         |                     v -> substr(word, pos, length(v)) = v)[1],
         |                   substr(word, pos, 1)) AS m
         |        FROM st, vlist WHERE pos <= length(word)) x),
         |done AS (SELECT word, toks FROM st WHERE pos > length(word))
         |SELECT wf.word AS w, wf.freq, array_to_string(d.toks, ' ') AS toks,
         |       len(d.toks)::BIGINT AS n_tok
         |FROM wf JOIN done d USING (word)""".stripMargin),
    // The learned merge table itself — rank order IS the tokenizer.
    QuerySpec("q113_bpe_merges", (s, d) => {
      import s.implicits._
      merges(s, d).zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
    },
      mergesSql),
    // Corpus encode via the kernel expression (one node at any
    // vocabulary size); the oracle encodes with the composed replace
    // chain, so this also pins kernel == sequential semantics on the
    // full corpus every round.
    QuerySpec("q114_bpe_encode", (s, d) => {
      val toks = TextFunctions.bpeEncode(col("text"), merges(s, d))
      docs(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        array_join(toks, " ").as("toks"))
    },
      encodeSql),
    // Tokenizer fertility — the per-language health metric every
    // tokenizer review reads (tokens/word, tokens/char): a vocabulary
    // trained lopsidedly shows immediately as high fertility on the
    // under-served language. One encode pass, one #langs-sized agg.
    QuerySpec("q147_tokenizer_fertility", (s, d) => {
      val nt = size(TextFunctions.bpeEncode(col("text"), merges(s, d)))
        .cast("long")
      docs(s, d).select(col("lang"), nt.as("__nt"),
          size(split(col("text"), " ")).cast("long").as("__nw"),
          length(col("text")).cast("long").as("__nb"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).cast("long").as("n_tokens"),
          round(sum(col("__nt")).cast("double") / sum(col("__nw")), 4)
            .as("tokens_per_word"),
          round(sum(col("__nt")).cast("double") / sum(col("__nb")), 4)
            .as("tokens_per_char"))
    },
      s"""WITH ${trainingCtes(NumMerges)},
         |enc AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM documents),
         |j AS (SELECT d.lang, len(e.toks)::BIGINT AS nt,
         |        len(string_split(d.text, ' '))::BIGINT AS nw,
         |        len(d.text)::BIGINT AS nb
         |      FROM documents d JOIN enc e USING (doc_id))
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(nt)::BIGINT AS n_tokens,
         |       round(sum(nt)::DOUBLE / sum(nw), 4) AS tokens_per_word,
         |       round(sum(nt)::DOUBLE / sum(nb), 4) AS tokens_per_char
         |FROM j GROUP BY lang""".stripMargin),
    // q47's packing re-metered in subword tokens — the budget now
    // means what a trainer means by it.
    QuerySpec("q115_bpe_packing", (s, d) =>
      Packing.packByBudget(
        docs(s, d).select(col("doc_id"),
          size(TextFunctions.bpeEncode(col("text"), merges(s, d)))
            .cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget),
      s"""WITH ${trainingCtes(NumMerges)},
         |tc AS (SELECT doc_id,
         |  len(${encodeExpr(NumMerges)})::BIGINT AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM tc)
         |SELECT doc_id, n_tokens, CAST(s // $PackBudget AS BIGINT) AS seq_id
         |FROM c""".stripMargin),
    // Incremental training: per-slice word tables merge by summed
    // frequency, training over the merged table — must reproduce the
    // from-scratch merges verbatim (SHARES q113's oracle SQL, the
    // q110/q80 invariant pattern). History is never re-tokenized.
    QuerySpec("q119_bpe_incremental", (s, d) => {
      import s.implicits._
      val doc = docs(s, d)
      Bpe.learnMergesFromWords(
          Bpe.mergeWordTables(
            Bpe.wordTable(doc.filter(col("doc_id") % 5 =!= 0), "text"),
            Bpe.wordTable(doc.filter(col("doc_id") % 5 === 0), "text")),
          NumMerges)
        .zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
    },
      // q119 is the incrementally-trained form of the SAME merges; q120
      // the saved-then-loaded form of the SAME encode — the from-scratch
      // oracles apply verbatim (the q110/q80 invariant pattern).
      mergesSql),
    // Saved-artifact lifecycle: the tokenizer persisted as a managed
    // table, loaded back, and used to encode — must match the
    // in-session encode exactly (SHARES q114's oracle SQL).
    QuerySpec("q120_bpe_encode_saved", (s, d) => {
      val name = s"graft_bpe_merges_${math.abs(d.hashCode.toLong)}"
      Bpe.saveMerges(s, name, merges(s, d))
      val toks = TextFunctions.bpeEncode(col("text"), Bpe.loadMerges(s, name))
      docs(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        array_join(toks, " ").as("toks"))
    },
      encodeSql, writes = true),
    // The last step before a trainer, at SUBWORD grain: per-doc id
    // sequences against a frequency-ranked 64-entry BPE-token
    // vocabulary with OOV accounting — q77's shape re-based from
    // words onto the learned subword units (encode is the kernel
    // projection; the id machinery is the shared word-level code).
    QuerySpec("q122_bpe_ids", (s, d) => {
      val bpeText = docs(s, d).select(col("doc_id"),
        array_join(TextFunctions.bpeEncode(col("text"), merges(s, d)), " ")
          .as("text"))
      Curation.tokenizeToIds(bpeText, "doc_id", "text",
        Curation.buildVocab(bpeText, "text", 64))
    },
      s"""WITH ${trainingCtes(NumMerges)},
         |enc AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM documents),
         |tk2 AS (SELECT doc_id, s.p AS pos, s.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s
         |         FROM enc) q),
         |cnt AS (SELECT token, count(*) AS c FROM tk2 GROUP BY token),
         |vocab AS (SELECT token,
         |            CAST(row_number() OVER (ORDER BY c DESC, token ASC) - 1
         |                 AS BIGINT) AS id
         |          FROM cnt ORDER BY c DESC, token ASC LIMIT 64),
         |ids AS (SELECT doc_id, pos, coalesce(v.id, -1) AS id
         |        FROM tk2 LEFT JOIN vocab v USING (token))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
         |FROM ids GROUP BY doc_id""".stripMargin),
    // BYTE-LEVEL training (the GPT-2/Llama-family norm): the same
    // merge machinery over 2-hex-digit UTF-8 byte symbols — the swap
    // the char-mode scaladoc promised, now exercised through the
    // oracle gate.
    QuerySpec("q128_bpe_bytes_merges", (s, d) => {
      import s.implicits._
      bytesMerges(s, d).zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
    },
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)}
         |${mergesUnionSql(NumMerges)}""".stripMargin),
    // Byte-level corpus encode with a SPECIAL control token: every
    // document is prefixed with '<|doc|>', which must pass through
    // the kernel verbatim while everything else decomposes to byte
    // symbols. The oracle encodes with the composed per-word CASE
    // chain, so this also pins kernel == composed in byte mode with
    // specials on the full corpus.
    QuerySpec("q129_bpe_bytes_encode", (s, d) => {
      val aug = docs(s, d).select(col("doc_id"),
        concat(lit("<|doc|> "), col("text")).as("text"))
      val toks = TextFunctions.bpeEncode(col("text"), bytesMerges(s, d),
        byteLevel = true, specials = Seq("<|doc|>"))
      aug.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        array_join(toks, " ").as("toks"))
    },
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)},
         |augb AS (SELECT doc_id, '<|doc|> ' || text AS text FROM documents),
         |enc AS (SELECT doc_id,
         |  ${encodeExprBytes(NumMerges, "<|doc|>")} AS toks FROM augb)
         |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |       array_to_string(toks, ' ') AS toks
         |FROM enc""".stripMargin),
    // THE PIPELINE BRIDGE: conversations → chat render → byte-BPE
    // with ROLE-TAG SPECIALS → loss-mask packing in REAL token space.
    // Per-turn token counts come from the byte-level kernel with
    // '<|user|>'/'<|assistant|>' atomic (1 token each, never
    // decomposed to bytes; merges trained on documents — the
    // tokenizer reuse a post-training pipeline actually does), then
    // the q327 span arithmetic runs on those counts: span = the
    // assistant turn's CONTENT tokens at its packed offset. The
    // oracle re-derives every count with the composed per-word CASE
    // chain over the rendered turn text, plus both prefix-sum layers.
    QuerySpec("q342_sft_token_pack", (s, d) => {
      val turns = Sft.mergedTurns(graft.Tables.t(s, d, "events"))
      val counted = turns.withColumn("n_tok",
        size(TextFunctions.bpeEncode(col("turn_text"), bytesMerges(s, d),
          byteLevel = true, specials = Seq("<|user|>", "<|assistant|>")))
          .cast("long"))
      // lossMaskSpans treats n_events as "content tokens" (+1 tag):
      // substitute the BPE content count — identical span arithmetic,
      // real tokenizer units
      Sft.lossMaskSpans(
        counted.withColumn("n_events", col("n_tok") - 1L),
        col("user_id") * 1000000L + col("session_id"), budget = 256L)
    },
      // conversations rendered (SftQueries' turnsCte), per-turn counts
      // from the byte-mode composed encode with BOTH role-tag specials,
      // then the q327 two-layer prefix-sum span arithmetic at budget 256
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)},
         |${SftQueries.turnsCte},
         |tt AS (SELECT user_id, session_id, turn_id, role,
         |  len(${encodeExprBytesMulti(NumMerges,
               Seq("<|user|>", "<|assistant|>"), "turn_text")})::BIGINT
         |    AS n_tok
         | FROM turns),
         |ck AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM tt GROUP BY 1),
         |pk AS (SELECT conv_key,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY conv_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM ck),
         |pos AS (SELECT conv_key, CAST(pstart // 256 AS BIGINT)
         |    AS seq_id,
         |  CAST(pstart % 256 AS BIGINT) AS "offset" FROM pk),
         |ts2 AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  turn_id, role, n_tok,
         |  CAST(COALESCE(sum(n_tok) OVER (PARTITION BY user_id,
         |    session_id ORDER BY turn_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS tstart
         | FROM tt)
         |SELECT t.conv_key, t.turn_id, p.seq_id,
         |  p."offset" + t.tstart + 1 AS span_start,
         |  t.n_tok - 1 AS span_len
         |FROM ts2 t JOIN pos p USING (conv_key)
         |WHERE t.role = 'assistant'""".stripMargin),
    // SEQUENCE-BOUNDARY FRAGMENTATION REPORT — the attention-mask
    // quality table for the q342/q356 stream packing: a conversation
    // may straddle sequence boundaries (it belongs to the sequence it
    // STARTS in), and every straddle is a fragmented attention span.
    // Per sequence: conversations starting here, conversations
    // carrying IN from earlier sequences, and the token mass each
    // class contributes. Span expansion is explode(sequence(s0, s1))
    // — fan-out ∝ total_tokens / budget, never quadratic.
    QuerySpec("q358_seq_fragmentation", (s, d) => {
      val m = bytesMerges(s, d)
      val turns = Sft.mergedTurns(t(s, d, "events"))
        .withColumn("n_tok",
          size(TextFunctions.bpeEncode(col("turn_text"), m,
            byteLevel = true,
            specials = Seq("<|user|>", "<|assistant|>"))).cast("long"))
        .withColumn("conv_key",
          col("user_id") * 1000000L + col("session_id"))
      val conv = turns.groupBy(col("conv_key"))
        .agg(sum(col("n_tok")).as("n_tokens"))
      val packed = Packing.packWithOffsets(conv, "conv_key", "n_tokens",
        256L)
      val spans = packed.select(col("conv_key"), col("seq_id").as("s0"),
        (col("seq_id") * 256L + col("offset")).as("gstart"),
        (col("seq_id") * 256L + col("offset") + col("n_tokens") - 1L)
          .as("gend"))
        .withColumn("s1", expr("gend div 256"))
      spans.withColumn("seq_id", explode(sequence(col("s0"), col("s1"))))
        .select(col("seq_id"), col("s0"),
          (least(col("gend"), (col("seq_id") + 1L) * 256L - 1L) -
            greatest(col("gstart"), col("seq_id") * 256L) + 1L)
            .as("tok_here"))
        .groupBy(col("seq_id"))
        .agg(sum(when(col("seq_id") === col("s0"), 1L).otherwise(0L))
            .cast("long").as("n_starts"),
          sum(when(col("seq_id") =!= col("s0"), 1L).otherwise(0L))
            .cast("long").as("n_carry_in"),
          sum(when(col("seq_id") === col("s0"), col("tok_here"))
            .otherwise(0L)).cast("long").as("fresh_tokens"),
          sum(when(col("seq_id") =!= col("s0"), col("tok_here"))
            .otherwise(0L)).cast("long").as("carry_tokens"))
    },
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)},
         |${SftQueries.turnsCte},
         |tt AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  len(${encodeExprBytesMulti(NumMerges,
              Seq("<|user|>", "<|assistant|>"), "turn_text")})::BIGINT
         |    AS n_tok
         | FROM turns),
         |ck AS (SELECT conv_key, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |       FROM tt GROUP BY 1),
         |pk AS (SELECT conv_key, n_tokens,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY conv_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS gstart FROM ck),
         |sp AS (SELECT conv_key, gstart // 256 AS s0, gstart,
         |  gstart + n_tokens - 1 AS gend,
         |  (gstart + n_tokens - 1) // 256 AS s1 FROM pk),
         |ex AS (SELECT u.seq_id, s0,
         |  LEAST(gend, (u.seq_id + 1) * 256 - 1)
         |    - GREATEST(gstart, u.seq_id * 256) + 1 AS tok_here
         | FROM sp, UNNEST(generate_series(s0, s1)) AS u(seq_id))
         |SELECT CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(sum(CASE WHEN seq_id = s0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_starts,
         |  CAST(sum(CASE WHEN seq_id <> s0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_carry_in,
         |  CAST(sum(CASE WHEN seq_id = s0 THEN tok_here ELSE 0 END)
         |    AS BIGINT) AS fresh_tokens,
         |  CAST(sum(CASE WHEN seq_id <> s0 THEN tok_here ELSE 0 END)
         |    AS BIGINT) AS carry_tokens
         |FROM ex GROUP BY seq_id""".stripMargin),
    // MULTI-EPOCH SHUFFLE PLAN — the deterministic per-epoch read
    // order a trainer consumes the packed artifact in: rank of each
    // sequence under the 48-bit md5 permutation keyed by (epoch,
    // seq_id), computed with the two-phase distributed rank (epoch-
    // major composite key through Packing.stableIds — never a
    // single-task global sort; per-epoch rank falls out as row_id
    // minus the epoch's base). Reshuffling is a PLAN (seq_id → rank),
    // not a data movement: 100 TB of shards stay where they are.
    QuerySpec("q359_epoch_shuffle", (s, d) => {
      val m = bytesMerges(s, d)
      val turns = Sft.mergedTurns(t(s, d, "events"))
        .withColumn("n_tok",
          size(TextFunctions.bpeEncode(col("turn_text"), m,
            byteLevel = true,
            specials = Seq("<|user|>", "<|assistant|>"))).cast("long"))
        .withColumn("conv_key",
          col("user_id") * 1000000L + col("session_id"))
      val conv = turns.groupBy(col("conv_key"))
        .agg(sum(col("n_tok")).as("n_tokens"))
      // the sequence set's lineage is the full turn-merge + byte-BPE
      // encode chain — materialize it ONCE (seq-count-sized, one
      // column) so the count and the ranking passes don't re-run it
      val seqs = Packing.packWithOffsets(conv, "conv_key", "n_tokens",
        256L).select(col("seq_id")).distinct().localCheckpoint(true)
      val nSeqs = seqs.count()
      val epochs = s.range(3).select(col("id").as("epoch"))
      // 40-bit hash + 16-bit seq tie-break under an epoch-major
      // composite: unique and < 2^58. (The tie-break width is a
      // layout constant — widen alongside the shard count.)
      val keyed = seqs.crossJoin(broadcast(epochs))
        .withColumn("h",
          expr("conv(substr(md5(concat(cast(epoch as string), ':', " +
            "cast(seq_id as string))), 1, 10), 16, 10)").cast("long"))
        .withColumn("__key",
          col("epoch") * 72057594037927936L +
            col("h") * 65536L + col("seq_id"))
      // rank attached in place (same row_id per key, no join-back)
      Packing.withStableIds(keyed, "__key")
        .select(col("epoch"), col("seq_id"),
          (col("row_id") - col("epoch") * nSeqs).as("rank"))
    },
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)},
         |${SftQueries.turnsCte},
         |tt AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  len(${encodeExprBytesMulti(NumMerges,
              Seq("<|user|>", "<|assistant|>"), "turn_text")})::BIGINT
         |    AS n_tok
         | FROM turns),
         |ck AS (SELECT conv_key, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |       FROM tt GROUP BY 1),
         |pk AS (SELECT conv_key,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY conv_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM ck),
         |seqs AS (SELECT DISTINCT pstart // 256 AS seq_id FROM pk),
         |e AS (SELECT unnest(generate_series(0, 2)) AS epoch),
         |k AS (SELECT e.epoch, s.seq_id,
         |  ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' ||
         |    CAST(s.seq_id AS VARCHAR)), 1, 10))::BIGINT AS h
         | FROM seqs s CROSS JOIN e)
         |SELECT CAST(epoch AS BIGINT) AS epoch,
         |  CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(row_number() OVER (PARTITION BY epoch
         |    ORDER BY h, seq_id) - 1 AS BIGINT) AS rank
         |FROM k""".stripMargin),
    // TRAINER-READY PACKED ARTIFACT — the physical file a fine-tuning
    // job mounts: q342's token-space packing materialized as (seq_id →
    // token_ids, loss_mask) JSONL shards. Token ids index the GPT-2-
    // layout byte-level vocabulary (256 base byte symbols, merge
    // outputs in rank order with duplicates resolved to the min id,
    // role tags appended); each sequence's ids and mask ride in
    // global in-sequence order; shards are the byte-budget prefix-sum
    // layout. The gated output is the manifest of the files READ BACK
    // (seq ids re-parsed from the JSON), hash-compared against a
    // pure-SQL reconstruction of every byte — ids, mask, packing, and
    // shard layout all re-derived by the oracle from the events table
    // and the merge recurrence alone.
    QuerySpec("q356_trainer_artifact", (s, d) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_train_" +
        math.abs(d.hashCode.toLong)
      val m = bytesMerges(s, d)
      val specials = Seq("<|user|>", "<|assistant|>")
      import s.implicits._
      val vocab = ((0 until 256).map(n => (f"$n%02X", n.toLong)) ++
        m.zipWithIndex.map { case ((a, b), r) => (a + b, 256L + r) } ++
        specials.zipWithIndex.map { case (sp, i) =>
          (sp, 256L + m.size + i) })
        .toDF("token", "id")
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      // sessionize + encode ONCE: both the packing (via conv totals)
      // and the flatten consume this frame
      val turns = Sft.mergedTurns(t(s, d, "events"))
        .withColumn("toks", TextFunctions.bpeEncode(col("turn_text"), m,
          byteLevel = true, specials = specials))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("conv_key",
          col("user_id") * 1000000L + col("session_id"))
        .localCheckpoint(true)
      val conv = turns.groupBy(col("conv_key"))
        .agg(sum(col("n_tok")).as("n_tokens"))
      val packed = Packing.packWithOffsets(conv, "conv_key", "n_tokens",
        256L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("conv_key")).orderBy(col("turn_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val flat = turns
        .withColumn("tstart",
          coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .join(packed.select(col("conv_key"), col("seq_id"),
          col("offset")), Seq("conv_key"))
        .select(col("role"), col("seq_id"),
          (col("offset") + col("tstart")).as("gstart"),
          posexplode(col("toks")))
      val fid = flat
        .join(broadcast(vocab), flat("col") === vocab("token"))
        .select(col("seq_id"),
          (col("gstart") + col("pos")).as("gpos"), col("id"),
          when(col("role") === "assistant" && col("pos") >= 1, 1L)
            .otherwise(0L).as("loss"))
      val lines = fid.groupBy(col("seq_id"))
        .agg(
          array_join(transform(sort_array(collect_list(struct(
            col("gpos"), col("id").cast("string").as("v")))),
            x => x.getField("v")), " ").as("ids"),
          array_join(transform(sort_array(collect_list(struct(
            col("gpos"), col("loss").cast("string").as("v")))),
            x => x.getField("v")), " ").as("mask"))
        .select(col("seq_id").as("sid"), // avoid packByBudget's own seq_id
          concat(lit("{\"seq_id\":"), col("seq_id"),
            lit(",\"ids\":\""), col("ids"),
            lit("\",\"mask\":\""), col("mask"), lit("\"}")).as("line"))
        .withColumn("n_bytes", (length(col("line")) + 1L).cast("long"))
        // materialize ONCE: writeLines evaluates its input twice
        // (shard assignment + join back) — without this the whole
        // encode->pack->vocab-join chain would run twice
        .localCheckpoint(true)
      Lakehouse.writeLines(lines, "sid", path, budgetBytes = 16384L)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(lines)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(turns)
      s.read.text(path)
        .select(col("shard").cast("long").as("shard_id"),
          get_json_object(col("value"), "$.seq_id").cast("long")
            .as("seq_id"),
          col("value"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_seqs"),
          sum(length(col("value")) + 1L).cast("long").as("n_bytes"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("seq_id"), col("value")))),
            x => x.getField("value")), "\n")).as("content_md5"))
    },
      // every byte of the packed artifact re-derived: vocabulary (256
      // base byte symbols + merge outputs + role tags, min-id on
      // duplicates), per-turn encode, conversation packing, in-sequence
      // token order, loss mask, and the shard layout
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)},
         |${SftQueries.turnsCte},
         |vocab AS (SELECT token, min(id) AS id FROM (
         |  SELECT lpad(upper(to_hex(n)), 2, '0') AS token,
         |    CAST(n AS BIGINT) AS id
         |  FROM (SELECT unnest(generate_series(0, 255)) AS n)
         |${(0 until NumMerges).map(r =>
             s"  UNION ALL SELECT (SELECT a||b FROM b$r), " +
               s"CAST(${256 + r} AS BIGINT)").mkString("\n")}
         |  UNION ALL SELECT '<|user|>', CAST(${256 + NumMerges} AS BIGINT)
         |  UNION ALL SELECT '<|assistant|>',
         |    CAST(${257 + NumMerges} AS BIGINT)
         |) GROUP BY token),
         |tt AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  turn_id, role,
         |  ${encodeExprBytesMulti(NumMerges,
              Seq("<|user|>", "<|assistant|>"), "turn_text")} AS toks
         | FROM turns),
         |tn AS (SELECT conv_key, turn_id, role, toks,
         |  len(toks)::BIGINT AS n_tok FROM tt),
         |ck AS (SELECT conv_key, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |       FROM tn GROUP BY 1),
         |pk AS (SELECT conv_key,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY conv_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM ck),
         |pos AS (SELECT conv_key, CAST(pstart // 256 AS BIGINT)
         |    AS seq_id,
         |  CAST(pstart % 256 AS BIGINT) AS "offset" FROM pk),
         |ts2 AS (SELECT conv_key, turn_id, role, toks,
         |  CAST(COALESCE(sum(n_tok) OVER (PARTITION BY conv_key
         |    ORDER BY turn_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    1 PRECEDING), 0) AS BIGINT) AS tstart FROM tn),
         |ts3 AS (SELECT t.conv_key, t.turn_id, t.role, t.toks,
         |  t.tstart, p.seq_id, p."offset" AS off
         | FROM ts2 t JOIN pos p USING (conv_key)),
         |flat AS (SELECT seq_id, off + tstart + u.i - 1 AS gpos,
         |  toks[u.i] AS tok,
         |  CASE WHEN role = 'assistant' AND u.i > 1 THEN 1 ELSE 0 END
         |    AS loss
         | FROM ts3, UNNEST(generate_series(1, len(toks))) AS u(i)),
         |fid AS (SELECT f.seq_id, f.gpos, v.id, f.loss
         |        FROM flat f JOIN vocab v ON v.token = f.tok),
         |lines AS (SELECT seq_id,
         |  '{"seq_id":' || CAST(seq_id AS VARCHAR) || ',"ids":"' ||
         |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) ||
         |  '","mask":"' ||
         |  string_agg(CAST(loss AS VARCHAR), ' ' ORDER BY gpos) || '"}'
         |    AS line
         | FROM fid GROUP BY seq_id),
         |lb AS (SELECT seq_id, line,
         |  CAST(length(line) + 1 AS BIGINT) AS nb FROM lines),
         |pk2 AS (SELECT seq_id, line, nb,
         |  CAST(COALESCE(sum(nb) OVER (ORDER BY seq_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM lb)
         |SELECT CAST(pstart // 16384 AS BIGINT) AS shard_id,
         |  count(*)::BIGINT AS n_seqs, CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  md5(string_agg(line, chr(10) ORDER BY seq_id)) AS content_md5
         |FROM pk2 GROUP BY 1""".stripMargin, writes = true),
    // The TRUE BPE id space — base symbols then merge outputs in rank
    // order (the GPT-2 vocab-file layout), vs q122's corpus-frequency
    // vocab. This is the artifact a trainer's embedding table indexes.
    QuerySpec("q132_bpe_vocab", (s, d) =>
      Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), merges(s, d)),
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)}
         |SELECT token, id FROM vocab""".stripMargin),
    // Encode-to-ids against that vocabulary: closed by construction,
    // so n_oov must be 0 for EVERY document — the no-OOV guarantee is
    // part of the oracle-checked output, not just a spec.
    QuerySpec("q133_bpe_token_ids", (s, d) => {
      val bpeText = docs(s, d).select(col("doc_id"),
        array_join(TextFunctions.bpeEncode(col("text"), merges(s, d)), " ")
          .as("text"))
      // greedy training CAN emit a merge output equal to an existing
      // symbol (e.g. (a,bc) after (ab,c), or a byte-mode collision
      // with a base symbol) — duplicate token strings resolve to the
      // SMALLEST id, mirrored in the oracle's vmin CTE
      val vocab = Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"),
        merges(s, d))
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      Curation.tokenizeToIds(bpeText, "doc_id", "text", vocab)
    },
      // same tail as q122, but ids come from the TRUE vocabulary
      // (min-id on duplicate merge outputs) — n_oov provably 0
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |vmin AS (SELECT token, min(id) AS id FROM vocab GROUP BY token),
         |enc AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM documents),
         |tk2 AS (SELECT doc_id, s.p AS pos, s.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s
         |         FROM enc) q),
         |ids AS (SELECT doc_id, pos, coalesce(v.id, -1) AS id
         |        FROM tk2 LEFT JOIN vmin v USING (token))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
         |FROM ids GROUP BY doc_id""".stripMargin),
    // DECODE, the missing half of the tokenizer loop: byte-mode
    // encode with PRESERVED SPACES (each space rides as its own "20"
    // token, so word boundaries survive the flat stream), then
    // decode = unhex(concat(tokens)) — with the special token
    // passing through BOTH directions. The oracle computes its own
    // decode, so `decoded` and the corpus-wide `ok` flag go through
    // the hash gate: decode(encode(corpus)) == corpus for every
    // document, not just a spec fixture.
    QuerySpec("q137_bpe_decode_roundtrip", (s, d) => {
      val aug = docs(s, d).select(col("doc_id"),
        concat(lit("<|doc|> "), col("text")).as("text"))
      val toks = TextFunctions.bpeEncode(col("text"), bytesMerges(s, d),
        byteLevel = true, specials = Seq("<|doc|>"), preserveSpaces = true)
      aug.withColumn("toks", toks)
        .withColumn("decoded", Bpe.decodeBytes(col("toks"), Seq("<|doc|>")))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          col("decoded"), (col("decoded") === col("text")).as("ok"))
    },
      s"""WITH ${trainingCtes(NumMerges, bytesWordSql)},
         |augb AS (SELECT doc_id, '<|doc|> ' || text AS text FROM documents),
         |enc AS (SELECT doc_id, text,
         |  ${encodeExprBytesSpaced(NumMerges, "<|doc|>")} AS toks FROM augb),
         |dec AS (SELECT doc_id, text, len(toks)::BIGINT AS n_tokens,
         |  decode(unhex(array_to_string(
         |    [CASE WHEN t = '<|doc|>' THEN hex(t) ELSE t END FOR t IN toks],
         |    ''))) AS decoded
         |  FROM enc)
         |SELECT doc_id, n_tokens, decoded, decoded = text AS ok FROM dec"""
        .stripMargin),
    // CHAR-mode decode from token IDS — the eval-dump path: text is
    // marked with the sentencepiece-style ▁ word-boundary symbol
    // (spaces → standalone ▁ words, so boundaries survive as real
    // vocabulary entries), encoded to ids against the q132-layout
    // vocabulary of the MARKED corpus, then decoded ids → tokens →
    // text by inverting the vocab join. Merges are q113's unchanged:
    // the ▁ word is a single symbol and contributes no pairs, so
    // training on raw and marked corpora provably coincide. Output
    // pins the id sequence AND the round-trip equality per document.
    QuerySpec("q138_bpe_decode_ids", (s, d) => {
      val m = merges(s, d)
      val marked = docs(s, d).select(col("doc_id"), col("text"),
        regexp_replace(col("text"), " ", " ▁ ").as("mtext"))
      val vocab = Bpe.vocabTable(
        Bpe.wordTable(marked.select(col("mtext").as("text")), "text"), m)
      val vmin = vocab.groupBy(col("token")).agg(min(col("id")).as("id"))
      val enc = marked.select(col("doc_id"), col("text"),
        posexplode(TextFunctions.bpeEncode(col("mtext"), m))
          .as(Seq("pos", "token")))
      enc.join(broadcast(vmin), Seq("token"))
        .select(col("doc_id"), col("text"), col("pos"), col("id"))
        .join(broadcast(vocab), Seq("id"))
        .groupBy(col("doc_id"))
        .agg(min(col("text")).as("__text"),
          count(lit(1)).cast("long").as("n_ids"),
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("pos"), col("id")))),
            x => x.getField("id").cast("string"))).as("ids"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("token")))),
            x => x.getField("token")), "").as("__raw"))
        .select(col("doc_id"), col("n_ids"), col("ids"),
          replace(col("__raw"), lit("▁"), lit(" ")).as("decoded"),
          (replace(col("__raw"), lit("▁"), lit(" ")) === col("__text"))
            .as("ok"))
    },
      s"""WITH ${trainingCtes(NumMerges)},
         |mk AS (SELECT doc_id, text, replace(text, ' ', ' ▁ ') AS mtext
         |       FROM documents),
         |w0m AS (SELECT regexp_replace(word, '([^ ])', ' \\1 ', 'g') AS w,
         |         count(*)::BIGINT AS freq
         |  FROM (SELECT unnest(string_split(mtext, ' ')) AS word FROM mk)
         |  WHERE len(word) > 0 GROUP BY 1),
         |symm AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(w), ' {2,}')) AS token
         |         FROM w0m),
         |vbasem AS (SELECT token,
         |    CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS id
         |  FROM symm),
         |nbm AS (SELECT count(*)::BIGINT AS n FROM vbasem),
         |vmom AS (${(0 until NumMerges).map(r =>
             s"SELECT a || b AS token, ${r}::BIGINT AS rank FROM b$r")
             .mkString("\n  UNION ALL ")}),
         |vocabm AS (SELECT token, id FROM vbasem
         |  UNION ALL SELECT token, n + rank FROM vmom CROSS JOIN nbm),
         |vminm AS (SELECT token, min(id) AS id FROM vocabm GROUP BY token),
         |encm AS (SELECT doc_id, text, ${encodeExpr(NumMerges, "mtext")} AS toks
         |         FROM mk),
         |tkm AS (SELECT doc_id, text, s.p AS pos, s.t AS token FROM
         |        (SELECT doc_id, text,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s
         |         FROM encm) q),
         |idm AS (SELECT doc_id, text, pos, v.id FROM tkm
         |        JOIN vminm v USING (token)),
         |decm AS (SELECT i.doc_id, min(i.text) AS text,
         |    CAST(count(*) AS BIGINT) AS n_ids,
         |    string_agg(CAST(i.id AS VARCHAR), ',' ORDER BY i.pos) AS ids,
         |    replace(string_agg(v2.token, '' ORDER BY i.pos), '▁', ' ') AS decoded
         |  FROM idm i JOIN vocabm v2 ON i.id = v2.id
         |  GROUP BY i.doc_id)
         |SELECT doc_id, n_ids, ids, decoded, decoded = text AS ok FROM decm"""
        .stripMargin),
    // The SECOND tokenizer family (Kudo 2018 unigram, hard-EM
    // integer-order variant — see Unigram's scaladoc): substring-
    // seeded vocabulary carved down by one Viterbi-EM round. The
    // oracle re-derives the seed, enumerates EVERY segmentation of
    // every word by recursive CTE, applies the same (n, -Σfreq,
    // rendering) order, and recounts — the whole trainer inside the
    // gate, not an epsilon-compare.
    QuerySpec("q173_unigram_vocab", (s, d) => uniVocab(s, d),
      s"""WITH RECURSIVE $unigramCtes
         |SELECT token, cnt FROM uni""".stripMargin),
    // Per-document encode under the trained vocabulary: a SECOND
    // Viterbi pass with the refit scores (EM round-2's E-step), words
    // reassembled in document order. Shares the q114 output contract.
    QuerySpec("q174_unigram_encode", (s, d) =>
      Unigram.encode(docs(s, d), "doc_id", "text", uniVocab(s, d)),
      unigramEncodeSql),
    // VOCAB PRUNE — the tokenizer family's delete: drop tokens whose
    // corpus count falls below a floor and RE-ENCODE under the shrunk
    // inventory. Coverage cannot come from the trained table alone: a
    // character that only ever surfaced inside a now-pruned token has
    // no row in `uni` (found the hard way — 'join' lost 'j'), so the
    // SEED single-chars are re-pinned for any char the floor cut
    // (SentencePiece's required-character discipline, seed counts and
    // all, mirrored in the oracle). Erasure cost = vocab-sized filter
    // + one encode pass; no retraining. At the 1500 floor the gate
    // vocabulary loses about half its multi-char tokens, so
    // segmentations genuinely change.
    QuerySpec("q293_unigram_prune", (s, d) => {
      val kept = uniVocab(s, d).filter(col("cnt") >= UniPruneFloor)
      val chars = Unigram.seedVocab(
          Bpe.wordTableRaw(docs(s, d), "text"), UniMaxLen, UniTopK)
        .filter(length(col("token")) === 1)
        .join(kept.select(col("token")), Seq("token"), "left_anti")
      Unigram.encode(docs(s, d), "doc_id", "text",
        kept.unionByName(chars))
    },
      // q174's round-2 Viterbi re-run under the pruned table (floor
      // survivors + seed single-chars re-pinned for coverage)
      s"""WITH RECURSIVE $unigramCtes,
         |unip AS MATERIALIZED (
         |  SELECT token, cnt FROM uni WHERE cnt >= $UniPruneFloor
         |  UNION ALL
         |  SELECT token, cnt FROM seedv WHERE len(token) = 1
         |    AND token NOT IN (SELECT token FROM uni
         |                      WHERE cnt >= $UniPruneFloor)),
         |${unigramEncCtes.replace("JOIN uni v", "JOIN unip v")}
         |SELECT doc_id, sum(seg2.nt)::BIGINT AS n_tokens,
         |       string_agg(seg2.toks, ' ' ORDER BY pos) AS toks
         |FROM dw JOIN seg2 USING (word)
         |GROUP BY doc_id""".stripMargin),
    // BYTE-LEVEL unigram training (the q128 move for the second
    // family): the same seed → Viterbi-EM → prune machinery over
    // hex-rendered words with 2-char (one-byte) units — every token
    // byte-aligned by construction, so the vocabulary is a true
    // byte-level subword inventory.
    QuerySpec("q190_unigram_bytes_vocab", (s, d) => uniBytesVocab(s, d),
      s"""WITH RECURSIVE $unigramBytesCtes
         |SELECT token, cnt FROM unib""".stripMargin),
    // Byte-mode DECODE round-trip through the gate (q137's contract
    // for the second family): every word segmented under the trained
    // byte vocabulary, tokens concatenated and unhexed back to text —
    // decode(encode(corpus)) must equal the corpus document for
    // document, with the per-doc ok flag hash-compared.
    QuerySpec("q191_unigram_bytes_roundtrip", (s, d) =>
      bytesRoundtrip(s, d, uniBytesVocab(s, d)),
      // round-2 Viterbi under the refit byte vocab, decode = unhex of
      // the concatenated tokens, reassembled per doc in word order
      s"""WITH RECURSIVE $unigramBytesCtes,
         |paths2b(word, pos, toks, n, fs) AS (
         |  SELECT word, 0, '', 0, CAST(0 AS BIGINT) FROM uwb
         |  UNION ALL
         |  SELECT p.word, p.pos + len(v.token),
         |         p.toks || CASE WHEN p.toks = '' THEN '' ELSE ' ' END || v.token,
         |         p.n + 1, p.fs + v.cnt
         |  FROM paths2b p JOIN unib v
         |    ON substr(p.word, p.pos + 1, len(v.token)) = v.token
         |  WHERE p.pos < len(p.word)),
         |seg2b AS MATERIALIZED (SELECT word, toks,
         |  len(string_split(toks, ' '))::BIGINT AS nt,
         |  decode(unhex(replace(toks, ' ', ''))) AS dec FROM (
         |  SELECT word, toks, row_number() OVER (PARTITION BY word
         |    ORDER BY n ASC, fs DESC, toks ASC) AS rk
         |  FROM paths2b WHERE pos = len(word)) WHERE rk = 1),
         |dwb AS (SELECT doc_id, text, i - 1 AS pos, hex(w[i]) AS word
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
         |        FROM documents) q,
         |       UNNEST(generate_series(1, len(w))) AS u(i)
         |  WHERE len(w[i]) > 0),
         |g AS (SELECT doc_id, min(text) AS t,
         |      sum(seg2b.nt)::BIGINT AS n_tokens,
         |      string_agg(seg2b.dec, ' ' ORDER BY pos) AS decoded
         |      FROM dwb JOIN seg2b USING (word) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, decoded, decoded = t AS ok FROM g""".stripMargin),
    // INCREMENTAL unigram training — q119's contract for the second
    // family: per-slice word tables fold by summed frequency
    // (Unigram.mergeWordTables — the only state between batches), the
    // seed → Viterbi-EM carve-down runs over the folded table, and
    // the result must reproduce the from-scratch vocabulary VERBATIM
    // (q173's oracle unchanged). History is never re-tokenized.
    QuerySpec("q203_unigram_incremental", (s, d) => {
      val doc = docs(s, d)
      val words = Unigram.mergeWordTables(
        Bpe.wordTableRaw(doc.filter(col("doc_id") % 5 =!= 0), "text"),
        Bpe.wordTableRaw(doc.filter(col("doc_id") % 5 === 0), "text"))
      Unigram.refit(words, Unigram.seedVocab(words, UniMaxLen, UniTopK))
    },
      // fold-by-word-table training must land at the from-scratch
      // vocabulary — the invariant oracle applies verbatim
      s"""WITH RECURSIVE $unigramCtes
         |SELECT token, cnt FROM uni""".stripMargin),
    // The folded-vocab BYTE-mode roundtrip: the incremental update
    // must leave decode(encode(corpus)) byte-exact — q191's oracle
    // applies verbatim over the incrementally-trained vocabulary.
    QuerySpec("q204_unigram_incr_roundtrip", (s, d) => {
      val doc = docs(s, d)
      def hw(df: org.apache.spark.sql.DataFrame) =
        Bpe.wordTableRaw(df, "text")
          .select(hex(col("word")).as("word"), col("freq"))
      val words = Unigram.mergeWordTables(
        hw(doc.filter(col("doc_id") % 5 =!= 0)),
        hw(doc.filter(col("doc_id") % 5 === 0)))
      bytesRoundtrip(s, d, Unigram.refit(words,
        Unigram.seedVocab(words, UniMaxLen, UniTopK, unit = 2)))
    },
      s"""WITH RECURSIVE $unigramBytesCtes,
         |paths2b(word, pos, toks, n, fs) AS (
         |  SELECT word, 0, '', 0, CAST(0 AS BIGINT) FROM uwb
         |  UNION ALL
         |  SELECT p.word, p.pos + len(v.token),
         |         p.toks || CASE WHEN p.toks = '' THEN '' ELSE ' ' END || v.token,
         |         p.n + 1, p.fs + v.cnt
         |  FROM paths2b p JOIN unib v
         |    ON substr(p.word, p.pos + 1, len(v.token)) = v.token
         |  WHERE p.pos < len(p.word)),
         |seg2b AS MATERIALIZED (SELECT word, toks,
         |  len(string_split(toks, ' '))::BIGINT AS nt,
         |  decode(unhex(replace(toks, ' ', ''))) AS dec FROM (
         |  SELECT word, toks, row_number() OVER (PARTITION BY word
         |    ORDER BY n ASC, fs DESC, toks ASC) AS rk
         |  FROM paths2b WHERE pos = len(word)) WHERE rk = 1),
         |dwb AS (SELECT doc_id, text, i - 1 AS pos, hex(w[i]) AS word
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
         |        FROM documents) q,
         |       UNNEST(generate_series(1, len(w))) AS u(i)
         |  WHERE len(w[i]) > 0),
         |g AS (SELECT doc_id, min(text) AS t,
         |      sum(seg2b.nt)::BIGINT AS n_tokens,
         |      string_agg(seg2b.dec, ' ' ORDER BY pos) AS decoded
         |      FROM dwb JOIN seg2b USING (word) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, decoded, decoded = t AS ok FROM g""".stripMargin),
    // Saved-artifact lifecycle for the unigram family: the trained
    // vocabulary persisted as a managed table, loaded back, and used
    // to encode — must match the in-session encode exactly (SHARES
    // q174's oracle; the q120 pattern for the second family).
    QuerySpec("q181_unigram_saved", (s, d) => {
      val name = s"graft_uni_vocab_${math.abs(d.hashCode.toLong)}"
      Bucketing.dropManagedTable(s, name)
      uniVocab(s, d)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(name)
      Unigram.encode(docs(s, d), "doc_id", "text", s.table(name))
    },
      // save → load → encode must equal the in-session encode
      unigramEncodeSql, writes = true),
    // Unigram encode-to-ids against the trained vocabulary's id
    // space (rank by count desc, token asc — the artifact a trainer's
    // embedding table indexes). The vocabulary is closed over its own
    // segmentation, so n_oov must be 0 for EVERY document — checked
    // in the gated output, the q133 contract for the second family.
    QuerySpec("q178_unigram_ids", (s, d) => {
      val enc = Unigram.encode(docs(s, d), "doc_id", "text", uniVocab(s, d))
        .select(col("doc_id"), col("toks").as("text"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token").asc)
      val vocab = uniVocab(s, d).select(col("token"),
        (row_number().over(w) - 1).cast("long").as("id"))
      Curation.tokenizeToIds(enc, "doc_id", "text", vocab)
    },
      // rank ids over the refit vocab; the token stream orders by
      // (word position, within-word sub-position)
      s"""WITH RECURSIVE $unigramCtes,
         |$unigramEncCtes,
         |vid AS (SELECT token,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1
         |         AS BIGINT) AS id
         |  FROM uni),
         |tt AS (SELECT doc_id, pos, j, t[j] AS token FROM
         |  (SELECT doc_id, pos, string_split(seg2.toks, ' ') AS t
         |   FROM dw JOIN seg2 USING (word)) q,
         |  UNNEST(generate_series(1, len(t))) AS u(j)),
         |idt AS (SELECT doc_id, pos, j, coalesce(v.id, -1) AS id
         |        FROM tt LEFT JOIN vid v USING (token))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos, j) AS ids
         |FROM idt GROUP BY doc_id""".stripMargin),
    // Tokenizer bake-off: BPE vs unigram fertility per language over
    // the SAME corpus — the table that decides which family a
    // pipeline ships. One encode pass per family, one #langs agg.
    QuerySpec("q176_tokenizer_compare", (s, d) => {
      val bpe = docs(s, d).select(col("doc_id"), col("lang"),
        size(TextFunctions.bpeEncode(col("text"), merges(s, d)))
          .cast("long").as("bpe_nt"),
        size(split(col("text"), " ")).cast("long").as("nw"))
      val uni = Unigram.encode(docs(s, d), "doc_id", "text", uniVocab(s, d))
        .select(col("doc_id"), col("n_tokens").as("uni_nt"))
      bpe.join(uni, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe_nt")).cast("long").as("bpe_tokens"),
          sum(col("uni_nt")).cast("long").as("uni_tokens"),
          round(sum(col("bpe_nt")).cast("double") / sum(col("nw")), 4)
            .as("bpe_per_word"),
          round(sum(col("uni_nt")).cast("double") / sum(col("nw")), 4)
            .as("uni_per_word"))
    },
      // the two tokenizer families side by side, per language: the
      // comparison a tokenizer review reads before choosing one
      s"""WITH RECURSIVE ${trainingCtes(NumMerges)},
         |$unigramCtes,
         |$unigramEncCtes,
         |un AS (SELECT doc_id, sum(seg2.nt)::BIGINT AS uni_nt
         |       FROM dw JOIN seg2 USING (word) GROUP BY doc_id),
         |bp AS (SELECT doc_id,
         |       len(${encodeExpr(NumMerges)})::BIGINT AS bpe_nt FROM documents),
         |j AS (SELECT d.lang, bp.bpe_nt, un.uni_nt,
         |        len(string_split(d.text, ' '))::BIGINT AS nw
         |      FROM documents d JOIN bp USING (doc_id) JOIN un USING (doc_id))
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(bpe_nt)::BIGINT AS bpe_tokens,
         |       sum(uni_nt)::BIGINT AS uni_tokens,
         |       round(sum(bpe_nt)::DOUBLE / sum(nw), 4) AS bpe_per_word,
         |       round(sum(uni_nt)::DOUBLE / sum(nw), 4) AS uni_per_word
         |FROM j GROUP BY lang""".stripMargin),
    // q115's layout plus each document's token offset INSIDE its
    // sequence — the attention-boundary metadata a trainer's packed
    // batches need to mask cross-document attention. Same two-phase
    // prefix sum; the offset is a free projection of it.
    QuerySpec("q175_pack_boundaries", (s, d) =>
      Packing.packWithOffsets(
        docs(s, d).select(col("doc_id"),
          size(TextFunctions.bpeEncode(col("text"), merges(s, d)))
            .cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget),
      // q115's packing window plus the in-sequence offset — the
      // attention-boundary metadata
      s"""WITH ${trainingCtes(NumMerges)},
         |tc AS (SELECT doc_id,
         |  len(${encodeExpr(NumMerges)})::BIGINT AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM tc)
         |SELECT doc_id, n_tokens, CAST(s // $PackBudget AS BIGINT) AS seq_id,
         |       CAST(s % $PackBudget AS BIGINT) AS offset
         |FROM c""".stripMargin),
    // The sealed loader's read plan — q158 for the hierarchical
    // (shard_id, seq_in_shard) identity: deterministic per-epoch
    // permutation via the same two-phase bucketed rank over a
    // composite sequence key. What a trainer mounted on the sealed
    // layout actually consumes.
    QuerySpec("q192_sealed_read_order", (s, d) => {
      val layout = Packing.packSealed(
        idsTable(s, d).select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
      val seqs = layout.select(
          (col("shard_id") * 100000L + col("seq_in_shard")).as("gseq"),
          col("shard_id"), col("seq_in_shard"))
        .distinct()
      Curation.epochShuffle(seqs.select(col("gseq")), "gseq",
          epochs = 2, salt = "ro2")
        .join(seqs, Seq("gseq"))
        .select(col("epoch"), col("ord"), col("shard_id"),
          col("seq_in_shard"))
    },
      // q158's permutation shape over the composite sealed sequence key
      sealedReadOrderSql),
    // INCREMENTAL sealed read-order — the loader-order half of the
    // append story: sealed append only ADDS (shard, seq_in_shard)
    // keys (landed shards' layouts are frozen), so the next epoch
    // permutation derives from the LANDED order plus the batch's new
    // sequence keys woven in at their from-scratch ranks
    // (epochShuffleIncremental: old ords shift by a broadcast
    // projection, never re-rank). Must equal the from-scratch q192
    // permutation verbatim — its oracle applies UNCHANGED.
    QuerySpec("q202_sealed_read_order_incr", (s, d) => {
      val ids = idsTable(s, d)
      val maxId = ids.agg(max(col("doc_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      def gseqs(df: org.apache.spark.sql.DataFrame) = Packing.packSealed(
          df.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
        .select((col("shard_id") * 100000L + col("seq_in_shard")).as("gseq"),
          col("shard_id"), col("seq_in_shard"))
        .distinct()
      val oldSeqs = gseqs(ids.filter(col("doc_id") <= thresh))
      val allSeqs = gseqs(ids).localCheckpoint(true)
      val landed = Curation.epochShuffle(oldSeqs.select(col("gseq")),
        "gseq", epochs = 2, salt = "ro2")
      val newKeys = allSeqs.select(col("gseq"))
        .except(oldSeqs.select(col("gseq")))
      Curation.epochShuffleIncremental(landed, newKeys, "gseq",
          epochs = 2, salt = "ro2")
        .join(allSeqs, Seq("gseq"))
        .select(col("epoch"), col("ord"), col("shard_id"),
          col("seq_in_shard"))
    },
      // the incremental weave must land at the from-scratch permutation
      // — the invariant oracle applies verbatim
      sealedReadOrderSql),
    // INCREMENTAL sealed maintenance — q144's contract for the sealed
    // family: the batch folds in touching only the LAST landed shard
    // (whose capacity span its first docs may start inside) plus new
    // shards; the read-back manifest must equal the from-scratch
    // sealed layout's (q168's oracle verbatim).
    QuerySpec("q177_sealed_append", (s, d) => {
      val ids = idsTable(s, d)
      val maxId = ids.agg(max(col("doc_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      val old = ids.filter(col("doc_id") <= thresh)
      val batch = ids.filter(col("doc_id") > thresh)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_sealinc_" +
        math.abs(d.hashCode.toLong)
      // layout-then-join-back, kept: `ids` is persisted, so the
      // layout ranks cached narrow rows and the join-back broadcasts —
      // the attach-in-place variant (packSealedAttach) shuffles the
      // persisted payload an extra time by bucket. The q139 A/B read
      // attach-in-place +4.8% here, inside its noise band.
      Packing.writeByShardColumn(
        Packing.packSealed(old.select(col("doc_id"), col("n_tokens")),
            "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
          .join(old.select(col("doc_id"), col("ids")), Seq("doc_id")),
        "doc_id", path)
      Packing.appendSealedShards(batch, "doc_id", "n_tokens", path,
        budget = PackBudget, seqsPerShard = 4L)
      Packing.shardManifest(s.read.parquet(path), sealedRowContent,
        seqCol = "seq_in_shard")
    },
      // the sealed append must land at the from-scratch sealed layout —
      // the q144 invariant pattern applied to the sealed family
      sealedManifestSql, writes = true),
    // Curation pipeline v4 — the round-8 families chained as ONE
    // declarative plan, the last mile before a trainer: span REMOVAL
    // rewrites the corpus (q124), the LEARNED NB gate filters the
    // cleaned text (q125/q126's weights, trained on raw seeds),
    // survivors are encoded to real subwords by the kernel (q113's
    // merges), and training sequences are packed in subword budget
    // (q115's two-phase prefix sum). Four families, one plan, one
    // oracle — composability is the claim being checked.
    QuerySpec("q134_curation_v4", (s, d) =>
      Packing.packByBudget(v4Metered(s, d), "doc_id", "n_tokens",
        budget = PackBudget),
      // v4: removal CTEs (q124's), the NB weight table trained on raw
      // seeds (q125's), gate features over the CLEANED text, survivors
      // encoded by the composed chain, packed by the q115 window. The
      // empty-text guard covers wholly-cut documents that pass the gate
      // (Spark's encode of "" is an empty array; DuckDB's split of ''
      // is ['']).
      s"""WITH ${trainingCtes(NumMerges)},
         |${TextPipelineQueries.spanCtes},
         |${CurationQueries.nbCtes},
         |$v4GateCtes,
         |tc4 AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE len(${encodeExpr(NumMerges)})::BIGINT END AS n_tokens
         |  FROM kc),
         |cp4 AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM tc4)
         |SELECT doc_id, n_tokens, CAST(s // $PackBudget AS BIGINT) AS seq_id
         |FROM cp4""".stripMargin),
    // The training-shard WRITER — the last physical step before a
    // trainer, closing the one remaining compute-but-not-materialize
    // gap: the q115/q134 packed layout plus each document's token-id
    // sequence (q133's closed vocab) lands as sized, stably-ordered
    // parquet shard files (seq_id div seqsPerShard), and the result
    // row set is the per-shard MANIFEST computed from the READ-BACK
    // files — doc counts, sequence counts, token sums, and a content
    // digest the oracle derives independently from the layout, so a
    // dropped/duplicated/mangled row in any shard fails the gate.
    // Byte-identical re-runs and intra-shard ordering are spec-pinned
    // (PackingSpec).
    QuerySpec("q139_shard_manifest", (s, d) => {
      val ids = idsTable(s, d)
      // layout-then-join-back, kept: `ids` is persisted, so the
      // join-back broadcasts against a cached probe — packAttach
      // shuffles the persisted payload an extra time by bucket. One
      // back-to-back single-sample A/B at sf0.1 (BENCH_ADJ_r17_touched
      // vs BENCH_ADJ_r17_reverted) read attach-in-place +3.0% here,
      // inside that pair's noise band: queries with unchanged code
      // moved up to +17.1% (q200), +10.3% (q333) and +11.0% (q347).
      val layout = Packing.packByBudget(
        ids.select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget)
      val packed = layout.join(ids.select(col("doc_id"), col("ids")),
        Seq("doc_id"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
        math.abs(d.hashCode.toLong)
      Packing.writeShards(packed, "doc_id", path, seqsPerShard = 4L)
      Packing.shardManifest(s.read.parquet(path), shardRowContent)
    },
      // q133's id chain + q115's packing window + the shard grouping and
      // digest — the oracle computes the manifest straight from the
      // layout, so it matches the Spark side ONLY if the written files
      // round-tripped every row of every shard exactly.
      shardManifestSql, writes = true),
    // Shard-balance audit — the one-row summary an operator reads
    // after every re-shard: shard/sequence counts, the token spread
    // across shards, and the packing fill fraction (how much of the
    // budget×seqs capacity the layout actually uses). Pure layout
    // math, no file I/O — the audit runs before committing a write.
    QuerySpec("q150_shard_balance", (s, d) => {
      val ids = idsTable(s, d)
      val layout = Packing.packByBudget(
        ids.select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget)
      val perShard = layout
        .withColumn("shard_id", (col("seq_id") / 4).cast("long"))
        .groupBy(col("shard_id"))
        .agg(sum(col("n_tokens")).as("__st"),
          countDistinct(col("seq_id")).as("__ns"))
      perShard.agg(
        count(lit(1)).cast("long").as("n_shards"),
        sum(col("__ns")).cast("long").as("n_seqs"),
        sum(col("__st")).cast("long").as("total_tokens"),
        min(col("__st")).cast("long").as("min_shard_tokens"),
        max(col("__st")).cast("long").as("max_shard_tokens"))
        .select(col("n_shards"), col("n_seqs"), col("total_tokens"),
          col("min_shard_tokens"), col("max_shard_tokens"),
          round(col("total_tokens") / (col("n_seqs") * lit(PackBudget)), 4)
            .as("fill_frac"))
    },
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |$shardLayoutCtes,
         |ps AS (SELECT CAST(seq_id // 4 AS BIGINT) AS shard_id,
         |         sum(n_tokens)::BIGINT AS st,
         |         count(DISTINCT seq_id)::BIGINT AS ns
         |       FROM sh GROUP BY 1)
         |SELECT count(*)::BIGINT AS n_shards,
         |       sum(ns)::BIGINT AS n_seqs,
         |       sum(st)::BIGINT AS total_tokens,
         |       min(st)::BIGINT AS min_shard_tokens,
         |       max(st)::BIGINT AS max_shard_tokens,
         |       round(sum(st)::DOUBLE / (sum(ns) * $PackBudget), 4) AS fill_frac
         |FROM ps""".stripMargin),
    // Quarantine REPAIR manifest — what the shard set looks like
    // AFTER acting on q165's list: reference spans cut (q142),
    // wholly-cut docs dropped, survivors re-encoded with the FROZEN
    // tokenizer, re-packed, and the new manifest diffed against the
    // old — `changed` marks exactly the shards whose bytes a repair
    // job must rewrite (removal shifts every later prefix sum, so
    // the changed set starts at the first flagged doc's shard and
    // runs to the end — the honest cost of span repair, vs q144's
    // append-only case where history is immutable).
    QuerySpec("q167_repair_manifest", (s, d) => {
      val m = merges(s, d)
      val spans = Dedup.spansAgainstReference(
        TextPipelineQueries.spanNgTab(s, d), "doc_id", col("doc_id") < 20)
      val cleaned = Dedup.removeSpans(TextPipelineQueries.augSpanDocs(s, d),
          "doc_id", "text",
          spans.select(col("ref_id").as("doc_a"), col("doc_id").as("doc_b"),
            col("start_ref").as("start_a"), col("start").as("start_b"),
            col("len")))
        .select(col("doc_id"), col("text_clean").as("text"))
        .filter(length(col("text")) > 0)
      val vocab = Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), m)
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      val ids2 = Curation.tokenizeToIds(
          cleaned.select(col("doc_id"),
            array_join(TextFunctions.bpeEncode(col("text"), m), " ")
              .as("text")),
          "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
          col("ids"))
      // the PRE-repair baseline is the same (augmented) corpus the
      // decontamination ran on, so `changed` isolates the removal
      val augIds = augIdsTable(s, d)
      // layout attached in place (packAttach, no join-back — §2.4/§3)
      def manifestOf(ids: DataFrame) = Packing.shardManifest(
        Packing.packAttach(
            ids.select(col("doc_id"), col("n_tokens"), col("ids")),
            "doc_id", "n_tokens", budget = PackBudget)
          .withColumn("shard_id", (col("seq_id") / 4).cast("long")),
        shardRowContent)
      // FULL outer: removal SHRINKS the corpus, so trailing shards can
      // exist only in the old layout — a repair job must know to
      // DELETE those stale files, so they are emitted as changed=true
      // rows with null stats (new-side columns absent) rather than
      // silently dropped (a left join's failure mode).
      manifestOf(ids2)
        .join(manifestOf(augIds)
            .select(col("shard_id"), col("digest").as("__od")),
          Seq("shard_id"), "full_outer")
        .select(col("shard_id"), col("n_docs"), col("n_seqs"),
          col("n_tokens"), col("digest"),
          coalesce(col("digest") =!= col("__od"), lit(true)).as("changed"))
    },
      // both manifests derive from the AUG corpus (the one the spans
      // ran on): old = aug encoded verbatim, new = aug with reference
      // spans cut, empties dropped, same frozen merges + vocab
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |${TextPipelineQueries.spanBaseCtes},
         |${TextPipelineQueries.refSpanCtes},
         |vmin2 AS (SELECT token, min(id) AS id FROM vocab GROUP BY token),
         |cutp AS (SELECT DISTINCT doc_id AS doc, u.p
         |  FROM spansx, UNNEST(generate_series(start_b, start_b + len - 1)) AS u(p)),
         |nrem AS (SELECT doc, count(*) AS nr FROM cutp GROUP BY doc),
         |ctk AS (SELECT doc_id, i - 1 AS pos, w[i] AS t
         |  FROM tk, UNNEST(generate_series(1, len(w))) AS u(i)),
         |ckept AS (SELECT ctk.doc_id,
         |    coalesce(string_agg(CASE WHEN c.doc IS NULL THEN t END, ' '
         |      ORDER BY pos), '') AS clean
         |  FROM ctk JOIN nrem ON ctk.doc_id = nrem.doc
         |  LEFT JOIN cutp c ON ctk.doc_id = c.doc AND ctk.pos = c.p
         |  GROUP BY ctk.doc_id),
         |cl AS (SELECT a.doc_id,
         |    CASE WHEN n.doc IS NULL THEN a.text ELSE k.clean END AS text
         |  FROM aug a LEFT JOIN nrem n ON a.doc_id = n.doc
         |  LEFT JOIN ckept k ON a.doc_id = k.doc_id),
         |cl2 AS (SELECT doc_id, text FROM cl WHERE len(text) > 0),
         |enc2 AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM cl2),
         |tk2b AS (SELECT doc_id, s2.p AS pos, s2.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s2
         |         FROM enc2) q2),
         |idt2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids
         |        FROM tk2b LEFT JOIN vmin2 v USING (token) GROUP BY doc_id),
         |cp2 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM idt2),
         |sh2 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(s // $PackBudget AS BIGINT) AS seq_id FROM cp2),
         |enc3 AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM aug),
         |tk2c AS (SELECT doc_id, s3.p AS pos, s3.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s3
         |         FROM enc3) q3),
         |idt3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids
         |        FROM tk2c LEFT JOIN vmin2 v USING (token) GROUP BY doc_id),
         |cp3 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM idt3),
         |sh3 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(s // $PackBudget AS BIGINT) AS seq_id FROM cp3),
         |m2 AS (SELECT CAST(seq_id // 4 AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
         |    seq_id || '|' || ids), 1, 15))::UBIGINT::BIGINT) AS digest
         |  FROM sh2 GROUP BY 1),
         |m1 AS (SELECT CAST(seq_id // 4 AS BIGINT) AS shard_id,
         |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
         |    seq_id || '|' || ids), 1, 15))::UBIGINT::BIGINT) AS digest
         |  FROM sh3 GROUP BY 1)
         |SELECT coalesce(m2.shard_id, m1.shard_id) AS shard_id,
         |  m2.n_docs, m2.n_seqs, m2.n_tokens, m2.digest,
         |  coalesce(m2.digest <> m1.digest, TRUE) AS changed
         |FROM m2 FULL JOIN m1 ON m2.shard_id = m1.shard_id""".stripMargin, writes = true),
    // SEALED-shard manifest — the layout whose repair is local (see
    // packSealed): documents sealed into ~4·budget-token shards by
    // where they start, sequence numbering restarting inside each
    // shard. Written to files, read back, manifested — the oracle
    // recomputes shard assignment (global prefix sum div capacity)
    // and the within-shard layout (local prefix sum from the shard's
    // first doc) straight from the corpus, so the files must
    // round-trip every row AND the two-level layout math must agree
    // engine for engine.
    QuerySpec("q168_sealed_manifest", (s, d) => {
      val ids = idsTable(s, d)
      // layout-then-join-back, kept (see q139): `ids` is persisted,
      // the join-back broadcasts. The q139 A/B
      // read attach-in-place -4.6% (faster) here, inside its noise band.
      val packed = Packing.packSealed(
          ids.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
        .join(ids.select(col("doc_id"), col("ids")), Seq("doc_id"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_sealed_" +
        math.abs(d.hashCode.toLong)
      Packing.writeByShardColumn(packed, "doc_id", path)
      Packing.shardManifest(s.read.parquet(path), sealedRowContent,
        seqCol = "seq_in_shard")
    },
      // sealed layout math recomputed from the corpus: shard by global
      // prefix sum div capacity, then the within-shard sequence layout
      // from each shard's own first-doc offset
      sealedManifestSql, writes = true),
    // SEALED-STORE DELETE (GDPR at the file level): erase a doc-id
    // list from the landed corpus by rewriting ONLY the shards that
    // held a deleted doc — repairSealedShards with an EMPTY
    // replacement payload (the "wholly-cut docs vanish" branch IS
    // the delete; the machinery needed zero new code). Membership of
    // untouched shards is frozen in their files, seq_in_shard
    // re-derives per touched shard from its surviving rows, emptied
    // shard dirs are removed. Output: post-delete read-back manifest
    // with changed == touched row for row — erasure cost ∝ shards
    // containing deleted docs, proven in the gated output (the
    // stable-position contract: surviving shard assignments do NOT
    // recompact, so untouched files stay byte-identical — the
    // recompacting variant is a from-scratch packSealed, q168).
    QuerySpec("q312_sealed_delete", (s, d) => {
      val ids = idsTable(s, d)
      // layout-then-join-back, kept (see q139): `ids` is persisted,
      // the join-back broadcasts. The q139 A/B
      // read attach-in-place +12.9% here, inside its noise band.
      val packed = Packing.packSealed(
          ids.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
        .join(ids.select(col("doc_id"), col("ids")), Seq("doc_id"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_sealdel_" +
        math.abs(d.hashCode.toLong)
      Packing.writeByShardColumn(packed, "doc_id", path)
      val before = Packing.shardManifest(s.read.parquet(path),
          sealedRowContent, seqCol = "seq_in_shard")
        .localCheckpoint(true)
      // sparse list (~1%) so the ∝-touched-shards claim is visible:
      // most shards stay untouched/unchanged in the gated output
      val deleted = ids.filter(col("doc_id") % 101 === 3)
        .select(col("doc_id"))
      Packing.repairSealedShards(s, path, deleted,
        ids.select(col("doc_id"), col("n_tokens"), col("ids")).limit(0),
        "doc_id", budget = PackBudget)
      val after = Packing.shardManifest(s.read.parquet(path),
        sealedRowContent, seqCol = "seq_in_shard")
      val touched = packed
        .join(broadcast(deleted), Seq("doc_id"), "left_semi")
        .select(col("shard_id").cast("long").as("shard_id")).distinct()
        .withColumn("__t", lit(true))
      after
        .join(before.select(col("shard_id"), col("digest").as("__od")),
          Seq("shard_id"), "left")
        .join(touched, Seq("shard_id"), "left")
        .select(col("shard_id"), col("n_docs"), col("n_seqs"),
          col("n_tokens"), col("digest"),
          coalesce(col("digest") =!= col("__od"), lit(true)).as("changed"),
          coalesce(col("__t"), lit(false)).as("touched"))
    },
      // survivors of the FULL sealed layout with per-shard seq
      // re-derived over the remaining rows; changed/touched recomputed
      // against the full-layout digests — stable-position delete
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |$shardLayoutCtes,
         |$sealedLayoutCtes,
         |surv AS (SELECT doc_id, n_tokens, ids, shard_id FROM sl
         |         WHERE doc_id % 101 <> 3),
         |re AS (SELECT doc_id, n_tokens, ids, shard_id,
         |        COALESCE(sum(n_tokens) OVER (PARTITION BY shard_id
         |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS ls
         |       FROM surv),
         |am AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT ls // $PackBudget) AS BIGINT)
         |           AS n_seqs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |         bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens
         |           || '|' || shard_id || '|' || (ls // $PackBudget)
         |           || '|' || ids), 1, 15))::UBIGINT::BIGINT) AS digest
         |       FROM re GROUP BY 1),
         |bm AS (SELECT shard_id,
         |         bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens
         |           || '|' || shard_id || '|' || seq_in_shard || '|' ||
         |           ids), 1, 15))::UBIGINT::BIGINT) AS od
         |       FROM sl GROUP BY 1),
         |tm AS (SELECT DISTINCT shard_id, TRUE AS t FROM sl
         |       WHERE doc_id % 101 = 3)
         |SELECT am.shard_id, n_docs, n_seqs, n_tokens, digest,
         |  COALESCE(digest <> bm.od, TRUE) AS changed,
         |  COALESCE(tm.t, FALSE) AS touched
         |FROM am LEFT JOIN bm USING (shard_id)
         |LEFT JOIN tm USING (shard_id)""".stripMargin, writes = true),
    // TARGETED quarantine repair over the sealed layout — the fix for
    // q167's honest O(corpus) finding: shard membership is frozen in
    // the files, so cutting reference spans from flagged docs and
    // re-laying-out ONLY their shards leaves every other shard's
    // bytes untouched. Output is the post-repair read-back manifest
    // diffed against the pre-repair one, with the quarantine verdict
    // alongside: `changed` must equal `flagged` row for row — repair
    // cost ∝ flagged shards, proven in the gated output itself (and
    // file-identity/mtime-pinned in the spec).
    QuerySpec("q169_sealed_repair", (s, d) => {
      val m = merges(s, d)
      val aug = augIdsTable(s, d)
      // layout-then-join-back, kept (see q139): `aug` is persisted,
      // the join-back broadcasts. The q139 A/B
      // read attach-in-place +6.3% here, inside its noise band.
      val sealedLayout = Packing.packSealed(
        aug.select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget, seqsPerShard = 4L)
      val packed = sealedLayout
        .join(aug.select(col("doc_id"), col("ids")), Seq("doc_id"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_sealrep_" +
        math.abs(d.hashCode.toLong)
      Packing.writeByShardColumn(packed, "doc_id", path)
      // freeze the pre-repair manifest BEFORE the files change
      val before = Packing.shardManifest(s.read.parquet(path),
          sealedRowContent, seqCol = "seq_in_shard")
        .localCheckpoint(true)
      val spans = Dedup.spansAgainstReference(
        TextPipelineQueries.spanNgTab(s, d), "doc_id", col("doc_id") < 20)
      val flagged = spans.select(col("doc_id")).distinct()
      // repaired payloads: spans cut from FLAGGED docs only (work ∝
      // flagged), survivors re-encoded with the frozen tokenizer
      val cleaned = Dedup.removeSpans(
          TextPipelineQueries.augSpanDocs(s, d)
            .join(broadcast(flagged), Seq("doc_id"), "left_semi"),
          "doc_id", "text",
          spans.select(col("ref_id").as("doc_a"), col("doc_id").as("doc_b"),
            col("start_ref").as("start_a"), col("start").as("start_b"),
            col("len")))
        .select(col("doc_id"), col("text_clean").as("text"))
        .filter(length(col("text")) > 0)
      val vocab = Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), m)
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      val repaired = Curation.tokenizeToIds(
          cleaned.select(col("doc_id"),
            array_join(TextFunctions.bpeEncode(col("text"), m), " ")
              .as("text")),
          "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
          col("ids"))
      Packing.repairSealedShards(s, path, flagged, repaired, "doc_id",
        budget = PackBudget)
      val after = Packing.shardManifest(s.read.parquet(path),
        sealedRowContent, seqCol = "seq_in_shard")
      val flaggedShards = packed
        .join(broadcast(flagged), Seq("doc_id"), "left_semi")
        .select(col("shard_id").cast("long").as("shard_id")).distinct()
        .withColumn("__fl", lit(true))
      after
        .join(before.select(col("shard_id"), col("digest").as("__od")),
          Seq("shard_id"), "full_outer")
        .join(flaggedShards, Seq("shard_id"), "left")
        .select(col("shard_id"), col("n_docs"), col("n_seqs"),
          col("n_tokens"), col("digest"),
          coalesce(col("digest") =!= col("__od"), lit(true)).as("changed"),
          coalesce(col("__fl"), lit(false)).as("flagged"))
    },
      // the targeted-repair contract, recomputed end to end: the OLD
      // sealed layout over the aug corpus, flagged docs from the
      // reference-span join, repaired payloads (spans cut + re-encode,
      // FLAGGED docs only), frozen shard membership, within-shard
      // re-layout for flagged shards alone, manifest diff + the
      // flagged verdict — `changed` must equal `flagged` or an engine
      // disagrees about which bytes a repair touches.
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |${TextPipelineQueries.spanBaseCtes},
         |${TextPipelineQueries.refSpanCtes},
         |vmin2 AS (SELECT token, min(id) AS id FROM vocab GROUP BY token),
         |enc3 AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM aug),
         |tk2c AS (SELECT doc_id, s3.p AS pos, s3.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s3
         |         FROM enc3) q3),
         |idt3 AS MATERIALIZED (SELECT doc_id,
         |        CAST(count(*) AS BIGINT) AS n_tokens,
         |        string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids
         |        FROM tk2c LEFT JOIN vmin2 v USING (token) GROUP BY doc_id),
         |cp3 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM idt3),
         |so3 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(s // ${PackBudget * 4} AS BIGINT) AS shard_id, s FROM cp3),
         |sl3 AS MATERIALIZED (SELECT doc_id, n_tokens, ids, shard_id,
         |  CAST((s - min(s) OVER (PARTITION BY shard_id)) // $PackBudget
         |       AS BIGINT) AS seq_in_shard
         |  FROM so3),
         |m1 AS (SELECT shard_id,
         |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
         |    shard_id || '|' || seq_in_shard || '|' || ids), 1, 15))
         |    ::UBIGINT::BIGINT) AS digest
         |  FROM sl3 GROUP BY 1),
         |fl AS (SELECT DISTINCT doc_id FROM spansx),
         |fsh AS MATERIALIZED (SELECT DISTINCT shard_id
         |       FROM sl3 JOIN fl USING (doc_id)),
         |cutp AS (SELECT DISTINCT doc_id AS doc, u.p
         |  FROM spansx, UNNEST(generate_series(start_b, start_b + len - 1)) AS u(p)),
         |nrem AS (SELECT doc, count(*) AS nr FROM cutp GROUP BY doc),
         |ctk AS (SELECT doc_id, i - 1 AS pos, w[i] AS t
         |  FROM tk, UNNEST(generate_series(1, len(w))) AS u(i)),
         |ckept AS (SELECT ctk.doc_id,
         |    coalesce(string_agg(CASE WHEN c.doc IS NULL THEN t END, ' '
         |      ORDER BY pos), '') AS clean
         |  FROM ctk JOIN nrem ON ctk.doc_id = nrem.doc
         |  LEFT JOIN cutp c ON ctk.doc_id = c.doc AND ctk.pos = c.p
         |  GROUP BY ctk.doc_id),
         |cl2 AS (SELECT doc_id, clean AS text FROM ckept WHERE len(clean) > 0),
         |enc2 AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM cl2),
         |tk2b AS (SELECT doc_id, s2.p AS pos, s2.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s2
         |         FROM enc2) q2),
         |idt2 AS MATERIALIZED (SELECT doc_id,
         |        CAST(count(*) AS BIGINT) AS n_tokens,
         |        string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids
         |        FROM tk2b LEFT JOIN vmin2 v USING (token) GROUP BY doc_id),
         |nw0 AS MATERIALIZED (
         |  SELECT s.doc_id, s.n_tokens, s.ids, s.shard_id
         |  FROM sl3 s JOIN fsh USING (shard_id)
         |  ANTI JOIN fl ON s.doc_id = fl.doc_id
         |  UNION ALL
         |  SELECT s.doc_id, r.n_tokens, r.ids, s.shard_id
         |  FROM sl3 s JOIN fsh USING (shard_id)
         |  JOIN fl ON s.doc_id = fl.doc_id
         |  JOIN idt2 r ON s.doc_id = r.doc_id),
         |nw AS (SELECT doc_id, n_tokens, ids, shard_id,
         |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    // $PackBudget AS BIGINT) AS seq_in_shard
         |  FROM nw0),
         |allrows AS (
         |  SELECT doc_id, n_tokens, ids, shard_id, seq_in_shard FROM sl3
         |  WHERE shard_id NOT IN (SELECT shard_id FROM fsh)
         |  UNION ALL
         |  SELECT doc_id, n_tokens, ids, shard_id, seq_in_shard FROM nw),
         |m2 AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT seq_in_shard) AS BIGINT) AS n_seqs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
         |    shard_id || '|' || seq_in_shard || '|' || ids), 1, 15))
         |    ::UBIGINT::BIGINT) AS digest
         |  FROM allrows GROUP BY 1)
         |SELECT coalesce(m2.shard_id, m1.shard_id) AS shard_id,
         |  m2.n_docs, m2.n_seqs, m2.n_tokens, m2.digest,
         |  coalesce(m2.digest <> m1.digest, TRUE) AS changed,
         |  coalesce(f.fl2, FALSE) AS flagged
         |FROM m2 FULL JOIN m1 ON m2.shard_id = m1.shard_id
         |LEFT JOIN (SELECT shard_id, TRUE AS fl2 FROM fsh) f
         |  ON coalesce(m2.shard_id, m1.shard_id) = f.shard_id""".stripMargin, writes = true),
    // Shard quarantine list: which shards hold documents flagged by
    // span-level benchmark decontamination (q142) — the operational
    // re-write list after an eval-set refresh ("which of my thousands
    // of shard files actually need regenerating"). Composes the
    // reference-span detection with the shard layout; only flagged
    // doc ids (span-table-bounded) touch the layout join.
    QuerySpec("q165_shard_quarantine", (s, d) => {
      val flagged = Dedup.spansAgainstReference(
          TextPipelineQueries.spanNgTab(s, d), "doc_id",
          col("doc_id") < 20)
        .select(col("doc_id")).distinct()
      val layout = Packing.packByBudget(
        idsTable(s, d).select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget)
      layout
        .withColumn("shard_id", (col("seq_id") / 4).cast("long"))
        .join(broadcast(flagged), Seq("doc_id"), "left_semi")
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_flagged"))
    },
      // shard layout CTEs compose with the reference-span CTEs (no name
      // collisions: aug/tk/ng/cool vs vmin/enc/tk2/idt/cp/sh)
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |$shardLayoutCtes,
         |${TextPipelineQueries.spanBaseCtes},
         |${TextPipelineQueries.refSpanCtes},
         |fl AS (SELECT DISTINCT doc_id FROM spansx)
         |SELECT CAST(sh.seq_id // 4 AS BIGINT) AS shard_id,
         |       count(*)::BIGINT AS n_flagged
         |FROM sh JOIN fl USING (doc_id)
         |GROUP BY 1""".stripMargin),
    // The data-loader's read plan: a deterministic per-epoch
    // permutation of the PACKED SEQUENCES with their shard homes —
    // what a trainer's loader actually consumes (q145's shuffle
    // applied to the physical layout instead of raw docs). Composes
    // the cached id table's layout with the two-phase bucketed rank.
    QuerySpec("q158_epoch_read_order", (s, d) => {
      val layout = Packing.packByBudget(
        idsTable(s, d).select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget)
      Curation.epochShuffle(layout.select(col("seq_id")).distinct(),
          "seq_id", epochs = 2, salt = "ro")
        .withColumn("shard_id", (col("seq_id") / 4).cast("long"))
    },
      s"""WITH ${trainingCtes(NumMerges)},
         |${vocabCtes(NumMerges)},
         |$shardLayoutCtes,
         |sq AS (SELECT DISTINCT seq_id FROM sh),
         |e AS (SELECT unnest(range(2)) AS epoch),
         |h AS (SELECT epoch, seq_id,
         |        md5(CAST(seq_id AS VARCHAR) || '|ro|' || CAST(epoch AS VARCHAR)) AS hk
         |      FROM sq CROSS JOIN e)
         |SELECT CAST(epoch AS BIGINT) AS epoch,
         |       CAST(row_number() OVER (PARTITION BY epoch ORDER BY hk, seq_id)
         |            AS BIGINT) AS ord,
         |       seq_id,
         |       CAST(seq_id // 4 AS BIGINT) AS shard_id
         |FROM h""".stripMargin),
    // INCREMENTAL shard maintenance: the corpus is sharded from its
    // first 80% of ids, then the remaining batch folds in with
    // appendShards — prefix sums of existing docs can't change under
    // append-only ingest, so only the last existing shard (whose
    // final sequence the first batch doc may join) plus the new
    // shards are rewritten; everything earlier stays byte-identical
    // on disk (mtime-pinned in the spec). The read-back manifest must
    // equal the from-scratch layout's — q139's oracle applies
    // VERBATIM (the q119/q120/q110 invariant pattern, now for the
    // physical artifact).
    QuerySpec("q144_shards_incremental", (s, d) => {
      val ids = idsTable(s, d)
      val maxId = ids.agg(max(col("doc_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      val old = ids.filter(col("doc_id") <= thresh)
      val batch = ids.filter(col("doc_id") > thresh)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_incr_" +
        math.abs(d.hashCode.toLong)
      // layout-then-join-back, kept (see q139): `old` derives from
      // the persisted id table, the join-back broadcasts. The q139 A/B
      // read attach-in-place +2.6% here, inside its noise band.
      Packing.writeShards(
        Packing.packByBudget(old.select(col("doc_id"), col("n_tokens")),
            "doc_id", "n_tokens", budget = PackBudget)
          .join(old.select(col("doc_id"), col("ids")), Seq("doc_id")),
        "doc_id", path, seqsPerShard = 4L)
      Packing.appendShards(batch, "doc_id", "n_tokens", path,
        budget = PackBudget, seqsPerShard = 4L)
      Packing.shardManifest(s.read.parquet(path), shardRowContent)
    },
      // the incremental append must land at the from-scratch layout —
      // the invariant oracle applies verbatim
      shardManifestSql, writes = true),
    // Curation v5 — v4's chain driven one step further, to the END of
    // the pipeline: span removal → learned NB gate → encode to token
    // IDS against the q132-layout vocabulary → pack → WRITE the shard
    // files → read them back and manifest them. The whole curation
    // story now terminates in the physical artifact a trainer mounts,
    // and the oracle recomputes the manifest from the layout alone —
    // the files must round-trip every surviving document exactly.
    // Wholly-cut documents that still pass the gate carry zero tokens
    // and are dropped before sharding (both engines filter
    // length(trim(text)) > 0 — an empty doc has no place in a shard).
    QuerySpec("q143_curation_v5", (s, d) => {
      val m = merges(s, d)
      val corpus = v4Corpus(s, d).filter(length(trim(col("text"))) > 0)
      val vocab = Bpe.vocabTable(Bpe.wordTable(docs(s, d), "text"), m)
        .groupBy(col("token")).agg(min(col("id")).as("id"))
      val bpeText = corpus.select(col("doc_id"),
        array_join(TextFunctions.bpeEncode(col("text"), m), " ").as("text"))
      val ids = Curation.tokenizeToIds(bpeText, "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tokens"),
          col("ids"))
      val layout = Packing.packByBudget(
        ids.select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = PackBudget)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_shards_v5_" +
        math.abs(d.hashCode.toLong)
      // layout-then-join-back, kept (see q139): the broadcast
      // join-back avoids an extra payload shuffle. The q139 A/B
      // read attach-in-place -4.1% (faster) here, inside its noise band.
      Packing.writeShards(
        layout.join(ids.select(col("doc_id"), col("ids")), Seq("doc_id")),
        "doc_id", path, seqsPerShard = 4L)
      Packing.shardManifest(s.read.parquet(path), shardRowContent)
    },
      // v5: the same removal+gate chain, then encode-to-ids against the
      // q132 vocabulary, the packing window, and the SHARD manifest —
      // computed from the layout here, from the written files on the
      // Spark side. Zero-token survivors are filtered before sharding
      // in both engines.
      s"""WITH ${trainingCtes(NumMerges)},
         |${TextPipelineQueries.spanCtes},
         |${CurationQueries.nbCtes},
         |$v4GateCtes,
         |${vocabCtes(NumMerges)},
         |vmin AS (SELECT token, min(id) AS id FROM vocab GROUP BY token),
         |kc2 AS (SELECT doc_id, text FROM kc WHERE length(trim(text)) > 0),
         |enc5 AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM kc2),
         |tk5 AS (SELECT doc_id, s.p AS pos, s.t AS token FROM
         |        (SELECT doc_id,
         |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s
         |         FROM enc5) q),
         |idt5 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids
         |        FROM tk5 LEFT JOIN vmin v USING (token) GROUP BY doc_id),
         |cp5 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM idt5),
         |sh5 AS (SELECT doc_id, n_tokens, ids,
         |  CAST(s // $PackBudget AS BIGINT) AS seq_id FROM cp5)
         |SELECT CAST(seq_id // 4 AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
         |    seq_id || '|' || ids), 1, 15))::UBIGINT::BIGINT) AS digest
         |FROM sh5 GROUP BY 1""".stripMargin, writes = true),
    // Curation scorecard v3 — the round's new families composed into
    // one per-source readout a pipeline owner actually acts on: how
    // many documents are syndicated (≥5% of tokens inside verbatim
    // cross-document spans) and what the source costs in real subword
    // tokens. One plan: span detection + coverage + kernel encode +
    // a source-keyed rollup.
    QuerySpec("q123_curation_v3", (s, d) => {
      val aug = TextPipelineQueries.augSpanDocs(s, d)
      val cov = Dedup.spanCoverage(aug, "doc_id", "text",
        TextPipelineQueries.spanTab(s, d))
      val bpe = aug.select(col("doc_id"),
        size(TextFunctions.bpeEncode(col("text"), merges(s, d)))
          .cast("long").as("n_bpe"))
      docs(s, d).select(col("doc_id"), col("source"))
        .join(cov.select(col("doc_id"), col("dup_frac")), Seq("doc_id"))
        .join(bpe, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_frac") >= 0.05, 1L).otherwise(0L)).as("n_syndicated"),
          sum(col("n_bpe")).as("total_bpe_tokens"))
    },
      // merges learn on the raw corpus; spans and the encode run over
      // the augmented one — exactly what the Spark plan composes.
      s"""WITH ${trainingCtes(NumMerges)},
         |${TextPipelineQueries.spanCtes},
         |cv AS (SELECT doc, pos FROM (
         |    SELECT doc_a AS doc, start_a AS s, len FROM spans
         |    UNION ALL SELECT doc_b, start_b, len FROM spans) t,
         |    UNNEST(generate_series(s, s + len - 1)) AS u(pos)
         |  GROUP BY doc, pos),
         |nc AS (SELECT doc, count(*)::BIGINT AS ncov FROM cv GROUP BY doc),
         |dfr AS (SELECT doc_id,
         |    round(coalesce(ncov, 0)::DOUBLE /
         |          len(string_split(text, ' '))::DOUBLE, 4) AS dup_frac
         |  FROM aug LEFT JOIN nc ON aug.doc_id = nc.doc),
         |bpe AS (SELECT doc_id, len(${encodeExpr(NumMerges)})::BIGINT AS n_bpe
         |        FROM aug)
         |SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN dup_frac >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_syndicated,
         |       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens
         |FROM documents d
         |JOIN dfr USING (doc_id) JOIN bpe USING (doc_id)
         |GROUP BY d.source""".stripMargin))

  // ---- oracle SQL ----------------------------------------------------

  /** The two spaced-symbol expansions of one word, as DuckDB SQL:
    * char mode (UTF-16 units) and byte mode (2-hex-digit UTF-8 byte
    * names via `hex()` — see [[Bpe.byteSpaced]]). */
  /** WordPiece-objective training rounds (Bpe.learnMergesWordpiece's
    * oracle): the b-round selection orders by likelihood gain
    * `cnt / (sf_a · sf_b)` — one DOUBLE division of exact integers,
    * IEEE-identical cross-engine — instead of raw cnt; everything
    * else is trainingCtes verbatim under wp-prefixed names. */
  private def wpTrainingCtes(rounds: Int): String = {
    val head =
      s"""wpwords0 AS MATERIALIZED (
         |  SELECT $charWordSql AS w,
         |         count(*)::BIGINT AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY 1)""".stripMargin
    val steps = (0 until rounds).map { r =>
      s"""wps$r AS MATERIALIZED (
         |  SELECT sym, sum(freq)::BIGINT AS sf
         |  FROM (SELECT unnest(string_split(trim(w), '  ')) AS sym, freq
         |        FROM wpwords$r) GROUP BY 1),
         |wpp$r AS MATERIALIZED (
         |  SELECT syms[i] AS a, syms[i+1] AS b, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT string_split(trim(w), '  ') AS syms, freq
         |        FROM wpwords$r),
         |       UNNEST(generate_series(1, len(syms)-1)) AS u(i)
         |  GROUP BY 1, 2 HAVING sum(freq) >= 2),
         |wpb$r AS MATERIALIZED (
         |  SELECT a, b FROM wpp$r p
         |  JOIN wps$r sa ON sa.sym = p.a
         |  JOIN wps$r sb ON sb.sym = p.b
         |  ORDER BY p.cnt / (sa.sf::DOUBLE * sb.sf::DOUBLE) DESC, a, b
         |  LIMIT 1),
         |wpwords${r + 1} AS MATERIALIZED (
         |  SELECT replace(w,
         |           ' '||(SELECT a FROM wpb$r)||'  '||(SELECT b FROM wpb$r)||' ',
         |           ' '||(SELECT a||b FROM wpb$r)||' ') AS w, freq
         |  FROM wpwords$r)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The wp-chain vocabulary (base symbols + wp merge outputs) —
    * greedy-encode side input, no ids needed. */
  private def wpVocabCte(rounds: Int): String =
    s"""wpvocab AS (
       |  SELECT DISTINCT unnest(regexp_split_to_array(trim(w), ' {2,}'))
       |    AS token FROM wpwords0
       |  UNION
       |  SELECT a || b AS token FROM (
       |    ${(0 until rounds).map(r => s"SELECT a, b FROM wpb$r")
           .mkString("\n    UNION ALL ")}))""".stripMargin

  private val charWordSql = """regexp_replace(word, '([^ ])', ' \1 ', 'g')"""
  private val bytesWordSql = """regexp_replace(hex(word), '(..)', ' \1 ', 'g')"""

  /** Training rounds as chained CTEs: words0 is the spaced type
    * table (char or byte symbols per `wordSql`); round r picks
    * best{r} and rewrites words{r+1}. */
  private def trainingCtes(rounds: Int,
                           wordSql: String = charWordSql): String = {
    val head =
      s"""words0 AS MATERIALIZED (
        |  SELECT $wordSql AS w,
        |         count(*)::BIGINT AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY 1)""".stripMargin
    val steps = (0 until rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT syms[i] AS a, syms[i+1] AS b, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT string_split(trim(w), '  ') AS syms, freq FROM words$r),
         |       UNNEST(generate_series(1, len(syms)-1)) AS u(i)
         |  GROUP BY 1, 2 HAVING sum(freq) >= 2),
         |b$r AS MATERIALIZED (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |words${r + 1} AS MATERIALIZED (
         |  SELECT replace(w, ' '||(SELECT a FROM b$r)||'  '||(SELECT b FROM b$r)||' ',
         |                    ' '||(SELECT a||b FROM b$r)||' ') AS w, freq
         |  FROM words$r)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The composed encode of `documents.text` (or another text-typed
    * column) after `rounds` merges, as a SQL expression yielding the
    * token list. */
  private def encodeExpr(rounds: Int, textCol: String = "text"): String = {
    val spacedDoc = s"regexp_replace($textCol, '([^ ])', ' \\1 ', 'g')"
    val chain = (0 until rounds).foldLeft(spacedDoc) { (e, r) =>
      s"replace($e, ' '||(SELECT a FROM b$r)||'  '||(SELECT b FROM b$r)||' ', " +
        s"' '||(SELECT a||b FROM b$r)||' ')"
    }
    s"regexp_split_to_array(trim($chain), ' {2,}')"
  }

  /** Byte-mode composed encode with whole-word special passthrough:
    * each word is either a special (one verbatim symbol) or its hex
    * byte symbols, then the same merge-chain replaces. */
  private def encodeExprBytes(rounds: Int, special: String): String = {
    val spacedDoc =
      s"""array_to_string([CASE WHEN w = '$special' THEN ' ' || w || ' '
         |  ELSE regexp_replace(hex(w), '(..)', ' \\1 ', 'g') END
         |  FOR w IN string_split(text, ' ') IF len(w) > 0], ' ')"""
        .stripMargin.replace("\n", " ")
    val chain = (0 until rounds).foldLeft(spacedDoc) { (e, r) =>
      s"replace($e, ' '||(SELECT a FROM b$r)||'  '||(SELECT b FROM b$r)||' ', " +
        s"' '||(SELECT a||b FROM b$r)||' ')"
    }
    s"regexp_split_to_array(trim($chain), ' {2,}')"
  }

  /** [[encodeExprBytes]] generalized to a special-token SET (the chat
    * role tags): any listed word passes through verbatim as one
    * symbol. */
  private def encodeExprBytesMulti(rounds: Int, specials: Seq[String],
                                   textCol: String): String = {
    val inList = specials.map(sp => s"'$sp'").mkString(", ")
    val spacedDoc =
      s"""array_to_string([CASE WHEN w IN ($inList) THEN ' ' || w || ' '
         |  ELSE regexp_replace(hex(w), '(..)', ' \\1 ', 'g') END
         |  FOR w IN string_split($textCol, ' ') IF len(w) > 0], ' ')"""
        .stripMargin.replace("\n", " ")
    val chain = (0 until rounds).foldLeft(spacedDoc) { (e, r) =>
      s"replace($e, ' '||(SELECT a FROM b$r)||'  '||(SELECT b FROM b$r)||' ', " +
        s"' '||(SELECT a||b FROM b$r)||' ')"
    }
    s"regexp_split_to_array(trim($chain), ' {2,}')"
  }

  /** [[encodeExprBytes]] with PRESERVED SPACES: word groups join with
    * the space byte as its own symbol (`' 20 '` — single-space-framed,
    * so adjacent symbols stay double-space separated), making the
    * token stream a byte-exact encoding of the whole document. No
    * merge can straddle a boundary: merges train on per-word tables
    * and therefore never contain the `20` symbol. The empty-word
    * filter is dropped deliberately — every source space must emit
    * its `20`. */
  private def encodeExprBytesSpaced(rounds: Int, special: String): String = {
    val spacedDoc =
      s"""array_to_string([CASE WHEN w = '$special' THEN ' ' || w || ' '
         |  ELSE regexp_replace(hex(w), '(..)', ' \\1 ', 'g') END
         |  FOR w IN string_split(text, ' ')], ' 20 ')"""
        .stripMargin.replace("\n", " ")
    val chain = (0 until rounds).foldLeft(spacedDoc) { (e, r) =>
      s"replace($e, ' '||(SELECT a FROM b$r)||'  '||(SELECT b FROM b$r)||' ', " +
        s"' '||(SELECT a||b FROM b$r)||' ')"
    }
    s"regexp_split_to_array(trim($chain), ' {2,}')"
  }

  private def mergesUnionSql(rounds: Int): String =
    s"""SELECT * FROM (
       |${(0 until rounds).map(r =>
           s"  SELECT ${r}::BIGINT AS rank, a AS lhs, b AS rhs FROM b$r")
           .mkString("  UNION ALL\n")}
       |) ORDER BY rank""".stripMargin

  private lazy val mergesSql =
    s"""WITH ${trainingCtes(NumMerges)}
       |${mergesUnionSql(NumMerges)}""".stripMargin

  /** The true-vocab CTEs: distinct initial symbols of the type table
    * (ids 0..k−1 in token order), then merge outputs at k+rank. */
  private def vocabCtes(rounds: Int): String =
    s"""sym AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(w), ' {2,}')) AS token
       |        FROM words0),
       |vbase AS (SELECT token,
       |    CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS id
       |  FROM sym),
       |nb AS (SELECT count(*)::BIGINT AS n FROM vbase),
       |vmo AS (${(0 until rounds).map(r =>
           s"SELECT a || b AS token, ${r}::BIGINT AS rank FROM b$r")
           .mkString("\n  UNION ALL ")}),
       |vocab AS (SELECT token, id FROM vbase
       |  UNION ALL SELECT token, n + rank FROM vmo CROSS JOIN nb)""".stripMargin

  private lazy val encodeSql =
    s"""WITH ${trainingCtes(NumMerges)},
       |enc AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM documents)
       |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |       array_to_string(toks, ' ') AS toks
       |FROM enc""".stripMargin

  /** The v4/v5 removal + learned-gate chain (consumes `spans`/`tk`
    * from spanCtes, `wt` from nbCtes; yields `kc` = the cleaned,
    * gated corpus): span positions are cut from doc_b, the NB gate
    * scores the CLEANED text with weights trained on raw seeds, and
    * survivors keep their rewritten text. */
  private lazy val v4GateCtes =
    """cutp AS (SELECT DISTINCT doc_b AS doc, u.p
      |  FROM spans, UNNEST(generate_series(start_b, start_b + len - 1)) AS u(p)),
      |nrem AS (SELECT doc, count(*)::BIGINT AS tokens_removed
      |  FROM cutp GROUP BY doc),
      |tk2 AS (SELECT doc_id, i - 1 AS pos, w[i] AS t
      |  FROM tk, UNNEST(generate_series(1, len(w))) AS u(i)),
      |kept AS (SELECT tk2.doc_id,
      |    coalesce(string_agg(CASE WHEN c.doc IS NULL THEN t END, ' '
      |      ORDER BY pos), '') AS clean
      |  FROM tk2 JOIN nrem ON tk2.doc_id = nrem.doc
      |  LEFT JOIN cutp c ON tk2.doc_id = c.doc AND tk2.pos = c.p
      |  GROUP BY tk2.doc_id),
      |cleaned AS (SELECT a.doc_id,
      |    CASE WHEN n.doc IS NULL THEN a.text ELSE k.clean END AS text
      |  FROM aug a LEFT JOIN nrem n ON a.doc_id = n.doc
      |  LEFT JOIN kept k ON a.doc_id = k.doc_id),
      |f2 AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
      |    count(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM cleaned) GROUP BY doc_id, bucket),
      |sc2 AS (SELECT f2.doc_id,
      |    sum(f2.cnt * wt.w) + (SELECT w FROM wt WHERE bucket = -1) AS score
      |  FROM f2 JOIN wt ON f2.bucket = wt.bucket GROUP BY f2.doc_id),
      |kc AS (SELECT c.doc_id, c.text FROM cleaned c
      |  JOIN sc2 ON c.doc_id = sc2.doc_id WHERE sc2.score >= 0)""".stripMargin

  /** The shard-manifest oracle: q133's id chain, q115's packing
    * window, then the shard grouping and the 60-bit-md5-prefix XOR
    * digest. Shared verbatim by q139 (from-scratch writer) and q144
    * (incremental append) — the append must land at the from-scratch
    * layout. */
  /** The id-chain → packing-window → seq_id layout CTEs (consumes
    * trainingCtes + vocabCtes; yields `sh` = one row per doc with its
    * seq_id), shared by the manifest (q139/q144) and the balance
    * audit (q150). */
  private lazy val shardLayoutCtes =
    s"""vmin AS (SELECT token, min(id) AS id FROM vocab GROUP BY token),
       |enc AS (SELECT doc_id, ${encodeExpr(NumMerges)} AS toks FROM documents),
       |tk2 AS (SELECT doc_id, s.p AS pos, s.t AS token FROM
       |        (SELECT doc_id,
       |           unnest([{'p': i, 't': toks[i]} for i in range(1, len(toks)+1)]) AS s
       |         FROM enc) q),
       |idt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids
       |        FROM tk2 LEFT JOIN vmin v USING (token) GROUP BY doc_id),
       |cp AS (SELECT doc_id, n_tokens, ids,
       |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
       |  FROM idt),
       |sh AS (SELECT doc_id, n_tokens, ids,
       |  CAST(s // $PackBudget AS BIGINT) AS seq_id FROM cp)""".stripMargin

  /** The sealed-layout manifest oracle (q168), shared verbatim by the
    * sealed APPEND (q177) — the incremental path must land at the
    * from-scratch sealed layout. */
  /** The sealed-layout CTEs (consumes `cp`; yields `sl` = one row per
    * doc with shard_id + seq_in_shard) — shared by the manifest
    * family and the sealed read-order. */
  private lazy val sealedLayoutCtes =
    s"""so AS (SELECT doc_id, n_tokens, ids,
       |  CAST(s // ${PackBudget * 4} AS BIGINT) AS shard_id, s FROM cp),
       |sl AS (SELECT doc_id, n_tokens, ids, shard_id,
       |  CAST((s - min(s) OVER (PARTITION BY shard_id)) // $PackBudget
       |       AS BIGINT) AS seq_in_shard
       |  FROM so)""".stripMargin

  private lazy val sealedManifestSql =
    s"""WITH ${trainingCtes(NumMerges)},
       |${vocabCtes(NumMerges)},
       |$shardLayoutCtes,
       |$sealedLayoutCtes
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT seq_in_shard) AS BIGINT) AS n_seqs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
       |    shard_id || '|' || seq_in_shard || '|' || ids), 1, 15))
       |    ::UBIGINT::BIGINT) AS digest
       |FROM sl GROUP BY 1""".stripMargin

  /** The sealed per-epoch permutation (q192) — also the invariant
    * oracle for the incremental weave (q202). */
  private lazy val sealedReadOrderSql =
    s"""WITH ${trainingCtes(NumMerges)},
       |${vocabCtes(NumMerges)},
       |$shardLayoutCtes,
       |$sealedLayoutCtes,
       |sq AS (SELECT DISTINCT shard_id, seq_in_shard,
       |       shard_id * 100000 + seq_in_shard AS gseq FROM sl),
       |e AS (SELECT unnest(range(2)) AS epoch),
       |h AS (SELECT epoch, gseq, shard_id, seq_in_shard,
       |        md5(CAST(gseq AS VARCHAR) || '|ro2|' ||
       |            CAST(epoch AS VARCHAR)) AS hk
       |      FROM sq CROSS JOIN e)
       |SELECT CAST(epoch AS BIGINT) AS epoch,
       |       CAST(row_number() OVER (PARTITION BY epoch ORDER BY hk, gseq)
       |            AS BIGINT) AS ord,
       |       shard_id, seq_in_shard
       |FROM h""".stripMargin

  private lazy val shardManifestSql =
    s"""WITH ${trainingCtes(NumMerges)},
       |${vocabCtes(NumMerges)},
       |$shardLayoutCtes
       |SELECT CAST(seq_id // 4 AS BIGINT) AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  bit_xor(('0x' || substr(md5(doc_id || '|' || n_tokens || '|' ||
       |    seq_id || '|' || ids), 1, 15))::UBIGINT::BIGINT) AS digest
       |FROM sh GROUP BY 1""".stripMargin

  /** Unigram CTEs: unspaced word table → substring counts → seed
    * vocab (top-K ∪ single chars) → round-1 Viterbi (exhaustive
    * recursive-CTE enumeration under the (n asc, Σfreq desc,
    * rendering asc) order — the DP-free mirror of
    * [[Unigram.viterbi]]) → usage-count refit (`uni`, the final
    * vocabulary). */
  private lazy val unigramCtes =
    s"""uw AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE len(word) > 0 GROUP BY 1),
       |sub AS MATERIALIZED (SELECT substr(word, i, l) AS token,
       |    sum(freq)::BIGINT AS cnt
       |  FROM uw,
       |       UNNEST(generate_series(1, len(word))) AS u(i),
       |       UNNEST(generate_series(1, $UniMaxLen)) AS v(l)
       |  WHERE i + l - 1 <= len(word)
       |  GROUP BY 1),
       |topk AS (SELECT token, cnt FROM sub
       |         ORDER BY cnt DESC, token ASC LIMIT $UniTopK),
       |seedv AS MATERIALIZED (SELECT token, max(cnt) AS cnt FROM (
       |  SELECT token, cnt FROM topk
       |  UNION ALL SELECT token, cnt FROM sub WHERE len(token) = 1)
       |  GROUP BY token),
       |paths1(word, pos, toks, n, fs) AS (
       |  SELECT word, 0, '', 0, CAST(0 AS BIGINT) FROM uw
       |  UNION ALL
       |  SELECT p.word, p.pos + len(v.token),
       |         p.toks || CASE WHEN p.toks = '' THEN '' ELSE ' ' END || v.token,
       |         p.n + 1, p.fs + v.cnt
       |  FROM paths1 p JOIN seedv v
       |    ON substr(p.word, p.pos + 1, len(v.token)) = v.token
       |  WHERE p.pos < len(p.word)),
       |seg1 AS MATERIALIZED (SELECT word, toks FROM (
       |  SELECT word, toks, row_number() OVER (PARTITION BY word
       |    ORDER BY n ASC, fs DESC, toks ASC) AS rk
       |  FROM paths1 WHERE pos = len(word)) WHERE rk = 1),
       |uni AS MATERIALIZED (SELECT t.tok AS token,
       |    sum(uw.freq)::BIGINT AS cnt
       |  FROM seg1 JOIN uw USING (word),
       |       UNNEST(string_split(seg1.toks, ' ')) AS t(tok)
       |  GROUP BY 1)""".stripMargin

  /** Round-2 Viterbi (encode) under the refit scores: yields `seg2`
    * (word, toks, nt) and `dw` (doc_id, pos, word) — shared by the
    * per-doc encode (q174) and the tokenizer comparison (q176). */
  private lazy val unigramEncCtes =
    """paths2(word, pos, toks, n, fs) AS (
      |  SELECT word, 0, '', 0, CAST(0 AS BIGINT) FROM uw
      |  UNION ALL
      |  SELECT p.word, p.pos + len(v.token),
      |         p.toks || CASE WHEN p.toks = '' THEN '' ELSE ' ' END || v.token,
      |         p.n + 1, p.fs + v.cnt
      |  FROM paths2 p JOIN uni v
      |    ON substr(p.word, p.pos + 1, len(v.token)) = v.token
      |  WHERE p.pos < len(p.word)),
      |seg2 AS MATERIALIZED (SELECT word, toks,
      |  len(string_split(toks, ' '))::BIGINT AS nt FROM (
      |  SELECT word, toks, row_number() OVER (PARTITION BY word
      |    ORDER BY n ASC, fs DESC, toks ASC) AS rk
      |  FROM paths2 WHERE pos = len(word)) WHERE rk = 1),
      |dw AS (SELECT doc_id, i - 1 AS pos, w[i] AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) q,
      |       UNNEST(generate_series(1, len(w))) AS u(i)
      |  WHERE len(w[i]) > 0)""".stripMargin

  /** Round-2 Viterbi encode reassembled per doc — q174, shared
    * verbatim by the saved-artifact lifecycle (q181). */
  private lazy val unigramEncodeSql =
    s"""WITH RECURSIVE $unigramCtes,
       |$unigramEncCtes
       |SELECT doc_id, sum(seg2.nt)::BIGINT AS n_tokens,
       |       string_agg(seg2.toks, ' ' ORDER BY pos) AS toks
       |FROM dw JOIN seg2 USING (word)
       |GROUP BY doc_id""".stripMargin

  /** Byte-mode unigram CTEs: hex word table (2 chars = 1 byte = 1
    * unit), byte-aligned substring seed, round-1 Viterbi, refit —
    * [[unigramCtes]] with the alignment arithmetic. */
  private lazy val unigramBytesCtes =
    s"""uwb AS MATERIALIZED (SELECT hex(word) AS word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE len(word) > 0 GROUP BY 1),
       |subb AS MATERIALIZED (SELECT substr(word, (i-1)*2 + 1, l*2) AS token,
       |    sum(freq)::BIGINT AS cnt
       |  FROM uwb,
       |       UNNEST(generate_series(1, len(word) // 2)) AS u(i),
       |       UNNEST(generate_series(1, $UniMaxLen)) AS v(l)
       |  WHERE i + l - 1 <= len(word) // 2
       |  GROUP BY 1),
       |topkb AS (SELECT token, cnt FROM subb
       |          ORDER BY cnt DESC, token ASC LIMIT $UniTopK),
       |seedb AS MATERIALIZED (SELECT token, max(cnt) AS cnt FROM (
       |  SELECT token, cnt FROM topkb
       |  UNION ALL SELECT token, cnt FROM subb WHERE len(token) = 2)
       |  GROUP BY token),
       |paths1b(word, pos, toks, n, fs) AS (
       |  SELECT word, 0, '', 0, CAST(0 AS BIGINT) FROM uwb
       |  UNION ALL
       |  SELECT p.word, p.pos + len(v.token),
       |         p.toks || CASE WHEN p.toks = '' THEN '' ELSE ' ' END || v.token,
       |         p.n + 1, p.fs + v.cnt
       |  FROM paths1b p JOIN seedb v
       |    ON substr(p.word, p.pos + 1, len(v.token)) = v.token
       |  WHERE p.pos < len(p.word)),
       |seg1b AS MATERIALIZED (SELECT word, toks FROM (
       |  SELECT word, toks, row_number() OVER (PARTITION BY word
       |    ORDER BY n ASC, fs DESC, toks ASC) AS rk
       |  FROM paths1b WHERE pos = len(word)) WHERE rk = 1),
       |unib AS MATERIALIZED (SELECT t.tok AS token,
       |    sum(uwb.freq)::BIGINT AS cnt
       |  FROM seg1b JOIN uwb USING (word),
       |       UNNEST(string_split(seg1b.toks, ' ')) AS t(tok)
       |  GROUP BY 1)""".stripMargin

  /** Release the cached tokenizer artifacts (test hygiene). */
  def clearCache(): Unit = {
    mergeCache.clear()
    v4Cache.values.foreach(_.unpersist(blocking = false))
    v4Cache.clear()
  }
}
