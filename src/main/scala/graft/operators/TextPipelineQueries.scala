package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** LLM-training-data pipeline operators as oracle-checked queries over
  * the `documents` and `embeddings` tables: dedup (exact / MinHash+LSH
  * / n-gram Jaccard / SimHash), similarity search (brute-force top-k /
  * sign-LSH), and text analysis (lang-ID scoring, quality features,
  * token counting, fingerprinting).
  *
  * Every hash used is salted md5 — identical in Spark and DuckDB — so
  * even the sketch-based operators are exactly oracle-checkable.
  */
object TextPipelineQueries {

  private def docs(s: SparkSession, d: String) = t(s, d, "documents")
  private def emb(s: SparkSession, d: String) = t(s, d, "embeddings")

  /** q36's per-document average unigram surprisal (also the q83
    * input). Corpus size derives from the frequency table (Σc,
    * vocab-sized) instead of a third pass over the token stream. */
  private def docSurprisal(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tf = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = tf.agg(sum(col("c")).cast("double").as("n"))
    tok.join(tf, Seq("w")).crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log(col("c") / col("n"))), 4).as("avg_surprisal"))
  }

  /** The distinct shingle-hash table feeds three queries (q17 minhash
    * signatures, q18 LSH candidates, q19 exact Jaccard verify);
    * materialize it ONCE per (session, dir) — the standard shared-
    * intermediate pattern a pipeline would use at scale instead of
    * re-deriving the explode+distinct per consumer.
    *
    * Keyed by `sessionUUID` (stable, unlike an identity hash), with
    * unpersist-on-replacement and an explicit [[clearCache]] so no
    * persisted RDD outlives its consumers. */
  private val shCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  /** `sessionUUID` is `private[sql]` in the Scala signature but
    * public bytecode — reflection reaches the stable per-session id
    * without depending on sql-internal access. */
  private def sessionKey(s: SparkSession): String =
    try s.getClass.getMethod("sessionUUID").invoke(s).asInstanceOf[String]
    catch { case _: ReflectiveOperationException =>
      String.valueOf(System.identityHashCode(s)) }

  private def shingleTab(s: SparkSession, d: String): DataFrame =
    shCache.getOrElseUpdate((sessionKey(s), d),
      Dedup.shingleTable(docs(s, d), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The per-document simhash feeds q20 (output) and q72 (banding
    * plus TWO hamming-verify join-backs) — uncached, q72 re-runs the
    * 16-vote token aggregation three times, which was its entire ~10s
    * bench floor. Same lifecycle as [[shCache]]. */
  private val simhashCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  private def simhashTab(s: SparkSession, d: String): DataFrame =
    simhashCache.getOrElseUpdate((sessionKey(s), d),
      Dedup.simhash(docs(s, d), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The (id, band, sig) signature table is itself multi-consumer
    * (q17 output, q18 bucketing, q19's candidate pairs) and tiny —
    * 4 rows per doc — so it is cached too, derived from the cached
    * shingle table (one extra map-side-combined shuffle, once). */
  private val sigCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  private def signatures(s: SparkSession, d: String): DataFrame =
    sigCache.getOrElseUpdate((sessionKey(s), d),
      Dedup.signaturesFromShingles(shingleTab(s, d), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Connected-components labels are computed by an iterative loop
    * whose result stays persisted (recomputing it lazily would replay
    * every iteration uncached) — cached per (session, dir) with the
    * same lifecycle as the other shared intermediates. */
  private val ccCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  private[operators] def dupGroups(s: SparkSession, d: String): DataFrame =
    ccCache.getOrElseUpdate((sessionKey(s), d),
      Dedup.connectedComponents(
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id")))

  /** The "prior corpus" label table for the incremental-clustering
    * query (q59): CC over pairs among old docs only — the artifact a
    * batch-ingest deployment keeps persisted between batches. Cached
    * so the bench measures the per-batch incremental update, not a
    * rebuild of history. */
  private[operators] def oldBatchLabels(s: SparkSession, d: String): DataFrame =
    ccCache.getOrElseUpdate((sessionKey(s), s"$d#oldbatch"),
      Dedup.connectedComponents(
        Dedup.lshCandidatePairs(
          signatures(s, d).filter(col("doc_id") % 5 =!= 0), "doc_id")))

  /** The IVF index (centroids + assigned lists) is a build-once
    * artifact — cached per (session, dir) like a real deployment
    * persists its index beside the data. */
  private val ivfCache = scala.collection.concurrent.TrieMap[
    (String, String), (Array[Array[Double]], DataFrame)]()

  private def ivfIndex(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) =
    ivfCache.getOrElseUpdate((sessionKey(s), d), {
      val (centroids, indexed) = IvfIndex.build(emb(s, d), "vec_id", "embedding", k = 8)
      val cached = indexed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (centroids, cached)
    })

  /** A saved-then-incrementally-appended IVF index (q67): centroids
    * trained on the 80% "historical" slice, the rest folded in with
    * [[IvfIndex.appendSaved]] — the deployment shape where a nightly
    * batch extends the index with no rebuild and no Lloyd pass. The
    * managed tables are (re)built once per (session, dir), like a
    * real index artifact living beside the data. */
  private val ivfSavedCache =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  private def ivfAppended(s: SparkSession, d: String): String =
    ivfSavedCache.getOrElseUpdate((sessionKey(s), d), {
      val name = "g_ivf_incr"
      Seq(s"${name}_centroids", s"${name}_lists")
        .foreach(t => Bucketing.dropManagedTable(s, t))
      val e = emb(s, d)
      val (centroids, indexed) = IvfIndex.build(
        e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", k = 8)
      IvfIndex.save(s, name, centroids, indexed, buckets = 4,
        provenance = Map("trained_on" -> "vec_id % 5 <> 0"))
      IvfIndex.appendSaved(s, name,
        e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
      name
    })

  /** A saved index whose centroids predate a batch ingest — the DRIFT
    * scenario the q140/q141 monitor→act pair runs on. Seeding is the
    * OLD slice's per-label means (a SQL-derivable seeding, so the
    * oracle reproduces the centroids exactly; list_id = rank in label
    * order), iters = 0 so the saved centroids ARE those means; the
    * batch (vec_id % 5 == 0) then appends under the stale centroids
    * exactly as a nightly ingest would. Not cached: q141 must rebuild
    * from the DRIFTED state deterministically on every invocation. */
  private def buildDriftedIvf(s: SparkSession, d: String,
                              name: String): Unit = {
    Seq(s"${name}_centroids", s"${name}_lists", s"${name}_lists_stage")
      .foreach(t => Bucketing.dropManagedTable(s, t))
    val e = emb(s, d)
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val seeds = Similarity.labelCentroids(
        old.select(col("label").cast("long").as("label"), col("embedding")),
        "label", "embedding")
      .orderBy(col("label")).collect()
      .map(_.getSeq[Double](1).toArray)
    val (c0, assigned) = IvfIndex.buildFrom(old, "embedding", seeds, iters = 0)
    IvfIndex.save(s, name, c0, assigned, buckets = 4,
      provenance = Map("trained_on" -> "label means of vec_id % 5 <> 0"))
    IvfIndex.appendSaved(s, name, e.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding")
  }

  /** The read-only drifted index for q140's monitor, built once per
    * (session, dir) like every other saved-index artifact. */
  private def ivfDrifted(s: SparkSession, d: String): String =
    ivfSavedCache.getOrElseUpdate((sessionKey(s), d + "#drift"), {
      val name = "g_ivf_drift"
      buildDriftedIvf(s, d, name)
      name
    })

  /** q42's embedding-space dup groups share the CC cache under a
    * derived key (same lifecycle, cleared by [[clearCache]]). */
  private def embDupGroups(s: SparkSession, d: String): DataFrame =
    ccCache.getOrElseUpdate((sessionKey(s), s"$d#embedding"), {
      val pairs = Similarity.lshSimilarPairs(emb(s, d), "vec_id", "embedding", 8, 0.3)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs)
    })

  /** The exact-substring SPAN table over the augmented corpus — the
    * detection output that four consumers read (q116 spans, q121
    * coverage, q123 scorecard, q124 removal). Detection runs ONCE per
    * (session, dir): the positioned n-gram table is the operator's
    * corpus-sized intermediate (read three times by the span plan —
    * hot-set count plus both self-join sides) and is persisted for
    * the build, then dropped; the small cap²-bounded span table stays
    * persisted for the consumers. Re-running detection per consumer
    * would be the wrong pipeline design at any scale, not just a
    * bench artifact ([[shingleTab]] precedent). */
  private val spanCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  /** The corpus positioned-n-gram table itself stays persisted too —
    * it is what "the deployment keeps current" between batch-periodic
    * span passes, and the incremental form (q130) probes it directly
    * (its own scale contract: batch n-grams join the LIVE table). */
  private[operators] def spanNgTab(s: SparkSession, d: String): DataFrame =
    spanCache.getOrElseUpdate((sessionKey(s), s"$d#ng"),
      Dedup.positionedNgrams(augSpanDocs(s, d), "doc_id", "text", 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private[operators] def spanTab(s: SparkSession, d: String): DataFrame =
    spanCache.getOrElseUpdate((sessionKey(s), d),
      Dedup.spansFromNgrams(spanNgTab(s, d), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Force-materialize every shared cached intermediate for (s, d):
    * the shingle/signature tables, both connected-components label
    * sets, and the IVF index. A bench harness calls this ONCE and
    * reports the build as its own line item, so per-query medians
    * measure steady-state cost instead of whichever query happened to
    * pay the one-time build. */
  def warmCaches(s: SparkSession, d: String): Unit = {
    shingleTab(s, d).count()
    signatures(s, d).count()
    dupGroups(s, d).count()
    embDupGroups(s, d).count()
    oldBatchLabels(s, d).count()
    ivfIndex(s, d)._2.count()
    ivfAppended(s, d)
    ivfDrifted(s, d)
    spanNgTab(s, d).count()
    spanTab(s, d).count()
  }

  /** Unpersist and drop every cached intermediate belonging to
    * `s` (call when a pipeline run is finished with a corpus). CC
    * results are localCheckpoint-backed (see Dedup.connectedComponents),
    * so their blocks are freed through the backing RDD, not the
    * no-op Dataset.unpersist. */
  def clearCache(s: SparkSession): Unit = {
    val key = sessionKey(s)
    Seq(shCache, sigCache, simhashCache, ccCache, spanCache).foreach { cache =>
      cache.keys.filter(_._1 == key).foreach { k =>
        cache.remove(k).foreach { df =>
          df.unpersist(blocking = false)
          org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(df)
        }
      }
    }
    ivfCache.keys.filter(_._1 == key).foreach { k =>
      ivfCache.remove(k).foreach(_._2.unpersist(blocking = false))
    }
    ivfSavedCache.keys.filter(_._1 == key).foreach(ivfSavedCache.remove)
  }

  lazy val specs: Seq[QuerySpec] = Seq(
    // PMI collocation mining: adjacent bigrams scored by pointwise
    // mutual information ln(p(ab)/(p(a)p(b))) — q221's wordpiece
    // objective as a standalone ANALYSIS over words instead of
    // symbols. Counts are map-side-combined aggs; the rank orders by
    // the ROUNDED score (4 dp, q36's ln discipline) so cross-engine
    // ulp noise can't reorder; min-count 5 guards the low-frequency
    // PMI blowup.
    QuerySpec("q225_pmi_collocations", (s, d) => {
      val tok = docs(s, d).select(explode(tokens(col("text"))).as("w"))
      val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nu = uni.agg(sum(col("c")).cast("double").as("nu"))
      val big = docs(s, d).select(explode(shingles(col("text"), 2)).as("bg"))
      val nb = big.agg(count(lit(1)).cast("double").as("nb"))
      val bc = big.groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      bc.join(uni.select(col("w").as("w1"), col("c").as("ca")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("cb")), Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c_ab"),
          round(log((col("c_ab").cast("double") / col("nb")) /
            ((col("ca").cast("double") / col("nu")) *
              (col("cb").cast("double") / col("nu")))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    },
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY w),
        |nu AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uni),
        |bgs AS (SELECT arr[i] || ' ' || arr[i+1] AS bg
        |        FROM (SELECT string_split(text, ' ') AS arr FROM documents),
        |             UNNEST(generate_series(1, len(arr) - 1)) AS u(i)),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bgs),
        |bc AS (SELECT bg, count(*)::BIGINT AS c_ab FROM bgs GROUP BY bg
        |       HAVING count(*) >= 5),
        |j AS (SELECT string_split(bg, ' ')[1] AS w1,
        |             string_split(bg, ' ')[2] AS w2, c_ab FROM bc),
        |p AS (SELECT w1, w2, c_ab,
        |        round(ln((c_ab::DOUBLE / nb) /
        |          ((ca.c::DOUBLE / nu) * (cb.c::DOUBLE / nu))), 4) AS pmi
        |      FROM j JOIN uni ca ON ca.w = j.w1
        |             JOIN uni cb ON cb.w = j.w2
        |      CROSS JOIN nu CROSS JOIN nb)
        |SELECT w1, w2, c_ab, pmi FROM p
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin),
    // Phrase retrieval: exact multi-word phrase lookup against the
    // POSITIONAL n-gram index (Dedup.positionedNgrams) — a phrase's
    // hash is one md5 of its joined words, so each query is a
    // broadcast hash probe into the (n, nh)-keyed index with ZERO
    // corpus-side shuffle; per-doc occurrence counts rank through
    // the topKPerKey heaps. The lexical-search modality BM25's
    // bag-of-words scoring cannot express.
    QuerySpec("q226_phrase_retrieval", (s, d) => {
      import s.implicits._
      val phrases = Seq((0L, "fast merge"), (1L, "value table part"),
        (2L, "table window")).toDF("q_id", "phrase")
        .select(col("q_id"),
          size(split(col("phrase"), " ")).as("n"),
          substring(md5(col("phrase")), 1, 16).as("nh"))
      val index = Seq(2, 3).map(n =>
          Dedup.positionedNgrams(docs(s, d), "doc_id", "text", n)
            .withColumn("n", lit(n)))
        .reduce(_ unionByName _)
      val hits = index.join(broadcast(phrases), Seq("n", "nh"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_occ"), min(col("pos")).cast("long")
          .as("first_pos"))
      Similarity.topKPerKey(
          hits.select(col("q_id"), col("doc_id").as("n_id"),
            col("n_occ").cast("double").as("cos")), 10)
        .join(hits.select(col("q_id"), col("doc_id").as("n_id"),
          col("n_occ"), col("first_pos")), Seq("q_id", "n_id"))
        .select(col("q_id"), col("n_id").as("doc_id"), col("n_occ"),
          col("first_pos"), col("rk"))
    },
      """WITH ph AS (SELECT * FROM (VALUES (0, 'fast merge'),
        |            (1, 'value table part'), (2, 'table window'))
        |            p(q_id, phrase)),
        |phh AS (SELECT CAST(q_id AS BIGINT) AS q_id,
        |          len(string_split(phrase, ' ')) AS n,
        |          substr(md5(phrase), 1, 16) AS nh FROM ph),
        |ng AS (SELECT doc_id, nn.n, i - 1 AS pos,
        |         substr(md5(array_to_string(arr[i:i+nn.n-1], ' ')), 1, 16) AS nh
        |       FROM (SELECT doc_id, string_split(text, ' ') AS arr
        |             FROM documents) d,
        |            (SELECT unnest([2, 3]) AS n) nn,
        |            UNNEST(generate_series(1, len(arr) - nn.n + 1)) AS u(i)
        |       WHERE len(arr) >= nn.n),
        |hits AS (SELECT q_id, doc_id, count(*)::BIGINT AS n_occ,
        |           CAST(min(pos) AS BIGINT) AS first_pos
        |         FROM ng JOIN phh USING (n, nh) GROUP BY q_id, doc_id),
        |r AS (SELECT q_id, doc_id, n_occ, first_pos,
        |        CAST(row_number() OVER (PARTITION BY q_id
        |          ORDER BY n_occ DESC, doc_id ASC) AS BIGINT) AS rk
        |      FROM hits)
        |SELECT q_id, doc_id, n_occ, first_pos, rk FROM r WHERE rk <= 10""".stripMargin),
    QuerySpec("q16_dedup_exact", (s, d) =>
      Dedup.exactDupGroups(docs(s, d), "doc_id", "text"),
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin),
    QuerySpec("q17_minhash_signatures", (s, d) => signatures(s, d),
      s"""WITH $shCte,
         |$mhCte
         |SELECT doc_id, band, sig FROM sig""".stripMargin),
    QuerySpec("q18_dedup_minhash_lsh", (s, d) =>
      Dedup.lshCandidatePairs(signatures(s, d), "doc_id"),
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte
         |SELECT id_a, id_b FROM cand""".stripMargin),
    QuerySpec("q19_ngram_jaccard", (s, d) => {
      val sh = shingleTab(s, d)
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
      Dedup.ngramJaccardFromShingles(sh, pairs, "doc_id")
    },
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |ds AS (SELECT DISTINCT doc_id AS sid, shingle FROM sh),
         |sizes AS (SELECT sid, count(*) AS n_sh FROM ds GROUP BY sid),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |          FROM cand c
         |          JOIN ds sa ON c.id_a = sa.sid
         |          JOIN ds sb ON c.id_b = sb.sid AND sa.shingle = sb.shingle
         |          GROUP BY c.id_a, c.id_b)
         |SELECT i.id_a, i.id_b,
         |       round(i.inter / (na.n_sh + nb.n_sh - i.inter), 4) AS jaccard
         |FROM inter i
         |JOIN sizes na ON i.id_a = na.sid
         |JOIN sizes nb ON i.id_b = nb.sid""".stripMargin),
    // Asymmetric containment on the same candidates: the
    // subset-duplicate detector (truncated re-crawls, quoted-whole
    // pages) that symmetric Jaccard structurally misses.
    QuerySpec("q109_containment", (s, d) => {
      val sh = shingleTab(s, d)
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
      Dedup.containmentFromShingles(sh, pairs, "doc_id")
    },
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |ds AS (SELECT DISTINCT doc_id AS sid, shingle FROM sh),
         |sizes AS (SELECT sid, count(*) AS n_sh FROM ds GROUP BY sid),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |          FROM cand c
         |          JOIN ds sa ON c.id_a = sa.sid
         |          JOIN ds sb ON c.id_b = sb.sid AND sa.shingle = sb.shingle
         |          GROUP BY c.id_a, c.id_b)
         |SELECT i.id_a, i.id_b,
         |       round(i.inter / na.n_sh, 4) AS contain_a,
         |       round(i.inter / nb.n_sh, 4) AS contain_b,
         |       round(i.inter / (na.n_sh + nb.n_sh - i.inter), 4) AS jaccard
         |FROM inter i
         |JOIN sizes na ON i.id_a = na.sid
         |JOIN sizes nb ON i.id_b = nb.sid""".stripMargin),
    QuerySpec("q20_simhash", (s, d) => simhashTab(s, d),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |votes AS (SELECT doc_id, b,
        |          sum(CASE WHEN substr(md5(CAST(b AS VARCHAR) || '|' || w), 1, 1) >= '8'
        |                   THEN 1 ELSE -1 END) AS s
        |          FROM tok CROSS JOIN (SELECT unnest(range(16)) AS b)
        |          GROUP BY doc_id, b)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin),
    // Exact-dedup batch ingest: which arriving docs duplicate a prior
    // corpus doc at the 100-char prefix-fingerprint grain (this
    // corpus has no full-text byte dups; the prefix grain is the
    // crawl-scale first pass and actually fires). Completes the
    // incremental story across all three dedup modalities
    // (q57 minhash, q67 ANN, q73 exact).
    QuerySpec("q73_exact_incremental", (s, d) => {
      val all = docs(s, d).select(col("doc_id"), col("text"))
      Dedup.exactIncrementalDups(
        all.filter(col("doc_id") % 5 =!= 0),
        all.filter(col("doc_id") % 5 === 0), "doc_id",
        substring(col("text"), 1, 100))
    },
      """WITH c AS (SELECT md5(substr(text, 1, 100)) AS dg, min(doc_id) AS dup_of
        |           FROM documents WHERE doc_id % 5 <> 0 GROUP BY dg),
        |b AS (SELECT doc_id, md5(substr(text, 1, 100)) AS dg
        |      FROM documents WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, c.dup_of FROM b JOIN c USING (dg)""".stripMargin),
    // SimHash pairing through the gate: band-collision candidates
    // verified at hamming <= 3 — the third dedup modality's pairs
    // (MinHash q18, embeddings q26) with the identical banded shape.
    QuerySpec("q72_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(simhashTab(s, d), "doc_id"),
      // q20's fingerprint CTE + 2×8-bit band join + bit_count verify
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |votes AS (SELECT doc_id, b,
        |          sum(CASE WHEN substr(md5(CAST(b AS VARCHAR) || '|' || w), 1, 1) >= '8'
        |                   THEN 1 ELSE -1 END) AS s
        |          FROM tok CROSS JOIN (SELECT unnest(range(16)) AS b)
        |          GROUP BY doc_id, b),
        |sim AS (SELECT doc_id,
        |        CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |        FROM votes GROUP BY doc_id),
        |sl AS (SELECT doc_id, band, (simhash >> (band * 8)) & 255 AS sig
        |       FROM sim CROSS JOIN (SELECT unnest(range(2)) AS band)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM sl a JOIN sl b
        |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        |FROM cand
        |JOIN sim sa ON cand.id_a = sa.doc_id
        |JOIN sim sb ON cand.id_b = sb.doc_id
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin),
    // Corpus forensics: which source PAIRS share near-dup candidates
    // — the "who copies from whom" matrix over the LSH pairs. The
    // label side is candidate-bounded; sources join in broadcast.
    QuerySpec("q98_source_overlap", (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
        .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
          Seq("id_b"))
        .select(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
        .groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |j AS (SELECT least(da.source, db.source) AS source_lo,
         |             greatest(da.source, db.source) AS source_hi
         |      FROM cand c
         |      JOIN documents da ON c.id_a = da.doc_id
         |      JOIN documents db ON c.id_b = db.doc_id)
         |SELECT source_lo, source_hi, count(*) AS n_pairs
         |FROM j GROUP BY source_lo, source_hi""".stripMargin),
    // Run-length line collapse over injected stuttered lines: the
    // repeated run folds to one line, later reappearances survive —
    // position-aware cleanup set-grain dedup can't express.
    QuerySpec("q99_collapse_runs", (s, d) =>
      Curation.collapseRuns(
        docs(s, d).select(col("doc_id"),
          concat(col("text"), lit("\nsame line\nsame line\nsame line\ntail "),
            col("doc_id").cast("string"), lit("\nsame line")).as("text")),
        "doc_id", "text"),
      """WITH inj AS (SELECT doc_id,
        |  text || chr(10) || 'same line' || chr(10) || 'same line' ||
        |  chr(10) || 'same line' || chr(10) || 'tail ' ||
        |  CAST(doc_id AS VARCHAR) || chr(10) || 'same line' AS text
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10))) AS unit,
        |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM inj),
        |k AS (SELECT doc_id, pos, unit,
        |        (lag(unit) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |         OR lag(unit) OVER (PARTITION BY doc_id ORDER BY pos) <> unit)
        |          AS keep
        |      FROM p)
        |SELECT doc_id,
        |       string_agg(CASE WHEN keep THEN unit END, chr(10) ORDER BY pos)
        |         AS clean,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM k GROUP BY doc_id""".stripMargin),
    // Per-source vocabulary profile: each source's five most frequent
    // tokens — the at-a-glance "what is this source made of" rollup.
    // The rank window partitions on the source key (never global),
    // over the already-aggregated (source, token) counts.
    QuerySpec("q97_top_terms_per_source", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("cnt").desc, col("token").asc)).cast("long"))
        .filter(col("rk") <= 5)
    },
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |c AS (SELECT source, token, count(*) AS cnt
        |      FROM tok GROUP BY source, token),
        |r AS (SELECT source, token, cnt,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY cnt DESC, token ASC) AS BIGINT) AS rk
        |      FROM c)
        |SELECT source, token, cnt, rk FROM r WHERE rk <= 5""".stripMargin),
    // Sketch calibration: MinHash estimate vs exact Jaccard per
    // candidate pair — the audit that justifies the dedup threshold.
    QuerySpec("q94_minhash_calibration", (s, d) =>
      Dedup.minhashCalibration(shingleTab(s, d),
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id"), "doc_id"),
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |ds AS (SELECT DISTINCT doc_id AS sid, shingle FROM sh),
         |sizes AS (SELECT sid, count(*) AS n_sh FROM ds GROUP BY sid),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |          FROM cand c
         |          JOIN ds sa ON c.id_a = sa.sid
         |          JOIN ds sb ON c.id_b = sb.sid AND sa.shingle = sb.shingle
         |          GROUP BY c.id_a, c.id_b),
         |jj AS (SELECT i.id_a, i.id_b,
         |         round(i.inter / (na.n_sh + nb.n_sh - i.inter), 4) AS jaccard
         |       FROM inter i
         |       JOIN sizes na ON i.id_a = na.sid
         |       JOIN sizes nb ON i.id_b = nb.sid),
         |e AS (SELECT c.id_a, c.id_b,
         |        ((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) +
         |         (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END)) / 8.0 AS est
         |      FROM cand c
         |      JOIN mh a ON c.id_a = a.doc_id
         |      JOIN mh b ON c.id_b = b.doc_id)
         |SELECT e.id_a, e.id_b, e.est, jj.jaccard,
         |       round(abs(e.est - jj.jaccard), 4) AS abs_err
         |FROM e JOIN jj ON e.id_a = jj.id_a AND e.id_b = jj.id_b""".stripMargin),
    // Threshold-tuning curve: pairs and affected documents surviving
    // exact-Jaccard verification at each candidate τ — the table a
    // dedup owner reads before committing to a threshold ("0.8 drops
    // how much?"). Verification runs ONCE over LSH candidates; the
    // τ grid is a 5-row broadcast fan-out of the verified pairs.
    QuerySpec("q162_dedup_threshold_curve", (s, d) => {
      val j = Dedup.ngramJaccardFromShingles(shingleTab(s, d),
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id"), "doc_id")
      val thr = s.range(5, 10).select((col("id") / lit(10.0)).as("thr"))
      val hit = j.crossJoin(broadcast(thr))
        .filter(col("jaccard") >= col("thr"))
      val pairsAgg = hit.groupBy(col("thr"))
        .agg(count(lit(1)).as("n_pairs"))
      val docsAgg = hit
        .select(col("thr"),
          explode(array(col("id_a"), col("id_b"))).as("doc"))
        .groupBy(col("thr"))
        .agg(countDistinct(col("doc")).cast("long").as("n_docs"))
      pairsAgg.join(docsAgg, Seq("thr"))
        .select(round(col("thr"), 1).as("thr"), col("n_pairs"),
          col("n_docs"))
    },
      // the τ grid joins the ONE verified pair set; thresholds k/10
      // are exactly representable doubles, so >= is exact both sides
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |ds AS (SELECT DISTINCT doc_id AS sid, shingle FROM sh),
         |sizes AS (SELECT sid, count(*) AS n_sh FROM ds GROUP BY sid),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |          FROM cand c
         |          JOIN ds sa ON c.id_a = sa.sid
         |          JOIN ds sb ON c.id_b = sb.sid AND sa.shingle = sb.shingle
         |          GROUP BY c.id_a, c.id_b),
         |jc AS (SELECT i.id_a, i.id_b,
         |       round(i.inter / (na.n_sh + nb.n_sh - i.inter), 4) AS jaccard
         |       FROM inter i
         |       JOIN sizes na ON i.id_a = na.sid
         |       JOIN sizes nb ON i.id_b = nb.sid),
         |tg AS (SELECT unnest(range(5, 10)) / 10.0 AS thr),
         |hit AS (SELECT tg.thr, jc.id_a, jc.id_b FROM jc CROSS JOIN tg
         |        WHERE jc.jaccard >= tg.thr),
         |pa AS (SELECT thr, count(*)::BIGINT AS n_pairs FROM hit GROUP BY thr),
         |da AS (SELECT thr, count(DISTINCT doc)::BIGINT AS n_docs FROM (
         |       SELECT thr, id_a AS doc FROM hit
         |       UNION ALL SELECT thr, id_b FROM hit) GROUP BY thr)
         |SELECT round(pa.thr, 1) AS thr, pa.n_pairs, da.n_docs
         |FROM pa JOIN da USING (thr)""".stripMargin),
    // Candidate-quality metrics — the evaluation harness for tuning
    // bands/rows/threshold: what fraction of LSH candidate pairs
    // survive exact Jaccard verification at τ = 0.7. One row; the
    // verify join runs only over candidates (the q19 path), never
    // all pairs — the metric is as cheap as the pipeline itself.
    QuerySpec("q65_lsh_precision", (s, d) => {
      val cand = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
      val j = Dedup.ngramJaccardFromShingles(shingleTab(s, d), cand, "doc_id")
      val hits = j.agg(coalesce(
        sum(when(col("jaccard") >= 0.7, 1L).otherwise(0L)), lit(0L))
        .as("n_hits"))
      cand.agg(count(lit(1)).as("n_cand")).crossJoin(hits)
        .select(col("n_cand"), col("n_hits"),
          round(col("n_hits") / col("n_cand"), 4).as("precision_at_07"))
    },
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |ds AS (SELECT DISTINCT doc_id AS sid, shingle FROM sh),
         |sizes AS (SELECT sid, count(*) AS n_sh FROM ds GROUP BY sid),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |          FROM cand c
         |          JOIN ds sa ON c.id_a = sa.sid
         |          JOIN ds sb ON c.id_b = sb.sid AND sa.shingle = sb.shingle
         |          GROUP BY c.id_a, c.id_b),
         |jac AS (SELECT round(i.inter / (na.n_sh + nb.n_sh - i.inter), 4) AS jaccard
         |        FROM inter i
         |        JOIN sizes na ON i.id_a = na.sid
         |        JOIN sizes nb ON i.id_b = nb.sid)
         |SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
         |  CAST(coalesce((SELECT sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END)
         |                 FROM jac), 0) AS BIGINT) AS n_hits,
         |  round(coalesce((SELECT sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END)
         |                  FROM jac), 0) / (SELECT count(*) FROM cand), 4)
         |    AS precision_at_07""".stripMargin),
    // Benchmark decontamination: docs sharing any 3-gram with the
    // stand-in "eval set" (doc_id < 20), with the distinct-overlap
    // count. Bench side broadcasts; corpus never shuffles strings.
    QuerySpec("q46_decontaminate", (s, d) => {
      val doc = docs(s, d)
      Dedup.contamination(doc.filter(col("doc_id") >= 20), "doc_id", "text",
        doc.filter(col("doc_id") < 20), "text", 3)
    },
      decontamSql),
    // EXACT Jaccard ≥ 0.5 set-similarity self-join over 3-gram
    // shingle sets via prefix filtering (PPJoin candidate rule):
    // complete by construction — no MinHash false negatives — with
    // quadratic hot-token mass excluded because hot tokens rank out
    // of every prefix. The oracle is the BRUTE-FORCE all-pairs join,
    // so the gate proves candidate completeness, not just precision.
    QuerySpec("q246_jaccard_prefix_join", (s, d) => {
      val sh = docs(s, d)
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("tok"))
        .distinct()
      FuzzyJoin.jaccardJoinPrefix(sh, "doc_id", "tok", 50)
    },
      // brute-force all-pairs — equality proves the prefix-filter
      // candidates were complete
      s"""WITH $shCte,
         |dt AS (SELECT DISTINCT doc_id, shingle AS tok FROM sh),
         |n AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
         |iv AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ov
         |       FROM dt a JOIN dt b
         |         ON a.tok = b.tok AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |j AS (SELECT ia, ib, ov, na.n + nb.n - ov AS un
         |      FROM iv JOIN n na ON iv.ia = na.doc_id
         |      JOIN n nb ON iv.ib = nb.doc_id)
         |SELECT ia AS id_a, ib AS id_b, CAST(ov AS BIGINT) AS ov,
         |       CAST(un AS BIGINT) AS un
         |FROM j WHERE ov * 100 >= un * 50""".stripMargin),
    // The same decontamination through the Bloom CASCADE — the path a
    // reference set too big to broadcast takes at 100 TB (multi-
    // benchmark unions, train-vs-everything sweeps): broadcast Bloom
    // prune at the scan, exact hash-join confirm on the survivors.
    // Lossless by construction, so the gate runs q46's oracle
    // VERBATIM; the native might_contain plan shape is pinned in
    // ScaleOpsSpec.
    QuerySpec("q231_decontam_bloom", (s, d) => {
      val doc = docs(s, d)
      Dedup.contaminationBloom(doc.filter(col("doc_id") >= 20), "doc_id",
        "text", doc.filter(col("doc_id") < 20), "text", 3,
        expectedBenchNgrams = 100000L)
    },
      // the Bloom cascade must be LOSSLESS (no false negatives + exact
      // confirm) — q46's oracle verbatim proves it through the gate
      decontamSql),
    // Split-leakage audit: after the deterministic holdout split
    // (q69's md5 thresholds), how much of each TEST document is
    // 3-gram-shared with the TRAIN side — the check a pipeline runs
    // before trusting its eval numbers. Composes splitAssign with the
    // graded contamination operator; scale caveat: the train side's
    // distinct-shingle set is corpus-sized, so at 100 TB this audit
    // joins on hashes (as here) or drops to a Bloom pre-filter — it
    // does NOT broadcast (contaminationFraction only broadcasts when
    // the bench side is small; AQE decides here).
    QuerySpec("q84_split_leakage", (s, d) => {
      val sp = Curation.splitAssign(docs(s, d), "doc_id")
      Dedup.contaminationFraction(
        sp.filter(col("split") === "test"), "doc_id", "text",
        sp.filter(col("split") === "train"), "text", 3,
        broadcastBench = false)
    },
      s"""WITH $shCte,
         |spl AS (SELECT doc_id,
         |          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4) < 'cccd' THEN 'train'
         |               WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4) < 'e666' THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM documents),
         |bad AS (SELECT DISTINCT s.shingle FROM sh s
         |        JOIN spl USING (doc_id) WHERE spl.split = 'train'),
         |ds AS (SELECT DISTINCT s.doc_id, s.shingle FROM sh s
         |       JOIN spl USING (doc_id) WHERE spl.split = 'test'),
         |j AS (SELECT ds.doc_id,
         |        CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM ds LEFT JOIN bad b USING (shingle))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |       CAST(sum(hit) AS BIGINT) AS n_hit,
         |       round(sum(hit) / count(*), 4) AS frac
         |FROM j GROUP BY doc_id""".stripMargin),
    // Soft decontamination: the graded overlap-fraction form of q46 —
    // every corpus doc with its contaminated-shingle fraction, hashes
    // on both join sides (oracle joins the strings; counts agree).
    QuerySpec("q74_contamination_frac", (s, d) => {
      val doc = docs(s, d)
      Dedup.contaminationFraction(doc.filter(col("doc_id") >= 20), "doc_id",
        "text", doc.filter(col("doc_id") < 20), "text", 3)
    },
      s"""WITH $shCte,
         |bad AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id >= 20),
         |j AS (SELECT ds.doc_id,
         |        CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM ds LEFT JOIN bad b USING (shingle))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |       CAST(sum(hit) AS BIGINT) AS n_hit,
         |       round(sum(hit) / count(*), 4) AS frac
         |FROM j GROUP BY doc_id""".stripMargin),
    // Inter-document repetition: fraction of each doc's 3-gram
    // occurrences whose 3-gram appears in ≥2 docs — boilerplate
    // density without needing a near-dup partner.
    QuerySpec("q76_dup_ngram_frac", (s, d) =>
      Dedup.duplicatedNgramFraction(docs(s, d), "doc_id", "text", 3, 2),
      s"""WITH $shCte,
         |occ AS (SELECT doc_id, shingle, count(*) AS n
         |        FROM sh GROUP BY doc_id, shingle),
         |dup AS (SELECT shingle FROM occ GROUP BY shingle
         |        HAVING count(*) >= 2),
         |j AS (SELECT o.doc_id, o.n,
         |        CASE WHEN d.shingle IS NOT NULL THEN o.n ELSE 0 END AS dn
         |      FROM occ o LEFT JOIN dup d USING (shingle))
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_occ,
         |       CAST(sum(dn) AS BIGINT) AS n_dup,
         |       round(sum(dn) / sum(n), 4) AS frac
         |FROM j GROUP BY doc_id""".stripMargin),
    // LSH candidate pairs → connected components: every clustered doc
    // with its canonical keep id (the component minimum) — the final
    // "which docs do I drop" artifact of the dedup pipeline.
    QuerySpec("q41_dedup_groups", (s, d) =>
      dupGroups(s, d).select(col("id").as("doc_id"), col("keep_id")),
      // transitive closure over the candidate pairs (DuckDB recursive
      // CTE), keep id = least reachable node — mirrors the distributed
      // min-label propagation exactly.
      dupGroupsSql),
    // Batch novelty: what fraction of the arriving batch's distinct
    // 3-grams the standing corpus has never seen — q154's growth
    // curve focused on one ingest decision ("is this crawl bringing
    // new content or re-crawling"), the per-batch complement of
    // q156's distribution-shift number.
    QuerySpec("q166_batch_novelty", (s, d) => {
      val sh = shingleTab(s, d)
      val old = sh.filter(col("doc_id") % 5 =!= 0)
        .select(col("md5_0")).distinct()
      val nw = sh.filter(col("doc_id") % 5 === 0)
        .select(col("md5_0")).distinct()
      nw.agg(count(lit(1)).as("n_batch"))
        .crossJoin(nw.join(old, Seq("md5_0"), "left_anti")
          .agg(count(lit(1)).as("n_novel")))
        .select(col("n_batch"), col("n_novel"),
          round(col("n_novel") / col("n_batch"), 4).as("novelty_frac"))
    },
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, md5('0|' || shingle) AS h FROM sh),
         |old AS (SELECT DISTINCT h FROM hs WHERE doc_id % 5 <> 0),
         |nw AS (SELECT DISTINCT h FROM hs WHERE doc_id % 5 = 0),
         |nv AS (SELECT n.h FROM nw n ANTI JOIN old o ON n.h = o.h)
         |SELECT (SELECT count(*)::BIGINT FROM nw) AS n_batch,
         |       count(*)::BIGINT AS n_novel,
         |       round(count(*) / (SELECT count(*)::DOUBLE FROM nw), 4)
         |         AS novelty_frac
         |FROM nv""".stripMargin),
    // Vocabulary-growth (Heaps-law) curve: cumulative distinct
    // 3-grams after each tenth of the corpus (by doc id) — the
    // saturation chart that tells an ingest owner whether new data
    // still brings new content or just re-crawls. One first-seen agg
    // over the cached shingle table; deciles assigned by exact
    // integer ceil-division (no 10x row blowup — the per-bucket
    // counts cumulate over a 10-row broadcast).
    QuerySpec("q154_vocab_growth", (s, d) => {
      val mx = docs(s, d).agg(max(col("doc_id")).cast("long").as("__mx"))
      val per = shingleTab(s, d)
        .groupBy(col("md5_0")).agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(mx))
        .select(greatest(lit(1L),
          expr("div(first_doc * 10 + __mx - 1, __mx)")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("__c"))
      s.range(1, 11).select(col("id").as("decile"))
        .join(broadcast(per), col("b") <= col("decile"))
        .groupBy(col("decile"))
        .agg(sum(col("__c")).cast("long").as("n_shingles"))
    },
      // shingle identity = the md5('0|'...) hash both engines share;
      // decile by integer ceil-division, cumulated over the bucket rows
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, md5('0|' || shingle) AS h FROM sh),
         |fs AS (SELECT h, min(doc_id) AS first_doc FROM hs GROUP BY h),
         |mx AS (SELECT max(doc_id)::BIGINT AS m FROM documents),
         |per AS (SELECT greatest(1, (first_doc * 10 + m - 1) // m) AS b,
         |               count(*)::BIGINT AS c
         |        FROM fs CROSS JOIN mx GROUP BY 1),
         |dec AS (SELECT unnest(range(1, 11)) AS decile)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |       sum(c)::BIGINT AS n_shingles
         |FROM dec JOIN per ON per.b <= dec.decile
         |GROUP BY decile""".stripMargin),
    // Longest internal repeat per document — the decoder-stuck-in-a-
    // loop signal (q76 measures how much repeats; this measures the
    // longest single loop). Injected 6- and 9-token repeats on two
    // doc strata exercise both island lengths; the rest report their
    // natural (usually zero) repeats.
    QuerySpec("q152_longest_intra_repeat", (s, d) => {
      val aug = docs(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 1,
            " r1 r2 r3 r4 r5 r6 mid r1 r2 r3 r4 r5 r6")
            .when(col("doc_id") % 4 === 3,
              " s1 s2 s3 s4 s5 s6 s7 s8 s9 mid s1 s2 s3 s4 s5 s6 s7 s8 s9")
            .otherwise("")).as("text"))
      Dedup.longestIntraRepeat(aug, "doc_id", "text")
    },
      // same islands algebra as the span family, self-join constrained
      // to the same document; per-doc hot cap mirrors the operator
      """WITH a2 AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' r1 r2 r3 r4 r5 r6 mid r1 r2 r3 r4 r5 r6'
        |         WHEN doc_id % 4 = 3 THEN ' s1 s2 s3 s4 s5 s6 s7 s8 s9 mid s1 s2 s3 s4 s5 s6 s7 s8 s9'
        |         ELSE '' END AS text FROM documents),
        |tkq AS (SELECT doc_id, string_split(text, ' ') AS w FROM a2),
        |ngq AS (SELECT doc_id, i - 1 AS pos,
        |        substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS nh
        |        FROM tkq, UNNEST(generate_series(1, len(w) - 4)) AS u(i)),
        |hotq AS (SELECT doc_id, nh FROM ngq GROUP BY doc_id, nh
        |         HAVING count(*) > 50),
        |coolq AS (SELECT n.* FROM ngq n ANTI JOIN hotq h
        |          ON n.doc_id = h.doc_id AND n.nh = h.nh),
        |mq AS (SELECT a.doc_id, a.pos AS pos_a, b.pos - a.pos AS delta
        |       FROM coolq a JOIN coolq b
        |         ON a.doc_id = b.doc_id AND a.nh = b.nh AND a.pos < b.pos),
        |rq AS (SELECT doc_id, delta, pos_a,
        |       pos_a - row_number() OVER (PARTITION BY doc_id, delta
        |         ORDER BY pos_a) AS isl FROM mq),
        |runs AS (SELECT doc_id, count(*) + 4 AS len
        |         FROM rq GROUP BY doc_id, delta, isl),
        |per AS (SELECT doc_id, CAST(max(len) AS BIGINT) AS lr
        |        FROM runs GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(per.lr, 0)::BIGINT AS longest_repeat
        |FROM a2 d LEFT JOIN per USING (doc_id)""".stripMargin),
    // Int8-quantization recall audit: top-5 over the DEQUANTIZED
    // embeddings vs exact float truth — the number that says whether
    // the 4x-smaller int8 table (q53) is safe to serve ANN from.
    QuerySpec("q159_int8_recall", (s, d) => {
      val e = emb(s, d)
      val dq = Curation.quantizeInt8(e, "embedding")
        .select(col("vec_id"),
          Curation.dequantInt8(col("qvec"), col("vmin"), col("scale"))
            .as("dvec"))
      val approx = Similarity.bruteForceTopK(dq,
          dq.filter(col("vec_id") < 10), "vec_id", "dvec", 5)
        .select(col("q_id"), col("n_id"))
      val exact = Similarity.bruteForceTopK(e,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("q_id"), col("n_id"))
      approx.join(exact, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("n_queries"), col("n_hits"),
          round(col("n_hits") / lit(50.0), 4).as("recall"))
    },
      // dequant = int8 code * scale + vmin (q53's exact formula); both
      // rankings round cos to 4 with n_id tie-break
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |s AS (SELECT vec_id, v, list_min(v) AS vmin,
         |  greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale
         |  FROM e),
         |dq AS (SELECT vec_id,
         |  list_transform(v, x ->
         |    CAST(CAST(round((x - vmin) / scale) AS INT) AS DOUBLE) * scale + vmin)
         |    AS dvec
         |  FROM s),
         |qa AS (SELECT vec_id AS q_id, dvec AS q_vec FROM dq WHERE vec_id < 10),
         |pa AS (SELECT q_id, d.vec_id AS n_id,
         |       round(${cosSql("q_vec", "d.dvec")}, 4) AS cos
         |       FROM dq d CROSS JOIN qa WHERE q_id <> d.vec_id),
         |ta AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY cos DESC, n_id ASC) AS rk FROM pa) WHERE rk <= 5),
         |qe AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |       WHERE vec_id < 10),
         |pe AS (SELECT q_id, v.vec_id AS n_id,
         |       round(${cosSql("q_vec", "v.embedding")}, 4) AS cos
         |       FROM embeddings v CROSS JOIN qe WHERE q_id <> v.vec_id),
         |te AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY cos DESC, n_id ASC) AS rk FROM pe) WHERE rk <= 5)
         |SELECT 10::BIGINT AS n_queries, count(*)::BIGINT AS n_hits,
         |       round(count(*) / 50.0, 4) AS recall
         |FROM ta JOIN te USING (q_id, n_id)""".stripMargin),
    // Leakage-proof holdout: split by the DUP CLUSTER's canonical id,
    // not the doc id — two near-identical documents must never land
    // on opposite sides of a train/test cut (the subtle eval-leak
    // q84 audits after the fact; this prevents it by construction).
    QuerySpec("q160_cluster_split", (s, d) => {
      val grouped = docs(s, d).select(col("doc_id"))
        .join(dupGroups(s, d).select(col("id").as("doc_id"), col("keep_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keep_id"), col("doc_id")).as("grp"))
      Curation.splitAssign(grouped, "grp")
    },
      // split on the CC keeper id (the q41 labels), singletons on their
      // own id; thresholds are q69's md5 hex cuts
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |           FROM reach GROUP BY a),
         |g AS (SELECT d.doc_id, coalesce(l.keep_id, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN labels l USING (doc_id))
         |SELECT doc_id, grp,
         |  CASE WHEN substr(md5(CAST(grp AS VARCHAR) || '|split'), 1, 4) < 'cccd' THEN 'train'
         |       WHEN substr(md5(CAST(grp AS VARCHAR) || '|split'), 1, 4) < 'e666' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM g""".stripMargin),
    // Duplicate-cluster size distribution — the first chart of every
    // dedup postmortem (a heavy tail here means boilerplate or a
    // mirrored source, not organic duplication). One agg over the
    // cached CC labels; output is #distinct-sizes rows.
    QuerySpec("q151_dup_cluster_sizes", (s, d) =>
      dupGroups(s, d).groupBy(col("keep_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).cast("long")
            .as("n_docs")),
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |           FROM reach GROUP BY a),
         |g AS (SELECT keep_id, count(*)::BIGINT AS cluster_size
         |      FROM labels GROUP BY keep_id)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
         |       (cluster_size * count(*))::BIGINT AS n_docs
         |FROM g GROUP BY cluster_size""".stripMargin),
    // Pipeline-health dashboard: per-source dedup audit — how many
    // docs, how many sit in a dup group, how many would drop under
    // keep-one, and the drop rate. The query an operator looks at
    // before and after every ingest; label table is tiny relative to
    // the corpus, AQE broadcasts it into the per-source rollup.
    QuerySpec("q92_dedup_audit", (s, d) => {
      val labels = dupGroups(s, d)
      docs(s, d).select(col("doc_id"), col("source"))
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep_id").isNotNull, 1L).otherwise(0L)).as("n_grouped"),
          sum(when(col("keep_id").isNotNull && col("keep_id") =!= col("doc_id"),
            1L).otherwise(0L)).as("n_dropped"))
        .withColumn("drop_rate", round(col("n_dropped") / col("n_docs"), 4))
    },
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS did, least(a, min(b)) AS keep_id
         |        FROM reach GROUP BY a),
         |j AS (SELECT d.source, d.doc_id, l.keep_id
         |      FROM documents d LEFT JOIN lab l ON d.doc_id = l.did)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN keep_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_grouped,
         |       CAST(sum(CASE WHEN keep_id IS NOT NULL AND keep_id <> doc_id
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       round(sum(CASE WHEN keep_id IS NOT NULL AND keep_id <> doc_id
         |                      THEN 1 ELSE 0 END) / count(*), 4) AS drop_rate
         |FROM j GROUP BY source""".stripMargin),
    // Quality-aware re-rooting of the q41 groups: keep the
    // longest-in-tokens member (ties → smallest id) instead of the
    // smallest id — the "keep the best copy" materialization.
    QuerySpec("q78_keep_best", (s, d) => {
      val scores = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("score"))
      Curation.keepBest(dupGroups(s, d), scores, "doc_id")
        .select(col("id").as("doc_id"), col("keep_id"))
    },
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS did, least(a, min(b)) AS keep_id
         |        FROM reach GROUP BY a),
         |sc AS (SELECT doc_id, len(string_split(text, ' ')) AS score
         |       FROM documents),
         |m AS (SELECT l.did, l.keep_id, s.score
         |      FROM lab l JOIN sc s ON l.did = s.doc_id),
         |r AS (SELECT did, keep_id, row_number() OVER
         |        (PARTITION BY keep_id ORDER BY score DESC, did ASC) AS rk
         |      FROM m),
         |best AS (SELECT keep_id AS g, did AS best_id FROM r WHERE rk = 1)
         |SELECT l.did AS doc_id, b.best_id AS keep_id
         |FROM lab l JOIN best b ON l.keep_id = b.g""".stripMargin),
    QuerySpec("q21_text_langid", (s, d) => {
      val en = Seq("the", "a", "of"); val fr = Seq("le", "la", "de"); val es = Seq("el", "los", "que")
      docs(s, d).select(
        col("doc_id"),
        markerCount(col("text"), en).as("n_en"),
        markerCount(col("text"), fr).as("n_fr"),
        markerCount(col("text"), es).as("n_es"))
        .withColumn("pred",
          when(col("n_en") >= col("n_fr") && col("n_en") >= col("n_es"), "en")
            .when(col("n_fr") >= col("n_es"), "fr")
            .otherwise("es"))
    },
      """WITH m AS (SELECT doc_id,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of'))) AS BIGINT) AS n_en,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','de'))) AS BIGINT) AS n_fr,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','los','que'))) AS BIGINT) AS n_es
        |FROM documents)
        |SELECT doc_id, n_en, n_fr, n_es,
        | CASE WHEN n_en >= n_fr AND n_en >= n_es THEN 'en'
        |      WHEN n_fr >= n_es THEN 'fr' ELSE 'es' END AS pred
        |FROM m""".stripMargin),
    // The langid eval harness: confusion matrix of the q21 marker
    // predictor against the corpus's labeled `lang` column — the
    // query a pipeline runs before trusting a classifier at scale.
    // Vocabulary-sized output; one exchange (the confusion agg).
    QuerySpec("q70_langid_eval", (s, d) => {
      val en = Seq("the", "a", "of"); val fr = Seq("le", "la", "de"); val es = Seq("el", "los", "que")
      docs(s, d).select(
        col("lang"),
        markerCount(col("text"), en).as("n_en"),
        markerCount(col("text"), fr).as("n_fr"),
        markerCount(col("text"), es).as("n_es"))
        .withColumn("pred",
          when(col("n_en") >= col("n_fr") && col("n_en") >= col("n_es"), "en")
            .when(col("n_fr") >= col("n_es"), "fr")
            .otherwise("es"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n_docs"))
    },
      """WITH m AS (SELECT doc_id, lang,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of'))) AS BIGINT) AS n_en,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','de'))) AS BIGINT) AS n_fr,
        | CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','los','que'))) AS BIGINT) AS n_es
        |FROM documents),
        |p AS (SELECT lang,
        | CASE WHEN n_en >= n_fr AND n_en >= n_es THEN 'en'
        |      WHEN n_fr >= n_es THEN 'fr' ELSE 'es' END AS pred
        |FROM m)
        |SELECT lang, pred, CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY lang, pred""".stripMargin),
    QuerySpec("q22_text_quality", (s, d) =>
      docs(s, d)
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .withColumn("n_stop", markerCount(col("text"), StopWords))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          col("n_tokens"),
          round(length(regexp_replace(col("text"), " ", "")) / col("n_tokens"), 4)
            .as("avg_tok_len"),
          round(col("n_stop") / col("n_tokens"), 4).as("stop_ratio"),
          round(least(lit(1.0), col("n_tokens") / 100.0)
            - lit(0.5) * (col("n_stop") / col("n_tokens")), 4).as("quality")),
      """WITH f AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text,' '),
        |       w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
        | FROM documents)
        |SELECT doc_id, len_chars, n_tokens,
        | round(length(replace(text, ' ', '')) / n_tokens, 4) AS avg_tok_len,
        | round(n_stop / n_tokens, 4) AS stop_ratio,
        | round(least(1.0, n_tokens / 100.0) - 0.5 * (n_stop / n_tokens), 4) AS quality
        |FROM f""".stripMargin),
    QuerySpec("q23_token_count", (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        bpeishCount(col("text")).as("n_bpeish_tokens")),
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish_tokens
        |FROM documents""".stripMargin),
    // Training-sequence packing: docs in id order concatenated into
    // 512-token sequences via the two-phase distributed prefix sum
    // (the oracle's single global window IS the scale trap the
    // operator avoids).
    QuerySpec("q47_sequence_packing", (s, d) =>
      Packing.packByBudget(
        docs(s, d).select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 512L),
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(s // 512 AS BIGINT) AS seq_id FROM c""".stripMargin),
    // Distributed zipWithIndex through the gate: dense 0-based ids in
    // key order over a GAPPY id set (2/3 of docs — so row_id != any
    // arithmetic function of doc_id and the prefix counts are really
    // exercised), vs the oracle's single global window.
    QuerySpec("q107_stable_ids", (s, d) =>
      Packing.stableIds(
        docs(s, d).filter(col("doc_id") % 3 =!= 1).select(col("doc_id")),
        "doc_id"),
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
        |FROM documents WHERE doc_id % 3 <> 1""".stripMargin),
    QuerySpec("q24_fingerprint", (s, d) =>
      docs(s, d).select(col("doc_id"), fingerprint(col("text")).as("fp")),
      """SELECT doc_id,
        | substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents""".stripMargin),
    // Incremental dedup: only the "new batch" (doc_id % 5 == 0 as the
    // stand-in ingest watermark) band-joins the persisted signature
    // table — old-old pairs never recompute. Union with the prior
    // corpus's pairs reconstructs the full pair set (TextOpsSpec).
    QuerySpec("q57_dedup_incremental", (s, d) =>
      Dedup.lshCandidatePairsIncremental(signatures(s, d), "doc_id",
        col("doc_id") % 5 === 0),
      s"""WITH $shCte,
         |$mhCte,
         |cand AS (SELECT DISTINCT
         |           least(n.doc_id, o.doc_id) AS id_a,
         |           greatest(n.doc_id, o.doc_id) AS id_b
         |         FROM sig n JOIN sig o ON n.band = o.band AND n.sig = o.sig
         |         WHERE n.doc_id % 5 = 0 AND n.doc_id <> o.doc_id)
         |SELECT id_a, id_b FROM cand""".stripMargin),
    // Incremental clustering — q57's other half: fold the new batch's
    // candidate pairs into the PERSISTED label table via contraction
    // (delta CC over at most 2·|new pairs| supernodes; history never
    // recomputes). The oracle is the from-scratch recursive CTE over
    // the FULL pair set — the invariant IS the query.
    QuerySpec("q59_dedup_incremental_groups", (s, d) =>
      Dedup.incrementalComponents(
        oldBatchLabels(s, d),
        Dedup.lshCandidatePairsIncremental(signatures(s, d), "doc_id",
          col("doc_id") % 5 === 0))
        .select(col("id").as("doc_id"), col("keep_id")),
      // identical to q41's from-scratch transitive closure: the
      // incremental update's contract is bit-for-bit agreement with a
      // full recompute over the union pair set
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |FROM reach GROUP BY a""".stripMargin),
    // The batch's keep-one DELTA: which batch docs enter as keepers,
    // which join an existing group and drop, and which PRIOR keepers
    // are displaced (smaller new id, or two old groups bridged) — the
    // artifact a daily ingest actually acts on. O(labels), the corpus
    // is never touched.
    QuerySpec("q61_incremental_curation_delta", (s, d) => {
      val oldL = oldBatchLabels(s, d)
      val newL = Dedup.incrementalComponents(oldL,
        Dedup.lshCandidatePairsIncremental(signatures(s, d), "doc_id",
          col("doc_id") % 5 === 0))
      Curation.incrementalCurationDelta(oldL, newL, col("id") % 5 === 0)
    },
      // old-only CC (LSH pairs restricted to old docs — band collisions
      // are pairwise, so the restriction IS the old corpus's pair set)
      // vs full CC: keeper transitions computed exactly
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |full_labels AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |                FROM reach GROUP BY a),
         |old_edges AS (SELECT a, b FROM edges WHERE a % 5 <> 0 AND b % 5 <> 0),
         |old_reach(a, b) AS (
         |  SELECT a, b FROM old_edges
         |  UNION
         |  SELECT r.a, e.b FROM old_reach r JOIN old_edges e ON r.b = e.a),
         |old_labels AS (SELECT a AS doc_id, least(a, min(b)) AS keep_id
         |               FROM old_reach GROUP BY a)
         |SELECT doc_id, 'new_keep' AS status FROM full_labels
         |  WHERE doc_id % 5 = 0 AND keep_id = doc_id
         |UNION ALL
         |SELECT doc_id, 'new_drop' AS status FROM full_labels
         |  WHERE doc_id % 5 = 0 AND keep_id <> doc_id
         |UNION ALL
         |SELECT o.doc_id, 'displaced' AS status
         |  FROM old_labels o JOIN full_labels f USING (doc_id)
         |  WHERE o.keep_id = o.doc_id AND f.keep_id <> f.doc_id""".stripMargin),
    // Bigram conditional surprisal −ln p(w2 | w1) averaged per doc —
    // the next perplexity proxy up from q36's unigrams: flags docs
    // whose word PAIRS are improbable even when each word is common
    // (shuffled/templated text). Runs with an ACTIVE frequency floor
    // (minCount = 2): rare bigrams back off to the unigram surprisal
    // of their second word — see [[Surprisal]] for the Heaps'-law
    // rationale that makes the floor a scale requirement, not a knob.
    QuerySpec("q56_bigram_surprisal", (s, d) =>
      Surprisal.bigramSurprisal(docs(s, d), minCount = 2L),
      // floor = 2: frequent bigrams conditional, the singleton tail
      // backs off to −ln(c(w2)/N) — mirrors Surprisal.bigramSurprisal
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id,
        |       unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
        |       FROM toks),
        |b1 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
        |       string_split(bg, ' ')[2] AS w2 FROM bg),
        |c2 AS (SELECT bg, count(*) AS c2 FROM b1 GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b1 GROUP BY w1),
        |cw2 AS (SELECT w2, count(*) AS cw2 FROM b1 GROUP BY w2),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b1)
        |SELECT doc_id,
        |  round(avg(CASE WHEN c2 >= 2 THEN -ln(c2 / c1)
        |                 ELSE -ln(cw2 / n) END), 4) AS avg_bigram_surprisal
        |FROM b1 JOIN c2 USING (bg) JOIN c1 USING (w1) JOIN cw2 USING (w2)
        |CROSS JOIN n
        |GROUP BY doc_id""".stripMargin),
    // Corpus-level quality signal: average token surprisal −ln(p(w)),
    // p from the corpus's own unigram frequencies — the classic cheap
    // perplexity proxy for filtering gibberish/boilerplate. Two-pass
    // shape: one shuffle builds the frequency table (vocabulary ≪
    // corpus at scale), which then joins back to the token stream —
    // AQE broadcasts it when small.
    QuerySpec("q36_token_surprisal", (s, d) => docSurprisal(s, d),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok)
        |SELECT doc_id, round(avg(-ln(c / n)), 4) AS avg_surprisal
        |FROM tok JOIN tf USING (w) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin),
    // CCNet-style reference-LM quality filter (Wenzek et al. 2020):
    // an add-one-smoothed bigram LM trained on ONE clean source
    // (src0) scores every document cross-domain; docs rank into
    // head/middle/tail terciles by mean surprisal — the buckets a
    // pipeline samples at different rates. Surprisals are 1e-4
    // fixed-point summands (the q172/q193 rule); the tercile rank is
    // the two-phase distributed prefix sum over a sparse composite
    // key (the stableIds sampled-fallback path, through the gate).
    // Zipf slope per source: least-squares ln(freq)~ln(rank) over each
    // source's frequency spectrum — the "does this look like natural
    // language" one-number diagnostic. Fixed-point ln terms, exact
    // integer sums, final slope a fixed 6-op double sequence.
    QuerySpec("q250_zipf_slope", (s, d) =>
      Surprisal.zipfSlope(docs(s, d), "source", "text"),
      // the whole CCNet chain rebuilt in SQL: reference bigram counts,
      // add-one smoothing over the reference vocabulary (+1 OOV slot),
      // fixed-point surprisal summands, tercile by (avg, id) rank
      """WITH tf AS (SELECT source, w, count(*)::BIGINT AS c
        |            FROM (SELECT source,
        |                    unnest(string_split(text, ' ')) AS w
        |                  FROM documents) t
        |            WHERE len(w) > 0 GROUP BY 1, 2),
        |rk AS (SELECT source, c,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY c DESC, w) AS rk FROM tf),
        |q AS (SELECT source,
        |        CAST(round(ln(rk) * 10000, 0) AS BIGINT) AS x,
        |        CAST(round(ln(c) * 10000, 0) AS BIGINT) AS y
        |      FROM rk),
        |sm AS (SELECT source, count(*)::BIGINT AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |       FROM q GROUP BY 1)
        |SELECT source, n AS n_types,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |        (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 4)
        |    AS slope
        |FROM sm""".stripMargin),
    // Gini coefficient of each source's token-frequency distribution
    // — the inequality one-number that complements q250's Zipf slope
    // (a source whose mass concentrates in few tokens is template/
    // boilerplate-shaped even when its slope looks natural). Pure
    // integer arithmetic over the ascending (count, token)-ranked
    // spectrum: G = (2·Σ i·c_i − (n+1)·Σc_i) / (n·Σc_i), scaled to
    // basis points — the rank window runs over vocab-sized frequency
    // tables, never the corpus.
    QuerySpec("q277_token_gini", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val tf = docs(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      tf.withColumn("i", row_number().over(
          w.partitionBy(col("source"))
            .orderBy(col("c").asc, col("tok").asc)).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("__tc"),
          sum(col("i") * col("c")).as("__ic"))
        .select(col("source"), col("n_tokens"),
          expr("""(2L * __ic - (n_tokens + 1) * __tc) * 10000L
                  div (n_tokens * __tc)""").as("gini_bp"))
    },
      """WITH tf AS (SELECT source, tok, count(*)::BIGINT AS c FROM (
        |        SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY source, tok),
        |rk AS (SELECT source, c, CAST(row_number() OVER (
        |         PARTITION BY source ORDER BY c ASC, tok ASC) AS BIGINT)
        |         AS i
        |       FROM tf),
        |ag AS (SELECT source, count(*)::BIGINT AS n_tokens,
        |         CAST(sum(c) AS BIGINT) AS tc,
        |         CAST(sum(i * c) AS BIGINT) AS ic
        |       FROM rk GROUP BY source)
        |SELECT source, n_tokens,
        |       (2 * ic - (n_tokens + 1) * tc) * 10000 // (n_tokens * tc)
        |         AS gini_bp
        |FROM ag""".stripMargin),
    // Cross-domain affinity matrix: src0–src4 each scored under each
    // other's bigram LM (5×5 rows) — the "which domains predict
    // which" artifact behind q209's reweighting and any transfer-
    // aware mixture. Fixed-point summands; oracle mirrors every cell.
    QuerySpec("q249_domain_affinity", (s, d) =>
      Surprisal.domainAffinity(docs(s, d), "source", "text",
        (0 until 5).map(i => s"src$i")),
      """WITH bb0 AS (SELECT source, string_split('<s> ' || text, ' ') AS w
        |             FROM documents
        |             WHERE source IN ('src0','src1','src2','src3','src4')),
        |bb AS (SELECT source, w[i] AS w1, w[i+1] AS w2 FROM bb0,
        |       UNNEST(generate_series(1, len(w)-1)) AS u(i)
        |       WHERE len(w[i+1]) > 0),
        |c2 AS (SELECT source AS src_train, w1, w2, count(*)::BIGINT AS c2
        |       FROM bb GROUP BY 1, 2, 3),
        |c1 AS (SELECT src_train, w1, sum(c2)::BIGINT AS c1
        |       FROM c2 GROUP BY 1, 2),
        |v AS (SELECT source AS src_train,
        |        count(DISTINCT w2)::BIGINT + 1 AS v FROM bb GROUP BY 1),
        |ev AS (SELECT source AS src_eval, w1, w2, count(*)::BIGINT AS ce
        |       FROM bb GROUP BY 1, 2, 3),
        |cr AS (SELECT t.src_train, ev.* FROM ev
        |       CROSS JOIN (SELECT src_train FROM v) t),
        |sc AS (SELECT cr.src_train, cr.src_eval,
        |         CAST(sum(ce) AS BIGINT) AS n_bigrams,
        |         CAST(sum(ce * CAST(round(-ln((coalesce(c2.c2, 0) + 1) /
        |           CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 10000, 0)
        |           AS BIGINT)) AS BIGINT) AS s
        |       FROM cr
        |       LEFT JOIN c2 ON cr.src_train = c2.src_train
        |         AND cr.w1 = c2.w1 AND cr.w2 = c2.w2
        |       LEFT JOIN c1 ON cr.src_train = c1.src_train
        |         AND cr.w1 = c1.w1
        |       JOIN v ON cr.src_train = v.src_train
        |       GROUP BY 1, 2)
        |SELECT src_train, src_eval, n_bigrams,
        |       round(s / 10000.0 / n_bigrams, 4) AS avg_nlp
        |FROM sc""".stripMargin),
    QuerySpec("q207_ref_lm_quality", (s, d) => {
      val doc = docs(s, d)
      Surprisal.refLmBuckets(
        Surprisal.refLmScore(doc, "doc_id", "text",
          doc.filter(col("source") === "src0"), "text"),
        "doc_id")
    },
      """WITH rb0 AS (SELECT string_split('<s> ' || text, ' ') AS w
        |             FROM documents WHERE source = 'src0'),
        |rb AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM rb0,
        |       UNNEST(generate_series(1, len(w)-1)) AS u(i)
        |       WHERE len(w[i+1]) > 0),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM rb GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2)::BIGINT + 1 AS v FROM rb),
        |db0 AS (SELECT doc_id, string_split('<s> ' || text, ' ') AS w
        |        FROM documents),
        |db AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM db0,
        |       UNNEST(generate_series(1, len(w)-1)) AS u(i)
        |       WHERE len(w[i+1]) > 0),
        |sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |       sum(CAST(round(-ln((coalesce(c2.c2, 0) + 1) /
        |         CAST(coalesce(c1.c1, 0) + v AS DOUBLE)) * 10000, 0)
        |         AS BIGINT)) AS s
        |       FROM db LEFT JOIN c2 USING (w1, w2)
        |       LEFT JOIN c1 USING (w1) CROSS JOIN v GROUP BY doc_id),
        |av AS (SELECT doc_id, n_bigrams,
        |       round(s / 10000.0 / n_bigrams, 4) AS avg_nlp FROM sc),
        |rk AS (SELECT doc_id, n_bigrams, avg_nlp,
        |       row_number() OVER (ORDER BY avg_nlp, doc_id) - 1 AS rn,
        |       count(*) OVER () AS n FROM av)
        |SELECT doc_id, n_bigrams, avg_nlp,
        |  CASE WHEN rn * 3 // n = 0 THEN 'head'
        |       WHEN rn * 3 // n = 1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM rk""".stripMargin),
    // DoReMi-flavored domain reweighting on the q207 scores: sources
    // whose documents the reference LM finds hard (mean surprisal
    // above the corpus mean) upweight in proportion to their excess —
    // the mixture planner's "spend training where the model
    // struggles" input, with every mean a fixed-point integer sum.
    QuerySpec("q209_domain_reweight", (s, d) => {
      val doc = docs(s, d)
      Surprisal.domainReweight(
        Surprisal.refLmScore(doc, "doc_id", "text",
            doc.filter(col("source") === "src0"), "text")
          .join(doc.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source")
    },
      // per-source fixed-point means over the q207 scores; weight =
      // positive excess over the corpus mean, normalized
      """WITH rb0 AS (SELECT string_split('<s> ' || text, ' ') AS w
        |             FROM documents WHERE source = 'src0'),
        |rb AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM rb0,
        |       UNNEST(generate_series(1, len(w)-1)) AS u(i)
        |       WHERE len(w[i+1]) > 0),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM rb GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2)::BIGINT + 1 AS v FROM rb),
        |db0 AS (SELECT doc_id, string_split('<s> ' || text, ' ') AS w
        |        FROM documents),
        |db AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM db0,
        |       UNNEST(generate_series(1, len(w)-1)) AS u(i)
        |       WHERE len(w[i+1]) > 0),
        |sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |       sum(CAST(round(-ln((coalesce(c2.c2, 0) + 1) /
        |         CAST(coalesce(c1.c1, 0) + v AS DOUBLE)) * 10000, 0)
        |         AS BIGINT)) AS s
        |       FROM db LEFT JOIN c2 USING (w1, w2)
        |       LEFT JOIN c1 USING (w1) CROSS JOIN v GROUP BY doc_id),
        |av AS (SELECT doc_id, n_bigrams,
        |       round(s / 10000.0 / n_bigrams, 4) AS avg_nlp FROM sc),
        |fx AS (SELECT d.source,
        |       CAST(round(avg_nlp * 10000, 0) AS BIGINT) AS f
        |       FROM av JOIN documents d USING (doc_id)),
        |per AS (SELECT source, count(*)::BIGINT AS n_docs,
        |        sum(f) // count(*) AS m FROM fx GROUP BY 1),
        |g AS (SELECT sum(f) // count(*) AS gm FROM fx),
        |ex AS (SELECT source, n_docs, m, greatest(m - gm, 0) AS excess
        |       FROM per CROSS JOIN g),
        |t AS (SELECT sum(excess) AS tot FROM ex)
        |SELECT source, n_docs, round(m / 10000.0, 4) AS mean_nlp,
        |  round(excess / 10000.0, 4) AS excess,
        |  CASE WHEN tot > 0 THEN round(CAST(excess AS DOUBLE) / tot, 4)
        |       ELSE 0.0 END AS weight
        |FROM ex CROSS JOIN t""".stripMargin),
    // Perplexity gate: q36's per-doc surprisal z-scored against the
    // corpus distribution — both tails cut (too-random noise, too-
    // templated boilerplate) relative to THIS corpus. The stats are
    // computed over the ROUNDED q36 values so the gate is exactly
    // reproducible.
    QuerySpec("q83_perplexity_gate", (s, d) =>
      Curation.zScoreGate(docSurprisal(s, d), "doc_id", "avg_surprisal"),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
        |ds AS (SELECT doc_id, round(avg(-ln(c / n)), 4) AS avg_surprisal
        |       FROM tok JOIN tf USING (w) CROSS JOIN n
        |       GROUP BY doc_id),
        |st AS (SELECT avg(avg_surprisal) AS mu, stddev_samp(avg_surprisal) AS sd FROM ds)
        |SELECT doc_id, avg_surprisal,
        |       round((avg_surprisal - mu) / sd, 4) + 0.0 AS z,
        |       (abs(round((avg_surprisal - mu) / sd, 4) + 0.0) <= 2.0) AS pass
        |FROM ds CROSS JOIN st""".stripMargin),
    // Within-document repetition: 1 − |distinct shingles|/|shingles|.
    // High values flag boilerplate/spam — a standard dedup-adjacent
    // filter. Explode-then-aggregate so the shingle array is built
    // ONCE per document — the array-expression form (size +
    // array_distinct over a shared column) gets inlined by Catalyst
    // into four separate evaluations per row and ran 10× slower.
    // (At corpus scale, countDistinct over xxhash64(sh) would shrink
    // the shuffle; strings kept here for exact oracle parity.)
    QuerySpec("q37_repetition", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          countDistinct(col("sh")).as("n_distinct"))
        .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct") / col("n_shingles"), 4)
            .as("rep_ratio")),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |       [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] AS s
        |       FROM toks)
        |SELECT doc_id,
        | CAST(len(s) AS BIGINT) AS n_shingles,
        | CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct,
        | round(1.0 - len(list_distinct(s)) / len(s), 4) AS rep_ratio
        |FROM sh WHERE len(s) > 0""".stripMargin),
    // The CHARACTER-weighted Gopher repetition rules (Rae et al. 2021
    // §A1.1) that q37's occurrence ratio doesn't capture: the char
    // fraction claimed by the single most common 2-gram, and the char
    // fraction inside duplicated 5-grams — both relative to the
    // document's total characters. Two narrow per-doc aggs, top pick
    // by (count desc, gram asc).
    QuerySpec("q161_gopher_repetition", (s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"), col("text"))
      val g2 = base
        .select(col("doc_id"), explode(shingles(col("text"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("c").desc, col("g").asc)
      val top2 = g2.withColumn("__rk", row_number().over(w2))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), (col("c") * length(col("g"))).as("__t2"))
      val dup5 = base
        .select(col("doc_id"), explode(shingles(col("text"), 5)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * length(col("g"))).as("__d5"))
      base.select(col("doc_id"), col("n_chars"))
        .join(top2, Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          round(coalesce(col("__t2"), lit(0L)) / col("n_chars"), 4)
            .as("top2_char_frac"),
          round(coalesce(col("__d5"), lit(0L)) / col("n_chars"), 4)
            .as("dup5_char_frac"))
    },
      // char-weighted forms: top-2-gram pick by (count desc, gram asc);
      // duplicated-5-gram chars sum count*len; both over len(text)
      """WITH toks AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |              string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |         for i in range(1, len(w))]) AS g FROM toks),
        |c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, c * len(g) AS t2 FROM (
        |       SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, g ASC) AS rk FROM c2) WHERE rk = 1),
        |g5 AS (SELECT doc_id, unnest([array_to_string(w[i:i+4], ' ')
        |         for i in range(1, len(w) - 3)]) AS g FROM toks),
        |c5 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g5 GROUP BY doc_id, g),
        |d5 AS (SELECT doc_id, sum(c * len(g))::BIGINT AS d5 FROM c5
        |       WHERE c >= 2 GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chars,
        |       round(coalesce(t2.t2, 0) / t.n_chars, 4) AS top2_char_frac,
        |       round(coalesce(d5.d5, 0) / t.n_chars, 4) AS dup5_char_frac
        |FROM toks t LEFT JOIN t2 USING (doc_id)
        |LEFT JOIN d5 USING (doc_id)""".stripMargin),
    // The heap-based scale shape (per-partition bounded top-k, only
    // partitions×queries×k candidates shuffled) through the gate; the
    // window form stays as the reference implementation, and
    // ScaleOpsSpec pins their row-identity.
    // Maximal Marginal Relevance: diversified top-5 per query —
    // greedy argmax of 7·relevance − 3·max-similarity-to-selected
    // over a top-20 candidate shortlist, 5 unrolled rounds (the
    // PageRank treatment: deterministic fixed-point scores, the
    // oracle mirrors every round). Pairwise sims live only on the
    // per-query shortlist (k'² per query, bounded), never the corpus.
    QuerySpec("q261_mmr_topk", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      val scored = c.crossJoin(broadcast(q))
        .withColumn("rel_fp", round(VectorFunctions.cosine(col("q_vec"),
          col("n_vec")) * 10000, 0).cast("long"))
      val cand = scored
        .withColumn("rk", row_number().over(w.partitionBy(col("q_id"))
          .orderBy(col("rel_fp").desc, col("n_id"))))
        .filter(col("rk") <= 20)
        .select(col("q_id"), col("n_id"), col("rel_fp"), col("n_vec"))
        .localCheckpoint(true)
      val pair = cand.select(col("q_id"), col("n_id").as("i"),
          col("n_vec").as("vi"))
        .join(cand.select(col("q_id"), col("n_id").as("j"),
          col("n_vec").as("vj")), Seq("q_id"))
        .filter(col("i") =!= col("j"))
        .withColumn("sim_fp", round(VectorFunctions.cosine(col("vi"),
          col("vj")) * 10000, 0).cast("long"))
        .select(col("q_id"), col("i"), col("j"), col("sim_fp"))
        .localCheckpoint(true)
      val slim = cand.select(col("q_id"), col("n_id"), col("rel_fp"))
      var selected: DataFrame = null
      for (r <- 1 to 5) {
        val remaining =
          if (selected == null) slim
          else slim.join(selected.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_anti")
        val ms =
          if (selected == null) remaining.withColumn("maxsim_fp", lit(0L))
          else remaining.join(
            pair.join(selected.select(col("q_id"),
                col("n_id").as("j")), Seq("q_id", "j"))
              .groupBy(col("q_id"), col("i"))
              .agg(max(col("sim_fp")).as("maxsim_fp"))
              .withColumnRenamed("i", "n_id"),
            Seq("q_id", "n_id"), "left")
            .withColumn("maxsim_fp", coalesce(col("maxsim_fp"), lit(0L)))
        val pick = ms
          .withColumn("score",
            lit(7L) * col("rel_fp") - lit(3L) * col("maxsim_fp"))
          .groupBy(col("q_id"))
          .agg(max(struct(col("score"), (-col("n_id")).as("negid")))
            .as("b"))
          .select(col("q_id"), lit(r.toLong).as("pick_rank"),
            (-col("b.negid")).as("n_id"), col("b.score").as("score"))
        selected = (if (selected == null) pick
          else selected.unionByName(pick)).localCheckpoint(true)
      }
      selected
    },
      mmrSql),
    // Matryoshka truncation audit: top-10 recall when queries run on
    // a PREFIX of the embedding (16 / 32 of 64 dims) vs the full
    // vector — the memory/recall dial of prefix-truncatable embedding
    // families, measured before committing to a truncated index.
    QuerySpec("q262_matryoshka_recall", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      def topk(dims: Int) = {
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"),
            slice(col("embedding"), 1, dims).as("q_vec"))
        val c = e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("n_id"),
            slice(col("embedding"), 1, dims).as("n_vec"))
        c.crossJoin(broadcast(q))
          .withColumn("cos4", round(VectorFunctions.cosine(col("q_vec"),
            col("n_vec")), 4))
          .withColumn("rk", row_number().over(w.partitionBy(col("q_id"))
            .orderBy(col("cos4").desc, col("n_id"))))
          .filter(col("rk") <= 10)
          .select(col("q_id"), col("n_id"))
      }
      val full = topk(64).localCheckpoint(true)
      Seq(16, 32, 64).map { dims =>
        topk(dims).join(full, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(dims.toLong).as("dims"),
            expr("hits * 10000L div 100").as("recall_bp"))
      }.reduce(_ unionByName _)
    },
      matryoshkaSql),
    // CLUSTER-AWARE holdout split: the near-dup-safe train/test
    // assignment. The naive per-doc hash split lets a document and
    // its near-duplicate straddle train/test — silent eval
    // contamination no downstream decontam pass can see (the leak is
    // inside the split, not against an external benchmark). Keying
    // the SAME hash split by the near-dup component label instead
    // sends every member of a dup cluster to one split by
    // construction. Output: per (policy, split) doc counts with the
    // policy's straddling-candidate-pair count — 'group' must show
    // leak_pairs = 0, and the naive policy's nonzero count is the
    // measured contamination. Scale shape: CC labels are the q41
    // substrate (already banded/bounded); both assignments are pure
    // md5 projections; the leak audit joins the candidate-pair table
    // to the assignment twice on its endpoints.
    QuerySpec("q266_split_cluster_aware", (s, d) => {
      val groups = dupGroups(s, d)
      val keyed = docs(s, d).select(col("doc_id"))
        .join(groups.select(col("id").as("doc_id"),
          col("keep_id").as("__gl")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__gl"), col("doc_id")).as("gkey"))
      val assigned = Curation.splitAssign(
          Curation.splitAssign(keyed, "doc_id")
            .withColumnRenamed("split", "naive_split"), "gkey")
        .withColumnRenamed("split", "group_split")
        .localCheckpoint(true)
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
      val leaks = pairs
        .join(assigned.select(col("doc_id").as("id_a"),
          col("naive_split").as("na"), col("group_split").as("ga")), Seq("id_a"))
        .join(assigned.select(col("doc_id").as("id_b"),
          col("naive_split").as("nb"), col("group_split").as("gb")), Seq("id_b"))
        .agg(
          coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)),
            lit(0L)).as("naive_leaks"),
          coalesce(sum(when(col("ga") =!= col("gb"), 1L).otherwise(0L)),
            lit(0L)).as("group_leaks"))
      val counts = assigned.select(col("doc_id"),
          explode(map(lit("naive"), col("naive_split"),
            lit("group"), col("group_split"))).as(Seq("policy", "split")))
        .groupBy(col("policy"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
      counts.crossJoin(broadcast(leaks))
        .select(col("policy"), col("split"), col("n_docs"),
          when(col("policy") === "naive", col("naive_leaks"))
            .otherwise(col("group_leaks")).as("leak_pairs"))
    },
      // group split key = recursive-CC component min (q52's idiom);
      // 'cccd'/'e666' are the 0.8/0.9 hashFraction thresholds (q69)
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS label
         |      FROM reach GROUP BY a),
         |k AS (SELECT d.doc_id, coalesce(g.label, d.doc_id) AS gkey
         |      FROM documents d LEFT JOIN g ON g.did = d.doc_id),
         |hx AS (SELECT doc_id, gkey,
         |         substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4)
         |           AS hn,
         |         substr(md5(CAST(gkey AS VARCHAR) || '|split'), 1, 4)
         |           AS hg
         |       FROM k),
         |asg AS (SELECT doc_id,
         |          CASE WHEN hn < 'cccd' THEN 'train'
         |               WHEN hn < 'e666' THEN 'val'
         |               ELSE 'test' END AS naive_split,
         |          CASE WHEN hg < 'cccd' THEN 'train'
         |               WHEN hg < 'e666' THEN 'val'
         |               ELSE 'test' END AS group_split
         |        FROM hx),
         |lk AS (SELECT
         |         coalesce(sum(CASE WHEN a1.naive_split <> a2.naive_split
         |                      THEN 1 ELSE 0 END), 0)::BIGINT AS naive_leaks,
         |         coalesce(sum(CASE WHEN a1.group_split <> a2.group_split
         |                      THEN 1 ELSE 0 END), 0)::BIGINT AS group_leaks
         |       FROM cand
         |       JOIN asg a1 ON a1.doc_id = cand.id_a
         |       JOIN asg a2 ON a2.doc_id = cand.id_b),
         |cn AS (SELECT 'naive' AS policy, naive_split AS split,
         |         count(*)::BIGINT AS n_docs FROM asg GROUP BY 2
         |       UNION ALL
         |       SELECT 'group', group_split, count(*)::BIGINT
         |       FROM asg GROUP BY 2)
         |SELECT cn.policy, cn.split, cn.n_docs,
         |       CASE WHEN cn.policy = 'naive' THEN lk.naive_leaks
         |            ELSE lk.group_leaks END AS leak_pairs
         |FROM cn CROSS JOIN lk""".stripMargin),
    // CORPUS-WIDE exact-substring dedup (the Lee et al. 2022
    // "Deduplicating Training Data" grain): any 8-token span that
    // recurs across >= 2 documents keeps its FIRST occurrence
    // (min doc, then min position) and is excised everywhere else —
    // the boilerplate/quotation suppressor that document- and
    // paragraph-grain dedup both miss. Overlapping removed spans
    // union position-wise inside removeSpans, so a long shared
    // passage (a run of overlapping dup 8-grams) excises as one
    // block. Scale shape: the occurrence table is the one wide
    // shuffle (corpus token count rows); the per-gram agg is
    // map-side-combined min-struct + distinct-doc count; span
    // fan-out is proportional to occurrences actually removed.
    QuerySpec("q267_substring_dedup", (s, d) => {
      val n = 8
      val doc = docs(s, d).select(col("doc_id"), col("text"))
      val occ = doc.select(col("doc_id"),
        posexplode(shingles(col("text"), n)).as(Seq("start", "g")))
      val dup = occ.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("__nd"),
          min(struct(col("doc_id"), col("start"))).as("__first"))
        .filter(col("__nd") >= 2)
      val spans = occ.join(dup.select(col("g"), col("__first")), Seq("g"))
        .filter(!(col("doc_id") === col("__first.doc_id") &&
          col("start") === col("__first.start")))
        .select(col("doc_id").as("doc_b"), col("start").as("start_b"),
          lit(n.toLong).as("len"))
      Dedup.removeSpans(doc, "doc_id", "text", spans)
    },
      // first occurrence = min (doc, start) per duplicated gram;
      // removed positions union via DISTINCT before the rebuild
      substrDedupSql),
    // TRIANGLE COUNT + global clustering coefficient of the near-dup
    // candidate graph — the dedup-diagnostics readout that separates
    // true dup CLIQUES (triangle-rich components, safe to collapse to
    // one keeper) from hash-collision CHAINS (triangle-free paths,
    // where transitive keep-one over-deletes). Degree-oriented
    // counting: each edge points from its lower-(degree, id) endpoint
    // to the higher, so every wedge is generated at its LOWEST-degree
    // apex — fan-out bounded by the graph's degeneracy, not its max
    // degree (the arboricity bound that survives power-law graphs; a
    // hub of degree 10⁶ generates no wedges at all unless both
    // neighbors out-rank it). The oracle counts the same triangles by
    // the naive ordered triple join — orientation-independence is
    // part of what the hash compare proves.
    QuerySpec("q274_triangle_count", (s, d) =>
      Graph.triangleStats(
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id")),
      // naive ordered-triple join — the degree-oriented Spark count
      // must agree (orientation independence is part of the proof)
      triangleSql),
    // COMMUNITY DETECTION over the candidate graph — deterministic
    // synchronous label propagation (4 supersteps, most-frequent
    // neighbor-or-self label, min-label ties): the coarser grouping
    // CC cannot give (CC fuses anything connected; LPA keeps weakly
    // bridged clusters apart). Each superstep is one edge-keyed join
    // + two aggs (the Pregel shape, lineage severed per step); the
    // oracle unrolls the same four supersteps as chained CTEs with
    // row_number argmax — the hash compare proves the sync-update
    // semantics step for step.
    QuerySpec("q330_label_prop", (s, d) =>
      Graph.labelPropagation(
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id"), iters = 4),
      labelPropSql),
    // COMMUNITY QUALITY over the LPA labeling — per community the
    // exact-integer modularity numerator 4m·L_c − D_c² (Q = Σ/4m²;
    // the division never happens, so negative numerators can't hit
    // the floor-vs-trunc trap) plus a lab=−1 total row. The report a
    // dedup pipeline reads to decide whether LPA's finer grouping is
    // trustworthy (high modularity) or the graph is hairball (low).
    QuerySpec("q348_community_quality", (s, d) => {
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
      Graph.modularityReport(pairs, Graph.labelPropagation(pairs, 4))
    },
      modularitySql),
    // INCREMENTAL triangle count: the standing count over the old
    // docs' graph folds with the batch's edges by exact inclusion–
    // exclusion over per-new-edge common-neighbor tags (S_oo +
    // S_mix/2 + S_nn/3 — Graph.triangleCountDelta) — per-batch work
    // ∝ batch edges × degree, the old graph is never re-paired. The
    // node/edge/wedge counts are single-pass degree sums over the
    // full edge set; q274's oracle VERBATIM is the == from-scratch
    // proof.
    QuerySpec("q285_triangle_incremental", (s, d) => {
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
      val isNew = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val oldE = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
      val newE = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
      val tri = Graph.triangleCountDelta(
        Graph.triangleStats(oldE).select(col("n_triangles")), oldE, newE)
      val deg = pairs.select(col("id_a").as("n"))
        .unionByName(pairs.select(col("id_b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("deg * (deg - 1) div 2")).as("__n_wedges"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          when(col("__n_wedges") === 0, lit(0L))
            .otherwise(expr("n_triangles * 3L * 10000L div __n_wedges"))
            .as("clustering_bp"))
    },
      // the inclusion–exclusion fold must land on the same full-graph
      // stats — q274's oracle verbatim
      triangleSql),
    // Per-COMPONENT triage of the candidate graph — the grain q274's
    // global coefficient summarizes: density and is-clique per
    // near-dup component. A clique collapses to one keeper safely; a
    // low-density chain is hash-collision lint where transitive
    // keep-one over-deletes — the report a dedup operator reads
    // before acting. Counts ride the existing CC labels; edges
    // attribute to components by one label join.
    QuerySpec("q275_dup_components", (s, d) => {
      val groups = dupGroups(s, d)
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
      val nodes = groups.groupBy(col("keep_id"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(col("keep_id").as("component"), col("n_nodes"))
      val edges = pairs.join(groups.select(col("id").as("id_a"),
          col("keep_id")), Seq("id_a"))
        .groupBy(col("keep_id")).agg(count(lit(1)).as("n_edges"))
        .select(col("keep_id").as("component"), col("n_edges"))
      nodes.join(edges, Seq("component"))
        .select(col("component"), col("n_nodes"), col("n_edges"),
          expr("n_edges * 2L * 10000L div (n_nodes * (n_nodes - 1))")
            .as("density_bp"),
          (col("n_edges") === expr("n_nodes * (n_nodes - 1) div 2"))
            .as("is_clique"))
    },
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS label
         |      FROM reach GROUP BY a),
         |nn AS (SELECT label AS component, count(*)::BIGINT AS n_nodes
         |       FROM g GROUP BY label),
         |ee AS (SELECT g.label AS component, count(*)::BIGINT AS n_edges
         |       FROM cand JOIN g ON g.did = cand.id_a GROUP BY g.label)
         |SELECT component, n_nodes, n_edges,
         |  n_edges * 2 * 10000 // (n_nodes * (n_nodes - 1)) AS density_bp,
         |  (n_edges = n_nodes * (n_nodes - 1) // 2) AS is_clique
         |FROM nn JOIN ee USING (component)""".stripMargin),
    // GOLDEN-RECORD merge (MDM survivorship): each multi-member dup
    // cluster collapses to one synthesized record by per-attribute
    // rules — modal lang/source (count desc, value asc tie-break, so
    // the pick is deterministic cross-engine), max n_chars, min id.
    // The output is the merged master table a dedup pass hands
    // downstream instead of an arbitrary surviving row.
    QuerySpec("q276_golden_record", (s, d) => {
      val members = docs(s, d)
        .join(dupGroups(s, d).select(col("id").as("doc_id"),
          col("keep_id").as("component")), Seq("doc_id"))
      def modal(c: String) = members
        .groupBy(col("component"), col(c))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col("component"))
        .agg(min(struct((-col("__cnt")).as("nc"), col(c).as("v")))
          .as("__m"))
        .select(col("component"), col("__m.v").as(c))
      members.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(col("doc_id")).as("rep_id"),
          max(col("n_chars")).as("max_chars"))
        .join(modal("lang"), Seq("component"))
        .join(modal("source"), Seq("component"))
        .select(col("component"), col("n_members"), col("rep_id"),
          col("lang"), col("source"), col("max_chars"))
    },
      // modal picks tie-break (count desc, value asc) explicitly —
      // DuckDB's mode() leaves ties unspecified
      goldenRecordSql),
    // INCREMENTAL golden records: q276's master table maintained as
    // foldable state — per-(component, attr) count tables plus a
    // (n, min-id, max-chars) aggregate, all of which fold by
    // sum/min/max. A batch can MERGE standing components, so the fold
    // first relabels standing state through the incremental-CC root
    // map (old root → new label — the same discipline
    // incrementalComponents applies to its own label table), then
    // sums. Per-batch work ∝ batch + |state| rows; members are never
    // rescanned. q276's oracle VERBATIM.
    QuerySpec("q284_golden_incremental", (s, d) => {
      val doc = docs(s, d)
      val oldL = oldBatchLabels(s, d)
      val newL = Dedup.incrementalComponents(oldL,
        Dedup.lshCandidatePairsIncremental(signatures(s, d), "doc_id",
          col("doc_id") % 5 === 0)).localCheckpoint(true)
      // old component roots → their post-batch label (roots are
      // themselves labeled old ids, so newL always covers them)
      val rootMap = newL
        .select(col("id").as("__old_root"), col("keep_id").as("__new_root"))
        .join(oldL.select(col("keep_id").as("__old_root")).distinct(),
          Seq("__old_root"))
      def relabel(st: DataFrame) = st
        .join(broadcast(rootMap), st("component") === col("__old_root"),
          "left")
        .withColumn("component",
          coalesce(col("__new_root"), col("component")))
        .drop("__old_root", "__new_root")
      val oldMembers = doc.join(oldL.select(col("id").as("doc_id"),
        col("keep_id").as("component")), Seq("doc_id"))
      // the batch contribution: every id labeled now but not before —
      // batch docs AND old docs first pulled into a component by them
      val batchMembers = doc.join(
        newL.join(oldL.select(col("id")), Seq("id"), "left_anti")
          .select(col("id").as("doc_id"), col("keep_id").as("component")),
        Seq("doc_id"))
      def cnt(m: DataFrame, c: String) = m
        .groupBy(col("component"), col(c)).agg(count(lit(1)).as("__cnt"))
      def modalFold(c: String) = relabel(cnt(oldMembers, c))
        .unionByName(cnt(batchMembers, c))
        .groupBy(col("component"), col(c))
        .agg(sum(col("__cnt")).as("__cnt"))
        .groupBy(col("component"))
        .agg(min(struct((-col("__cnt")).as("nc"), col(c).as("v")))
          .as("__m"))
        .select(col("component"), col("__m.v").as(c))
      def agg1(m: DataFrame) = m.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("rep_id"),
          max(col("n_chars")).as("max_chars"))
      relabel(agg1(oldMembers)).unionByName(agg1(batchMembers))
        .groupBy(col("component"))
        .agg(sum(col("n_members")).as("n_members"),
          min(col("rep_id")).as("rep_id"),
          max(col("max_chars")).as("max_chars"))
        .join(modalFold("lang"), Seq("component"))
        .join(modalFold("source"), Seq("component"))
        .select(col("component"), col("n_members"), col("rep_id"),
          col("lang"), col("source"), col("max_chars"))
    },
      // the relabel-then-sum fold must land on the same master table —
      // q276's oracle verbatim
      goldenRecordSql),
    // BM25 UNINDEX — the retrieval family's right-to-be-forgotten
    // fold. Postings are strictly per-document state, so erasure is
    // one anti-join on the postings table (work ∝ index size scan,
    // zero history re-tokenization) and every derived statistic
    // (df, dl, N, avgdl) re-derives from the surviving rows; scoring
    // over the folded index must equal a from-scratch build over the
    // surviving corpus — q81's SQL on the filtered table. The
    // contrast with q279/q280/q282 is the wave's point: per-row state
    // deletes by subset, AGGREGATED state needs a subtract-fold.
    QuerySpec("q278_bm25_unindex", (s, d) => {
      import s.implicits._
      val postings = Retrieval.buildPostings(docs(s, d), "doc_id", "text")
      val kept = postings.join(
        docs(s, d).filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      val tq = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      Retrieval.bm25FromPostings(kept, tq, "q_id", "q_text", k = 10)
    },
      // per-document postings subset by anti-join == from-scratch index
      // over the survivors: q81's BM25 SQL on the filtered corpus
      onSurvivors(bm25Sql)),
    // Centroid DELETE-fold: per-(label, dim) sums and counts are
    // linear, so subtracting the deleted vectors' sums leaves exactly
    // the survivors' state — the label-profile monitor forgets a
    // slice at cost ∝ deleted rows + |labels|·dim, never rescanning
    // retained history. Labels whose every vector was deleted drop
    // (n = 0). Oracle: q106's centroid-similarity SQL over the
    // surviving embeddings — centroids recomputed from scratch.
    QuerySpec("q280_centroid_delete", (s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"), col("embedding"))
      val full = Similarity.centroidSums(e, "label", "embedding")
      val del = Similarity.centroidSums(e.filter(col("vec_id") % 7 === 3),
        "label", "embedding")
      val folded = Similarity.mergeCentroidSums(full,
        del.select(col("label"), col("pos"), (-col("s")).as("s"),
          (-col("n")).as("n")), "label")
        .filter(col("n") > 0)
      Similarity.centroidSimilarity(
        Similarity.centroidsFromSums(folded, "label"), "label")
    },
      // subtract-folded centroid sums == centroids recomputed over the
      // surviving vectors: q106's SQL on the filtered embeddings
      onSurvivorsEmb(centroidSimSql)),
    // DECREMENTAL dedup clustering: the standing label table after a
    // delete batch — Dedup.decrementalComponents recomputes CC only
    // inside components that lost a member (deletes can only SPLIT
    // the component they touch; untouched components keep their
    // exact old rows), so work ∝ affected components' edges. LSH
    // pair existence depends only on the two endpoint signatures, so
    // the result must equal a from-scratch build over the surviving
    // corpus — q41's oracle on the filtered table.
    QuerySpec("q281_dedup_delete", (s, d) =>
      Dedup.decrementalComponents(dupGroups(s, d),
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id"),
        docs(s, d).filter(col("doc_id") % 7 === 3)
          .select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("keep_id")),
      // decremental CC == from-scratch labels over the survivors:
      // q41's oracle on the filtered corpus
      onSurvivors(dupGroupsSql)),
    // FORGET AUDIT: after a delete batch, count the rows still
    // referencing a deleted doc on every derived surface — under the
    // NAIVE pipeline that only filters the corpus (postings and
    // signature stores keep the deleted docs' rows verbatim) and the
    // half-measure that row-filters the label table (member rows go,
    // but surviving docs still POINT at a deleted keeper), versus the
    // PROPAGATED pipeline (anti-join unindex per per-row store,
    // decrementalComponents for the labels). The propagated column
    // is computed, not asserted — the gate proves zero residue.
    QuerySpec("q283_forget_audit", (s, d) => {
      val doc = docs(s, d)
      val isDel = (c: org.apache.spark.sql.Column) => c % 7 === 3
      val delIds = doc.filter(isDel(col("doc_id")))
        .select(col("doc_id")).localCheckpoint(true)
      val postings = Retrieval.buildPostings(doc, "doc_id", "text")
      val sigs = signatures(s, d)
      val groups = dupGroups(s, d)
      val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
      def res1(df: DataFrame, c: String) =
        df.filter(isDel(col(c))).agg(count(lit(1)).as("n"))
      def row(surface: String, naive: DataFrame, clean: DataFrame) =
        naive.crossJoin(clean.withColumnRenamed("n", "m"))
          .select(lit(surface).as("surface"),
            col("n").as("naive_residual"), col("m").as("clean_residual"))
      val cleanPostings = postings.join(delIds, Seq("doc_id"), "left_anti")
      val cleanSigs = sigs.join(delIds, Seq("doc_id"), "left_anti")
      val cleanGroups = Dedup.decrementalComponents(groups, pairs,
        delIds.select(col("doc_id").as("id")))
      val naiveGroups = groups.filter(!isDel(col("id")))
      row("postings", res1(postings, "doc_id"), res1(cleanPostings, "doc_id"))
        .unionByName(row("signatures",
          res1(sigs, "doc_id"), res1(cleanSigs, "doc_id")))
        .unionByName(row("dup_groups",
          res1(naiveGroups, "keep_id"),
          cleanGroups.filter(isDel(col("id")) || isDel(col("keep_id")))
            .agg(count(lit(1)).as("n"))))
    },
      // the naive residuals are counted from the UNFILTERED artifacts,
      // the clean ones recomputed over survivors — both sides computed,
      // zero asserted by the hash compare
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |post AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
         |           AS term FROM documents),
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS keep
         |      FROM reach GROUP BY a),
         |sdocs AS (SELECT * FROM main.documents WHERE $delKeep),
         |stoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM sdocs),
         |ssh AS (SELECT doc_id,
         |        unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                for i in range(1, len(w)-1)]) AS shingle
         |        FROM stoks),
         |smh AS (SELECT doc_id,
         |  min(substr(md5('0|' || shingle),  1, 8)) AS h0,
         |  min(substr(md5('0|' || shingle),  9, 8)) AS h1,
         |  min(substr(md5('0|' || shingle), 17, 8)) AS h2,
         |  min(substr(md5('0|' || shingle), 25, 8)) AS h3,
         |  min(substr(md5('1|' || shingle),  1, 8)) AS h4,
         |  min(substr(md5('1|' || shingle),  9, 8)) AS h5,
         |  min(substr(md5('1|' || shingle), 17, 8)) AS h6,
         |  min(substr(md5('1|' || shingle), 25, 8)) AS h7
         |  FROM ssh GROUP BY doc_id),
         |ssig AS (
         |  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS sg FROM smh
         |  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM smh
         |  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM smh
         |  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM smh),
         |scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM ssig a JOIN ssig b
         |            ON a.band = b.band AND a.sg = b.sg
         |          WHERE a.doc_id < b.doc_id),
         |sedges AS (SELECT id_a AS a, id_b AS b FROM scand
         |           UNION SELECT id_b, id_a FROM scand),
         |sreach(a, b) AS (
         |  SELECT a, b FROM sedges
         |  UNION
         |  SELECT r.a, e.b FROM sreach r JOIN sedges e ON r.b = e.a),
         |sg2 AS (SELECT a AS did, least(a, min(b)) AS keep
         |        FROM sreach GROUP BY a)
         |SELECT 'postings' AS surface,
         |  (SELECT count(*)::BIGINT FROM post WHERE doc_id % 7 = 3)
         |    AS naive_residual,
         |  (SELECT count(*)::BIGINT FROM post
         |   WHERE doc_id % 7 = 3 AND $delKeep) AS clean_residual
         |UNION ALL
         |SELECT 'signatures',
         |  (SELECT count(*)::BIGINT FROM sig WHERE doc_id % 7 = 3),
         |  (SELECT count(*)::BIGINT FROM ssig WHERE doc_id % 7 = 3)
         |UNION ALL
         |SELECT 'dup_groups',
         |  (SELECT count(*)::BIGINT FROM g
         |   WHERE did % 7 <> 3 AND keep % 7 = 3),
         |  (SELECT count(*)::BIGINT FROM sg2
         |   WHERE did % 7 = 3 OR keep % 7 = 3)""".stripMargin),
    // The STREAMED BM25 indexer (StreamingRetrieval) over 5 slices
    // plus a replayed slice — replay safety by per-doc UPSERT
    // (replace-by-key of deterministic re-tokenization), the third
    // idempotence class after KMV's set union and the CMS ledger;
    // the same path is the document-update path. Scoring over the
    // streamed table == q81, its oracle verbatim.
    QuerySpec("q306_bm25_stream", (s, d) => {
      import s.implicits._
      val table = "graft_bm25_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val doc = docs(s, d)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingRetrieval.processPostingsBatch(
          doc.filter(col("doc_id") % 5 === b), "doc_id", "text", table)
      }
      // at-least-once: slice 2 redelivered — the upsert collapses it
      graft.streaming.StreamingRetrieval.processPostingsBatch(
        doc.filter(col("doc_id") % 5 === 2), "doc_id", "text", table)
      val tq = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      Retrieval.bm25FromPostings(s.table(table), tq, "q_id", "q_text",
        k = 10)
    },
      // the streamed upsert index with a replayed slice must score
      // identically to the one-shot build — q81's oracle verbatim
      bm25Sql, writes = true),
    // Per-NODE local clustering over the candidate graph — q274's
    // global coefficient at vertex grain: a doc whose neighborhood is
    // a clique (local_bp 10000) collapses safely; one sitting on a
    // triangle-free chain is collision lint. Same degree-oriented
    // wedges, triangles exploded to their three vertices.
    QuerySpec("q304_local_clustering", (s, d) =>
      Graph.localClustering(
        Dedup.lshCandidatePairs(signatures(s, d), "doc_id")),
      // triangle list from the naive triple join exploded to vertices
      localClusteringSql),
    // The waterfall's debugging companion: per stage, the 3 LARGEST
    // documents that stage dropped (by tokens, doc_id tiebreak) with
    // the reason — what an operator actually opens when a funnel
    // step eats more than expected. Bounded output: 3 rows per stage.
    QuerySpec("q320_drop_samples", (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val nd = dupGroups(s, d).filter(col("id") =!= col("keep_id"))
        .select(col("id").as("doc_id"))
      val s3 = base.join(nd, Seq("doc_id"), "left_anti")
      val lenDrop = s3.filter(col("n_chars") < 200)
      val s4 = s3.filter(col("n_chars") >= 200)
      val contam = Dedup.contamination(
          docs(s, d).filter(col("doc_id") >= 20), "doc_id", "text",
          docs(s, d).filter(col("doc_id") < 20), "text", 3)
        .select(col("doc_id"))
      val decontamDrop = s4.join(contam, Seq("doc_id"), "left_semi")
      def top3(df: DataFrame, stage: String, ord: Int) = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n_tok").desc, col("doc_id").asc)
        df.select(col("doc_id"), col("n_tok"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(lit(ord.toLong).as("stage"), lit(stage).as("reason"),
            col("rk"), col("doc_id"), col("n_tok"))
      }
      top3(base.join(nd, Seq("doc_id"), "left_semi"),
          "neardup_keep_one", 3)
        .unionByName(top3(lenDrop, "length_gate", 4))
        .unionByName(top3(decontamDrop, "decontaminated", 5))
    },
      // the same drop sets ranked by size from first principles
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS component
         |      FROM reach GROUP BY a),
         |base AS (SELECT doc_id, n_chars,
         |           len(string_split(text, ' '))::BIGINT AS n_tok
         |         FROM documents),
         |nd AS (SELECT did AS doc_id FROM g WHERE did <> component),
         |s3 AS (SELECT base.* FROM base ANTI JOIN nd USING (doc_id)),
         |bad AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |hits AS (SELECT DISTINCT s.doc_id FROM sh s
         |         JOIN bad USING (shingle) WHERE s.doc_id >= 20),
         |dd AS (
         |  SELECT 3 AS stage, 'neardup_keep_one' AS reason, b.doc_id,
         |    b.n_tok FROM base b SEMI JOIN nd ON nd.doc_id = b.doc_id
         |  UNION ALL
         |  SELECT 4, 'length_gate', doc_id, n_tok FROM s3
         |  WHERE n_chars < 200
         |  UNION ALL
         |  SELECT 5, 'decontaminated', s3.doc_id, s3.n_tok FROM s3
         |  SEMI JOIN hits ON hits.doc_id = s3.doc_id
         |  WHERE s3.n_chars >= 200),
         |rk AS (SELECT stage, reason, doc_id, n_tok,
         |  CAST(row_number() OVER (PARTITION BY stage
         |    ORDER BY n_tok DESC, doc_id ASC) AS BIGINT) AS rk
         |  FROM dd)
         |SELECT CAST(stage AS BIGINT) AS stage, reason, rk, doc_id,
         |       n_tok FROM rk WHERE rk <= 3""".stripMargin),
    // CURATION WATERFALL: the headline funnel every data team ships —
    // docs/tokens remaining after each successive curation stage
    // (raw → exact dedup → near-dup keep-one → length gate →
    // decontamination), each stage the already-verified operator's
    // predicate nested on the previous survivors. One row per stage,
    // monotone by construction; the oracle rebuilds the same nest.
    QuerySpec("q319_curation_waterfall", (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
          .as("__fp"))
      // exact survivors: first doc per normalized fingerprint
      val s2 = base.withColumn("__keep",
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__fp"))))
        .filter(col("doc_id") === col("__keep")).drop("__keep")
      // near-dup keep-one: members keep only their component keeper
      val s3 = s2.join(dupGroups(s, d)
          .filter(col("id") =!= col("keep_id"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      val s4 = s3.filter(col("n_chars") >= 200)
      val s5 = s4.join(
        Dedup.contamination(docs(s, d).filter(col("doc_id") >= 20),
            "doc_id", "text", docs(s, d).filter(col("doc_id") < 20),
            "text", 3)
          .select(col("doc_id")), Seq("doc_id"), "left_anti")
      def row(stage: String, ord: Int, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .select(lit(ord.toLong).as("stage"), lit(stage).as("name"),
            col("n_docs"), col("n_tokens"))
      row("raw", 1, base)
        .unionByName(row("exact_dedup", 2, s2))
        .unionByName(row("neardup_keep_one", 3, s3))
        .unionByName(row("length_gate", 4, s4))
        .unionByName(row("decontaminated", 5, s5))
    },
      // the same nested funnel from first principles
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS component
         |      FROM reach GROUP BY a),
         |base AS (SELECT doc_id, n_chars,
         |           len(string_split(text, ' '))::BIGINT AS n_tok,
         |           md5(trim(regexp_replace(lower(text), '\\s+', ' ',
         |             'g'))) AS fp
         |         FROM documents),
         |s2 AS (SELECT * FROM (SELECT *, min(doc_id)
         |         OVER (PARTITION BY fp) AS kp FROM base)
         |       WHERE doc_id = kp),
         |dr AS (SELECT did FROM g WHERE did <> component),
         |s3 AS (SELECT s2.* FROM s2 ANTI JOIN dr ON dr.did = s2.doc_id),
         |s4 AS (SELECT * FROM s3 WHERE n_chars >= 200),
         |bad AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |hits AS (SELECT DISTINCT s.doc_id FROM sh s
         |         JOIN bad USING (shingle) WHERE s.doc_id >= 20),
         |s5 AS (SELECT s4.* FROM s4 ANTI JOIN hits
         |       ON hits.doc_id = s4.doc_id)
         |SELECT 1::BIGINT AS stage, 'raw' AS name,
         |  count(*)::BIGINT AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM base
         |UNION ALL SELECT 2, 'exact_dedup', count(*),
         |  CAST(sum(n_tok) AS BIGINT) FROM s2
         |UNION ALL SELECT 3, 'neardup_keep_one', count(*),
         |  CAST(sum(n_tok) AS BIGINT) FROM s3
         |UNION ALL SELECT 4, 'length_gate', count(*),
         |  CAST(sum(n_tok) AS BIGINT) FROM s4
         |UNION ALL SELECT 5, 'decontaminated', count(*),
         |  CAST(sum(n_tok) AS BIGINT) FROM s5""".stripMargin),
    // Dedup ROI: per source, the tokens keep-one actually saves (the
    // number that justifies the dedup pass's cost at 100 TB) — total
    // tokens, tokens on dropped docs, and the saving in bp. One label
    // join over the standing groups; drops = members that are not
    // their component's keeper.
    QuerySpec("q318_dedup_roi", (s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      val drops = dupGroups(s, d).filter(col("id") =!= col("keep_id"))
        .select(col("id").as("doc_id"), lit(true).as("__drop"))
      toks.join(drops, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("__drop"), col("n_tok")).otherwise(0L))
            .as("tokens_saved"))
        .withColumn("saved_bp",
          expr("tokens_saved * 10000L div n_tokens"))
    },
      // drops = non-keeper members of the recursive-CC components
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS component
         |      FROM reach GROUP BY a),
         |tok AS (SELECT doc_id, source,
         |          len(string_split(text, ' '))::BIGINT AS n_tok
         |        FROM documents),
         |dr AS (SELECT did FROM g WHERE did <> component)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN dr.did IS NOT NULL THEN n_tok ELSE 0 END)
         |    AS BIGINT) AS tokens_saved,
         |  CAST(sum(CASE WHEN dr.did IS NOT NULL THEN n_tok ELSE 0 END)
         |    * 10000 // sum(n_tok) AS BIGINT) AS saved_bp
         |FROM tok LEFT JOIN dr ON dr.did = tok.doc_id
         |GROUP BY source""".stripMargin),
    // Source COPY-FLOW matrix: for every source pair, how many
    // near-dup components contain docs from BOTH — the dataset-
    // forensics artifact ("which feeds mirror each other") behind
    // cross-source dedup budgeting; q98's token-overlap at component
    // grain. Rides the standing labels; one label join + one
    // distinct per (component, source).
    QuerySpec("q317_copy_flow", (s, d) => {
      val cs = docs(s, d)
        .join(dupGroups(s, d).select(col("id").as("doc_id"),
          col("keep_id").as("component")), Seq("doc_id"))
        .select(col("component"), col("source")).distinct()
        .localCheckpoint(true)
      cs.select(col("component"), col("source").as("source_a"))
        .join(cs.select(col("component"), col("source").as("source_b")),
          Seq("component"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_components"))
    },
      // component × source pairs over the recursive-CC labels
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS component
         |      FROM reach GROUP BY a),
         |cs AS (SELECT DISTINCT g.component, d.source
         |       FROM g JOIN documents d ON d.doc_id = g.did)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       count(*)::BIGINT AS n_shared_components
         |FROM cs a JOIN cs b ON a.component = b.component
         |  AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin),
    // Native GENERATOR (UDTF) through the gate: per-doc positioned
    // 3-grams streamed row-by-row via the Generate operator
    // (functions.PositionedShingles) instead of materializing the
    // shingle array and exploding it — same ShingleKernel
    // tokenization, so the rows must be byte-identical to the
    // composed form; the oracle rebuilds them from string_split.
    QuerySpec("q313_shingle_generator", (s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.functions.PositionedShingles
          .positionedShingles(col("text"), 3).as(Seq("pos", "ngram")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("ngram")),
      // positioned n-grams from first principles — the streamed
      // Generator rows must match the composed split byte for byte
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents),
        |sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
        |       FROM toks, UNNEST(range(1, len(w) - 1)) AS u(i))
        |SELECT doc_id, pos, ngram FROM sh""".stripMargin),
    // INCREMENTAL per-node clustering: the standing per-node triangle
    // counts fold with the batch's NEW triangles — materialized as
    // distinct vertex triples (Graph.newTriangles, ∝ batch × degree)
    // precisely because the delta must be ATTRIBUTED to vertices,
    // which q285's count-only inclusion–exclusion cannot do. Degrees
    // are a single pass over the full edge set. q304's oracle
    // VERBATIM.
    QuerySpec("q307_local_clustering_incr", (s, d) => {
      val pairs = Dedup.lshCandidatePairs(signatures(s, d), "doc_id")
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
      val isNew = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val oldE = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
      val newE = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
      val standing = Graph.localClustering(oldE)
        .select(col("n"), col("n_tri").as("__old"))
      val delta = Graph.newTriangles(oldE, newE)
        .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("__d"))
      val deg = pairs.select(col("id_a").as("n"))
        .unionByName(pairs.select(col("id_b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      deg.join(standing, Seq("n"), "left")
        .join(delta, Seq("n"), "left")
        .select(col("n"), col("deg"),
          (coalesce(col("__old"), lit(0L)) + coalesce(col("__d"), lit(0L)))
            .as("n_tri"))
        .withColumn("local_bp",
          when(col("deg") < 2, lit(0L))
            .otherwise(expr("n_tri * 2L * 10000L div (deg * (deg - 1))")))
    },
      // the standing-counts + new-triangle fold must land on the same
      // per-node table — q304's oracle verbatim
      localClusteringSql),
    // INCREMENTAL AQP sample maintenance: the md5-bucket sample is a
    // deterministic row predicate, so the standing sample folds with
    // the batch's sample by plain union (and erasure is an anti-join)
    // — the estimator over the folded sample must be IDENTICAL to
    // q305 over the one-shot sample: its oracle verbatim.
    QuerySpec("q308_aqp_incremental", (s, d) => {
      val doc = docs(s, d)
      val inSample = expr(
        "conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10)")
        .cast("long") % 10 === 0
      val standing = doc.filter(col("doc_id") % 5 =!= 0).filter(inSample)
      val batch = doc.filter(col("doc_id") % 5 === 0).filter(inSample)
      val sampled = standing.unionByName(batch)
      val est = sampled.groupBy(col("source"))
        .agg((count(lit(1)) * 10).as("est_docs"),
          (sum(col("n_chars")) * 10).as("est_chars"))
      val exact = doc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
      exact.join(est, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("sum_chars"),
          coalesce(col("est_docs"), lit(0L)).as("est_docs"),
          coalesce(col("est_chars"), lit(0L)).as("est_chars"),
          expr("abs(coalesce(est_chars, 0L) - sum_chars) * 10000L" +
            " div sum_chars").as("err_bp"))
    },
      // the folded sample is the identical deterministic subset — q305's
      // oracle verbatim
      aqpSql),
    // APPROXIMATE query processing: per-source count/sum estimated
    // from a deterministic 10% hash sample (md5 bucket 0 of 10) and
    // scaled by the inverse sampling rate (Horvitz–Thompson), with
    // the exact values as verification columns and the relative
    // error in bp — the sampled plan reads 10% of the corpus at
    // 100 TB; the gate pins both the estimator arithmetic and the
    // error it actually achieves on this corpus.
    QuerySpec("q305_aqp_groupby", (s, d) => {
      val doc = docs(s, d)
      val sampled = doc.filter(
        expr("conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10)")
          .cast("long") % 10 === 0)
      val est = sampled.groupBy(col("source"))
        .agg((count(lit(1)) * 10).as("est_docs"),
          (sum(col("n_chars")) * 10).as("est_chars"))
      val exact = doc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
      exact.join(est, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("sum_chars"),
          coalesce(col("est_docs"), lit(0L)).as("est_docs"),
          coalesce(col("est_chars"), lit(0L)).as("est_chars"),
          expr("abs(coalesce(est_chars, 0L) - sum_chars) * 10000L" +
            " div sum_chars").as("err_bp"))
    },
      // the same Horvitz–Thompson estimator over the same md5 sample
      aqpSql),
    // RELEASE GATE: the one-artifact readiness report a dataset
    // publish blocks on — each row is a check with its measured
    // value, its threshold, and the verdict, composing the round's
    // verified families (keep-one dup rate, benchmark contamination,
    // the q291 contract total, corpus size). NON-VACUOUS at gate SF:
    // dup rate 540 bp > the 500 bp budget, contamination 379 docs
    // (3-gram overlap over a small synthetic vocabulary is rampant —
    // exactly what a release gate should surface), and the contract
    // (pk_unique's 14168 dup rows) all genuinely FAIL; size passes.
    // The verdicts are inside the hash — the gate catching these is
    // itself what the oracle pins.
    QuerySpec("q300_release_gate", (s, d) => {
      val doc = docs(s, d)
      val groups = dupGroups(s, d)
      val dup = groups.agg(count(lit(1)).as("__m"),
          countDistinct(col("keep_id")).as("__c"))
        .crossJoin(doc.agg(count(lit(1)).as("__n")))
        .select(lit("dup_rate_bp").as("check"),
          expr("(__m - __c) * 10000L div __n").as("value"),
          lit(500L).as("threshold"))
      val contam = Dedup.contamination(doc.filter(col("doc_id") >= 20),
          "doc_id", "text", doc.filter(col("doc_id") < 20), "text", 3)
        .agg(count(lit(1)).as("value"))
        .select(lit("contaminated_docs").as("check"), col("value"),
          lit(50L).as("threshold"))
      val contract = Expectations.evaluate(t(s, d, "lineitem"),
          RelationalQueries.contractRules(t(s, d, "orders")))
        .agg(sum(col("n_violations")).as("value"))
        .select(lit("contract_violations").as("check"), col("value"),
          lit(0L).as("threshold"))
      val size = doc.agg((-count(lit(1))).as("value"))
        .select(lit("corpus_size_neg").as("check"), col("value"),
          lit(-400L).as("threshold"))
      dup.unionByName(contam).unionByName(contract).unionByName(size)
        .withColumn("pass", col("value") <= col("threshold"))
    },
      // each check recomputed from first principles: the CC drop count,
      // the shingle-overlap contamination set, the full q291 contract
      // total as a subquery, and the corpus size — verdicts included in
      // the hash, so the gate catching the dup-rate and contract
      // failures is itself pinned
      s"""WITH RECURSIVE $shCte,
         |$mhCte,
         |$pairsCte,
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS keep
         |      FROM reach GROUP BY a),
         |bad AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
         |hits AS (SELECT DISTINCT s.doc_id FROM sh s
         |         JOIN bad USING (shingle) WHERE s.doc_id >= 20),
         |checks(chk, value, threshold) AS (
         |  SELECT 'dup_rate_bp',
         |    ((SELECT count(*) FROM g) -
         |     (SELECT count(DISTINCT keep) FROM g)) * 10000
         |      // (SELECT count(*) FROM documents), 500
         |  UNION ALL
         |  SELECT 'contaminated_docs', (SELECT count(*) FROM hits), 50
         |  UNION ALL
         |  SELECT 'contract_violations',
         |    (SELECT CAST(sum(n_violations) AS BIGINT) FROM
         |      (${RelationalQueries.expectationsSql.linesIterator
                    .mkString("\n         |       ")})),
         |    0
         |  UNION ALL
         |  SELECT 'corpus_size_neg',
         |    -(SELECT count(*) FROM documents), -400)
         |SELECT chk AS "check", CAST(value AS BIGINT) AS value,
         |       CAST(threshold AS BIGINT) AS threshold,
         |       value <= threshold AS pass
         |FROM checks""".stripMargin),
    // INCREMENTAL exact-substring dedup: standing state is the old
    // corpus's per-gram table (distinct-doc count + first
    // occurrence), its occurrence index, and its finished OUTPUT.
    // A batch folds in by summed doc counts (batches are
    // doc-disjoint) and min-struct first; the only old docs
    // re-cleaned are those containing an AFFECTED gram — one whose
    // dup status flipped on or whose surviving first occurrence
    // moved (the retroactive case: a batch doc can both newly-
    // duplicate an old doc's span AND steal first-occurrence status
    // from it). Unaffected old docs pass their standing output
    // through untouched, so per-batch work is batch scan + affected-
    // gram joins against the standing index — never a history
    // re-clean. Output == from-scratch q267 (its oracle VERBATIM).
    QuerySpec("q268_substring_dedup_incremental", (s, d) => {
      val n = 8
      val doc = docs(s, d).select(col("doc_id"), col("text"))
      val oldDoc = doc.filter(col("doc_id") % 5 =!= 0)
      val batch = doc.filter(col("doc_id") % 5 === 0)
      def occOf(df: DataFrame) = df.select(col("doc_id"),
        posexplode(shingles(col("text"), n)).as(Seq("start", "g")))
      def gramsOf(o: DataFrame) = o.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"),
          min(struct(col("doc_id"), col("start"))).as("first"))
      def cleanOf(docDf: DataFrame, o: DataFrame,
                  dup: DataFrame): DataFrame =
        Dedup.removeSpans(docDf, "doc_id", "text",
          o.join(dup, Seq("g"))
            .filter(!(col("doc_id") === col("first.doc_id") &&
              col("start") === col("first.start")))
            .select(col("doc_id").as("doc_b"), col("start").as("start_b"),
              lit(n.toLong).as("len")))
      // standing artifacts a deployment persists between batches
      val occOld = occOf(oldDoc).localCheckpoint(true)
      val gOld = gramsOf(occOld).localCheckpoint(true)
      val outOld = cleanOf(oldDoc, occOld,
        gOld.filter(col("nd") >= 2).select(col("g"), col("first")))
        .localCheckpoint(true)
      // fold the batch
      val occB = occOf(batch).localCheckpoint(true)
      val merged = gOld.unionByName(gramsOf(occB))
        .groupBy(col("g"))
        .agg(sum(col("nd")).as("nd"), min(col("first")).as("first"))
      val affectedG = merged.filter(col("nd") >= 2)
        .join(gOld.select(col("g"), col("nd").as("__nd0"),
          col("first").as("__f0")), Seq("g"), "left")
        .filter(col("__nd0").isNull || col("__nd0") < 2 ||
          col("first") =!= col("__f0"))
        .select(col("g"))
      val touchedOld = occOld.join(affectedG, Seq("g"), "left_semi")
        .select(col("doc_id")).distinct().localCheckpoint(true)
      val dupM = merged.filter(col("nd") >= 2)
        .select(col("g"), col("first"))
      val outTouched = cleanOf(
        oldDoc.join(touchedOld, Seq("doc_id"), "left_semi")
          .unionByName(batch),
        occOld.join(touchedOld, Seq("doc_id"), "left_semi")
          .unionByName(occB),
        dupM)
      outOld.join(touchedOld, Seq("doc_id"), "left_anti")
        .unionByName(outTouched)
    },
      // fold(old, batch) must be indistinguishable from from-scratch —
      // q267's oracle VERBATIM (the invariant pattern), including the
      // retroactive case: a batch doc adding the second occurrence of
      // an old doc's 8-gram excises it from the OLD doc too
      substrDedupSql),
    QuerySpec("q25_sim_bruteforce_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopKScalable(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
    },
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         |p AS (SELECT q_id, n_id, round(${cosSql("q_vec", "n_vec")}, 4) AS cos
         |      FROM c CROSS JOIN q WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rk
         |      FROM p)
         |SELECT q_id, n_id, cos, rk FROM r WHERE rk <= 5""".stripMargin),
    // BM25 lexical retrieval: keyword queries ranked against the
    // corpus — the search modality embeddings don't cover. Query
    // terms broadcast into the postings; df/length-norm/scoring all
    // run over the filtered postings only.
    QuerySpec("q81_bm25_topk", (s, d) => {
      import s.implicits._
      val queries = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        queries, "q_id", "q_text", k = 10)
    },
      bm25Sql),
    // Passage-level retrieval with max-passage doc aggregation — the
    // RAG shape: long docs chunk into q75's windows, BM25 ranks the
    // CHUNKS (length normalization now means passage length, so one
    // relevant paragraph in a long doc isn't drowned), and each doc
    // scores as its best chunk. Chunk ids pack as doc*1000+idx; the
    // top-50 chunk cut is part of the contract (mirrored in the
    // oracle), then docs re-rank at 10.
    QuerySpec("q157_chunk_retrieval", (s, d) => {
      import s.implicits._
      val queries = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      val ch = Curation.chunkDocs(docs(s, d), "doc_id", "text", 16, 8)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      val top = Retrieval.bm25TopK(ch, "chunk_id", "chunk_text",
        queries, "q_id", "q_text", k = 50)
      val ds = top
        .select(col("q_id"), expr("div(doc_id, 1000)").as("doc_id"),
          col("score"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(max(col("score")).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      ds.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
    },
      chunkBm25Sql),
    // The eval harness closed over retrieval: precision/recall/MRR@10
    // of the q81 ranking against conjunctive (all-terms-present)
    // judgments — rank-and-count arithmetic, exact on both engines.
    QuerySpec("q111_retrieval_eval", (s, d) => {
      import s.implicits._
      val queries = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      val ranked = Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        queries, "q_id", "q_text", k = 10)
      val judged = Retrieval.conjunctiveJudgments(docs(s, d), "doc_id",
        "text", queries, "q_id", "q_text")
      Retrieval.evalRanked(ranked, judged, k = 10)
    },
      s"""$bm25Ctes,
         |nq AS (SELECT q_id, count(*) AS n_terms FROM qt GROUP BY q_id),
         |dterm AS (SELECT DISTINCT doc_id, term FROM postings),
         |jm AS (SELECT qt.q_id, dterm.doc_id
         |       FROM qt JOIN dterm USING (term) JOIN nq USING (q_id)
         |       GROUP BY qt.q_id, dterm.doc_id, nq.n_terms
         |       HAVING count(*) = nq.n_terms),
         |nrel AS (SELECT q_id, count(*) AS n_rel FROM jm GROUP BY q_id),
         |h AS (SELECT r.q_id, r.rk, (jm.doc_id IS NOT NULL) AS rel
         |      FROM r LEFT JOIN jm ON r.q_id = jm.q_id AND r.doc_id = jm.doc_id
         |      WHERE r.rk <= 10),
         |agg AS (SELECT q_id,
         |          CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |          min(CASE WHEN rel THEN rk END) AS first_hit
         |        FROM h GROUP BY q_id)
         |SELECT agg.q_id, agg.n_hits,
         |  CAST(coalesce(nrel.n_rel, 0) AS BIGINT) AS n_rel,
         |  round(agg.n_hits / 10.0, 4) AS precision_at_k,
         |  round(CASE WHEN coalesce(nrel.n_rel, 0) > 0
         |             THEN agg.n_hits::DOUBLE / nrel.n_rel ELSE 0.0 END, 4)
         |    AS recall_at_k,
         |  round(coalesce(1.0 / agg.first_hit, 0.0), 4) AS mrr
         |FROM agg LEFT JOIN nrel USING (q_id)""".stripMargin),
    // nDCG@10 of the q81 ranking against GRADED partial-match
    // judgments (grade = matched query terms) — the rank-position-
    // discounted metric the q111 harness can't express. DCG terms are
    // 1e-6 fixed-point summands; the ideal ranking runs through the
    // topKPerKey heaps, not a per-query window.
    QuerySpec("q210_retrieval_ndcg", (s, d) => {
      import s.implicits._
      val queries = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      Retrieval.evalNdcg(
        Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
          queries, "q_id", "q_text", k = 10),
        Retrieval.gradedJudgments(docs(s, d), "doc_id", "text",
          queries, "q_id", "q_text"),
        k = 10)
    },
      // graded relevance (matched-term count), fixed-point DCG terms,
      // heap-identical ideal order (grade desc, doc_id asc)
      s"""$bm25Ctes,
         |dterm AS (SELECT DISTINCT doc_id, term FROM postings),
         |gj AS (SELECT qt.q_id, dterm.doc_id,
         |       CAST(count(*) AS BIGINT) AS grade
         |       FROM qt JOIN dterm USING (term) GROUP BY 1, 2),
         |dcg AS (SELECT r.q_id,
         |        sum(CAST(round((pow(2, gj.grade) - 1) / log2(r.rk + 1)
         |          * 1000000, 0) AS BIGINT)) AS dcg
         |        FROM r JOIN gj ON r.q_id = gj.q_id AND r.doc_id = gj.doc_id
         |        WHERE r.rk <= 10 GROUP BY 1),
         |ig AS (SELECT q_id, grade, row_number() OVER (PARTITION BY q_id
         |         ORDER BY grade DESC, doc_id ASC) AS irk FROM gj),
         |idcg AS (SELECT q_id,
         |         sum(CAST(round((pow(2, grade) - 1) / log2(irk + 1)
         |           * 1000000, 0) AS BIGINT)) AS idcg
         |         FROM ig WHERE irk <= 10 GROUP BY 1)
         |SELECT idcg.q_id, CAST(coalesce(dcg.dcg, 0) AS BIGINT) AS dcg_fp,
         |  CAST(idcg.idcg AS BIGINT) AS idcg_fp,
         |  round(coalesce(dcg.dcg, 0) / CAST(idcg.idcg AS DOUBLE), 4) AS ndcg
         |FROM idcg LEFT JOIN dcg USING (q_id)""".stripMargin),
    // Corpus-health: per-source token-distribution entropy (template
    // collapse shows up as a low-entropy source long before a human
    // reads a sample).
    QuerySpec("q112_source_entropy", (s, d) =>
      Surprisal.tokenEntropyPerKey(docs(s, d), "source", "text"),
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |c AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |        count(*) AS vocab FROM c GROUP BY source)
        |SELECT c.source, n.vocab, n.n,
        |  round(ln(n.n) - sum(c.c::DOUBLE * ln(c.c::DOUBLE)) / n.n, 4) + 0.0
        |    AS entropy
        |FROM c JOIN n USING (source) GROUP BY c.source, n.vocab, n.n""".stripMargin),
    // Incremental retrieval index: postings built per-slice and
    // appended (per-document state only — df/dl/stats derive), scored
    // identically to the from-scratch q81 build, which is exactly
    // what the oracle recomputes.
    QuerySpec("q95_bm25_incremental", (s, d) => {
      import s.implicits._
      val doc = docs(s, d)
      val old = Retrieval.buildPostings(
        doc.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      val batch = Retrieval.buildPostings(
        doc.filter(col("doc_id") % 5 === 0), "doc_id", "text")
      val tq = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      Retrieval.bm25FromPostings(old.unionByName(batch),
        tq, "q_id", "q_text", k = 10)
    },
      // incremental postings == from-scratch build: same oracle
      bm25Sql),
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 list and
    // the embedding top-k for the same query ids — rank-only fusion,
    // so the incomparable score scales never meet. Both inputs are
    // the already-verified operators.
    QuerySpec("q82_rrf_fusion", (s, d) => {
      import s.implicits._
      val tq = Seq((0L, "spark join"), (1L, "data merge sort"),
        (2L, "the slow query")).toDF("q_id", "q_text")
      val bm = Retrieval.bm25TopK(docs(s, d), "doc_id", "text",
        tq, "q_id", "q_text", k = 10)
        .select(col("q_id"), col("doc_id"), col("rk"))
      val e = emb(s, d)
      val ann = Similarity.bruteForceTopKScalable(e,
        e.filter(col("vec_id") < 3), "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rk"))
      Retrieval.rrfFuse(Seq(bm, ann), k = 10)
    },
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
         |postings AS (SELECT doc_id, unnest(w) AS term FROM toks),
         |tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |        FROM postings GROUP BY doc_id, term),
         |q AS (SELECT * FROM (VALUES (0, 'spark join'), (1, 'data merge sort'),
         |                            (2, 'the slow query')) t(q_id, q_text)),
         |qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc
         |        WHERE term IN (SELECT term FROM qt) GROUP BY term),
         |sc AS (SELECT qt.q_id, tfc.doc_id,
         |         round(sum(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
         |           (tfc.tf * 2.2) /
         |           (tfc.tf + 1.2 * (0.25 + (0.75 * dl.dl) / stats.avgdl))), 4) AS score
         |       FROM qt JOIN tfc USING (term) JOIN dfq USING (term)
         |            JOIN dl ON tfc.doc_id = dl.doc_id CROSS JOIN stats
         |       GROUP BY qt.q_id, tfc.doc_id),
         |rbm AS (SELECT q_id, doc_id,
         |          CAST(row_number() OVER (PARTITION BY q_id
         |            ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
         |        FROM sc),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
         |cv AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         |p AS (SELECT q_id, n_id, round(${cosSql("q_vec", "n_vec")}, 4) AS cos
         |      FROM cv CROSS JOIN qv WHERE q_id <> n_id),
         |ram AS (SELECT q_id, n_id AS doc_id,
         |          CAST(row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rk
         |        FROM p),
         |u AS (SELECT q_id, doc_id, rk FROM rbm WHERE rk <= 10
         |      UNION ALL SELECT q_id, doc_id, rk FROM ram WHERE rk <= 10),
         |f AS (SELECT q_id, doc_id, round(sum(1.0 / (60.0 + rk)), 6) AS rrf
         |      FROM u GROUP BY q_id, doc_id),
         |r AS (SELECT q_id, doc_id, rrf,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |          ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rk
         |      FROM f)
         |SELECT q_id, doc_id, rrf, rk FROM r WHERE rk <= 10""".stripMargin),
    // Product-quantization ANN through the gate: deterministic seed
    // codebooks (md5-rank, oracle-expressible), m=4 subspace codes,
    // ADC lookup-table scan — the memory-compressed counterpart to
    // q43's IVF pruning. The oracle recomputes codebook, codes, LUT
    // and the ranked scan in SQL, so encode + ADC are value-checked
    // end-to-end, approximation included.
    QuerySpec("q79_pq_topk", (s, d) => {
      val e = emb(s, d)
      val cb = Pq.seedCodebook(e, "vec_id", "embedding", 16)
      val codes = Pq.encode(e, "vec_id", "embedding", cb, 4)
      Pq.topK(codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        cb, 4, 5)
    },
      pqTopkSql),
    // Incremental PQ ingest: the codebook persists as a managed table
    // (codes are only comparable across batches under ONE codebook),
    // and an arriving batch encodes against it — pure projection, no
    // training pass, no corpus contact. Codes equal what a
    // from-scratch encode would give (argmin determinism), which is
    // exactly what the oracle recomputes.
    QuerySpec("q93_pq_encode_incremental", (s, d) => {
      val e = emb(s, d)
      val cb = Pq.seedCodebook(e.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", 16)
      Pq.saveCodebook(s, "g_pq_cb", cb)
      Pq.encodeSaved(s, "g_pq_cb", e.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", 4)
        .select(col("vec_id"),
          concat_ws(",", transform(col("codes"), c => c.cast("string")))
            .as("codes"))
    },
      """WITH js AS (SELECT unnest(range(0, 4)) AS j),
        |seeds AS (SELECT embedding,
        |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '|pq') ASC) - 1 AS c
        |          FROM embeddings WHERE vec_id % 5 <> 0
        |          ORDER BY md5(CAST(vec_id AS VARCHAR) || '|pq') ASC LIMIT 16),
        |exp AS (SELECT v.vec_id, s.c, js.j,
        |          list_sum([(v.embedding[i]::DOUBLE - s.embedding[i]::DOUBLE) *
        |                    (v.embedding[i]::DOUBLE - s.embedding[i]::DOUBLE)
        |                    for i in range(js.j*16 + 1, js.j*16 + 17)]) AS d
        |        FROM embeddings v CROSS JOIN seeds s CROSS JOIN js
        |        WHERE v.vec_id % 5 = 0),
        |codes AS (SELECT vec_id, j, c FROM
        |            (SELECT vec_id, j, c, row_number() OVER
        |               (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        |             FROM exp)
        |          WHERE rn = 1)
        |SELECT vec_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY j) AS codes
        |FROM codes GROUP BY vec_id""".stripMargin, writes = true),
    // Two-stage retrieval through the gate: ADC shortlist of 20,
    // exact-cosine re-rank to 5 — quantization error costs recall
    // only, never ordering among returned results. The exact pass
    // touches 20 vectors per query instead of the corpus.
    QuerySpec("q87_pq_rerank", (s, d) => {
      val e = emb(s, d)
      val cb = Pq.seedCodebook(e, "vec_id", "embedding", 16)
      Pq.topKRerank(Pq.encode(e, "vec_id", "embedding", cb, 4),
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        cb, 4, k = 5, shortlist = 20)
    },
      s"""WITH $pqCoreCtes,
         |shortr AS (SELECT q_id, n_id,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY dist ASC, n_id ASC) AS srk
         |           FROM dist),
         |shortl AS (SELECT q_id, n_id FROM shortr WHERE srk <= 20),
         |ex AS (SELECT s.q_id, s.n_id,
         |         round(${cosSql("q.embedding", "c.embedding")}, 4) AS cos
         |       FROM shortl s
         |       JOIN embeddings q ON s.q_id = q.vec_id
         |       JOIN embeddings c ON s.n_id = c.vec_id),
         |rr AS (SELECT q_id, n_id, cos,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rk
         |       FROM ex)
         |SELECT q_id, n_id, cos, rk FROM rr WHERE rk <= 5""".stripMargin),
    // IVF-PQ composition through the gate: probe ALL lists (so the
    // probe union is the whole corpus) and the ADC scan over the
    // per-list codes must reproduce q79's full-scan PQ result exactly
    // — proving the coded-lists layout, probe selection, and in-list
    // ADC end-to-end against the same oracle. The pruned regime
    // (nprobe < #lists) is pinned by PqSpec recall assertions.
    QuerySpec("q80_ivfpq_topk", (s, d) => {
      val e = emb(s, d)
      val (centroids, indexed) = ivfIndex(s, d)
      val cb = Pq.seedCodebook(e, "vec_id", "embedding", 16)
      val coded = indexed.select(col("list_id"), col("vec_id"),
        Pq.codesCol(col("embedding"), cb, 4).as("codes"))
      Pq.topKIvf(coded, centroids, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", cb, 4, k = 5, nprobe = 8)
    },
      // IVF-PQ with every list probed == full-scan PQ: same oracle
      pqTopkSql),
    // TWO-LEVEL IVF-PQ through the gate — q198's hierarchy composed
    // with q80's codes, the memory-bounded >10⁹-vector path: the
    // hierarchy prunes which (coarse, fine) lists are read, PQ
    // shrinks every read row to m bytes. Probing EVERY cell makes the
    // probe union the whole corpus, so the ADC scan must reproduce
    // q79's full-scan PQ result exactly — a misrouted, dropped, or
    // duplicated row anywhere in the two-level layout breaks the
    // hash. The pruned regime is pinned by PqSpec recall assertions.
    QuerySpec("q199_ivf2pq_topk", (s, d) => {
      val e = emb(s, d)
      val cb = Pq.seedCodebook(e, "vec_id", "embedding", 16)
      val (coarse, fineSeeds, lists) = IvfIndex.buildTwoLevel(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        k1 = 4, k2 = 3, coarseIters = 1)
      val coded = lists.select(col("list_id"), col("fine_id"), col("vec_id"),
        Pq.codesCol(col("embedding"), cb, 4).as("codes"))
      Pq.topKIvf2(coded, coarse, fineSeeds, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", cb, 4, k = 5, nprobe1 = 4, nprobe2 = 3)
    },
      pqTopkSql),
    // The IVF index through the gate: with nprobe = k (all lists
    // probed) the index is EXACT, so the brute-force oracle applies
    // verbatim — proving build + assignment + probe end-to-end. The
    // approximate regime (nprobe < k) is covered by ScaleOpsSpec's
    // recall assertions.
    QuerySpec("q43_ivf_topk_exact", (s, d) => {
      val (centroids, indexed) = ivfIndex(s, d)
      IvfIndex.topK(indexed, centroids, emb(s, d).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8)
    },
      // nprobe = k makes IVF exact — identical to the brute-force oracle
      ivfExactSql),
    // IVF DELETE: posting lists are per-row state — erasure is one
    // anti-join on the indexed table (the ANN family's q278) — while
    // the CENTROIDS deliberately stay STALE: assignment quality after
    // mass deletion is the drift-trigger's job (q140/q141 rebuild),
    // and at nprobe = k the probe is exact regardless, so the folded
    // index must reproduce brute force over the survivors — q43's
    // oracle on the filtered embeddings (query side filtered too:
    // queries are corpus rows).
    QuerySpec("q290_ivf_delete", (s, d) => {
      val (centroids, indexed) = ivfIndex(s, d)
      val kept = indexed.join(
        emb(s, d).filter(col("vec_id") % 7 === 3).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      IvfIndex.topK(kept, centroids,
        emb(s, d).filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "vec_id", "embedding", k = 5, nprobe = 8)
    },
      // delete-folded lists at full probes == brute force over the
      // survivors: q43's oracle on the filtered embeddings
      onSurvivorsEmb(ivfExactSql)),
    // The TWO-LEVEL index's saved-artifact lifecycle through the
    // gate: build → saveTwoLevel (centroids + fine seeds as managed
    // tables, lists bucketed on the composite (list_id, fine_id)) →
    // reload by name → probe every cell in MERGE mode, so the corpus
    // side reads straight from the bucketed layout. Full probes are
    // exact — the q43 brute-force oracle applies verbatim; a row the
    // save/reload dropped, misrouted, or duplicated breaks the hash.
    QuerySpec("q206_ivf2_saved", (s, d) => {
      val (coarse, fineSeeds, lists) = IvfIndex.buildTwoLevel(
        emb(s, d).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k1 = 4, k2 = 3, coarseIters = 1)
      val name = "g_ivf2_saved"
      IvfIndex.saveTwoLevel(s, name, coarse, fineSeeds, lists,
        buckets = 4, provenance = Map("levels" -> "2", "k1" -> "4", "k2" -> "3"))
      IvfIndex.topK2Saved(s, name,
        emb(s, d).filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe1 = 4, nprobe2 = 3, broadcastProbes = false)
    },
      // every (coarse, fine) cell probed through the reloaded bucketed
      // layout — exact, so the same brute-force oracle applies
      ivfExactSql, writes = true),
    // Incremental index ingest through the gate: centroids trained on
    // 80% of the corpus, the remaining 20% APPENDED with appendSaved
    // (no rebuild, no Lloyd pass, bucket-aligned write). nprobe = k
    // keeps the probe exact, so the brute-force oracle over the FULL
    // corpus applies verbatim — a dropped, misrouted, or duplicated
    // appended row breaks rank order and fails the hash.
    QuerySpec("q67_ivf_append_exact", (s, d) =>
      IvfIndex.topKSaved(s, ivfAppended(s, d),
        emb(s, d).filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 8, broadcastProbes = false),
      // append leaves nprobe = k exact — the brute-force oracle verbatim
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         |p AS (SELECT q_id, n_id, round(${cosSql("q_vec", "n_vec")}, 4) AS cos
         |      FROM c CROSS JOIN q WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rk
         |      FROM p)
         |SELECT q_id, n_id, cos, rk FROM r WHERE rk <= 5""".stripMargin,
      // the saved index tables are built on first use per (session, dir)
      writes = true),
    // Hard-negative mining for contrastive training (the DPR-style
    // near-miss harvest): per anchor, the nearest same-label positive
    // and the 5 nearest different-label negatives. The whole triplet
    // table goes through the gate — positive choice, negative set,
    // and rank order all hash-compared against the brute-force SQL.
    QuerySpec("q208_hard_negatives", (s, d) => {
      val e = emb(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", k = 5)
    },
      // positive = same-label argmax, negatives = different-label top-5
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec,
         |           CAST(label AS BIGINT) AS q_lab
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS n_id, embedding AS n_vec,
         |      CAST(label AS BIGINT) AS n_lab FROM embeddings),
         |p AS (SELECT q_id, q_lab, n_id, n_lab,
         |      round(${cosSql("q_vec", "n_vec")}, 4) AS cos
         |      FROM c CROSS JOIN q WHERE q_id <> n_id),
         |pos AS (SELECT q_id, n_id AS pos_id, cos AS pos_cos FROM (
         |        SELECT q_id, n_id, cos, row_number() OVER (
         |          PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS r
         |        FROM p WHERE q_lab = n_lab) WHERE r = 1),
         |neg AS (SELECT q_id, n_id AS neg_id, cos AS neg_cos,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rk
         |        FROM p WHERE q_lab <> n_lab)
         |SELECT q_id, pos_id, pos_cos, neg_id, neg_cos, rk
         |FROM neg JOIN pos USING (q_id) WHERE rk <= 5""".stripMargin),
    // kNN label voting — similarity search put to its eval-harness
    // use (label propagation / pseudo-labeling): majority label among
    // the 5 nearest neighbors, ties to the smaller label. The
    // corpus-sized label table never shuffles: the (queries × k)
    // neighbor set is broadcast into it.
    QuerySpec("q68_knn_label_vote", (s, d) => {
      val e = emb(s, d)
      val nn = Similarity.bruteForceTopKScalable(
        e, e.filter(col("vec_id") < 50), "vec_id", "embedding", 5)
      val lab = e.select(col("vec_id").as("n_id"),
        col("label").cast("long").as("n_label"))
      lab.join(broadcast(nn), Seq("n_id"))
        .groupBy(col("q_id"), col("n_label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("q_id"))
        .agg(min_by(struct(col("n_label").as("pred_label"), col("votes")),
          struct((-col("votes")).as("nv"), col("n_label"))).as("m"))
        .select(col("q_id"), col("m.pred_label"), col("m.votes"))
    },
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS n_id, embedding AS n_vec, label FROM embeddings),
         |p AS (SELECT q_id, n_id, round(${cosSql("q_vec", "n_vec")}, 4) AS cos
         |      FROM c CROSS JOIN q WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
         |      FROM p),
         |v AS (SELECT r.q_id, c.label AS n_label, count(*) AS votes
         |      FROM r JOIN c USING (n_id) WHERE rk <= 5 GROUP BY 1, 2),
         |w AS (SELECT q_id, n_label, votes,
         |      row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label ASC) AS rn
         |      FROM v)
         |SELECT q_id, CAST(n_label AS BIGINT) AS pred_label,
         |       CAST(votes AS BIGINT) AS votes
         |FROM w WHERE rn = 1""".stripMargin),
    QuerySpec("q26_sim_lsh_pairs", (s, d) =>
      Similarity.lshSimilarPairs(emb(s, d), "vec_id", "embedding", 8, 0.25),
      s"""WITH wb AS (SELECT vec_id, embedding,
         |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
         |  FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      round(${cosSql("a.embedding", "b.embedding")}, 4) AS cos
         |      FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.25""".stripMargin),
    // Embedding-space near-duplicate GROUPS: high-cosine in-bucket
    // pairs collapsed to clusters with a canonical keep id — the
    // embedding analogue of q41's text dedup groups.
    QuerySpec("q42_embedding_dup_groups", (s, d) =>
      embDupGroups(s, d).select(col("id").as("vec_id"), col("keep_id")),
      s"""WITH RECURSIVE wb AS (SELECT vec_id, embedding,
         |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
         |  FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |      WHERE round(${cosSql("a.embedding", "b.embedding")}, 4) >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS vec_id, least(a, min(b)) AS keep_id
         |FROM reach GROUP BY a""".stripMargin),
    // SemDeDup: cluster-bounded semantic dedup — assignment is the
    // native nearest_centroid projection over md5-rank seeds, the
    // pair search runs within clusters only. The oracle recomputes
    // seeds, assignment (argmax cosine, seed-index tie-break — the
    // kernel's first-wins comparison), in-cluster pairs, and the
    // earlier-id drop rule. Assignment margins were measured before
    // trusting cross-engine argmax parity: min best-vs-second gap is
    // 5e-4 at sf0.01 / 6e-5 at sf0.1 — nine orders above ulp noise.
    QuerySpec("q101_semantic_dedup", (s, d) =>
      Dedup.semanticDedup(emb(s, d), "vec_id", "embedding",
        k = 8, minCos = 0.3),
      s"""WITH h AS (SELECT vec_id, embedding,
         |           md5(CAST(vec_id AS VARCHAR) || '|sem') AS hh FROM embeddings),
         |seeds AS (SELECT embedding AS c_vec,
         |          CAST(row_number() OVER (ORDER BY hh) - 1 AS BIGINT) AS c_id
         |          FROM (SELECT * FROM h ORDER BY hh LIMIT 8)),
         |d AS (SELECT v.vec_id, v.embedding, s.c_id,
         |      ${cosSql("v.embedding", "s.c_vec")} AS cos
         |      FROM embeddings v CROSS JOIN seeds s),
         |asg AS (SELECT vec_id, embedding, c_id FROM (
         |        SELECT vec_id, embedding, c_id,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rk
         |        FROM d) WHERE rk = 1),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |      round(${cosSql("a.embedding", "b.embedding")}, 4) AS cos
         |      FROM asg a JOIN asg b ON a.c_id = b.c_id AND a.vec_id < b.vec_id),
         |drops AS (SELECT DISTINCT b_id FROM p WHERE cos >= 0.3)
         |SELECT asg.vec_id, asg.c_id AS cluster_id, (drops.b_id IS NULL) AS kept
         |FROM asg LEFT JOIN drops ON asg.vec_id = drops.b_id""".stripMargin),
    // Domain profiling: per-label mean embedding, then the pairwise
    // label-similarity matrix — "which slices of the corpus are
    // semantically close" (mixture design / redundancy auditing).
    QuerySpec("q106_label_centroid_sim", (s, d) => {
      val cents = Similarity.labelCentroids(
        emb(s, d).select(col("label").cast("long").as("label"),
          col("embedding")),
        "label", "embedding")
      Similarity.centroidSimilarity(cents, "label")
    },
      centroidSimSql),
    // Incremental domain profiles: centroid sums from an 80% history
    // slice and a 20% batch MERGE (sums over disjoint rows add — the
    // q86 pattern), and the resulting similarity matrix must
    // reproduce q106's from-scratch oracle verbatim (shared SQL).
    QuerySpec("q110_centroid_incremental", (s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"), col("embedding"))
      val sums = Similarity.mergeCentroidSums(
        Similarity.centroidSums(e.filter(col("vec_id") % 5 =!= 0),
          "label", "embedding"),
        Similarity.centroidSums(e.filter(col("vec_id") % 5 === 0),
          "label", "embedding"),
        "label")
      Similarity.centroidSimilarity(
        Similarity.centroidsFromSums(sums, "label"), "label")
    },
      // q110 is the incremental (merged-sums) form of the SAME result:
      // the from-scratch oracle applies verbatim (the q80/q79 pattern).
      centroidSimSql),
    // Cross-document EXACT substring spans (Lee et al. 2022) — the
    // modality fuzzy dedup can't express. The synthetic corpus shares
    // no long verbatim runs, so three deterministic 10-token phrases
    // are injected (docs with doc_id % 7 == 0, variant by doc_id % 3;
    // mirrored exactly in the oracle — the CurationQueries withPii
    // precedent), giving the operator real maximal spans to find with
    // populations bounded under the hot-n-gram cap.
    // Per-label centroid drift across a batch ingest — q110's merged
    // sums composed with q106's cosine: how far did each label's
    // embedding profile move when the new batch landed?
    QuerySpec("q117_centroid_drift", (s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"), col("embedding"))
      val oldSums = Similarity.centroidSums(
        e.filter(col("vec_id") % 5 =!= 0), "label", "embedding")
      val curSums = Similarity.mergeCentroidSums(oldSums,
        Similarity.centroidSums(e.filter(col("vec_id") % 5 === 0),
          "label", "embedding"),
        "label")
      Similarity.centroidDrift(
        Similarity.centroidsFromSums(oldSums, "label"),
        Similarity.centroidsFromSums(curSums, "label"), "label")
    },
      // old centroid = pre-batch rows only; current = all rows (what
      // the merged sums reconstruct); drift = their per-label cosine.
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label, vec_id,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |mo AS (SELECT label, pos, avg(x::DOUBLE) AS m
         |       FROM ex WHERE vec_id % 5 <> 0 GROUP BY label, pos),
         |co AS (SELECT label, list(m ORDER BY pos) AS centroid
         |       FROM mo GROUP BY label),
         |mc AS (SELECT label, pos, avg(x::DOUBLE) AS m
         |       FROM ex GROUP BY label, pos),
         |cc AS (SELECT label, list(m ORDER BY pos) AS centroid
         |       FROM mc GROUP BY label)
         |SELECT a.label AS label,
         |       round(${cosSql("a.centroid", "b.centroid")}, 4) AS drift
         |FROM co a JOIN cc b USING (label)""".stripMargin),
    QuerySpec("q116_exact_substring_spans", (s, d) => spanTab(s, d),
      // same algorithm shape as the distributed plan: positioned
      // n-grams (md5-slice hash — identical collision semantics), hot
      // cap, self-join, gaps-and-islands maximal runs.
      s"""WITH $spanCtes
        |SELECT doc_a, doc_b, start_a, start_b, len FROM spans""".stripMargin),
    // The curation readout over the same spans: what FRACTION of each
    // document is covered by verbatim cross-document material — the
    // rank key for "mostly syndicated" removal; pairwise spans only
    // say who shares.
    QuerySpec("q121_span_coverage", (s, d) =>
      Dedup.spanCoverage(augSpanDocs(s, d), "doc_id", "text", spanTab(s, d)),
      // overlapping spans cover a position once (GROUP BY = distinct);
      // span-free documents report 0.0 via the left join.
      s"""WITH $spanCtes,
        |cv AS (SELECT doc, pos FROM (
        |    SELECT doc_a AS doc, start_a AS s, len FROM spans
        |    UNION ALL SELECT doc_b, start_b, len FROM spans) t,
        |    UNNEST(generate_series(s, s + len - 1)) AS u(pos)
        |  GROUP BY doc, pos),
        |nc AS (SELECT doc, count(*)::BIGINT AS ncov FROM cv GROUP BY doc),
        |tc AS (SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM aug)
        |SELECT doc_id, n_tokens,
        |       round(coalesce(ncov, 0)::DOUBLE / n_tokens::DOUBLE, 4) AS dup_frac
        |FROM tc LEFT JOIN nc ON tc.doc_id = nc.doc""".stripMargin),
    // The act on q116's detect: corpus rewritten with non-canonical
    // span occurrences cut (Lee et al.'s shipped output) — the last
    // detect-but-not-act gap in the dedup stack.
    QuerySpec("q124_span_removal", (s, d) =>
      Dedup.removeSpans(augSpanDocs(s, d), "doc_id", "text", spanTab(s, d)),
      // doc_b loses the union of its cut ranges (positions counted
      // once); untouched docs pass through verbatim via the CASE, and a
      // wholly-cut doc comes out as the empty string (coalesce).
      s"""WITH $spanCtes,
        |cutp AS (SELECT DISTINCT doc_b AS doc, u.p
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
        |  GROUP BY tk2.doc_id)
        |SELECT a.doc_id,
        |  CASE WHEN n.doc IS NULL THEN a.text ELSE k.clean END AS text_clean,
        |  coalesce(n.tokens_removed, 0)::BIGINT AS tokens_removed
        |FROM aug a LEFT JOIN nrem n ON a.doc_id = n.doc
        |LEFT JOIN kept k ON a.doc_id = k.doc_id""".stripMargin),
    // Span-level benchmark DECONTAMINATION (the GPT-3/PaLM appendix
    // procedure): corpus documents lose the verbatim spans they share
    // with the eval set (doc_id < 20, the q46 stand-in) instead of
    // being dropped whole. Reference×corpus joins only — the eval
    // side is tiny; corpus×corpus overlap (q124's dedup problem) is
    // deliberately NOT cut here. Reads the same persisted positioned-
    // n-gram table as the whole span family.
    QuerySpec("q142_decontaminate_spans", (s, d) => {
      val spans = Dedup.spansAgainstReference(spanNgTab(s, d), "doc_id",
        col("doc_id") < 20)
      Dedup.removeSpans(augSpanDocs(s, d).filter(col("doc_id") >= 20),
        "doc_id", "text",
        spans.select(col("ref_id").as("doc_a"), col("doc_id").as("doc_b"),
          col("start_ref").as("start_a"), col("start").as("start_b"),
          col("len")))
    },
      s"""WITH $spanBaseCtes,
        |$refSpanCtes,
        |cutp AS (SELECT DISTINCT doc_id AS doc, u.p
        |  FROM spansx, UNNEST(generate_series(start_b, start_b + len - 1)) AS u(p)),
        |nrem AS (SELECT doc, count(*)::BIGINT AS tokens_removed
        |  FROM cutp GROUP BY doc),
        |tk2 AS (SELECT doc_id, i - 1 AS pos, w[i] AS t
        |  FROM tk, UNNEST(generate_series(1, len(w))) AS u(i)
        |  WHERE doc_id >= 20),
        |kept AS (SELECT tk2.doc_id,
        |    coalesce(string_agg(CASE WHEN c.doc IS NULL THEN t END, ' '
        |      ORDER BY pos), '') AS clean
        |  FROM tk2 JOIN nrem ON tk2.doc_id = nrem.doc
        |  LEFT JOIN cutp c ON tk2.doc_id = c.doc AND tk2.pos = c.p
        |  GROUP BY tk2.doc_id)
        |SELECT a.doc_id,
        |  CASE WHEN n.doc IS NULL THEN a.text ELSE k.clean END AS text_clean,
        |  coalesce(n.tokens_removed, 0)::BIGINT AS tokens_removed
        |FROM aug a LEFT JOIN nrem n ON a.doc_id = n.doc
        |LEFT JOIN kept k ON a.doc_id = k.doc_id
        |WHERE a.doc_id >= 20""".stripMargin),
    // Per-benchmark-doc leak report — the forensics view of q142's
    // detection: for each eval doc, how many corpus docs share a
    // verbatim span with it and how many tokens leak. The table an
    // eval owner reads to decide which benchmark items to RETIRE
    // (decontaminating the corpus can't fix an eval answer that's
    // already memorized in N places).
    QuerySpec("q153_contamination_report", (s, d) =>
      Dedup.spansAgainstReference(spanNgTab(s, d), "doc_id",
          col("doc_id") < 20)
        .groupBy(col("ref_id"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_spans"),
          sum(col("len")).cast("long").as("leaked_tokens"),
          max(col("len")).cast("long").as("max_span")),
      // reference (doc_id < 20) × corpus (>= 20) matches only; the
      // corpus side loses the union of its ref-shared span positions —
      // same islands + cut + rebuild algebra as q124, different pairing.
      s"""WITH $spanBaseCtes,
        |$refSpanCtes
        |SELECT ref_id, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |       count(*)::BIGINT AS n_spans,
        |       sum(len)::BIGINT AS leaked_tokens,
        |       max(len)::BIGINT AS max_span
        |FROM spansx GROUP BY ref_id""".stripMargin),
    // Batch-ingest spans: only pairs with a NEW member (doc_id%5==0
    // plays the arriving batch) — the incremental form the other
    // dedup modalities already have, completing the span family's
    // batch-periodic contract (old-old pairs never recomputed).
    QuerySpec("q130_spans_incremental", (s, d) =>
      Dedup.spansIncrementalFromNgrams(spanNgTab(s, d),
        "doc_id", col("doc_id") % 5 === 0),
      // the incremental set IS the full set restricted to pairs with a
      // new member (the lshCandidatePairsIncremental oracle pattern)
      s"""WITH $spanCtes
        |SELECT doc_a, doc_b, start_a, start_b, len FROM spans
        |WHERE doc_a % 5 = 0 OR doc_b % 5 = 0""".stripMargin),
    // The ANN tuning curve every deployment reads before picking
    // nprobe: recall@5 of the IVF probe against brute-force truth at
    // nprobe 1/2/4/10 (10 lists = exact, so the curve provably ends
    // at 1.0). Index is the SQL-derivable label-mean construction
    // (the q140/q141 seeding) so the oracle rebuilds it exactly; the
    // probe joins only the probed lists and the truth join is
    // top-5-pair semi-join — the whole sweep shares one index build.
    // q179's semantic decontamination on the IVF SCALE PATH: when the
    // benchmark embedding set is too large to broadcast-cross against
    // the corpus, the corpus is IVF-indexed once and each benchmark
    // vector probes only its nprobe nearest lists — candidate volume
    // is probed-lists-sized, never |corpus|×|benchmark|. Same planted
    // blend-perturbed benchmark (every 37th vector, ids remapped out
    // of the corpus id space so the self-pair filter cannot hide the
    // plant); the flag set must come out identical to the brute path
    // wherever the probes reach — at nprobe 2 on this corpus that is
    // exactly the full planted set (the blend lands in its source's
    // list). Index construction is the SQL-derivable q149 one, so the
    // oracle rebuilds it exactly.
    QuerySpec("q180_decontam_ivf", (s, d) => {
      val e = emb(s, d)
      val seeds = Similarity.labelCentroids(
          e.select(col("label").cast("long").as("label"), col("embedding")),
          "label", "embedding")
        .orderBy(col("label")).collect().map(_.getSeq[Double](1).toArray)
      val (c0, indexed) = IvfIndex.buildFrom(e, "embedding", seeds, iters = 0)
      val shifted = expr(
        "concat(slice(embedding, 2, size(embedding) - 1), " +
          "slice(embedding, 1, 1))")
      // topK keys both sides by one id column — the remap (+1e6) both
      // moves the refs out of the corpus id space (so the self-pair
      // filter cannot hide a plant) and disambiguates the two roles
      val ref = e.filter(col("vec_id") % 37 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          zip_with(col("embedding").cast("array<double>"),
            shifted.cast("array<double>"),
            (x, y) => x * 0.9 + y * 0.1).as("embedding"))
      // the kernel cosine needs matching element types: float→double
      // is exact, so the cast changes no value the oracle computes
      val hits = IvfIndex.topK(
          indexed.withColumn("embedding", col("embedding").cast("array<double>")),
          c0, ref, "vec_id", "embedding", k = 3, nprobe = 2)
        .filter(col("cos") >= 0.8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_id")).orderBy(col("cos").desc, col("q_id").asc)
      hits.withColumn("__r2", row_number().over(w))
        .filter(col("__r2") === 1)
        .select(col("n_id").as("vec_id"),
          (col("q_id") - 1000000L).as("ref_id"), col("cos"))
    },
      // the q149 index construction + blend refs probing 2 lists each;
      // k=3 per-ref cut, threshold, then best-ref per corpus vector
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |m AS (SELECT label, pos, avg(x::DOUBLE) AS m FROM ex GROUP BY label, pos),
         |ctr0 AS (SELECT label, list(m ORDER BY pos) AS centroid FROM m GROUP BY label),
         |ctr AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT) AS list_id,
         |               centroid FROM ctr0),
         |da AS (SELECT v.vec_id, c.list_id,
         |       ${cosSql("v.embedding", "c.centroid")} AS cos
         |       FROM embeddings v CROSS JOIN ctr c),
         |asg AS (SELECT vec_id, list_id FROM (
         |        SELECT vec_id, list_id,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, list_id ASC) AS rk FROM da) WHERE rk = 1),
         |rq AS (SELECT vec_id + 1000000 AS q_id,
         |    [embedding[i]::DOUBLE * 0.9 +
         |     embedding[CASE WHEN i < len(embedding) THEN i + 1 ELSE 1 END]::DOUBLE * 0.1
         |     for i in range(1, len(embedding) + 1)] AS q_vec
         |  FROM embeddings WHERE vec_id % 37 = 0),
         |pd AS (SELECT q.q_id, c.list_id,
         |       ${cosSql("q.q_vec", "c.centroid")} AS cd
         |       FROM rq q CROSS JOIN ctr c),
         |pr AS (SELECT q_id, list_id FROM (
         |       SELECT q_id, list_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY cd DESC, list_id ASC) AS crk FROM pd) WHERE crk <= 2),
         |cand AS (SELECT q.q_id, a.vec_id AS n_id,
         |        round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |        FROM pr
         |        JOIN asg a ON a.list_id = pr.list_id
         |        JOIN rq q ON q.q_id = pr.q_id
         |        JOIN embeddings v ON v.vec_id = a.vec_id
         |        WHERE a.vec_id <> pr.q_id),
         |top AS (SELECT q_id, n_id, cos FROM (
         |        SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos DESC, n_id ASC) AS rk FROM cand) WHERE rk <= 3),
         |f AS (SELECT q_id, n_id, cos FROM top WHERE cos >= 0.8),
         |b AS (SELECT n_id, q_id, cos, row_number() OVER (PARTITION BY n_id
         |        ORDER BY cos DESC, q_id ASC) AS r2 FROM f)
         |SELECT n_id AS vec_id, q_id - 1000000 AS ref_id, cos
         |FROM b WHERE r2 = 1""".stripMargin),
    // TWO-LEVEL (hierarchical) IVF — the >10⁹-vector scale path: a
    // flat IVF needs ~√N lists and every query scans every centroid;
    // two levels (k1 coarse cells × k2 fine cells each) give k1·k2
    // effective lists while a query scores only k1 + nprobe1·k2
    // centroids. Construction is SQL-derivable end to end so the
    // oracle rebuilds it exactly: coarse = the q149 label-mean cells;
    // fine seeds = each cell's 4 lowest-md5 member VECTORS (the q93
    // seed idiom, iters 0); fine assignment = nearest own-cell seed
    // on unrounded cosine (fine_id tie-break). Output: recall@5 vs
    // brute force over a (nprobe1, nprobe2) grid — the
    // accuracy/latency dial a deployment actually tunes.
    QuerySpec("q198_ivf2_recall", (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val seeds = Similarity.labelCentroids(
          e.select(col("label").cast("long").as("label"), col("embedding")),
          "label", "embedding")
        .orderBy(col("label")).collect().map(_.getSeq[Double](1).toArray)
      val (c0, fineSeeds, lists) = IvfIndex.buildTwoLevel(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        k1 = seeds.length, k2 = 4, coarseIters = 0, coarseSeeds = Some(seeds))
      val q = e.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
        .select(col("q_id"), col("n_id"))
      Seq((1, 1), (2, 2), (3, 4)).map { case (p1, p2) =>
        IvfIndex.topK2(lists, c0, fineSeeds, q, "vec_id", "embedding",
            k = 5, nprobe1 = p1, nprobe2 = p2)
          .select(lit(p1.toLong).as("nprobe1"), lit(p2.toLong).as("nprobe2"),
            col("q_id"), col("n_id"))
      }.reduce(_ unionAll _)
        .join(bf, Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("nprobe1"), col("nprobe2"))
        .agg(count(lit(1)).cast("long").as("n_hits"))
        .select(col("nprobe1"), col("nprobe2"), col("n_hits"),
          round(col("n_hits") / lit(50.0), 4).as("recall"))
    },
      // both levels rebuilt in SQL: q149's coarse cells, per-cell
      // md5-ordered seed vectors, nearest-own-seed fine assignment
      // (unrounded), the (p1, p2) probe grid, k=5 cut, brute recall
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |m AS (SELECT label, pos, avg(x::DOUBLE) AS m FROM ex GROUP BY label, pos),
         |ctr0 AS (SELECT label, list(m ORDER BY pos) AS centroid FROM m GROUP BY label),
         |ctr AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT) AS list_id,
         |               centroid FROM ctr0),
         |da AS (SELECT v.vec_id, c.list_id,
         |       ${cosSql("v.embedding", "c.centroid")} AS cos
         |       FROM embeddings v CROSS JOIN ctr c),
         |asg AS MATERIALIZED (SELECT vec_id, list_id FROM (
         |        SELECT vec_id, list_id,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, list_id ASC) AS rk FROM da) WHERE rk = 1),
         |fs AS MATERIALIZED (SELECT list_id,
         |       CAST(rk - 1 AS BIGINT) AS fine_id, f_vec FROM (
         |   SELECT a.list_id, v.embedding AS f_vec,
         |     row_number() OVER (PARTITION BY a.list_id
         |       ORDER BY md5(CAST(a.vec_id AS VARCHAR) || '|ivf2') ASC,
         |                a.vec_id ASC) AS rk
         |   FROM asg a JOIN embeddings v ON v.vec_id = a.vec_id) WHERE rk <= 4),
         |fa AS MATERIALIZED (SELECT vec_id, list_id, fine_id FROM (
         |   SELECT a.vec_id, a.list_id, f.fine_id,
         |     row_number() OVER (PARTITION BY a.vec_id
         |       ORDER BY ${cosSql("v.embedding", "f.f_vec")} DESC,
         |                f.fine_id ASC) AS r
         |   FROM asg a JOIN embeddings v ON v.vec_id = a.vec_id
         |   JOIN fs f ON f.list_id = a.list_id) WHERE r = 1),
         |grid AS (SELECT * FROM (VALUES (1, 1), (2, 2), (3, 4)) AS g(p1, p2)),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |       WHERE vec_id < 10),
         |pcr AS (SELECT q_id, list_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cd DESC, list_id ASC) AS crk
         |        FROM (SELECT q.q_id, c.list_id,
         |                ${cosSql("q.q_vec", "c.centroid")} AS cd
         |              FROM qv q CROSS JOIN ctr c)),
         |pfr AS (SELECT q_id, list_id, fine_id,
         |        row_number() OVER (PARTITION BY q_id, list_id
         |          ORDER BY fd DESC, fine_id ASC) AS frk
         |        FROM (SELECT q.q_id, f.list_id, f.fine_id,
         |                ${cosSql("q.q_vec", "f.f_vec")} AS fd
         |              FROM qv q CROSS JOIN fs f)),
         |cand AS (SELECT g.p1, g.p2, pcr.q_id, fa.vec_id AS n_id,
         |        round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |        FROM grid g
         |        JOIN pcr ON pcr.crk <= g.p1
         |        JOIN pfr ON pfr.q_id = pcr.q_id
         |          AND pfr.list_id = pcr.list_id AND pfr.frk <= g.p2
         |        JOIN fa ON fa.list_id = pfr.list_id
         |          AND fa.fine_id = pfr.fine_id
         |        JOIN embeddings v ON v.vec_id = fa.vec_id
         |        JOIN qv q ON q.q_id = pcr.q_id
         |        WHERE fa.vec_id <> pcr.q_id),
         |itop AS (SELECT p1, p2, q_id, n_id FROM (
         |        SELECT p1, p2, q_id, n_id,
         |        row_number() OVER (PARTITION BY p1, p2, q_id
         |          ORDER BY cos DESC, n_id ASC) AS rk FROM cand) WHERE rk <= 5),
         |bp AS (SELECT q.q_id, v.vec_id AS n_id,
         |       round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |       FROM embeddings v CROSS JOIN qv q WHERE q.q_id <> v.vec_id),
         |bf AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id,
         |       row_number() OVER (PARTITION BY q_id
         |         ORDER BY cos DESC, n_id ASC) AS rk FROM bp) WHERE rk <= 5)
         |SELECT CAST(p1 AS BIGINT) AS nprobe1, CAST(p2 AS BIGINT) AS nprobe2,
         |       count(*)::BIGINT AS n_hits,
         |       round(count(*) / 50.0, 4) AS recall
         |FROM itop JOIN bf USING (q_id, n_id)
         |GROUP BY p1, p2""".stripMargin),
    // In-context (semantic) packing — Shi et al. 2023: packing
    // RELATED documents into the same training sequence improves
    // long-context use, so the pack order becomes (cluster, id)
    // instead of raw id. Order = distributed two-phase rank over the
    // composite key (label ≪ 40 | doc_id) — stableIds' prefix-sum
    // machinery, never a single-partition sort — then the standard
    // budget packing over that rank. Output carries the cluster so
    // the locality claim is checkable: consecutive sequences hold
    // same-label runs.
    QuerySpec("q184_semantic_packing", (s, d) => {
      val j = docs(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(emb(s, d).select(col("vec_id").as("doc_id"),
          col("label").cast("long").as("label")), Seq("doc_id"))
      val keyed = j.withColumn("__key",
        col("label") * lit(1L << 40) + col("doc_id"))
      // rank and layout both attached in place (withStableIds /
      // packAttach): two rank-then-join-back shapes collapse into two
      // window passes — same row_id and seq_id per key
      val withOrd = Packing.withStableIds(keyed, "__key")
      Packing.packAttach(
          withOrd.select(col("row_id"), col("n_tokens"), col("doc_id"),
            col("label")),
          "row_id", "n_tokens", budget = 512L)
        .select(col("doc_id"), col("label"), col("row_id").as("ord"),
          col("n_tokens"), col("seq_id"))
    },
      // pack order (label, doc_id); the oracle's one window mirrors the
      // two-phase rank + prefix sum exactly
      """WITH j AS (SELECT d.doc_id, CAST(e.label AS BIGINT) AS label,
        |       len(string_split(d.text, ' '))::BIGINT AS n_tokens
        |       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |r AS (SELECT doc_id, label, n_tokens,
        |      CAST(row_number() OVER (ORDER BY label, doc_id) - 1 AS BIGINT)
        |        AS ord FROM j),
        |c AS (SELECT doc_id, label, n_tokens, ord,
        |      CAST(COALESCE(sum(n_tokens) OVER (ORDER BY ord
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS s FROM r)
        |SELECT doc_id, label, ord, n_tokens,
        |       CAST(s // 512 AS BIGINT) AS seq_id
        |FROM c""".stripMargin),
    // Curriculum ordering: documents ranked easy→hard by the q56
    // bigram-surprisal difficulty proxy (ties by id) — the training
    // order a curriculum loader consumes. The rank is the same
    // distributed two-phase prefix count over a monotonic integer
    // key (difficulty×10⁴ ≪ 40 | doc_id); no global sort anywhere.
    QuerySpec("q185_curriculum_order", (s, d) => {
      val sur = Surprisal.bigramSurprisal(docs(s, d), minCount = 2L)
      // the rank key's lineage is the whole surprisal pipeline —
      // materialize it ONCE (docs-sized, narrow) so the ranking's
      // bounds/histogram/window passes don't re-run it; rank attached
      // in place (same row_id per key as rank-then-join-back)
      val keyed = sur.withColumn("__key",
          round(col("avg_bigram_surprisal") * 10000, 0).cast("long") *
            lit(1L << 40) + col("doc_id"))
        .localCheckpoint(true)
      Packing.withStableIds(keyed, "__key")
        .select(col("doc_id"),
          col("avg_bigram_surprisal").as("difficulty"),
          col("row_id").as("ord"))
    },
      // q56's difficulty, then a plain rank — identical doubles on both
      // sides, so ordering by the value equals ordering by the key
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id,
        |       unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
        |       FROM toks),
        |b1 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
        |       string_split(bg, ' ')[2] AS w2 FROM bg),
        |c2 AS (SELECT bg, count(*) AS c2 FROM b1 GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b1 GROUP BY w1),
        |cw2 AS (SELECT w2, count(*) AS cw2 FROM b1 GROUP BY w2),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b1),
        |ds AS (SELECT doc_id,
        |  round(avg(CASE WHEN c2 >= 2 THEN -ln(c2 / c1)
        |                 ELSE -ln(cw2 / n) END), 4) AS difficulty
        |  FROM b1 JOIN c2 USING (bg) JOIN c1 USING (w1) JOIN cw2 USING (w2)
        |  CROSS JOIN n
        |  GROUP BY doc_id)
        |SELECT doc_id, difficulty,
        |  CAST(row_number() OVER (ORDER BY difficulty, doc_id) - 1 AS BIGINT)
        |    AS ord
        |FROM ds""".stripMargin),
    QuerySpec("q149_ivf_recall_curve", (s, d) => {
      val e = emb(s, d)
      val seeds = Similarity.labelCentroids(
          e.select(col("label").cast("long").as("label"), col("embedding")),
          "label", "embedding")
        .orderBy(col("label")).collect().map(_.getSeq[Double](1).toArray)
      val (c0, indexed) = IvfIndex.buildFrom(e, "embedding", seeds, iters = 0)
      val q = e.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
        .select(col("q_id"), col("n_id"))
      Seq(1, 2, 4, 10).map(np =>
          IvfIndex.topK(indexed, c0, q, "vec_id", "embedding",
            k = 5, nprobe = np)
            .select(lit(np.toLong).as("nprobe"), col("q_id"), col("n_id")))
        .reduce(_ unionAll _)
        .join(bf, Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("nprobe"), col("n_hits"),
          round(col("n_hits") / lit(50.0), 4).as("recall"))
    },
      // index = label-mean seeds (rank in label order = list_id),
      // iters 0; probe ranking on UNROUNDED centroid cosine, candidate
      // ranking on the rounded cosine with n_id tie-break — the exact
      // topK semantics the q43 gate already pins at nprobe = all.
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |m AS (SELECT label, pos, avg(x::DOUBLE) AS m FROM ex GROUP BY label, pos),
         |ctr0 AS (SELECT label, list(m ORDER BY pos) AS centroid FROM m GROUP BY label),
         |ctr AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT) AS list_id,
         |               centroid FROM ctr0),
         |da AS (SELECT v.vec_id, c.list_id,
         |       ${cosSql("v.embedding", "c.centroid")} AS cos
         |       FROM embeddings v CROSS JOIN ctr c),
         |asg AS (SELECT vec_id, list_id FROM (
         |        SELECT vec_id, list_id,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, list_id ASC) AS rk FROM da) WHERE rk = 1),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |       WHERE vec_id < 10),
         |pr AS (SELECT q_id, c.list_id,
         |       row_number() OVER (PARTITION BY q_id
         |         ORDER BY ${cosSql("q_vec", "c.centroid")} DESC, c.list_id ASC)
         |         AS crk
         |       FROM qv CROSS JOIN ctr c),
         |np AS (SELECT unnest([1, 2, 4, 10]) AS nprobe),
         |cand AS (SELECT np.nprobe, pr.q_id, a.vec_id AS n_id,
         |        round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |        FROM np CROSS JOIN pr
         |        JOIN asg a ON a.list_id = pr.list_id
         |        JOIN qv q ON q.q_id = pr.q_id
         |        JOIN embeddings v ON v.vec_id = a.vec_id
         |        WHERE pr.crk <= np.nprobe AND a.vec_id <> pr.q_id),
         |itop AS (SELECT nprobe, q_id, n_id FROM (
         |        SELECT nprobe, q_id, n_id,
         |        row_number() OVER (PARTITION BY nprobe, q_id
         |          ORDER BY cos DESC, n_id ASC) AS rk FROM cand) WHERE rk <= 5),
         |bp AS (SELECT q.q_id, v.vec_id AS n_id,
         |       round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |       FROM embeddings v CROSS JOIN qv q WHERE q.q_id <> v.vec_id),
         |bf AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id,
         |       row_number() OVER (PARTITION BY q_id
         |         ORDER BY cos DESC, n_id ASC) AS rk FROM bp) WHERE rk <= 5)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe,
         |       count(*)::BIGINT AS n_hits,
         |       round(count(*) / 50.0, 4) AS recall
         |FROM itop JOIN bf USING (q_id, n_id)
         |GROUP BY nprobe""".stripMargin),
    // The ANN index's OWN drift monitor (q117 watched label profiles;
    // this watches the quantizer): per-list cosine between each saved
    // centroid and the current mean of its assigned list, after a
    // batch appended under stale centroids. The measurable trigger
    // for the retrain cadence every IVF deployment carries.
    QuerySpec("q140_ivf_drift", (s, d) =>
      IvfIndex.indexDrift(s, ivfDrifted(s, d), "embedding"),
      // stale centroids = old-slice label means (list_id = label rank);
      // every vector assigns argmax-cosine (tie → smaller list, the
      // kernel's contract); drift = cos(saved centroid, assigned-list
      // mean) — exactly what indexDrift reads off the saved tables.
      s"""WITH $driftIvfCtes,
         |cm0 AS (SELECT a.list_id, e.pos, avg(e.x::DOUBLE) AS m
         |        FROM asg a JOIN ex e USING (vec_id)
         |        GROUP BY a.list_id, e.pos),
         |cm AS (SELECT list_id, list(m ORDER BY pos) AS centroid
         |       FROM cm0 GROUP BY list_id),
         |n AS (SELECT list_id, count(*)::BIGINT AS n_vecs
         |      FROM asg GROUP BY list_id)
         |SELECT co.list_id, n.n_vecs,
         |       round(${cosSql("co.centroid", "cm.centroid")}, 4) AS drift
         |FROM co JOIN cm USING (list_id) JOIN n USING (list_id)"""
        .stripMargin,
      // the drifted index tables are built on first use per (session, dir)
      writes = true),
    // The ACT on that monitor — the q124-for-q116 move applied to the
    // ANN family: Lloyd re-trained from the saved (stale) centroids
    // over the full lists table, every vector re-assigned, the lists
    // table swapped in via stage-and-rename (an overwrite would
    // delete the plan's own input). Rebuilds from the drifted state
    // fresh each invocation; the full rebuilt assignment goes through
    // the oracle gate. Trigger semantics + recall parity are
    // spec-pinned (ScaleOpsSpec).
    QuerySpec("q141_ivf_rebuild", (s, d) => {
      val name = "g_ivf_drift_rb"
      buildDriftedIvf(s, d, name)
      IvfIndex.rebuild(s, name, "embedding", iters = 1)
      s.table(s"${name}_lists").select(col("vec_id"), col("list_id"))
    },
      // one Lloyd round from the stale centroids (means of the stale
      // assignment, empty lists keeping their old centroid — the step()
      // contract), then the final re-assignment of every vector.
      s"""WITH $driftIvfCtes,
         |cm0 AS (SELECT a.list_id, e.pos, avg(e.x::DOUBLE) AS m
         |        FROM asg a JOIN ex e USING (vec_id)
         |        GROUP BY a.list_id, e.pos),
         |cm AS (SELECT list_id, list(m ORDER BY pos) AS centroid
         |       FROM cm0 GROUP BY list_id),
         |cc1 AS (SELECT co.list_id, coalesce(cm.centroid, co.centroid) AS centroid
         |        FROM co LEFT JOIN cm USING (list_id)),
         |d2 AS (SELECT v.vec_id, c.list_id,
         |       ${cosSql("v.embedding", "c.centroid")} AS cos
         |       FROM embeddings v CROSS JOIN cc1 c),
         |asg2 AS (SELECT vec_id, list_id FROM (
         |        SELECT vec_id, list_id,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, list_id ASC) AS rk
         |        FROM d2) WHERE rk = 1)
         |SELECT vec_id, list_id FROM asg2""".stripMargin, writes = true))

  /** The q116/q121 corpus: three deterministic 10-token phrases
    * injected so the synthetic corpus (which shares no long verbatim
    * runs naturally) gives the exact-substring family real spans —
    * mirrored verbatim in the oracle's `aug` CTE. */
  private[operators] def augSpanDocs(s: SparkSession, d: String): DataFrame = {
    val phrase = element_at(array(
      lit(" alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      lit(" lambda mu nu xi omicron pi rho sigma tau upsilon"),
      lit(" phi chi psi omega aleph beth gimel daleth he waw")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), phrase))
        .otherwise(col("text")).as("text"))
  }

  // ---- oracle SQL (DuckDB dialect) ----

  /** Shared CTE fragments for the shingle/minhash pipeline (also
    * reused by CurationQueries' q52 oracle). */
  private[operators] val shCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |       unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS shingle
      |       FROM toks)""".stripMargin

  /** q46's oracle — and q231's VERBATIM: the Bloom cascade is
    * lossless (no false negatives, exact confirm strips the false
    * positives), so both paths must hash-match the same SQL. */
  private lazy val decontamSql: String =
    s"""WITH $shCte,
       |bad AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
       |hits AS (SELECT s.doc_id, s.shingle FROM sh s
       |         JOIN bad USING (shingle) WHERE s.doc_id >= 20)
       |SELECT doc_id, count(DISTINCT shingle) AS n_hits
       |FROM hits GROUP BY doc_id""".stripMargin

  private[operators] val mhCte =
    """mh AS (SELECT doc_id,
      |  min(substr(md5('0|' || shingle),  1, 8)) AS h0,
      |  min(substr(md5('0|' || shingle),  9, 8)) AS h1,
      |  min(substr(md5('0|' || shingle), 17, 8)) AS h2,
      |  min(substr(md5('0|' || shingle), 25, 8)) AS h3,
      |  min(substr(md5('1|' || shingle),  1, 8)) AS h4,
      |  min(substr(md5('1|' || shingle),  9, 8)) AS h5,
      |  min(substr(md5('1|' || shingle), 17, 8)) AS h6,
      |  min(substr(md5('1|' || shingle), 25, 8)) AS h7
      |  FROM sh GROUP BY doc_id),
      |sig AS (
      |  SELECT doc_id, CAST(0 AS BIGINT) AS band, h0 || '|' || h1 AS sig FROM mh
      |  UNION ALL SELECT doc_id, CAST(1 AS BIGINT), h2 || '|' || h3 FROM mh
      |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT), h4 || '|' || h5 FROM mh
      |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT), h6 || '|' || h7 FROM mh)""".stripMargin

  private[operators] val pairsCte =
    """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
      |         WHERE a.doc_id < b.doc_id)""".stripMargin

  /** The delete-wave survivor predicate (docs with doc_id % 7 == 3
    * are the erased batch), mirrored in every query body. */
  private val delKeep = "doc_id % 7 <> 3"

  /** Rebase an oracle onto the SURVIVING corpus: shadow the
    * `documents` view with a filtered CTE (DuckDB resolves the inner
    * reference via the explicit `main.` schema), so delete-fold
    * queries reuse the original family oracle VERBATIM — the
    * "folded state == from-scratch over survivors" proof with zero
    * duplicated SQL. */
  private def onSurvivors(sql: String): String = {
    val cte = s"documents AS (SELECT * FROM main.documents WHERE $delKeep),\n"
    if (sql.startsWith("WITH RECURSIVE "))
      "WITH RECURSIVE " + cte + sql.stripPrefix("WITH RECURSIVE ")
    else if (sql.startsWith("WITH "))
      "WITH " + cte + sql.stripPrefix("WITH ")
    else sys.error(s"oracle must start with WITH: ${sql.take(40)}")
  }

  /** [[onSurvivors]] for the embeddings table (vec_id grain). */
  private def onSurvivorsEmb(sql: String): String = {
    val cte =
      "embeddings AS (SELECT * FROM main.embeddings WHERE vec_id % 7 <> 3),\n"
    if (sql.startsWith("WITH RECURSIVE "))
      "WITH RECURSIVE " + cte + sql.stripPrefix("WITH RECURSIVE ")
    else if (sql.startsWith("WITH "))
      "WITH " + cte + sql.stripPrefix("WITH ")
    else sys.error(s"oracle must start with WITH: ${sql.take(40)}")
  }

  /** q41's oracle — transitive closure over the candidate pairs,
    * keep id = least reachable node. Shared verbatim by q281 (on the
    * survivor-filtered corpus). */
  private lazy val dupGroupsSql =
    s"""WITH RECURSIVE $shCte,
       |$mhCte,
       |$pairsCte,
       |edges AS (SELECT id_a AS a, id_b AS b FROM cand
       |          UNION SELECT id_b, id_a FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, least(a, min(b)) AS keep_id
       |FROM reach GROUP BY a""".stripMargin

  /** q43's oracle — brute-force cosine top-k (exact at full probes).
    * Shared verbatim by q206 (saved two-level lifecycle) and, on the
    * survivor-filtered embeddings, by q290 (delete-folded lists). */
  private lazy val ivfExactSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
       |p AS (SELECT q_id, n_id, round(${cosSql("q_vec", "n_vec")}, 4) AS cos
       |      FROM c CROSS JOIN q WHERE q_id <> n_id),
       |r AS (SELECT q_id, n_id, cos,
       |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rk
       |      FROM p)
       |SELECT q_id, n_id, cos, rk FROM r WHERE rk <= 5""".stripMargin

  /** q305's oracle — the Horvitz–Thompson estimate over the md5
    * sample with exact verification. Shared verbatim by q308. */
  private lazy val aqpSql =
      """WITH s AS (SELECT * FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |          ::BIGINT % 10 = 0),
        |est AS (SELECT source, count(*)::BIGINT * 10 AS est_docs,
        |          CAST(sum(n_chars) * 10 AS BIGINT) AS est_chars
        |        FROM s GROUP BY source),
        |ex AS (SELECT source, count(*)::BIGINT AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |       FROM documents GROUP BY source)
        |SELECT ex.source, n_docs, sum_chars,
        |  COALESCE(est_docs, 0) AS est_docs,
        |  COALESCE(est_chars, 0) AS est_chars,
        |  abs(COALESCE(est_chars, 0) - sum_chars) * 10000 // sum_chars
        |    AS err_bp
        |FROM ex LEFT JOIN est USING (source)""".stripMargin

  /** q304's oracle — per-node triangle counts from the naive
    * triple join exploded to vertices. Shared verbatim by q307
    * (the incremental per-node fold). */
  private lazy val localClusteringSql =
      s"""WITH $shCte,
         |$mhCte,
         |$pairsCte,
         |ed AS (SELECT DISTINCT id_a AS a, id_b AS b FROM cand),
         |nodes AS (SELECT a AS n FROM ed UNION ALL SELECT b FROM ed),
         |deg AS (SELECT n, count(*)::BIGINT AS deg FROM nodes GROUP BY n),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ed e1
         |        JOIN ed e2 ON e2.a = e1.a AND e2.b > e1.b
         |        JOIN ed e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pn AS (SELECT n, count(*)::BIGINT AS n_tri FROM (
         |         SELECT x AS n FROM tri
         |         UNION ALL SELECT y FROM tri
         |         UNION ALL SELECT z FROM tri) GROUP BY n)
         |SELECT deg.n, deg.deg, COALESCE(pn.n_tri, 0) AS n_tri,
         |  CASE WHEN deg.deg < 2 THEN 0
         |       ELSE COALESCE(pn.n_tri, 0) * 2 * 10000
         |            // (deg.deg * (deg.deg - 1)) END AS local_bp
         |FROM deg LEFT JOIN pn USING (n)""".stripMargin

  /** q274's oracle — naive ordered-triple triangle join over the
    * candidate graph. Shared verbatim by q285 (the incremental fold
    * must land on the same full-graph stats). */
  private lazy val triangleSql =
    s"""WITH $shCte,
       |$mhCte,
       |$pairsCte,
       |ed AS (SELECT DISTINCT id_a AS a, id_b AS b FROM cand),
       |nodes AS (SELECT a AS n FROM ed UNION ALL SELECT b FROM ed),
       |deg AS (SELECT n, count(*)::BIGINT AS deg FROM nodes GROUP BY n),
       |tri AS (SELECT count(*)::BIGINT AS n_triangles FROM ed e1
       |        JOIN ed e2 ON e2.a = e1.a AND e2.b > e1.b
       |        JOIN ed e3 ON e3.a = e1.b AND e3.b = e2.b),
       |st AS (SELECT count(*)::BIGINT AS n_nodes,
       |         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |       FROM deg),
       |ne AS (SELECT count(*)::BIGINT AS n_edges FROM ed)
       |SELECT n_nodes, n_edges, n_triangles,
       |  CASE WHEN n_wedges = 0 THEN 0
       |       ELSE n_triangles * 3 * 10000 // n_wedges
       |  END AS clustering_bp
       |FROM st, ne, tri""".stripMargin

  /** q330's oracle — four UNROLLED synchronous LPA supersteps over
    * the candidate graph (neighbors + self, most-frequent label,
    * min-label ties as a row_number total order). */
  /** Shared CTE chain for the LPA family: candidate edges + four
    * unrolled supersteps ending at `l4`. */
  private lazy val lpaCtes: String = {
    val iters = (1 to 4).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""c$i AS (SELECT x.a AS n, l.lab, count(*)::BIGINT AS c
         |  FROM nb x JOIN $prev l ON l.n = x.b GROUP BY x.a, l.lab),
         |l$i AS (SELECT n, lab FROM (SELECT n, lab, row_number() OVER
         |  (PARTITION BY n ORDER BY c DESC, lab ASC) AS rk FROM c$i)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$shCte,
       |$mhCte,
       |$pairsCte,
       |ed AS (SELECT DISTINCT id_a AS a, id_b AS b FROM cand),
       |edges AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |nb AS (SELECT a, b FROM edges UNION ALL SELECT n, n FROM nodes),
       |l0 AS (SELECT n, n AS lab FROM nodes),
       |$iters""".stripMargin
  }

  private lazy val labelPropSql: String =
    s"""WITH $lpaCtes
       |SELECT n, lab FROM l4""".stripMargin

  /** q348's oracle — per-community size / intra edges / degree mass /
    * exact modularity numerator over the l4 labeling, plus the
    * lab = −1 total row. */
  private lazy val modularitySql: String =
    s"""WITH $lpaCtes,
       |mm AS (SELECT count(*)::BIGINT AS m FROM ed),
       |deg AS (SELECT n, count(*)::BIGINT AS dg FROM (
       |  SELECT a AS n FROM ed UNION ALL SELECT b FROM ed) GROUP BY n),
       |dc AS (SELECT l.lab, count(*)::BIGINT AS size,
       |  CAST(sum(deg.dg) AS BIGINT) AS deg_sum
       | FROM l4 l JOIN deg ON deg.n = l.n GROUP BY l.lab),
       |lc AS (SELECT la.lab, count(*)::BIGINT AS intra
       | FROM ed JOIN l4 la ON la.n = ed.a
       | JOIN l4 lb ON lb.n = ed.b AND lb.lab = la.lab
       | GROUP BY la.lab),
       |per AS (SELECT dc.lab, dc.size,
       |  COALESCE(lc.intra, 0) AS intra_edges, dc.deg_sum,
       |  CAST(4 * (SELECT m FROM mm) * COALESCE(lc.intra, 0)
       |    - dc.deg_sum * dc.deg_sum AS BIGINT) AS num_fp
       | FROM dc LEFT JOIN lc USING (lab))
       |SELECT lab, size, intra_edges, deg_sum, num_fp FROM per
       |UNION ALL
       |SELECT -1, CAST(sum(size) AS BIGINT), (SELECT m FROM mm),
       |  2 * (SELECT m FROM mm), CAST(sum(num_fp) AS BIGINT)
       |FROM per""".stripMargin

  /** q276's oracle — golden-record survivorship with explicit
    * (count desc, value asc) modal tie-breaks. Shared verbatim by
    * q284 (the relabel-then-sum fold must land on the same table). */
  private lazy val goldenRecordSql =
    s"""WITH RECURSIVE $shCte,
       |$mhCte,
       |$pairsCte,
       |edges AS (SELECT id_a AS a, id_b AS b FROM cand
       |          UNION SELECT id_b, id_a FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |g AS (SELECT a AS did, least(a, min(b)) AS component
       |      FROM reach GROUP BY a),
       |mem AS (SELECT g.component, d.doc_id, d.lang, d.source,
       |          d.n_chars
       |        FROM documents d JOIN g ON g.did = d.doc_id),
       |ml AS (SELECT component, lang FROM (
       |         SELECT component, lang, row_number() OVER (
       |           PARTITION BY component
       |           ORDER BY count(*) DESC, lang) AS rk
       |         FROM mem GROUP BY component, lang) WHERE rk = 1),
       |ms AS (SELECT component, source FROM (
       |         SELECT component, source, row_number() OVER (
       |           PARTITION BY component
       |           ORDER BY count(*) DESC, source) AS rk
       |         FROM mem GROUP BY component, source) WHERE rk = 1),
       |ag AS (SELECT component, count(*)::BIGINT AS n_members,
       |         min(doc_id) AS rep_id, max(n_chars) AS max_chars
       |       FROM mem GROUP BY component)
       |SELECT ag.component, ag.n_members, ag.rep_id,
       |       ml.lang, ms.source, ag.max_chars
       |FROM ag JOIN ml USING (component) JOIN ms USING (component)"""
      .stripMargin

  /** BM25 end-to-end in SQL. Shared by q81 (direct build) and q95
    * (postings appended per batch — per-document state, so the
    * scored output is identical by construction). */
  /** BM25 scoring CTEs (through the ranked list `r`) shared by
    * q81/q95 (top-k tail) and q111 (eval-metric tail). */
  private val bm25Ctes =
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |postings AS (SELECT doc_id, unnest(w) AS term FROM toks),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |        FROM postings GROUP BY doc_id, term),
        |q AS (SELECT * FROM (VALUES (0, 'spark join'), (1, 'data merge sort'),
        |                            (2, 'the slow query')) t(q_id, q_text)),
        |qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc
        |        WHERE term IN (SELECT term FROM qt) GROUP BY term),
        |sc AS (SELECT qt.q_id, tfc.doc_id,
        |         round(sum(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
        |           (tfc.tf * 2.2) /
        |           (tfc.tf + 1.2 * (0.25 + (0.75 * dl.dl) / stats.avgdl))), 4) AS score
        |       FROM qt JOIN tfc USING (term) JOIN dfq USING (term)
        |            JOIN dl ON tfc.doc_id = dl.doc_id CROSS JOIN stats
        |       GROUP BY qt.q_id, tfc.doc_id),
        |r AS (SELECT q_id, doc_id, score,
        |        CAST(row_number() OVER (PARTITION BY q_id
        |          ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
        |      FROM sc)""".stripMargin

  private val bm25Sql =
    s"""$bm25Ctes
       |SELECT q_id, doc_id, score, rk FROM r WHERE rk <= 10""".stripMargin

  /** q157: the bm25 chain re-based onto q75's chunk windows, top-50
    * chunk cut, then max-passage doc aggregation re-ranked at 10. */
  private val chunkBm25Sql =
    """WITH toksd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |cw AS (SELECT doc_id, unnest(range(0, greatest(len(w), 1), 8)) AS start, w
      |       FROM toksd),
      |ch AS (SELECT doc_id * 1000 + start // 8 AS cid,
      |         array_to_string(list_slice(w, start + 1, start + 16), ' ') AS ctext
      |       FROM cw),
      |toks AS (SELECT cid, string_split(ctext, ' ') AS w FROM ch),
      |dl AS (SELECT cid, CAST(len(w) AS DOUBLE) AS dl FROM toks),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |postings AS (SELECT cid, unnest(w) AS term FROM toks),
      |tfc AS (SELECT cid, term, CAST(count(*) AS DOUBLE) AS tf
      |        FROM postings GROUP BY cid, term),
      |q AS (SELECT * FROM (VALUES (0, 'spark join'), (1, 'data merge sort'),
      |                            (2, 'the slow query')) t(q_id, q_text)),
      |qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q),
      |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc
      |        WHERE term IN (SELECT term FROM qt) GROUP BY term),
      |sc AS (SELECT qt.q_id, tfc.cid,
      |         round(sum(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
      |           (tfc.tf * 2.2) /
      |           (tfc.tf + 1.2 * (0.25 + (0.75 * dl.dl) / stats.avgdl))), 4) AS score
      |       FROM qt JOIN tfc USING (term) JOIN dfq USING (term)
      |            JOIN dl ON tfc.cid = dl.cid CROSS JOIN stats
      |       GROUP BY qt.q_id, tfc.cid),
      |r AS (SELECT q_id, cid, score,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY score DESC, cid ASC) AS crk FROM sc),
      |ds AS (SELECT q_id, cid // 1000 AS doc_id, max(score) AS score
      |       FROM r WHERE crk <= 50 GROUP BY 1, 2)
      |SELECT q_id, doc_id, score, rk FROM (
      |  SELECT q_id, doc_id, score,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
      |  FROM ds) WHERE rk <= 10""".stripMargin

  /** PQ ADC CTEs shared by q79/q80/q87: md5-rank seed codebook,
    * per-subspace argmin codes, per-query LUT, and the ADC distance
    * table `dist` — each oracle attaches its own ranking tail. */
  private val pqCoreCtes =
    """js AS (SELECT unnest(range(0, 4)) AS j),
      |seeds AS (SELECT embedding,
      |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '|pq') ASC) - 1 AS c
      |          FROM embeddings
      |          ORDER BY md5(CAST(vec_id AS VARCHAR) || '|pq') ASC LIMIT 16),
      |exp AS (SELECT v.vec_id, s.c, js.j,
      |          list_sum([(v.embedding[i]::DOUBLE - s.embedding[i]::DOUBLE) *
      |                    (v.embedding[i]::DOUBLE - s.embedding[i]::DOUBLE)
      |                    for i in range(js.j*16 + 1, js.j*16 + 17)]) AS d
      |        FROM embeddings v CROSS JOIN seeds s CROSS JOIN js),
      |codes AS (SELECT vec_id, j, c FROM
      |            (SELECT vec_id, j, c, row_number() OVER
      |               (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
      |             FROM exp)
      |          WHERE rn = 1),
      |lut AS (SELECT q.vec_id AS q_id, s.c, js.j,
      |          list_sum([(q.embedding[i]::DOUBLE - s.embedding[i]::DOUBLE) *
      |                    (q.embedding[i]::DOUBLE - s.embedding[i]::DOUBLE)
      |                    for i in range(js.j*16 + 1, js.j*16 + 17)]) AS d
      |        FROM embeddings q CROSS JOIN seeds s CROSS JOIN js
      |        WHERE q.vec_id < 10),
      |dist AS (SELECT l.q_id, co.vec_id AS n_id, round(sum(l.d), 4) AS dist
      |         FROM codes co JOIN lut l ON l.j = co.j AND l.c = co.c
      |         WHERE l.q_id <> co.vec_id
      |         GROUP BY l.q_id, co.vec_id)""".stripMargin

  /** PQ ADC top-k end-to-end in SQL. Shared by q79 (full-scan PQ) and
    * q80 (IVF-PQ probing every list — the probe union is the corpus,
    * so the result is identical). */
  private val pqTopkSql =
    s"""WITH $pqCoreCtes,
       |r AS (SELECT q_id, n_id, dist,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |          ORDER BY dist ASC, n_id ASC) AS BIGINT) AS rk
       |      FROM dist)
       |SELECT q_id, n_id, dist, rk FROM r WHERE rk <= 5""".stripMargin

  /** The q140/q141 drifted-index scenario as CTEs: exploded vectors,
    * stale centroids (old-slice label means ranked by label — exactly
    * [[buildDriftedIvf]]'s seeding), and the stale argmax-cosine
    * assignment of EVERY vector (old rows assigned at save time, the
    * batch by appendSaved — same centroids, one rule). */
  private lazy val driftIvfCtes =
    s"""ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         unnest(embedding) AS x,
       |         unnest(range(1, len(embedding) + 1)) AS pos
       |       FROM embeddings),
       |mo AS (SELECT label, pos, avg(x::DOUBLE) AS m
       |       FROM ex WHERE vec_id % 5 <> 0 GROUP BY label, pos),
       |co0 AS (SELECT label, list(m ORDER BY pos) AS centroid
       |        FROM mo GROUP BY label),
       |co AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT)
       |         AS list_id, centroid FROM co0),
       |d AS (SELECT v.vec_id, c.list_id,
       |      ${cosSql("v.embedding", "c.centroid")} AS cos
       |      FROM embeddings v CROSS JOIN co c),
       |asg AS (SELECT vec_id, list_id FROM (
       |        SELECT vec_id, list_id,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cos DESC, list_id ASC) AS rk
       |        FROM d) WHERE rk = 1)""".stripMargin

  /** q261's oracle: candidate shortlist + pairwise sims + the 5 MMR
    * rounds unrolled as generated CTEs (the PageRank treatment). */
  /** q267/q268 shared oracle: corpus-wide exact-substring dedup —
    * first (doc, start) occurrence of each cross-doc-duplicated
    * 8-gram survives, every other occurrence's positions union into
    * the cut set before the rebuild. */
  private val substrDedupSql: String =
    """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w
      |              FROM documents),
      |occ AS (SELECT doc_id, i - 1 AS start,
      |          list_aggr(w[i:i+7], 'string_agg', ' ') AS g
      |        FROM toks, unnest(range(1, len(w) - 6)) AS t(i)),
      |dup AS (SELECT g FROM occ GROUP BY g
      |        HAVING count(DISTINCT doc_id) >= 2),
      |frst AS (SELECT occ.g, occ.doc_id AS fd, occ.start AS fs
      |         FROM occ JOIN dup USING (g)
      |         QUALIFY row_number() OVER (PARTITION BY g
      |           ORDER BY doc_id, start) = 1),
      |cut AS (SELECT DISTINCT o.doc_id, o.start + j AS p
      |        FROM occ o JOIN frst f USING (g),
      |             unnest(range(0, 8)) AS u(j)
      |        WHERE NOT (o.doc_id = f.fd AND o.start = f.fs)),
      |tok AS (SELECT doc_id, i - 1 AS p, w[i] AS t
      |        FROM toks, unnest(range(1, len(w) + 1)) AS t2(i)),
      |kept AS (SELECT tok.doc_id,
      |           string_agg(tok.t, ' ' ORDER BY tok.p) AS clean
      |         FROM tok LEFT JOIN cut
      |           ON cut.doc_id = tok.doc_id AND cut.p = tok.p
      |         WHERE cut.p IS NULL GROUP BY tok.doc_id),
      |nr AS (SELECT doc_id, count(*)::BIGINT AS nrem
      |       FROM cut GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CASE WHEN nr.nrem IS NULL THEN d.text
      |            ELSE coalesce(k.clean, '') END AS text_clean,
      |       coalesce(nr.nrem, 0)::BIGINT AS tokens_removed
      |FROM documents d LEFT JOIN nr USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)""".stripMargin

  private lazy val mmrSql: String = {
    val rounds = (2 to 5).map { r =>
      s"""sel${r - 1} AS (${(1 until r).map(i => s"SELECT * FROM pick$i")
          .mkString(" UNION ALL ")}),
         |pick$r AS (SELECT q_id, CAST($r AS BIGINT) AS pick_rank, n_id,
         |    score FROM (
         |  SELECT m.q_id, m.n_id,
         |    7 * m.rel_fp - 3 * coalesce(x.ms, 0) AS score,
         |    row_number() OVER (PARTITION BY m.q_id
         |      ORDER BY 7 * m.rel_fp - 3 * coalesce(x.ms, 0) DESC,
         |        m.n_id) AS rk
         |  FROM (SELECT cand.* FROM cand LEFT JOIN sel${r - 1} s
         |          ON cand.q_id = s.q_id AND cand.n_id = s.n_id
         |        WHERE s.n_id IS NULL) m
         |  LEFT JOIN (SELECT pw.q_id, pw.i AS n_id,
         |               max(pw.sim_fp) AS ms
         |             FROM pw JOIN sel${r - 1} s
         |               ON pw.q_id = s.q_id AND pw.j = s.n_id
         |             GROUP BY 1, 2) x
         |    ON m.q_id = x.q_id AND m.n_id = x.n_id) t
         | WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS n_id, embedding AS n_vec
       |      FROM embeddings WHERE vec_id >= 10),
       |sc AS (SELECT q_id, n_id, n_vec,
       |         CAST(round(${cosSql("q_vec", "n_vec")} * 10000, 0)
       |           AS BIGINT) AS rel_fp
       |       FROM c CROSS JOIN q),
       |cand AS (SELECT q_id, n_id, rel_fp, n_vec FROM (
       |           SELECT *, row_number() OVER (PARTITION BY q_id
       |             ORDER BY rel_fp DESC, n_id) AS rk FROM sc) t
       |         WHERE rk <= 20),
       |pw AS (SELECT a.q_id, a.n_id AS i, b.n_id AS j,
       |         CAST(round(${cosSql("a.n_vec", "b.n_vec")} * 10000, 0)
       |           AS BIGINT) AS sim_fp
       |       FROM cand a JOIN cand b
       |         ON a.q_id = b.q_id AND a.n_id <> b.n_id),
       |pick1 AS (SELECT q_id, CAST(1 AS BIGINT) AS pick_rank, n_id,
       |    7 * rel_fp AS score FROM (
       |  SELECT q_id, n_id, rel_fp, row_number() OVER
       |    (PARTITION BY q_id ORDER BY 7 * rel_fp DESC, n_id) AS rk
       |  FROM cand) t WHERE rk = 1),
       |$rounds,
       |sel5 AS (${(1 to 5).map(i => s"SELECT * FROM pick$i")
        .mkString(" UNION ALL ")})
       |SELECT q_id, pick_rank, n_id, CAST(score AS BIGINT) AS score
       |FROM sel5""".stripMargin
  }

  /** q262's oracle: the three prefix widths unrolled. */
  private lazy val matryoshkaSql: String = {
    def arm(dims: Int, name: String) =
      s"""$name AS (SELECT q_id, n_id FROM (
         |  SELECT q.q_id, c.n_id, row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY round(${cosSql(s"q.q_vec[1:$dims]",
          s"c.n_vec[1:$dims]")}, 4) DESC, c.n_id) AS rk
         |  FROM c CROSS JOIN q) t WHERE rk <= 10)""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
       |           FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS n_id, embedding AS n_vec
       |      FROM embeddings WHERE vec_id >= 10),
       |${arm(64, "full64")},
       |${arm(16, "t16")},
       |${arm(32, "t32")}
       |SELECT CAST(16 AS BIGINT) AS dims,
       |  (SELECT count(*) FROM t16 JOIN full64 USING (q_id, n_id))
       |    * 10000 // 100 AS recall_bp
       |UNION ALL SELECT 32,
       |  (SELECT count(*) FROM t32 JOIN full64 USING (q_id, n_id))
       |    * 10000 // 100
       |UNION ALL SELECT 64,
       |  (SELECT count(*) FROM full64 f1 JOIN full64 f2
       |     USING (q_id, n_id)) * 10000 // 100""".stripMargin
  }

  private def cosSql(a: String, b: String) =
    s"""(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a)+1)]) /
       | (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in range(1, len($a)+1)])) *
       |  sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($b)+1)]))))""".stripMargin

  /** The reference (doc_id < 20) × corpus (≥ 20) span CTEs — q142's
    * decontamination pairing (consumes `cool` from [[spanBaseCtes]];
    * yields `spansx`), shared with the q153 per-benchmark-doc leak
    * report. */
  private[operators] lazy val refSpanCtes =
    """mx AS (SELECT a.doc_id AS ref_id, b.doc_id AS doc_id,
      |             a.pos AS pos_a, b.pos AS pos_b
      |      FROM cool a JOIN cool b USING (nh)
      |      WHERE a.doc_id < 20 AND b.doc_id >= 20),
      |rx AS (SELECT ref_id, doc_id, pos_b - pos_a AS delta, pos_a,
      |      pos_a - row_number() OVER (PARTITION BY ref_id, doc_id, pos_b - pos_a
      |        ORDER BY pos_a) AS isl FROM mx),
      |spansx AS (SELECT ref_id, doc_id,
      |       CAST(min(pos_a) + delta AS BIGINT) AS start_b,
      |       CAST(count(*) + 4 AS BIGINT) AS len
      |       FROM rx GROUP BY ref_id, doc_id, delta, isl
      |       HAVING count(*) + 4 >= 8)""".stripMargin

  /** The corpus → positioned-n-gram → hot-cap prefix of the exact-
    * substring family's oracle, shared by the self-join (dedup) and
    * reference-join (decontamination) forms. */
  private[operators] lazy val spanBaseCtes =
    """aug AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text ||
      |    CASE (doc_id % 3) WHEN 0 THEN ' alpha beta gamma delta epsilon zeta eta theta iota kappa'
      |                      WHEN 1 THEN ' lambda mu nu xi omicron pi rho sigma tau upsilon'
      |                      ELSE ' phi chi psi omega aleph beth gimel daleth he waw' END
      |    ELSE text END AS text FROM documents),
      |tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
      |ng AS (SELECT doc_id, i - 1 AS pos,
      |       substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS nh
      |       FROM tk, UNNEST(generate_series(1, len(w) - 4)) AS u(i)),
      |cool AS (SELECT * FROM ng WHERE nh NOT IN
      |         (SELECT nh FROM ng GROUP BY nh HAVING count(*) > 50))""".stripMargin

  /** Shared CTE chain for the exact-substring family (q116 spans,
    * q121 coverage): augmented corpus → positioned n-grams → hot cap
    * → matches → islands → maximal spans. */
  private[operators] lazy val spanCtes =
    s"""$spanBaseCtes,
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |             a.pos AS pos_a, b.pos AS pos_b
      |      FROM cool a JOIN cool b USING (nh) WHERE a.doc_id < b.doc_id),
      |r AS (SELECT doc_a, doc_b, pos_b - pos_a AS delta, pos_a,
      |      pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_b - pos_a
      |        ORDER BY pos_a) AS isl FROM m),
      |spans AS (SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
      |       CAST(min(pos_a) + delta AS BIGINT) AS start_b,
      |       CAST(count(*) + 4 AS BIGINT) AS len
      |       FROM r GROUP BY doc_a, doc_b, delta, isl
      |       HAVING count(*) + 4 >= 8)""".stripMargin

  private lazy val centroidSimSql =
    s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
       |              unnest(embedding) AS x,
       |              unnest(range(1, len(embedding) + 1)) AS pos
       |            FROM embeddings),
       |m AS (SELECT label, pos, avg(x::DOUBLE) AS m
       |      FROM ex GROUP BY label, pos),
       |c AS (SELECT label, list(m ORDER BY pos) AS centroid
       |      FROM m GROUP BY label)
       |SELECT a.label AS label_a, b.label AS label_b,
       |       round(${cosSql("a.centroid", "b.centroid")}, 4) AS cos
       |FROM c a JOIN c b ON a.label < b.label""".stripMargin
}
