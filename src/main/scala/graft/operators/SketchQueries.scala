package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions.{shingles, tokens}

/** The mergeable-sketch family through the oracle gate (q211–q213):
  * KMV distinct cardinality, Count-Min frequency, and histogram
  * quantiles over the `documents` corpus — see [[Sketches]] for the
  * scale rationale. All integer/md5 arithmetic, so the sketch
  * ESTIMATES (not just invariants) hash-match DuckDB exactly.
  */
object SketchQueries {

  private def docs(s: SparkSession, d: String) = t(s, d, "documents")

  private val KmvK = 64
  private val HllP = 6   // m = 64 registers
  private val HllCap = 30
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val HistWidth = 64
  private val Pcts = Seq(50, 90, 99)

  /** DuckDB mirror of [[Sketches.hash48]]. */
  private def h48Sql(e: String) =
    s"('0x' || substr(md5($e), 1, 12))::BIGINT"

  /** q264/q269 shared oracle: HLL per-source + direct-from-stream
    * '__all__' (the Spark side merges register tables, so the hash
    * compare proves merge associativity + idempotence). */
  private lazy val hllSql: String = {
    val wDiv = 1L << (48 - HllP)
    val m = 1L << HllP
    val num = 709L * m * m * (1L << HllCap)
    s"""WITH toks AS (SELECT source, string_split(text, ' ') AS w
       |              FROM documents),
       |gsh AS (SELECT source,
       |          unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                  for i in range(1, len(w)-1)]) AS g
       |        FROM toks),
       |hs AS (SELECT source,
       |         ('0x' || substr(md5(g), 1, 12))::BIGINT AS h FROM gsh),
       |rr AS (SELECT source, h // $wDiv AS reg,
       |         CASE WHEN h % $wDiv = 0 THEN $HllCap
       |              ELSE least(${48 - HllP + 1} - length(bin(h % $wDiv)),
       |                         $HllCap) END AS r
       |       FROM hs),
       |regs AS (SELECT source, reg, max(r) AS r FROM rr GROUP BY 1, 2
       |         UNION ALL
       |         SELECT '__all__' AS source, reg, max(r) AS r
       |         FROM rr GROUP BY 2),
       |z AS (SELECT source,
       |        sum(1::BIGINT << ($HllCap - r)) +
       |          ($m - count(*)) * ${1L << HllCap} AS z
       |      FROM regs GROUP BY 1),
       |est AS (SELECT source,
       |          CAST($num // (1000 * z) AS BIGINT) AS hll_est FROM z),
       |ex AS (SELECT source, count(DISTINCT g)::BIGINT AS exact_distinct
       |       FROM gsh GROUP BY 1
       |       UNION ALL
       |       SELECT '__all__', count(DISTINCT g)::BIGINT FROM gsh)
       |SELECT est.source, ex.exact_distinct, est.hll_est
       |FROM est JOIN ex USING (source)""".stripMargin
  }

  lazy val specs: Seq[QuerySpec] = Seq(

    // Per-source distinct-token cardinality by KMV sketch, plus the
    // '__all__' row built by MERGING the per-source sketches — the
    // oracle computes that row DIRECTLY from the global stream, so
    // the gate's hash compare proves KMV merge associativity, not
    // just per-row arithmetic. exact_distinct is the verification
    // column (a real vocabulary shuffle) a 100 TB deployment drops,
    // keeping only the k·sources-bounded sketch path.
    QuerySpec("q211_kmv_distinct", (s, d) => {
      val tok = docs(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
      val hashed = tok.select(col("source"),
        Sketches.hash48(col("w")).as("h"))
      val perSrc = Sketches.kMinPerKey(hashed, "source", "h", KmvK)
      val global = perSrc.agg(Sketches.kmvMerge(col("hs"), KmvK).as("hs"))
        .select(lit("__all__").as("source"), col("hs"))
      val sk = perSrc.unionByName(global)
      val dist = tok.distinct()
      val exact = dist.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dist.select(col("w")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      sk.join(exact, Seq("source"))
        .select(col("source"), col("exact_distinct"),
          Sketches.kmvEstimate(col("hs"), KmvK).as("kmv_est"))
    },
      kmvSql),

    // Incremental KMV: standing per-source sketches over the old
    // corpus (doc_id % 5 != 0, the repo's batch convention) FOLDED
    // with the arriving batch's sketches by kmvMerge — per-batch work
    // is the batch scan plus a k-sized merge, never a history rescan.
    // Output == q211 (its oracle VERBATIM): the invariant pattern —
    // the gate proves fold(old, batch) is indistinguishable from
    // from-scratch. exact_distinct stays the full-corpus verification
    // column a production fold drops.
    QuerySpec("q224_kmv_incremental", (s, d) => {
      val tok = docs(s, d).select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
      def sk(part: DataFrame) = Sketches.kMinPerKey(
        part.select(col("source"), Sketches.hash48(col("w")).as("h")),
        "source", "h", KmvK)
      val standing = sk(tok.filter(col("doc_id") % 5 =!= 0))
      val batch = sk(tok.filter(col("doc_id") % 5 === 0))
      val perSrc = standing.unionByName(batch)
        .groupBy(col("source")).agg(Sketches.kmvMerge(col("hs"), KmvK).as("hs"))
      val global = perSrc.agg(Sketches.kmvMerge(col("hs"), KmvK).as("hs"))
        .select(lit("__all__").as("source"), col("hs"))
      val sk2 = perSrc.unionByName(global)
      val dist = tok.select(col("source"), col("w")).distinct()
      val exact = dist.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dist.select(col("w")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      sk2.join(exact, Seq("source"))
        .select(col("source"), col("exact_distinct"),
          Sketches.kmvEstimate(col("hs"), KmvK).as("kmv_est"))
    },
      kmvSql),

    // The STREAMING sketch fold (StreamingSketch.processBatch — the
    // foreachBatch sink's exact per-batch path) driven over 5
    // batches PLUS a deliberate replay of batch 2: KMV merge is set
    // union, so at-least-once redelivery folds to the identical
    // table, and the final state must equal from-scratch q211 —
    // its oracle VERBATIM. The standing table never exceeds
    // |sources| rows of k longs regardless of streamed history.
    QuerySpec("q228_kmv_stream", (s, d) => {
      val table = "graft_kmv_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val base = docs(s, d)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingSketch.processBatch(
          base.filter(col("doc_id") % 5 === b), "source", "text",
          KmvK, table)
      }
      // at-least-once: batch 2 redelivered
      graft.streaming.StreamingSketch.processBatch(
        base.filter(col("doc_id") % 5 === 2), "source", "text",
        KmvK, table)
      val perSrc = s.table(table)
      val global = perSrc.agg(Sketches.kmvMerge(col("hs"), KmvK).as("hs"))
        .select(lit("__all__").as("source"), col("hs"))
      val sk2 = perSrc.unionByName(global)
      val tok = base.select(col("source"),
        explode(tokens(col("text"))).as("w"))
      val dist = tok.distinct()
      val exact = dist.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dist.select(col("w")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      sk2.join(exact, Seq("source"))
        .select(col("source"), col("exact_distinct"),
          Sketches.kmvEstimate(col("hs"), KmvK).as("kmv_est"))
    },
      kmvSql, writes = true),

    // DELETE-fold Count-Min: linearity cuts both ways — subtracting
    // the deleted slice's sketch cell-wise (zero cells dropped) must
    // leave cell-for-cell the from-scratch sketch of the SURVIVING
    // corpus; the gate proves it by running the heavy-hitter report
    // over the folded sketch against q212's oracle computed on the
    // filtered table. Right-to-be-forgotten for frequency state at
    // cost ∝ deleted slice + depth·width — the retained corpus is
    // never rescanned (contrast KMV/HLL, whose idempotent-max merges
    // are NOT invertible: erasure there means rebuild).
    QuerySpec("q282_cms_delete", (s, d) => {
      val tok = docs(s, d).select(col("doc_id"),
        explode(tokens(col("text"))).as("w"))
      def tf(p: DataFrame) = p.groupBy(col("w")).agg(count(lit(1)).as("c"))
      def sk(p: DataFrame) =
        Sketches.cmsSketch(tf(p), "w", "c", CmsDepth, CmsWidth)
      val folded = Sketches.cmsSubtractCells(sk(tok),
        sk(tok.filter(col("doc_id") % 7 === 3)))
      val kept = tf(tok.filter(col("doc_id") % 7 =!= 3))
      val cands = kept.orderBy(col("c").desc, col("w").asc).limit(20)
      Sketches.cmsLookup(folded, cands, "w", CmsDepth, CmsWidth)
        .select(col("w"), col("c").as("exact_c"), col("cms_est"),
          (col("cms_est") >= col("c")).as("over_ok"))
    },
      // subtract-fold == from-scratch over survivors: q212's oracle on
      // the filtered corpus (CTE shadows the view; main. disambiguates)
      ("WITH documents AS (SELECT * FROM main.documents " +
        "WHERE doc_id % 7 <> 3),\n" + cmsSql.stripPrefix("WITH "))),

    // Incremental Count-Min: the standing sketch over the old corpus
    // FOLDED with the batch's sketch by cell-wise sum — CMS is
    // LINEAR, so fold(old, batch) must equal the from-scratch sketch
    // cell-for-cell; the gate proves it by running q212's heavy-
    // hitter report over the MERGED sketch against q212's oracle
    // VERBATIM (which sketches the whole corpus directly). Per-batch
    // work is the batch scan + a depth·width-bounded sum.
    QuerySpec("q232_cms_incremental", (s, d) => {
      val tok = docs(s, d).select(col("doc_id"),
        explode(tokens(col("text"))).as("w"))
      def tf(p: DataFrame) = p.groupBy(col("w")).agg(count(lit(1)).as("c"))
      def sk(p: DataFrame) =
        Sketches.cmsSketch(tf(p), "w", "c", CmsDepth, CmsWidth)
      val merged = Sketches.cmsMergeCells(
        sk(tok.filter(col("doc_id") % 5 =!= 0)),
        sk(tok.filter(col("doc_id") % 5 === 0)))
      val full = tf(tok)
      val cands = full.orderBy(col("c").desc, col("w").asc).limit(20)
      Sketches.cmsLookup(merged, cands, "w", CmsDepth, CmsWidth)
        .select(col("w"), col("c").as("exact_c"), col("cms_est"),
          (col("cms_est") >= col("c")).as("over_ok"))
    },
      // fold(old, batch) must be indistinguishable from from-scratch —
      // CMS linearity through the gate, q212's oracle verbatim
      cmsSql),

    // The STREAMING Count-Min fold (StreamingSketch.processCmsBatch)
    // over 5 batches PLUS a deliberate replay of batch 2. CMS merge
    // is a SUM — replay would DOUBLE-COUNT, the opposite of q228's
    // idempotent KMV union — so the sink's landed-batch ledger
    // (sentinel rows inside the sketch table: one commit carries
    // state + ledger) must skip the redelivery for the final state to
    // equal from-scratch q212 — its oracle VERBATIM.
    QuerySpec("q233_cms_stream", (s, d) => {
      val table = "graft_cms_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val base = docs(s, d)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingSketch.processCmsBatch(
          base.filter(col("doc_id") % 5 === b), "text",
          CmsDepth, CmsWidth, table, b.toLong)
      }
      // at-least-once: batch 2 redelivered — the ledger must skip it
      graft.streaming.StreamingSketch.processCmsBatch(
        base.filter(col("doc_id") % 5 === 2), "text",
        CmsDepth, CmsWidth, table, 2L)
      val sketch = s.table(table).filter(col("row") >= 0L)
      val tf = base.select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val cands = tf.orderBy(col("c").desc, col("w").asc).limit(20)
      Sketches.cmsLookup(sketch, cands, "w", CmsDepth, CmsWidth)
        .select(col("w"), col("c").as("exact_c"), col("cms_est"),
          (col("cms_est") >= col("c")).as("over_ok"))
    },
      // and the streamed fold with a replayed batch skipped by the
      // ledger must land on the same table — q212's oracle verbatim
      cmsSql, writes = true),

    // Count-Min frequency sketch (4 × 256 cells — bounded state no
    // matter the vocabulary) probed with the exact top-20 tokens:
    // the estimate upper-bounds the true count ALWAYS (over_ok), and
    // both the estimates and the bound are cross-engine exact.
    QuerySpec("q212_cms_heavy_hitters", (s, d) => {
      val tf = docs(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val sketch = Sketches.cmsSketch(tf, "w", "c", CmsDepth, CmsWidth)
      val cands = tf.orderBy(col("c").desc, col("w").asc).limit(20)
      Sketches.cmsLookup(sketch, cands, "w", CmsDepth, CmsWidth)
        .select(col("w"), col("c").as("exact_c"), col("cms_est"),
          (col("cms_est") >= col("c")).as("over_ok"))
    },
      cmsSql),

    // Distribution DRIFT measured from sketches alone: old corpus vs
    // batch token distributions compared per CMS row as an L1 over
    // bucket masses, cross-multiplied by the opposite side's total so
    // everything stays exact BIGINT (production divides in doubles;
    // the gate keeps integers — overflow headroom note in-code). Each
    // row's bucketed L1 LOWER-BOUNDS the true vocabulary L1
    // (projection contraction), asserted per row against the exact
    // distance — drift monitoring with depth·width state, no vocab
    // shuffle.
    QuerySpec("q229_cms_drift", (s, d) => {
      val tok = docs(s, d).select(col("doc_id"),
        explode(tokens(col("text"))).as("w"))
      def tf(p: DataFrame) = p.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val oldTf = tf(tok.filter(col("doc_id") % 5 =!= 0))
      val newTf = tf(tok.filter(col("doc_id") % 5 === 0))
      val no = oldTf.agg(sum(col("c")).as("n_old"))
      val nn = newTf.agg(sum(col("c")).as("n_new"))
      // cross-multiplied masses stay < 2^63 while each side holds
      // under ~3e9 tokens; beyond that, divide first in DOUBLE
      val cells = Sketches.cmsSketch(oldTf, "w", "c", CmsDepth, CmsWidth)
        .select(col("row"), col("bucket"), col("cell").as("co"))
        .join(Sketches.cmsSketch(newTf, "w", "c", CmsDepth, CmsWidth)
          .select(col("row"), col("bucket"), col("cell").as("cn")),
          Seq("row", "bucket"), "full_outer")
        .select(col("row"), coalesce(col("co"), lit(0L)).as("co"),
          coalesce(col("cn"), lit(0L)).as("cn"))
      val l1 = cells.crossJoin(broadcast(no)).crossJoin(broadcast(nn))
        .groupBy(col("row"))
        .agg(sum(abs(col("co") * col("n_new") - col("cn") * col("n_old")))
          .as("l1_sketch_x"))
      val exact = oldTf.select(col("w"), col("c").as("co"))
        .join(newTf.select(col("w"), col("c").as("cn")), Seq("w"),
          "full_outer")
        .select(coalesce(col("co"), lit(0L)).as("co"),
          coalesce(col("cn"), lit(0L)).as("cn"))
        .crossJoin(broadcast(no)).crossJoin(broadcast(nn))
        .agg(sum(abs(col("co") * col("n_new") - col("cn") * col("n_old")))
          .as("l1_exact_x"))
      l1.crossJoin(broadcast(exact))
        .select(col("row").cast("long").as("sk_row"), col("l1_sketch_x"),
          col("l1_exact_x"),
          (col("l1_sketch_x") <= col("l1_exact_x")).as("lower_bound_ok"))
    },
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |            FROM documents),
         |otf AS (SELECT w, count(*)::BIGINT AS c FROM tok
         |        WHERE doc_id % 5 <> 0 GROUP BY w),
         |ntf AS (SELECT w, count(*)::BIGINT AS c FROM tok
         |        WHERE doc_id % 5 = 0 GROUP BY w),
         |no AS (SELECT CAST(sum(c) AS BIGINT) AS n_old FROM otf),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n_new FROM ntf),
         |rs AS (SELECT unnest(range($CmsDepth)) AS r),
         |oc AS (SELECT r, ${h48Sql("r::VARCHAR || '|' || w")} % $CmsWidth
         |         AS bucket, CAST(sum(c) AS BIGINT) AS co
         |       FROM otf CROSS JOIN rs GROUP BY r, bucket),
         |nc AS (SELECT r, ${h48Sql("r::VARCHAR || '|' || w")} % $CmsWidth
         |         AS bucket, CAST(sum(c) AS BIGINT) AS cn
         |       FROM ntf CROSS JOIN rs GROUP BY r, bucket),
         |cells AS (SELECT coalesce(oc.r, nc.r) AS r,
         |            coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
         |          FROM oc FULL OUTER JOIN nc
         |            ON oc.r = nc.r AND oc.bucket = nc.bucket),
         |l1 AS (SELECT r, CAST(sum(abs(co * n_new - cn * n_old)) AS BIGINT)
         |         AS l1_sketch_x
         |       FROM cells CROSS JOIN no CROSS JOIN nn GROUP BY r),
         |exv AS (SELECT coalesce(otf.c, 0) AS co, coalesce(ntf.c, 0) AS cn
         |        FROM otf FULL OUTER JOIN ntf ON otf.w = ntf.w),
         |ex AS (SELECT CAST(sum(abs(co * n_new - cn * n_old)) AS BIGINT)
         |         AS l1_exact_x
         |       FROM exv CROSS JOIN no CROSS JOIN nn)
         |SELECT CAST(l1.r AS BIGINT) AS sk_row, l1.l1_sketch_x, ex.l1_exact_x,
         |       l1.l1_sketch_x <= ex.l1_exact_x AS lower_bound_ok
         |FROM l1 CROSS JOIN ex""".stripMargin),

    // ROLLING-window distinct from daily sketches: per-day KMV
    // sketches of active users, each 7-day window answered by MERGING
    // seven daily sketches — the time-windowed rollup that replaces a
    // 7-day re-scan with a k·7-row merge (and generalizes to any
    // window from the same daily state). Exact windowed distinct is
    // the verification column. Reads the events table: day = epoch-ns
    // day index (the repo's timestamp convention).
    QuerySpec("q263_kmv_rolling", (s, d) => {
      val ev = graft.Tables.t(s, d, "events")
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      val daily = Sketches.kMinPerKey(
        ev.select(col("day"),
          Sketches.hash48(col("user_id").cast("string")).as("h"))
          .distinct(),
        "day", "h", KmvK)
      val days = ev.select(col("day")).distinct()
      val rolled = daily
        .withColumn("__off", explode(array((0 until 7).map(lit): _*)))
        .withColumn("t", col("day") + col("__off"))
        .join(days.withColumnRenamed("day", "t"), Seq("t"))
        .groupBy(col("t"))
        .agg(Sketches.kmvMerge(col("hs"), KmvK).as("hs"))
      val exact = ev.distinct()
        .withColumn("__off", explode(array((0 until 7).map(lit): _*)))
        .withColumn("t", col("day") + col("__off"))
        .join(days.withColumnRenamed("day", "t"), Seq("t"))
        .groupBy(col("t"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      rolled.join(exact, Seq("t"))
        .select(col("t").as("day"), col("exact_distinct"),
          Sketches.kmvEstimate(col("hs"), KmvK).as("kmv_est"))
    },
      s"""WITH ev AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
         |              user_id FROM events),
         |hs AS (SELECT DISTINCT day,
         |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
         |           AS h FROM ev),
         |sk AS (SELECT day, h FROM (
         |         SELECT day, h, row_number() OVER (PARTITION BY day
         |           ORDER BY h) AS rk FROM hs) t WHERE rk <= $KmvK),
         |days AS (SELECT DISTINCT day AS t FROM ev),
         |win AS (SELECT DISTINCT days.t, sk.h
         |        FROM days JOIN sk ON sk.day BETWEEN days.t - 6 AND days.t),
         |wr AS (SELECT t, h, row_number() OVER (PARTITION BY t
         |         ORDER BY h) AS rk, count(*) OVER (PARTITION BY t) AS nh
         |       FROM win),
         |est AS (SELECT t,
         |          CASE WHEN max(nh) < $KmvK THEN max(nh)
         |               ELSE ${(KmvK - 1).toLong * Sketches.Hash48Max} //
         |                    max(CASE WHEN rk = $KmvK THEN h END)
         |          END AS kmv_est
         |        FROM wr GROUP BY t),
         |ex AS (SELECT days.t, count(DISTINCT ev.user_id) AS exact_distinct
         |       FROM days JOIN ev ON ev.day BETWEEN days.t - 6 AND days.t
         |       GROUP BY days.t)
         |SELECT est.t AS day, ex.exact_distinct,
         |       CAST(est.kmv_est AS BIGINT) AS kmv_est
         |FROM est JOIN ex USING (t)""".stripMargin),

    // HYPERLOGLOG distinct cardinality per source over the 3-shingle
    // stream, plus the '__all__' row built by MERGING the per-source
    // register tables — fed in TWICE: register-wise max is idempotent
    // (KMV's replay-safe class, NOT CMS's ledger-needing linear
    // class), so the duplicated fold must be invisible. The oracle
    // computes '__all__' DIRECTLY from the global stream, so the hash
    // compare proves merge associativity AND idempotence at once.
    // State is 2^p small ints per key vs KMV's k full hashes; the
    // stream is never distinct'd — duplicates collapse inside the
    // map-side-combined register max. exact_distinct is the
    // verification column (a real shuffle) the 100 TB path drops.
    QuerySpec("q264_hll_distinct", (s, d) => {
      val sh = docs(s, d)
        .select(col("source"), explode(shingles(col("text"), 3)).as("g"))
      val hashed = sh.select(col("source"),
        Sketches.hash48(col("g")).as("h"))
      val perSrc = Sketches.hllRegisters(hashed, "source", "h", HllP, HllCap)
      def asAll(r: DataFrame) =
        r.select(lit("__all__").as("source"), col("reg"), col("r"))
      val allRegs = Sketches.hllMergeRegs(asAll(perSrc), asAll(perSrc))
      val est = Sketches.hllEstimate(perSrc.unionByName(allRegs),
        "source", HllP, HllCap)
      val dist = sh.distinct()
      val exact = dist.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dist.select(col("g")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      est.join(exact, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("hll_est"))
    },
      // '__all__' computed directly from the global stream (the Spark
      // side merges per-source register tables twice) — the gate's
      // proof of register-max associativity + idempotence
      hllSql),

    // The PURE-SQL surface end to end: the same HLL report written as
    // ONE spark.sql(...) string using the registered function surface
    // — shingles(text, 3) exploded in a LATERAL VIEW, the native
    // hll_registers_agg UDAF grouped per source (plus a grouping-sets
    // '__all__' twin), and the BIGINT estimator as higher-order-
    // function arithmetic over the register array. A user who only
    // speaks SQL gets the identical engine — q264's oracle VERBATIM.
    QuerySpec("q314_sql_surface", (s, d) => {
      graft.functions.GraftFunctions.registerAll(s)
      docs(s, d).createOrReplaceTempView("g_sql_docs")
      val m = 1L << HllP
      val num = 709L * m * m * (1L << HllCap)
      s.sql(
        s"""WITH sh AS (SELECT source, g FROM g_sql_docs
           |  LATERAL VIEW explode(shingles(text, 3)) t AS g),
           |hashed AS (SELECT source,
           |  CAST(conv(substr(md5(g), 1, 12), 16, 10) AS BIGINT) AS h
           |  FROM sh),
           |regs AS (
           |  SELECT source, hll_registers_agg(h, $HllP, $HllCap) AS r
           |  FROM hashed GROUP BY source
           |  UNION ALL
           |  SELECT '__all__', hll_registers_agg(h, $HllP, $HllCap)
           |  FROM hashed),
           |est AS (SELECT source,
           |  $num DIV (1000 * aggregate(r, 0L,
           |    (acc, x) -> acc + shiftleft(1L, $HllCap - CAST(x AS INT))))
           |    AS hll_est
           |  FROM regs),
           |ex AS (
           |  SELECT source, count(DISTINCT g) AS exact_distinct FROM sh
           |  GROUP BY source
           |  UNION ALL
           |  SELECT '__all__', count(DISTINCT g) FROM sh)
           |SELECT est.source, ex.exact_distinct, est.hll_est
           |FROM est JOIN ex ON est.source = ex.source""".stripMargin)
    },
      // and the pure-spark.sql rendering of the same report — verbatim
      hllSql),

    // The NATIVE Catalyst AGGREGATE path (functions.HllRegistersAgg,
    // a TypedImperativeAggregate): per-group state is a mutable
    // 2^p-byte register buffer updated row-by-row on the map side,
    // shipped through serialize/deserialize, and merged register-wise
    // on the reduce side — the real partial-aggregation machinery,
    // not a groupBy-max reformulation. Ranks/registers compute the
    // same arithmetic as Sketches.hllRegisters, so the estimates must
    // land on q264's oracle VERBATIM — which is exactly the proof the
    // update/merge/serialize path is correct.
    QuerySpec("q311_hll_native_agg", (s, d) => {
      val sh = docs(s, d)
        .select(col("source"), explode(shingles(col("text"), 3)).as("g"))
      val hashed = sh.select(col("source"),
        Sketches.hash48(col("g")).as("h"))
      def regsOf(key: org.apache.spark.sql.Column) = hashed
        .groupBy(key.as("source"))
        .agg(graft.functions.HllAgg.hllRegistersAgg(col("h"),
          HllP, HllCap).as("__regs"))
        .select(col("source"),
          posexplode(col("__regs")).as(Seq("reg", "r")))
        .filter(col("r") > 0)
        .select(col("source"), col("reg").cast("long").as("reg"),
          col("r"))
      val est = Sketches.hllEstimate(
        regsOf(col("source")).unionByName(regsOf(lit("__all__"))),
        "source", HllP, HllCap)
      val dist = sh.distinct()
      val exact = dist.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dist.select(col("g")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      est.join(exact, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("hll_est"))
    },
      // the native TypedImperativeAggregate's update/merge/serialize
      // path must land on the same estimates — q264's oracle verbatim
      hllSql),

    // The STREAMING HLL fold (StreamingSketch.processHllBatch — the
    // foreachBatch sink's exact per-batch path) driven over 5 batches
    // PLUS a deliberate replay of batch 2: register-wise max is
    // idempotent, so at-least-once redelivery folds to the identical
    // table with NO landed-batch ledger to consult (the q228 KMV
    // class, not the q233/q243 linear class). Final state must equal
    // from-scratch q264 — its oracle VERBATIM. Standing table ≤
    // |sources|·2^p small-int rows regardless of streamed history.
    QuerySpec("q269_hll_stream", (s, d) => {
      val table = "graft_hll_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val base = docs(s, d)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingSketch.processHllBatch(
          base.filter(col("doc_id") % 5 === b), "source", "text",
          HllP, HllCap, table)
      }
      // at-least-once: batch 2 redelivered
      graft.streaming.StreamingSketch.processHllBatch(
        base.filter(col("doc_id") % 5 === 2), "source", "text",
        HllP, HllCap, table)
      val perSrc = s.table(table)
      def asAll(r: DataFrame) =
        r.select(lit("__all__").as("source"), col("reg"), col("r"))
      val allRegs = Sketches.hllMergeRegs(asAll(perSrc), asAll(perSrc))
      val est = Sketches.hllEstimate(perSrc.unionByName(allRegs),
        "source", HllP, HllCap)
      val sh = base.select(col("source"),
        explode(shingles(col("text"), 3)).as("g"))
      val dist = sh.distinct()
      val exact = dist.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dist.select(col("g")).distinct()
          .agg(count(lit(1)).as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      est.join(exact, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("hll_est"))
    },
      // the streaming fold's final table must equal from-scratch q264
      // even under the deliberate batch-2 redelivery — register max is
      // idempotent, so no ledger exists to consult
      hllSql, writes = true),

    // KMV SET ALGEBRA: union, intersection, and Jaccard of every
    // src0–src4 pair estimated from their k=64 sketches alone (the
    // theta-sketch combination rule: merge to the union's k smallest,
    // theta = the k-th, count common hashes below theta), with the
    // exact values as verification columns. Distinct-count sketches
    // that also answer OVERLAP turn per-source dedup triage into
    // sketch lookups — no shingle re-scan per pair. All integer
    // arithmetic; saturation (union sketch shorter than k) falls back
    // to exact-by-construction, mirrored in the oracle.
    QuerySpec("q259_kmv_set_algebra", (s, d) => {
      val K = KmvK
      val w = org.apache.spark.sql.expressions.Window
      val srcs = (0 until 5).map(i => s"src$i")
      val sh = docs(s, d).filter(col("source").isin(srcs: _*))
        .select(col("source"), explode(shingles(col("text"), 3)).as("g"))
        .select(col("source"), Sketches.hash48(col("g")).as("h"))
        .distinct()
      val sk = sh.withColumn("rk", row_number().over(
          w.partitionBy(col("source")).orderBy(col("h"))))
        .filter(col("rk") <= K).select(col("source"), col("h"))
      val pairs = sh.select(col("source").as("src_a")).distinct()
        .crossJoin(sh.select(col("source").as("src_b")).distinct())
        .filter(col("src_a") < col("src_b"))
      // union sketch per pair: k smallest of the two sketches' union
      val u = pairs.join(sk.withColumnRenamed("source", "src_a"),
          Seq("src_a"))
        .unionByName(pairs.join(sk.withColumnRenamed("source", "src_b"),
          Seq("src_b")).select(col("src_a"), col("src_b"), col("h")))
        .distinct()
      val ur = u.withColumn("rk", row_number().over(
        w.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))))
      val nu = ur.groupBy(col("src_a"), col("src_b"))
        .agg(max(col("rk")).as("n_u"))
      val theta = ur.filter(col("rk") === K)
        .select(col("src_a"), col("src_b"), col("h").as("theta"))
      // hashes present in BOTH sketches
      val common = sk.withColumnRenamed("source", "src_a")
        .join(sk.withColumnRenamed("source", "src_b"), Seq("h"))
        .filter(col("src_a") < col("src_b"))
      val c = pairs.join(nu, Seq("src_a", "src_b"))
        .join(theta, Seq("src_a", "src_b"), "left")
        .join(common, Seq("src_a", "src_b"), "left")
        .withColumn("__in", col("h").isNotNull &&
          (col("theta").isNull || col("h") < col("theta")))
        .groupBy(col("src_a"), col("src_b"), col("n_u"), col("theta"))
        .agg(sum(when(col("__in"), 1L).otherwise(0L)).as("c"))
      // exact sides from the FULL hash sets
      val na = sh.groupBy(col("source").as("src_a"))
        .agg(count(lit(1)).as("n_a"))
      val nb = sh.groupBy(col("source").as("src_b"))
        .agg(count(lit(1)).as("n_b"))
      val exInt = sh.withColumnRenamed("source", "src_a")
        .join(sh.withColumnRenamed("source", "src_b"), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("exact_intersect"))
      c.join(na, Seq("src_a")).join(nb, Seq("src_b"))
        .join(exInt, Seq("src_a", "src_b"), "left")
        .withColumn("exact_intersect",
          coalesce(col("exact_intersect"), lit(0L)))
        .withColumn("exact_union",
          col("n_a") + col("n_b") - col("exact_intersect"))
        .withColumn("denom", least(col("n_u"), lit(K.toLong)))
        .withColumn("est_union", when(col("theta").isNull, col("n_u"))
          .otherwise(expr(s"${(K - 1).toLong * Sketches.Hash48Max}L div theta")))
        .withColumn("est_intersect",
          expr("c * est_union div denom"))
        .withColumn("est_jaccard_bp", expr("c * 10000L div denom"))
        .select(col("src_a"), col("src_b"), col("exact_union"),
          col("est_union"), col("exact_intersect"), col("est_intersect"),
          col("est_jaccard_bp"))
    },
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS w
         |              FROM documents WHERE source IN
         |                ('src0','src1','src2','src3','src4')),
         |gsh AS (SELECT source,
         |          unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                  for i in range(1, len(w)-1)]) AS g
         |        FROM toks),
         |sh AS (SELECT DISTINCT source,
         |         ('0x' || substr(md5(g), 1, 12))::BIGINT AS h FROM gsh),
         |sk AS (SELECT source, h FROM (
         |         SELECT source, h, row_number() OVER
         |           (PARTITION BY source ORDER BY h) AS rk FROM sh)
         |       WHERE rk <= $KmvK),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b
         |       FROM (SELECT DISTINCT source FROM sh) a,
         |            (SELECT DISTINCT source FROM sh) b
         |       WHERE a.source < b.source),
         |u AS (SELECT DISTINCT src_a, src_b, h FROM (
         |        SELECT pr.src_a, pr.src_b, sk.h FROM pr
         |        JOIN sk ON sk.source = pr.src_a
         |        UNION ALL
         |        SELECT pr.src_a, pr.src_b, sk.h FROM pr
         |        JOIN sk ON sk.source = pr.src_b) t),
         |ur AS (SELECT src_a, src_b, h, row_number() OVER
         |         (PARTITION BY src_a, src_b ORDER BY h) AS rk FROM u),
         |nu AS (SELECT src_a, src_b, CAST(max(rk) AS BIGINT) AS n_u
         |       FROM ur GROUP BY 1, 2),
         |th AS (SELECT src_a, src_b, h AS theta FROM ur WHERE rk = $KmvK),
         |cm AS (SELECT a.source AS src_a, b.source AS src_b, a.h
         |       FROM sk a JOIN sk b
         |         ON a.h = b.h AND a.source < b.source),
         |cc AS (SELECT pr.src_a, pr.src_b, nu.n_u, th.theta,
         |         CAST(sum(CASE WHEN cm.h IS NOT NULL AND
         |             (th.theta IS NULL OR cm.h < th.theta)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS c
         |       FROM pr JOIN nu USING (src_a, src_b)
         |       LEFT JOIN th USING (src_a, src_b)
         |       LEFT JOIN cm USING (src_a, src_b)
         |       GROUP BY 1, 2, 3, 4),
         |na AS (SELECT source AS src_a, count(*)::BIGINT AS n_a
         |       FROM sh GROUP BY 1),
         |nb AS (SELECT source AS src_b, count(*)::BIGINT AS n_b
         |       FROM sh GROUP BY 1),
         |xi AS (SELECT a.source AS src_a, b.source AS src_b,
         |         count(*)::BIGINT AS exact_intersect
         |       FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |       GROUP BY 1, 2),
         |fin AS (SELECT cc.src_a, cc.src_b, cc.n_u, cc.theta, cc.c,
         |          na.n_a, nb.n_b,
         |          coalesce(xi.exact_intersect, 0) AS exact_intersect,
         |          CASE WHEN cc.theta IS NULL THEN cc.n_u
         |               ELSE ${(KmvK - 1).toLong * Sketches.Hash48Max} // cc.theta
         |          END AS est_u
         |        FROM cc JOIN na USING (src_a) JOIN nb USING (src_b)
         |        LEFT JOIN xi USING (src_a, src_b))
         |SELECT src_a, src_b,
         |  CAST(n_a + n_b - exact_intersect AS BIGINT) AS exact_union,
         |  CAST(est_u AS BIGINT) AS est_union,
         |  CAST(exact_intersect AS BIGINT) AS exact_intersect,
         |  CAST(c * est_u // least(n_u, $KmvK) AS BIGINT) AS est_intersect,
         |  CAST(c * 10000 // least(n_u, $KmvK) AS BIGINT) AS est_jaccard_bp
         |FROM fin""".stripMargin),

    // Join-SIZE estimation from sketches alone — the query-optimizer
    // statistic: |old ⋈ new on token| = Σ_w c_old(w)·c_new(w), and the
    // CMS inner product Σ_bucket co·cn per row UPPER-BOUNDS it (every
    // true pair collides into the same cell; hash collisions only
    // add), so min over rows is the classic estimate. Exact side is
    // the verification column; both integer-exact through the gate.
    QuerySpec("q245_cms_join_size", (s, d) => {
      val tok = docs(s, d).select(col("doc_id"),
        explode(tokens(col("text"))).as("w"))
      def tf(p: DataFrame) = p.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val oldTf = tf(tok.filter(col("doc_id") % 5 =!= 0))
      val newTf = tf(tok.filter(col("doc_id") % 5 === 0))
      def sk(t: DataFrame, as: String) =
        Sketches.cmsSketch(t, "w", "c", CmsDepth, CmsWidth)
          .select(col("row"), col("bucket"), col("cell").as(as))
      val est = sk(oldTf, "co").join(sk(newTf, "cn"), Seq("row", "bucket"))
        .groupBy(col("row")).agg(sum(col("co") * col("cn")).as("e"))
        .agg(min(col("e")).as("cms_join_est"))
      val exact = oldTf.select(col("w"), col("c").as("co"))
        .join(newTf.select(col("w"), col("c").as("cn")), Seq("w"))
        .agg(coalesce(sum(col("co") * col("cn")), lit(0L))
          .as("exact_join_size"))
      exact.crossJoin(est)
        .select(col("exact_join_size"), col("cms_join_est"),
          (col("cms_join_est") >= col("exact_join_size")).as("over_ok"))
    },
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |            FROM documents),
         |otf AS (SELECT w, count(*)::BIGINT AS c FROM tok
         |        WHERE doc_id % 5 <> 0 GROUP BY w),
         |ntf AS (SELECT w, count(*)::BIGINT AS c FROM tok
         |        WHERE doc_id % 5 = 0 GROUP BY w),
         |rs AS (SELECT unnest(range($CmsDepth)) AS r),
         |oc AS (SELECT r, ${h48Sql("r::VARCHAR || '|' || w")} % $CmsWidth
         |         AS bucket, CAST(sum(c) AS BIGINT) AS co
         |       FROM otf CROSS JOIN rs GROUP BY r, bucket),
         |nc AS (SELECT r, ${h48Sql("r::VARCHAR || '|' || w")} % $CmsWidth
         |         AS bucket, CAST(sum(c) AS BIGINT) AS cn
         |       FROM ntf CROSS JOIN rs GROUP BY r, bucket),
         |est AS (SELECT min(e) AS cms_join_est FROM (
         |          SELECT r, CAST(sum(co * cn) AS BIGINT) AS e
         |          FROM oc JOIN nc USING (r, bucket) GROUP BY r)),
         |ex AS (SELECT CAST(coalesce(sum(otf.c * ntf.c), 0) AS BIGINT)
         |         AS exact_join_size
         |       FROM otf JOIN ntf USING (w))
         |SELECT ex.exact_join_size, est.cms_join_est,
         |       est.cms_join_est >= ex.exact_join_size AS over_ok
         |FROM ex CROSS JOIN est""".stripMargin),

    // Per-source histogram ROLLUP: source-level histograms merged by
    // cell-wise sum, then the q213 quantile report over the MERGED
    // cells — while the oracle computes the report from the global
    // histogram directly (q213's SQL verbatim), so the gate proves
    // histogram merge associativity exactly as q211's __all__ row
    // does for KMV.
    QuerySpec("q230_hist_rollup", (s, d) => {
      val merged = docs(s, d)
        .groupBy(col("source"), expr(s"n_chars div $HistWidth").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
      histQuantileReport(s, docs(s, d), merged)
    },
      // the rollup must be indistinguishable from the direct histogram —
      // merge associativity through the gate, q213's oracle verbatim
      histSql),

    // The STREAMING histogram fold (StreamingSketch.processHistBatch)
    // over 5 batches PLUS a replay of batch 2 — the third linear
    // sketch on the ledgered-fold sink discipline (data cells at
    // bucket ≥ 0, ledger sentinels at -1-batchId, one commit). Final
    // cells feed the q213 quantile report — its oracle VERBATIM.
    QuerySpec("q243_hist_stream", (s, d) => {
      val table = "graft_hist_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val base = docs(s, d)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingSketch.processHistBatch(
          base.filter(col("doc_id") % 5 === b), "n_chars",
          HistWidth, table, b.toLong)
      }
      graft.streaming.StreamingSketch.processHistBatch(
        base.filter(col("doc_id") % 5 === 2), "n_chars",
        HistWidth, table, 2L)
      histQuantileReport(s, docs(s, d),
        s.table(table).filter(col("bucket") >= 0L))
    },
      // and the streamed fold with a replayed batch skipped by the
      // ledger — q213's oracle verbatim
      histSql, writes = true),

    // EXACT type-1 quantiles in TWO passes, no global sort
    // (Quantiles.exactQuantiles): pass 1 locates each percentile's
    // bucket from the fixed-grid histogram; pass 2 ranks only inside
    // the wanted buckets. The exact answer q213's single-pass sketch
    // only brackets (est_hi within one width above) — the two
    // operators are the speed/precision pair a quantile service
    // chooses between.
    QuerySpec("q301_exact_quantiles", (s, d) =>
      Quantiles.exactQuantiles(docs(s, d), "n_chars", HistWidth, Pcts),
      // the exact type-1 definition from first principles: smallest v
      // whose cumulative count reaches ceil(p·n/100)
      s"""WITH vc AS (SELECT n_chars AS v, count(*) AS cnt
         |            FROM documents GROUP BY 1),
         |cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM vc),
         |tot AS (SELECT count(*)::BIGINT AS n FROM documents),
         |p AS (SELECT unnest([${Pcts.mkString(", ")}]) AS pct)
         |SELECT pct::BIGINT AS pct, CAST(min(v) AS BIGINT) AS exact_v
         |FROM cum, tot, p WHERE cum * 100 >= pct * n
         |GROUP BY 1""".stripMargin),
    // and per-key: every source's exact quantile grid, the same two
    // key-scoped passes (cells and pass-2 rows both carry the key).
    QuerySpec("q302_quantiles_by_source", (s, d) =>
      Quantiles.exactQuantilesByKey(docs(s, d), "source", "n_chars",
        HistWidth, Pcts),
      s"""WITH vc AS (SELECT source AS key, n_chars AS v, count(*) AS cnt
         |            FROM documents GROUP BY 1, 2),
         |cum AS (SELECT key, v, sum(cnt) OVER (PARTITION BY key
         |          ORDER BY v) AS cum FROM vc),
         |tot AS (SELECT source AS key, count(*)::BIGINT AS n
         |        FROM documents GROUP BY 1),
         |p AS (SELECT unnest([${Pcts.mkString(", ")}]) AS pct)
         |SELECT cum.key, pct::BIGINT AS pct,
         |       CAST(min(v) AS BIGINT) AS exact_v
         |FROM cum JOIN tot USING (key) CROSS JOIN p
         |WHERE cum * 100 >= pct * n
         |GROUP BY 1, 2""".stripMargin),

    // Histogram DELETE-fold: the standing grid minus the deleted
    // slice's grid (emptied buckets dropped) feeds the q213 quantile
    // report with the SURVIVORS as the exact verification side —
    // q213's oracle on the filtered corpus. Completes the
    // invertibility taxonomy the delete wave documents: histogram
    // and CMS cells are linear (subtract-fold), KMV/HLL max-merges
    // are not (erasure there = rebuild).
    QuerySpec("q289_hist_delete", (s, d) => {
      val base = docs(s, d)
      def h(p: DataFrame) =
        Sketches.histogram(p.select(col("n_chars")), "n_chars", HistWidth)
      histQuantileReport(s, base.filter(col("doc_id") % 7 =!= 3),
        Sketches.histSubtract(h(base),
          h(base.filter(col("doc_id") % 7 === 3))))
    },
      // subtract-fold == from-scratch over survivors: q213's oracle on
      // the filtered corpus
      ("WITH documents AS (SELECT * FROM main.documents " +
        "WHERE doc_id % 7 <> 3),\n" + histSql.stripPrefix("WITH "))),

    // Histogram quantiles: a width-64 fixed grid over n_chars (cells
    // merge by sum — the per-partition / per-day rollup state) whose
    // estimate provably lands within one bucket width ABOVE the
    // exact type-1 quantile; the exact side is the verification
    // column. Cumulative windows run over aggregated cells (≤
    // max/width rows), never data rows.
    QuerySpec("q213_hist_quantiles", (s, d) =>
      histQuantileReport(s, docs(s, d), Sketches.histogram(
        docs(s, d).select(col("n_chars")), "n_chars", HistWidth)),
      histSql))

  /** The q213 report tail over ANY n_chars histogram frame (bucket,
    * cnt): estimates from the cells, exact type-1 quantiles from the
    * corpus as the verification columns, error-bound flags. Shared by
    * the direct (q213) and per-source-rollup (q230) paths. */
  private def histQuantileReport(s: SparkSession, base: DataFrame,
                                 hist: DataFrame): DataFrame = {
    import s.implicits._
    val est = Sketches.histQuantiles(hist, HistWidth, Pcts)
    val vc = base.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = vc.withColumn("cum", sum(col("cnt")).over(wv))
    val total = vc.agg(sum(col("cnt")).as("n"))
    val p = Pcts.map(_.toLong).toDF("pct")
    val exact = cum.crossJoin(broadcast(total)).crossJoin(broadcast(p))
      .filter(col("cum") * 100 >= col("pct") * col("n"))
      .groupBy(col("pct")).agg(min(col("v")).as("exact_v"))
    est.join(exact, Seq("pct"))
      .select(col("pct"), col("est_hi"), col("exact_v"),
        (col("est_hi") - col("exact_v")).as("abs_err"),
        (col("est_hi") >= col("exact_v") &&
          col("est_hi") - col("exact_v") < HistWidth).as("within_bound"))
  }

  /** q211's oracle — and q224's VERBATIM (the invariant pattern: the
    * incremental fold must be indistinguishable from from-scratch). */
  private lazy val kmvSql: String =
    s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         |hs AS (SELECT DISTINCT source, ${h48Sql("w")} AS h FROM tok),
         |hg AS (SELECT DISTINCT ${h48Sql("w")} AS h FROM tok),
         |allh AS (SELECT source, h FROM hs
         |         UNION ALL SELECT '__all__' AS source, h FROM hg),
         |rk AS (SELECT source, h,
         |         row_number() OVER (PARTITION BY source ORDER BY h) AS rk,
         |         count(*) OVER (PARTITION BY source) AS nh
         |       FROM allh),
         |est AS (SELECT source,
         |          CASE WHEN max(nh) < $KmvK THEN max(nh)
         |               ELSE ${(KmvK - 1).toLong * Sketches.Hash48Max} //
         |                    max(CASE WHEN rk = $KmvK THEN h END)
         |          END AS kmv_est
         |        FROM rk GROUP BY source),
         |ex AS (SELECT source, count(DISTINCT w) AS exact_distinct
         |       FROM tok GROUP BY source
         |       UNION ALL
         |       SELECT '__all__' AS source, count(DISTINCT w) FROM tok)
         |SELECT e.source, ex.exact_distinct, CAST(e.kmv_est AS BIGINT) AS kmv_est
         |FROM est e JOIN ex USING (source)""".stripMargin

  /** q212's oracle — and q232/q233's VERBATIM (CMS linearity: the
    * incremental and streamed folds must be indistinguishable from
    * the from-scratch sketch). */
  private lazy val cmsSql: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |rs AS (SELECT unnest(range($CmsDepth)) AS r),
       |cells AS (SELECT r,
       |            ${h48Sql("r::VARCHAR || '|' || w")} % $CmsWidth AS bucket,
       |            CAST(sum(c) AS BIGINT) AS cell
       |          FROM tf CROSS JOIN rs GROUP BY r, bucket),
       |cand AS (SELECT w, c FROM tf ORDER BY c DESC, w ASC LIMIT 20)
       |SELECT cand.w, cand.c AS exact_c, min(cells.cell) AS cms_est,
       |       min(cells.cell) >= cand.c AS over_ok
       |FROM cand CROSS JOIN rs
       |JOIN cells ON cells.r = rs.r
       | AND cells.bucket = ${h48Sql("rs.r::VARCHAR || '|' || cand.w")} % $CmsWidth
       |GROUP BY cand.w, cand.c""".stripMargin

  private lazy val histSql: String =
    s"""WITH hist AS (SELECT n_chars // $HistWidth AS bucket, count(*) AS cnt
       |             FROM documents GROUP BY bucket),
       |cumh AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum
       |         FROM hist),
       |n AS (SELECT count(*) AS n FROM documents),
       |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct),
       |est AS (SELECT pct,
       |          CAST((min(bucket) + 1) * $HistWidth - 1 AS BIGINT) AS est_hi
       |        FROM cumh CROSS JOIN n CROSS JOIN p
       |        WHERE cum * 100 >= pct * n GROUP BY pct),
       |cumv AS (SELECT n_chars AS v, sum(count(*)) OVER (ORDER BY n_chars) AS cum
       |         FROM documents GROUP BY n_chars),
       |ex AS (SELECT pct, min(v) AS exact_v
       |       FROM cumv CROSS JOIN n CROSS JOIN p
       |       WHERE cum * 100 >= pct * n GROUP BY pct)
       |SELECT est.pct, est.est_hi, ex.exact_v,
       |       est.est_hi - ex.exact_v AS abs_err,
       |       est.est_hi >= ex.exact_v
       |         AND est.est_hi - ex.exact_v < $HistWidth AS within_bound
       |FROM est JOIN ex USING (pct)""".stripMargin
}
