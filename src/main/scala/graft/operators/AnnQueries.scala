package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.VectorFunctions

/** Compressed-representation and constrained ANN through the oracle
  * gate (q214–q216): 1-bit sign signatures searched by Hamming
  * distance, fixed-point Johnson–Lindenstrauss projection, and
  * label-FILTERED IVF search. These are the memory-side scale moves
  * the IVF/PQ family (q43/q79/q198) doesn't cover: 32× (binary) and
  * 4× (JL int16-scale) compression of the candidate scan, and
  * metadata constraints applied inside the probe instead of after
  * the rank. Every ranking is integer or sign arithmetic, so the
  * approximate results themselves — not just their recall — are
  * cross-engine exact.
  */
object AnnQueries {

  private def emb(s: SparkSession, d: String) = t(s, d, "embeddings")

  private val JlOutDim = 16
  private val JlInDim = 64
  private val K = 5

  /** DuckDB mirror of q25's cosine (kept local to avoid reaching
    * into TextPipelineQueries's private helper). */
  private def cosSql(a: String, b: String) =
    s"""(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a)+1)]) /
       | (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in range(1, len($a)+1)])) *
       |  sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($b)+1)]))))""".stripMargin

  /** Shared exact-baseline SQL: float cosine top-5 (q25's ranking —
    * 4-decimal round, id tie-break) for queries vec_id < 10. */
  private val exactTop5Cte =
    s"""fq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |      WHERE vec_id < 10),
       |fp AS (SELECT q_id, v.vec_id AS n_id,
       |         round(${cosSql("q_vec", "v.embedding")}, 4) AS cos
       |       FROM embeddings v CROSS JOIN fq WHERE v.vec_id <> q_id),
       |fr AS (SELECT q_id, n_id FROM (
       |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |         ORDER BY cos DESC, n_id ASC) AS rk FROM fp) WHERE rk <= $K)""".stripMargin

  lazy val specs: Seq[QuerySpec] = Seq(

    // 1-bit embeddings: corpus → one BIGINT signature per vector,
    // queries → Hamming top-5 over the signature scan, graded by
    // recall against the float-cosine top-5. The signature table for
    // 10⁹ vectors is 8 GB — the "fits on every executor" rerank-
    // stage-one representation; signs of identical float bits make
    // even the approximate ranking hash-comparable.
    QuerySpec("q214_binary_hamming_recall", (s, d) => {
      val e = emb(s, d)
      val sigs = e.select(col("vec_id").as("n_id"),
        Similarity.signSignature64("embedding").as("sig"))
      val qs = sigs.filter(col("n_id") < 10)
        .select(col("n_id").as("q_id"), col("sig"))
      val ham = Similarity.hammingTopK(sigs, qs, K)
        .select(col("q_id"), col("n_id"))
      val exact = Similarity.bruteForceTopKScalable(
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding", K)
        .select(col("q_id"), col("n_id"))
      exact.join(ham.withColumn("__hit", lit(1L)),
          Seq("q_id", "n_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit") * (10000 / K)).as("recall_bp"))
    },
      s"""WITH sig AS (SELECT vec_id,
         |        CAST(list_sum([CASE WHEN embedding[j] <= 0
         |                       THEN CAST(0 AS BIGINT)
         |                       WHEN j = 64 THEN (-9223372036854775807 - 1)
         |                       ELSE (CAST(1 AS BIGINT) << (j - 1)) END
         |                       for j in range(1, 65)]) AS BIGINT) AS sig
         |      FROM embeddings),
         |q AS (SELECT vec_id AS q_id, sig AS q_sig FROM sig WHERE vec_id < 10),
         |h AS (SELECT q_id, s.vec_id AS n_id,
         |        CAST(bit_count(xor(q_sig, s.sig)) AS BIGINT) AS hamming
         |      FROM sig s CROSS JOIN q WHERE s.vec_id <> q_id),
         |hr AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY hamming ASC, n_id ASC) AS rk FROM h) WHERE rk <= $K),
         |$exactTop5Cte
         |SELECT fr.q_id,
         |       CAST(count(hr.q_id) AS BIGINT) AS n_hit,
         |       CAST(count(hr.q_id) * ${10000 / K} AS BIGINT) AS recall_bp
         |FROM fr LEFT JOIN hr ON fr.q_id = hr.q_id AND fr.n_id = hr.n_id
         |GROUP BY fr.q_id""".stripMargin),

    // Johnson–Lindenstrauss: 64 → 16 dims via a deterministic ±1
    // sign matrix over 1e-4 fixed-point components — BIGINT end to
    // end, so the projected vectors and the dot-product ranking are
    // exact in both engines. Recall@5 of projected-dot ranking vs
    // float-cosine ranking = what 4× dimension reduction costs.
    QuerySpec("q215_jl_projection_recall", (s, d) => {
      val e = emb(s, d)
      val m = VectorFunctions.jlSignMatrix(JlOutDim, JlInDim)
      val pv = e.select(col("vec_id"),
        VectorFunctions.jlProject(col("embedding"), m).as("pv"))
      val qs = pv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("pv").as("q_pv"))
      val scored = pv.select(col("vec_id").as("n_id"), col("pv"))
        .crossJoin(broadcast(qs))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          VectorFunctions.dotLong(col("pv"), col("q_pv")).cast("double")
            .as("cos"))
      val jl = Similarity.topKPerKey(scored, K)
        .select(col("q_id"), col("n_id"))
      val exact = Similarity.bruteForceTopKScalable(
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding", K)
        .select(col("q_id"), col("n_id"))
      exact.join(jl.withColumn("__hit", lit(1L)),
          Seq("q_id", "n_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit") * (10000 / K)).as("recall_bp"))
    },
      s"""WITH m AS (SELECT j, i,
         |        CASE WHEN substr(md5('jl|' || j || '|' || i), 1, 1) >= '8'
         |             THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn
         |      FROM range($JlOutDim) t(j) CROSS JOIN range($JlInDim) t2(i)),
         |pj AS (SELECT vec_id, j,
         |         CAST(sum(sgn * CAST(floor(embedding[i + 1]::DOUBLE * 10000)
         |                             AS BIGINT)) AS BIGINT) AS p
         |       FROM embeddings CROSS JOIN m GROUP BY vec_id, j),
         |pv AS (SELECT vec_id, list(p ORDER BY j) AS pv FROM pj GROUP BY vec_id),
         |qv AS (SELECT vec_id AS q_id, pv AS q_pv FROM pv WHERE vec_id < 10),
         |dp AS (SELECT q_id, p.vec_id AS n_id,
         |         CAST(list_sum([p.pv[x] * q_pv[x]
         |                        for x in range(1, $JlOutDim + 1)]) AS BIGINT)
         |           AS dot
         |       FROM pv p CROSS JOIN qv WHERE p.vec_id <> q_id),
         |jr AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY dot DESC, n_id ASC) AS rk FROM dp) WHERE rk <= $K),
         |$exactTop5Cte
         |SELECT fr.q_id,
         |       CAST(count(jr.q_id) AS BIGINT) AS n_hit,
         |       CAST(count(jr.q_id) * ${10000 / K} AS BIGINT) AS recall_bp
         |FROM fr LEFT JOIN jr ON fr.q_id = jr.q_id AND fr.n_id = jr.n_id
         |GROUP BY fr.q_id""".stripMargin),

    // The two-stage cascade binary embeddings exist FOR: stage 1
    // scans the 1-bit signature table (8 GB per 10⁹ vectors) for a
    // Hamming shortlist of m=20, stage 2 reranks ONLY the shortlist
    // with exact float cosine — per query, 20 float reads instead of
    // a corpus scan. Output is stage-2's top-5 with its recall vs
    // the direct exact top-5 (shortlist misses are the price of the
    // compression; rerank ordering within the shortlist is exact).
    QuerySpec("q223_binary_rerank", (s, d) => {
      val m = 20
      val e = emb(s, d)
      val sigs = e.select(col("vec_id").as("n_id"),
        Similarity.signSignature64("embedding").as("sig"))
      val qs = sigs.filter(col("n_id") < 10)
        .select(col("n_id").as("q_id"), col("sig"))
      val shortlist = Similarity.hammingTopK(sigs, qs, m)
        .select(col("q_id"), col("n_id"))
      // rerank: exact cosine over shortlist rows only (broadcast-join
      // the m·|queries| id pairs back to the float table)
      val qv = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val rer = shortlist
        .join(e.select(col("vec_id").as("n_id"),
          col("embedding").as("n_vec")), Seq("n_id"))
        .join(broadcast(qv), Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          round(VectorFunctions.cosine(col("q_vec"), col("n_vec")), 4)
            .as("cos"))
      val top = Similarity.topKPerKey(rer, K).select(col("q_id"), col("n_id"))
      val exact = Similarity.bruteForceTopKScalable(
          e, e.filter(col("vec_id") < 10), "vec_id", "embedding", K)
        .select(col("q_id"), col("n_id"))
      exact.join(top.withColumn("__hit", lit(1L)),
          Seq("q_id", "n_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(col("q_id"), col("n_hit"),
          (col("n_hit") * (10000 / K)).as("recall_bp"))
    },
      s"""WITH sig AS (SELECT vec_id,
         |        CAST(list_sum([CASE WHEN embedding[j] <= 0
         |                       THEN CAST(0 AS BIGINT)
         |                       WHEN j = 64 THEN (-9223372036854775807 - 1)
         |                       ELSE (CAST(1 AS BIGINT) << (j - 1)) END
         |                       for j in range(1, 65)]) AS BIGINT) AS sig
         |      FROM embeddings),
         |q AS (SELECT vec_id AS q_id, sig AS q_sig FROM sig WHERE vec_id < 10),
         |h AS (SELECT q_id, s.vec_id AS n_id,
         |        CAST(bit_count(xor(q_sig, s.sig)) AS BIGINT) AS hamming
         |      FROM sig s CROSS JOIN q WHERE s.vec_id <> q_id),
         |sl AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY hamming ASC, n_id ASC) AS rk FROM h) WHERE rk <= 20),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |       WHERE vec_id < 10),
         |rr AS (SELECT sl.q_id, sl.n_id,
         |         round(${cosSql("qv.q_vec", "v.embedding")}, 4) AS cos
         |       FROM sl JOIN embeddings v ON v.vec_id = sl.n_id
         |       JOIN qv ON qv.q_id = sl.q_id),
         |tr AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY cos DESC, n_id ASC) AS rk FROM rr) WHERE rk <= $K),
         |$exactTop5Cte
         |SELECT fr.q_id,
         |       CAST(count(tr.q_id) AS BIGINT) AS n_hit,
         |       CAST(count(tr.q_id) * ${10000 / K} AS BIGINT) AS recall_bp
         |FROM fr LEFT JOIN tr ON fr.q_id = tr.q_id AND fr.n_id = tr.n_id
         |GROUP BY fr.q_id""".stripMargin),

    // Filtered vector search: each query constrains candidates to
    // its own label INSIDE the probed-list scan (IvfIndex
    // .topKFiltered) — not by post-filtering an unconstrained top-k,
    // which under-fills and loses recall whenever the filter is
    // selective. Index = label-centroid seeds (q149's oracle-
    // expressible quantizer), nprobe = 2 of 8 lists; graded against
    // the exact same-label top-5.
    QuerySpec("q216_filtered_ann", (s, d) => {
      val e = emb(s, d)
      val seeds = Similarity.labelCentroids(
          e.select(col("label").cast("long").as("label"), col("embedding")),
          "label", "embedding")
        .orderBy(col("label")).collect().map(_.getSeq[Double](1).toArray)
      val (c0, indexed) = IvfIndex.buildFrom(e, "embedding", seeds, iters = 0)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("lab"))
      val ivf = IvfIndex.topKFiltered(
          indexed.withColumn("lab", col("label").cast("long")),
          c0, q, "vec_id", "embedding", "lab", K, nprobe = 2)
        .select(col("q_id"), col("n_id"))
      val cand = e.select(col("vec_id").as("n_id"),
        col("embedding").as("n_vec"), col("label").cast("long").as("n_lab"))
      val exScored = cand.crossJoin(broadcast(q.select(
          col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("lab").as("q_lab"))))
        .filter(col("q_id") =!= col("n_id") && col("n_lab") === col("q_lab"))
        .select(col("q_id"), col("n_id"),
          round(VectorFunctions.cosine(col("q_vec"), col("n_vec")), 4)
            .as("cos"))
      val exact = Similarity.topKPerKey(exScored, K)
        .select(col("q_id"), col("n_id"))
      val found = ivf.groupBy(col("q_id")).agg(count(lit(1)).as("n_found"))
      exact.join(ivf.withColumn("__hit", lit(1L)),
          Seq("q_id", "n_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .join(found, Seq("q_id"), "left_outer")
        .join(q.select(col("vec_id").as("q_id"), col("lab").as("q_lab")),
          Seq("q_id"))
        .select(col("q_id"), col("q_lab"),
          coalesce(col("n_found"), lit(0L)).as("n_found"), col("n_hit"),
          (col("n_hit") * (10000 / K)).as("recall_bp"))
    },
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |mm AS (SELECT label, pos, avg(x::DOUBLE) AS m FROM ex GROUP BY label, pos),
         |ctr0 AS (SELECT label, list(m ORDER BY pos) AS centroid FROM mm GROUP BY label),
         |ctr AS (SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT)
         |          AS list_id, centroid FROM ctr0),
         |da AS (SELECT v.vec_id, c.list_id,
         |         ${cosSql("v.embedding", "c.centroid")} AS cos
         |       FROM embeddings v CROSS JOIN ctr c),
         |asg AS (SELECT vec_id, list_id FROM (
         |        SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, list_id ASC) AS rk FROM da) WHERE rk = 1),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_vec,
         |         CAST(label AS BIGINT) AS q_lab
         |       FROM embeddings WHERE vec_id < 10),
         |pr AS (SELECT q_id, c.list_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY ${cosSql("q_vec", "c.centroid")} DESC,
         |                    c.list_id ASC) AS crk
         |       FROM qv CROSS JOIN ctr c),
         |cand AS (SELECT q.q_id, v.vec_id AS n_id,
         |           round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |         FROM pr
         |         JOIN asg a ON a.list_id = pr.list_id
         |         JOIN qv q ON q.q_id = pr.q_id
         |         JOIN embeddings v ON v.vec_id = a.vec_id
         |         WHERE pr.crk <= 2 AND a.vec_id <> pr.q_id
         |           AND CAST(v.label AS BIGINT) = q.q_lab),
         |itop AS (SELECT q_id, n_id FROM (
         |         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, n_id ASC) AS rk FROM cand) WHERE rk <= $K),
         |fnd AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_found
         |        FROM itop GROUP BY q_id),
         |bp AS (SELECT q.q_id, v.vec_id AS n_id,
         |         round(${cosSql("q.q_vec", "v.embedding")}, 4) AS cos
         |       FROM embeddings v CROSS JOIN qv q
         |       WHERE q.q_id <> v.vec_id AND CAST(v.label AS BIGINT) = q.q_lab),
         |bf AS (SELECT q_id, n_id FROM (
         |       SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY cos DESC, n_id ASC) AS rk FROM bp) WHERE rk <= $K),
         |hits AS (SELECT bf.q_id, CAST(count(itop.q_id) AS BIGINT) AS n_hit
         |         FROM bf LEFT JOIN itop
         |           ON bf.q_id = itop.q_id AND bf.n_id = itop.n_id
         |         GROUP BY bf.q_id)
         |SELECT h.q_id, q.q_lab,
         |       CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found, h.n_hit,
         |       CAST(h.n_hit * ${10000 / K} AS BIGINT) AS recall_bp
         |FROM hits h
         |LEFT JOIN fnd f ON f.q_id = h.q_id
         |JOIN qv q ON q.q_id = h.q_id""".stripMargin),

    // VARIANCE-RANKED dimension pruning: keep the 16 highest-variance
    // embedding dimensions (the cheapest index compression — no
    // projection matrix, just a column mask) and grade its top-10
    // recall against the full-dim exact ranking, head-to-head with
    // the untrained first-16 PREFIX cut (q262's matryoshka baseline).
    // Per-dimension variance is EXACT integer arithmetic —
    // n·Σx² − (Σx)² over 1e6-fixed-point components — so the
    // selected mask (hence the approximate ranking itself) is
    // cross-engine reproducible; the mask is a 64-row agg collected
    // as bounded driver metadata, exactly like a centroid table.
    QuerySpec("q270_topvar_dims", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val topDims = e
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("pos"),
          round(col("x").cast("double") * 1e6).cast("long").as("xf"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xf")).as("s"),
          sum(col("xf") * col("xf")).as("s2"))
        .select(col("pos"), (col("n") * col("s2") - col("s") * col("s"))
          .as("var_fp"))
        .orderBy(col("var_fp").desc, col("pos").asc)
        .limit(16).select(col("pos")).collect().map(_.getInt(0))
        .sorted
      def cut(vec: Column, dims: Seq[Int]): Column =
        array(dims.map(p => element_at(vec, p + 1)): _*)
      def topk(proj: Column => Column) = {
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), proj(col("embedding")).as("q_vec"))
        val c = e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("n_id"), proj(col("embedding")).as("n_vec"))
        c.crossJoin(broadcast(q))
          .withColumn("cos4", round(VectorFunctions.cosine(
            col("q_vec").cast("array<double>"),
            col("n_vec").cast("array<double>")), 4))
          .withColumn("rk", row_number().over(w.partitionBy(col("q_id"))
            .orderBy(col("cos4").desc, col("n_id"))))
          .filter(col("rk") <= 10)
          .select(col("q_id"), col("n_id"))
      }
      val full = topk(v => v).localCheckpoint(true)
      Seq("prefix16" -> ((v: Column) => slice(v, 1, 16)),
          "topvar16" -> ((v: Column) => cut(v, topDims.toSeq)))
        .map { case (policy, proj) =>
          topk(proj).join(full, Seq("q_id", "n_id"))
            .agg(count(lit(1)).as("hits"))
            .select(lit(policy).as("policy"),
              expr("hits * 10000L div 100").as("recall_bp"))
        }.reduce(_ unionByName _)
    },
      s"""WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |vf AS (SELECT pos,
         |         CAST(round(x::DOUBLE * 1000000) AS BIGINT) AS xf FROM ex),
         |vr AS (SELECT pos, count(*)::BIGINT AS n,
         |         CAST(sum(xf) AS BIGINT) AS s,
         |         CAST(sum(xf * xf) AS BIGINT) AS s2
         |       FROM vf GROUP BY pos),
         |topd AS (SELECT pos FROM
         |           (SELECT pos, n * s2 - s * s AS var_fp FROM vr)
         |         QUALIFY row_number() OVER
         |           (ORDER BY var_fp DESC, pos ASC) <= 16),
         |sel AS (SELECT list(pos ORDER BY pos) AS ps FROM topd),
         |qs AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE vec_id < 10),
         |co AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE vec_id >= 10),
         |full10 AS (${top10Sql("q.embedding", "c.embedding")}),
         |pre10 AS (${top10Sql("q.embedding[1:16]", "c.embedding[1:16]")}),
         |var10 AS (${top10Sql("[q.embedding[p] for p in ps]",
                               "[c.embedding[p] for p in ps]")})
         |SELECT 'prefix16' AS policy,
         |       (SELECT count(*) FROM pre10 JOIN full10 USING (q_id, n_id))
         |         * 10000 // 100 AS recall_bp
         |UNION ALL
         |SELECT 'topvar16',
         |       (SELECT count(*) FROM var10 JOIN full10 USING (q_id, n_id))
         |         * 10000 // 100""".stripMargin),

    // Cluster-quality audit: simplified (centroid-based) silhouette
    // per label — the O(n·k) health readout for any clustering this
    // engine maintains (IVF coarse lists, semantic-dedup cells, label
    // partitions). A label whose mean silhouette sags toward 0 is
    // bleeding into a neighbor — the trigger for the q87-style index
    // rebuild. Distances rounded at 4 decimals and the per-vector
    // coefficient 1e-4-fixed-pointed BEFORE the sum, so the score
    // itself hash-matches the oracle.
    QuerySpec("q265_silhouette", (s, d) =>
      Similarity.silhouette(
        emb(s, d).select(col("vec_id"),
          col("label").cast("long").as("label"), col("embedding")),
        "vec_id", "label", "embedding"),
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |m AS (SELECT label, pos, avg(x::DOUBLE) AS m
         |      FROM ex GROUP BY label, pos),
         |c AS (SELECT label AS cl, list(m ORDER BY pos) AS centroid
         |      FROM m GROUP BY label),
         |d AS (SELECT v.vec_id, CAST(v.label AS BIGINT) AS label, c.cl,
         |        round(1 - ${cosSql("v.embedding", "c.centroid")}, 4) + 0.0
         |          AS dd
         |      FROM embeddings v CROSS JOIN c),
         |ab AS (SELECT vec_id, label,
         |         max(CASE WHEN label = cl THEN dd END) AS a,
         |         min(CASE WHEN label <> cl THEN dd END) AS b
         |       FROM d GROUP BY vec_id, label),
         |sv AS (SELECT label,
         |         CASE WHEN greatest(a, b) = 0 THEN 0
         |              ELSE CAST(round(10000 * (b - a) / greatest(a, b))
         |                        AS BIGINT) END AS s
         |       FROM ab)
         |SELECT label, count(*)::BIGINT AS n_vecs,
         |       CAST(sum(s) AS BIGINT) AS sum_sil_fp,
         |       round(CAST(sum(s) AS BIGINT) /
         |             (count(*) * 10000.0), 4) + 0.0 AS mean_sil
         |FROM sv GROUP BY label""".stripMargin))

  /** q270: one top-10 ranking block under a projection of both sides
    * (4-decimal cosine, id tie-break — q262's contract). */
  private def top10Sql(qv: String, cv: String) =
    s"""SELECT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql(qv, cv)}, 4) DESC, c.vec_id) AS rk
       |  FROM qs q CROSS JOIN co c${if (qv.contains("ps")) ", sel" else ""})
       |WHERE rk <= 10""".stripMargin

}
