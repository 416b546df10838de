package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Corpus-curation operators through the oracle gate (q48–q53): PII
  * redaction, boilerplate line removal, Gopher-style quality gating,
  * deterministic source mixing, keep-one dedup materialization, and
  * int8 embedding quantization.
  *
  * The synthetic corpus is single-line digit-free text, so q48/q49
  * INJECT deterministic PII / line structure in-query (mirrored
  * exactly in the oracle SQL) — the operators then have real matches
  * to exercise instead of passing vacuously.
  */
object CurationQueries {

  private def docs(s: SparkSession, d: String) = t(s, d, "documents")
  private def emb(s: SparkSession, d: String) = t(s, d, "embeddings")

  /** Index-order double cosine, the oracle twin of
    * [[graft.functions.VectorFunctions.cosine]] (same shape as
    * TextPipelineQueries' cosSql). */
  private def embCosSql(a: String, b: String) =
    s"""(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a)+1)]) /
       | (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in range(1, len($a)+1)])) *
       |  sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($b)+1)]))))""".stripMargin

  /** Deterministic PII injection: unique email, US-style phone, IPv4,
    * and a ≥9-digit id per document, all derived from `doc_id`. */
  private def withPii(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com call 555-"),
        lpad((col("doc_id") % 100).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 id 90000000"), (col("doc_id") % 100).cast("string"))
        .as("text"))

  /** Two corpus-wide boilerplate lines + one unique line appended to
    * every document. */
  private def withLines(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(col("text"),
        lit("\nall rights reserved\npowered by example\ndoc number "),
        col("doc_id").cast("string")).as("text"))

  /** Paragraph structure injection: every document gains a templated
    * paragraph whose case/spacing varies by doc (the near-dup form
    * paragraph dedup exists to catch) plus a unique closing
    * paragraph. */
  private def withParagraphs(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(col("text"), lit("\n\n"),
        when(col("doc_id") % 2 === 0, "Subscribe To Our Newsletter")
          .otherwise("subscribe  to  our newsletter"),
        lit("\n\nclosing para "), col("doc_id").cast("string")).as("text"))

  /** Intra-document repetition injection: a paragraph repeated WITHIN
    * each document as a case/spacing variant (the de-looping target),
    * plus unique middle and closing paragraphs. */
  private def withIntraRepeats(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(col("text"),
        lit("\n\nRepeated  Para\n\nmiddle bit "), col("doc_id").cast("string"),
        lit("\n\nrepeated para\n\nclosing "), col("doc_id").cast("string"))
        .as("text"))

  /** C4-rule line injection: the original text line gains terminal
    * punctuation on even docs only (so the main line's fate varies),
    * plus one line per failure mode — too short, code-ish brace, no
    * terminal punctuation — and one clean keeper. */
  private def withC4Lines(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0, ".").otherwise(""),
        lit("\nGood injected line one two three four five six."),
        lit("\nshort one two."),
        lit("\ncurly { line with plenty of words right here today."),
        lit("\nno terminal punctuation with plenty of words here"))
        .as("text"))

  /** Mixture weights: source index mod 4 → {0.25, 0.5, 1.0, 2.0} —
    * downsample, half, keep, duplicate. */
  /** The q125-q127 seed set: every third document, labeled
    * en-vs-other — mirrored verbatim in the oracle's `lab` CTE. */
  private def nbSeedLabels(dd: DataFrame): DataFrame =
    dd.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("lang") === "en").cast("int").as("y"))

  private val MixWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 4 match {
      case 0 => 0.25
      case 1 => 0.5
      case 2 => 1.0
      case _ => 2.0
    })).toMap

  lazy val specs: Seq[QuerySpec] = Seq(
    // Poisson-bootstrap confidence interval for the corpus mean
    // n_chars: 40 deterministic resamples where each doc's per-replica
    // multiplicity comes from its hash against the Pois(1) CDF — no
    // index-lookup resampling join, the bootstrap that works at 10^12
    // rows. Interval = type-1 p10/p90 of the replica means, all
    // fixed-point integers through the gate.
    QuerySpec("q247_bootstrap_ci", (s, d) =>
      Bootstrap.poissonCi(
        docs(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars"),
      {
        val h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|bs|' || " +
          "CAST(bb AS VARCHAR)), 1, 12))::BIGINT"
        s"""WITH b AS (SELECT unnest(range(40)) AS bb),
           |w AS (SELECT doc_id, n_chars, bb,
           |        ${Bootstrap.weightSql(h)} AS w
           |      FROM documents CROSS JOIN b),
           |m AS (SELECT bb, CAST(sum(w * n_chars) AS BIGINT) * 10000
           |        // CAST(sum(w) AS BIGINT) AS mean_fp
           |      FROM w GROUP BY bb),
           |r AS (SELECT mean_fp, row_number() OVER (ORDER BY mean_fp, bb)
           |        AS rk FROM m),
           |p AS (SELECT CAST(sum(n_chars) AS BIGINT) * 10000 // count(*)
           |        AS point_mean_fp FROM documents)
           |SELECT p.point_mean_fp,
           |  (SELECT mean_fp FROM r WHERE rk = 4) AS ci_lo_fp,
           |  (SELECT mean_fp FROM r WHERE rk = 36) AS ci_hi_fp
           |FROM p""".stripMargin
      }),
    // Pipeline provenance chain: an order-independent content
    // fingerprint (xor-fold of per-row id+content hashes — no sort,
    // no overflow, any partitioning) plus row count for each stage of
    // a gate→dedup→cap pipeline. Two runs producing the same chain
    // byte-agree stage by stage; the first differing fp names the
    // stage that diverged — reproducibility triage without diffing
    // datasets.
    QuerySpec("q260_provenance_chain", (s, d) => {
      val base = docs(s, d).withColumn("h", Sketches.hash48(
        concat(col("doc_id").cast("string"), lit("|"), md5(col("text")))))
      val gate = base.filter(col("n_chars") >= 50 && col("n_chars") <= 2000)
      val keep = gate.groupBy(md5(col("text")).as("tfp"))
        .agg(min(col("doc_id")).as("doc_id"))
      val dedup = gate.join(keep.select(col("doc_id")), Seq("doc_id"))
      val cap = Curation.capPerSource(dedup, "doc_id", "source", 20)
      def stage(i: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("content_fp"))
          .select(lit(i.toLong).as("stage_id"), lit(name).as("stage"),
            col("n_rows"), col("content_fp"))
      stage(1, "ingest", base)
        .unionByName(stage(2, "quality_gate", gate))
        .unionByName(stage(3, "exact_dedup", dedup))
        .unionByName(stage(4, "cap_per_source", cap))
    },
      """WITH base AS (SELECT doc_id, source, n_chars, text,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
        |          || md5(text)), 1, 12))::BIGINT AS h
        |      FROM documents),
        |gate AS (SELECT * FROM base WHERE n_chars BETWEEN 50 AND 2000),
        |keep AS (SELECT min(doc_id) AS doc_id FROM gate GROUP BY md5(text)),
        |dedup AS (SELECT g.* FROM gate g JOIN keep USING (doc_id)),
        |cap AS (SELECT * FROM (
        |          SELECT d.*, row_number() OVER (PARTITION BY source
        |            ORDER BY md5(CAST(doc_id AS VARCHAR) || '|cap'),
        |              doc_id) AS rk
        |          FROM dedup d) t WHERE rk <= 20)
        |SELECT CAST(1 AS BIGINT) AS stage_id, 'ingest' AS stage,
        |       count(*) AS n_rows, bit_xor(h) AS content_fp FROM base
        |UNION ALL SELECT 2, 'quality_gate', count(*), bit_xor(h) FROM gate
        |UNION ALL SELECT 3, 'exact_dedup', count(*), bit_xor(h) FROM dedup
        |UNION ALL SELECT 4, 'cap_per_source', count(*), bit_xor(h)
        |          FROM cap""".stripMargin),
    // Per-source means WITH error bars: the q247 Poisson bootstrap
    // grouped by source — the dashboard form ("src3 is longer than
    // src7, and the intervals don't overlap").
    QuerySpec("q255_bootstrap_by_source", (s, d) =>
      Bootstrap.poissonCiByGroup(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", "n_chars"),
      {
        val h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|bs|' || " +
          "CAST(bb AS VARCHAR)), 1, 12))::BIGINT"
        s"""WITH b AS (SELECT unnest(range(40)) AS bb),
           |w AS (SELECT source, doc_id, n_chars, bb,
           |        ${Bootstrap.weightSql(h)} AS w
           |      FROM documents CROSS JOIN b),
           |m AS (SELECT source, bb, CAST(sum(w * n_chars) AS BIGINT) * 10000
           |        // CAST(sum(w) AS BIGINT) AS mean_fp
           |      FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
           |r AS (SELECT source, mean_fp, row_number() OVER
           |        (PARTITION BY source ORDER BY mean_fp, bb) AS rk FROM m),
           |p AS (SELECT source, CAST(sum(n_chars) AS BIGINT) * 10000
           |        // count(*) AS point_mean_fp
           |      FROM documents GROUP BY 1)
           |SELECT p.source, p.point_mean_fp, lo.mean_fp AS ci_lo_fp,
           |       hi.mean_fp AS ci_hi_fp
           |FROM p
           |JOIN (SELECT source, mean_fp FROM r WHERE rk = 4) lo USING (source)
           |JOIN (SELECT source, mean_fp FROM r WHERE rk = 36) hi USING (source)"""
          .stripMargin
      }),
    // Weighted sampling without replacement: 100 documents drawn
    // proportional to n_chars via deterministic Efraimidis–Spirakis
    // priorities (fixed-point exponential variates — the oracle
    // reproduces every priority and the exact winning set).
    QuerySpec("q242_weighted_sample", (s, d) =>
      Curation.weightedSample(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", k = 100),
      """WITH pr AS (SELECT doc_id, source, n_chars,
        |  CAST(round(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|ws'), 1, 12))::BIGINT + 1)
        |    / 281474976710656.0) * 1000000) AS BIGINT) AS efp
        | FROM documents),
        |sc AS (SELECT doc_id, source, n_chars,
        |         efp * 1000000 // n_chars AS priority FROM pr)
        |SELECT doc_id, source, n_chars, priority
        |FROM sc ORDER BY priority, doc_id LIMIT 100""".stripMargin),
    // Corpus snapshot diff — the dataset-versioning primitive: two
    // releases compared by doc_id + content FINGERPRINT (md5 — never
    // the text itself crosses the join), classified added / removed /
    // changed / unchanged with per-source churn in basis points.
    // Snapshots are deterministic in-query derivations (old drops
    // doc_id%11==0; new drops %5==0 and rewrites %7==0 — mirrored in
    // the oracle). At 100 TB both sides reduce to (doc_id, source,
    // fp) manifests before the one co-partitioned full-outer join.
    QuerySpec("q220_snapshot_diff", (s, d) => {
      val base = docs(s, d)
      val old = base.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("source").as("src_old"),
          md5(col("text")).as("fp_old"))
      val nw = base.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("source").as("src_new"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("fp_new"))
      val st = old.join(nw, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_old"), col("src_new")).as("source"),
          when(col("fp_old").isNull, "added")
            .when(col("fp_new").isNull, "removed")
            .when(col("fp_old") === col("fp_new"), "unchanged")
            .otherwise("changed").as("st"))
      st.groupBy(col("source"))
        .agg(sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(col("st") === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("st") === "unchanged", 1L).otherwise(0L))
            .as("n_unchanged"),
          count(lit(1)).as("n_total"))
        .select(col("source"), col("n_added"), col("n_removed"),
          col("n_changed"), col("n_unchanged"),
          expr("(n_added + n_removed + n_changed) * 10000 div n_total")
            .as("churn_bp"))
    },
      """WITH old AS (SELECT doc_id, source AS src_old, md5(text) AS fp_old
        |            FROM documents WHERE doc_id % 11 <> 0),
        |nw AS (SELECT doc_id, source AS src_new,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |                  ELSE text END) AS fp_new
        |       FROM documents WHERE doc_id % 5 <> 0),
        |st AS (SELECT coalesce(src_old, src_new) AS source,
        |         CASE WHEN fp_old IS NULL THEN 'added'
        |              WHEN fp_new IS NULL THEN 'removed'
        |              WHEN fp_old = fp_new THEN 'unchanged'
        |              ELSE 'changed' END AS st
        |       FROM old FULL OUTER JOIN nw USING (doc_id)),
        |agg AS (SELECT source,
        |          CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |          CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |          CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |          CAST(sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |          CAST(count(*) AS BIGINT) AS n_total
        |        FROM st GROUP BY source)
        |SELECT source, n_added, n_removed, n_changed, n_unchanged,
        |       CAST((n_added + n_removed + n_changed) * 10000 // n_total
        |            AS BIGINT) AS churn_bp
        |FROM agg""".stripMargin),
    QuerySpec("q48_pii_redact", (s, d) => {
      val red = withPii(docs(s, d))
        .select(col("doc_id"), Curation.redactPii(col("text")).as("clean"))
      red.withColumn("n_redactions", Curation.redactionCount(col("clean")))
    },
      s"""WITH $injPiiCte,
         |red AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         |    '\\b\\d{9,}\\b', '<ID>', 'g') AS clean
         |  FROM inj)
         |SELECT doc_id, clean,
         |  CAST(len(regexp_extract_all(clean, '<(EMAIL|PHONE|IP|ID)>')) AS BIGINT)
         |    AS n_redactions
         |FROM red""".stripMargin),
    QuerySpec("q49_boilerplate_lines", (s, d) =>
      Curation.dropBoilerplateLines(withLines(docs(s, d)), "doc_id", "text",
        minDocs = 3),
      s"""WITH $injLinesCte,
         |l AS (SELECT doc_id,
         |  unnest(string_split(text, chr(10))) AS line,
         |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
         |  FROM inj),
         |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
         |kept AS (SELECT l.doc_id, l.pos, l.line
         |         FROM l JOIN f USING (line) WHERE f.df < 3)
         |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
         |       CAST(count(*) AS BIGINT) AS n_kept
         |FROM kept GROUP BY doc_id""".stripMargin),
    QuerySpec("q50_quality_gate", (s, d) =>
      Curation.gopherQuality(docs(s, d), "doc_id", "text"),
      """WITH g AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 4)
        |    AS mean_word_len,
        |  round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
        |        / len(string_split(text, ' ')), 4) AS symbol_ratio,
        |  CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','a','of','and','to','in','is')))) AS BIGINT)
        |    AS n_stop_distinct
        |  FROM documents)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, n_stop_distinct,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND n_stop_distinct >= 2 AS passes
        |FROM g""".stripMargin),
    QuerySpec("q54_paragraph_dedup", (s, d) =>
      Curation.dropRepeatedParagraphs(withParagraphs(docs(s, d)), "doc_id",
        "text", minDocs = 3),
      """WITH inj AS (SELECT doc_id,
        |  text || chr(10) || chr(10) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'Subscribe To Our Newsletter'
        |        ELSE 'subscribe  to  our newsletter' END) ||
        |  chr(10) || chr(10) || 'closing para ' || CAST(doc_id AS VARCHAR)
        |  AS text FROM documents),
        |p AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10) || chr(10))) AS para,
        |  unnest(range(1, len(string_split(text, chr(10) || chr(10))) + 1)) AS pos
        |  FROM inj),
        |c AS (SELECT doc_id, pos, para,
        |  trim(regexp_replace(lower(para), '\s+', ' ', 'g')) AS canon FROM p),
        |f AS (SELECT canon, count(DISTINCT doc_id) AS df FROM c GROUP BY canon),
        |kept AS (SELECT c.doc_id, c.pos, c.para
        |         FROM c JOIN f USING (canon) WHERE f.df < 3)
        |SELECT doc_id,
        |       string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean,
        |       CAST(count(*) AS BIGINT) AS n_kept
        |FROM kept GROUP BY doc_id""".stripMargin),
    QuerySpec("q55_cap_per_source", (s, d) =>
      Curation.capPerSource(docs(s, d).select(col("doc_id"), col("source")),
        "doc_id", "source", maxDocs = 20),
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|cap'), doc_id) AS BIGINT)
        |    AS src_rank
        |  FROM documents)
        |SELECT doc_id, source, src_rank FROM r WHERE src_rank <= 20""".stripMargin),
    // The hot-source-proof exact cap: same semantics (and the same
    // oracle SQL) as q55, through the range-bucketed two-phase rank —
    // proving the scale form IS the window form, row for row.
    QuerySpec("q71_cap_scalable", (s, d) =>
      Curation.capPerSourceScalable(
        docs(s, d).select(col("doc_id"), col("source")),
        "doc_id", "source", maxDocs = 20)
        .select(col("doc_id"), col("source"), col("src_rank")),
      // identical semantics to q55 — the scalable form must reproduce
      // the window form's ranks exactly
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|cap'), doc_id) AS BIGINT)
        |    AS src_rank
        |  FROM documents)
        |SELECT doc_id, source, src_rank FROM r WHERE src_rank <= 20""".stripMargin),
    QuerySpec("q51_mix_sample", (s, d) =>
      Curation.mixBySource(docs(s, d).select(col("doc_id"), col("source")),
        "doc_id", "source", MixWeights),
      """WITH w AS (SELECT doc_id, source,
        |  CAST(substr(source, 4) AS INT) % 4 AS m,
        |  substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 4) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |  (CASE WHEN m = 3 THEN 2 WHEN m = 2 THEN 1 ELSE 0 END) +
        |  (CASE WHEN (m = 0 AND h < '4000') OR (m = 1 AND h < '8000')
        |        THEN 1 ELSE 0 END) AS copies
        |  FROM w)
        |SELECT doc_id, source,
        |       CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_idx
        |FROM c WHERE copies > 0""".stripMargin),
    // Hashing-trick features: vocabulary-free sparse bag-of-words
    // over 64 md5 buckets — the featurizer a corpus-scale quality
    // classifier trains on.
    QuerySpec("q89_hashed_features", (s, d) =>
      Curation.hashedFeatures(docs(s, d), "doc_id", "text", 64),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents)
        |SELECT doc_id,
        |       CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
        |       count(*) AS cnt
        |FROM tok GROUP BY doc_id, bucket""".stripMargin),
    // Classifier inference over those features: integer-weight linear
    // score + gate (exact arithmetic — reproducible across engines
    // and partitionings; see linearScoreGate's scaladoc).
    QuerySpec("q102_classifier_gate", (s, d) =>
      Curation.linearScoreGate(docs(s, d), "doc_id", "text", 64,
        threshold = 0L),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |f AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
        |        count(*) AS cnt
        |      FROM tok GROUP BY doc_id, bucket)
        |SELECT doc_id, CAST(sum(cnt * (bucket % 7 - 3)) AS BIGINT) AS score,
        |       (CAST(sum(cnt * (bucket % 7 - 3)) AS BIGINT) >= 0) AS pass
        |FROM f GROUP BY doc_id""".stripMargin),
    // The training half q102's scaladoc promised: Naive-Bayes weights
    // learned from labeled seeds (docs with doc_id % 3 == 0, labeled
    // en-vs-other), quantized to fixed-point integers so the gate
    // stays exact-arithmetic reproducible.
    QuerySpec("q125_nb_train", (s, d) => {
      val dd = docs(s, d)
      Curation.nbTrain(dd, "doc_id", "text", nbSeedLabels(dd), 64)
    },
      // add-one-smoothed per-bucket log-likelihood ratios over the seed
      // set, quantized round(1e4·w) — identical fixed-point contract on
      // both engines; bias (class-prior log-odds) rides as bucket -1.
      s"""WITH $nbCtes
        |SELECT bucket, w FROM wt""".stripMargin),
    // Serve the learned weights over the WHOLE corpus — train → gate.
    QuerySpec("q126_nb_gate", (s, d) => {
      val dd = docs(s, d)
      Curation.nbGate(dd, "doc_id", "text",
        Curation.nbTrain(dd, "doc_id", "text", nbSeedLabels(dd), 64), 64)
    },
      s"""WITH $nbCtes,
        |sc AS (SELECT f.doc_id,
        |    sum(f.cnt * wt.w) + (SELECT w FROM wt WHERE bucket = -1) AS score
        |  FROM f JOIN wt ON f.bucket = wt.bucket GROUP BY f.doc_id)
        |SELECT doc_id, CAST(score AS BIGINT) AS score, score >= 0 AS pred
        |FROM sc""".stripMargin),
    // Operating-point selection: precision/recall of the learned gate
    // at a sweep of fixed-point score thresholds over the held-out
    // split — how a pipeline owner actually picks the cut, instead of
    // assuming score >= 0. Exact integer counts; ratios rounded.
    QuerySpec("q131_nb_threshold_sweep", (s, d) => {
      val dd = docs(s, d)
      val gate = Curation.nbGate(dd, "doc_id", "text",
        Curation.nbTrain(dd, "doc_id", "text", nbSeedLabels(dd), 64), 64)
      val held = gate.join(dd.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), (col("lang") === "en").cast("int").as("__y")),
        Seq("doc_id"))
      val thrs = s.range(-2L, 3L)
        .select((col("id") * 10000L).as("thr"))
      held.crossJoin(broadcast(thrs))
        .groupBy(col("thr")).agg(
          sum(when(col("score") >= col("thr") && col("__y") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("score") >= col("thr") && col("__y") === 0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("score") < col("thr") && col("__y") === 1, 1L)
            .otherwise(0L)).as("fn"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0L, lit(null))
            .otherwise(round(col("tp") / (col("tp") + col("fp")), 4))
            .as("precision"),
          when(col("tp") + col("fn") === 0L, lit(null))
            .otherwise(round(col("tp") / (col("tp") + col("fn")), 4))
            .as("recall"))
    },
      s"""WITH $nbCtes,
        |sc AS (SELECT f.doc_id,
        |    sum(f.cnt * wt.w) + (SELECT w FROM wt WHERE bucket = -1) AS score
        |  FROM f JOIN wt ON f.bucket = wt.bucket GROUP BY f.doc_id),
        |held AS (SELECT sc.doc_id, sc.score,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM sc JOIN documents d USING (doc_id) WHERE d.doc_id % 3 <> 0),
        |ct AS (SELECT t.thr,
        |    sum(CASE WHEN score >= t.thr AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
        |    sum(CASE WHEN score >= t.thr AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
        |    sum(CASE WHEN score < t.thr AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn
        |  FROM held CROSS JOIN
        |    (SELECT u.i * 10000 AS thr
        |     FROM UNNEST(generate_series(-2, 2)) AS u(i)) t
        |  GROUP BY t.thr)
        |SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |       ELSE round(tp::DOUBLE / (tp + fp), 4) END AS precision,
        |  CASE WHEN tp + fn = 0 THEN NULL
        |       ELSE round(tp::DOUBLE / (tp + fn), 4) END AS recall
        |FROM ct""".stripMargin),
    // MULTICLASS NB: trained language ID (fastText's actual job) —
    // the weight table per (bucket, lang) with per-class priors.
    QuerySpec("q135_langid_train", (s, d) => {
      val dd = docs(s, d)
      Curation.nbTrainMulti(dd, "doc_id", "text",
        dd.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang").as("y")), 64)
    },
      s"""WITH $nbMultiCtes
        |SELECT bucket, y, w FROM wtm""".stripMargin),
    // Predict + confusion against true lang on held-out: argmax over
    // exact integer scores, ties to the smallest class name.
    QuerySpec("q136_langid_eval", (s, d) => {
      val dd = docs(s, d)
      val wts = Curation.nbTrainMulti(dd, "doc_id", "text",
        dd.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang").as("y")), 64)
      Curation.nbPredictMulti(dd, "doc_id", "text", wts, 64)
        .join(dd.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("lang").as("label")), Seq("doc_id"))
        .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
    },
      s"""WITH $nbMultiCtes,
        |bim AS (SELECT y, w AS bias FROM wtm WHERE bucket = -1),
        |scm AS (SELECT fm.doc_id, w.y, sum(fm.cnt * w.w) AS s
        |  FROM fm JOIN (SELECT * FROM wtm WHERE bucket >= 0) w
        |    ON fm.bucket = w.bucket
        |  GROUP BY fm.doc_id, w.y),
        |sc3 AS (SELECT scm.doc_id, scm.y, s + bias AS score
        |  FROM scm JOIN bim USING (y)),
        |pr3 AS (SELECT doc_id, y AS pred,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, y ASC) AS rn
        |  FROM sc3)
        |SELECT d.lang AS label, pr3.pred, count(*) AS n
        |FROM pr3 JOIN documents d USING (doc_id)
        |WHERE rn = 1 AND d.doc_id % 3 <> 0
        |GROUP BY 1, 2""".stripMargin),
    // Close the loop: confusion matrix of the learned gate against
    // truth on the HELD-OUT docs (doc_id % 3 != 0) — train → gate →
    // eval, the full cycle a real curation pipeline runs.
    QuerySpec("q127_nb_eval", (s, d) => {
      val dd = docs(s, d)
      val gate = Curation.nbGate(dd, "doc_id", "text",
        Curation.nbTrain(dd, "doc_id", "text", nbSeedLabels(dd), 64), 64)
      gate.join(dd.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"),
            (col("lang") === "en").cast("long").as("label")), Seq("doc_id"))
        .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
    },
      s"""WITH $nbCtes,
        |sc AS (SELECT f.doc_id,
        |    sum(f.cnt * wt.w) + (SELECT w FROM wt WHERE bucket = -1) AS score
        |  FROM f JOIN wt ON f.bucket = wt.bucket GROUP BY f.doc_id)
        |SELECT CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS label,
        |       sc.score >= 0 AS pred, count(*) AS n
        |FROM sc JOIN documents d USING (doc_id)
        |WHERE d.doc_id % 3 <> 0
        |GROUP BY 1, 2""".stripMargin),
    // Unicode NFC through the native expression, value-checked against
    // DuckDB's nfc_normalize: a decomposed "e"+U+0301 is appended to
    // every document so composition provably RUNS (the md5 matches
    // only if both engines compose it to "é"; `shrunk` counts the
    // composed-away codepoint).
    QuerySpec("q104_normalize_nfc", (s, d) => {
      import graft.functions.TextFunctions
      val raw = concat(col("text"), lit("e\u0301"))
      docs(s, d).select(col("doc_id"),
        md5(TextFunctions.nfc(raw)).as("norm_hash"),
        (length(raw) - length(TextFunctions.nfc(raw))).cast("long").as("shrunk"))
    },
      """SELECT doc_id,
        |  md5(nfc_normalize(text || chr(101) || chr(769))) AS norm_hash,
        |  length(text || chr(101) || chr(769)) -
        |    length(nfc_normalize(text || chr(101) || chr(769))) AS shrunk
        |FROM documents""".stripMargin),
    // α-temperature mixture: weights DERIVED from the corpus's own
    // source distribution (α=0.5 flattening over a deterministically
    // skewed subset — doc_id % 40 < 25 doubles sources 0-4's share),
    // then the same md5-replication machinery as q51. The oracle
    // recomputes pow-weights, the 16-bit threshold, and replication.
    QuerySpec("q88_temperature_mix", (s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 40 < 25)
        .select(col("doc_id"), col("source"))
      Curation.mixBySource(base, "doc_id", "source",
        Curation.temperatureWeights(base, "source", 0.5))
    },
      """WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 40 < 25),
        |c AS (SELECT source, count(*)::DOUBLE AS n FROM d GROUP BY source),
        |t AS (SELECT sum(n) AS tot FROM c),
        |p AS (SELECT source, n, pow(n / tot, 0.5) AS ps FROM c CROSS JOIN t),
        |z AS (SELECT sum(ps) AS z FROM p),
        |w AS (SELECT source, ps / z * (SELECT tot FROM t) / n AS w
        |      FROM p CROSS JOIN z),
        |cc AS (SELECT d.doc_id, d.source,
        |         CAST(floor(w.w) AS BIGINT) +
        |         (CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix'), 1, 4) <
        |             lower(lpad(to_hex(LEAST(CAST(round((w.w - floor(w.w)) * 65536) AS BIGINT),
        |                                     65535)), 4, '0'))
        |           THEN 1 ELSE 0 END) AS copies
        |       FROM d JOIN w USING (source))
        |SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_idx
        |FROM cc WHERE copies > 0""".stripMargin),
    // Deterministic per-epoch training order: the data-loader
    // permutation as a pure function of (doc, epoch) — salted-md5
    // global rank via the two-phase bucketed form (a naive
    // per-epoch window would sort the whole corpus on one reducer).
    QuerySpec("q145_epoch_shuffle", (s, d) =>
      Curation.epochShuffle(docs(s, d), "doc_id", epochs = 2),
      // the two-phase bucketed rank must equal the plain per-epoch
      // row_number (the md5 prefix preserves md5 order)
      """WITH e AS (SELECT unnest(range(2)) AS epoch),
        |h AS (SELECT epoch, doc_id,
        |        md5(CAST(doc_id AS VARCHAR) || '|ep|' || CAST(epoch AS VARCHAR)) AS hk
        |      FROM documents CROSS JOIN e)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |       CAST(row_number() OVER (PARTITION BY epoch ORDER BY hk, doc_id)
        |            AS BIGINT) AS ord,
        |       doc_id
        |FROM h""".stripMargin),
    // Token-budget mixture planner: per-source epoch factors for a
    // 100k-token run at temperature 0.5 — what the trainer's sampler
    // is configured with; q88 materializes this kind of plan.
    QuerySpec("q146_token_budget_mix", (s, d) =>
      Curation.tokenBudgetPlan(docs(s, d), "text", "source",
        budget = 100000L, alpha = 0.5),
      """WITH src AS (SELECT source, count(*)::BIGINT AS n_docs,
        |        sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |      FROM documents GROUP BY source),
        |t AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM src),
        |p AS (SELECT src.*, pow(n_tokens / tot, 0.5) AS pa FROM src CROSS JOIN t),
        |z AS (SELECT sum(pa) AS z FROM p)
        |SELECT source, n_docs, n_tokens,
        |       round(pa / z, 4) AS q,
        |       round(100000 * pa / z / n_tokens, 4) AS epochs,
        |       CAST(round(100000 * pa / z, 0) AS BIGINT) AS est_tokens
        |FROM p CROSS JOIN z""".stripMargin),
    // C4-style line filtering over injected line structure: terminal
    // punctuation, >= 5 words, no code-ish brace — the sentence-level
    // cleanup that runs before any document gate.
    QuerySpec("q148_c4_line_filter", (s, d) =>
      Curation.c4LineFilter(withC4Lines(docs(s, d)), "doc_id", "text"),
      """WITH aug AS (SELECT doc_id,
        |        text || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) ||
        |        chr(10) || 'Good injected line one two three four five six.' ||
        |        chr(10) || 'short one two.' ||
        |        chr(10) || 'curly { line with plenty of words right here today.' ||
        |        chr(10) || 'no terminal punctuation with plenty of words here'
        |          AS text
        |      FROM documents),
        |f AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
        |        [l FOR l IN string_split(text, chr(10))
        |         IF len(string_split(l, ' ')) >= 5
        |            AND regexp_matches(l, '[.!?]$')
        |            AND NOT contains(l, '{')] AS kept
        |      FROM aug)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean,
        |       len(kept)::BIGINT AS n_kept,
        |       (len(lines) - len(kept))::BIGINT AS n_dropped
        |FROM f""".stripMargin),
    // The DATASET CARD — the one-row datasheet every released corpus
    // ships (volume, diversity, duplication, length distribution):
    // one aggregation pass, exact interpolated percentiles (the q33
    // parity), all engine-exact.
    QuerySpec("q194_dataset_card", (s, d) =>
      docs(s, d).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
        countDistinct(col("source")).cast("long").as("n_sources"),
        countDistinct(col("lang")).cast("long").as("n_langs"),
        (count(lit(1)) - countDistinct(substring(md5(trim(
          regexp_replace(lower(col("text")), "\\s+", " "))), 1, 16)))
          .cast("long").as("n_exact_dups"),
        round(expr("percentile(size(split(text, ' ')), 0.5)"), 4)
          .as("p50_len"),
        round(expr("percentile(size(split(text, ' ')), 0.9)"), 4)
          .as("p90_len")),
      """SELECT count(*)::BIGINT AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        | count(DISTINCT source)::BIGINT AS n_sources,
        | count(DISTINCT lang)::BIGINT AS n_langs,
        | (count(*) - count(DISTINCT substr(md5(trim(
        |    regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)))::BIGINT
        |   AS n_exact_dups,
        | round(quantile_cont(len(string_split(text, ' ')), 0.5), 4) AS p50_len,
        | round(quantile_cont(len(string_split(text, ' ')), 0.9), 4) AS p90_len
        |FROM documents""".stripMargin),
    // Per-source health TREND — q172's scorecard broken down by
    // ingest wave (doc_id % 3 plays the arrival batches): the table
    // that shows a source DRIFTING — volume, duplication, and
    // repetition wave over wave — before the aggregate scorecard
    // would move. Same per-doc projections, a (source, wave)-keyed
    // rollup.
    QuerySpec("q193_health_trend", (s, d) => {
      val dd = docs(s, d).withColumn("wave", (col("doc_id") % 3).cast("long"))
      val base = dd.groupBy(col("source"), col("wave")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
        (count(lit(1)) - countDistinct(substring(md5(trim(
          regexp_replace(lower(col("text")), "\\s+", " "))), 1, 16)))
          .cast("long").as("n_exact_dups"))
      val gbase = dd.select(col("doc_id"), col("source"), col("wave"),
        length(col("text")).cast("long").as("n_chars"), col("text"))
      val top2 = gbase.select(col("doc_id"),
          explode(graft.functions.TextFunctions.shingles(col("text"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("c").desc, col("g").asc)))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), (col("c") * length(col("g"))).as("__t2"))
      val rep = gbase.select(col("doc_id"), col("source"), col("wave"),
          col("n_chars"))
        .join(top2, Seq("doc_id"), "left")
        // exact averaging: per-doc fracs quantize to 1e-4 fixed point
        // BEFORE summing, so the cross-partition sum is integer and
        // the mean cannot straddle a rounding tie differently per
        // engine (the jsTail idiom — a bare avg(double) flaked here)
        .withColumn("__q", round(round(coalesce(col("__t2"), lit(0L)) /
          col("n_chars"), 4) * 10000, 0).cast("long"))
        .groupBy(col("source"), col("wave"))
        .agg(round(sum(col("__q")).cast("double") /
          (count(lit(1)) * 10000), 4).as("top2_char_frac"))
      base.join(rep, Seq("source", "wave"))
    },
      // q172's fragments keyed by (source, wave)
      """WITH dd AS (SELECT doc_id, source, CAST(doc_id % 3 AS BIGINT) AS wave,
        |            text FROM documents),
        |base AS (SELECT source, wave, count(*)::BIGINT AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    (count(*) - count(DISTINCT substr(md5(trim(
        |       regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)))::BIGINT
        |      AS n_exact_dups
        |  FROM dd GROUP BY source, wave),
        |gt AS (SELECT doc_id, source, wave,
        |       CAST(len(text) AS BIGINT) AS n_chars,
        |       string_split(text, ' ') AS w FROM dd),
        |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |         for i in range(1, len(w))]) AS g FROM gt),
        |c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, c * len(g) AS t2 FROM (
        |       SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, g ASC) AS rk FROM c2) WHERE rk = 1),
        |rep AS (SELECT gt.source, gt.wave,
        |    round(sum(CAST(round(round(coalesce(t2.t2, 0) / gt.n_chars, 4)
        |          * 10000, 0) AS BIGINT))::DOUBLE / (count(*) * 10000), 4)
        |      AS top2_char_frac
        |  FROM gt LEFT JOIN t2 USING (doc_id) GROUP BY gt.source, gt.wave)
        |SELECT b.source, b.wave, b.n_docs, b.n_tokens, b.n_exact_dups,
        |       rep.top2_char_frac
        |FROM base b JOIN rep ON b.source = rep.source AND b.wave = rep.wave"""
        .stripMargin),
    // Context-window chunking: long documents split into overlapping
    // fixed-width windows (32 words, stride 24 — 25% overlap keeps
    // boundary context on both sides), the prep step for a trainer
    // whose context is shorter than its documents. Deterministic
    // chunk count (1 + ceil(max(0, n−W)/S), non-negative before the
    // division so both engines' integer semantics agree); a doc
    // shorter than the window emits itself once. Pure per-row explode
    // — no shuffle.
    QuerySpec("q188_context_chunks", (s, d) => {
      val (win, stride) = (32, 24)
      val w = split(col("text"), " ")
      val n = size(w)
      val nChunks = lit(1) +
        expr(s"(greatest(0, size(split(text, ' ')) - $win) + ${stride - 1}) " +
          s"div $stride").cast("int")
      docs(s, d).select(col("doc_id"), col("text"))
        .withColumn("chunk_id", explode(sequence(lit(0), nChunks - 1)))
        .withColumn("chunk_id", col("chunk_id").cast("long"))
        .select(col("doc_id"), col("chunk_id"),
          slice(w, col("chunk_id").cast("int") * stride + 1, lit(win))
            .as("__c"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("__c")).cast("long").as("n_tokens"),
          concat_ws(" ", col("__c")).as("chunk"))
    },
      // same windows, 1-based list slices clamped at the tail
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |            len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, w, n,
        |      1 + (greatest(0, n - 32) + 23) // 24 AS nc FROM t),
        |e AS (SELECT doc_id, w, n, unnest(range(0, nc)) AS i FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(len(w[i*24 + 1 : least(i*24 + 32, n)]) AS BIGINT) AS n_tokens,
        |  array_to_string(w[i*24 + 1 : least(i*24 + 32, n)], ' ') AS chunk
        |FROM e""".stripMargin),
    // Filter LEDGER — the explainability table a curation pipeline
    // keeps beside its keep/drop decision: per document, WHICH rules
    // fired (fixed order), how many, and the verdict. Auditing "why
    // did we lose 40% of source X" reads this, not the boolean.
    // Rules: too short, dominant-2-gram repetition, duplicated-5-gram
    // repetition (Gopher char-weighted forms, q161's math), non-
    // English. Pure per-doc projections + the q161 aggs.
    QuerySpec("q186_filter_ledger", (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("nw"),
        length(col("text")).cast("long").as("nc"), col("text"))
      val g2 = base.select(col("doc_id"),
          explode(graft.functions.TextFunctions.shingles(col("text"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val top2 = g2.withColumn("__rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("c").desc, col("g").asc)))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), (col("c") * length(col("g"))).as("__t2"))
      val d5 = base.select(col("doc_id"),
          explode(graft.functions.TextFunctions.shingles(col("text"), 5)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy(col("doc_id")).agg(sum(col("c") * length(col("g"))).as("__d5"))
      val fired = array(
        when(col("nw") < 20, lit("short")),
        when(round(coalesce(col("__t2"), lit(0L)) / col("nc"), 4) > 0.1,
          lit("top2_repeat")),
        when(round(coalesce(col("__d5"), lit(0L)) / col("nc"), 4) > 0.2,
          lit("dup5_repeat")),
        when(col("lang") =!= "en", lit("non_en")))
      base.join(top2, Seq("doc_id"), "left").join(d5, Seq("doc_id"), "left")
        .withColumn("__fired", filter(fired, x => x.isNotNull))
        .select(col("doc_id"),
          size(col("__fired")).cast("long").as("n_rules"),
          concat_ws(",", col("__fired")).as("rules"),
          (size(col("__fired")) === 0).as("keep"))
    },
      // q161's repetition math, the same fixed rule order and rounded
      // thresholds
      """WITH base AS (SELECT doc_id, lang,
        |       len(string_split(text, ' '))::BIGINT AS nw,
        |       CAST(len(text) AS BIGINT) AS nc,
        |       string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |         for i in range(1, len(w))]) AS g FROM base),
        |c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, c * len(g) AS t2 FROM (
        |       SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, g ASC) AS rk FROM c2) WHERE rk = 1),
        |g5 AS (SELECT doc_id, unnest([array_to_string(w[i:i+4], ' ')
        |         for i in range(1, len(w) - 3)]) AS g FROM base),
        |c5 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g5 GROUP BY doc_id, g),
        |d5 AS (SELECT doc_id, sum(c * len(g))::BIGINT AS d5 FROM c5
        |       WHERE c >= 2 GROUP BY doc_id),
        |f AS (SELECT b.doc_id,
        |   [r FOR r IN [
        |     CASE WHEN b.nw < 20 THEN 'short' END,
        |     CASE WHEN round(coalesce(t2.t2, 0) / b.nc, 4) > 0.1
        |          THEN 'top2_repeat' END,
        |     CASE WHEN round(coalesce(d5.d5, 0) / b.nc, 4) > 0.2
        |          THEN 'dup5_repeat' END,
        |     CASE WHEN b.lang <> 'en' THEN 'non_en' END] IF r IS NOT NULL]
        |     AS fired
        |  FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id))
        |SELECT doc_id, len(fired)::BIGINT AS n_rules,
        |       coalesce(array_to_string(fired, ','), '') AS rules,
        |       len(fired) = 0 AS keep
        |FROM f""".stripMargin),
    // Paragraph-grain exact dedup (the RefinedWeb line-dedup pass):
    // every line keeps only its FIRST corpus occurrence (min
    // (doc_id, line_idx) per line hash) — repeated boilerplate
    // vanishes from every later document; documents are rebuilt from
    // their surviving lines. Line structure is the q148 injection
    // (four identical boilerplate lines per doc), so the op has real
    // repeats to kill: doc 0 keeps them, everyone else loses them.
    // Scale shape: explode to line grain, ONE hash-keyed argmin agg
    // (no per-hash window — a hot boilerplate line would be a
    // mega-partition), join back, per-doc fold.
    QuerySpec("q187_paragraph_dedup", (s, d) => {
      val lines = withC4Lines(docs(s, d)).select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
        .withColumn("__h", md5(col("line")))
      val firsts = lines.groupBy(col("__h"))
        .agg(min(struct(col("doc_id"), col("idx"))).as("__first"))
      val kept = lines.join(firsts, Seq("__h"))
        .filter(col("doc_id") === col("__first.doc_id") &&
          col("idx") === col("__first.idx"))
      val tot = lines.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("__n"))
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          concat_ws("\n", transform(
            array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line"))).as("clean"))
      // a doc whose EVERY line was someone else's first still emits a
      // row (0 kept, empty clean) — the keep-then-filter shape
      tot.join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("clean"), lit("")).as("clean"))
    },
      // first-occurrence-wins at line grain, q148's injected structure
      """WITH aug AS (SELECT doc_id,
        |        text || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) ||
        |        chr(10) || 'Good injected line one two three four five six.' ||
        |        chr(10) || 'short one two.' ||
        |        chr(10) || 'curly { line with plenty of words right here today.' ||
        |        chr(10) || 'no terminal punctuation with plenty of words here'
        |          AS text
        |      FROM documents),
        |l AS (SELECT doc_id, i - 1 AS idx, ln[i] AS line FROM
        |   (SELECT doc_id, string_split(text, chr(10)) AS ln FROM aug) q,
        |   UNNEST(generate_series(1, len(ln))) AS u(i)),
        |h AS (SELECT doc_id, idx, line, md5(line) AS h FROM l),
        |k AS (SELECT doc_id, idx, line FROM (
        |  SELECT doc_id, idx, line,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rk
        |  FROM h) WHERE rk = 1),
        |tot AS (SELECT doc_id, count(*)::BIGINT AS n FROM l GROUP BY 1),
        |ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |       string_agg(line, chr(10) ORDER BY idx) AS clean
        |       FROM k GROUP BY 1)
        |SELECT t.doc_id, coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
        |       (t.n - coalesce(ka.n_kept, 0))::BIGINT AS n_dropped,
        |       coalesce(ka.clean, '') AS clean
        |FROM tot t LEFT JOIN ka USING (doc_id)""".stripMargin),
    // Fill-in-the-middle training transform (PSM): deterministic
    // hashed split points, prefix/suffix/middle re-assembled with
    // control tokens — the objective-data-prep step for infilling
    // models, as a pure codegen projection.
    QuerySpec("q182_fim_transform", (s, d) =>
      Curation.fimTransform(docs(s, d), "doc_id", "text"),
      // same hashed cuts, same PSM assembly (1-based list slices)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |            len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, w, n,
        |  ('0x' || substr(md5(doc_id || '|fim1'), 1, 8))::UBIGINT % (n + 1) AS h1,
        |  ('0x' || substr(md5(doc_id || '|fim2'), 1, 8))::UBIGINT % (n + 1) AS h2
        |  FROM t),
        |s AS (SELECT doc_id, w, n,
        |        CAST(least(h1, h2) AS BIGINT) AS lo,
        |        CAST(greatest(h1, h2) AS BIGINT) AS hi FROM c)
        |SELECT doc_id, lo AS n_prefix, hi - lo AS n_middle,
        |       CAST(n - hi AS BIGINT) AS n_suffix,
        |       array_to_string(['<PRE>'] || w[1:lo] || ['<SUF>'] ||
        |         w[hi+1:n] || ['<MID>'] || w[lo+1:hi], ' ') AS fim
        |FROM s""".stripMargin),
    // T5 span corruption: hashed window masking, adjacent windows
    // merged into sentinel spans, (inputs, targets) denoising pair.
    QuerySpec("q183_span_corruption", (s, d) =>
      Curation.spanCorrupt(docs(s, d), "doc_id", "text"),
      // same windows, islands, sentinel ranks, and fold order
      """WITH t AS (SELECT doc_id, i - 1 AS pos, w[i] AS word FROM
        |   (SELECT doc_id, string_split(text, ' ') AS w FROM documents) q,
        |   UNNEST(generate_series(1, len(w))) AS u(i)),
        |m AS (SELECT doc_id, pos, word, pos // 3 AS win,
        |   ('0x' || substr(md5(doc_id || '|sc|' || CAST(pos // 3 AS VARCHAR)),
        |     1, 8))::UBIGINT % 100 < 15 AS masked FROM t),
        |sw AS (SELECT DISTINCT doc_id, win FROM m WHERE masked),
        |isl AS (SELECT doc_id, win,
        |        win - row_number() OVER (PARTITION BY doc_id ORDER BY win) AS g
        |        FROM sw),
        |ks AS (SELECT doc_id, g, min(win) AS w0 FROM isl GROUP BY doc_id, g),
        |kk AS (SELECT doc_id, g,
        |       row_number() OVER (PARTITION BY doc_id ORDER BY w0) - 1 AS k
        |       FROM ks),
        |mm AS (SELECT m.doc_id, m.pos, m.word, m.masked, isl.g, kk.k
        |       FROM m LEFT JOIN isl ON m.doc_id = isl.doc_id AND m.win = isl.win
        |       LEFT JOIN kk ON m.doc_id = kk.doc_id AND isl.g = kk.g),
        |p0 AS (SELECT doc_id, g, min(pos) AS p0 FROM mm WHERE masked
        |       GROUP BY doc_id, g),
        |tg AS (SELECT mm.doc_id, mm.pos, mm.word, mm.masked, mm.k,
        |       (mm.masked AND mm.pos = p0.p0) AS sstart
        |       FROM mm LEFT JOIN p0 ON mm.doc_id = p0.doc_id AND mm.g = p0.g),
        |inp AS (SELECT doc_id, string_agg(
        |          CASE WHEN masked THEN '<X' || k || '>' ELSE word END,
        |          ' ' ORDER BY pos) AS inputs
        |        FROM tg WHERE NOT masked OR sstart GROUP BY doc_id),
        |tgt AS (SELECT doc_id, count(*)::BIGINT AS n_masked,
        |        string_agg(CASE WHEN sstart THEN '<X' || k || '> ' || word
        |                        ELSE word END, ' ' ORDER BY pos) AS targets
        |        FROM tg WHERE masked GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(tgt.n_masked, 0)::BIGINT AS n_masked,
        |       coalesce(inp.inputs, '') AS inputs,
        |       coalesce(tgt.targets, '') AS targets
        |FROM documents d LEFT JOIN inp USING (doc_id)
        |LEFT JOIN tgt USING (doc_id)""".stripMargin),
    // Embedding-space benchmark decontamination — q142's ref×corpus
    // discipline in SEMANTIC space: n-gram spans miss a paraphrased
    // or re-embedded leak, cosine against the benchmark's vectors
    // catches it. The benchmark table is synthesized in-query (the
    // withPii/withC4Lines injection pattern): every 37th corpus
    // vector, blend-perturbed (0.9·v + 0.1·shift(v) — cosine ≈ 0.99
    // to its source, < 0.5 to everything else), so the detector must
    // flag exactly the planted sources THROUGH the perturbation, best
    // benchmark match attached. Scale shape: the benchmark side is
    // small by nature and broadcasts; the corpus is scanned once and
    // never shuffled — the only cross table is corpus × |benchmark|.
    QuerySpec("q179_semantic_decontam", (s, d) => {
      val e = emb(s, d)
      val shifted = expr(
        "concat(slice(embedding, 2, size(embedding) - 1), " +
          "slice(embedding, 1, 1))")
      val ref = e.filter(col("vec_id") % 37 === 0)
        .select(col("vec_id").as("ref_id"),
          zip_with(col("embedding").cast("array<double>"),
            shifted.cast("array<double>"),
            (x, y) => x * 0.9 + y * 0.1).as("ref_vec"))
      val scored = e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(ref))
        .select(col("vec_id"), col("ref_id"),
          round(graft.functions.VectorFunctions.cosine(
            col("embedding").cast("array<double>"), col("ref_vec")), 4)
            .as("cos"))
        .filter(col("cos") >= 0.8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("ref_id").asc)
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("vec_id"), col("ref_id"), col("cos"))
    },
      // the same blend construction, scan, threshold and best-match
      s"""WITH r AS (SELECT vec_id AS ref_id,
         |    [embedding[i]::DOUBLE * 0.9 +
         |     embedding[CASE WHEN i < len(embedding) THEN i + 1 ELSE 1 END]::DOUBLE * 0.1
         |     for i in range(1, len(embedding) + 1)] AS rv
         |  FROM embeddings WHERE vec_id % 37 = 0),
         |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
         |p AS (SELECT c.vec_id, r.ref_id,
         |        round(${embCosSql("cv", "rv")}, 4) AS cos
         |      FROM c CROSS JOIN r),
         |f AS (SELECT vec_id, ref_id, cos FROM p WHERE cos >= 0.8),
         |b AS (SELECT vec_id, ref_id, cos, row_number() OVER
         |        (PARTITION BY vec_id ORDER BY cos DESC, ref_id ASC) AS rk
         |      FROM f)
         |SELECT vec_id, ref_id, cos FROM b WHERE rk = 1""".stripMargin),
    // Per-source health scorecard — the table an ingest review
    // actually reads, composing the individual monitors (q112
    // entropy, q148 C4 drop rate, q161 Gopher repetition, exact-dup
    // share) into ONE source-keyed readout: volume, duplication,
    // line-quality, repetition, and distributional collapse side by
    // side. Every branch is a per-doc projection folded into a
    // #sources-sized agg; the final joins are #sources × #sources —
    // broadcast by construction.
    QuerySpec("q172_source_health", (s, d) => {
      val dd = docs(s, d)
      val src = dd.select(col("doc_id"), col("source"))
      val base = dd.groupBy(col("source")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
        (count(lit(1)) - countDistinct(substring(md5(trim(
          regexp_replace(lower(col("text")), "\\s+", " "))), 1, 16)))
          .cast("long").as("n_exact_dups"))
      val ent = Surprisal.tokenEntropyPerKey(dd, "source", "text")
        .select(col("source"), col("entropy"))
      val c4 = Curation.c4LineFilter(withC4Lines(dd), "doc_id", "text")
        .join(src, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(round(sum(col("n_dropped")).cast("double") /
          sum(col("n_kept") + col("n_dropped")), 4).as("c4_drop_frac"))
      // q161's per-doc char-weighted repetition, averaged per source
      val gbase = dd.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"), col("text"))
      val g2 = gbase.select(col("doc_id"),
          explode(graft.functions.TextFunctions.shingles(col("text"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("c").desc, col("g").asc)
      val top2 = g2.withColumn("__rk", row_number().over(w2))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), (col("c") * length(col("g"))).as("__t2"))
      val dup5 = gbase.select(col("doc_id"),
          explode(graft.functions.TextFunctions.shingles(col("text"), 5)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * length(col("g"))).as("__d5"))
      val gopher = gbase.select(col("doc_id"), col("n_chars"))
        .join(top2, Seq("doc_id"), "left")
        .join(dup5, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(coalesce(col("__t2"), lit(0L)) / col("n_chars"), 4).as("__tf"),
          round(coalesce(col("__d5"), lit(0L)) / col("n_chars"), 4).as("__df"))
        .join(src, Seq("doc_id"))
        // fixed-point means — see q193's comment (avg(double) is
        // cross-partition-order sensitive at rounding ties)
        .withColumn("__qtf", round(col("__tf") * 10000, 0).cast("long"))
        .withColumn("__qdf", round(col("__df") * 10000, 0).cast("long"))
        .groupBy(col("source"))
        .agg(round(sum(col("__qtf")).cast("double") /
            (count(lit(1)) * 10000), 4).as("top2_char_frac"),
          round(sum(col("__qdf")).cast("double") /
            (count(lit(1)) * 10000), 4).as("dup5_char_frac"))
      base.join(ent, Seq("source")).join(c4, Seq("source"))
        .join(gopher, Seq("source"))
    },
      // every branch mirrors its parent query's fragment (q112 entropy,
      // q148 aug+filter, q161 repetition, q24 fingerprint), rolled up
      // per source
      """WITH base AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    (count(*) - count(DISTINCT substr(md5(trim(
        |       regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)))::BIGINT
        |      AS n_exact_dups
        |  FROM documents GROUP BY source),
        |tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |        FROM documents),
        |ec AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
        |en AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM ec GROUP BY source),
        |ent AS (SELECT ec.source,
        |    round(ln(en.n) - sum(ec.c::DOUBLE * ln(ec.c::DOUBLE)) / en.n, 4) + 0.0
        |      AS entropy
        |  FROM ec JOIN en USING (source) GROUP BY ec.source, en.n),
        |aug AS (SELECT doc_id,
        |        text || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) ||
        |        chr(10) || 'Good injected line one two three four five six.' ||
        |        chr(10) || 'short one two.' ||
        |        chr(10) || 'curly { line with plenty of words right here today.' ||
        |        chr(10) || 'no terminal punctuation with plenty of words here'
        |          AS text
        |      FROM documents),
        |c4 AS (SELECT doc_id,
        |        len(string_split(text, chr(10)))::BIGINT AS n_lines,
        |        len([l FOR l IN string_split(text, chr(10))
        |         IF len(string_split(l, ' ')) >= 5
        |            AND regexp_matches(l, '[.!?]$')
        |            AND NOT contains(l, '{')])::BIGINT AS n_kept
        |      FROM aug),
        |c4s AS (SELECT d.source,
        |    round(sum(c4.n_lines - c4.n_kept)::DOUBLE / sum(c4.n_lines), 4)
        |      AS c4_drop_frac
        |  FROM c4 JOIN documents d USING (doc_id) GROUP BY d.source),
        |gt AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |       string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |         for i in range(1, len(w))]) AS g FROM gt),
        |c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, c * len(g) AS t2 FROM (
        |       SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY c DESC, g ASC) AS rk FROM c2) WHERE rk = 1),
        |g5 AS (SELECT doc_id, unnest([array_to_string(w[i:i+4], ' ')
        |         for i in range(1, len(w) - 3)]) AS g FROM gt),
        |c5 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g5 GROUP BY doc_id, g),
        |d5 AS (SELECT doc_id, sum(c * len(g))::BIGINT AS d5 FROM c5
        |       WHERE c >= 2 GROUP BY doc_id),
        |gd AS (SELECT t.doc_id,
        |       round(coalesce(t2.t2, 0) / t.n_chars, 4) AS tf,
        |       round(coalesce(d5.d5, 0) / t.n_chars, 4) AS df
        |  FROM gt t LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)),
        |gs AS (SELECT d.source,
        |       round(sum(CAST(round(tf * 10000, 0) AS BIGINT))::DOUBLE /
        |             (count(*) * 10000), 4) AS top2_char_frac,
        |       round(sum(CAST(round(df * 10000, 0) AS BIGINT))::DOUBLE /
        |             (count(*) * 10000), 4) AS dup5_char_frac
        |  FROM gd JOIN documents d USING (doc_id) GROUP BY d.source)
        |SELECT b.source, b.n_docs, b.n_tokens, b.n_exact_dups, ent.entropy,
        |       c4s.c4_drop_frac, gs.top2_char_frac, gs.dup5_char_frac
        |FROM base b JOIN ent ON b.source = ent.source
        |JOIN c4s ON b.source = c4s.source
        |JOIN gs ON b.source = gs.source""".stripMargin),
    // Embedding-space mislabel detector: each vector's cosine to ITS
    // label's centroid, z-scored against that label's own
    // distribution — a vector far below its class baseline is a
    // labeling error or an off-domain sample. Centroids broadcast;
    // the z stats are one #labels-sized agg.
    QuerySpec("q155_embedding_outliers", (s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"), col("embedding"))
      val cents = Similarity.labelCentroids(e, "label", "embedding")
      val scored = e.join(broadcast(cents), Seq("label"))
        .select(col("label"), col("vec_id"),
          (round(graft.functions.VectorFunctions.cosine(
            col("embedding").cast("array<double>"), col("centroid")), 4)
            + lit(0.0)).as("cos"))
      Curation.zScoreGatePerKey(scored, "label", "vec_id", "cos",
        maxAbsZ = 2.0)
    },
      // centroid = per-(label, dim) avg; cos rounded to 4 BEFORE the z
      // stats so both engines z-score identical inputs (q96's idiom)
      s"""WITH ex AS (SELECT CAST(label AS BIGINT) AS label,
         |              unnest(embedding) AS x,
         |              unnest(range(1, len(embedding) + 1)) AS pos
         |            FROM embeddings),
         |m AS (SELECT label, pos, avg(x::DOUBLE) AS m FROM ex GROUP BY label, pos),
         |c AS (SELECT label, list(m ORDER BY pos) AS centroid FROM m GROUP BY label),
         |sc AS (SELECT CAST(v.label AS BIGINT) AS label, v.vec_id,
         |         round(${embCosSql("v.embedding", "c.centroid")}, 4) + 0.0 AS cos
         |       FROM embeddings v JOIN c ON CAST(v.label AS BIGINT) = c.label),
         |st AS (SELECT label, avg(cos) AS mu, stddev_samp(cos) AS sd
         |       FROM sc GROUP BY label)
         |SELECT sc.label, sc.vec_id, sc.cos,
         |       round((sc.cos - st.mu) / st.sd, 4) + 0.0 AS z,
         |       (abs(round((sc.cos - st.mu) / st.sd, 4) + 0.0) <= 2.0) AS pass
         |FROM sc JOIN st USING (label)""".stripMargin),
    // Domain-shift monitor: JS divergence between the hashed-token
    // distributions of the standing corpus and the arriving batch
    // (doc_id % 5 == 0 plays the batch) — near 0 when the batch
    // speaks the corpus's language.
    QuerySpec("q156_token_shift_js", (s, d) =>
      Curation.tokenJsDivergence(docs(s, d), "text",
        col("doc_id") % 5 === 0, 64),
      // per-bucket JS contribution quantized to 1e-6 fixed point BEFORE
      // the sum (exact integer addition; the nbTrain idiom); expression
      // tree mirrors the operator left to right
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token,
        |              CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS nw
        |            FROM documents),
        |bc AS (SELECT CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
        |         sum(CASE WHEN nw = 0 THEN 1 ELSE 0 END)::BIGINT AS c_old,
        |         sum(nw)::BIGINT AS c_new
        |       FROM tk GROUP BY bucket),
        |t AS (SELECT sum(c_old)::DOUBLE AS t_old, sum(c_new)::DOUBLE AS t_new FROM bc),
        |terms AS (SELECT t_old, t_new,
        |    CAST(round(1000000 * (
        |      (CASE WHEN c_old > 0 THEN 0.5 * (c_old / t_old) *
        |         ln((c_old / t_old) / (((c_old / t_old) + (c_new / t_new)) / 2))
        |       ELSE 0.0 END) +
        |      (CASE WHEN c_new > 0 THEN 0.5 * (c_new / t_new) *
        |         ln((c_new / t_new) / (((c_old / t_old) + (c_new / t_new)) / 2))
        |       ELSE 0.0 END))) AS BIGINT) AS term
        |  FROM bc CROSS JOIN t)
        |SELECT CAST(t_old AS BIGINT) AS n_old, CAST(t_new AS BIGINT) AS n_new,
        |       round(sum(term) / 1000000.0, 4) AS js
        |FROM terms GROUP BY t_old, t_new""".stripMargin),
    // Domain blocklist filter over injected source URLs — the
    // URL-level cut a crawl pipeline applies before any content rule:
    // per-domain doc counts with the blocklist verdict (sites 3 and
    // 7 of the 10 injected hosts are blocked).
    QuerySpec("q163_domain_filter", (s, d) => {
      val withUrl = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit(" via https://site"),
          (col("doc_id") % 10).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("text"))
      Curation.domainFilter(withUrl, "doc_id", "text",
          Seq("site3.example.com", "site7.example.com"))
        .groupBy(col("domain"), col("blocked"))
        .agg(count(lit(1)).as("n_docs"))
    },
      """WITH u AS (SELECT doc_id,
        |    text || ' via https://site' || CAST(doc_id % 10 AS VARCHAR) ||
        |    '.example.com/p/' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |x AS (SELECT doc_id,
        |    regexp_extract(text, 'https?://([^/ ]+)', 1) AS domain
        |  FROM u)
        |SELECT domain,
        |       domain IN ('site3.example.com', 'site7.example.com') AS blocked,
        |       count(*)::BIGINT AS n_docs
        |FROM x GROUP BY domain""".stripMargin),
    QuerySpec("q52_dedup_corpus", (s, d) =>
      Curation.keepOne(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", TextPipelineQueries.dupGroups(s, d)),
      s"""WITH RECURSIVE ${TextPipelineQueries.shCte},
         |${TextPipelineQueries.mhCte},
         |${TextPipelineQueries.pairsCte},
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |g AS (SELECT a AS did, least(a, min(b)) AS keep_id
         |      FROM reach GROUP BY a)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT did FROM g WHERE did <> keep_id)"""
        .stripMargin),
    // Intra-document de-looping: the injected case-variant repeat
    // drops, first occurrences and unique paragraphs survive in
    // order. No document-frequency table — repetition is judged
    // within each document alone.
    QuerySpec("q85_intradoc_dedup", (s, d) =>
      Curation.dedupUnitsWithin(
        withIntraRepeats(docs(s, d).select(col("doc_id"), col("text"))),
        "doc_id", "text"),
      """WITH inj AS (SELECT doc_id,
        |  text || chr(10) || chr(10) || 'Repeated  Para' ||
        |  chr(10) || chr(10) || 'middle bit ' || CAST(doc_id AS VARCHAR) ||
        |  chr(10) || chr(10) || 'repeated para' ||
        |  chr(10) || chr(10) || 'closing ' || CAST(doc_id AS VARCHAR)
        |  AS text FROM documents),
        |p AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10) || chr(10))) AS unit,
        |  unnest(range(1, len(string_split(text, chr(10) || chr(10))) + 1)) AS pos
        |  FROM inj),
        |c AS (SELECT doc_id, pos, unit,
        |  trim(regexp_replace(lower(unit), '\s+', ' ', 'g')) AS canon FROM p),
        |f AS (SELECT doc_id, canon, min(pos) AS pos,
        |        min_by(unit, pos) AS unit, count(*) AS n_occ
        |      FROM c GROUP BY doc_id, canon)
        |SELECT doc_id,
        |       string_agg(unit, chr(10) || chr(10) ORDER BY pos) AS clean,
        |       CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(n_occ) - count(*) AS BIGINT) AS n_dropped
        |FROM f GROUP BY doc_id""".stripMargin),
    // Incremental vocabulary: counts from the historical slice and
    // the arriving batch MERGE (counts over disjoint doc sets add),
    // so the batch never re-tokenizes history — and the merged
    // ranking equals the from-scratch vocabulary, which is exactly
    // what the oracle recomputes.
    QuerySpec("q86_vocab_incremental", (s, d) => {
      val doc = docs(s, d)
      val old = Curation.tokenCounts(doc.filter(col("doc_id") % 5 =!= 0), "text")
      val batch = Curation.tokenCounts(doc.filter(col("doc_id") % 5 === 0), "text")
      Curation.vocabFromCounts(Curation.mergeTokenCounts(old, batch), 32)
        .select(col("token"), col("id"), col("cnt"))
    },
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
        |SELECT token,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1 AS BIGINT) AS id,
        |       cnt
        |FROM cnt ORDER BY cnt DESC, token ASC LIMIT 32""".stripMargin),
    // The round's cleanup operators chained as ONE declarative plan:
    // stutter injection → run-length collapse → quality gate over the
    // CLEANED text → per-source scorecard. Every stage is the
    // already-verified operator; the composition proves they pipeline
    // without materialization barriers (collapse reassembly is the
    // only per-doc exchange; the gate is a projection; the scorecard
    // is one rollup).
    QuerySpec("q100_curation_v2", (s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit("\nsame line\nsame line\nsame line\ntail "),
          col("doc_id").cast("string")).as("text"))
      val cleaned = Curation.collapseRuns(injected, "doc_id", "text")
        .select(col("doc_id"), translate(col("clean"), "\n", " ").as("text"))
      val gated = Curation.gopherQuality(cleaned, "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("passes"))
      docs(s, d).select(col("doc_id"), col("source"))
        .join(gated, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("passes"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("n_words")).as("total_tokens"))
    },
      """WITH inj AS (SELECT doc_id,
        |  text || chr(10) || 'same line' || chr(10) || 'same line' ||
        |  chr(10) || 'same line' || chr(10) || 'tail ' ||
        |  CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10))) AS unit,
        |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM inj),
        |k AS (SELECT doc_id, pos, unit,
        |        (lag(unit) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |         OR lag(unit) OVER (PARTITION BY doc_id ORDER BY pos) <> unit)
        |          AS keep
        |      FROM p),
        |cl AS (SELECT doc_id,
        |         replace(string_agg(CASE WHEN keep THEN unit END, chr(10)
        |                            ORDER BY pos), chr(10), ' ') AS text
        |       FROM k GROUP BY doc_id),
        |g AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |        round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 4)
        |          AS mean_word_len,
        |        round(len(regexp_extract_all(text, '#|\.\.\.'))
        |              / len(string_split(text, ' ')), 4) AS symbol_ratio,
        |        CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |          x -> x IN ('the','a','of','and','to','in','is')))) AS BIGINT)
        |          AS n_stop
        |      FROM cl)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN g.n_words BETWEEN 50 AND 100000
        |                      AND g.mean_word_len BETWEEN 3.0 AND 10.0
        |                      AND g.symbol_ratio <= 0.1 AND g.n_stop >= 2
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |       CAST(sum(g.n_words) AS BIGINT) AS total_tokens
        |FROM g JOIN documents d USING (doc_id)
        |GROUP BY d.source""".stripMargin),
    // Fixed-size training windows: 16-token chunks every 8 tokens
    // (50% overlap) — zero-exchange generator over the corpus.
    QuerySpec("q75_chunk_windows", (s, d) =>
      Curation.chunkDocs(docs(s, d), "doc_id", "text", 16, 8),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, greatest(len(w), 1), 8)) AS start, w
        |      FROM toks)
        |SELECT doc_id, CAST(start // 8 AS BIGINT) AS chunk_idx,
        |       CAST(len(list_slice(w, start + 1, start + 16)) AS BIGINT) AS n_tokens,
        |       array_to_string(list_slice(w, start + 1, start + 16), ' ') AS chunk_text
        |FROM c""".stripMargin),
    // Corpus → token ids against a frequency-ranked 32-token
    // vocabulary: per doc the id sequence (order-exact), token count,
    // and OOV count — the last step before a trainer sees the data.
    QuerySpec("q77_tokenize_ids", (s, d) => {
      val doc = docs(s, d)
      Curation.tokenizeToIds(doc, "doc_id", "text",
        Curation.buildVocab(doc, "text", 32))
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents),
        |tk AS (SELECT doc_id,
        |         unnest([{'p': i, 't': w[i]} for i in range(1, len(w)+1)]) AS s
        |       FROM toks),
        |tk2 AS (SELECT doc_id, s.p AS pos, s.t AS token FROM tk),
        |cnt AS (SELECT token, count(*) AS c FROM tk2 GROUP BY token),
        |vocab AS (SELECT token,
        |            CAST(row_number() OVER (ORDER BY c DESC, token ASC) - 1
        |                 AS BIGINT) AS id
        |          FROM cnt ORDER BY c DESC, token ASC LIMIT 32),
        |ids AS (SELECT doc_id, pos, coalesce(v.id, -1) AS id
        |        FROM tk2 LEFT JOIN vocab v USING (token))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |       CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
        |FROM ids GROUP BY doc_id""".stripMargin),
    // The WHOLE curation pipeline as one declarative plan — dedup
    // keep-one → Gopher quality gate → training-sequence packing →
    // per-sequence shard stats. Each stage is the already-verified
    // operator; the composition proves they chain without
    // materialization barriers, and the oracle recomputes every stage
    // in one SQL statement. This is the query a user actually ships.
    QuerySpec("q66_curation_pipeline", (s, d) => {
      import graft.functions.TextFunctions.tokens
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      val kept = Curation.keepOne(corpus, "doc_id",
        TextPipelineQueries.dupGroups(s, d))
      val passedIds = Curation.gopherQuality(kept, "doc_id", "text")
        .filter(col("passes")).select(col("doc_id"))
      val passed = kept.join(passedIds, Seq("doc_id"))
      val packed = Packing.packByBudget(
        passed.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 512L)
      packed.groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
    },
      // every stage of the pipeline recomputed in one statement:
      // recursive-CTE dedup labels, the q50 quality predicate over the
      // kept docs, the q47 prefix-sum packing over the survivors
      s"""WITH RECURSIVE ${TextPipelineQueries.shCte},
         |${TextPipelineQueries.mhCte},
         |${TextPipelineQueries.pairsCte},
         |edges AS (SELECT id_a AS a, id_b AS b FROM cand
         |          UNION SELECT id_b, id_a FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS did, least(a, min(b)) AS keep_id
         |        FROM reach GROUP BY a),
         |kept AS (SELECT d.doc_id, d.text FROM documents d
         |         WHERE d.doc_id NOT IN
         |           (SELECT did FROM lab WHERE did <> keep_id)),
         |g AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 4)
         |    AS mean_word_len,
         |  round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
         |        / len(string_split(text, ' ')), 4) AS symbol_ratio,
         |  CAST(len(list_distinct(list_filter(string_split(text, ' '),
         |    x -> x IN ('the','a','of','and','to','in','is')))) AS BIGINT)
         |    AS n_stop_distinct
         |  FROM kept),
         |pass AS (SELECT k.doc_id,
         |    CAST(len(string_split(k.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM kept k JOIN g USING (doc_id)
         |  WHERE (g.n_words BETWEEN 50 AND 100000)
         |    AND (g.mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND g.symbol_ratio <= 0.1 AND g.n_stop_distinct >= 2),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
         |  FROM pass),
         |seqs AS (SELECT doc_id, n_tokens, CAST(s // 512 AS BIGINT) AS seq_id
         |         FROM c)
         |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
         |FROM seqs GROUP BY seq_id""".stripMargin),
    // Deterministic holdout split: per-(source, split) doc and char
    // masses. The 80/10/10 boundaries quantize to the 1/65536 hash
    // grain; membership is a pure projection, so the aggregation is
    // the query's only exchange.
    QuerySpec("q69_split_assign", (s, d) =>
      Curation.splitAssign(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")),
      // same md5-prefix thresholds: 0.8 → 'cccd', 0.9 → 'e666'
      // (round(frac * 0x10000) like Curation.hexThreshold)
      """WITH h AS (SELECT doc_id, source, n_chars,
        |  substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4) AS h
        |  FROM documents),
        |a AS (SELECT source, n_chars,
        |  CASE WHEN h < 'cccd' THEN 'train'
        |       WHEN h < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM h)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM a GROUP BY source, split""".stripMargin),
    QuerySpec("q53_quantize_int8", (s, d) =>
      Curation.quantizeInt8(emb(s, d).select(col("vec_id"), col("embedding")),
        "embedding")
        .select(col("vec_id"),
          round(col("vmin"), 4).as("qmin"),
          round(col("scale"), 6).as("qscale"),
          md5(concat_ws(",", transform(col("qvec"), x => x.cast("string"))))
            .as("q_digest")),
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v, list_min(v) AS vmin,
        |  greatest((list_max(v) - list_min(v)) / 255.0, 1e-12) AS scale
        |  FROM e),
        |q AS (SELECT vec_id, vmin, scale,
        |  list_transform(v, x ->
        |    CAST(CAST(round((x - vmin) / scale) AS INT) AS VARCHAR)) AS qs
        |  FROM s)
        |SELECT vec_id, round(vmin, 4) AS qmin, round(scale, 6) AS qscale,
        |       md5(array_to_string(qs, ',')) AS q_digest
        |FROM q""".stripMargin))

  // ---- oracle SQL (DuckDB dialect) ----

  /** Shared CTE chain for the Naive-Bayes family (q125 train, q126
    * gate, q127 eval; also q134's gate stage): seed labels → hashed
    * features → per-(bucket, class) counts → dense grid → quantized
    * log-odds weight table. */
  private[operators] val nbCtes =
    """lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |        FROM documents WHERE doc_id % 3 = 0),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents),
      |f AS (SELECT doc_id,
      |        CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
      |        count(*) AS cnt
      |      FROM tok GROUP BY doc_id, bucket),
      |fy AS (SELECT f.bucket, f.cnt, lab.y FROM f JOIN lab USING (doc_id)),
      |bc AS (SELECT bucket, sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS c1,
      |               sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS c0
      |       FROM fy GROUP BY bucket),
      |g AS (SELECT u.b AS bucket, coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
      |      FROM UNNEST(generate_series(0, 63)) AS u(b)
      |      LEFT JOIN bc ON bc.bucket = u.b),
      |tt AS (SELECT sum(c1) AS t1, sum(c0) AS t0 FROM g),
      |pr AS (SELECT sum(y)::DOUBLE AS n1, (count(*) - sum(y))::DOUBLE AS n0
      |       FROM lab),
      |wt AS (SELECT CAST(bucket AS BIGINT) AS bucket,
      |         CAST(round(10000 * (ln((c1 + 1.0) / (t1 + 64)) -
      |                             ln((c0 + 1.0) / (t0 + 64)))) AS BIGINT) AS w
      |       FROM g CROSS JOIN tt
      |       UNION ALL
      |       SELECT CAST(-1 AS BIGINT),
      |         CAST(round(10000 * ln(n1 / n0)) AS BIGINT) FROM pr)""".stripMargin

  /** Multiclass (language-ID) NB CTEs: per-(bucket, lang) counts →
    * dense grid → quantized per-class log-likelihoods + priors. */
  private val nbMultiCtes =
    """labm AS (SELECT doc_id, lang AS y FROM documents WHERE doc_id % 3 = 0),
      |tokm AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |         FROM documents),
      |fm AS (SELECT doc_id,
      |        CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket,
      |        count(*) AS cnt
      |      FROM tokm GROUP BY doc_id, bucket),
      |fym AS (SELECT fm.bucket, fm.cnt, labm.y FROM fm JOIN labm USING (doc_id)),
      |bcm AS (SELECT bucket, y, sum(cnt)::BIGINT AS c FROM fym GROUP BY bucket, y),
      |clsm AS (SELECT DISTINCT y FROM labm),
      |gm AS (SELECT u.b AS bucket, clsm.y, coalesce(c, 0) AS c
      |      FROM UNNEST(generate_series(0, 63)) AS u(b) CROSS JOIN clsm
      |      LEFT JOIN bcm ON bcm.bucket = u.b AND bcm.y = clsm.y),
      |tmm AS (SELECT y, sum(c) AS t FROM gm GROUP BY y),
      |prm AS (SELECT y, count(*)::DOUBLE AS n FROM labm GROUP BY y),
      |alln AS (SELECT count(*)::DOUBLE AS a FROM labm),
      |wtm AS (SELECT bucket, gm.y,
      |         CAST(round(10000 * ln((c + 1.0) / (t + 64))) AS BIGINT) AS w
      |       FROM gm JOIN tmm ON gm.y = tmm.y
      |       UNION ALL
      |       SELECT CAST(-1 AS BIGINT), y,
      |         CAST(round(10000 * ln(n / a)) AS BIGINT) FROM prm CROSS JOIN alln)"""
      .stripMargin

  private val injPiiCte =
    """inj AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |  '@example.com call 555-' ||
      |  lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') || '-' ||
      |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |  ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
      |  '.7 id 90000000' || CAST(doc_id % 100 AS VARCHAR) AS text
      |  FROM documents)""".stripMargin

  private val injLinesCte =
    """inj AS (SELECT doc_id,
      |  text || chr(10) || 'all rights reserved' || chr(10) ||
      |  'powered by example' || chr(10) ||
      |  'doc number ' || CAST(doc_id AS VARCHAR) AS text
      |  FROM documents)""".stripMargin

}
