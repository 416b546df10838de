package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Gate queries for [[Lakehouse]]: JSONL shard export (+ sealed-style
  * incremental append) and keyed MERGE INTO over a bucketed parquet
  * store (+ a two-merge chain). Every query MATERIALIZES files and
  * manifests the READ-BACK — the oracle recomputes the expected
  * state/bytes in pure SQL, so the hash compare proves the physical
  * layout, not just the logical plan. */
object LakehouseQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")

  private def tmp(prefix: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      math.abs(d.hashCode.toLong)

  /** DuckDB mirror of [[Lakehouse.jsonLines]] + the byte-budget shard
    * layout + the per-shard content hash. Shared verbatim by q333
    * (append == from-scratch). */
  private val jsonlSql: String =
    """WITH l AS (SELECT doc_id,
      |  '{"doc_id":' || CAST(doc_id AS VARCHAR) ||
      |  ',"lang":"' || regexp_replace(lang, '(["\\])', '\\\1', 'g') ||
      |  '","source":"' ||
      |    regexp_replace(source, '(["\\])', '\\\1', 'g') ||
      |  '","text":"' || regexp_replace(text, '(["\\])', '\\\1', 'g') ||
      |  '"}' AS line
      | FROM documents),
      |b AS (SELECT doc_id, line,
      |  CAST(length(line) + 1 AS BIGINT) AS nb FROM l),
      |pk AS (SELECT doc_id, line, nb,
      |  CAST(COALESCE(sum(nb) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS pstart FROM b)
      |SELECT CAST(pstart // 8192 AS BIGINT) AS shard_id,
      |  count(*)::BIGINT AS n_docs, CAST(sum(nb) AS BIGINT) AS n_bytes,
      |  md5(string_agg(line, chr(10) ORDER BY doc_id)) AS content_md5
      |FROM pk GROUP BY 1""".stripMargin

  /** The standard two-wave versioned-merge batches the time-travel
    * family shares: v1 = % 5 updates (source -> 'm1'), v2 = % 7 = 3
    * deletes plus % 11 = 0 inserts re-keyed +10000. */
  private def v1Batch(base: DataFrame): DataFrame =
    base.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit("U").as("op"), col("text"),
        col("lang"), lit("m1").as("source"), col("n_chars"))

  private def v2Batch(base: DataFrame): DataFrame =
    base.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), lit("D").as("op"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars")))

  private def rmDir(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Build the shared three-commit versioned store (v0 full write at
    * ts 100, v1 updates at ts 200, v2 deletes+inserts at ts 300) —
    * the fixture q354/q357 time-travel evidence reads against. */
  private def buildVersioned(s: SparkSession, d: String,
                             path: String): Unit = {
    rmDir(s, path)
    val base = docs(s, d)
    Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
      commitTs = 100L)
    Lakehouse.mergeVersioned(s, path, 1L, v1Batch(base), "doc_id", 16,
      commitTs = 200L)
    Lakehouse.mergeVersioned(s, path, 2L, v2Batch(base), "doc_id", 16,
      commitTs = 300L)
  }

  /** The merge batch all three merge queries derive from: deletes =
    * doc_id % 7 = 3 (the repo-wide delete slice), updates = % 5 = 0
    * survivors with a payload change, inserts = % 11 = 0 re-keyed
    * +10000. */
  private def mergeBatch(base: DataFrame): DataFrame = {
    val dels = base.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), lit("D").as("op"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val upds = base.filter(col("doc_id") % 5 === 0 &&
        col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), lit("U").as("op"), col("text"),
        col("lang"), lit("merged").as("source"), col("n_chars"))
    val ins = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), lit("U").as("op"),
        col("text"), lit("xx").as("lang"), lit("ingest").as("source"),
        col("n_chars"))
    dels.unionByName(upds).unionByName(ins)
  }

  /** Build the shared divergent base+branch pair (q376/q377): src at
    * v0 (ts 100) + the broad v1 update wave (ts 200), fork, then the
    * branch edits ONLY bucket 3 (deletes %7=3, updates -> 'br2',
    * inserts %13=0 re-keyed +10000 — 10000 ≡ 0 mod 16 keeps the
    * bucket) while the source edits ONLY bucket 5 (-> 'm3'), both as
    * their own v2 at ts 300. Disjoint buckets: merge-back applies
    * cleanly. Returns the fork version. */
  private def buildBranchPair(s: SparkSession, d: String,
                              src: String, br: String): Long = {
    rmDir(s, src); rmDir(s, br)
    val base = docs(s, d)
    Lakehouse.writeVersioned(base, "doc_id", src, buckets = 16,
      commitTs = 100L)
    Lakehouse.mergeVersioned(s, src, 1L, v1Batch(base), "doc_id", 16,
      commitTs = 200L)
    val fork = Lakehouse.branchVersioned(s, src, br)
    val brDels = base.filter(col("doc_id") % 16 === 3 &&
        col("doc_id") % 7 === 3)
      .select(col("doc_id"), lit("D").as("op"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val brUpds = base.filter(col("doc_id") % 16 === 3 &&
        col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), lit("U").as("op"), col("text"),
        col("lang"), lit("br2").as("source"), col("n_chars"))
    val brIns = base.filter(col("doc_id") % 16 === 3 &&
        col("doc_id") % 13 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), lit("U").as("op"),
        col("text"), lit("xx").as("lang"), lit("ingest").as("source"),
        col("n_chars"))
    Lakehouse.mergeVersioned(s, br, 2L,
      brDels.unionByName(brUpds).unionByName(brIns), "doc_id", 16,
      commitTs = 300L)
    val srcEdit = base.filter(col("doc_id") % 16 === 5)
      .select(col("doc_id"), lit("U").as("op"), col("text"),
        col("lang"), lit("m3").as("source"), col("n_chars"))
    Lakehouse.mergeVersioned(s, src, 2L, srcEdit, "doc_id", 16,
      commitTs = 300L)
    fork
  }

  private val Jan1Ns = 1704067200000000000L // 2024-01-01T00:00:00Z
  private val WeekNs = 604800000000000L // 7 days in ns

  /** Build the shared week-keyed VERSIONED events store (q389/q392):
    * the key carries the week index in its bucket bits (k =
    * event_id·8 + week, clamped to 0..4 — bucket ≡ week, the only
    * mod-bucket layout where per-dir stats are non-vacuous on
    * arrival-correlated columns), v0 lands weeks 0-2 (ts 100), v1
    * merges weeks 3-4 (ts 200) — the bucket-sparse commit shape
    * time-ordered arrival always produces. Both commits ledger ts
    * AND event_id stats. */
  private def buildWeekKeyedStore(s: SparkSession, d: String,
                                  path: String): Unit = {
    rmDir(s, path)
    val ev = t(s, d, "events").withColumn("wk",
      least(lit(4L), greatest(lit(0L),
        expr(s"(ts - $Jan1Ns) div $WeekNs"))))
      .withColumn("k", col("event_id") * 8L + col("wk"))
    Lakehouse.writeVersioned(ev.filter(col("wk") <= 2L).drop("wk"),
      "k", path, buckets = 8, commitTs = 100L,
      statCols = Seq("ts", "event_id"))
    Lakehouse.mergeVersioned(s, path, 1L,
      ev.filter(col("wk") >= 3L).drop("wk")
        .withColumn("op", lit("U")),
      "k", 8, commitTs = 200L, statCols = Seq("ts", "event_id"))
  }

  /** Build the shared 5-batch stats store over the events table:
    * batch i = the i-th contiguous fifth of event_id (arrival order ==
    * ts order, so each batch is ~6 days of January), per-(batch,
    * bucket) ts stats recorded at ingest. */
  private def buildStatsStore(s: SparkSession, d: String,
                              path: String): Unit = {
    rmDir(s, path)
    val ev = t(s, d, "events")
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    val per = maxId / 5 + 1
    (0L to 4L).foreach { i =>
      StatsStore.appendBatch(
        ev.filter(expr(s"event_id div $per") === i),
        "event_id", path, buckets = 8, batch = i,
        statCols = Seq("ts", "event_id"))
    }
  }

  lazy val specs: Seq[QuerySpec] = Seq(
    // STATS-SKIPPING SCAN (file-level column stats, the Delta/Iceberg
    // data-skipping mechanic): five ingest batches of the events
    // table land under batch=<i>/bucket=<k> with per-(batch, bucket)
    // min/max ts stats recorded at write time; a 7-day range scan
    // consults _stats first and opens ONLY the batches whose range
    // intersects (2 of 5 here — arrival-correlated columns are where
    // skipping pays, and n_batches_read rides INSIDE the hash against
    // the oracle's SQL-derived batch count).
    QuerySpec("q375_stats_skipping", (s, d) => {
      val path = tmp("graft_statstore_", d)
      buildStatsStore(s, d, path)
      // events.ts arrives as LONG NANOS (the nanosAsLong session
      // flag — see Tables.t), so the stat column is a plain long and
      // the bounds are epoch nanos
      val lo = 1705017600000000000L // 2024-01-12T00:00:00Z
      val hi = 1705622399999999999L // 2024-01-18T23:59:59.999…Z
      val nB = StatsStore.rangeBatches(s, path, "ts", lo, hi)
        .size.toLong
      StatsStore.readRange(s, path, "ts", lo, hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(nB).as("n_batches_read"),
          lit(5L).as("n_batches_total")))
    },
      """WITH m AS (SELECT max(event_id) // 5 + 1 AS per FROM events),
        |r AS (SELECT * FROM events
        | WHERE epoch_ns(ts) BETWEEN 1705017600000000000
        |   AND 1705622399999999999),
        |nb AS (SELECT count(*) AS n FROM (
        |  SELECT event_id // (SELECT per FROM m) AS b,
        |    min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
        |  FROM events GROUP BY 1)
        | WHERE mx >= 1705017600000000000
        |   AND mn <= 1705622399999999999)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  (SELECT n FROM nb)::BIGINT AS n_batches_read,
        |  CAST(5 AS BIGINT) AS n_batches_total
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // STREAMING STATS INGEST — the streaming-lakehouse ingest shape:
    // micro-batches land as stats-ledgered ingest batches via the
    // foreachBatch sink's core; batch 1 is REDELIVERED mid-sequence
    // (with a poisoned payload that would corrupt the store if it
    // landed — the short-circuit proof), and the final store answers
    // the q375 range scan identically: same oracle, same skipping.
    QuerySpec("q383_stats_stream", (s, d) => {
      val path = tmp("graft_statstrm_", d)
      rmDir(s, path)
      val ev = t(s, d, "events")
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val per = maxId / 5 + 1
      import graft.streaming.StreamingStats.processStatsBatch
      (0L to 4L).foreach { i =>
        processStatsBatch(ev.filter(expr(s"event_id div $per") === i),
          i, path, "event_id", 8, Seq("ts"))
        if (i == 2L) // redeliver a landed id with a poisoned payload
          processStatsBatch(
            ev.filter(expr(s"event_id div $per") === 1L)
              .withColumn("event_type", lit("POISON")),
            1L, path, "event_id", 8, Seq("ts"))
      }
      val lo = 1705017600000000000L
      val hi = 1705622399999999999L
      val nB = StatsStore.rangeBatches(s, path, "ts", lo, hi)
        .size.toLong
      StatsStore.readRange(s, path, "ts", lo, hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(nB).as("n_batches_read"),
          lit(5L).as("n_batches_total")))
    },
      """WITH m AS (SELECT max(event_id) // 5 + 1 AS per FROM events),
        |r AS (SELECT * FROM events
        | WHERE epoch_ns(ts) BETWEEN 1705017600000000000
        |   AND 1705622399999999999),
        |nb AS (SELECT count(*) AS n FROM (
        |  SELECT event_id // (SELECT per FROM m) AS b,
        |    min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
        |  FROM events GROUP BY 1)
        | WHERE mx >= 1705017600000000000
        |   AND mn <= 1705622399999999999)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  (SELECT n FROM nb)::BIGINT AS n_batches_read,
        |  CAST(5 AS BIGINT) AS n_batches_total
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // COMPACTION (OPTIMIZE) on the stats store: the first three ingest
    // batches bin-pack into ONE fresh batch (stats re-merged from the
    // ledger — min of mins, max of maxes — no data re-scan), published
    // by the atomic _stats swap; superseded dirs GC as orphans. The
    // store is lossless across it (full read == all events) and a
    // late-January range still skips: it opens the two uncompacted
    // tail batches, never the merged head.
    QuerySpec("q380_stats_compact", (s, d) => {
      val path = tmp("graft_statcmp_", d)
      buildStatsStore(s, d, path)
      val into = StatsStore.compactBatches(s, path, "event_id",
        Seq(0L, 1L, 2L))
      val nLive = StatsStore.readStore(s, path)
        .select(col("batch")).distinct().count()
      val total = StatsStore.readStore(s, path).count()
      val lo = 1705708800000000000L // 2024-01-20T00:00:00Z, ns
      val hi = 1706313599999999999L // 2024-01-26T23:59:59.999…Z
      val nB = StatsStore.rangeBatches(s, path, "ts", lo, hi)
        .size.toLong
      StatsStore.readRange(s, path, "ts", lo, hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(into).as("compacted_into"),
          lit(nLive).as("n_batches_live"),
          lit(total).as("total_rows"),
          lit(nB).as("n_batches_read")))
    },
      """WITH m AS (SELECT max(event_id) // 5 + 1 AS per FROM events),
        |nb AS (SELECT count(*) AS n FROM (
        |  SELECT CASE WHEN event_id // (SELECT per FROM m) <= 2 THEN -1
        |              ELSE event_id // (SELECT per FROM m) END AS b,
        |    min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
        |  FROM events GROUP BY 1)
        | WHERE mx >= 1705708800000000000
        |   AND mn <= 1706313599999999999),
        |r AS (SELECT * FROM events
        | WHERE epoch_ns(ts) BETWEEN 1705708800000000000
        |   AND 1706313599999999999)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  CAST(-1 AS BIGINT) AS compacted_into,
        |  CAST(3 AS BIGINT) AS n_batches_live,
        |  (SELECT count(*) FROM events)::BIGINT AS total_rows,
        |  (SELECT n FROM nb)::BIGINT AS n_batches_read
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // VALUE-RANGE RETENTION (TTL): batches whose ledgered ts maximum
    // falls below the cutoff expire as a METADATA decision — one
    // _stats scan, an atomic swap, dirs GC'd as orphans; no data is
    // read to decide. File-grain TTL semantics: a surviving batch
    // keeps ALL its rows (even ones below the cutoff) — the oracle
    // derives survivorship from the batch definitions, not a row
    // filter.
    QuerySpec("q381_stats_expire", (s, d) => {
      val path = tmp("graft_statexp_", d)
      buildStatsStore(s, d, path)
      val cutoff = 1705276800000000000L // 2024-01-15T00:00:00Z, ns
      val expired = StatsStore.expireBatches(s, path, "ts", cutoff)
      StatsStore.readStore(s, path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(expired.size.toLong).as("n_expired")))
    },
      """WITH m AS (SELECT max(event_id) // 5 + 1 AS per FROM events),
        |bx AS (SELECT event_id // (SELECT per FROM m) AS b,
        |    max(epoch_ns(ts)) AS mx
        |  FROM events GROUP BY 1),
        |r AS (SELECT * FROM events
        | WHERE event_id // (SELECT per FROM m) IN
        |   (SELECT b FROM bx WHERE mx >= 1705276800000000000))
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  (SELECT count(*) FROM bx
        |   WHERE mx < 1705276800000000000)::BIGINT AS n_expired
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // INCREMENTAL RETOKENIZATION off the change feed — the derived
    // FEATURE table pattern: a per-doc token-count store subscribes
    // to the versioned corpus; each version step retokenizes ONLY the
    // diff's changed/added docs (text edits in v1, inserts in v2) and
    // applies removals as deletes through the pruned merge. Compute ∝
    // churn: the per-step retokenization counts ride inside the hash
    // against the oracle's batch-derived counts, and the final
    // derived table equals a from-scratch tokenization of the head.
    QuerySpec("q382_incr_retokenize", (s, d) => {
      val path = tmp("graft_rtk_", d)
      val derived = tmp("graft_rtkd_", d)
      rmDir(s, path); rmDir(s, derived)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
        commitTs = 100L)
      val w1 = base.filter(col("doc_id") % 16 === 3)
        .select(col("doc_id"), lit("U").as("op"),
          concat(col("text"), lit(" extra pad")).as("text"),
          col("lang"), lit("m1").as("source"),
          (length(col("text")) + 10L).cast("long").as("n_chars"))
      Lakehouse.mergeVersioned(s, path, 1L, w1, "doc_id", 16,
        commitTs = 200L)
      val w2d = base.filter(col("doc_id") % 16 === 5 &&
          col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val w2i = base.filter(col("doc_id") % 16 === 5 &&
          col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 2L, w2d.unionByName(w2i),
        "doc_id", 16, commitTs = 300L)
      def tok(c: org.apache.spark.sql.Column) =
        size(split(c, " ")).cast("long")
      Lakehouse.writeStore(
        Lakehouse.readVersioned(s, path, 0L)
          .select(col("doc_id"), tok(col("text")).as("n_tok")),
        "doc_id", derived, buckets = 16)
      val stepCounts = Seq((0L, 1L), (1L, 2L)).map { case (a, b) =>
        val cdf = Lakehouse.diffVersionsFull(s, path, a, b, "doc_id")
          .localCheckpoint(true)
        val mb = cdf.select(col("doc_id"),
          when(col("change") === "removed", lit("D"))
            .otherwise(lit("U")).as("op"),
          tok(col("text")).as("n_tok"))
        Lakehouse.mergeInto(s, derived, mb, "doc_id", 16)
        cdf.filter(col("change") =!= "removed").count()
      }
      s.read.parquet(derived)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("sum_tok"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("doc_id"),
              concat_ws(":", col("doc_id"), col("n_tok")).as("s")))),
            x => x.getField("s")), "\n")).as("rows_md5"))
        .crossJoin(s.range(1).select(
          lit(stepCounts.head).as("retok_1"),
          lit(stepCounts(1)).as("retok_2")))
    },
      """WITH fin AS (
        |  SELECT doc_id, CASE WHEN doc_id % 16 = 3
        |    THEN text || ' extra pad' ELSE text END AS text
        |  FROM documents WHERE NOT (doc_id % 16 = 5 AND doc_id % 7 = 3)
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents
        |  WHERE doc_id % 16 = 5 AND doc_id % 11 = 0),
        |tk AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM fin)
        |SELECT count(*)::BIGINT AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_tok AS VARCHAR), chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT count(*) FROM documents
        |   WHERE doc_id % 16 = 3)::BIGINT AS retok_1,
        |  (SELECT count(*) FROM documents
        |   WHERE doc_id % 16 = 5 AND doc_id % 11 = 0)::BIGINT
        |    AS retok_2
        |FROM tk""".stripMargin, writes = true),
    // CURATION-AS-BRANCH (stage -> audit -> promote): a curation
    // policy (drop docs with n_chars % 9 == 0 — stand-in for any
    // quality gate) runs on a BRANCH of the corpus, the cross-store
    // diff AUDITS exactly what it would remove (all 'removed', zero
    // collateral 'changed'/'added' — pinned), and only then does the
    // merge-back PROMOTE it to the base as one commit. The data-eng
    // workflow zero-copy branching exists for: the base serves
    // unchanged until the promote, and the audit reads only moved
    // buckets.
    QuerySpec("q384_branch_promote", (s, d) => {
      val src = tmp("graft_bpsrc_", d)
      val br = tmp("graft_bpbr_", d)
      rmDir(s, src); rmDir(s, br)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", src, buckets = 16,
        commitTs = 100L)
      Lakehouse.mergeVersioned(s, src, 1L, v1Batch(base), "doc_id", 16,
        commitTs = 200L)
      val fork = Lakehouse.branchVersioned(s, src, br)
      val policy = base.filter(col("n_chars") % 9 === 0)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, br, 2L, policy, "doc_id", 16,
        commitTs = 300L)
      val audit = Lakehouse.diffStores(s, src, 1L, br, 2L, "doc_id")
        .groupBy(col("change")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nPtr = Lakehouse.mergeBranch(s, src, br, forkVersion = fork,
        asVersion = 2L, commitTs = 400L)
      Lakehouse.storeManifest(Lakehouse.readVersioned(s, src, 2L),
          "doc_id")
        .crossJoin(s.range(1).select(
          lit(audit.getOrElse("removed", 0L)).as("audit_removed"),
          lit(audit.getOrElse("changed", 0L) +
            audit.getOrElse("added", 0L)).as("audit_collateral"),
          lit(nPtr).as("merged_pointers")))
    },
      """WITH v1 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |kept AS (SELECT * FROM v1 WHERE n_chars % 9 <> 0)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT count(*) FROM v1 WHERE n_chars % 9 = 0)::BIGINT
        |    AS audit_removed,
        |  CAST(0 AS BIGINT) AS audit_collateral,
        |  (SELECT count(DISTINCT doc_id % 16) FROM v1
        |   WHERE n_chars % 9 = 0)::BIGINT AS merged_pointers
        |FROM kept GROUP BY doc_id % 16""".stripMargin, writes = true),
    // BRANCH REBASE — the long-lived-branch story: after a
    // merge-back promotes round-1 edits (bucket 3 -> 'br1'), the OLD
    // fork floor sees the base's new commit as a conflict on the very
    // bucket the branch itself contributed (conflicts_stale = 1, the
    // spurious-conflict evidence); rebaseBranch re-points the branch
    // to the base head (manifest-only — the fresh-fork equivalent,
    // in place), after which round-2 edits ON THE SAME BUCKET merge
    // back clean (conflicts_fresh = 0). Oracle = the final base
    // state from the two edit rounds alone.
    QuerySpec("q390_branch_rebase", (s, d) => {
      val src = tmp("graft_rbsrc_", d)
      val br = tmp("graft_rbbr_", d)
      rmDir(s, src); rmDir(s, br)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", src, buckets = 16,
        commitTs = 100L)
      val fork1 = Lakehouse.branchVersioned(s, src, br)
      val r1 = base.filter(col("doc_id") % 16 === 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("br1").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, br, 1L, r1, "doc_id", 16,
        commitTs = 200L)
      val m1 = Lakehouse.mergeBranch(s, src, br, forkVersion = fork1,
        asVersion = 1L, commitTs = 300L)
      val confStale = Lakehouse.branchConflicts(s, src, br, fork1)
        .size.toLong
      val fork2 = Lakehouse.rebaseBranch(s, br, src)
      val confFresh = Lakehouse.branchConflicts(s, src, br, fork2)
        .size.toLong
      // round 2 touches the SAME bucket the promote just moved — the
      // exact shape the stale floor refuses
      val r2d = base.filter(col("doc_id") % 16 === 3 &&
          col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val r2u = base.filter(col("doc_id") % 16 === 3 &&
          col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("br2").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, br, 2L, r2d.unionByName(r2u),
        "doc_id", 16, commitTs = 400L)
      val m2 = Lakehouse.mergeBranch(s, src, br, forkVersion = fork2,
        asVersion = 2L, commitTs = 500L)
      Lakehouse.storeManifest(Lakehouse.readVersioned(s, src, 2L),
          "doc_id")
        .crossJoin(s.range(1).select(
          lit(m1).as("merged_1"), lit(m2).as("merged_2"),
          lit(confStale).as("conflicts_stale"),
          lit(confFresh).as("conflicts_fresh"),
          lit(fork2).as("refork_version")))
    },
      """WITH fin AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 16 = 3 THEN 'br2' ELSE source END
        |      AS source, n_chars
        |  FROM documents
        |  WHERE NOT (doc_id % 16 = 3 AND doc_id % 7 = 3))
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(1 AS BIGINT) AS merged_1, CAST(1 AS BIGINT) AS merged_2,
        |  CAST(1 AS BIGINT) AS conflicts_stale,
        |  CAST(0 AS BIGINT) AS conflicts_fresh,
        |  CAST(1 AS BIGINT) AS refork_version
        |FROM fin GROUP BY doc_id % 16""".stripMargin, writes = true),
    // OPTIMIZE on the versioned store — the compact + checkpoint +
    // vacuum triple: two narrow waves leave the head scattered over
    // THREE vdirs (14 buckets on v0, one each on v1/v2);
    // compactVersioned rewrites the resolved head as one commit, and
    // the floor-3 vacuum then deletes all three old dirs (retaining
    // exactly the compacted one) — dirs_deleted/dirs_retained ride in
    // the hash as the evidence, and the state is lossless across the
    // whole cycle (oracle = the two waves applied directly).
    QuerySpec("q391_versioned_optimize", (s, d) => {
      val path = tmp("graft_vopt_", d)
      rmDir(s, path)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
        commitTs = 100L)
      val w1 = base.filter(col("doc_id") % 16 === 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 1L, w1, "doc_id", 16,
        commitTs = 200L)
      val w2 = base.filter(col("doc_id") % 16 === 5)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m2").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 2L, w2, "doc_id", 16,
        commitTs = 300L)
      val nPtr = Lakehouse.compactVersioned(s, path, 3L, "doc_id",
        commitTs = 400L)
      val (del, kept) = Lakehouse.vacuumVersions(s, path, floor = 3L)
      Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, 3L),
          "doc_id")
        .crossJoin(s.range(1).select(
          lit(nPtr).as("compacted_pointers"),
          lit(del).as("dirs_deleted"),
          lit(kept).as("dirs_retained")))
    },
      """WITH fin AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 16 = 3 THEN 'm1'
        |         WHEN doc_id % 16 = 5 THEN 'm2'
        |         ELSE source END AS source, n_chars
        |  FROM documents)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(16 AS BIGINT) AS compacted_pointers,
        |  CAST(3 AS BIGINT) AS dirs_deleted,
        |  CAST(1 AS BIGINT) AS dirs_retained
        |FROM fin GROUP BY doc_id % 16""".stripMargin, writes = true),
    // BRANCH-AWARE VACUUM — the shallow-clone hazard closed: the
    // base's retention pass retains every dir a branch's pre-fork
    // pointers still resolve to (safe pass deletes nothing here:
    // 0/3), and the SAME floor through the PLAIN clone-blind vacuum
    // deletes the pre-fork dirs (2/1) — proving the branch
    // references were the only thing retaining them. The branch is
    // read (and pinned) between the two passes; the base head
    // survives both. (The safe variant now discovers clones through
    // the _clones registry on its own — q394 drills the transitive
    // case — so the hazard half of this contrast needs the plain
    // vacuum, the one that stays clone-blind by contract.)
    QuerySpec("q385_vacuum_branch_safe", (s, d) => {
      val src = tmp("graft_vbsrc_", d)
      val br = tmp("graft_vbbr_", d)
      rmDir(s, src); rmDir(s, br)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", src, buckets = 16,
        commitTs = 100L)
      Lakehouse.mergeVersioned(s, src, 1L, v1Batch(base), "doc_id", 16,
        commitTs = 200L)
      Lakehouse.branchVersioned(s, src, br)
      Lakehouse.mergeVersioned(s, br, 2L, v2Batch(base), "doc_id", 16,
        commitTs = 300L)
      // base rewrites EVERY bucket, so its floor-2 view needs only v2
      val allEdit = base.select(col("doc_id"), lit("U").as("op"),
        col("text"), col("lang"), lit("m3").as("source"),
        col("n_chars"))
      Lakehouse.mergeVersioned(s, src, 2L, allEdit, "doc_id", 16,
        commitTs = 300L)
      val (sDel, sKeep) =
        Lakehouse.vacuumVersionsSafe(s, src, floor = 2L, Seq(br))
      // materialize BEFORE the unsafe pass deletes the dirs this
      // view resolves to (frames are lazy; the union would otherwise
      // read after the delete)
      val brView = Lakehouse.storeManifest(
          Lakehouse.readVersioned(s, br, 2L), "doc_id")
        .withColumn("view", lit("branch_v2"))
        .localCheckpoint(true)
      val (uDel, uKeep) =
        Lakehouse.vacuumVersions(s, src, floor = 2L)
      val baseView = Lakehouse.storeManifest(
          Lakehouse.readVersioned(s, src, 2L), "doc_id")
        .withColumn("view", lit("base_v2"))
      brView.unionByName(baseView)
        .crossJoin(s.range(1).select(
          lit(sDel).as("safe_deleted"), lit(sKeep).as("safe_retained"),
          lit(uDel).as("unsafe_deleted"),
          lit(uKeep).as("unsafe_retained")))
    },
      """WITH v1 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |brv2 AS (SELECT doc_id, text, lang, source, n_chars FROM v1
        | WHERE doc_id % 7 <> 3
        | UNION ALL SELECT doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |basev2 AS (SELECT doc_id, text, lang, 'm3' AS source, n_chars
        | FROM documents),
        |al AS (SELECT 'branch_v2' AS view, * FROM brv2
        |  UNION ALL SELECT 'base_v2', * FROM basev2)
        |SELECT view, CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(0 AS BIGINT) AS safe_deleted,
        |  CAST(3 AS BIGINT) AS safe_retained,
        |  CAST(2 AS BIGINT) AS unsafe_deleted,
        |  CAST(1 AS BIGINT) AS unsafe_retained
        |FROM al GROUP BY view, doc_id % 16""".stripMargin, writes = true),
    // BITEMPORAL (as-of) JOIN against the versioned dimension: every
    // probe row joins the dimension state AS OF its own timestamp —
    // probes at ts 50 predate history (null payload), 150 hits v0,
    // 250 hits v1 (the 'm1' updates), 350 hits v2 (where the %7=3
    // deletes are already gone: null payload again). The commit
    // timeline broadcasts (metadata-sized) and each stamped version
    // reads bucket-pruned to its own probes' keys.
    QuerySpec("q386_asof_join_versioned", (s, d) => {
      val path = tmp("graft_asofv_", d)
      buildVersioned(s, d, path)
      val probes = docs(s, d).select(col("doc_id"),
        (lit(50L) + (col("doc_id") % 4) * 100L).as("pts"))
      Lakehouse.asOfJoinVersioned(s, probes, "pts", path, "doc_id", 16)
        .select(col("doc_id"), col("pts"), col("source"),
          col("n_chars"))
    },
      """SELECT doc_id,
        |  CAST(50 + (doc_id % 4) * 100 AS BIGINT) AS pts,
        |  CASE WHEN doc_id % 4 = 0 THEN NULL
        |       WHEN doc_id % 4 = 1 THEN source
        |       WHEN doc_id % 4 = 2 THEN
        |         CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END
        |       ELSE CASE WHEN doc_id % 7 = 3 THEN NULL
        |            WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END
        |  END AS source,
        |  CASE WHEN doc_id % 4 = 0
        |         OR (doc_id % 4 = 3 AND doc_id % 7 = 3) THEN NULL
        |       ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin, writes = true),
    // MULTI-PREDICATE stats skipping: the conjunction of a ts range
    // (hits batches 1-2) and an event_id range (hits batches 0-1)
    // opens only their INTERSECTION (batch 1) — two arrival-
    // correlated columns prune harder than either alone, and the
    // batch count read rides inside the hash against the oracle's
    // per-batch min/max derivation of BOTH columns.
    QuerySpec("q387_stats_range_multi", (s, d) => {
      val path = tmp("graft_statmulti_", d)
      buildStatsStore(s, d, path)
      val ev = t(s, d, "events")
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val per = maxId / 5 + 1
      val lo = 1705017600000000000L // 2024-01-12T00:00:00Z, ns
      val hi = 1705622399999999999L
      val idHi = 2L * per - 1L
      val preds = Seq(("ts", lo, hi), ("event_id", 0L, idHi))
      val nB = preds.map { case (c, l, h) =>
        StatsStore.rangeBatches(s, path, c, l, h).toSet
      }.reduce(_ intersect _).size.toLong
      StatsStore.readRangeMulti(s, path, preds)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(nB).as("n_batches_read"),
          lit(5L).as("n_batches_total")))
    },
      """WITH m AS (SELECT max(event_id) // 5 + 1 AS per FROM events),
        |bx AS (SELECT event_id // (SELECT per FROM m) AS b,
        |    min(epoch_ns(ts)) AS mnt, max(epoch_ns(ts)) AS mxt,
        |    min(event_id) AS mni, max(event_id) AS mxi
        |  FROM events GROUP BY 1),
        |nb AS (SELECT count(*) AS n FROM bx
        | WHERE mxt >= 1705017600000000000
        |   AND mnt <= 1705622399999999999
        |   AND mxi >= 0 AND mni <= 2 * (SELECT per FROM m) - 1),
        |r AS (SELECT * FROM events
        | WHERE epoch_ns(ts) BETWEEN 1705017600000000000
        |   AND 1705622399999999999
        |   AND event_id BETWEEN 0 AND 2 * (SELECT per FROM m) - 1)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  (SELECT n FROM nb)::BIGINT AS n_batches_read,
        |  CAST(5 AS BIGINT) AS n_batches_total
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // STATS SKIPPING ON THE VERSIONED STORE — per-(vdir, bucket)
    // min/max recorded at commit time, consulted through pointer
    // resolution: the store's key carries the week index in its
    // bucket bits (k = event_id·8 + week — the tkey discipline, the
    // only layout where bucket stats are non-vacuous on time), v0
    // lands weeks 0-2, v1 merges weeks 3-4 (a bucket-sparse commit,
    // as time-ordered arrival always is). A week-3 range at the HEAD
    // resolves 5 dirs but OPENS 1 (v1/bucket=3); the same range
    // TIME-TRAVELED to v0 opens 0 — value-range pruning composed
    // with time travel, both counts inside the hash against the
    // oracle's per-week min/max derivation.
    QuerySpec("q389_vrange_skipping", (s, d) => {
      val path = tmp("graft_vrs_", d)
      buildWeekKeyedStore(s, d, path)
      val lo = Jan1Ns + 3L * WeekNs        // week 3 start
      val hi = Jan1Ns + 4L * WeekNs - 1L   // week 3 end (inclusive)
      val nHead = Lakehouse.versionedRangeDirs(s, path, 1L, "ts",
        lo, hi).size.toLong
      val nV0 = Lakehouse.versionedRangeDirs(s, path, 0L, "ts",
        lo, hi).size.toLong
      Lakehouse.readVersionedRange(s, path, 1L, "ts", lo, hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(nHead).as("n_dirs_read"),
          lit(nV0).as("n_dirs_v0")))
    },
      """WITH e AS (SELECT *, least(4, greatest(0,
        |    (epoch_ns(ts) - 1704067200000000000)
        |      // 604800000000000)) AS wk
        |  FROM events),
        |nb AS (SELECT count(*) AS n FROM (
        |  SELECT wk, min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
        |  FROM e GROUP BY wk)
        | WHERE mx >= 1705881600000000000
        |   AND mn <= 1706486399999999999),
        |nb0 AS (SELECT count(*) AS n FROM (
        |  SELECT wk, min(epoch_ns(ts)) AS mn, max(epoch_ns(ts)) AS mx
        |  FROM e WHERE wk <= 2 GROUP BY wk)
        | WHERE mx >= 1705881600000000000
        |   AND mn <= 1706486399999999999),
        |r AS (SELECT * FROM e WHERE epoch_ns(ts)
        |  BETWEEN 1705881600000000000 AND 1706486399999999999)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  (SELECT n FROM nb)::BIGINT AS n_dirs_read,
        |  (SELECT n FROM nb0)::BIGINT AS n_dirs_v0
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // MULTI-PREDICATE range skipping on the VERSIONED store — q387's
    // conjunction mechanic composed with pointer resolution: a ts
    // range spanning weeks 2-3 admits two dirs, an event_id cap at
    // 55% of the id space admits weeks 0-2 (arrival order makes id
    // ranges week-bands too), and the conjunction opens only their
    // INTERSECTION (week 2's dir) — n_dirs for both single predicates
    // and the conjunction all ride inside the hash against the
    // oracle's per-week min/max derivation of BOTH columns.
    QuerySpec("q392_vrange_multi", (s, d) => {
      val path = tmp("graft_vrm_", d)
      buildWeekKeyedStore(s, d, path)
      val tsLo = Jan1Ns + 2L * WeekNs
      val tsHi = Jan1Ns + 4L * WeekNs - 1L
      val idHi = t(s, d, "events").agg(max(col("event_id")))
        .head().getLong(0) * 11L / 20L
      val nTs = Lakehouse.versionedRangeDirs(s, path, 1L, "ts",
        tsLo, tsHi).size.toLong
      val nId = Lakehouse.versionedRangeDirs(s, path, 1L, "event_id",
        0L, idHi).size.toLong
      val preds = Seq(("ts", tsLo, tsHi), ("event_id", 0L, idHi))
      val nBoth = preds.map { case (c, l, h) =>
        Lakehouse.versionedRangeDirs(s, path, 1L, c, l, h).toSet
      }.reduce(_ intersect _).size.toLong
      Lakehouse.readVersionedRangeMulti(s, path, 1L, preds)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(nTs).as("n_dirs_ts"), lit(nId).as("n_dirs_id"),
          lit(nBoth).as("n_dirs_both")))
    },
      """WITH e AS (SELECT *, least(4, greatest(0,
        |    (epoch_ns(ts) - 1704067200000000000)
        |      // 604800000000000)) AS wk
        |  FROM events),
        |ih AS (SELECT max(event_id) * 11 // 20 AS v FROM events),
        |st AS (SELECT wk, min(epoch_ns(ts)) AS tmn,
        |    max(epoch_ns(ts)) AS tmx, min(event_id) AS imn,
        |    max(event_id) AS imx
        |  FROM e GROUP BY wk),
        |nt AS (SELECT count(*) AS n FROM st
        | WHERE tmx >= 1705276800000000000
        |   AND tmn <= 1706486399999999999),
        |ni AS (SELECT count(*) AS n FROM st
        | WHERE imx >= 0 AND imn <= (SELECT v FROM ih)),
        |nb AS (SELECT count(*) AS n FROM st
        | WHERE tmx >= 1705276800000000000
        |   AND tmn <= 1706486399999999999
        |   AND imx >= 0 AND imn <= (SELECT v FROM ih)),
        |r AS (SELECT * FROM e
        | WHERE epoch_ns(ts) BETWEEN 1705276800000000000
        |   AND 1706486399999999999
        |   AND event_id BETWEEN 0 AND (SELECT v FROM ih))
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  (SELECT n FROM nt)::BIGINT AS n_dirs_ts,
        |  (SELECT n FROM ni)::BIGINT AS n_dirs_id,
        |  (SELECT n FROM nb)::BIGINT AS n_dirs_both
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // TRANSITIVE-CLONE VACUUM — the grandchild hazard closed: gc
    // forks from br BEFORE br's all-bucket rewrite + manifest
    // checkpoint, so br's collapsed manifest no longer lists the
    // base v0 dirs gc's copied manifest still resolves to — exactly
    // the caveat level-by-level discovery cannot see. The safe
    // vacuum, given NO explicit branches, walks the _clones registry
    // transitively (src -> br -> gc: closure 2 vs direct 1, both in
    // the hash), collects gc's needs from gc's OWN manifest, and
    // retains src/v0 while reclaiming src/v1 (nothing references it
    // — needs are owner-resolved, so gc's pointer at br's
    // same-NUMBERED v1 does not spuriously retain the base's v1).
    // The gc head read AFTER the vacuum is the retention proof.
    QuerySpec("q394_vacuum_transitive", (s, d) => {
      val src = tmp("graft_vtsrc_", d)
      val br = tmp("graft_vtbr_", d)
      val gc = tmp("graft_vtgc_", d)
      rmDir(s, src); rmDir(s, br); rmDir(s, gc)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", src, buckets = 16,
        commitTs = 100L)
      Lakehouse.branchVersioned(s, src, br)
      val brEdit = base.filter(col("doc_id") % 16 === 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("g1").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, br, 1L, brEdit, "doc_id", 16,
        commitTs = 150L)
      Lakehouse.branchVersioned(s, br, gc) // gc forks at br head 1
      // br rewrites EVERY bucket and checkpoints: its manifest now
      // references ONLY its own v2 — the v0 rows gc needs are gone
      val brAll = base.select(col("doc_id"), lit("U").as("op"),
        col("text"), col("lang"), lit("brx").as("source"),
        col("n_chars"))
      Lakehouse.mergeVersioned(s, br, 2L, brAll, "doc_id", 16,
        commitTs = 160L)
      Lakehouse.checkpointManifest(s, br, floor = 2L)
      // the base advances independently: two full rewrite waves
      def wave(srcName: String) = base.select(col("doc_id"),
        lit("U").as("op"), col("text"), col("lang"),
        lit(srcName).as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, src, 1L, wave("m3"), "doc_id", 16,
        commitTs = 200L)
      Lakehouse.mergeVersioned(s, src, 2L, wave("m4"), "doc_id", 16,
        commitTs = 300L)
      val nDirect = Lakehouse.liveClones(s, src).size.toLong
      val nClosure = Lakehouse.cloneClosure(s, src).size.toLong
      val (del, kept) =
        Lakehouse.vacuumVersionsSafe(s, src, floor = 2L)
      Lakehouse.storeManifest(Lakehouse.readVersioned(s, gc, 1L),
          "doc_id")
        .crossJoin(s.range(1).select(
          lit(nDirect).as("n_clones_direct"),
          lit(nClosure).as("n_clones_closure"),
          lit(del).as("dirs_deleted"),
          lit(kept).as("dirs_retained")))
    },
      """WITH fin AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 16 = 3 THEN 'g1' ELSE source END
        |    AS source, n_chars FROM documents)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(1 AS BIGINT) AS n_clones_direct,
        |  CAST(2 AS BIGINT) AS n_clones_closure,
        |  CAST(1 AS BIGINT) AS dirs_deleted,
        |  CAST(2 AS BIGINT) AS dirs_retained
        |FROM fin GROUP BY doc_id % 16""".stripMargin, writes = true),
    // ROWGROUP-GRAIN RANGE SCAN on a MOD-KEYED store — the layout
    // where dir-grain stats are honest about their limit: event_id
    // mod 8 anti-clusters ts, so every bucket spans the whole
    // timeline and versionedRangeDirs admits ALL 8 dirs
    // (n_dirs_admitted == n_dirs_total in the hash — dir stats prune
    // nothing here, by design, not by bug). The write path's
    // stat-first clustering (rows sorted by ts within each bucket
    // file) is what makes the scan cheap anyway: parquet rowgroup
    // min/max turn the pushed ts predicate into within-file skips —
    // the physical pin (measured recordsRead, with an unclustered
    // negative control) lives in LakehouseSpec.
    QuerySpec("q395_rowgroup_range", (s, d) => {
      val path = tmp("graft_rg_", d)
      rmDir(s, path)
      Lakehouse.writeVersioned(t(s, d, "events"), "event_id", path,
        buckets = 8, commitTs = 100L, statCols = Seq("ts"))
      val lo = 1705017600000000000L // 2024-01-12T00:00:00Z, ns
      val hi = 1705622399999999999L // 2024-01-18T23:59:59.999…Z
      val nDirs = Lakehouse.versionedRangeDirs(s, path, 0L, "ts",
        lo, hi).size.toLong
      Lakehouse.readVersionedRange(s, path, 0L, "ts", lo, hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(transform(
            sort_array(collect_list(col("event_id"))),
            x => x.cast("string")), ",")).as("ids_md5"))
        .crossJoin(s.range(1).select(
          lit(nDirs).as("n_dirs_admitted"),
          lit(8L).as("n_dirs_total")))
    },
      """WITH r AS (SELECT * FROM events
        | WHERE epoch_ns(ts) BETWEEN 1705017600000000000
        |   AND 1705622399999999999)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY event_id)) AS ids_md5,
        |  CAST(8 AS BIGINT) AS n_dirs_admitted,
        |  CAST(8 AS BIGINT) AS n_dirs_total
        |FROM r GROUP BY event_type""".stripMargin, writes = true),
    // BLOOM-INDEX POINT LOOKUP on a NON-key column — the membership
    // complement of range skipping: the store buckets by user_id, so
    // key-bucket pruning cannot serve "fetch these event_ids", and a
    // high-cardinality id probed by identity defeats min/max stats
    // (every dir's range spans it). One bloom per resolved (vdir,
    // bucket) dir admits exactly the dirs that can hold a probed id;
    // n_dirs_admitted rides in the hash against the oracle's EXACT
    // containing-dir count — at fpp 1e-6 the bloom admits no
    // spurious dir here, and the equality is itself the
    // false-positive evidence.
    QuerySpec("q396_bloom_lookup", (s, d) => {
      val path = tmp("graft_bloom_", d)
      rmDir(s, path)
      val ev = t(s, d, "events")
      Lakehouse.writeVersioned(ev, "user_id", path, buckets = 16,
        commitTs = 100L)
      // a second commit so the index spans a multi-vdir resolution:
      // users %7=3 re-land (idempotent rewrite — state unchanged,
      // pointers move)
      Lakehouse.mergeVersioned(s, path, 1L,
        ev.filter(col("user_id") % 7 === 3)
          .withColumn("op", lit("U")), "user_id", 16, commitTs = 200L)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val probes = Seq(maxId / 7, maxId / 3, maxId / 2, maxId - 1L)
        .distinct
      Lakehouse.buildBloomIndex(s, path, 1L, "event_id",
        expectedItems = ev.count() / 16L + 1L)
      val nDirs = Lakehouse.versionedBloomDirs(s, path, 1L,
        "event_id", probes).size.toLong
      Lakehouse.lookupVersionedByCol(s, path, 1L, "event_id", probes)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .crossJoin(s.range(1).select(
          lit(nDirs).as("n_dirs_admitted"),
          lit(16L).as("n_dirs_total")))
    },
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |p AS (SELECT DISTINCT v FROM (VALUES
        |  ((SELECT mx FROM m) // 7), ((SELECT mx FROM m) // 3),
        |  ((SELECT mx FROM m) // 2), ((SELECT mx FROM m) - 1)) t(v)),
        |r AS (SELECT event_id, user_id, event_type FROM events
        | WHERE event_id IN (SELECT v FROM p)),
        |nd AS (SELECT count(DISTINCT user_id % 16) AS n FROM r)
        |SELECT event_id, user_id, event_type,
        |  (SELECT n FROM nd)::BIGINT AS n_dirs_admitted,
        |  CAST(16 AS BIGINT) AS n_dirs_total
        |FROM r""".stripMargin, writes = true),
    // INCREMENTAL BLOOM MAINTENANCE — the sustain path q396's index
    // needs at scale: after a commit, extendBloomIndex builds blooms
    // for ONLY the fresh dirs (blooms_added == the commit's touched
    // buckets, in the hash) and appends; a second extend adds ZERO
    // (idempotent — also in the hash). Per-commit index cost is the
    // commit's own dirs, like _vstats — never a full-store rebuild.
    // The lookup then serves across mixed-age dirs: v0 blooms from
    // the bootstrap build, v1 blooms from the extension.
    QuerySpec("q397_bloom_incremental", (s, d) => {
      val path = tmp("graft_bloomi_", d)
      rmDir(s, path)
      val ev = t(s, d, "events")
      Lakehouse.writeVersioned(ev, "user_id", path, buckets = 16,
        commitTs = 100L)
      val per = ev.count() / 16L + 1L
      val built = Lakehouse.buildBloomIndex(s, path, 0L, "event_id",
        expectedItems = per)
      Lakehouse.mergeVersioned(s, path, 1L,
        ev.filter(col("user_id") % 7 === 3)
          .withColumn("op", lit("U")), "user_id", 16, commitTs = 200L)
      val added = Lakehouse.extendBloomIndex(s, path, 1L, "event_id",
        expectedItems = per)
      val readded = Lakehouse.extendBloomIndex(s, path, 1L,
        "event_id", expectedItems = per)
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val probes = Seq(maxId / 7, maxId / 3, maxId / 2, maxId - 1L)
        .distinct
      val nDirs = Lakehouse.versionedBloomDirs(s, path, 1L,
        "event_id", probes).size.toLong
      Lakehouse.lookupVersionedByCol(s, path, 1L, "event_id", probes)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .crossJoin(s.range(1).select(
          lit(built).as("blooms_built"),
          lit(added).as("blooms_added"),
          lit(readded).as("blooms_readded"),
          lit(nDirs).as("n_dirs_admitted")))
    },
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |p AS (SELECT DISTINCT v FROM (VALUES
        |  ((SELECT mx FROM m) // 7), ((SELECT mx FROM m) // 3),
        |  ((SELECT mx FROM m) // 2), ((SELECT mx FROM m) - 1)) t(v)),
        |r AS (SELECT event_id, user_id, event_type FROM events
        | WHERE event_id IN (SELECT v FROM p)),
        |nd AS (SELECT count(DISTINCT user_id % 16) AS n FROM r),
        |ad AS (SELECT count(DISTINCT user_id % 16) AS n FROM events
        | WHERE user_id % 7 = 3),
        |bb AS (SELECT count(DISTINCT user_id % 16) AS n FROM events)
        |SELECT event_id, user_id, event_type,
        |  (SELECT n FROM bb)::BIGINT AS blooms_built,
        |  (SELECT n FROM ad)::BIGINT AS blooms_added,
        |  CAST(0 AS BIGINT) AS blooms_readded,
        |  (SELECT n FROM nd)::BIGINT AS n_dirs_admitted
        |FROM r""".stripMargin, writes = true),
    // DESCRIBE HISTORY — the versioned store's operational surface,
    // derived entirely from the manifest (no data read): one row per
    // commit with its timestamp, pointer/tombstone counts, and
    // whether it REWROTE data (vdir == version) or only re-pointed —
    // the restore at v3 is the re-point case, and its pointer count
    // equals v2's (a restore undoes exactly the buckets the undone
    // commit moved).
    QuerySpec("q388_store_history", (s, d) => {
      val path = tmp("graft_history_", d)
      buildVersioned(s, d, path)
      Lakehouse.restoreVersion(s, path, toVersion = 1L,
        asVersion = 3L, commitTs = 400L)
      Lakehouse.storeHistory(s, path)
    },
      """WITH v1b AS (SELECT count(DISTINCT doc_id % 16) AS n
        |  FROM documents WHERE doc_id % 5 = 0),
        |v2b AS (SELECT count(DISTINCT b) AS n FROM (
        |  SELECT doc_id % 16 AS b FROM documents WHERE doc_id % 7 = 3
        |  UNION SELECT (doc_id + 10000) % 16 FROM documents
        |  WHERE doc_id % 11 = 0))
        |SELECT CAST(0 AS BIGINT) AS version,
        |  CAST(100 AS BIGINT) AS commit_ts,
        |  (SELECT count(DISTINCT doc_id % 16)
        |   FROM documents)::BIGINT AS n_pointers,
        |  CAST(0 AS BIGINT) AS n_tombstones,
        |  false AS repointed, false AS is_floor
        |UNION ALL SELECT 1, 200, (SELECT n FROM v1b)::BIGINT, 0,
        |  false, false
        |UNION ALL SELECT 2, 300, (SELECT n FROM v2b)::BIGINT, 0,
        |  false, false
        |UNION ALL SELECT 3, 400, (SELECT n FROM v2b)::BIGINT, 0,
        |  true, false""".stripMargin, writes = true),
    // STREAMING CDF SUBSCRIBER — the pull half of the change feed: a
    // replica tails the versioned store's manifest (a metadata-only
    // head probe per tick) and applies each unapplied version's diff
    // through the bucket-pruned merge. Tick 1 bootstraps from the v0
    // snapshot and catches up v1+v2; tick 2 arrives with no new
    // commits and applies NOTHING (applied_2 = 0 inside the hash —
    // the idempotent-replay evidence); the replica's final manifest
    // is q335's oracle verbatim.
    QuerySpec("q379_cdf_subscriber", (s, d) => {
      val path = tmp("graft_cdfsub_", d)
      val replica = tmp("graft_cdfsubr_", d)
      rmDir(s, replica)
      buildVersioned(s, d, path)
      import graft.streaming.StreamingReplica.processTick
      val a1 = processTick(s, path, replica, "doc_id", 16)
      val a2 = processTick(s, path, replica, "doc_id", 16)
      Lakehouse.storeManifest(s.read.parquet(replica), "doc_id")
        .crossJoin(s.range(1).select(lit(a1).as("applied_1"),
          lit(a2).as("applied_2")))
    },
      """WITH final AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |    n_chars
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 'xx', 'ingest', n_chars
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(2 AS BIGINT) AS applied_1, CAST(0 AS BIGINT) AS applied_2
        |FROM final GROUP BY doc_id % 16""".stripMargin, writes = true),
    // CROSS-STORE DIFF after a fork — zero-copy comparison: buckets
    // whose pointers resolve to the SAME physical dir (everything
    // pre-fork) are skipped unread; only the two post-fork buckets
    // (branch: 3, source: 5) are read from either side. The diff is
    // A -> B (source -> branch) with the branch-side post-image, and
    // n_conflicts (buckets BOTH moved — none here) rides in the hash.
    QuerySpec("q376_branch_diff", (s, d) => {
      val src = tmp("graft_bdifsrc_", d)
      val br = tmp("graft_bdifbr_", d)
      val fork = buildBranchPair(s, d, src, br)
      val nConf = Lakehouse.branchConflicts(s, src, br, fork)
        .size.toLong
      Lakehouse.diffStores(s, src, 2L, br, 2L, "doc_id")
        .select(col("bucket"), col("doc_id"), col("change"),
          col("source").as("source_b"))
        .crossJoin(s.range(1).select(lit(nConf).as("n_conflicts")))
    },
      """SELECT *, CAST(0 AS BIGINT) AS n_conflicts FROM (
        |  SELECT CAST(3 AS BIGINT) AS bucket, doc_id,
        |    'removed' AS change, CAST(NULL AS VARCHAR) AS source_b
        |  FROM documents WHERE doc_id % 16 = 3 AND doc_id % 7 = 3
        |  UNION ALL
        |  SELECT 3, doc_id, 'changed', 'br2' FROM documents
        |  WHERE doc_id % 16 = 3 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT 3, doc_id + 10000, 'added', 'ingest' FROM documents
        |  WHERE doc_id % 16 = 3 AND doc_id % 13 = 0
        |  UNION ALL
        |  SELECT 5, doc_id, 'changed',
        |    CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END
        |  FROM documents WHERE doc_id % 16 = 5)""".stripMargin, writes = true),
    // BRANCH MERGE-BACK: the branch's post-fork changes (bucket 3)
    // land on the base as one new commit — the base's own v3 dir, so
    // the branch is deletable afterwards; the base's own post-fork
    // edit (bucket 5, disjoint) survives untouched, and the
    // pre-merge head (v2) stays readable across the merge commit.
    // merged_pointers == the branch's touched-bucket count (1).
    QuerySpec("q377_branch_merge_back", (s, d) => {
      val src = tmp("graft_bmbsrc_", d)
      val br = tmp("graft_bmbbr_", d)
      val fork = buildBranchPair(s, d, src, br)
      val nPtr = Lakehouse.mergeBranch(s, src, br, forkVersion = fork,
        asVersion = 3L, commitTs = 400L)
      Seq(3L -> "v3", 2L -> "v2").map { case (v, lbl) =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, src, v),
            "doc_id")
          .withColumn("view", lit(lbl))
      }.reduce(_ unionByName _)
        .crossJoin(s.range(1).select(
          lit(nPtr).as("merged_pointers")))
    },
      """WITH v2 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 16 = 5 THEN 'm3'
        |       WHEN doc_id % 5 = 0 THEN 'm1'
        |       ELSE source END AS source, n_chars
        | FROM documents),
        |v3 AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 16 = 3 THEN 'br2'
        |         WHEN doc_id % 16 = 5 THEN 'm3'
        |         WHEN doc_id % 5 = 0 THEN 'm1'
        |         ELSE source END AS source, n_chars
        |  FROM documents WHERE NOT (doc_id % 16 = 3 AND doc_id % 7 = 3)
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 'xx', 'ingest', n_chars
        |  FROM documents WHERE doc_id % 16 = 3 AND doc_id % 13 = 0),
        |al AS (SELECT 'v2' AS view, * FROM v2
        |       UNION ALL SELECT 'v3', * FROM v3)
        |SELECT view, CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(1 AS BIGINT) AS merged_pointers
        |FROM al GROUP BY view, doc_id % 16""".stripMargin, writes = true),
    // INCREMENTAL VIEW MAINTENANCE off the change feed: a derived
    // per-source aggregate keeps per-(bucket, source) PARTIALS; each
    // version step recomputes only [[Lakehouse.changedBuckets]]'
    // partials (1 of 16 buckets per step here — the narrow waves) and
    // the final roll-up equals the head state's direct aggregate.
    // This is what "subscribe a materialized view to a table's CDF"
    // costs: maintenance ∝ churn, never the store.
    QuerySpec("q378_ivm_partials", (s, d) => {
      val path = tmp("graft_ivm_", d)
      rmDir(s, path)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
        commitTs = 100L)
      val w1 = base.filter(col("doc_id") % 16 === 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 1L, w1, "doc_id", 16,
        commitTs = 200L)
      val w2d = base.filter(col("doc_id") % 16 === 5 &&
          col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val w2i = base.filter(col("doc_id") % 16 === 5 &&
          col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 2L, w2d.unionByName(w2i),
        "doc_id", 16, commitTs = 300L)
      def partialsOf(df: DataFrame): DataFrame =
        df.groupBy(col("bucket").cast("long").as("bucket"),
            col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
      var partials = partialsOf(Lakehouse.readVersioned(s, path, 0L))
        .localCheckpoint(true)
      val stepCounts = Seq((0L, 1L), (1L, 2L)).map { case (a, b) =>
        val cb = Lakehouse.changedBuckets(s, path, a, b)
        val np = partialsOf(
          Lakehouse.readVersioned(s, path, b, Some(cb)))
        partials = partials
          .filter(!col("bucket").isin(cb.toSeq: _*))
          .unionByName(np).localCheckpoint(true)
        cb.size.toLong
      }
      partials.groupBy(col("source"))
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("sum_chars")).cast("long").as("sum_chars"))
        .crossJoin(s.range(1).select(
          lit(stepCounts.head).as("step1_buckets"),
          lit(stepCounts(1)).as("step2_buckets")))
    },
      """WITH fin AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 16 = 3 THEN 'm1' ELSE source END
        |      AS source, n_chars
        |  FROM documents WHERE NOT (doc_id % 16 = 5 AND doc_id % 7 = 3)
        |  UNION ALL
        |  SELECT doc_id + 10000, 'ingest', n_chars FROM documents
        |  WHERE doc_id % 16 = 5 AND doc_id % 11 = 0)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS step1_buckets,
        |  CAST(1 AS BIGINT) AS step2_buckets
        |FROM fin GROUP BY source""".stripMargin, writes = true),
    // JSONL SHARD EXPORT — the interchange layout trainers mount:
    // byte-budget shards from the two-phase prefix sum, one text file
    // per shard, lines in doc_id order. The gated output is the
    // manifest of the files READ BACK (ids re-parsed from the JSON),
    // hash-compared against a pure-SQL reconstruction of every byte.
    QuerySpec("q332_jsonl_export", (s, d) => {
      val path = tmp("graft_jsonl_", d)
      Lakehouse.writeJsonl(docs(s, d), path, budgetBytes = 8192L)
      Lakehouse.jsonlManifest(s, path)
    },
      jsonlSql, writes = true),
    // INCREMENTAL JSONL append: the landed 80% plus a strictly-later
    // batch landed with byteOffset = landed byte total must be
    // byte-identical to the from-scratch export — q332's oracle
    // VERBATIM. New lines land as ADDITIONAL part files (only the
    // last landed shard and new shard dirs receive any); the manifest
    // orders by parsed doc_id, which is the cross-file contract.
    QuerySpec("q333_jsonl_append", (s, d) => {
      val path = tmp("graft_jsonl_incr_", d)
      val base = docs(s, d)
      val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      val old = base.filter(col("doc_id") <= thresh)
      Lakehouse.writeJsonl(old, path, budgetBytes = 8192L)
      val landed = Lakehouse.jsonLines(old)
        .agg(sum(col("n_bytes"))).head().getLong(0)
      Lakehouse.writeJsonl(base.filter(col("doc_id") > thresh), path,
        budgetBytes = 8192L, byteOffset = landed, mode = SaveMode.Append)
      Lakehouse.jsonlManifest(s, path)
    },
      jsonlSql, writes = true),
    // JSONL IMPORT — the roundtrip's other half: the exported shards
    // parse back (from_json undoing the escaper) into a typed table
    // that must equal the source rows column for column. Proves the
    // export is lossless, not just self-consistent.
    QuerySpec("q338_jsonl_import", (s, d) => {
      val path = tmp("graft_jsonl_imp_", d)
      Lakehouse.writeJsonl(docs(s, d), path, budgetBytes = 8192L)
      Lakehouse.readJsonl(s, path)
    },
      "SELECT doc_id, lang, source, text, n_chars FROM documents", writes = true),
    // APPEND + COMPACT (OPTIMIZE): two appends leave multi-file
    // buckets; compaction rewrites ONLY fragmented buckets into one
    // file each — content identical (the manifest is the whole-store
    // hash), compacted==fragmented pinned via the oracle's SQL count
    // of buckets receiving rows from ≥2 write slices.
    QuerySpec("q339_store_compact", (s, d) => {
      val path = tmp("graft_mcompact_", d)
      val base = docs(s, d)
      val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
      val (t1, t2) = (maxId * 3 / 5, maxId * 4 / 5)
      Lakehouse.writeStore(base.filter(col("doc_id") <= t1),
        "doc_id", path, buckets = 16)
      Lakehouse.appendStore(
        base.filter(col("doc_id") > t1 && col("doc_id") <= t2),
        "doc_id", path, buckets = 16)
      Lakehouse.appendStore(base.filter(col("doc_id") > t2),
        "doc_id", path, buckets = 16)
      val (touched, rewritten) = Lakehouse.compactStore(s, path, "doc_id")
      Lakehouse.storeManifest(s.read.parquet(path), "doc_id")
        .crossJoin(s.range(1).select(
          lit(touched).as("compacted_buckets"),
          lit(rewritten).as("rewritten_buckets")))
    },
      """WITH th AS (SELECT max(doc_id) * 3 // 5 AS t1,
        |  max(doc_id) * 4 // 5 AS t2 FROM documents),
        |sl AS (SELECT doc_id % 16 AS b,
        |  CASE WHEN doc_id <= (SELECT t1 FROM th) THEN 0
        |       WHEN doc_id <= (SELECT t2 FROM th) THEN 1
        |       ELSE 2 END AS s FROM documents),
        |frag AS (SELECT b FROM (SELECT b, s FROM sl GROUP BY b, s)
        |         GROUP BY b HAVING count(*) > 1),
        |tb AS (SELECT count(*)::BIGINT AS t FROM frag)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT t FROM tb) AS compacted_buckets,
        |  (SELECT t FROM tb) AS rewritten_buckets
        |FROM documents GROUP BY doc_id % 16""".stripMargin, writes = true),
    // SFT TRAINING ARTIFACT: the kept conversations' (prompt, target)
    // pairs exported as JSONL shards — the physical file a
    // fine-tuning job mounts. Lines carry the RAW rendered texts
    // (q324 pins their md5s; here the bytes themselves go to disk),
    // sharded by the byte-budget prefix sum; the manifest hashes the
    // read-back files in conversation-key order against a pure-SQL
    // reconstruction.
    QuerySpec("q347_sft_export", (s, d) => {
      val path = tmp("graft_sftexp_", d)
      val turns = Sft.mergedTurns(t(s, d, "events"))
      val kept = Sft.ledger(turns).filter(col("verdict") === "kept")
        .select(col("user_id"), col("session_id"), col("n_turns"))
      val ex = turns.join(kept, Seq("user_id", "session_id"))
        .groupBy(col("user_id"), col("session_id"), col("n_turns"))
        .agg(
          array_join(transform(
            sort_array(collect_list(when(col("turn_id") < col("n_turns"),
              struct(col("turn_id"), col("turn_text"))))),
            x => x.getField("turn_text")), " ").as("prompt"),
          max(when(col("turn_id") === col("n_turns"), col("turn_text")))
            .as("target"))
      val esc = (c: org.apache.spark.sql.Column) =>
        regexp_replace(c, "([\"\\\\])", "\\\\$1")
      val lines = ex.select(
          (col("user_id") * 1000000L + col("session_id")).as("ck"),
          concat(lit("{\"uid\":"), col("user_id"),
            lit(",\"sid\":"), col("session_id"),
            lit(",\"prompt\":\""), esc(col("prompt")),
            lit("\",\"target\":\""), esc(col("target")), lit("\"}"))
            .as("line"))
        .withColumn("n_bytes", (length(col("line")) + 1L).cast("long"))
      Lakehouse.writeLines(lines, "ck", path, budgetBytes = 2048L)
      s.read.text(path)
        .select(col("shard").cast("long").as("shard_id"),
          (get_json_object(col("value"), "$.uid").cast("long") * 1000000L
            + get_json_object(col("value"), "$.sid").cast("long"))
            .as("ck"),
          col("value"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_examples"),
          sum(length(col("value")) + 1L).cast("long").as("n_bytes"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("ck"), col("value")))),
            x => x.getField("value")), "\n")).as("content_md5"))
    },
      s"""WITH ${SftQueries.turnsCte},
         |k AS (SELECT user_id, session_id, n_turns FROM cst
         |      WHERE n_turns >= 2 AND first_role = 'user'
         |        AND last_role = 'assistant'),
         |ex AS (SELECT t.user_id AS uid, t.session_id AS sid,
         |  string_agg(CASE WHEN t.turn_id < k.n_turns
         |    THEN t.turn_text END, ' ' ORDER BY t.turn_id) AS prompt,
         |  max(CASE WHEN t.turn_id = k.n_turns THEN t.turn_text END)
         |    AS target
         | FROM turns t JOIN k USING (user_id, session_id)
         | GROUP BY t.user_id, t.session_id),
         |l AS (SELECT uid * 1000000 + sid AS ck,
         |  '{"uid":' || CAST(uid AS VARCHAR) || ',"sid":' ||
         |  CAST(sid AS VARCHAR) || ',"prompt":"' ||
         |  regexp_replace(prompt, '(["\\\\])', '\\\\\\1', 'g') ||
         |  '","target":"' ||
         |  regexp_replace(target, '(["\\\\])', '\\\\\\1', 'g') ||
         |  '"}' AS line
         | FROM ex),
         |b AS (SELECT ck, line,
         |  CAST(length(line) + 1 AS BIGINT) AS nb FROM l),
         |pk AS (SELECT ck, line, nb,
         |  CAST(COALESCE(sum(nb) OVER (ORDER BY ck
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM b)
         |SELECT CAST(pstart // 2048 AS BIGINT) AS shard_id,
         |  count(*)::BIGINT AS n_examples,
         |  CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  md5(string_agg(line, chr(10) ORDER BY ck)) AS content_md5
         |FROM pk GROUP BY 1""".stripMargin, writes = true),
    // TIME TRAVEL — the copy-on-write versioned store: v0 full write,
    // v1 updates, v2 deletes + inserts; data files are immutable and
    // the manifest points each bucket at its current version dir, so
    // ALL THREE versions read back exactly — the gated output is the
    // per-bucket manifest of every version, each hash-compared
    // against its SQL-derived historical state. Merge write cost
    // stays ∝ touched buckets (the mergeInto discipline) while
    // history costs nothing extra: old files simply persist.
    QuerySpec("q352_time_travel", (s, d) => {
      val path = tmp("graft_tt_", d)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16)
      val upds1 = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 1L, upds1, "doc_id", 16)
      val dels = base.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 2L, dels.unionByName(ins),
        "doc_id", 16)
      (0L to 2L).map { v =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, v),
            "doc_id")
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
    },
      """WITH s0 AS (SELECT 0 AS version, doc_id, text, lang, source,
        |  n_chars FROM documents),
        |s1 AS (SELECT 1, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents),
        |s2 AS (SELECT 2, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT 2, doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |       UNION ALL SELECT * FROM s2)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5
        |FROM al GROUP BY version, doc_id % 16""".stripMargin, writes = true),
    // VACUUM — the retention end of the time-travel lifecycle:
    // version dirs no as-of view ≥ floor resolves to are deleted
    // (here v0: the v1 update slice touches EVERY bucket — multiples
    // of 5 cover all residues mod 16 — so nothing still points at
    // v0). Versions ≥ floor must read back exactly afterwards; the
    // gated output is their manifests plus the deleted/retained
    // counts, all SQL-derived.
    QuerySpec("q353_version_vacuum", (s, d) => {
      val path = tmp("graft_ttv_", d)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16)
      val upds1 = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 1L, upds1, "doc_id", 16)
      val dels = base.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, path, 2L, dels.unionByName(ins),
        "doc_id", 16)
      val (deleted, retained) = Lakehouse.vacuumVersions(s, path, 1L)
      (1L to 2L).map { v =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, v),
            "doc_id")
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .crossJoin(s.range(1).select(lit(deleted).as("deleted_vdirs"),
          lit(retained).as("retained_vdirs")))
    },
      """WITH s1 AS (SELECT 1 AS version, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |s2 AS (SELECT 2, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT 2, doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
        |gc AS (SELECT
        |  CASE WHEN (SELECT count(DISTINCT doc_id % 16) FROM documents
        |             WHERE doc_id % 5 = 0)
        |         = (SELECT count(DISTINCT doc_id % 16) FROM documents)
        |       THEN 1 ELSE 0 END::BIGINT AS deleted)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT deleted FROM gc) AS deleted_vdirs,
        |  CAST(3 AS BIGINT) - (SELECT deleted FROM gc)
        |    AS retained_vdirs
        |FROM al GROUP BY version, doc_id % 16""".stripMargin, writes = true),
    // TIME TRAVEL BY TIMESTAMP — the as-of form every table format
    // pairs with version numbers: commits carry a caller-supplied
    // commit_ts in the manifest (ts 100/200/300 here — the engine
    // never reads a wall clock), and readVersionedAsOf resolves the
    // latest commit at or before the queried instant. Reads BETWEEN
    // commits (150/250/350) must land on the state just before them
    // — the gated output is each as-of view's per-bucket manifest.
    QuerySpec("q354_time_travel_asof", (s, d) => {
      val path = tmp("graft_ttas_", d)
      buildVersioned(s, d, path)
      Seq(150L, 250L, 350L).map { ts =>
        Lakehouse.storeManifest(
            Lakehouse.readVersionedAsOf(s, path, ts), "doc_id")
          .withColumn("asof_ts", lit(ts))
      }.reduce(_ unionByName _)
    },
      """WITH s0 AS (SELECT 150 AS asof_ts, doc_id, text, lang, source,
        |  n_chars FROM documents),
        |s1 AS (SELECT 250, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents),
        |s2 AS (SELECT 350, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT 350, doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |       UNION ALL SELECT * FROM s2)
        |SELECT CAST(asof_ts AS BIGINT) AS asof_ts,
        |  CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5
        |FROM al GROUP BY asof_ts, doc_id % 16""".stripMargin, writes = true),
    // VERSIONED MERGE CHANGELOG — q349's lineage discipline routed
    // through the copy-on-write store: each versioned merge
    // classifies its batch against the RESOLVED pre-merge state
    // (pruned to candidate buckets) and appends one audit row; ghost
    // deletes (+50000, never present) keep the no-op column
    // non-vacuous. Same log schema as the in-place store, so one
    // reader serves both; the oracle re-derives every count from the
    // batch definitions alone (q349's oracle verbatim).
    QuerySpec("q355_versioned_changelog", (s, d) => {
      val path = tmp("graft_vmlog_", d)
      val logPath = tmp("graft_vmlogl_", d)
      rmDir(s, path); rmDir(s, logPath)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
        commitTs = 100L)
      Lakehouse.mergeVersionedLogged(s, path, logPath, 1L,
        v1Batch(base), "doc_id", 16, commitTs = 200L)
      val ghosts = base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 50000L).as("doc_id"),
          lit("D").as("op"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      Lakehouse.mergeVersionedLogged(s, path, logPath, 2L,
        v2Batch(base).unionByName(ghosts), "doc_id", 16,
        commitTs = 300L)
      s.read.parquet(logPath)
    },
      changelogSql, writes = true),
    // MANIFEST CHECKPOINT — the Delta-style answer to one-manifest-
    // file-per-merge debt: pointer history at or below the floor
    // collapses into each bucket's single resolved row and the whole
    // manifest rewrites as ONE file. Read-equivalence is the gated
    // evidence: v1/v2 resolved BOTH by version and by timestamp
    // AFTER the checkpoint, hash-compared against the SQL-derived
    // historical states, with the measured row/file counts riding in
    // the output.
    QuerySpec("q357_manifest_checkpoint", (s, d) => {
      val path = tmp("graft_mckpt_", d)
      buildVersioned(s, d, path)
      val (rb, ra, fb, fa) = Lakehouse.checkpointManifest(s, path, 1L)
      val byVersion = (1L to 2L).map { v =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, v),
            "doc_id")
          .withColumn("version", lit(v)).withColumn("mode", lit("v"))
      }
      val byTs = Seq(250L -> 1L, 350L -> 2L).map { case (ts, v) =>
        Lakehouse.storeManifest(Lakehouse.readVersionedAsOf(s, path, ts),
            "doc_id")
          .withColumn("version", lit(v)).withColumn("mode", lit("t"))
      }
      (byVersion ++ byTs).reduce(_ unionByName _)
        .crossJoin(s.range(1).select(lit(rb).as("rows_before"),
          lit(ra).as("rows_after"), lit(fb).as("files_before"),
          lit(fa).as("files_after")))
    },
      """WITH st AS (
        |  SELECT 1 AS version, doc_id, text, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |    n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT 2, doc_id, text, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL SELECT 2, doc_id + 10000, text, 'xx', 'ingest',
        |    n_chars FROM documents WHERE doc_id % 11 = 0),
        |v2t AS (SELECT count(DISTINCT b)::BIGINT AS t FROM (
        |   SELECT doc_id % 16 AS b FROM documents WHERE doc_id % 7 = 3
        |   UNION SELECT (doc_id + 10000) % 16 FROM documents
        |   WHERE doc_id % 11 = 0)),
        |b0 AS (SELECT count(DISTINCT doc_id % 16)::BIGINT AS n
        |       FROM documents),
        |v1t AS (SELECT count(DISTINCT doc_id % 16)::BIGINT AS n
        |        FROM documents WHERE doc_id % 5 = 0),
        |modes AS (SELECT 'v' AS mode UNION ALL SELECT 't')
        |SELECT CAST(st.version AS BIGINT) AS version, modes.mode AS mode,
        |  CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT n FROM b0) + (SELECT n FROM v1t) + (SELECT t FROM v2t)
        |    AS rows_before,
        |  -- collapsed per-bucket rows + kept v2 rows + the floor marker
        |  (SELECT n FROM b0) + (SELECT t FROM v2t) + 1 AS rows_after,
        |  CAST(3 AS BIGINT) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after
        |FROM st CROSS JOIN modes
        |GROUP BY st.version, modes.mode, doc_id % 16""".stripMargin, writes = true),
    // STREAMING VERSIONED SINK — streaming upserts with time travel
    // (the Delta streaming-sink semantics): each micro-batch commits
    // as the next version with commit_ts = batchId, so the manifest
    // IS the replay ledger (idempotent class — a redelivered batch
    // short-circuits on its ledgered commit_ts). Batch 1 is
    // REDELIVERED after batch 2: without the ledger it would commit
    // a spurious v3 and the gated n_commits would flip. All three
    // micro-batch boundaries stay queryable — the per-version
    // manifests are q352's states exactly.
    QuerySpec("q361_versioned_stream", (s, d) => {
      val path = tmp("graft_vstream_", d)
      rmDir(s, path)
      val base = docs(s, d)
      val b0 = base.withColumn("op", lit("U"))
        .select(col("doc_id"), col("op"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      import graft.streaming.StreamingLakehouse.processVersionedBatch
      processVersionedBatch(b0, 0L, path, "doc_id", 16)
      processVersionedBatch(v1Batch(base), 1L, path, "doc_id", 16)
      processVersionedBatch(v2Batch(base), 2L, path, "doc_id", 16)
      processVersionedBatch(v1Batch(base), 1L, path, "doc_id", 16)
      val nCommits = Lakehouse.readManifest(s, path)
        .select(col("version")).distinct().count()
      (0L to 2L).map { v =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, v),
            "doc_id")
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .crossJoin(s.range(1).select(lit(nCommits).as("n_commits")))
    },
      """WITH s0 AS (SELECT 0 AS version, doc_id, text, lang, source,
        |  n_chars FROM documents),
        |s1 AS (SELECT 1, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents),
        |s2 AS (SELECT 2, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT 2, doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |       UNION ALL SELECT * FROM s2)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(3 AS BIGINT) AS n_commits
        |FROM al GROUP BY version, doc_id % 16""".stripMargin, writes = true),
    // SCHEMA EVOLUTION on the VERSIONED store: a later merge's batch
    // carries a NEW column (quality); survivors and older version
    // dirs read it as null (allowMissing union + mergeSchema), so
    // BOTH the widened current state and the pre-evolution history
    // stay readable — the gate pins the null boundary per version.
    QuerySpec("q362_versioned_evolution", (s, d) => {
      val path = tmp("graft_vevolve_", d)
      rmDir(s, path)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
        commitTs = 100L)
      val upds = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"),
          (col("n_chars") % 5).as("quality"))
      Lakehouse.mergeVersioned(s, path, 1L, upds, "doc_id", 16,
        commitTs = 200L)
      (0L to 1L).map { v =>
        val st = Lakehouse.readVersioned(s, path, v)
        val withQ = if (st.columns.contains("quality")) st
          else st.withColumn("quality", lit(null).cast("long"))
        withQ.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("quality")).as("n_with_quality"),
            coalesce(sum(col("quality")), lit(0L)).cast("long")
              .as("sum_quality"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
    },
      """WITH s0 AS (SELECT 0 AS version, source,
        |  CAST(NULL AS BIGINT) AS quality FROM documents),
        |s1 AS (SELECT 1,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars % 5 END
        | FROM documents),
        |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
        |SELECT CAST(version AS BIGINT) AS version, source,
        |  count(*)::BIGINT AS n_docs,
        |  count(quality)::BIGINT AS n_with_quality,
        |  CAST(COALESCE(sum(quality), 0) AS BIGINT) AS sum_quality
        |FROM al GROUP BY version, source""".stripMargin, writes = true),
    // POINT LOOKUP — the serving path of the bucketed store: a
    // bounded multi-key GET opens only the keys' candidate bucket
    // dirs (partition filter) with the key predicate pushed to the
    // scan; misses (+90000 ghosts) return no row. The oracle is the
    // plain key-set SELECT.
    QuerySpec("q368_point_lookup", (s, d) => {
      val path = tmp("graft_plookup_", d)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val keys = base.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      Lakehouse.lookupStore(s, path, "doc_id",
          keys ++ keys.map(_ + 90000L), buckets = 16)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    },
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id % 97 = 0""".stripMargin, writes = true),
    // SCHEMA EVOLUTION on MERGE (in-place store): the upsert batch
    // carries a NEW column; touched buckets widen (survivors null at
    // the boundary), untouched buckets keep their narrow files, and
    // the mergeSchema read stitches the mixed-schema store — the
    // merge-path twin of q343's append-path evolution and q362's
    // versioned one.
    QuerySpec("q365_merge_evolution", (s, d) => {
      val path = tmp("graft_mevo2_", d)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val upds = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"),
          (col("n_chars") % 5).as("quality"))
      Lakehouse.mergeInto(s, path, upds, "doc_id", 16)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          coalesce(sum(col("quality")), lit(0L)).cast("long")
            .as("sum_quality"))
    },
      """WITH q AS (SELECT
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars % 5 END AS quality
        | FROM documents)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  count(quality)::BIGINT AS n_with_quality,
        |  CAST(COALESCE(sum(quality), 0) AS BIGINT) AS sum_quality
        |FROM q GROUP BY source""".stripMargin, writes = true),
    // CONTRACT-ENFORCED MERGE (CHECK constraint / expectation
    // semantics): upserts violating the declarative rule
    // (n_chars == length(text) — a third of the update slice is
    // deliberately corrupted) never reach the table; they land in an
    // append-only QUARANTINE store stamped with version + reason,
    // while the valid remainder merges normally. The gated output is
    // the final store manifest PLUS the quarantine read-back (count
    // and id hash), so both sides of the split are hash-pinned.
    QuerySpec("q363_merge_quarantine", (s, d) => {
      val path = tmp("graft_mquar_", d)
      val qPath = tmp("graft_mquarq_", d)
      rmDir(s, qPath)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val upds = base.filter(col("doc_id") % 5 === 0 &&
          col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("merged").as("source"),
          // corrupt a deterministic third: the contract must catch it
          when(col("doc_id") % 3 === 0, col("n_chars") + 7L)
            .otherwise(col("n_chars")).as("n_chars"))
      val dels = base.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      val (nValid, nQuar) = Lakehouse.mergeIntoChecked(s, path, qPath,
        1L, upds.unionByName(dels).unionByName(ins), "doc_id", 16,
        rule = col("n_chars") === length(col("text")),
        reason = "n_chars_mismatch")
      val qMd5 = s.read.parquet(qPath)
        .agg(md5(array_join(transform(
          sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",")).as("m"))
        .head().getString(0)
      Lakehouse.storeManifest(s.read.parquet(path), "doc_id")
        .crossJoin(s.range(1).select(
          lit(nValid).as("n_valid_upserts"),
          lit(nQuar).as("n_quarantined"),
          lit(qMd5).as("quarantine_md5")))
    },
      """WITH gu AS (SELECT doc_id, text, lang, 'merged' AS source,
        |  n_chars FROM documents
        | WHERE doc_id % 5 = 0 AND doc_id % 7 <> 3 AND doc_id % 3 <> 0),
        |qr AS (SELECT doc_id FROM documents
        |       WHERE doc_id % 5 = 0 AND doc_id % 7 <> 3
        |         AND doc_id % 3 = 0),
        |ins AS (SELECT doc_id + 10000 AS doc_id, text, 'xx' AS lang,
        |          'ingest' AS source, n_chars
        |        FROM documents WHERE doc_id % 11 = 0),
        |bk AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 3
        |       UNION SELECT doc_id FROM gu
        |       UNION SELECT doc_id FROM ins),
        |final AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bk)
        |  UNION ALL SELECT * FROM gu
        |  UNION ALL SELECT * FROM ins),
        |st AS (SELECT
        |  ((SELECT count(*) FROM gu) + (SELECT count(*) FROM ins))
        |    ::BIGINT AS n_valid_upserts,
        |  (SELECT count(*) FROM qr)::BIGINT AS n_quarantined,
        |  (SELECT md5(string_agg(CAST(doc_id AS VARCHAR), ','
        |     ORDER BY doc_id)) FROM qr) AS quarantine_md5)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT n_valid_upserts FROM st) AS n_valid_upserts,
        |  (SELECT n_quarantined FROM st) AS n_quarantined,
        |  (SELECT quarantine_md5 FROM st) AS quarantine_md5
        |FROM final GROUP BY doc_id % 16""".stripMargin, writes = true),
    // CDF REPLICATION — the consumer contract of the change feed: a
    // downstream replica that starts from the v0 snapshot and applies
    // each diffVersionsFull(a, b) as a merge batch (removed -> D,
    // else U with the post-image payload) must land EXACTLY on the
    // v2 state — q335's final-state oracle verbatim. This is what
    // subscribing a second table to a CDF means; the feed itself is
    // manifest-pruned (q360) and the replica applies it with the
    // bucket-pruned merge.
    QuerySpec("q364_cdf_replicate", (s, d) => {
      val path = tmp("graft_cdfsrc_", d)
      val replica = tmp("graft_cdfrep_", d)
      buildVersioned(s, d, path)
      Lakehouse.writeStore(
        Lakehouse.readVersioned(s, path, 0L).drop("bucket"),
        "doc_id", replica, buckets = 16)
      Seq((0L, 1L), (1L, 2L)).foreach { case (a, b) =>
        val cdf = Lakehouse.diffVersionsFull(s, path, a, b, "doc_id")
        val mb = cdf.select(col("doc_id"),
          when(col("change") === "removed", lit("D"))
            .otherwise(lit("U")).as("op"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        Lakehouse.mergeInto(s, replica, mb, "doc_id", 16)
      }
      Lakehouse.storeManifest(s.read.parquet(replica), "doc_id")
    },
      // the CDF-fed replica must land on the same final state as the
      // directly-merged chain
      finalStateSql, writes = true),
    // CHANGE DATA FEED — the row-level diff between two versions of
    // the copy-on-write store, MANIFEST-PRUNED: immutable data files
    // mean a bucket with identical pointers at both versions is
    // byte-identical, so only pointer-differing buckets are read
    // from either side (spec-pinned via task input metrics). Output:
    // every key added / removed / changed between adjacent versions,
    // re-derived by the oracle from the batch definitions alone.
    QuerySpec("q360_version_diff", (s, d) => {
      val path = tmp("graft_vdiff_", d)
      buildVersioned(s, d, path)
      Seq((0L, 1L), (1L, 2L)).map { case (a, b) =>
        Lakehouse.diffVersions(s, path, a, b, "doc_id")
          .select(lit(a).as("from_v"), lit(b).as("to_v"),
            col("doc_id"), col("change"))
      }.reduce(_ unionByName _)
    },
      """SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
        |  doc_id, 'changed' AS change
        |FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT 1, 2, doc_id, 'removed' FROM documents WHERE doc_id % 7 = 3
        |UNION ALL
        |SELECT 1, 2, doc_id + 10000, 'added' FROM documents
        |WHERE doc_id % 11 = 0""".stripMargin, writes = true),
    // MERGE CHANGELOG — the table's lineage: each merge classifies
    // its batch against the pre-merge store (updates vs inserts,
    // applied vs no-op deletes) and appends one audit row. Version 2
    // includes GHOST deletes (+50000 keys, never present) to make the
    // no-op column non-vacuous. The oracle re-derives every count and
    // the touched-bucket sets from the batch definitions alone.
    QuerySpec("q349_merge_changelog", (s, d) => {
      val path = tmp("graft_mlog_", d)
      val logPath = tmp("graft_mlogl_", d)
      val fs = new org.apache.hadoop.fs.Path(logPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(logPath), true)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val upds1 = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("v1").as("source"), col("n_chars"))
      Lakehouse.mergeIntoLogged(s, path, logPath, 1L, upds1,
        "doc_id", 16)
      val dels = base.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      val ghosts = base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 50000L).as("doc_id"),
          lit("D").as("op"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      Lakehouse.mergeIntoLogged(s, path, logPath, 2L,
        dels.unionByName(ins).unionByName(ghosts), "doc_id", 16)
      s.read.parquet(logPath)
    },
      changelogSql, writes = true),
    // SCHEMA EVOLUTION on append: a later ingest batch carries a NEW
    // column (quality); mergeSchema reads the union schema with nulls
    // for pre-evolution rows — the report distinguishes them, so the
    // gate pins both the widened schema and the null boundary.
    QuerySpec("q343_schema_evolution", (s, d) => {
      val path = tmp("graft_mevolve_", d)
      val base = docs(s, d)
      val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      Lakehouse.writeStore(base.filter(col("doc_id") <= thresh),
        "doc_id", path, buckets = 16)
      Lakehouse.appendStore(
        base.filter(col("doc_id") > thresh)
          .withColumn("quality", col("n_chars") % 5),
        "doc_id", path, buckets = 16)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          coalesce(sum(col("quality")), lit(0L)).cast("long")
            .as("sum_quality"))
    },
      """WITH th AS (SELECT max(doc_id) * 4 // 5 AS t FROM documents),
        |q AS (SELECT source, CASE WHEN doc_id > (SELECT t FROM th)
        |        THEN n_chars % 5 END AS quality FROM documents)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  count(quality)::BIGINT AS n_with_quality,
        |  CAST(COALESCE(sum(quality), 0) AS BIGINT) AS sum_quality
        |FROM q GROUP BY source""".stripMargin, writes = true),
    // VERSIONED POINT LOOKUP — the q368 serving path with time
    // travel: a bounded multi-key GET resolves manifest pointers for
    // only the keys' candidate buckets at the requested version and
    // opens only those (vdir, bucket) dirs (recordsRead-pinned in the
    // spec). The same key set served at v1 and v2 returns the two
    // HISTORICAL states: pre-delete rows still serve at v1, the
    // re-keyed inserts only at v2; ghosts (+90000) never return.
    QuerySpec("q369_lookup_versioned", (s, d) => {
      val path = tmp("graft_vplook_", d)
      buildVersioned(s, d, path)
      val base = docs(s, d)
      val k1 = base.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      val k10 = base.filter(col("doc_id") % 11 === 0 &&
          col("doc_id") % 2 === 0)
        .select(col("doc_id") + 10000L)
        .collect().map(_.getLong(0)).toSeq
      val keys = k1 ++ k10 ++ k1.map(_ + 90000L)
      Seq(1L, 2L).map { v =>
        Lakehouse.lookupVersioned(s, path, "doc_id", keys, v,
            buckets = 16)
          .select(lit(v).as("version"), col("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    },
      """WITH k AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0
        |           UNION SELECT doc_id + 10000 FROM documents
        |           WHERE doc_id % 11 = 0 AND doc_id % 2 = 0),
        |s1 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |s2 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0)
        |SELECT CAST(1 AS BIGINT) AS version, doc_id, text, lang,
        |  source, n_chars
        |FROM s1 WHERE doc_id IN (SELECT doc_id FROM k)
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, text, lang, source, n_chars
        |FROM s2 WHERE doc_id IN (SELECT doc_id FROM k)""".stripMargin, writes = true),
    // OPTIMISTIC CONCURRENCY — two writers race the same version
    // slot: A commits v1; B (which resolved the head BEFORE A's
    // commit) attempts v1, LOSES with ConcurrentCommitException, and
    // the commit loop re-resolves and lands B's batch at v2. Both
    // batches land, history is linear, every intermediate state stays
    // time-travelable — the gated output is all three per-version
    // manifests plus the race evidence (loss observed, landing
    // version, one commit slot per version).
    QuerySpec("q370_concurrent_merge", (s, d) => {
      val path = tmp("graft_occq_", d)
      rmDir(s, path)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", path, buckets = 16,
        commitTs = 100L, writerToken = "writer-0")
      Lakehouse.mergeVersioned(s, path, 1L, v1Batch(base), "doc_id",
        16, commitTs = 200L, writerToken = "writer-a")
      val lost =
        try {
          Lakehouse.mergeVersioned(s, path, 1L, v2Batch(base),
            "doc_id", 16, commitTs = 300L, writerToken = "writer-b")
          0L
        } catch { case _: ConcurrentCommitException => 1L }
      val landedAt = Lakehouse.mergeVersionedConcurrent(s, path,
        v2Batch(base), "doc_id", 16, "writer-b", commitTs = 300L)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val slots = fs.listStatus(
          new org.apache.hadoop.fs.Path(path, "_commits"))
        .map(_.getPath.getName).sorted.mkString(",")
      (0L to 2L).map { v =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, v),
            "doc_id")
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .crossJoin(s.range(1).select(lit(lost).as("lost_races"),
          lit(landedAt).as("landed_at"), lit(slots).as("commit_slots")))
    },
      """WITH s0 AS (SELECT 0 AS version, doc_id, text, lang, source,
        |  n_chars FROM documents),
        |s1 AS (SELECT 1, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents),
        |s2 AS (SELECT 2, doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END, n_chars
        | FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT 2, doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |       UNION ALL SELECT * FROM s2)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(1 AS BIGINT) AS lost_races,
        |  CAST(2 AS BIGINT) AS landed_at,
        |  'v0,v1,v2' AS commit_slots
        |FROM al GROUP BY version, doc_id % 16""".stripMargin, writes = true),
    // QUARANTINE REPLAY — the q363 lifecycle closed: the corrupted
    // third's quarantine rows are corrected (n_chars restored to the
    // contract) and re-admitted through the pruned merge; the final
    // store must equal the AS-IF-NEVER-CORRUPTED merge (q334's final
    // state exactly), while the quarantine read-back shows BOTH the
    // original violations and their replay stamps (append-only audit
    // trail, id-hash-pinned on each side).
    QuerySpec("q371_quarantine_replay", (s, d) => {
      val path = tmp("graft_qreplay_", d)
      val qPath = tmp("graft_qreplayq_", d)
      rmDir(s, qPath)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val upds = base.filter(col("doc_id") % 5 === 0 &&
          col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("merged").as("source"),
          when(col("doc_id") % 3 === 0, col("n_chars") + 7L)
            .otherwise(col("n_chars")).as("n_chars"))
      val dels = base.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      val rule = col("n_chars") === length(col("text"))
      Lakehouse.mergeIntoChecked(s, path, qPath, 1L,
        upds.unionByName(dels).unionByName(ins), "doc_id", 16,
        rule, "n_chars_mismatch")
      // corrections derived from the quarantine READ-BACK: restore
      // the contract column from the payload itself
      val corrected = s.read.parquet(qPath)
        .drop("version", "reason")
        .withColumn("n_chars", length(col("text")).cast("long"))
      val (nRep, nBad) = Lakehouse.replayQuarantine(s, path, qPath,
        2L, corrected, "doc_id", 16, rule)
      val audit = s.read.parquet(qPath).groupBy(col("reason"))
        .agg(count(lit(1)).as("n"),
          md5(array_join(transform(
            sort_array(collect_list(col("doc_id"))),
            x => x.cast("string")), ",")).as("m"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getString(2)))).toMap
      Lakehouse.storeManifest(s.read.parquet(path), "doc_id")
        .crossJoin(s.range(1).select(
          lit(nRep).as("n_replayed"), lit(nBad).as("n_still_bad"),
          lit(audit("n_chars_mismatch")._1).as("n_violations"),
          lit(audit("n_chars_mismatch")._2).as("violations_md5"),
          lit(audit("replayed")._1).as("n_replay_stamps"),
          lit(audit("replayed")._2).as("replayed_md5")))
    },
      """WITH qr AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 7 <> 3 AND doc_id % 3 = 0),
        |final AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN 'merged' ELSE source END
        |      AS source, n_chars
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id + 10000, text, 'xx', 'ingest', n_chars
        |  FROM documents WHERE doc_id % 11 = 0),
        |st AS (SELECT count(*)::BIGINT AS n,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |    AS m FROM qr)
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT n FROM st) AS n_replayed,
        |  CAST(0 AS BIGINT) AS n_still_bad,
        |  (SELECT n FROM st) AS n_violations,
        |  (SELECT m FROM st) AS violations_md5,
        |  (SELECT n FROM st) AS n_replay_stamps,
        |  (SELECT m FROM st) AS replayed_md5
        |FROM final GROUP BY doc_id % 16""".stripMargin, writes = true),
    // RESTORE — a retained historical version becomes the current
    // state again as a MANIFEST-ONLY commit: only pointer-differing
    // buckets get a row at the new version (carrying the OLD vdir),
    // zero data files move (n_data_dirs stays 3), and history ACROSS
    // the restore stays intact: v2 still reads post-merge, as-of
    // ts 350 resolves the pre-restore head, as-of 450 the restored
    // state. restored_pointers == v2's touched-bucket count, the
    // pointer-pruning evidence.
    QuerySpec("q373_version_restore", (s, d) => {
      val path = tmp("graft_vrest_", d)
      buildVersioned(s, d, path)
      val nPtr = Lakehouse.restoreVersion(s, path, toVersion = 1L,
        asVersion = 3L, commitTs = 400L)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val nDirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .count(st => st.isDirectory &&
          st.getPath.getName.matches("v\\d+")).toLong
      val byV = Seq(3L -> "v3", 2L -> "v2").map { case (v, lbl) =>
        Lakehouse.storeManifest(Lakehouse.readVersioned(s, path, v),
            "doc_id")
          .withColumn("view", lit(lbl))
      }
      val byTs = Seq(350L -> "t350", 450L -> "t450").map {
        case (ts, lbl) =>
          Lakehouse.storeManifest(
              Lakehouse.readVersionedAsOf(s, path, ts), "doc_id")
            .withColumn("view", lit(lbl))
      }
      (byV ++ byTs).reduce(_ unionByName _)
        .crossJoin(s.range(1).select(
          lit(nPtr).as("restored_pointers"),
          lit(nDirs).as("n_data_dirs")))
    },
      """WITH s1 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |s2 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |al AS (SELECT 'v3' AS view, * FROM s1
        |  UNION ALL SELECT 'v2', * FROM s2
        |  UNION ALL SELECT 't350', * FROM s2
        |  UNION ALL SELECT 't450', * FROM s1),
        |v2t AS (SELECT count(DISTINCT b)::BIGINT AS t FROM (
        |  SELECT doc_id % 16 AS b FROM documents WHERE doc_id % 7 = 3
        |  UNION SELECT (doc_id + 10000) % 16 FROM documents
        |  WHERE doc_id % 11 = 0))
        |SELECT view, CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT t FROM v2t) AS restored_pointers,
        |  CAST(3 AS BIGINT) AS n_data_dirs
        |FROM al GROUP BY view, doc_id % 16""".stripMargin, writes = true),
    // ZERO-COPY BRANCH (shallow clone): fork the versioned store at
    // v1 by copying ONLY the manifest, then DIVERGE — the branch
    // applies the standard delete+insert wave as ITS v2 while the
    // source applies a different edit as its own v2. Both lineages
    // stay fully readable (the branch's pre-fork reads resolve the
    // base's immutable dirs), the fork costs zero data movement
    // (branch_own_dirs counts exactly its one post-fork commit), and
    // neither side's v2 leaks into the other — all four states are
    // hash-pinned.
    QuerySpec("q374_branch", (s, d) => {
      val src = tmp("graft_brsrc_", d)
      val br = tmp("graft_brdst_", d)
      rmDir(s, src); rmDir(s, br)
      val base = docs(s, d)
      Lakehouse.writeVersioned(base, "doc_id", src, buckets = 16,
        commitTs = 100L)
      Lakehouse.mergeVersioned(s, src, 1L, v1Batch(base), "doc_id", 16,
        commitTs = 200L)
      val fork = Lakehouse.branchVersioned(s, src, br)
      Lakehouse.mergeVersioned(s, br, 2L, v2Batch(base), "doc_id", 16,
        commitTs = 300L)
      val srcEdit = base.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m3").as("source"), col("n_chars"))
      Lakehouse.mergeVersioned(s, src, 2L, srcEdit, "doc_id", 16,
        commitTs = 300L)
      val fs = new org.apache.hadoop.fs.Path(br)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val ownDirs = fs.listStatus(new org.apache.hadoop.fs.Path(br))
        .count(st => st.isDirectory &&
          st.getPath.getName.matches("v\\d+")).toLong
      Seq(("branch_v1", br, 1L), ("branch_v2", br, 2L),
        ("source_v1", src, 1L), ("source_v2", src, 2L)).map {
        case (lbl, p, v) =>
          Lakehouse.storeManifest(Lakehouse.readVersioned(s, p, v),
              "doc_id")
            .withColumn("view", lit(lbl))
      }.reduce(_ unionByName _)
        .crossJoin(s.range(1).select(lit(fork).as("fork_version"),
          lit(ownDirs).as("branch_own_dirs")))
    },
      """WITH s1 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |bs2 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents WHERE doc_id % 7 <> 3
        | UNION ALL SELECT doc_id + 10000, text, 'xx', 'ingest',
        |   n_chars FROM documents WHERE doc_id % 11 = 0),
        |ss2 AS (SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 3 = 0 THEN 'm3'
        |       WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
        |  n_chars FROM documents),
        |al AS (SELECT 'branch_v1' AS view, * FROM s1
        |  UNION ALL SELECT 'branch_v2', * FROM bs2
        |  UNION ALL SELECT 'source_v1', * FROM s1
        |  UNION ALL SELECT 'source_v2', * FROM ss2)
        |SELECT view, CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  CAST(1 AS BIGINT) AS fork_version,
        |  CAST(1 AS BIGINT) AS branch_own_dirs
        |FROM al GROUP BY view, doc_id % 16""".stripMargin, writes = true),
    // MERGE INTO a keyed bucketed store: one batch of deletes +
    // updates + inserts; only buckets holding a batch key (or
    // receiving an upsert) rewrite — measured touched/rewritten
    // counts ride INSIDE the gated output next to the per-bucket
    // read-back manifest, so `changed == touched` is hash-pinned
    // against the oracle's SQL-derived touched count.
    QuerySpec("q334_merge_into", (s, d) => {
      val path = tmp("graft_mstore_", d)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val (touched, rewritten) =
        Lakehouse.mergeInto(s, path, mergeBatch(base), "doc_id", 16)
      Lakehouse.storeManifest(s.read.parquet(path), "doc_id")
        .crossJoin(s.range(1).select(
          lit(touched).as("touched_buckets"),
          lit(rewritten).as("rewritten_buckets")))
    },
      """WITH dels AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 3),
        |upds AS (SELECT doc_id, text, lang, 'merged' AS source, n_chars
        |         FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 3),
        |ins AS (SELECT doc_id + 10000 AS doc_id, text, 'xx' AS lang,
        |          'ingest' AS source, n_chars
        |        FROM documents WHERE doc_id % 11 = 0),
        |bk AS (SELECT doc_id FROM dels UNION SELECT doc_id FROM upds
        |       UNION SELECT doc_id FROM ins),
        |final AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bk)
        |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM upds
        |  UNION ALL SELECT doc_id, text, lang, source, n_chars FROM ins),
        |tb AS (SELECT count(DISTINCT b)::BIGINT AS t FROM (
        |  SELECT doc_id % 16 AS b FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM bk)
        |  UNION ALL SELECT doc_id % 16 FROM upds
        |  UNION ALL SELECT doc_id % 16 FROM ins))
        |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
        |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
        |    AS rows_md5,
        |  (SELECT t FROM tb) AS touched_buckets,
        |  (SELECT t FROM tb) AS rewritten_buckets
        |FROM final GROUP BY doc_id % 16""".stripMargin, writes = true),
    // Two sequential merges == the composed final state (update pass
    // then delete+insert pass) — the chain proof that merge state
    // needs no history: each merge sees only the store bytes the
    // previous one left.
    QuerySpec("q335_merge_chain", (s, d) => {
      val path = tmp("graft_mchain_", d)
      val base = docs(s, d)
      Lakehouse.writeStore(base, "doc_id", path, buckets = 16)
      val upds1 = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("text"),
          col("lang"), lit("m1").as("source"), col("n_chars"))
      Lakehouse.mergeInto(s, path, upds1, "doc_id", 16)
      val dels = base.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("D").as("op"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          lit("U").as("op"), col("text"), lit("xx").as("lang"),
          lit("ingest").as("source"), col("n_chars"))
      Lakehouse.mergeInto(s, path, dels.unionByName(ins), "doc_id", 16)
      Lakehouse.storeManifest(s.read.parquet(path), "doc_id")
    },
      finalStateSql, writes = true))

  /** q349's oracle — shared verbatim by q355: the versioned merge's
    * changelog must classify identically to the in-place store's
    * (same batch definitions, same lineage schema). */
  private val changelogSql: String =
    """WITH v1 AS (SELECT CAST(1 AS BIGINT) AS version,
      |  (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
      |    ::BIGINT AS n_updates,
      |  CAST(0 AS BIGINT) AS n_inserts, CAST(0 AS BIGINT) AS n_deletes,
      |  CAST(0 AS BIGINT) AS n_noop_deletes,
      |  (SELECT count(DISTINCT doc_id % 16) FROM documents
      |   WHERE doc_id % 5 = 0)::BIGINT AS touched_buckets),
      |v2 AS (SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT),
      |  (SELECT count(*) FROM documents WHERE doc_id % 11 = 0)::BIGINT,
      |  (SELECT count(*) FROM documents WHERE doc_id % 7 = 3)::BIGINT,
      |  (SELECT count(*) FROM documents WHERE doc_id % 13 = 0)::BIGINT,
      |  (SELECT count(DISTINCT b) FROM (
      |     SELECT doc_id % 16 AS b FROM documents WHERE doc_id % 7 = 3
      |     UNION SELECT (doc_id + 10000) % 16 FROM documents
      |     WHERE doc_id % 11 = 0))::BIGINT)
      |SELECT * FROM v1 UNION ALL SELECT * FROM v2""".stripMargin

  /** q335's oracle — the composed final state of the standard merge
    * chain; shared verbatim by q364 (the CDF-fed replica must land on
    * the identical state). */
  private lazy val finalStateSql: String =
    """WITH final AS (
      |  SELECT doc_id, text, lang,
      |    CASE WHEN doc_id % 5 = 0 THEN 'm1' ELSE source END AS source,
      |    n_chars
      |  FROM documents WHERE doc_id % 7 <> 3
      |  UNION ALL
      |  SELECT doc_id + 10000, text, 'xx', 'ingest', n_chars
      |  FROM documents WHERE doc_id % 11 = 0)
      |SELECT CAST(doc_id % 16 AS BIGINT) AS bucket,
      |  count(*)::BIGINT AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text)
      |    || ':' || source || ':' || lang, chr(10) ORDER BY doc_id))
      |    AS rows_md5
      |FROM final GROUP BY doc_id % 16""".stripMargin
}
