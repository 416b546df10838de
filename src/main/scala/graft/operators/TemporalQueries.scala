package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Temporal operators over the events table: as-of join, linear
  * interpolation (SURVEY.md §2.5 J1), and the batch-equivalent of the
  * streaming tumbling-window aggregation (§2.9). */
object TemporalQueries {

  /** q39/q271 shared oracle: 30-minute-gap sessionization. */
  private val sessSql: String =
    """WITH g AS (SELECT user_id, epoch_us(ts) AS t, value,
      |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_t
      | FROM events),
      |b AS (SELECT user_id, t, value,
      |  CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000
      |       THEN 1 ELSE 0 END AS new_session FROM g),
      |sid AS (SELECT user_id, t, value,
      |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY t
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM b)
      |SELECT user_id, session_id,
      | min(t) AS session_start, max(t) AS session_end,
      | count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM sid GROUP BY user_id, session_id""".stripMargin

  /** The CDC change log derived from events: 'error' events are
    * DELETES of the user's row, everything else upserts the
    * (event_type, value) payload; (ts, event_id) is the per-key-unique
    * sequence. Mirrored verbatim in [[cdcSql]]. */
  private def cdcChanges(e: DataFrame): DataFrame =
    e.select(col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
        .as("op"),
      col("event_type"), col("value"))

  private val CdcSeq = Seq("ts", "event_id")
  private val CdcPayload = Seq("event_type", "value")

  lazy val specs: Seq[QuerySpec] = Seq(
    // POINT-IN-TIME dimension join: each purchase event joined to the
    // SCD2 state interval covering its timestamp — the leakage-safe
    // "feature as of event time" lookup a training pipeline must use
    // instead of joining today's dimension onto yesterday's facts.
    // Runs on the AsOfJoin operator (one key-shuffle window, no range
    // explosion); the oracle joins the intervals directly, so the
    // hash compare proves as-of == interval containment.
    QuerySpec("q294_pit_join", (s, d) => {
      val e = t(s, d, "events")
      val dim = UserJourneys.scd2States(e, "user_id", "ts",
        "event_type", "event_id")
        .select(col("user_id"), col("valid_from"),
          col("event_type").as("state_at"))
      AsOfJoin.asOf(
        e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", dim, "user_id", "valid_from",
        Seq("state_at", "valid_from"))
    },
      // interval containment over the SCD2 rows — the as-of window must
      // land each purchase in exactly its covering state range
      """WITH w AS (SELECT user_id, event_type, epoch_ns(ts) AS t,
        |    event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, event_type, t, event_id FROM w
        |       WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, event_type AS state_at, t AS valid_from,
        |         lead(t) OVER (PARTITION BY user_id ORDER BY t,
        |           event_id) AS valid_to
        |       FROM ch),
        |p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, iv.state_at, iv.valid_from
        |FROM p JOIN iv ON iv.user_id = p.user_id
        |  AND iv.valid_from <= p.ts
        |  AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)""".stripMargin),
    // Leakage-safe trailing features: per event, the user's event
    // count and fixed-point value sum over the 7 days STRICTLY before
    // the event (frame ends at −1 ns — the row itself and same-
    // instant rows never leak in). One range-frame window per user.
    QuerySpec("q295_pit_features", (s, d) => {
      val day = 86400L * 1000 * 1000 * 1000
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-7 * day, -1)
      t(s, d, "events").select(col("event_id"), col("user_id"),
        col("ts"),
        count(lit(1)).over(w).as("n_prev_7d"),
        coalesce(sum(round(col("value") * 100).cast("long")).over(w),
          lit(0L)).as("sum_value_fp_7d"))
    },
      """SELECT event_id, user_id, epoch_ns(ts) AS ts,
        |  count(*) OVER w AS n_prev_7d,
        |  CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT)) OVER w,
        |    0) AS BIGINT) AS sum_value_fp_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 604800000000000 PRECEDING
        |            AND 1 PRECEDING)""".stripMargin),
    // RFM SEGMENTATION at scale: recency/frequency/monetary terciles
    // assigned by comparing each user to the corpus-wide 33/67
    // type-1 quantile cutoffs computed with Quantiles.exactQuantiles
    // — the two-pass histogram selection replacing the global
    // ntile(3) sort that would funnel every user through one task at
    // 100 TB. Cutoffs are 6 numbers (broadcast); assignment is a
    // pure projection. segment = 100·r + 10·f + m.
    QuerySpec("q321_rfm_segments", (s, d) => {
      val day = 86400L * 1000 * 1000 * 1000
      val u = t(s, d, "events").groupBy(col("user_id"))
        .agg(expr(s"max(ts) div ${day}L").as("rec_day"),
          count(lit(1)).as("freq"),
          sum(round(col("value") * 100).cast("long")).as("mon_fp"))
        .localCheckpoint(true)
      def cuts(c: String, width: Int) =
        Quantiles.exactQuantiles(u.select(col(c)), c, width, Seq(33, 67))
          .agg(max(when(col("pct") === 33, col("exact_v"))).as(s"${c}_33"),
            max(when(col("pct") === 67, col("exact_v"))).as(s"${c}_67"))
      def tercile(v: org.apache.spark.sql.Column,
                  c33: org.apache.spark.sql.Column,
                  c67: org.apache.spark.sql.Column) =
        when(v <= c33, 1L).when(v <= c67, 2L).otherwise(3L)
      u.crossJoin(broadcast(cuts("rec_day", 1)))
        .crossJoin(broadcast(cuts("freq", 1)))
        .crossJoin(broadcast(cuts("mon_fp", 1000)))
        .select(col("user_id"),
          tercile(col("rec_day"), col("rec_day_33"), col("rec_day_67"))
            .as("r_t"),
          tercile(col("freq"), col("freq_33"), col("freq_67")).as("f_t"),
          tercile(col("mon_fp"), col("mon_fp_33"), col("mon_fp_67"))
            .as("m_t"))
        .withColumn("segment",
          col("r_t") * 100 + col("f_t") * 10 + col("m_t"))
    },
      // type-1 tercile cutoffs from cumulative counts, then the same
      // CASE assignment — segmentation from first principles
      """WITH u AS (SELECT user_id,
        |    epoch_ns(max(ts)) // 86400000000000 AS rec_day,
        |    count(*)::BIGINT AS freq,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS mon_fp
        |  FROM events GROUP BY user_id),
        |n AS (SELECT count(*)::BIGINT AS n FROM u),
        |rc AS (SELECT min(rec_day) FILTER (WHERE c33) AS c33,
        |         min(rec_day) FILTER (WHERE c67) AS c67 FROM (
        |  SELECT rec_day,
        |    sum(cnt) OVER (ORDER BY rec_day) * 100 >= 33 * n AS c33,
        |    sum(cnt) OVER (ORDER BY rec_day) * 100 >= 67 * n AS c67
        |  FROM (SELECT rec_day, count(*) AS cnt FROM u GROUP BY 1), n)),
        |fc AS (SELECT min(freq) FILTER (WHERE c33) AS c33,
        |         min(freq) FILTER (WHERE c67) AS c67 FROM (
        |  SELECT freq,
        |    sum(cnt) OVER (ORDER BY freq) * 100 >= 33 * n AS c33,
        |    sum(cnt) OVER (ORDER BY freq) * 100 >= 67 * n AS c67
        |  FROM (SELECT freq, count(*) AS cnt FROM u GROUP BY 1), n)),
        |mc AS (SELECT min(mon_fp) FILTER (WHERE c33) AS c33,
        |         min(mon_fp) FILTER (WHERE c67) AS c67 FROM (
        |  SELECT mon_fp,
        |    sum(cnt) OVER (ORDER BY mon_fp) * 100 >= 33 * n AS c33,
        |    sum(cnt) OVER (ORDER BY mon_fp) * 100 >= 67 * n AS c67
        |  FROM (SELECT mon_fp, count(*) AS cnt FROM u GROUP BY 1), n))
        |SELECT user_id,
        |  CASE WHEN rec_day <= rc.c33 THEN 1
        |       WHEN rec_day <= rc.c67 THEN 2 ELSE 3 END::BIGINT AS r_t,
        |  CASE WHEN freq <= fc.c33 THEN 1
        |       WHEN freq <= fc.c67 THEN 2 ELSE 3 END::BIGINT AS f_t,
        |  CASE WHEN mon_fp <= mc.c33 THEN 1
        |       WHEN mon_fp <= mc.c67 THEN 2 ELSE 3 END::BIGINT AS m_t,
        |  (CASE WHEN rec_day <= rc.c33 THEN 1
        |        WHEN rec_day <= rc.c67 THEN 2 ELSE 3 END * 100 +
        |   CASE WHEN freq <= fc.c33 THEN 1
        |        WHEN freq <= fc.c67 THEN 2 ELSE 3 END * 10 +
        |   CASE WHEN mon_fp <= mc.c33 THEN 1
        |        WHEN mon_fp <= mc.c67 THEN 2 ELSE 3 END)::BIGINT
        |    AS segment
        |FROM u, rc, fc, mc""".stripMargin),
    // LAST-TOUCH attribution: each purchase attributed to the user's
    // most recent click no older than 24 h — the as-of join composed
    // with a window-validity filter (a miss or a stale click yields
    // an explicit unattributed row, not a dropped one: reporting
    // needs the denominator). Same one-shuffle shape as q294.
    QuerySpec("q303_attribution", (s, d) => {
      val e = t(s, d, "events")
      val day = 86400L * 1000 * 1000 * 1000
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      AsOfJoin.asOf(
        e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", clicks, "user_id", "click_ts",
        Seq("click_id", "click_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("click_ts").isNotNull &&
            col("ts") - col("click_ts") <= day, col("click_id"))
            .as("attributed_click"),
          (col("click_ts").isNotNull &&
            col("ts") - col("click_ts") <= day).as("attributed"))
    },
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) AS click_ts,
        |        event_id AS click_id
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, p.ts, c.click_ts,
        |        c.click_id,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.click_ts DESC, c.click_id DESC) AS rk
        |      FROM p LEFT JOIN c ON c.user_id = p.user_id
        |        AND c.click_ts <= p.ts)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN click_ts IS NOT NULL
        |        AND ts - click_ts <= 86400000000000
        |       THEN click_id END AS attributed_click,
        |  COALESCE(click_ts IS NOT NULL
        |    AND ts - click_ts <= 86400000000000, FALSE) AS attributed
        |FROM j WHERE rk = 1""".stripMargin),
    // TRAINING-SET builder: q295's trailing features joined — in the
    // same pass — with a FORWARD-looking label (did the user purchase
    // within the next 24 h, frame [+1 ns, +24 h]). The two frames
    // never overlap the row itself, so the extracted set is
    // leakage-free by construction: features end strictly before the
    // event, the label starts strictly after.
    QuerySpec("q297_training_set", (s, d) => {
      val day = 86400L * 1000 * 1000 * 1000
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val back = w.rangeBetween(-7 * day, -1)
      val fwd = w.rangeBetween(1, day)
      t(s, d, "events").select(col("event_id"), col("user_id"),
        col("ts"),
        count(lit(1)).over(back).as("n_prev_7d"),
        coalesce(sum(round(col("value") * 100).cast("long")).over(back),
          lit(0L)).as("sum_value_fp_7d"),
        coalesce(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(fwd), lit(0L)).as("label_purchase_24h"))
    },
      """SELECT event_id, user_id, epoch_ns(ts) AS ts,
        |  count(*) OVER b AS n_prev_7d,
        |  CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT)) OVER b,
        |    0) AS BIGINT) AS sum_value_fp_7d,
        |  CAST(COALESCE(max(CASE WHEN event_type = 'purchase' THEN 1
        |    ELSE 0 END) OVER f, 0) AS BIGINT) AS label_purchase_24h
        |FROM events
        |WINDOW b AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 604800000000000 PRECEDING AND 1 PRECEDING),
        |f AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 1 FOLLOWING
        |            AND 86400000000000 FOLLOWING)""".stripMargin),
    // CDC APPLY: materialize the current per-user snapshot from a
    // log of upserts and deletes — last op per key in (ts, event_id)
    // order wins; a last 'error' (delete) leaves no row. One per-key
    // max, no windows over the log.
    QuerySpec("q286_cdc_snapshot", (s, d) =>
      Cdc.readView(Cdc.snapshot(cdcChanges(t(s, d, "events")),
        "user_id", CdcSeq, "op", CdcPayload)),
      cdcSql),
    // INCREMENTAL CDC: standing snapshot (first 24 days, WITH
    // tombstones) folded with the tail batch, then an OUT-OF-ORDER
    // redelivery of an early slice — upserts older than standing
    // deletes must lose the per-key max (tombstone retention) and
    // duplicates collapse (idempotent max), so the folded view ==
    // from-scratch apply of the whole log: q286's oracle verbatim.
    QuerySpec("q287_cdc_incremental", (s, d) => {
      val ch = cdcChanges(t(s, d, "events"))
      val cut = 1706140800000000000L // 2024-01-25T00:00Z as epoch ns
      val t0 = 1704067200000000000L  // 2024-01-01T00:00Z
      val span = 6L * 86400L * 1000 * 1000 * 1000
      val standing = Cdc.snapshot(ch.filter(col("ts") < cut),
        "user_id", CdcSeq, "op", CdcPayload)
      val folded = Cdc.fold(standing, ch.filter(col("ts") >= cut),
        "user_id", CdcSeq, "op", CdcPayload)
      Cdc.readView(Cdc.fold(folded,
        ch.filter(col("ts") >= t0 + span && col("ts") < t0 + 2 * span),
        "user_id", CdcSeq, "op", CdcPayload))
    },
      // tombstone-retaining fold + out-of-order redelivery must be
      // indistinguishable from the from-scratch apply — q286's verbatim
      cdcSql),
    // The STREAMED CDC fold (StreamingCdc.processCdcBatch) over 5
    // slices plus a replayed slice — idempotent per-key max needs NO
    // landed-batch ledger (the KMV class). q286's oracle verbatim.
    QuerySpec("q288_cdc_stream", (s, d) => {
      val table = "graft_cdc_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val ch = cdcChanges(t(s, d, "events"))
      val t0 = 1704067200000000000L
      val span = 6L * 86400L * 1000 * 1000 * 1000
      def slice(b: Int) = ch.filter(col("ts") >= t0 + b * span &&
        col("ts") < t0 + (b + 1) * span)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingCdc.processCdcBatch(
          slice(b), "user_id", CdcSeq, "op", CdcPayload, table)
      }
      graft.streaming.StreamingCdc.processCdcBatch(
        slice(2), "user_id", CdcSeq, "op", CdcPayload, table)
      Cdc.readView(s.table(table))
    },
      // and the streamed fold with a replayed slice — q286's verbatim
      cdcSql, writes = true),
    // Ordered conversion funnel view → click → purchase with a 1-hour
    // per-step window: K user-keyed joins against a monotonically
    // shrinking qualified set — no windows, no per-user sorting.
    QuerySpec("q238_funnel", (s, d) =>
      UserJourneys.funnel(t(s, d, "events"), "user_id", "ts",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        windowNs = 3600L * 1000 * 1000 * 1000),
      funnelSql),
    // Cohort retention: users bucketed by first-active day, counted
    // again on each of the next 7 days they return.
    QuerySpec("q239_cohort_retention", (s, d) =>
      UserJourneys.cohortRetention(t(s, d, "events"), "user_id", "ts",
        dayNs = 86400L * 1000 * 1000 * 1000, maxK = 7),
      cohortSql),
    // Change capture → SCD Type 2: each user's event-type stream
    // collapsed to its change points with effective [from, to) ranges
    // (to = null for the current state) — the dimension-history build
    // a lakehouse MERGE pipeline maintains.
    QuerySpec("q240_scd2_states", (s, d) =>
      UserJourneys.scd2States(t(s, d, "events"), "user_id", "ts",
        "event_type", "event_id"),
      scd2Sql),
    // Incremental cohort retention: the (user, cohort_day, k) grid —
    // ≤ maxK+1 rows per user, ever — folded with the last days'
    // activity; replayed days are anti-join no-ops. == from-scratch
    // q239, its oracle verbatim.
    QuerySpec("q252_cohort_incremental", (s, d) => {
      val e = t(s, d, "events")
      val cut = 1706140800000000000L
      val day = 86400L * 1000 * 1000 * 1000
      val grid = UserJourneys.cohortGrid(e.filter(col("ts") < cut),
        "user_id", "ts", day, 7)
      UserJourneys.cohortCounts(UserJourneys.cohortFold(grid,
        e.filter(col("ts") >= cut), "user_id", "ts", day, 7))
    },
      // grid fold == from-scratch — q239's oracle verbatim
      cohortSql),
    // Incremental funnel: per-user step-time state (K timestamps)
    // folded with the batch — standing times can never be beaten by
    // later events, so gaps fill from the batch alone. ==
    // from-scratch q238, its oracle verbatim.
    QuerySpec("q253_funnel_incremental", (s, d) => {
      val e = t(s, d, "events")
      val cut = 1706140800000000000L
      val steps = Seq("view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))
      val w = 3600L * 1000 * 1000 * 1000
      val state = UserJourneys.funnelStates(e.filter(col("ts") < cut),
        "user_id", "ts", steps, w)
      UserJourneys.funnelCounts(
        UserJourneys.funnelFold(state, e.filter(col("ts") >= cut),
          "user_id", "ts", steps, w),
        "user_id", steps.map(_._1))
    },
      // the per-user-state fold must be indistinguishable from
      // from-scratch — q238's oracle verbatim
      funnelSql),
    // The STREAMING SCD2 sink (StreamingJourneys.processScd2Batch)
    // driven over 5 six-day batches PLUS a deliberate replay of batch
    // 2: the fold is replay-IDEMPOTENT (duplicated change rows and
    // re-seen non-changes both collapse), so at-least-once needs no
    // ledger — the KMV contrast to the CMS/hist sinks. Final table ==
    // from-scratch q240, its oracle verbatim.
    QuerySpec("q254_scd2_stream", (s, d) => {
      val table = "graft_scd2_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val e = t(s, d, "events")
      val t0 = 1704067200000000000L // 2024-01-01T00:00Z as epoch ns
      val span = 6L * 86400L * 1000 * 1000 * 1000
      def slice(b: Int) = e.filter(col("ts") >= t0 + b * span &&
        col("ts") < t0 + (b + 1) * span)
      (0 until 5).foreach { b =>
        graft.streaming.StreamingJourneys.processScd2Batch(
          slice(b), "user_id", "ts", "event_type", "event_id", table)
      }
      graft.streaming.StreamingJourneys.processScd2Batch(
        slice(2), "user_id", "ts", "event_type", "event_id", table)
      s.table(table)
    },
      // and the streamed fold with a replayed batch collapsing to a
      // no-op — q240's oracle verbatim
      scd2Sql, writes = true),
    // Incremental SCD2: the standing table (first 24 days) folded
    // with the last days' events — work ∝ batch + touched users'
    // change rows; untouched users pass through verbatim (the
    // trust-not-recompute spec corrupts one to prove it). Output ==
    // from-scratch q240, its oracle verbatim.
    QuerySpec("q251_scd2_incremental", (s, d) => {
      val e = t(s, d, "events")
      val cut = 1706140800000000000L // 2024-01-25T00:00Z as epoch ns
      val standing = UserJourneys.scd2States(e.filter(col("ts") < cut),
        "user_id", "ts", "event_type", "event_id")
      UserJourneys.scd2Fold(standing, e.filter(col("ts") >= cut),
        "user_id", "ts", "event_type", "event_id")
    },
      // the fold over (standing change rows ∪ batch) must be
      // indistinguishable from from-scratch — q240's oracle verbatim
      scd2Sql),
    // k-anonymity audit over the (event_type, value-bucket) quasi-
    // identifier: groups reaching fewer than 10 distinct users are
    // re-identification risks a privacy gate must suppress.
    QuerySpec("q241_k_anonymity", (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 5).cast("long").as("vb"))
        .agg(countDistinct(col("user_id")).as("users"))
        .withColumn("k_ok", col("users") >= 10),
      """SELECT event_type, CAST(floor(value / 5) AS BIGINT) AS vb,
        | count(DISTINCT user_id) AS users,
        | count(DISTINCT user_id) >= 10 AS k_ok
        |FROM events GROUP BY 1, 2""".stripMargin),
    // Sensor-dropout detection: per-user gaps between consecutive
    // events exceeding 2 hours, with bounds and duration — the data-
    // completeness audit a lab ingest runs per channel. One
    // user-partitioned lag.
    QuerySpec("q256_gap_report", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull &&
          col("ts") - col("prev_ts") > 7200L * 1000 * 1000 * 1000)
        .select(col("user_id"), col("prev_ts").as("gap_start"),
          col("ts").as("gap_end"),
          (col("ts") - col("prev_ts")).as("gap_ns"))
    },
      """WITH g AS (SELECT user_id, epoch_ns(ts) AS t,
        |  lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts), event_id) AS pt
        | FROM events)
        |SELECT user_id, pt AS gap_start, t AS gap_end, t - pt AS gap_ns
        |FROM g WHERE pt IS NOT NULL AND t - pt > 7200000000000""".stripMargin),
    // Resample each user's purchase series onto a fixed 6-hour grid
    // with last-observation-carried-forward — the irregular-to-
    // regular alignment every downstream time-series consumer wants,
    // expressed as the existing as-of join against a GENERATED grid
    // (users × 120 points over the month; null before first sample).
    QuerySpec("q257_resample_grid", (s, d) => {
      val e = t(s, d, "events")
      val t0 = 1704067200000000000L
      val step = 6L * 3600 * 1000 * 1000 * 1000
      val grid = e.select(col("user_id")).distinct()
        .crossJoin(s.range(120).select((lit(t0) + col("id") * step)
          .as("gts")))
      AsOfJoin.asOf(grid, "user_id", "gts",
        e.filter(col("event_type") === "purchase"), "user_id", "ts",
        Seq("value"))
    },
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |g AS (SELECT user_id,
        |        1704067200000000000 + i * 21600000000000 AS gts
        |      FROM u CROSS JOIN (SELECT unnest(range(120)) AS i) r),
        |p AS (SELECT user_id, epoch_ns(ts) AS t, value FROM events
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT g.user_id, g.gts, p.value,
        |        row_number() OVER (PARTITION BY g.user_id, g.gts
        |          ORDER BY p.t DESC, p.value DESC) AS rk
        |      FROM g LEFT JOIN p
        |        ON g.user_id = p.user_id AND p.t <= g.gts)
        |SELECT user_id, gts, value FROM j WHERE rk = 1""".stripMargin),
    // Peak detection over each user's purchase value series: strict
    // local maxima above an absolute floor — the thermal-analysis
    // "find the exotherm" shape on the events stand-in. One
    // user-partitioned lag/lead pass.
    QuerySpec("q258_peak_detect", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events").filter(col("event_type") === "purchase")
        .withColumn("pv", lag(col("value"), 1).over(w))
        .withColumn("nv", lead(col("value"), 1).over(w))
        .filter(col("pv").isNotNull && col("nv").isNotNull &&
          col("value") > col("pv") && col("value") > col("nv") &&
          col("value") >= 10.0)
        .select(col("user_id"), col("ts").as("peak_ts"), col("value"))
    },
      """WITH w AS (SELECT user_id, epoch_ns(ts) AS t, value, event_id,
        |  lag(value) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts), event_id) AS pv,
        |  lead(value) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts), event_id) AS nv
        | FROM events WHERE event_type = 'purchase')
        |SELECT user_id, t AS peak_ts, value
        |FROM w WHERE pv IS NOT NULL AND nv IS NOT NULL
        |  AND value > pv AND value > nv AND value >= 10""".stripMargin),
    // For each click, the user's most recent purchase at or before it.
    QuerySpec("q27_asof_join", (s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_event_id"))
      AsOfJoin.asOf(clicks, "user_id", "ts", purchases, "user_id", "ts",
        Seq("purchase_event_id"))
        .select(col("event_id"), col("purchase_event_id"))
    },
      // Mirrors AsOfJoin.asOf's union+window shape INCLUDING its
      // deterministic tie-break (at equal ts: purchases before clicks,
      // greatest purchase event_id wins) — DuckDB's native ASOF JOIN
      // leaves the tie choice unspecified, so parity would otherwise
      // depend on the data having no duplicate (user_id, ts).
      """WITH cp AS (SELECT * FROM events WHERE event_type IN ('click','purchase')),
        |w AS (SELECT event_id, event_type,
        |  last_value(CASE WHEN event_type='purchase' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |          ORDER BY epoch_ns(ts),
        |                   CASE WHEN event_type='purchase' THEN 0 ELSE 1 END,
        |                   CASE WHEN event_type='purchase' THEN event_id END
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_event_id
        | FROM cp)
        |SELECT event_id, purchase_event_id FROM w WHERE event_type = 'click'""".stripMargin),
    // Interpolate each user's purchase `value` series at click times.
    QuerySpec("q28_interpolate", (s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
      Interpolate.linear(clicks, "user_id", "ts", purchases, "user_id", "ts", "value")
        .select(col("event_id"), round(col("value_interp"), 4).as("value_interp"))
    },
      """WITH cp AS (SELECT * FROM events WHERE event_type IN ('click','purchase')),
        |w AS (SELECT event_id, event_type, epoch_ns(ts) AS t,
        |  last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
        |    OVER back AS v0,
        |  last_value(CASE WHEN event_type='purchase' THEN epoch_ns(ts) END IGNORE NULLS)
        |    OVER back AS t0,
        |  first_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
        |    OVER fwd AS v1,
        |  first_value(CASE WHEN event_type='purchase' THEN epoch_ns(ts) END IGNORE NULLS)
        |    OVER fwd AS t1
        | FROM cp
        | WINDOW back AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |        fwd AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id,
        | round(CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL
        |            THEN v0 + (v1 - v0) * ((t - t0) / (t1 - t0))
        |            WHEN v0 IS NOT NULL THEN v0 ELSE v1 END, 4) AS value_interp
        |FROM w WHERE event_type = 'click'""".stripMargin),
    // Batch-equivalent of the streaming 10-minute tumbling window agg.
    QuerySpec("q29_window_agg", (s, d) =>
      t(s, d, "events")
        .groupBy(expr("ts div 600000000000").as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total")),
      """SELECT epoch_ns(ts) // 600000000000 AS bucket, event_type,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),
    // SLIDING (hopping) windows — q29's tumbling bucket generalized to
    // overlap: 10-minute windows every 5 minutes via Spark's native
    // window() generator (each event fans out to size/slide = 2
    // windows; epoch-aligned starts). The oracle reproduces the
    // fan-out as a 2-way shifted-bucket union. Sums in fixed point.
    QuerySpec("q341_sliding_window", (s, d) =>
      t(s, d, "events")
        .withColumn("tm", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("tm"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("total_fp"))
        .select(unix_micros(col("window.start")).as("ws"),
          unix_micros(col("window.end")).as("we"),
          col("event_type"), col("n"), col("total_fp")),
      """WITH w1 AS (
        |  SELECT epoch_us(ts) // 300000000 * 300000000 AS ws,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS vfp
        |  FROM events
        |  UNION ALL
        |  SELECT (epoch_us(ts) // 300000000 - 1) * 300000000,
        |    event_type, CAST(round(value * 100) AS BIGINT)
        |  FROM events)
        |SELECT CAST(ws AS BIGINT) AS ws,
        |  CAST(ws + 600000000 AS BIGINT) AS we, event_type,
        |  count(*)::BIGINT AS n, CAST(sum(vfp) AS BIGINT) AS total_fp
        |FROM w1 GROUP BY ws, event_type""".stripMargin),
    // LATENESS AUDIT — the watermark design table: under a given
    // arrival order, how many events would a delay-W watermark drop
    // (event time behind the max already seen). The synthetic table
    // is stored in perfect event-time order, so the arrival sequence
    // is the portable 48-bit hash permutation of event_id (a
    // deterministic stand-in for network arrival). The running max
    // over arrival order is TWO-PHASE like the prefix sums: 4096
    // hash-range buckets → per-bucket maxima prefix-maxed on the
    // bounded side, the corpus-sized window only partitions by
    // bucket. Never a global single-task sort.
    QuerySpec("q345_lateness_audit", (s, d) => {
      val uP = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val e = t(s, d, "events").select(col("event_id"), col("ts"))
        .withColumn("h",
          expr("conv(substr(md5(cast(event_id as string)),1,12),16,10)")
            .cast("long"))
        .withColumn("bucket", expr("h div 68719476736")) // 2^36: 4096 buckets
      val bmax = e.groupBy(col("bucket")).agg(max(col("ts")).as("bm"))
      val wB = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket")).rowsBetween(uP, -1)
      val pre = bmax // bounded: <= 4096 rows through the one-task window
        .withColumn("pm", max(col("bm")).over(wB))
        .select(col("bucket"), col("pm"))
      val wIn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("h"), col("event_id"))
        .rowsBetween(uP, -1)
      val lat = e.join(broadcast(pre), Seq("bucket"))
        .withColumn("prev", greatest(coalesce(col("pm"), lit(0L)),
          coalesce(max(col("ts")).over(wIn), lit(0L))))
        .withColumn("late_us",
          greatest(lit(0L), expr("(prev - ts) div 1000")))
        .localCheckpoint(true) // three threshold scans share one pass
      val day = 86400L * 1000000
      Seq(day, 7 * day, 30 * day).map { w0 =>
        lat.agg(
            sum(when(col("late_us") > w0, 1L).otherwise(0L))
              .cast("long").as("n_dropped"),
            count(lit(1)).as("n_total"))
          .select(lit(w0).as("w_us"), col("n_dropped"),
            expr("n_dropped * 10000 div n_total").cast("long")
              .as("drop_bp"))
      }.reduce(_ unionByName _)
    },
      """WITH a AS (SELECT event_id, epoch_us(ts) AS t,
        |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
        |    ::BIGINT AS h
        | FROM events),
        |lm AS (SELECT t, max(t) OVER (ORDER BY h, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM a),
        |lt AS (SELECT GREATEST(0, COALESCE(pm - t, 0)) AS late FROM lm),
        |tot AS (SELECT count(*)::BIGINT AS n FROM lt)
        |SELECT w_us, n_dropped,
        |  CAST(n_dropped * 10000 // n AS BIGINT) AS drop_bp
        |FROM (
        |  SELECT CAST(86400000000 AS BIGINT) AS w_us,
        |    count(*) FILTER (WHERE late > 86400000000)::BIGINT
        |      AS n_dropped FROM lt
        |  UNION ALL SELECT 604800000000,
        |    count(*) FILTER (WHERE late > 604800000000) FROM lt
        |  UNION ALL SELECT 2592000000000,
        |    count(*) FILTER (WHERE late > 2592000000000) FROM lt) x, tot"""
        .stripMargin),
    // Range (interval) join: clicks falling inside [purchase, +10min]
    // windows of the same user. Spark plans a naive time-inequality
    // join as BroadcastNestedLoop — quadratic; instead intervals and
    // points are bucketed by a stride equal to the window length, so
    // each interval lands in ≤2 buckets, the join is a plain
    // EQUI-join on (user, bucket), and the exact containment filter
    // runs on candidates only. The shape that survives 100 TB.
    QuerySpec("q38_range_join", (s, d) => {
      // µs timestamps on both sides (DuckDB sees the NANOS column at
      // µs precision; sub-µs boundary flips would break parity)
      val winNs = 600L * 1000 * 1000
      val e = t(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_event_id"),
          expr("ts div 1000").as("p_ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000").as("c_ts"))
      val pB = purchases.withColumn("bucket",
        explode(sequence(expr(s"p_ts div $winNs"), expr(s"(p_ts + $winNs) div $winNs"))))
      val cB = clicks.withColumn("bucket", expr(s"c_ts div $winNs"))
      val hits = pB.join(cB, Seq("user_id", "bucket"))
        .filter(col("c_ts") >= col("p_ts") && col("c_ts") <= col("p_ts") + winNs)
        .groupBy(col("purchase_event_id")).agg(count(lit(1)).as("n_clicks"))
      purchases.join(hits, Seq("purchase_event_id"), "left")
        .select(col("purchase_event_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
    },
      // DuckDB handles the time-inequality join directly; the Spark
      // side reaches the same rows via bucketed equi-join + filter.
      """SELECT p.event_id AS purchase_event_id,
        | CAST(count(c.event_id) AS BIGINT) AS n_clicks
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts)
        | AND epoch_us(c.ts) <= epoch_us(p.ts) + 600000000
        |GROUP BY p.event_id""".stripMargin),
    // Batch sessionization (gaps-and-islands): the oracle-checkable
    // twin of streaming Sessionize — session boundary where the gap
    // to the previous event exceeds 30 min, then per-session stats.
    QuerySpec("q39_sessionize_batch", (s, d) => {
      // microsecond timestamps on both sides: DuckDB reads the
      // TIMESTAMP(NANOS) column at µs precision
      val gapUs = 1800L * 1000 * 1000
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t"))
      t(s, d, "events")
        .withColumn("t", expr("ts div 1000"))
        .withColumn("prev_t", lag(col("t"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_t").isNull || col("t") - col("prev_t") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("t")).as("session_start"), max(col("t")).as("session_end"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
    },
      sessSql),
    // INCREMENTAL sessionization: standing state is the finished
    // per-user session table over old events (sums kept unrounded —
    // the foldable form); a strictly-later batch can only EXTEND each
    // user's last session or append new ones, never restructure
    // history, so the fold is: sessionize the batch alone, attach its
    // first per-user session to the standing last when the boundary
    // gap allows (start/end/count/sum fold), shift the rest's ids by
    // the standing max. Per-batch work = batch scan + a touched-user
    // join against the |users|-bounded last-session slice. Output ==
    // from-scratch q39 (its oracle VERBATIM).
    QuerySpec("q271_sessionize_incremental", (s, d) => {
      val gapUs = 1800L * 1000 * 1000
      val w = org.apache.spark.sql.expressions.Window
      val ub = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val ev = t(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("t"), col("value"))
      val r = ev.agg(min(col("t")), max(col("t"))).head
      val q80 = r.getLong(1) - (r.getLong(1) - r.getLong(0)) / 5
      // place the cut INSIDE a session — the within-gap consecutive
      // pair nearest the 80% timeline point — so the boundary-merge
      // branch is provably exercised, not vacuously green (no
      // ~30-minute gap straddles a round timestamp in this stream)
      val cut = ev
        .withColumn("prev_t", lag(col("t"), 1).over(
          w.partitionBy(col("user_id")).orderBy(col("t"))))
        .filter(col("prev_t").isNotNull &&
          col("t") - col("prev_t") <= gapUs && col("t") =!= col("prev_t"))
        .select(((col("prev_t") + col("t")) / 2).cast("long").as("mid"))
        .orderBy(abs(col("mid") - q80)).limit(1)
        .collect().headOption.map(_.getLong(0)).getOrElse(q80)
      val oldEv = ev.filter(col("t") <= cut)
      val batch = ev.filter(col("t") > cut)
      def sess(df: DataFrame) = df
        .withColumn("prev_t", lag(col("t"), 1).over(
          w.partitionBy(col("user_id")).orderBy(col("t"))))
        .withColumn("new_session",
          when(col("prev_t").isNull || col("t") - col("prev_t") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          w.partitionBy(col("user_id")).orderBy(col("t"))
            .rowsBetween(ub, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("t")).as("session_start"),
          max(col("t")).as("session_end"),
          count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      val standing = sess(oldEv).localCheckpoint(true)
      val bs = sess(batch)
      val last = standing.groupBy(col("user_id"))
        .agg(max(col("session_id")).as("max_sid"))
        .join(standing.select(col("user_id"),
          col("session_id").as("max_sid"),
          col("session_start").as("l_start"), col("session_end").as("l_end"),
          col("n_events").as("l_n"), col("sum_value").as("l_sum")),
          Seq("user_id", "max_sid"))
      val bj = bs.join(last, Seq("user_id"), "left")
        .withColumn("merges", col("session_id") === 1L &&
          col("l_end").isNotNull &&
          (col("session_start") - col("l_end")) <= gapUs)
        .withColumn("shift", max(when(col("merges"), 1L).otherwise(0L))
          .over(w.partitionBy(col("user_id"))))
        .withColumn("base", coalesce(col("max_sid"), lit(0L)))
      val mergedRows = bj.filter(col("merges"))
        .select(col("user_id"), col("max_sid").as("session_id"),
          col("l_start").as("session_start"), col("session_end"),
          (col("l_n") + col("n_events")).as("n_events"),
          (col("l_sum") + col("sum_value")).as("sum_value"))
      val freshRows = bj.filter(!col("merges"))
        .select(col("user_id"),
          (col("base") + col("session_id") - col("shift")).as("session_id"),
          col("session_start"), col("session_end"), col("n_events"),
          col("sum_value"))
      standing.join(mergedRows.select(col("user_id"), col("session_id")),
          Seq("user_id", "session_id"), "left_anti")
        .unionByName(mergedRows).unionByName(freshRows)
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_events"),
          round(col("sum_value"), 2).as("total_value"))
    },
      // fold(standing sessions, batch) == from-scratch sessionization —
      // q39's oracle VERBATIM, including the boundary merge where the
      // batch's first per-user session attaches to the standing last
      sessSql),
    // Batch twin of the streaming stream-stream join (unified
    // semantics: EventStreaming.joinWithin runs unchanged on batch
    // frames, the watermark becoming a no-op): each purchase matched
    // with the same user's clicks at most 10 minutes earlier. The
    // equi-key keeps Spark on a sort-merge join with the time range
    // as a post-filter — never a nested-loop.
    QuerySpec("q45_stream_join_batch", (s, d) => {
      val e = t(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
      val clicks = e.filter(col("event_type") === "click")
      graft.streaming.EventStreaming.joinWithin(purchases, clicks,
          "user_id", watermark = "10 minutes", within = "10 minutes")
        .select(col("l_event_id").as("purchase_event_id"),
          col("r_event_id").as("click_event_id"))
    },
      // µs precision both sides (see q38's note on the NANOS column)
      """SELECT p.event_id AS purchase_event_id, c.event_id AS click_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin),
    // Same semantics as q27 through the NATIVE as-of operator (custom
    // logical node + strategy + merge-join exec, graft.plans) — both
    // run against the same DuckDB oracle.
    // Windowed anomaly detection: per-(event_type, 10-min window)
    // counts z-scored against THAT event type's own window
    // distribution — the "did the error rate spike" query. Composes
    // the tumbling-window agg with the per-key outlier gate; windows
    // whose count sits >3σ from their type's mean fail.
    QuerySpec("q96_window_anomaly", (s, d) => {
      val counts = t(s, d, "events")
        .groupBy(expr("ts div 600000000000").as("bucket"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"))
      Curation.zScoreGatePerKey(counts, "event_type", "bucket", "n",
        maxAbsZ = 3.0)
    },
      // q35 = q27 semantics through the native merge operator; the
      // window-form oracle (same tie-break) applies unchanged.
      """WITH c AS (SELECT epoch_ns(ts) // 600000000000 AS bucket, event_type,
        |             CAST(count(*) AS DOUBLE) AS n
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
        |       FROM c GROUP BY event_type)
        |SELECT c.event_type, c.bucket, c.n,
        |       round((c.n - st.mu) / st.sd, 4) + 0.0 AS z,
        |       (abs(round((c.n - st.mu) / st.sd, 4) + 0.0) <= 3.0) AS pass
        |FROM c JOIN st USING (event_type)""".stripMargin),
    // Robust outlier detection: per-event-type median/MAD gate — the
    // z-score gate's 50%-breakdown sibling (the anomalies can't drag
    // the baseline). Pass/fail compares full-precision doubles on
    // both sides; the min |dev − 3·MAD| margin on this data is 0.02,
    // nine orders above any interpolation-formula ulp drift.
    QuerySpec("q103_mad_outliers", (s, d) =>
      Curation.madGatePerKey(
        t(s, d, "events").select(col("event_type"), col("event_id"), col("value")),
        "event_type", "event_id", "value", nMads = 3.0),
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY event_type),
        |wm AS (SELECT e.event_type, e.event_id, e.value,
        |         abs(e.value - m.med) AS rawdev
        |       FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(rawdev, 0.5) AS mad
        |        FROM wm GROUP BY event_type)
        |SELECT wm.event_type, wm.event_id, wm.value,
        |       round(wm.rawdev, 4) + 0.0 AS dev,
        |       (wm.rawdev <= 3.0 * mad.mad) AS pass
        |FROM wm JOIN mad USING (event_type)""".stripMargin),
    // Rate-trend detection: least-squares slope of each event type's
    // per-10-min-window count over the window index — "is this
    // signal's rate drifting?". Exact integer moments after per-key
    // centering (see Trend.slopePerKey for why regr_slope on raw
    // epochs is numerically unusable), so both engines compute the
    // identical division.
    QuerySpec("q105_rate_trend", (s, d) => {
      val counts = t(s, d, "events")
        .groupBy(col("event_type"), expr("ts div 600000000000").as("bucket"))
        .agg(count(lit(1)).as("n_events"))
      Trend.slopePerKey(counts, "event_type", "bucket", "n_events")
    },
      """WITH c AS (SELECT event_type, epoch_ns(ts) // 600000000000 AS bucket,
        |             count(*) AS y
        |           FROM events GROUP BY 1, 2),
        |x0 AS (SELECT event_type, min(bucket) AS x0 FROM c GROUP BY event_type),
        |m AS (SELECT c.event_type, count(*) AS n,
        |        sum(bucket - x0) AS sx, sum(y) AS sy,
        |        sum((bucket - x0) * y) AS sxy,
        |        sum((bucket - x0) * (bucket - x0)) AS sxx
        |      FROM c JOIN x0 USING (event_type) GROUP BY c.event_type)
        |SELECT event_type, n,
        |       round((n * sxy - sx * sy)::DOUBLE /
        |             (n * sxx - sx * sx)::DOUBLE, 4) + 0.0 AS slope
        |FROM m WHERE n * sxx - sx * sx <> 0""".stripMargin),
    // ONLINE anomaly detection: each event z-scored against its
    // type's EXCLUSIVE prefix (everything before it in event order) —
    // the streaming-deployable form of q96's full-corpus baseline;
    // RunningAnomaly.scored is the same fold as per-key streaming
    // state, spec-pinned equal to this window form.
    QuerySpec("q108_running_anomaly", (s, d) =>
      graft.streaming.RunningAnomaly.batch(
        t(s, d, "events").select(col("event_type"), col("event_id"), col("value")),
        "event_type", "event_id", "value", maxAbsZ = 3.0, minPrior = 5L),
      """WITH p AS (SELECT event_type, event_id, value,
        |  count(value) OVER w AS n,
        |  sum(value) OVER w AS s,
        |  sum(value * value) OVER w AS ss
        | FROM events
        | WINDOW w AS (PARTITION BY event_type ORDER BY event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_type, event_id, value, COALESCE(n, 0) AS n,
        |  CASE WHEN COALESCE(n, 0) >= 5
        |        AND (ss - s * s / n) / (n - 1) > 0
        |       THEN round((value - s / n) / sqrt((ss - s * s / n) / (n - 1)), 4) + 0.0
        |  END AS z
        | FROM p)
        |SELECT event_type, event_id, value, n, z,
        |       COALESCE(abs(z) > 3.0, false) AS flag
        |FROM z""".stripMargin),
    // Behavioral sequence mining: each user's event-type stream in
    // event order, shingled into trigrams, counted corpus-wide — the
    // "what do journeys look like" query, built from the SAME shingle
    // machinery as the text pipeline. One exchange per stage (user
    // reassembly, trigram count), both map-side combined; sequences
    // are event-type tokens, never payloads.
    QuerySpec("q90_event_trigrams", (s, d) => {
      import graft.functions.TextFunctions.shingles
      val seqs = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("event_id"), col("event_type")))),
          x => x.getField("event_type"))).as("seq"))
      seqs.select(explode(shingles(col("seq"), 3)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
    },
      """WITH seqs AS (SELECT user_id,
        |                string_agg(event_type, ' ' ORDER BY event_id) AS seq
        |              FROM events GROUP BY user_id),
        |toks AS (SELECT user_id, string_split(seq, ' ') AS w FROM seqs),
        |g AS (SELECT unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                     for i in range(1, len(w) - 1)]) AS gram
        |      FROM toks)
        |SELECT gram, count(*) AS n FROM g GROUP BY gram""".stripMargin),
    // Schema-on-read JSON props: extract a typed field from the
    // string-JSON payload column and aggregate per event type —
    // the everyday "the interesting field is inside a JSON blob"
    // query; extraction is a codegen projection, no UDF.
    QuerySpec("q91_props_extract", (s, d) =>
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          round(avg(col("k")), 4).as("avg_k")),
      """SELECT event_type, count(*) AS n,
        |       min(json_extract(props, '$.k')::BIGINT) AS min_k,
        |       max(json_extract(props, '$.k')::BIGINT) AS max_k,
        |       round(avg(json_extract(props, '$.k')::BIGINT), 4) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("q35_asof_native", (s, d) => {
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_event_id"))
      graft.plans.NativeAsOf.asOf(clicks, "user_id", "ts",
          purchases, "user_id", "ts", Seq("purchase_event_id"))
        .select(col("event_id"), col("purchase_event_id"))
    },
      """WITH cp AS (SELECT * FROM events WHERE event_type IN ('click','purchase')),
        |w AS (SELECT event_id, event_type,
        |  last_value(CASE WHEN event_type='purchase' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |          ORDER BY epoch_ns(ts),
        |                   CASE WHEN event_type='purchase' THEN 0 ELSE 1 END,
        |                   CASE WHEN event_type='purchase' THEN event_id END
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_event_id
        | FROM cp)
        |SELECT event_id, purchase_event_id FROM w WHERE event_type = 'click'""".stripMargin))

  /** q238's oracle — and q253's VERBATIM. */
  private lazy val funnelSql: String =
    """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= v.t
      |        AND epoch_ns(e.ts) <= v.t + 3600000000000
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= c.t
      |        AND epoch_ns(e.ts) <= c.t + 3600000000000
      |      GROUP BY e.user_id)
      |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      |       count(*) AS users FROM v
      |UNION ALL SELECT 2, 'click', count(*) FROM c
      |UNION ALL SELECT 3, 'purchase', count(*) FROM p""".stripMargin

  /** q239's oracle — and q252's VERBATIM. */
  private lazy val cohortSql: String =
    """WITH dg AS (SELECT DISTINCT user_id AS u,
      |              epoch_ns(ts) // 86400000000000 AS d FROM events),
      |ch AS (SELECT u, min(d) AS cohort_day FROM dg GROUP BY u)
      |SELECT cohort_day, d - cohort_day AS k, count(DISTINCT u) AS users
      |FROM dg JOIN ch USING (u)
      |WHERE d - cohort_day <= 7 GROUP BY cohort_day, k""".stripMargin

  /** q240's oracle — and q251's VERBATIM (the invariant pattern: the
    * incremental SCD2 fold must equal the from-scratch build). */
  private lazy val scd2Sql: String =
    """WITH w AS (SELECT user_id, event_type, epoch_ns(ts) AS t, event_id,
      |  lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY epoch_ns(ts), event_id) AS prev
      | FROM events),
      |ch AS (SELECT user_id, event_type, t, event_id FROM w
      |       WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, t AS valid_from,
      |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |    AS valid_to, event_id
      |FROM ch""".stripMargin

  /** q286/q287/q288 shared oracle: from-scratch CDC apply — last op
    * per user in (ts, event_id) order, deletes leave no row. */
  private val cdcSql: String =
    """WITH c AS (SELECT user_id, epoch_ns(ts) AS ts, event_id,
      |  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |  event_type, value FROM events),
      |l AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rk FROM c)
      |SELECT user_id, ts, event_id, event_type, value
      |FROM l WHERE rk = 1 AND op <> 'D'""".stripMargin

}
