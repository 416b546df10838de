package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.DecayedSum.decayedSumFixedOver

/** Gate queries for the post-training data-prep family ([[Sft]]),
  * plus the engine ops that ride the same events/documents tables:
  * the padding-efficiency batch plan, PSI drift, and the native
  * decayed-sum window function. Oracles mirror every construction in
  * DuckDB SQL over the identical parquet — rendered TEXT is compared
  * by md5 inside the hash, so the template bytes themselves are
  * gate-pinned, not just the counts. */
object SftQueries {

  private def ev(s: SparkSession, d: String): DataFrame = t(s, d, "events")
  private def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")

  /** Shared oracle prefix: events → sessionized role-tagged rows →
    * merged turns (gaps-and-islands on role) with rendered per-turn
    * text. Mirrors [[Sft.rawTurns]] + [[Sft.mergedTurns]] exactly —
    * single-space joins, `<|role|>` tags, (t, event_id) order. */
  private[operators] val turnsCte: String =
    """raw AS (SELECT user_id, epoch_us(ts) AS t, event_id,
      |  CASE WHEN event_type IN ('click','view') THEN 'user'
      |       ELSE 'assistant' END AS role,
      |  event_type || '#' ||
      |    CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS content,
      |  CAST(round(value * 100) AS BIGINT) AS value_fp,
      |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS prev_t
      | FROM events),
      |sid AS (SELECT user_id, t, event_id, role, content, value_fp,
      |  CAST(sum(CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000
      |                THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS session_id FROM raw),
      |tr AS (SELECT *, CASE WHEN lag(role) OVER
      |    (PARTITION BY user_id, session_id ORDER BY t, event_id)
      |    IS DISTINCT FROM role THEN 1 ELSE 0 END AS rc FROM sid),
      |tid AS (SELECT *, CAST(sum(rc) OVER
      |    (PARTITION BY user_id, session_id ORDER BY t, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS turn_id FROM tr),
      |turns AS (SELECT user_id, session_id, turn_id, role,
      |  count(*)::BIGINT AS n_events,
      |  CAST(sum(value_fp) AS BIGINT) AS value_fp,
      |  CAST(min(t) AS BIGINT) AS t0, CAST(max(t) AS BIGINT) AS t1,
      |  '<|' || role || '|> ' ||
      |    string_agg(content, ' ' ORDER BY t, event_id) AS turn_text
      | FROM tid GROUP BY user_id, session_id, turn_id, role),
      |cst AS (SELECT user_id, session_id, count(*)::BIGINT AS n_turns,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(sum(value_fp) AS BIGINT) AS sum_value_fp,
      |  (array_agg(role ORDER BY turn_id))[1] AS first_role,
      |  (array_agg(role ORDER BY turn_id DESC))[1] AS last_role
      | FROM turns GROUP BY user_id, session_id),
      |conv AS (SELECT user_id, session_id, count(*)::BIGINT AS n_turns,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  string_agg(turn_text, ' ' ORDER BY turn_id) AS rendered
      | FROM turns GROUP BY user_id, session_id)""".stripMargin

  /** PSI input rows (doc_id kept for the incremental split): wave =
    * (doc_id div 20) % 2 — doc_id % 2 would be vacuous here because
    * the synthetic source column IS doc_id % 20 (every source would
    * see exactly one wave); bin = length centile. */
  private def psiInput(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("source"),
      (expr("doc_id div 20") % 2).as("wave"),
      least(expr("n_chars div 100"), lit(5L)).as("bin"))

  /** q323's projection of a rendered-conversations frame — shared by
    * the from-scratch, incremental, and streaming forms so all three
    * hash against the same oracle. */
  private def renderOut(rendered: DataFrame): DataFrame =
    rendered.select(col("user_id"), col("session_id"),
      length(col("rendered")).cast("long").as("n_chars"),
      col("n_tokens"), md5(col("rendered")).as("render_md5"))

  /** The 80/20 time split every events-incremental query uses: all
    * batch events are strictly later than all old events. */
  private def timeSplit(e: DataFrame): (DataFrame, DataFrame) = {
    val withT = e.withColumn("__t", expr("ts div 1000"))
    val mm = withT.agg(min(col("__t")).as("a"), max(col("__t")).as("b"))
      .head()
    val thresh = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 4 / 5
    (withT.filter(col("__t") <= thresh).drop("__t"),
      withT.filter(col("__t") > thresh).drop("__t"))
  }

  lazy val specs: Seq[QuerySpec] = Seq(
    // Conversation assembly: sessionize the event log, tag roles,
    // merge consecutive same-role events into turns — the per-
    // conversation shape report an SFT pipeline reads before
    // templating. All counts/sums integer; first/last role via
    // struct-ordered min/max (turn_id is unique within conversation).
    QuerySpec("q322_conversations", (s, d) =>
      Sft.mergedTurns(ev(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(sum(col("n_events")).cast("long").as("n_events"),
          count(lit(1)).as("n_turns"),
          min(struct(col("turn_id"), col("role"))).as("__f"),
          max(struct(col("turn_id"), col("role"))).as("__l"),
          sum(col("value_fp")).cast("long").as("sum_value_fp"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("n_turns"), col("__f.role").as("first_role"),
          col("__l.role").as("last_role"), col("sum_value_fp")),
      convStatsSql),
    // Deterministic chat-template render: the exact bytes a trainer
    // would tokenize, pinned cross-engine by md5 INSIDE the hash
    // compare. Token count is pure integer arithmetic (single-space
    // template: n_events + n_turns).
    QuerySpec("q323_chat_render", (s, d) =>
      renderOut(Sft.render(Sft.mergedTurns(ev(s, d)))),
      renderSql),
    // INCREMENTAL conversation fold: the standing state is the merged
    // turns + a users-sized tail; a strictly-later batch sessionizes
    // ALONE and weaves in via the tail join — old events are never
    // re-windowed, old turns flow through one anti-join. The gate
    // pins the RENDERED BYTES (q323's oracle verbatim), so a
    // text-fold bug cannot hide in counts.
    QuerySpec("q336_sft_incremental", (s, d) => {
      val (old, batch) = timeSplit(ev(s, d))
      val (turns, tail) = Sft.turnsState(old)
      renderOut(Sft.render(Sft.foldTurns(
        turns.localCheckpoint(true), tail.localCheckpoint(true), batch)))
    },
      // fold == from-scratch, byte for byte
      renderSql),
    // STREAMING conversation sink: five time-sliced micro-batches
    // fold through StreamingSft (the LEDGER replay class — the fold
    // extends turn text, so it is NOT idempotent; landed batch ids
    // ride as in-table sentinels), with batch 2 REDELIVERED after
    // batch 4 — the ledger must skip it or the replayed text would
    // double-append. Final render == from-scratch (q323's oracle
    // VERBATIM).
    QuerySpec("q340_sft_stream", (s, d) => {
      val table = "graft_sft_stream_" + math.abs(d.hashCode.toLong)
      s.sql(s"DROP TABLE IF EXISTS $table")
      val e = ev(s, d).withColumn("__t", expr("ts div 1000"))
      val mm = e.agg(min(col("__t")).as("a"), max(col("__t")).as("b"))
        .head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val span = (hi - lo) / 5 + 1
      def slice(b: Int) = e.filter(col("__t") >= lo + b * span &&
        col("__t") < lo + (b + 1) * span).drop("__t")
      (0 until 5).foreach { b =>
        graft.streaming.StreamingSft.processSftBatch(slice(b), b, table)
      }
      graft.streaming.StreamingSft.processSftBatch(slice(2), 2, table)
      renderOut(Sft.render(
        graft.streaming.StreamingSft.readTurns(s.table(table))))
    },
      // ledger-skipped replay == from-scratch, byte for byte
      renderSql, writes = true),
    // SFT example extraction: kept conversations split into
    // (prompt = all turns but last, target = final assistant turn);
    // both sides' rendered bytes pinned by md5, token counts split
    // by the same integer rule.
    QuerySpec("q324_sft_examples", (s, d) =>
      Sft.sftExamples(Sft.mergedTurns(ev(s, d))),
      s"""WITH $turnsCte,
         |k AS (SELECT user_id, session_id, n_turns FROM cst
         |      WHERE n_turns >= 2 AND first_role = 'user'
         |        AND last_role = 'assistant')
         |SELECT t.user_id, t.session_id,
         |  md5(string_agg(CASE WHEN t.turn_id < k.n_turns
         |        THEN t.turn_text END, ' ' ORDER BY t.turn_id))
         |    AS prompt_md5,
         |  max(CASE WHEN t.turn_id = k.n_turns THEN md5(t.turn_text) END)
         |    AS target_md5,
         |  CAST(sum(CASE WHEN t.turn_id < k.n_turns THEN t.n_events + 1
         |           ELSE 0 END) AS BIGINT) AS prompt_tokens,
         |  max(CASE WHEN t.turn_id = k.n_turns THEN t.n_events + 1 END)
         |    AS target_tokens
         |FROM turns t JOIN k USING (user_id, session_id)
         |GROUP BY t.user_id, t.session_id""".stripMargin),
    // Curation ledger for conversations — FIRST-FAIL verdict in fixed
    // rule order (too_short → no_user_start → no_assistant_end →
    // kept), the conversation twin of the q186 document filter ledger.
    QuerySpec("q325_sft_ledger", (s, d) =>
      Sft.ledger(Sft.mergedTurns(ev(s, d))),
      s"""WITH $turnsCte
         |SELECT user_id, session_id, n_turns, first_role, last_role,
         |  CASE WHEN n_turns < 2 THEN 'too_short'
         |       WHEN first_role <> 'user' THEN 'no_user_start'
         |       WHEN last_role <> 'assistant' THEN 'no_assistant_end'
         |       ELSE 'kept' END AS verdict
         |FROM cst""".stripMargin),
    // RLHF preference pairs: per conversation with ≥2 assistant
    // turns, chosen/rejected = max/min fixed-point score with
    // turn_id tie-breaks (struct min/max == the oracle's row_number
    // total orders); zero-margin pairs drop.
    QuerySpec("q326_pref_pairs", (s, d) =>
      Sft.prefPairs(Sft.mergedTurns(ev(s, d))),
      s"""WITH $turnsCte,
         |a AS (SELECT user_id, session_id, turn_id, value_fp
         |      FROM turns WHERE role = 'assistant'),
         |ch AS (SELECT user_id, session_id, turn_id, value_fp,
         |  row_number() OVER (PARTITION BY user_id, session_id
         |    ORDER BY value_fp DESC, turn_id DESC) AS rk,
         |  count(*) OVER (PARTITION BY user_id, session_id) AS na
         | FROM a),
         |rj AS (SELECT user_id, session_id, turn_id, value_fp,
         |  row_number() OVER (PARTITION BY user_id, session_id
         |    ORDER BY value_fp ASC, turn_id ASC) AS rk FROM a)
         |SELECT c.user_id, c.session_id, c.turn_id AS chosen_turn,
         |  r.turn_id AS rejected_turn, c.value_fp AS chosen_fp,
         |  r.value_fp AS rejected_fp,
         |  c.value_fp - r.value_fp AS margin_fp
         |FROM ch c JOIN rj r USING (user_id, session_id)
         |WHERE c.rk = 1 AND r.rk = 1 AND c.na >= 2
         |  AND c.value_fp > r.value_fp""".stripMargin),
    // Loss-mask spans over packed conversations: conversations pack
    // into 128-token sequences via the two-phase prefix sum (sparse
    // composite conv key — the sampled range-bucketing path), each
    // assistant turn emits its loss-active span at its global
    // in-sequence offset (role-tag token masked out). The oracle
    // recomputes both prefix-sum layers in SQL windows.
    QuerySpec("q327_loss_mask_pack", (s, d) =>
      Sft.lossMaskSpans(Sft.mergedTurns(ev(s, d)),
        col("user_id") * 1000000L + col("session_id"), budget = 128L),
      s"""WITH $turnsCte,
         |ck AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  n_events + n_turns AS n_tokens FROM conv),
         |pk AS (SELECT conv_key,
         |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY conv_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM ck),
         |pos AS (SELECT conv_key, CAST(pstart // 128 AS BIGINT) AS seq_id,
         |  CAST(pstart % 128 AS BIGINT) AS "offset" FROM pk),
         |ts2 AS (SELECT user_id * 1000000 + session_id AS conv_key,
         |  turn_id, role, n_events,
         |  CAST(COALESCE(sum(n_events + 1) OVER (
         |    PARTITION BY user_id, session_id ORDER BY turn_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS tstart
         | FROM turns)
         |SELECT t.conv_key, t.turn_id, p.seq_id,
         |  p."offset" + t.tstart + 1 AS span_start,
         |  t.n_events AS span_len
         |FROM ts2 t JOIN pos p USING (conv_key)
         |WHERE t.role = 'assistant'""".stripMargin),
    // CONVERSATION STRUCTURAL DEDUP — SFT corpora are deduped on the
    // dialog's ACTION SHAPE, not its literal values: fingerprint =
    // md5 of the ordered event-type sequence, exact-dup groups with a
    // deterministic keeper (min conversation key). Values differ per
    // conversation so byte-level dedup would be vacuous; structure
    // dedup is what actually fires.
    QuerySpec("q350_conv_dedup", (s, d) => {
      val cs = Sft.rawTurns(ev(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(md5(array_join(transform(
          sort_array(collect_list(struct(col("t"), col("event_id"),
            substring_index(col("content"), "#", 1).as("et")))),
          x => x.getField("et")), " ")).as("sig"))
      val g = cs.groupBy(col("sig"))
        .agg(count(lit(1)).as("group_size"),
          min(col("user_id") * 1000000L + col("session_id")).as("__k"))
      cs.join(g, Seq("sig"))
        .select(col("user_id"), col("session_id"), col("sig"),
          col("group_size"),
          (col("user_id") * 1000000L + col("session_id") === col("__k"))
            .as("is_keeper"))
    },
      s"""WITH $turnsCte,
         |cs AS (SELECT user_id, session_id,
         |  md5(string_agg(split_part(content, '#', 1), ' '
         |    ORDER BY t, event_id)) AS sig
         | FROM sid GROUP BY 1, 2),
         |g AS (SELECT sig, count(*)::BIGINT AS group_size,
         |  min(user_id * 1000000 + session_id) AS k FROM cs
         | GROUP BY sig)
         |SELECT cs.user_id, cs.session_id, cs.sig, g.group_size,
         |  (cs.user_id * 1000000 + cs.session_id = g.k) AS is_keeper
         |FROM cs JOIN g USING (sig)""".stripMargin),
    // The SFT family's PURE-spark.sql SURFACE: q322's conversation
    // assembly as ONE SQL string (windows, gaps-and-islands,
    // struct-ordered min/max via named_struct) — the engine's SQL
    // dialect covers the family, not just the DataFrame API. Same
    // oracle as q322, verbatim.
    QuerySpec("q351_sft_sql_surface", (s, d) => {
      ev(s, d).createOrReplaceTempView("g_sql_events")
      s.sql(
        """WITH raw AS (SELECT user_id, ts div 1000 AS t, event_id,
          |  CASE WHEN event_type IN ('click','view') THEN 'user'
          |       ELSE 'assistant' END AS role,
          |  cast(round(value * 100) AS bigint) AS value_fp,
          |  lag(ts div 1000) OVER (PARTITION BY user_id
          |    ORDER BY ts div 1000, event_id) AS prev_t
          | FROM g_sql_events),
          |sid AS (SELECT user_id, t, event_id, role, value_fp,
          |  sum(CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000
          |           THEN 1L ELSE 0L END)
          |    OVER (PARTITION BY user_id ORDER BY t, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS session_id FROM raw),
          |tr AS (SELECT *, CASE WHEN lag(role) OVER
          |    (PARTITION BY user_id, session_id ORDER BY t, event_id)
          |    <=> role THEN 0L ELSE 1L END AS rc FROM sid),
          |tid AS (SELECT *, sum(rc) OVER
          |    (PARTITION BY user_id, session_id ORDER BY t, event_id
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS turn_id FROM tr),
          |turns AS (SELECT user_id, session_id, turn_id, role,
          |  count(*) AS n_events, sum(value_fp) AS value_fp
          | FROM tid GROUP BY user_id, session_id, turn_id, role)
          |SELECT user_id, session_id,
          |  cast(sum(n_events) AS bigint) AS n_events,
          |  count(*) AS n_turns,
          |  min(named_struct('turn_id', turn_id, 'role', role)).role
          |    AS first_role,
          |  max(named_struct('turn_id', turn_id, 'role', role)).role
          |    AS last_role,
          |  cast(sum(value_fp) AS bigint) AS sum_value_fp
          |FROM turns GROUP BY user_id, session_id""".stripMargin)
    },
      // the pure-spark.sql form must land on the same table
      convStatsSql),
    // RESPONSE-LATENCY profile: per conversation, how long the
    // assistant side took to respond (assistant turn's first event
    // minus the preceding turn's last event — merged turns alternate,
    // so the predecessor is always the user side). The dialog-quality
    // signal timing-based SFT filters cut on. Pure per-conversation
    // window arithmetic in µs integers.
    QuerySpec("q344_response_latency", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("turn_id"))
      Sft.turnTimes(ev(s, d))
        .withColumn("__pt1", lag(col("t1"), 1).over(w))
        .filter(col("role") === "assistant" && col("__pt1").isNotNull)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("t0") - col("__pt1")).cast("long")
            .as("sum_latency_us"),
          max(col("t0") - col("__pt1")).cast("long")
            .as("max_latency_us"))
    },
      s"""WITH $turnsCte,
         |lg AS (SELECT user_id, session_id, turn_id, role, t0,
         |  lag(t1) OVER (PARTITION BY user_id, session_id
         |    ORDER BY turn_id) AS pt1 FROM turns)
         |SELECT user_id, session_id, count(*)::BIGINT AS n_pairs,
         |  CAST(sum(t0 - pt1) AS BIGINT) AS sum_latency_us,
         |  CAST(max(t0 - pt1) AS BIGINT) AS max_latency_us
         |FROM lg WHERE role = 'assistant' AND pt1 IS NOT NULL
         |GROUP BY user_id, session_id""".stripMargin),
    // BUCKET-SCOPED streaming state — q340's sink with the honest
    // 100-TB write path: standing turns live in a Lakehouse keyed
    // store and each batch MERGES only the rows it changes (the
    // foldTurnsDelta upsert set + batch users' last-t + one ledger
    // sentinel); untouched buckets keep their files byte-identical
    // (spec-pinned). Same replay drill (batch 2 redelivered after 4,
    // ledger skips); same proof: final render == from-scratch,
    // q323's oracle VERBATIM.
    QuerySpec("q346_sft_stream_bucketed", (s, d) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_sftb_" +
        math.abs(d.hashCode.toLong)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val e = ev(s, d).withColumn("__t", expr("ts div 1000"))
      val mm = e.agg(min(col("__t")).as("a"), max(col("__t")).as("b"))
        .head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val span = (hi - lo) / 5 + 1
      def slice(b: Int) = e.filter(col("__t") >= lo + b * span &&
        col("__t") < lo + (b + 1) * span).drop("__t")
      (0 until 5).foreach { b =>
        graft.streaming.StreamingSft.processSftBatchBucketed(
          slice(b), b, path, buckets = 16)
      }
      graft.streaming.StreamingSft.processSftBatchBucketed(
        slice(2), 2, path, buckets = 16)
      renderOut(Sft.render(
        graft.streaming.StreamingSft.readTurnsBucketed(s, path)))
    },
      // bucket-scoped merge state == from-scratch, byte for byte
      renderSql, writes = true),
    // SEALED-CONVERSATION WATERMARK — the invariant that makes SFT
    // artifacts incrementally exportable: a conversation whose last
    // event is at least one session-gap older than the ingest
    // watermark is PROVABLY closed (any strictly-later event is > gap
    // away, so the sessionizer must open a new session — it can
    // neither extend nor renumber the sealed one). The query renders
    // the sealed set from the OLD 80% alone; the oracle renders the
    // same set from the FULL event log — hash-equal bytes prove
    // later events cannot reach behind the watermark.
    QuerySpec("q366_sealed_conversations", (s, d) => {
      val (old, _) = timeSplit(ev(s, d))
      val wm = old.agg(max(expr("ts div 1000"))).head().getLong(0)
      val turns = Sft.mergedTurns(old)
      val lastT = Sft.rawTurns(old).groupBy(col("user_id"),
          col("session_id"))
        .agg(max(col("t")).as("last_t"))
        .filter(col("last_t") <= wm - Sft.GapUs)
        .select(col("user_id"), col("session_id"))
      renderOut(Sft.render(
        turns.join(lastT, Seq("user_id", "session_id"), "left_semi")))
    },
      // the oracle renders the sealed set from the FULL log — equality
      // proves the watermark really seals
      s"""WITH $turnsCte,
         |bounds AS (SELECT min(epoch_us(ts)) AS lo,
         |  max(epoch_us(ts)) AS hi FROM events),
         |wm AS (SELECT max(epoch_us(ts)) AS w FROM events
         |  WHERE epoch_us(ts) <=
         |    (SELECT lo + (hi - lo) * 4 // 5 FROM bounds)),
         |sl AS (SELECT user_id, session_id, max(t) AS lt FROM sid
         |       GROUP BY 1, 2),
         |sealed AS (SELECT user_id, session_id FROM sl
         |  WHERE lt <= (SELECT w FROM wm) - 1800000000)
         |SELECT c.user_id, c.session_id,
         |  CAST(length(rendered) AS BIGINT) AS n_chars,
         |  n_events + n_turns AS n_tokens,
         |  md5(rendered) AS render_md5
         |FROM conv c JOIN sealed USING (user_id, session_id)"""
        .stripMargin),
    // INCREMENTAL SEALED EXPORT — q366's watermark invariant turned
    // into the incremental training-data export pipeline: phase 1
    // exports the conversations sealed at the old watermark as JSONL
    // shards; after the late batch lands, phase 2 APPENDS only the
    // newly sealed ones (byteOffset = landed total, the q333 hook).
    // Sealed renders are immutable by the invariant, so phase 1's
    // shards are never rewritten. The oracle rebuilds every byte of
    // the phased layout from the FULL log alone — phase membership,
    // line bytes, prefix-sum shard assignment, in-shard order.
    QuerySpec("q367_sealed_export_incr", (s, d) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_sexp_" +
        math.abs(d.hashCode.toLong)
      val e = ev(s, d)
      val (old, _) = timeSplit(e)
      // Each phase sessionizes its source ONCE (checkpointed): the
      // watermark, the sealed-key set, and the render all derive from
      // the same rawTurns pass — previously sealedKeys ran its own
      // sessionization window cascade on top of the one inside
      // lines(), i.e. the whole-corpus windows ran twice per phase
      // (§2.4: operations keyed the same way share one pass).
      def rawOf(src: DataFrame): DataFrame =
        Sft.rawTurns(src).localCheckpoint(true)
      def sealedKeys(raw: DataFrame): DataFrame = {
        val wm = raw.agg(max(col("t"))).head().getLong(0)
        raw.groupBy(col("user_id"), col("session_id"))
          .agg(max(col("t")).as("lt"))
          .filter(col("lt") <= wm - Sft.GapUs)
          .select(col("user_id"), col("session_id"))
      }
      val esc = (c: org.apache.spark.sql.Column) =>
        regexp_replace(c, "([\"\\\\])", "\\\\$1")
      // each phase's line frame materializes ONCE (writeLines
      // evaluates its input twice). The sealed-keys semi-join lands
      // BELOW the merge/render windows: only sealed conversations'
      // events flow through turn merging and templating — dropping
      // whole (user, session) groups commutes with the per-group
      // merge/render (the StreamingSealed sink's shape).
      def lines(raw: DataFrame, keys: DataFrame): DataFrame =
        Sft.render(Sft.mergedTurnsOfRaw(
            raw.join(keys, Seq("user_id", "session_id"), "left_semi")))
          .select(
            (col("user_id") * 1000000L + col("session_id")).as("ck"),
            concat(lit("{\"ck\":"),
              col("user_id") * 1000000L + col("session_id"),
              lit(",\"render\":\""), esc(col("rendered")), lit("\"}"))
              .as("line"))
          .withColumn("n_bytes", (length(col("line")) + 1L).cast("long"))
          .localCheckpoint(true)
      val raw1 = rawOf(old)
      val k1 = sealedKeys(raw1).localCheckpoint(true)
      val p1 = lines(raw1, k1)
      // writeLines returns the landed byte total from its own layout
      // histogram — no separate aggregation pass over p1 (§5); an
      // empty phase-1 sealed set returns 0 and the export degrades to
      // a from-scratch layout as before
      val landed = Lakehouse.writeLines(p1, "ck", path,
        budgetBytes = 8192L)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(raw1)
      val rawAll = rawOf(e)
      val k2 = sealedKeys(rawAll)
        .join(k1, Seq("user_id", "session_id"), "left_anti")
      val p2 = lines(rawAll, k2)
      Lakehouse.writeLines(p2, "ck", path,
        budgetBytes = 8192L, byteOffset = landed,
        mode = org.apache.spark.sql.SaveMode.Append)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(rawAll)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(k1)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(p1)
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(p2)
      s.read.text(path)
        .select(col("shard").cast("long").as("shard_id"),
          get_json_object(col("value"), "$.ck").cast("long").as("ck"),
          col("value"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_convs"),
          sum(length(col("value")) + 1L).cast("long").as("n_bytes"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("ck"), col("value")))),
            x => x.getField("value")), "\n")).as("content_md5"))
    },
      // every byte of the phased layout re-derived from the full log:
      // phase membership (sealed at wm1 vs only at wm2), line bytes,
      // (phase, ck)-ordered prefix-sum shard assignment, in-shard order
      s"""WITH $turnsCte,
         |bounds AS (SELECT min(epoch_us(ts)) AS lo,
         |  max(epoch_us(ts)) AS hi FROM events),
         |wm1 AS (SELECT max(epoch_us(ts)) AS w FROM events
         |  WHERE epoch_us(ts) <=
         |    (SELECT lo + (hi - lo) * 4 // 5 FROM bounds)),
         |sl AS (SELECT user_id, session_id, max(t) AS lt FROM sid
         |       GROUP BY 1, 2),
         |se AS (SELECT c.user_id, c.session_id, c.rendered, sl.lt
         | FROM conv c JOIN sl USING (user_id, session_id)
         | WHERE sl.lt <= (SELECT hi FROM bounds) - 1800000000),
         |ph AS (SELECT user_id * 1000000 + session_id AS ck,
         |  CASE WHEN lt <= (SELECT w FROM wm1) - 1800000000
         |       THEN 0 ELSE 1 END AS phase,
         |  '{"ck":' || CAST(user_id * 1000000 + session_id AS VARCHAR)
         |    || ',"render":"'
         |    || regexp_replace(rendered, '(["\\\\])', '\\\\\\1', 'g')
         |    || '"}' AS line
         | FROM se),
         |b AS (SELECT ck, phase, line,
         |  CAST(length(line) + 1 AS BIGINT) AS nb FROM ph),
         |pk AS (SELECT ck, line, nb,
         |  CAST(COALESCE(sum(nb) OVER (ORDER BY phase, ck
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM b)
         |SELECT CAST(pstart // 8192 AS BIGINT) AS shard_id,
         |  count(*)::BIGINT AS n_convs,
         |  CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  md5(string_agg(line, chr(10) ORDER BY ck)) AS content_md5
         |FROM pk GROUP BY 1""".stripMargin, writes = true),
    // STREAMING SEALED EXPORT — q366's watermark invariant and
    // q367's phased byte-append composed into a foreachBatch sink:
    // each micro-batch lands its events, advances the watermark, and
    // APPENDS only the conversations that advance newly sealed, at
    // byteOffset = the landed total (sealed renders are immutable,
    // so landed shards never rewrite). Batch 1 is REDELIVERED after
    // batch 2 — the generation-state ledger skips it; a double
    // append would flip every later shard hash. The oracle rebuilds
    // the full three-phase layout from the complete log alone.
    QuerySpec("q372_sealed_stream", (s, d) =>
      sealedStreamRun(s, d, "sstr_", compactAfter = Set.empty),
      // the full three-phase streamed layout re-derived from the
      // complete log: phase = first batch watermark that seals the
      // conversation, (phase, ck)-ordered prefix-sum shard assignment
      sealedStreamSql, writes = true),
    // SEALED STREAM + LANDING COMPACTION: the same three-tick run,
    // but compactEvents folds the landed log into user-range
    // segments after ticks 0 and 1 (the second fold re-compacts
    // generation-1 segments into generation 2) — tick 1's and tick
    // 2's sealing scans read range-selected segments plus the fresh
    // landing, and the redelivered batch still short-circuits.
    // q372's oracle VERBATIM: compaction must not move a byte.
    QuerySpec("q393_sealed_compact", (s, d) =>
      sealedStreamRun(s, d, "sstrc_", compactAfter = Set(0, 1)),
      // same oracle VERBATIM: compacting the landing log between ticks
      // must not move a single exported byte
      sealedStreamSql, writes = true),
    // Padding-efficiency batch plan: fixed-size batches (B=8) under
    // arrival order vs length-sorted order, total pad tokens and
    // pad basis points per policy — the report that justifies
    // length-bucketed batching. Ranks via the distributed two-phase
    // prefix rank (stableIds), never row_number's single-partition
    // sort; the sorted policy's composite key is sparse (len << 40 |
    // id) — the sampled-fallback path.
    QuerySpec("q328_padding_plan", (s, d) => {
      val dd = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      def plan(keyed: DataFrame, policy: String): DataFrame = {
        // rank attached in place (same row_id per key, no join-back)
        val b = Packing.withStableIds(keyed, "__key")
          .select(col("tok"), expr("row_id div 8").as("batch"))
          .groupBy(col("batch"))
          .agg(max(col("tok")).as("mx"), sum(col("tok")).as("st"),
            count(lit(1)).as("c"))
        b.agg(count(lit(1)).as("n_batches"),
            sum(col("st")).cast("long").as("total_tokens"),
            sum(col("mx") * col("c") - col("st")).cast("long")
              .as("total_pad"),
            expr("sum(mx * c - st) * 10000 div sum(mx * c)").cast("long")
              .as("pad_bp"))
          .select(lit(policy).as("policy"), col("n_batches"),
            col("total_tokens"), col("total_pad"), col("pad_bp"))
      }
      plan(dd.withColumn("__key", col("doc_id")), "arrival")
        .unionByName(plan(dd.withColumn("__key",
          col("tok") * 1099511627776L + col("doc_id")), "sorted"))
    },
      """WITH d AS (SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1
        |    AS BIGINT) AS tok FROM documents),
        |a AS (SELECT tok, CAST((row_number() OVER (ORDER BY doc_id) - 1)
        |  // 8 AS BIGINT) AS batch FROM d),
        |b AS (SELECT tok, CAST((row_number() OVER (ORDER BY tok, doc_id)
        |  - 1) // 8 AS BIGINT) AS batch FROM d),
        |pa AS (SELECT batch, max(tok) AS mx,
        |  CAST(sum(tok) AS BIGINT) AS st, count(*)::BIGINT AS c
        | FROM a GROUP BY batch),
        |pb AS (SELECT batch, max(tok) AS mx,
        |  CAST(sum(tok) AS BIGINT) AS st, count(*)::BIGINT AS c
        | FROM b GROUP BY batch)
        |SELECT 'arrival' AS policy, count(*)::BIGINT AS n_batches,
        |  CAST(sum(st) AS BIGINT) AS total_tokens,
        |  CAST(sum(mx * c - st) AS BIGINT) AS total_pad,
        |  CAST(sum(mx * c - st) * 10000 // sum(mx * c) AS BIGINT)
        |    AS pad_bp
        |FROM pa
        |UNION ALL
        |SELECT 'sorted', count(*)::BIGINT, CAST(sum(st) AS BIGINT),
        |  CAST(sum(mx * c - st) AS BIGINT),
        |  CAST(sum(mx * c - st) * 10000 // sum(mx * c) AS BIGINT)
        |FROM pb""".stripMargin),
    // PSI drift between ingest waves, per source: length-bin
    // distributions with add-one smoothing, each nonnegative PSI term
    // fixed-pointed at 1e-4 BEFORE the sum (the Surprisal rule —
    // floats never cross an aggregation). Wave = (doc_id div 20) % 2
    // — doc_id % 2 would be vacuous here because the synthetic
    // source column IS doc_id % 20 (every source one wave).
    QuerySpec("q329_psi_drift", (s, d) =>
      Trend.psiDrift(psiInput(s, d).drop("doc_id"), nBins = 6),
      psiSql),
    // INCREMENTAL PSI: the (source, wave, bin) count table is LINEAR
    // state (the CMS class) — a batch's counts fold by sum and the
    // PSI recomputes from the folded table. == from-scratch (q329's
    // oracle verbatim).
    QuerySpec("q337_psi_incremental", (s, d) => {
      val in = psiInput(s, d)
      val maxId = in.agg(max(col("doc_id"))).head().getLong(0)
      val thresh = maxId * 4 / 5
      val oldCounts = Trend.binCounts(
          in.filter(col("doc_id") <= thresh).drop("doc_id"))
        .localCheckpoint(true)
      val batchCounts = Trend.binCounts(
        in.filter(col("doc_id") > thresh).drop("doc_id"))
      Trend.psiFromCounts(oldCounts.unionByName(batchCounts),
        nBins = 6)
    },
      // linear count fold == from-scratch
      psiSql),
    // NATIVE Catalyst WINDOW function (AggregateWindowFunction — the
    // extension-point class the engine had not yet exercised):
    // integer fixed-point exponentially-decayed running sum per user,
    // st = (st·9) div 10 + v. No closed form under per-step
    // truncation — the oracle replays the exact recurrence with a
    // recursive CTE.
    QuerySpec("q331_decayed_window", (s, d) =>
      ev(s, d).withColumn("t", expr("ts div 1000"))
        .select(col("user_id"), col("event_id"),
          decayedSumFixedOver(round(col("value") * 100).cast("long"),
            9L, 10L, Seq(col("user_id")), Seq(col("t"), col("event_id")))
            .as("decayed_fp")),
      """WITH RECURSIVE ev AS (SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vfp,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
        | FROM events),
        |dec AS (
        |  SELECT user_id, event_id, rn, GREATEST(vfp, 0) AS st
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn,
        |    (d.st * 9) // 10 + GREATEST(e.vfp, 0)
        |  FROM dec d JOIN ev e ON e.user_id = d.user_id
        |    AND e.rn = d.rn + 1)
        |SELECT user_id, event_id, CAST(st AS BIGINT) AS decayed_fp
        |FROM dec""".stripMargin))

  /** q322's oracle — shared verbatim by q351 (the pure-SQL surface
    * must assemble the identical conversation table). */
  /** q372/q393 shared body: the sealed streaming sink driven over
    * three time slices of the events table (batch 1 redelivered
    * after batch 2 — the ledger must short-circuit it), optionally
    * compacting the landing log after given ticks; returns the
    * per-shard export summary the shared oracle rebuilds. */
  private def sealedStreamRun(s: SparkSession, d: String, tag: String,
                              compactAfter: Set[Int]): DataFrame = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_$tag" +
      math.abs(d.hashCode.toLong)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val e = ev(s, d).withColumn("__t", expr("ts div 1000"))
    val mm = e.agg(min(col("__t")).as("a"), max(col("__t")).as("b"))
      .head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = (hi - lo) / 3 + 1
    def slice(b: Int) = e.filter(col("__t") >= lo + b * span &&
      col("__t") < lo + (b + 1) * span).drop("__t")
    import graft.streaming.StreamingSealed.{processSealedBatch,
      compactEvents}
    (0 until 3).foreach { b =>
      processSealedBatch(slice(b), b.toLong, root, 8192L)
      if (compactAfter(b)) compactEvents(s, root, nSegments = 8)
    }
    processSealedBatch(slice(1), 1L, root, 8192L) // redelivery
    s.read.text(s"$root/out")
      .select(col("shard").cast("long").as("shard_id"),
        get_json_object(col("value"), "$.ck").cast("long").as("ck"),
        col("value"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_convs"),
        sum(length(col("value")) + 1L).cast("long").as("n_bytes"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("ck"), col("value")))),
          x => x.getField("value")), "\n")).as("content_md5"))
  }

  private lazy val convStatsSql: String =
    s"""WITH $turnsCte
       |SELECT user_id, session_id, n_events, n_turns, first_role,
       |  last_role, sum_value_fp FROM cst""".stripMargin

  /** q329's oracle — shared verbatim by q337 (the linear count
    * fold must land on the same PSI table). */
  private lazy val psiSql: String =
      """WITH d AS (SELECT source, (doc_id // 20) % 2 AS wave,
        |  LEAST(n_chars // 100, 5) AS bin FROM documents),
        |c AS (SELECT source, wave, bin, count(*)::BIGINT AS c
        |      FROM d GROUP BY 1, 2, 3),
        |n AS (SELECT source, wave, CAST(sum(c) AS BIGINT) AS n
        |      FROM c GROUP BY 1, 2),
        |bins AS (SELECT s.source, b.bin
        |  FROM (SELECT DISTINCT source FROM d) s,
        |       (SELECT unnest(generate_series(0, 5)) AS bin) b),
        |p AS (SELECT bins.source, bins.bin,
        |  (COALESCE(c0.c, 0) + 1.0) / (n0.n + 6.0) AS pa,
        |  (COALESCE(c1.c, 0) + 1.0) / (n1.n + 6.0) AS pb
        | FROM bins
        | LEFT JOIN c c0 ON c0.source = bins.source AND c0.wave = 0
        |   AND c0.bin = bins.bin
        | LEFT JOIN c c1 ON c1.source = bins.source AND c1.wave = 1
        |   AND c1.bin = bins.bin
        | JOIN n n0 ON n0.source = bins.source AND n0.wave = 0
        | JOIN n n1 ON n1.source = bins.source AND n1.wave = 1),
        |tm AS (SELECT source,
        |  CAST(round((pa - pb) * ln(pa / pb) * 10000) AS BIGINT)
        |    AS term_fp FROM p),
        |nn AS (SELECT source,
        |  max(CASE WHEN wave = 0 THEN n END) AS n0,
        |  max(CASE WHEN wave = 1 THEN n END) AS n1
        | FROM n GROUP BY source)
        |SELECT nn.source, nn.n0, nn.n1,
        |  CAST(sum(tm.term_fp) AS BIGINT) AS psi_fp
        |FROM nn JOIN tm ON tm.source = nn.source
        |GROUP BY nn.source, nn.n0, nn.n1""".stripMargin

  /** q323's oracle — shared verbatim by q336 (incremental fold) and
    * q340 (streaming ledger sink): both must reproduce the EXACT
    * rendered bytes of the from-scratch template. */
  private lazy val renderSql: String =
    s"""WITH $turnsCte
       |SELECT user_id, session_id,
       |  CAST(length(rendered) AS BIGINT) AS n_chars,
       |  n_events + n_turns AS n_tokens,
       |  md5(rendered) AS render_md5 FROM conv""".stripMargin

  /** The q372/q393 shared oracle: the full three-phase streamed
    * layout re-derived from the complete log — phase = first batch
    * watermark that seals the conversation, (phase, ck)-ordered
    * prefix-sum shard assignment. q393 interleaves
    * [[graft.streaming.StreamingSealed.compactEvents]] between
    * ticks, and the SAME oracle proves compaction moves no byte. */
  private lazy val sealedStreamSql: String =
      s"""WITH $turnsCte,
         |bounds AS (SELECT min(epoch_us(ts)) AS lo,
         |  max(epoch_us(ts)) AS hi FROM events),
         |sp AS (SELECT lo, hi, (hi - lo) // 3 + 1 AS span FROM bounds),
         |w0 AS (SELECT max(epoch_us(ts)) AS w FROM events
         |  WHERE epoch_us(ts) < (SELECT lo + span FROM sp)),
         |w1 AS (SELECT max(epoch_us(ts)) AS w FROM events
         |  WHERE epoch_us(ts) < (SELECT lo + 2 * span FROM sp)),
         |sl AS (SELECT user_id, session_id, max(t) AS lt FROM sid
         |       GROUP BY 1, 2),
         |ph AS (SELECT c.user_id * 1000000 + c.session_id AS ck,
         |  CASE WHEN sl.lt <= (SELECT w FROM w0) - 1800000000 THEN 0
         |       WHEN sl.lt <= (SELECT w FROM w1) - 1800000000 THEN 1
         |       WHEN sl.lt <= (SELECT hi FROM bounds) - 1800000000
         |         THEN 2 END AS phase,
         |  '{"ck":' || CAST(c.user_id * 1000000 + c.session_id
         |    AS VARCHAR) || ',"render":"'
         |    || regexp_replace(c.rendered, '(["\\\\])', '\\\\\\1', 'g')
         |    || '"}' AS line
         | FROM conv c JOIN sl USING (user_id, session_id)),
         |b AS (SELECT ck, phase, line,
         |  CAST(length(line) + 1 AS BIGINT) AS nb FROM ph
         |  WHERE phase IS NOT NULL),
         |pk AS (SELECT ck, line, nb,
         |  CAST(COALESCE(sum(nb) OVER (ORDER BY phase, ck
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS pstart FROM b)
         |SELECT CAST(pstart // 8192 AS BIGINT) AS shard_id,
         |  count(*)::BIGINT AS n_convs,
         |  CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  md5(string_agg(line, chr(10) ORDER BY ck)) AS content_md5
         |FROM pk GROUP BY 1""".stripMargin
}
