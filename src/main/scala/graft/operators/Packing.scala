package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-sequence packing: concatenate documents (in a
  * deterministic id order) into fixed token-budget sequences — the
  * standard step between "clean corpus" and "batched training data".
  * A document belongs to the sequence in which it STARTS (documents
  * may straddle a boundary), so
  * `seq_id = exclusive_prefix_sum(n_tokens) div budget`.
  *
  * A naive global window (`sum over (order by id)`) computes the
  * prefix sum on ONE task — the classic scale trap. This is the
  * two-phase parallel prefix sum instead: ids are bucketed into
  * `parallelism` DETERMINISTIC contiguous ranges; per-bucket token
  * totals (a `parallelism`-sized collect — index metadata) scan into
  * bucket offsets, and a partition-local pass adds each bucket's
  * offset to its running sum. The corpus shuffles exactly once.
  *
  * Bucket ranges are equal-width in ID space by default (computed
  * from the id span — no sampling, so a recomputed lineage
  * reproduces identical placement and nothing needs persisting).
  * Equal width collapses parallelism on SPARSE ids — a composite key
  * like `label·2^40 + id` puts every label's rows in a point-width
  * cluster, so one bucket carries the dominant label's whole corpus
  * slice at scale. The pre-shuffle histogram (the same aggregate
  * that feeds the offsets) detects that shape, and the bucketing
  * switches to sampled RANGE boundaries: a deterministic md5-hash
  * row sample (reproducible across reruns — no RNG state) picks
  * boundary keys at row-count quantiles, so buckets are balanced by
  * ROWS regardless of key distribution. Any monotonic bucketing
  * yields the same prefix sums, so the output is bucketing-invariant
  * — only the parallelism changes.
  */
object Packing {

  /** Input: any frame with a long-orderable `idCol` and a token count
    * `tokenCol`. Output: (idCol, n_tokens, seq_id), one row per input
    * row. `tokenOffset` starts the prefix sum at a nonzero total —
    * the incremental hook ([[appendShards]]): a batch whose ids all
    * follow the existing corpus packs exactly as the from-scratch
    * layout would place it, because earlier rows cannot change its
    * prefix sums. */
  def packByBudget(df: DataFrame, idCol: String, tokenCol: String,
                   budget: Long, tokenOffset: Long = 0L): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    prefixSums(df, idCol, tokenCol, tokenOffset)
      .select(col(idCol), col("n_tokens"),
        expr(s"__start div ${budget}L").as("seq_id"))
  }

  /** The two-phase exclusive prefix sum itself — the shared core of
    * [[packByBudget]] and [[packSealed]]. Output: (idCol, n_tokens,
    * __start) where __start is the total token count of all
    * earlier-id rows plus `tokenOffset`. */
  private def prefixSums(df: DataFrame, idCol: String, tokenCol: String,
                         tokenOffset: Long): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("__id"),
      col(tokenCol).cast("long").as("__tok"))
    val bounds = base.agg(min(col("__id")), max(col("__id")), count(lit(1))).head()
    if (bounds.isNullAt(0)) // empty input
      return base.select(col("__id").as(idCol), col("__tok").as("n_tokens"),
        col("__tok").as("__start")).limit(0)
    val (bCol, nB, eqTotals) = bucketing(base, bounds.getLong(0),
      bounds.getLong(1), bounds.getLong(2))
    val offsets = eqTotals.getOrElse {
      // range path: per-bucket totals over the chosen buckets
      base.groupBy(bCol.as("__b")).agg(sum(col("__tok")).as("__t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val offArr = (0L until nB.toLong)
      .map(b => offsets.getOrElse(b, 0L))
      .scanLeft(tokenOffset)(_ + _).toArray // offArr(b) = tokens before b
    phase2(base, idCol, bCol, nB, offArr)
  }

  /** The bucketing decision — shared by [[prefixSums]] and the spec
    * probe so balance assertions pin the REAL path. Returns (bucket
    * column, bucket count, per-bucket token totals when the fast-path
    * histogram already computed them — the range path recomputes over
    * its own buckets). */
  private def bucketing(base: DataFrame, minId: Long, maxId: Long, n: Long,
                        nBucketsOpt: Option[Int] = None)
      : (Column, Int, Option[Map[Long, Long]]) = {
    val nBuckets = nBucketsOpt.getOrElse(
      base.sparkSession.sparkContext.defaultParallelism)
    val span = math.max(1L, (maxId - minId) / nBuckets + 1)
    val eqB = ((col("__id") - minId) / span).cast("long")
    // phase 1: per-bucket (rows, tokens) BEFORE the shuffle — map-side
    // combined to ≤ nBuckets rows, so this histogram both feeds the
    // offsets and detects sparsity skew without an extra corpus pass
    val hist = base.groupBy(eqB.as("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__tok")).as("__t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // gate at 2× the perfect share: dense-ish ids sit well under it,
    // and a bucket above it means effective parallelism has already
    // halved — worth the sample pass (4× could never fire at small
    // bucket counts: max ≤ n = 4·ideal when nBuckets = 4)
    val ideal = math.max(1L, n / nBuckets)
    val skewed = nBuckets > 1 && n >= 4L * nBuckets &&
      hist.valuesIterator.map(_._1).max > 2L * ideal
    val ranged = if (skewed) sampledBoundaries(base, n, nBuckets) else None
    ranged match {
      case Some(bnds) =>
        // sampled range bucketing: bucket = #boundaries <= key — a
        // codegen'd higher-order function over a tiny literal array,
        // monotonic in the key, balanced by ROWS by construction
        val bArr = array(bnds.map(lit(_)).toSeq: _*)
        (size(filter(bArr, b => b <= col("__id"))).cast("long"),
          bnds.length + 1, None)
      case None =>
        (eqB, nBuckets, Some(hist.map { case (b, (_, t)) => b -> t }))
    }
  }

  /** Spec probe: the (id, bucket) assignment [[prefixSums]] would use
    * for `df` — lets a test assert bucket balance on skewed keys
    * against the exact production decision path. */
  private[graft] def bucketProbe(df: DataFrame, idCol: String): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("__id"),
      lit(1L).as("__tok"))
    val bounds = base.agg(min(col("__id")), max(col("__id")), count(lit(1))).head()
    require(!bounds.isNullAt(0), "bucketProbe needs a non-empty frame")
    val (bCol, _, _) = bucketing(base, bounds.getLong(0),
      bounds.getLong(1), bounds.getLong(2))
    base.select(col("__id").as(idCol), bCol.as("bucket"))
  }

  /** Deterministic boundary keys at row-count quantiles: an md5-hash
    * row sample (~64·nBuckets rows expected — pseudorandom but a pure
    * function of the ids, so reruns and lineage replays see the same
    * boundaries), sorted on the driver, boundary picked every
    * len/nBuckets-th sample. None when the sample came back too thin
    * to beat equal-width (never at real scale — the skew gate already
    * requires n ≥ 4·nBuckets). */
  private def sampledBoundaries(base: DataFrame, n: Long,
                                nBuckets: Int): Option[Array[Long]] = {
    val target = 64L * nBuckets
    val thresh = math.min(4294967296.0, target.toDouble / n * 4294967296.0)
    val sampled = base.filter(
        conv(substring(md5(concat(lit("pfxsum|"), col("__id").cast("string"))),
          1, 8), 16, 10).cast("long") < lit(thresh.toLong))
      .select(col("__id")).collect().map(_.getLong(0)).sorted
    if (sampled.length < 2) None
    else {
      val bnds = (1 until nBuckets)
        .map(i => sampled((i.toLong * sampled.length / nBuckets).toInt))
        .distinct.toArray
      if (bnds.isEmpty) None else Some(bnds)
    }
  }

  /** Phase 2: one shuffle on the bucket id, then partition-local
    * running sums, reset at bucket changes (a partition holds whole
    * buckets; rows arrive bucket-then-id sorted). Deterministic under
    * lineage replay — same buckets, same order, same offsets. */
  private def phase2(base: DataFrame, idCol: String, bucketCol: Column,
                     nBuckets: Int, offsets: Array[Long]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(offsets)
    base.withColumn("__b", bucketCol)
      .repartition(nBuckets, col("__b"))
      .sortWithinPartitions(col("__b"), col("__id"))
      .as[(Long, Long, Long)].mapPartitions { it =>
        var curBucket = -1L
        var run = 0L
        val offs = bc.value
        it.map { case (id, tok, b) =>
          if (b != curBucket) { curBucket = b; run = offs(b.toInt) }
          val start = run
          run += tok
          (id, tok, start)
        }
      }.toDF(idCol, "n_tokens", "__start")
  }

  /** [[packByBudget]] plus each document's token OFFSET inside its
    * sequence (`prefix_sum mod budget`) — the attention-boundary
    * metadata a trainer needs to mask cross-document attention inside
    * a packed sequence: (idCol, n_tokens, seq_id, offset) says
    * exactly where document `id` starts in sequence `seq_id`. Same
    * single two-phase pass; the offset is a projection of the prefix
    * sum the packing already computes. */
  def packWithOffsets(df: DataFrame, idCol: String, tokenCol: String,
                      budget: Long, tokenOffset: Long = 0L): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    prefixSums(df, idCol, tokenCol, tokenOffset)
      .select(col(idCol), col("n_tokens"),
        expr(s"__start div ${budget}L").as("seq_id"),
        expr(s"__start % ${budget}L").as("offset"))
  }

  /** SEALED packing — the layout whose repair cost is ∝ flagged
    * shards, not the corpus (the WebDataset/Megatron property).
    * [[packByBudget]]'s single global prefix sum means removing one
    * token from doc 0 shifts every later sequence boundary: span
    * repair rewrites everything after the first flagged doc (q167's
    * honest finding). Here each shard is SEALED: documents are
    * assigned to shards by where they START in the global token
    * stream (`shard_id = prefix_sum div (budget·seqsPerShard)` — a
    * one-pass, deterministic greedy fill), and the sequence layout
    * restarts from zero INSIDE each shard (`seq_in_shard =
    * local_prefix_sum div budget`). Sequence identity is hierarchical
    * — (shard_id, seq_in_shard) — exactly the `shard-00042/seq-003`
    * naming real training layouts use, so nothing downstream depends
    * on a global sequence number that repair would shift.
    *
    * Because a document lands wholly in the shard where it starts, a
    * shard holds ~capacity tokens with tail slack (the straddling
    * last document overflows its shard rather than splitting — the
    * slack is bounded by one document). After [[repairSealedShards]]
    * cuts tokens from a shard, its local layout recomputes from ITS
    * OWN rows alone; no other shard's bytes can change.
    *
    * Output: (idCol, n_tokens, shard_id, seq_in_shard). Scale shape:
    * the global pass is the same two-phase prefix sum; the
    * within-shard pass is a window whose partitions are single
    * shards (≈capacity tokens each) — bounded, never a global sort. */
  def packSealed(df: DataFrame, idCol: String, tokenCol: String,
                 budget: Long, seqsPerShard: Long): DataFrame = {
    require(budget >= 1 && seqsPerShard >= 1,
      s"budget/seqsPerShard must be >= 1, got $budget/$seqsPerShard")
    val cap = budget * seqsPerShard
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard_id"))
    prefixSums(df, idCol, tokenCol, 0L)
      .withColumn("shard_id", expr(s"__start div ${cap}L"))
      .withColumn("__s0", min(col("__start")).over(w))
      .select(col(idCol), col("n_tokens"), col("shard_id"),
        expr(s"(__start - __s0) div ${budget}L").as("seq_in_shard"))
  }

  /** [[packSealed]] with the sealed layout attached IN PLACE on the
    * full payload rows: every input column plus (shard_id,
    * seq_in_shard), via one [[prefixAttach]] pass plus the same
    * shard-partitioned window packSealed pays — instead of the
    * layout-then-join-back shape (packSealed keyed on ids joined
    * against the payload frame: one extra exchange of each side plus
    * the join itself — guide §2.4/§3, a join eliminated outright).
    * Same (shard_id, seq_in_shard) per id as packSealed by
    * construction; `idCol` must be unique and non-null
    * ([[prefixAttach]]'s contract). */
  def packSealedAttach(df: DataFrame, idCol: String, tokenCol: String,
                       budget: Long, seqsPerShard: Long): DataFrame = {
    require(budget >= 1 && seqsPerShard >= 1,
      s"budget/seqsPerShard must be >= 1, got $budget/$seqsPerShard")
    val cap = budget * seqsPerShard
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard_id"))
    prefixAttach(df, idCol, tokenCol, 0L)
      .withColumn("shard_id", expr(s"__start div ${cap}L"))
      .withColumn("__s0", min(col("__start")).over(w))
      .withColumn("seq_in_shard",
        expr(s"(__start - __s0) div ${budget}L"))
      .drop("__start", "__s0")
  }

  /** Materialize a packed corpus as deterministic training SHARDS —
    * the physical artifact a trainer actually reads, and the last
    * step after [[packByBudget]] computes the layout. Input: the
    * packed frame (idCol, n_tokens, seq_id, payload columns such as
    * the token-id sequence). Every sequence belongs to exactly one
    * shard (`shard_id = seq_id div seqsPerShard`), so a shard holds
    * `seqsPerShard × budget` tokens (the last one less) — sized by
    * construction, no sampling, no skew.
    *
    * Write shape: ONE shuffle keyed on shard_id, rows sorted
    * (shard_id, id) within each task, one parquet data file per
    * shard directory (`partitionBy`). Everything is deterministic —
    * hash placement, sort order, snappy — so re-running the writer
    * reproduces every shard BYTE-identically (spec-pinned), and
    * `Overwrite` makes the whole operation idempotent. At 100 TB the
    * shard count is tokens/(budget·seqsPerShard); tasks write whole
    * shards sequentially and no task ever holds more than its
    * sorted slice. */
  /** Force every column nullable (a no-op on the data): a frame built
    * from literals carries non-null schema flags while a parquet
    * read-back is always nullable, and the flag lands in the file
    * footer — without normalization a from-scratch write and an
    * [[appendShards]] rewrite of the same rows would differ by those
    * footer bytes alone, breaking the byte-identity contract.
    * Catalyst's `KnownNullable` tagging expression is the one wrapper
    * the optimizer is contractually not allowed to strip (a plain
    * `when(isNotNull, c)` gets constant-folded right back to
    * non-null); it is codegen-transparent, so the write plan is
    * unchanged beyond the schema flag. */
  private def asNullable(df: DataFrame): DataFrame =
    df.select(df.columns.map { c =>
      org.apache.spark.sql.GraftSqlBridge.column(
        org.apache.spark.sql.catalyst.expressions.KnownNullable(
          org.apache.spark.sql.GraftSqlBridge.expression(col(c)))).as(c)
    }.toIndexedSeq: _*)

  def writeShards(packed: DataFrame, idCol: String, path: String,
                  seqsPerShard: Long): Unit = {
    require(seqsPerShard >= 1, s"seqsPerShard must be >= 1, got $seqsPerShard")
    writeByShardColumn(
      packed.withColumn("shard_id", (col("seq_id") / seqsPerShard).cast("long")),
      idCol, path)
  }

  /** [[writeShards]]' write shape for a frame that already carries its
    * `shard_id` (the [[packSealed]] output): one shuffle keyed on
    * shard_id, rows sorted (shard_id, id) within each task, one
    * deterministic snappy data file per shard directory. */
  def writeByShardColumn(packed: DataFrame, idCol: String,
                         path: String): Unit =
    asNullable(packed)
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard_id")
      .parquet(path)

  /** Fold a NEW batch into a [[writeShards]] output without touching
    * shards that cannot change — the incremental half of the shard
    * writer. Contract: every batch id follows every existing id
    * (append-only ingest — enforced), so existing rows' prefix sums
    * are unchanged and the batch packs from the saved corpus's total
    * token count onward ([[packByBudget]]'s `tokenOffset`). The only
    * shards whose content changes are the ones the batch lands in —
    * at most the LAST existing shard (whose final sequence the first
    * batch doc may join) plus new ones. Those directories are
    * rewritten via dynamic partition overwrite; every earlier shard
    * file is left untouched on disk, and the result is byte-identical
    * to a from-scratch [[writeShards]] of the full corpus
    * (spec-pinned). Work ∝ batch, not corpus — the q57/q73/q130
    * incremental contract applied to the physical artifact. */
  /** `knownTotals` — (total landed tokens, max landed id) supplied by
    * a caller that already tracks them (the streaming sink's sidecar):
    * skips the full-layout aggregation scan, making the append's read
    * cost ∝ touched shards alone. Omitted, the totals are computed
    * from the files (the batch-job path, one scan). */
  def appendShards(batch: DataFrame, idCol: String, tokenCol: String,
                   path: String, budget: Long, seqsPerShard: Long,
                   knownTotals: Option[(Long, Long)] = None): Unit = {
    require(budget >= 1 && seqsPerShard >= 1,
      s"budget/seqsPerShard must be >= 1, got $budget/$seqsPerShard")
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // the files always store the count as n_tokens (packByBudget's
    // output contract, what writeShards persisted)
    val old = spark.read.parquet(path)
      .withColumn("shard_id", col("shard_id").cast("long"))
    val (oldTokens, maxOldId) = knownTotals.getOrElse {
      val st = old.agg(sum(col("n_tokens")).cast("long"),
        max(col(idCol)).cast("long")).head()
      (st.getLong(0), st.getLong(1))
    }
    val minNew = batch.agg(min(col(idCol)).cast("long")).head().getLong(0)
    require(minNew > maxOldId,
      s"appendShards is append-only: batch min id $minNew must follow " +
        s"existing max id $maxOldId (re-shard from scratch otherwise)")
    // layout-then-join-back, kept: the batch is micro-batch/cached-
    // table sized, so the rank runs on narrow rows and the join-back
    // broadcasts — packAttach's bucket window shuffles the payload an
    // extra time. One back-to-back single-sample A/B at sf0.1
    // (BENCH_ADJ_r17_touched vs BENCH_ADJ_r17_reverted) read attach-
    // in-place +2.6% on q144 and +4.8% on q177, inside that pair's
    // noise band: queries with unchanged code moved up to +17.1%
    // (q200), +10.3% (q333) and +11.0% (q347)
    val layout = packByBudget(batch.select(col(idCol), col(tokenCol)),
      idCol, tokenCol, budget, tokenOffset = oldTokens)
    val packed = layout
      .join(batch.drop(tokenCol), Seq(idCol))
      .withColumn("shard_id", (col("seq_id") / seqsPerShard).cast("long"))
    val touched = packed.select(col("shard_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    // Materialize the rewrite set (≤ one existing shard + the batch —
    // bounded by shard size, never the corpus) BEFORE writing: the
    // dynamic-overwrite job must not scan the very directories it is
    // replacing.
    val rewrite = asNullable(old
        .filter(col("shard_id").isin(touched.toSeq: _*))
        .unionByName(packed.select(old.columns.map(col).toIndexedSeq: _*)))
      .localCheckpoint(true)
    rewrite
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id")
      .parquet(path)
  }

  /** Per-shard manifest over a [[writeShards]] output (pass the
    * READ-BACK frame — computing the manifest from the files is what
    * proves the materialization): row counts, distinct sequences,
    * token sums, and an order-independent content digest (XOR of a
    * 60-bit md5 prefix of each row's `contentCol` rendering — both
    * engines can derive it, so the digest goes through the oracle
    * gate; row ORDER inside a shard is pinned separately by the
    * byte-identity spec). One agg, shard-count output rows. */
  def shardManifest(shards: DataFrame, contentCol: Column,
                    seqCol: String = "seq_id"): DataFrame =
    shards
      .withColumn("__h",
        conv(substring(md5(contentCol.cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col(seqCol)).cast("long").as("n_seqs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        expr("bit_xor(__h)").as("digest"))

  /** Incremental append for the SEALED layout — [[appendShards]]'
    * contract with [[packSealed]] semantics. Under append-only ingest
    * the batch's global prefix sums start at the landed token total,
    * so its shard assignments (`start div capacity`) are final and
    * ≥ the last landed shard; the only existing shard that can change
    * is that LAST one (the batch's first docs may start inside its
    * capacity span). Touched shards re-derive their within-shard
    * layout from their own rows alone (ordered running sum — for a
    * sealed shard that IS the from-scratch `s − s_first`), land
    * byte-identical to a from-scratch [[packSealed]] of the full
    * corpus (spec-pinned), and every earlier shard file is untouched.
    * Work ∝ batch. */
  def appendSealedShards(batch: DataFrame, idCol: String, tokenCol: String,
                         path: String, budget: Long, seqsPerShard: Long,
                         knownTotals: Option[(Long, Long)] = None): Unit = {
    require(budget >= 1 && seqsPerShard >= 1,
      s"budget/seqsPerShard must be >= 1, got $budget/$seqsPerShard")
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val cap = budget * seqsPerShard
    val old = spark.read.parquet(path)
      .withColumn("shard_id", col("shard_id").cast("long"))
    val (oldTokens, maxOldId) = knownTotals.getOrElse {
      val st = old.agg(sum(col("n_tokens")).cast("long"),
        max(col(idCol)).cast("long")).head()
      (st.getLong(0), st.getLong(1))
    }
    val minNew = batch.agg(min(col(idCol)).cast("long")).head().getLong(0)
    require(minNew > maxOldId,
      s"appendSealedShards is append-only: batch min id $minNew must " +
        s"follow existing max id $maxOldId (re-shard from scratch otherwise)")
    // rank-then-join-back, kept: the batch is micro-batch sized, so
    // the join-back broadcasts — prefixAttach's bucket window shuffles
    // the payload an extra time (A/B readings: see appendShards)
    val placed = prefixSums(batch.select(col(idCol), col(tokenCol)),
        idCol, tokenCol, oldTokens)
      .withColumn("shard_id", expr(s"__start div ${cap}L"))
      .select(col(idCol), col("n_tokens"), col("shard_id"))
      .join(batch.drop(tokenCol), Seq(idCol))
    val touched = placed.select(col("shard_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val rewrite = old
      .filter(col("shard_id").isin(touched.toSeq: _*))
      .select(col(idCol), col("n_tokens"), col("ids"), col("shard_id"))
      .unionByName(placed.select(col(idCol), col("n_tokens"), col("ids"),
        col("shard_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val packed = rewrite
      .withColumn("__ls", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("n_tokens"),
        expr(s"__ls div ${budget}L").as("seq_in_shard"),
        col("ids"), col("shard_id"))
      .localCheckpoint(true) // must not scan the dirs it overwrites
    asNullable(packed)
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id")
      .parquet(path)
  }

  /** TARGETED repair of a [[packSealed]]+[[writeByShardColumn]]
    * layout — the act on a quarantine list whose cost is ∝ flagged
    * shards (vs q167's global-layout repair, which honestly rewrites
    * everything after the first flagged doc). Shard membership is
    * FROZEN from the files: a repaired document stays in the shard
    * where it was sealed; only its payload changes. For every shard
    * holding a flagged document, the shard's surviving rows (unflagged
    * rows verbatim; flagged rows swapped for their entry in
    * `repaired`, a flagged row absent from `repaired` — wholly cut —
    * dropped) are re-laid-out by a WITHIN-shard prefix sum restarting
    * at zero, and only those shard directories are rewritten (dynamic
    * partition overwrite). Every unflagged shard's file is untouched
    * on disk — byte-identical, mtime-pinned (spec). A shard whose
    * every document was cut is deleted outright (dynamic overwrite
    * cannot clear a partition it writes no rows to).
    *
    * `flagged`: one id column (`idCol`) — the quarantine list.
    * `repaired`: (idCol, n_tokens, ids) — the post-repair payloads of
    * surviving flagged documents.
    * Work: read+rewrite of flagged shard files plus a broadcast
    * semi-join of the flagged ids against the layout — never the
    * corpus. */
  def repairSealedShards(spark: org.apache.spark.sql.SparkSession,
                         path: String, flagged: DataFrame,
                         repaired: DataFrame, idCol: String,
                         budget: Long): Unit = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val old = spark.read.parquet(path)
      .withColumn("shard_id", col("shard_id").cast("long"))
    val flagIds = flagged.select(col(idCol))
    val flaggedShards = old
      .join(broadcast(flagIds), Seq(idCol), "left_semi")
      .select(col("shard_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    if (flaggedShards.isEmpty) return
    val members = old.filter(col("shard_id").isin(flaggedShards.toSeq: _*))
    val keepOld = members
      .join(broadcast(flagIds), Seq(idCol), "left_anti")
      .select(col(idCol), col("n_tokens"), col("ids"), col("shard_id"))
    val swapped = members
      .join(broadcast(flagIds), Seq(idCol), "left_semi")
      .select(col(idCol), col("shard_id")) // membership frozen, payload new
      .join(repaired.select(col(idCol), col("n_tokens"), col("ids")),
        Seq(idCol)) // inner: wholly-cut docs vanish
      .select(col(idCol), col("n_tokens"), col("ids"), col("shard_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // Materialize BEFORE the overwrite (the job must not scan the very
    // directories it replaces); bounded by the flagged shard set.
    val packed = keepOld.unionByName(swapped)
      .withColumn("__ls", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("n_tokens"),
        expr(s"__ls div ${budget}L").as("seq_in_shard"),
        col("ids"), col("shard_id"))
      .localCheckpoint(true)
    asNullable(packed)
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id")
      .parquet(path)
    val emptied = flaggedShards --
      packed.select(col("shard_id")).distinct().collect().map(_.getLong(0))
    if (emptied.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { sid =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"shard_id=$sid"), true)
      }
    }
  }

  /** Dense 0-based global row ids in key order — distributed
    * zipWithIndex. `row_number() over (ORDER BY key)` plans a
    * single-partition sort (the whole corpus through one task); this
    * is the identity-rank special case of [[packByBudget]]'s
    * two-phase prefix sum instead: with every row weighing 1 token
    * and budget 1, `seq_id` IS the exclusive prefix count, i.e. the
    * 0-based global rank. Same contract as packByBudget (unique
    * orderable ids; sparse/clustered keys are fine — the sampled
    * range fallback keeps buckets row-balanced). Output: (idCol,
    * row_id). */
  def stableIds(df: DataFrame, idCol: String): DataFrame =
    packByBudget(df.withColumn("__one", lit(1L)), idCol, "__one", 1L)
      .select(col(idCol), col("seq_id").as("row_id"))

  /** [[prefixSums]] with the running total attached IN PLACE on the
    * FULL rows: the same bucketing decision, per-bucket offsets, and
    * within-bucket id order, but computed as ONE bucket-partitioned
    * window over the payload-carrying frame instead of the
    * rank-on-keys-then-join-back shape every attach site used to pay
    * (phase2's key shuffle plus a full shuffle join of both sides —
    * guide §2.4: two operations keyed the same way share one
    * exchange). Numerically identical to [[prefixSums]]: any
    * monotonic bucketing yields the same prefix sums, and this one
    * REUSES [[bucketing]] verbatim. Output: every input column
    * (idCol/tokenCol cast to long in place) + `__start`.
    *
    * Contract (same as [[prefixSums]]/[[stableIds]]): `idCol` values
    * must be UNIQUE and NON-NULL. With duplicate ids the within-bucket
    * running-sum tie order is nondeterministic; a null id would ride
    * through as a null bucket/null `__start` instead of failing fast
    * the way phase2's primitive Long encoder does. */
  private def prefixAttach(df: DataFrame, idCol: String,
                           tokenCol: String, tokenOffset: Long,
                           nBucketsOpt: Option[Int] = None): DataFrame =
    prefixAttachTotal(df, idCol, tokenCol, tokenOffset, nBucketsOpt)._1

  /** [[prefixAttach]] plus the frame's TOTAL token count — free at
    * call time (the per-bucket histogram the layout already collects
    * sums to it), so a caller that needs "how much landed" skips a
    * whole extra aggregation action over the frame (§5: fewer driver
    * actions on a multi-action lifecycle path). */
  private def prefixAttachTotal(df: DataFrame, idCol: String,
                                tokenCol: String, tokenOffset: Long,
                                nBucketsOpt: Option[Int] = None)
      : (DataFrame, Long) = {
    val typed = df.withColumn(idCol, col(idCol).cast("long"))
      .withColumn(tokenCol, col(tokenCol).cast("long"))
    val base = typed.withColumn("__id", col(idCol))
      .withColumn("__tok", col(tokenCol))
    val bounds = base.agg(min(col("__id")), max(col("__id")),
      count(lit(1))).head()
    if (bounds.isNullAt(0))
      return (typed.withColumn("__start", lit(0L)).limit(0), 0L)
    val (bCol, nB, eqTotals) = bucketing(base, bounds.getLong(0),
      bounds.getLong(1), bounds.getLong(2), nBucketsOpt)
    val withB = base.withColumn("__b", bCol)
    val offsets = eqTotals.getOrElse {
      withB.groupBy(col("__b")).agg(sum(col("__tok")).as("__t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val offArr = (0L until nB.toLong)
      .map(b => offsets.getOrElse(b, 0L))
      .scanLeft(tokenOffset)(_ + _).toArray
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("__b")).orderBy(col("__id"))
      .rowsBetween(W.unboundedPreceding, -1)
    // Index the FULL nB+1-entry scanLeft array, exactly as phase2's
    // offs(b) does: the equal-width bucket expression divides as
    // DOUBLE, and at key spans near 2^57 the top key's quotient can
    // round up to bucket nB — the scanLeft total in slot nB is the
    // numerically correct offset for that spillover bucket. Truncating
    // to nB entries made element_at throw under ANSI (the q359/r16
    // regression); spec-pinned in PackingAttachSpec.
    (withB.withColumn("__start",
        element_at(array(offArr.map(lit(_)).toIndexedSeq: _*),
          col("__b").cast("int") + 1) +
          coalesce(sum(col("__tok")).over(w), lit(0L)))
      .drop("__id", "__tok", "__b"),
      // the full histogram sum, NOT offArr.last: a spillover bucket
      // (the 2^57 rounding edge) is in the map but outside offArr's
      // 0..nB-1 slots
      offsets.valuesIterator.sum)
  }

  /** [[packByBudget]] with the layout attached in place: every input
    * column plus `seq_id`, one shuffle, no join-back. Same seq_id per
    * id as packByBudget by construction. `idCol` must be unique and
    * non-null ([[prefixAttach]]'s contract — ties would make seq_id
    * assignment among duplicates nondeterministic run to run). */
  def packAttach(df: DataFrame, idCol: String, tokenCol: String,
                 budget: Long, tokenOffset: Long = 0L): DataFrame =
    packAttachTotal(df, idCol, tokenCol, budget, tokenOffset)._1

  /** [[packAttach]] plus the frame's total token/byte count — free at
    * call time from the layout's own bucket histogram, so callers
    * that need "how much landed" (the sealed byte-append paths) skip
    * one whole aggregation action over the frame. */
  def packAttachTotal(df: DataFrame, idCol: String, tokenCol: String,
                      budget: Long, tokenOffset: Long = 0L)
      : (DataFrame, Long) = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val (attached, total) =
      prefixAttachTotal(df, idCol, tokenCol, tokenOffset)
    (attached.withColumn("seq_id", expr(s"__start div ${budget}L"))
      .drop("__start"), total)
  }

  /** [[stableIds]] with the rank attached in place (same row_id per
    * key): every input column plus `row_id`, one shuffle, no
    * join-back. `keyCol` must be unique, as for stableIds. */
  def withStableIds(df: DataFrame, keyCol: String): DataFrame =
    prefixAttach(df.withColumn("__one", lit(1L)), keyCol, "__one", 0L)
      .withColumn("row_id", col("__start"))
      .drop("__start", "__one")

  /** Spec probe: [[withStableIds]] at a PINNED bucket count — the
    * overflow-bucket edge (double-division rounding the top key into
    * bucket nB at ~2^57 spans) is parallelism-dependent, so the
    * regression spec exercises it at two bucket counts without
    * needing two SparkContexts. Production callers never pin. */
  private[graft] def withStableIdsAt(df: DataFrame, keyCol: String,
                                     nBuckets: Int): DataFrame =
    prefixAttach(df.withColumn("__one", lit(1L)), keyCol, "__one", 0L,
        Some(nBuckets))
      .withColumn("row_id", col("__start"))
      .drop("__start", "__one")

  /** Spec probe: [[packAttach]] at a pinned bucket count. */
  private[graft] def packAttachAt(df: DataFrame, idCol: String,
                                  tokenCol: String, budget: Long,
                                  nBuckets: Int): DataFrame =
    prefixAttach(df, idCol, tokenCol, 0L, Some(nBuckets))
      .withColumn("seq_id", expr(s"__start div ${budget}L"))
      .drop("__start")
}
