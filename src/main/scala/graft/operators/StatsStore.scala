package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import graft.sources.ParquetFooter

/** Ingest-batch store with FILE-LEVEL COLUMN STATS — the Delta/
  * Iceberg data-skipping mechanic in plain parquet. Each ingest batch
  * lands under `path/batch=<id>/bucket=<k>` (batch OUTER so batch
  * pruning prunes whole top-level dirs) with one stats row per
  * (batch, bucket, stat column) in `path/_stats`: min/max computed
  * from the batch frame BEFORE it lands, so stats cost no re-read. A
  * range scan consults `_stats` first (metadata-sized: batches ×
  * buckets × columns rows) and opens only batches whose [min, max]
  * intersects the predicate.
  *
  * `_stats` is also the store's MANIFEST AND COMMIT LEDGER: readers
  * ([[readStore]]/[[readRange]]) only open batches with stats rows, so
  * a data dir without its stats rows is INVISIBLE — which makes every
  * mutation here crash-consistent:
  *   - ingest commits data first, stats second; a crash between
  *     leaves an invisible orphan dir the replayed ingest OVERWRITES
  *     (dynamic partition overwrite) before publishing stats once —
  *     [[appendBatch]] is exactly-once under replay (a batch id
  *     already in `_stats` short-circuits).
  *   - [[compactBatches]] / [[expireBatches]] publish by ATOMIC
  *     `_stats` swap (stage `_stats__next` complete, delete, rename —
  *     the manifest-checkpoint discipline): every crash point leaves
  *     a readable, consistent store; superseded dirs become orphans
  *     the next maintenance pass GCs.
  * Maintenance ops require the store's single-writer window (the same
  * exclusivity every table format's OPTIMIZE demands).
  *
  * Where skipping pays at 100 TB: columns CORRELATED WITH ARRIVAL —
  * event timestamps, monotone ids, ingest days. A year of ingest
  * batches answers a one-day range by opening ~one batch's dirs; the
  * bucket-mod layout alone can never prune that (a key-mod bucket
  * holds keys across the whole time range, so per-BUCKET stats are
  * vacuous on time — the batch axis is the one that clusters). The
  * complement of the versioned store's pointer pruning: that prunes
  * on KEY identity, this prunes on VALUE ranges.
  *
  * Stats values are stored as LONG: numeric columns cast, timestamp
  * columns as `unix_micros` (exact — the cross-engine pair of
  * DuckDB's `epoch_us`). Long-typed event-time columns (the
  * nanos-as-long lab convention) are already longs. */
object StatsStore {

  private type Fs = org.apache.hadoop.fs.FileSystem

  private def fsOf(spark: SparkSession, path: String): Fs =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `_stats` layout: one row per (batch, bucket, stat column),
    * the same for every writer here (ingest, compaction, expiry), so
    * a read needs no schema inference. */
  private val StatsSchema = StructType(
    Seq("batch", "bucket").map(StructField(_, LongType)) ++
      (StructField("col_name", StringType) +:
        Seq("min_v", "max_v", "n_rows").map(StructField(_, LongType))))

  private def statLong(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }

  /** Empty-but-typed store view for a store whose batches have all
    * expired: the `_schema` sentinel (an empty parquet written at
    * first ingest) carries the full read-back schema, so a fully
    * drained store reads as zero rows instead of dying in parquet
    * schema inference (no `batch=` dirs remain to infer from). */
  private def emptyStore(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path, "_schema")
    require(fsOf(spark, path).exists(p),
      s"store at $path has no live batches and no _schema sentinel")
    ParquetFooter.read(spark, Seq(p.toString)).filter(lit(false))
  }

  /** Write the `_schema` sentinel once (first ingest): an empty frame
    * in the exact shape a partitioned read of the store yields — the
    * data columns, then `batch` and `bucket`. Idempotent: a complete
    * sentinel (`_SUCCESS` present) is never rewritten; a crashed
    * partial write is overwritten by the next ingest. */
  private def ensureSchemaSentinel(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path, "_schema")
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) return
    df.limit(0)
      .withColumn("batch", lit(0L)).withColumn("bucket", lit(0L))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
  }

  /** Complete an interrupted maintenance swap (the
    * [[Lakehouse.checkpointManifest]] recovery discipline): `_stats`
    * absent + a COMPLETE `_stats__next` ⇒ the crash fell between
    * delete and rename — finish it. An incomplete `__next` beside a
    * live `_stats` is pre-swap garbage the next maintenance clears. */
  private def recoverStats(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val st = new org.apache.hadoop.fs.Path(path, "_stats")
    val next = new org.apache.hadoop.fs.Path(path, "_stats__next")
    if (!fs.exists(st) && fs.exists(next) &&
        fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) {
      if (!fs.rename(next, st))
        throw new java.io.IOException(
          s"stats recovery failed: $next -> $st")
    }
  }

  /** The stats table behind crash recovery — the only way code here
    * opens `_stats`. */
  private def statsDf(spark: SparkSession, path: String): DataFrame = {
    recoverStats(spark, path)
    ParquetFooter.read(spark, Seq(s"$path/_stats"), fixed = Some(StatsSchema))
  }

  private def statsBatches(spark: SparkSession,
                           path: String): Set[Long] =
    statsDf(spark, path).select(col("batch")).distinct()
      .collect().map(_.getLong(0)).toSet

  /** Atomic `_stats` replacement: stage complete, delete live,
    * rename. */
  private def swapStats(spark: SparkSession, path: String,
                        next: DataFrame): Unit = {
    val fs = fsOf(spark, path)
    val stPath = new org.apache.hadoop.fs.Path(path, "_stats")
    val nextPath = new org.apache.hadoop.fs.Path(path, "_stats__next")
    fs.delete(nextPath, true)
    next.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(nextPath.toString)
    if (!fs.exists(new org.apache.hadoop.fs.Path(nextPath, "_SUCCESS")))
      throw new java.io.IOException(
        s"stats staging incomplete (no _SUCCESS) at $nextPath")
    fs.delete(stPath, true)
    if (!fs.rename(nextPath, stPath))
      throw new java.io.IOException(
        s"stats swap failed: $nextPath -> $stPath")
  }

  /** Delete data dirs whose batch id has no stats rows — crashed
    * ingests' and completed maintenance's leftovers, invisible to
    * readers by the ledger rule. Runs at the top of every maintenance
    * op (single-writer window, so no in-flight ingest can be
    * mistaken for an orphan). Returns the batch ids collected. */
  private def gcOrphans(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val live = statsBatches(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Nil
    val orphans = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filterNot(live).toSeq.sorted
    orphans.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"batch=$b"), true)
    }
    orphans
  }

  /** Land one ingest batch EXACTLY-ONCE: rows under
    * `path/batch=<id>/bucket=<k>` (one file per bucket —
    * repartitioned on bucket, sorted by key within) via dynamic
    * partition overwrite (a replay of a crashed attempt overwrites
    * its own partial files), then the stats rows — whose presence IS
    * the commit. A batch id already in `_stats` short-circuits
    * (fully landed); ids must be fresh per logical batch (the
    * caller's sequence — a streaming sink's batchId, an ingest
    * ledger). */
  def appendBatch(df: DataFrame, key: String, path: String,
                  buckets: Int, batch: Long,
                  statCols: Seq[String]): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(statCols.nonEmpty, "statCols must name at least one column")
    require(batch >= 0L,
      s"ingest batch ids are non-negative (got $batch): the negative " +
        "range is the compaction-output namespace — disjoint so a " +
        "compaction can never mint an id a later streaming micro-batch " +
        "will present, which would silently drop that batch's data " +
        "while its checkpoint advances")
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(path, "_stats")) ||
        fs.exists(new org.apache.hadoop.fs.Path(path, "_stats__next"))) {
      if (statsBatches(spark, path).contains(batch)) return // ledgered
    }
    ensureSchemaSentinel(df, path)
    val b = df
      .withColumn("bucket", pmod(col(key), lit(buckets.toLong)))
      .withColumn("batch", lit(batch))
      .localCheckpoint(true) // one evaluation feeds write AND stats
    // stat-first clustering within each bucket file (then key):
    // parquet records rowgroup min/max unconditionally, so rows
    // inside an ADMITTED batch still skip at rowgroup grain — the
    // within-dir complement of the `_stats` batch/bucket pruning,
    // and the only pruning a value-correlated column gets when the
    // key mod anti-clusters it (the Lakehouse.writeVDir discipline)
    b.repartition(col("bucket"))
      .sortWithinPartitions(
        (("bucket" +: statCols) :+ key).distinct.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "bucket")
      .parquet(path)
    statCols.map { c =>
      b.groupBy(col("bucket").cast("long").as("bucket"))
        .agg(min(statLong(b, c)).as("min_v"),
          max(statLong(b, c)).as("max_v"),
          count(lit(1)).as("n_rows"))
        .select(lit(batch).as("batch"), col("bucket"),
          lit(c).as("col_name"), col("min_v"), col("max_v"),
          col("n_rows"))
    }.reduce(_ unionByName _)
      .coalesce(1).write.mode(SaveMode.Append)
      .parquet(s"$path/_stats")
  }

  /** Normalize the partition columns to LONG after a live read:
    * Spark's partition-value inference types `batch=`/`bucket=` by
    * value (IntegerType for small ids), while the `_schema` sentinel
    * — and every ledger — carries them as LongType; without this a
    * drained store and a live store would read with DIFFERENT
    * schemas for the same table. The cast is on partition columns
    * only (metadata values — no per-row work survives codegen, and
    * partition pruning on the casted column still folds at plan
    * time). */
  private def normPartCols(df: DataFrame): DataFrame =
    df.withColumn("batch", col("batch").cast("long"))
      .withColumn("bucket", col("bucket").cast("long"))

  /** Full read THROUGH THE LEDGER: only batches with stats rows open
    * (an orphan dir from a crashed ingest or a superseded compaction
    * is invisible). */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    val live = statsBatches(spark, path).toSeq.sorted
    if (live.isEmpty) return emptyStore(spark, path)
    normPartCols(spark.read.parquet(path))
      .filter(col("batch").isin(live: _*))
  }

  /** Open EXACTLY the surviving `batch=<b>/bucket=<k>` dirs as read
    * roots (`basePath` keeps the partition columns). A batch-set ×
    * bucket-set `isin` pair would also admit the CROSS-PRODUCT dirs —
    * batch A's cold buckets that only survived through batch B — so
    * the roots are the pairs themselves. Every (batch, bucket) stats
    * row has a dir: ingest writes stats only for buckets the batch
    * landed, and compaction merges stats per bucket it rewrote. */
  private def readPairs(spark: SparkSession, path: String,
                        pairs: Seq[(Long, Long)]): DataFrame =
    normPartCols(spark.read.option("basePath", path)
      .parquet(pairs.sorted.map { case (b, k) =>
        s"$path/batch=$b/bucket=$k" }: _*))

  /** Stats rows for one column, GUARDED: a live batch with no stats
    * row for `statCol` would be silently invisible to a range scan —
    * a false NEGATIVE, the one failure mode skipping must never have.
    * Mis-specified columns die loudly instead. */
  private def statsFor(spark: SparkSession, path: String,
                       statCol: String): DataFrame = {
    val st = statsDf(spark, path).localCheckpoint(true)
    val missing = st.select(col("batch")).distinct()
      .join(st.filter(col("col_name") === statCol)
        .select(col("batch")).distinct(), Seq("batch"), "left_anti")
      .collect().map(_.getLong(0))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"no '$statCol' stats for batch(es) ${missing.sorted.mkString(", ")}" +
          s" under $path — range reads on it would silently skip them")
    st.filter(col("col_name") === statCol)
  }

  /** The batches a `[lo, hi]` range on `statCol` can possibly hit:
    * batches with ANY (batch, bucket) stats row whose [min_v, max_v]
    * intersects the range. Metadata-only (reads `_stats`, never
    * data); the pruning evidence a caller can surface next to the
    * scan. */
  def rangeBatches(spark: SparkSession, path: String, statCol: String,
                   lo: Long, hi: Long): Seq[Long] =
    statsFor(spark, path, statCol)
      .filter(col("max_v") >= lo && col("min_v") <= hi)
      .select(col("batch")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Range scan with stats skipping: only the (batch, bucket) PAIRS
    * whose stats intersect the range are opened — their dirs are the
    * read roots ([[readPairs]]), so a surviving batch's cold buckets
    * and a surviving bucket's cold batches are both skipped (a
    * batch-set × bucket-set filter would read that cross product).
    * The row-level range predicate still applies on top (stats admit
    * false positives by design, never false negatives). */
  def readRange(spark: SparkSession, path: String, statCol: String,
                lo: Long, hi: Long): DataFrame = {
    val st = statsFor(spark, path, statCol)
      .filter(col("max_v") >= lo && col("min_v") <= hi)
      .select(col("batch"), col("bucket")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (st.isEmpty) return emptyStore(spark, path)
    val pruned = readPairs(spark, path, st)
    // the row predicate in the column's NATIVE type so it pushes into
    // the parquet scan (a unix_micros() wrapper would evaluate
    // post-scan); unix_micros is monotone, so the bounds map exactly
    val rowPred = pruned.schema(statCol).dataType match {
      case TimestampType =>
        col(statCol).between(timestamp_micros(lit(lo)),
          timestamp_micros(lit(hi)))
      case _ => col(statCol).cast("long").between(lo, hi)
    }
    pruned.filter(rowPred)
  }

  /** Multi-predicate range scan: the CONJUNCTION of several
    * `[lo, hi]` ranges — the surviving batch set is the INTERSECTION
    * of each predicate's [[rangeBatches]] set (a batch must possibly
    * satisfy EVERY range to be read at all), so two arrival-
    * correlated columns prune harder than either alone. Bucket
    * pruning and row predicates compose per column the same way. */
  def readRangeMulti(spark: SparkSession, path: String,
                     preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "readRangeMulti needs at least one range")
    val perPred = preds.map { case (c, lo, hi) =>
      statsFor(spark, path, c)
        .filter(col("max_v") >= lo && col("min_v") <= hi)
        .select(col("batch"), col("bucket")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val pairs = perPred.reduce(_ intersect _)
    if (pairs.isEmpty) return emptyStore(spark, path)
    val pruned = readPairs(spark, path, pairs.toSeq)
    preds.foldLeft(pruned) { case (df, (c, lo, hi)) =>
      val rowPred = df.schema(c).dataType match {
        case TimestampType =>
          col(c).between(timestamp_micros(lit(lo)),
            timestamp_micros(lit(hi)))
        case _ => col(c).cast("long").between(lo, hi)
      }
      df.filter(rowPred)
    }
  }

  /** Bin-pack COMPACTION (OPTIMIZE): rewrite the given batches as ONE
    * fresh batch whose id comes from the NEGATIVE namespace (first
    * compaction −1, then −2, …) — disjoint from ingest ids (≥ 0, see
    * [[appendBatch]]), so a compaction can never mint an id a later
    * streaming micro-batch presents: `live.max + 1` would land in the
    * batchId sequence and make [[appendBatch]]'s ledger check silently
    * swallow that real batch while its checkpoint advanced. Stats
    * re-merged per
    * (bucket, column): min of mins, max of maxes, summed row counts —
    * NO data re-scan for stats. Publish is the atomic `_stats` swap;
    * the superseded dirs become invisible orphans GC'd here and by
    * the next maintenance pass. Repays small-batch ingest debt: a
    * day of minute-batches compacts to one dir, and range pruning
    * granularity coarsens exactly as far as the compaction window
    * (the knob the caller holds). Returns the new batch id. */
  def compactBatches(spark: SparkSession, path: String, key: String,
                     batchIds: Seq[Long]): Long = {
    gcOrphans(spark, path)
    val live = statsBatches(spark, path)
    val ids = batchIds.distinct.sorted
    require(ids.nonEmpty && ids.forall(live.contains),
      s"compactBatches: ${ids.filterNot(live.contains).mkString(", ")}" +
        " not live in the ledger")
    val into = live.filter(_ < 0L).foldLeft(0L)(math.min) - 1L
    val rows = spark.read.parquet(path)
      .filter(col("batch").isin(ids: _*))
      .withColumn("batch", lit(into))
      .localCheckpoint(true)
    // re-cluster the compacted file by the LEDGERED stat columns
    // (then key) — compaction coarsens batch-grain pruning to the
    // compaction window by design; rowgroup-grain skips inside the
    // bigger file are what keep range scans cheap afterwards
    val sCols = statsDf(spark, path)
      .filter(col("batch").isin(ids: _*))
      .select(col("col_name")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    rows.repartition(col("bucket"))
      .sortWithinPartitions(
        (("bucket" +: sCols) :+ key).distinct.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "bucket")
      .parquet(path)
    val old = statsDf(spark, path).localCheckpoint(true)
    val merged = old.filter(col("batch").isin(ids: _*))
      .groupBy(col("bucket"), col("col_name"))
      .agg(min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
        sum(col("n_rows")).cast("long").as("n_rows"))
      .select(lit(into).as("batch"), col("bucket"), col("col_name"),
        col("min_v"), col("max_v"), col("n_rows"))
    swapStats(spark, path,
      old.filter(!col("batch").isin(ids: _*)).unionByName(merged))
    gcOrphans(spark, path)
    into
  }

  /** Value-range RETENTION (TTL): drop every batch whose ledgered
    * `statCol` maximum is below `cutoff` — expiry is a METADATA
    * decision (one `_stats` scan), the atomic swap unpublishes the
    * batches, and the dirs GC as orphans. The time-series retention
    * story: "keep 90 days" is one call, no data read. Returns the
    * expired batch ids. */
  def expireBatches(spark: SparkSession, path: String, statCol: String,
                    cutoff: Long): Seq[Long] = {
    gcOrphans(spark, path)
    val old = statsDf(spark, path).localCheckpoint(true)
    // the statsFor missing-column guard, on the retention path too: a
    // live batch with no statCol rows (or a mis-spelled column) would
    // otherwise be silently retained FOREVER — the loud-failure
    // contract cuts both ways (reads must never skip an unledgered
    // batch; expiry must never leak one)
    val uncovered = old.select(col("batch")).distinct()
      .join(old.filter(col("col_name") === statCol)
        .select(col("batch")).distinct(), Seq("batch"), "left_anti")
      .collect().map(_.getLong(0))
    if (uncovered.nonEmpty)
      throw new IllegalArgumentException(
        s"no '$statCol' stats for batch(es) " +
          s"${uncovered.sorted.mkString(", ")} under $path — expiry " +
          "on it would silently retain them forever")
    val doomed = old.filter(col("col_name") === statCol)
      .groupBy(col("batch"))
      .agg(max(col("max_v")).as("mx"))
      .filter(col("mx") < cutoff)
      .select(col("batch")).collect().map(_.getLong(0)).toSeq.sorted
    if (doomed.isEmpty) return Nil
    swapStats(spark, path, old.filter(!col("batch").isin(doomed: _*)))
    gcOrphans(spark, path)
    doomed
  }
}
