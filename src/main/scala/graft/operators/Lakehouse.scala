package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.ParquetFooter

/** A versioned commit lost the optimistic-concurrency race: another
  * writer holds (or already published) the commit slot for `version`
  * under `path`. The correct reaction is to RE-RESOLVE the manifest
  * and retry at the new head — [[Lakehouse.mergeVersionedConcurrent]]
  * does exactly that. `holder` is the winning writer's token ("" when
  * the marker was torn before its token landed). */
final case class ConcurrentCommitException(path: String, version: Long,
                                           holder: String)
  extends RuntimeException(
    s"versioned commit v$version at $path lost the race" +
      (if (holder.isEmpty) "" else s" to writer '$holder'") +
      " — re-resolve the manifest head and retry at the next version")

/** Physical table maintenance the text family's shard writer does not
  * cover: (a) JSONL shard export — the interchange format training
  * stacks actually mount — with a byte-budget layout from the same
  * two-phase prefix sum the token shards use, and (b) a generic keyed
  * BUCKETED parquet store with MERGE INTO semantics (upsert + delete
  * in one batch), rewriting ONLY the buckets the batch touches — the
  * [[graft.multimodal.MediaStore]] delete discipline generalized from
  * keep-one verdicts to arbitrary keyed mutation.
  *
  * Scale shape: shard/bucket assignment is a projection (+ one
  * two-phase prefix pass for JSONL); every write is partitioned by
  * the layout column so a shard/bucket is one task's output; merge
  * I/O is ∝ touched buckets by construction, never the store — on
  * BOTH sides: the write rebuilds only touched buckets, and every
  * classification READ is partition-pruned to the batch's candidate
  * buckets ([[bucketsOf]] — exact, because `bucket =
  * pmod(key, buckets)` is a pure function of the key, so a batch key
  * can only live in its own bucket).
  */
object Lakehouse {

  // ---------------------------------------------------------- JSONL

  /** One JSON line per document, built by explicit concatenation so
    * the bytes are engine-reproducible (to_json's field ordering and
    * float formatting are not part of any cross-engine contract).
    * Only quote and backslash need escaping for string fields whose
    * content is printable (control chars are absent from the corpus
    * contract; a fuller escaper would extend the regex). n_bytes
    * counts the line plus its newline — char count == byte count on
    * this ASCII corpus (octet_length would replace length for UTF-8).
    * Output: (doc_id, line, n_bytes). */
  def jsonLines(docs: DataFrame): DataFrame = {
    val esc = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, "([\"\\\\])", "\\\\$1")
    docs.select(col("doc_id"),
      concat(lit("{\"doc_id\":"), col("doc_id"),
        lit(",\"lang\":\""), esc(col("lang")),
        lit("\",\"source\":\""), esc(col("source")),
        lit("\",\"text\":\""), esc(col("text")), lit("\"}")).as("line"))
      .withColumn("n_bytes", (length(col("line")) + 1L).cast("long"))
  }

  /** Export documents as JSONL shards under `path/shard=N`, shard =
    * byte-budget greedy fill by global prefix position (the
    * [[Packing.packByBudget]] layout — `byteOffset` is the sealed
    * append hook: a batch of strictly-later ids with the landed byte
    * total as offset lands exactly where the from-scratch layout
    * would put it). One text file per shard (hash-repartitioned on
    * shard, sorted by doc_id inside), `mode` Append for incremental
    * batches. */
  def writeJsonl(docs: DataFrame, path: String, budgetBytes: Long,
                 byteOffset: Long = 0L,
                 mode: SaveMode = SaveMode.Overwrite): Long =
    writeLines(jsonLines(docs), "doc_id", path, budgetBytes,
      byteOffset, mode)

  /** The generic text-shard writer under [[writeJsonl]]: any
    * (keyCol, line, n_bytes) frame lands as `path/shard=N` text files
    * with the byte-budget prefix-sum layout, lines in key order.
    * Returns the TOTAL bytes landed (sum of n_bytes) — free from the
    * layout's own bucket histogram, so append callers tracking the
    * landed byte total skip a whole extra aggregation pass. */
  def writeLines(lines: DataFrame, keyCol: String, path: String,
                 budgetBytes: Long, byteOffset: Long = 0L,
                 mode: SaveMode = SaveMode.Overwrite): Long = {
    // layout attached in place (packAttach): one bucket-window
    // shuffle over the lines instead of rank-then-join-back — same
    // shard per key, same within-file order, byte-identical output
    val (attached, total) = Packing.packAttachTotal(lines, keyCol,
      "n_bytes", budgetBytes, byteOffset)
    attached.withColumn("shard", col("seq_id"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(keyCol))
      .select(col("shard"), col("line"))
      .write.mode(mode).partitionBy("shard").text(path)
    total
  }

  /** Read a [[writeJsonl]] layout back and manifest it per shard:
    * (shard_id, n_docs, n_bytes, content_md5) where content_md5
    * hashes the newline-joined lines in doc_id order (ids parsed back
    * out of the JSON — after an append a shard may span part files,
    * so file order alone is not the contract; id order is). This is
    * the gate's evidence that the BYTES ON DISK equal the pure-SQL
    * reconstruction. */
  def jsonlManifest(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(col("shard").cast("long").as("shard_id"),
        get_json_object(col("value"), "$.doc_id").cast("long")
          .as("doc_id"),
        col("value"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("value")) + 1L).cast("long").as("n_bytes"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("value")))),
          x => x.getField("value")), "\n")).as("content_md5"))

  /** Read a [[writeJsonl]] layout back into a TYPED table — the
    * import half of the interchange roundtrip (from_json undoes the
    * escaping [[jsonLines]] applied; n_chars re-derives as the text
    * length, the corpus contract). */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, lang STRING, source STRING, text STRING"))
        .as("j"))
      .select(col("j.doc_id").as("doc_id"), col("j.lang").as("lang"),
        col("j.source").as("source"), col("j.text").as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  // ----------------------------------------------- keyed merge store

  private def bucketed(df: DataFrame, key: String, buckets: Int) =
    df.withColumn("bucket", pmod(col(key), lit(buckets.toLong)))

  /** The distinct `bucket` values of a frame, collected (≤ buckets
    * values — the layout's parallelism constant, never data-sized).
    * For a batch these are its CANDIDATE buckets, the ones it can
    * touch, computed from the batch alone: `bucket = pmod(key,
    * buckets)` is a pure function of the key, so this set bounds every
    * store read a merge needs, and a read filtered to it is
    * partition-pruned to exactly these dirs. */
  private def bucketsOf(df: DataFrame): Set[Long] =
    df.select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet

  /** Upsert semantics here are WHOLE-ROW replacement, so a batch
    * missing a standing payload column would silently write NULLs
    * into every updated row — fail fast instead. Evolution only needs
    * the other direction tolerated (batch-EXTRA columns widen the
    * store); the allowMissingColumns union exists solely for the
    * survivors' side of a widening merge. */
  private def requireBatchCovers(curCols: Seq[String],
                                 upCols: Seq[String],
                                 path: String): Unit = {
    val missing = curCols.filterNot(upCols.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"merge batch for $path is missing standing payload column(s) " +
          s"${missing.mkString(", ")} — whole-row upserts would null " +
          "them; include the columns (or rewrite the store narrower " +
          "first)")
  }

  /** Materialize a keyed table as a bucketed store (`path/bucket=N`,
    * bucket = key mod buckets) — the layout [[mergeInto]] maintains.
    *
    * CONCURRENCY CONTRACT for the plain store: [[writeStore]],
    * [[mergeInto]], [[appendStore]] and [[compactStore]] mutate the
    * layout IN PLACE and assume a SINGLE-WRITER window — two
    * concurrent mutators can interleave dynamic-overwrite files
    * inside one bucket dir (lost update), the same exclusivity every
    * table format's in-place OPTIMIZE demands ([[StatsStore]]
    * documents the identical rule for its maintenance ops). Writers
    * that need real concurrency use the VERSIONED store: its
    * `_commits/v<N>` put-if-absent slot ([[mergeVersionedConcurrent]])
    * makes racing commits lose loudly and retry, never silently. */
  def writeStore(df: DataFrame, key: String, path: String,
                 buckets: Int): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    bucketed(df, key, buckets)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col(key))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(path)
  }

  /** Append an ingest batch: new rows land as additional part files
    * inside their bucket dirs; nothing existing is opened. Work ∝
    * batch — the small-file debt this creates is what
    * [[compactStore]] repays. */
  def appendStore(df: DataFrame, key: String, path: String,
                  buckets: Int): Unit =
    bucketed(df, key, buckets)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col(key))
      .write.mode(SaveMode.Append)
      .partitionBy("bucket")
      .parquet(path)

  /** OPTIMIZE: rewrite every bucket that has accumulated more than
    * one part file (append debt) into a single file; buckets already
    * compact are not opened, rewritten, or touched — compaction cost
    * is ∝ fragmented buckets, mirroring the merge discipline. The
    * fragmented-bucket scan is a directory listing (≤ buckets
    * entries), not a data read. Content is bit-preserved: the same
    * rows, re-sorted by key within the bucket. Returns (touched,
    * rewritten) — equal by construction. */
  def compactStore(spark: SparkSession, path: String,
                   key: String): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val multi = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .filter { d =>
        fs.listStatus(d.getPath)
          .count(_.getPath.getName.startsWith("part-")) > 1
      }
      .map(_.getPath.getName.stripPrefix("bucket=").toLong).toSet
    if (multi.isEmpty) return (0L, 0L)
    // explicit fragmented-bucket roots + mergeSchema: only their
    // files are opened, and a mixed-schema (evolved) bucket compacts
    // under the UNION schema instead of whichever footer a plain
    // read would sample — old rows carry explicit nulls afterwards,
    // which is what every mergeSchema reader already saw
    val replacement = spark.read.option("mergeSchema", "true")
      .option("basePath", path)
      .parquet(multi.toSeq.sorted.map(bk => s"$path/bucket=$bk"): _*)
      .localCheckpoint(true)
    replacement.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col(key))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(path)
    (multi.size.toLong, multi.size.toLong)
  }

  /** Point lookup (the SERVING path): fetch the rows for a bounded
    * key set from a [[writeStore]] layout, opening only the keys'
    * candidate bucket dirs — `bucket = pmod(key, buckets)` turns a
    * multi-key GET into a partition-pruned scan with a pushed key
    * filter. Misses simply return no row. `keys` is caller-bounded
    * (a serving request, never data-sized). */
  def lookupStore(spark: SparkSession, path: String, key: String,
                  keys: Seq[Long], buckets: Int): DataFrame = {
    if (keys.isEmpty)
      return spark.read.parquet(path).filter(lit(false))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cand = keys.map(k => Math.floorMod(k, buckets.toLong)).distinct
    // candidate dirs as explicit roots (misses drop out here for
    // free) with the mergeSchema union over THEIR footers — the q343
    // read-time contract holds on an evolved mixed store, and the
    // schema can't depend on which footer a plain read would sample
    val dirs = cand.sorted.map(bk => s"$path/bucket=$bk")
      .filter(dc => fs.exists(new org.apache.hadoop.fs.Path(dc)))
    if (dirs.isEmpty)
      return spark.read.parquet(path).filter(lit(false))
    spark.read.option("mergeSchema", "true").option("basePath", path)
      .parquet(dirs: _*)
      .filter(col(key).isin(keys: _*))
  }

  /** MERGE INTO: apply one batch of upserts (`op = 'U'`, full payload
    * columns) and deletes (`op = 'D'`) to a [[writeStore]] layout.
    * Only buckets that physically change are rewritten: a bucket is
    * touched iff it holds an existing row with a batch key (update or
    * delete) or receives an upsert; deletes of absent keys touch
    * nothing. Touched buckets rebuild from (survivors ∪ upserts) —
    * localCheckpointed BEFORE the dynamic partition overwrite so the
    * write never scans the dirs it replaces — and buckets the merge
    * emptied are removed outright (the [[Packing.repairSealedShards]]
    * delete discipline). Returns (touched, rewritten) bucket counts —
    * equal by construction, emitted separately so gate queries can
    * pin the `changed == touched` contract with measured values.
    *
    * Scale: batch keys flow through joins (left_semi/left_anti);
    * only the candidate/touched bucket ID SETS are collected (each ≤
    * buckets — the layout's own parallelism constant, never
    * data-sized). The classification read is partition-pruned to the
    * batch's candidate buckets, so a small batch against a huge
    * store opens only the dirs its keys could live in. */
  def mergeInto(spark: SparkSession, path: String, batch: DataFrame,
                key: String, buckets: Int): (Long, Long) = {
    val b = bucketed(batch, key, buckets)
    val cand = bucketsOf(b)
    if (cand.isEmpty) return (0L, 0L)
    // the classification/survivor read: ONLY the candidate bucket
    // dirs are listed or opened (they're passed as explicit roots —
    // basePath keeps the partition column), and the schema is the
    // mergeSchema UNION over those dirs' footers, so an already-mixed
    // (evolved) store can never resolve its narrow schema and drop a
    // widened column from survivors. Footer cost ∝ candidate buckets'
    // files, never the store.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val candDirs = cand.toSeq.sorted.map(bk => s"$path/bucket=$bk")
      .filter(dc => fs.exists(new org.apache.hadoop.fs.Path(dc)))
    val store =
      if (candDirs.isEmpty) // pure insert into brand-new buckets
        spark.read.parquet(path).filter(lit(false))
      else spark.read.option("mergeSchema", "true")
        .option("basePath", path).parquet(candDirs: _*)
    val curCols = store.columns.filter(_ != "bucket").toSeq
    // schema EVOLUTION on upsert (mirrors mergeVersioned): batch-only
    // payload columns widen the touched buckets; survivors read them
    // as null via the allowMissing union, and readers of a mixed-
    // schema store use mergeSchema (the q343 read-time contract)
    val upCols = batch.columns
      .filterNot(c => c == "op" || c == "bucket").toSeq
    requireBatchCovers(curCols, upCols, path)
    val batchKeys = b.select(col(key)).distinct()
    val existingTouched = store
      .join(batchKeys, Seq(key), "left_semi")
      .select(col("bucket").cast("long")).distinct()
    val upsertTouched = b.filter(col("op") === "U")
      .select(col("bucket").cast("long")).distinct()
    val touched = existingTouched.union(upsertTouched).distinct()
      .collect().map(_.getLong(0)).toSet
    if (touched.isEmpty) return (0L, 0L)
    val survivors = store
      .filter(col("bucket").isin(touched.toSeq: _*))
      .join(batchKeys, Seq(key), "left_anti")
      .select(("bucket" +: curCols).map(col): _*)
    val replacement = survivors.unionByName(
        b.filter(col("op") === "U")
          .select(("bucket" +: upCols).map(col): _*),
        allowMissingColumns = true)
      .localCheckpoint(true)
    replacement.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col(key))
      .write.mode(SaveMode.Overwrite)
      // per-write option, NOT session conf: a session-wide dynamic
      // mode would silently change every later static Overwrite in
      // the shared Verify session
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(path)
    val written = bucketsOf(replacement)
    val emptied = touched -- written
    emptied.foreach { bid =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"bucket=$bid"), true)
    }
    (touched.size.toLong, (written.size + emptied.size).toLong)
  }

  // ------------------------------------- versioned (time travel)

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Complete an interrupted [[checkpointManifest]] swap: if
    * `_manifest` is absent but a COMPLETE `_manifest__next` (its
    * `_SUCCESS` marker present) exists, rename it into place — the
    * crash fell between the old manifest's delete and the new one's
    * rename, and the collapsed manifest it left is fully valid. An
    * INCOMPLETE `__next` next to a live `_manifest` is pre-swap
    * garbage a future checkpoint clears; readers just ignore it.
    * Every manifest access routes through here, so no crash point in
    * the checkpoint protocol can leave the store unreadable. */
  private[graft] def recoverManifest(spark: SparkSession,
                                     path: String): Unit = {
    val fs = hfs(spark, path)
    val man = new org.apache.hadoop.fs.Path(path, "_manifest")
    val next = new org.apache.hadoop.fs.Path(path, "_manifest__next")
    if (!fs.exists(man) && fs.exists(next) &&
        fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) {
      if (!fs.rename(next, man))
        throw new java.io.IOException(
          s"manifest recovery failed: $next -> $man")
    }
  }

  /** The layout every `_manifest` writer writes and [[manifestDf]]
    * reads with: fixed, so no manifest read infers a schema. */
  private val ManifestSchema = StructType.fromDDL(
    "version BIGINT, bucket BIGINT, vdir BIGINT, empty BOOLEAN, " +
      "commit_ts BIGINT")

  /** The store's manifest, behind crash recovery — the only way any
    * code here opens `_manifest`. */
  private def manifestDf(spark: SparkSession, path: String): DataFrame = {
    recoverManifest(spark, path)
    ParquetFooter.read(spark, Seq(s"$path/_manifest"), Some(ManifestSchema))
  }

  /** One manifest row; `bucket = -1` is a checkpoint floor marker
    * (always `empty`). */
  private final case class Ptr(version: Long, bucket: Long, vdir: Long,
                               empty: Boolean, commitTs: Long)

  /** The manifest's rows, collected ONCE per op. The manifest is
    * metadata-sized by construction (≤ commits × touched buckets
    * pointer rows), so the head, the commit guards, pointer
    * resolution and the vacuum live set all derive from these rows on
    * the driver: one Spark job per op reads the manifest. */
  private final class Manifest(path: String, val rows: Seq[Ptr]) {
    val commits: Seq[Ptr] = rows.filter(_.bucket != -1L)
    /** The last version number used, floor markers included. */
    def maxVersion: Long = rows.map(_.version).maxOption.getOrElse(
      throw new IllegalStateException(
        s"manifest at $path exists but holds no commits"))
    /** The last committed version. */
    def head: Option[Long] = commits.map(_.version).maxOption
    def lastTs: Option[Long] = commits.map(_.commitTs).maxOption
    /** The checkpoint floor: history below it is collapsed. */
    def floor: Option[Long] = rows.filter(_.bucket == -1L)
      .map(_.version).maxOption

    /** Each bucket's latest pointer at or below `version`, tombstones
      * included. */
    def latest(version: Long): Map[Long, Ptr] =
      commits.filter(_.version <= version).groupBy(_.bucket)
        .map { case (bk, ps) =>
          bk -> ps.maxBy(p => (p.version, p.vdir, p.empty, p.commitTs))
        }

    def requireAboveFloor(version: Long): Unit =
      if (floor.exists(version < _))
        throw new IllegalArgumentException(
          s"version $version predates the checkpoint floor " +
            s"${floor.get} under $path")

    /** The live (bucket, vdir) pointer pairs AS OF `version` (latest
      * non-tombstone pointer per bucket), with both read guards: the
      * checkpoint floor (a sub-floor read would silently return a
      * PARTIAL state) and the predates-first-commit check.
      * `bucketSet` restricts resolution to the given buckets. */
    def pointers(version: Long,
                 bucketSet: Option[Set[Long]]): Array[(Long, Long)] = {
      requireAboveFloor(version)
      if (!rows.exists(_.version <= version))
        throw new IllegalArgumentException(
          s"version $version predates the first commit under $path")
      latest(version).valuesIterator
        .filter(p => !p.empty && bucketSet.forall(_.contains(p.bucket)))
        .map(p => (p.bucket, p.vdir)).toArray
    }

    /** The commit guards: `version` must be one past the head (a
      * stale head — another writer published since the caller
      * resolved — is the retryable OCC conflict, a gap a caller
      * error), and commit_ts monotone in version (as-of-timestamp
      * resolution assumes it). */
    def checkNext(version: Long, cts: Long): Unit = {
      val maxV = maxVersion
      if (version <= maxV)
        throw ConcurrentCommitException(path, version, "")
      require(version == maxV + 1,
        s"version must be one past the last ($maxV), got $version")
      require(lastTs.forall(cts >= _),
        s"commitTs must be monotone: got $cts after ${lastTs.get}")
    }
  }

  private def manifest(spark: SparkSession, path: String): Manifest =
    new Manifest(path, manifestDf(spark, path).collect().toSeq.map(r =>
      Ptr(r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4))))

  /** Write pointer rows as one manifest file under `dest`. */
  private def writeManifest(spark: SparkSession, rows: Seq[Ptr],
                            dest: String, mode: SaveMode): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(p => Row(p.version, p.bucket, p.vdir,
        p.empty, p.commitTs)).asJava, ManifestSchema)
      .coalesce(1).write.mode(mode).parquet(dest)
  }

  /** Append one commit's pointer rows: one small file per commit. */
  private def appendManifest(spark: SparkSession, path: String,
                             rows: Seq[Ptr]): Unit =
    writeManifest(spark, rows, s"$path/_manifest", SaveMode.Append)

  /** Crash-recovery-aware manifest read for external callers (the
    * streaming sink's replay-ledger probe). */
  private[graft] def readManifest(spark: SparkSession,
                                  path: String): DataFrame =
    manifestDf(spark, path)

  /** True iff the versioned store at `path` exists (a readable
    * manifest is present, completing any interrupted checkpoint swap
    * first). */
  private[graft] def manifestExists(spark: SparkSession,
                                    path: String): Boolean = {
    recoverManifest(spark, path)
    hfs(spark, path).exists(
      new org.apache.hadoop.fs.Path(path, "_manifest"))
  }

  /** Optimistic-concurrency commit slot: put-if-absent on
    * `_commits/v<version>` (the file's content is the writer token).
    * Acquired BEFORE the version's data dir is written, so two racing
    * writers can never clobber each other's `v<N>` files — exactly
    * one proceeds past this point per version. A marker whose token
    * equals `token` is RECLAIMED (same logical writer replaying after
    * a crash between marker and manifest append — the streaming
    * sink's redelivery path); a foreign or torn (empty) marker throws
    * [[ConcurrentCommitException]]. Concurrent writers MUST use
    * distinct tokens; the "solo" default is for single-writer
    * deployments, where reclaim-on-replay is always safe. A marker
    * orphaned by a DEAD foreign writer blocks its version until an
    * operator breaks the lock ([[breakCommit]]) — the standard
    * lease-less lock discipline. */
  private def acquireCommit(spark: SparkSession, path: String,
                            version: Long, token: String): Unit = {
    val fs = hfs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path, "_commits")
    fs.mkdirs(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, s"v$version")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val holder = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      if (holder == token && token.nonEmpty) return // reclaim own slot
      throw ConcurrentCommitException(path, version, holder)
    }
    try {
      val out = fs.create(marker, false) // put-if-absent: the CAS
      try out.write(token.getBytes("UTF-8")) finally out.close()
    } catch {
      case _: java.io.IOException =>
        throw ConcurrentCommitException(path, version, "")
    }
  }

  /** Break an abandoned commit slot (a crashed FOREIGN writer's
    * marker with no manifest rows behind it) — operator tooling, not
    * part of any automatic path: refuses when the version actually
    * committed, because deleting a real commit's marker would let a
    * second writer corrupt it later. */
  def breakCommit(spark: SparkSession, path: String,
                  version: Long): Unit = {
    val committed = manifest(spark, path).commits.exists(_.version == version)
    require(!committed,
      s"v$version at $path is COMMITTED — its marker must stay")
    hfs(spark, path).delete(
      new org.apache.hadoop.fs.Path(path, s"_commits/v$version"), false)
  }

  /** Copy-on-write VERSIONED store — the Delta/Iceberg core mechanic
    * in plain parquet: data files are IMMUTABLE under
    * `path/v<N>/bucket=K`; a manifest (append-only parquet under
    * `path/_manifest`) maps each bucket to the version dir holding
    * its current file. A merge writes only the touched buckets under
    * a fresh v<N> and appends pointers — nothing is ever rewritten in
    * place, so EVERY older version stays fully readable (time
    * travel), and the write cost per merge is ∝ touched buckets.
    * Manifest rows: (version, bucket, vdir, empty, commit_ts) —
    * `empty` marks a bucket the merge emptied (a pointer to nothing
    * beats deleting history); `commit_ts` is the CALLER-SUPPLIED
    * commit timestamp (the engine never reads a wall clock — the
    * repo-wide determinism rule) that [[readVersionedAsOf]] resolves
    * time-travel-by-timestamp against. Fails if the store already
    * exists (a second full write would append conflicting v0
    * pointers and corrupt time travel — callers recreate by deleting
    * the path first). */
  def writeVersioned(df: DataFrame, key: String, path: String,
                     buckets: Int, commitTs: Long = 0L,
                     writerToken: String = "solo",
                     statCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = df.sparkSession
    recoverManifest(spark, path)
    val fs = hfs(spark, path)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_manifest")),
      s"versioned store already exists at $path — delete it first " +
        "(a duplicate v0 write would corrupt the manifest)")
    // the v0 commit slot: two concurrent first writers would both
    // pass the manifest-absence check and clobber v0's data files —
    // the marker lets exactly one through (the same-token reclaim
    // covers a crashed first write's replay)
    acquireCommit(spark, path, 0L, writerToken)
    val b = bucketed(df, key, buckets).localCheckpoint(true)
    writeVDir(b, statCols, Seq(key), s"$path/v0")
    appendVStats(b, path, 0L, statCols)
    appendManifest(spark, path, bucketsOf(b).toSeq.sorted
      .map(bk => Ptr(0L, bk, 0L, empty = false, commitTs)))
  }

  /** Resolve the store AS OF `version`: latest manifest pointer per
    * bucket (≤ buckets rows collected — the layout constant), then
    * one partition-pruned read per distinct version dir.
    * `bucketSet` restricts resolution to the given buckets — the
    * merge classification path passes its candidate set so a small
    * batch against a huge store opens only the dirs its keys could
    * live in. An empty RESOLVED view (every pointer a tombstone, or
    * the bucket restriction matches nothing) returns an empty frame
    * with the store schema; a `version` before the first commit is a
    * caller error and throws descriptively. */
  def readVersioned(spark: SparkSession, path: String, version: Long,
                    bucketSet: Option[Set[Long]] = None): DataFrame =
    readResolved(spark, path, manifest(spark, path), version, bucketSet)

  /** [[readVersioned]] over an already-collected manifest, so an op
    * that also needs the head or the guards collects it once. */
  private def readResolved(spark: SparkSession, path: String,
                           man: Manifest, version: Long,
                           bucketSet: Option[Set[Long]]): DataFrame = {
    val ptr = man.pointers(version, bucketSet)
    if (ptr.isEmpty) {
      // empty resolved view — surface it as an empty frame with the
      // store schema, from a non-tombstone pointer's version dir that
      // STILL EXISTS on disk (vacuum may have deleted older ones when
      // the latest commit emptied the store). Candidate vdirs are
      // bounded by commits — a metadata-sized scan.
      val fs = hfs(spark, path)
      val vdirs = man.commits.filter(!_.empty).map(_.vdir).distinct
        .sorted.reverse
      vdirs.map(v => vdirPath(spark, path, v))
        .find(dd => fs.exists(new org.apache.hadoop.fs.Path(dd))) match {
        case Some(dd) =>
          return ParquetFooter.read(spark, Seq(dd)).filter(lit(false))
        case None =>
          throw new IllegalArgumentException(
            s"versioned store at $path has never held a row (or every" +
              " data dir was vacuumed)")
      }
    }
    // Each version dir is schema-HOMOGENEOUS by construction (a merge
    // writes one frame), so one footer read on the driver is its exact
    // schema and the pruned read opens nothing extra; the
    // allowMissingColumns union stitches dirs of different widths
    // (schema evolution — [[mergeVersioned]] widens on upsert; older
    // rows read the new columns as null).
    ptr.groupBy(_._2).map { case (vd, bks) =>
      ParquetFooter.read(spark, Seq(vdirPath(spark, path, vd)))
        .filter(col("bucket").isin(bks.map(_._1).toSeq: _*))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // --------------------------------------- zero-copy branches

  /** The store this one was SHALLOW-CLONED from ([[branchVersioned]]
    * writes the `_base` pointer file), if any. */
  private def baseOf(spark: SparkSession, path: String): Option[String] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, "_base")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Register `dst` as a clone of `src` in `src/_clones` — the
    * DOWNWARD pointer [[baseOf]]'s `_base` can't give (children know
    * their parent; a vacuum needs the parent to know its children,
    * transitively). One marker file per clone, named by the clone
    * path's SHA-1 (idempotent — a re-run of a crashed branch rewrites
    * the same marker), content the clone path. Written BEFORE the
    * clone's manifest copy, so a READABLE clone is always registered;
    * a registered clone that never completed (or was deleted, or
    * re-pointed elsewhere) fails [[liveClones]]'s `_base` liveness
    * check and is ignored. */
  private def registerClone(spark: SparkSession, src: String,
                            dst: String): Unit = {
    val fs = hfs(spark, src)
    val dir = new org.apache.hadoop.fs.Path(src, "_clones")
    fs.mkdirs(dir)
    val name = java.security.MessageDigest.getInstance("SHA-1")
      .digest(dst.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val marker = new org.apache.hadoop.fs.Path(dir, name)
    fs.delete(marker, false)
    val out = fs.create(marker, true)
    try out.write(dst.getBytes("UTF-8")) finally out.close()
  }

  /** The LIVE clones registered under `path/_clones`: registered
    * stores whose `_base` still points here. Metadata-only (one
    * small-file read per registered clone); stale entries — a clone
    * deleted from disk, or one whose `_base` was re-pointed — are
    * skipped, not errors. */
  def liveClones(spark: SparkSession, path: String): Seq[String] = {
    val fs = hfs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path, "_clones")
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.isFile).map { s =>
      val in = fs.open(s.getPath)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    }.filter(c => baseOf(spark, c).contains(path)).sorted
  }

  /** The TRANSITIVE clone set of `path`: registry-discovered live
    * clones, their clones, and so on — unioned with an
    * explicitly-supplied set (each of which is also expanded). The
    * closure a safe vacuum must consult: a grandchild's manifest can
    * resolve to base dirs its INTERMEDIATE parent's checkpointed
    * manifest no longer lists ([[vacuumVersionsSafe]]'s caveat), so
    * level-by-level is not enough. Bounded by clone-graph size —
    * metadata-only. */
  def cloneClosure(spark: SparkSession, path: String,
                   explicit: Seq[String] = Nil): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    def walk(p: String): Unit =
      (liveClones(spark, p) ++ (if (p == path) explicit else Nil))
        .foreach { c => if (seen.add(c)) walk(c) }
    walk(path)
    seen.toSeq
  }

  /** Resolve a manifest vdir to its DATA dir: the store's own
    * `v<N>` if present, else up the `_base` chain — a branch's
    * pre-fork pointers reference the base store's immutable dirs
    * (that is the zero-copy contract), its post-fork commits live
    * under its own path. Chain depth = clone-of-clone nesting,
    * always small. */
  private def vdirPath(spark: SparkSession, path: String,
                       vdir: Long): String =
    s"${vdirOwner(spark, path, vdir)}/v$vdir"

  /** The store that physically OWNS `v<vdir>`: this one if the dir
    * exists locally, else the first ancestor up the `_base` chain
    * that holds it. Falls back to `path` when absent everywhere (a
    * vacuumed dir — the read fails loudly). Stats resolution uses
    * the same walk: a branch's post-fork vdir N and the base's
    * post-fork vdir N are DISTINCT dirs sharing a number, so stats
    * must come from the owning store's `_vstats`, never a bare
    * (vdir, bucket) union across the chain. */
  private def vdirOwner(spark: SparkSession, path: String,
                        vdir: Long): String = {
    if (hfs(spark, path).exists(
        new org.apache.hadoop.fs.Path(path, s"v$vdir")))
      return path
    baseOf(spark, path) match {
      case Some(b) => vdirOwner(spark, b, vdir)
      case None => path // absent: let the read fail loudly
    }
  }

  /** BRANCH (Delta/Iceberg SHALLOW CLONE): fork a versioned store at
    * its current head by copying ONLY the manifest — zero data files
    * move. The branch records `_base` and resolves pre-fork vdirs
    * against the base's immutable dirs; its own commits land under
    * its own path (version numbers shared with the base NEVER
    * collide on disk because resolution prefers the owning store's
    * dir and each store's manifest only references versions it
    * committed). Base and branch then diverge freely — merges on one
    * are invisible to the other, full time travel on both, the
    * branch's pre-fork history included. The standing hazard every
    * shallow-clone implementation documents: [[vacuumVersions]] ON
    * THE BASE can delete dirs the branch still references (the
    * branch's own vacuum is safe — it only ever deletes dirs under
    * its own path). Returns the fork version (the base head). */
  def branchVersioned(spark: SparkSession, src: String,
                      dst: String): Long = {
    val fs = hfs(spark, dst)
    recoverManifest(spark, src)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dst/_manifest")),
      s"versioned store already exists at $dst — delete it first")
    val head = manifest(spark, src).head
    require(head.nonEmpty, s"cannot branch an empty store at $src")
    fs.mkdirs(new org.apache.hadoop.fs.Path(dst))
    // register the clone under the BASE before anything makes it
    // readable — [[vacuumVersionsSafe]] and [[rebaseBranch]] discover
    // dependents through this registry, and a readable-but-
    // unregistered clone is exactly the dangling reference they
    // exist to prevent
    registerClone(spark, src, dst)
    // a `_base` without a manifest is a crashed half-branch (the
    // manifest-absence require above proved it) — clear and redo
    fs.delete(new org.apache.hadoop.fs.Path(dst, "_base"), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(dst, "_base"), false)
    try out.write(src.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileUtil.copy(
      hfs(spark, src), new org.apache.hadoop.fs.Path(src, "_manifest"),
      fs, new org.apache.hadoop.fs.Path(dst, "_manifest"),
      false, spark.sparkContext.hadoopConfiguration)
    head.get
  }

  /** Time travel BY TIMESTAMP: resolve the latest version whose
    * commit_ts is at or before `ts` (manifest-only scan — bounded by
    * commits, not data), then read that version. Throws descriptively
    * when `ts` predates the first commit. */
  def readVersionedAsOf(spark: SparkSession, path: String,
                        ts: Long): DataFrame = {
    val man = manifest(spark, path)
    val v = man.commits.filter(_.commitTs <= ts).map(_.version).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no commit at or before ts=$ts under $path"))
    readResolved(spark, path, man, v, None)
  }

  /** Point lookup on the VERSIONED store — [[lookupStore]]'s serving
    * path with time travel: the manifest resolves pointers for ONLY
    * the keys' candidate buckets at `version` (a metadata-sized
    * scan), only those (vdir, bucket) dirs open, and the key
    * predicate pushes into the pruned scan. Misses return no row;
    * `keys` is caller-bounded (a serving request, never data-sized).
    * Read cost ∝ candidate buckets, whatever the store holds. */
  def lookupVersioned(spark: SparkSession, path: String, key: String,
                      keys: Seq[Long], version: Long,
                      buckets: Int): DataFrame = {
    val cand = keys.map(k => Math.floorMod(k, buckets.toLong)).toSet
    val view = readVersioned(spark, path, version, Some(cand))
    if (keys.isEmpty) view else view.filter(col(key).isin(keys: _*))
  }

  // ------------------- per-dir column stats (value-range skipping)

  private def statLongV(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }

  /** Per-(vdir, bucket, column) min/max rows for a commit's freshly
    * written dirs, appended to `path/_vstats` — Delta's per-file
    * stats at this engine's dir grain, computed from the ALREADY
    * CHECKPOINTED commit frame (stats cost no re-read). Append-only
    * like the manifest, written BEFORE the manifest rows, so every
    * published pointer has its stats; a crashed retry may append
    * duplicate rows for the same dirs, but the rewrite is
    * deterministic so readers dedupe by (vdir, bucket, column).
    * Values as LONG (timestamps via `unix_micros` — exact). Stats for
    * vacuumed dirs go stale harmlessly (nothing resolves to them).
    * [[writeVersioned]]/[[mergeVersioned]]/[[mergeBranch]] all take
    * `statCols` — a commit that skips them leaves its dirs
    * stats-less, and range reads then fail the coverage guard LOUDLY
    * rather than skipping silently. */
  /** Write a version dir in the standard layout: repartitioned by
    * bucket, rows CLUSTERED within each bucket file by the stat
    * columns first (then `tail` — the key, where the caller has
    * one). Parquet records rowgroup min/max unconditionally, so
    * stat-first clustering turns a pushed range predicate into
    * ROWGROUP skips inside every dir the scan opens — the within-dir
    * complement of `_vstats` dir-grain pruning. Dir-grain stats pay
    * only under the tkey discipline (the key carries the queried
    * dimension in its bucket bits); rowgroup clustering pays on ANY
    * layout, plain mod-keyed included — the second pruning level a
    * 100 TB scan needs, bought at write time inside a sort the
    * write was already doing. */
  private def writeVDir(frame: DataFrame, statCols: Seq[String],
                        tail: Seq[String], dest: String): Unit =
    frame.repartition(col("bucket"))
      .sortWithinPartitions(
        (("bucket" +: statCols) ++ tail).distinct.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(dest)

  /** The `_vstats` layout [[appendVStats]] writes. */
  private val VStatsSchema = StructType.fromDDL(
    "vdir BIGINT, bucket BIGINT, col_name STRING, min_v BIGINT, " +
      "max_v BIGINT, n_rows BIGINT")

  private def appendVStats(frame: DataFrame, path: String, vdir: Long,
                           statCols: Seq[String]): Unit =
    if (statCols.nonEmpty) {
      statCols.map { c =>
        frame.groupBy(col("bucket").cast("long").as("bucket"))
          .agg(min(statLongV(frame, c)).as("min_v"),
            max(statLongV(frame, c)).as("max_v"),
            count(lit(1)).as("n_rows"))
          .select(lit(vdir).as("vdir"), col("bucket"),
            lit(c).as("col_name"), col("min_v"), col("max_v"),
            col("n_rows"))
      }.reduce(_ unionByName _)
        .coalesce(1).write.mode(SaveMode.Append)
        .parquet(s"$path/_vstats")
    }

  /** One store's OWN `_vstats` ranges for `statCol`, deduped by
    * (vdir, bucket) with min/max widening (a crashed retry may have
    * appended duplicate rows for the same deterministic rewrite).
    * NO chain union: stats ownership follows data ownership
    * ([[vdirOwner]]) — a branch's post-fork vdir N must never
    * borrow the base's stats for ITS same-numbered vdir N, or a
    * stats-less branch commit would pass the coverage guard on the
    * base dir's ranges and be silently pruned (the false negative
    * skipping must never have). Empty map when the store has no
    * `_vstats` — the caller's per-dir guard turns that into a loud
    * per-dir failure. */
  private def ownVStatsRanges(spark: SparkSession, path: String,
                              statCol: String)
      : Map[(Long, Long), (Long, Long)] = {
    val fs = hfs(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_vstats")))
      Map.empty
    else ParquetFooter.read(spark, Seq(s"$path/_vstats"), Some(VStatsSchema))
      .filter(col("col_name") === statCol)
      .groupBy(col("vdir"), col("bucket"))
      .agg(min(col("min_v")).as("mn"), max(col("max_v")).as("mx"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
  }

  /** The (vdir, bucket) dirs a `[lo, hi]` range on `statCol` can
    * possibly hit AS OF `version`: pointer resolution picks each
    * bucket's live dir, then its ledgered [min, max] decides — stats
    * admit false positives, never false negatives, and a resolved
    * dir with NO stats row for `statCol` dies loudly (silently
    * skipping an unledgered dir is the one failure data skipping
    * must never have). Metadata-only: one manifest pass + one
    * `_vstats` pass, no data read — the pruning evidence a caller
    * surfaces next to the scan. */
  def versionedRangeDirs(spark: SparkSession, path: String,
                         version: Long, statCol: String,
                         lo: Long, hi: Long): Seq[(Long, Long)] = {
    val ptr = manifest(spark, path).pointers(version, None)
    if (ptr.isEmpty) return Nil
    // stats ownership = data ownership: each resolved dir's ranges
    // come from the store that physically holds v<vdir> (its own
    // post-fork commits) or the ancestor it resolves through (its
    // pre-fork pointers) — never a bare (vdir, bucket) union across
    // the chain, which would let a base's same-numbered vdir vouch
    // for a stats-less branch dir. One `_vstats` read per distinct
    // owner (chain depth — bounded by clone nesting, metadata-only).
    val owner: Map[(Long, Long), String] =
      ptr.map { case (bk, vd) =>
        (vd, bk) -> vdirOwner(spark, path, vd)
      }.toMap
    val ownerStats: Map[String, Map[(Long, Long), (Long, Long)]] =
      owner.values.toSet.iterator
        .map((op: String) => op -> ownVStatsRanges(spark, op, statCol))
        .toMap
    val st: Map[(Long, Long), (Long, Long)] =
      owner.keysIterator.flatMap { k =>
        ownerStats(owner(k)).get(k).map(k -> _)
      }.toMap
    val missing = ptr.filterNot { case (bk, vd) => st.contains((vd, bk)) }
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"no '$statCol' stats for resolved dir(s) " +
          missing.sortBy(_._1).map { case (bk, vd) =>
            s"v$vd/bucket=$bk (owner ${owner((vd, bk))})" }
            .mkString(", ") +
          s" under $path — a range read would silently skip them")
    ptr.toSeq.collect {
      case (bk, vd) if st((vd, bk))._2 >= lo && st((vd, bk))._1 <= hi =>
        (vd, bk)
    }.sorted
  }

  /** Range scan over the versioned store WITH stats skipping — the
    * [[StatsStore.readRange]] mechanic composed with time travel:
    * only the dirs [[versionedRangeDirs]] admits are opened (their
    * `v<N>/bucket=<k>` paths are the read roots — pair-level, so a
    * surviving dir never drags a cold sibling in), the row predicate
    * still applies on top, and `version` travels like any
    * [[readVersioned]]. Skipping pays exactly when the store's KEY
    * carries the queried dimension in its bucket bits (the tkey
    * discipline — e.g. key = id·B + timeBucket makes `bucket` the
    * time axis); a plain key-mod layout anti-clusters every
    * key-correlated column and prunes nothing, the same truth
    * [[StatsStore]] documents for its bucket axis. */
  def readVersionedRange(spark: SparkSession, path: String,
                         version: Long, statCol: String,
                         lo: Long, hi: Long): DataFrame =
    readVersionedRangeMulti(spark, path, version,
      Seq((statCol, lo, hi)))

  /** Conjunctive multi-range scan over the versioned store — the
    * [[StatsStore.readRangeMulti]] mechanic with time travel: the
    * surviving dir set is the INTERSECTION of each predicate's
    * [[versionedRangeDirs]] set (a dir must possibly satisfy EVERY
    * range to be read at all), so two correlated dimensions prune
    * harder than either alone; each row predicate still applies on
    * top. The per-predicate coverage guard fires for each column
    * independently — one unledgered column poisons the whole
    * conjunction loudly, never silently. */
  def readVersionedRangeMulti(spark: SparkSession, path: String,
                              version: Long,
                              preds: Seq[(String, Long, Long)])
      : DataFrame = {
    require(preds.nonEmpty, "readVersionedRangeMulti needs a range")
    val dirs = preds
      .map { case (c, lo, hi) =>
        versionedRangeDirs(spark, path, version, c, lo, hi).toSet
      }.reduce(_ intersect _)
    if (dirs.isEmpty)
      return readVersioned(spark, path, version, Some(Set.empty))
    val pruned = readDirs(spark, path, dirs.toSeq)
    preds.foldLeft(pruned) { case (df, (c, lo, hi)) =>
      val rowPred = df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          col(c).between(timestamp_micros(lit(lo)),
            timestamp_micros(lit(hi)))
        case _ => col(c).cast("long").between(lo, hi)
      }
      df.filter(rowPred)
    }
  }

  /** Pair-level pruned read: only the given (vdir, bucket) dirs open,
    * one footer-schema read per vdir (`basePath` keeps the `bucket`
    * column), stitched like [[readVersioned]]. */
  private def readDirs(spark: SparkSession, path: String,
                       dirs: Seq[(Long, Long)]): DataFrame =
    dirs.groupBy(_._1).toSeq.sortBy(_._1).map { case (vd, prs) =>
      val base = vdirPath(spark, path, vd)
      ParquetFooter.read(spark,
        prs.map(p => s"$base/bucket=${p._2}").sorted, basePath = Some(base))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  // ----------------- per-dir bloom index (non-key point lookups)

  /** Build a BLOOM INDEX over `col` for the store AS OF `version` —
    * the Delta/Iceberg bloom-filter-index mechanic at this engine's
    * dir grain: one bloom per resolved (vdir, bucket) dir, persisted
    * under `path/_vbloom/col=<col>` as (vdir, bucket, n_items,
    * bits). Equality/IN lookups on a NON-key column then open only
    * the dirs whose bloom admits a probed value
    * ([[versionedBloomDirs]]) — the membership complement of
    * `_vstats` range skipping, which can do nothing for a
    * high-cardinality column probed by identity (its min/max spans
    * every dir). Value-range stats and blooms together cover the two
    * lookup shapes a 100 TB store serves: ranges and points.
    *
    * Build cost: one column-pruned pass over the version's resolved
    * dirs (the bucket column plus `col` — parquet reads nothing
    * else), one Spark job per distinct vdir (bounded by commits).
    * Each dir's values stream STRAIGHT into its bloom
    * (`expectedItems` sizes the bitset; an overfull bloom degrades
    * the false-positive rate, never correctness). The index
    * describes exactly the dirs resolved at `version`: lookups at
    * other versions whose resolution includes an unindexed dir die
    * loudly (the [[versionedRangeDirs]] coverage discipline) —
    * rebuild after commits, or look up at the indexed version.
    * Timestamp columns index as `unix_micros` like the stats table.
    * Returns the number of dir blooms written. */
  def buildBloomIndex(spark: SparkSession, path: String, version: Long,
                      colName: String, expectedItems: Long,
                      fpp: Double = 1e-6): Long = {
    require(expectedItems >= 1, "expectedItems must be >= 1")
    val ptr = manifest(spark, path).pointers(version, None)
    if (ptr.isEmpty) return 0L
    writeBlooms(spark, path, ptr.toSeq, colName, expectedItems, fpp,
      SaveMode.Overwrite)
  }

  /** The `_vbloom/col=<col>` layout [[writeBlooms]] writes. */
  private val VBloomSchema = StructType.fromDDL(
    "vdir BIGINT, bucket BIGINT, n_items BIGINT, bits BINARY")

  /** Build one bloom per (bucket, vdir) pointer pair over `colName`
    * (one job per distinct vdir, each dir's values streaming straight
    * into its bloom) and write them to the index. Returns the number
    * written. */
  private def writeBlooms(spark: SparkSession, path: String,
                          ptr: Seq[(Long, Long)], colName: String,
                          expectedItems: Long, fpp: Double,
                          mode: SaveMode): Long = {
    import spark.implicits._
    val rows = ptr.groupBy(_._2).toSeq.sortBy(_._1).flatMap {
      case (vd, prs) => // prs: (bucket, vdir) pairs of this vdir
        val df = readDirs(spark, path, prs.map(_.swap))
        df.select(col("bucket").cast("long").as("bk"),
            statLongV(df, colName).as("v")).as[(Long, Long)]
          .groupByKey(_._1)
          .mapGroups { (bk, it) =>
            val bloom = org.apache.spark.util.sketch.BloomFilter
              .create(expectedItems, fpp)
            var n = 0L
            it.foreach { kv => bloom.putLong(kv._2); n += 1 }
            val bos = new java.io.ByteArrayOutputStream()
            bloom.writeTo(bos)
            (vd, bk, n, bos.toByteArray)
          }.collect().toSeq
          // collected rows are (dirs × bloom bits) — metadata-sized,
          // like every pruning ledger here; the data pass itself ran
          // distributed above
    }
    rows.toDF("vdir", "bucket", "n_items", "bits")
      .coalesce(1).write.mode(mode)
      .parquet(s"$path/_vbloom/col=$colName")
    rows.size.toLong
  }

  /** INCREMENTALLY extend the bloom index to `version`: build blooms
    * for only the resolved dirs that LACK one (after a commit,
    * that's the commit's fresh dirs — never the standing store) and
    * APPEND them. The sustain path a 100 TB store needs: per-commit
    * index cost ∝ the commit's own dirs, exactly like `_vstats`;
    * [[buildBloomIndex]] remains the bootstrap/repair full pass.
    * Append-duplicate rows for the same (vdir, bucket) are harmless
    * by construction — any bloom built FROM an immutable dir is a
    * valid admitter for it whatever its sizing, so readers may pick
    * either. Returns the number of blooms added (0 = fully
    * covered). */
  def extendBloomIndex(spark: SparkSession, path: String,
                       version: Long, colName: String,
                       expectedItems: Long,
                       fpp: Double = 1e-6): Long = {
    require(expectedItems >= 1, "expectedItems must be >= 1")
    val ptr = manifest(spark, path).pointers(version, None)
    if (ptr.isEmpty) return 0L
    val (_, missing0) = resolvedBlooms(spark, path, colName, ptr)
    if (missing0.isEmpty) return 0L
    writeBlooms(spark, path,
      missing0.toSeq.map { case (bk, vd, _) => (bk, vd) }, colName,
      expectedItems, fpp, SaveMode.Append)
  }

  /** One store's OWN bloom rows for `colName` — ownership follows
    * data ownership exactly like [[ownVStatsRanges]]: a branch's
    * post-fork vdir N never borrows the base's same-numbered bloom.
    * Empty when the store has no index for the column; the caller's
    * per-dir guard turns that into a loud failure. */
  private def ownVBlooms(spark: SparkSession, path: String,
                         colName: String)
      : Map[(Long, Long), org.apache.spark.util.sketch.BloomFilter] = {
    val fs = hfs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path, s"_vbloom/col=$colName")
    if (!fs.exists(dir)) Map.empty
    else ParquetFooter.read(spark, Seq(dir.toString), Some(VBloomSchema))
      .select(col("vdir"), col("bucket"), col("bits"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1)) ->
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(
              r.getAs[Array[Byte]](2)))
      }.toMap
  }

  /** Blooms for a set of resolved pointers, with the lookup rule:
    * the READING store's own `_vbloom` first (a branch may extend
    * coverage over inherited base dirs locally — the dir is
    * immutable, so a reader-local bloom over it is as valid as the
    * owner's, and a branch must never mutate its base), then the
    * owning store's ([[vdirOwner]] — the vstats ownership rule).
    * Returns (bloom per covered dir, uncovered dirs labeled with
    * their owner). */
  private def resolvedBlooms(spark: SparkSession, path: String,
                             colName: String,
                             ptr: Array[(Long, Long)])
      : (Map[(Long, Long), org.apache.spark.util.sketch.BloomFilter],
         Array[(Long, Long, String)]) = {
    val owner: Map[(Long, Long), String] =
      ptr.map { case (bk, vd) =>
        (vd, bk) -> vdirOwner(spark, path, vd)
      }.toMap
    val local = ownVBlooms(spark, path, colName)
    val ownerBlooms = (owner.values.toSet - path).iterator
      .map((op: String) => op -> ownVBlooms(spark, op, colName))
      .toMap + (path -> local)
    val covered = ptr.flatMap { case (bk, vd) =>
      local.get((vd, bk))
        .orElse(ownerBlooms(owner((vd, bk))).get((vd, bk)))
        .map((vd, bk) -> _)
    }.toMap
    val missing = ptr.collect {
      case (bk, vd) if !covered.contains((vd, bk)) =>
        (bk, vd, owner((vd, bk)))
    }
    (covered, missing)
  }

  /** The (vdir, bucket) dirs that can possibly hold ANY of `values`
    * in `colName` AS OF `version`: pointer resolution picks each
    * bucket's live dir, its bloom decides ([[resolvedBlooms]]'
    * local-then-owner rule) — false positives at the index's fpp,
    * never false negatives, and a resolved dir with no bloom dies
    * loudly (the skipping discipline). Metadata-only: one manifest
    * pass + one `_vbloom` read per distinct owner. `values` is
    * caller-bounded (a serving request). */
  def versionedBloomDirs(spark: SparkSession, path: String,
                         version: Long, colName: String,
                         values: Seq[Long]): Seq[(Long, Long)] = {
    require(values.nonEmpty, "versionedBloomDirs needs probe values")
    val ptr = manifest(spark, path).pointers(version, None)
    if (ptr.isEmpty) return Nil
    val (blooms, missing) = resolvedBlooms(spark, path, colName, ptr)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"no '$colName' bloom for resolved dir(s) " +
          missing.sortBy(_._1).map { case (bk, vd, ow) =>
            s"v$vd/bucket=$bk (owner $ow)" }
            .mkString(", ") +
          s" under $path — extend the index to this version")
    ptr.toSeq.collect {
      case (bk, vd) if values.exists(v =>
          blooms((vd, bk)).mightContainLong(v)) =>
        (vd, bk)
    }.sorted
  }

  /** Point/IN lookup on a NON-key column via the bloom index: only
    * the dirs [[versionedBloomDirs]] admits open (pair-level roots),
    * with the exact predicate on top — the serving path for "fetch
    * these ids" when the id is not the bucketing key and key-bucket
    * pruning ([[lookupVersioned]]) cannot apply. Timestamp columns
    * probe as `unix_micros` values. */
  def lookupVersionedByCol(spark: SparkSession, path: String,
                           version: Long, colName: String,
                           values: Seq[Long]): DataFrame = {
    val dirs = versionedBloomDirs(spark, path, version, colName, values)
    if (dirs.isEmpty)
      return readVersioned(spark, path, version, Some(Set.empty))
    val pruned = readDirs(spark, path, dirs.toSeq)
    val probe = pruned.schema(colName).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(colName)).isin(values: _*)
      case _ => col(colName).cast("long").isin(values: _*)
    }
    pruned.filter(probe)
  }

  /** Merge a batch as version `version` — REQUIRED to be exactly one
    * past the manifest's max (checked; an out-of-order or duplicate
    * version would append conflicting pointers and corrupt time
    * travel). Touched buckets rebuild from the RESOLVED current state
    * — resolution and classification both pruned to the batch's
    * candidate buckets — and land under `path/v<version>`; the
    * manifest gains one pointer per touched bucket, stamped with
    * `commitTs` (defaults to the version number). Untouched buckets
    * keep their old pointers — and their bytes, forever. Returns
    * (touched, rewritten) like [[mergeInto]]. */
  def mergeVersioned(spark: SparkSession, path: String, version: Long,
                     batch: DataFrame, key: String, buckets: Int,
                     commitTs: Long = -1L,
                     writerToken: String = "solo",
                     statCols: Seq[String] = Nil): (Long, Long) = {
    val cts = if (commitTs == -1L) version else commitTs
    val man = manifest(spark, path)
    man.checkNext(version, cts)
    val b = bucketed(batch, key, buckets)
    val cand = bucketsOf(b)
    if (cand.isEmpty) return (0L, 0L)
    val cur = readResolved(spark, path, man, version - 1, Some(cand))
    val curCols = cur.columns.filter(_ != "bucket").toSeq
    // schema EVOLUTION on upsert: batch-only payload columns widen
    // the store (survivors read them as null via the allowMissing
    // union; older version dirs read them as null via mergeSchema)
    val upCols = batch.columns
      .filterNot(c => c == "op" || c == "bucket").toSeq
    requireBatchCovers(curCols, upCols, path)
    val batchKeys = b.select(col(key)).distinct()
    val existingTouched = cur.join(batchKeys, Seq(key), "left_semi")
      .select(col("bucket").cast("long")).distinct()
    val upsertTouched = b.filter(col("op") === "U")
      .select(col("bucket").cast("long")).distinct()
    val touched = existingTouched.union(upsertTouched).distinct()
      .collect().map(_.getLong(0)).toSet
    if (touched.isEmpty) return (0L, 0L) // no-op: the slot stays free
    // the OCC gate: past this point this writer owns v<version> —
    // acquired before the data write so racing writers can never
    // interleave files inside one version dir
    acquireCommit(spark, path, version, writerToken)
    val survivors = cur
      .filter(col("bucket").isin(touched.toSeq: _*))
      .join(batchKeys, Seq(key), "left_anti")
      .select(("bucket" +: curCols).map(col): _*)
    val replacement = survivors.unionByName(
        b.filter(col("op") === "U")
          .select(("bucket" +: upCols).map(col): _*),
        allowMissingColumns = true)
      .localCheckpoint(true)
    writeVDir(replacement, statCols, Seq(key), s"$path/v$version")
    appendVStats(replacement, path, version, statCols)
    val written = bucketsOf(replacement)
    appendManifest(spark, path, touched.toSeq.sorted.map { bk =>
      Ptr(version, bk, version, !written.contains(bk), cts)
    })
    (touched.size.toLong,
      (written.size + (touched -- written).size).toLong)
  }

  /** OPTIMIZE (head compaction) for the versioned store: rewrite the
    * RESOLVED head state as one fresh commit at `asVersion`, so every
    * live bucket's pointer lands on a single vdir — reads at or above
    * it open ONE version dir instead of one per historical commit
    * that last touched each bucket, and every older dir falls out of
    * the retention window the moment the floor passes `asVersion`
    * ([[vacuumVersions]]). History below stays fully readable: this
    * is a NORMAL commit (OCC slot, monotone commit_ts, nothing
    * rewritten in place) — compact + [[checkpointManifest]] +
    * [[vacuumVersions]] is the versioned store's complete
    * OPTIMIZE/retention story, the triple every production table
    * format ships. Tombstoned buckets stay tombstoned (no dir, no new
    * pointer — the old tombstone keeps resolving). `statCols`
    * re-ledgers per-(vdir, bucket) stats for the fresh dirs from the
    * checkpointed state — no re-read, and post-compaction range
    * reads keep pruning. Cost: one full head rewrite — the price
    * every OPTIMIZE pays, repaid by every read after it. Returns the
    * pointer rows appended (= live buckets; 0 = empty head, nothing
    * commits and the slot stays free). */
  def compactVersioned(spark: SparkSession, path: String,
                       asVersion: Long, key: String,
                       commitTs: Long = -1L,
                       writerToken: String = "solo",
                       statCols: Seq[String] = Nil): Long = {
    val cts = if (commitTs == -1L) asVersion else commitTs
    val man = manifest(spark, path)
    man.checkNext(asVersion, cts)
    val state = readResolved(spark, path, man, man.maxVersion, None)
      .localCheckpoint(true)
    try {
      val written = bucketsOf(state)
      if (written.isEmpty) return 0L // empty head: slot stays free
      acquireCommit(spark, path, asVersion, writerToken)
      writeVDir(state, statCols, Seq(key), s"$path/v$asVersion")
      appendVStats(state, path, asVersion, statCols)
      appendManifest(spark, path, written.toSeq.sorted.map { bk =>
        Ptr(asVersion, bk, asVersion, empty = false, cts)
      })
      written.size.toLong
    } finally {
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(state)
    }
  }

  /** [[mergeVersioned]] under optimistic concurrency: resolve the
    * manifest head, attempt `head + 1`, and on a lost race
    * ([[ConcurrentCommitException]] — another writer published or
    * holds that slot) RE-RESOLVE and retry, exactly the Delta/Iceberg
    * commit loop. Each retry re-reads the now-current state, so the
    * losing batch re-classifies against everything the winner wrote —
    * both batches land, history stays linear. Returns the committed
    * version, or -1 for a no-op batch. Gives up after `maxAttempts`
    * lost races (a FOREIGN abandoned marker never resolves by
    * waiting — see [[breakCommit]]). `commitTs` defaults to the
    * committed version number, preserving monotonicity across
    * retries. */
  def mergeVersionedConcurrent(spark: SparkSession, path: String,
                               batch: DataFrame, key: String,
                               buckets: Int, writerToken: String,
                               commitTs: Long = -1L,
                               maxAttempts: Int = 5): Long = {
    require(writerToken.nonEmpty, "concurrent writers need a token")
    var attempt = 0
    var last: ConcurrentCommitException = null
    while (attempt < maxAttempts) {
      val v = manifest(spark, path).maxVersion + 1
      try {
        val (touched, _) = mergeVersioned(spark, path, v, batch, key,
          buckets, commitTs, writerToken)
        return if (touched == 0L) -1L else v
      } catch {
        case e: ConcurrentCommitException => last = e; attempt += 1
      }
    }
    throw last
  }

  /** RESTORE — make a retained historical version the CURRENT state
    * again, as a new commit (the Delta `RESTORE TABLE … VERSION AS
    * OF` semantics), and a MANIFEST-ONLY one: for every bucket whose
    * resolved pointer differs between the head and `toVersion`, one
    * pointer row appends at `asVersion` carrying the OLD vdir (or a
    * tombstone where the target state held no rows); buckets already
    * identical get nothing — the restore is pruned the same way the
    * CDF is. ZERO data files move: copy-on-write left the old dirs
    * intact, and [[vacuumVersions]]'s live-interval rule keeps them
    * alive as long as any retained view resolves to them. The
    * restore is a normal commit — OCC slot, monotone commit_ts, and
    * time travel ACROSS it intact (`asVersion - 1` still reads the
    * pre-restore head). `toVersion` must be at or above any
    * checkpoint floor: collapsed history cannot be restored. Returns
    * the pointer rows appended (0 = already at the target state;
    * nothing commits, the version stays free). */
  def restoreVersion(spark: SparkSession, path: String, toVersion: Long,
                     asVersion: Long, commitTs: Long = -1L,
                     writerToken: String = "solo"): Long = {
    val cts = if (commitTs == -1L) asVersion else commitTs
    val man = manifest(spark, path)
    man.checkNext(asVersion, cts)
    val maxV = man.maxVersion
    require(toVersion <= maxV,
      s"cannot restore to $toVersion: head is $maxV")
    man.requireAboveFloor(toVersion)
    val target = man.latest(toVersion)
    val current = man.latest(maxV)
    // one pointer per bucket whose resolved (vdir, empty) differs; a
    // bucket the target state never held restores as a tombstone
    val rows = (target.keySet ++ current.keySet).toSeq.sorted
      .filter { bk =>
        target.get(bk).map(p => (p.vdir, p.empty)) !=
          current.get(bk).map(p => (p.vdir, p.empty))
      }.map { bk =>
        target.get(bk).filter(!_.empty) match {
          case Some(p) => Ptr(asVersion, bk, p.vdir, empty = false, cts)
          case None => Ptr(asVersion, bk, asVersion, empty = true, cts)
        }
      }
    if (rows.isEmpty) return 0L
    acquireCommit(spark, path, asVersion, writerToken)
    appendManifest(spark, path, rows)
    rows.size.toLong
  }

  /** Retention GC (VACUUM) for the versioned store: every version
    * dir that NO as-of view at or above `floor` resolves to is
    * deleted — time travel below the floor is surrendered, the
    * retention contract every production table format ships with.
    * The needed set is ONE window pass over the manifest: a pointer
    * row is the live pointer for its bucket on `[version, next
    * version for that bucket)`, so its vdir is needed iff it is
    * non-empty and that interval reaches the retention window —
    * `next > floor` (or no successor). O(manifest), not
    * O(versions · manifest). Returns (deleted, retained) vdir
    * counts. */
  def vacuumVersions(spark: SparkSession, path: String,
                     floor: Long): (Long, Long) =
    vacuumImpl(spark, path, floor, Set.empty)

  /** BRANCH-AWARE vacuum — closes the standing shallow-clone hazard
    * ([[branchVersioned]]'s scaladoc): a base vacuum can delete dirs
    * a branch's pre-fork pointers still resolve to. This variant
    * collects, per branch, every non-tombstone vdir the branch's
    * manifest references that the branch does NOT own on disk (those
    * resolve through the `_base` chain — i.e. they are the base's) —
    * a manifest-only scan per branch — and retains them regardless of
    * the base's own retention floor. Chained clones vacuum level by
    * level: each store's vacuum takes ITS direct branches.
    *
    * The consulted set is the TRANSITIVE clone closure
    * ([[cloneClosure]]): the `_clones` registry [[branchVersioned]]
    * maintains is walked downward from this store — clones, their
    * clones, and so on — and unioned with the explicitly-supplied
    * `branches` (each also expanded). Transitivity matters because
    * level-by-level is NOT enough: [[checkpointManifest]] on an
    * intermediate branch collapses pointer rows below its floor, so
    * a grandchild that forked before that checkpoint can resolve to
    * base vdirs its parent's manifest no longer lists — each clone's
    * needs must be collected from ITS OWN manifest. `branches` stays
    * as the escape hatch for clones made before the registry existed
    * (or registered under a path alias the liveness check can't
    * match); `Nil` is the normal call now. */
  def vacuumVersionsSafe(spark: SparkSession, path: String,
                         floor: Long,
                         branches: Seq[String] = Nil): (Long, Long) = {
    val branchNeeds = cloneClosure(spark, path, branches).flatMap { b =>
      // a clone's referenced vdir NUMBER may belong to an
      // intermediate store in its `_base` chain, not to this base —
      // resolve each to its owning store and retain only the ones
      // that are genuinely OURS (dir numbers collide across stores
      // by design; retaining a same-numbered stranger's need would
      // silently over-retain)
      manifest(spark, b).commits.filter(!_.empty).map(_.vdir).distinct
        .filter(v => vdirOwner(spark, b, v) == path)
    }.toSet
    vacuumImpl(spark, path, floor, branchNeeds)
  }

  private def vacuumImpl(spark: SparkSession, path: String,
                         floor: Long,
                         extraNeeded: Set[Long]): (Long, Long) = {
    val man = manifest(spark, path)
    // a pointer is its bucket's live pointer on [version, the bucket's
    // next version), so its vdir is needed iff it is non-empty and
    // that interval reaches the retention window
    val live: Set[Long] =
      if (floor > man.maxVersion) Set.empty // no as-of view in the window
      else man.commits.groupBy(_.bucket).valuesIterator.flatMap { ps =>
        val byV = ps.sortBy(_.version)
        byV.zip(byV.drop(1).map(p => Some(p.version)) :+ None).collect {
          case (p, next) if !p.empty && next.forall(_ > floor) => p.vdir
        }
      }.toSet
    val needed = live ++ extraNeeded
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.stripPrefix("v").toLong)
    val doomed = all.filterNot(needed)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"v$v"), true)
    }
    (doomed.length.toLong, needed.size.toLong)
  }

  /** Classify a merge batch against the pre-merge key set:
    * (n_updates, n_inserts, n_deletes, n_noop_deletes). Shared by
    * both changelog writers. */
  private def classifyBatch(keysInStore: DataFrame, batch: DataFrame,
                            key: String): (Long, Long, Long, Long) = {
    val ups = batch.filter(col("op") === "U").select(col(key)).distinct()
    val dels = batch.filter(col("op") === "D").select(col(key)).distinct()
    (ups.join(keysInStore, Seq(key), "left_semi").count(),
      ups.join(keysInStore, Seq(key), "left_anti").count(),
      dels.join(keysInStore, Seq(key), "left_semi").count(),
      dels.join(keysInStore, Seq(key), "left_anti").count())
  }

  private def logRow(spark: SparkSession, logPath: String, version: Long,
                     c: (Long, Long, Long, Long), touched: Long): Unit =
    spark.range(1).select(lit(version).as("version"),
        lit(c._1).as("n_updates"), lit(c._2).as("n_inserts"),
        lit(c._3).as("n_deletes"), lit(c._4).as("n_noop_deletes"),
        lit(touched).as("touched_buckets"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(logPath)

  /** [[mergeInto]] with an AUDIT CHANGELOG: the batch is classified
    * against the current store (updates = upsert keys present,
    * inserts = absent; deletes split into applied and no-op the same
    * way), the merge applies, and ONE row appends to `logPath` —
    * (version, n_updates, n_inserts, n_deletes, n_noop_deletes,
    * touched_buckets). The log is the table's lineage: append-only,
    * one row per merge, reconstructible from the batch definitions
    * (which is exactly what the oracle does). The classification
    * read is pruned to the batch's candidate buckets — membership of
    * a batch key is decidable inside its own bucket. */
  def mergeIntoLogged(spark: SparkSession, path: String, logPath: String,
                      version: Long, batch: DataFrame, key: String,
                      buckets: Int): Unit = {
    val cand = bucketsOf(bucketed(batch, key, buckets))
    val keysInStore = spark.read.parquet(path)
      .filter(col("bucket").isin(cand.toSeq: _*))
      .select(col(key)).distinct()
      .localCheckpoint(true) // classify against the PRE-merge store
    val c = classifyBatch(keysInStore, batch, key)
    val (touched, _) = mergeInto(spark, path, batch, key, buckets)
    logRow(spark, logPath, version, c, touched)
  }

  /** [[mergeInto]] behind a declarative CONTRACT (the Delta CHECK-
    * constraint / DLT-expectation semantics): upserts that violate
    * `rule` never reach the table — they land in a quarantine store
    * under `quarantinePath` (append-only, stamped with the merge
    * version and a reason string) while the valid remainder of the
    * batch merges normally. Deletes are exempt (removing a row needs
    * no payload contract). Returns (n_valid_upserts, n_quarantined).
    * Scale: the rule is one projection over the batch — no store
    * read beyond the merge's own pruned classification. */
  def mergeIntoChecked(spark: SparkSession, path: String,
                       quarantinePath: String, version: Long,
                       batch: DataFrame, key: String, buckets: Int,
                       rule: org.apache.spark.sql.Column,
                       reason: String): (Long, Long) = {
    val ups = batch.filter(col("op") === "U")
    // null-safe split: a rule evaluating to NULL (e.g. a null payload
    // column) is a VIOLATION — every upsert lands on exactly one side
    val pass = coalesce(rule, lit(false))
    val bad = ups.filter(!pass).localCheckpoint(true)
    val good = ups.filter(pass)
      .unionByName(batch.filter(col("op") === "D"))
    val nBad = bad.count()
    if (nBad > 0)
      bad.drop("op")
        .withColumn("version", lit(version))
        .withColumn("reason", lit(reason))
        .coalesce(1).write.mode(SaveMode.Append).parquet(quarantinePath)
    mergeInto(spark, path, good, key, buckets)
    (ups.count() - nBad, nBad)
  }

  /** QUARANTINE REPLAY — the other half of the [[mergeIntoChecked]]
    * lifecycle: re-admit corrected rows. `corrected` carries the
    * FIXED payload for quarantined keys (same payload columns, no
    * `op`); rows passing `rule` NOW merge into the store as upserts
    * (the pruned merge), rows still violating stay out. The
    * quarantine store keeps its full audit trail: the original
    * violation rows are never touched — one REPLAY row per
    * re-admitted key appends, stamped (version = `replayVersion`,
    * reason = "replayed"), so the read-back shows both the violation
    * and its resolution. Returns (n_replayed, n_still_bad). Scale:
    * rule + split are one projection over the (violation-sized)
    * corrected frame; the merge is bucket-pruned as always. */
  def replayQuarantine(spark: SparkSession, path: String,
                       quarantinePath: String, replayVersion: Long,
                       corrected: DataFrame, key: String, buckets: Int,
                       rule: org.apache.spark.sql.Column): (Long, Long) = {
    val pass = coalesce(rule, lit(false)) // NULL still violates
    val good = corrected.filter(pass).localCheckpoint(true)
    val nGood = good.count()
    val nBad = corrected.count() - nGood
    if (nGood == 0L) return (0L, nBad)
    mergeInto(spark, path, good.withColumn("op", lit("U")), key, buckets)
    good.withColumn("version", lit(replayVersion))
      .withColumn("reason", lit("replayed"))
      .coalesce(1).write.mode(SaveMode.Append).parquet(quarantinePath)
    (nGood, nBad)
  }

  /** [[mergeVersioned]] routed through the changelog discipline: the
    * batch classifies against the RESOLVED pre-merge state (pruned to
    * candidate buckets), the versioned merge applies with `commitTs`
    * stamped into the manifest, and one audit row appends to
    * `logPath` — the same lineage schema as [[mergeIntoLogged]], so
    * one log reader serves both store kinds. */
  def mergeVersionedLogged(spark: SparkSession, path: String,
                           logPath: String, version: Long,
                           batch: DataFrame, key: String, buckets: Int,
                           commitTs: Long = -1L): Unit = {
    val cand = bucketsOf(bucketed(batch, key, buckets))
    val keysInStore = readVersioned(spark, path, version - 1, Some(cand))
      .select(col(key)).distinct().localCheckpoint(true)
    val c = classifyBatch(keysInStore, batch, key)
    val (touched, _) =
      mergeVersioned(spark, path, version, batch, key, buckets, commitTs)
    // a no-op merge (empty batch / all-ghost deletes) commits NOTHING
    // — the manifest never gains `version`, so logging it would put a
    // phantom version in the lineage that the next real merge reuses
    if (touched > 0) logRow(spark, logPath, version, c, touched)
  }

  /** Delta-style manifest CHECKPOINT: every bucket's pointer history
    * at or below `floor` collapses into its single RESOLVED row (the
    * true version is kept, so any as-of view ≥ floor — by version or
    * by timestamp — resolves exactly as before), and the whole
    * manifest rewrites as ONE parquet file. This repays the
    * small-file debt of one-file-per-merge appends
    * ([[mergeVersioned]]'s `coalesce(1).mode(Append)`) without
    * surrendering any retained history — the natural companion of
    * [[vacuumVersions]], which drops the data dirs below the same
    * floor. A FLOOR MARKER row (bucket = -1, version = floor, empty)
    * records what was collapsed, so a later sub-floor read fails
    * loudly instead of returning the partial post-collapse state.
    * Returns (rows_before, rows_after, files_before,
    * files_after = 1). */
  def checkpointManifest(spark: SparkSession, path: String,
                         floor: Long): (Long, Long, Long, Long) = {
    val mpath = s"$path/_manifest"
    val fs = new org.apache.hadoop.fs.Path(mpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nextPath = new org.apache.hadoop.fs.Path(s"${mpath}__next")
    val man = manifest(spark, path)
    fs.delete(nextPath, true) // clear any stale pre-swap leftover
    val filesBefore = fs.listStatus(new org.apache.hadoop.fs.Path(mpath))
      .count(_.getPath.getName.startsWith("part-")).toLong
    // the floor can only rise: a lower re-checkpoint cannot restore
    // history the earlier collapse already dropped
    val newFloor = man.floor.fold(floor)(math.max(floor, _))
    val next = man.latest(newFloor).values.toSeq.sortBy(_.bucket) ++
      man.commits.filter(_.version > newFloor) :+
      Ptr(newFloor, -1L, -1L, empty = true, Long.MinValue)
    // ATOMIC publish (the sidecar temp+rename discipline): the
    // collapsed manifest lands COMPLETE (with its _SUCCESS) under
    // `_manifest__next` while the live one still serves, then the
    // delete→rename swap runs. Every crash point leaves a readable
    // manifest: before the delete the old one is live (__next is
    // ignored garbage); between delete and rename [[recoverManifest]]
    // finds the complete __next and finishes the swap. An in-place
    // Overwrite would instead have a window with NO manifest at all —
    // every pointer in the store gone.
    writeManifest(spark, next, nextPath.toString, SaveMode.Overwrite)
    if (!fs.exists(new org.apache.hadoop.fs.Path(nextPath, "_SUCCESS")))
      throw new java.io.IOException(
        s"checkpoint staging incomplete (no _SUCCESS) at $nextPath")
    fs.delete(new org.apache.hadoop.fs.Path(mpath), true)
    if (!fs.rename(nextPath, new org.apache.hadoop.fs.Path(mpath)))
      throw new java.io.IOException(
        s"checkpoint swap failed: $nextPath -> $mpath")
    (man.rows.size.toLong, next.size.toLong, filesBefore, 1L)
  }

  /** CHANGE DATA FEED between two versions: the row-level diff of
    * two as-of states, MANIFEST-PRUNED. Copy-on-write makes data
    * files immutable, so a bucket whose resolved (vdir, empty)
    * pointer is identical at both versions is byte-identical — only
    * buckets whose pointers DIFFER are read, from either side. The
    * pointer comparison itself is a manifest-only scan (≤ buckets
    * rows per side). Output: one row per differing key — (bucket,
    * key, change ∈ added | removed | changed), where `changed`
    * compares the full non-key payload. Read cost ∝ buckets touched
    * between the versions, never the store (spec-pinned via task
    * input metrics). */
  def diffVersions(spark: SparkSession, path: String, v1: Long,
                   v2: Long, key: String): DataFrame =
    diffVersionsFull(spark, path, v1, v2, key)
      .select(col("bucket"), col(key), col("change"))

  /** The buckets whose RESOLVED (vdir, empty) pointer differs between
    * two versions — copy-on-write makes data files immutable, so this
    * manifest-only comparison (≤ buckets rows per side) is exactly
    * the set of buckets whose BYTES can differ. The primitive under
    * the change data feed ([[diffVersionsFull]]) and the unit of work
    * for any DOWNSTREAM incremental maintenance: a derived table
    * keeping per-bucket partials refreshes only these buckets'
    * contributions on each version step (the q378 pattern), so view
    * maintenance costs ∝ churn, never the store. */
  def changedBuckets(spark: SparkSession, path: String, v1: Long,
                     v2: Long): Set[Long] =
    changedOf(manifest(spark, path), v1, v2)

  private def changedOf(man: Manifest, v1: Long, v2: Long): Set[Long] = {
    require(v1 < v2, s"diff needs v1 < v2, got $v1, $v2")
    // same loud guard as readVersioned: below a checkpoint floor the
    // pointer history is collapsed, so resolution there would be
    // silently PARTIAL — the worst failure mode for a diff
    man.requireAboveFloor(v1)
    val (a, b) = (man.latest(v1), man.latest(v2))
    (a.keySet ++ b.keySet).filter { bk =>
      a.get(bk).map(p => (p.vdir, p.empty)) !=
        b.get(bk).map(p => (p.vdir, p.empty))
    }
  }

  /** [[diffVersions]] carrying the POST-IMAGE payload (null columns
    * for `removed` rows) — the full change-data-feed contract: the
    * output of `diffVersionsFull(a, b)` applied as a merge batch
    * (`removed -> op D`, else `op U`) replicates state `a` into
    * state `b` exactly, which is what a downstream table subscriber
    * does with it (gate-pinned by the replication query). */
  def diffVersionsFull(spark: SparkSession, path: String, v1: Long,
                       v2: Long, key: String): DataFrame = {
    val man = manifest(spark, path)
    val cb = changedOf(man, v1, v2)
    val s1 = readResolved(spark, path, man, v1, Some(cb))
    val s2 = readResolved(spark, path, man, v2, Some(cb))
    rowDiff(s1, s2, key)
  }

  /** Row-level diff of two (bucket-pruned) states: one row per key
    * whose payload differs, change ∈ added | removed | changed,
    * carrying the POST-IMAGE (s2) payload. Shared by the version CDF
    * and the cross-store diff. */
  private def rowDiff(s1: DataFrame, s2: DataFrame,
                      key: String): DataFrame = {
    // data columns are the UNION of both sides — schema evolution
    // between the versions must be visible to the diff (a new
    // column's values are changes; the post-image must carry it)
    val dataCols = (s1.columns ++ s2.columns).distinct
      .filterNot(c => c == "bucket" || c == key).sorted.toSeq
    def aligned(df: DataFrame): DataFrame =
      dataCols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast("string")))
    // null-safe \u0001 framing: concat_ws DROPS nulls (rows differing
    // only in WHICH column is null would hash equal), so every column
    // coalesces to a \u0000 sentinel the corpus contract excludes
    def rowHash = md5(concat_ws("\u0001", dataCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    val a = aligned(s1).select(col("bucket").cast("long").as("bucket"),
      col(key), rowHash.as("__h1"))
    val b = aligned(s2).select(
      Seq(col("bucket").cast("long").as("bucket"), col(key),
        rowHash.as("__h2")) ++ dataCols.map(col): _*)
    a.join(b, Seq("bucket", key), "full_outer")
      .select(Seq(col("bucket"), col(key),
        when(col("__h1").isNull, lit("added"))
          .when(col("__h2").isNull, lit("removed"))
          .when(col("__h1") =!= col("__h2"), lit("changed"))
          .as("change")) ++ dataCols.map(col): _*)
      .filter(col("change").isNotNull)
  }

  /** Resolved (bucket -> (data dir or None-for-empty)) map of a store
    * at `version` — pointers resolved through the manifest, vdirs
    * resolved through the `_base` chain to the PHYSICAL data dir.
    * Metadata-sized (≤ buckets entries). */
  private def resolvedDirs(spark: SparkSession, path: String,
                           version: Long): Map[Long, Option[String]] =
    manifest(spark, path).latest(version).map { case (bk, p) =>
      bk -> (if (p.empty) None else Some(vdirPath(spark, path, p.vdir)))
    }

  /** CROSS-STORE diff — [[diffVersionsFull]] generalized to two
    * stores (the base-vs-branch comparison after a
    * [[branchVersioned]] fork): a bucket whose pointers resolve to
    * the SAME physical data dir in both stores is byte-identical by
    * the zero-copy contract (a branch's pre-fork pointers reference
    * the base's immutable dirs verbatim), so only buckets resolving
    * differently are read, from either side. Against a fresh fork
    * the diff reads NOTHING; after divergence it reads ∝ buckets
    * either side touched since the fork. Output: [[rowDiff]]'s
    * contract with `change` relative A -> B (added = in B only),
    * post-image = the B side. */
  def diffStores(spark: SparkSession, pathA: String, vA: Long,
                 pathB: String, vB: Long, key: String): DataFrame = {
    val da = resolvedDirs(spark, pathA, vA)
    val db = resolvedDirs(spark, pathB, vB)
    val cb = (da.keySet ++ db.keySet).filter { bk =>
      da.getOrElse(bk, None) != db.getOrElse(bk, None)
    }
    val s1 = readVersioned(spark, pathA, vA, Some(cb))
    val s2 = readVersioned(spark, pathB, vB, Some(cb))
    rowDiff(s1, s2, key)
  }

  /** The bucket-level CONFLICT set between a base store and a branch
    * forked from it at `forkVersion`: buckets BOTH sides' resolved
    * pointers moved since the fork (each side's [[changedBuckets]]
    * from the fork to its head — manifest-only on both sides). The
    * merge-back guard: a conflicting bucket holds base commits a
    * branch replay would overwrite. */
  def branchConflicts(spark: SparkSession, base: String,
                      branch: String, forkVersion: Long): Set[Long] =
    movedSince(manifest(spark, base), forkVersion)
      .intersect(movedSince(manifest(spark, branch), forkVersion))

  /** The buckets whose resolved pointer moved from `forkVersion` to
    * the head. */
  private def movedSince(man: Manifest, forkVersion: Long): Set[Long] = {
    val head = man.head.get
    if (head <= forkVersion) Set.empty else changedOf(man, forkVersion, head)
  }

  /** MERGE a branch BACK into its base (the other half of
    * [[branchVersioned]]'s lifecycle): every bucket the branch moved
    * since `forkVersion` lands on the base as ONE new commit at
    * `asVersion` — the branch's head state for those buckets is read
    * (bucket-pruned) and REWRITTEN under the base's own
    * `v<asVersion>` (tombstones where the branch emptied a bucket),
    * so the base never references the branch's dirs — the branch can
    * be deleted the moment the merge commits. Buckets the BASE also
    * moved since the fork are CONFLICTS — the merge refuses
    * (fail-closed; resolve by editing the branch or re-forking)
    * rather than silently overwriting base commits. A normal commit:
    * OCC slot, monotone commit_ts, history across it intact. Data
    * moved ∝ branch-touched buckets, never either store. Returns the
    * pointer rows appended (0 = branch never diverged; nothing
    * commits, the slot stays free). */
  def mergeBranch(spark: SparkSession, base: String, branch: String,
                  forkVersion: Long, asVersion: Long,
                  commitTs: Long = -1L,
                  writerToken: String = "solo",
                  statCols: Seq[String] = Nil): Long = {
    val cts = if (commitTs == -1L) asVersion else commitTs
    val (manBase, manBr) = (manifest(spark, base), manifest(spark, branch))
    val baseMoved = movedSince(manBase, forkVersion)
    val moved = movedSince(manBr, forkVersion)
    val conflicts = baseMoved.intersect(moved)
    if (conflicts.nonEmpty)
      throw new IllegalStateException(
        s"merge-back of $branch into $base conflicts on bucket(s) " +
          s"${conflicts.toSeq.sorted.mkString(", ")} — both sides " +
          s"moved them since fork v$forkVersion")
    manBase.checkNext(asVersion, cts)
    if (moved.isEmpty) return 0L
    acquireCommit(spark, base, asVersion, writerToken)
    val state = readResolved(spark, branch, manBr, manBr.head.get,
      Some(moved)).localCheckpoint(true)
    writeVDir(state, statCols, Nil, s"$base/v$asVersion")
    appendVStats(state, base, asVersion, statCols)
    val written = bucketsOf(state)
    appendManifest(spark, base, moved.toSeq.sorted.map { bk =>
      Ptr(asVersion, bk, asVersion, !written.contains(bk), cts)
    })
    moved.size.toLong
  }

  /** REBASE a branch onto its base's CURRENT head (manifest-only):
    * the branch's manifest is replaced by a fresh copy of the base's
    * — the in-place equivalent of deleting the branch and re-forking
    * — so a long-lived branch survives promote cycles. After
    * [[mergeBranch]] lands a branch's edits on the base, the branch's
    * conflict set vs the advanced base is spuriously non-empty (the
    * base "moved" the very buckets the branch itself contributed); a
    * rebase resets the fork floor to the base head, and the next
    * round of edits merges back conflict-free. The branch's own
    * post-fork HISTORY is surrendered: its local version dirs (and
    * its `_vstats` rows, which describe only those dirs) are deleted
    * — unreferenced once the manifest swaps, and left behind they
    * would SHADOW base vdirs with the same numbers. Requires: the
    * branch's pending edits are already merged (this is the
    * post-promote step) and the branch has no clones of its own
    * (their manifests reference the dirs this deletes). Both
    * preconditions are now CHECKED from metadata, not just
    * documented: (1) live clones of the branch (via the `_clones`
    * registry) refuse unconditionally — rebase or delete the clone
    * first; (2) an in-flight writer's commit slot (a `_commits`
    * marker for a version with no manifest rows behind it) refuses
    * unconditionally — rebase is single-writer admin; if the writer
    * is dead, [[breakCommit]] clears the slot; (3) post-fork branch
    * buckets the BASE has not advanced past the fork point are
    * evidence of unmerged edits this rebase would destroy — refused
    * unless `force = true`. Check 3 is a metadata PROXY (the base
    * advancing on a bucket does not prove it absorbed the branch's
    * edit, and a branch that vacuumed its own post-fork dirs can
    * shift the inferred fork point) — it catches the mis-sequenced
    * rebase-before-merge call loudly, which is the failure class
    * that matters; `force` is the admit-data-loss override.
    * Crash-safe:
    * the staged manifest copy is garbage until the delete→rename swap
    * ([[recoverManifest]] completes a crash between them); a crash
    * after the dir deletes but before the swap leaves the branch's
    * own-version reads failing LOUDLY until the rebase re-runs —
    * never silently wrong. Returns the new fork version (the base
    * head). */
  def rebaseBranch(spark: SparkSession, branch: String,
                   base: String, force: Boolean = false): Long = {
    recoverManifest(spark, base)
    recoverManifest(spark, branch)
    require(baseOf(spark, branch).contains(base),
      s"$branch is not a branch of $base (no matching _base pointer)")
    val manBase = manifest(spark, base)
    val head = manBase.head
    require(head.nonEmpty, s"cannot rebase onto an empty store at $base")
    val fs = hfs(spark, branch)
    // guard 1: a live clone's pre-fork pointers resolve through the
    // very dirs this rebase deletes — never destructible from here
    val clones = liveClones(spark, branch)
    require(clones.isEmpty,
      s"refusing to rebase $branch: live clone(s) " +
        s"${clones.mkString(", ")} resolve through its dirs — " +
        "rebase or delete them first")
    // guard 2: a commit slot with no manifest rows behind it is a
    // writer mid-commit (or a dead one — breakCommit clears it);
    // rebase deletes _commits wholesale, which would hand the slot
    // to a second writer
    val brCommits = manifest(spark, branch).commits
    val committedVs = brCommits.map(_.version).toSet
    val slotDir = new org.apache.hadoop.fs.Path(branch, "_commits")
    val inflight =
      if (!fs.exists(slotDir)) Array.empty[String]
      else fs.listStatus(slotDir)
        .map(_.getPath.getName).filter(_.matches("v\\d+"))
        .filterNot(n => committedVs.contains(n.stripPrefix("v").toLong))
    require(inflight.isEmpty,
      s"refusing to rebase $branch: in-flight commit slot(s) " +
        s"${inflight.sorted.mkString(", ")} — another writer is " +
        "mid-commit (breakCommit clears a dead writer's slot)")
    // guard 3 (metadata proxy, force-overridable): infer the fork
    // point as the max version among manifest rows resolving to dirs
    // the branch does NOT own; any bucket the branch moved past it
    // that the base has NOT advanced past it is an unmerged edit
    // this rebase would destroy
    if (!force) {
      val ownsDir: Long => Boolean = v =>
        fs.exists(new org.apache.hadoop.fs.Path(branch, s"v$v"))
      val forkH = brCommits.filterNot(p => ownsDir(p.vdir))
        .map(_.version).foldLeft(-1L)(math.max)
      val moved = brCommits.filter(_.version > forkH).map(_.bucket).toSet
      if (moved.nonEmpty) {
        val baseLatest = manBase.commits.groupMapReduce(_.bucket)(_.version)(
          math.max)
        val unmerged = moved.toSeq
          .filter(bk => baseLatest.getOrElse(bk, -1L) <= forkH).sorted
        require(unmerged.isEmpty,
          s"refusing to rebase $branch: post-fork edits on bucket(s) " +
            s"${unmerged.mkString(", ")} are not reflected at $base's " +
            s"head (no base commit past fork v$forkH) — mergeBranch " +
            "first, or pass force=true to discard them")
      }
    }
    val broot = new org.apache.hadoop.fs.Path(branch)
    val mpath = new org.apache.hadoop.fs.Path(branch, "_manifest")
    val nextPath = new org.apache.hadoop.fs.Path(branch,
      "_manifest__next")
    fs.delete(nextPath, true)
    org.apache.hadoop.fs.FileUtil.copy(hfs(spark, base),
      new org.apache.hadoop.fs.Path(base, "_manifest"),
      fs, nextPath, false, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(nextPath, "_SUCCESS")))
      throw new java.io.IOException(
        s"rebase staging incomplete (no _SUCCESS) at $nextPath")
    // own dirs go before the swap: if the crash lands between, the
    // branch's own-version reads fail loudly (dir missing) and the
    // re-run completes — the other order would leave stale dirs
    // silently shadowing base vdirs of the same number
    fs.listStatus(broot)
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .foreach(s => fs.delete(s.getPath, true))
    fs.delete(new org.apache.hadoop.fs.Path(branch, "_vstats"), true)
    // the branch's own commit-slot markers guard versions that no
    // longer exist after the re-fork — left behind, a branch that had
    // advanced past the base's head could never commit again (its
    // next version number would collide with a stale marker and read
    // as a foreign writer's slot)
    fs.delete(new org.apache.hadoop.fs.Path(branch, "_commits"), true)
    fs.delete(mpath, true)
    if (!fs.rename(nextPath, mpath))
      throw new java.io.IOException(
        s"rebase swap failed: $nextPath -> $mpath")
    head.get
  }

  /** BITEMPORAL (as-of) JOIN against the versioned store: each probe
    * row joins the dimension state AS OF its own timestamp — the
    * per-row generalization of [[readVersionedAsOf]] (which resolves
    * ONE timestamp for a whole read). Mechanics: the manifest yields
    * the commit timeline (version, commit_ts) — metadata-sized, so it
    * BROADCASTS — and a range join stamps every probe with the
    * version whose validity window `[commit_ts, next commit_ts)`
    * covers its timestamp; probes are then joined to each stamped
    * version's state, read bucket-pruned to THAT version's probe
    * keys. Work ∝ distinct stamped versions (bounded by commits,
    * never probes) × candidate buckets per version. Probes before the
    * first commit get no match (left join, null payload) — the
    * history simply doesn't cover them. Probe columns are preserved;
    * dimension payload columns join on `key`.
    *
    * The PROBE side is scanned ONCE: the stamped frame is
    * checkpointed before the version collect and the per-version
    * loop — un-checkpointed, every per-version candidate collect and
    * join would re-scan the probe source (V + 1 probe passes for V
    * stamped versions). The returned frame is materialized
    * (probe-sized) so the stamped checkpoint can be released here
    * rather than leaking to the caller. */
  def asOfJoinVersioned(spark: SparkSession, probes: DataFrame,
                        tsCol: String, path: String, key: String,
                        buckets: Int): DataFrame = {
    val timeline = manifestDf(spark, path)
      .filter(col("bucket") =!= -1L)
      .select(col("version"), col("commit_ts")).distinct()
      .groupBy(col("version"))
      .agg(max(col("commit_ts")).as("w_start"))
    val windows = timeline
      .withColumn("w_end", lead(col("w_start"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("version"))))
      .withColumnRenamed("version", "__v")
    val stamped = probes.join(
      broadcast(windows),
      col(tsCol) >= col("w_start") &&
        (col("w_end").isNull || col(tsCol) < col("w_end")),
      "left")
      .drop("w_start", "w_end")
      .localCheckpoint(true)
    try {
      val versions = stamped.filter(col("__v").isNotNull)
        .select(col("__v")).distinct()
        .collect().map(_.getLong(0)).sorted
      val unmatched = stamped.filter(col("__v").isNull)
      val perVersion = versions.map { v =>
        val pv = stamped.filter(col("__v") === v)
        val cand = pv.select(pmod(col(key), lit(buckets.toLong))
            .cast("long").as("b")).distinct()
          .collect().map(_.getLong(0)).toSet
        pv.join(
          readVersioned(spark, path, v, Some(cand)).drop("bucket"),
          Seq(key), "left")
      }
      val joined = perVersion.reduceOption(
        _.unionByName(_, allowMissingColumns = true))
      val out = joined match {
        case None => unmatched
        case Some(j) =>
          j.unionByName(unmatched, allowMissingColumns = true)
      }
      out.drop("__v").localCheckpoint(true)
    } finally {
      org.apache.spark.sql.GraftSqlBridge.unpersistBackingRdds(stamped)
    }
  }

  /** DESCRIBE HISTORY for the versioned store — the operational
    * surface every table format ships: one row per commit, derived
    * ENTIRELY from the manifest (metadata-sized, no data read):
    * commit_ts, pointer count, tombstone count, and whether the
    * commit rewrote data (vdir == version) or only re-pointed
    * (RESTORE / merge-back tombstones). A checkpoint's floor marker
    * shares its version number with the commit the floor collapsed
    * INTO, so it surfaces as `is_floor = true` ON that version's row
    * (the pointer/tombstone counts there are the collapsed state's) —
    * collapsed history is flagged, not silent, and not a separate
    * row. */
  def storeHistory(spark: SparkSession, path: String): DataFrame =
    manifestDf(spark, path)
      .groupBy(col("version"))
      .agg(
        max(when(col("bucket") =!= -1L, col("commit_ts")))
          .as("commit_ts"),
        count(when(col("bucket") =!= -1L, lit(1))).as("n_pointers"),
        count(when(col("bucket") =!= -1L && col("empty"), lit(1)))
          .as("n_tombstones"),
        max(when(col("bucket") =!= -1L && !col("empty"),
          (col("vdir") =!= col("version")).cast("int")))
          .as("__repointed"),
        max((col("bucket") === -1L).cast("int")).as("__floor"))
      .select(col("version"), col("commit_ts"), col("n_pointers"),
        col("n_tombstones"),
        (coalesce(col("__repointed"), lit(0)) === 1)
          .as("repointed"),
        (col("__floor") === 1).as("is_floor"))

  /** Per-bucket content manifest of a store: row count, char mass,
    * and an order-pinned row hash — the read-back evidence a merge
    * gate compares against the pure-SQL expected final state. */
  def storeManifest(store: DataFrame, key: String): DataFrame =
    store.groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col(key).as("k"),
            concat_ws(":", col(key), md5(col("text")), col("source"),
              col("lang")).as("s")))),
          x => x.getField("s")), "\n")).as("rows_md5"))
}
