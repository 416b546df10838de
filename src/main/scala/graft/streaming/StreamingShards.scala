package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Packing

/** Streaming SHARD sink — the deployment shape of q144: curated,
  * token-counted documents land on a stream and each micro-batch
  * folds into the on-disk training-shard set via
  * [[Packing.appendShards]], so the physical artifact a trainer
  * mounts stays current between batch re-shards. The first non-empty
  * batch creates the shard set from scratch ([[Packing.writeShards]]);
  * every later batch pays only the incremental-append cost (work ∝
  * batch — prefix sums of landed docs cannot change under the
  * append-only id contract).
  *
  * Replay contract — STRONGER than the at-least-once append sinks
  * here, because the artifact is an idempotent LAYOUT, not a log: a
  * replayed micro-batch's ids are ALL already landed, so it is
  * detected by id-set membership and SKIPPED — its effect is on disk
  * (appendShards lands byte-identical to from-scratch, so "already
  * landed" fully determines the bytes). Membership, NOT a max-id
  * watermark, on purpose: the file source can deliver same-mtime
  * files out of id order, and a watermark would silently drop a
  * fresh out-of-order batch as if it were a replay — data loss. Here
  * a fresh batch always reaches appendShards, whose append-only
  * guard fails FAST on disorder.
  *
  * The membership probe is BOUNDED: a `_graft_landed` sidecar beside
  * the shard dirs records each shard's (min_id, max_id, n_docs), and
  * only shards whose range can intersect the batch — plus the last
  * shard and any dir the sidecar has not seen (the two places a
  * crashed append can leave untracked rows) — are actually read.
  * Per-batch probe cost is ∝ the batch's id span, not the corpus
  * (the r9 sink re-read every landed id every batch). A missing
  * sidecar (pre-existing layout, or deleted) heals by one full scan;
  * a torn/empty one (crashed writer) reads as missing and heals the
  * same way; sidecar publishes are temp-file + rename, and every
  * batch audits the probed dirs' observed (max_id, n_docs) against
  * the record so a crash between landing files and refreshing the
  * sidecar can never feed stale totals into a later append.
  *
  * Crash recovery: an append that died between landing some shard
  * directories and committing the checkpoint re-arrives as a batch
  * that PARTIALLY overlaps the landed ids. That state is
  * reconstructible — dynamic partition overwrite lands whole
  * directories, and the batch's ids are an id-suffix — so the sink
  * repairs it instead of wedging: the batch's already-landed rows are
  * stripped from their shards (restoring the exact pre-append state),
  * and the full batch re-appends, landing byte-identical to an
  * uncrashed run. A partial overlap that is NOT a crashed suffix
  * (producer re-sent genuinely old ids) still dies loudly on
  * appendShards' append-only guard after the strip.
  *
  * `budget`/`seqsPerShard` are frozen for the sink's lifetime (they
  * define the layout — changing them means a re-shard, a new sink).
  */
object StreamingShards {

  private val SidecarName = "_graft_landed" // _-prefixed: parquet readers skip it

  /** (shard_id -> (min_id, max_id, n_docs, n_tokens)); None when
    * absent — and also when the file is EMPTY or unparseable. The
    * sidecar is advisory state over the authoritative shard dirs, and
    * a crashed writer can leave it truncated; parsing a torn file as
    * "no shards landed" (or wedging the stream on a MatchError every
    * batch) would be trusting garbage over the dirs. Missing-shaped
    * `None` routes every such case into the heal-by-scan path. */
  private def readSidecar(fs: org.apache.hadoop.fs.FileSystem, path: String)
      : Option[Map[Long, (Long, Long, Long, Long)]] =
    SmallFile.read(fs, path, SidecarName).flatMap { txt =>
      scala.util.Try {
        txt.linesIterator.filter(_.nonEmpty).map { l =>
          val Array(s, mn, mx, n, t) = l.split(",")
          s.toLong -> ((mn.toLong, mx.toLong, n.toLong, t.toLong))
        }.toMap
      }.toOption.filter(_.nonEmpty)
    }

  /** Publish through [[SmallFile.publish]] (temp file + rename): an
    * in-place truncating write could leave a torn file that misreports
    * the landed layout. */
  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, path: String,
                           stats: Map[Long, (Long, Long, Long, Long)]): Unit =
    SmallFile.publish(fs, path, SidecarName, stats.toSeq.sortBy(_._1)
      .map { case (s, (mn, mx, n, t)) => s"$s,$mn,$mx,$n,$t" }
      .mkString("", "\n", "\n"))

  /** Recompute sidecar entries for `shards` only (bounded rescan);
    * entries for vanished dirs are dropped. Returns the new stats. */
  private def refreshSidecar(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem, path: String,
                             idCol: String,
                             prior: Map[Long, (Long, Long, Long, Long)],
                             shards: Set[Long])
      : Map[Long, (Long, Long, Long, Long)] = {
    val present = listShards(fs, path)
    val toScan = shards & present
    val scanned =
      if (toScan.isEmpty) Map.empty[Long, (Long, Long, Long, Long)]
      else spark.read.option("basePath", path)
        .parquet(toScan.toSeq.map(s => s"$path/shard_id=$s"): _*)
        .groupBy(col("shard_id").cast("long").as("__s"))
        .agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long"),
          count(lit(1)), sum(col("n_tokens")).cast("long"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
    val next = prior.filter(kv => present.contains(kv._1)) -- toScan ++ scanned
    writeSidecar(fs, path, next)
    next
  }

  private def listShards(fs: org.apache.hadoop.fs.FileSystem,
                         path: String): Set[Long] =
    fs.globStatus(new org.apache.hadoop.fs.Path(path, "shard_id=*"))
      .map(_.getPath.getName.stripPrefix("shard_id=").toLong).toSet

  /** Start the shard sink: (idCol, tokenCol, payload...) stream →
    * sized shard files under `path` (see [[Packing.writeShards]] for
    * the on-disk contract). */
  def shardSink(docs: DataFrame, path: String, idCol: String,
                tokenCol: String, budget: Long, seqsPerShard: Long,
                checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, path, idCol, checkpointDir,
      writeFull = batch => {
        // layout attached in place (packAttach, no join-back —
        // §2.4/§3); select pins the historical on-disk column order
        val rest = batch.columns.filter(c => c != idCol && c != tokenCol)
        val packed = Packing.packAttach(batch, idCol, tokenCol, budget)
          .withColumnRenamed(tokenCol, "n_tokens")
          .select((Seq(idCol, "n_tokens", "seq_id") ++ rest).map(col): _*)
        Packing.writeShards(packed, idCol, path, seqsPerShard)
      },
      append = (batch, totals) =>
        Packing.appendShards(batch, idCol, tokenCol, path,
          budget, seqsPerShard, knownTotals = totals))

  /** [[shardSink]] for the SEALED layout ([[Packing.packSealed]]):
    * the same exactly-once contract, bounded sidecar probe, and
    * crash recovery, landing [[Packing.appendSealedShards]]' files —
    * the deployment shape a sealed (repair-local) shard set stays
    * current through. */
  def sealedShardSink(docs: DataFrame, path: String, idCol: String,
                      tokenCol: String, budget: Long, seqsPerShard: Long,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, path, idCol, checkpointDir,
      writeFull = batch =>
        Packing.writeByShardColumn(
          Packing.packSealed(batch.select(col(idCol), col(tokenCol)),
              idCol, tokenCol, budget, seqsPerShard)
            .join(batch.drop(tokenCol), Seq(idCol)),
          idCol, path),
      append = (batch, totals) =>
        Packing.appendSealedShards(batch, idCol, tokenCol, path,
          budget, seqsPerShard, knownTotals = totals))

  /** The layout-agnostic sink loop: classification (fresh / replay /
    * crashed-partial / refused), the bounded sidecar probe, recovery,
    * and sidecar maintenance. `writeFull` materializes a from-scratch
    * layout for a batch; `append` folds a batch in, given the landed
    * (token total, max id) from the sidecar. */
  private def sink(docs: DataFrame, path: String, idCol: String,
                   checkpointDir: String,
                   writeFull: DataFrame => Unit,
                   append: (DataFrame, Option[(Long, Long)]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ForeachBatchSink.start(docs, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val shardsOnDisk = if (fs.exists(hp)) listShards(fs, path)
          else Set.empty[Long]
        if (shardsOnDisk.isEmpty) {
          writeFull(batch)
          refreshSidecar(spark, fs, path, idCol, Map.empty,
            listShards(fs, path))
        } else {
          // heal a missing (or torn — see readSidecar) sidecar with
          // one full scan, then probe only the shards a batch id
          // could possibly live in
          val stats0 = readSidecar(fs, path).getOrElse(
            refreshSidecar(spark, fs, path, idCol, Map.empty, shardsOnDisk))
          val ids = batch.select(col(idCol)).distinct()
            .localCheckpoint(true)
          val b = ids.agg(min(col(idCol)).cast("long"), count(lit(1))).head()
          val (bMin, nBatch) = (b.getLong(0), b.getLong(1))
          val lastShard =
            if (stats0.nonEmpty) stats0.maxBy(_._2._2)._1 else -1L
          val probeShards = (shardsOnDisk -- stats0.keySet) ++
            stats0.filter(_._2._2 >= bMin).keySet ++
            (if (stats0.nonEmpty) Set(lastShard) else Set.empty[Long])
          val probed =
            if (probeShards.isEmpty) null
            else spark.read.option("basePath", path)
              .parquet(probeShards.toSeq.map(s => s"$path/shard_id=$s"): _*)
              .select(col(idCol), col("shard_id").cast("long").as("shard_id"))
              .localCheckpoint(true)
          // Staleness audit before trusting ANY total: an append that
          // crashed after landing files but before its sidecar refresh
          // leaves dirs the sidecar has not seen, or a last shard
          // holding ids past its recorded max. The membership probe
          // still classifies correctly (untracked dirs and the
          // recorded-last shard are always probed), but totals derived
          // from the stale record would place the next append at a
          // wrong global offset — and the replay-skip path would
          // otherwise leave the staleness standing forever. Compare
          // observed (max_id, n_docs) of the probed dirs with the
          // record and re-scan exactly the disagreeing shards.
          val stats = {
            val observed = if (probed == null) Array.empty[(Long, (Long, Long))]
              else probed.groupBy(col("shard_id"))
                .agg(max(col(idCol)).cast("long"), count(lit(1)))
                .collect()
                .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
            val stale = observed.collect { case (s, (mx, n))
              if !stats0.get(s).exists(st => st._2 == mx && st._3 == n) => s
            }.toSet
            if (stale.isEmpty) stats0
            else refreshSidecar(spark, fs, path, idCol, stats0, stale)
          }
          val hit =
            if (probed == null) ids.limit(0)
              .withColumn("shard_id", lit(0L))
            else probed.join(ids, Seq(idCol), "left_semi")
              .localCheckpoint(true)
          val nHit = hit.count()
          if (nHit == nBatch) {
            // every id already landed: a replayed micro-batch —
            // its bytes are on disk, skip
          } else {
            val current = if (nHit > 0L) {
              // Partial overlap. Before touching ANY file, prove it
              // is a crashed append suffix (every batch id follows
              // every landed NON-batch id): a producer re-sending
              // genuinely old ids must die loudly here, not after a
              // destructive strip. Unprobed shards hold only ids
              // < bMin (that is why they were skipped), so the
              // check needs one bounded scan of the probed dirs.
              val probedNonBatch = spark.read.option("basePath", path)
                .parquet(probeShards.toSeq.map(s => s"$path/shard_id=$s"): _*)
                .join(ids, Seq(idCol), "left_anti")
                .agg(max(col(idCol)).cast("long")).head()
              val unprobedMax = (stats -- probeShards).values
                .map(_._2).maxOption.getOrElse(Long.MinValue)
              val maxNonBatch = math.max(unprobedMax,
                if (probedNonBatch.isNullAt(0)) Long.MinValue
                else probedNonBatch.getLong(0))
              require(bMin > maxNonBatch,
                s"batch partially overlaps landed ids ($nHit of $nBatch " +
                  s"landed) but is NOT an id-suffix (batch min $bMin <= " +
                  s"landed non-batch max $maxNonBatch): neither a replay " +
                  "nor a crashed append — refusing to repair")
              // crashed mid-append: strip the batch's landed rows
              // from their shards (restores the pre-append state —
              // overwrite lands whole dirs, ids are append-only),
              // then fall through to a clean re-append
              val dirty = hit.select(col("shard_id")).distinct()
                .collect().map(_.getLong(0))
              val survivors = spark.read.option("basePath", path)
                .parquet(dirty.toSeq.map(s => s"$path/shard_id=$s"): _*)
                .join(ids, Seq(idCol), "left_anti")
                .withColumn("shard_id", col("shard_id").cast("long"))
                .localCheckpoint(true)
              val keep = survivors.select(col("shard_id")).distinct()
                .collect().map(_.getLong(0)).toSet
              if (keep.nonEmpty)
                survivors
                  .repartition(col("shard_id"))
                  .sortWithinPartitions(col("shard_id"), col(idCol))
                  .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("shard_id")
                  .parquet(path)
              (dirty.toSet -- keep).foreach { s =>
                fs.delete(
                  new org.apache.hadoop.fs.Path(path, s"shard_id=$s"), true)
              }
              // the strip (and the crash before it) invalidated the
              // sidecar for exactly the probed/dirty shards — a
              // bounded refresh makes the totals below exact
              refreshSidecar(spark, fs, path, idCol, stats,
                probeShards ++ dirty)
            } else stats
            // "empty" gates a from-scratch overwrite that deletes
            // every landed shard — never take a record's word for
            // it: re-list the dirs, and if any remain (a sidecar
            // that lost track of a live layout), heal by full
            // rescan instead of destroying data
            val remaining0 = if (current.isEmpty) listShards(fs, path)
              else Set.empty[Long]
            val healed = if (current.isEmpty && remaining0.nonEmpty)
              refreshSidecar(spark, fs, path, idCol, Map.empty, remaining0)
            else current
            if (healed.isEmpty) {
              // the strip emptied the whole layout (the crashed
              // batch WAS the corpus): recreate from scratch
              writeFull(batch)
              refreshSidecar(spark, fs, path, idCol, Map.empty,
                listShards(fs, path))
            } else {
              // landed totals from the sidecar — the append skips
              // its full-layout scan, so append cost is ∝ touched
              // shards, not the corpus
              val totals = Some((healed.values.map(_._4).sum,
                healed.values.map(_._2).max))
              append(batch, totals)
              // bounded refresh: new dirs + everything the batch's
              // id span can have touched + the last pre-append
              // shard (the one existing dir an append rewrites —
              // skipping it leaves a stale range that would make the
              // NEXT replay probe miss those landed ids)
              val after = listShards(fs, path)
              refreshSidecar(spark, fs, path, idCol, healed,
                (after -- healed.keySet) ++
                  healed.filter(_._2._2 >= bMin).keySet ++
                  Set(healed.maxBy(_._2._2)._1))
            }
          }
        }
      }
    }
}
