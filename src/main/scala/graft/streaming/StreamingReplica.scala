package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lakehouse

/** Streaming CHANGE-DATA-FEED SUBSCRIBER: a downstream replica table
  * that tails a versioned store and applies its diffs incrementally —
  * the pull half of the CDF contract (q364 proved the batch form; this
  * is the standing subscription).
  *
  * Per tick (the trigger payload is ignored — every tick is "catch up
  * to the source head"): probe the SOURCE manifest head (manifest-only
  * — metadata, never data), and for each unapplied version v apply
  * `diffVersionsFull(v-1, v)` to the replica as a merge batch
  * (`removed -> D`, else U with the post-image payload) through the
  * bucket-pruned [[Lakehouse.mergeInto]]. Read cost per version ∝
  * pointer-differing buckets (the CDF pruning), apply cost ∝ the
  * diff's candidate buckets — a quiet tick costs one manifest probe.
  *
  * Replay class: IDEMPOTENT, no ledger needed for correctness —
  * applying the same diff twice replaces rows with themselves and
  * re-deletes absent keys (the replace-by-key class: CDC snapshot,
  * BM25 upsert). The `_graft_cdf_applied` progress marker
  * (complete-or-absent via temp+rename) exists so a replay or quiet
  * tick SHORT-CIRCUITS without re-reading diffs, and so a crash
  * between a merge and its marker publish re-applies at most that one
  * version's diff — harmlessly, by idempotence. Schema evolution
  * rides through: the diff carries the union schema, and the merge's
  * evolution path widens the replica. */
object StreamingReplica {

  private val Marker = "_graft_cdf_applied"

  /** The replica's applied-version marker; None before the first
    * apply (bootstrap pending). */
  def appliedVersion(spark: org.apache.spark.sql.SparkSession,
                     replica: String): Option[Long] =
    SmallFile.read(new org.apache.hadoop.fs.Path(replica)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      replica, Marker).map(_.trim.toLong)

  /** One subscriber tick (factored out for the gated query and the
    * drills): catch the replica up to the source head. Bootstrap (no
    * marker yet) snapshots the source at `bootstrapVersion` into a
    * fresh plain store — after which every later version arrives as a
    * diff. Returns the number of versions applied this tick (0 = the
    * replica was already at head). As a standing subscription, any
    * trigger stream drives it through [[ForeachBatchSink.start]]; the
    * batch content is ignored, arrival is the signal. */
  def processTick(spark: org.apache.spark.sql.SparkSession,
                  srcPath: String, replica: String, key: String,
                  buckets: Int, bootstrapVersion: Long = 0L): Long = {
    val fs = new org.apache.hadoop.fs.Path(replica)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = Lakehouse.readManifest(spark, srcPath)
      .agg(max(when(col("bucket") =!= -1L, col("version"))))
      .head().getLong(0)
    var applied = appliedVersion(spark, replica) match {
      case Some(v) => v
      case None =>
        Lakehouse.writeStore(
          Lakehouse.readVersioned(spark, srcPath, bootstrapVersion)
            .drop("bucket"),
          key, replica, buckets)
        SmallFile.publish(fs, replica, Marker, bootstrapVersion.toString)
        bootstrapVersion
    }
    var n = 0L
    while (applied < head) {
      val v = applied + 1
      val cdf = Lakehouse.diffVersionsFull(spark, srcPath, applied, v,
        key)
      val dataCols = cdf.columns
        .filterNot(c => c == "bucket" || c == key || c == "change")
      val mb = cdf.select(
        (col(key) +: when(col("change") === "removed", lit("D"))
          .otherwise(lit("U")).as("op") +: dataCols.map(col)): _*)
      Lakehouse.mergeInto(spark, replica, mb, key, buckets)
      SmallFile.publish(fs, replica, Marker, v.toString)
      applied = v
      n += 1
    }
    n
  }
}
