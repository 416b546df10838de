package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lakehouse

/** Streaming merge into the copy-on-write VERSIONED store: each
  * micro-batch of upserts/deletes commits as the next version with
  * `commit_ts = batchId` — so the manifest IS the ledger (the
  * idempotent replay class: a commit whose batch id is already
  * present short-circuits before any work, and state + ledger are
  * one append). Streaming upserts with time travel — every
  * micro-batch boundary stays queryable as-of its version or its
  * batch id, the Delta-style streaming sink semantics.
  *
  * Crash consistency: [[Lakehouse.mergeVersioned]] writes the new
  * version DIR before appending its manifest pointers, so a crash
  * between the two leaves an orphan dir the replayed batch simply
  * overwrites — readers never see it because resolution goes through
  * the manifest alone.
  *
  * Scale: everything is the merge's own contract — classification
  * reads and rebuilds ∝ the batch's candidate buckets, the replay
  * probe is a manifest-only scan (≤ commits·buckets rows, never
  * data). */
object StreamingLakehouse {

  /** One micro-batch's versioned commit (factored out for the gated
    * query). The first batch's upserts become v0; every later batch
    * merges as `max(version) + 1`. The writer token is derived from
    * the batch id, so a replay after a crash between the OCC marker
    * and the manifest append RECLAIMS its own commit slot (same
    * logical writer) instead of wedging on it. */
  def processVersionedBatch(batch: DataFrame, batchId: Long,
                            path: String, key: String,
                            buckets: Int): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val token = s"batch-$batchId"
    if (!Lakehouse.manifestExists(spark, path)) {
      // first commit: v0 from the batch's upserts (a delete against
      // an empty store is a no-op by definition); a deletes-only
      // first batch creates NOTHING — an empty v0 with a zero-row
      // manifest would wedge every later commit's max(version) probe
      val ups = batch.filter(col("op") === "U").drop("op")
      if (ups.isEmpty) return
      Lakehouse.writeVersioned(ups, key, path, buckets,
        commitTs = batchId, writerToken = token)
      return
    }
    val man = Lakehouse.readManifest(spark, path)
    if (man.filter(col("commit_ts") === batchId).head(1).nonEmpty)
      return // replayed batch: its commit is already in the manifest
    val maxRow = man.agg(max(col("version"))).head()
    if (maxRow.isNullAt(0))
      throw new IllegalStateException(
        s"manifest at $path exists but holds no commits")
    val next = maxRow.getLong(0) + 1
    Lakehouse.mergeVersioned(spark, path, next, batch, key, buckets,
      commitTs = batchId, writerToken = token)
    ()
  }
}
