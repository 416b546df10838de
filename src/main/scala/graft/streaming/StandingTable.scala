package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The standing-table fold the table-state sinks share: one managed
  * parquet table holds the whole state (and, for the ledger class, the
  * landed batch ids as sentinel rows), and each batch replaces it with
  * ONE overwrite, so state and ledger can never be torn apart. */
object StandingTable {

  /** `step` maps the prior table (None before the first batch) to the
    * next one, or to None to leave the table untouched (a ledgered
    * replay). The next table is localCheckpointed before the overwrite
    * so the job never scans the table it replaces. Before the first
    * CREATE an orphaned warehouse dir (left by another JVM, or by a
    * crash before the catalog commit) is cleared: the session catalog
    * cannot reach it, so it carries no state a fold could merge, and
    * left in place it would wedge saveAsTable forever.
    *
    * Reader staleness: the overwrite replaces the table's files from
    * whichever session runs the fold (a running stream's cloned
    * session, for the sinks). Another session that already resolved
    * the table keeps the old file listing, and its next read fails
    * with `FAILED_READ_FILE.FILE_NOT_EXIST` until it calls
    * `spark.catalog.refreshTable(table)`. */
  def fold(spark: SparkSession, table: String)(
      step: Option[DataFrame] => Option[DataFrame]): Unit = {
    val exists = spark.catalog.tableExists(table)
    if (!exists) graft.operators.Bucketing.dropManagedTable(spark, table)
    step(if (exists) Some(spark.table(table)) else None).foreach(
      _.localCheckpoint(true).write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(table))
  }
}
