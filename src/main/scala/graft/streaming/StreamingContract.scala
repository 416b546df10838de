package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Expectations
import graft.operators.Expectations._

/** Streaming data-contract monitor: each micro-batch's
  * [[Expectations.state]] normalizes into ONE uniform table of
  * (rule, key, c, matched) rows, so the whole suite folds with a
  * single groupBy — RowRule counters ride reserved keys
  * (`__n__`/`__v__`), uniqueness keys carry their counts, FK keys
  * carry counts plus the matched flag (max-folds, so a later parent
  * batch rescues a standing orphan exactly as in the batch fold).
  * Counter sums DOUBLE-COUNT on replay (the CMS class, not KMV), so
  * the sink keeps an in-table ledger: sentinel rows at
  * rule = '__ledger__', one overwrite commits state + ledger
  * together (the [[StreamingSketch.processCmsBatch]] discipline).
  */
object StreamingContract {

  private val Ledger = "__ledger__"

  /** Normalize one batch's per-rule state to the uniform rows. For
    * FkRules the rules passed here must embed the BATCH's parent
    * slice. */
  private def normalized(batch: DataFrame, rules: Seq[Rule]): DataFrame = {
    val st = Expectations.state(batch, rules)
    rules.map {
      case RowRule(name, _) =>
        st(name).select(explode(array(
            struct(lit("__n__").as("key"), col("n").as("c")),
            struct(lit("__v__").as("key"), col("v").as("c"))))
            .as("__kv"))
          .select(lit(name).as("rule"), col("__kv.key").as("key"),
            col("__kv.c").as("c"), lit(true).as("matched"))
      case UniqueRule(name, _) =>
        st(name).select(lit(name).as("rule"), col("key"), col("c"),
          lit(true).as("matched"))
      case FkRule(name, _, _, _) =>
        st(name).select(lit(name).as("rule"), col("key"), col("c"),
          col("matched"))
    }.reduce(_ unionByName _)
  }

  /** One micro-batch's fold into `table` (ledger-skipped on replay). */
  def processContractBatch(batch: DataFrame, rules: Seq[Rule],
                           table: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val bs = normalized(batch, rules)
    val ledgerRow = spark.range(1).select(lit(Ledger).as("rule"),
      lit(batchId.toString).as("key"), lit(0L).as("c"),
      lit(true).as("matched"))
    StandingTable.fold(spark, table) {
      case Some(prior) if !prior.filter(col("rule") === Ledger &&
          col("key") === batchId.toString).isEmpty =>
        None // replay: already folded
      case Some(prior) => Some(prior.filter(col("rule") =!= Ledger)
        .unionByName(bs)
        .groupBy(col("rule"), col("key"))
        .agg(sum(col("c")).as("c"), max(col("matched")).as("matched"))
        .unionByName(prior.filter(col("rule") === Ledger))
        .unionByName(ledgerRow))
      case None => Some(bs.unionByName(ledgerRow))
    }
  }

  /** Rehydrate the per-rule state map from the uniform table and
    * render the [[Expectations.report]]. */
  def report(spark: org.apache.spark.sql.SparkSession, table: String,
             rules: Seq[Rule]): DataFrame = {
    val tbl = spark.table(table).filter(col("rule") =!= Ledger)
    val st: Map[String, DataFrame] = rules.map {
      case RowRule(name, _) => name -> tbl.filter(col("rule") === name)
        .agg(sum(when(col("key") === "__n__", col("c"))).as("n"),
          sum(when(col("key") === "__v__", col("c"))).as("v"))
      case UniqueRule(name, _) => name -> tbl
        .filter(col("rule") === name).select(col("key"), col("c"))
      case FkRule(name, _, _, _) => name -> tbl
        .filter(col("rule") === name)
        .select(col("key"), col("c"), col("matched"))
    }.toMap
    Expectations.report(st, rules)
  }
}
