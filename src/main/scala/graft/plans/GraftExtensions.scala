package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/** DataFrame-level API for the native as-of join operator. */
object NativeAsOf {

  /** Backward inclusive as-of join: every `left` row, joined with the
    * latest `right` values at or before its time within the same key.
    * Output: left columns ++ rightVals (null when nothing precedes).
    * Key and time columns must have identical types on both sides. */
  def asOf(left: DataFrame, leftKey: String, leftTime: String,
           right: DataFrame, rightKey: String, rightTime: String,
           rightVals: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // Self-join dedup: the analyzer re-instances ordinary Join
    // children; a hand-built node must do the same or a shared
    // subtree (e.g. two filters of one table) makes attribute ids
    // ambiguous and column pruning eats the join keys. An alias
    // projection mints fresh exprIds for the right side.
    val rPlan: LogicalPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asOf: no column '$n' on the $side side (has ${p.output.map(_.name).mkString(", ")})"))
    val lk = attr(lPlan, leftKey, "left")
    val rk = attr(rPlan, rightKey, "right")
    val lt = attr(lPlan, leftTime, "left")
    val rt = attr(rPlan, rightTime, "right")
    require(lk.dataType == rk.dataType,
      s"asOf: key types differ (${lk.dataType} vs ${rk.dataType})")
    require(lt.dataType == rt.dataType,
      s"asOf: time types differ (${lt.dataType} vs ${rt.dataType})")
    val rv = rightVals.map(attr(rPlan, _, "right"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      AsOfJoinNode(lPlan, rPlan, lk, lt, rk, rt, rv))
  }

  /** Idempotently add the planner strategy to a live session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val es = spark.experimental
    if (!es.extraStrategies.contains(AsOfJoinStrategy))
      es.extraStrategies = es.extraStrategies :+ AsOfJoinStrategy
  }
}
