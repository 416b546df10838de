package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** Materialized-rollup rewrite — the aggregate-navigation feature of
  * a warehouse engine, expressed as a Catalyst optimizer rule: an
  * `Aggregate` over the raw fact scan is answered from a tiny
  * pre-aggregated rollup table instead, when (and only when) the
  * requested aggregate is DERIVABLE from the rollup's grain —
  * `count(1)` folds to `sum(n_docs)`, `sum(n_chars)` to
  * `sum(sum_chars)`, and grouping by a subset of the rollup's keys
  * re-aggregates the finer-grain rows. At 100 TB this turns a
  * full-corpus scan into a |sources|·|langs|-row read; the rewrite is
  * exact because the rollup holds complete additive partials, not
  * samples.
  *
  * Scope control: the rule only fires on scans the caller explicitly
  * tagged with the reader option `graft.rollupRewrite=true` — on a
  * shared session (the Verify registry runs hundreds of queries
  * through one SparkSession) an untagged `documents` scan must never
  * be served from somebody else's materialization. Output attribute
  * ids are restored with a projection over the rewritten aggregate,
  * so parent operators resolve unchanged.
  *
  * Registered per-session through
  * `spark.experimental.extraOptimizations` (the [[NativeAsOf]]
  * self-registration idiom), deduplicated by class.
  */
class RollupRewrite(rollup: LogicalPlan) extends Rule[LogicalPlan] {

  private def rollupAttr(n: String): Option[Attribute] =
    rollup.output.find(_.name == n)

  /** The fact-table measure each rollup column pre-aggregates, per
    * aggregate class. A rollup that doesn't carry a column simply
    * fails the `rollupAttr` lookup and the query keeps its fact scan
    * — so the min/max-less q272/q279 materializations still serve
    * count/sum but bounce a min() query to the fact table. */
  private val sumOf = Map("n_chars" -> "sum_chars")
  private val minOf = Map("n_chars" -> "min_chars")
  private val maxOf = Map("n_chars" -> "max_chars")

  private def tagged(p: LogicalPlan): Boolean = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.options.get("graft.rollupRewrite").contains("true")
      case _ => false
    }
    case Project(_, c) => tagged(c)
    case _ => false
  }

  /** Walk down to a tagged scan through pruning Projects (attribute-
    * only — an aliasing Project could rename columns out from under
    * the by-name remap) and Filters, collecting every predicate on
    * the way. None when the subtree isn't a tagged scan chain. */
  private def peel(p: LogicalPlan): Option[Seq[Expression]] = p match {
    case lr: LogicalRelation if tagged(lr) => Some(Nil)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      peel(c)
    case Filter(cond, c) => peel(c).map(cond +: _)
    case _ => None
  }

  /** Map one output expression of the original aggregate onto the
    * rollup, or None when it is not derivable. */
  private def derive(e: NamedExpression,
                     groupNames: Set[String]): Option[NamedExpression] =
    e match {
      case a: AttributeReference if groupNames.contains(a.name) =>
        rollupAttr(a.name)
      case al @ Alias(AggregateExpression(Count(Seq(Literal(_, _))), _,
          false, None, _), name) =>
        rollupAttr("n_docs").map(nd =>
          Alias(Sum(nd).toAggregateExpression(), name)())
      case al @ Alias(AggregateExpression(Sum(a: AttributeReference, _), _,
          false, None, _), name) =>
        sumOf.get(a.name).flatMap(rollupAttr).map(m =>
          Alias(Sum(m).toAggregateExpression(), name)())
      // avg navigates as sum(sum)/sum(count) — EXACT here (not an
      // approximation) because both sums are integer-valued and well
      // inside 2^53, so the one double division at the end sees the
      // same two operands the fact-side Average's double accumulation
      // arrives at
      case al @ Alias(AggregateExpression(Average(a: AttributeReference, _),
          _, false, None, _), name) =>
        for (m <- sumOf.get(a.name).flatMap(rollupAttr);
             nd <- rollupAttr("n_docs"))
          yield Alias(Divide(
            Cast(Sum(m).toAggregateExpression(), DoubleType),
            Cast(Sum(nd).toAggregateExpression(), DoubleType)), name)()
      // count(DISTINCT dim): the cell grid holds every observed
      // (dims…) combination, so a distinct-count of a DIMENSION
      // re-derives from the cells; a distinct measure is row-grain
      // and stays non-derivable
      case al @ Alias(AggregateExpression(Count(Seq(a: AttributeReference)),
          _, true, None, _), name) if !measureNames.contains(a.name) =>
        rollupAttr(a.name).map(d =>
          Alias(Count(Seq(d)).toAggregateExpression(isDistinct = true),
            name)())
      // min/max re-aggregate their own partials (idempotent folds)
      case al @ Alias(AggregateExpression(Min(a: AttributeReference), _,
          false, None, _), name) =>
        minOf.get(a.name).flatMap(rollupAttr).map(m =>
          Alias(Min(m).toAggregateExpression(), name)())
      case al @ Alias(AggregateExpression(Max(a: AttributeReference), _,
          false, None, _), name) =>
        maxOf.get(a.name).flatMap(rollupAttr).map(m =>
          Alias(Max(m).toAggregateExpression(), name)())
      case _ => None
    }

  /** Dimension columns of the rollup: its output minus every
    * pre-aggregated measure. A slice predicate may reference ONLY
    * these — a filter on a fact MEASURE (e.g. `n_chars < 100`) is
    * row-grain and cannot be answered from aggregated cells. */
  private val measureNames: Set[String] =
    (sumOf.values ++ minOf.values ++ maxOf.values).toSet + "n_docs"

  /** Remap a fact-side predicate onto the rollup's attributes when
    * every referenced column is a rollup dimension. */
  private def remapCond(cond: Expression): Option[Expression] = {
    val ok = cond.references.forall(a =>
      !measureNames.contains(a.name) &&
        rollupAttr(a.name).exists(_.dataType == a.dataType))
    if (!ok) None
    else Some(cond.transform {
      case a: AttributeReference => rollupAttr(a.name).get
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // peel optional dimension-only slice predicates: the rollup holds
    // complete partials PER CELL, so filtering cells on dimension
    // values commutes with the re-aggregation
    case agg @ Aggregate(groupings, aggExprs, aggChild, _)
        if peel(aggChild).isDefined =>
      val conds = peel(aggChild).get
      val groupAttrs = groupings.collect { case a: AttributeReference => a }
      val groupNames = groupAttrs.map(_.name).toSet
      val newGroup = groupAttrs.map(a => rollupAttr(a.name))
      val newAggs = aggExprs.map(derive(_, groupNames))
      val newConds = conds.map(remapCond)
      val derivable = groupAttrs.length == groupings.length &&
        newGroup.forall(_.isDefined) &&
        groupNames.forall(n => rollupAttr(n).isDefined) &&
        newAggs.forall(_.isDefined) &&
        newConds.forall(_.isDefined)
      if (!derivable) agg
      else {
        val source = newConds.flatten
          .foldLeft(rollup)((p, c) => Filter(c, p))
        val rewritten = Aggregate(newGroup.map(_.get),
          newAggs.map(_.get), source)
        // restore the original output attribute ids so parents resolve
        Project(agg.output.zip(rewritten.output).map { case (o, n) =>
          Alias(n, o.name)(exprId = o.exprId)
        }, rewritten)
      }
  }
}

object RollupRewrite {

  /** Install (or replace) the rewrite on an existing session, backed
    * by `rollup`'s analyzed plan. Idempotent by rule class. */
  def install(spark: SparkSession, rollup: DataFrame): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[RollupRewrite]) :+
        new RollupRewrite(rollup.queryExecution.analyzed)
}
