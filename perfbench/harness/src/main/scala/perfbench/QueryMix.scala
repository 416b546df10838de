package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** query_mix: a fixed list of registry queries, run in a seeded order
  * each pass and materialized with the `noop` sink. Reads only; the
  * functions, operators, plans and shuffle layers do the work. */
final class QueryMix(ctx: Ctx) extends Workload {
  /** Query → family. Exact, IVF and IVF-PQ top-k sit side by side so a
    * candidate-pruning change shows against the exact path. */
  val families: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "relational",
    "q35_asof_native" -> "asof",
    "q18_dedup_minhash_lsh" -> "dedup",
    "q25_sim_bruteforce_topk" -> "similarity",
    "q43_ivf_topk_exact" -> "similarity",
    "q80_ivfpq_topk" -> "similarity",
    "q114_bpe_encode" -> "text",
    "q264_hll_distinct" -> "sketch")
  private val names = families.map(_._1)
  private val dir = ctx.args.data
  private val results = s"${ctx.args.work}/results"
  private val resultErrors = mutable.LinkedHashMap[String, String]()

  def setups: Int = 1

  private def noop(name: String): Unit =
    SparkEntry.queries(name)(ctx.spark, dir).write.format("noop").mode("overwrite").save()

  /** One untimed pass over the measured tables: compiles every query's
    * generated code and builds the shared intermediates (shingle and
    * signature tables, IVF index) the queries cache per session. */
  def setup(): Unit = names.foreach(noop)

  /** Two passes, each in its own seeded order: every run times each
    * query at least twice. */
  def cycle(rng: java.util.Random, n: Int): Seq[Op] = (1 to 2).flatMap { _ =>
    val order = mutable.ArrayBuffer.from(names)
    for (i <- order.indices.reverse) { val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
    order.toSeq.map { name =>
      Op(name, { r =>
        r.info ++= Seq("query" -> name, "family" -> families.toMap.apply(name))
        val df = ctx.span("build")(SparkEntry.queries(name)(ctx.spark, dir))
        if (ctx.tracing) ctx.span("plan")(df.queryExecution.executedPlan)
        ctx.span("exec")(df.write.format("noop").mode("overwrite").save())
        () => None
      })
    }
  }

  /** Each query's result, written once for the DuckDB oracle compare in
    * `run.py`, then one more `noop` pass, both outside set-up and loop.
    * Without that pass the loop's first pass ran 15-20% slower than its
    * second, by a different amount in each run. A query that failed above
    * fails again in the loop, where it is counted. */
  def prepare(): Unit = {
    names.foreach { name =>
      try SparkEntry.queries(name)(ctx.spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
      catch { case e: Throwable => resultErrors(name) = Errors.describe(e) }
    }
    names.filterNot(resultErrors.contains).foreach(noop)
  }

  def finish(report: mutable.Map[String, Any]): Unit = {
    report("results_dir") = results
    report("result_errors") = resultErrors
    report("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.get(n)).toMap
  }

  def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    val spans = ctx.spans.groupBy(_.op)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def spanMs(name: String): Double =
      mean(ops.flatMap(o => spans.getOrElse(o.id, Nil).filter(_.name == name)).map(_.durUs / 1000.0))
    val fams = families.map(_._2).distinct.map { f =>
      s"query.${f}_ms" -> mean(ops.filter(_.info.get("family").contains(f)).map(_.ms))
    }
    Map("query.build_ms" -> spanMs("build"), "query.plan_ms" -> spanMs("plan"),
      "query.exec_ms" -> spanMs("exec")) ++ fams
  }
}
