package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnnQueries, BpeQueries, CurationQueries, LakehouseQueries, RelationalQueries, SftQueries, SketchQueries, TemporalQueries, TextPipelineQueries}
import graft.multimodal.MultimodalQueries

/** One registry entry: the query's name, the function that builds it,
  * a DuckDB-equivalent SQL over the same parquet tables (same output
  * column names — the driver's compare sorts columns by name), and
  * whether running it writes files or tables (Bench measures those in
  * a second phase, after every compute query).
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    writes: Boolean = false)

/** Driver contract — see SURVEY.md §7. Each implemented operator from
  * SURVEY.md §2 appears once in the registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** Concatenates the families' specs; a name registered twice throws. */
  def registryOf(families: Seq[Seq[QuerySpec]]): Seq[QuerySpec] = {
    val specs = families.flatten
    val dups = specs.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  lazy val registry: Seq[QuerySpec] = registryOf(Seq(
    RelationalQueries.specs, TextPipelineQueries.specs,
    TemporalQueries.specs, MultimodalQueries.specs,
    CurationQueries.specs, BpeQueries.specs,
    SketchQueries.specs, AnnQueries.specs,
    SftQueries.specs, LakehouseQueries.specs))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(s => s.name -> s.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(s => s.name -> s.oracle).toMap

  /** Drops every cached shared intermediate the families hold. */
  def clearCaches(spark: SparkSession): Unit = {
    TextPipelineQueries.clearCache(spark)
    MultimodalQueries.clearCache(spark)
    BpeQueries.clearCache()
  }

  /** `SPARK_GRAFT_ONLY`: comma-separated exact query names that the
    * mains run; unset means every query. */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  def selected(name: String): Boolean = only.forall(_.contains(name))
}
