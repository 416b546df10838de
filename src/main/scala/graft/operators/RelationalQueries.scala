package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Core relational operator surface (SURVEY.md §2.2–§2.8), expressed
  * Spark-first over the synthetic testdata tables, each with a DuckDB
  * oracle (`oracle`) the driver hash-compares at sf0.01.
  *
  * Parity conventions (see SURVEY.md §7.4 risk 5):
  *  - integer outputs are BIGINT on both sides (DuckDB sum(int) is
  *    HUGEINT, year() is BIGINT → explicit casts in the SQL; Spark
  *    int-typed exprs are cast to long);
  *  - doubles are `round(x, n)` in BOTH engines — rounding to the same
  *    decimal yields bit-identical doubles, removing summation-order
  *    noise;
  *  - `events.ts` is INT64 nanoseconds on both sides (Spark via
  *    spark.sql.legacy.parquet.nanosAsLong, DuckDB via epoch_ns).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q01: full-scan grouped aggregation (TPC-H Q1 shape): map-side
    * partial agg + single shuffle on the (low-cardinality) group keys.
    * At 100 TB this is the canonical partial/final hash-agg pattern —
    * no repartition needed, AQE coalesces the tiny post-shuffle stage.
    */
  val q01PricingSummary: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
        round(avg($"l_quantity"), 6).as("avg_qty"),
        round(avg($"l_extendedprice"), 6).as("avg_price"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** q02: selective filter + narrow projection (TPC-H Q6 shape).
    * Predicates and the 3-column read schema push into the parquet
    * scan (PushedFilters / ReadSchema) — at 100 TB the scan reads a
    * fraction of the bytes. */
  val q02FilterPushdown: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem")
      .filter($"l_shipdate" >= lit("1995-01-01") && $"l_shipdate" < lit("1996-01-01") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(
        round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** q03: multiway join (TPC-H Q5 shape). Dims (region/nation/
    * supplier/customer) are broadcast — no shuffle of the fact side
    * for those edges; the only big shuffle is lineitem⋈orders on
    * orderkey, which AQE sizes. */
  val q03JoinMultiway: Q = (s, d) => {
    import s.implicits._
    val li = t(s, d, "lineitem")
    val o = t(s, d, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1998-01-01"))
    val c = t(s, d, "customer")
    val su = t(s, d, "supplier")
    val n = t(s, d, "nation")
    val r = t(s, d, "region").filter($"r_name" === "ASIA")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(su), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** q04: global top-k — Catalyst plans TakeOrderedAndProject
    * (per-partition heap + driver merge of k rows), never a full sort
    * of 100 TB. */
  val q04TopK: Q = (s, d) => {
    import s.implicits._
    t(s, d, "orders")
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 2).as("price"))
      .orderBy($"price".desc, $"o_orderkey".asc)
      .limit(10)
  }

  /** q05: set operations — INTERSECT/EXCEPT/UNION (distinct
    * semantics), each a hash-partitioned distinct under the hood. */
  val q05SetOps: Q = (s, d) => {
    import s.implicits._
    val o = t(s, d, "orders")
    val open = o.filter($"o_orderstatus" === "O").select($"o_custkey")
    val fin = o.filter($"o_orderstatus" === "F").select($"o_custkey")
    val big = o.filter($"o_totalprice" > 400000.0).select($"o_custkey")
    val extra = s.range(1).select(lit(-1L).as("o_custkey"))
    open.intersect(fin).except(big).union(extra).distinct()
  }

  /** q06: exact distinct aggregation (expand + two-phase agg). */
  val q06DistinctAgg: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  /** q07: window functions — ranking, lag, running sum in one pass
    * over a single hash-partition-by-customer sort. */
  val q07Window: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    t(s, d, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prev_price", lag(round($"o_totalprice", 2), 1).over(w))
      .withColumn("running", round(sum($"o_totalprice").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"rn", $"prev_price", $"running")
  }

  /** q08: scalar string functions incl. the reference's value+unit
    * extraction (SURVEY F1, fox_hfm_parser.py:29-33) and parenthesized
    * qualifier stripping (F12, netzsch_sta_parser.py:352-355). */
  val q08StringFuncs: Q = (s, d) => {
    import s.implicits._
    t(s, d, "part")
      .withColumn("dim", concat($"p_size".cast("string"), lit("mm")))
      .select(
        $"p_partkey",
        lower($"p_name").as("name_lc"),
        upper($"p_brand").as("brand_uc"),
        substring($"p_type", 1, 5).as("type5"),
        element_at(split($"p_type", " "), 1).as("type_head"),
        length($"p_name").cast("long").as("name_len"),
        concat_ws("-", $"p_brand", $"p_size".cast("string")).as("tag"),
        regexp_extract($"dim", "([0-9]+)", 1).cast("long").as("dim_value"),
        regexp_extract($"dim", "([a-z]+)$", 1).as("dim_unit"),
        regexp_replace($"p_name", "\\([^)]*\\)", "").as("name_noparen"))
  }

  /** q09: typed coercion chain (SURVEY F2: try int → fall back),
    * exercising try_cast/coalesce over heterogeneous strings. */
  val q09Coercion: Q = (s, d) => {
    import s.implicits._
    t(s, d, "events")
      .withColumn("s",
        when($"event_id" % 3 === 0, ($"event_id" % 1000).cast("string"))
          .when($"event_id" % 3 === 1, concat(lit("x"), $"event_id".cast("string")))
          .otherwise($"event_type"))
      .selectExpr(
        "event_id",
        "coalesce(try_cast(s AS bigint), CAST(-1 AS bigint)) AS coerced_int",
        "coalesce(try_cast(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS bigint), CAST(-1 AS bigint)) AS k_val")
  }

  /** q10: date/time functions over INT64-nanosecond event timestamps
    * (UTC calendar fields from epoch seconds). */
  val q10DateFuncs: Q = (s, d) => {
    import s.implicits._
    t(s, d, "events")
      .withColumn("ts_s", expr("ts div 1000000000"))
      .withColumn("t", timestamp_seconds($"ts_s"))
      .groupBy(
        $"event_type",
        year($"t").cast("long").as("yr"),
        month($"t").cast("long").as("mo"),
        dayofmonth($"t").cast("long").as("dy"))
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
  }

  /** q11: CASE-based key mapping (SURVEY F7/F11 dict-lookup rename
    * generalized to a categorical recode + aggregate). */
  val q11CaseMap: Q = (s, d) => {
    import s.implicits._
    t(s, d, "events")
      .withColumn("category",
        when($"event_type".isin("click", "view"), "engagement")
          .when($"event_type" === "purchase", "revenue")
          .otherwise("ops"))
      .groupBy($"category")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
  }

  /** q12: pivot (SURVEY R1 transpose generalized): groupBy(user)
    * pivot(event_type) — fixed pivot values so no extra distinct
    * pass; single shuffle on user_id. */
  val q12Pivot: Q = (s, d) => {
    import s.implicits._
    t(s, d, "events")
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum($"value"), 2))
  }

  /** q13: rollup (hierarchical grouping sets). */
  val q13Rollup: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("rf"),
        coalesce($"l_linestatus", lit("ALL")).as("ls"),
        $"n", $"sum_qty")
  }

  /** q14: anti join (NOT EXISTS) — broadcast/shuffled-hash anti:
    * customers who never placed a large order. */
  val q14AntiJoin: Q = (s, d) => {
    import s.implicits._
    t(s, d, "customer")
      .join(t(s, d, "orders").filter($"o_totalprice" > 300000.0),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  /** q15: semi join (EXISTS) with a pushed filter on the probe side. */
  val q15SemiJoin: Q = (s, d) => {
    import s.implicits._
    t(s, d, "supplier")
      .join(
        t(s, d, "lineitem").filter($"l_shipdate" > lit("1998-01-01")),
        $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
  }

  /** q30: outer join with null-side aggregation — orders with no
    * high-quantity items keep a 0 count / null sum. */
  val q30OuterJoin: Q = (s, d) => {
    import s.implicits._
    val big = t(s, d, "lineitem").filter($"l_quantity" > 49)
    t(s, d, "orders")
      .join(big, $"o_orderkey" === $"l_orderkey", "left")
      .groupBy($"o_orderkey")
      .agg(count($"l_orderkey").as("n_big_items"),
        round(sum($"l_extendedprice"), 2).as("total"))
  }

  /** q31: cube — all grouping-set combinations in one pass. */
  val q31Cube: Q = (s, d) => {
    import s.implicits._
    t(s, d, "events")
      .withColumn("ub", ($"user_id" % 10).cast("string"))
      .cube($"event_type", $"ub")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .select(coalesce($"event_type", lit("ALL")).as("et"),
        coalesce($"ub", lit("ALL")).as("ub"), $"n", $"total")
  }

  /** q32: statistical aggregates (two-pass-free stddev/corr/covar). */
  val q32StatsAgg: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
        round(var_samp($"l_quantity"), 4).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("covar_qty_price"))
  }

  /** q33: exact interpolated percentiles (Spark `percentile` ==
    * DuckDB `quantile_cont` semantics). */
  val q33Percentiles: Q = (s, d) => {
    import s.implicits._
    t(s, d, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_quantity, 0.25)"), 4).as("q1_qty"))
  }

  /** q34: sketch aggregation — HyperLogLog++ approximate distinct.
    * Raw sketch estimates differ across engines by design, so the
    * oracle-checked output carries the EXACT distinct (verified
    * value-for-value) plus `approx_ok`, the in-engine assertion that
    * the sketch landed within 5% of exact (2% configured error) —
    * DuckDB's side is the constant `true`, so a drifting sketch
    * breaks the hash compare. */
  val q34ApproxDistinct: Q = (s, d) => {
    import s.implicits._
    // Two-phase: dedup (flag, partkey) first, then plain counts.
    // countDistinct in one pass would plan an Expand (row duplication
    // per distinct spec — a multiplier on the 100 TB scan); the HLL
    // sketch is duplicate-invariant, so running it over the dedupped
    // rows yields the identical estimate with map-side-combined
    // shuffles only.
    t(s, d, "lineitem")
      .groupBy($"l_returnflag", $"l_partkey").agg(count(lit(1)).as("__n"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("exact_parts"),
        (abs(approx_count_distinct($"l_partkey", 0.02) - count(lit(1)))
          <= count(lit(1)) * 0.05).as("approx_ok"))
  }

  /** Bloom-pruned selective join through the correctness gate: the
    * prune admits false POSITIVES only (they die in the join), never
    * false negatives — so the pruned join is value-identical to the
    * plain join and a plain-SQL oracle applies verbatim. The fact
    * side is filtered by the native `might_contain` expression before
    * its shuffle (see [[BloomPrune]]). */
  def q44BloomJoin(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val dim = t(s, d, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_totalprice"))
    BloomPrune.prunedJoin(li, "l_orderkey", dim, "o_orderkey",
        expectedDimKeys = 100000)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
  }

  /** Token-blocked fuzzy join (record linkage): the part catalog's
    * distinct names vs a deterministically "dirtied" copy (first
    * character dropped), each dirty name linked back to its closest
    * clean name by edit distance. Candidates come from the shared-
    * token inverted index with a df-32 stop-token cap — never
    * all-pairs; the oracle mirrors blocking, cap, scoring, and the
    * (dist, id) argmin exactly. */
  private def q234FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d, "part").groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("nid"))
    val clean = names.select(col("nid"), col("p_name"))
    val dirty = names.select(col("nid").as("d_id"),
      substring(col("p_name"), 2, Int.MaxValue).as("d_name"))
    FuzzyJoin.tokenBlockedBestMatch(dirty, "d_id", "d_name",
        clean, "nid", "p_name", maxTokenDf = 32L)
      .select(col("d_id"), col("d_name"), col("nid").as("match_id"),
        col("p_name").as("match_name"), col("dist"))
  }

  /** PageRank over the customer–supplier trade graph (undirected
    * bipartite: an edge per distinct (customer, supplier) trading
    * pair via orders⋈lineitem; supplier ids offset into a disjoint
    * node range). 10 fixed-point power iterations in integer
    * micro-units, so every rank hash-matches the oracle's unrolled
    * 10-CTE chain exactly — see [[Graph.pageRankFixed]]. */
  private def q235PageRank(s: SparkSession, d: String): DataFrame = {
    val ed = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"),
        (col("l_suppkey") + lit(10000000L)).as("b"))
      .distinct()
    val sym = ed.unionByName(ed.select(col("b").as("a"), col("a").as("b")))
    Graph.pageRankFixed(sym, "a", "b", iters = 10)
  }

  /** lineitem projected to the z-order demo grain: a unique row key
    * plus the two layout dimensions. */
  private def liKeys(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      (col("l_orderkey") * 16 + col("l_linenumber")).as("k"),
      col("l_partkey").as("pk"), col("l_suppkey").as("sk"))

  private def liMaxes(li: DataFrame): DataFrame =
    li.agg((max(col("pk")) + 1).as("mx"), (max(col("sk")) + 1).as("my"))

  /** The 2-D box both z-order queries prune against: the
    * [1/16, 3/16) slice of each dimension's range — data-derived so
    * the same query is meaningful at every sf. */
  private val boxNeeded: Column = ZOrder.scanNeeded(
    expr("mx div 16"), expr("3 * mx div 16"),
    expr("my div 16"), expr("3 * my div 16"))

  /** Z-order layout manifest over lineitem (l_partkey × l_suppkey):
    * per-file min/max stats plus whether the file survives pruning
    * for the box query — the planner-facing artifact of
    * [[ZOrder.assignFiles]]. */
  private def q236ZOrderLayout(s: SparkSession, d: String): DataFrame = {
    val li = liKeys(s, d)
    val man = ZOrder.manifest(ZOrder.assignFiles(li, "pk", "sk", "k"),
      "pk", "sk")
    man.crossJoin(broadcast(liMaxes(li)))
      .withColumn("scan_needed", boxNeeded)
      .select(col("file_id"), col("cnt"),
        col("min_x").as("min_pk"), col("max_x").as("max_pk"),
        col("min_y").as("min_sk"), col("max_y").as("max_sk"),
        col("scan_needed"))
  }

  /** The z-order payoff, measured: the SAME box query pruned against
    * the z-order manifest vs a manifest for files laid out by
    * l_partkey alone. Single-column sort prunes one dimension and
    * nothing else; the Morton interleave prunes both (4 vs 10 of 64
    * files at sf0.01). */
  private def q237ZOrderVsLinear(s: SparkSession, d: String): DataFrame = {
    val li = liKeys(s, d)
    val m = liMaxes(li)
    def scanned(man: DataFrame, as: String) =
      man.crossJoin(broadcast(m))
        .agg(sum(when(boxNeeded, 1L).otherwise(0L)).as(as),
          count(lit(1)).as(s"${as}_nf"))
    val z = scanned(ZOrder.manifest(
      ZOrder.assignFiles(li, "pk", "sk", "k"), "pk", "sk"), "z_scanned")
    val lin = scanned(ZOrder.manifest(
      ZOrder.assignFilesByRank(li, shiftleft(col("pk"), 32) + col("k"), 64),
      "pk", "sk"), "linear_scanned")
    z.crossJoin(lin)
      .select(col("z_scanned_nf").as("n_files"), col("z_scanned"),
        col("linear_scanned"),
        (col("z_scanned") < col("linear_scanned")).as("z_better"))
  }

  /** Append-then-reoptimize over the z-order layout — the lakehouse
    * ingest cycle: a batch lands as its OWN z-run of new files on the
    * standing grid (quantStats shared, or z-values wouldn't be
    * comparable), pruning degrades but stays LOSSLESS (covered ==
    * total box rows, the manifest-bound guarantee), and a re-optimize
    * at equal file count restores it. One row of evidence. */
  private def q244ZOrderAppend(s: SparkSession, d: String): DataFrame = {
    val li = liKeys(s, d)
    val stats = ZOrder.quantStats(li, "pk", "sk")
    val old = li.filter(col("k") % 5 =!= 0)
    val batch = li.filter(col("k") % 5 === 0)
    val appended = ZOrder.assignFilesWith(old, stats, "pk", "sk", "k",
        targetFiles = 64)
      .unionByName(ZOrder.assignFilesWith(batch, stats, "pk", "sk", "k",
          targetFiles = 16)
        .withColumn("file_id", col("file_id") + 64))
    val reopt = ZOrder.assignFilesWith(li, stats, "pk", "sk", "k",
      targetFiles = 80)
    val m = liMaxes(li)
    def needed(man: DataFrame) = man.crossJoin(broadcast(m))
      .filter(boxNeeded).select(col("file_id"))
    val manA = ZOrder.manifest(appended, "pk", "sk")
    val boxRow = col("pk") >= expr("mx div 16") &&
      col("pk") <= expr("3 * mx div 16") &&
      col("sk") >= expr("my div 16") && col("sk") <= expr("3 * my div 16")
    val scannedA = needed(manA).agg(count(lit(1)).as("scanned_appended"))
    val scannedR = needed(ZOrder.manifest(reopt, "pk", "sk"))
      .agg(count(lit(1)).as("scanned_reopt"))
    val boxTotal = li.crossJoin(broadcast(m)).filter(boxRow)
      .agg(count(lit(1)).as("box_rows"))
    val covered = appended.join(needed(manA), Seq("file_id"))
      .crossJoin(broadcast(m)).filter(boxRow)
      .agg(count(lit(1)).as("covered_rows"))
    manA.agg(count(lit(1)).as("n_files"))
      .crossJoin(scannedA).crossJoin(scannedR)
      .crossJoin(boxTotal).crossJoin(covered)
      .select(col("n_files"), col("scanned_appended"), col("scanned_reopt"),
        col("box_rows"), col("covered_rows"),
        (col("covered_rows") === col("box_rows")).as("covered_ok"),
        (col("scanned_reopt") <= col("scanned_appended")).as("reopt_no_worse"))
  }

  /** Referential-integrity audit across the whole star schema: for
    * every foreign-key edge, the child row count and the orphan count
    * (children whose key matches no parent). One left-anti pass per
    * edge — AQE broadcasts the small parents; at scale the parent key
    * set is Bloom-prunable exactly like q231's reference side. The
    * data-quality sweep an ingest pipeline runs before publishing. */
  private def q248FkAudit(s: SparkSession, d: String): DataFrame = {
    def edge(fk: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(ck))
        .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child")).crossJoin(orphans)
        .select(lit(fk).as("fk"), col("n_child"), col("n_orphans"),
          (col("n_orphans") === 0L).as("ok"))
    }
    val li = t(s, d, "lineitem"); val or = t(s, d, "orders")
    val cu = t(s, d, "customer"); val su = t(s, d, "supplier")
    val pa = t(s, d, "part"); val na = t(s, d, "nation")
    val re = t(s, d, "region")
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", or, "o_orderkey"),
      edge("lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
      edge("orders.o_custkey->customer", or, "o_custkey", cu, "c_custkey"),
      edge("customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey"),
      edge("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey"),
      edge("nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey"))
      .reduce(_ unionByName _)
  }

  /** q272: aggregate-navigation through the [[graft.plans.RollupRewrite]]
    * Catalyst rule. The query code below is the USER'S original
    * full-scan aggregation — it never mentions the rollup; the
    * optimizer rule (installed on the session, scoped to the tagged
    * scan) decides to serve it from the |sources|·|langs|-row
    * materialization, folding count(1) → sum(n_docs) and
    * sum(n_chars) → sum(sum_chars) with a coarser grouping. PlanSpec
    * pins that the optimized plan reads the rollup parquet and not
    * the fact table; the oracle aggregates the fact table directly,
    * so the gate proves the rewrite is exact. */
  private def q272RollupRewrite(s: SparkSession, d: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_" +
      math.abs(d.hashCode.toLong)
    t(s, d, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.plans.RollupRewrite.install(s, s.read.parquet(path))
    s.read.option("graft.rollupRewrite", "true")
      .parquet(s"$d/documents.parquet")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** q273: INCREMENTAL maintenance of the q272 materialization — the
    * rollup's cells are complete additive partials, so a batch folds
    * in by cell-wise sum of the standing rollup with the batch's own
    * partial (work ∝ batch + |rollup| rows; history never rescanned).
    * The rewritten full-corpus aggregate over the FOLDED rollup must
    * equal the direct fact-table aggregate — q272's oracle verbatim,
    * which is exactly the staleness proof a view-maintenance pipeline
    * needs. */
  private def q273RollupIncremental(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_incr_" +
      math.abs(d.hashCode.toLong)
    val doc = t(s, d, "documents")
    def part(df: DataFrame) = df.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    part(doc.filter(col("doc_id") % 5 =!= 0)).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/v1")
    s.read.parquet(s"$base/v1")
      .unionByName(part(doc.filter(col("doc_id") % 5 === 0)))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/v2")
    graft.plans.RollupRewrite.install(s, s.read.parquet(s"$base/v2"))
    s.read.option("graft.rollupRewrite", "true")
      .parquet(s"$d/documents.parquet")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** q279: DELETE-fold of the q272 materialization — rollup cells
    * are additive partials, so erasing a slice subtracts its partial
    * cell-wise (work ∝ deleted slice + |rollup| rows; the retained
    * corpus is never rescanned) and cells whose count reaches zero
    * are dropped. The rewrite-served aggregate over the folded rollup
    * must equal a from-scratch aggregate over the SURVIVING fact rows
    * — the view-maintenance erasure proof; the oracle computes the
    * survivors directly, so a rewrite that fails to fire (serving the
    * unfiltered scan) FAILS the gate, making the rule load-bearing. */
  private def q279RollupDelete(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_del_" +
      math.abs(d.hashCode.toLong)
    val doc = t(s, d, "documents")
    def part(df: DataFrame) = df.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    part(doc).coalesce(1).write.mode("overwrite").parquet(s"$base/v1")
    s.read.parquet(s"$base/v1")
      .unionByName(part(doc.filter(col("doc_id") % 7 === 3))
        .select(col("source"), col("lang"), (-col("n_docs")).as("n_docs"),
          (-col("sum_chars")).as("sum_chars")))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"))
      .filter(col("n_docs") > 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/v2")
    graft.plans.RollupRewrite.install(s, s.read.parquet(s"$base/v2"))
    s.read.option("graft.rollupRewrite", "true")
      .parquet(s"$d/documents.parquet")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** q291: declarative data-contract suite over lineitem — four
    * per-row rules folded into ONE aggregate scan, a key-uniqueness
    * shuffle, and a broadcastable FK anti-join (see [[Expectations]]
    * for the pass-count guarantees). The report is the gate artifact
    * a pipeline blocks a publish on. */
  private def q291Expectations(s: SparkSession, d: String): DataFrame =
    Expectations.evaluate(t(s, d, "lineitem"),
      contractRules(t(s, d, "orders")))

  /** The q291/q292 shared rule suite (parent df injected so the
    * incremental form can hand each batch its own parent slice). */
  private[operators] def contractRules(parent: DataFrame): Seq[Expectations.Rule] = {
    import Expectations._
    Seq(
      RowRule("quantity_range",
        col("l_quantity") < 1 || col("l_quantity") > 50),
      RowRule("discount_range",
        col("l_discount") < 0 || col("l_discount") > 0.1),
      RowRule("returnflag_accepted",
        !col("l_returnflag").isin("A", "N", "R")),
      RowRule("ship_not_null", col("l_shipdate").isNull),
      UniqueRule("pk_unique", Seq("l_orderkey", "l_linenumber")),
      FkRule("orderkey_fk", Seq("l_orderkey"), parent, Seq("o_orderkey")))
  }

  /** q292: INCREMENTAL data contract — the q291 report maintained as
    * foldable state (additive row counters, per-key count table for
    * uniqueness, orphan/parent key table for the FK). Children and
    * parents batch by DIFFERENT keys on purpose: old children whose
    * order arrives only in the batch sit in standing state as real
    * orphans until the batch's parent keys RESCUE them (the
    * retroactive repair an additive counter cannot express —
    * ExpectationsSpec pins it on crafted data). == q291, its oracle
    * verbatim. */
  private def q292ExpectationsIncremental(s: SparkSession,
                                          d: String): DataFrame = {
    import Expectations._
    val li = t(s, d, "lineitem")
    val ord = t(s, d, "orders")
    val childNew = (col("l_orderkey") + col("l_linenumber")) % 5 === 0
    val parentNew = col("o_orderkey") % 5 === 0
    val oldSt = state(li.filter(!childNew),
      contractRules(ord.filter(!parentNew)))
    val batchSt = state(li.filter(childNew),
      contractRules(ord.filter(parentNew)))
    val all = contractRules(ord)
    report(foldStates(oldSt, batchSt, all), all)
  }

  /** q296: AGGREGATE NAVIGATION beyond additive folds — the user
    * query asks count, avg, min, max over the fact table; the
    * RollupRewrite rule serves count from sum(n_docs), avg from
    * sum(sum_chars)/sum(n_docs) (exact — integer-valued sums, one
    * final double division), and min/max from their own idempotent
    * partials, all from a richer v3 materialization carrying
    * min_chars/max_chars. The oracle aggregates the fact table
    * directly, so the gate proves every navigated form. A rollup
    * WITHOUT the min/max columns (q272's) keeps bouncing such
    * queries to the fact scan — the rule derives only what the
    * materialization actually holds. */
  private def q296RollupAvg(s: SparkSession, d: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_v3_" +
      math.abs(d.hashCode.toLong)
    t(s, d, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.plans.RollupRewrite.install(s, s.read.parquet(path))
    s.read.option("graft.rollupRewrite", "true")
      .parquet(s"$d/documents.parquet")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), avg(col("n_chars")).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  /** q298: DYNAMIC PARTITION PRUNING end-to-end — facts land
    * partitioned by event_type (the layout decision), and a join
    * against a filtered broadcast dim prunes the fact scan to the
    * surviving partitions AT RUNTIME via the reused broadcast
    * (PlanSpec pins the `dynamicpruning` subquery in the scan's
    * PartitionFilters). At 100 TB this is the difference between
    * scanning two partitions and scanning them all; the oracle
    * computes the same join statically. */
  private def q298Dpp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ev_part_" +
      math.abs(d.hashCode.toLong)
    t(s, d, "events").write.mode("overwrite")
      .partitionBy("event_type").parquet(path)
    // the dim must be a RELATION with a surviving LIKELY-SELECTIVE
    // Filter: a local Seq constant-folds to a pre-filtered
    // LocalRelation before the PartitionPruning batch (no Filter, no
    // DPP), and a bare boolean attribute fails isLikelySelective —
    // the equality comparison below is what the rule recognizes
    Seq(("click", "kept"), ("view", "kept"), ("purchase", "dropped"),
      ("signup", "dropped"), ("error", "dropped"))
      .toDF("event_type", "status")
      .write.mode("overwrite").parquet(s"$path.dim")
    s.read.parquet(path)
      .join(broadcast(s.read.parquet(s"$path.dim")
        .filter(col("status") === "kept")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** q299: the STREAMED contract monitor over 5 child/parent batch
    * slices plus a replayed slice — counter sums double-count on
    * replay (the CMS class), so the in-table ledger must skip the
    * redelivery; the FK matched flag max-folds, so parents arriving
    * in later batches rescue earlier orphans. Final report ==
    * one-shot q291, its oracle verbatim. */
  private def q299ContractStream(s: SparkSession, d: String): DataFrame = {
    val table = "graft_contract_stream_" + math.abs(d.hashCode.toLong)
    s.sql(s"DROP TABLE IF EXISTS $table")
    val li = t(s, d, "lineitem")
    val ord = t(s, d, "orders")
    def slice(b: Int) = (
      li.filter((col("l_orderkey") + col("l_linenumber")) % 5 === b),
      ord.filter(col("o_orderkey") % 5 === b))
    (0 until 5).foreach { b =>
      val (c, p) = slice(b)
      graft.streaming.StreamingContract.processContractBatch(
        c, contractRules(p), table, b.toLong)
    }
    // at-least-once: batch 2 redelivered — the ledger must skip it
    val (c2, p2) = slice(2)
    graft.streaming.StreamingContract.processContractBatch(
      c2, contractRules(p2), table, 2L)
    graft.streaming.StreamingContract.report(s, table,
      contractRules(ord))
  }

  /** q309: the ranking-window surface q07 leaves out — ntile,
    * percent_rank, cume_dist, dense_rank, first/last value over a
    * running frame — one partition-sort pass, fractional outputs
    * rounded identically in both engines. */
  private def q309WindowRanks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("quartile"),
        dense_rank().over(w).cast("long").as("drk"),
        round(percent_rank().over(w), 6).as("prk"),
        round(cume_dist().over(w), 6).as("cd"),
        first(col("o_orderkey")).over(w).as("cheapest_key"))
  }

  /** q310: explicit GROUPING SETS with grouping_id — the exact
    * aggregation-lattice control q13's ROLLUP and q31's CUBE imply;
    * one expand + one shuffle. */
  private def q310GroupingSets(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        grouping_id().as("gid"))

  /** q315: SLICED aggregate navigation — the user query filters on a
    * rollup DIMENSION before aggregating; the rule commutes the slice
    * onto the rollup's cells (complete partials per cell, so
    * dimension filters re-aggregate exactly) and still serves count +
    * sum from the materialization. A filter touching a fact MEASURE
    * is row-grain and must bounce to the fact scan — PlanSpec pins
    * both directions. */
  private def q315RollupFiltered(s: SparkSession, d: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_f_" +
      math.abs(d.hashCode.toLong)
    t(s, d, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.plans.RollupRewrite.install(s, s.read.parquet(path))
    s.read.option("graft.rollupRewrite", "true")
      .parquet(s"$d/documents.parquet")
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** q316: DISTINCT-dimension navigation — count(DISTINCT lang) per
    * source re-derives from the cell grid (the rollup holds every
    * observed (source, lang) combination), alongside the additive
    * count/sum folds, all from q315's materialization. A distinct
    * MEASURE stays row-grain and non-derivable. */
  private def q316RollupDistinct(s: SparkSession, d: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_f_" +
      math.abs(d.hashCode.toLong)
    t(s, d, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.plans.RollupRewrite.install(s, s.read.parquet(path))
    s.read.option("graft.rollupRewrite", "true")
      .parquet(s"$d/documents.parquet")
      .groupBy(col("source"))
      .agg(countDistinct(col("lang")).as("n_langs"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q316_rollup_distinct", q316RollupDistinct,
      // the distinct-dimension report recomputed from the fact rows
      """SELECT source, count(DISTINCT lang)::BIGINT AS n_langs,
        |       count(*)::BIGINT AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source""".stripMargin, writes = true),
    QuerySpec("q315_rollup_filtered", q315RollupFiltered,
      // the sliced aggregate recomputed from the fact rows directly
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY source""".stripMargin, writes = true),
    QuerySpec("q310_grouping_sets", q310GroupingSets,
      // DuckDB GROUPING SETS; grouping_id = GROUPING(a, b) bitmask,
      // same bit order as Spark's grouping_id()
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*)::BIGINT AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))""".stripMargin),
    QuerySpec("q309_window_ranks", q309WindowRanks,
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  round(percent_rank() OVER w, 6) AS prk,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER w AS cheapest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin),
    QuerySpec("q299_contract_stream", q299ContractStream,
      // the streamed ledgered fold with a replayed slice must land on
      // the one-shot report — q291's oracle verbatim
      expectationsSql, writes = true),
    QuerySpec("q298_dpp_join", q298Dpp,
      // the statically-filtered equivalent of the runtime-pruned join
      """SELECT event_type, count(*)::BIGINT AS n,
        |       count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY event_type""".stripMargin, writes = true),
    QuerySpec("q296_rollup_avg", q296RollupAvg,
      // the oracle aggregates the fact table directly — count, avg
      // (double division of exactly-representable integer sums), min,
      // max must all match the navigated forms
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       avg(n_chars) AS avg_chars,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY source""".stripMargin, writes = true),
    QuerySpec("q292_expectations_incremental", q292ExpectationsIncremental,
      // the foldable-state report must be indistinguishable from the
      // one-shot evaluate — q291's oracle verbatim
      expectationsSql),
    QuerySpec("q291_expectations", q291Expectations,
      // every branch mirrors the operator: null predicates count as
      // violations (COALESCE TRUE), unique checks count rows beyond
      // the first per key, FK counts orphans
      expectationsSql),
    QuerySpec("q279_rollup_delete", q279RollupDelete,
      // the delete-folded rollup serves the SURVIVORS' aggregate — the
      // oracle recomputes it from the filtered fact rows directly
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 7 <> 3 GROUP BY source""".stripMargin, writes = true),
    QuerySpec("q273_rollup_incremental", q273RollupIncremental,
      // folded rollup serves the same full-corpus aggregate — q272's
      // oracle verbatim is the view-maintenance staleness proof
      rollupSql, writes = true),
    QuerySpec("q272_rollup_rewrite", q272RollupRewrite,
      // the oracle aggregates the FACT table — the gate proves the
      // rollup-served plan is exact, not just plausible
      rollupSql, writes = true),
    QuerySpec("q248_fk_audit", q248FkAudit, fkAuditSql),
    QuerySpec("q244_zorder_append", q244ZOrderAppend, zorderAppendSql),
    QuerySpec("q236_zorder_layout", q236ZOrderLayout,
      s"""WITH $zorderCtes
         |SELECT file_id, cnt, min_pk, max_pk, min_sk, max_sk,
         |       $zorderBox AS scan_needed
         |FROM manz CROSS JOIN m""".stripMargin),
    QuerySpec("q237_zorder_vs_linear", q237ZOrderVsLinear,
      s"""WITH $zorderCtes,
         |agg AS (SELECT
         |    (SELECT count(*) FROM manz) AS nf,
         |    (SELECT count(*) FROM manz CROSS JOIN m WHERE $zorderBox) AS zc,
         |    (SELECT count(*) FROM manl CROSS JOIN m WHERE $zorderBox) AS lc)
         |SELECT CAST(nf AS BIGINT) AS n_files, CAST(zc AS BIGINT) AS z_scanned,
         |       CAST(lc AS BIGINT) AS linear_scanned, zc < lc AS z_better
         |FROM agg""".stripMargin),
    QuerySpec("q235_pagerank", q235PageRank, pagerankSql),
    QuerySpec("q234_fuzzy_join", q234FuzzyJoin,
      """WITH names AS (SELECT min(p_partkey) AS nid, p_name FROM part
        |               GROUP BY p_name),
        |dirty AS (SELECT nid AS d_id, substr(p_name, 2) AS d_name FROM names),
        |ct AS (SELECT DISTINCT nid, unnest(string_split(p_name, ' ')) AS tok
        |       FROM names),
        |dt AS (SELECT DISTINCT d_id, unnest(string_split(d_name, ' ')) AS tok
        |       FROM dirty),
        |keep AS (SELECT tok FROM ct GROUP BY tok HAVING count(*) <= 32),
        |cand AS (SELECT DISTINCT d_id, nid
        |         FROM dt JOIN keep USING (tok) JOIN ct USING (tok)),
        |sc AS (SELECT d_id, d_name, nid, p_name,
        |         levenshtein(d_name, p_name) AS dist
        |       FROM cand JOIN dirty USING (d_id) JOIN names USING (nid)),
        |best AS (SELECT d_id, d_name, nid AS match_id, p_name AS match_name,
        |           CAST(dist AS BIGINT) AS dist,
        |           row_number() OVER (PARTITION BY d_id
        |             ORDER BY dist, nid) AS rk
        |         FROM sc)
        |SELECT d_id, d_name, match_id, match_name, dist
        |FROM best WHERE rk = 1""".stripMargin),
    QuerySpec("q44_bloom_join", q44BloomJoin,
      """SELECT l.l_orderkey, l.l_linenumber,
        | round(o.o_totalprice, 2) AS o_totalprice
        |FROM lineitem l
        |JOIN (SELECT o_orderkey, o_totalprice FROM orders
        |      WHERE o_totalprice > 400000) o
        |  ON l.l_orderkey = o.o_orderkey""".stripMargin),
    QuerySpec("q34_approx_distinct", q34ApproxDistinct,
      // Partial oracle: the exact column is value-checked; approx_ok is
      // Spark's own sketch-within-5%-of-exact assertion, compared to a
      // constant true here — drift breaks the hash compare.
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_parts,
        | true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q30_outer_join", q30OuterJoin,
      """SELECT o_orderkey, count(l_orderkey) AS n_big_items,
        | round(sum(l_extendedprice), 2) AS total
        |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 49) li
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey""".stripMargin),
    QuerySpec("q31_cube", q31Cube,
      """SELECT coalesce(event_type, 'ALL') AS et,
        | coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS ub,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY CUBE(event_type, CAST(user_id % 10 AS VARCHAR))""".stripMargin),
    QuerySpec("q32_stats_agg", q32StatsAgg,
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q33_percentiles", q33Percentiles,
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q01_pricing_summary", q01PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q02_filter_pushdown", q02FilterPushdown,
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),
    QuerySpec("q03_join_multiway", q03JoinMultiway,
      """SELECT n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin),
    QuerySpec("q04_topk", q04TopK,
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price
        |FROM orders ORDER BY price DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    QuerySpec("q05_setops", q05SetOps,
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        |UNION
        |SELECT CAST(-1 AS BIGINT) AS o_custkey""".stripMargin),
    QuerySpec("q06_distinct_agg", q06DistinctAgg,
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q07_window", q07Window,
      """SELECT o_custkey, o_orderkey, rn, prev_price, running FROM (
        | SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  lag(round(o_totalprice,2)) OVER w AS prev_price,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |) WHERE rn <= 3""".stripMargin),
    QuerySpec("q08_string_funcs", q08StringFuncs,
      """SELECT p_partkey,
        | lower(p_name) AS name_lc,
        | upper(p_brand) AS brand_uc,
        | substring(p_type,1,5) AS type5,
        | split_part(p_type,' ',1) AS type_head,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS tag,
        | CAST(regexp_extract(CAST(p_size AS VARCHAR) || 'mm', '([0-9]+)', 1) AS BIGINT) AS dim_value,
        | regexp_extract(CAST(p_size AS VARCHAR) || 'mm', '([a-z]+)$', 1) AS dim_unit,
        | regexp_replace(p_name, '\([^)]*\)', '', 'g') AS name_noparen
        |FROM part""".stripMargin),
    QuerySpec("q09_coercion", q09Coercion,
      """WITH e AS (
        | SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN CAST(event_id % 1000 AS VARCHAR)
        |       WHEN event_id % 3 = 1 THEN 'x' || CAST(event_id AS VARCHAR)
        |       ELSE event_type END AS s,
        |  props
        | FROM events)
        |SELECT event_id,
        | coalesce(TRY_CAST(s AS BIGINT), -1) AS coerced_int,
        | coalesce(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT), -1) AS k_val
        |FROM e""".stripMargin),
    QuerySpec("q10_date_funcs", q10DateFuncs,
      """WITH e AS (SELECT *, make_timestamp((epoch_ns(ts) // 1000000000) * 1000000) AS t FROM events)
        |SELECT event_type,
        | CAST(year(t) AS BIGINT) AS yr,
        | CAST(month(t) AS BIGINT) AS mo,
        | CAST(day(t) AS BIGINT) AS dy,
        | count(*) AS n, round(sum(value),2) AS total
        |FROM e GROUP BY event_type, yr, mo, dy""".stripMargin),
    QuerySpec("q11_case_map", q11CaseMap,
      """SELECT CASE WHEN event_type IN ('click','view') THEN 'engagement'
        |            WHEN event_type = 'purchase' THEN 'revenue'
        |            ELSE 'ops' END AS category,
        | count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY category""".stripMargin),
    QuerySpec("q12_pivot", q12Pivot,
      """SELECT user_id,
        | round(sum(value) FILTER (WHERE event_type='click'),2)    AS click,
        | round(sum(value) FILTER (WHERE event_type='error'),2)    AS error,
        | round(sum(value) FILTER (WHERE event_type='purchase'),2) AS purchase,
        | round(sum(value) FILTER (WHERE event_type='signup'),2)   AS signup,
        | round(sum(value) FILTER (WHERE event_type='view'),2)     AS view
        |FROM events GROUP BY user_id""".stripMargin),
    QuerySpec("q13_rollup", q13Rollup,
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        | count(*) AS n, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q14_anti_join", q14AntiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin),
    QuerySpec("q15_semi_join", q15SemiJoin,
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_shipdate > TIMESTAMP '1998-01-01')""".stripMargin))

  /** q235's oracle: the 10 power iterations unrolled as a generated
    * CTE chain — exact because both engines run the identical integer
    * recurrence (pr div deg contributions, 85%/100 damping, 150000
    * base in 1e6 micro-units). */
  private lazy val pagerankSql: String = {
    val iters = (1 to 10).map { i =>
      s"""pr$i AS (SELECT n.node,
         |  CAST(150000 + 85 * coalesce(s.inc, 0) // 100 AS BIGINT) AS pr
         |FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node, sum(p.pr // d.deg) AS inc
         |  FROM edges e JOIN pr${i - 1} p ON e.src = p.node
         |  JOIN deg d ON e.src = d.src GROUP BY e.dst) s USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT DISTINCT o.o_custkey AS a,
       |              l.l_suppkey + 10000000 AS b
       |            FROM orders o JOIN lineitem l
       |              ON o.o_orderkey = l.l_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM ed
       |          UNION ALL SELECT b, a FROM ed),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
       |$iters
       |SELECT node, pr FROM pr10""".stripMargin
  }

  /** Shared CTE chain for the z-order oracles: quantize, statically
    * unrolled Morton interleave (mirrors [[ZOrder.interleaveBits]]'s
    * term fold), rank, file cut, manifests for both layouts. */
  private lazy val zorderCtes: String = {
    val inter = (0 until 10).map(i =>
      s"(((qx >> $i) & 1) << ${2 * i}) + (((qy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""m AS (SELECT max(l_partkey) + 1 AS mx, max(l_suppkey) + 1 AS my,
       |        count(*) AS n FROM lineitem),
       |base AS (SELECT l_orderkey * 16 + l_linenumber AS k,
       |           l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       |q AS (SELECT k, pk, sk, (pk * 1024) // mx AS qx,
       |        (sk * 1024) // my AS qy, n
       |      FROM base CROSS JOIN m),
       |z AS (SELECT *, $inter AS zval FROM q),
       |rz AS (SELECT pk, sk, (row_number() OVER
       |         (ORDER BY zval * 4294967296 + k) - 1) // ((n + 63) // 64)
       |         AS file_id FROM z),
       |rl AS (SELECT pk, sk, (row_number() OVER
       |         (ORDER BY pk * 4294967296 + k) - 1) // ((n + 63) // 64)
       |         AS file_id FROM z),
       |manz AS (SELECT file_id, count(*) AS cnt,
       |           min(pk) AS min_pk, max(pk) AS max_pk,
       |           min(sk) AS min_sk, max(sk) AS max_sk
       |         FROM rz GROUP BY file_id),
       |manl AS (SELECT file_id, count(*) AS cnt,
       |           min(pk) AS min_pk, max(pk) AS max_pk,
       |           min(sk) AS min_sk, max(sk) AS max_sk
       |         FROM rl GROUP BY file_id)""".stripMargin
  }

  private val zorderBox =
    """NOT (max_pk < mx // 16 OR min_pk > 3 * mx // 16
      |     OR max_sk < my // 16 OR min_sk > 3 * my // 16)""".stripMargin

  /** q244's oracle: the appended (standing-64 + batch-16 runs on the
    * shared grid) and re-optimized (80-file) layouts, their manifests,
    * and the box-coverage proof. */
  private lazy val zorderAppendSql: String = {
    def rank(src: String, files: Int, offset: Int) =
      s"""SELECT pk, sk, (row_number() OVER
         |    (ORDER BY zval * 4294967296 + k) - 1)
         |    // ((count(*) OVER () + ${files - 1}) // $files) + $offset
         |    AS file_id FROM $src"""
    def man(src: String) =
      s"""SELECT file_id, min(pk) AS min_pk, max(pk) AS max_pk,
         |  min(sk) AS min_sk, max(sk) AS max_sk FROM $src GROUP BY 1"""
    s"""WITH $zorderCtes,
       |zo AS (SELECT * FROM z WHERE k % 5 <> 0),
       |zb AS (SELECT * FROM z WHERE k % 5 = 0),
       |app AS (${rank("zo", 64, 0)}
       |        UNION ALL ${rank("zb", 16, 64)}),
       |rr AS (${rank("z", 80, 0)}),
       |mana AS (${man("app")}),
       |manr AS (${man("rr")}),
       |neda AS (SELECT file_id FROM mana CROSS JOIN m WHERE $zorderBox),
       |nedr AS (SELECT file_id FROM manr CROSS JOIN m WHERE $zorderBox),
       |boxr AS (SELECT count(*) AS box_rows FROM z CROSS JOIN m
       |         WHERE pk >= mx // 16 AND pk <= 3 * mx // 16
       |           AND sk >= my // 16 AND sk <= 3 * my // 16),
       |cov AS (SELECT count(*) AS covered_rows
       |        FROM app JOIN neda USING (file_id) CROSS JOIN m
       |        WHERE pk >= mx // 16 AND pk <= 3 * mx // 16
       |          AND sk >= my // 16 AND sk <= 3 * my // 16),
       |agg AS (SELECT (SELECT count(*) FROM mana) AS nf,
       |          (SELECT count(*) FROM neda) AS sa,
       |          (SELECT count(*) FROM nedr) AS sr,
       |          (SELECT box_rows FROM boxr) AS br,
       |          (SELECT covered_rows FROM cov) AS cr)
       |SELECT CAST(nf AS BIGINT) AS n_files,
       |       CAST(sa AS BIGINT) AS scanned_appended,
       |       CAST(sr AS BIGINT) AS scanned_reopt,
       |       CAST(br AS BIGINT) AS box_rows,
       |       CAST(cr AS BIGINT) AS covered_rows,
       |       cr = br AS covered_ok, sr <= sa AS reopt_no_worse
       |FROM agg""".stripMargin
  }

  private lazy val fkAuditSql: String = {
    def edge(fk: String, child: String, ck: String,
             parent: String, pk: String) =
      s"""SELECT '$fk' AS fk,
         |  (SELECT count(*) FROM $child) AS n_child,
         |  (SELECT count(*) FROM $child c LEFT JOIN $parent p
         |    ON c.$ck = p.$pk WHERE p.$pk IS NULL) AS n_orphans,
         |  (SELECT count(*) FROM $child c LEFT JOIN $parent p
         |    ON c.$ck = p.$pk WHERE p.$pk IS NULL) = 0 AS ok"""
        .stripMargin
    Seq(
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      edge("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      edge("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"))
      .mkString("\nUNION ALL\n")
  }

  /** q272/q273 shared oracle: the direct fact-table aggregate the
    * rollup-served plan must reproduce exactly. */
  private val rollupSql: String =
    """SELECT source, count(*)::BIGINT AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source""".stripMargin

  /** q291's oracle — every branch mirrors the operator: null
    * predicates count as violations (COALESCE TRUE), unique checks
    * count rows beyond the first per key, FK counts orphans. Shared
    * verbatim by q292 (the foldable-state report). */
  private[operators] lazy val expectationsSql: String =
    """SELECT 'quantity_range' AS rule, count(*)::BIGINT AS n_checked,
      |  CAST(sum(CASE WHEN COALESCE(l_quantity < 1 OR l_quantity > 50,
      |    TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |  CAST(sum(CASE WHEN COALESCE(l_quantity < 1 OR l_quantity > 50,
      |    TRUE) THEN 1 ELSE 0 END) AS BIGINT) = 0 AS pass
      |FROM lineitem
      |UNION ALL
      |SELECT 'discount_range', count(*)::BIGINT,
      |  CAST(sum(CASE WHEN COALESCE(l_discount < 0 OR l_discount > 0.1,
      |    TRUE) THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN COALESCE(l_discount < 0 OR l_discount > 0.1,
      |    TRUE) THEN 1 ELSE 0 END) AS BIGINT) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'returnflag_accepted', count(*)::BIGINT,
      |  CAST(sum(CASE WHEN COALESCE(l_returnflag NOT IN ('A','N','R'),
      |    TRUE) THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN COALESCE(l_returnflag NOT IN ('A','N','R'),
      |    TRUE) THEN 1 ELSE 0 END) AS BIGINT) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'ship_not_null', count(*)::BIGINT,
      |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT),
      |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'pk_unique', CAST(sum(c) AS BIGINT),
      |  CAST(sum(c - 1) AS BIGINT), CAST(sum(c - 1) AS BIGINT) = 0
      |FROM (SELECT count(*) AS c FROM lineitem
      |      GROUP BY l_orderkey, l_linenumber)
      |UNION ALL
      |SELECT 'orderkey_fk',
      |  (SELECT count(*) FROM lineitem)::BIGINT,
      |  (SELECT count(*) FROM lineitem l ANTI JOIN orders o
      |     ON l.l_orderkey = o.o_orderkey)::BIGINT,
      |  (SELECT count(*) FROM lineitem l ANTI JOIN orders o
      |     ON l.l_orderkey = o.o_orderkey) = 0""".stripMargin

}
