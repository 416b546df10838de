package graft

import java.io.File
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

/** What a query run leaves behind, cheap enough to check around every
  * query: bytes written through Hadoop's local file system (the path
  * of every Spark and Hadoop file write) and the entries directly under
  * the warehouse dir and java.io.tmpdir's `graft_*`. A run that only
  * deletes or renames below an existing entry is not seen; walking
  * every directory instead cost ~35 ms a query on a /tmp holding 12k
  * leftover directories. */
final class ArtifactWatch(warehouse: File) {
  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  private def bytesWritten(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesWritten"))).fold(0L)(_.longValue)

  private def entries(): Set[String] =
    Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft_")).map(n => s"$tmp/$n") ++
      Option(warehouse.list()).toSet.flatten.map(n => s"$warehouse/$n")

  /** Runs `body`; returns its result and what it created, removed or wrote. */
  def during[T](body: => T): (T, Seq[String]) = {
    val (b0, e0) = (bytesWritten(), entries())
    val out = body
    val (b1, e1) = (bytesWritten(), entries())
    val moved = ((e1 -- e0) ++ (e0 -- e1)).toSeq.sorted
    (out, if (b1 > b0) moved :+ s"${b1 - b0} bytes written" else moved)
  }
}

class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle") {
    val noOracle = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"queries missing oracle SQL: $noOracle")
  }

  test("a registry with a duplicated name throws") {
    val q = SparkEntry.registry.head
    intercept[IllegalArgumentException](
      SparkEntry.registryOf(Seq(Seq(q), Seq(q.copy(oracle = "SELECT 1")))))
  }

  // One run per query checks both its rows and its `writes` flag: a
  // query not marked as writing must leave no artifact behind.
  test("all queries run non-empty on sf0.001 (except anti-join which may be empty)") {
    val mayBeEmpty = Set("q14_anti_join")
    val writes = SparkEntry.registry.filter(_.writes).map(_.name).toSet
    val warehouse = new File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val watch = new ArtifactWatch(warehouse)
    val unmarked = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val (n, touched) =
        if (writes(name)) (fn(spark, sf).count(), Nil)
        else watch.during(fn(spark, sf).count())
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      if (touched.isEmpty) None
      else Some(s"$name touched ${touched.take(3).mkString(", ")}")
    }
    assert(unmarked.isEmpty, s"queries not marked `writes`: ${unmarked.mkString("; ")}")
  }

  test("Tables.t reads every table with spark.read.parquet's schema " +
    "(footer-read on the driver; events under nanosAsLong)") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Tables.all.foreach { t =>
      val p = s"$sf/$t.parquet"
      val plain = spark.read.parquet(p).schema
      assert(graft.sources.ParquetFooter.read(spark, Seq(p)).schema == plain, t)
      // only events then recasts ts to the epoch-nanos contract
      if (t != "events") assert(Tables.t(spark, sf, t).schema == plain, t)
    }
  }

  test("q01 matches hand-computed group count") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    assert(df.columns.toSet.contains("sum_qty"))
    assert(df.count() <= 9) // at most |returnflag| x |linestatus|
  }

  test("q04 topk is ordered desc") {
    val rows = SparkEntry.queries("q04_topk")(spark, sf).collect()
    val prices = rows.map(_.getAs[Double]("price"))
    assert(rows.length == 10)
    assert(prices.sameElements(prices.sortBy(-_)))
  }
}
