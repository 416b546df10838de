package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ZOrder

/** [[ZOrder]]: Morton code correctness, and the end-to-end layout
  * contract — a manifest-planned scan over the physically written
  * file dirs returns exactly the rows a full scan would. */
class ZOrderSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interleaveBits == the bit-twiddled Morton reference") {
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val pairs = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.interleaveBits(col("x"), col("y"), 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == morton(x, y, 4), s"($x,$y)") }
    // locality sanity: the curve visits (0,0),(1,0),(0,1),(1,1) first
    val inv = got.map { case (x, y, z) => z -> (x, y) }.toMap
    assert(Seq(inv(0L), inv(1L), inv(2L), inv(3L)) ==
      Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)))
  }

  test("manifest-planned scan over the written z-order dirs == full " +
    "scan, and the plan prunes to exactly the scan_needed dirs") {
    val li = Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .select((col("l_orderkey") * 16 + col("l_linenumber")).as("k"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val assigned = ZOrder.assignFiles(li, "pk", "sk", "k",
      targetFiles = 16).localCheckpoint(true)
    val dir = tempDir("zorder")
    assigned.write.mode("overwrite").partitionBy("file_id").parquet(dir)
    // box: the [1/4, 1/2) slice of each dimension
    val Array(mx, my) = li.agg(max(col("pk")) + 1, max(col("sk")) + 1)
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val (x1, x2, y1, y2) = (mx / 4, mx / 2, my / 4, my / 2)
    val man = ZOrder.manifest(assigned, "pk", "sk")
    val needed = man.filter(ZOrder.scanNeeded(lit(x1), lit(x2),
        lit(y1), lit(y2)))
      .select(col("file_id")).as[Long].collect().toSet
    assert(needed.nonEmpty && needed.size < 16,
      s"box must prune some of 16 files, kept $needed")
    def boxRows(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("pk").between(x1, x2) && col("sk").between(y1, y2))
      .select(col("k")).as[Long].collect().toSet
    // read ONLY the planned dirs — pruning must be lossless
    val planned = spark.read.parquet(
      needed.toSeq.sorted.map(f => s"$dir/file_id=$f"): _*)
    assert(boxRows(planned) == boxRows(assigned))
    // and the partition-column form prunes inside one scan: the plan
    // reports only the needed partitions
    val pruned = spark.read.parquet(dir)
      .filter(col("file_id").isin(needed.toSeq: _*))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains(s"file_id=${(0 until 16).find(!needed(_)).get}"),
      scan)
    assert(boxRows(pruned) == boxRows(assigned))
  }
}
