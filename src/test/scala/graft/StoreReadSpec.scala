package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Lakehouse, StatsStore}
import graft.sources.ParquetFooter
import graft.streaming.StreamingSealed

/** Reads of parquet the program writes itself resolve their schema on
  * the driver ([[ParquetFooter.read]]): the schema a reader sees equals
  * what `spark.read.parquet` infers (names, order, types, nullability),
  * and the versioned store's and the sealed stream's ops start no
  * schema-inference job — the job budgets pinned here. The input
  * tables' side of the parity is in [[SparkEntrySpec]]. */
class StoreReadSpec extends AnyFunSuite with TempDirs {
  import StoreReadSpec.Job
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jobsDuring[T](f: => T): (T, Seq[Job]) =
    StoreReadSpec.jobsDuring(spark)(f)

  private def docs(ids: Seq[Long]) =
    ids.map(i => (i, s"text $i", "en", 10L + i))
      .toDF("doc_id", "text", "lang", "n_chars")

  private def upserts(ids: Seq[Long]) =
    ids.map(i => (i, "U", s"text $i v2", "en", 20L + i))
      .toDF("doc_id", "op", "text", "lang", "n_chars")

  private def plain(paths: String*) = spark.read.parquet(paths: _*).schema
  private def footer(paths: String*) =
    ParquetFooter.read(spark, paths).schema

  test("versioned-store schemas: vdirs before and after a widening " +
    "merge, the widened union, a compacted store, the manifest, " +
    "_vstats and _vbloom equal spark.read.parquet's; a vacuumed vdir " +
    "still fails with Spark's AnalysisException") {
    val path = freshDir("graft_fschema")
    Lakehouse.writeVersioned(docs(0L until 8L), "doc_id", path, buckets = 4,
      statCols = Seq("n_chars"))
    assert(footer(s"$path/v0") == plain(s"$path/v0"))
    val widen = Seq((1L, "U", "text 1 v2", "en", 11L, 9L))
      .toDF("doc_id", "op", "text", "lang", "n_chars", "quality")
    Lakehouse.mergeVersioned(spark, path, 1L, widen, "doc_id", 4,
      statCols = Seq("n_chars"))
    Seq("v0", "v1").foreach { v =>
      assert(footer(s"$path/$v") == plain(s"$path/$v"), v)
    }
    assert(plain(s"$path/v1").fieldNames.contains("quality"))
    // the union still fills the new column with nulls
    val q = Lakehouse.readVersioned(spark, path, 1L)
      .select(col("doc_id"), col("quality")).as[(Long, Option[Long])]
      .collect().toMap
    assert(q == (0L until 8L).map(i =>
      i -> (if (i == 1L) Some(9L) else None)).toMap)
    Lakehouse.compactVersioned(spark, path, 2L, "doc_id",
      statCols = Seq("n_chars"))
    assert(footer(s"$path/v2") == plain(s"$path/v2"))
    assert(Lakehouse.readVersioned(spark, path, 2L).schema ==
      plain(s"$path/v2"))
    Lakehouse.buildBloomIndex(spark, path, 2L, "n_chars", 16L)
    assert(Lakehouse.lookupVersionedByCol(spark, path, 2L, "n_chars",
      Seq(14L)).select("doc_id").as[Long].collect().toSeq == Seq(4L))
    // fixed layouts: the program's constant equals what Spark infers
    for (dir <- Seq("_manifest", "_vstats", "_vbloom/col=n_chars"))
      assert(footer(s"$path/$dir") == plain(s"$path/$dir"), dir)
    assert(Lakehouse.readManifest(spark, path).schema ==
      plain(s"$path/_manifest"))
    // a vacuumed vdir still fails the way a plain read does
    Lakehouse.vacuumVersions(spark, path, 2L)
    assert(!Files.exists(Paths.get(path, "v0")))
    intercept[AnalysisException](Lakehouse.readVersioned(spark, path, 0L))
    intercept[AnalysisException](spark.read.parquet(s"$path/v0"))
  }

  private def events(rows: Seq[(Long, Long, Long)]) =
    rows.map { case (id, sec, u) => (id, sec * 1000000000L, u, "click", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sealed-stream schemas: an _active generation, a landed batch " +
    "and a compacted _events_c segment equal spark.read.parquet's") {
    val root = freshDir("graft_fschema_sealed")
    StreamingSealed.processSealedBatch(
      events((0L until 20L).map(i => (i, i, i % 5L))), 0L, root, 512L,
      userBuckets = 4)
    StreamingSealed.processSealedBatch(
      events((20L until 30L).map(i => (i, 9000L + i, i % 5L))), 1L, root,
      512L, userBuckets = 4)
    val landed = s"$root/_events/bid=0/ub=1"
    val landedSchema = footer(landed)
    assert(landedSchema == plain(landed))
    assert(footer(s"$root/_active/b1") == plain(s"$root/_active/b1"))
    StreamingSealed.compactEvents(spark, root, 2)
    val segDir = Files.list(Paths.get(root, "_events_c")).toArray
      .map(_.toString).head
    assert(footer(segDir) == plain(segDir))
    // compaction keeps the landed schema: a candidate read over
    // segments and fresh batches stitches both under one footer's
    assert(footer(segDir) == landedSchema)
  }

  test("job budgets: a point GET runs exactly 2 jobs; reads, merges, " +
    "compaction, vacuum and sealed ticks start no schema-inference " +
    "job; vacuum collects the manifest once") {
    val path = freshDir("graft_jobs")
    Lakehouse.writeVersioned(docs(0L until 64L), "doc_id", path,
      buckets = 8)
    val (_, merge) = jobsDuring(Lakehouse.mergeVersioned(spark, path, 1L,
      upserts(Seq(3L, 70L)), "doc_id", 8))
    val (got, lookup) = jobsDuring(
      Lakehouse.lookupVersioned(spark, path, "doc_id", Seq(3L), 1L, 8)
        .select("text").as[String].collect().toSeq)
    assert(got == Seq("text 3 v2"))
    assert(lookup.size == 2, lookup)
    val (_, read) = jobsDuring(Lakehouse.readVersioned(spark, path, 0L))
    assert(read.size == 1, read) // the manifest collect; the read is lazy
    val (_, compact) = jobsDuring(
      Lakehouse.compactVersioned(spark, path, 2L, "doc_id"))
    val (_, vacuum) = jobsDuring(Lakehouse.vacuumVersions(spark, path, 2L))
    assert(vacuum.size == 1, vacuum) // one manifest collect, no more
    val root = freshDir("graft_jobs_sealed")
    val (_, ticks) = jobsDuring((0 until 3).foreach { b =>
      StreamingSealed.processSealedBatch(
        events((0L until 10L).map(i => (b * 10L + i, b * 6000L + i, i % 3L))),
        b.toLong, root, 512L, userBuckets = 4)
    })
    Seq("lookup" -> lookup, "readVersioned" -> read, "merge" -> merge,
      "compact" -> compact, "vacuum" -> vacuum, "sealed ticks" -> ticks)
      .foreach { case (op, jobs) =>
        assert(jobs.forall(_.sql), s"$op ran a job outside any query: $jobs")
      }
    // an inference job's stage is named `parquet at <read line>`; the
    // ops' own parquet writes share that name but run inside a query,
    // so only the read-only ops can pin the name outright
    Seq(lookup, read, vacuum).foreach(js => assert(!js.exists(_.parquetAt), js))
  }

  test("stats-store reads: _stats and the _schema sentinel equal " +
    "spark.read.parquet's schema, and a range lookup or a drained " +
    "store's read starts no job outside a query") {
    val path = freshDir("graft_statread")
    val rows = (0L until 40L).map(i => (i, i * 10L, s"r$i")).toDF("id", "v", "s")
    StatsStore.appendBatch(rows.filter($"id" < 20L), "id", path, 4, 0L, Seq("v"))
    StatsStore.appendBatch(rows.filter($"id" >= 20L), "id", path, 4, 1L, Seq("v"))
    for (dir <- Seq("_stats", "_schema"))
      assert(footer(s"$path/$dir") == plain(s"$path/$dir"), dir)
    val (hit, range) = jobsDuring(StatsStore.rangeBatches(spark, path, "v", 250L, 260L))
    assert(hit == Seq(1L))
    StatsStore.expireBatches(spark, path, "v", Long.MaxValue)
    val (drained, empty) = jobsDuring(StatsStore.readStore(spark, path))
    assert(drained.schema == plain(s"$path/_schema") && drained.count() == 0L)
    Seq("rangeBatches" -> range, "drained readStore" -> empty).foreach {
      case (op, jobs) =>
        assert(jobs.forall(_.sql), s"$op ran a job outside any query: $jobs")
        assert(!jobs.exists(_.parquetAt), s"$op: $jobs")
    }
  }
}

object StoreReadSpec {
  /** The jobs `f` starts. Tests run sequentially in the forked JVM, so
    * the listener sees only `f`'s jobs once the bus is drained before
    * and after. */
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(Job(js.stageInfos.map(_.name),
          Option(js.properties)
            .exists(_.getProperty("spark.sql.execution.id") != null)))
    }
    org.apache.spark.sql.GraftSqlBridge.waitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.sql.GraftSqlBridge.waitListeners(spark)
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One started job: the names of its stages, and whether it ran
    * inside a SQL execution. Every action a query runs does; a
    * schema-inference or parallel-listing job, started while a read
    * is being planned, does not. */
  final case class Job(stages: Seq[String], sql: Boolean) {
    def parquetAt: Boolean = stages.exists(_.startsWith("parquet at"))
  }
}
