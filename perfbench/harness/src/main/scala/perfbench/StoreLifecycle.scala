package perfbench

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Tables
import graft.operators.Lakehouse
import graft.streaming.StreamingSealed

/** store_lifecycle: writes beside reads on the same stores. A versioned
  * `orders` store takes upsert/delete commits skewed toward recent
  * orders, point GETs, time-travel scans and periodic compaction plus
  * vacuum; beside it a sealed-export stream takes successive `ts`
  * slices of `events`, one batch id redelivered. Every result is checked
  * against a model of the store held here, not the program's code. */
final class StoreLifecycle(ctx: Ctx) extends Workload {
  private val Key = "o_orderkey"
  private val Buckets = 16
  private val BatchRows = 8
  private val Slices = 64
  private val Budget = 8192L
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority")
  private val ordersPath = s"${ctx.args.data}/orders.parquet"

  private var setupNo = 0
  private var store: String = _
  private var streamRoot: String = _
  private var schema: StructType = _
  /** Model snapshot of the store at each live version: key → row values. */
  private val model = mutable.Map[Long, HashMap[Long, Seq[Any]]]()
  private var head = 0L
  private var floor = 0L
  private var maxKey = 0L
  private var userBytesPerRow = 0.0
  private var eventBytesPerRow = 0.0
  // stream state
  private var ticks = 0
  private var delivered = 0
  private var lo, span = 0L
  private var events: DataFrame = _
  private var landedBefore = Set.empty[String]

  def setups: Int = 3

  /** A fresh v0 store from `orders`. */
  def setup(): Unit = {
    setupNo += 1
    val spark = ctx.spark
    store = s"${ctx.args.work}/store$setupNo"
    val orders = spark.read.parquet(ordersPath).select(cols.map(col): _*)
    Lakehouse.writeVersioned(orders, Key, store, Buckets)
  }

  /** The model starts as `orders`; the stream's slices are fixed. */
  def prepare(): Unit = {
    val spark = ctx.spark
    val orders = spark.read.parquet(ordersPath).select(cols.map(col): _*)
    schema = orders.schema
    val rows = orders.collect()
    model.clear()
    model(0L) = HashMap.from(rows.iterator.map(r => r.getLong(0) -> r.toSeq))
    maxKey = rows.iterator.map(_.getLong(0)).max
    userBytesPerRow = new java.io.File(ordersPath).length.toDouble / rows.length
    head = 0L; floor = 0L
    sortedKeys = keysAt(0)
    streamRoot = s"${ctx.args.work}/stream"
    events = Tables.t(spark, ctx.args.data, "events").withColumn("__t", expr("ts div 1000"))
    val mm = events.agg(min(col("__t")), max(col("__t"))).head()
    lo = mm.getLong(0)
    span = (mm.getLong(1) - lo) / Slices + 1
    val eventsPath = new java.io.File(s"${ctx.args.data}/events.parquet")
    eventBytesPerRow = eventsPath.length.toDouble / spark.read.parquet(eventsPath.getPath).count()
    landedBefore = Disk.files(new java.io.File(store)).map(_.getPath).toSet
  }

  private def slice(b: Int): DataFrame =
    events.filter(col("__t") >= lo + b * span && col("__t") < lo + (b + 1) * span).drop("__t")

  /** Key skewed toward recent orders: the newest ~2% take most draws. */
  private def recentKey(rng: java.util.Random, keys: Vector[Long]): Long = {
    val back = math.min(keys.size - 1, (-math.log(1 - rng.nextDouble()) * keys.size * 0.02).toLong.toInt)
    keys(keys.size - 1 - back)
  }

  private var sortedKeys: Vector[Long] = Vector.empty
  private def keysAt(v: Long): Vector[Long] = model(v).keys.toVector.sorted

  private def mergeOp(rng: java.util.Random): Op = Op("merge", { r =>
    val cur = model(head)
    val keys = sortedKeys
    val upd = (1 to BatchRows - 3).map(_ => recentKey(rng, keys)).distinct
    val del = Seq(recentKey(rng, keys)).filterNot(upd.contains)
    val ins = (1 to 2).map { i => maxKey + i }
    def priced(v: Seq[Any]): Seq[Any] = v.updated(3, math.round(rng.nextDouble() * 49900000 + 100000) / 100.0)
    val template = cur(keys.last)
    val upRows = upd.map(k => priced(cur(k))) ++ ins.map(k => priced(template.updated(0, k)))
    val batch = upRows.map(v => Row.fromSeq("U" +: v)) ++ del.map(k => Row.fromSeq("D" +: cur(k)))
    val df = ctx.spark.createDataFrame(batch.asJava, StructType(StructField("op", StringType) +: schema.fields))
    val version = head + 1
    Lakehouse.mergeVersioned(ctx.spark, store, version, df, Key, Buckets)
    val next = cur ++ upRows.map(v => v.head.asInstanceOf[Long] -> v) -- del
    r.info ++= Seq("version" -> version, "user_bytes" -> (batch.size * userBytesPerRow))
    () => {
      commit(version, next)
      maxKey += ins.size
      recordLanded(r)
      checkHead(version)
    }
  })

  private def commit(version: Long, state: HashMap[Long, Seq[Any]]): Unit = {
    model(version) = state
    head = version
    sortedKeys = keysAt(version)
  }

  /** Bytes and files that appeared on disk under the store and stream
    * roots since the previous commit. */
  private def recordLanded(r: OpRecord): Unit = {
    val now = Disk.files(new java.io.File(store)) ++ Disk.files(new java.io.File(streamRoot))
    val fresh = now.filterNot(f => landedBefore.contains(f.getPath))
    landedBefore = now.map(_.getPath).toSet
    r.info ++= Seq("landed_files" -> fresh.size.toLong, "landed_bytes" -> fresh.map(_.length).sum)
  }

  private def rowsOf(df: DataFrame): Array[Row] = df.select(cols.map(col): _*).collect()

  private def checkHead(version: Long): Option[String] = {
    val got = Lakehouse.readVersioned(ctx.spark, store, version)
      .agg(count(lit(1)), sum(col(Key)), sum(col("o_totalprice"))).head()
    val want = model(version)
    val wantSum = want.valuesIterator.map(_(3).asInstanceOf[Double]).sum
    if (got.getLong(0) != want.size || got.getLong(1) != want.keysIterator.sum ||
      math.abs(got.getDouble(2) - wantSum) > 1e-6 * math.abs(wantSum))
      Some(s"head v$version: rows/keysum/price ${got.getLong(0)}/${got.getLong(1)}/${got.getDouble(2)}, " +
        s"model ${want.size}/${want.keysIterator.sum}/$wantSum")
    else None
  }

  private def lookupOp(rng: java.util.Random): Op = Op("lookup", { r =>
    val cur = model(head)
    val key =
      if (rng.nextDouble() < 0.9) recentKey(rng, sortedKeys)
      else maxKey + 1 + rng.nextInt(1000) // a miss
    val version = head
    val df = ctx.span("build")(Lakehouse.lookupVersioned(ctx.spark, store, Key, Seq(key), version, Buckets))
    val got = ctx.span("collect")(rowsOf(df))
    r.info ++= Seq("version" -> version, "hit" -> cur.contains(key))
    () => {
      val want = cur.get(key).toSeq
      if (got.map(_.toSeq).toSeq != want) Some(s"GET $key@v$version returned ${got.length} rows, model ${want.size}")
      else None
    }
  })

  private def scanOp(rng: java.util.Random): Op = Op("scan", { r =>
    val version = floor + rng.nextInt((head - floor + 1).toInt)
    val got = Lakehouse.readVersioned(ctx.spark, store, version)
      .agg(count(lit(1)), sum(col(Key))).head()
    r.info ++= Seq("version" -> version)
    () => {
      val want = model(version)
      if (got.getLong(0) != want.size || got.getLong(1) != want.keysIterator.sum)
        Some(s"scan v$version: ${got.getLong(0)} rows, model ${want.size}")
      else None
    }
  })

  private def compactOp(): Op = Op("compact", { r =>
    val version = head + 1
    Lakehouse.compactVersioned(ctx.spark, store, version, Key)
    r.info ++= Seq("version" -> version)
    () => { commit(version, model(head)); recordLanded(r); checkHead(version) }
  })

  private def vacuumOp(): Op = Op("vacuum", { r =>
    val at = head
    val (deleted, retained) = Lakehouse.vacuumVersions(ctx.spark, store, at)
    r.info ++= Seq("deleted" -> deleted, "retained" -> retained)
    () => {
      floor = at
      model.keys.filter(_ < at).toSeq.foreach(model.remove)
      landedBefore = Disk.files(new java.io.File(store)).map(_.getPath).toSet ++
        Disk.files(new java.io.File(streamRoot)).map(_.getPath)
      checkHead(at)
    }
  })

  /** The stream delivers batches 0 and 1, then batch 0 again (a
    * redelivery must land nothing), then 2, 3, ... */
  private def tickOp(): Op = Op("tick", { r =>
    val redelivery = ticks == 2
    val b = if (redelivery) 0 else if (ticks < 2) ticks else ticks - 1
    require(b < Slices, s"the stream has only $Slices slices")
    val before = if (redelivery) snapshotStream() else Map.empty[String, Long]
    val batch = slice(b)
    StreamingSealed.processSealedBatch(batch, b.toLong, streamRoot, Budget)
    ticks += 1
    if (!redelivery) delivered = b + 1
    r.info ++= Seq("batch" -> b, "redelivery" -> redelivery)
    () => {
      if (redelivery) {
        recordLanded(r)
        val after = snapshotStream()
        if (after != before) Some(s"redelivered batch $b changed ${(after.toSet diff before.toSet).size} files")
        else None
      } else {
        val want = batch.count()
        r.info ++= Seq("user_bytes" -> want * eventBytesPerRow)
        recordLanded(r)
        val landed = ctx.spark.read.parquet(s"$streamRoot/_events/bid=$b").count()
        if (landed != want) Some(s"batch $b landed $landed events, slice has $want") else None
      }
    }
  })

  private def snapshotStream(): Map[String, Long] =
    Disk.files(new java.io.File(streamRoot)).map(f => f.getPath -> f.length).toMap

  /** Every op kind once or more per cycle; the third tick of a run is
    * the redelivery. */
  def cycle(rng: java.util.Random, n: Int): Seq[Op] = {
    def lookups = (1 to 4).map(_ => lookupOp(rng))
    Seq(mergeOp(rng)) ++ lookups ++ Seq(tickOp()) ++ lookups ++ Seq(scanOp(rng), tickOp(), compactOp(),
      vacuumOp()) ++ lookups ++ Seq(tickOp())
  }

  def finish(report: mutable.Map[String, Any]): Unit = {
    val got = rowsOf(Lakehouse.readVersioned(ctx.spark, store, head))
    val want = model(head)
    val bad = got.count(r => !want.get(r.getLong(0)).contains(r.toSeq)) + math.abs(got.length - want.size)
    report("head_check") = if (bad == 0) null else s"head v$head: $bad rows differ from the model"
    report("stream") = Map("root" -> streamRoot, "out" -> s"$streamRoot/out", "lo_us" -> lo, "span_us" -> span,
      "delivered" -> delivered, "gap_us" -> graft.operators.Sft.GapUs)
  }

  def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    val spans = ctx.spans.groupBy(_.op)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def kindMs(k: String) = mean(ops.filter(_.kind == k).map(_.ms))
    def spanMs(name: String) =
      mean(ops.filter(_.kind == "lookup").flatMap(o => spans.getOrElse(o.id, Nil).filter(_.name == name))
        .map(_.durUs / 1000.0))
    val commits = ops.filter(o => o.kind == "merge" || o.kind == "compact")
    def commitMean(k: String) = mean(commits.map(_.info.getOrElse(k, 0L).asInstanceOf[Long].toDouble))
    Map(
      "store.merge_ms" -> kindMs("merge"), "stream.tick_ms" -> kindMs("tick"),
      "store.compact_ms" -> kindMs("compact"), "store.vacuum_ms" -> kindMs("vacuum"),
      "store.lookup_build_ms" -> spanMs("build"), "store.lookup_collect_ms" -> spanMs("collect"),
      "store.files_per_commit" -> commitMean("landed_files"),
      "store.bytes_per_commit" -> commitMean("landed_bytes"),
      "store.live_bytes_per_user_byte" ->
        Disk.usage(store)._2.toDouble / new java.io.File(ordersPath).length)
  }
}
