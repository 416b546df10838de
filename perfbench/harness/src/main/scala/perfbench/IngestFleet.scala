package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import graft.LabEtl
import graft.sources.{HfmSource, LabDirectory, LabTable, MccSource, StaSource}

/** ingest_fleet: the paper's own layer. Each cycle visits the next
  * per-day shard with one fleet op per format (`LabDirectory.load*` plus
  * its `*Metadata` table, written as snappy Parquet) and converts two
  * seeded sample files per format through the one-file API
  * (`LabEtl.load*Data(path).write(out)`). Outputs stay on disk for
  * `run.py` to check against the generator's manifest. */
final class IngestFleet(ctx: Ctx) extends Workload {
  private val fleet = new java.io.File(ctx.args.data, "fleet")
  private val shards: Seq[String] =
    fleet.listFiles().filter(_.isDirectory).map(_.getPath).toSeq.sorted
  private val byExt: Map[String, Seq[String]] = shards.flatMap { s =>
    new java.io.File(s).listFiles().filter(_.isFile).map(_.getPath).toSeq
  }.sorted.groupBy(p => p.substring(p.lastIndexOf('.') + 1))
  private val kinds = Seq("STA" -> "csv", "MCC" -> "txt", "HFM" -> "tst")
  private var shardOrder: Seq[String] = Nil
  private var setupNo = 0

  def setups: Int = 3
  def prepare(): Unit = ()

  private def size(paths: Seq[String]): Long = paths.map(p => new java.io.File(p).length).sum

  private def fleetOp(kind: String, shard: String, out: String, r: OpRecord): () => Option[String] = {
    val spark = ctx.spark
    val (data, meta) = ctx.span("load") {
      kind match {
        case "STA" => (LabDirectory.loadSta(spark, shard), LabDirectory.staMetadata(spark, shard))
        case "MCC" => (LabDirectory.loadMcc(spark, shard), LabDirectory.mccMetadata(spark, shard))
        case _ => (LabDirectory.loadHfm(spark, shard), LabDirectory.hfmMetadata(spark, shard))
      }
    }
    def write(df: DataFrame, dir: String): Unit =
      df.write.mode("overwrite").option("compression", "snappy").parquet(dir)
    ctx.span("write") {
      write(data, s"$out/data")
      write(meta, s"$out/meta")
    }
    val ext = kinds.toMap.apply(kind)
    r.info ++= Seq("op" -> "fleet", "format" -> kind, "shard" -> shard, "out" -> out,
      "in_bytes" -> size(byExt(ext).filter(_.startsWith(shard + "/"))))
    () => { recordOut(r, out); None }
  }

  private def convertOp(kind: String, file: String, out: String, r: OpRecord): () => Option[String] = {
    val spark = ctx.spark
    val t: LabTable = ctx.span("load") {
      kind match {
        case "STA" => LabEtl.loadStaData(spark, file)
        case "MCC" => LabEtl.loadMccData(spark, file)
        case _ => LabEtl.loadHfmData(spark, file)
      }
    }
    ctx.span("write")(t.write(out))
    r.info ++= Seq("op" -> "convert", "format" -> kind, "file" -> file, "out" -> out,
      "in_bytes" -> new java.io.File(file).length)
    () => { recordOut(r, out); None }
  }

  private def recordOut(r: OpRecord, out: String): Unit = {
    val (files, bytes) = Disk.usage(out)
    r.info ++= Seq("out_files" -> files, "out_bytes" -> bytes)
  }

  /** One op of every kind on the first shard: parsers, directory loaders,
    * CSV inference and the Parquet sink with its footer rewrite all run
    * before timing. */
  def setup(): Unit = {
    setupNo += 1
    val warm = s"${ctx.args.work}/warm$setupNo"
    kinds.foreach { case (kind, ext) =>
      fleetOp(kind, shards.head, s"$warm/fleet_$kind", new OpRecord(-1, "warm"))
      convertOp(kind, byExt(ext).head, s"$warm/convert_$kind", new OpRecord(-1, "warm"))
    }
  }

  def cycle(rng: java.util.Random, n: Int): Seq[Op] = {
    if (n % shards.size == 0) shardOrder = shuffle(shards, rng)
    val shard = shardOrder(n % shards.size)
    val out = s"${ctx.args.work}/out"
    val ops = kinds.flatMap { case (kind, ext) =>
      val files = byExt(ext)
      Op(s"fleet_$kind", r => fleetOp(kind, shard, s"$out/op${r.id}", r)) +: (1 to 2).map { _ =>
        val file = files(rng.nextInt(files.size))
        Op(s"convert_$kind", r => convertOp(kind, file, s"$out/op${r.id}", r))
      }
    }
    shuffle(ops, rng)
  }

  private def shuffle[A](xs: Seq[A], rng: java.util.Random): Seq[A] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def finish(report: mutable.Map[String, Any]): Unit = ()

  /** Single-thread parse throughput over the in-memory fleet bytes:
    * every file through its format's pure bytes→parsed function,
    * repeated for at least one second. */
  private def parseRate(): Double = {
    val inputs = byExt.toSeq.flatMap { case (ext, paths) =>
      paths.map(p => (ext, p, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
    }
    def once(): Unit = inputs.foreach {
      case ("csv", p, b) => StaSource.parseBytes(p, b)
      case ("txt", p, b) => MccSource.parseBytes(p, b)
      case (_, p, b) => HfmSource.parseRows(p, b)
    }
    once()
    val bytes = inputs.map(_._3.length.toLong).sum
    val t0 = System.nanoTime()
    var rounds = 0
    while (System.nanoTime() - t0 < 1000000000L) { once(); rounds += 1 }
    bytes * rounds / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    val spans = ctx.spans.groupBy(_.op)
    def meanSpan(opKind: String, name: String): Double = {
      val xs = ops.filter(_.info.get("op").contains(opKind))
        .flatMap(o => spans.getOrElse(o.id, Nil).filter(_.name == name)).map(_.durUs / 1000.0)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val n = math.max(ops.size, 1).toDouble
    def total(k: String): Double = ops.map(_.info.getOrElse(k, 0L).asInstanceOf[Long]).sum.toDouble
    Map(
      "sources.parse_mb_per_s" -> parseRate(),
      "sources.dir_setup_ms" -> meanSpan("fleet", "load"),
      "sources.single_load_ms" -> meanSpan("convert", "load"),
      "sink.write_ms" -> meanSpan("convert", "write"),
      "sink.fleet_write_ms" -> meanSpan("fleet", "write"),
      "sink.bytes_out" -> total("out_bytes") / n,
      "sink.files_out" -> total("out_files") / n)
  }
}
