package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness. Runs one workload as a single-client closed loop
  * against the program's public API and writes a JSON report; `run.py`
  * checks the outputs and turns the report into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out FILE --cpus N
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"), need("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.trace) org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")
    val ctx = new Ctx(args)
    val w: Workload = args.workload match {
      case "ingest_fleet" => new IngestFleet(ctx)
      case "query_mix" => new QueryMix(ctx)
      case "store_lifecycle" => new StoreLifecycle(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val report = ctx.run(w)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), Json.render(report))
    ctx.spark.stop()
  }
}

trait Workload {
  /** Program-side set-up, timed into `setup_s`. Called once per set-up
    * repetition, each on a fresh session. */
  def setup(): Unit
  /** How many times a run sets up (median reported). */
  def setups: Int
  /** Untimed work between the last set-up and the loop. */
  def prepare(): Unit
  /** One seeded cycle of ops; the loop runs whole cycles. */
  def cycle(rng: java.util.Random, n: Int): Seq[Op]
  /** Post-loop work outside every timed window: final output checks and
    * the facts `run.py` needs to check outputs itself. */
  def finish(report: mutable.Map[String, Any]): Unit
  /** Per-layer metrics only this workload's ops produce (traced run). */
  def layers(ops: Seq[OpRecord]): Map[String, Double]
}

/** A timed op. `body` runs inside the timer and returns the op's own
  * correctness check, run after the timer stops: None when the output is
  * right, else what was wrong. */
final case class Op(kind: String, body: OpRecord => (() => Option[String]))

final class OpRecord(val id: Long, val kind: String) {
  var startUs, endUs = 0L
  var ok = true
  var error: String = null
  val info = mutable.LinkedHashMap[String, Any]()
  def ms: Double = (endUs - startUs) / 1000.0
}

final class Ctx(val args: Main.Args) {
  var spark: SparkSession = _
  val spans = mutable.ArrayBuffer[Span]()
  val events = new SparkEvents
  /** Per-op Hadoop FS call counts (traced ops), in `CountingLocalFs.names` order. */
  val fsCalls = mutable.Map[Long, Seq[Long]]()
  var tracing = false
  private var current: OpRecord = _
  private var nextId = 0L

  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Child span of the running op; a plain call when not tracing. */
  def span[A](name: String)(body: => A): A =
    if (!tracing || current == null) body
    else {
      val s = Clock.nowUs
      try body finally spans += Span(name, current.id, "op", s, Clock.nowUs)
    }

  def runOp(op: Op, records: mutable.ArrayBuffer[OpRecord]): Double = {
    val r = new OpRecord(nextId, op.kind)
    nextId += 1
    current = r
    spark.sparkContext.setLocalProperty(events.OpProperty, r.id.toString)
    val fs0 = if (tracing) CountingLocalFs.snapshot() else Nil
    r.startUs = Clock.nowUs
    val check = try op.body(r) catch {
      case e: Throwable =>
        r.ok = false
        r.error = Errors.describe(e)
        () => None
    }
    r.endUs = Clock.nowUs
    current = null
    spark.sparkContext.setLocalProperty(events.OpProperty, null)
    if (tracing) {
      spans += Span("op:" + r.kind, r.id, "", r.startUs, r.endUs)
      fsCalls(r.id) = CountingLocalFs.snapshot().zip(fs0).map { case (a, b) => a - b }
    }
    val c0 = System.nanoTime()
    if (r.ok) try check().foreach { msg => r.ok = false; r.error = "WrongResult: " + msg } catch {
      case e: Throwable => r.ok = false; r.error = "CheckFailed: " + Errors.describe(e)
    }
    records += r
    (System.nanoTime() - c0) / 1e9
  }

  /** Whole cycles until `seconds` of loop time have passed. Returns the
    * timed wall: loop time minus the harness's own checks between ops. */
  def loop(w: Workload, rng: java.util.Random, records: mutable.ArrayBuffer[OpRecord]): Double = {
    val t0 = System.nanoTime()
    var checks = 0.0
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 - checks < args.seconds) {
      w.cycle(rng, n).foreach(op => checks += runOp(op, records))
      n += 1
    }
    (System.nanoTime() - t0) / 1e9 - checks
  }

  def run(w: Workload): mutable.Map[String, Any] = {
    val report = mutable.LinkedHashMap[String, Any]("workload" -> args.workload, "seed" -> args.seed)
    val setupS = (1 to w.setups).map { _ =>
      val t0 = System.nanoTime()
      newSession()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    report("setup_s") = setupS
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("prepare")(w.prepare())
    val rng = new java.util.Random(args.seed)
    val records = mutable.ArrayBuffer[OpRecord]()
    val host0 = Host.cpuTicks()
    if (!args.trace) {
      report("wall_s") = phase("loop")(loop(w, rng, records))
    } else {
      // An untraced segment on each side of the traced one: the JVM
      // keeps warming during a run, so the tracing overhead compares the
      // traced segment with the untraced ones around it.
      val plain = mutable.ArrayBuffer[OpRecord]()
      val before = loop(w, rng, plain)
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(events)
      tracing = true
      val cg0 = Codegen.totals()
      report("wall_s") = loop(w, rng, records)
      val cg1 = Codegen.totals()
      tracing = false
      drain()
      spark.sparkContext.removeSparkListener(events)
      spark.listenerManager.unregister(events)
      report("layers") = Layers.compute(this, w, records.toSeq, (cg1._1 - cg0._1, cg1._2 - cg0._2))
      writeSpans(s"${args.work}/spans.jsonl")
      report("untraced_wall_s") = before + loop(w, rng, plain)
      plain.foreach(_.info("segment") = "untraced")
      records.prependAll(plain)
    }
    report("host") = phase("host")(Host.context(host0, Host.cpuTicks(), spark, args.data))
    phase("finish")(w.finish(report))
    report("phase_s") = phases
    report("ops") = records.toSeq.map { r =>
      mutable.LinkedHashMap[String, Any]("id" -> r.id, "kind" -> r.kind, "ms" -> r.ms, "ok" -> r.ok,
        "error" -> r.error) ++ r.info
    }
    report("peak_rss_mb") = Host.peakRssMb()
    report
  }

  /** Every recorded span, one JSON object a line: harness spans (ops
    * and their build/plan/exec/... children) and Spark job spans. */
  private def writeSpans(path: String): Unit = {
    val lines = (spans ++ events.jobSpans).sortBy(_.startUs).map { s =>
      Json.render(Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent, "start_us" -> s.startUs,
        "end_us" -> s.endUs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** Wait until the listeners have seen everything the loop ran. */
  private def drain(): Unit = {
    spark.range(1).selectExpr(s"1 AS ${events.DrainColumn}").collect()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!events.drained && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

object Errors {
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)
    s"${e.getClass.getName}: $msg"
  }
}

/** Host context recorded beside each run (not metrics): /proc/stat
  * steal, busy and iowait fractions over the timed loop, and the CPU
  * and I/O canaries of `graft.Bench` at a size that fits one run. */
object Host {
  /** (steal, busy, iowait, total) ticks of the aggregate cpu line. */
  def cpuTicks(): (Long, Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      val iowait = if (f.length > 4) f(4) else 0L
      val steal = if (f.length > 7) f(7) else 0L
      val total = f.take(8).sum
      (steal, total - f(3) - iowait, iowait, total)
    } catch { case _: Exception => (-1L, -1L, -1L, -1L) }

  def context(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long), spark: SparkSession,
              data: String): Map[String, Any] = {
    val dt = (b._4 - a._4).toDouble
    val fr =
      if (a._1 < 0 || b._1 < 0 || dt <= 0) Map("steal_frac" -> -1.0, "busy_frac" -> -1.0, "iowait_frac" -> -1.0)
      else Map("steal_frac" -> (b._1 - a._1) / dt, "busy_frac" -> (b._2 - a._2) / dt,
        "iowait_frac" -> (b._3 - a._3) / dt)
    def median3(f: => Unit): Double = {
      val xs = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.sorted
      xs(1)
    }
    val cpu = median3(spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect())
    val biggest = new java.io.File(data).listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    val io = median3(spark.read.parquet(biggest.getPath)
      .selectExpr(s"bit_xor(xxhash64(*))", "count(*)").collect())
    fr ++ Map("canary_cpu_s" -> cpu, "canary_io_s" -> io, "canary_io_file" -> biggest.getName,
      "cpus" -> Runtime.getRuntime.availableProcessors())
  }

  /** Process peak resident set (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val kb = try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
      finally src.close()
      kb / 1024.0
    } catch { case _: Exception => -1.0 }
}

/** Minimal JSON rendering for the report. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Directory byte/file totals, read with java.io after an op. */
object Disk {
  def files(root: java.io.File): Seq[java.io.File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles()).toSeq.flatten.flatMap(files)

  /** (files, bytes) under `root`, Hadoop's `.crc` sidecars included. */
  def usage(root: String): (Long, Long) = {
    val fs = files(new java.io.File(root))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}
