package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `file://` filesystem that counts the Hadoop FS calls made through it.
  * Traced runs register it (see `perfbench-trace-site.xml`); calls made
  * with `java.io`/`java.nio` directly bypass it and are not counted. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.calls
  override def listStatus(f: Path): Array[FileStatus] = { calls(0).incrementAndGet(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    calls(1).incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    calls(2).incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { calls(3).incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    calls(4).incrementAndGet(); super.delete(f, recursive)
  }
  override def exists(f: Path): Boolean = { calls(5).incrementAndGet(); super.exists(f) }
}

object CountingLocalFs {
  val names: Seq[String] = Seq("list", "open", "create", "rename", "delete", "exists")
  val calls: IndexedSeq[AtomicLong] = names.map(_ => new AtomicLong).toIndexedSeq
  def snapshot(): Seq[Long] = calls.map(_.get)
}

/** One traced interval. Times are epoch microseconds so harness spans
  * and Spark's job events (epoch milliseconds) share one clock. */
final case class Span(name: String, op: Long, parent: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Per-op Spark counters gathered by [[SparkEvents]]. */
final class OpCounters {
  var actions, jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, inputBytes, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
}

/** Spark listener + query-execution listener that attribute jobs, stages,
  * task metrics and planning phases to the op that ran them. Jobs carry
  * the op id as a local property; actions and their planning phases are
  * attributed by time, since ops run one at a time. Only public listener
  * APIs. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  val OpProperty = "perfbench.op"
  val DrainColumn = "perfbench_drain"
  private val stageOp = mutable.Map[Int, Long]()
  private val jobOp = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  val jobSpans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[Long, OpCounters]()
  @volatile var drained = false

  private def of(op: Long): OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(-1L)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageOp(s) = op)
    of(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, -1L)
    jobSpans += Span("job", op, "op", jobStart.getOrElse(e.jobId, e.time) * 1000L, e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = of(stageOp.getOrElse(info.stageId, -1L))
    c.stages += 1
    c.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** (time, analysis, optimization, planning ms) of every observed
    * action; attributed to ops once the run has drained. */
  val actions = mutable.ArrayBuffer[(Long, Long, Long, Long)]()

  private def record(qe: QueryExecution): Unit = synchronized {
    if (qe.analyzed.output.exists(_.name == DrainColumn)) { drained = true; return }
    val phases = qe.tracker.phases
    val atUs = phases.get("planning").orElse(phases.values.headOption)
      .map(_.startTimeMs * 1000L).getOrElse(Clock.nowUs)
    def ms(name: String): Long = phases.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    actions += ((atUs, ms("analysis"), ms("optimization"), ms("planning")))
  }

  /** Attribute every recorded action to the op whose window holds it
    * (ops run one at a time; 1 ms slack for the millisecond clock). */
  def attributeActions(ops: Seq[(Long, Long, Long)]): Unit = synchronized {
    val sorted = ops.sortBy(_._2).toIndexedSeq
    actions.foreach { case (at, a, o, p) =>
      sorted.find { case (_, s, e) => at >= s - 1000 && at <= e + 1000 }.foreach { case (op, _, _) =>
        val c = of(op)
        c.actions += 1
        c.analysisMs += a
        c.optimizationMs += o
        c.planningMs += p
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Spark codegen totals, read reflectively: the counters are public in
  * the bytecode but not part of Spark's documented API. */
object Codegen {
  private def module(cls: String): AnyRef =
    Class.forName(cls + "$").getField("MODULE$").get(null)

  /** (total compile nanos, generated classes so far) for this JVM. */
  def totals(): (Long, Long) =
    try {
      val gen = module("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      val ns = gen.getClass.getMethod("compileTime").invoke(gen).asInstanceOf[Long]
      val metrics = module("org.apache.spark.metrics.source.CodegenMetrics")
      val hist = metrics.getClass.getMethod("METRIC_GENERATED_CLASS_BYTECODE_SIZE").invoke(metrics)
        .asInstanceOf[com.codahale.metrics.Histogram]
      (ns, hist.getCount)
    } catch { case _: ReflectiveOperationException => (0L, 0L) }
}

/** Interval arithmetic for self times and driver gaps. */
object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def unionLen(xs: scala.collection.Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
