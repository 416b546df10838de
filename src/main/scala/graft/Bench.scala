package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Materialization is a `noop` sink write — unlike `count()`, which
  * lets Catalyst prune projections to nothing, noop forces every
  * output column of every operator to actually evaluate.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")

    // Median of 3 timed iterations per query: this host shows multi-
    // second systemwide stalls (VM CPU steal) that made single-shot
    // numbers vary 3–40s run-to-run; the median discards one bad draw.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // The write-artifact phase runs ONCE by default (r16): its ~500 s
    // of per-median store/drill lifecycles at 3 iterations pushed the
    // whole suite's wall past the driver's bench timeout (BENCH_r15
    // came back rc=124 with the kill landing mid-FileFormatWriter).
    // Write-family numbers are churn-noisy at any iteration count —
    // regressions there are adjudicated with focused ITERS=10 runs,
    // not read off the suite — so the suite pays for robust COMPUTE
    // medians and a single honest write sample. `write_iters` rides
    // in the JSON so round-over-round readers know the definition.
    val writeIters =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WRITE_ITERS", "1").toInt

    // Host-contention telemetry: this VM shows multi-second CPU-steal
    // storms (NOTES r2–r5) that forced manual adjudication runs for
    // every suspicious number. Sampling /proc/stat around each
    // iteration bakes the adjudication into every run: a slow
    // iteration with high steal/busy-fraction is a storm, one with a
    // quiet host is a regression. Fields: aggregate cpu line ticks
    // (USER_HZ=100) — (steal, busy=total-idle-iowait, total).
    // iowait is reported SEPARATELY from busy: the r6 storm showed
    // queries crawling at busy≈0.03 with steal≈0 — the host idle but
    // the disk stalled. A slow iteration classifies as (a) regression
    // when busy is high and steal/iowait low, (b) CPU storm when
    // steal is high, (c) I/O storm when iowait is high with busy low.
    def cpuTicks(): (Long, Long, Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
        val iowait = if (f.length > 4) f(4) else 0L
        val idle = f(3) + iowait
        val steal = if (f.length > 7) f(7) else 0L
        // Only user..steal (first 8 fields): guest/guest_nice are
        // already folded into user, so a full sum double-counts them
        // on hosts running nested guests.
        val total = f.take(8).sum
        (steal, total - idle, iowait, total)
      } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }

    // Every failure is named on stderr and kept (first one per label)
    // for the full line: a crashing query reads -1 and drops out of
    // `total`, so an unnamed failure would read as a faster suite.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(label: String, e: Throwable): Unit = {
      val head = Verify.failureHead(e)
      System.err.println(s"[bench] $label failed: $head")
      if (!failed.contains(label)) failed(label) = head
    }

    // One measured iteration: (seconds, host steal seconds during it,
    // host busy fraction, host iowait fraction). Telemetry is -1 when
    // /proc/stat is unavailable or the query errored.
    def once(q: QuerySpec): (Double, Double, Double, Double) = {
      val (s0, b0, w0, t0ticks) = cpuTicks()
      val t0 = System.nanoTime()
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => fail(q.name, e); return (-1.0, -1.0, -1.0, -1.0) }
      val sec = (System.nanoTime() - t0) / 1e9
      val (s1, b1, w1, t1ticks) = cpuTicks()
      if (s0 < 0 || s1 < 0 || t1ticks <= t0ticks) (sec, -1.0, -1.0, -1.0)
      else (sec, (s1 - s0) / 100.0,
        (b1 - b0).toDouble / (t1ticks - t0ticks),
        (w1 - w0).toDouble / (t1ticks - t0ticks))
    }
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.sorted.apply((ok.size - 1) / 2)
    }

    // Bench-only extra: the kernel encode at a REALISTIC ranks-map
    // size. The driver corpus's 31-word vocabulary saturates training
    // at ~90 merges, so the artifact is corpus merges to saturation
    // plus never-matching padding pairs up to 300 entries — the
    // padding exercises map SIZE (the x-vs-q114 comparison pins that
    // lookup cost is flat in vocabulary), the saturated merges
    // exercise full cascade depth. Trained once here (driver-side
    // artifact, like every tokenizer build — ~90 rounds, reported as
    // its own field) and skipped entirely when a focus list excludes
    // the x-line; the x-line itself measures encode only.
    val wantFull = SparkEntry.selected("x90_bpe_encode_fullvocab")
    val tBpe0 = System.nanoTime()
    val fullMerges =
      if (!wantFull) Seq.empty
      else {
        val real = graft.operators.Bpe.learnMerges(
          graft.Tables.t(spark, sfDir, "documents"), "text", 400)
        val pad = (real.length until 300).map(i => (s"Z_$i", "Z_pad"))
        real ++ pad
      }
    val bpeTrainSec = if (wantFull) (System.nanoTime() - tBpe0) / 1e9 else -1.0
    // Bench-only: no oracle, never in the registry.
    val extra =
      if (!wantFull) Seq.empty
      else Seq(QuerySpec("x90_bpe_encode_fullvocab", (s, d) => {
        import org.apache.spark.sql.functions._
        val toks = graft.functions.TextFunctions.bpeEncode(col("text"), fullMerges)
        graft.Tables.t(s, d, "documents").select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          array_join(toks, " ").as("toks"))
      }, oracle = ""))

    // Write-artifact queries (`writes`: per-call file/table writes —
    // shard writers, sealed append/repair, saved-tokenizer/codebook/
    // index lifecycles, media stores) run as a SECOND phase after
    // every compute query has measured: their disk churn (page-cache
    // eviction, writeback) was the leading confound in round-over-
    // round compute readings (the r10 q152/q138 in-registry rises
    // adjudicated to exactly this), so the compute family now
    // measures before the churn starts. Within each phase the order
    // stays alphabetical.
    val selected = (SparkEntry.registry.filter(q => SparkEntry.selected(q.name)) ++ extra)
      .sortBy(q => (q.writes, q.name))

    // Warm up every COMPUTE query once at the smallest SF: whole-stage
    // codegen compilation (janino) dominates first runs by seconds;
    // medians of 3 should reflect steady-state execution. Timed into
    // the JSON — the warmup is part of the suite's wall budget. The
    // write-artifact family is NOT warmed (r16): it is measured once,
    // so a warmup pass just runs every store/drill lifecycle twice —
    // it was the bulk of the 680 s warmup that helped push r15 past
    // the driver timeout. Their single sample carries their own
    // codegen compile, which is honest for a family whose numbers
    // are adjudicated with focused runs, never read off the suite.
    val tWarm0 = System.nanoTime()
    selected.filterNot(_.writes).foreach { q =>
      try q.run(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => fail(s"warmup/${q.name}", e) }
    }
    val warmupSec = (System.nanoTime() - tWarm0) / 1e9
    // Drop warmup-SF cached intermediates so measurement starts clean.
    SparkEntry.clearCaches(spark)

    // One-time shared-intermediate builds (shingle/signature tables,
    // CC labels, IVF index) timed as their OWN line item: per-query
    // medians then measure steady-state cost, instead of q17's first
    // iteration silently carrying the build that q18/q19 reuse.
    val (cs0, _, _, ct0) = cpuTicks()
    val tCache0 = System.nanoTime()
    try {
      graft.operators.TextPipelineQueries.warmCaches(spark, sfDir)
      graft.multimodal.MultimodalQueries.warmCaches(spark, sfDir)
    } catch { case e: Throwable => fail("cache_build", e) }
    val cacheBuild = (System.nanoTime() - tCache0) / 1e9
    val (cs1, _, _, _) = cpuTicks()
    val cacheSteal = if (cs0 < 0 || cs1 < 0) -1.0 else (cs1 - cs0) / 100.0

    // Host-speed canary: a fixed CPU-bound, I/O-free workload (median
    // of 3). Round-over-round comparisons divide per-query medians by
    // the canary ratio before calling anything a regression — the r8
    // lesson, where every query read ~1.6-2x slower on a drifted host
    // with steal=0 and nothing in any plan changed.
    val canarySec = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    })

    // I/O-side canary: a fixed ~11 MB parquet scan (sf0.1 lineitem,
    // OS-cached after the first touch on a healthy host). The CPU
    // canary is blind to storage stalls — the r6 iowait storm and the
    // r8 "invisible stall" (busy≈0.04, steal 0) both slowed reads
    // while range()+sum stayed fast. Two canaries bound both axes:
    // slow queries + fast canaries = regression; slow CPU canary =
    // compute storm; slow IO canary = storage storm.
    val canaryIoSec = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .selectExpr("bit_xor(xxhash64(l_orderkey, l_partkey, l_returnflag, " +
          "l_shipdate, l_extendedprice))", "sum(l_quantity)").collect()
      (System.nanoTime() - t0) / 1e9
    })

    val results = selected.map { q =>
      q.name -> (1 to (if (q.writes) writeIters else iters)).map(_ => once(q))
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":${median(v.map(_._1))}%.3f" }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(x => f"${x._1}%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val steals = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(x => f"${x._2}%.2f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val busys = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(x => f"${x._3}%.2f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val iowaits = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(x => f"${x._4}%.2f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(r => median(r._2.map(_._1))).filter(_ >= 0).sum
    // Phase split: compute-family and write-artifact totals reported
    // separately so round-over-round compute comparisons stay clean.
    val writeNames = selected.filter(_.writes).map(_.name).toSet
    val writeTotal = results.filter(r => writeNames(r._1))
      .map(r => median(r._2.map(_._1))).filter(_ >= 0).sum
    val computeTotal = total - writeTotal
    SparkEntry.clearCaches(spark)
    // Two renderings of the same run, split by audience. stdout gets
    // ONLY the compact medians line (the driver contract): rounds 5-8
    // all came back `parsed: null` because the driver's stdout-tail
    // capture truncated the full line once the four per-iteration
    // telemetry maps pushed it past ~20 KB. The full line — telemetry
    // included — goes to the SPARK_GRAFT_BENCH_OUT file only, where
    // adjudication reads it.
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","compute_sec":$computeTotal%.3f,"write_phase_sec":$writeTotal%.3f,"iters":$iters,"write_iters":$writeIters,"warmup_sec":$warmupSec%.3f,"canary_sec":$canarySec%.3f,"canary_io_sec":$canaryIoSec%.3f,"bpe_full_train_sec":$bpeTrainSec%.3f,"cache_build_sec":$cacheBuild%.3f,"cache_build_steal_sec":$cacheSteal%.2f,"queries":$qs"""
    val compact = s"""{$head,"sf":"$sfDir"}"""
    val failedJson = Verify.jsonObject(failed)
    val full = s"""{$head,"n_failed":${failed.size},"failed":$failedJson,"queries_iters":$spreads,"queries_steal_sec":$steals,"queries_busy_frac":$busys,"queries_iowait_frac":$iowaits,"sf":"$sfDir"}"""
    // A ≤200-byte summary object with the headline numbers only, for
    // humans tailing the log — printed to STDERR before and after the
    // contract line so stdout carries EXACTLY one JSON line. (Rounds
    // 1-16 all came back `parsed: null`: sbt's LoggedOutput prefixed
    // every stdout line with "[info] " — fixed in build.sbt via
    // StdoutOutput — and the r16 layout additionally printed summary
    // lines without a `queries` map to stdout, which a last-JSON-line
    // parser could latch onto. Old per-query numbers are unchanged;
    // only the rendering destination moved.)
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","compute_sec":$computeTotal%.3f,"write_phase_sec":$writeTotal%.3f,"n_queries":${results.size},"n_failed":${failed.size},"iters":$iters,"write_iters":$writeIters,"warmup_sec":$warmupSec%.3f,"canary_sec":$canarySec%.3f,"canary_io_sec":$canaryIoSec%.3f,"sf":"$sfDir"}"""
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))
    try java.nio.file.Files.write(outPath, (full + "\n").getBytes("UTF-8"))
    catch {
      case e: java.io.IOException =>
        System.err.println(s"WARN: bench telemetry not persisted to $outPath: $e")
    }
    System.err.println(summary)
    println(compact)
    System.err.println(summary)
    spark.stop()
  }
}
