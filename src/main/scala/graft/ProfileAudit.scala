package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch per-job profiler main (not part of the driver contract —
  * the measurement side of an optimization pass): runs the queries
  * named in SPARK_GRAFT_ONLY under the Bench session and prints each
  * one's formatted plan, then every Spark job's wall seconds with its
  * callsite, so a multi-action lifecycle query's cost can be
  * attributed line by line. Each query runs twice by default — the
  * first run carries codegen compilation, the second is steady state;
  * the split between them IS the compile share. */
object ProfileAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        jobs.put(js.jobId, (site, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(je.jobId)
        if (st != null)
          done.add((je.jobId, st._1, (je.time - st._2) / 1000.0))
      }
    })

    // Per-ACTION attribution: funcName + executed-plan head + duration
    // (includes that action's planning time, which the job listener
    // misses). localCheckpoint materializations are RDD jobs and do
    // not fire here — the job listener still counts their time.
    val acts = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = {
          val root = qe.executedPlan
          val head = root.nodeName + (root.collectLeaves().map(_.nodeName)
            .groupBy(identity).map { case (k, v) => s"${v.size}x$k" }
            .mkString(" [", " ", "]"))
          val rel = root.toString.linesIterator
            .find(l => l.contains("parquet ") || l.contains(".text") ||
              l.contains("graft_"))
            .map(_.trim.take(100)).getOrElse("")
          acts.add((s"$funcName: $head $rel".take(160),
            durationNs / 1e9))
        }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })

    val names = SparkEntry.only.getOrElse(Seq.empty)
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    names.foreach { n =>
      (1 to reps).foreach { r =>
        done.clear()
        acts.clear()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        // The plan is printed on run 1 and its time left out of the
        // wall: the write below plans its own QueryExecution anyway.
        val p0 = System.nanoTime()
        if (r == 1) {
          println(s"========== $n plan ==========")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        }
        val planNs = System.nanoTime() - p0
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0 - planNs) / 1e9
        Thread.sleep(300) // let the listener bus drain
        println(f"========== $n run $r: $wall%.2f s ==========")
        val rows = done.toArray(Array.empty[(Int, String, Double)])
        val byJob = rows.sortBy(-_._3).take(30)
        byJob.foreach { case (id, site, s) =>
          println(f"  $s%7.3f s  job=$id%-4d $site")
        }
        val bySite = rows.groupBy(_._2).map { case (k, v) =>
          (k, v.map(_._3).sum, v.length)
        }.toSeq.sortBy(-_._2)
        println(f"  --- by callsite (jobs=${rows.length}, job-sum=${rows.map(_._3).sum}%.2f s) ---")
        bySite.take(25).foreach { case (site, s, c) =>
          println(f"  $s%7.3f s  n=$c%-3d $site")
        }
        val arows = acts.toArray(Array.empty[(String, Double)])
        val byAct = arows.groupBy(_._1).map { case (k, v) =>
          (k, v.map(_._2).sum, v.length)
        }.toSeq.sortBy(-_._2)
        println(f"  --- by action (n=${arows.length}, act-sum=${arows.map(_._2).sum}%.2f s) ---")
        byAct.take(30).foreach { case (a, s, c) =>
          println(f"  $s%7.3f s  n=$c%-3d $a")
        }
      }
    }
    spark.stop()
  }
}
