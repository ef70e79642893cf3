package graft

import org.apache.spark.graftbridge.BusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Dev tool: run SparkEntry queries (the GraftSession regime) and print,
  * per query, its formatted physical plan and a listener's breakdown of
  * every Spark job's wall time, stage task-time and description —
  * attributes a slow query's seconds to its jobs.
  * `runMain graft.ProfileOne lake_upsert_snapshot` (SPARK_GRAFT_SF_DIR
  * selects the data dir, default sf0.1; first run is warmup at sf0.001,
  * second absorbs sf-shape codegen, third is the reported one). */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()
    args.foreach(name => println(report(spark, name, sfDir)))
    spark.stop()
  }

  def report(spark: SparkSession, name: String, sfDir: String): String = {
    val fn = SparkEntry.queries(name)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, Double, String)]()
    val stageTask = new java.util.concurrent.atomic.AtomicLong(0)
    // SQL execution spans (SparkListenerSQLExecutionStart/End): wall time
    // INSIDE executions vs the job wall splits the driver-side gap into
    // "Spark planning/AQE within an action" vs "between-action work"
    // (timeline I/O, footer reads, collect post-processing)
    val execSpans = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val execDone = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    // written by this thread, read by the listener-bus thread; the bus is
    // drained before each flip so no job straddles the timed run's edges
    @volatile var enabled = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (enabled) e match {
          case s: SparkListenerSQLExecutionStart =>
            execSpans.put(s.executionId, s.time)
          case s: SparkListenerSQLExecutionEnd =>
            Option(execSpans.get(s.executionId)).foreach { t0 =>
              execDone.add((s.executionId, (s.time - t0) / 1e3))
            }
          case _ =>
        }
      override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (enabled) {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, nt) =>
          done.add((je.jobId, (je.time - t0) / 1e3, desc, nt))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (enabled) {
          stageTask.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
          val si = sc.stageInfo
          val wall = (for (a <- si.completionTime; b <- si.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          stages.add((si.stageId, wall, si.numTasks,
            si.taskMetrics.executorRunTime / 1e3, si.name))
        }
    }
    val sc = spark.sparkContext
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    sc.addSparkListener(listener)
    val (df, rows, wall) = try {
      fn(spark, warmDir).count() // warmup: JIT + codegen
      fn(spark, sfDir).count()   // first sf pass absorbs sf-shape codegen
      BusBridge.drain(sc); enabled = true
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val rows = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      BusBridge.drain(sc); enabled = false
      (df, rows, wall)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    line(s"========== $name ==========")
    line(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    line(f"========== $name: $wall%.2f s wall, $rows rows, " +
      f"${done.size} jobs, ${stageTask.get / 1e3}%.1f s task-time ==========")
    val byId = done.asScala.toSeq.sortBy(_._1)
    val totalJob = byId.map(_._2).sum
    line(f"  sum(job wall) = $totalJob%.2f s; gap (driver-side) = ${wall - totalJob}%.2f s")
    val execs = execDone.asScala.toSeq.sortBy(_._1)
    val totalExec = execs.map(_._2).sum
    line(f"  ${execs.size} SQL executions, sum(exec wall) = $totalExec%.2f s; " +
      f"outside-execution gap = ${wall - totalExec}%.2f s; " +
      f"in-execution non-job = ${totalExec - totalJob}%.2f s (if executions don't nest/overlap)")
    execs.sortBy(-_._2).take(12).foreach { case (id, sec) =>
      line(f"  exec $id%4d  $sec%6.3f s")
    }
    byId.foreach { case (id, sec, desc, nt) =>
      line(f"  job $id%3d  $sec%6.3f s  $nt%4d tasks  ${desc.take(110)}")
    }
    line("  -- slowest stages (wall s / tasks / task-time s / site) --")
    stages.asScala.toSeq.sortBy(-_._2).take(20).foreach {
      case (id, wall, nt, tt, nm) =>
        line(f"  stage $id%4d  $wall%6.3f s  $nt%4d t  $tt%6.1f tt  ${nm.take(100)}")
    }
    out.toString
  }
}
