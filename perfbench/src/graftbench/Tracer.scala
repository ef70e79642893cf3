package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One Spark job as the listener saw it, with the benchmark span that was
  * current on the submitting thread, the engine's own `graft:<op>:<phase>`
  * job description and the scheduler pool (table services run in
  * `graft-services`). Stage totals are folded in as stages complete. */
final class JobRec(val id: Int, val span: String, val desc: String,
    val pool: String, val startMs: Long) {
  @volatile var endMs: Long = -1
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inRecords = 0L
  var inBytes = 0L
  def wallS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

/** A span recorded around a call from the benchmark into one layer. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each layer, plus a Spark
  * listener that attributes jobs, tasks, task time, shuffle bytes, spill
  * and input rows to the span current on the submitting thread. The span
  * rides to the listener as a Spark local property, so it costs one
  * property write per span and nothing per job. Installed only in traced
  * runs; spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer.SpanProp
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[String]()

  sc.addSparkListener(this)

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(js.jobId, new JobRec(js.jobId, prop(SpanProp),
      prop("spark.job.description"), prop("spark.scheduler.pool"), js.time))
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val m = si.taskMetrics
      j.synchronized {
        j.tasks += si.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inRecords += m.inputMetrics.recordsRead
          j.inBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Run `f` inside span `name`: jobs it submits from this thread are
    * attributed to `name`. */
  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val prev = sc.getLocalProperty(SpanProp)
    stack.push(name)
    sc.setLocalProperty(SpanProp, name)
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanProp, prev)
      spanBuf.synchronized(spanBuf += Span(name, parent, t0, t1))
    }
  }

  /** Re-attribute this thread's next jobs to `name` without opening a span:
    * used from engine hooks that mark a boundary inside one call. */
  def attribute(name: String): Unit = sc.setLocalProperty(SpanProp, name)

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)

  /** Jobs started inside the wall-clock window, after the bus has
    * delivered everything posted so far. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .toSeq.sortBy(_.id)
  }

  /** Write the spans and jobs, one JSON object per line. */
  def dump(path: java.nio.file.Path, jobs: Seq[JobRec]): Unit = {
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s =>
      s"{\"span\": ${q(s.name)}, \"parent\": ${q(s.parent)}, \"start_ns\": ${s.startNs}, " +
        s"\"end_ns\": ${s.endNs}}") ++ jobs.map(j =>
      s"{\"job\": ${j.id}, \"span\": ${q(j.span)}, \"desc\": ${q(j.desc)}, " +
        s"\"pool\": ${q(j.pool)}, \"start_ms\": ${j.startMs}, \"end_ms\": ${j.endMs}, " +
        s"\"tasks\": ${j.tasks}, \"task_ms\": ${j.taskMs}, " +
        s"\"shuffle_write\": ${j.shuffleWrite}, \"shuffle_read\": ${j.shuffleRead}, " +
        s"\"spill\": ${j.spill}, \"in_records\": ${j.inRecords}, \"in_bytes\": ${j.inBytes}}")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Seconds of the window during which at least one job was running. */
  def busySeconds(js: Seq[JobRec], fromMs: Long, toMs: Long): Double = {
    val iv = js.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    busy / 1e3
  }
}
