package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, seed: Long, work: String, cores: Int)

/** One closed-loop workload: one client thread issues the next operation
  * only after the previous one returned. */
trait Workload {
  /** Latencies of the operations `op_p50_ms` reports, in the order they ran. */
  def primary(log: OpLog): Seq[Double]
  /** Operations in one period of the workload's schedule. A segment runs
    * whole periods, so every run measures the same mix of operations. */
  def period: Int
  /** Set-ups per run; set-up time is their median. */
  def reps: Int = 3
  /** Untimed: build the benchmark's own model of the inputs. */
  def prepare(): Unit = ()
  /** Generate the inputs and build the tables or indexes under a fresh
    * directory; only the last set-up (`keep`) stays for the loop. */
  def setup(rep: Int, keep: Boolean): Unit
  /** Untimed operations that let codegen, JIT and caches settle. */
  def warmup(log: OpLog): Unit
  /** The `i`-th operation of the loop. */
  def step(i: Long, log: OpLog, tr: Option[Tracer]): Unit
  /** Work the loop left running (asynchronous services); part of the
    * segment's wall time. */
  def drain(log: OpLog, tr: Option[Tracer]): Unit = ()
  /** The workload's own end-to-end metrics, by the names of its design. */
  def named(log: OpLog, r: Report): Unit
  /** Per-layer metrics of a traced segment. */
  def layers(log: OpLog, tr: Tracer, jobs: Seq[JobRec], r: Report): Unit
  /** Checks after the loop; each adds to `r.attempted` and on mismatch to
    * `r.failed`. */
  def finish(r: Report): Unit
  /** Bytes on disk of the workload's tables over the bytes of a plain
    * parquet write of their current contents. */
  def storageAmplification(): Double
  /** Close writers, await their services and drop the tables. Throws on
    * any error: teardown failures are failed operations. */
  def teardown(): Unit
}

object Workload {
  def span[T](tr: Option[Tracer], name: String)(f: => T): T =
    tr match { case Some(t) => t.span(name)(f); case None => f }
}

object Main {
  val Workloads = Seq("cow_cdc_ingest", "mor_query_mix", "corpus_dedup_ann")

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this process (Spark runs in it, local mode). */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val name = opt("--workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val work = opt("--work")
    val cores = Runtime.getRuntime.availableProcessors

    val r = new Report
    Layers.names.foreach { case (k, u) => r.layer(k) = (0.0, u) }
    val t0 = System.nanoTime()
    val spark = Session.start(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, seed, work, cores)
    val w: Workload = name match {
      case "cow_cdc_ingest" => new CowIngest(ctx)
      case "mor_query_mix" => new MorMix(ctx)
      case "corpus_dedup_ann" => new CorpusDedupAnn(ctx)
    }
    r.notes += s"workload $name seed $seed: closed loop, one client thread, " +
      s"spark local[$cores], ${seconds}s per measured segment"
    var tornDown = false
    try {
      w.prepare()
      val builds = (0 until w.reps).map { rep =>
        val b0 = System.nanoTime()
        w.setup(rep, keep = rep == w.reps - 1)
        (System.nanoTime() - b0) / 1e9
      }
      val warm = new OpLog
      val w0 = System.nanoTime()
      w.warmup(warm)
      val warmupS = (System.nanoTime() - w0) / 1e9
      r.attempted += warm.attempted; r.failed += warm.failed
      val setupS = sessionS + Stats.median(builds) + warmupS
      r.notes += f"set-up: session $sessionS%.3f s + median of ${builds.size} builds " +
        builds.map(b => f"$b%.3f").mkString("(", ", ", ")") +
        f" + warm-up $warmupS%.3f s = $setupS%.3f s"

      def segment(tr: Option[Tracer], secs: Double): OpLog = {
        val log = new OpLog
        log.startNs = System.nanoTime()
        val deadline = log.startNs + (secs * 1e9).toLong
        var i = 0L
        while ((i % w.period != 0 || System.nanoTime() < deadline) && log.failed == 0) {
          w.step(i, log, tr); i += 1
        }
        w.drain(log, tr)
        log.endNs = System.nanoTime()
        r.attempted += log.attempted; r.failed += log.failed
        log
      }

      // a traced run splits the untraced time around the traced segment,
      // so JVM warm-up does not pass for tracing overhead
      val gc0 = gcSeconds()
      val plain = segment(None, if (trace) seconds / 2.0 else seconds)
      val all = plain.all
      val prim = w.primary(plain)
      require(prim.nonEmpty, s"no primary operation completed in ${seconds}s")
      r.notes += f"${all.size} operations in ${plain.wallS}%.3f s; op_p50_ms over ${prim.size}"
      r.e2e("setup_s") = (setupS, "s")
      r.e2e("op_p50_ms") = (Stats.median(prim) * 1e3, "ms")
      r.e2e("ops_per_s") = (all.size / plain.wallS, "1/s")
      w.named(plain, r)
      r.named("setup_s") = (setupS, "s")

      if (trace) {
        val tracer = new Tracer(spark)
        val gcT = gcSeconds()
        val fromMs = System.currentTimeMillis()
        val traced = segment(Some(tracer), seconds)
        val toMs = System.currentTimeMillis()
        val jobs = tracer.jobsIn(fromMs, toMs)
        val wall = traced.wallS
        val busy = Tracer.busySeconds(jobs, fromMs, toMs)
        val taskS = jobs.map(_.taskMs).sum / 1e3
        def set(k: String, v: Double): Unit = LayerFill.set(r, k, v)
        set("spark.jobs", jobs.size)
        set("spark.tasks", jobs.map(_.tasks).sum.toDouble)
        set("spark.task_s", taskS)
        set("spark.core_utilization", taskS / (wall * cores))
        set("spark.driver_gap_s", math.max(0.0, wall - busy))
        set("spark.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble)
        set("spark.spill_bytes", jobs.map(_.spill).sum.toDouble)
        set("jvm.gc_s", gcSeconds() - gcT)
        set("harness.session_s", sessionS)
        set("harness.warmup_s", warmupS)
        val tPrim = w.primary(traced)
        val tOps = traced.all.size / traced.wallS
        w.layers(traced, tracer, jobs, r)
        tracer.close()
        tracer.dump(java.nio.file.Paths.get(work, "trace.jsonl"), jobs)
        val after = segment(None, seconds / 2.0)
        val uPrim = prim ++ w.primary(after)
        val uOps = (all.size + after.all.size) / (plain.wallS + after.wallS)
        set("trace.untraced_op_p50_ms", Stats.median(uPrim) * 1e3)
        set("trace.traced_op_p50_ms", Stats.median(tPrim) * 1e3)
        set("trace.overhead_op_p50_frac", Stats.median(tPrim) / Stats.median(uPrim) - 1)
        set("trace.overhead_ops_per_s_frac", 1 - tOps / uOps)
        r.notes += f"tracing overhead: op p50 ${Stats.median(uPrim) * 1e3}%.2f ms untraced " +
          f"(before and after), ${Stats.median(tPrim) * 1e3}%.2f ms traced"
      } else r.named("jvm.gc_s") = (gcSeconds() - gc0, "s")

      w.finish(r)
      r.e2e("storage_amplification") = (w.storageAmplification(), "ratio")
      r.named("storage_amplification") = r.e2e("storage_amplification")
      r.named("peak_rss_mb") = (peakRssMb(), "MB")
      tornDown = true
      r.attempted += 1
      try w.teardown()
      catch { case e: Throwable =>
        r.failed += 1
        System.err.println(s"[graftbench] teardown failed: $e")
        e.printStackTrace()
      }
      // what the engine left pinned once the workload released its own
      val persisted = spark.sparkContext.getPersistentRDDs.size.toDouble
      LayerFill.set(r, "spark.persisted_rdds_end", persisted)
      r.named("spark.persisted_rdds_end") = (persisted, "count")
    } catch { case e: Throwable =>
      r.failed += 1
      System.err.println(s"[graftbench] run failed: $e")
      e.printStackTrace()
      if (!tornDown) try w.teardown() catch { case t: Throwable =>
        System.err.println(s"[graftbench] teardown after failure failed: $t") }
    }
    r.named("failed_op_frac") = (Stats.ratio(r.failed, r.attempted), "ratio")
    r.printAll(name, trace)
    Console.out.flush()
    spark.stop()
    sys.exit(if (r.correct && r.e2e.size == 4) 0 else 1)
  }
}
