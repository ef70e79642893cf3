package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.table.GraftTable

/**
 * One per-table ingest lane of the multi-topic streamer: a pull source
 * (typically [[KafkaLikeSource.forTable]] over one topic), the target
 * table, and the table's own transform chain / write operation — the
 * re-expression of the reference fork's per-table config object (ref:
 * hudi-flink-datasource/.../streamer/HoodieMuiltiTableFlinkStreamer.java:92
 * "each hudi table must use different config object": per-table kafka
 * config, schema, transform, hudi config inside ONE job; also
 * hudi-utilities/.../HoodieMultiTableDeltaStreamer.java).
 */
case class IngestLane(
    table: GraftTable,
    source: () => Option[(String, DataFrame)],
    transformerSql: Option[String] = None,
    transforms: Seq[DataFrame => DataFrame] = Nil,
    operation: String = "upsert",
    compactEvery: Int = 0,
    cleanRetainVersions: Int = 0,
    archiveKeepLast: Int = 0)

/**
 * Bounded concurrent stepping for independent ingest lanes (ref:
 * HoodieMuiltiTableFlinkStreamer.java:92 — the reference runs the
 * per-table pipelines as CONCURRENT operators of one Flink job; a
 * sequential sweep lets one slow lane — a deep backlog, a slow JDBC pull —
 * starve every other lane's lag). Lanes are independent per-(topic, table)
 * exactly-once commits, so stepping them concurrently is safe by
 * construction; two lanes that target the SAME table serialize through
 * the engine's optimistic concurrency control like any two writers.
 */
private[streaming] object ConcurrentLanes {
  def newPool(parallelism: Int, name: String): java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(parallelism,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val th = new Thread(r, s"graft-$name-sweep-${n.incrementAndGet()}")
          th.setDaemon(true)
          th
        }
      })

  /** Step every lane once, concurrently; returns how many ingested a
    * batch. Spark local properties are per-thread, so each worker re-sets
    * the CALLER's FAIR scheduler pool before stepping — lane jobs stay in
    * the caller's (ingest) pool instead of silently landing in default.
    * Every lane finishes its step even when a sibling throws (a failing
    * lane must never abandon another lane's in-flight commit); the first
    * failure then propagates, matching the sequential sweep's contract. */
  def stepAll(pool: java.util.concurrent.ExecutorService,
      lanes: Seq[(org.apache.spark.SparkContext, () => Option[String])]): Int = {
    if (lanes.isEmpty) return 0
    val callerPool = lanes.head._1.getLocalProperty("spark.scheduler.pool")
    val futures = lanes.map { case (sc, step) =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          sc.setLocalProperty("spark.scheduler.pool", callerPool)
          step().isDefined
        }
      })
    }
    var failure: Throwable = null
    var n = 0
    futures.foreach { f =>
      try { if (f.get()) n += 1 }
      catch {
        case e: java.util.concurrent.ExecutionException =>
          if (failure == null) failure = e.getCause
      }
    }
    if (failure != null) throw failure
    n
  }
}

/**
 * The fork's headline feature end-to-end: N topics sunk into N Graft
 * tables by ONE driver loop (ref: HoodieMuiltiTableFlinkStreamer /
 * HoodieFlinkStreamerWithApollo — one Flink job builds a kafka source +
 * hudi sink per config entry; hudi-utilities
 * HoodieMultiTableDeltaStreamer.sync() loops tables in one process).
 *
 * Each lane is a full [[ContinuousIngest]]: its checkpoint rides in its
 * own table's commit metadata (`kafka:<topic>,p:o,...` when the source is
 * topic-labelled), so exactly-once is PER (topic, table) — one lagging
 * topic keeps pulling bounded batches while drained lanes report dry, a
 * crash replays only the unfinished lanes' ranges, and a restarted
 * streamer resumes every lane from its own offsets with no cross-talk.
 *
 * 100 TB posture: the sweep is driver-side orchestration only — each
 * lane's pull is a bounded distributed batch; table services stay
 * per-lane (scheduled on the loop, executed on each lane's background
 * thread). `parallelism > 1` steps lanes on a bounded thread pool
 * ([[ConcurrentLanes]] — the reference's concurrent-operators shape), so
 * one slow lane's pull or write no longer delays every other lane's
 * commit; exactly-once is untouched because each lane's checkpoint rides
 * in its own table's commit metadata.
 */
class MultiTopicIngest(lanes: Seq[IngestLane],
    parallelism: Int = 1) extends AutoCloseable {
  require(lanes.nonEmpty, "at least one ingest lane")
  require(parallelism >= 1, "parallelism must be >= 1")

  private val ingests = lanes.map(l => new ContinuousIngest(l.table, l.source,
    l.transformerSql, l.transforms, l.operation, l.compactEvery,
    l.cleanRetainVersions, l.archiveKeepLast))

  private val sweepPool =
    if (parallelism <= 1 || lanes.size <= 1) None
    else Some(ConcurrentLanes.newPool(
      math.min(parallelism, lanes.size), "multitopic"))

  /** One round-robin sweep: step every lane once — concurrently when
    * `parallelism > 1`. Returns the number of lanes that ingested a batch
    * (0 = all dry). */
  def sweep(): Int = sweepPool match {
    case None => ingests.count(_.step().isDefined)
    case Some(p) => ConcurrentLanes.stepAll(p,
      lanes.zip(ingests).map { case (l, i) =>
        (l.table.spark.sparkContext, () => i.step())
      })
  }

  /** Sweep until every lane reports dry in the same sweep — the one-shot
    * (non-continuous) mode. Returns total batches ingested. */
  def drainAll(): Long = {
    var total = 0L
    var n = sweep()
    while (n > 0) { total += n; n = sweep() }
    total
  }

  @volatile private var stopped = false
  def stop(): Unit = { stopped = true; ingests.foreach(_.stop()) }

  /** Continuous mode: sweep forever, sleeping `idleMs` when every lane is
    * dry (ref: deltastreamer --continuous min-sync-interval). */
  def run(maxBatches: Long = Long.MaxValue, idleMs: Long = 1000): Long = {
    var total = 0L
    while (!stopped && total < maxBatches) {
      val n = sweep()
      total += n
      if (n == 0 && !stopped) Thread.sleep(idleMs)
    }
    total
  }

  def close(): Unit = {
    stopped = true
    ingests.foreach(_.close())
    sweepPool.foreach(_.shutdown())
  }
}
