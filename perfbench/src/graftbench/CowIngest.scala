package graftbench

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.ContinuousIngest
import graft.table._

/** `cow_cdc_ingest`: continuous CDC ingest into a COPY_ON_WRITE lineitem
  * table (150,000 orders, about 600,000 lines, partitioned by ship year,
  * ~25,000-row file groups). Each `ContinuousIngest.step()` pulls one
  * generated batch of about 1% of the table: updates of existing lines,
  * skewed toward the newest orders (exponential age, mean 3% of the key
  * space), new orders above the current maximum key, and on every fourth
  * batch deletes with the same skew. Clean, metadata-table sync and
  * archival run on the ingest's own cadence. */
final class CowIngest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  val NOrders = 37500L
  val UpdateRows = 1125
  val InsertOrders = 94
  val DeleteRows = 75
  def primary(log: OpLog): Seq[Double] = log.of("commit")
  /** Deletes and the ingest's housekeeping both come every fourth batch. */
  val period = 4

  private val model = mutable.HashMap[Long, LineItem]()
  private def key(li: LineItem): Long = li.l_orderkey * 8 + li.l_linenumber
  private var maxKey = NOrders
  private var seq = 0L
  private var batchNo = 0L
  private var lastCheckpoint = ""
  private var t: GraftTable = _
  private var ingest: ContinuousIngest = _

  // per-step boundaries recorded by the source wrapper and engine hooks
  private var tracer: Option[Tracer] = None
  private var pending: Seq[(LineItem, Boolean)] = Nil
  private var pendingBytes = 0L
  private var pendingExisting = 0L
  private var srcStart, srcEnd, committedAt, ackAt = 0L
  private var lastInstant = ""
  private val sourceS, writeS, houseS = mutable.ArrayBuffer[Double]()
  private val written = mutable.ArrayBuffer[Written]()
  private var rowsCommitted = 0L
  private var drainS = 0.0
  private val meta = new LayerFill.MetaSampler
  private val disk = mutable.ArrayBuffer[Double]()

  override def prepare(): Unit =
    (1L to NOrders).foreach(k =>
      Gen.lineItems(ctx.seed, k, NOrders).foreach(li => model(key(li)) = li))

  def setup(rep: Int, keep: Boolean): Unit = {
    val path = s"${ctx.work}/cow_$rep"
    val (s, n) = (ctx.seed, NOrders)
    val lines = spark.range(1, n + 1, 1, ctx.cores * 4).as[Long]
      .flatMap(k => Gen.lineItems(s, k, n))
    val tbl = GraftTable.create(spark, path, TableConfig("lineitem", CopyOnWrite,
      keyFields = Seq("l_orderkey", "l_linenumber"), precombineField = Some("seq"),
      partitioning = PartitionByColumns(Seq("ship_year")), targetFileSizeRows = 10000))
    tbl.bulkInsert(lines.toDF(), sortMode = "global_sort",
      sortCols = Seq("l_orderkey", "l_linenumber"))
    tbl.rebuildMetadataTable()
    if (!keep) GraftTable.drop(path)
    else {
      t = tbl
      ingest = new ContinuousIngest(t, () => Some(nextBatch()),
        compactEvery = 2, cleanRetainVersions = 1, archiveKeepLast = 20,
        onBatchCommitted = (instant, _) => {
          committedAt = System.nanoTime()
          lastInstant = instant
          tracer.foreach(_.attribute("streaming.housekeeping"))
        },
        onCommit = cp => { ackAt = System.nanoTime(); lastCheckpoint = cp })
    }
  }

  /** Exponentially aged key: mostly recent orders, occasionally old ones. */
  private def agedLine(r: java.util.SplittableRandom): Option[LineItem] =
    Iterator.continually {
      val age = (-math.log(1 - r.nextDouble()) * 0.03 * NOrders).toLong
      model.get(math.max(1L, maxKey - age) * 8 + 1 + r.nextInt(7))
    }.take(64).collectFirst { case Some(li) => li }

  private def nextBatch(): (String, DataFrame) = {
    srcStart = System.nanoTime()
    tracer.foreach(_.attribute("streaming.source"))
    batchNo += 1
    val r = Gen.rng(ctx.seed, 10, batchNo)
    val rows = mutable.ArrayBuffer[(LineItem, Boolean)]()
    (0 until UpdateRows).foreach { _ =>
      agedLine(r).foreach { li => seq += 1; rows += (Gen.updateLine(r, li, seq) -> false) }
    }
    val existing = rows.size
    (0 until InsertOrders).foreach { _ =>
      maxKey += 1
      val od = Gen.Day0 + Gen.OrderDays - 30 + r.nextInt(30)
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        seq += 1
        rows += (Gen.line(r, maxKey, ln, od + 1 + r.nextInt(121), seq) -> false)
      }
    }
    if (batchNo % 4 == 0) (0 until DeleteRows).foreach { _ =>
      agedLine(r).foreach { li => seq += 1; rows += (li.copy(seq = seq) -> true) }
    }
    pending = rows.toSeq
    pendingExisting = existing + rows.count(_._2)
    val ups = rows.collect { case (li, false) => li }.toSeq.toDF()
      .withColumn(GraftTable.DELETED, lit(false))
    val dels = rows.collect { case (li, true) => li }.toSeq.toDF()
      .withColumn(GraftTable.DELETED, lit(true))
    val df = ups.unionByName(dels)
    pendingBytes = df.queryExecution.analyzed.stats.sizeInBytes.toLong
    tracer.foreach(_.attribute("table.write"))
    srcEnd = System.nanoTime()
    (s"bench:$batchNo", df)
  }

  /** Apply the committed batch to the model: last writer by sequence wins. */
  private def applyPending(): Unit = {
    pending.sortBy(_._1.seq).foreach { case (li, del) =>
      if (del) model.remove(key(li)) else model(key(li)) = li
    }
    rowsCommitted += pending.size
  }

  private def ingestOnce(log: OpLog): Unit = {
    var end = 0L
    var committed = false
    log.op("commit") {
      committed = ingest.step().nonEmpty
      end = System.nanoTime()
      committed
    }
    if (committed) {
      applyPending()
      sourceS += (srcEnd - srcStart) / 1e9
      writeS += (committedAt - srcEnd) / 1e9
      houseS += (end - ackAt) / 1e9
      written += Written(lastInstant, pending.size, pendingBytes, pendingExisting,
        (committedAt - srcEnd) / 1e9)
    }
  }

  def warmup(log: OpLog): Unit = (0 until 2).foreach(_ => ingestOnce(log))

  def step(i: Long, log: OpLog, tr: Option[Tracer]): Unit = {
    if (i == 0) {
      tracer = tr
      Seq(sourceS, writeS, houseS, written, disk).foreach(_.clear())
      rowsCommitted = 0
    }
    Workload.span(tr, "streaming.step")(ingestOnce(log))
    disk += TableProbe.dirBytes(java.nio.file.Paths.get(t.basePath))
    if (tr.nonEmpty && i % 5 == 4) meta.sample(spark, t.basePath)
  }

  override def drain(log: OpLog, tr: Option[Tracer]): Unit = {
    val t0 = System.nanoTime()
    Workload.span(tr, "streaming.service_drain") {
      Await.result(ingest.lastService, 120.seconds)
      Await.result(ingest.lastClean, 120.seconds)
    }
    drainS = (System.nanoTime() - t0) / 1e9
    tracer = None
  }

  def named(log: OpLog, r: Report): Unit = {
    val c = log.of("commit")
    r.named("commit_p50_s") = (Stats.median(c), "s")
    r.named("commit_tail_s") = (Stats.tail(c)._2, "s")
    r.notes += Stats.tailNote("commit_tail_s", c)
    r.named("ingest_rows_per_s") = (rowsCommitted / log.wallS, "rows/s")
  }

  def layers(log: OpLog, tr: Tracer, jobs: Seq[JobRec], r: Report): Unit = {
    val n = log.of("commit").size.toDouble
    LayerFill.set(r, "streaming.source_s", sourceS.sum / n)
    LayerFill.set(r, "streaming.write_s", writeS.sum / n)
    LayerFill.set(r, "streaming.housekeeping_s", houseS.sum / n)
    LayerFill.set(r, "streaming.service_drain_s", drainS)
    LayerFill.write(r, t, jobs, written.toSeq)
    meta.fill(r, withLogs = false)
    val cleans = t.timeline.metasSlim(None).filter(m =>
      m.action == "clean" && written.exists(_.instant < m.instant))
    if (cleans.nonEmpty)
      LayerFill.set(r, "table.service.files_deleted",
        cleans.map(_.deletedPaths.size).sum.toDouble / cleans.size)
  }

  def finish(r: Report): Unit = {
    r.attempted += 1
    val got = GraftTable.load(spark, t.basePath).snapshot()
      .agg(count(lit(1)), sum(expr(Gen.lineHashSql))).collect()(0)
    val want = (model.size.toLong, model.valuesIterator.map(Gen.lineHash).sum)
    val have = (got.getLong(0), if (got.isNullAt(1)) 0L else got.getLong(1))
    if (have != want) {
      r.failed += 1
      System.err.println(s"[graftbench] cow snapshot (rows, checksum) $have, model $want")
    }
    r.attempted += 1
    val cp = ContinuousIngest.lastCheckpoint(t)
    if (!cp.contains(lastCheckpoint) || lastCheckpoint != s"bench:$batchNo") {
      r.failed += 1
      System.err.println(s"[graftbench] last checkpoint $cp, expected bench:$batchNo")
    }
  }

  /** Mean table size on disk after each step of the last segment,
    * over a plain parquet write of the final snapshot: cleaning runs every
    * few steps, so the size at any one instant depends on where in that
    * cadence the loop stopped. */
  def storageAmplification(): Double =
    Stats.mean(disk.toSeq) /
      TableProbe.plainParquetBytes(t.snapshot(), s"${ctx.work}/plain_parquet")

  def teardown(): Unit = {
    ingest.close()
    Await.result(ingest.lastService, 120.seconds)
    Await.result(ingest.lastClean, 120.seconds)
    GraftTable.drop(t.basePath)
  }
}
