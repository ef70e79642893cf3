package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.table._

/** `mor_query_mix`: a fixed-share read mix against a MERGE_ON_READ orders
  * table (60,000 rows, partitioned by order year, ~4,000-row file groups,
  * key-ordered base files). Every [[ReadsPerUpsert]] reads, one upsert of
  * [[UpsertRows]] keys drawn uniformly appends a log to nearly every file
  * group; every [[UpsertsPerService]] upserts, compaction is scheduled and
  * run and the table cleaned, synchronously. Each read's row count and
  * checksum are compared with the model. */
final class MorMix(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  val NOrders = 60000
  val SetupUpserts = 1
  val UpsertRows = 150
  val LookupKeys = 400
  val ReadsPerUpsert = 4
  val UpsertsPerService = 2
  /** Two upserts with their reads, then a service cycle: one pass through
    * [[Mix]] per period. */
  val period = UpsertsPerService * (ReadsPerUpsert + 1) + 1
  /** One cycle of the read mix; lookups take two of eight slots, one
    * through the table API and one through SQL on the catalog. */
  val Mix = Seq("snapshot", "lookup", "partition", "sql_lookup",
    "read_optimized", "lookup", "incremental", "time_travel")
  val Retain = KeepLatestCommits(4)

  // model: current rows by key, running checksums, and per-commit history
  private val rows = new Array[Order](NOrders + 1)
  private var nRows = 0L
  private var sumHash = 0L
  private val byYear = mutable.Map[Int, (Long, Long)]().withDefaultValue((0L, 0L))
  private var roState = (0L, 0L)
  /** (instant, rows, checksum, keys written) per upsert, oldest first. */
  private val upserts = mutable.ArrayBuffer[(String, Long, Long, Array[Int])]()

  private var t: GraftTable = _
  private var sqlName = ""
  private var readNo = 0L
  /** Position in [[Mix]]; restarts with each measured segment. */
  private var mixPos = 0
  private val readLat = mutable.ArrayBuffer[Double]()
  private val disk = mutable.ArrayBuffer[Double]()

  private final class ReadStat {
    var n = 0; var plan, exec = 0.0; var files, scanned, returned = 0L
  }
  private val readStats = mutable.Map[String, ReadStat]()
  private val written = mutable.ArrayBuffer[Written]()
  private val compactS, cleanS = mutable.ArrayBuffer[Double]()
  private var rewritten, deleted = 0L
  private val meta = new LayerFill.MetaSampler

  override def prepare(): Unit = (1 to NOrders).foreach { k =>
    val o = Gen.order(ctx.seed, k, NOrders)
    rows(k) = o
    add(o, 1)
  }

  private def add(o: Order, sign: Int): Unit = {
    val h = Gen.orderHash(o)
    nRows += sign; sumHash += sign * h
    val (c, s) = byYear(o.o_year)
    byYear(o.o_year) = (c + sign, s + sign * h)
  }

  def setup(rep: Int, keep: Boolean): Unit = {
    val path = s"${ctx.work}/mor_$rep"
    val (s, n) = (ctx.seed, NOrders.toLong)
    val tbl = GraftTable.create(spark, path, TableConfig("orders", MergeOnRead,
      keyFields = Seq("o_orderkey"), precombineField = Some("o_seq"),
      partitioning = PartitionByColumns(Seq("o_year")), targetFileSizeRows = 4000))
    tbl.bulkInsert(spark.range(1, n + 1, 1, ctx.cores * 4).as[Long]
      .map(k => Gen.order(s, k, n)).toDF(), sortMode = "global_sort",
      sortCols = Seq("o_orderkey"))
    if (rep == 0) roState = (nRows, sumHash)
    t = tbl
    (0 until SetupUpserts).foreach(upsert)
    val name = s"graft.bench.orders_$rep"
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$path'")
    if (!keep) { spark.sql(s"DROP TABLE $name"); GraftTable.drop(path) }
    else sqlName = name
  }

  /** Upsert `u`: distinct uniform keys, new status and price, sequence
    * numbers fixed by `u`. A pure function of (seed, u), so every set-up
    * repetition writes the same rows. */
  private def upsertRows(u: Int): Seq[Order] = {
    val r = Gen.rng(ctx.seed, 20, u)
    val keys = mutable.LinkedHashSet[Int]()
    while (keys.size < UpsertRows) keys += 1 + r.nextInt(NOrders)
    keys.toSeq.zipWithIndex.map { case (k, j) =>
      Gen.updateOrder(r, rows(k), u.toLong * UpsertRows + j + 1)
    }
  }

  /** Write upsert `u`; the first time it is written it also advances the
    * model, a later set-up repetition only records its own instant. */
  private def upsert(u: Int): Unit = {
    val batch = upsertRows(u)
    val df = batch.toDF()
    val t0 = System.nanoTime()
    val instant = t.upsert(df)
    val dt = (System.nanoTime() - t0) / 1e9
    if (u < upserts.size) upserts(u) = upserts(u).copy(_1 = instant)
    else {
      batch.foreach { o =>
        add(rows(o.o_orderkey.toInt), -1); add(o, 1)
        rows(o.o_orderkey.toInt) = o
      }
      upserts += ((instant, nRows, sumHash, batch.map(_.o_orderkey.toInt).toArray))
    }
    written += Written(instant, batch.size,
      df.queryExecution.analyzed.stats.sizeInBytes.toLong, batch.size, dt)
  }

  private def agg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(expr(Gen.orderHashSql)))

  private def pair(row: Row): (Long, Long) =
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))

  private def rangeModel(lo: Int, hi: Int): (Long, Long) =
    (lo to hi).foldLeft((0L, 0L)) { case ((c, s), k) => (c + 1, s + Gen.orderHash(rows(k))) }

  /** One read: plan (the call returning the frame), execute (the
    * aggregate action), compare with the model. */
  private def read(kind: String, log: OpLog, tr: Option[Tracer]): Unit = {
    val r = Gen.rng(ctx.seed, 21, readNo)
    readNo += 1
    val lo = 1 + r.nextInt(NOrders - LookupKeys)
    val hi = lo + LookupKeys - 1
    val year = Gen.year(Gen.Day0) + r.nextInt(7)
    val (prev, last) = (upserts(upserts.size - 2), upserts.last)
    // (the call that returns the frame, the model's answer)
    val (plan, want): (() => DataFrame, () => (Long, Long)) = kind match {
      case "snapshot" => (() => agg(t.snapshot()), () => (nRows, sumHash))
      case "lookup" => (() => agg(t.snapshotPruned("o_orderkey", lo.toString, hi.toString)
          .filter(col("o_orderkey").between(lo, hi))), () => rangeModel(lo, hi))
      case "partition" =>
        (() => agg(t.snapshot(partitionPred = _ == s"o_year=$year")), () => byYear(year))
      case "sql_lookup" => (() => spark.sql(s"SELECT count(*), sum(${Gen.orderHashSql}) " +
          s"FROM $sqlName WHERE o_orderkey BETWEEN $lo AND $hi"), () => rangeModel(lo, hi))
      case "read_optimized" => (() => agg(t.readOptimized()), () => roState)
      case "incremental" => (() => agg(t.incremental(prev._1)), () =>
          last._4.foldLeft((0L, 0L)) { case ((c, s), k) => (c + 1, s + Gen.orderHash(rows(k))) })
      case "time_travel" => (() => agg(t.snapshot(asOf = Some(prev._1))), () => (prev._2, prev._3))
    }
    val st = readStats.getOrElseUpdate(kind, new ReadStat)
    val expected = want()
    var q: DataFrame = null
    var got = (0L, 0L)
    var planS, execS = 0.0
    log.op(if (kind == "sql_lookup") "lookup" else kind) {
      Workload.span(tr, s"table.read.$kind") {
        val t0 = System.nanoTime()
        q = plan()
        val t1 = System.nanoTime()
        got = pair(q.collect()(0))
        planS = (t1 - t0) / 1e9
        execS = (System.nanoTime() - t1) / 1e9
      }
      got == expected
    }
    if (got != expected)
      System.err.println(s"[graftbench] $kind read: (rows, checksum) $got, model $expected")
    else if (tr.nonEmpty) {
      val (f, s) = TableProbe.scanned(q.queryExecution.executedPlan)
      st.n += 1; st.plan += planS; st.exec += execS
      st.files += f; st.scanned += s; st.returned += got._1
    }
  }

  private def service(log: OpLog, tr: Option[Tracer]): Unit = {
    var done: Option[String] = None
    var cleaned = ""
    log.op("service") {
      val t0 = System.nanoTime()
      done = Workload.span(tr, "table.service.compaction") {
        t.scheduleCompaction().flatMap(t.runCompaction)
      }
      val t1 = System.nanoTime()
      cleaned = Workload.span(tr, "table.service.clean")(t.clean(Retain))
      compactS += (t1 - t0) / 1e9
      cleanS += (System.nanoTime() - t1) / 1e9
      done.nonEmpty
    }
    roState = (nRows, sumHash)
    if (tr.nonEmpty) {
      rewritten += done.flatMap(TableProbe.commit(t, _)).toSeq.flatMap(_.files).map(_.bytes).sum
      deleted += TableProbe.commit(t, cleaned).map(_.deletedPaths.size).getOrElse(0)
    }
  }

  def warmup(log: OpLog): Unit = {
    log.op("commit") { upsert(upserts.size); true }
    Mix.distinct.foreach(k => read(k, log, None))
    service(log, None)
  }

  def step(i: Long, log: OpLog, tr: Option[Tracer]): Unit = {
    if (i == 0) {
      readStats.clear(); written.clear(); compactS.clear(); cleanS.clear()
      rewritten = 0; deleted = 0; disk.clear(); readLat.clear(); mixPos = 0
    }
    val pos = (i % period).toInt
    if (pos == period - 1) service(log, tr)
    else if (pos % (ReadsPerUpsert + 1) == ReadsPerUpsert)
      log.op("commit") {
        Workload.span(tr, "table.write")(upsert(upserts.size)); true
      }
    else {
      val n = log.samples.size
      read(Mix(mixPos % Mix.size), log, tr)
      log.samples.drop(n).foreach(s => readLat += s._2)
      mixPos += 1
    }
    disk += TableProbe.dirBytes(java.nio.file.Paths.get(t.basePath)).toDouble
    if (tr.nonEmpty && i % 5 == 4) meta.sample(spark, t.basePath)
  }

  /** Reads of the segment: whole passes through [[Mix]]. */
  def primary(log: OpLog): Seq[Double] = readLat.toSeq

  def named(log: OpLog, r: Report): Unit = {
    val reads = readLat.toSeq
    r.named("commit_p50_s") = (Stats.median(log.of("commit")), "s")
    r.named("commit_tail_s") = (Stats.tail(log.of("commit"))._2, "s")
    r.named("snapshot_p50_s") = (Stats.median(log.of("snapshot")), "s")
    r.named("lookup_p50_s") = (Stats.median(log.of("lookup")), "s")
    r.named("incremental_p50_s") = (Stats.median(log.of("incremental")), "s")
    r.named("read_tail_s") = (Stats.tail(reads)._2, "s")
    r.named("service_p50_s") = (Stats.median(log.of("service")), "s")
    r.notes += Stats.tailNote("commit_tail_s", log.of("commit"))
    r.notes += Stats.tailNote("read_tail_s", reads)
  }

  def layers(log: OpLog, tr: Tracer, jobs: Seq[JobRec], r: Report): Unit = {
    LayerFill.write(r, t, jobs, written.toSeq)
    meta.fill(r, withLogs = true)
    readStats.foreach { case (k, st) => if (st.n > 0) {
      val n = st.n.toDouble
      LayerFill.set(r, s"table.read.$k.plan_s", st.plan / n)
      LayerFill.set(r, s"table.read.$k.exec_s", st.exec / n)
      LayerFill.set(r, s"table.read.$k.jobs", jobs.count(_.span == s"table.read.$k") / n)
      LayerFill.set(r, s"table.read.$k.files_read", st.files / n)
      LayerFill.set(r, s"table.read.$k.rows_scanned_per_row_returned",
        Stats.ratio(st.scanned, st.returned))
    }}
    LayerFill.set(r, "catalog.sql_lookup.plan_s", r.layer("table.read.sql_lookup.plan_s")._1)
    if (compactS.nonEmpty) {
      LayerFill.set(r, "table.service.compaction_s", Stats.mean(compactS.toSeq))
      LayerFill.set(r, "table.service.clean_s", Stats.mean(cleanS.toSeq))
      LayerFill.set(r, "table.service.bytes_rewritten", rewritten.toDouble / compactS.size)
      LayerFill.set(r, "table.service.files_deleted", deleted.toDouble / compactS.size)
    }
  }

  def finish(r: Report): Unit = ()

  def storageAmplification(): Double =
    Stats.mean(disk.toSeq) /
      TableProbe.plainParquetBytes(t.snapshot(), s"${ctx.work}/plain_parquet")

  def teardown(): Unit = {
    spark.sql(s"DROP TABLE $sqlName")
    GraftTable.drop(t.basePath)
  }
}
