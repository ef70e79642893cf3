package graftbench

import graft.table.GraftTable

/** One commit issued by the benchmark, as it generated it. */
final case class Written(instant: String, rows: Long, inputBytes: Long,
    existingKeys: Long, wallS: Double)

/** Per-layer metrics shared by the workloads that write tables. */
object LayerFill {
  val ServicesPool = graft.streaming.SchedulerPools.ServicesPool

  def set(r: Report, k: String, v: Double): Unit = {
    require(r.layer.contains(k), s"undeclared layer metric $k")
    r.layer(k) = (v, r.layer(k)._2)
  }

  /** `graft.table` write path: jobs submitted under the `table.write` span
    * and the engine's `graft:<op>:<phase>` labels, per commit. */
  def write(r: Report, t: GraftTable, jobs: Seq[JobRec], ws: Seq[Written]): Unit =
    if (ws.nonEmpty) {
      val n = ws.size.toDouble
      val wj = jobs.filter(j => j.span == "table.write" && j.pool != ServicesPool)
      def phase(p: String) = wj.filter(_.desc.endsWith(s":$p"))
      val labelled = Seq("pin", "tag", "counts", "stage")
      labelled.foreach(p => set(r, s"table.write.${p}_s", phase(p).map(_.wallS).sum / n))
      val labelledS = wj.filter(j => labelled.exists(p => j.desc.endsWith(s":$p")))
        .map(_.wallS).sum
      set(r, "table.write.unlabeled_s", math.max(0.0, ws.map(_.wallS).sum - labelledS) / n)
      set(r, "table.write.jobs", wj.size / n)
      set(r, "table.write.tasks", wj.map(_.tasks).sum / n)
      set(r, "table.write.task_s", wj.map(_.taskMs).sum / 1e3 / n)
      set(r, "table.write.shuffle_bytes", wj.map(_.shuffleWrite).sum / n)
      val metas = ws.flatMap(w => TableProbe.commit(t, w.instant))
      set(r, "table.write.files_written", metas.map(_.files.size).sum / n)
      set(r, "table.write.bytes_per_input_byte",
        Stats.ratio(metas.flatMap(_.files).map(_.bytes).sum, ws.map(_.inputBytes).sum))
      // the tag job re-reads the pinned batch as well as the candidate
      // files' keys; only the latter is the pruning-dependent part
      val tagRead = math.max(0L, phase("tag").map(_.inRecords).sum - ws.map(_.rows).sum)
      set(r, "table.write.tag_rows_read_per_input_row",
        Stats.ratio(tagRead, ws.map(_.rows).sum))
      set(r, "table.write.tag_hit_ratio", Stats.ratio(ws.map(_.existingKeys).sum, tagRead))
    }

  /** `graft.table` metadata, sampled on a freshly loaded handle. */
  final class MetaSampler {
    private var loadS, slicesS, instants, groups, logs = 0.0
    private var n = 0

    def sample(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      val t0 = System.nanoTime()
      val t = GraftTable.load(spark, path)
      val t1 = System.nanoTime()
      val ss = t.slices(None)
      val t2 = System.nanoTime()
      loadS += (t1 - t0) / 1e9
      slicesS += (t2 - t1) / 1e9
      instants += t.timeline.completed().size
      groups += ss.size
      logs += Stats.ratio(ss.map(_.logs.size).sum, ss.size)
      n += 1
    }

    def fill(r: Report, withLogs: Boolean): Unit = if (n > 0) {
      set(r, "table.meta.load_s", loadS / n)
      set(r, "table.meta.slices_s", slicesS / n)
      set(r, "table.meta.active_instants", instants / n)
      set(r, "table.meta.file_groups", groups / n)
      if (withLogs) set(r, "table.read.logs_per_slice", logs / n)
    }
  }
}
