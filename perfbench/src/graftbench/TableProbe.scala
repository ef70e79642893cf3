package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.table.{CommitMeta, GraftTable}

/** Measurements the benchmark takes of tables and plans from the outside:
  * disk usage, commit records, and the SQL metrics of executed scans. */
object TableProbe extends AdaptiveSparkPlanHelper {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toList finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Bytes of a plain parquet write of `df`'s user columns. */
  def plainParquetBytes(df: DataFrame, scratch: String): Long = {
    val user = df.columns.filterNot(_.startsWith("_graft_"))
    df.select(user.map(df.col): _*).write.mode("overwrite").parquet(scratch)
    val n = dirBytes(Paths.get(scratch))
    deleteTree(Paths.get(scratch))
    n
  }

  /** Table directories on disk over a plain parquet write of their current
    * snapshots. */
  def storageAmplification(tables: Seq[GraftTable], scratch: String): Double = {
    val disk = tables.map(t => dirBytes(Paths.get(t.basePath))).sum
    val plain = tables.map(t => plainParquetBytes(t.snapshot(), scratch)).sum
    disk.toDouble / plain
  }

  def commit(t: GraftTable, instant: String): Option[CommitMeta] = {
    t.timeline.refresh()
    t.timeline.metasSlim(None).find(_.instant == instant)
  }

  /** Files read and rows produced by the file scans of an executed plan. */
  def scanned(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) {
      case s if s.nodeName.contains("Scan") && s.metrics.contains("numFiles") =>
        (s.metrics("numFiles").value,
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
    (scans.map(_._1).sum, scans.map(_._2).sum)
  }
}
