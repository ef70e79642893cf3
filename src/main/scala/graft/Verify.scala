package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one query and dump it to `$outDir/$name`. A query that throws must
    * NEVER silently vanish from the gate: on failure we still write a
    * 1-row parquet whose schema (`_graft_error`) can't match any oracle, so
    * the driver records a failing row instead of an absence, and we append
    * the name to `$outDir/failed.json` via the returned error. */
  def dumpOne(spark: SparkSession, name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              sfDir: String, outDir: String): Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      System.err.println(s"[verify] $name failed: $msg")
      try {
        import spark.implicits._
        Seq(msg).toDF("_graft_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case inner: Throwable =>
        System.err.println(s"[verify] $name marker write failed: ${inner.getMessage}")
      }
      Some(msg)
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration —
    // the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        dumpOne(spark, name, fn, sfDir, outDir).map(name -> _)
      }
    // Jackson handles all JSON escaping (a hand-rolled serializer once
    // silently zeroed a round's correctness on an unescaped control char)
    Files.write(Paths.get(s"$outDir/oracle_sql.json"),
      graft.table.Json.mapper.writeValueAsBytes(SparkEntry.oracleSql))
    Files.write(Paths.get(s"$outDir/failed.json"),
      graft.table.Json.mapper.writeValueAsBytes(failed.toMap))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
