package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Materialize a k×-scaled copy of a driver testdata dir for the scaling
  * check (scripts/scaling_bench.sh): each table is unioned k times with a
  * per-replica key offset applied to BOTH primary and foreign keys, so
  * referential integrity holds (replica i's orders point at replica i's
  * customers) and join cardinalities grow linearly — the shape a real k×
  * corpus would have, not a k×-fanout join explosion.
  *
  * Document text gets a short replica-unique suffix so the scaled corpus is
  * NOT k-way exact-duplicate (which would degenerate every dedup query);
  * replicas become near-duplicates instead — the realistic failure mode a
  * growing crawl feeds a dedup pipeline. Embedding vectors replicate
  * verbatim: ANN cost is driven by corpus size, not vector uniqueness.
  *
  * region/nation are fixed-size dimensions in the generator and copy as-is.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  /** Larger than any generated key at any driver sf, so replica key spaces
    * never collide. */
  private val OFF = 100000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val Array(src, dst, fs) = args
    val k = fs.toInt
    require(k >= 1, s"factor must be >= 1, got $k")
    val spark = GraftSession.start()

    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    /** Union k replicas of `name`, shifting every column in `keyCols` by
      * i·OFF; `tweak` post-processes each replica (i = replica index). */
    def rep(name: String, keyCols: Seq[String])(
        tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      write((0 until k).map { i =>
        val shifted = keyCols.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(i * OFF)))
        tweak(shifted, i)
      }.reduce(_ unionByName _), name)
    }

    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    rep("orders", Seq("o_orderkey", "o_custkey"))()
    rep("customer", Seq("c_custkey"))()
    rep("supplier", Seq("s_suppkey"))()
    rep("part", Seq("p_partkey"))()
    rep("events", Seq("event_id", "user_id"))()
    rep("embeddings", Seq("vec_id"))()
    rep("documents", Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text",
          concat(col("text"), lit(s" r$i "), col("doc_id").cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    for (dim <- Seq("region", "nation"))
      write(spark.read.parquet(s"$src/$dim.parquet"), dim)
    println(s"[scaleup] wrote ${k}x copy of $src to $dst")
    spark.stop()
  }
}
