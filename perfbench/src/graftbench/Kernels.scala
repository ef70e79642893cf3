package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{IvfExprs, LshBucketsExpr, PqExprs}
import graft.pipeline.Dedup

/** The `graft.functions` kernel pass of a traced run: each kernel runs
  * through its codegen path over the corpus inputs, replicated and cached
  * so that only the expression is timed, into Spark's no-op sink. Reported
  * as input rows per second of the second of two passes. The registered
  * `graft_*` SQL functions run through SQL; the kernels without a SQL name
  * run through their Column builders. */
object Kernels {
  val DocCopies = 8
  val VecCopies = 20

  def measure(spark: SparkSession, docs: DataFrame, vecs: DataFrame, r: Report): Unit = {
    val text = docs.select(col("doc_id"), col("text"))
      .crossJoin(spark.range(DocCopies).toDF("copy"))
      .select((col("doc_id") * DocCopies + col("copy")).as("doc_id"), col("text"))
      .persist()
    val emb = vecs.select(col("embedding"))
      .crossJoin(spark.range(VecCopies).toDF("copy")).drop("copy").persist()
    val rnd = new java.util.Random(7)
    val coarse = Array.fill(16, Gen.Dim)(rnd.nextGaussian().toFloat)
    val books = Array.fill(8, 16, Gen.Dim / 8)(rnd.nextGaussian().toFloat)
    val enc = emb.select(PqExprs.pqCodes(col("embedding"), books).as("codes"),
      PqExprs.adcTables(col("embedding"), books).as("tables")).persist()
    try {
      val nText = text.count(); val nEmb = emb.count(); enc.count()
      val runs: Seq[(String, () => DataFrame, Long)] = Seq(
        ("shingle_hashes", () => text.selectExpr("graft_shingle_hashes(text, 3)"), nText),
        ("minhash", () => Dedup.minhashSignatures(text), nText),
        ("lsh_buckets", () => emb.select(LshBucketsExpr.lshBuckets(col("embedding"), 4, 8)), nEmb),
        ("simhash64", () => text.selectExpr("graft_simhash64(text)"), nText),
        ("ivf_nearest", () => emb.select(IvfExprs.nearestCentroids(col("embedding"), coarse, 4)), nEmb),
        ("pq_adc_score", () => enc.select(PqExprs.adcScore(col("codes"), col("tables"))), nEmb),
        ("float_dot", () => emb.selectExpr("graft_dot(embedding, embedding)"), nEmb),
        ("norm", () => emb.selectExpr("graft_norm(embedding)"), nEmb),
        ("fingerprint", () => text.selectExpr("graft_fingerprint(text, 5)"), nText),
        ("char_entropy", () => text.selectExpr("graft_char_entropy(text)"), nText))
      runs.foreach { case (k, df, n) =>
        def pass(): Double = {
          val t0 = System.nanoTime()
          df().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        pass()
        LayerFill.set(r, s"functions.$k.rows_per_s", n / pass())
      }
    } finally Seq(text, emb, enc).foreach(_.unpersist(blocking = true))
  }
}
