package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession.start(cores = 4)
  val sf = "/root/testdata/sf0.001"
}

class QueriesSmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is knowingly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val rowsOnly = Set("dedup_minhash", "dedup_minhash_incremental",
      "dedup_minhash_persisted", "dedup_minhash_gate", "dedup_simhash",
      "ann_lsh_topk",
      "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfpq_persisted",
      "ann_ivfpq_rebuilt", "ann_lsh_persisted", "text_fingerprint",
      "dedup_semantic", "pack_bestfit", "text_entropy", "embed_pca",
      "bpe_train", "bpe_encode")
    assert(noOracle.subsetOf(rowsOnly), s"missing oracle for: $noOracle")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("ProfileOne reports the plan and the labelled jobs of a lake query") {
    val report = ProfileOne.report(spark, "lake_upsert_snapshot", sf)
    val jobs = report.linesIterator.filter(_.trim.startsWith("job ")).toSeq
    assert(report.contains("== Physical Plan =="), report)
    assert(jobs.nonEmpty, report)
    assert(jobs.exists(_.contains("graft:")), report)
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
    }
  }
}
