package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("connectedComponents: chain + clique + isolated vertex") {
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    // chain 1-2-3-4 (diameter forces multiple rounds), clique 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val comp = Curation.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    val rnd = new scala.util.Random(4207) // fixed seed: deterministic test
    for (trial <- 1 to 3) {
      val n = 120 + trial * 40
      val ids = (0 until n).map(_.toLong)
      val edges = Seq.fill(n / 2)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference with min-id roots
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo }
      }
      val expected = ids.map(i => i -> find(i)).toMap
      val got = Curation.connectedComponents(
        ids.toDF("id"), edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial (n=$n, ${edges.size} edges)")
    }
  }

  test("connectedComponents: a planted 1000-chain converges in log rounds") {
    // adversarial worst case for plain min-label propagation: one chain of
    // length 1000 (diameter 999) needs 999 propagation rounds without
    // pointer jumping — with it, convergence fits the default maxIter
    val n = 1000
    val verts = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val comp = Curation.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.length === n)
    assert(comp.forall(_._2 === 1L),
      s"chain did not collapse to component 1: ${comp.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("connectedComponents throws on maxIter exhaustion instead of wrong clusters") {
    val n = 64
    val verts = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    // a 64-chain cannot converge in 2 rounds even with jumping
    val e = intercept[IllegalStateException](
      Curation.connectedComponents(verts, edges, maxIter = 2))
    assert(e.getMessage.contains("did not converge"))
  }

  test("dupClusters keeps exactly the smallest id per cluster") {
    val verts = Seq(5L, 6L, 7L, 8L).toDF("id")
    val pairs = Seq((6L, 5L), (7L, 6L)).toDF("id_a", "id_b")
    val rows = Curation.dupClusters(verts, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(rows.toSeq === Seq((5L, 5L, true), (6L, 5L, false),
      (7L, 5L, false), (8L, 8L, true)))
  }

  test("hexThreshold maps fractions to 2^-32-granular hex bounds") {
    assert(Curation.hexThreshold(0.0) === "00000000")
    assert(Curation.hexThreshold(0.5) === "80000000")
    assert(Curation.hexThreshold(0.25) === "40000000")
    assert(Curation.hexThreshold(1.0) === "ffffffff")
  }

  test("stratifiedSample is deterministic, honors fractions, drops unknown strata") {
    val df = (1 to 4000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    val frac = Map("a" -> 0.5)
    val s1 = Curation.stratifiedSample(df, "stratum", "id", frac)
    val s2 = Curation.stratifiedSample(df, "stratum", "id", frac)
    assert(s1.collect().sortBy(_.getLong(0)).toSeq ===
      s2.collect().sortBy(_.getLong(0)).toSeq)
    assert(s1.filter(col("stratum") === "b").count() === 0, "unknown stratum kept")
    val kept = s1.count().toDouble / 2000
    assert(kept > 0.4 && kept < 0.6, s"fraction 0.5 sampled $kept")
  }

  test("packTokenShards equals a global running-sum assignment across partitions") {
    // 20000 rows: every input partition outgrows the range sampler, so two
    // range exchanges over this input would cut different boundaries
    for (n <- Seq(40, 20000)) {
      val rows = (1 to n).map(i => (i.toLong, s"doc $i", (i % 7 + 1) * 3L))
      val df = rows.toDF("doc_id", "text", "n")
      val packed = Curation.packTokenShards(df, col("n"), budget = 20L,
        orderCol = "doc_id", numPartitions = 5)
        .select("doc_id", "tokens", "shard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      // reference: sequential scan on the driver
      var cum = 0L
      val expected = rows.sortBy(_._1).map { case (id, _, n) =>
        val start = cum; cum += n; (id, n, start / 20L)
      }
      val wrong = packed.zip(expected).count { case (g, w) => g != w }
      assert(packed.length == n && wrong == 0, s"$n rows: $wrong misassigned")
      // shards are contiguous and every shard except the last crosses budget
      val perShard = expected.groupBy(_._3).toSeq.sortBy(_._1)
      assert(perShard.map(_._1) === perShard.indices.map(_.toLong))
    }
  }

  test("mixTokenBudget keeps each source's md5-ordered prefix within its budget") {
    val rows = (1 to 20000).map(i =>
      (i.toLong, if (i % 3 == 0) "wiki" else "web", (i % 7 + 1).toLong))
    val budgets = Map("web" -> 30000L, "wiki" -> 20000L)
    val kept = Curation.mixTokenBudget(rows.toDF("doc_id", "source", "n"),
      col("n"), budgets, numPartitions = 5)
      .select("doc_id").as[Long].collect().sorted
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // reference: per-source sequential scan on the driver
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (src, rs) =>
      var cum = 0L
      rs.sortBy(r => (md5(r._1.toString), r._1))
        .filter { r => cum += r._3; cum <= budgets(src) }.map(_._1)
    }.sorted
    assert(kept.sameElements(expected),
      s"kept ${kept.length} docs, expected ${expected.length}: " +
        s"${kept.diff(expected).take(5).mkString(",")} / ${expected.diff(kept).take(5).mkString(",")}")
  }

  test("packTokenShards: a document larger than the budget gets its own start shard") {
    val df = Seq((1L, 50L), (2L, 5L), (3L, 5L)).toDF("doc_id", "n")
    val out = Curation.packTokenShards(df, col("n"), budget = 10L, orderCol = "doc_id")
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq === Seq((1L, 0L), (2L, 5L), (3L, 5L)))
  }

  test("quantizeInt8 codes stay in [0,255] and dequantize within half a step") {
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf)
    val calib = Quantize.calibrate(vecs)
    assert(calib.length === 64 && calib.forall { case (mn, mx) => mx >= mn })
    val q = Quantize.quantizeInt8(vecs, calib)
    val bounds = q.select(array_min(col("codes")).as("lo"), array_max(col("codes")).as("hi"))
      .agg(min("lo"), max("hi")).collect()(0)
    assert(bounds.getInt(0) >= 0 && bounds.getInt(1) <= 255)
    // reconstruction error per dimension ≤ half a quantization step
    val err = q.withColumn("deq", Quantize.dequantize(q, calib))
      .select(aggregate(zip_with(col("embedding"), col("deq"),
        (a, b) => abs(a.cast("double") - b)), lit(0.0d),
        (acc, x) => greatest(acc, x)).as("maxerr"))
      .agg(max("maxerr")).collect()(0).getDouble(0)
    val maxStep = calib.map { case (mn, mx) => (mx - mn) / 255.0 }.max
    assert(err <= maxStep / 2 + 1e-9, s"dequantize error $err > half step")
  }

  test("ivfTopK with nprobe = nlist reproduces brute force exactly") {
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._3))
    val ivf = Similarity.ivfTopK(vecs, queries, k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._3))
    assert(ivf.toSeq === exact.toSeq)
  }

  test("ivfTopK recall@5 with nprobe = nlist/2 stays useful") {
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf)
    val queries = vecs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, queries, k = 5, nlist = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@5 = $recall")
  }

  test("badwordFilter: token-boundary semantics, no join in the plan") {
    val docs = Seq(
      (1L, "a clean document"),
      (2L, "contains the badword here"),
      (3L, "badwords is a different token"), // substring must NOT match
      (4L, "punctuated BADWORD! caught"), // case + punctuation boundaries
      (5L, "under_score x_badword_y splits on underscore")).toDF("doc_id", "text")
    val out = Curation.badwordFilter(docs, col("text"), Seq("badword"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 3L))
    // literal blocklist compiles into the predicate: no join, no exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"blocklist filter should be a map-side predicate:\n$plan")
  }

  test("qualityClassifier: monotone in stopword ratio, penalized by punctuation") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog ran in the park of town"),
      (2L, "zx qv wk jm px lz tq vn mz kx wq zp nv xj qm lw"),
      (3L, "!!! ??? ;;; ::: @@@ ### $$$ %%% ^^^ &&& *** ((( ))) ~~~ ```")
    ).toDF("doc_id", "text")
    val rows = Curation.qualityClassifier(docs, col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(1L) > rows(2L), "stopword-rich prose must outscore gibberish")
    assert(rows(2L) > rows(3L), "words must outscore pure punctuation")
    // the classifier is a pure codegen expression — no shuffle, no UDF
    val plan = Curation.qualityClassifier(docs, col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("BatchEvalPython"))
  }

  test("stripBoilerplate: one pinned explode, leak-free, all-boilerplate doc survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "keep me\nCOOKIE BANNER\nunique line 1"),
      (2L, "COOKIE BANNER\nunique line 2"),
      (3L, "COOKIE BANNER\nunique line 3"),
      (4L, "no banner here"),
      (5L, "COOKIE BANNER")).toDF("doc_id", "text") // every line boilerplate
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Curation.stripBoilerplate(docs, col("text"))
    // the corpus explode ran ONCE, eagerly, inside the call (units pinned,
    // three consumers read the pin, result checkpointed): the returned
    // plan must carry no Generate to re-run, and the internal persist must
    // have been released — no cache-entry leak per call
    assert(out.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty, "corpus explode survived into the returned plan")
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "stripBoilerplate leaked its internal units cache")
    // correctness: the >50%-of-docs banner line vanishes, unique lines stay
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows.forall { case (_, _, _, clean) => !clean.contains("COOKIE BANNER") })
    assert(rows(0)._4 === "keep me\nunique line 1")
    assert(rows(3)._4 === "no banner here")
    // doc 5 lost every line — it must still be present, empty
    assert(rows(4) === ((5L, 1L, 0L, "")))
  }
}
