package graftbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{AnnIndex, MinhashIndex}
import graft.table._

/** `corpus_dedup_ann`: the LLM-data operators over a static corpus. Set-up
  * generates 2,000 documents and 1,000 clustered 64-d embeddings, pins
  * them in memory and builds a `MinhashIndex` and an IVF-PQ `AnnIndex`
  * over them.
  * The loop passes a gate batch of [[GateDocs]] incoming documents, of
  * which [[DupShare]] are planted one-word edits of corpus documents,
  * through `MinhashIndex.gate`, then [[AnnPerGate]] batches of
  * [[QueryBatch]] perturbed corpus vectors through `AnnIndex.queryIvfPq`
  * (k = 10), and repeats. No table is written after set-up. */
final class CorpusDedupAnn(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  val NDocs = 2000
  val NVecs = 1000
  val GateDocs = 50
  val DupShare = 0.3
  val QueryBatch = 20
  val AnnPerGate = 3
  val period = 1 + AnnPerGate
  val QueryPool = 400
  val K = 10
  /** IVF-PQ at nprobe 4 of 16 cells with 4x rerank: recall at 10 below
    * this is a defect, not noise. */
  val RecallFloor = 0.8
  /** Planted duplicates have 3-shingle Jaccard above 0.9 against their
    * source; MinHash LSH with 8 bands of 4 rows misses such a pair with
    * probability below 1e-5, so a lower recall is a defect. */
  val DedupRecallFloor = 0.99
  def primary(log: OpLog): Seq[Double] = log.of("ann")

  /** The corpus, pinned in memory: documents and vectors. */
  private var docs, vecs: DataFrame = _
  private var indexRoot, minhashDir, annDir = ""
  private var corpusVecs: Array[Vec] = _
  private var queries: Array[Vec] = _
  private var exact: Array[Array[Long]] = _
  private val buildAnnS = mutable.ArrayBuffer[Double]()

  private var gateNo, annNo = 0L
  private var plantedSeen, plantedGated = 0L
  private var recallSum = 0.0
  private var recallN = 0L

  override def prepare(): Unit = {
    val cs = Gen.centers(ctx.seed)
    corpusVecs = Array.tabulate(NVecs)(i => Gen.vec(ctx.seed, i, cs))
    queries = Array.tabulate(QueryPool) { j =>
      val r = Gen.rng(ctx.seed, 7, j)
      Gen.query(ctx.seed, 1000000L + j, corpusVecs(r.nextInt(NVecs)))
    }
    def unit(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(_ / n)
    }
    val cn = corpusVecs.map(v => unit(v.embedding))
    exact = queries.map { q =>
      val qn = unit(q.embedding)
      cn.indices.map(i => (-cn(i).zip(qn).map { case (a, b) => a * b }.sum, i.toLong))
        .sorted.take(K).map(_._2).toArray
    }
  }

  def setup(rep: Int, keep: Boolean): Unit = {
    val root = s"${ctx.work}/corpus_$rep"
    val s = ctx.seed
    val d = spark.range(0, NDocs, 1, ctx.cores).as[Long]
      .map(i => Gen.corpusDoc(s, i)).toDF().persist()
    val v = corpusVecs.toSeq.toDF().repartition(ctx.cores).persist()
    d.count(); v.count()
    MinhashIndex.build(d, s"$root/minhash")
    val a0 = System.nanoTime()
    AnnIndex.buildIvfPq(v, s"$root/ivfpq")
    buildAnnS += (System.nanoTime() - a0) / 1e9
    if (!keep) {
      GraftTable.drop(root)
      Seq(d, v).foreach(_.unpersist(blocking = true))
    } else {
      docs = d; vecs = v; indexRoot = root
      minhashDir = s"$root/minhash"; annDir = s"$root/ivfpq"
    }
  }

  /** Gate batch `b` and the ids of its fresh documents, which are the
    * survivors the gate must return; the rest are planted near-duplicates
    * of corpus documents. */
  private def gateBatch(b: Long): (Seq[Doc], Set[Long]) = {
    val r = Gen.rng(ctx.seed, 8, b)
    val batch = (0 until GateDocs).map { j =>
      val id = 10000000L + b * GateDocs + j
      if (r.nextDouble() < DupShare)
        Gen.doc(id, Gen.nearDup(Gen.corpusDoc(ctx.seed, r.nextInt(NDocs)).text, r), r) -> false
      else Gen.doc(id, Gen.docText(r), r) -> true
    }
    (batch.map(_._1), batch.collect { case (d, true) => d.doc_id }.toSet)
  }

  private def gate(log: OpLog, tr: Option[Tracer]): Unit = {
    val (batch, fresh) = gateBatch(gateNo)
    gateNo += 1
    val df = batch.toDF()
    var got = Set.empty[Long]
    log.op("gate") {
      got = Workload.span(tr, "pipeline.gate") {
        MinhashIndex.gate(minhashDir, docs, df)
          .select("doc_id").as[Long].collect().toSet
      }
      // a fresh document gated out, or an id the batch never held, is
      // wrong; a planted duplicate let through is a recall miss
      fresh.subsetOf(got) && got.subsetOf(batch.map(_.doc_id).toSet)
    }
    plantedSeen += batch.size - fresh.size
    plantedGated += (batch.size - fresh.size) - (got -- fresh).size
  }

  private def ann(log: OpLog, tr: Option[Tracer]): Unit = {
    val picks = (0 until QueryBatch).map(j => ((annNo * QueryBatch + j) % QueryPool).toInt)
    annNo += 1
    val qdf = picks.map(queries(_)).toDF()
    var res = Map.empty[Long, Seq[Long]]
    log.op("ann") {
      res = Workload.span(tr, "pipeline.ann") {
        AnnIndex.queryIvfPq(annDir, vecs, qdf, K)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
      }
      picks.forall { p =>
        res.get(queries(p).vec_id).exists(ns => ns.size == K && ns.distinct.size == K &&
          ns.forall(n => n >= 0 && n < NVecs))
      }
    }
    picks.foreach { p =>
      val ns = res.getOrElse(queries(p).vec_id, Nil).toSet
      recallSum += exact(p).count(ns.contains).toDouble / K
      recallN += 1
    }
  }

  def warmup(log: OpLog): Unit = { gate(log, None); ann(log, None) }

  def step(i: Long, log: OpLog, tr: Option[Tracer]): Unit = {
    if (i == 0) { plantedSeen = 0; plantedGated = 0; recallSum = 0; recallN = 0 }
    if (i % (1 + AnnPerGate) == 0) gate(log, tr) else ann(log, tr)
  }

  def named(log: OpLog, r: Report): Unit = {
    val g = log.of("gate"); val a = log.of("ann")
    r.named("dedup_docs_per_s") = (g.size * GateDocs / log.wallS, "docs/s")
    r.named("ann_query_p50_s") = (Stats.median(a), "s")
    r.named("ann_query_tail_s") = (Stats.tail(a)._2, "s")
    r.named("ann_recall_at_10") = (recallSum / recallN, "ratio")
    r.named("dedup_recall") = (Stats.ratio(plantedGated, plantedSeen), "ratio")
    r.notes += Stats.tailNote("ann_query_tail_s", a) +
      s"; ${g.size} gate batches of $GateDocs documents, query batches of $QueryBatch"
  }

  def layers(log: OpLog, tr: Tracer, jobs: Seq[JobRec], r: Report): Unit = {
    val g = jobs.filter(_.span == "pipeline.gate")
    val a = jobs.filter(_.span == "pipeline.ann")
    val (ng, na) = (log.of("gate").size.toDouble, log.of("ann").size.toDouble)
    LayerFill.set(r, "pipeline.gate.jobs", g.size / ng)
    LayerFill.set(r, "pipeline.gate.task_s", g.map(_.taskMs).sum / 1e3 / ng)
    LayerFill.set(r, "pipeline.gate.shuffle_bytes", g.map(_.shuffleWrite).sum / ng)
    LayerFill.set(r, "pipeline.ann.jobs", a.size / na)
    LayerFill.set(r, "pipeline.ann.task_s", a.map(_.taskMs).sum / 1e3 / na)
    LayerFill.set(r, "pipeline.ann.rows_scanned_per_query", a.map(_.inRecords).sum / (na * QueryBatch))
    LayerFill.set(r, "pipeline.ann.index_build_s", Stats.median(buildAnnS.toSeq))
    Kernels.measure(spark, docs, vecs, r)
  }

  def finish(r: Report): Unit = {
    r.attempted += 2
    if (recallSum / recallN < RecallFloor) {
      r.failed += 1
      System.err.println(s"[graftbench] ann recall@10 ${recallSum / recallN} < $RecallFloor")
    }
    if (Stats.ratio(plantedGated, plantedSeen) < DedupRecallFloor) {
      r.failed += 1
      System.err.println(s"[graftbench] planted duplicates gated $plantedGated of $plantedSeen")
    }
  }

  /** Over the index tables: MinHash buckets, IVF centroids, PQ codebooks
    * and codes. */
  def storageAmplification(): Double =
    TableProbe.storageAmplification(
      Seq("minhash/buckets", "ivfpq/centroids", "ivfpq/codebooks", "ivfpq/codes")
        .map(p => GraftTable.load(spark, s"$indexRoot/$p")), s"${ctx.work}/plain_parquet")

  def teardown(): Unit = {
    GraftTable.drop(indexRoot)
    Seq(docs, vecs).foreach(_.unpersist(blocking = true))
  }
}
