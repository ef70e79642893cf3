package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for a training-data pipeline (SURVEY.md §2.3,
 * beyond-reference): duplicate-cluster resolution over candidate pairs,
 * deterministic stratified sampling, and token-budget shard packing.
 */
object Curation {

  /**
   * Connected components over an undirected candidate-pair graph —
   * the step that turns pairwise near-dup hits (minhash/simhash/jaccard)
   * into dedup decisions: every component keeps one canonical document.
   *
   * Min-label propagation with POINTER JUMPING to a fixpoint: each round
   * every vertex takes the smallest component id among itself and its
   * neighbors, then re-labels through its label's own label
   * (comp(v) := comp(comp(v)) — path compression). The jump halves label-
   * chain depth per round, so convergence is O(log diameter) rounds, not
   * O(diameter): a 1000-long near-dup CHAIN converges in ~12 rounds where
   * plain propagation needs 1000. Rounds are plain shuffles on vertex id,
   * `localCheckpoint` cuts the growing lineage, the driver only sees a
   * per-round changed flag. Near-dup graphs are star/clique-shaped (tiny
   * diameter), so typical convergence stays 2–4 rounds.
   *
   * THROWS on `maxIter` exhaustion instead of returning silently-wrong
   * clusters — an unconverged labelling splits one true component into
   * several, and downstream dedup would then keep duplicates.
   *
   * Returns (id, component) with component = the smallest vertex id in the
   * component — deterministic, engine-independent.
   */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      idCol: String = "id", srcCol: String = "id_a", dstCol: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
    var comp = vertices.select(col(idCol).as("id"), col(idCol).as("comp"))
      .localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // smallest comp among each vertex's neighbors this round
      val viaNeighbors = sym
        .join(comp.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("comp")).as("ncomp"))
      val propagated = comp.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (col("ncomp") < col("comp")).as("changed"))
      // pointer jump: follow the new label to ITS (previous-round) label.
      // Labels are always member-vertex ids, least() keeps them monotone
      // decreasing, so the jump preserves the invariant while compressing
      // chains — comp(comp(v)) ≤ comp(v) because every label only shrinks
      val next = propagated.join(
          comp.select(col("id").as("comp"), col("comp").as("jump")),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"),
          col("changed"))
        .localCheckpoint()
      // convergence tests the PROPAGATION step only: no neighbor improved
      // any label ⇒ labels are constant across every edge ⇒ constant per
      // component ⇒ the jump is a no-op too (comp(min) = min)
      converged = next.filter(col("changed")).limit(1).isEmpty
      comp = next.select(col("id"), col("comp"))
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "the graph's effective diameter survived pointer jumping " +
        "(raise maxIter); refusing to return unconverged (wrong) clusters")
    comp
  }

  /** Duplicate-cluster resolution: vertices + candidate pairs →
    * (id, cluster_id, keep) where keep marks the canonical (smallest-id)
    * member of each cluster. Downstream dedup is `filter(col("keep"))`. */
  def dupClusters(vertices: DataFrame, pairs: DataFrame,
      idCol: String = "id", srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame =
    connectedComponents(vertices, pairs, idCol, srcCol, dstCol)
      .select(col("id"), col("comp").as("cluster_id"),
        (col("id") === col("comp")).as("keep"))

  /**
   * Deterministic stratified Bernoulli sample: keep a row iff
   * `md5(cast(id))` falls below the stratum's hex threshold. No RNG, no
   * seed plumbing — the same (id, stratum, fraction) always samples the
   * same rows on any engine or cluster size, re-runs are idempotent, and
   * the filter is a codegen'd map-side predicate (no shuffle, pushes
   * through scans). Fractions are honored to md5's 128-bit resolution
   * via an 8-hex-digit (2⁻³²) threshold prefix.
   *
   * Strata missing from `fractions` are dropped (fraction 0).
   */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "sampling fractions must be in [0, 1]")
    val thresholds = fractions.map { case (s, f) => s -> hexThreshold(f) }
    val cases = thresholds.foldLeft(lit(""): Column) { case (acc, (s, t)) =>
      when(col(strataCol) === s, lit(t)).otherwise(acc)
    }
    df.filter(md5(col(idCol).cast("string")) < cases)
  }

  /** An 8-hex-char lower-bound threshold: P(md5 < t) = fraction (md5 hex is
    * uniform; lexicographic compare on lowercase hex = numeric compare). */
  def hexThreshold(fraction: Double): String = {
    val clamped = math.min(math.max(fraction, 0.0), 1.0)
    val v = math.round(clamped * 4294967296.0d).min(0xffffffffL)
    f"$v%08x"
  }

  /**
   * Hard per-source token budgets — the "mix to N tokens per domain"
   * recipe of pretraining-data curation (the exact-count counterpart of
   * [[mixDomains]]' fractional weights): each source keeps its documents
   * in a DETERMINISTIC shuffle order (md5 of the id — no RNG, idempotent
   * at any parallelism) until the source's token budget is exhausted; the
   * document that would cross the budget is dropped. Sources absent from
   * `budgets` are dropped entirely (explicit mix).
   *
   * The per-source running sum uses the same distributed-scan shape as
   * [[packTokenShards]] — [[keyRanges]] over the shuffle order, per-(range,
   * source) totals to the driver (metadata-sized), window only WITHIN each
   * (range, source) — so no source ever funnels through a single reducer:
   * a 100 TB web-heavy mix scans in parallel across every range.
   */
  def mixTokenBudget(docs: DataFrame, tokenCol: Column,
      budgets: Map[String, Long], sourceCol: String = "source",
      idCol: String = "doc_id", numPartitions: Int = 0): DataFrame = {
    require(budgets.nonEmpty, "at least one source budget required")
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val budgetDf = budgets.toSeq.toDF(sourceCol, "_budget")
    val (ordered, stats) = keyRanges(
      docs.join(broadcast(budgetDf), Seq(sourceCol))
        .withColumn("_tokens", tokenCol.cast("long"))
        .withColumn("_ord", md5(col(idCol).cast("string"))),
      "_ord", Seq(sourceCol), numPartitions)
    val totals = stats.map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val offsetRows = totals.keys.groupBy(_._2).toSeq.flatMap { case (s, keys) =>
      val pids = keys.map(_._1).toSeq.sorted
      val offs = pids.scanLeft(0L)((acc, p) => acc + totals((p, s)))
      pids.zip(offs).map { case (p, o) => (p, s, o) }
    }
    val offsetDf = offsetRows.toDF("_pid", sourceCol, "_offset")
    val w = Window.partitionBy(col("_pid"), col(sourceCol))
      .orderBy(col("_ord"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered.join(broadcast(offsetDf), Seq("_pid", sourceCol))
      .withColumn("_cum", col("_offset") + sum(col("_tokens")).over(w))
      .filter(col("_cum") <= col("_budget"))
      .drop("_pid", "_offset", "_cum", "_ord", "_budget")
      .withColumnRenamed("_tokens", "tokens")
  }

  /**
   * `df` with `_pid`, the contiguous ascending range of `key` each row
   * falls in (at most `numPartitions` ranges; 0 = the shuffle partitions),
   * and the rows (`_pid`, `groups`…, sum of `_tokens`, …) with the total
   * per range and group: the driver-side half of a distributed prefix sum.
   *
   * ONE repartitionByRange pass cuts and sums the ranges; `_pid` is then
   * re-derived from each range's lowest key, never by a second range
   * exchange: RangePartitioner seeds its sample with the RDD id, so two
   * exchanges over the same input cut different boundaries once an input
   * partition outgrows the sample, and the totals would describe other
   * ranges than the rows land in. Nulls sort first, into the first range.
   */
  private def keyRanges(df: DataFrame, key: String, groups: Seq[String],
      numPartitions: Int): (DataFrame, Seq[Row]) = {
    val parts = if (numPartitions > 0) numPartitions
                else df.sparkSession.sessionState.conf.numShufflePartitions
    val stats = df.select((key +: "_tokens" +: groups).map(col): _*)
      .repartitionByRange(parts, col(key))
      .groupBy(spark_partition_id().as("_pid") +: groups.map(col): _*)
      .agg(sum("_tokens"), min(key).as("_min"))
      .withColumn("_floor", min("_min").over(Window.partitionBy("_pid")))
      .collect().toSeq
    val floors = stats.map(r => r.getInt(0) -> r.getAs[Any]("_floor"))
      .distinct.sortBy(_._1)
    val pid = floors.drop(1).foldLeft(lit(floors.headOption.fold(0)(_._1))) {
      case (acc, (p, floor)) => when(col(key) >= lit(floor), p).otherwise(acc)
    }
    (df.withColumn("_pid", pid), stats)
  }

  /**
   * Token-budget shard packing: assign each document to a training shard of
   * ~`budget` tokens, preserving `orderCol` order (shard s = docs whose
   * cumulative token start offset lands in [s·budget, (s+1)·budget)).
   *
   * The global prefix sum is computed WITHOUT a single-partition window —
   * the classic distributed scan: [[keyRanges]] cuts `orderCol` into
   * contiguous ranges and sums each (tiny per-range totals to the driver),
   * the totals become per-range start offsets, then the window runs only
   * WITHIN each range (parallel, no global sort/shuffle to one reducer).
   * Results are identical to a global running sum for any range
   * boundaries.
   */
  def packTokenShards(df: DataFrame, tokenCol: Column, budget: Long,
      orderCol: String, numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "shard token budget must be positive")
    val spark = df.sparkSession
    val (ranged, stats) = keyRanges(
      df.withColumn("_tokens", tokenCol.cast("long")), orderCol, Nil, numPartitions)
    val totals = stats.map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft(0L)((acc, t) => acc + t._2)
    import spark.implicits._
    val offsetDf = totals.map(_._1).zip(offsets).toDF("_pid", "_offset")
    val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsetDf), Seq("_pid"))
      .withColumn("_start", col("_offset") + sum(col("_tokens")).over(w) - col("_tokens"))
      .withColumn("shard", floor(col("_start") / budget))
      .drop("_pid", "_offset", "_start")
      .withColumnRenamed("_tokens", "tokens")
  }

  /**
   * Best-fit context-window packing: assign each document to a bin of
   * capacity `budget` tokens, wasting less space than the prefix-sum shard
   * cut ([[packTokenShards]] splits the token stream mid-document; this
   * keeps documents whole — the sequence-packing stage before training).
   *
   * First-fit-decreasing within range buckets: docs are range-partitioned
   * by `orderCol` (so bucketing is deterministic and size-balanced), each
   * bucket sorts (tokens desc, order asc) and runs FFD over a bounded list
   * of open bins. `lookback` caps the open-bin candidate list — bins that
   * fall off are sealed — so executor memory is O(lookback) regardless of
   * bucket size; with decreasing item sizes a sealed bin could only ever
   * accept smaller remnants, so the fill loss vs unbounded FFD is marginal
   * (classic bounded-space bin packing, Csirik–Johnson). Bin ids are
   * `bucket · 2^40 + local`, globally unique without coordination.
   *
   * The per-partition loop is the justified imperative case: FFD is
   * inherently sequential within a bucket, and no window/aggregate
   * composition states it. Everything across buckets stays independent —
   * at 100 TB each bucket packs in isolation, no shuffle after the range
   * exchange. Docs larger than `budget` get a singleton bin (oversize
   * truncation is the tokenizer's job, not the packer's).
   */
  def packBestFit(df: DataFrame, tokenCol: Column, budget: Long,
      idCol: String, orderCol: String, numPartitions: Int = 0,
      lookback: Int = 1024): DataFrame = {
    require(budget > 0, "bin token budget must be positive")
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.sessionState.conf.numShufflePartitions
    import spark.implicits._
    val prepped = df
      .select(col(idCol).cast("string").as("id"),
        tokenCol.cast("long").as("tokens"), col(orderCol).as("_ord"))
      .repartitionByRange(parts, col("_ord"))
      .sortWithinPartitions(col("tokens").desc, col("_ord").asc)
    prepped.mapPartitions { it =>
      // (remaining, binId) open bins, newest last; bounded by `lookback`
      val open = new scala.collection.mutable.ArrayDeque[(Long, Long)]()
      var bucket = -1L
      var nextLocal = 0L
      it.map { row =>
        if (bucket < 0)
          bucket = org.apache.spark.TaskContext.getPartitionId().toLong
        val id = row.getString(0)
        val t = math.max(row.getLong(1), 0L)
        // best fit among open bins: tightest remaining that still fits
        var bestIdx = -1
        var bestRem = Long.MaxValue
        var i = 0
        while (i < open.length) {
          val rem = open(i)._1
          if (rem >= t && rem < bestRem) { bestRem = rem; bestIdx = i }
          i += 1
        }
        val bin =
          if (bestIdx >= 0) {
            val (rem, b) = open(bestIdx)
            if (rem - t > 0) open(bestIdx) = (rem - t, b)
            else open.remove(bestIdx)
            b
          } else {
            val b = bucket * (1L << 40) + nextLocal
            nextLocal += 1
            if (t < budget) {
              open.append((budget - t, b))
              if (open.length > lookback) open.removeHead()
            }
            b
          }
        (id, t, bin)
      }
    }.toDF("id", "tokens", "bin")
  }

  /** Corpus vocabulary: top-k terms by frequency (vocab building / corpus
    * inspection). Lower-cased alpha runs; ties broken by term so the cut
    * is a total order and deterministic at any parallelism. One explode +
    * one partial-aggregated groupBy — the shuffle carries (term, count)
    * pairs, never documents. */
  def vocabTopK(docs: DataFrame, textCol: Column, k: Int): DataFrame =
    docs.select(explode(split(lower(textCol), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)

  /**
   * Domain-mixture sampling: downsample each source so the KEPT token mass
   * approaches `weight(source) × budgetFrac × total corpus tokens` — the
   * "data mixing" stage that rebalances web/wiki/books/code shares before
   * training. Sources absent from `weights` are dropped.
   *
   * One tiny aggregate (per-source token totals — |sources| rows to the
   * driver) fixes each source's keep-fraction
   * `min(1, w·budgetFrac·total/tokens_s)`; rows are then kept by the same
   * deterministic md5-threshold predicate as [[stratifiedSample]] — no
   * RNG, no shuffle, idempotent re-runs, pushes into the scan. Fraction
   * arithmetic uses a FIXED op order ((w × budgetFrac) × total) / tokens_s
   * so an external oracle computing the same doubles lands on the same
   * thresholds bit-for-bit.
   */
  def mixDomains(docs: DataFrame, tokenCol: Column, weights: Map[String, Double],
      budgetFrac: Double, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1, "budgetFrac must be in (0, 1]")
    val withTok = docs.withColumn("_tokens", tokenCol.cast("long"))
    val perSource = withTok.groupBy(col(sourceCol)).agg(sum(col("_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = perSource.values.sum.toDouble
    val fractions = weights.collect { case (s, w) if perSource.contains(s) =>
      s -> math.min(1.0, w * budgetFrac * total / perSource(s).toDouble)
    }
    stratifiedSample(withTok, sourceCol, idCol, fractions)
      .withColumnRenamed("_tokens", "tokens")
  }

  /**
   * Temperature-based domain re-weighting (the multilingual-LM "alpha
   * sampling" rule, mC4/XLM-R-style): a source with natural token share
   * p_s is sampled toward q_s ∝ p_s^alpha — alpha < 1 flattens the
   * distribution (up-samples the tail), alpha > 1 sharpens it. Per-source
   * keep fraction = min(1, budgetFrac · total · q_s / tokens_s); rows kept
   * by the deterministic md5-threshold predicate — no RNG, no shuffle,
   * idempotent at any cluster size.
   *
   * Exactness: p_s^alpha goes through sqrt for alpha = 0.5 (IEEE
   * correctly-rounded on every platform, so the oracle reproduces the
   * thresholds bit-for-bit); the normalizer folds over sources in name
   * order so the double sum is order-fixed.
   */
  def mixTemperature(docs: DataFrame, tokenCol: Column, alpha: Double,
      budgetFrac: Double, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0, "alpha must be > 0")
    require(budgetFrac > 0 && budgetFrac <= 1, "budgetFrac must be in (0, 1]")
    def powA(x: Double): Double =
      if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    val withTok = docs.withColumn("_tokens", tokenCol.cast("long"))
    val perSource = withTok.groupBy(col(sourceCol)).agg(sum(col("_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = perSource.values.sum.toDouble
    val pows = perSource.toSeq.sortBy(_._1)
      .map { case (s, t) => s -> powA(t.toDouble / total) }
    val z = pows.foldLeft(0.0) { case (acc, (_, p)) => acc + p }
    val fractions = pows.map { case (s, p) =>
      s -> math.min(1.0, budgetFrac * total * (p / z) / perSource(s).toDouble)
    }.toMap
    stratifiedSample(withTok, sourceCol, idCol, fractions)
      .withColumnRenamed("_tokens", "tokens")
  }

  /**
   * Repetition signals (quality filtering à la the published "repetitious
   * text" heuristics): per document, the fraction of duplicated words and
   * the share of the most common bigram. High values flag boilerplate /
   * degenerate generations. One explode + two partial-aggregated groupBys;
   * the shuffle carries (doc, token) pairs — corpus-linear, no joins
   * beyond doc-keyed equi-joins.
   */
  def repetitionSignals(docs: DataFrame, textCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    val toks = filter(split(lower(textCol), "[^a-z0-9]+"), t => t =!= "")
    val base = docs.select(col(idCol), toks.as("_t"))
    val words = base.select(col(idCol),
      size(col("_t")).as("n_words"),
      size(array_distinct(col("_t"))).as("n_distinct"))
    val bigrams = base.select(col(idCol), explode(
      when(size(col("_t")) >= 2,
        transform(sequence(lit(0), size(col("_t")) - 2), i =>
          concat_ws(" ", element_at(col("_t"), i + 1), element_at(col("_t"), i + 2))))
        .otherwise(array())).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
    words.join(bigrams, Seq(idCol), "left")
      .select(col(idCol), col("n_words").cast("long").as("n_words"),
        round((col("n_words") - col("n_distinct")).cast("double") /
          greatest(col("n_words"), lit(1)).cast("double"), 4).as("dup_word_frac"),
        round(coalesce(col("top_bg"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bg"), lit(0L)), lit(1)).cast("double"), 4)
          .as("top_bigram_frac"))
  }

  /**
   * Unigram-LM surprisal scoring (the shape of a perplexity quality
   * filter, with the corpus itself as the language model): p(term) =
   * corpus frequency; each document scores Σ −ln p(term) over its tokens.
   * Low-surprisal docs are repetitive/templated; high-surprisal docs are
   * rare-token noise — both tails get filtered in curation.
   *
   * Per-token surprisal is rounded to integer micro-nats BEFORE the
   * per-document sum (integer addition is associative — the result is
   * bit-stable at any parallelism and an external oracle reproduces it
   * exactly). The frequency table is a (term, count) aggregate —
   * corpus-linear, partial-aggregated; the scoring join is an equi-join
   * on term. Returns (id, n_tokens, nats_u).
   */
  def unigramSurprisal(docs0: DataFrame, textCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    // integer micro-nat sums are order-insensitive, so the parallelism
    // floor ([[Dedup.spread]]) is bit-safe here
    val docs = Dedup.spread(docs0, idCol)
    val toks = docs.select(col(idCol),
      explode(split(lower(textCol), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt"))).head().getLong(0).toDouble
    val out = toks.join(freq, Seq("term"))
      .withColumn("u",
        round(-log(col("cnt").cast("double") / lit(total)) * lit(1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("u")).as("nats_u"))
    val materialized = out.localCheckpoint(eager = true)
    toks.unpersist(blocking = false)
    materialized
  }

  /**
   * Bigram-LM surprisal with add-one smoothing — the n-gram upgrade of
   * [[unigramSurprisal]] (perplexity filters in CCNet/RedPajama score with
   * an n-gram LM, not unigrams): p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)
   * where V is the corpus vocabulary size and c(w1·) counts w1 as a
   * bigram left context. Per-position surprisal rounds to integer
   * micro-nats BEFORE the per-document sum, so the result is bit-stable
   * at any parallelism and exactly reproducible by an external oracle.
   *
   * Scale shape: bigrams form PER ROW from adjacent array slots — no
   * window shuffle, no self-join; the two count tables are
   * partial-aggregated groupBys carrying only (w1[,w2],count); scoring is
   * an equi-join on (w1,w2) plus a (w1) join. Docs with <2 tokens keep a
   * zero row. Returns (id, n_bigrams, nats2_u).
   */
  def bigramSurprisal(docs0: DataFrame, textCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    // integer micro-nat sums are order-insensitive — spread is bit-safe
    val docs = Dedup.spread(docs0, idCol)
    val withArr = docs.select(col(idCol),
      array_remove(split(lower(textCol), "[^a-z0-9]+"), "").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bg = withArr
      .select(col(idCol), explode(when(size(col("w")) >= 2,
        expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
        .otherwise(expr("array()"))).as("b"))
      .select(col(idCol), col("b.w1"), col("b.w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = withArr.select(explode(col("w")).as("term")).distinct().count()
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val scored = bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("u", round(-log(
        (col("c2").cast("double") + lit(1.0)) /
          (col("c1") + lit(vocab)).cast("double")) * lit(1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("u")).as("nats2_u"))
    val out = withArr.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nats2_u"), lit(0L)).as("nats2_u"))
    val materialized = out.localCheckpoint(eager = true)
    bg.unpersist(blocking = false)
    withArr.unpersist(blocking = false)
    materialized
  }

  /**
   * Tokenizer-vocabulary coverage / OOV-rate scoring: build the top-`k`
   * corpus vocabulary (total-order cut: count desc, term asc), then score
   * each document's fraction of tokens OUTSIDE it — the "how well does a
   * fixed tokenizer vocab cover this corpus slice" check run before
   * committing to a tokenizer. High OOV docs are noise/foreign/binary
   * spill; the signal also drives per-source vocab sizing.
   *
   * Scale shape: tokens explode ONCE (pinned), the vocab is a (term,count)
   * aggregate cut to k rows and broadcast into the scoring join — the
   * shuffle carries (doc, term) pairs once, corpus-linear.
   * Returns (id, n_tokens, n_oov, oov_frac).
   */
  def vocabCoverage(docs0: DataFrame, textCol: Column, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    // long counts only — spread is bit-safe
    val docs = Dedup.spread(docs0, idCol)
    val toks = docs.select(col(idCol),
      explode(array_remove(split(lower(textCol), "[^a-z0-9]+"), "")).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(k)
      .select(col("term"), lit(1).as("_in"))
    val out = toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 4).as("oov_frac"))
    val materialized = out.localCheckpoint(eager = true)
    toks.unpersist(blocking = false)
    materialized
  }

  /**
   * Bad-word document filter (the C4 "blocklist" pass: drop any document
   * containing a blocklisted token). The blocklist is a LITERAL array —
   * compiled straight into the codegen'd predicate, so the filter is a
   * map-side scan predicate: no join, no shuffle, no broadcast exchange,
   * nothing to skew. At 100 TB this is the cheapest possible corpus pass —
   * one read, one whole-stage-codegen'd filter. Tokenization matches the
   * other curation ops (lower-cased alnum runs).
   */
  def badwordFilter(docs: DataFrame, textCol: Column,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist filters nothing")
    val toks = array_remove(split(lower(textCol), "[^a-z0-9]+"), "")
    docs.filter(!arrays_overlap(toks, lit(blocklist.map(_.toLowerCase).toArray)))
  }

  /**
   * Linear quality classifier (the fastText-classifier filtering shape of
   * DCLM/FineWeb-Edu, reduced to a fixed linear model over handcrafted
   * features): logit = b + Σ wᵢ·fᵢ over word count (log), stopword ratio,
   * punctuation ratio and lexical diversity. The logit is computed in a
   * FIXED left-associative op order and then rounded to integer
   * micro-logits, so the score is bit-stable at any parallelism and an
   * external oracle states the same doubles. A real deployment swaps the
   * hand-set weights for trained ones — the execution shape (pure
   * per-row codegen expression, no UDF, no shuffle) is what matters at
   * 100 TB.
   *
   * Returns (id, n_words, logit_u, keep) with keep = logit_u >= 0.
   */
  def qualityClassifier(docs: DataFrame, textCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    import graft.functions.TextFunctions
    val nWords = TextFunctions.wsTokenCount(textCol)
    val nStop = TextFunctions.stopwordCount(textCol)
    val nPunct = TextFunctions.punctCount(textCol)
    val toks = array_remove(split(lower(textCol), "[^a-z0-9]+"), "")
    val denom = greatest(nWords, lit(1L)).cast("double")
    val stopRatio = nStop.cast("double") / denom
    val punctRatio = nPunct.cast("double") /
      greatest(length(textCol), lit(1)).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / denom
    // fixed left-assoc fold: ((((b + w1·f1) + w2·f2) + w3·f3) + w4·f4)
    val logit = lit(-2.5) +
      lit(0.5) * log(greatest(nWords, lit(1L)).cast("double")) +
      lit(3.0) * stopRatio +
      lit(-8.0) * punctRatio +
      lit(1.5) * distinctRatio
    docs.select(col(idCol), nWords.as("n_words"),
      round(logit * lit(1e6)).cast("long").as("logit_u"))
      .withColumn("keep", (col("logit_u") >= 0L).cast("int"))
  }

  /**
   * Line-level boilerplate removal (the CCNet/C4-style pass that strips
   * "subscribe to our newsletter" lines): a line appearing in more than
   * `maxDocFrac` of all documents is boilerplate; every occurrence is
   * dropped and the per-document remainder is reassembled in line order.
   *
   * The line-frequency table is one (line, doc)-distinct aggregate; the
   * boilerplate set (by construction ≤ 1/maxDocFrac lines, a handful) is
   * broadcast into a left-anti join — the corpus shuffles once on the
   * reassembly groupBy, lines never all-pair.
   *
   * Returns (id, n_units, n_kept, clean).
   */
  def stripBoilerplate(docs: DataFrame, textCol: Column, maxDocFrac: Double = 0.5,
      idCol: String = "doc_id"): DataFrame = {
    // Pin the exploded units ONCE: they feed the hot-line aggregate, the
    // left-anti reassembly AND the per-doc totals — unpersisted, that is
    // three full corpus explodes (and at 100 TB three corpus scans).
    val units = docs.select(col(idCol),
      posexplode(split(textCol, "\n")).as(Seq("pos", "unit")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // doc count as a lazy 1-row aggregate folded into the hot-line plan —
    // no eager driver-side count() scan of the raw corpus (split("") is
    // never empty, so every doc contributes at least one unit)
    val nDocs = units.agg(countDistinct(col(idCol)).as("nd"))
    val hot = units.select(col(idCol), col("unit")).distinct()
      .groupBy(col("unit")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > lit(maxDocFrac) * col("nd"))
      .select(col("unit"))
    val kept = units.join(broadcast(hot), Seq("unit"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("unit")))),
          s => s.getField("unit"))).as("clean"))
    // LEFT join: a document whose every line was boilerplate still comes
    // back (n_kept = 0, empty clean) instead of silently vanishing
    val out = units.groupBy(col(idCol)).agg(count(lit(1)).as("n_units"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_units"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean"), lit("")).as("clean"))
    // materialize, then release the pinned units: the function owns the
    // persist, so the caller must never inherit a leaked cache entry
    // (same discipline as unigramSurprisal)
    val materialized = out.localCheckpoint(eager = true)
    units.unpersist(blocking = false)
    materialized
  }

  /**
   * WITHIN-document repeated-line removal — [[stripBoilerplate]]'s
   * intra-doc sibling (the C4 self-dedup pass that drops a line repeated
   * inside the same page, keeping its first occurrence in order).
   *
   * One posexplode + one window over (doc, line) — the shuffle carries
   * (doc, line) pairs, each document's lines stay together, nothing is
   * cross-document. Returns (id, n_lines, n_kept, clean).
   */
  /**
   * Context-window chunking: split each document's whitespace tokens into
   * `maxTokens`-token windows every `stride` tokens (stride < maxTokens =
   * overlapping windows, the standard LM-pretraining prep; stride ==
   * maxTokens = disjoint). Returns one row per (doc, chunk):
   * (id, chunk_id, n_tokens, chunk). Documents with no tokens produce no
   * chunks.
   *
   * Scale shape: one projection + one explode of per-doc chunk starts —
   * corpus-linear, no shuffle at all (chunks stay in their document's
   * partition); the token array is built once per row and sliced per
   * chunk inside codegen.
   */
  def chunkDocs(docs: DataFrame, maxTokens: Int = 128, stride: Int = 96,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0 && stride > 0 && stride <= maxTokens,
      s"need 0 < stride ($stride) <= maxTokens ($maxTokens)")
    val toks = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    docs.select(col(idCol), toks.as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col(idCol), col("_t"),
        explode(sequence(lit(0), size(col("_t")) - 1, lit(stride))).as("_start"))
      .select(col(idCol),
        (col("_start") / stride).cast("long").as("chunk_id"),
        slice(col("_t"), col("_start") + 1, lit(maxTokens)).as("_c"))
      .select(col(idCol), col("chunk_id"),
        size(col("_c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk"))
  }

  def dedupLinesWithin(docs: DataFrame, textCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    // n_lines rides through the explode as a per-doc constant (same
    // projection, codegen'd) — no second window partitioning, no rescan
    val units = docs.select(col(idCol),
      size(split(textCol, "\n")).cast("long").as("n_lines"),
      posexplode(split(textCol, "\n")).as(Seq("pos", "line")))
    val w = Window.partitionBy(col(idCol), col("line")).orderBy(col("pos"))
    units.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol), col("n_lines"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("clean"))
      .select(col(idCol), col("n_lines"), col("n_kept"), col("clean"))
  }
}
