package graft

import org.apache.spark.sql.SparkSession

/** The one session regime: Bench, Verify, ScaleUp, ProfileOne and the tests
  * all run the engine under these settings. */
object GraftSession {
  /** @param cores local threads and shuffle partitions: SPARK_GRAFT_CPUS,
    *   default 8 — measured at sf0.1 on a 32-cpu box, 8 threads beats
    *   4/16/32 (per-task rows are small enough that scheduling overhead
    *   dominates above 8)
    * @param warehouse root of the `graft` catalog's tables */
  def start(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      warehouse: String =
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"
  ): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // keep AQE's parallelism-first coalescing from SERIALIZING small
      // CPU-bound stages: the default 1 MB minPartitionSize floor wins
      // over the bytes/parallelism target on metadata-scale shuffles and
      // collapses window/sort/write stages to a handful of tasks; a 64k
      // floor still merges crumb partitions while the scale-adaptive
      // bytes/parallelism target governs real data (unchanged at scale)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // small-reduce-side SQL shuffles route to the Tungsten serialized
      // shuffle writer (ONE output file per map task) instead of the
      // bypass-merge writer (numPartitions files per map task + an NIO
      // concat): stack sampling showed shuffle-file creation as the top
      // runnable frame across the lake/index write paths
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // let AQE re-plan (coalesce) the output partitioning of CACHED
      // plans too: the engine pins hot intermediates (tag joins, shingle
      // frames), and without this every consumer of a cached frame
      // inherits the raw shuffle partition count however tiny the data —
      // scale-adaptive everywhere, not a local-mode tune
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // AQE posts a SparkListenerSQLAdaptiveExecutionUpdate with a full
      // explainString on EVERY replan; at many stages per query the
      // default "formatted" mode makes plan stringification a measurable
      // driver cost (~1/4 of RUNNABLE driver samples on the lake write
      // paths). "simple" keeps the event, drops the expensive rendering —
      // pure driver-overhead reduction, scale-independent.
      .config("spark.sql.ui.explainMode", "simple")
      // the generated-class cache (CodeGenerator.cache) holds only 100
      // entries by default; a 125-query sweep churns ~10 codegen units per
      // query, so every pass recompiles nearly every plan fragment through
      // janino (RUNNABLE janino/deflate frames in driver sampling; queries
      // measure ~2x slower inside the full sweep than isolated). 4096
      // entries keeps the whole sweep resident — steady-state compile
      // behavior any long-lived production driver already has.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // in-process permission ops for file:// — without the hadoop native
      // lib, stock RawLocalFileSystem FORKS `chmod` once per created
      // dir/file (measured: thousands of ~10 ms forks per many-file staged
      // write); same permission bits via java.nio, no subprocess
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
