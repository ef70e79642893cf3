package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * A Graft table: the reference's lakehouse storage engine (Apache Hudi
 * 0.12.0, ref: hudi-common/.../HoodieTableMetaClient.java + hudi-client)
 * re-expressed as DataFrame transforms over parquet + a JSON timeline.
 *
 * Layout:
 * {{{
 *   <base>/.graft/table.json                     // TableConfig
 *   <base>/.graft/timeline/<ts>.<action>.json    // completed instants
 *   <base>/<partitionPath>/<fileId>_<ts>.parquet        // base file
 *   <base>/<partitionPath>/log_<fileId>_<ts>.parquet    // MOR log file
 * }}}
 *
 * Design-for-scale notes (vs the reference's per-record Java write path):
 *  - every write/merge/compaction is a declarative DataFrame plan (goes
 *    through Catalyst + whole-stage codegen; merges are columnar, not
 *    row-by-row ExternalSpillableMap as in the reference's
 *    HoodieMergeHandle);
 *  - readers never list the filesystem: file slices resolve from commit
 *    metadata only (the reference needs its metadata table for this);
 *  - upsert tagging reads just the key column of candidate base files,
 *    pruned by per-file key min/max recorded at commit time — the existing
 *    table is never shuffled; with a bucket index, tagging is a pure
 *    expression (no scan);
 *  - a physical commit is one distributed staged write + O(#files touched)
 *    metadata renames, same as the reference's commit protocol.
 */
object GraftTable {
  /** Shared "no partition pruning" predicate: read APIs default to this
    * INSTANCE so the engine can tell an unfiltered read (serve the
    * memoized full fold directly) from a genuine pruning predicate (worth
    * a partition-list probe + pruned segment scan) by reference. */
  val NoPrune: String => Boolean = _ => true

  val COMMIT  = "_graft_commit_time"
  val KEY     = "_graft_record_key"
  val PART    = "_graft_partition_path"
  val FILE_ID = "_graft_file_id"
  val DELETED = "_graft_deleted"
  /** Transient routing column: a pre-resolved partition path that withMeta
    * honors instead of re-deriving from the data (never persisted). */
  private[graft] val PART_PIN = "_g_part_pin"
  val metaFields: Seq[StructField] = Seq(
    StructField(COMMIT, StringType), StructField(KEY, StringType),
    StructField(PART, StringType), StructField(FILE_ID, StringType),
    StructField(DELETED, BooleanType))
  val metaCols: Seq[String] = metaFields.map(_.name)

  def create(spark: SparkSession, path: String, config: TableConfig): GraftTable = {
    // virtual-key MOR would need key extraction into log blocks for the
    // merge — the reference likewise gates POPULATE_META_FIELDS=false to
    // the append-only COW shape
    require(config.populateMetaFields || config.tableType == CopyOnWrite,
      "graft.populate.meta.fields=false requires a copy-on-write table")
    saveConfig(path, config)
    val t = new GraftTable(spark, path, config)
    t.timeline.init()
    t
  }

  /** Persist (or re-persist: ALTER TABLE SET TBLPROPERTIES) the table
    * config. Structural fields (keys, partitioning, type, index) must never
    * change after data exists — callers enforce that; this is plain I/O. */
  def saveConfig(path: String, config: TableConfig): Unit = {
    val dir = Paths.get(path, ".graft")
    Files.createDirectories(dir)
    Files.write(dir.resolve("table.json"), Json.mapper.writeValueAsBytes(Map(
      "name" -> config.name, "tableType" -> config.tableType.name,
      "keyFields" -> config.keyFields, "precombineField" -> config.precombineField,
      "partitioning" -> (config.partitioning match {
        case NonPartitioned => Map("kind" -> "none")
        case p: PartitionByColumns => Map("kind" -> "columns", "cols" -> p.cols,
          "hiveStyle" -> p.hiveStyle, "urlEncode" -> p.urlEncode)
        case p: PartitionByTimestamp => Map("kind" -> "timestamp",
          "col" -> p.tsCol, "format" -> p.format, "hiveStyle" -> p.hiveStyle,
          "inputType" -> p.inputType, "inputFormat" -> p.inputFormat)
        case p: PartitionByMixed => Map("kind" -> "mixed",
          "segs" -> p.segs.map(s => Map("col" -> s.col, "segKind" -> s.kind,
            "format" -> s.format)),
          "hiveStyle" -> p.hiveStyle)
      }),
      "index" -> (config.index match {
        case StatsIndex => Map("kind" -> "stats")
        case BucketIndex(n) => Map("kind" -> "bucket", "buckets" -> n)
      }),
      "targetFileSizeRows" -> config.targetFileSizeRows,
      "payload" -> config.payload.name,
      "schemaOnRead" -> config.schemaOnRead,
      "version" -> config.version,
      "populateMetaFields" -> config.populateMetaFields,
      "baseFileFormat" -> config.baseFileFormat,
      "dropPartitionColumns" -> config.dropPartitionColumns)))
    ()
  }

  def load(spark: SparkSession, path: String): GraftTable = {
    val raw = Json.mapper.readValue[Map[String, Any]](
      Files.readAllBytes(Paths.get(path, ".graft", "table.json")))
    def m(k: String) = raw(k).asInstanceOf[Map[String, Any]]
    val part = m("partitioning")("kind") match {
      case "none" => NonPartitioned
      case "columns" => PartitionByColumns(
        m("partitioning")("cols").asInstanceOf[Seq[String]],
        // absent = pre-style writer = hive-style, unencoded
        m("partitioning").getOrElse("hiveStyle", true).toString.toBoolean,
        m("partitioning").getOrElse("urlEncode", false).toString.toBoolean)
      case "timestamp" => PartitionByTimestamp(
        m("partitioning")("col").toString, m("partitioning")("format").toString,
        m("partitioning").getOrElse("hiveStyle", true).toString.toBoolean,
        m("partitioning").getOrElse("inputType", "timestamp").toString,
        m("partitioning").getOrElse("inputFormat", "yyyy-MM-dd").toString)
      case "mixed" => PartitionByMixed(
        m("partitioning")("segs").asInstanceOf[Seq[Map[String, Any]]].map(s =>
          PartitionSegment(s("col").toString, s("segKind").toString,
            s("format").toString)),
        m("partitioning").getOrElse("hiveStyle", true).toString.toBoolean)
    }
    val idx = m("index")("kind") match {
      case "stats" => StatsIndex
      case "bucket" => BucketIndex(m("index")("buckets").toString.toInt)
    }
    new GraftTable(spark, path, TableConfig(
      raw("name").toString, TableType.of(raw("tableType").toString),
      raw("keyFields").asInstanceOf[Seq[String]],
      Option(raw.getOrElse("precombineField", null)).map(_.toString),
      part, idx, raw("targetFileSizeRows").toString.toLong,
      MergePayload.of(raw.getOrElse("payload", "overwrite_latest").toString),
      raw.getOrElse("schemaOnRead", false).toString.toBoolean,
      // absent = written by a pre-version writer = id-less epochs
      raw.getOrElse("version", 1).toString.toInt,
      raw.getOrElse("populateMetaFields", true).toString.toBoolean,
      raw.getOrElse("baseFileFormat", "parquet").toString,
      raw.getOrElse("dropPartitionColumns", false).toString.toBoolean))
  }

  def exists(path: String): Boolean =
    Files.exists(Paths.get(path, ".graft", "table.json"))

  /** Drop a table directory (tests / temp tables). */
  def drop(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Fs.walk(p).reverse.foreach(Files.deleteIfExists(_))
  }

  private[table] def isStatType(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /**
   * Metadata-only bootstrap (ref: hudi BootstrapMode.METADATA_ONLY,
   * hudi-client-common/.../bootstrap): adopt an EXISTING directory of
   * parquet files as a Graft table without rewriting a byte of data — one
   * driver-side footer scan + one commit, regardless of data volume (the
   * 100 TB on-ramp: importing an existing lake costs metadata, not I/O).
   *
   * Meta columns are derived on read (key/partition from the configured
   * expressions, commit "0" so any later upsert wins the merge); the first
   * upsert touching a bootstrapped file group rewrites just that group with
   * materialized meta columns. Partitioned dir layouts are supported when
   * the partition columns are also present IN THE FILE DATA — hive-style
   * writers drop them from the files, which would silently read back null
   * and break key/partition derivation, so that case fails fast here.
   */
  /** Above this many source files the bootstrap footer scan runs as a Spark
    * job instead of on the driver — at a 100 TB adoption (millions of
    * files) a driver-side scan is hours of single-node work plus an OOM
    * risk; executors each read a slice of footers and ship back only the
    * metadata-sized FileMeta rows (ref: the reference distributes bootstrap
    * the same way, hudi-client/hudi-spark-client/.../bootstrap/
    * SparkBootstrapCommitActionExecutor.java). */
  private[graft] val DistributedFooterScanThreshold = 64

  def bootstrapInPlace(spark: SparkSession, path: String, config: TableConfig,
      distributeOver: Int = -1): GraftTable = {
    val base = Paths.get(path)
    require(Files.exists(base), s"bootstrap source $path does not exist")
    val parquets = Fs.walk(base).iterator
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith(".") &&
        !base.relativize(p).toString.contains(".graft"))
      .toSeq.sortBy(_.toString)
    require(parquets.nonEmpty, s"no parquet files under $path to bootstrap")
    val dataSchema = spark.read.parquet(path).schema
    // a dir-level read INFERS hive partition columns into the schema even
    // when the files don't contain them; every file's PHYSICAL schema is
    // checked below (inside the footer scan — a mixed directory where only
    // some files materialize the columns must fail too)
    val needed = (config.keyFields ++ config.partitioning.columns).distinct
    val statCols = dataSchema.fields.filter(f => isStatType(f.dataType)).map(_.name).toSet
    // a derived key range is only sound when the single key column is itself
    // a string: for other types the lexical order of the cast differs from
    // the native order, and a wrong range would wrongly exclude candidates.
    // No range = "unknown" = always a tagging candidate (correct, slower).
    val keyCol = config.keyFields match {
      case Seq(k) if dataSchema.fields.exists(f => f.name == k && f.dataType == StringType) =>
        Some(k)
      case _ => None
    }
    val conf = spark.sessionState.newHadoopConf()
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val nonPartitioned = config.partitioning == NonPartitioned
    // (rel path, derived partition, stable index) resolved on the driver —
    // the partition comes from the DIRECTORY name: reads rebuild _g_part
    // from the data via pathExpr and tagging joins on it, so a raw
    // directory string (URL-escaped segments, or a nested dir under a
    // NonPartitioned config) that disagrees would make every re-upsert of
    // these keys a silent duplicate. Escapes are decoded here; agreement
    // with pathExpr is validated below before any table state is created.
    val entries: Seq[(String, String, Int)] = parquets.zipWithIndex.map { case (p, i) =>
      val rel = base.relativize(p).toString
      val dirPart = Option(Paths.get(rel).getParent).map(_.toString).getOrElse("")
      val partition = if (nonPartitioned) "" else unescapePath(dirPart)
      (rel, partition, i)
    }
    // the per-file kernel runs EITHER on the driver (small dirs — no job
    // overhead) or inside a Spark job; it captures only serializable
    // scalars so both paths execute the identical code
    val basePathStr = path
    def metaOf(rel: String, partition: String, i: Int,
        c: org.apache.hadoop.conf.Configuration): FileMeta = {
      val st = FooterStats.read(c, Paths.get(basePathStr, rel), statCols, tz)
      val missing = needed.filterNot(st.columns.contains)
      require(missing.isEmpty,
        s"bootstrap source file $rel lacks column(s) ${missing.mkString(", ")} " +
          "(hive-style writers drop partition columns from data files); " +
          "rewrite with the columns materialized (spark.read.parquet(dir) " +
          "rehydrates them) or bootstrap as NonPartitioned")
      val (kmin, kmax) = keyCol.flatMap(st.minMax.get).getOrElse(("", ""))
      FileMeta(rel, f"boot-$i%05d", partition, st.rows,
        bytes = st.bytes,
        keyMin = kmin, keyMax = kmax,
        colStats = st.minMax.map { case (c2, (mn, mx)) => c2 -> Array(mn, mx) },
        external = true)
    }
    // footer scan + validation run BEFORE any table state is created: a
    // failed bootstrap must leave the user's source directory untouched
    // (no half-created .graft, no dangling inflight instant)
    val threshold = if (distributeOver >= 0) distributeOver
                    else DistributedFooterScanThreshold
    val files: Seq[FileMeta] =
      if (entries.size <= threshold) {
        import scala.collection.parallel.CollectionConverters._
        entries.par.map { case (rel, part, i) => metaOf(rel, part, i, conf) }.seq.toSeq
      } else {
        val hconf = org.apache.spark.graftbridge.ConfBridge
          .broadcast(spark.sparkContext, conf)
        val slices = math.min(entries.size,
          math.max(spark.sparkContext.defaultParallelism * 4, 32))
        spark.sparkContext.parallelize(entries, slices)
          .map { case (rel, part, i) => metaOf(rel, part, i, hconf.value.value) }
          .collect().toSeq.sortBy(_.path)
      }
    validateBootstrapPartitions(spark, path, config, files)
    val t = create(spark, path, config)
    val instant = t.timeline.startInstant("commit")
    t.timeline.complete(CommitMeta(instant, "commit", "bootstrap",
      schemaJson = dataSchema.json, files = files.toSeq))
    t
  }

  /** FULL_RECORD bootstrap (ref: hudi-client-common/.../bootstrap/
    * BootstrapMode.java FULL_RECORD vs METADATA_ONLY): REWRITE the adopted
    * parquet into keyed graft file groups — one bulk_insert over the source
    * — then remove the originals, whose rows now live in graft files. The
    * adopted table pays the rewrite once and never again pays
    * [[bootstrapInPlace]]'s adoption-format penalty on reads and upserts
    * (external files carry no meta columns, no per-row file id, no blooms).
    *
    * Failure atomicity: the rewrite stages under `.graft/` and originals
    * are deleted only AFTER the bulk_insert commit completes; any earlier
    * failure removes `.graft`, leaving the source directory untouched
    * (stray staged files are invisible to readers — slices resolve from
    * commit metadata only). */
  def bootstrapFullRecord(spark: SparkSession, path: String,
      config: TableConfig): GraftTable = {
    val base = Paths.get(path)
    require(Files.exists(base), s"bootstrap source $path does not exist")
    require(!exists(path), s"$path is already a graft table")
    val originals = Fs.walk(base).iterator
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith(".") &&
        !base.relativize(p).toString.contains(".graft"))
      .toSeq.sortBy(_.toString)
    require(originals.nonEmpty, s"no parquet files under $path to bootstrap")
    // dir-level read rehydrates hive partition columns into the frame, so
    // the configured partitioning can re-derive the layout on write
    val df = spark.read.parquet(path)
    try {
      val t = create(spark, path, config)
      t.bulkInsert(df)
      originals.foreach(Files.deleteIfExists(_))
      // prune now-empty source partition dirs the rewrite abandoned
      Fs.walk(base).reverse
        .filter(p => Files.isDirectory(p) && p != base &&
          !base.relativize(p).toString.contains(".graft"))
        .foreach { d =>
          if (Fs.isEmptyDir(d)) Files.deleteIfExists(d)
        }
      t
    } catch { case e: Throwable =>
      val meta = base.resolve(".graft")
      if (Files.exists(meta))
        Fs.walk(meta).reverse.foreach(Files.deleteIfExists(_))
      throw e
    }
  }

  /** Fail fast (still before any table state exists) if the directory-derived
    * partition disagrees with what the configured partitioning derives from
    * the DATA — wrong column order, a 'date=' vs 'dt=' prefix, or an
    * unexpected timestamp format would otherwise break upsert tagging
    * silently. Cost: ONE distributed job reading only the
    * partition-deriving columns of one sample file per distinct partition
    * (at 10k partitions the previous shape was 10k driver-issued limit-1
    * jobs); a value varying WITHIN a sample file now also fails, which the
    * old single-row probe missed. */
  private def validateBootstrapPartitions(spark: SparkSession, path: String,
      config: TableConfig, files: Seq[FileMeta]): Unit = config.partitioning match {
    case NonPartitioned => ()
    case p =>
      val samples: Map[String, String] = files.filter(_.rows > 0)
        .groupBy(_.partition)
        .map { case (part, fs) => fs.head.path -> part }
      if (samples.isEmpty) return
      val baseAbs = Paths.get(path).toAbsolutePath
      // mergeSchema: the unified multi-file read must not adopt one sampled
      // footer's physical type for a partition-deriving column that another
      // partition's files store differently
      val derived = spark.read.option("mergeSchema", "true")
        .parquet(samples.keysIterator.map(r => s"$path/$r").toSeq: _*)
        .select(input_file_name().as("_f"), p.pathExpr.cast("string").as("_p"))
        .distinct().collect()
      derived.foreach { r =>
        // input_file_name is a URI (file:///..., %-encoded); decode via
        // URI.getPath so names with spaces or literal '%' relativize right
        val rel = baseAbs.relativize(
          Paths.get(new java.net.URI(r.getString(0)).getPath)).toString
        // this validation exists to prevent silent duplicate re-upserts, so
        // a path that fails to map back to a sampled file is itself a
        // failure — never a silent skip of the remaining partitions
        val part = samples.getOrElse(rel, sys.error(
          s"bootstrap validation could not map scanned file '$rel' back to " +
            "a sampled source file (URI normalization or symlinked base " +
            "dir?) — refusing to skip partition validation"))
        val d = Option(r.getString(1)).getOrElse("")
        require(d == part,
          s"bootstrap partition mismatch: directory layout says '$part' but " +
            s"the configured partitioning derives '$d' from the data " +
            s"(sampled $rel). Reads derive partitions from data, so the " +
            "two must agree — check partition-column order, path prefix, " +
            "and timestamp format")
      }
  }

  /** Inverse of Spark's hive-path escaping: decode %XX sequences only.
    * (Unlike URLDecoder, a literal '+' stays '+' — hive path escaping
    * never encodes a space as '+', so URL-decoding would corrupt values
    * that genuinely contain pluses.) */
  private[table] def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** Optimistic-concurrency conflict (ref: hudi ConcurrentModificationException
  * from SimpleConcurrentFileWritesConflictResolutionStrategy). */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** One metadata-table row: a recorded file (`kind=file`, full [[FileMeta]]
  * fidelity) or a replaced-group tombstone (`kind=replaced`). Flat so the
  * parquet segments stay engine-agnostic. */
case class MdtRow(
    kind: String, instant: String, action: String, operation: String,
    partition: String, fileId: String, path: String, rows: Long,
    isLog: Boolean, bytes: Long, keyMin: String, keyMax: String,
    colStats: Map[String, Array[String]], origInstant: String,
    external: Boolean, hasBloom: Boolean) {
  def toFileMeta: FileMeta = FileMeta(path, fileId, partition, rows, isLog,
    bytes, keyMin, keyMax, colStats, origInstant, external, hasBloom)
}

object MdtRow {
  def ofFile(f: FileMeta, partition: String, fileId: String,
      instant: String, action: String, operation: String): MdtRow =
    MdtRow("file", instant, action, operation, partition, fileId, f.path,
      f.rows, f.isLog, f.bytes, f.keyMin, f.keyMax, f.colStats,
      f.origInstant, f.external, f.hasBloom)

  /** A commit's exact metadata-table delta: its file records plus
    * replaced-group tombstones. */
  def of(m: CommitMeta): Seq[MdtRow] =
    m.files.map(f => ofFile(f, f.partition, f.fileId,
      m.instant, m.action, m.operation)) ++
      m.replaced.map { r =>
        val Array(p, fid) = r.split('|')
        MdtRow("replaced", m.instant, m.action, m.operation, p, fid, "",
          0L, isLog = false, 0L, "", "", Map.empty, "",
          external = false, hasBloom = false)
      }
}

/** A live file group version: base file(s) written at `baseInstant` plus the
  * log files appended after it (ref: hudi HoodieFileGroup/FileSlice). */
case class FileSlice(partition: String, fileId: String, baseInstant: String,
    baseFiles: Seq[FileMeta], logs: Seq[(String, FileMeta)]) {
  def totalRows: Long = baseFiles.map(_.rows).sum + logs.map(_._2.rows).sum
}

class GraftTable(val spark: SparkSession, val basePath: String, val config: TableConfig) {
  import GraftTable._
  val timeline = new Timeline(basePath)
  timeline.manifestLoader = readManifest
  private def dataActions = Set("commit", "deltacommit", "replacecommit")

  /** Rows written by one commit, from its recorded per-file write stats
    * (the same source `CALL show_commit_write_stats` serves). Metadata-only
    * — an index build returns its indexed-row count from here instead of a
    * corpus-scale re-count of the table it just wrote. */
  def commitRows(instant: String): Long = {
    timeline.refresh()
    timeline.metasSlim(None).find(_.instant == instant)
      .map(_.files.map(_.rows).sum).getOrElse(0L)
  }

  /** Columnar checkpoint manifests (ref: hudi's metadata-table principle —
    * HoodieBackedTableMetadata.java — no process ever parses a monolithic
    * file-listing document): the archival checkpoint's carried file set is
    * parquet under `timeline/manifests/<instant>/`, written DISTRIBUTED
    * and read back as one pruned columnar scan. At 10⁶ files the old
    * inline-JSON form was a ~GB single-threaded Jackson parse on every
    * cold open; the manifest is a sub-second parallel read — and slim
    * consumers (schema folds, conflict checks, checkpoint watermarks)
    * never load it at all. */
  private def manifestRel(instant: String) = s".graft/timeline/manifests/$instant"

  private def writeManifest(instant: String, files: Seq[FileMeta]): String = {
    import spark.implicits._
    val rel = manifestRel(instant)
    // partition-sorted, bounded rows per output file: listing resolution
    // reads all of it, but stats/partition lookups can prune row groups
    val nOut = math.max(1, files.size / 100000)
    spark.createDataset(files)
      .repartitionByRange(nOut, col("partition"), col("fileId"))
      .sortWithinPartitions("partition", "fileId")
      .write.mode(SaveMode.Overwrite).parquet(s"$basePath/$rel")
    rel
  }

  private def readManifest(rel: String): Seq[FileMeta] = {
    import spark.implicits._
    spark.read.parquet(s"$basePath/$rel").as[FileMeta].collect().toSeq
      .sortBy(f => (f.partition, f.fileId, f.path))
  }

  /** Commit-time lock (ref: hudi lock-provider). Swappable: file-based by
    * default (multi-process safe); tests / single-JVM pipelines can install
    * InProcessLockProvider; a cluster deployment would install a
    * ZooKeeper/DynamoDB-style provider. */
  @volatile var lockProvider: LockProvider = new FileLockProvider(basePath)

  /** Pre-commit validators (ref: hudi-spark-client .../client/validator/
    * SparkPreCommitValidator.java + hoodie.precommit.validators): each sees
    * the table state before the commit and the state the inflight commit
    * WOULD produce; a throw rejects the commit (staged files stay
    * unreferenced, the instant is aborted by the write's failure path). */
  @volatile var preCommitValidators: Seq[PreCommitValidator] = Nil

  /** Conflict-check and complete atomically: the lock closes the race where
    * two writers both pass detectConflict and then both commit. */
  private def commitGuarded(startSeen: Set[String], groups: Set[String],
      partitions: Set[String], meta: CommitMeta, anyCommit: Boolean = false): Unit = {
    // validation runs BEFORE the lock: validator queries are Spark jobs, and
    // holding the commit lock through them would starve concurrent writers
    // past the lock timeout (same reasoning as clean()'s deferred deletes).
    // A commit landing between validation and completion is caught by
    // detectConflict if it overlaps; a non-overlapping one shifts the
    // "before" state, the same window the reference accepts.
    // validators gate USER data writes, not layout-preserving table
    // services (compaction/clustering leave query results unchanged, so an
    // inequality validator would always reject them) — the reference
    // likewise runs them only in write-commit finalization
    val service = Set("compact", "cluster", "alter_schema")
    if (preCommitValidators.nonEmpty && dataActions(meta.action)
        && !service(meta.operation)) {
      val before = snapshot()
      val after = snapshotPending(meta)
      preCommitValidators.foreach(_.validate(before, after))
    }
    // A scheduled-compaction EXECUTION only rewrites state at/below its plan
    // instant; rows committed above the plan resolve on top of its output.
    // So it is mutually non-conflicting with any commit whose instant is
    // above the plan — in both directions: an ingest writer tolerates a
    // concurrent execution of an older plan, and an execution tolerates
    // ingest that landed after its plan (the reference's pending-compaction
    // + log-append concurrency model). Everything at/below the plan instant
    // still conflicts — a straggler deltacommit below the plan would have
    // its log folded UNDER the new base and lost. Clustering executions
    // stay strict: a replace drops interleaved logs, so they must conflict.
    // ...but two executions of the SAME plan must still conflict — both
    // would commit a base at the same plan instant and every compacted row
    // would read twice. The same-plan exclusion makes the racing second
    // execution abort on the first one's commit.
    def samePlan(a: CommitMeta, b: CommitMeta): Boolean =
      a.extra.get("planInstant").exists(b.extra.get("planInstant").contains)
    val tolerated: CommitMeta => Boolean = other =>
      !samePlan(meta, other) && (
        (other.operation == "compact" &&
          other.extra.get("planInstant").exists(_ < meta.instant)) ||
        (meta.operation == "compact" &&
          meta.extra.get("planInstant").exists(_ < other.instant)))
    lockProvider.withLock {
      if (detectConflict(startSeen, groups, partitions, anyCommit, tolerated))
        throw new ConcurrentWriteException(
          s"instant ${meta.instant} conflicts with a commit completed after this write began")
      // last-line defense: if our lock was lost while the conflict check ran
      // (clock jump defeating the heartbeat), fail BEFORE the timeline write
      lockProvider.assertHeld()
      timeline.complete(meta)
    }
  }

  /** The snapshot the table would serve if `meta` completed now. */
  private def snapshotPending(meta: CommitMeta): DataFrame = {
    val data = Option(meta.schemaJson).filter(_.nonEmpty)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .orElse(schemaAt(None)).getOrElse(new StructType())
    val all = (timeline.metas(None) :+ meta).filter(m => dataActions(m.action))
    snapshotOf(slicesFrom(all, None), data).drop(FILE_ID, DELETED)
  }

  // ----------------------------------------------------------------- schema

  /** Data schema (no meta columns) as of an instant; evolves additively.
    * For an `asOf` older than the newest checkpoint, the checkpoint's
    * carried per-archived-instant schemas fill in what the active timeline
    * no longer holds. */
  def schemaAt(asOf: Option[String] = None): Option[StructType] = {
    // slim: schema resolution never touches a checkpoint's files
    val active = timeline.metasSlim(asOf).filter(m => m.schemaJson.nonEmpty)
      .lastOption.map(m => m.instant -> m.schemaJson)
    val carried = asOf.flatMap { t =>
      timeline.metasSlim(None).flatMap(_.carriedSchemas)
        .filter(_._1 <= t).sortBy(_._1).lastOption
    }
    (active.toSeq ++ carried.toSeq).sortBy(_._1).lastOption
      .map(p => DataType.fromJson(p._2).asInstanceOf[StructType])
  }

  /** Write-driven evolution matches by NAME (incoming user frames carry no
    * ids); existing columns keep their committed ids, genuinely new columns
    * get fresh ones, so every committed schemaJson is fully id-mapped.
    * Version-1 tables commit ID-LESS epochs instead (their whole history
    * resolves by name — see [[setFormatVersion]]): assigning fresh ids after
    * a downgrade would orphan the id-mapped epochs written before it. */
  private def idMap(s: StructType): StructType =
    if (config.version >= 2) ColIds.assign(s, maxColId()) else ColIds.strip(s)

  private def mergeSchemas(old: Option[StructType], incoming: StructType): StructType = old match {
    case None => idMap(incoming)
    case Some(o) =>
      val byName = incoming.fields.map(f => f.name -> f).toMap
      val kept = o.fields.map { f =>
        byName.get(f.name) match {
          case Some(nf) if nf.dataType != f.dataType =>
            f.copy(dataType = widen(f.dataType, nf.dataType), nullable = true)
          case _ => f
        }
      }
      val added = incoming.fields.filterNot(f => o.fieldNames.contains(f.name))
      idMap(StructType(kept ++ added))
  }

  /** High-water column id over every schema epoch ever committed — dropped
    * columns retire their ids permanently. */
  private def maxColId(): Long = {
    val ids = for {
      sj <- schemaByInstant().values.toSet[String]
      if sj.nonEmpty
      f <- DataType.fromJson(sj).asInstanceOf[StructType].fields
      id <- ColIds.idOf(f)
    } yield id
    if (ids.isEmpty) 0L else ids.max
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case _ if a == b => a
    // containers widen ELEMENT-wise with nullability unioned: a Dataset
    // built from Scala tuples/case classes carries containsNull=false
    // where the parquet-read table says true — that is the SAME type,
    // not a conflict, and stringifying an array<float> column because
    // one writer was typed tighter would silently wreck it (hit by the
    // embeddings ingest lane: upserting an in-memory batch turned the
    // corpus embedding column into strings)
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      ArrayType(widen(ea, eb), na || nb)
    case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
      MapType(widen(ka, kb), widen(va, vb), na || nb)
    case (sa: StructType, sb: StructType)
        if sa.fieldNames.sorted.sameElements(sb.fieldNames.sorted) =>
      StructType(sa.fields.map { f =>
        val nf = sb(f.name)
        f.copy(dataType = widen(f.dataType, nf.dataType),
          nullable = f.nullable || nf.nullable)
      })
    case _ => StringType
  }

  /** Explicit whitelist for ALTER COLUMN TYPE (ref: hudi-common/.../
    * internal/schema/utils/SchemaChangeUtils.java type-promotion matrix):
    * numeric widenings plus numeric/decimal→string. Unlike [[widen]] (whose
    * merge fallback is "union as string" for conflicting WRITE batches),
    * DDL must not silently reformat temporal/boolean/complex values as
    * cast strings. */
  private def alterWiden(a: DataType, b: DataType): Boolean = (a, b) match {
    case _ if a == b => true
    case (IntegerType, LongType | FloatType | DoubleType | StringType) => true
    case (LongType, DoubleType | StringType) => true
    case (FloatType, DoubleType | StringType) => true
    case (DoubleType, StringType) => true
    case (_: DecimalType, StringType) => true
    case _ => false
  }

  /** DDL-driven schema evolution (ref: hudi-spark-datasource/hudi-spark/
    * src/main/scala/org/apache/spark/sql/hudi/command/
    * AlterHoodieTableAddColumnsCommand.scala:40,
    * AlterHoodieTableChangeColumnCommand.scala:42, and — for rename/drop —
    * Spark33ResolveHudiAlterTableCommand.scala under
    * `hoodie.schema.on.read.enable`): record `target` as the table schema
    * WITHOUT touching any data file — a schema-only commit. Existing files
    * conform on read (absent columns come back null, narrower types cast
    * up, renamed columns resolve by column id), so the cost is one
    * timeline write at any table size.
    *
    * Legal changes: ADD (anywhere), explicit type WIDENING from
    * [[alterWiden]]'s whitelist, and — when the table enables
    * `schemaOnRead` — RENAME and DROP, resolved by column id. Key /
    * precombine / partition columns define record identity and admit no
    * change at all. New names must be unique under the session resolver
    * (case-insensitive by default) and may not shadow graft meta columns. */
  def alterSchema(target0: StructType): Unit = {
    val current = schemaAt(None).getOrElse(new StructType())
    val target = idMap(target0)
    val resolver = spark.sessionState.conf.resolver
    target.fields.foreach { f =>
      if (GraftTable.metaCols.exists(m => resolver(m, f.name)))
        throw new IllegalArgumentException(
          s"column name '${f.name}' is reserved (graft meta column)")
    }
    for (i <- target.fields.indices; j <- 0 until i)
      if (resolver(target.fields(i).name, target.fields(j).name))
        throw new IllegalArgumentException(
          s"duplicate column name in ALTER schema: '${target.fields(i).name}'" +
            " (names resolve case-insensitively)")
    val identity = (config.keyFields ++ config.precombineField ++
      config.partitioning.columns).toSet
    current.fields.foreach { cf =>
      // committed columns resolve forward by id; legacy id-less by name
      val tf = ColIds.idOf(cf) match {
        case Some(id) => target.fields.find(t => ColIds.idOf(t).contains(id))
        case None => target.fields.find(_.name == cf.name)
      }
      tf match {
        case None =>
          if (identity(cf.name)) throw new IllegalArgumentException(
            s"cannot drop '${cf.name}': key/precombine/partition columns " +
              "define record identity")
          if (!config.schemaOnRead) throw new IllegalArgumentException(
            s"cannot drop column '${cf.name}': schema evolution is additive " +
              "unless the table sets graft.schema.on.read = true")
          if (config.version < 2) throw new IllegalArgumentException(
            s"cannot drop column '${cf.name}': table format version " +
              s"${config.version} has no column ids — CALL " +
              "upgrade_or_downgrade(table, 2) first")
        case Some(nf) =>
          if (nf.name != cf.name) {
            if (identity(cf.name)) throw new IllegalArgumentException(
              s"cannot rename '${cf.name}': key/precombine/partition " +
                "columns define record identity")
            if (!config.schemaOnRead) throw new IllegalArgumentException(
              s"cannot rename column '${cf.name}': schema evolution is " +
                "additive unless the table sets graft.schema.on.read = true")
            if (config.version < 2) throw new IllegalArgumentException(
              s"cannot rename column '${cf.name}': table format version " +
                s"${config.version} has no column ids — CALL " +
                "upgrade_or_downgrade(table, 2) first")
          }
          if (nf.dataType != cf.dataType) {
            if (identity(cf.name)) throw new IllegalArgumentException(
              s"cannot change the type of '${cf.name}': key/precombine/" +
                "partition columns define record identity")
            if (!alterWiden(cf.dataType, nf.dataType))
              throw new IllegalArgumentException(
                s"cannot change '${cf.name}' from ${cf.dataType.simpleString}" +
                  s" to ${nf.dataType.simpleString}: not a widening conversion")
          }
      }
    }
    val startSeen = timeline.completed().map(_._1).toSet
    val instant = timeline.startInstant("commit")
    // anyCommit: ANY concurrent commit conflicts — a data write completing
    // after our schema read could carry a schemaJson this ALTER would
    // silently shadow. DDL is cheap to retry; strictness is free.
    try commitGuarded(startSeen, Set.empty, Set.empty,
      CommitMeta(instant, "commit", "alter_schema", schemaJson = target.json),
      anyCommit = true)
    catch { case e: Throwable => timeline.abort(instant, "commit"); throw e }
  }

  /** Migrate the table format version (ref: hudi-client-common .../upgrade/
    * UpgradeDowngrade.java, SparkUpgradeDowngradeHelper): v1 = id-less
    * schema epochs (by-name resolution, pre-version writers), v2 = id-mapped
    * epochs (schema-on-read capable).
    *
    * Upgrade commits an id-mapped schema epoch (existing files keep
    * resolving through the by-name legacy path), then stamps table.json.
    * Downgrade strips ids — refused when id history is load-bearing: a
    * rename (old files serve the column only by id) or a drop-and-re-add
    * (by-name would resurrect the retired column's values). After a
    * downgrade every subsequent epoch is committed id-less (see [[idMap]]),
    * so mixed-id-space corruption cannot arise.
    *
    * Returns the version migrated FROM (== `to` when already there). */
  def setFormatVersion(to: Int): Int = {
    val from = config.version
    require(to == 1 || to == TableConfig.CurrentVersion,
      s"unknown table format version $to (1 | ${TableConfig.CurrentVersion})")
    if (to == from) return from
    val current = schemaAt(None)
    val target = current.map { cur =>
      if (to >= 2) {
        // Re-adopt each column's most recent historical id by name before
        // minting fresh ones: a table can reach v1 with id-mapped epochs in
        // its history (written by a pre-version writer, or data committed
        // before a downgrade). Fresh ids would orphan those epochs — their
        // files resolve neither by the new id nor by the name fallback
        // (which only fires for id-less epochs). Re-adopting by name is
        // exactly v1's observable by-name semantics, so nothing changes for
        // v1-era files; collisions (two live names claiming one id) keep
        // the first claimant in schema order and mint fresh for the rest.
        val latestIdByName: Map[String, Long] = schemaByInstant().toSeq
          .sortBy(_._1)
          .flatMap { case (_, sj) =>
            if (sj.isEmpty) Nil
            else DataType.fromJson(sj).asInstanceOf[StructType].fields
              .flatMap(f => ColIds.idOf(f).map(f.name -> _))
          }.toMap
        val claimed = scala.collection.mutable.Set.empty[Long]
        cur.fields.flatMap(ColIds.idOf).foreach(claimed += _)
        val readopted = StructType(cur.fields.map { f =>
          ColIds.idOf(f) match {
            case Some(_) => f
            case None => latestIdByName.get(f.name) match {
              case Some(id) if !claimed(id) => claimed += id; ColIds.withId(f, id)
              case _ => f
            }
          }
        })
        ColIds.assign(readopted, maxColId())
      } else {
        require(!config.schemaOnRead,
          "downgrade to version 1 requires graft.schema.on.read = false " +
            "(unset it via ALTER TABLE ... UNSET TBLPROPERTIES first)")
        val liveById = cur.fields
          .flatMap(f => ColIds.idOf(f).map(_ -> f)).toMap
        for {
          sj <- schemaByInstant().values.toSet[String]
          if sj.nonEmpty
          ef <- DataType.fromJson(sj).asInstanceOf[StructType].fields
          id <- ColIds.idOf(ef)
        } liveById.get(id) match {
          case Some(lf) if lf.name != ef.name =>
            throw new IllegalStateException(
              s"cannot downgrade: column '${ef.name}' was renamed to " +
                s"'${lf.name}' — files written before the rename serve it " +
                "by column id, which version 1 cannot resolve")
          case None if cur.fieldNames.contains(ef.name) =>
            throw new IllegalStateException(
              s"cannot downgrade: column '${ef.name}' was dropped and " +
                "re-added — by-name resolution would resurrect the retired " +
                "column's values from old files")
          case _ => ()
        }
        ColIds.strip(cur)
      }
    }
    // Crash-safety ordering: the config stamp and the epoch commit are two
    // writes. DOWNGRADE stamps v1 FIRST — if we crash before the stripped
    // epoch lands, a v1 writer strips on its next commit anyway; stamping
    // last would leave a v2 config that assigns FRESH ids over a stripped
    // epoch, orphaning older id-mapped epochs. UPGRADE commits the
    // id-mapped epoch first for the symmetric reason.
    if (to < 2) GraftTable.saveConfig(basePath, config.copy(version = to))
    target.foreach { tgt =>
      val startSeen = timeline.completed().map(_._1).toSet
      val instant = timeline.startInstant("commit")
      try commitGuarded(startSeen, Set.empty, Set.empty,
        CommitMeta(instant, "commit", if (to >= 2) "upgrade" else "downgrade",
          schemaJson = tgt.json),
        anyCommit = true)
      catch { case e: Throwable => timeline.abort(instant, "commit"); throw e }
    }
    if (to >= 2) GraftTable.saveConfig(basePath, config.copy(version = to))
    from
  }

  private def conform(df: DataFrame, target: StructType,
      keep: Seq[String] = Nil): DataFrame =
    df.select(target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq ++ keep.filter(df.columns.contains).map(col): _*)

  /** Epoch→target mapping for schema-on-read evolution: a target column
    * resolves in a write-epoch frame by COLUMN ID when both sides carry one
    * (renames follow the id across epochs), by name when either side
    * predates ids (legacy epochs, meta columns). A dropped-then-re-added
    * name holds a FRESH id, so old epochs' values do not resurrect.
    *
    * `originalNames` bridges id-LESS epochs written inside a version-1
    * window (see [[setFormatVersion]]) to a later-renamed target: renames
    * only happen in id-mapped epochs and downgrade refuses rename history,
    * so an id's name in its EARLIEST id-mapped epoch is the name the column
    * held throughout every id-less epoch. */
  private def conformFrom(df: DataFrame, from: StructType,
      target: StructType, originalNames: Map[Long, String] = Map.empty): DataFrame = {
    val fromById = from.fields.flatMap(f => ColIds.idOf(f).map(_ -> f)).toMap
    val fromByName = from.fields.map(f => f.name -> f).toMap
    df.select(target.fields.map { tf =>
      val sf = ColIds.idOf(tf) match {
        case Some(id) => fromById.get(id)
          .orElse(fromByName.get(tf.name).filter(f => ColIds.idOf(f).isEmpty))
          .orElse(originalNames.get(id)
            .flatMap(n => fromByName.get(n).filter(f => ColIds.idOf(f).isEmpty)))
        case None => fromByName.get(tf.name)
      }
      sf match {
        case Some(f) => col(f.name).cast(tf.dataType).as(tf.name)
        case None => lit(null).cast(tf.dataType).as(tf.name)
      }
    }.toSeq: _*)
  }

  // ------------------------------------------------------------ file slices

  /** Resolve live file slices from commit metadata alone (no FS listing).
    *
    * Time travel vs archival: a checkpoint commit written AFTER `asOf`
    * still describes files that existed at `asOf` (each carries its
    * original instant), so those are folded in — time travel keeps working
    * for any instant not older than the newest ARCHIVED instant (earlier
    * states were physically folded away; [[assertNotArchived]] guards the
    * public readers). */
  def slices(asOf: Option[String] = None): Seq[FileSlice] = {
    // current-state listings are served from the metadata table when one is
    // synced: a columnar segment read replaces N driver-parsed JSON
    // documents on cold open, and the JSON timeline supplies only the
    // post-sync commits (ref: HoodieBackedTableMetadata file listings).
    // Time travel keeps the JSON fold — segments hold the live set only.
    if (asOf.isEmpty) {
      val served = mdtMetasMemo()
      if (served != null) return slicesFrom(served, None)
    }
    slicesFrom(timeline.metas(None).filter(m => dataActions(m.action)), asOf)
  }

  /** Partition-pruned slice listing for the current state (ref:
    * HoodieBackedTableMetadata.getAllFilesInPartition): when the metadata
    * table serves listings, a read that targets a few partitions folds
    * ONLY those partitions' rows — a pushed-down columnar scan over the
    * partition-sorted segments — instead of materializing the full listing
    * in driver heap (GBs at 10^7 files). The predicate is evaluated
    * against the (metadata-sized, memoized) partition list first, so the
    * opaque-function API still prunes physically. Falls back to filtering
    * the full fold when no MDT is synced, when nothing would be pruned, or
    * when the segments are stale. */
  def slicesPruned(partitionPred: String => Boolean): Seq[FileSlice] = {
    def full() = slices(None).filter(s => partitionPred(s.partition))
    // the shared no-pruning default: serve the (memoized) full fold with
    // no partition-list probe at all
    if (partitionPred eq GraftTable.NoPrune) return slices(None)
    // a fold already memoized for this state costs nothing to filter
    val memo = mdtMemo
    if (memo != null && (memo._1 eq timeline.completed()) && memo._2 != null)
      return full()
    mdtPartitionList() match {
      case None => full()
      case Some(ps) =>
        val want = ps.filter(partitionPred)
        if (want.size >= ps.size) full() // nothing to prune
        else {
          // one-entry memo: a read path commonly prunes the same partition
          // set twice in a row (fast-scan probe, then the merge fallback)
          val key = timeline.completed()
          val wantSet = want.toSet
          val pm = mdtPrunedMemo
          val ms =
            if (pm != null && (pm._1 eq key) && pm._2 == wantSet) Some(pm._3)
            else mdtServedMetas(Some(wantSet)) match {
              case Some(m) => mdtPrunedMemo = (key, wantSet, m); Some(m)
              case None => None
            }
          ms match {
            case Some(m) => slicesFrom(m, None)
              .filter(s => partitionPred(s.partition))
            case None => full()
          }
        }
    }
  }

  @volatile private var mdtPrunedMemo
      : (Seq[(String, String)], Set[String], Seq[CommitMeta]) = null

  // memoized per timeline state, exactly like schemaMemo: every commit
  // through this instance refreshes the listing and re-derives the served
  // metas (cheap: cached segments + one new JSON read)
  @volatile private var mdtMemo: (Seq[(String, String)], Seq[CommitMeta]) = null

  private def mdtMetasMemo(): Seq[CommitMeta] = {
    val key = timeline.completed()
    val memo = mdtMemo
    if (memo != null && ((memo._1 eq key) || memo._1 == key)) return memo._2
    val served = mdtServedMetas().orNull
    mdtMemo = (key, served)
    served
  }

  /** Slice view over an explicit meta sequence — lets pre-commit validation
    * see the table as it WOULD look with an inflight commit appended. */
  private def slicesFrom(all: Seq[CommitMeta], asOf: Option[String]): Seq[FileSlice] = {
    val ms = asOf match {
      case None => all
      case Some(t) => all.flatMap { m =>
        if (m.instant <= t) Some(m)
        else if (m.operation == "checkpoint")
          Some(m.copy(files =
            m.files.filter(f => f.origInstant.nonEmpty && f.origInstant <= t)))
        else None
      }
    }
    val replacedAt = mutable.Map[(String, String), String]()
    for (m <- ms if m.replaced.nonEmpty; r <- m.replaced) {
      val Array(p, f) = r.split('|')
      replacedAt((p, f)) = m.instant
    }
    val bases = mutable.Map[(String, String), (String, mutable.Buffer[FileMeta])]()
    val logs = mutable.Map[(String, String), mutable.Buffer[(String, FileMeta)]]()
    for (m <- ms; f <- m.files) {
      val k = (f.partition, f.fileId)
      // checkpoint commits re-record archived files under their original instant
      val eff = if (f.origInstant.nonEmpty) f.origInstant else m.instant
      // path-level dedup: while archive() is mid-flight a reader can see a
      // file both via its original instant and via the checkpoint carry
      if (f.isLog) {
        val buf = logs.getOrElseUpdate(k, mutable.Buffer())
        if (!buf.exists(_._2.path == f.path)) buf += ((eff, f))
      }
      else bases.get(k) match {
        case Some((i, buf)) if i == eff =>
          if (!buf.exists(_.path == f.path)) buf += f
        case Some((i, _)) if i > eff => // older base, superseded
        case _ => bases(k) = (eff, mutable.Buffer(f))
      }
    }
    bases.iterator.flatMap { case ((p, fid), (bi, bfs)) =>
      if (replacedAt.get((p, fid)).exists(_ > bi)) None
      else Some(FileSlice(p, fid, bi,
        bfs.toSeq, logs.getOrElse((p, fid), Nil).filter(_._1 > bi).sortBy(_._1).toSeq))
    }.toSeq.sortBy(s => (s.partition, s.fileId))
  }

  private def fullSchema(data: StructType): StructType = StructType(metaFields ++ data.fields)

  /** instant -> write-time schemaJson: active timeline carried forward, plus
    * checkpoint-recorded schemas for archived instants (checkpoint-carried
    * files resolve at their ORIGINAL instants, which are no longer on the
    * active timeline after archive()). */
  private def schemaByInstant(): Map[String, String] = schemaInfo()._1

  // Memoized per timeline state: the epoch map and the id→minted-name bridge
  // are pure functions of the completed-instant listing (instant metadata is
  // immutable once written). readConformed runs once per SCAN, and at
  // 100 TB a snapshot read issues many of them — re-parsing every epoch's
  // schemaJson on every call was the r6 per-commit write drift. The key is
  // the Timeline's own cached listing instance: a refresh() (any commit
  // through this instance, or an explicit observe-other-writers call)
  // produces a new Seq and invalidates this memo with it.
  @volatile private var schemaMemo:
    (Seq[(String, String)], Map[String, String], Map[Long, String]) = null

  private def schemaInfo(): (Map[String, String], Map[Long, String]) = {
    val key = timeline.completed()
    val memo = schemaMemo
    if (memo != null && ((memo._1 eq key) || memo._1 == key))
      return (memo._2, memo._3)
    // slim: schema folds never touch a checkpoint's (manifest-backed) files
    val ms = timeline.metasSlim(None)
    var last = ""
    val active = ms.map { m =>
      if (m.schemaJson.nonEmpty) last = m.schemaJson
      m.instant -> last
    }.toMap
    val schemaOf = ms.flatMap(_.carriedSchemas).toMap ++ active
    // id -> the name it was minted under (earliest id-mapped epoch), the
    // bridge that lets id-less v1-window epochs serve later-renamed columns
    val origNames: Map[Long, String] = {
      val seen = mutable.Map.empty[Long, String]
      schemaOf.toSeq.sortBy(_._1).foreach { case (_, sj) =>
        if (sj.nonEmpty)
          DataType.fromJson(sj).asInstanceOf[StructType].fields.foreach(f =>
            ColIds.idOf(f).foreach(id =>
              if (!seen.contains(id)) seen(id) = f.name))
      }
      seen.toMap
    }
    schemaMemo = (key, schemaOf, origNames)
    (schemaOf, origNames)
  }

  /** Read a set of files, conforming each commit-epoch schema to `target`.
    *
    * Bootstrapped (metadata-only imported) files carry no meta columns: they
    * read as null and are derived on the fly — key/partition from the
    * configured expressions, commit "0" (sorts before any real instant, so
    * any later upsert wins the merge window). Their per-row FILE_ID cannot
    * be derived from data, so callers that need it (upsert tagging, file
    * group rewrites) pass `needFileId` and external files get one pruned
    * scan per file group with the fileId injected; plain reads keep the
    * single multi-path scan. */
  private def readConformed(files: Seq[(FileMeta, String)], target: StructType,
      needFileId: Boolean = false): DataFrame = {
    val (schemaOf, origNames) = schemaInfo()
    val tgt = fullSchema(target)
    def scan(fs: Seq[(FileMeta, String)], sj: String, fidFill: Option[String]): DataFrame = {
      val fileSchema =
        if (sj.isEmpty) tgt
        else fullSchema(DataType.fromJson(sj).asInstanceOf[StructType])
      val paths = fs.map { case (f, _) => s"$basePath/${f.path}" }
      val fid = fidFill match {
        case Some(f) => coalesce(col(FILE_ID), lit(f))
        case None => col(FILE_ID)
      }
      // COMMIT fallback for rows whose file carries no meta columns:
      // bootstrapped external files read as "0" (sorts before any real
      // instant, so later upserts win); virtual-key files derive the
      // instant from their own name (`<fid>_<instant>[_part].parquet`,
      // stageWrite's naming) — codegen'd, no per-instant scan fan-out
      val commitFill: Column =
        if (config.populateMetaFields) lit("0")
        else {
          val fromName = regexp_extract(input_file_name(),
            "_([0-9]{15,})(?:_[0-9]{1,9})?\\.(?:parquet|orc)$", 1)
          when(fromName =!= "", fromName).otherwise(lit("0"))
        }
      val conformed = conformFrom(spark.read.schema(fileSchema)
            .format(config.baseFileFormat).load(paths: _*), fileSchema,
          tgt, origNames)
        .withColumn(KEY, coalesce(col(KEY), config.keyExpr))
        .withColumn(PART, coalesce(col(PART), config.partitioning.pathExpr))
        .withColumn(COMMIT, coalesce(col(COMMIT), commitFill))
        .withColumn(FILE_ID, fid)
        .withColumn(DELETED, coalesce(col(DELETED), lit(false)))
      // dropped partition columns re-derive from the materialized partition
      // path (codegen'd parse, inverse of pathExpr) — PART is filled above,
      // so this composes with every schema epoch
      if (!config.dropPartitionColumns) conformed
      else config.partitioning.columns.foldLeft(conformed) { (df, c) =>
        tgt.fields.find(_.name == c) match {
          case Some(f) => df.withColumn(c, coalesce(col(c),
            config.partitionColFromPath(col(PART), c, f.dataType)))
          case None => df
        }
      }
    }
    val (ext, normal) = files.partition { case (f, _) => f.external && needFileId }
    val dfs =
      normal.groupBy { case (_, i) => schemaOf.getOrElse(i, "") }
        .toSeq.map { case (sj, fs) => scan(fs, sj, None) } ++
      ext.groupBy { case (f, i) => (schemaOf.getOrElse(i, ""), f.fileId) }
        .toSeq.map { case ((sj, fid), fs) => scan(fs, sj, Some(fid)) }
    if (dfs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tgt)
    else dfs.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------- write path

  private def withMeta(raw: DataFrame, instant: String): DataFrame = {
    val d = if (raw.columns.contains(DELETED)) raw else raw.withColumn(DELETED, lit(false))
    // a caller that already resolved a row's home partition (upsertGlobal
    // with update.partition.path=false: the row stays where its key lives)
    // pins it via PART_PIN; everyone else derives from the data
    val p = if (raw.columns.contains(GraftTable.PART_PIN))
        d.withColumn(PART,
          coalesce(col(GraftTable.PART_PIN), config.partitioning.pathExpr))
          .drop(GraftTable.PART_PIN)
      else d.withColumn(PART, config.partitioning.pathExpr)
    p.withColumn(KEY, config.keyExpr)
      .withColumn(COMMIT, lit(instant))
  }

  /** Within-batch precombine: highest ordering-field value wins per key
    * (ref: OverwriteWithLatestAvroPayload.preCombine). */
  private def precombine(df: DataFrame): DataFrame = config.precombineField match {
    case None => df
    case Some(pc) =>
      val w = Window.partitionBy(col(PART), col(KEY))
        .orderBy(col(pc).desc_nulls_last, col(DELETED).asc)
      df.withColumn("_g_rn", row_number().over(w)).filter(col("_g_rn") === 1).drop("_g_rn")
  }

  /** Slices that could hold any of `df`'s keys: per-partition key ranges of
    * the batch (one metadata-sized collect) intersected with each file's
    * recorded key min/max. The ONE pruning rule shared by upsert tagging
    * and merge classification — they must never disagree on which files
    * hold a key. Empty recorded range = unknown (e.g. bootstrapped file)
    * -> always a candidate. Log files participate in the range check:
    * a MOR slice can hold keys that exist ONLY in its logs (small-file
    * packed inserts), so pruning by base ranges alone would hide them
    * from tagging and duplicate the key on the next upsert. */
  private[graft] def candidateSlices(df: DataFrame, cur: Seq[FileSlice]): Seq[FileSlice] = {
    val ranges = df.groupBy(col(PART))
      .agg(min(col(KEY)).as("mn"), max(col(KEY)).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    val rangeCands = cur.filter { s =>
      ranges.get(s.partition).exists { case (mn, mx) =>
        (s.baseFiles ++ s.logs.map(_._2))
          .exists(b => (b.keyMin.isEmpty || CodePointOrder.le(b.keyMin, mx)) &&
            (b.keyMax.isEmpty || CodePointOrder.le(mn, b.keyMax)))
      }
    }
    bloomRefine(df, rangeCands)
  }

  /** Bloom refinement of range-pruned candidates (ref: HoodieBloomIndex's
    * file-comparison check): when hash key assignment makes every file's
    * [min,max] span the key space, ranges prune nothing — the per-file key
    * blooms still do. One pass over the batch checks each key against the
    * broadcast blooms of its partition's candidates (range-gated per file);
    * a slice none of whose files might contain any batch key is
    * dropped before its files are ever read. No false negatives: every
    * written key is in its file's filter, so upserts can't duplicate.
    * INSERT-BEARING log files (MOR small-file packed inserts) carry blooms
    * too and join the check — hasBloom on a log IS the "can introduce
    * keys" marker; a bloom-less log is a pure-update log whose keys are
    * base-covered, so base blooms alone decide for it. */
  private def bloomRefine(df: DataFrame, cands: Seq[FileSlice]): Seq[FileSlice] = {
    def slFiles(s: FileSlice): Seq[FileMeta] =
      s.baseFiles ++ s.logs.map(_._2).filter(_.hasBloom)
    // a CREATE INDEX backfill covers files whose commit predates the
    // hasBloom flag — with the marker present, try every slice's sidecars
    val backfilled = bloomIndexName.nonEmpty
    // ORC never writes log blooms, so an ORC slice WITH logs can hold
    // unmarked insert-bearing logs (packed inserts) — never bloom-prune it
    val orcLogs = config.baseFileFormat == "orc"
    val (bloomable, rest) = cands.partition(s =>
      s.baseFiles.nonEmpty && !(orcLogs && s.logs.nonEmpty) &&
        (backfilled || s.baseFiles.forall(_.hasBloom)))
    // below 2 prunable slices the batch pass costs more than it saves
    if (bloomable.size < 2) return cands
    import scala.collection.parallel.CollectionConverters._
    // metadata-table blooms first (ONE batched scan for every candidate),
    // per-file sidecar opens only for files the partition doesn't cover
    val batched = mdtBlooms(bloomable.flatMap(slFiles(_).map(_.path)))
    val loaded = bloomable.par.map { s =>
      s -> slFiles(s).map(f => (f.keyMin, f.keyMax,
        batched.get(f.path).orElse(KeyBloom.load(basePath, f.path))))
    }.seq
    val (checked, unloadable) = loaded.partition(_._2.forall(_._3.nonEmpty))
    if (checked.size < 2) return cands
    val byPart = checked
      .map { case (s, fs) =>
        s.partition -> (s"${s.partition}|${s.fileId}",
          fs.map { case (mn, mx, b) => (mn, mx, b.get) })
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val bc = spark.sparkContext.broadcast(byPart)
    import spark.implicits._
    val hitIds = df.select(col(PART), col(KEY)).as[(String, String)]
      .mapPartitions { it =>
        val m = bc.value
        val hits = scala.collection.mutable.Set[String]()
        val total = m.valuesIterator.map(_.size).sum
        for ((p, k) <- it if hits.size < total; group <- m.getOrElse(p, Nil)) {
          val (id, files) = group
          if (!hits.contains(id) && files.exists { case (mn, mx, bf) =>
            (mn.isEmpty || CodePointOrder.le(mn, k)) &&
              (mx.isEmpty || CodePointOrder.le(k, mx)) && bf.mightContainString(k)
          }) hits += id
        }
        hits.iterator
      }.distinct().collect().toSet
    bc.unpersist(blocking = false)
    rest ++ unloadable.map(_._1) ++
      checked.map(_._1).filter(s => hitIds.contains(s"${s.partition}|${s.fileId}"))
  }

  /** Tag each record with the fileId of the file group currently holding its
    * key (null = insert). Stats index: key-column scan of candidate files
    * only. Bucket index: pure expression. */
  private def tag(df: DataFrame, cur: Seq[FileSlice]): DataFrame = config.index match {
    case BucketIndex(n) =>
      if (cur.isEmpty) return df.withColumn("_g_fid", lit(null).cast(StringType))
      // existence check as a broadcast join, not a literal isin: a bucket
      // table's live-group count is partitions × buckets (10^5+ at scale),
      // and one literal per group is the Catalyst planning cliff
      import df.sparkSession.implicits._
      val existDf = broadcast(cur.map(s => s"${s.partition}|${s.fileId}")
        .toDF("_g_exist"))
      df.withColumn("_g_fid", format_string("b%05d", pmod(hash(col(KEY)), lit(n))))
        .join(existDf,
          concat_ws("|", col(PART), col("_g_fid")) === col("_g_exist"), "left")
        // only groups that physically exist count as "existing"
        .withColumn("_g_fid", when(col("_g_exist").isNotNull, col("_g_fid")))
        .drop("_g_exist")
    case StatsIndex =>
      if (cur.isEmpty) return df.withColumn("_g_fid", lit(null).cast(StringType))
      val cands = candidateSlices(df, cur)
      if (cands.isEmpty) return df.withColumn("_g_fid", lit(null).cast(StringType))
      val data = schemaAt(None).getOrElse(new StructType())
      // MOR: INSERT-BEARING log files are part of the key index — a packed
      // insert's key lives ONLY in a log until compaction, and missing it
      // here would route its next upsert as a second insert (duplicate
      // row). hasBloom on a log is the durable "can introduce keys"
      // marker (stageWrite), so pure-update logs — whose keys are all
      // base-covered — are never read; ORC can't carry the marker, so ORC
      // reads every candidate log (conservative). A key then appears once
      // per file version with the SAME fid (a key never changes group
      // under the upsert doors), so groupBy(min) collapses the versions
      // exactly; if the permissive insert door violated key uniqueness
      // across groups, min() still routes each incoming row to ONE
      // deterministic group — never a fan-out that would double an update.
      val orcLogs = config.baseFileFormat == "orc"
      def keyedLogs(s: FileSlice) =
        s.logs.collect { case (i, f) if orcLogs || f.hasBloom => f -> i }
      val hasLogs = cands.exists(keyedLogs(_).nonEmpty)
      val existing0 = readConformed(
        cands.flatMap(s => s.baseFiles.map(_ -> s.baseInstant) ++ keyedLogs(s)),
        data, needFileId = true)
        .select(col(KEY), col(PART), col(FILE_ID).as("_g_fid"))
      val existing =
        if (hasLogs) existing0.groupBy(col(KEY), col(PART))
          .agg(min(col("_g_fid")).as("_g_fid"))
        else existing0
      df.join(existing, Seq(KEY, PART), "left")
  }

  /** Assign file groups to untagged (insert) rows: bin-pack into an
    * under-sized existing group per partition, else open hash-assigned new
    * groups sized by targetFileSizeRows. Driver work is metadata-sized
    * (one row per touched partition), the assignment itself is a broadcast
    * join + expression. */
  /** @param insertCounts inserts per partition (pre-collected, so this adds
    *                      no Spark job)
    * @return the assigned frame and the existing "partition|fileId" groups
    *         chosen as bin-pack targets (they must be rewritten) */
  private def assignInserts(tagged: DataFrame, cur: Seq[FileSlice], instant: String,
      allowBinpack: Boolean, insertCounts: Map[String, Long]): (DataFrame, Set[String]) = {
    config.index match {
      case BucketIndex(n) =>
        // bucket tables: inserts land in their deterministic bucket so that
        // future tagging stays a pure expression
        return (tagged.withColumn(FILE_ID, coalesce(col("_g_fid"),
          format_string("b%05d", pmod(hash(col(KEY)), lit(n))))).drop("_g_fid"),
          Set.empty)
      case _ =>
    }
    if (insertCounts.isEmpty)
      return (tagged.withColumn(FILE_ID, col("_g_fid")).drop("_g_fid"), Set.empty)
    val target = config.targetFileSizeRows
    val plan = insertCounts.map { case (p, n) =>
      val small = cur.filter(s => s.partition == p && s.totalRows < target / 2)
        .sortBy(_.totalRows).headOption
      small match {
        case Some(s) if allowBinpack && s.totalRows + n <= (target * 3) / 2 =>
          (p, s.fileId, 1)
        case _ => (p, null: String, math.max(1, math.ceil(n.toDouble / target).toInt))
      }
    }.toSeq
    val planDf = spark.createDataFrame(plan).toDF(PART, "_g_pack", "_g_new")
    val assigned = tagged.join(broadcast(planDf), Seq(PART), "left")
      .withColumn(FILE_ID, coalesce(col("_g_fid"), col("_g_pack"),
        format_string(s"g$instant-%05d", pmod(hash(col(KEY)), col("_g_new")))))
      .drop("_g_fid", "_g_pack", "_g_new")
    (assigned, plan.collect { case (p, pack, _) if pack != null => s"$p|$pack" }.toSet)
  }

  /** Distributed staged write: repartition by (partition, fileId) so each
    * file group is written by exactly one task, key-sorted within the file;
    * then O(#files) metadata renames into place. `logGroups` names the
    * (partition|fileId) groups whose output is a MOR log file. */
  /** `bloomLogGroups` ⊆ logGroups: groups whose log output this commit may
    * seed with NEW keys (MOR small-file packed inserts) — only their log
    * files keep the while-writing bloom sidecar, so `hasBloom` on a log
    * file is the durable "this log can introduce keys" marker (it rides in
    * FileMeta through manifests and archival checkpoints). Pure-update
    * logs stay sidecar-free and tagging/bloom pruning never touch them:
    * their keys are base-covered by construction. */
  private def stageWrite(out: DataFrame, instant: String,
      logGroups: Set[String], preArranged: Boolean = false,
      bloomLogGroups: Set[String] = Set.empty): Seq[FileMeta] = {
    val staging = Paths.get(basePath, ".graft", s"staging_$instant")
    val tagged = out.withColumn("_gp", col(PART)).withColumn("_gf", col(FILE_ID))
    // preArranged: the caller already co-located each (partition, fileId)
    // group in its own task (global-sort bulk insert) — skip the hash
    // shuffle, keep only the in-task key sort
    val arranged = if (preArranged) tagged else tagged.repartition(col(PART), col(FILE_ID))
    // Key-bloom sidecars are built WHILE writing ([[BloomParquetFormat]]) —
    // no second Spark job re-reads freshly written files. preArranged
    // (global_sort bulk insert) skips them: disjoint per-file key ranges
    // already prune tagging to ~1 candidate file from range stats alone.
    val orc = config.baseFileFormat == "orc"
    val withBlooms = config.index == StatsIndex && !preArranged &&
      config.populateMetaFields && !orc
    val sorted = arranged.sortWithinPartitions(col(PART), col(FILE_ID), col(KEY))
    // virtual keys: the `_g_*` columns never reach the files — key and
    // partition re-derive from expressions, the commit instant from the
    // file name (readConformed's coalesce fallbacks). The drop is AFTER
    // the sort, so the physical key order (and footer stats) still hold.
    val toWrite = {
      val base = if (config.populateMetaFields) sorted else sorted.drop(metaCols: _*)
      // drop.partition.columns: the value lives only in the directory path
      // (and PART) — readers re-derive it (readConformed fill / the fast
      // path's PartitionDirectory rows), files carry one column less
      if (config.dropPartitionColumns) base.drop(config.partitioning.columns: _*)
      else base
    }
    toWrite.write.partitionBy("_gp", "_gf").mode(SaveMode.Overwrite)
      .format(if (withBlooms) BloomParquetFormat.name else config.baseFileFormat)
      .option("graft.bloom.expected", config.targetFileSizeRows.toString)
      .save(staging.toString)
    def dec(s: String): String = {
      val v = GraftTable.unescapePath(s)
      if (v == "__HIVE_DEFAULT_PARTITION__") "" else v
    }
    // plan all renames, then execute them concurrently: at large file counts
    // the commit cost is these metadata ops, and they are independent
    val planned = mutable.Buffer[(Path, Path, String, String, String, Boolean)]()
    Fs.list(staging)
      .filter(p => p.getFileName.toString.startsWith("_gp=")).foreach { pDir =>
        val partition = dec(pDir.getFileName.toString.stripPrefix("_gp="))
        Fs.list(pDir)
          .filter(f => f.getFileName.toString.startsWith("_gf=")).foreach { fDir =>
            val fid = dec(fDir.getFileName.toString.stripPrefix("_gf="))
            val ext = s".${config.baseFileFormat}"
            val parts = Fs.list(fDir)
              .filter(_.getFileName.toString.endsWith(ext)).sortBy(_.toString)
            val isLog = logGroups.contains(s"$partition|$fid")
            parts.zipWithIndex.foreach { case (src, i) =>
              val sfx = if (parts.size > 1) s"_$i" else ""
              val name = (if (isLog) s"log_$fid" else fid) + s"_$instant$sfx$ext"
              val destDir = if (partition.isEmpty) Paths.get(basePath)
                            else Paths.get(basePath, partition)
              Files.createDirectories(destDir)
              val rel = if (partition.isEmpty) name else s"$partition/$name"
              planned += ((src, destDir.resolve(name), rel, partition, fid, isLog))
            }
          }
      }
    import scala.collection.parallel.CollectionConverters._
    val moved = planned.toSeq.par.map { case (src, dest, rel, partition, fid, isLog) =>
      Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
      // the while-writing bloom sidecar travels with base files and with
      // INSERT-BEARING log files (bloomLogGroups — merge reads never
      // consult blooms, but upsert tagging does, and a packed log can hold
      // keys absent from its base); pure-update logs drop theirs, keeping
      // hasBloom=false as the "keys are base-covered" signal
      val side = Paths.get(src.toString + ".bloom")
      val keepSide = !isLog || bloomLogGroups.contains(s"$partition|$fid")
      val hasBloom =
        if (keepSide && Files.exists(side)) {
          Files.move(side, Paths.get(dest.toString + ".bloom"),
            StandardCopyOption.ATOMIC_MOVE)
          true
        } else { Files.deleteIfExists(side); false }
      (rel, partition, fid, hasBloom)
    }.seq
    GraftTable.drop(staging.toString)
    if (moved.isEmpty) return Nil
    // per-file stats come from the parquet FOOTERS, not a second Spark pass
    // over everything just written: O(#files) metadata reads, keyed by
    // exact relative path (fileIds — and so basenames — repeat across
    // partitions within one commit, so path-suffix matching would
    // cross-contaminate stats). Small commits read footers on the driver
    // (no job overhead); a commit landing more files than the bootstrap
    // threshold reads them on executors — at 100 TB a single bulk insert
    // can land 10⁵ files, and on an object store each footer read is an
    // RTT the driver must not serialize.
    val statCols = out.schema.fields
      .filter(f => !metaCols.contains(f.name) && isStatType(f.dataType))
      .map(_.name).toSet
    val conf = spark.sessionState.newHadoopConf()
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val wanted = statCols + KEY
    val stats: Map[String, FooterStats.FileStats] =
      if (moved.size <= GraftTable.DistributedFooterScanThreshold) {
        moved.toSeq.par.map { case (rel, _, _, _) =>
          rel -> (if (orc) OrcFooterStats.read(conf, Paths.get(basePath, rel), wanted)
            else FooterStats.read(conf, Paths.get(basePath, rel), wanted, tz))
        }.seq.toMap
      } else {
        val bp = basePath
        val isOrc = orc
        val hconf = org.apache.spark.graftbridge.ConfBridge
          .broadcast(spark.sparkContext, conf)
        val rels = moved.toSeq.map(_._1)
        val slices = math.min(rels.size,
          math.max(spark.sparkContext.defaultParallelism * 4, 32))
        spark.sparkContext.parallelize(rels, slices)
          .map { rel =>
            rel -> (if (isOrc)
              OrcFooterStats.read(hconf.value.value, Paths.get(bp, rel), wanted)
            else FooterStats.read(hconf.value.value, Paths.get(bp, rel), wanted, tz))
          }.collect().toMap
      }
    moved.toSeq.map { case (rel, partition, fid, hasBloom) =>
      val st = stats(rel)
      val (kmin, kmax) = st.minMax.getOrElse(KEY, ("", ""))
      FileMeta(rel, fid, partition, st.rows, isLog = logGroups.contains(s"$partition|$fid"),
        bytes = st.bytes,
        keyMin = kmin, keyMax = kmax,
        colStats = (st.minMax - KEY).map { case (c, (mn, mx)) => c -> Array(mn, mx) },
        hasBloom = hasBloom)
    }
  }

  /** BACKFILL `<file>.bloom` key-filter sidecars for EXISTING base files
    * (CREATE INDEX on a pre-bloom table; the write path itself builds
    * blooms while writing via [[BloomParquetFormat]]): ONE distributed pass
    * reading only the key column (pruned parquet read), aggregated per file
    * with [[KeyBloomAgg]] — partial aggregation folds keys into per-task
    * filters map-side, so the shuffle moves a few KB per file, not the
    * keys — and each executor writes its files' sidecars. Bucket-index
    * tables skip blooms (tagging is an expression, no file lookup to
    * prune). */
  /** CREATE INDEX backfill marker: present when bloom sidecars were built
    * for files committed BEFORE their FileMeta.hasBloom flag could record
    * it — candidate pruning then consults sidecars regardless of the flag
    * (missing/corrupt sidecars stay conservative candidates). */
  private def bloomIndexMarker = Paths.get(basePath, ".graft", "bloom_index.json")

  private[graft] def bloomIndexName: Option[String] =
    if (!Files.isRegularFile(bloomIndexMarker)) None
    else {
      val m = Json.mapper.readValue[Map[String, String]](
        Files.readAllBytes(bloomIndexMarker))
      Some(m("name"))
    }

  /** CREATE INDEX — backfill `<file>.bloom` key-filter sidecars for every
    * live base file that predates bloom-on-write, then mark the index so
    * tagging consults sidecars on old files too (ref: hudi-spark/.../
    * command/IndexCommands.scala:28; the write path keeps building blooms
    * inline via [[BloomParquetFormat]]). One distributed key-column pass
    * over the unindexed files at any table size. */
  def createBloomIndex(name: String = "record_key_bloom"): Unit = {
    require(config.index == StatsIndex,
      "bloom index applies to stats-index tables (bucket tagging is a pure" +
        " expression and never consults blooms)")
    require(config.populateMetaFields,
      "bloom index folds the materialized key column; a virtual-key " +
        "(populate.meta.fields=false) table has none — and no tagging op " +
        "that would consult it")
    require(bloomIndexName.isEmpty,
      s"bloom index '${bloomIndexName.get}' already exists")
    val missing = slices(None).flatMap(_.baseFiles)
      .filterNot(f => f.external || f.hasBloom)
      .map(_.path)
      .filterNot(r => Files.isRegularFile(Paths.get(basePath, KeyBloom.sidecar(r))))
    buildKeyBlooms(missing)
    Files.write(bloomIndexMarker,
      Json.mapper.writeValueAsBytes(Map("name" -> name)))
    ()
  }

  /** DROP INDEX: remove the marker and every backfilled/bloom-on-write
    * sidecar; pruning falls back to key-range stats alone. */
  def dropBloomIndex(): Unit = {
    require(bloomIndexName.nonEmpty, "no bloom index to drop")
    Files.deleteIfExists(bloomIndexMarker)
    slices(None).flatMap(s => s.baseFiles ++ s.logs.map(_._2)).foreach { f =>
      Files.deleteIfExists(Paths.get(basePath, KeyBloom.sidecar(f.path)))
    }
    GraftTable.drop(mdtBloomsDir.toString)
  }

  /** Schedule an ASYNC INDEXING plan (ref: hudi-utilities
    * HoodieIndexer.java:86 — the RFC-45 `indexing` action): pin the
    * current pre-bloom base-file set in a completed `indexingreq` instant;
    * [[runIndex]] backfills their `.bloom` sidecars out-of-band, possibly
    * from another process. Files committed AFTER the plan are not in it —
    * they either carry bloom-on-write already or land in the next plan
    * (exactly the compaction schedule/execute shape). The plan lists paths
    * in its extra payload, NOT CommitMeta.files, so it never pins file
    * groups against concurrent compaction/clustering plans.
    *
    * At 100 TB this is the difference between CREATE INDEX stalling a
    * session for a full key-column pass and an ingest loop that schedules
    * the plan (a metadata listing) and lets the backfill run on its own
    * executors. */
  def scheduleIndex(name: String = "record_key_bloom"): Option[String] = {
    require(config.index == StatsIndex,
      "bloom index applies to stats-index tables (bucket tagging is a pure" +
        " expression and never consults blooms)")
    require(config.populateMetaFields,
      "bloom index folds the materialized key column; a virtual-key " +
        "(populate.meta.fields=false) table has none")
    // paths already claimed by a pending plan must not be double-indexed
    val claimed: Set[String] = {
      val ms = timeline.metas(None)
      val executed = ms.flatMap(_.extra.get("planInstant")).toSet
      ms.filter(m => m.action == "indexingreq" && !executed(m.instant))
        .flatMap(_.extra.get("paths")).flatMap(_.split('\n')).toSet
    }
    val missing = slices(None).flatMap(_.baseFiles)
      .filterNot(f => f.external || f.hasBloom)
      .map(_.path)
      .filterNot(claimed)
      .filterNot(r => Files.isRegularFile(Paths.get(basePath, KeyBloom.sidecar(r))))
    if (missing.isEmpty) return None
    val instant = timeline.startInstant("indexingreq")
    try {
      timeline.complete(CommitMeta(instant, "indexingreq", "index_schedule",
        extra = Map("paths" -> missing.mkString("\n"), "name" -> name)))
      Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "indexingreq"); throw e }
  }

  /** Execute a scheduled indexing plan: backfill bloom sidecars for the
    * planned files still live (cleaned/replaced ones are skipped — their
    * successors carry bloom-on-write), write the index marker so tagging
    * consults sidecars on pre-flag files, and record a completed
    * `indexing` instant marking the plan executed. Idempotent per file
    * (existing sidecars are skipped); re-runnable after a crash because
    * the plan is only marked executed by the final instant. */
  def runIndex(planInstant: String): Option[String] = {
    val plan = timeline.read(planInstant, "indexingreq")
    assertNotExecuted(planInstant)
    val liveNow = slices(None).flatMap(_.baseFiles)
      .filterNot(_.external).map(_.path).toSet
    val paths = plan.extra("paths").split('\n').toSeq.filter(_.nonEmpty)
      .filter(liveNow)
      .filterNot(r => Files.isRegularFile(Paths.get(basePath, KeyBloom.sidecar(r))))
    buildKeyBlooms(paths)
    if (bloomIndexName.isEmpty)
      Files.write(bloomIndexMarker, Json.mapper.writeValueAsBytes(
        Map("name" -> plan.extra.getOrElse("name", "record_key_bloom"))))
    // keep the metadata table's partitions current when they exist, so
    // tagging stays one batched read and listings stay MDT-served — both
    // syncs are incremental (O(new files) / O(new commits))
    if (Files.isDirectory(mdtBloomsDir)) syncBloomMetadata()
    if (Files.isDirectory(mdtFilesDir)) syncMetadataTable()
    val instant = timeline.startInstant("indexing")
    try {
      timeline.complete(CommitMeta(instant, "indexing", "index",
        extra = Map("planInstant" -> planInstant,
          "indexedFiles" -> paths.size.toString)))
      if (paths.isEmpty) None else Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "indexing"); throw e }
  }

  // --------------------------------------- blooms in the metadata table

  private[graft] def mdtBloomsDir = Paths.get(basePath, ".graft", "metadata", "blooms")

  /** Fold every live file's bloom sidecar into the metadata table's
    * blooms partition (ref: hudi-common .../metadata/MetadataPartitionType
    * .java:27 BLOOM_FILTERS): one parquet dataset of (path, bloom) rows,
    * range-partitioned and sorted by path so candidate lookups prune to a
    * few row groups. With it in place, tagging reads the candidates'
    * blooms in ONE batched scan instead of one object-store GET per
    * candidate file — at millions of files that per-file GET is the
    * tagging bottleneck. MOR log files fold too (they carry sidecars since
    * log-side insert packing; tagging consults them). Sidecars stay the
    * source of truth (written in-line by every commit); re-sync after
    * enough new commits, or let [[runIndex]] refresh it. */
  def syncBloomMetadata(): Int = {
    val paths = slices(None).flatMap(s => s.baseFiles ++ s.logs.map(_._2))
      .filterNot(_.external)
      .map(_.path)
      .filter(r => Files.isRegularFile(Paths.get(basePath, KeyBloom.sidecar(r))))
    if (paths.isEmpty) { GraftTable.drop(mdtBloomsDir.toString); return 0 }
    // layout upgrade: a pre-segment sync wrote flat parquet directly under
    // the blooms dir — invisible to bloomSegs(), and orphaned forever once
    // segments appear. Sidecars are the source of truth, so drop the flat
    // files; this sync re-records their rows into a proper segment.
    if (Files.isDirectory(mdtBloomsDir))
      Fs.list(mdtBloomsDir).filter(Files.isRegularFile(_))
        .foreach(Files.deleteIfExists(_))
    import spark.implicits._
    // INCREMENTAL (ref: HoodieBackedTableMetadataWriter.update — per-commit
    // upkeep, not a per-sync re-fold): only sidecars not yet in the blooms
    // partition are read and appended as a new segment. Rows for files
    // that later died are harmless (lookups are keyed by live candidate
    // paths) and get dropped when enough accumulate.
    val segs = bloomSegs()
    val existing: Set[String] =
      if (segs.isEmpty) Set.empty
      else try spark.read.parquet(segs.map(_.toString): _*)
        .select("path").as[String].collect().toSet
      catch { case _: Exception => Set.empty }
    val livePathSet = paths.toSet
    val missing = paths.filterNot(existing)
    // compact when most recorded rows are dead — rewrite as one segment
    val deadRows = existing.size - existing.count(livePathSet)
    if (segs.nonEmpty && deadRows > math.max(64, existing.size / 2)) {
      writeBloomSeg(paths)
      segs.foreach(p => GraftTable.drop(p.toString))
      return paths.size
    }
    if (missing.isEmpty) return 0
    writeBloomSeg(missing)
    missing.size
  }

  private[graft] def bloomSegs(): Seq[Path] = {
    if (!Files.isDirectory(mdtBloomsDir)) return Nil
    Fs.list(mdtBloomsDir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("seg_"))
      .sortBy(_.getFileName.toString)
  }

  private def writeBloomSeg(paths: Seq[String]): Unit = {
    import spark.implicits._
    val bp = basePath
    val dest = mdtBloomsDir.resolve(
      s"seg_${java.util.UUID.randomUUID().toString.take(8)}")
    val nOut = math.max(1, paths.size / 1000)
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 32)))
      .map(r => (r, Files.readAllBytes(Paths.get(bp, KeyBloom.sidecar(r)))))
      .toDF("path", "bloom")
      .repartitionByRange(nOut, col("path"))
      .sortWithinPartitions("path")
      .write.mode(SaveMode.Overwrite).parquet(dest.toString)
  }

  /** Batched candidate-bloom lookup from the metadata table (one pruned
    * parquet scan for the whole candidate set); empty when the blooms
    * partition was never synced. Unparseable rows are simply absent —
    * the caller falls back to the sidecar, then to keeping the file a
    * candidate. */
  private def mdtBlooms(paths: Seq[String]): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    if (paths.isEmpty) return Map.empty
    val segs = bloomSegs()
    if (segs.isEmpty) return Map.empty
    import spark.implicits._
    // fail-soft: a read racing a concurrent re-sync (or a half-written
    // segment) must degrade to the per-file sidecar fallback, never crash
    // the tagging write it serves
    try mdtBloomLookup(segs, paths)
      .as[(String, Array[Byte])]
      .collect()
      .flatMap { case (p, b) => KeyBloom.fromBytes(b).map(p -> _) }
      .toMap
    catch { case _: Exception => Map.empty }
  }

  /** Candidate filter as a broadcast semi-join, NOT a literal isin: a large
    * batch can touch 10^4-10^5 candidate files, and an expression tree with
    * one literal per path hits Catalyst's planning cliff (analysis cost
    * grows with expression size). The plan shape is spec-pinned. */
  private[graft] def mdtBloomLookup(segs: Seq[Path], paths: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.parquet(segs.map(_.toString): _*)
      .join(broadcast(paths.toDF("path")), Seq("path"), "left_semi")
  }

  private[graft] def buildKeyBlooms(baseRels: Seq[String]): Set[String] = {
    if (baseRels.isEmpty || config.index != StatsIndex) return Set.empty
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloomAgg = ColumnBridge.column(
      KeyBloomAgg(ColumnBridge.expression(col(KEY)), config.targetFileSizeRows)
        .toAggregateExpression())
    spark.read.format(config.baseFileFormat)
      .load(baseRels.map(r => s"$basePath/$r"): _*)
      .groupBy(input_file_name().as("f"))
      .agg(bloomAgg.as("bloom"))
      .as[(String, Array[Byte])]
      .foreach { (pair: (String, Array[Byte])) =>
        val file = Paths.get(new java.net.URI(pair._1))
        Files.write(Paths.get(file.toString + ".bloom"), pair._2); ()
      }
    baseRels.toSet
  }

  // ------------------------------------------------------------ operations

  /** Fast append: no tagging, no precombine — the reference's bulk_insert. */
  /** @param sortMode file-layout mode for the new file groups (ref: hudi
    *   `hoodie.bulkinsert.sort.mode`, BulkInsertSortMode.java):
    *   - `"hash"` (default): rows hash-spread by key across the partition's
    *     new files — balanced, one shuffle, but every file's key range spans
    *     the partition, so later upsert tagging leans on bloom sidecars.
    *   - `"global_sort"` (ref GLOBAL_SORT): a range shuffle on
    *     (partition, key) slices DISJOINT key ranges per file, so key-range
    *     stats alone prune candidate files to ~1 per probe at any scale —
    *     the right on-ramp layout for a large keyed table.
    *   The reference's PARTITION_SORT has no separate graft mode: files are
    *   always key-sorted internally by the staged write. Ignored for
    *   bucket-index tables (the bucket hash IS the layout invariant).
    * @param sortCols global_sort range columns overriding the record-key
    *   STRING. The string key range-slices lexicographically — fine for
    *   tagging (keys compare as strings everywhere) but useless for a
    *   NUMERIC probe column whose decimal rendering interleaves
    *   magnitudes ("2" > "10"): per-file numeric [min,max] then overlap
    *   wall-to-wall and stats pruning dies. An index table probed by a
    *   numeric column (MinhashIndex/AnnIndex bucket tables) ranges on the
    *   raw columns instead: tight disjoint numeric ranges per file, and
    *   upsert tagging falls back to the bloom sidecars it writes anyway. */
  def bulkInsert(df: DataFrame, sortMode: String = "hash",
      extra: Map[String, String] = Map.empty,
      sortCols: Seq[String] = Nil): String = {
    require(Set("hash", "global_sort")(sortMode),
      s"unknown bulk-insert sort mode '$sortMode' (hash | global_sort)")
    require(sortCols.isEmpty || sortMode == "global_sort",
      "sortCols applies to global_sort only")
    writeBatch(df, "bulk_insert",
      extra = extra ++ (if (sortMode == "hash") Map.empty
                        else Map("sort.mode" -> sortMode) ++
                          (if (sortCols.isEmpty) Map.empty
                           else Map("sort.cols" -> sortCols.mkString(",")))))
  }

  /** Insert with precombine dedup and small-file bin-packing; does not
    * check for existing keys (reference `insert` semantics).
    * `combine = false` skips the within-batch precombine so duplicate keys
    * all append (ref: hoodie.combine.before.insert — the reference even
    * DEFAULTS to false; graft keeps dedup-by-default and makes the
    * permissive mode the opt-in). */
  def insert(df: DataFrame, extra: Map[String, String] = Map.empty,
      combine: Boolean = true): String =
    writeBatch(df, "insert", extra, combine = combine)

  /** Insert that silently DROPS records whose key is already LIVE in the
    * table (ref: hoodie.datasource.write.insert.drop.duplicates, applied
    * by HoodieWriteHelper tag-then-filter): the batch anti-joins the
    * candidate key set — files pruned by recorded key ranges exactly as in
    * upsert tagging, never a full table scan — so only genuinely new keys
    * append and existing rows are never rewritten. */
  def insertDropDuplicates(df: DataFrame,
      extra: Map[String, String] = Map.empty): String = {
    val keyed = df.withColumn(KEY, config.keyExpr)
      .withColumn(PART, config.partitioning.pathExpr)
    val live = existingRows(keyed).filter(!col(DELETED))
      .select(col(KEY), col(PART))
    val fresh = keyed.join(live, Seq(KEY, PART), "left_anti")
      .drop(KEY, PART)
    writeBatch(fresh, "insert", extra)
  }

  /** Insert that FAILS when any incoming key is already live — the
    * reference's `hoodie.sql.insert.mode = strict` pk-table duplicate
    * guard (ref: HoodieSparkSqlWriter validateTableConfig / the strict
    * branch of InsertIntoHoodieTableCommand). Same candidate pruning as
    * upsert tagging — key-range + bloom pruned files only, never a full
    * table scan; the check collects at most one offending key. */
  def insertStrict(df: DataFrame, extra: Map[String, String] = Map.empty): String = {
    val keyed = df.withColumn(KEY, config.keyExpr)
      .withColumn(PART, config.partitioning.pathExpr)
    // probe-then-write under optimistic concurrency: the conflict watermark
    // is read BEFORE the probe and the commit conflicts on the written
    // PARTITIONS, so a concurrent commit that could carry the same keys
    // forces a retry — the loser re-probes and then sees the duplicate.
    var attempt = 0
    while (true) {
      timeline.refresh()
      val probeSeen = timeline.completed().map(_._1).toSet
      val dup = existingRows(keyed).filter(!col(DELETED))
        .join(keyed.select(col(KEY), col(PART)).distinct(), Seq(KEY, PART), "left_semi")
        .select(col(KEY)).limit(1).collect()
      if (dup.nonEmpty) throw new IllegalStateException(
        s"strict insert: key '${dup(0).getString(0)}' already exists in " +
          s"table ${config.name} (graft.sql.insert.mode = strict)")
      try return writeBatch(df, "insert", extra,
        seenForConflict = Some(probeSeen), conflictOnPartitions = true)
      catch { case e: ConcurrentWriteException =>
        attempt += 1
        if (attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Record-level upsert: update-in-place by key, insert new keys. */
  def upsert(df: DataFrame, extra: Map[String, String] = Map.empty): String =
    config.payload match {
      // table-level partial-update payload: every upsert front door inherits
      // unspecified/null columns from the matched row
      case PartialUpdate => upsertPartial(df, extra)
      case _ => writeBatch(df, "upsert", extra)
    }

  /** Record-level delete: df must contain the key (+ partition) columns. */
  def delete(df: DataFrame, extra: Map[String, String] = Map.empty): String =
    writeBatch(df.withColumn(DELETED, lit(true)), "delete", extra)

  /** @param seenForConflict conflict-detection override: a caller that read
    *                          table state BEFORE calling (mergeInto's tag
    *                          join) passes the completed-instant SET it saw,
    *                          so commits landing in between are detected.
    *                          A SET, not a max-instant watermark: instant
    *                          allocation and completion can INVERT (a slow
    *                          writer claims a lower instant and completes
    *                          after a faster one), and a commit whose instant
    *                          is below the watermark but absent from the seen
    *                          set is exactly the overlap that loses rows. */
  /** Label this thread's Spark jobs for UI/profiler attribution (guide
    * §1.5) while `f` runs; restores the previous label after. Thread-local
    * and nanosecond-cheap — safe on every phase of every write. */
  private def withDesc[T](d: String)(f: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$d")
    try f finally sc.setJobDescription(old)
  }

  def writeBatch(raw: DataFrame, op: String,
      extra: Map[String, String] = Map.empty,
      seenForConflict: Option[Set[String]] = None,
      combine: Boolean = true,
      conflictOnPartitions: Boolean = false): String = {
    val mor = config.tableType == MergeOnRead
    val writeStart = System.nanoTime()
    val taggingOps = Set("upsert", "delete", "merge", "upsert_partial", "upsert_global")
    require(config.populateMetaFields || !taggingOps(op),
      s"$op needs materialized meta fields: a populate.meta.fields=false " +
        "table is append-only (bulk_insert / insert / insert_overwrite / " +
        "delete_partition)")
    val action = if (mor && taggingOps(op)) "deltacommit" else "commit"
    val startSeen = seenForConflict
      .getOrElse(timeline.completed().map(_._1).toSet)
    val instant = timeline.startInstant(action)
    try {
      val cur = slices(None)
      val oldSchema = schemaAt(None)
      // a caller that already joined against the table (mergeInto) passes its
      // tag through as _g_fid so the batch isn't re-tagged with a second
      // table scan + shuffle join
      val preTagged = raw.columns.contains("_g_fid")
      val keyed = withMeta(raw, instant)
      val batch0 =
        if (op == "bulk_insert" || !combine) keyed else precombine(keyed)
      val dataSchema = StructType(batch0.schema.fields
        .filterNot(f => metaCols.contains(f.name) || f.name == "_g_fid"))
      val merged = mergeSchemas(oldSchema, dataSchema)
      val batch1 = conform(batch0, fullSchema(merged),
        keep = if (preTagged) Seq("_g_fid") else Nil)

      // the batch is reused by several jobs (insert counts, touched-group
      // collection, the staged write, COW anti-joins) — cache it so the
      // precombine window and tagging join run once, not per job
      val pinned = mutable.Buffer[DataFrame]()
      // eager localCheckpoint, deliberately not a lazy persist: the pin is
      // consumed by 3-6 downstream JOBS (counts, tag, slice reads, the
      // staged write), and with a lazy persist every one of them re-plans
      // the full batch lineage and runs it through AQE's stage machinery —
      // measured on the lake subset at 32 cpus: persist 7.74/7.46/3.58 s
      // vs checkpoint 6.33/6.70/3.18 s (mdt_cold/sql_merge/upsert_snapshot)
      def pin(df: DataFrame): DataFrame = {
        val out = df.localCheckpoint(true)
        pinned += out
        out
      }
      try {
      // parallelism floor for the pinned batch: a small batch arrives as
      // ~one scan split, and everything downstream (key/meta expressions,
      // the counts agg, the tag join's stream side, the staged write's
      // shuffle map) would run 1-2 tasks wide however many cores exist.
      // Plan-time size estimate (no job); file contents are invariant —
      // FILE_ID is a pure function of the key (assignInserts pmod-hash)
      // and stageWrite re-shuffles by (partition, fileId) + key-sorts, so
      // the landed bytes don't depend on upstream partitioning. Skipped
      // at scale: a real batch brings its own scan parallelism.
      val batchSpread = {
        val p = spark.sparkContext.defaultParallelism
        // analyzed-plan stats: the optimizer's ConvertToLocalRelation would
        // eagerly evaluate a local-relation batch on the driver (see
        // Dedup.spread); analysis evaluates nothing
        val est = batch1.queryExecution.analyzed.stats.sizeInBytes
        // a precombined batch already shuffled through the (PART, KEY)
        // window — it is as wide as the shuffle setting; a second
        // repartition would be a pure extra exchange
        val precombined =
          combine && op != "bulk_insert" && config.precombineField.nonEmpty
        // with combine requested but NO precombine field, precombine() is
        // identity and duplicate keys survive into one file group where the
        // staged write's key-sort leaves EQUAL-key row order partition-
        // dependent — a small single-split batch that landed its duplicates
        // deterministically must not be made order-nondeterministic by this
        // floor (the file-invariance argument above holds per KEY, not per
        // duplicate row)
        val dupOrderSensitive =
          combine && op != "bulk_insert" && config.precombineField.isEmpty
        if (!precombined && !dupOrderSensitive && est <= BigInt(p) * (8L << 20))
          batch1.repartition(p, col(KEY))
        else batch1
      }
      val cached = withDesc(s"$op:pin")(pin(batchSpread))
      val curByKey = cur.map(s => s.partition + "|" + s.fileId -> s).toMap
      val globalSort = op == "bulk_insert" &&
        extra.get("sort.mode").contains("global_sort") &&
        !config.index.isInstanceOf[BucketIndex]
      // batch row count rides into the commit metadata (stats_wa write
      // amplification) — every branch already collects it, no extra job
      var batchRows = 0L
      // partitions of delete rows that matched no live key: that verdict
      // was reached against this write's start view, so a racing commit
      // that inserted one of those keys must conflict, or the delete would
      // land as a no-op after the insert it follows in commit order
      var missedDeleteParts = Set.empty[String]
      val (out, logGroups, touched, packedLogGroups) =
        if (globalSort) {
          // GLOBAL_SORT layout: one range shuffle on (partition, key) slices
          // disjoint key ranges per new file — each spark partition becomes
          // (at most; at range boundaries two table partitions share a task)
          // one file group, so no per-partition planning collect is needed,
          // only a total count off the pinned batch
          val total = withDesc(s"$op:counts")(cached.count())
          batchRows = total
          val nFiles = math.max(1,
            math.ceil(total.toDouble / config.targetFileSizeRows)).toInt
          // range columns: the record-key string by default; explicit raw
          // columns when the caller's probe column is numeric (see
          // bulkInsert's sortCols doc — decimal strings interleave
          // magnitudes, so string slicing leaves numeric stats useless)
          val rangeCols = extra.get("sort.cols")
            .map(_.split(',').toSeq.map(col)).getOrElse(Seq(col(KEY)))
          val ranged = cached
            .repartitionByRange(nFiles, (col(PART) +: rangeCols): _*)
            .withColumn(FILE_ID,
              format_string(s"g$instant-r%05d", spark_partition_id()))
          (ranged.filter(!col(DELETED)), Set.empty[String], Set.empty[String],
            Set.empty[String])
        } else if (!taggingOps(op)) {
          val withFid = cached.withColumn("_g_fid", lit(null).cast(StringType))
          // one metadata-sized collect: inserts per partition
          val insertCounts = withDesc(s"$op:counts")(
            cached.groupBy(col(PART)).count().collect())
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          batchRows = insertCounts.values.sum
          // virtual-key tables never bin-pack: the rewrite needs per-row
          // FILE_ID (not materialized) and would break filename-derived
          // commit attribution — inserts append new groups only
          val (assigned, packKeys) = assignInserts(withFid, cur, instant,
            allowBinpack = op != "bulk_insert" && config.populateMetaFields,
            insertCounts)
          val packTargets = packKeys.toSeq.flatMap(curByKey.get)
          // bin-packed groups must be rewritten (old rows + new rows) —
          // even on MOR, where the upsert door packs as log appends: the
          // permissive insert door ALLOWS duplicate keys, and a log row
          // sharing a key with its pack target would be silently collapsed
          // by the snapshot's latest-wins merge instead of duplicating
          val withOld =
            if (packTargets.isEmpty) assigned.filter(!col(DELETED))
            else readSliceRows(packTargets, merged, needFileId = true)
              .unionByName(assigned.filter(!col(DELETED)))
          (withOld, Set.empty[String], packKeys, Set.empty[String])
        } else {
          // preTagged frames are the already-materialized `cached` — a
          // second checkpoint would copy the batch for nothing
          val tagged = if (preTagged) cached
            else withDesc(s"$op:tag")(pin(tag(cached, cur)))
          // one metadata-sized collect for the whole write: rows per
          // (partition, tagged group, liveness); null group = insert
          val groupCounts = withDesc(s"$op:counts")(
            tagged.groupBy(col(PART), col("_g_fid"), col(DELETED))
            .count().collect())
            .map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2),
              r.getLong(3)))
          batchRows = groupCounts.map(_._4).sum
          missedDeleteParts =
            groupCounts.collect { case (p, None, true, _) => p }.toSet
          val insertCounts =
            groupCounts.collect { case (p, None, false, n) => p -> n }
              .groupMapReduce(_._1)(_._2)(_ + _)
          // an untagged delete is a no-op (its key doesn't exist): drop it
          // BEFORE assignment so it can't ride into a bin-packed group's
          // log as a junk tombstone or skew the packing arithmetic
          val live =
            if (groupCounts.exists { case (_, g, d, _) => g.isEmpty && d })
              tagged.filter(col("_g_fid").isNotNull || !col(DELETED))
            else tagged
          // MOR bin-packs too (ref: UpsertPartitioner small-file
          // assignment): packed inserts ride into logGroups below, so they
          // append as LOG files of the under-sized group — no base rewrite,
          // no new file group. COW packed groups rewrite (affected path).
          val (assigned, packKeys) = assignInserts(live, cur, instant,
            allowBinpack = true, insertCounts)
          val touchedExisting = (groupCounts.collect { case (p, Some(f), _, _) => s"$p|$f" }
            .toSet ++ packKeys).filter(curByKey.contains)
          if (mor) {
            // updates/deletes -> log files of their group; inserts -> new base
            // groups. Deletes of keys that don't exist are dropped (they'd
            // otherwise create base files holding only tombstones).
            // Touched-group membership via broadcast join, not a literal
            // isin — a wide batch touches 10^4+ groups (planning cliff).
            import spark.implicits._
            val touchedDf = broadcast(touchedExisting.toSeq.toDF("_g_tch"))
            val cleaned = assigned
              .join(touchedDf,
                concat_ws("|", col(PART), col(FILE_ID)) === col("_g_tch"), "left")
              .filter(col("_g_tch").isNotNull || !col(DELETED))
              .drop("_g_tch")
            (cleaned, touchedExisting, touchedExisting, packKeys)
          } else {
            val affected = touchedExisting.toSeq.flatMap(curByKey.get)
            val out = config.payload match {
              case EventTimeOrdered if affected.nonEmpty =>
                // event-order merge: the stored row SURVIVES when its
                // ordering value beats the incoming one's (a stale update
                // or delete is ignored) — ref DefaultHoodieRecordPayload.
                // Surviving old rows keep their original commit time and
                // file id, so incremental reads and group layout hold.
                mergeLatest(readSliceRows(affected, merged, needFileId = true)
                  .unionByName(assigned)).filter(!col(DELETED))
              case _ =>
                // arrival-order merge: incoming rows replace stored ones
                // outright — old versions of batch keys anti-join away
                val oldRows =
                  if (affected.isEmpty) None
                  else Some(readSliceRows(affected, merged, needFileId = true)
                    .join(assigned.select(col(KEY), col(PART)).distinct(),
                      Seq(KEY, PART), "left_anti"))
                val newRows = assigned.filter(!col(DELETED))
                oldRows.map(_.unionByName(newRows)).getOrElse(newRows)
            }
            (out, Set.empty[String], touchedExisting, Set.empty[String])
          }
        }
      val files = withDesc(s"$op:stage")(
        stageWrite(out, instant, logGroups, preArranged = globalSort,
        bloomLogGroups = packedLogGroups))
      // optimistic concurrency (ref: hudi SimpleConcurrentFileWritesConflict
      // ResolutionStrategy): fail if a commit completed since we started
      // touches any of the same file groups. The conflict set includes the
      // groups this write CREATED, not just pre-existing touched ones — two
      // writers materializing the same deterministic bucket-index group must
      // conflict, else slices() silently drops the lower instant's rows.
      // a touched group that produced no file (all of its rows deleted) is
      // dead — mark it replaced so the old slice stops resolving
      val written = files.map(f => s"${f.partition}|${f.fileId}").toSet
      // strict inserts widen the conflict set to the written PARTITIONS: a
      // plain insert creates only fresh file groups, so two racing strict
      // inserts of the same new key would never group-conflict — both
      // passing the duplicate probe and both committing. Partition-level
      // conflict forces the loser to re-probe (free: the partitions come
      // from the files this write just staged).
      val confParts = missedDeleteParts ++
        (if (conflictOnPartitions) files.map(_.partition).toSet else Nil)
      commitGuarded(startSeen, touched ++ written, confParts,
        CommitMeta(instant, action, op,
          schemaJson = merged.json, files = files,
          replaced = (touched -- written).toSeq,
          extra = extra + ("batchRows" -> batchRows.toString)
            // writer metrics (ref: HoodieMetrics commit.duration): recorded
            // in the commit itself — durable, no registry to lose
            + ("durationMs" ->
              ((System.nanoTime() - writeStart) / 1000000L).toString)))
      instant
      } finally pinned.foreach(_.unpersist(blocking = false))
    } catch { case e: Throwable => timeline.abort(instant, action); throw e }
  }

  /** Merged rows of the given slices (base ∪ logs, latest version per key). */
  private def readSliceRows(ss: Seq[FileSlice], data: StructType,
      needFileId: Boolean = false): DataFrame = {
    val bases = ss.flatMap(s => s.baseFiles.map(_ -> s.baseInstant))
    val logsF = ss.flatMap(_.logs.map { case (i, f) => f -> i })
    val b = readConformed(bases, data, needFileId)
    if (logsF.isEmpty) b
    else mergeLatest(b.unionByName(readConformed(logsF, data, needFileId)))
  }

  /** Latest-wins merge across base+log rows of the same keys. Ordering
    * follows the table's [[MergePayload]]: arrival order (commit first,
    * precombine as tiebreak) or event order (precombine first, newer
    * commit wins ties — ref DefaultHoodieRecordPayload's
    * needsUpdatingPersistedRecord). */
  private def mergeLatest(u: DataFrame): DataFrame = {
    val ord = config.payload match {
      case EventTimeOrdered =>
        config.precombineField.map(pc => col(pc).desc_nulls_last).toSeq :+
          col(COMMIT).desc
      case _ => // OverwriteLatest + PartialUpdate: arrival order
        Seq(col(COMMIT).desc) ++
          config.precombineField.map(pc => col(pc).desc_nulls_last).toSeq
    }
    val w = Window.partitionBy(col(PART), col(KEY)).orderBy(ord: _*)
    u.withColumn("_g_rn", row_number().over(w)).filter(col("_g_rn") === 1).drop("_g_rn")
  }

  /** Partition-level overwrite (replacecommit): partitions present in df are
    * replaced wholesale; others untouched. Ref: insert_overwrite. */
  def insertOverwrite(df: DataFrame): String = replaceWrite(df, wholeTable = false)

  /** Replace the whole table's contents. Ref: insert_overwrite_table. */
  def insertOverwriteTable(df: DataFrame): String = replaceWrite(df, wholeTable = true)

  private def replaceWrite(raw: DataFrame, wholeTable: Boolean): String = {
    val writeStart = System.nanoTime()
    val startSeen = timeline.completed().map(_._1).toSet
    val instant = timeline.startInstant("replacecommit")
    try {
      val cur = slices(None)
      val keyed = precombine(withMeta(raw, instant))
      val dataSchema = StructType(keyed.schema.fields.filterNot(f => metaCols.contains(f.name)))
      val merged = mergeSchemas(schemaAt(None), dataSchema)
      val batch = conform(keyed, fullSchema(merged)).filter(!col(DELETED))
      // one collect: per-partition counts double as the touched-partition set
      val counts = batch.groupBy(col(PART)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val parts: Set[String] =
        if (wholeTable) cur.map(_.partition).toSet else counts.keySet
      val replaced = cur.filter(s => parts.contains(s.partition))
        .map(s => s"${s.partition}|${s.fileId}")
      val (assigned, _) = assignInserts(
        batch.withColumn("_g_fid", lit(null).cast(StringType)),
        Nil, instant, allowBinpack = false, counts)
      val files = stageWrite(assigned, instant, Set.empty)
      // partition-level conflict: a concurrent writer adding a NEW file group
      // to an overwritten partition would survive the replace and corrupt
      // overwrite semantics, so any commit into these partitions conflicts
      commitGuarded(startSeen, Set.empty, parts,
        CommitMeta(instant, "replacecommit",
          if (wholeTable) "insert_overwrite_table" else "insert_overwrite",
          schemaJson = merged.json, files = files, replaced = replaced,
          extra = Map("durationMs" ->
            ((System.nanoTime() - writeStart) / 1000000L).toString)),
        anyCommit = wholeTable)
      instant
    } catch { case e: Throwable => timeline.abort(instant, "replacecommit"); throw e }
  }

  /** Drop whole partitions (replacecommit with no new files). */
  def deletePartitions(partitionPaths: Seq[String]): String = {
    val startSeen = timeline.completed().map(_._1).toSet
    val instant = timeline.startInstant("replacecommit")
    try {
      val replaced = slicesPruned(partitionPaths.toSet)
        .map(s => s"${s.partition}|${s.fileId}")
      commitGuarded(startSeen, Set.empty, partitionPaths.toSet,
        CommitMeta(instant, "replacecommit", "delete_partition",
          schemaJson = schemaAt(None).map(_.json).getOrElse(""), replaced = replaced))
      instant
    } catch { case e: Throwable => timeline.abort(instant, "replacecommit"); throw e }
  }

  /**
   * MERGE INTO semantics (ref: MergeIntoHoodieTableCommand.scala): rows of
   * `source` matched against existing keys; matched+deleteCond → delete,
   * matched+updateCond → update, unmatched+insertCond → insert.
   * Conditions default to always-true.
   */
  def mergeInto(source: DataFrame, updateCond: Column = lit(true),
      deleteCond: Column = lit(false), insertCond: Column = lit(true),
      dropCols: Seq[String] = Nil): String = {
    // the conflict watermark is read BEFORE any table state below, so a
    // commit sneaking in between classification and writeBatch is detected
    val startSeen = timeline.completed().map(_._1).toSet
    val keyed = source
      .withColumn(KEY, config.keyExpr)
      .withColumn(PART, config.partitioning.pathExpr)
    // "matched" means the key's LATEST version is live: a tombstoned key
    // must take the NOT-MATCHED branch (MERGE semantics: deleted rows are
    // insertable again), which neither a bare key scan nor the bucket tag
    // can answer. keyStatus also carries the key's home group, which rides
    // into writeBatch as the routing tag (stats index) so the table is
    // scanned once, not once for classification and once for tagging.
    val m = keyed.join(keyStatus(keyed, slices(None)), Seq(KEY, PART), "left")
    val matched = coalesce(col("_g_live"), lit(false))
    val toDelete = m.filter(matched && deleteCond).withColumn(DELETED, lit(true))
    val toUpdate = m.filter(matched && !deleteCond && updateCond)
      .withColumn(DELETED, lit(false))
    val toInsert = m.filter(!matched && insertCond)
      .withColumn(DELETED, lit(false))
    val batch = toDelete.unionByName(toUpdate).unionByName(toInsert)
      .drop(Seq(KEY, PART, "_g_live") ++ dropCols: _*)
    val routed = config.index match {
      case StatsIndex => batch // _g_fid = preTagged routing
      case BucketIndex(_) => batch.drop("_g_fid") // re-tagged by expression
    }
    writeBatch(routed, "merge", seenForConflict = Some(startSeen))
  }

  /**
   * Partial-update upsert (ref: PartialUpdateAvroPayload /
   * OverwriteNonDefaultsWithLatestAvroPayload): a NULL column in an incoming
   * record means "not provided" — the matched existing row's value is kept.
   * Columns the source omits entirely inherit the existing value too, so a
   * narrow source frame updates just the columns it carries. New keys insert
   * as-is (missing/null columns stay null).
   *
   * The source must carry the key and partition columns (as in the
   * reference); a key whose latest version is a tombstone takes the insert
   * path — nothing is inherited from deleted rows.
   */
  def upsertPartial(source: DataFrame,
      extra: Map[String, String] = Map.empty): String = {
    val startSeen = timeline.completed().map(_._1).toSet
    val keyed = source
      .withColumn(KEY, config.keyExpr)
      .withColumn(PART, config.partitioning.pathExpr)
    val data = schemaAt(None).getOrElse(new StructType())
    val srcCols = source.columns.filterNot(metaCols.contains).toSeq
    val tableCols = data.fields.map(_.name).toSeq
    // existing latest versions WITH their values (one table scan, pruned to
    // candidate files; doubles as the routing tag so writeBatch never
    // re-scans the table)
    val existing = existingRows(keyed).select(
      Seq(col(KEY), col(PART), col(FILE_ID).as("_g_fid"),
        (!col(DELETED)).as("_g_live")) ++
        tableCols.map(c => col(c).as(s"_e_$c")): _*)
    val joined = keyed.join(existing, Seq(KEY, PART), "left")
    val live = coalesce(col("_g_live"), lit(false))
    val outCols = (tableCols ++ srcCols.filterNot(tableCols.contains)).map { c =>
      val fromSrc = srcCols.contains(c)
      val inTable = tableCols.contains(c)
      if (fromSrc && inTable) when(live, coalesce(col(c), col(s"_e_$c"))).otherwise(col(c)).as(c)
      else if (fromSrc) col(c).as(c)
      else when(live, col(s"_e_$c")).as(c) // table-only column: inherit or null
    }
    val batch = joined.select(outCols :+ col("_g_fid"): _*)
    val routed = config.index match {
      case StatsIndex => batch
      case BucketIndex(_) => batch.drop("_g_fid")
    }
    writeBatch(routed, "upsert_partial", extra,
      seenForConflict = Some(startSeen))
  }

  /**
   * Global-index upsert (ref: GLOBAL_SIMPLE/GLOBAL_BLOOM with
   * `hoodie.simple.index.update.partition.path=true`): a key is unique
   * across the WHOLE table, not per partition. When an incoming record's
   * partition differs from where its key currently lives, the old row is
   * tombstoned in its old partition and the record inserts into the new one
   * — or, with `updatePartitionPath = false` (the reference option's other
   * leg), the record updates IN PLACE in its original partition.
   *
   * Scale note: candidate pruning is by key range across all partitions
   * (global min/max of the batch vs recorded per-file ranges) — the batch
   * never joins the full table, only files that could hold its keys.
   */
  def upsertGlobal(source: DataFrame, updatePartitionPath: Boolean = true): String = {
    val startSeen = timeline.completed().map(_._1).toSet
    val keyedRaw = source
      .withColumn(KEY, config.keyExpr)
      .withColumn(PART, config.partitioning.pathExpr)
    // global uniqueness: precombine within the batch by KEY alone (the
    // per-(partition, key) precombine in writeBatch would let one key land
    // in two partitions when the batch itself carries it twice)
    val keyed = config.precombineField match {
      case Some(pc) =>
        val w = Window.partitionBy(col(KEY))
          .orderBy(col(pc).desc_nulls_last)
        keyedRaw.withColumn("_g_rn", row_number().over(w))
          .filter(col("_g_rn") === 1).drop("_g_rn")
      case None => keyedRaw
    }
    val data = schemaAt(None).getOrElse(new StructType())
    val tableCols = data.fields.map(_.name).toSeq
    val existingAll = existingRows(keyed, global = true).select(
      Seq(col(KEY), col(PART).as("_e_part"), col(FILE_ID).as("_g_fid"),
        (!col(DELETED)).as("_g_live")) ++
        tableCols.map(c => col(c).as(s"_e_$c")): _*)
    // one existing row per key: a table previously written with per-partition
    // upserts can hold the same key in several partitions — joining all of
    // them would duplicate incoming rows. Prefer the live one.
    val ew = Window.partitionBy(col(KEY))
      .orderBy(col("_g_live").desc, col("_e_part").asc)
    val existing = existingAll.withColumn("_g_ern", row_number().over(ew))
      .filter(col("_g_ern") === 1).drop("_g_ern")
    val m = keyed.join(existing, Seq(KEY), "left")
    val srcOut = keyed.drop(KEY, PART).columns.toSeq
    val matchedLive = coalesce(col("_g_live"), lit(false))
    val batch = if (updatePartitionPath) {
      // rows whose key lives in ANOTHER partition: tombstone the old row
      // (its original column values, so the partition path re-derives to the
      // OLD partition), routed to its home group
      val moved = m.filter(matchedLive && col("_e_part") =!= col(PART))
      val tombstones = moved.select(
        tableCols.map(c => col(s"_e_$c").as(c)) :+ col("_g_fid") :+ lit(true).as(DELETED): _*)
      // every incoming row writes to ITS partition; same-partition matches
      // route to their home group, moved/new keys insert
      val upserts = m.withColumn("_g_fid",
          when(col("_e_part") === col(PART), col("_g_fid")))
        .select(srcOut.map(col) :+ col("_g_fid") :+ lit(false).as(DELETED): _*)
      tombstones.unionByName(upserts, allowMissingColumns = true)
    } else {
      // update.partition.path=false (ref: hoodie.simple/bloom.index.update
      // .partition.path): a matched record STAYS in the partition its key
      // lives in — the home path is pinned past withMeta's re-derivation,
      // no tombstone, no move. Data columns still take the incoming values
      // (the reference has the same data-vs-directory quirk); dead keys
      // re-insert into the incoming row's own partition.
      m.withColumn("_g_fid", when(matchedLive, col("_g_fid")))
        .withColumn(GraftTable.PART_PIN, when(matchedLive, col("_e_part")))
        .select(srcOut.map(col) ++ Seq(col("_g_fid"),
          col(GraftTable.PART_PIN), lit(false).as(DELETED)): _*)
    }
    val routed = config.index match {
      case StatsIndex => batch
      case BucketIndex(_) => batch.drop("_g_fid")
    }
    writeBatch(routed, "upsert_global", seenForConflict = Some(startSeen))
  }

  /** Latest version (with values and liveness) of every existing key that
    * could match `df` — candidate files pruned by recorded key ranges,
    * per-partition or globally. Shared by [[upsertPartial]]/[[upsertGlobal]]. */
  private def existingRows(df: DataFrame, global: Boolean = false): DataFrame = {
    val data = schemaAt(None).getOrElse(new StructType())
    def empty = {
      val tgt = fullSchema(data)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tgt)
    }
    val cur = slices(None)
    if (cur.isEmpty) return empty
    val cands = if (global) candidateSlicesGlobal(df, cur) else candidateSlices(df, cur)
    if (cands.isEmpty) return empty
    config.tableType match {
      case CopyOnWrite => readConformed(
        cands.flatMap(s => s.baseFiles.map(_ -> s.baseInstant)), data,
        needFileId = true)
      case MergeOnRead => readSliceRows(cands, data, needFileId = true)
    }
  }

  /** SQL MERGE classification input: the latest version of every existing
    * key — full data columns, routing [[FILE_ID]], liveness as [[DELETED]] —
    * produced by ONE snapshot scan. `probe` (a frame carrying KEY/PART)
    * prunes candidate files by recorded key ranges + blooms, exactly as
    * upsert tagging does; None reads every live slice (required when NOT
    * MATCHED BY SOURCE clauses must see all target rows). */
  private[graft] def latestVersions(probe: Option[DataFrame]): DataFrame =
    probe match {
      case Some(df) => existingRows(df)
      case None =>
        val data = schemaAt(None).getOrElse(new StructType())
        val cur = slices(None)
        config.tableType match {
          case CopyOnWrite => readConformed(
            cur.flatMap(s => s.baseFiles.map(_ -> s.baseInstant)), data,
            needFileId = true)
          case MergeOnRead => readSliceRows(cur, data, needFileId = true)
        }
    }

  /** [[candidateSlices]] ignoring partitions: slices in ANY partition whose
    * key range intersects the batch's global key range. */
  private def candidateSlicesGlobal(df: DataFrame, cur: Seq[FileSlice]): Seq[FileSlice] = {
    val r = df.agg(min(col(KEY)).as("mn"), max(col(KEY)).as("mx")).collect()(0)
    Option(r.getString(0)).map(_ -> r.getString(1)) match {
      case None => Nil // empty batch
      case Some((mn, mx)) =>
        // logs participate: MOR packed inserts put new keys in log files
        cur.filter(s => (s.baseFiles ++ s.logs.map(_._2)).exists(b =>
          (b.keyMin.isEmpty || CodePointOrder.le(b.keyMin, mx)) &&
            (b.keyMax.isEmpty || CodePointOrder.le(mn, b.keyMax))))
    }
  }

  /** Per existing key: its home file group (`_g_fid`) and whether its
    * latest version is live (`_g_live`, false = tombstone). COW state
    * lives entirely in base files; MOR resolves liveness through the
    * log-aware latest-wins merge. Candidate files are pruned by recorded
    * key ranges against the incoming batch, as in [[tag]]. */
  private def keyStatus(df: DataFrame, cur: Seq[FileSlice]): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField(KEY, StringType), StructField(PART, StringType),
        StructField("_g_fid", StringType), StructField("_g_live", BooleanType))))
    if (cur.isEmpty) return empty
    val cands = candidateSlices(df, cur)
    if (cands.isEmpty) return empty
    val data = schemaAt(None).getOrElse(new StructType())
    val rows = config.tableType match {
      case CopyOnWrite => readConformed(
        cands.flatMap(s => s.baseFiles.map(_ -> s.baseInstant)), data,
        needFileId = true)
      case MergeOnRead => readSliceRows(cands, data, needFileId = true)
    }
    rows.select(col(KEY), col(PART), col(FILE_ID).as("_g_fid"),
      (!col(DELETED)).as("_g_live"))
  }

  /**
   * File slices resolvable as ONE plain multi-file parquet scan — the
   * `spark.read.format("graft")` fast path (ref: the reference's
   * BaseFileOnlyRelation, hudi-spark-datasource/hudi-spark-common/src/main/
   * scala/org/apache/hudi/BaseFileOnlyRelation.scala): eligible when every
   * live base file carries materialized meta columns (not bootstrapped) and
   * was written with the current as-of data schema (no per-epoch conform
   * casts needed), and — unless `baseOnly` (read_optimized) — no file group
   * has log files to merge.
   *
   * Returns the base FileMetas (with their recorded column stats, so the
   * relation's FileIndex can skip files at plan time) and the scan schema:
   * commit/key/partition meta columns + data columns. FILE_ID and DELETED
   * stay internal — base files never hold tombstones (every write path
   * filters them; deletes live only in MOR logs), so a raw scan of these
   * files IS the snapshot. None = the general merging reader must run.
   */
  private[graft] def fastScanFiles(asOf: Option[String], baseOnly: Boolean,
      partitionPred: String => Boolean = GraftTable.NoPrune)
      : Option[(Seq[FileMeta], StructType, StructType)] = {
    assertNotArchived(asOf, "time travel to")
    val ss =
      if (asOf.isEmpty) slicesPruned(partitionPred)
      else slices(asOf).filter(s => partitionPred(s.partition))
    if (!baseOnly && ss.exists(_.logs.nonEmpty)) return None
    val bases = ss.flatMap(s => s.baseFiles.map(_ -> s.baseInstant))
    if (bases.exists(_._1.external)) return None
    val latest = schemaAt(asOf).getOrElse(return None)
    val schemaOf = schemaByInstant()
    val uniform = bases.forall { case (_, i) =>
      schemaOf.get(i).exists(sj => sj.nonEmpty &&
        DataType.fromJson(sj).asInstanceOf[StructType] == latest)
    }
    if (!uniform) return None
    // dropped partition columns come back as REAL partition columns of the
    // relation: values parse from each file's partition path into
    // PartitionDirectory rows, so filters on them are plan-time partition
    // pruning (never a scan). Unsupported value types fall back to the
    // conforming reader, which derives them by expression.
    // partFields MUST follow the partition-PATH segment order
    // (config.partitioning.columns), not data-schema order: the FileIndex
    // parses path segments positionally against this StructType
    val (partFields, dataFields) =
      if (config.dropPartitionColumns) {
        val pc = config.partitioning.columns
        (pc.flatMap(c => latest.fields.find(_.name == c)).toArray,
         latest.fields.filterNot(f => pc.contains(f.name)))
      } else (Array.empty[StructField], latest.fields)
    if (partFields.exists(f =>
        !graft.sources.GraftFileIndex.partValueSupported(f.dataType)))
      return None
    // virtual-key files hold no meta columns at all: the fast scan serves
    // the pure data schema (the reference's BaseFileOnlyRelation with
    // populate.meta.fields=false reads the same shape)
    val schema =
      if (config.populateMetaFields) StructType(Seq(
        StructField(COMMIT, StringType), StructField(KEY, StringType),
        StructField(PART, StringType)) ++ dataFields)
      else StructType(dataFields)
    Some((bases.map(_._1), schema, StructType(partFields)))
  }

  /** `SELECT *` COLUMN-ORDER CONTRACT for drop.partition.columns tables:
    * partition columns surface LAST (the Hive / HadoopFsRelation
    * convention — the fast path's relation schema is dataSchema ++
    * partitionSchema and we keep its plan pristine). The conforming/merge
    * fallback restores partition values at their original schema
    * positions, so it is the one that reorders — otherwise the same
    * table's column order would flip between the fast path and the
    * fallback (e.g. a MOR table before vs after compaction). Catalyst
    * collapses the projection; it costs nothing at runtime. */
  private def partColsLast(df: DataFrame): DataFrame = {
    if (!config.dropPartitionColumns) return df
    val pc = config.partitioning.columns.filter(df.columns.contains)
    if (pc.isEmpty) return df
    val rest = df.columns.toSeq.filterNot(pc.contains)
    df.select((rest ++ pc).map(c => col(s"`$c`")): _*)
  }

  // ----------------------------------------------------------------- reads

  /** Live rows (tombstones filtered, meta columns kept) of the slices
    * passing `slicePred`, conformed to `data`. The MOR merge window runs
    * only over file groups that actually have logs. */
  private def snapshotFull(asOf: Option[String], data: StructType,
      slicePred: FileSlice => Boolean): DataFrame =
    snapshotOf(slices(asOf).filter(slicePred), data)

  private def snapshotOf(ss: Seq[FileSlice], data: StructType): DataFrame = {
    val (logged, plain) = ss.partition(_.logs.nonEmpty)
    val plainDf = readConformed(plain.flatMap(s => s.baseFiles.map(_ -> s.baseInstant)), data)
    val all = if (logged.isEmpty) plainDf else {
      val b = readConformed(logged.flatMap(s => s.baseFiles.map(_ -> s.baseInstant)), data)
      val l = readConformed(logged.flatMap(_.logs.map { case (i, f) => f -> i }), data)
      plainDf.unionByName(mergeLatest(b.unionByName(l)))
    }
    all.filter(!col(DELETED))
  }

  /** Snapshot query: latest version of every record (ref: QUERY_TYPE
    * snapshot). `asOf` = time travel; `partitionPred` prunes partitions
    * before any file is read. */
  def snapshot(asOf: Option[String] = None,
      partitionPred: String => Boolean = GraftTable.NoPrune): DataFrame = {
    assertNotArchived(asOf, "time travel to")
    // when the snapshot is exactly a multi-file parquet scan, serve it from
    // the GraftFileIndex relation: full pushdown plus PLAN-TIME file
    // skipping from commit stats — the same fast path format("graft") reads
    // get, now for typed-API users too
    fastScanFiles(asOf, baseOnly = false, partitionPred) match {
      case Some((files, schema, partSchema)) =>
        spark.baseRelationToDataFrame(graft.sources.GraftRelations.fast(
          spark, basePath, files.filter(f => partitionPred(f.partition)), schema,
          config.baseFileFormat, partSchema))
      case None =>
        val data = schemaAt(asOf).getOrElse(new StructType())
        // current-state reads go through the partition-pruned listing (one
        // pruned segment scan when an MDT serves); time travel keeps the
        // full fold (segments hold the live set only)
        val ss =
          if (asOf.isEmpty) slicesPruned(partitionPred)
          else slices(asOf).filter(s => partitionPred(s.partition))
        val full = snapshotOf(ss, data)
          .drop(FILE_ID, DELETED)
        // virtual-key tables never expose meta columns, whichever path serves
        partColsLast(
          if (config.populateMetaFields) full else full.drop(COMMIT, KEY, PART))
    }
  }

  /** Read-optimized query: base files only, no log merge (ref: QUERY_TYPE
    * read_optimized). */
  def readOptimized(asOf: Option[String] = None): DataFrame = {
    assertNotArchived(asOf, "time travel to")
    fastScanFiles(asOf, baseOnly = true) match {
      case Some((files, schema, partSchema)) =>
        return spark.baseRelationToDataFrame(
          graft.sources.GraftRelations.fast(spark, basePath, files, schema,
            config.baseFileFormat, partSchema))
      case None =>
    }
    val data = schemaAt(asOf).getOrElse(new StructType())
    val ro = readConformed(
        slices(asOf).flatMap(s => s.baseFiles.map(_ -> s.baseInstant)), data)
      .filter(!col(DELETED)).drop(FILE_ID, DELETED)
    partColsLast(
      if (config.populateMetaFields) ro else ro.drop(COMMIT, KEY, PART))
  }

  /** Glob → predicate over partition paths: `**` crosses segments, `*`
    * stays within one, `?` is one char; everything else is literal (ref:
    * hudi GlobPattern used by IncrementalRelation's incr.path.glob). */
  private[graft] def globMatcher(glob: String): String => Boolean = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' if i + 1 < glob.length && glob.charAt(i + 1) == '*' =>
          sb.append(".*"); i += 1
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    val p = java.util.regex.Pattern.compile(sb.toString())
    s => p.matcher(s).matches()
  }

  /** Skip-merge snapshot (ref: hoodie.datasource.merge.type =
    * realtime_skip_merge): base + log rows returned UNMERGED — a reader
    * that tolerates stale/duplicate versions (bulk export, statistics,
    * downstream dedup anyway) skips the per-key merge entirely. At 100 TB
    * this turns the MOR snapshot's merge-window shuffle into a pure union
    * of columnar scans: no exchange, no sort, full pushdown on every
    * branch. Tombstoned rows are dropped; older versions of updated keys
    * remain (that is the contract). */
  def snapshotSkipMerge(asOf: Option[String] = None): DataFrame = {
    assertNotArchived(asOf, "time travel to")
    val data = schemaAt(asOf).getOrElse(new StructType())
    val ss = slices(asOf)
    val all = readConformed(
      ss.flatMap(s => s.baseFiles.map(_ -> s.baseInstant)) ++
        ss.flatMap(_.logs.map { case (i, f) => f -> i }), data)
      .filter(!col(DELETED)).drop(FILE_ID, DELETED)
    if (config.populateMetaFields) all else all.drop(COMMIT, KEY, PART)
  }

  /** Incremental query: latest state of records changed in (from, to]
    * (ref: QUERY_TYPE incremental + BEGIN_INSTANTTIME). Scans only files
    * committed in the range. */
  /** @param fallbackFullScan when files committed in the window have since
    *   been CLEANED, serve the query from a snapshot-as-of-`to` scan
    *   filtered to commit times in range instead of failing (ref:
    *   hoodie.datasource.read.incr.fallback.fulltablescan.enable) —
    *   bin-packed/clustered rows keep their ORIGINAL commit time, so the
    *   filter is faithful; off by default because the full scan can cost
    *   arbitrarily more than the windowed file read. */
  /** @param pathGlob restrict the read to partitions matching a glob
    *   (`*` = within a path segment, `**` = across segments, `?` = one
    *   char — ref: hoodie.datasource.read.incr.path.glob): the file list
    *   prunes BEFORE any scan, so an incremental consumer of one region
    *   of a 100 TB table never touches the rest. */
  def incremental(fromExclusive: String, toInclusive: Option[String] = None,
      fallbackFullScan: Boolean = false,
      pathGlob: Option[String] = None): DataFrame = {
    assertNotArchived(Some(fromExclusive), "incremental read from")
    val to = toInclusive.orElse(timeline.latestInstant()).getOrElse("0")
    val data = schemaAt(Some(to)).getOrElse(new StructType())
    val globPred: String => Boolean =
      pathGlob.map(globMatcher).getOrElse(_ => true)
    // checkpoints only re-record rows committed at or before the archival
    // boundary ≤ from (guarded above): including them would scan the whole
    // carried file set with the wrong schema epoch just to filter every row
    val ms = timeline.metas(Some(to))
      .filter(m => dataActions(m.action) && m.operation != "checkpoint" &&
        m.instant > fromExclusive)
    // pair each file with its EFFECTIVE instant: a scheduled-compaction
    // execution records files at origInstant (the plan instant), and that
    // is the schema epoch the file was written with — pairing with the
    // execution instant would conform it against a post-plan ALTER's epoch
    val files = ms.flatMap(m => m.files.collect {
      case f if globPred(f.partition) =>
        f -> (if (f.origInstant.nonEmpty) f.origInstant else m.instant)
    })
    // virtual-key tables never expose meta columns; column order follows
    // the same partition-cols-last contract as snapshot/readOptimized
    def surface(df: DataFrame): DataFrame = {
      val d = df.drop(FILE_ID, DELETED)
      partColsLast(if (config.populateMetaFields) d else d.drop(COMMIT, KEY, PART))
    }
    if (files.isEmpty)
      return surface(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema(data)))
    val cleaned: Set[String] = timeline.metas(None)
      .filter(_.action == "clean").flatMap(_.deletedPaths).toSet
    val lost = files.collect { case (f, i) if cleaned(f.path) => (f.path, i) }
    if (lost.nonEmpty) {
      if (!fallbackFullScan) throw new IllegalStateException(
        s"incremental read ($fromExclusive, $to]: ${lost.size} file(s) in " +
          s"the window were cleaned (earliest: ${lost.minBy(_._2)._1}) — " +
          "start from a newer instant, or enable the full-scan fallback " +
          "(graft.incremental.fallback.fullscan)")
      // snapshotFull (not the public snapshot): the commit-range filter
      // needs the COMMIT column, which a virtual-key snapshot() hides
      return surface(snapshotFull(Some(to), data, s => globPred(s.partition))
        .filter(!col(DELETED))
        .filter(col(COMMIT) > fromExclusive && col(COMMIT) <= to))
    }
    surface(mergeLatest(readConformed(files, data)
      .filter(col(COMMIT) > fromExclusive && col(COMMIT) <= to))
      .filter(!col(DELETED)))
  }

  /**
   * CDC-format incremental query (ref: hudi cdc read,
   * hudi-spark-datasource/.../cdc — the reference's fork predates it, but
   * DeltaStreamer consumers reconstruct the same change log): one row per
   * key changed in (from, to] with `op` i/u/d and full `before`/`after`
   * images (null on insert/delete respectively).
   *
   * Scale shape: only file groups TOUCHED in the range are read — twice
   * (as-of `from` and as-of `to`) — then one shuffle on (key, partition)
   * for the full-outer diff. Rows rewritten with their original commit time
   * (clustering, bin-packing, untouched rows of rewritten groups) cancel
   * out via the commit-time filter, so layout churn emits no change rows.
   */
  def incrementalCDC(fromExclusive: String, toInclusive: Option[String] = None): DataFrame = {
    assertNotArchived(Some(fromExclusive), "CDC read from")
    val to = toInclusive.orElse(timeline.latestInstant()).getOrElse("0")
    val data = schemaAt(Some(to)).getOrElse(new StructType())
    val ms = timeline.metas(Some(to))
      .filter(m => dataActions(m.action) && m.operation != "checkpoint" &&
        m.instant > fromExclusive)
    val touched: Set[String] = ms.flatMap(m =>
      m.files.map(f => s"${f.partition}|${f.fileId}") ++ m.replaced).toSet
    val img = struct(data.fields.map(f => col(f.name)).toSeq: _*)
    val cdcSchema = StructType(Seq(
      StructField(KEY, StringType), StructField(PART, StringType),
      StructField("op", StringType),
      StructField("before", data), StructField("after", data)))
    if (touched.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdcSchema)
    val pred = (s: FileSlice) => touched.contains(s"${s.partition}|${s.fileId}")
    val old = snapshotFull(Some(fromExclusive), data, pred)
      .select(col(KEY), col(PART), img.as("before"))
    val cur = snapshotFull(Some(to), data, pred)
      .select(col(KEY), col(PART), img.as("after"), col(COMMIT).as("_g_c"))
    old.join(cur, Seq(KEY, PART), "full_outer")
      // both images present with a pre-range commit time = the row was only
      // rewritten (clustering / group rewrite), not changed — not a change
      .filter(col("before").isNull || col("after").isNull || col("_g_c") > fromExclusive)
      .select(col(KEY), col(PART),
        when(col("before").isNull, lit("i"))
          .when(col("after").isNull, lit("d")).otherwise(lit("u")).as("op"),
        col("before"), col("after"))
  }

  /** Snapshot pruned by recorded per-file column stats: only file slices
    * whose [min,max] for `column` intersects [lo,hi] are read (the
    * reference's column-stats index / data skipping). */
  def snapshotPruned(column: String, lo: String, hi: String): DataFrame = {
    val data = schemaAt(None).getOrElse(new StructType())
    val numeric = data.fields.find(_.name == column).exists(_.dataType.isInstanceOf[NumericType])
    def le(a: String, b: String): Boolean =
      if (a.isEmpty || b.isEmpty) true
      else if (numeric) a.toDouble <= b.toDouble
      else CodePointOrder.le(a, b)
    snapshotFull(None, data, s =>
      s.logs.nonEmpty || s.baseFiles.exists { b =>
        b.colStats.get(column) match {
          case Some(Array(mn, mx)) => le(mn, hi) && le(lo, mx)
          case _ => true
        }
      }).drop(FILE_ID, DELETED)
  }

  // -------------------------------------------------------- table services

  /** Compaction: fold each log-bearing file group's logs into a new base
    * slice (ref: HoodieCompactor). Per-group rewrites are independent —
    * one distributed job, embarrassingly parallel.
    *
    * `strategy` picks the TARGETS (ref: LogFileSizeBasedCompactionStrategy /
    * BoundedIOCompactionStrategy): at 100 TB you compact the worst K groups
    * within an IO budget each cycle, not every group with a log. */
  def compact(partitionPred: String => Boolean = GraftTable.NoPrune,
      strategy: CompactionStrategy = CompactAll): Option[String] = {
    val startSeen = timeline.completed().map(_._1).toSet
    val withLogs = slicesPruned(partitionPred).filter(_.logs.nonEmpty)
    val todo = pickCompactionTargets(withLogs, strategy)
    if (todo.isEmpty) return None
    val instant = timeline.startInstant("commit")
    try {
      val data = schemaAt(None).getOrElse(new StructType())
      val merged = readSliceRows(todo, data, needFileId = true).filter(!col(DELETED))
      val files = stageWrite(merged, instant, Set.empty)
      // a deltacommit that lands in a compacted group mid-compaction would be
      // merged under the new base instant and lost — conflict instead
      val groups = todo.map(s => s"${s.partition}|${s.fileId}").toSet ++
        files.map(f => s"${f.partition}|${f.fileId}")
      commitGuarded(startSeen, groups, Set.empty,
        CommitMeta(instant, "commit", "compact",
          schemaJson = data.json, files = files))
      Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "commit"); throw e }
  }

  /** Strategy-driven compaction target selection (shared by the inline
    * [[compact]] and the scheduled [[scheduleCompaction]] paths). */
  private def pickCompactionTargets(withLogs: Seq[FileSlice],
      strategy: CompactionStrategy): Seq[FileSlice] = strategy match {
    case CompactAll => withLogs
    case LogSizeBounded(minLogBytes, maxIOBytes) =>
      def bytes(f: FileMeta): Long =
        if (f.bytes > 0) f.bytes
        else Files.size(Paths.get(basePath, f.path)) // pre-bytes commits
      // order by descending log size (largest debt first), spend the IO
      // budget: read base + logs, write a ~base-sized new file
      val sized = withLogs.map { s =>
        val logB = s.logs.map(l => bytes(l._2)).sum
        val baseB = s.baseFiles.map(bytes).sum
        (s, logB, 2 * baseB + logB)
      }.filter(_._2 >= minLogBytes).sortBy { case (s, logB, _) =>
        (-logB, s.partition, s.fileId) // deterministic tie-break
      }
      var budget = maxIOBytes
      sized.takeWhile { case (_, _, io) =>
        val fits = io <= budget
        if (fits) budget -= io
        fits
      }.map(_._1)
    case PartitionBounded(n) =>
      require(n >= 1, s"maxPartitions must be >= 1, got $n")
      // latest partitions in path order (date-formatted paths sort by time)
      val latest = withLogs.map(_.partition).distinct.sorted.reverse.take(n).toSet
      withLogs.filter(s => latest(s.partition))
  }

  // ------------------------------------- scheduled (async) table services

  private def groupKey(s: FileSlice): String = s"${s.partition}|${s.fileId}"

  // group -> base instant, "\t"-separated (a hive partition path can
  // contain '=' and even '|'-free text; fileIds never contain '\t')
  private def encodePlanGroups(ss: Seq[FileSlice]): String =
    ss.map(s => s"${groupKey(s)}\t${s.baseInstant}").mkString("\n")
  private def decodePlanGroups(s: String): Seq[(String, String)] =
    s.split('\n').filter(_.nonEmpty).toSeq.map { line =>
      val i = line.lastIndexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }

  /** Group keys pinned by not-yet-executed service plans: excluded from new
    * plans so two pending plans never target the same file group. */
  private def pendingPlanGroups(): Set[String] = {
    val ms = timeline.metas(None)
    val executed: Set[String] = ms.flatMap(_.extra.get("planInstant")).toSet
    ms.filter(m => planActions(m.action) && !executed(m.instant))
      .flatMap(m => m.files.map(f => s"${f.partition}|${f.fileId}")).toSet
  }

  private def planActions = Set("compactionreq", "clusteringreq", "cleanreq",
    "indexingreq")

  private def assertNotExecuted(planInstant: String): Unit =
    require(!timeline.metas(None).exists(m =>
        m.extra.get("planInstant").contains(planInstant)),
      s"service plan $planInstant was already executed")

  /** Schedule a compaction PLAN without executing it (ref:
    * BaseHoodieWriteClient.java:998 scheduleCompaction +
    * RunCompactionProcedure.scala:72 op => 'schedule'): pins the target
    * file groups (and the log files visible now) in a completed
    * `compactionreq` instant; [[runCompaction]] executes it later, possibly
    * from a different process (ref: AsyncCompactService.java:41).
    *
    * At 100 TB this split is what keeps MOR ingest latency flat: the
    * ingest writer pays only for this metadata listing, while the rewrite
    * IO runs out-of-band on its own executors. Log files appended AFTER the
    * plan stay layered on the compacted base (they resolve at instants
    * above the plan) and are picked up by the next plan. */
  def scheduleCompaction(partitionPred: String => Boolean = GraftTable.NoPrune,
      strategy: CompactionStrategy = CompactAll): Option[String] = {
    val pinned = pendingPlanGroups()
    val withLogs = slicesPruned(partitionPred)
      .filter(s => s.logs.nonEmpty && !pinned(groupKey(s)))
    val todo = pickCompactionTargets(withLogs, strategy)
    if (todo.isEmpty) return None
    val instant = timeline.startInstant("compactionreq")
    try {
      // completed but NOT a data action: invisible to slice resolution,
      // conflict detection, cleaning and archival sweeps
      timeline.complete(CommitMeta(instant, "compactionreq", "compaction_schedule",
        files = todo.flatMap(s => s.baseFiles ++ s.logs.map(_._2)),
        extra = Map("baseInstants" -> encodePlanGroups(todo))))
      Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "compactionreq"); throw e }
  }

  /** Unschedule a pending compaction plan: the plan instant is removed, its
    * pinned groups become schedulable again, and runCompaction of the plan
    * fails (ref: hudi-utilities HoodieCompactionAdminTool UNSCHEDULE_PLAN →
    * CompactionAdminClient.unscheduleCompactionPlan — the reference
    * likewise deletes the requested instant). Executed plans are rejected:
    * there is nothing left to unschedule. */
  def unscheduleCompaction(planInstant: String): Unit = {
    timeline.refresh()
    require(timeline.completed().exists { case (i, a) =>
        i == planInstant && a == "compactionreq" },
      s"no pending compaction plan $planInstant")
    assertNotExecuted(planInstant)
    timeline.deleteInstant(planInstant, "compactionreq")
  }

  /** Validate a pending compaction plan against live state (ref:
    * HoodieCompactionAdminTool VALIDATE → CompactionAdminClient
    * .validateCompactionPlan): per planned group — `ok` when the group's
    * base instant is unchanged and every planned file still exists,
    * `superseded` when the group was rewritten since the plan (compaction
    * would skip it), `missing_files` when planned files vanished from
    * storage. */
  def validateCompactionPlan(planInstant: String): Seq[(String, String)] = {
    timeline.refresh()
    val plan = timeline.read(planInstant, "compactionreq")
    val live = slices(None).map(s => groupKey(s) -> s).toMap
    val planned = plan.files.map(_.path).toSet
    decodePlanGroups(plan.extra("baseInstants")).toSeq.sortBy(_._1).map {
      case (k, bi) =>
        live.get(k) match {
          case Some(s) if s.baseInstant == bi =>
            val missing = (s.baseFiles ++ s.logs.map(_._2))
              .filter(f => planned(f.path))
              .filterNot(f => Files.exists(Paths.get(basePath, f.path)))
            if (missing.isEmpty) (k, "ok")
            else (k, s"missing_files:${missing.map(_.path).mkString(",")}")
          case _ => (k, "superseded")
        }
    }
  }

  /** Unschedule a pending clustering plan — the clustering-side twin of
    * [[unscheduleCompaction]] (ref: hudi-cli ClusteringCommand; the plan
    * instant is deleted, its pinned groups become schedulable again). */
  def unscheduleClustering(planInstant: String): Unit = {
    timeline.refresh()
    require(timeline.completed().exists { case (i, a) =>
        i == planInstant && a == "clusteringreq" },
      s"no pending clustering plan $planInstant")
    assertNotExecuted(planInstant)
    timeline.deleteInstant(planInstant, "clusteringreq")
  }

  /** Validate a pending clustering plan against live state — per planned
    * group: `ok` when [[runClustering]] would still rewrite it (base
    * instant unchanged, no log appended after the plan) and every planned
    * file exists; `superseded` when the group was rewritten or logged past
    * the plan (clustering skips it — replacing would drop interleaved
    * rows); `missing_files` when planned files vanished from storage. */
  def validateClusteringPlan(planInstant: String): Seq[(String, String)] = {
    timeline.refresh()
    val plan = timeline.read(planInstant, "clusteringreq")
    val live = slices(None).map(s => groupKey(s) -> s).toMap
    val planned = plan.files.map(_.path).toSet
    decodePlanGroups(plan.extra("baseInstants")).toSeq.sortBy(_._1).map {
      case (k, bi) =>
        live.get(k) match {
          case Some(s) if s.baseInstant == bi &&
              s.logs.forall(_._1 <= planInstant) =>
            val missing = (s.baseFiles ++ s.logs.map(_._2))
              .filter(f => planned(f.path))
              .filterNot(f => Files.exists(Paths.get(basePath, f.path)))
            if (missing.isEmpty) (k, "ok")
            else (k, s"missing_files:${missing.map(_.path).mkString(",")}")
          case _ => (k, "superseded")
        }
    }
  }

  /** Execute a previously scheduled compaction plan. The new base files are
    * recorded with `origInstant = planInstant`, so they slot UNDER any log
    * file appended since the plan: interleaved deltacommits stay readable
    * on top and are folded by the next plan — the reference's pending-
    * compaction log-file semantics (ref: HoodieCompactionPlan,
    * CompactionUtils.getAllPendingCompactionOperations).
    *
    * A planned group whose base changed since the plan (inline compaction,
    * clustering, replace) is superseded and skipped. Returns None when
    * every planned group was superseded (the plan is marked executed). */
  def runCompaction(planInstant: String): Option[String] = {
    val plan = timeline.read(planInstant, "compactionreq")
    assertNotExecuted(planInstant)
    val startSeen = timeline.completed().map(_._1).toSet
    val live = slices(None).map(s => groupKey(s) -> s).toMap
    val fold = decodePlanGroups(plan.extra("baseInstants")).flatMap { case (k, bi) =>
      live.get(k) match {
        case Some(s) if s.baseInstant == bi =>
          // fold ONLY logs visible at plan time; later appends stay layered
          val logs = s.logs.filter(_._1 <= planInstant)
          if (logs.isEmpty) None else Some(s.copy(logs = logs))
        case _ => None // group rewritten since the plan — superseded
      }
    }
    val instant = timeline.startInstant("commit")
    try {
      // write with the schema epoch the output resolves at: the new base
      // carries origInstant=planInstant, so readers conform it with the
      // plan-time epoch — an ALTER between schedule and execute must not
      // change this file's layout (it bridges by column id on read).
      // schemaJson stays empty so a later epoch is never rolled back.
      val data = schemaAt(Some(planInstant)).getOrElse(new StructType())
      val files =
        if (fold.isEmpty) Nil
        else {
          val merged = readSliceRows(fold, data, needFileId = true).filter(!col(DELETED))
          stageWrite(merged, instant, Set.empty).map(_.copy(origInstant = planInstant))
        }
      val groups = fold.map(groupKey).toSet ++
        files.map(f => s"${f.partition}|${f.fileId}")
      commitGuarded(startSeen, groups, Set.empty,
        CommitMeta(instant, "commit", "compact", files = files,
          extra = Map("planInstant" -> planInstant)))
      if (fold.isEmpty) None else Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "commit"); throw e }
  }

  /** Schedule a clustering PLAN (ref: BaseHoodieWriteClient
    * .scheduleClustering + RunClusteringProcedure op => 'schedule'): pins
    * target groups and layout (sort columns / z-order) for a later
    * [[runClustering]]. */
  def scheduleClustering(sortCols: Seq[String], zorder: Boolean = false,
      partitionPred: String => Boolean = GraftTable.NoPrune,
      strategy: ClusteringStrategy = ClusterAll,
      curve: String = "zorder"): Option[String] = {
    require(config.populateMetaFields,
      "clustering preserves per-row commit times, which a virtual-key " +
        "(populate.meta.fields=false) table does not materialize")
    require(Set("zorder", "hilbert")(curve),
      s"unknown layout curve '$curve' (zorder | hilbert)")
    val pinned = pendingPlanGroups()
    val live = slicesPruned(partitionPred).filterNot(s => pinned(groupKey(s)))
    val cur = pickClusteringTargets(live, strategy)
    if (cur.isEmpty) return None
    val instant = timeline.startInstant("clusteringreq")
    try {
      timeline.complete(CommitMeta(instant, "clusteringreq", "clustering_schedule",
        files = cur.flatMap(s => s.baseFiles ++ s.logs.map(_._2)),
        extra = Map("baseInstants" -> encodePlanGroups(cur),
          "sortCols" -> sortCols.mkString(","), "zorder" -> zorder.toString,
          "curve" -> curve)))
      Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "clusteringreq"); throw e }
  }

  /** Execute a scheduled clustering plan. Unlike compaction, clustering
    * REPLACES whole file groups, so a group touched since the plan (new
    * base, or any log appended after the plan) cannot be clustered from it
    * — the replace would drop the interleaved rows. Such groups are
    * skipped and stay available for a later plan (the reference instead
    * aborts the conflicting WRITER under strict OCC; skipping keeps ingest
    * first-class, which is the right trade at continuous-ingest scale). */
  def runClustering(planInstant: String): Option[String] = {
    val plan = timeline.read(planInstant, "clusteringreq")
    assertNotExecuted(planInstant)
    val startSeen = timeline.completed().map(_._1).toSet
    val live = slices(None).map(s => groupKey(s) -> s).toMap
    val cur = decodePlanGroups(plan.extra("baseInstants")).flatMap { case (k, bi) =>
      live.get(k).filter(s => s.baseInstant == bi && s.logs.forall(_._1 <= planInstant))
    }
    val sortCols = plan.extra("sortCols").split(',').toSeq.filter(_.nonEmpty)
    val zorder = plan.extra.get("zorder").contains("true")
    if (cur.isEmpty) {
      // every group superseded: mark the plan executed with an empty replace
      val instant = timeline.startInstant("replacecommit")
      try commitGuarded(startSeen, Set.empty, Set.empty,
        CommitMeta(instant, "replacecommit", "cluster",
          extra = Map("planInstant" -> planInstant)))
      catch { case e: Throwable => timeline.abort(instant, "replacecommit"); throw e }
      None
    } else clusterSlices(cur, sortCols, zorder, startSeen,
      Map("planInstant" -> planInstant),
      plan.extra.getOrElse("curve", "zorder"))
  }

  /** Pending (not yet executed) service plans: (instant, operation). */
  def pendingPlans(): Seq[(String, String)] = {
    val ms = timeline.metas(None)
    val executed: Set[String] = ms.flatMap(_.extra.get("planInstant")).toSet
    ms.filter(m => planActions(m.action) && !executed(m.instant))
      .map(m => (m.instant, m.operation))
  }

  /** Clustering (ref: RunClusteringProcedure): rewrite the table's live data
    * into range-partitioned, sorted file groups — linear sort or Z-order —
    * via a replacecommit. Original commit times are preserved per row, so
    * incremental reads are unaffected.
    *
    * `strategy` picks the TARGETS (ref: SparkSizeBasedClusteringPlanStrategy):
    * [[SmallFileBounded]] consolidates only small-file groups within an IO
    * budget and returns None when fewer than two qualify (nothing to merge). */
  def cluster(sortCols: Seq[String], zorder: Boolean = false,
      partitionPred: String => Boolean = GraftTable.NoPrune,
      strategy: ClusteringStrategy = ClusterAll,
      curve: String = "zorder"): Option[String] = {
    require(config.populateMetaFields,
      "clustering preserves per-row commit times, which a virtual-key " +
        "(populate.meta.fields=false) table does not materialize")
    val startSeen = timeline.completed().map(_._1).toSet
    val live = slicesPruned(partitionPred)
    val cur = pickClusteringTargets(live, strategy)
    if (cur.isEmpty) None
    else clusterSlices(cur, sortCols, zorder, startSeen, Map.empty, curve)
  }

  /** Strategy-driven clustering target selection (shared by the inline
    * [[cluster]] and the scheduled [[scheduleClustering]] paths). Returns
    * Nil when fewer than two small-file groups qualify (nothing to merge). */
  private def pickClusteringTargets(live: Seq[FileSlice],
      strategy: ClusteringStrategy): Seq[FileSlice] = {
    val cur = strategy match {
      case ClusterAll => live
      case SmallFileBounded(limit, budget) =>
        def sliceBytes(s: FileSlice): Long =
          (s.baseFiles ++ s.logs.map(_._2)).map { f =>
            if (f.bytes > 0) f.bytes
            else Files.size(Paths.get(basePath, f.path)) // pre-bytes commits
          }.sum
        val small = live.map(s => (s, sliceBytes(s))).filter(_._2 < limit)
          .sortBy { case (s, b) => (b, s.partition, s.fileId) }
        var io = 0L
        small.takeWhile { case (_, b) => io += 2 * b; io <= budget }.map(_._1)
    }
    if (strategy != ClusterAll && cur.sizeIs < 2) Nil else cur
  }

  /** The clustering rewrite itself: sort/z-order `cur`'s live rows into
    * range-partitioned file groups and commit them as a replacecommit. */
  private def clusterSlices(cur: Seq[FileSlice], sortCols: Seq[String],
      zorder: Boolean, startSeen: Set[String],
      extraMeta: Map[String, String],
      curve: String = "zorder"): Option[String] = {
    require(Set("zorder", "hilbert")(curve),
      s"unknown layout curve '$curve' (zorder | hilbert)")
    // belt for every entry path (inline, scheduled): a virtual-key table's
    // rows would be re-attributed to the clustering instant on read
    require(config.populateMetaFields,
      "clustering preserves per-row commit times, which a virtual-key " +
        "(populate.meta.fields=false) table does not materialize")
    val instant = timeline.startInstant("replacecommit")
    try {
      val data = schemaAt(None).getOrElse(new StructType())
      val zordered = zorder && sortCols.size >= 2
      val rows0 = readSliceRows(cur, data).filter(!col(DELETED))
      // z-order needs a min/max pass BEFORE the layout write: persist so the
      // (possibly log-merging) slice read runs once, not twice
      val rows = if (zordered)
        rows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rows0
      val totalRows = cur.map(_.totalRows).sum
      val nGroups = math.max(1, math.ceil(totalRows.toDouble / config.targetFileSizeRows).toInt)
      val layoutCol: Column =
        if (!zordered) struct(sortCols.map(col): _*)
        else if (curve == "hilbert") ZOrder.hvalue(rows, sortCols.take(2))
        else ZOrder.zvalue(rows, sortCols.take(2))
      val arranged = rows.withColumn("_g_z", layoutCol)
        .repartitionByRange(nGroups, col(PART), col("_g_z"))
        .sortWithinPartitions(col(PART), col("_g_z"))
        .withColumn(FILE_ID, format_string(s"c$instant-%05d", spark_partition_id()))
        .drop("_g_z")
      val files = stageWrite(arranged, instant, Set.empty)
      if (zordered) rows.unpersist(blocking = false)
      commitGuarded(startSeen,
        cur.map(s => s"${s.partition}|${s.fileId}").toSet ++
          files.map(f => s"${f.partition}|${f.fileId}"), Set.empty,
        CommitMeta(instant, "replacecommit", "cluster",
          schemaJson = data.json, files = files,
          replaced = cur.map(s => s"${s.partition}|${s.fileId}"),
          extra = extraMeta))
      Some(instant)
    } catch { case e: Throwable => timeline.abort(instant, "replacecommit"); throw e }
  }

  /** Cleaning (ref: RunCleanProcedure, KEEP_LATEST_FILE_VERSIONS): per file
    * group keep the latest `retainVersions` base slices (+ live logs),
    * physically delete older files.
    *
    * Runs under the commit lock so the doomed-file computation can't race a
    * concurrent commit's slice changes. As in the reference, cleaning bounds
    * time travel: an in-flight reader of a since-cleaned slice fails on the
    * missing file — retain enough versions to cover the longest reader. */
  def clean(retainVersions: Int = 1): String =
    clean(KeepLatestFileVersions(retainVersions))

  /** Policy-based cleaning (ref: CleanPlanner.java:131,273 — KEEP_LATEST_
    * FILE_VERSIONS / KEEP_LATEST_COMMITS / KEEP_LATEST_BY_HOURS). The
    * commit/hours policies compute an earliest-retained instant; per file
    * group everything from the latest base at-or-before that instant
    * onward is kept (so time travel to ANY retained instant still works),
    * older versions are deleted. Savepointed instants keep their files.
    * The earliest-retained boundary is recorded in the clean commit, and
    * reads older than it fail fast (see assertNotCleaned). */
  def clean(policy: CleanPolicy): String = {
    // doomed-file computation + clean commit under the lock (it must not
    // race a concurrent commit's slice changes); the physical deletes run
    // AFTER release — the files are unreferenced either way, and holding
    // the lock through thousands of deletes would starve writers past the
    // lock-acquisition timeout
    val (instant, doomed) = lockProvider.withLock {
      val instant = timeline.startInstant("clean")
      try {
        timeline.refresh() // must observe other writers' commits
        val (doomed, earliestRetained) = cleanPlan(policy)
        timeline.complete(CommitMeta(instant, "clean", "clean",
          deletedPaths = doomed,
          extra = earliestRetained.map("earliestRetained" -> _).toMap))
        (instant, doomed)
      } catch { case e: Throwable => timeline.abort(instant, "clean"); throw e }
    }
    deleteCleaned(doomed)
    instant
  }

  private def deleteCleaned(doomed: Seq[String]): Unit =
    doomed.foreach { rel =>
      Files.deleteIfExists(Paths.get(basePath, rel))
      Files.deleteIfExists(Paths.get(basePath, KeyBloom.sidecar(rel)))
    }

  /** The doomed-file computation shared by inline [[clean]], the scheduled
    * [[scheduleClean]] and the validating re-run inside [[runClean]].
    * MUST be called under the commit lock after a timeline refresh. */
  private def cleanPlan(policy: CleanPolicy): (Seq[String], Option[String]) = {
    {
        val ms = timeline.metas(None).filter(m => dataActions(m.action))
        val byGroup = mutable.Map[(String, String), mutable.Buffer[(String, FileMeta)]]()
        // version by EFFECTIVE instant: a checkpoint re-records carried
        // files at the checkpoint instant, but their version is their
        // origInstant — keying by recording instant would rank a carried
        // OLD version above the real latest base and delete the live file
        for (m <- ms; f <- m.files) {
          val eff = if (f.origInstant.nonEmpty) f.origInstant else m.instant
          val buf = byGroup.getOrElseUpdate((f.partition, f.fileId), mutable.Buffer())
          if (!buf.exists(_._2.path == f.path)) buf += ((eff, f))
        }
        val live = slices(None).map(s => (s.partition, s.fileId) -> s).toMap
        // the window boundary for the by-commit / by-hours policies; None =
        // nothing old enough to clean under that policy
        val earliestRetained: Option[String] = policy match {
          case KeepLatestFileVersions(_) => None
          case KeepLatestCommits(n) =>
            require(n >= 1, s"retainCommits must be >= 1, got $n")
            // archival checkpoints re-record old files; they are not user
            // commits and must not count toward the retention window
            val di = ms.filter(_.operation != "checkpoint").map(_.instant).distinct.sorted
            if (di.size <= n) None else Some(di.takeRight(n).head)
          case KeepLatestByHours(h) =>
            require(h >= 0, s"hours must be >= 0, got $h")
            Some(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
              .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
                .minusSeconds((h * 3600).toLong)))
        }
        // instants that must STAY readable regardless of the window
        val savepointed = timeline.metas(None).filter(_.action == "savepoint")
          .flatMap(_.extra.get("saved")).toSet
        val doomed = mutable.Buffer[String]()
        for (((p, fid), files) <- byGroup) {
          val baseInstants = files.filter(!_._2.isLog).map(_._1).distinct.sorted.reverse
          val liveLogs = live.get((p, fid)).map(_.logs.map(_._2.path).toSet).getOrElse(Set.empty)
          (policy, earliestRetained) match {
            case (KeepLatestFileVersions(retainVersions), _) =>
              // per savepoint: the base version serving it, plus the logs
              // layered on that base up to the savepointed instant — time
              // travel back to any savepoint must keep working (ref:
              // SavepointHelpers.validateSavepointRestore)
              val savedBases = savepointed.flatMap(s => baseInstants.find(_ <= s))
              val keep = baseInstants.take(retainVersions).toSet ++ savedBases
              def savepointedLog(i: String): Boolean =
                savepointed.exists(s => i <= s && baseInstants.find(_ <= s).exists(_ < i))
              for ((i, f) <- files)
                if ((!f.isLog && !keep.contains(i)) ||
                    (f.isLog && !liveLogs.contains(f.path) && !savepointedLog(i)))
                  doomed += f.path
            case (_, None) => // window covers everything: keep all
            case (_, Some(er)) =>
              // keep every base inside the window plus ONE before it (the
              // boundary base reconstructs state at the window edge), plus
              // the base under each savepoint; then everything — base or
              // log — from the earliest kept base onward stays
              val boundary = baseInstants.find(_ <= er)
              val saved = savepointed.flatMap(s => baseInstants.find(_ <= s))
              val keepFrom = (boundary.toSeq ++ saved).minOption.getOrElse("")
              for ((i, f) <- files) if (i < keepFrom) doomed += f.path
          }
        }
        (doomed.toSeq, earliestRetained)
    }
  }

  /** Schedule a clean PLAN without executing it — the same schedule/execute
    * split as compaction/clustering (ref: CleanPlanActionExecutor writes a
    * `.clean.requested` HoodieCleanerPlan; AsyncCleanerService executes it
    * out-of-band): the doomed-file set and retention boundary are pinned in
    * a completed `cleanreq` instant, the physical deletes (the expensive
    * part at 100 TB — potentially millions of object-store DELETEs) run
    * later via [[runClean]], possibly from a different process. Returns
    * None when the policy dooms nothing. */
  def scheduleClean(policy: CleanPolicy): Option[String] = lockProvider.withLock {
    timeline.refresh()
    val (doomed, earliestRetained) = cleanPlan(policy)
    if (doomed.isEmpty) None
    else {
      val instant = timeline.startInstant("cleanreq")
      try {
        timeline.complete(CommitMeta(instant, "cleanreq", "clean_schedule",
          deletedPaths = doomed,
          extra = Map("policy" -> encodePolicy(policy)) ++
            earliestRetained.map("earliestRetained" -> _).toMap))
        Some(instant)
      } catch { case e: Throwable => timeline.abort(instant, "cleanreq"); throw e }
    }
  }

  /** Execute a scheduled clean plan. The plan's doomed set is REVALIDATED
    * against current state: the same policy recomputes fresh, and only the
    * intersection is deleted — so a savepoint created after the plan keeps
    * its files, a rollback/restore that resurrected a version keeps it, and
    * nothing outside the plan is ever touched. Returns None when every
    * planned file was reprieved (the plan is still marked executed). */
  def runClean(planInstant: String): Option[String] = {
    val plan = timeline.read(planInstant, "cleanreq")
    assertNotExecuted(planInstant) // fail fast (cheap, unlocked)...
    val policy = decodePolicy(plan.extra("policy"))
    val (instant, doomed) = lockProvider.withLock {
      val instant = timeline.startInstant("clean")
      try {
        timeline.refresh()
        // ...and re-check under the lock: two racing executions of the
        // SAME plan must not both commit (the compaction path gets this
        // from commitGuarded's OCC; clean commits bypass it)
        assertNotExecuted(planInstant)
        val (fresh, _) = cleanPlan(policy)
        val doomed = plan.deletedPaths.toSet.intersect(fresh.toSet).toSeq.sorted
        timeline.complete(CommitMeta(instant, "clean", "clean",
          deletedPaths = doomed,
          extra = Map("planInstant" -> planInstant) ++
            // the boundary is the PLAN's: execution enforces what was
            // scheduled, not a window that kept sliding while it waited
            plan.extra.get("earliestRetained")
              .filter(_ => doomed.nonEmpty).map("earliestRetained" -> _)))
        (instant, doomed)
      } catch { case e: Throwable => timeline.abort(instant, "clean"); throw e }
    }
    deleteCleaned(doomed)
    if (doomed.isEmpty) None else Some(instant)
  }

  private def encodePolicy(p: CleanPolicy): String = p match {
    case KeepLatestFileVersions(n) => s"file_versions:$n"
    case KeepLatestCommits(n) => s"commits:$n"
    case KeepLatestByHours(h) => s"hours:$h"
  }

  private def decodePolicy(s: String): CleanPolicy = s.split(':') match {
    case Array("file_versions", n) => KeepLatestFileVersions(n.toInt)
    case Array("commits", n) => KeepLatestCommits(n.toInt)
    case Array("hours", h) => KeepLatestByHours(h.toDouble)
    case _ => throw new IllegalArgumentException(s"bad clean policy '$s'")
  }

  /** Roll back the most recent data commit: delete its files, drop the
    * instant (ref: RollbackToInstantTimeProcedure). */
  def rollback(): Option[String] = {
    val ms = timeline.metas(None)
    val dataMs = ms.filter(m => dataActions(m.action))
    if (dataMs.isEmpty) return None
    val target = dataMs.last
    require(target.operation != "checkpoint",
      "cannot rollback an archival checkpoint: its files belong to older commits")
    require(!ms.exists(m => m.action == "clean" && m.instant > target.instant),
      s"cannot rollback ${target.instant}: a later clean removed needed files")
    target.files.foreach { f =>
      Files.deleteIfExists(Paths.get(basePath, f.path))
      Files.deleteIfExists(Paths.get(basePath, KeyBloom.sidecar(f.path)))
    }
    timeline.remove(target.instant, target.action)
    val instant = timeline.startInstant("rollback")
    timeline.complete(CommitMeta(instant, "rollback", "rollback",
      deletedPaths = target.files.map(_.path),
      extra = Map("rolledBack" -> target.instant)))
    Some(target.instant)
  }

  /** Roll back the debris of writers that DIED mid-commit (ref: hudi
    * failed-writes cleaning — hoodie.cleaner.policy.failed.writes EAGER/
    * LAZY + HoodieTable.rollbackInflights + marker-based reconciliation):
    * an instant claimed (`.inflight`) but never completed may have left a
    * staging dir and — if the crash hit between the renames and the
    * timeline move — finalized-named data files that NO commit references.
    * Readers never see them (slices resolve from commit metadata alone),
    * but at 100 TB the orphaned bytes are real money.
    *
    * For every dangling inflight at least `olderThanMs` old (age from the
    * instant's own timestamp — set it above your longest expected commit so
    * a LIVE writer is never swept): delete its staging dir, every data
    * file/sidecar carrying `_<instant>` in its name, and the inflight
    * claim. Runs under the commit lock. Returns the rolled-back instants. */
  def rollbackFailedWrites(olderThanMs: Long = 0): Seq[String] = lockProvider.withLock {
    timeline.refresh()
    val completed = timeline.completed().map(_._1).toSet
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
    val cutoff = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .minusNanos(olderThanMs * 1000000L)
    def oldEnough(i: String): Boolean =
      scala.util.Try(java.time.LocalDateTime.parse(i, fmt)).toOption
        .forall(!_.isAfter(cutoff))
    // an archived instant DID complete (its json just moved out of the
    // active dir) — a stale inflight left by a crash between the json move
    // and the inflight delete must not doom its live files
    val archived = timeline.archivedInstants().toSet
    val dangling = {
      val it = Fs.list(timeline.dir).iterator
        .map(_.getFileName.toString).filter(_.endsWith(".inflight"))
        .map(_.stripSuffix(".inflight").split('.'))
        .collect { case Array(i, a) => (i, a) }.toSeq
      it.filter { case (i, _) => !completed(i) && !archived(i) && oldEnough(i) }
    }
    dangling.map { case (instant, action) =>
      GraftTable.drop(Paths.get(basePath, ".graft", s"staging_$instant").toString)
      // orphan data files carry the instant inside their name:
      // [log_]<fid>_<instant>[_i].<ext>[.bloom] — exact-segment match
      val pat = java.util.regex.Pattern.compile(
        s".*_${java.util.regex.Pattern.quote(instant)}(_\\d+)?\\.[A-Za-z0-9.]+")
      val walk = Files.walk(Paths.get(basePath))
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.startsWith(Paths.get(basePath, ".graft")) &&
          pat.matcher(p.getFileName.toString).matches())
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
      timeline.abort(instant, action)
      instant
    }
  }

  /** Savepoint an instant so cleaning never makes it unreadable (ref:
    * CreateSavepointProcedure — takes a commit_time). Default: the latest
    * data instant. An explicit `at` must be a data instant still on the
    * active timeline whose state is reconstructible (not partially
    * cleaned). */
  def savepoint(at: Option[String] = None): String = {
    val dataMs = timeline.metas(None).filter(m => dataActions(m.action))
    val saved = at match {
      case None => dataMs.last.instant
      case Some(i) =>
        require(dataMs.exists(_.instant == i),
          s"savepoint: $i is not a data instant on the active timeline")
        val cleaned = timeline.metas(None).filter(_.action == "clean")
          .flatMap(_.deletedPaths).toSet
        val missing = slices(Some(i))
          .flatMap(s => s.baseFiles ++ s.logs.map(_._2)).filter(f => cleaned(f.path))
        require(missing.isEmpty,
          s"savepoint: state at $i is no longer reconstructible — " +
            s"${missing.size} file(s) already cleaned (e.g. ${missing.head.path})")
        i
    }
    val instant = timeline.startInstant("savepoint")
    timeline.complete(CommitMeta(instant, "savepoint", "savepoint",
      extra = Map("saved" -> saved)))
    saved
  }

  /** Restore to a savepointed instant by rolling back newer commits. */
  def restore(savedInstant: String): Unit = {
    var more = true
    while (more) {
      val newer = timeline.metas(None)
        .filter(m => dataActions(m.action) && m.instant > savedInstant)
      if (newer.isEmpty) more = false else rollback()
    }
  }

  def latestDataInstant: Option[String] = {
    timeline.refresh() // must observe other writers' commits
    timeline.metas(None).filter(m => dataActions(m.action)).lastOption.map(_.instant)
  }

  /** The instant of the `limit`-th data commit after `fromExclusive` (or
    * the latest one, whichever is earlier) — the bounded-catch-up cursor a
    * rate-limited streaming read advances by. */
  def dataInstantAfter(fromExclusive: String, limit: Int): Option[String] = {
    timeline.refresh()
    timeline.metas(None).iterator
      .filter(m => dataActions(m.action) && m.instant > fromExclusive)
      .take(limit).toSeq.lastOption.map(_.instant)
  }

  /** True if a data commit after `sinceExclusive` touches any of `groups`
    * ("partition|fileId" keys) or writes into/replaces any of `partitions` —
    * the optimistic-concurrency conflict test. `anyCommit` treats every later
    * data commit as a conflict (whole-table replace). */
  def detectConflict(seen: Set[String], groups: Set[String],
      partitions: Set[String] = Set.empty, anyCommit: Boolean = false,
      tolerated: CommitMeta => Boolean = _ => false): Boolean = {
    timeline.refresh() // must observe other writers' commits
    // `seen` is the completed-instant SET captured when the writer read its
    // table state — NOT a max-instant watermark. Instant allocation and
    // completion can invert (a writer claims instant 100, a faster one
    // claims and completes 101 first); a commit at 100 completing later is
    // invisible to any `instant > watermark` test even though the writer
    // never saw it, and an overlapping-group merge against it silently
    // loses its rows. Membership in the seen set is inversion-proof.
    // slim metas: checkpoints are skipped below, and every other commit's
    // files are inline — no manifest hydration inside the commit lock
    (groups.nonEmpty || partitions.nonEmpty || anyCommit) &&
      timeline.metasSlim(None).exists { m =>
        // archival checkpoints re-record (not modify) nearly every live file
        // group; counting them would fail every writer overlapping a
        // background archive() with a spurious conflict
        dataActions(m.action) && m.operation != "checkpoint" && !tolerated(m) &&
          !seen.contains(m.instant) && (anyCommit ||
          (m.files.iterator.map(f => s"${f.partition}|${f.fileId}") ++ m.replaced.iterator)
            .exists(groups.contains) ||
          (m.files.iterator.map(_.partition) ++
            m.replaced.iterator.map(_.split('|')(0))).exists(partitions.contains))
      }
  }

  /**
   * Archive old timeline instants (ref: HoodieTimelineArchiver): data
   * commits beyond the newest `keepLast` are folded into one checkpoint
   * commit that re-records their still-live files (under their original
   * instants), then moved to `.graft/timeline/archive`. Readers keep
   * working from the compact active timeline; time travel earlier than the
   * archival boundary is no longer possible (as in the reference).
   */
  def archive(keepLast: Int = 10): Int = lockProvider.withLock {
    // the WHOLE computation runs under the commit lock, after a refresh:
    // two concurrent archives computing toArchive outside the lock would
    // both checkpoint (and double-record) the same carried files
    timeline.refresh()
    val ms = timeline.metas(None).filter(m => dataActions(m.action))
    if (ms.size <= keepLast) return 0
    val toArchive = ms.dropRight(keepLast)
    // carry forward every file RECORDED by an instant leaving the active
    // timeline that is live NOW (current reads) or was live AT THE ARCHIVAL
    // BOUNDARY (time travel to any t ≥ the boundary: a file replaced or
    // compacted between the boundary and this checkpoint existed at such t
    // even though it is dead now). Includes files a previous checkpoint
    // re-recorded (their origInstant points at a long-archived commit, so
    // matching on the live slice's baseInstant would miss them).
    val boundary = toArchive.last.instant
    val livePaths: Set[String] =
      (slices(None) ++ slices(Some(boundary))).flatMap(s =>
        s.baseFiles.map(_.path) ++ s.logs.map(_._2.path)).toSet
    val carry = toArchive.flatMap(m => m.files.collect {
      case f if livePaths.contains(f.path) =>
        f.copy(origInstant = if (f.origInstant.nonEmpty) f.origInstant else m.instant)
    })
    // record each carried instant's write-time schema BEFORE the instants
    // leave the active timeline: readConformed needs it to avoid reading
    // old files (e.g. int32 columns later widened to long) with the latest
    // schema. Also pin the BOUNDARY-time schema: an archived instant may
    // have evolved the schema yet left no surviving file, and time travel
    // to the boundary must still see its columns.
    val schemaOf = schemaByInstant()
    val carriedSchemas = (carry.map(_.origInstant).distinct
      .map(i => i -> schemaOf.getOrElse(i, "")) :+
      (boundary -> schemaAt(Some(boundary)).map(_.json).getOrElse("")))
      .filter(_._2.nonEmpty).toMap
    // streaming exactly-once survives archival: the MAX batch id per
    // stream recorded by folded commits (and previous checkpoints) rides
    // along — batch ids are monotonic per stream, so the max is a complete
    // dedup watermark and the carry stays O(#streams)
    val folded = toArchive.flatMap(m =>
      m.extra.get("streamBatchId").toSeq.flatMap(k =>
        StreamBatchIds.parse(k).toSeq) ++
        m.extra.get("streamBatchIds").toSeq.flatMap(e =>
          StreamBatchIds.parse(e).toSeq))
    val maxIds = folded.groupBy(_._1).map { case (sid, xs) => sid -> xs.map(_._2).max }
    val instant = timeline.startInstant("commit")
    // carried files go COLUMNAR: the manifest parquet is written before the
    // commit completes (an orphan manifest from a crash is invisible — the
    // JSON pointer is what makes it live), and the checkpoint JSON stays
    // O(#archived-schemas) — never a monolithic file-listing document
    val manifest =
      if (carry.isEmpty) None else Some(writeManifest(instant, carry))
    manifest.foreach(rel => timeline.primeManifest(rel, carry))
    val extra = Map("archivedFrom" -> toArchive.head.instant,
      "archivedTo" -> boundary) ++
      manifest.map("manifest" -> _) ++
      (if (maxIds.nonEmpty) Map("streamBatchIds" -> StreamBatchIds.encode(maxIds))
       else Map.empty)
    timeline.complete(CommitMeta(instant, "commit", "checkpoint",
      schemaJson = schemaAt(None).map(_.json).getOrElse(""),
      files = if (manifest.isDefined) Nil else carry,
      carriedSchemas = carriedSchemas, extra = extra))
    toArchive.foreach(m => timeline.archiveInstant(m.instant, m.action))
    // an executed service PLAN must leave the active timeline WITH its
    // execution commit — otherwise the surviving `<plan>.compactionreq`
    // reads as pending again (pendingPlans / the executed-marker check
    // only see active metas), pinning its file groups against every
    // future plan while the execution that satisfied it sits archived
    val executedPlans = toArchive.flatMap(_.extra.get("planInstant")).toSet
    if (executedPlans.nonEmpty)
      timeline.completed()
        .filter { case (i, a) => planActions(a) && executedPlans(i) }
        .foreach { case (i, a) => timeline.archiveInstant(i, a) }
    toArchive.size
  }

  /** Fail fast when a read needs history that archive() folded away (the
    * active timeline cannot reconstruct state at/before the boundary — the
    * reference likewise refuses time travel past its archived timeline) or
    * that a commit/hours-policy clean physically removed. */
  private def assertNotArchived(boundary: Option[String], what: String): Unit =
    boundary.foreach { t =>
      val crossed = timeline.archivedInstants().exists(_ > t)
      require(!crossed, s"$what $t predates the archival boundary " +
        s"(oldest active history starts after the last checkpoint); " +
        "archived instants cannot be reconstructed")
      val ms = timeline.metas(None)
      val cleanedTo = ms.filter(_.action == "clean")
        .flatMap(_.extra.get("earliestRetained")).maxOption
      cleanedTo.filter(t < _).foreach { e =>
        // savepointed instants keep their files through clean
        val savepointed = ms.filter(_.action == "savepoint")
          .flatMap(_.extra.get("saved")).toSet
        require(savepointed.contains(t), s"$what $t predates the clean " +
          s"retention boundary $e (files removed by clean(KeepLatestCommits/" +
          "ByHours)); only savepointed instants remain readable further back")
      }
    }

  // -------------------------------------------------------- introspection

  /** show_commits (ref: ShowCommitsProcedure). */
  def showCommits(): DataFrame = {
    import spark.implicits._
    timeline.metas(None).map(m => (m.instant, m.action, m.operation,
      m.files.size, m.files.map(_.rows).sum, m.replaced.size))
      .toDF("instant", "action", "operation", "n_files", "rows_written", "n_replaced")
  }

  /** show_fsview_all (ref: ShowFileSystemViewProcedure). */
  def showFileSystemView(): DataFrame = {
    import spark.implicits._
    slices(None).map(s => (s.partition, s.fileId, s.baseInstant,
      s.baseFiles.size, s.logs.size, s.totalRows))
      .toDF("partition", "file_id", "base_instant", "n_base_files", "n_logs", "rows")
  }

  def showPartitions(): DataFrame = {
    import spark.implicits._
    slices(None).map(_.partition).distinct.sorted.toDF("partition")
  }

  // ------------------------------------------------- metadata table (files)
  //
  // The persisted file-listing metadata table (ref: hudi metadata table
  // `files`/`column_stats` partitions, HoodieBackedTableMetadata.java read
  // path + HoodieBackedTableMetadataWriter.update maintenance): parquet
  // SEGMENTS under `.graft/metadata/files/seg_*`, each with a `_covered.json`
  // sidecar naming the data instants it folds.
  //   - the first sync writes a BASE segment: the live FileMeta fold at sync
  //     time, rows carrying their effective instants (checkpoint shape);
  //   - every later sync appends a DELTA segment with just the uncovered
  //     commits' file rows + replaced-group tombstones — O(new commits),
  //     never a re-export of the table;
  //   - cold listings are served FROM the segments: one columnar read
  //     replaces N driver-parsed JSON documents; the JSON timeline supplies
  //     only post-sync deltas. A segment set whose covered instants include
  //     anything no longer on the timeline (rollback/restore) is stale and
  //     the listing falls back to the JSON fold — fail-soft, never wrong.

  private[graft] def mdtFilesDir = Paths.get(basePath, ".graft", "metadata", "files")

  /** Segment dirs (with their covered instants), oldest first. A dir
    * without its `_covered.json` sidecar is mid-write/torn — invisible. */
  private def mdtSegs(): Seq[(Path, Seq[String])] = {
    if (!Files.isDirectory(mdtFilesDir)) return Nil
    Fs.list(mdtFilesDir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("seg_"))
      .sortBy(_.getFileName.toString)
      .flatMap { d =>
        val sc = d.resolve("_covered.json")
        if (!Files.exists(sc)) None
        else scala.util.Try(Json.mapper.readValue[Seq[String]](
          Files.readAllBytes(sc))).toOption.map(d -> _)
      }
  }

  // segment content is immutable once its sidecar exists; key by dir name
  // (names embed a uuid, so a rebuilt segment never collides)
  private val mdtSegCache = mutable.Map[String, Seq[CommitMeta]]()

  private def mdtSegMetas(seg: Path): Seq[CommitMeta] = {
    val key = seg.getFileName.toString
    mdtSegCache.synchronized { mdtSegCache.get(key) } match {
      case Some(ms) => ms
      case None =>
        import spark.implicits._
        val rows = spark.read.parquet(seg.toString).as[MdtRow].collect()
        val ms = rows.groupBy(r => (r.instant, r.action, r.operation)).toSeq
          .map { case ((i, a, o), rs) =>
            CommitMeta(i, a, o,
              files = rs.filter(_.kind == "file").map(_.toFileMeta).toSeq
                .sortBy(f => (f.partition, f.fileId, f.path)),
              replaced = rs.filter(_.kind == "replaced")
                .map(r => s"${r.partition}|${r.fileId}").toSeq.sorted)
          }.sortBy(_.instant)
        mdtSegCache.synchronized { mdtSegCache.getOrElseUpdate(key, ms) }
    }
  }

  /** Diagnostic: MdtRow records materialized on the driver by PRUNED
    * segment reads (spec pin: a one-partition lookup folds that
    * partition's rows, not the table's). */
  private[graft] var mdtRowsFolded = 0L

  /** Partition-pruned segment read: ONE pushed-down columnar scan across
    * all segments — segments are written range-partitioned and sorted by
    * `partition`, so parquet min/max prunes row groups and only the
    * requested partitions' rows ever reach the driver. Uncached by design:
    * the full-fold cache (mdtSegCache) would defeat the point at 10^7
    * files. */
  private def mdtSegMetasPruned(segs: Seq[Path], parts: Set[String])
      : Seq[CommitMeta] = {
    if (parts.isEmpty) return Nil
    import spark.implicits._
    val rows = spark.read.parquet(segs.map(_.toString): _*)
      .filter(col("partition").isInCollection(parts))
      .as[MdtRow].collect()
    mdtRowsFolded += rows.length
    rows.groupBy(r => (r.instant, r.action, r.operation)).toSeq
      .map { case ((i, a, o), rs) =>
        CommitMeta(i, a, o,
          files = rs.filter(_.kind == "file").map(_.toFileMeta).toSeq
            .sortBy(f => (f.partition, f.fileId, f.path)),
          replaced = rs.filter(_.kind == "replaced")
            .map(r => s"${r.partition}|${r.fileId}").toSeq.sorted)
      }.sortBy(_.instant)
  }

  // the table's partition list is metadata-sized however many files exist;
  // memoize per timeline state like the served-metas fold
  @volatile private var mdtPartsMemo: (Seq[(String, String)], Option[Seq[String]]) = null

  /** All partitions present in the metadata table (segments + post-sync
    * JSON), or None when the MDT cannot serve. ONE column-pruned distinct
    * scan — never the row-level listing. */
  private def mdtPartitionList(): Option[Seq[String]] = {
    val key = timeline.completed()
    val memo = mdtPartsMemo
    if (memo != null && ((memo._1 eq key) || memo._1 == key)) return memo._2
    val res = mdtValidSegs().flatMap { case (segs, postIa) =>
      try {
        import spark.implicits._
        val segParts = spark.read.parquet(segs.map(_._1.toString): _*)
          .select("partition").distinct().as[String].collect().toSeq
        val postParts = postIa.flatMap { case (i, a) =>
          val m = timeline.read(i, a)
          m.files.map(_.partition) ++ m.replaced.map(_.takeWhile(_ != '|'))
        }
        Some((segParts ++ postParts).distinct.sorted)
      } catch { case _: Exception => None }
    }
    mdtPartsMemo = (key, res)
    res
  }

  private def writeMdtSeg(rows: Seq[MdtRow], covered: Seq[String]): Unit = {
    import spark.implicits._
    val name = s"seg_${covered.max}_${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = mdtFilesDir.resolve(name)
    // partition-sorted, ~10k rows per output file: lookups prune by parquet
    // min/max on `partition`; a millions-of-files base never funnels
    // through one writer task
    val nOut = math.max(1, rows.size / 10000)
    spark.createDataset(rows)
      .repartitionByRange(nOut, col("partition"), col("fileId"))
      .sortWithinPartitions("partition", "fileId")
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    // sidecar LAST, atomically: a crash mid-write leaves an invisible dir
    val tmp = dir.resolve("_covered.json.tmp")
    Files.write(tmp, Json.mapper.writeValueAsBytes(covered))
    Files.move(tmp, dir.resolve("_covered.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Segments usable for the CURRENT state (plus the post-sync active
    * instants not yet covered), or None when the metadata table cannot
    * serve (no/stale segments) — the caller falls back to the JSON fold. */
  private def mdtValidSegs()
      : Option[(Seq[(Path, Seq[String])], Seq[(String, String)])] = {
    val segs = mdtSegs()
    if (segs.isEmpty) return None
    val activeData = timeline.completed()
      .filter { case (_, a) => dataActions(a) }
    val activeSet = activeData.map(_._1).toSet
    val covered = segs.flatMap(_._2).toSet
    val stale = covered -- activeSet
    // a covered instant that left the timeline by ARCHIVAL is fine (its
    // files live on in the fold); one removed by rollback/restore is not
    if (stale.nonEmpty && !stale.subsetOf(timeline.archivedInstants().toSet))
      return None
    Some((segs, activeData.filter { case (i, _) => !covered.contains(i) }))
  }

  /** The commit-order metas the metadata table can serve for the CURRENT
    * state, or None when it cannot (no/torn/stale segments) — the caller
    * falls back to the JSON fold. Post-sync commits come from their own
    * (small) JSON metas. With `parts` set, only those partitions' rows are
    * folded — a partition-pruned columnar read, never the full listing
    * (ref: HoodieBackedTableMetadata.getAllFilesInPartition). */
  private def mdtServedMetas(parts: Option[Set[String]] = None)
      : Option[Seq[CommitMeta]] =
    mdtValidSegs().flatMap { case (segs, postIa) =>
      try {
        val segMetas = parts match {
          case None => segs.flatMap { case (d, _) => mdtSegMetas(d) }
          case Some(ps) => mdtSegMetasPruned(segs.map(_._1), ps)
        }
        val post = postIa.map { case (i, a) => timeline.read(i, a) }
          .map { m =>
            parts match {
              case None => m
              case Some(ps) => m.copy(
                files = m.files.filter(f => ps(f.partition)),
                replaced = m.replaced.filter(r => ps(r.takeWhile(_ != '|'))))
            }
          }
        Some((segMetas ++ post).sortBy(_.instant))
      } catch { case _: Exception => None } // torn segment → JSON fold
    }

  /** Sync the metadata table: full base export on first call (or after the
    * segments went stale), an O(new commits) delta segment afterwards (ref:
    * HoodieBackedTableMetadataWriter.update — per-commit deltas, never a
    * table re-fold). Checkpoint commits are recorded as covered WITHOUT
    * re-materializing their carried rows: every file they carry is already
    * in an earlier segment. */
  def syncMetadataTable(): String = {
    timeline.refresh()
    val completedList = timeline.completed()
    val activeData = completedList.filter { case (_, a) => dataActions(a) }
    val dest = mdtFilesDir.toString
    if (activeData.isEmpty) return dest
    val segs = mdtSegs()
    val covered = segs.flatMap(_._2).toSet
    val stale = covered -- activeData.map(_._1).toSet
    val valid = segs.nonEmpty &&
      stale.subsetOf(timeline.archivedInstants().toSet)
    if (!valid) return rebuildMetadataTable()
    val newer = activeData.filter { case (i, _) => !covered.contains(i) }
    if (newer.isEmpty) return dest
    // archive-before-sync gap: a checkpoint's carried files are re-records
    // of instants already in the segments — UNLESS a data commit was
    // archived before any sync covered it. Then its file adds and
    // replaced-group tombstones exist only in the checkpoint's fold, and
    // skipping the checkpoint would drop them silently. Replay those
    // instants' exact deltas from the archived timeline (full metas are
    // retained there) into this segment.
    val newCkpts = newer.map { case (i, a) => timeline.readSlim(i, a) }
      .filter(_.operation == "checkpoint")
    val archived = if (newCkpts.isEmpty) Nil else timeline.archivedInstants()
    val uncoveredFolded = newCkpts.flatMap { m =>
      (m.extra.get("archivedFrom"), m.extra.get("archivedTo")) match {
        case (Some(lo), Some(hi)) => archived.filter(x => x >= lo && x <= hi)
        case _ => Nil
      }
    }.distinct.filterNot(covered.contains)
    // ONE archive listing for all replayed instants — the archive holds
    // every instant the table ever completed, so per-instant lookups
    // would be O(archive²) on a long-lived table
    val replay = timeline.archivedMetaBatch(uncoveredFolded.toSet)
      .filter(m => dataActions(m.action))
    // an uncovered checkpoint folded into another checkpoint can recurse
    // arbitrarily deep — a rebuild is the always-correct answer
    if (replay.exists(_.operation == "checkpoint")) return rebuildMetadataTable()
    // slim metas suffice for the active commits: non-checkpoint commits
    // inline their files, and checkpoints contribute no NEW rows beyond
    // the replay above
    val rows = replay.sortBy(_.instant).flatMap(MdtRow.of) ++
      newer.flatMap { case (i, a) =>
        val m = timeline.readSlim(i, a)
        if (m.operation == "checkpoint") Nil else MdtRow.of(m)
      }
    writeMdtSeg(rows, replay.map(_.instant) ++ newer.map(_._1))
    mdtMemo = null
    // bound segment count: a cold listing pays one read per segment, so
    // past 32 the deltas fold into a fresh base (ref: the metadata table
    // is itself compacted periodically)
    if (mdtSegs().size > 32) return rebuildMetadataTable()
    dest
  }

  /** Full rebuild: ONE base segment holding the live fold, prior segments
    * dropped (ref: metadata-table compaction). */
  def rebuildMetadataTable(): String = {
    timeline.refresh()
    val ms = timeline.metas(None).filter(m => dataActions(m.action))
    val live = slicesFrom(ms, None)
    val syncInstant = ms.map(_.instant).max
    val rows = live.flatMap { s =>
      (s.baseFiles.map(_ -> s.baseInstant) ++ s.logs.map { case (i, f) => (f, i) })
        .map { case (f, eff) =>
          MdtRow.ofFile(f.copy(origInstant = eff), s.partition, s.fileId,
            syncInstant, "commit", "checkpoint")
        }
    }
    val old = mdtSegs().map(_._1)
    writeMdtSeg(rows, ms.map(_.instant))
    old.foreach(p => GraftTable.drop(p.toString))
    mdtSegCache.synchronized { mdtSegCache.clear() }
    mdtMemo = null
    mdtFilesDir.toString
  }

  /** The PERSISTED metadata table's live-file view in its exported schema —
    * the fold of the segments alone, with no JSON supplement: what the
    * sidecar has seen, which is exactly what validate_metadata_table_files
    * diffs against the timeline. The segments underneath are plain parquet,
    * queryable by any engine. */
  def metadataTable(): DataFrame = {
    import spark.implicits._
    val segs = mdtSegs()
    require(segs.nonEmpty, s"no metadata table segments under $mdtFilesDir")
    val ms = segs.flatMap { case (d, _) => mdtSegMetas(d) }.sortBy(_.instant)
    slicesFrom(ms, None).flatMap { s =>
      (s.baseFiles.map(f => (f, s.baseInstant)) ++ s.logs.map { case (i, f) => (f, i) })
        .map { case (f, inst) =>
          (s.partition, s.fileId, inst, f.path, f.rows, f.isLog, f.keyMin, f.keyMax,
            f.colStats.map { case (c, mm) => c -> (mm(0) + ".." + mm(1)) })
        }
    }.toDF("partition", "file_id", "instant", "path", "rows", "is_log",
      "key_min", "key_max", "col_stats")
  }

  /** Write-amplification stat (ref: StatsWriteAmplificationProcedure):
    * total rows written across commits / rows in latest snapshot. */
  def statsWriteAmplification(): Double = {
    val written = timeline.metas(None).filter(m => dataActions(m.action))
      .flatMap(_.files).map(_.rows).sum.toDouble
    val liveRows = slices(None).map(_.totalRows).sum.toDouble
    if (liveRows == 0) 0.0 else written / liveRows
  }
}

/** Z-order (Morton) interleave of two columns, built from plain Column
  * bit-ops so it stays inside whole-stage codegen. Values are min/max
  * normalized to 16-bit ranks (two scalar aggregates), then bit-spread. */
object ZOrder {
  private def spread(x: Column): Column = {
    var v = x.bitwiseAND(lit(0xFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FFL))
    v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x33333333L))
    v = (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x55555555L))
    v
  }

  /** The two columns' 16-bit ranks (one min/max aggregate pass). */
  private def ranks(df: DataFrame, cols: Seq[String]): (Column, Column) = {
    val Seq(a, b) = cols
    val r = df.agg(min(col(a)).cast("double").as("amn"), max(col(a)).cast("double").as("amx"),
      min(col(b)).cast("double").as("bmn"), max(col(b)).cast("double").as("bmx")).collect()(0)
    // null aggregate (empty input, all-null or non-numeric column) -> that
    // dimension contributes a constant rank instead of an NPE
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    def norm(c: String, mn: Double, mx: Double): Column =
      if (mx <= mn) lit(0L)
      else ((coalesce(col(c).cast("double"), lit(mn)) - lit(mn)) /
        lit(mx - mn) * lit(65535.0)).cast("long")
    (norm(a, d(0), d(1)), norm(b, d(2), d(3)))
  }

  def zvalue(df: DataFrame, cols: Seq[String]): Column = {
    val (x, y) = ranks(df, cols)
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** Hilbert layout value (ref: hudi HilbertCurveUtils): same ranks, the
    * curve index computed by the native codegen kernel. */
  def hvalue(df: DataFrame, cols: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (x, y) = ranks(df, cols)
    ColumnBridge.column(graft.functions.HilbertIndexExpr(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))
  }
}
