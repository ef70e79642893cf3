package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/** Per-file metadata recorded in a commit (path relative to table base).
  * keyMin/keyMax power stats-index candidate pruning on upsert and file
  * skipping on read (the reference's column-stats / bloom metadata,
  * ref: hudi-common .../metadata/HoodieTableMetadata.java). */
case class FileMeta(
    path: String,
    fileId: String,
    partition: String,
    rows: Long,
    isLog: Boolean = false,
    // physical size; 0 on commits written before the field existed (readers
    // that need it stat the file lazily)
    bytes: Long = 0,
    keyMin: String = "",
    keyMax: String = "",
    colStats: Map[String, Array[String]] = Map.empty,
    // set when a checkpoint commit re-records a file written at an earlier,
    // now-archived instant: slice resolution uses this original instant
    origInstant: String = "",
    // metadata-only bootstrapped file: carries no graft meta columns; readers
    // derive them (and inject fileId per group where tagging/rewrites need it)
    external: Boolean = false,
    // a `<path>.bloom` sidecar holds a bloom filter over this base file's
    // record keys (the reference's BLOOM_FILTERS metadata partition, ref:
    // hudi-common .../metadata/HoodieTableMetadataUtil.java); consulted by
    // candidateSlices after key-range pruning
    hasBloom: Boolean = false)

/** One timeline instant's metadata (ref: hudi-common
  * .../table/timeline/HoodieInstant.java + HoodieCommitMetadata.java).
  * Actions: commit (COW write / compaction result), deltacommit (MOR write),
  * replacecommit (insert_overwrite / clustering / delete_partition),
  * clean, rollback, savepoint. */
case class CommitMeta(
    instant: String,
    action: String,
    operation: String,
    schemaJson: String = "",
    files: Seq[FileMeta] = Nil,
    replaced: Seq[String] = Nil, // fileIds no longer live after this instant
    deletedPaths: Seq[String] = Nil, // physical deletions (clean/rollback)
    // checkpoint commits only: write-time schemaJson per carried (archived)
    // instant, so carried files keep reading with their original schema
    carriedSchemas: Map[String, String] = Map.empty,
    extra: Map[String, String] = Map.empty)

/** Streaming exactly-once watermarks carried across archival: the MAX
  * committed batch id per stream, encoded as newline-separated "sid#maxId"
  * lines (newline: a checkpoint-dir streamId can contain commas; the id is
  * after the LAST '#' since dirs can contain '#' too). */
object StreamBatchIds {
  def parse(encoded: String): Map[String, Long] =
    encoded.split('\n').filter(_.nonEmpty).flatMap { line =>
      val i = line.lastIndexOf('#')
      if (i <= 0) None
      else scala.util.Try(line.substring(i + 1).toLong)
        .toOption.map(line.substring(0, i) -> _)
    }.toMap

  def encode(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (sid, mx) => s"$sid#$mx" }.mkString("\n")
}

object Json {
  val mapper: ObjectMapper with ClassTagExtensions =
    new ObjectMapper() with ClassTagExtensions
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
}

/**
 * The commit timeline: ordered instants under `<base>/.graft/timeline`.
 * Completed instant = `<instant>.<action>.json` (atomic move from a
 * `.inflight` file); an instant is invisible to readers until completed.
 * This is the ACID story of the reference re-expressed on a filesystem:
 * readers resolve file slices only from completed instants, so writes are
 * snapshot-isolated without locks.
 */
class Timeline(baseDir: String) {
  val dir: Path = Paths.get(baseDir, ".graft", "timeline")

  /** Loader for COLUMNAR checkpoint manifests (ref: hudi-common
    * .../metadata/HoodieBackedTableMetadata.java — file listings served
    * from data files, never a monolithic driver-parsed document): an
    * archival checkpoint whose file set is large stores it as parquet
    * under `timeline/manifests/<instant>/` and keeps only a pointer in
    * the JSON meta (`extra("manifest")`). The loader is installed by the
    * table (it owns the SparkSession); hydration is lazy and memoized —
    * consumers that never touch the checkpoint's files (schema folds,
    * conflict checks) read the slim meta and pay nothing. */
  @volatile var manifestLoader: String => Seq[FileMeta] = null
  private val manifestCache = scala.collection.mutable.Map[String, Seq[FileMeta]]()

  /** Diagnostics: JSON instant bodies parsed / checkpoint manifests loaded
    * by this instance (cache misses). Specs pin cold-open behavior. */
  @volatile private[graft] var jsonMetaReads: Long = 0L
  @volatile private[graft] var manifestLoads: Long = 0L

  /** Seed the manifest cache with files the caller just wrote — the
    * writing instance never pays the read-back. */
  def primeManifest(rel: String, files: Seq[FileMeta]): Unit =
    synchronized { manifestCache(rel) = files }

  private def hydrate(m: CommitMeta): CommitMeta = m.extra.get("manifest") match {
    case Some(rel) if m.files.isEmpty && manifestLoader != null =>
      val cached = synchronized { manifestCache.get(rel) }
      val files = cached.getOrElse {
        manifestLoads += 1
        val loaded = manifestLoader(rel) // Spark read — outside the monitor
        synchronized { manifestCache.getOrElseUpdate(rel, loaded) }
      }
      m.copy(files = files)
    case _ => m
  }

  // completed instants and their metadata are immutable once written, so
  // they memoize safely; the listing itself is invalidated on every
  // mutation through this instance, and callers that must see other
  // writers' commits (conflict detection) call refresh() first.
  // Cache access is synchronized: async table services share this instance
  // with the ingest thread, and an unsynchronized HashMap under concurrent
  // structural mutation corrupts (the commit lock only covers the
  // [conflict-check, complete] window, not reads).
  private var listingCache: Option[Seq[(String, String)]] = None
  private val metaCache = scala.collection.mutable.Map[(String, String), CommitMeta]()

  def refresh(): Unit = synchronized { listingCache = None }

  def init(): Unit = Files.createDirectories(dir)

  private def listNames(): Seq[String] =
    if (!Files.exists(dir)) Nil
    else Fs.list(dir)
      .filter(Files.isRegularFile(_))
      .map(_.getFileName.toString)

  def completed(): Seq[(String, String)] = synchronized { // sorted (instant, action)
    listingCache match {
      case Some(c) => c
      case None =>
        val c = listNames().filter(_.endsWith(".json")).map { n =>
          val parts = n.stripSuffix(".json").split('.')
          (parts(0), parts(1))
        }.sortBy(_._1)
        listingCache = Some(c)
        c
    }
  }

  def latestInstant(): Option[String] = {
    val all = listNames().map(_.split('.')(0))
    if (all.isEmpty) None else Some(all.max)
  }

  /** Allocate a new, strictly increasing instant and atomically claim it via
    * an exclusive inflight-file create (optimistic concurrency: two writers
    * can never claim the same instant). */
  def startInstant(action: String): String = {
    var ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    val last = latestInstant()
    if (last.exists(_ >= ts)) ts = incr(last.get)
    var claimed = false
    while (!claimed) {
      try {
        Files.createFile(dir.resolve(s"$ts.$action.inflight"))
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => ts = incr(ts)
      }
    }
    ts
  }

  private def incr(s: String): String = (BigInt(s) + 1).toString

  def complete(meta: CommitMeta): Unit = synchronized {
    val tmp = dir.resolve(s"${meta.instant}.${meta.action}.tmp")
    Files.write(tmp, Json.mapper.writeValueAsBytes(meta),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, dir.resolve(s"${meta.instant}.${meta.action}.json"),
      StandardCopyOption.ATOMIC_MOVE)
    Files.deleteIfExists(dir.resolve(s"${meta.instant}.${meta.action}.inflight"))
    metaCache((meta.instant, meta.action)) = meta
    refresh()
  }

  def abort(instant: String, action: String): Unit =
    Files.deleteIfExists(dir.resolve(s"$instant.$action.inflight"))

  /** SLIM meta: parsed JSON only — a manifest-backed checkpoint's file
    * set stays unloaded. Use when files are not consulted (schema folds,
    * conflict checks, checkpoint watermarks). */
  def readSlim(instant: String, action: String): CommitMeta = synchronized {
    metaCache.getOrElseUpdate((instant, action), {
      jsonMetaReads += 1
      Json.mapper.readValue[CommitMeta](
        Files.readAllBytes(dir.resolve(s"$instant.$action.json")))
    })
  }

  def read(instant: String, action: String): CommitMeta =
    hydrate(readSlim(instant, action))

  /** All completed metas in instant order, optionally up to `asOf`
    * (inclusive) — the time-travel boundary. */
  def metas(asOf: Option[String] = None): Seq[CommitMeta] =
    completed()
      .filter { case (i, _) => asOf.forall(i <= _) }
      .map { case (i, a) => read(i, a) }

  /** [[metas]] without manifest hydration — no consumer of these may
    * touch a checkpoint meta's `files`. */
  def metasSlim(asOf: Option[String] = None): Seq[CommitMeta] =
    completed()
      .filter { case (i, _) => asOf.forall(i <= _) }
      .map { case (i, a) => readSlim(i, a) }

  def remove(instant: String, action: String): Unit = synchronized {
    // a manifest-backed checkpoint's parquet goes with its JSON (rollback /
    // restore must not leave the file set resurrectable)
    try {
      val m = readSlim(instant, action)
      m.extra.get("manifest").foreach { rel =>
        val p = Paths.get(baseDir, rel)
        if (Files.exists(p))
          Fs.walk(p).reverse.foreach(Files.deleteIfExists(_))
        manifestCache.remove(rel)
      }
    } catch { case _: java.io.IOException => }
    Files.deleteIfExists(dir.resolve(s"$instant.$action.json"))
    metaCache.remove((instant, action))
    refresh()
  }

  /** Move a completed instant into the archive dir (no longer part of the
    * active timeline; its live files must have been checkpointed first). */
  def archiveInstant(instant: String, action: String): Unit = synchronized {
    val arch = dir.resolve("archive")
    Files.createDirectories(arch)
    Files.move(dir.resolve(s"$instant.$action.json"),
      arch.resolve(s"$instant.$action.json"), StandardCopyOption.ATOMIC_MOVE)
    metaCache.remove((instant, action))
    refresh()
  }

  /** Physically remove a completed NON-DATA instant (service plans only —
    * the admin unschedule path, ref: hudi CompactionAdminClient's
    * unscheduleCompactionPlan deleting the requested instant). Data
    * commits are never deleted this way (rollback owns that). */
  def deleteInstant(instant: String, action: String): Unit = synchronized {
    Files.deleteIfExists(dir.resolve(s"$instant.$action.json"))
    metaCache.remove((instant, action))
    refresh()
  }

  def archivedInstants(): Seq[String] = {
    val arch = dir.resolve("archive")
    if (!Files.exists(arch)) Nil
    else Fs.list(arch).map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.split('.')(0)).sorted
  }

  /** Batch lookup of archived metas: ONE directory listing however many
    * instants are requested — the archive can hold every instant the
    * table ever completed, so per-instant listings would be O(n²) in the
    * replay path. Hydrates only the matching files, ascending instant. */
  def archivedMetaBatch(instants: Set[String]): Seq[CommitMeta] = {
    val arch = dir.resolve("archive")
    if (instants.isEmpty || !Files.exists(arch)) return Nil
    Fs.list(arch).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".json") && instants.contains(n.split('.')(0))
    }.sortBy(_.getFileName.toString)
      .map(p => hydrate(Json.mapper.readValue[CommitMeta](Files.readAllBytes(p))))
  }

  /** Full metadata of archived instants, oldest first (ref: hudi
    * HoodieArchivedTimeline.loadInstants). Uncached: the archive is cold
    * storage read only by inspection procedures. */
  def archivedMetas(): Seq[CommitMeta] = {
    val arch = dir.resolve("archive")
    if (!Files.exists(arch)) Nil
    else Fs.list(arch)
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map(p => hydrate(Json.mapper.readValue[CommitMeta](Files.readAllBytes(p))))
  }
}
