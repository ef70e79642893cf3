package graft.table

import java.util.concurrent.Executors
import scala.concurrent.{ExecutionContext, Future}

/**
 * Asynchronous table services (ref: hudi-client-common
 * .../async/HoodieAsyncService.java + AsyncCompactService /
 * AsyncClusteringService): run compaction, cleaning and archival off the
 * ingest path on a background pool.
 *
 * Safety: compaction commits through the same commit-time lock +
 * conflict detection as any writer, so a compaction that loses a race with
 * concurrent ingest fails with ConcurrentWriteException and can simply be
 * rescheduled — ingest never waits on a service and vice versa, exactly
 * the reference's async-compaction contract. Cleaning and archival
 * serialize under the commit lock but are DESTRUCTIVE to old state by
 * design: clean() bounds how far back an in-flight reader may lag
 * (retain enough versions), archive() bounds time travel to the archival
 * boundary.
 */
class AsyncTableServices(t: GraftTable, threads: Int = 2) extends AutoCloseable {
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val th = new Thread(r, s"graft-services-${t.config.name}")
    th.setDaemon(true)
    th
  })
  implicit private val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def compactAsync(partitionPred: String => Boolean = _ => true): Future[Option[String]] =
    Future(t.compact(partitionPred))

  def cleanAsync(retainVersions: Int = 1): Future[String] =
    Future(t.clean(retainVersions))

  def archiveAsync(keepLast: Int = 10): Future[Int] =
    Future(t.archive(keepLast))

  def close(): Unit = pool.shutdown()
}
