package graft.snapshot

import org.apache.spark.sql.SparkSession

/** Runs independent snapshot commits as concurrent Spark jobs, with one
  * failure contract for every caller (the crawl generation's table commits
  * and a micro-batch's index ∥ corpus appends).
  *
  *  - Each named commit runs on its own thread, so a window holds exactly
  *    as many threads as it has commits. The thread is made by the caller
  *    and inherits a copy of its Spark local properties (job group, SQL
  *    execution id), then sets `spark.scheduler.pool` to `commit-<name>`:
  *    under `spark.scheduler.mode=FAIR` the concurrent writes share task
  *    slots instead of queueing behind whichever job grabbed them first
  *    (no-op under FIFO). The caller's own properties never change.
  *  - The window joins EVERY thread before it returns or throws, so no
  *    commit is still writing when a caller (or the next run's rollback or
  *    replay) acts on the failure.
  *  - It then rethrows the first failure in submission order, else returns
  *    the committed snapshots in submission order.
  */
object CommitWindow {
  def apply(spark: SparkSession, commits: (String, () => SnapshotMeta)*): Seq[SnapshotMeta] = {
    val outcomes = new Array[Either[Throwable, SnapshotMeta]](commits.size)
    val threads = commits.zipWithIndex.map { case ((name, body), i) =>
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"commit-$name")
        outcomes(i) = try Right(body()) catch { case e: Throwable => Left(e) }
      }, s"commit-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    outcomes.toSeq.map(_.fold(e => throw e, identity))
  }
}
