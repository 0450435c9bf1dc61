package graft.operators

import org.apache.spark.sql.SparkSession

/** Single-writer lease for index MAINTENANCE ops (VERDICT r11 "what's
  * missing" #2). With the compaction policy running unattended inside the
  * ingest streams and the same ops (compact / delete / merge / retrain)
  * also on the CLI, two writers against one store — a scheduled in-stream
  * policy plus a manual run, or two streams sharing a prefix — could
  * interleave their commit windows with nothing but
  * documentation preventing it. The lease turns that contract into a
  * check: every maintenance entry point takes a per-prefix lease file for
  * the duration of its swap sequence and FAILS FAST, naming the holder,
  * when another writer holds it.
  *
  * Mechanics: one lease file per store prefix under the session's
  * warehouse directory (the stable root the managed index tables already
  * share — index data directories move on retrain/rollback, the warehouse
  * does not). Acquisition is create-exclusive (`FileSystem.create` with
  * overwrite=false); the file body names the holder (op, host, pid,
  * epoch). A lease left behind by a CRASHED writer expires after
  * `graft.maintenance.lease.staleMs` (default 30 min — crash recovery for
  * the swap itself is [[Commit]]'s: a logged directory swap finishes at the
  * next op's entry, and a table swap never drops the live table, so a
  * stale lease only ever delays the next writer, never loses data);
  * contention within the window is an error, not a
  * wait — maintenance is scheduled work, and a blocked scheduler beats
  * two interleaved swap sequences.
  *
  * Scope: maintenance only. Appends and serving do NOT take the lease —
  * appends are the data path the streams already serialize per
  * micro-batch, and serving is read-only (its crash-debris recovery
  * acquires the lease opportunistically precisely so it cannot "recover"
  * a swap a LIVE maintenance op is in the middle of —
  * [[VectorIndex.ensureRecovered]]).
  *
  * Known residual races, accepted and documented: (a) local-filesystem
  * `create(overwrite=false)` is check-then-create inside Hadoop's
  * RawLocalFileSystem rather than O_EXCL-atomic, so two writers entering
  * in the same instant can both acquire — the lease is a guard against
  * operational overlap (scheduled policy vs manual op), not a distributed
  * lock manager; on HDFS/S3A-with-conditional-writes the create IS
  * exclusive. (b) stale-expiry delete-then-retake can race another
  * expirer; the second create fails and errors normally.
  */
object MaintenanceLease {

  val StaleMsConf = "graft.maintenance.lease.staleMs"
  val DefaultStaleMs: Long = 30L * 60L * 1000L

  /** Thrown on contention so callers (and tests) can distinguish a held
    * lease from other maintenance failures. Message names the holder.
    */
  final class LeaseHeldException(msg: String) extends RuntimeException(msg)

  private def leasePath(spark: SparkSession, prefix: String) =
    Commit.warehousePath(spark, s"_graft_lease_$prefix")

  private def staleMs(spark: SparkSession): Long =
    spark.conf.getOption(StaleMsConf).map(_.toLong).getOrElse(DefaultStaleMs)

  /** Acquire the prefix's lease, run `body`, release. Throws
    * [[LeaseHeldException]] (holder named) if another writer holds a
    * non-stale lease. Not reentrant — a maintenance op must not call
    * another lease-taking op on the same prefix (none does: merge's
    * internal copy+append are lease-free building blocks).
    */
  def withLease[T](spark: SparkSession, prefix: String, op: String)(body: => T): T = {
    val path = leasePath(spark, prefix)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the release is TOKEN-CHECKED: an op that outlives staleMs can have
    // its lease expired and retaken by a second writer — an unconditional
    // delete on exit would then destroy the SECOND writer's lease and let
    // a third in (the classic lock-token bug). Deleting only our own
    // token leaves the usurper's lease standing; the slow op's own swap
    // already raced the usurper's (that is what staleMs >> any op
    // duration exists to prevent), but the window stops CASCADING.
    val token = java.util.UUID.randomUUID().toString
    acquire(fs, path, spark, prefix, op, token, retryAfterStale = true)
    try body
    finally release(fs, path, token)
  }

  /** [[withLease]] that yields None instead of throwing on contention —
    * for OPPORTUNISTIC work (serve-path crash-debris recovery) where a
    * live maintenance op legitimately owns the store right now and the
    * caller proceeds without the cleanup.
    */
  def tryWithLease[T](spark: SparkSession, prefix: String, op: String)(body: => T): Option[T] =
    try Some(withLease(spark, prefix, op)(body))
    catch { case _: LeaseHeldException => None }

  /** [[withLease]] keyed by a DIRECTORY instead of a table prefix — for
    * stores that are a filesystem path rather than catalog tables (the
    * serving sink, ADVICE r13). The lease file lives INSIDE the directory
    * (`_graft_lease`, underscore-prefixed so parquet readers ignore it),
    * which makes it per-path by construction: two writers pointed at the
    * same sink contend on the same file with no prefix-collision concerns,
    * and a sink moved or deleted takes its lease with it. Same acquire /
    * token-checked-release / stale-expiry mechanics as the prefix lease.
    */
  def withDirLease[T](spark: SparkSession, dir: org.apache.hadoop.fs.Path,
                      op: String)(body: => T): T = {
    val path = new org.apache.hadoop.fs.Path(dir, "_graft_lease")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = java.util.UUID.randomUUID().toString
    acquire(fs, path, spark, dir.toString, op, token, retryAfterStale = true)
    try body
    finally release(fs, path, token)
  }

  /** [[withDirLease]] that yields None instead of throwing on contention —
    * the directory twin of [[tryWithLease]].
    */
  def tryWithDirLease[T](spark: SparkSession, dir: org.apache.hadoop.fs.Path,
                         op: String)(body: => T): Option[T] =
    try Some(withDirLease(spark, dir, op)(body))
    catch { case _: LeaseHeldException => None }

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
                        path: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(path)
      val txt = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      in.close()
      Some(txt)
    } catch { case _: java.io.IOException => None }

  private def release(fs: org.apache.hadoop.fs.FileSystem,
                      path: org.apache.hadoop.fs.Path, token: String): Unit =
    readLease(fs, path) match {
      case Some(txt) if txt.contains(s"token=$token") =>
        fs.delete(path, false): Unit
      case Some(txt) =>
        System.err.println(s"[graft] lease $path was expired and retaken " +
          s"by another writer mid-op ($txt) — leaving their lease in place")
      case None => () // already gone (expired and released)
    }

  private def acquire(fs: org.apache.hadoop.fs.FileSystem,
                      path: org.apache.hadoop.fs.Path, spark: SparkSession,
                      prefix: String, op: String, token: String,
                      retryAfterStale: Boolean): Unit = {
    val created =
      try {
        val out = fs.create(path, false)
        val host = java.net.InetAddress.getLocalHost.getHostName
        val pid = ProcessHandle.current().pid()
        out.write((s"op=$op host=$host pid=$pid token=$token " +
          s"epoch=${System.currentTimeMillis()}\n").getBytes("UTF-8"))
        out.close()
        true
      } catch {
        // ONLY path-exists is contention (ADVICE r12): a transient fs
        // failure (permissions, disk full) swallowed here would misreport
        // as a lease held by '<released>' — the follow-up read finds no
        // lease file, the stale-expiry path fails the create AGAIN, and
        // the caller gets a misleading LeaseHeldException instead of the
        // real I/O error. FileAlreadyExistsException is the documented
        // exists signal; for filesystems that throw a bare IOException,
        // an exists() probe decides, and anything else rethrows.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (fs.exists(path)) false else throw e
      }
    if (!created) {
      val (holder, ageMs) =
        (readLease(fs, path),
          try Some(System.currentTimeMillis() -
            fs.getFileStatus(path).getModificationTime)
          catch { case _: java.io.IOException => None }) match {
          case (Some(txt), Some(age)) => (txt, age)
          // holder released between our failed create and this read —
          // treat as stale and retake below
          case _ => ("<released>", Long.MaxValue)
        }
      if (ageMs > staleMs(spark) && retryAfterStale) {
        System.err.println(s"[graft] expiring stale maintenance lease on " +
          s"'$prefix' (holder: $holder, age ${ageMs / 1000}s)")
        fs.delete(path, false)
        acquire(fs, path, spark, prefix, op, token, retryAfterStale = false)
      } else
        throw new LeaseHeldException(
          s"maintenance lease on '$prefix' is held ($holder, age " +
            s"${ageMs / 1000}s) — refusing to interleave '$op' with a live " +
            "maintenance op; retry after it completes (stale leases expire " +
            s"after ${staleMs(spark) / 1000}s)")
    }
  }
}
