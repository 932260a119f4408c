package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The cross-process writer-exclusion PRIMITIVE behind every publish —
  * the staging table's rename swap (`Staging.publishAtomic`) and
  * [[ChainIndex]]'s publishSnapshot/publishSnapshotDelta, each taken
  * through the one lock scope [[CommitLock.withPublishLock]]. The publish
  * protocol (acquire → recover → write → commit → release-in-finally) is
  * fixed; only HOW "acquire" is made atomic varies by store:
  *
  *  - [[CommitLock.FsCreate]] (default): `fs.create(lock,
  *    overwrite=false)` — a real atomic create-if-absent on HDFS and
  *    local filesystems, where the create either wins or throws. On S3A
  *    the SAME call is CHECK-then-PUT (HEAD probe + unconditional PUT),
  *    so two writers racing within the probe window can both believe
  *    they hold the lock — the documented hazard, now an executable
  *    spec: ChainIndexSpec races two writers through a check-then-act
  *    double and shows both "win", then through a conditional-put double
  *    and shows exactly one does.
  *  - A multi-process object-store deployment plugs in one of the
  *    standard upgrades behind this SAME interface: S3 conditional PUT
  *    (`If-None-Match: *`, the create-if-absent made atomic by the
  *    store), a lock table/commit service (Delta's DynamoDB pattern for
  *    S3 multi-cluster writes), or the table format's own commit
  *    protocol once the snapshot dirs move under Delta/Iceberg.
  *
  * Release stays best-effort delete in the publisher's finally; a writer
  * that dies between acquire and release leaves the lock behind
  * DELIBERATELY — [[CommitLock.breakPublishLock]] is the recovery
  * contract.
  */
trait CommitLockProvider {
  /** Atomically create the lock marker at `lock`; true iff this caller
    * won it (exactly one of any set of racing callers may return true).
    */
  def tryAcquire(fs: FileSystem, lock: Path): Boolean

  /** Release a held lock — called in the publisher's finally. */
  def release(fs: FileSystem, lock: Path): Unit = { fs.delete(lock, false); () }
}

object CommitLock {

  /** Default provider: atomic create-if-absent. Two code paths because
    * "atomic" is a property of the STORE, not the API: on HDFS,
    * `fs.create(overwrite=false)` is an atomic namespace operation. On
    * `file:` schemes, Hadoop's LocalFileSystem implements the same call
    * as exists-probe + create — CHECK-then-act, exactly the S3A shape —
    * which ChainIndexSpec's two-writer race pin caught double-acquiring
    * (both racers landed inside the probe window; the commit-marker
    * create was what finally threw). Local locks therefore go through
    * `java.io.File.createNewFile` (O_CREAT|O_EXCL — the kernel's
    * conditional PUT).
    */
  object FsCreate extends CommitLockProvider {
    override def tryAcquire(fs: FileSystem, lock: Path): Boolean =
      if (fs.getUri.getScheme == "file") {
        val f = new java.io.File(lock.toUri.getPath)
        Option(f.getParentFile).foreach(_.mkdirs())
        try f.createNewFile()
        catch { case _: java.io.IOException => false }
      } else
        try { fs.create(lock, /* overwrite = */ false).close(); true }
        catch { case _: java.io.IOException => false }
  }

  /** The active provider — a process-wide seam (every publish variant
    * takes its lock through it). Swapped only at deployment setup or by
    * ChainIndexSpec's race pins; volatile so a swap is visible to all
    * writer threads.
    */
  @volatile private[graft] var provider: CommitLockProvider = FsCreate

  /** THE lock scope of every publish variant (rename swap, snapshot,
    * delta): `<path>__lock` acquired through [[provider]], `body` run,
    * the lock released in the finally. A second publisher fails fast
    * with an IOException; a writer that dies between acquire and release
    * leaves the lock behind deliberately (see [[breakPublishLock]]).
    */
  private[graft] def withPublishLock[A](fs: FileSystem, path: String, what: String)(body: => A): A = {
    val lock = new Path(path + "__lock")
    val p = provider
    if (!p.tryAcquire(fs, lock))
      throw new java.io.IOException(
        s"another $what to $path is in progress ($lock exists); " +
          "if its writer is dead, call CommitLock.breakPublishLock first")
    try body finally p.release(fs, lock)
  }

  /** Clears a lock left by a publisher that died between acquiring
    * `<path>__lock` and its finally block. Only call once the dead
    * writer's Spark job is confirmed gone. Returns true if a lock was
    * removed.
    */
  def breakPublishLock(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val lock = new Path(path + "__lock")
    lock.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lock, false)
  }
}
