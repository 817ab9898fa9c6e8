package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Table-level COMMIT mutex (r11 verdict item 6 — concurrent-writer
  * commit safety). The engine's publishes are crash-safe but were
  * single-writer by construction: two simultaneous writers to one
  * table (a streaming epoch racing a `CALL system.compact`, two jobs
  * MERGE-ing the same target) could interleave their publish/retire
  * phases and silently lose one side's files. This lock is the
  * detect-and-refuse unit: the commit CRITICAL SECTION (publish +
  * retire + journal record — seconds of driver-side renames, never
  * the data write itself) runs under an exclusive lock file, and a
  * second committer landing inside that window FAILS CLEANLY with the
  * table intact — the optimistic-concurrency contract Iceberg bases
  * every commit on (its atomic metadata-pointer swap plays the same
  * role; a loser retries against the new table state).
  *
  * Mechanics:
  *  - the lock is a SIBLING file (`<tableDir>.__lock`, beside the
  *    `.__versions` / `.__retired` siblings), outside every data
  *    listing of the table;
  *  - acquisition is an atomic create-exclusive (`fs.create(p,
  *    overwrite = false)` — one winner per path on HDFS and local FS);
  *    the holder records owner + wall time for diagnostics;
  *  - a crashed holder's lock is BROKEN after `staleMs` (default 10
  *    minutes): every protocol under this lock is independently
  *    crash-recoverable (staged-invisible files, rename
  *    re-convergence), so breaking a stale lock never corrupts — it
  *    only re-admits writers.
  *
  * What this does NOT serialize: the distributed data write feeding a
  * commit (deliberately — a 100 TB rewrite must not block epochs for
  * its whole duration). Overwriting writes instead VERIFY at commit
  * time that what they replace did not change under them and abort
  * cleanly if it did — see [[GraftPartitionedCow]] `requireUnchanged`.
  */
object GraftCommitLock {

  /** A racing commit was detected and this writer lost. The table is
    * intact (nothing of this commit published); retry after the
    * in-flight commit completes.
    */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  val DefaultStaleMs: Long = 10L * 60 * 1000

  /** Test seam: invoked after the staleness check decides to break,
    * before the break itself — the exact window a concurrent breaker
    * can slip through. Lets a spec inject a racing break+reacquire.
    */
  private[graft] var onBeforeBreak: () => Unit = () => ()

  def lockPath(tableDir: Path): Path =
    new Path(tableDir.getParent, tableDir.getName + ".__lock")

  /** Creation time recorded INSIDE the lock file at [[tryCreate]] —
    * the clock a rename cannot disturb. Filesystem mtime is wrong for
    * staleness on object stores, where rename is copy+delete and
    * stamps a FRESH mtime: a broken lock would always look live, and
    * a genuinely stale lock could never be broken (each failed break
    * attempt would refresh it). Falls back to fs mtime only when the
    * content predates the timestamp field or is unparseable.
    */
  private def recordedCreateMs(fs: FileSystem, p: Path): Long = {
    val txt = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    txt.split('\t').lift(1)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(fs.getFileStatus(p).getModificationTime)
  }

  private def tryCreate(fs: FileSystem, lp: Path, owner: String,
      token: String): Boolean =
    try {
      fs.mkdirs(lp.getParent)
      val out = fs.create(lp, false) // atomic create-exclusive
      try out.write(s"$owner\t${System.currentTimeMillis()}\t$token"
        .getBytes("UTF-8"))
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  /** Acquire or throw [[ConcurrentCommitException]]. One stale-break
    * retry: a lock older than `staleMs` belongs to a crashed writer
    * (live commits hold it for seconds) and is removed. Returns an
    * OWNERSHIP TOKEN: [[release]] deletes the lock only while its
    * content still carries this token, so a holder whose lock was
    * stolen by a mis-fired stale break can never delete a successor's
    * fresh lock (the cascade that would re-admit two committers).
    */
  def acquire(fs: FileSystem, tableDir: Path, owner: String,
      staleMs: Long = DefaultStaleMs): String = {
    val token = java.util.UUID.randomUUID().toString
    val lp = lockPath(tableDir)
    if (tryCreate(fs, lp, owner, token)) return token
    val stale =
      try System.currentTimeMillis() - recordedCreateMs(fs, lp) > staleMs
      catch {
        case _: java.io.FileNotFoundException => true
        case scala.util.control.NonFatal(_) => false // unreadable = assume live
      }
    if (stale) {
      onBeforeBreak()
      // Break by ATOMIC RENAME to a unique tombstone, not delete: with
      // delete, two waiters observing the same stale lock could race —
      // waiter A deletes and acquires a FRESH lock, waiter B then
      // deletes A's fresh lock and acquires too, putting two committers
      // inside the critical section. Rename has exactly one winner per
      // source path, and the loser falls through to the contended
      // throw. After winning, VERIFY the tombstoned lock really was
      // stale by its recorded creation time: the rename itself could
      // have raced a break+reacquire cycle and stolen a just-created
      // fresh lock — restore it and report contention in that case.
      val tomb = new Path(lp.getParent,
        lp.getName + ".__broken." + java.util.UUID.randomUUID())
      val won =
        try fs.rename(lp, tomb)
        catch { case scala.util.control.NonFatal(_) => false }
      if (won) {
        // verify by the creation time RECORDED IN the lock content —
        // the same clock the staleness check reads, and the only one
        // the rename is guaranteed not to disturb (object-store rename
        // is copy and would stamp a fresh mtime)
        val tombCreatedAt =
          try recordedCreateMs(fs, tomb)
          catch { case scala.util.control.NonFatal(_) => 0L } // gone = stale
        if (System.currentTimeMillis() - tombCreatedAt <= staleMs) {
          // stole a live writer's lock — put it back, treat as
          // contended. The restore is retried: if it ultimately fails
          // (destination re-created by a third waiter, IO error), the
          // live holder would finish its commit unprotected, so leave
          // the tombstone as forensic evidence and surface the hazard
          // in the contended throw instead of swallowing it.
          var restored = false
          var attempt = 0
          while (!restored && attempt < 3) {
            restored =
              try fs.rename(tomb, lp)
              catch { case scala.util.control.NonFatal(_) => false }
            attempt += 1
            if (!restored && attempt < 3) Thread.sleep(50L << attempt)
          }
          if (!restored)
            throw new ConcurrentCommitException(
              s"concurrent commit on $tableDir: this writer briefly " +
                s"broke a LIVE lock and could not restore it (kept at " +
                s"$tomb) — the in-flight holder may be committing " +
                "unprotected; do not start new commits until it finishes")
        } else {
          try fs.delete(tomb, false)
          catch { case scala.util.control.NonFatal(_) => () }
          if (tryCreate(fs, lp, owner, token)) return token
        }
      }
    }
    val holder =
      try {
        val in = fs.open(lp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => "<unreadable>" }
    throw new ConcurrentCommitException(
      s"concurrent commit on $tableDir: lock $lp is held by [$holder]; " +
        "this writer published NOTHING — retry after the in-flight " +
        "commit completes (a crashed holder's lock expires after " +
        s"${staleMs}ms)")
  }

  /** Release only the lock THIS acquire created: if the content's
    * token differs (a breaker stole and replaced the lock), deleting
    * would destroy the successor's mutual exclusion — leave it.
    */
  def release(fs: FileSystem, tableDir: Path, token: String): Unit =
    try {
      val lp = lockPath(tableDir)
      val in = fs.open(lp)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (txt.split('\t').lastOption.contains(token))
        fs.delete(lp, false)
    } catch { case scala.util.control.NonFatal(_) => () }

  def withLock[T](fs: FileSystem, tableDir: Path, owner: String,
      staleMs: Long = DefaultStaleMs)(body: => T): T = {
    val token = acquire(fs, tableDir, owner, staleMs)
    try body finally release(fs, tableDir, token)
  }
}
