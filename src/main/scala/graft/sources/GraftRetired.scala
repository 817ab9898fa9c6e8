package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

/** Reader snapshot isolation (r12 verdict item 2) — Iceberg's
  * never-delete-at-commit rule for a directory-listing table layout.
  *
  * The problem: every retiring commit (COW MERGE/UPDATE/DELETE, dynamic
  * partition overwrite, full replaces and compactions) used to physically
  * DELETE the superseded generation inside the commit critical section.
  * Writer-vs-writer is safe (commit lock + optimistic checks), but a
  * long-running READER that planned its scan before the commit holds
  * the old generation's file paths and hits `FileNotFoundException`
  * mid-read. Iceberg never removes live-reachable files at commit —
  * physical deletion is deferred to expire/GC; this module is that
  * contract re-expressed without a manifest layer:
  *
  *  - retiring commits RENAME superseded files into a sibling tombstone
  *    area `<tableDir>.__retired/<epochMillis>-<uuid>/<relative path>`
  *    (one rename per file — the same cost class as the deletes it
  *    replaces). The files leave the live listing atomically,
  *    so new scans never see them — no listing surface changes at all.
  *  - an in-flight reader that planned a file before the commit opens
  *    it AFTER: the open fails, and [[FallbackReaderFactory]] re-resolves
  *    the planned (relative path, length) against the tombstone area
  *    (and the `.__versions` time-travel store, which full-replace
  *    writes move complete generations into) and reads the SAME BYTES
  *    from their new location — the scan completes against its planned
  *    pre-commit snapshot. The happy path pays nothing: fallback only
  *    engages on the failure that used to kill the query.
  *  - physical deletion happens in maintenance: `CALL
  *    system.remove_orphans(table, older_than_ms)` sweeps tombstone
  *    commits older than the grace window ([[expire]]), exactly like
  *    Iceberg's expire_snapshots. Until then a tombstoned generation
  *    costs storage, not correctness.
  *
  * Scale posture: resolution lists `<table>.__retired/` only ON
  * FAILURE, bounded by un-GC'd retiring commits; readers in steady
  * state never touch it. Tombstone renames preserve length and mtime,
  * so deletion-vector identity checks keep working on archived files.
  */
private[graft] object GraftRetired {

  /** Sibling of the table dir (like `.__lock` / `.__versions`): never
    * part of any data listing.
    */
  def retiredRoot(tableDir: Path): Path =
    new Path(tableDir.getParent, tableDir.getName + ".__retired")

  def versionsRoot(tableDir: Path): Path =
    new Path(tableDir.getParent, tableDir.getName + ".__versions")

  /** One retiring commit's tombstone directory. Millis prefix makes
    * expiry a name comparison and newest-first resolution a sort.
    */
  def newCommitDir(tableDir: Path): Path =
    new Path(retiredRoot(tableDir),
      s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")

  /** Tombstone individual superseded files (per-file retiring commits:
    * COW replace, dynamic partition overwrite). Relative hive paths are
    * preserved under the commit dir so resolution is a path join.
    */
  def retireFiles(fs: FileSystem, tableDir: Path, gone: Seq[Path])
      : Option[String] = {
    if (gone.isEmpty) return None
    val commit = newCommitDir(tableDir)
    retireFilesInto(fs, tableDir, gone, commit)
    Some(commit.getName)
  }

  /** [[retireFiles]] into a CALLER-owned tombstone commit dir — lets a
    * multi-step retiring commit (the partition-drop walk) park every
    * superseded file under ONE commit the journal can reference.
    */
  def retireFilesInto(fs: FileSystem, tableDir: Path, gone: Seq[Path],
      commit: Path): Unit = {
    if (gone.isEmpty) return
    val qualBase = fs.makeQualified(tableDir).toString
    gone.foreach { f =>
      val qual = fs.makeQualified(f).toString
      // prefix check with the trailing '/': a SIBLING dir sharing the
      // table-dir prefix (/w/sales vs /w/sales_v2) must never pass
      require(qual.startsWith(qualBase + "/") && !qual.contains(".."),
        s"retire: $f is not under $tableDir")
      val rel = qual.stripPrefix(qualBase + "/")
      val dest = new Path(commit, rel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(f, dest),
        s"retire: could not tombstone $f as $dest")
      onFileRetired(f)
    }
  }

  /** Test seam: runs after each file or directory a retire moves (a
    * spec stalls a commit in the middle of its retire).
    */
  @volatile private[graft] var onFileRetired: Path => Unit = _ => ()

  /** Delete tombstone commits older than the grace window. Returns
    * (files deleted, bytes reclaimed) through the same counting view as
    * the orphan sweep it rides with.
    */
  def expire(fs: FileSystem, tableDir: Path, olderThanMs: Long)
      : (Int, Long) = {
    val root = retiredRoot(tableDir)
    if (!fs.exists(root)) return (0, 0L)
    val cutoff = System.currentTimeMillis() - olderThanMs
    var files = 0
    var bytes = 0L
    fs.listStatus(root).foreach { st =>
      val millis = st.getPath.getName.takeWhile(_.isDigit)
      val expired = millis.nonEmpty && millis.toLong < cutoff
      if (st.isDirectory && expired) {
        def count(p: Path): Unit = fs.listStatus(p).foreach { c =>
          if (c.isDirectory) count(c.getPath)
          else { files += 1; bytes += c.getLen }
        }
        count(st.getPath)
        fs.delete(st.getPath, true)
      }
    }
    if (fs.exists(root) && fs.listStatus(root).isEmpty)
      fs.delete(root, false)
    (files, bytes)
  }

  /** Tombstone inventory for `CALL system.table_state`:
    * (commits, files, bytes) currently parked in `.__retired/`.
    */
  def stats(fs: FileSystem, tableDir: Path): (Int, Int, Long) = {
    val root = retiredRoot(tableDir)
    if (!fs.exists(root)) return (0, 0, 0L)
    var commits = 0
    var files = 0
    var bytes = 0L
    def count(p: Path): Unit = fs.listStatus(p).foreach { c =>
      if (c.isDirectory) count(c.getPath)
      else { files += 1; bytes += c.getLen }
    }
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory) { commits += 1; count(st.getPath) }
    }
    (commits, files, bytes)
  }

  /** Resolve a vanished planned file against the tombstone area and the
    * version store, newest commit first, matched by (relative path,
    * length, mtime) — renames preserve all three, and the mtime keeps
    * two same-rel same-length generations apart. Executor-side; lists
    * only on the failure path.
    */
  def resolve(fs: FileSystem, tableDir: Path, rel: String,
      expectedLen: Long, expectedMtime: Long): Option[Path] = {
    def candidates(root: Path, newestFirst: Seq[String]): Option[Path] =
      newestFirst.iterator.map(c => new Path(root, s"$c/$rel")).find { p =>
        try {
          val st = fs.getFileStatus(p)
          st.getLen == expectedLen &&
            (expectedMtime <= 0 || st.getModificationTime == expectedMtime)
        } catch { case NonFatal(_) => false }
      }
    def dirsOf(root: Path): Seq[String] =
      try {
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).sorted.reverse
      } catch { case NonFatal(_) => Nil }
    candidates(retiredRoot(tableDir), dirsOf(retiredRoot(tableDir)))
      .orElse(candidates(versionsRoot(tableDir),
        dirsOf(versionsRoot(tableDir)).filter(_.matches("v\\d{6}"))))
  }

  private def isMissingFile(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      c match {
        case _: java.io.FileNotFoundException => return true
        // FilePartitionReader wraps the FNF into
        // SparkException(FAILED_READ_FILE.FILE_NOT_EXIST) via
        // FileDataSourceV2.attachFilePath
        case st: org.apache.spark.SparkThrowable
          if st.getCondition != null &&
            st.getCondition.startsWith("FAILED_READ_FILE") &&
            st.getCondition.contains("NOT_EXIST") => return true
        case _ =>
      }
      c = c.getCause
    }
    false
  }

  /** The read-side half: wraps a file reader factory so each planned
    * split is opened through the delegate one at a time, and a split
    * whose file vanished under the scan (a retiring commit landed
    * between planning and this open) is re-pointed at its tombstoned
    * copy and retried. The retry happens ONLY before the split's first
    * row — a rename cannot invalidate an already-open stream on HDFS or
    * a local FS, so a failure after rows flowed is a real error and
    * propagates.
    *
    * Chaining per split is behavior-identical to Spark's own
    * `FilePartitionReader` (splits of a partition are read sequentially
    * either way); non-file partitions and non-FNF errors pass through
    * untouched.
    */
  final class FallbackReaderFactory(inner: PartitionReaderFactory,
      tableDirStr: String, conf: GraftPartitionedCow.SerializableHadoopConf)
    extends PartitionReaderFactory {

    override def supportColumnarReads(p: InputPartition): Boolean =
      inner.supportColumnarReads(p)

    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = p match {
      case fp: FilePartition =>
        new ChainedFallback[InternalRow](fp.files,
          f => inner.createReader(FilePartition(0, Array(f))))
      case other => inner.createReader(other)
    }

    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      p match {
        case fp: FilePartition =>
          new ChainedFallback[org.apache.spark.sql.vectorized.ColumnarBatch](
            fp.files,
            f => inner.createColumnarReader(FilePartition(0, Array(f))))
        case other => inner.createColumnarReader(other)
      }

    private def rePoint(f: PartitionedFile): Option[PartitionedFile] = {
      val tableDir = new Path(tableDirStr)
      val fs = tableDir.getFileSystem(conf.value)
      val qualBase = fs.makeQualified(tableDir).toString
      val qual = fs.makeQualified(f.toPath).toString
      if (!qual.startsWith(qualBase + "/")) None
      else resolve(fs, tableDir, qual.stripPrefix(qualBase + "/"),
        f.fileSize, f.modificationTime).map { p =>
        f.copy(filePath =
          org.apache.spark.paths.SparkPath.fromPath(fs.makeQualified(p)))
      }
    }

    private final class ChainedFallback[T](files: Array[PartitionedFile],
        mk: PartitionedFile => PartitionReader[T])
      extends PartitionReader[T] {
      private var fi = -1
      private var cur: PartitionReader[T] = _
      private var rowsFlowed = false

      private def openSplit(f: PartitionedFile): PartitionReader[T] =
        try mk(f)
        catch {
          case t: Throwable if isMissingFile(t) =>
            mk(rePoint(f).getOrElse(throw t))
        }

      private def advance(): Boolean = {
        if (cur != null) { cur.close(); cur = null }
        fi += 1
        if (fi >= files.length) false
        else { cur = openSplit(files(fi)); rowsFlowed = false; true }
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null && !advance()) return false
          val has =
            try cur.next()
            catch {
              // lazy delegates surface the open failure on first
              // next(); after rows flowed it is a real mid-read error
              case t: Throwable if !rowsFlowed && isMissingFile(t) =>
                val f = rePoint(files(fi)).getOrElse(throw t)
                cur.close(); cur = mk(f)
                cur.next()
            }
          if (has) { rowsFlowed = true; return true }
          cur.close(); cur = null
        }
        false
      }

      override def get(): T = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }
}
