package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** SCAN PLANNING FROM THE COMMIT JOURNAL: a journaled table's file
  * list is the journal's accounted-live set at its head
  * ([[GraftCommits.head]]), never a directory listing — Delta plans
  * from its transaction log and Iceberg from manifests for the same
  * reason (a listing is O(files) driver round-trips, and above Spark's
  * parallel-discovery threshold a distributed job per scan).
  *
  * Each live file's length and mtime come from its commit record
  * ([[GraftCommits.FileInfo]]); a file recorded before records carried
  * them costs one getFileStatus per JVM until the next checkpoint folds
  * them in. Partition
  * values parse from each file's `col=value` chain. The statuses are
  * cached per (table dir, journal fingerprint): a repeat scan of an
  * unchanged table costs one listStatus of the journal directory.
  *
  * The journal is the table: every commit that publishes or retires a
  * data file — batch writes, stream epochs, rewrite_deletes — records
  * it before its retire, so the head is exact even while a commit
  * holds the lock. A data file no commit recorded (a commit that
  * crashed before its record, a foreign writer) is not served, and an
  * accounted file that has gone missing fails the read loudly (a read
  * already under way when a commit retires its file re-points to the
  * tombstone through [[GraftRetired.FallbackReaderFactory]]). Only a
  * table with no journal yet plans from a listing, unpinned: there is
  * nothing to pin it against. A journal begun before stream epochs and
  * rewrite_deletes recorded their files is made complete by its next
  * commit ([[GraftCommits.complete]]); until then its reads plan from
  * the head as it stands, or from the listing when an unstatted live
  * file is gone ([[liveStatuses]]).
  */
private[graft] object GraftManifestListing {

  /** table dir -> (journal fingerprint, live file statuses). */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[FileStatus])]()

  /** Test seam: drains the journal caches (a spec that swaps table
    * directories underneath the same path wants fresh replays).
    */
  private[graft] def invalidate(): Unit = {
    GraftCommits.invalidateHeads()
    cache.clear()
  }

  /** The live files of the journal's head as qualified statuses, or
    * None = plan from the listing: no journal, or a journal from before
    * every commit recorded its files ([[GraftCommits.complete]]) whose
    * unstatted live file is gone — what reads of such a table served
    * until its next commit upgrades the journal. A legacy live file
    * (recorded before adds carried their info) costs one getFileStatus
    * per JVM, carried across journal states, until the next checkpoint
    * folds its info in; on a complete journal a gone one fails the
    * plan, naming the file, as a gone recorded file fails the read.
    */
  def liveStatuses(fs: FileSystem, tableDir: Path): Option[Seq[FileStatus]] = {
    val head = GraftCommits.head(fs, tableDir).getOrElse(return None)
    val base = fs.makeQualified(tableDir)
    val key = base.toString
    val prev = cache.get(key)
    if (prev != null && prev._1 == head.fingerprint) return Some(prev._2)
    val before: Map[String, FileStatus] =
      if (prev == null) Map.empty
      else prev._2.map(st => st.getPath.toString.stripPrefix(key + "/") -> st).toMap
    val blockSize = fs.getDefaultBlockSize(base)
    val statuses = head.live.keys.toSeq.sorted.map { rel =>
      head.info.get(rel) match {
        case Some(i) => new FileStatus(i.len, false, 1, blockSize, i.mtime,
          new Path(base, rel))
        case None => before.getOrElse(rel,
          try fs.getFileStatus(new Path(base, rel))
          catch { case e: java.io.FileNotFoundException =>
            if (GraftCommits.complete(fs, tableDir)) throw e else return None
          })
      }
    }
    cache.put(key, (head.fingerprint, statuses))
    Some(statuses)
  }

  /** A file index over the journal's live files, or None when the
    * table plans from the listing ([[liveStatuses]]). `parameters` are
    * the table's read options; the partition spec is Spark's own
    * inference over the files' directory chains, typed by `schema`.
    */
  def index(spark: SparkSession, tableDir: Path,
      parameters: Map[String, String], schema: Option[StructType])
      : Option[ManifestFileIndex] = {
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    liveStatuses(fs, tableDir).map(statuses => new ManifestFileIndex(
      spark, fs.makeQualified(tableDir), statuses, parameters, schema))
  }

  /** A file index over given statuses: zero filesystem calls at
    * planning. The partition spec is `spec` when given, else inferred
    * from the files' parent directories; `roots` defaults to the table
    * directory (files at other depths then need a partition spec).
    */
  class ManifestFileIndex(spark: SparkSession, val tableDir: Path,
      val statuses: Seq[FileStatus], parameters: Map[String, String],
      schema: Option[StructType], spec: Option[PartitionSpec] = None,
      roots: Option[Seq[Path]] = None)
    extends PartitioningAwareFileIndex(spark, parameters, schema) {

    private lazy val partitions: PartitionSpec =
      spec.getOrElse(inferPartitioning())
    override def partitionSpec(): PartitionSpec = partitions

    override val leafFiles
        : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
      statuses.foreach(st => m.update(st.getPath, st))
      m
    }

    override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      statuses.groupBy(_.getPath.getParent)
        .map { case (k, v) => (k, v.toArray) }

    override def rootPaths: Seq[Path] = roots.getOrElse(Seq(tableDir))
    override def refresh(): Unit = ()

    // two scans of one table state plan equal (exchange and subquery
    // reuse compare scans, and so their indexes)
    override def equals(o: Any): Boolean = o match {
      case m: ManifestFileIndex => m.getClass == getClass &&
        m.rootPaths == rootPaths &&
        ((m.statuses eq statuses) || m.leafFiles.keySet == leafFiles.keySet)
      case _ => false
    }
    override def hashCode(): Int = rootPaths.hashCode()
  }
}
