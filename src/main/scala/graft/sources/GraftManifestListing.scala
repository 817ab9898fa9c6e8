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
  * The journal is the table: a data file no commit recorded (a commit
  * that crashed before its record, a foreign writer) is not served,
  * except that one Spark path write into the table directory is
  * claimed by the next scan ([[GraftCommits.claimPathWrite]]).
  * Three cases still plan from a listing, pinned by [[GraftPinnedScan]]:
  * a table with no journal yet; one whose live set holds stream
  * emission or floor-stamped files (streaming rewrite-deletes renames
  * those without a journaled remove, so the journal is not total
  * there); and any table while its commit lock is held.
  */
private[graft] object GraftManifestListing {

  /** table dir -> (journal fingerprint, live file statuses). */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[FileStatus])]()

  /** Drains the status cache (with [[GraftCommits.invalidateHeads]]). */
  private[graft] def invalidate(): Unit = cache.clear()

  private def nameOf(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)

  /** The live files of the journal's head as qualified statuses, or
    * None = plan from the listing (no journal, a live stream artifact,
    * or a legacy live file that is gone). A legacy live file (recorded
    * before adds carried their info) costs one getFileStatus per JVM,
    * carried across journal states, until the next checkpoint folds
    * its info in.
    */
  def liveStatuses(fs: FileSystem, tableDir: Path): Option[Seq[FileStatus]] = {
    GraftCommits.claimPathWrite(fs, tableDir)
    val head = GraftCommits.head(fs, tableDir).getOrElse(return None)
    if (head.live.keysIterator.exists(rel =>
        GraftEqDel.emissionOf(nameOf(rel)).isDefined ||
          GraftEqDel.hasFloorStamp(nameOf(rel)))) return None
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
          catch { case _: java.io.FileNotFoundException => return None })
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
    // every commit records before it retires, so the journal's head is
    // exact even mid-commit; but a lock holder outside that protocol (a
    // writer of an older version, a hand-held lock) may be moving live
    // files, so while the lock is held the table plans from the pinned
    // listing, which serves the listing when an accounted file is gone
    if (fs.exists(GraftCommitLock.lockPath(tableDir))) None
    else liveStatuses(fs, tableDir).map(statuses => new ManifestFileIndex(
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
