package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FileScan

/** JOURNAL-PINNED LISTINGS — the fallback for the scans that still
  * plan from a directory listing of a journaled table: one whose live
  * set holds stream emission or floor-stamped files, or one planned
  * while its commit lock is held ([[GraftManifestListing]] plans every
  * other journaled table from the journal itself).
  *
  * A listing can hold batch files no commit made live: a commit's
  * published files before its record, a retiring commit's superseded
  * files after it, or files no commit ever recorded (a commit that
  * crashed before its record, a foreign writer). The journal's head
  * ([[GraftCommits.head]]) is the table, so a listing's batch files are
  * pinned to its accounted-live set whenever the listing holds that
  * whole set. A listing that misses an accounted file (the table was
  * changed outside the commit protocol) cannot serve the snapshot: it
  * serves unpinned, with a warning.
  *
  * Stream emission artifacts (epoch-named or floor-stamped files) stay
  * outside the pin: their visibility is epoch-gated by name
  * ([[GraftEqDel]]), and rewrite-deletes materialization renames them
  * without a journaled remove.
  *
  * A retirement executing between this plan and the split's read
  * re-points through [[GraftRetired.FallbackReaderFactory]] (the r12
  * snapshot-isolation fallback) or fails loudly — never silently.
  */
private[sources] object GraftPinnedScan {

  private val warned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test seam: drains the journal caches (a spec that swaps table
    * directories underneath the same path wants fresh replays).
    */
  private[graft] def invalidate(): Unit = {
    GraftCommits.invalidateHeads()
    GraftManifestListing.invalidate()
  }

  private def isStreamArtifact(name: String): Boolean =
    GraftEqDel.emissionOf(name).isDefined || GraftEqDel.hasFloorStamp(name)

  /** Pin a planned split set to the journal's accounted-live snapshot.
    * Thin wrapper over [[keepTest]] — ONE copy of the pin decision.
    */
  def pin(fs: FileSystem, tableDir: Path, scan: FileScan,
      parts: Array[InputPartition]): Array[InputPartition] = {
    if (!parts.forall(_.isInstanceOf[FilePartition])) return parts
    val fps = parts.map(_.asInstanceOf[FilePartition])
    keepTest(fs, tableDir, scan, fps.toSeq.flatMap(_.files)) match {
      case None => parts
      case Some(keep) =>
        val pruned = fps.map(fp => fp.files.filter(keep))
        if (pruned.iterator.zip(fps.iterator)
          .forall { case (ks, fp) => ks.length == fp.files.length }) parts
        else pruned.filter(_.nonEmpty).zipWithIndex
          .map { case (kept, i) => FilePartition(i, kept): InputPartition }
    }
  }

  /** The keep-test alone, for scans that manage their own grouping
    * (the bucketed scan pins within bucket groups so all `n` key
    * groups still get emitted). Returns None = serve unpinned.
    */
  def keepTest(fs: FileSystem, tableDir: Path, scan: FileScan,
      planned: Seq[PartitionedFile]): Option[PartitionedFile => Boolean] =
    try {
      val base = fs.makeQualified(tableDir).toUri.getPath
      def relOf(p: String): Option[String] =
        if (p.startsWith(base + "/"))
          Some(p.stripPrefix(base).stripPrefix("/"))
        else None
      def nameOf(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)
      val acc = GraftCommits.head(fs, tableDir).getOrElse(return None)
        .live.keySet
      def keep(f: PartitionedFile): Boolean =
        relOf(f.toPath.toUri.getPath) match {
          case Some(rel) => isStreamArtifact(nameOf(rel)) || acc(rel)
          case None => true
        }
      if (planned.forall(keep)) return None
      val listed: Set[String] = scan.fileIndex.allFiles()
        .flatMap(st => relOf(st.getPath.toUri.getPath)).toSet
      if (acc.forall(r => isStreamArtifact(nameOf(r)) || listed(r)))
        Some(keep)
      else {
        if (warned.add(tableDir.toString))
          System.err.println(s"[graft] WARN $tableDir: the listing misses " +
            "files the commit journal accounts live (changed outside " +
            "the commit protocol) — serving the listing unpinned")
        None
      }
    } catch { case NonFatal(_) => None }
}
