package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-table COMMIT JOURNAL — the feed positions and file accounting
  * behind batch-DML change capture and per-commit time travel (r14
  * verdict items 1–2; Delta's `_delta_log` / Iceberg's snapshot
  * metadata re-expressed as one tiny record file per commit, written
  * inside the commit-lock critical section every batch publish already
  * runs under).
  *
  * Every ROW-CHANGING batch commit appends one record carrying:
  *
  *  - `id` — the table's monotonic commit sequence, assigned under the
  *    table commit lock ([[GraftCommitLock]] serializes committers, so
  *    max+1 is race-free). Batch `_change_epoch` values ARE these ids.
  *  - `adds` — relative paths the commit made visible;
  *  - `removes` — relative paths the commit retired, each with the
  *    tombstone commit directory ([[GraftRetired]]) that preserves its
  *    bytes (empty = not preserved: the preimage is unservable);
  *  - `dv` — per-file row ordinals NEWLY deleted by a merge-on-read
  *    DELETE (the delta, not the merged vector — replaying the deltas
  *    reconstructs any commit's deletion state exactly).
  *
  * Kinds split three ways:
  *
  *  - FEED-VISIBLE (`append`, `overwrite`, `rewrite`, `delete`,
  *    `mor_delete`): served by `<t>.changes` as insert/delete rows.
  *  - FLOOR (`genesis`, `replace`, `rollback`): account for files
  *    whose row-level history is NOT captured — the pre-journal
  *    generation, a full replace that superseded every row, or a
  *    rollback that rewrote history out from under mid-stream
  *    consumers. The feed serves only ids ABOVE the max floor;
  *    explicit bounds at or below it refuse loudly (the same contract
  *    as the streaming rewrite-deletes horizon). Consumers
  *    re-bootstrap from table state. A rollback record's `dv` is the
  *    ABSOLUTE post-rollback deletion state (replay resets to it),
  *    not a delta.
  *  - NEUTRAL (`maintenance`): file churn with no logical row change
  *    (compaction) — accounted, never fed.
  *
  * The journal is the table's file list: every catalog scan of a
  * journaled table plans from the live set at its head ([[head]],
  * [[GraftManifestListing]]), each add carrying the length and mtime a
  * scan plans it with ([[FileInfo]]). A table whose journal is empty
  * (its files predate journaling, or were written outside the catalog)
  * plans from a listing until its first journaled commit claims those
  * files under a `genesis` floor record. A journal begun before stream
  * epochs and rewrite_deletes recorded their files lacks the
  * [[complete]] mark; its next commit first records what its reads
  * served that the head lacks ([[upgrade]]). A file a journal-bypassing
  * writer adds to a journaled table is not served, and the feed
  * refuses it loudly (unaccounted files); `CALL system.compact` (a
  * full replace) resets the table to a servable state.
  *
  * The record is the commit: every commit that publishes or retires
  * data files (hive-layout and copy-on-write rewrites, metadata-only
  * and partition-emptying deletes, both rewrite_deletes, rollback,
  * stream epochs) records after its publish and before its retire or
  * epoch marker, under the lock, and a failed record fails the commit
  * and unpublishes its new files ([[recordOrUnpublish]]). A crash
  * before the record leaves published files no read plans (the
  * pre-commit state); a crash after it leaves superseded files in
  * place, no longer planned (the post-commit state). Only merge-on-read
  * deletes, whose deletion vectors are their commit point and which
  * publish no data file, journal best effort ([[tryRecord]]).
  *
  * Scale: one O(100 B) record per commit; assignment lists ONLY the
  * journal directory (bounded by commit count, prunable with history
  * expiry); no data listing beyond what the owning commit already
  * performs. Stream epochs journal like batch commits
  * ([[StreamEpochKind]], recorded before each epoch's marker under the
  * same table lock; a redelivered epoch the journal already names is
  * found by [[streamEpochRecorded]] and not recorded twice): on a
  * stream-only table the changes feed still serves from the emission
  * file names, but as soon as any BATCH row-changing kind appears the
  * journal IS the interleaved history and `<t>.changes` serves both
  * stream epochs and batch DML on one monotonic commit-id axis
  * ([[GraftChanges]]).
  */
private[graft] object GraftCommits {

  val DirName = "_graft_commits"

  /** Write option carrying the note ([[Rec.note]]) an append or full
    * replace records, e.g. the source file an ingest loaded — Delta's
    * `txnAppId` idempotency marker re-expressed.
    */
  val NoteOption = "commitNote"

  /** Feed-visible BATCH row-changing kinds (`_change_type` mapping:
    * adds → insert, removes/dv → delete, UPDATE/MERGE notes → update
    * pairs). Presence of any of these selects the journal-axis feed.
    */
  val FeedKinds: Set[String] =
    Set("append", "overwrite", "rewrite", "delete", "mor_delete")

  /** STREAM-epoch kind (r15 verdict item 2 — one monotonic feed axis
    * for tables maintained by both streams and batch DML): every
    * append-mode and equality-upsert epoch commit records one record
    * under the same table lock batch commits use, with `adds` = the
    * epoch's emission file rels and `note` = `tag:epoch`. Scans plan
    * the epoch's files from it like any add; on a STREAM-ONLY table the
    * classic epoch-axis feed still serves from the file names, and as
    * soon as a batch kind appears the journal IS the interleaved
    * history and the feed serves both on commit-id positions.
    */
  val StreamEpochKind = "stream_epoch"

  /** Kinds that FLOOR the feed: history at or below them is not
    * row-level-servable.
    */
  val FloorKinds: Set[String] = Set("genesis", "replace", "rollback")

  val NeutralKinds: Set[String] = Set("maintenance")

  final case class Remove(rel: String, tomb: String)

  /** A data file's length and modification time as its commit saw
    * them: what a scan plans the file with instead of a listing.
    */
  final case class FileInfo(len: Long, mtime: Long)

  /** Per-commit PREIMAGE SIDECARS (Delta CDF's `_change_data` folder
    * re-expressed): a merge-on-read UPDATE/DELETE/MERGE captures the
    * exact rows its deletion-vector positions replaced — written by the
    * operation's own tasks (which already decode every touched row for
    * ordinal integrity) into `<table>.__pre/<stamp>/<rel-layout>`, a
    * SIBLING of the table dir like `.__retired`, never part of any data
    * listing. The changes feed serves `delete`/`update_preimage` rows
    * from these files directly instead of re-reading whole data files
    * and discarding the unmatched ~90% (the 100 TB read-amplification
    * fix). Purely an ACCESS PATH: the `dv` ordinals stay the row-level
    * truth (replay, time travel, accounting), and a missing sidecar —
    * GC'd, or a legacy record — falls back to the exact ordinal read.
    */
  def preRoot(tableDir: Path): Path =
    new Path(tableDir.getParent, tableDir.getName + ".__pre")

  /** Free-form record annotation (5th header column, absent on legacy
    * records): row-level commits carry their originating COMMAND
    * (`update` / `merge` / `delete`) so the changes feed can label
    * Delta-CDF update pairs; stream-epoch records carry `tag:epoch`.
    */
  final case class Rec(id: Long, kind: String, ts: Long,
      adds: Seq[String], removes: Seq[Remove],
      dv: Map[String, Array[Long]], note: String = "",
      // preimage sidecar paths relative to [[preRoot]]
      // (`<stamp>/<rel>`), row-parallel to the dv positions — see
      // [[preRoot]]; empty on legacy records and non-capturing commits
      pre: Seq[String] = Nil,
      // length and mtime of each add at its commit; absent on legacy
      // records and on commits that did not stat their files
      info: Map[String, FileInfo] = Map.empty) {
    require(FeedKinds(kind) || FloorKinds(kind) || NeutralKinds(kind) ||
      kind == StreamEpochKind, s"unknown commit kind '$kind'")
    def feedVisible: Boolean = FeedKinds(kind) || kind == StreamEpochKind
    /** Batch row-changing: selects the journal-axis feed mode. */
    def batchVisible: Boolean = FeedKinds(kind)
    def isFloor: Boolean = FloorKinds(kind)
    /** (tag, epoch) of a stream-epoch record, from its note. */
    def streamEpoch: Option[(String, Long)] =
      if (kind != StreamEpochKind) None
      else note.split(':') match {
        case Array(t, e) => scala.util.Try((t, e.toLong)).toOption
        case _ => None
      }
  }

  def dir(tableDir: Path): Path = new Path(tableDir, DirName)

  def exists(fs: FileSystem, tableDir: Path): Boolean =
    try fs.exists(dir(tableDir)) && fs.listStatus(dir(tableDir))
      .exists(st => st.getPath.getName.endsWith(".rec") ||
        st.getPath.getName.endsWith(".ck"))
    catch { case _: java.io.FileNotFoundException => false }

  // ---- record codec (TSV + base64, the sidecar house style) -------------

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  private def recName(id: Long): String = f"c$id%012d.rec"

  private def render(r: Rec): String = {
    val sb = new StringBuilder
    // note rides as a 5th header column; b64("") renders empty and
    // split drops the trailing field, so legacy parsers stay compatible
    sb.append(s"v1\t${r.id}\t${r.kind}\t${r.ts}\t${b64(r.note)}\n")
    r.adds.foreach { a =>
      sb.append(s"A\t${b64(a)}")
      r.info.get(a).foreach(i => sb.append(s"\t${i.len}\t${i.mtime}"))
      sb.append('\n')
    }
    r.removes.foreach(rm => sb.append(s"R\t${b64(rm.rel)}\t${b64(rm.tomb)}\n"))
    r.dv.foreach { case (rel, ords) =>
      sb.append(s"D\t${b64(rel)}\t${ords.mkString(",")}\n")
    }
    r.pre.foreach(p => sb.append(s"P\t${b64(p)}\n"))
    sb.toString
  }

  private def parse(txt: String): Rec = {
    val lines = txt.split('\n').filter(_.nonEmpty)
    val hdr = lines.head.split('\t')
    require(hdr.length >= 4 && hdr(0) == "v1", s"bad commit record: $txt")
    val adds = Seq.newBuilder[String]
    val removes = Seq.newBuilder[Remove]
    val dv = Map.newBuilder[String, Array[Long]]
    val pre = Seq.newBuilder[String]
    val info = Map.newBuilder[String, FileInfo]
    lines.tail.foreach { ln =>
      val f = ln.split('\t')
      f(0) match {
        case "A" =>
          val rel = unb64(f(1))
          adds += rel
          if (f.length > 3) info += rel -> FileInfo(f(2).toLong, f(3).toLong)
        case "R" => removes += Remove(unb64(f(1)),
          if (f.length > 2) unb64(f(2)) else "")
        case "D" => dv += (unb64(f(1)) ->
          (if (f.length > 2 && f(2).nonEmpty)
            f(2).split(',').map(_.toLong) else Array.empty[Long]))
        case "P" => pre += unb64(f(1))
        case other => throw new IllegalStateException(
          s"bad commit record line tag '$other'")
      }
    }
    Rec(hdr(1).toLong, hdr(2), hdr(3).toLong,
      adds.result(), removes.result(), dv.result(),
      note = if (hdr.length > 4 && hdr(4).nonEmpty) unb64(hdr(4)) else "",
      pre = pre.result(), info = info.result())
  }

  /** All RETAINED records, id-ascending. One listStatus of the journal
    * dir + one small read per record — bounded by RETENTION, not
    * all-time commit count, once checkpoint + expiry prune the prefix.
    */
  def list(fs: FileSystem, tableDir: Path): Seq[Rec] = {
    val d = dir(tableDir)
    val statuses =
      try fs.listStatus(d)
      catch { case _: java.io.FileNotFoundException => return Nil }
    statuses.toSeq.filter(st => st.isFile &&
        st.getPath.getName.matches("c\\d{12}\\.rec"))
      .map { st =>
        val in = fs.open(st.getPath)
        try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }.sortBy(_.id)
  }

  // ---- checkpoints (r15 verdict item 3: Delta-style log compaction) -----

  /** The journal's replayed state folded to ONE file. `id` = last
    * record included; `floor` = the expiry floor — records at or below
    * it may have been deleted (history there is not addressable);
    * `batch` = whether any batch row-changing kind was ever folded
    * (keeps journal-axis feed-mode selection stable after stream-only
    * tails); `files` = rel -> the ADDING commit id (instance
    * resolution needs the original add position); `dv` = the absolute
    * per-file deleted ordinals as of `id`; `info` = the live files'
    * recorded [[FileInfo]]; `notes` = the notes of the folded commits
    * that added a live file, by commit id.
    */
  final case class Checkpoint(id: Long, ts: Long, floor: Long,
      batch: Boolean, files: Map[String, Long],
      dv: Map[String, Array[Long]],
      info: Map[String, FileInfo] = Map.empty,
      notes: Map[Long, String] = Map.empty)

  /** Records per checkpoint (assignment/stateAt read at most this many
    * record files once a checkpoint exists). Overridable per session
    * via `spark.graft.commits.checkpointInterval`.
    */
  val CheckpointIntervalDefault = 20

  private def checkpointInterval: Int =
    try org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.commits.checkpointInterval")
      .map(_.toInt).getOrElse(CheckpointIntervalDefault)
    catch { case NonFatal(_) => CheckpointIntervalDefault }

  private def ckName(id: Long): String = f"ck$id%012d.ck"
  private val CkNameRe = "ck(\\d{12})\\.ck".r
  private val RecNameRe = "c(\\d{12})\\.rec".r

  private def renderCk(c: Checkpoint): String = {
    val sb = new StringBuilder
    sb.append(s"ckv1\t${c.id}\t${c.ts}\t${c.floor}\t${if (c.batch) 1 else 0}\n")
    c.files.toSeq.sortBy(_._1).foreach { case (rel, addId) =>
      sb.append(s"F\t${b64(rel)}\t$addId")
      c.info.get(rel).foreach(i => sb.append(s"\t${i.len}\t${i.mtime}"))
      sb.append('\n')
    }
    c.notes.toSeq.sortBy(_._1).foreach { case (id, note) =>
      sb.append(s"N\t$id\t${b64(note)}\n")
    }
    c.dv.toSeq.sortBy(_._1).foreach { case (rel, ords) =>
      sb.append(s"D\t${b64(rel)}\t${ords.mkString(",")}\n")
    }
    sb.toString
  }

  private def parseCk(txt: String): Checkpoint = {
    val lines = txt.split('\n').filter(_.nonEmpty)
    val hdr = lines.head.split('\t')
    require(hdr.length >= 5 && hdr(0) == "ckv1",
      s"bad commit checkpoint: ${lines.head}")
    val files = Map.newBuilder[String, Long]
    val dv = Map.newBuilder[String, Array[Long]]
    val info = Map.newBuilder[String, FileInfo]
    val notes = Map.newBuilder[Long, String]
    lines.tail.foreach { ln =>
      val f = ln.split('\t')
      f(0) match {
        case "F" =>
          val rel = unb64(f(1))
          files += (rel -> f(2).toLong)
          if (f.length > 4) info += rel -> FileInfo(f(3).toLong, f(4).toLong)
        case "N" => notes += (f(1).toLong -> unb64(f(2)))
        case "D" => dv += (unb64(f(1)) ->
          (if (f.length > 2 && f(2).nonEmpty)
            f(2).split(',').map(_.toLong) else Array.empty[Long]))
        case other => throw new IllegalStateException(
          s"bad checkpoint line tag '$other'")
      }
    }
    Checkpoint(hdr(1).toLong, hdr(2).toLong, hdr(3).toLong, hdr(4) == "1",
      files.result(), dv.result(), info.result(), notes.result())
  }

  /** (checkpoint ids, record ids) from one listStatus — NAMES only, no
    * content reads; id assignment needs nothing more.
    */
  private def idsByName(fs: FileSystem, tableDir: Path)
      : (Seq[Long], Seq[Long]) = {
    val statuses =
      try fs.listStatus(dir(tableDir))
      catch { case _: java.io.FileNotFoundException =>
        return (Nil, Nil) }
    val cks = Seq.newBuilder[Long]
    val recIds = Seq.newBuilder[Long]
    statuses.foreach { st =>
      st.getPath.getName match {
        case CkNameRe(i) => cks += i.toLong
        case RecNameRe(i) => recIds += i.toLong
        case _ => ()
      }
    }
    (cks.result().sorted, recIds.result().sorted)
  }

  def latestCheckpoint(fs: FileSystem, tableDir: Path)
      : Option[Checkpoint] = {
    val (cks, _) = idsByName(fs, tableDir)
    cks.lastOption.map(readCk(fs, tableDir, _))
  }

  /** Latest checkpoint + the records ABOVE it (the tail) — the
    * bounded-read load every assignment/state path uses. No
    * checkpoint = (None, all retained records).
    */
  def load(fs: FileSystem, tableDir: Path)
      : (Option[Checkpoint], Seq[Rec]) = {
    val ck = latestCheckpoint(fs, tableDir)
    val after = ck.map(_.id).getOrElse(-1L)
    val d = dir(tableDir)
    val statuses =
      try fs.listStatus(d)
      catch { case _: java.io.FileNotFoundException => return (ck, Nil) }
    val tail = statuses.toSeq.flatMap { st =>
      st.getPath.getName match {
        case RecNameRe(i) if i.toLong > after =>
          val in = fs.open(st.getPath)
          try Some(parse(
            scala.io.Source.fromInputStream(in, "UTF-8").mkString))
          finally in.close()
        case _ => None
      }
    }.sortBy(_.id)
    (ck, tail)
  }

  /** Newest journal position from file NAMES only — one listStatus,
    * zero content reads. −1 = empty/absent journal. Matches
    * max(commit_id) over the `.commits` metadata rows: with retained
    * records the newest record wins; with a fully-expired tail the
    * boundary row is the latest checkpoint, whose id IS the last
    * record it folded — the name-max is the same id either way. The
    * cheap answer to "did anything commit since position X?" (MV
    * refresh positions, stability re-checks) without a SQL execution.
    */
  def lastId(fs: FileSystem, tableDir: Path): Long = {
    val (cks, recIds) = idsByName(fs, tableDir)
    (cks.lastOption.toSeq ++ recIds.lastOption).maxOption.getOrElse(-1L)
  }

  /** The first RETAINED record — the feed-identity anchor
    * ([[graft.sources.GraftChanges]] BatchFeed.feedId = first record's
    * `ts-id`). Content-reads exactly ONE file (the lowest record id by
    * name) instead of parsing the whole journal. None = no retained
    * records.
    */
  def firstRec(fs: FileSystem, tableDir: Path): Option[Rec] = {
    val (_, recIds) = idsByName(fs, tableDir)
    recIds.headOption.map { id =>
      val in = fs.open(new Path(dir(tableDir), recName(id)))
      try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Record `id`, or None when its file is gone (expired). */
  private def recAt(fs: FileSystem, tableDir: Path, id: Long): Option[Rec] =
    try {
      val in = fs.open(new Path(dir(tableDir), recName(id)))
      try Some(parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def writeCk(fs: FileSystem, tableDir: Path,
      c: Checkpoint): Unit = {
    val d = dir(tableDir)
    fs.mkdirs(d)
    val fin = new Path(d, ckName(c.id))
    val tmp = new Path(d, "." + ckName(c.id) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(renderCk(c).getBytes("UTF-8")) finally out.close()
    GraftDv.replaceAtomic(fs, tmp, fin)
    // older checkpoints are KEPT (the Delta shape): serving a
    // mid-history commit after expiry needs a checkpoint at or below
    // it — expiry prunes the ones below the floor
  }

  private def readCk(fs: FileSystem, tableDir: Path, id: Long)
      : Checkpoint = {
    val in = fs.open(new Path(dir(tableDir), ckName(id)))
    try parseCk(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Newest checkpoint at or below `id` — the replay base for serving
    * that position.
    */
  def checkpointAtOrBefore(fs: FileSystem, tableDir: Path, id: Long)
      : Option[Checkpoint] =
    try {
      val (cks, _) = idsByName(fs, tableDir)
      cks.filter(_ <= id).lastOption.map(readCk(fs, tableDir, _))
    } catch {
      // expiry pruned a checkpoint between our listing and the open:
      // one re-listing sees the post-expiry state
      case _: java.io.FileNotFoundException =>
        val (cks, _) = idsByName(fs, tableDir)
        cks.filter(_ <= id).lastOption.map(readCk(fs, tableDir, _))
    }

  /** State (files + dv) at the given checkpoint+tail position, plus
    * the records instance resolution needs. Replays from the
    * checkpoint when `id` is at or above it (≤ tail-length record
    * reads); otherwise requires the FULL prefix 0..id on disk —
    * expired history refuses loudly.
    */
  def stateAndRecs(fs: FileSystem, tableDir: Path, id: Long)
      : (Seq[Rec], Map[String, Long], Map[String, Array[Long]]) = {
    val (ckOpt, tail) = load(fs, tableDir)
    val maxId = (ckOpt.map(_.id).toSeq ++ tail.lastOption.map(_.id))
      .foldLeft(-1L)(math.max)
    require(id >= 0 && id <= maxId,
      s"$tableDir has no commit $id (journal through $maxId)")
    // replay base: the newest checkpoint AT OR BELOW the target —
    // checkpoints are kept per fold (the Delta shape), so any retained
    // position has a base even after expiry prunes the prefix
    checkpointAtOrBefore(fs, tableDir, id) match {
      case Some(ck) =>
        val recs = list(fs, tableDir)
        val between = recs.filter(r => r.id > ck.id && r.id <= id)
        require((ck.id + 1 to id).forall(i => between.exists(_.id == i)),
          s"$tableDir: commit $id is not reconstructable — records " +
            s"between checkpoint ${ck.id} and $id were expired")
        val files =
          scala.collection.mutable.LinkedHashMap.from(ck.files)
        val dv = scala.collection.mutable.Map.empty[
          String, scala.collection.mutable.SortedSet[Long]]
        ck.dv.foreach { case (rel, ords) =>
          dv(rel) = scala.collection.mutable.SortedSet.from(ords)
        }
        replayInto(files, dv, between)
        (recs.filter(_.id > ck.id), files.toMap,
          dv.map { case (k, v) => (k, v.toArray) }.toMap)
      case None =>
        val recs = list(fs, tableDir)
        val ids = recs.map(_.id).toSet
        require((0L to id).forall(ids.contains),
          s"$tableDir: commit $id predates the journal's expired " +
            "prefix (expire_versions dropped its records) — that " +
            "history is no longer addressable")
        val (f, d) = stateAt(recs, id)
        (recs, f, d)
    }
  }

  /** Fold everything at or below `atId` into a checkpoint. Caller
    * holds the table commit lock (or is inside record()'s critical
    * section).
    */
  private def checkpointAt(fs: FileSystem, tableDir: Path,
      atId: Long, all: (Option[Checkpoint], Seq[Rec])): Unit = {
    val (ckOpt, tail) = all
    val folded = tail.filter(_.id <= atId)
    val files = scala.collection.mutable.LinkedHashMap
      .from(ckOpt.map(_.files).getOrElse(Map.empty[String, Long]))
    val dv = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.SortedSet[Long]]
    ckOpt.foreach(_.dv.foreach { case (rel, ords) =>
      dv(rel) = scala.collection.mutable.SortedSet.from(ords)
    })
    replayInto(files, dv, folded)
    val floor = (ckOpt.map(_.floor).getOrElse(-1L) +:
      folded.filter(_.isFloor).map(_.id)).max
    val batch = ckOpt.exists(_.batch) || folded.exists(_.batchVisible)
    val known = ckOpt.map(_.info).getOrElse(Map.empty[String, FileInfo]) ++
      folded.flatMap(_.info)
    // a live file recorded before adds carried their info is stat'ed
    // once here, so scans stop paying a getFileStatus for it
    val info = files.keysIterator.flatMap { rel =>
      known.get(rel).orElse(
        try {
          val st = fs.getFileStatus(new Path(tableDir, rel))
          Some(FileInfo(st.getLen, st.getModificationTime))
        } catch { case _: java.io.FileNotFoundException => None })
        .map(rel -> _)
    }.toMap
    val addIds = files.values.toSet
    val notes = (ckOpt.map(_.notes).getOrElse(Map.empty[Long, String]) ++
      folded.filter(_.note.nonEmpty).map(r => r.id -> r.note))
      .filter { case (id, _) => addIds(id) }
    writeCk(fs, tableDir, Checkpoint(atId, System.currentTimeMillis(),
      floor, batch, files.toMap,
      dv.map { case (k, v) => (k, v.toArray) }.toMap, info, notes))
  }

  /** EXPIRE the journal prefix at or below the retention floor (the
    * max genesis/replace/rollback record id): fold it into a
    * checkpoint first — accounting and state stay total — then drop
    * the record files. History at or below the floor was never
    * feed-servable; after expiry it is no longer TIME-addressable
    * either (the same trade as tombstone GC). Returns records dropped.
    */
  def expire(fs: FileSystem, tableDir: Path): Int = {
    var dropped = 0
    GraftCommitLock.withLock(fs, tableDir, "journal-expire") {
      val (ckOpt, tail) = load(fs, tableDir)
      val floor = (ckOpt.map(_.floor).getOrElse(-1L) +:
        tail.filter(_.isFloor).map(_.id)).max
      if (floor >= 0) {
        // a checkpoint AT the floor must exist before the prefix goes:
        // it is the replay base for every retained position above it
        val (cks0, _) = idsByName(fs, tableDir)
        if (!cks0.contains(floor)) {
          val base = checkpointAtOrBefore(fs, tableDir, floor)
          val recs = list(fs, tableDir)
          checkpointAt(fs, tableDir, floor,
            (base, recs.filter(r => r.id > base.map(_.id).getOrElse(-1L))))
        }
        val (cks, recIds) = idsByName(fs, tableDir)
        recIds.filter(_ <= floor).foreach { i =>
          if (fs.delete(new Path(dir(tableDir), recName(i)), false))
            dropped += 1
        }
        // checkpoints strictly below the floor one are unreachable
        cks.filter(_ < floor).foreach(i =>
          try fs.delete(new Path(dir(tableDir), ckName(i)), false)
          catch { case NonFatal(_) => () })
      }
    }
    dropped
  }

  // ---- recording (caller holds the table commit lock) -------------------

  /** The accounting universe: every visible data file as a table-
    * relative path, with its listed [[FileInfo]] — what a table with no
    * journal serves, and so what its `genesis` record claims.
    */
  def universe(fs: FileSystem, tableDir: Path): Set[String] =
    visibleInfo(fs, tableDir).keySet

  private def visibleInfo(fs: FileSystem, tableDir: Path)
      : Map[String, FileInfo] = {
    val base = fs.makeQualified(tableDir).toUri.getPath
    GraftEvolved.listVisible(fs, tableDir)
      .map(st => fs.makeQualified(st.getPath).toUri.getPath
        .stripPrefix(base).stripPrefix("/") ->
        FileInfo(st.getLen, st.getModificationTime))
      .toMap
  }

  /** Present once the journal names every file its table serves:
    * written with a journal's first record. A journal begun before
    * stream epochs and rewrite_deletes recorded their files lacks it
    * until its next commit runs [[upgrade]].
    */
  private val CompleteMark = "complete"

  private[graft] def completeMark(tableDir: Path): Path =
    new Path(dir(tableDir), CompleteMark)

  /** Whether the journal names every file its table serves. */
  def complete(fs: FileSystem, tableDir: Path): Boolean =
    fs.exists(completeMark(tableDir))

  private def markComplete(fs: FileSystem, tableDir: Path): Unit = {
    fs.mkdirs(dir(tableDir))
    fs.create(completeMark(tableDir), true).close()
  }

  /** The one-time upgrade of a journal begun before every commit
    * recorded its files: stream epochs recorded best effort, and
    * rewrite_deletes renamed and rewrote stream files unrecorded.
    * Reads of such a table planned from a listing: pinned to the
    * journal's batch files plus every stream-named file when the head
    * held stream files and its batch files were all there, the journal
    * itself when it held none and its unstatted files were there, the
    * listing unpinned otherwise. One `maintenance` record adds what
    * those reads served that the head lacks and removes, with no
    * tombstone, the live files they did not serve (gone); then the
    * journal is marked complete. `inFlight`: the files the calling
    * commit publishes or retires, which its own record accounts.
    * Caller holds the commit lock.
    */
  private def upgrade(fs: FileSystem, tableDir: Path,
      inFlight: String => Boolean): Unit =
    head(fs, tableDir).foreach { h =>
      val listed = visibleInfo(fs, tableDir)
      val live = h.live.keySet
      def stream(rel: String): Boolean = {
        val name = rel.substring(rel.lastIndexOf('/') + 1)
        GraftEqDel.emissionOf(name).isDefined || GraftEqDel.hasFloorStamp(name)
      }
      val (liveStream, liveBatch) = live.partition(stream)
      val served =
        if (liveStream.nonEmpty && liveBatch.forall(listed.contains))
          liveBatch ++ listed.keySet.filter(stream)
        else if (liveStream.isEmpty &&
            live.forall(r => h.info.contains(r) || listed.contains(r))) live
        else listed.keySet
      val adds = (served -- live).filterNot(inFlight).toSeq.sorted
      val removes = (live -- served).filterNot(inFlight).toSeq.sorted
      if (adds.nonEmpty || removes.nonEmpty)
        writeRec(fs, tableDir, Rec(lastId(fs, tableDir) + 1, "maintenance",
          System.currentTimeMillis(), adds, removes.map(Remove(_, "")),
          Map.empty, note = "journal-upgrade",
          info = adds.map(r => r -> listed(r)).toMap))
      markComplete(fs, tableDir)
    }

  def relOf(fs: FileSystem, tableDir: Path, p: Path): String = {
    val base = fs.makeQualified(tableDir).toUri.getPath
    val q = fs.makeQualified(p).toUri.getPath
    require(q.startsWith(base + "/"),
      s"commit journal: $p is not under $tableDir")
    q.stripPrefix(base).stripPrefix("/")
  }

  private def writeRec(fs: FileSystem, tableDir: Path, r: Rec): Unit = {
    val d = dir(tableDir)
    fs.mkdirs(d)
    // ATOMIC tmp+rename, not create-then-write: journal readers run
    // lock-free (feed censuses, scan planning) and a reader
    // opening the record between create and close used to parse an
    // EMPTY file. Ids are assigned under the commit lock, so the
    // deterministic name never races another writer.
    val fin = new Path(d, recName(r.id))
    val tmp = new Path(d, "." + recName(r.id) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(render(r).getBytes("UTF-8"))
    finally out.close()
    GraftDv.replaceAtomic(fs, tmp, fin)
  }

  /** Append one commit record. MUST run inside the table's commit-lock
    * critical section, after the commit's files are in place. If the
    * journal is empty and OTHER visible data files exist (the
    * pre-journal generation, stream-named files included), a `genesis`
    * floor record claims them first so the journal serves what the
    * listing did; a journal that is not [[complete]] is upgraded
    * first. `info` carries the adds' lengths
    * and mtimes, which scans plan with. Returns the assigned commit id.
    */
  def record(fs: FileSystem, tableDir: Path, kind: String,
      adds: Seq[String], removes: Seq[Remove] = Nil,
      dv: Map[String, Array[Long]] = Map.empty,
      note: String = "", pre: Seq[String] = Nil,
      info: Map[String, FileInfo] = Map.empty): Long = {
    if (!complete(fs, tableDir)) {
      val inFlight = adds.toSet ++ removes.map(_.rel)
      upgrade(fs, tableDir, inFlight)
    }
    // id assignment from NAMES only — no record-content reads
    val (cks, recIds) = idsByName(fs, tableDir)
    var nextId = (cks ++ recIds).maxOption.map(_ + 1).getOrElse(0L)
    if (cks.isEmpty && recIds.isEmpty) {
      markComplete(fs, tableDir)
      val others = visibleInfo(fs, tableDir) -- adds -- removes.map(_.rel)
      if (others.nonEmpty) {
        writeRec(fs, tableDir, Rec(nextId, "genesis",
          System.currentTimeMillis(), others.keys.toSeq.sorted, Nil,
          Map.empty, info = others))
        nextId += 1
      }
    }
    writeRec(fs, tableDir,
      Rec(nextId, kind, System.currentTimeMillis(), adds, removes, dv,
        note, pre, info))
    maybeCheckpoint(fs, tableDir)
    nextId
  }

  /** Runs a commit's record; when it fails, deletes the files the
    * commit published that the journal does not account, then
    * rethrows. No read planned those files, so the table stays exactly
    * at its pre-commit state and leaves nothing behind.
    */
  def recordOrUnpublish[T](fs: FileSystem, tableDir: Path,
      published: => Seq[Path])(rec: => T): T =
    try rec
    catch { case NonFatal(e) =>
      try {
        val live = head(fs, tableDir).fold(Set.empty[String])(_.live.keySet)
        published.filterNot(p => live(relOf(fs, tableDir, p)))
          .foreach(fs.delete(_, false))
      } catch { case NonFatal(_) => () }
      throw e
    }

  /** The rel paths `recs` account as live: every record's adds minus
    * later removes.
    */
  def accountedLive(recs: Seq[Rec]): Set[String] = {
    val files = scala.collection.mutable.HashSet.empty[String]
    recs.foreach { r =>
      r.removes.foreach(rm => files -= rm.rel)
      files ++= r.adds
    }
    files.toSet
  }

  /** Fold at the configured cadence: once the tail reaches the
    * checkpoint interval, fold it into a fresh checkpoint. Best-effort
    * derived metadata (same posture as tryRecord) — runs inside the
    * caller's commit critical section.
    */
  private def maybeCheckpoint(fs: FileSystem, tableDir: Path): Unit =
    try {
      val (cks, recIds) = idsByName(fs, tableDir)
      val after = cks.maxOption.getOrElse(-1L)
      if (recIds.count(_ > after) >= checkpointInterval) {
        val all = load(fs, tableDir)
        checkpointAt(fs, tableDir, recIds.max, all)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[graft] WARN commit journal: checkpoint on " +
        s"$tableDir failed: ${e.getMessage}")
    }

  /** Best-effort journaling for the one commit path whose record is
    * not its commit point: a merge-on-read delete, whose deletion
    * vectors commit it and which publishes no data file. A failure to
    * record does not fail a commit that already took effect (the feed's
    * accounting check turns the gap into a loud refusal instead).
    */
  def tryRecord(fs: FileSystem, tableDir: Path, kind: String,
      dv: => Map[String, Array[Long]], note: String,
      pre: => Seq[String]): Unit =
    try { record(fs, tableDir, kind, Nil, Nil, dv, note, pre); () }
    catch { case NonFatal(e) => logWarn(tableDir, kind, e) }

  private def logWarn(tableDir: Path, kind: String, e: Throwable): Unit =
    System.err.println(s"[graft] WARN commit journal: could not record " +
      s"$kind on $tableDir: ${e.getMessage} — the changes feed will " +
      "refuse until CALL system.compact resets the table")

  /** The record of stream epoch `tag:epoch`, when the journal already
    * holds it: a redelivered epoch whose earlier attempt crashed after
    * its record. Reads retained records newest first and stops at the
    * first record of `tag` — epochs of one stream commit in order, so
    * an older record of the stream means this epoch never recorded.
    * Caller holds the table commit lock.
    */
  def streamEpochRecorded(fs: FileSystem, tableDir: Path, tag: String,
      epoch: Long): Option[Rec] = {
    val (_, recIds) = idsByName(fs, tableDir)
    recIds.reverseIterator.flatMap(recAt(fs, tableDir, _))
      .find(_.streamEpoch.exists(_._1 == tag))
      .filter(_.streamEpoch.contains((tag, epoch)))
  }

  // ---- the head (what reads plan from) ----------------------------------

  /** The journal at its newest commit: `last` = that commit's record
    * (None when it was expired), `live` = rel -> the adding commit id,
    * `info` = the [[FileInfo]] recorded for live files, `notes` =
    * commit notes by id for the commits that added a live file.
    * `fingerprint` names the journal state it was read at.
    */
  final case class Head(fingerprint: String, last: Option[Rec],
      live: Map[String, Long], info: Map[String, FileInfo],
      notes: Map[Long, String])

  /** tableDir -> the last [[Head]] read. Records and checkpoints are
    * immutable once written and ids only grow, so a journal directory
    * whose file names, lengths and mtimes are unchanged holds the same
    * head: one listStatus proves a cached head current.
    */
  private val heads =
    new java.util.concurrent.ConcurrentHashMap[String, Head]()

  /** Drains the head cache (specs that rebuild a table underneath the
    * same path want fresh replays).
    */
  private[graft] def invalidateHeads(): Unit = heads.clear()

  /** The table's journal head, or None when it has no journal. One
    * listStatus of the journal directory; records are parsed only when
    * it changed since the last call.
    */
  def head(fs: FileSystem, tableDir: Path): Option[Head] = {
    val key = fs.makeQualified(tableDir).toString
    val sts =
      try fs.listStatus(dir(tableDir))
      catch { case _: java.io.FileNotFoundException =>
        heads.remove(key); return None }
    val named = sts.filter(st => st.getPath.getName match {
      case CkNameRe(_) | RecNameRe(_) => true
      case _ => false
    }).sortBy(_.getPath.getName)
    if (named.isEmpty) { heads.remove(key); return None }
    val fp = named.iterator.map(st =>
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(",")
    val cached = heads.get(key)
    if (cached != null && cached.fingerprint == fp) return Some(cached)
    val (ck, tail) = load(fs, tableDir)
    val files = scala.collection.mutable.LinkedHashMap
      .from(ck.map(_.files).getOrElse(Map.empty[String, Long]))
    replayInto(files, scala.collection.mutable.Map.empty, tail)
    val live = files.toMap
    val info = (ck.map(_.info).getOrElse(Map.empty[String, FileInfo]) ++
      tail.flatMap(_.info)).filter { case (rel, _) => live.contains(rel) }
    val addIds = live.values.toSet
    val notes = (ck.map(_.notes).getOrElse(Map.empty[Long, String]) ++
      tail.filter(_.note.nonEmpty).map(r => r.id -> r.note))
      .filter { case (id, _) => addIds(id) }
    // a checkpoint folds the record it ends at; the record file stays
    // until expiry
    val last = tail.lastOption.orElse(ck.flatMap(c => recAt(fs, tableDir, c.id)))
    val h = Head(fp, last, live, info, notes)
    heads.put(key, h)
    Some(h)
  }

  // ---- replay (per-commit time travel / rollback) ------------------------

  /** The table's logical file/deletion state AS OF commit `id`:
    * rel path -> the commit that added the live instance, and
    * rel path -> deleted row ordinals accumulated on that instance.
    * Pure journal replay — no filesystem access.
    */
  def stateAt(recs: Seq[Rec], id: Long)
      : (Map[String, Long], Map[String, Array[Long]]) = {
    val files = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val dv = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.SortedSet[Long]]
    replayInto(files, dv, recs.takeWhile(_.id <= id))
    (files.toMap, dv.map { case (k, v) => (k, v.toArray) }.toMap)
  }

  private def replayInto(
      files: scala.collection.mutable.LinkedHashMap[String, Long],
      dv: scala.collection.mutable.Map[
        String, scala.collection.mutable.SortedSet[Long]],
      recs: Seq[Rec]): Unit =
    recs.foreach { r =>
      r.removes.foreach { rm => files.remove(rm.rel); dv.remove(rm.rel) }
      r.adds.foreach { a => files.update(a, r.id); dv.remove(a) }
      if (r.kind == "rollback") {
        // a rollback REBUILT the whole table's deletion-vector state
        // (dropAll + replay-to-target); its record carries that state
        // ABSOLUTELY. Without the reset, post-target mor_delete deltas
        // on kept-live files would linger in replay and `VERSION AS OF
        // 'c<rollbackId>'` would hide rows the live table serves — and
        // restored files' target-time deletions would be lost entirely
        // (ADVICE r15 medium).
        dv.clear()
      }
      r.dv.foreach { case (rel, ords) =>
        dv.getOrElseUpdate(rel,
          scala.collection.mutable.SortedSet.empty[Long]) ++= ords
      }
    }

  /** ROLLBACK to the state as of commit `target` (Iceberg's
    * `rollback_to_snapshot`, Delta's RESTORE): under the table commit
    * lock, files added after the target retire (tombstoned — the
    * rolled-back history stays time-travelable), files the target had
    * that were since removed rename back from their tombstones (the
    * SAME bytes — one rename per file, the retire cost class), and
    * deletion-vector state is rebuilt from the replayed per-commit
    * deltas. The rollback journals as a FLOOR record: the feed serves
    * only commits after it, so a CDC consumer mid-history gets the
    * loud lagging refusal and re-bootstraps — never a silently
    * rewritten delivery (the Delta RESTORE-under-CDF posture).
    *
    * Returns (files restored, files retired).
    */
  def rollbackToCommit(fs: FileSystem, tableDir: Path, target: Long)
      : (Int, Int) = {
    var out = (0, 0)
    GraftCommitLock.withLock(fs, tableDir, s"rollback-c$target") {
      GraftEqDel.requireNone(fs, tableDir, "a commit rollback")
      // a journal from before every commit recorded its files first
      // accounts what its reads served, as `record` would
      if (!complete(fs, tableDir)) upgrade(fs, tableDir, _ => false)
      // checkpoint-aware: state + the records resolution needs
      // (≤ tail-length reads once a checkpoint exists; expired
      // prefixes refuse inside stateAndRecs)
      val (recs, want, wantDv) = stateAndRecs(fs, tableDir, target)
      // every wanted instance must still exist somewhere
      val resolved: Map[String, Path] = want.map { case (rel, addId) =>
        (rel, resolveInstance(fs, tableDir, recs, rel, addId).getOrElse(
          throw new IllegalArgumentException(
            s"$tableDir: cannot roll back to commit $target — the " +
              s"tombstone preserving $rel was expired by remove_orphans")))
      }
      // the current state is the head's live set, not a listing: a
      // data file no commit recorded is not served, so it is neither
      // retired nor named in the record's removes
      val current = head(fs, tableDir).fold(Set.empty[String])(_.live.keySet)
      val toRetire = (current -- want.keySet).toSeq.sorted
      val qualBase = fs.makeQualified(tableDir).toString
      val toRestore = resolved.filter { case (rel, p) =>
        fs.makeQualified(p).toString != s"$qualBase/$rel"
      }.toSeq.sortBy(_._1)
      // phase 1 — restore parked instances (same bytes, one rename);
      // no read plans them before the record names them
      toRestore.foreach { case (rel, parked) =>
        val dest = new Path(tableDir, rel)
        fs.mkdirs(dest.getParent)
        require(fs.rename(parked, dest),
          s"rollback: could not restore $parked as $dest")
      }
      // phase 2 — the floor record is the commit (restored rels
      // re-listed as adds so instance resolution finds the moved-back
      // copies; dv carries the target's FULL deletion state — stateAt
      // replays rollback dv as an absolute reset, matching phase 4's
      // dropAll + rebuild); its removes name the tombstone phase 3 fills
      val tomb = GraftRetired.newCommitDir(tableDir)
      record(fs, tableDir, "rollback",
        adds = toRestore.map(_._1),
        removes = toRetire.map(Remove(_, tomb.getName)),
        dv = wantDv.filter { case (rel, ords) =>
          want.contains(rel) && ords.nonEmpty
        })
      // phase 3 — retire the post-target generation (tombstoned, so
      // the rolled-back-PAST state remains addressable)
      GraftRetired.retireFilesInto(fs, tableDir,
        toRetire.map(new Path(tableDir, _)), tomb)
      // phase 4 — deletion-vector state replays to the target
      GraftDv.dropAll(fs, tableDir)
      wantDv.foreach { case (rel, ords) =>
        if (want.contains(rel) && ords.nonEmpty) {
          val st = fs.getFileStatus(new Path(tableDir, rel))
          GraftDv.write(fs, tableDir,
            GraftDv.Dv(rel, st.getLen, st.getModificationTime, ords))
        }
      }
      out = (toRestore.size, toRetire.size)
    }
    out
  }

  /** Where the instance of `rel` ADDED at commit `addId` lives NOW:
    * the live table if never removed since; the removing commit's
    * tombstone ([[GraftRetired]] preserves relative layout); or — when
    * a rollback restored the same instance — the live table again.
    * None = the preserving tombstone was GC'd: not servable.
    */
  def resolveInstance(fs: FileSystem, tableDir: Path, recs: Seq[Rec],
      rel: String, addId: Long): Option[Path] = {
    val livePath = new Path(tableDir, rel)
    recs.find(r => r.id > addId && r.removes.exists(_.rel == rel)) match {
      case None =>
        if (fs.exists(livePath)) Some(livePath) else None
      case Some(r) =>
        val tomb = r.removes.find(_.rel == rel).get.tomb
        val parked = new Path(GraftRetired.retiredRoot(tableDir),
          s"$tomb/$rel")
        if (tomb.nonEmpty && fs.exists(parked)) Some(parked)
        else if (recs.exists(r2 => r2.id > r.id && r2.adds.contains(rel))
            && fs.exists(livePath))
          // rollback-restored: the SAME instance moved back live (the
          // restore record re-added the rel) — identical bytes
          Some(livePath)
        else None
    }
  }
}
