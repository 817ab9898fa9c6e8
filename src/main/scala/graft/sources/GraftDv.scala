package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Not => V2Not, Or => V2Or, Predicate}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Merge-on-read deletion vectors — the row-level DELETE that does NOT
  * rewrite data files.
  *
  * The copy-on-write tier (MERGE/UPDATE/DELETE through [[GraftTable]]'s
  * row-level operations) rewrites every surviving row of the touched
  * groups. That is the right trade for wide mutations, but at 100 TB a
  * DELETE that matches 0.01% of rows scattered across many files pays a
  * full rewrite of each touched file. The merge-on-read mode (Iceberg
  * v2 position deletes, Delta deletion vectors) records the POSITIONS
  * of deleted rows in a sidecar and applies them at read time; a later
  * compaction ([[rewriteDeletes]], `CALL system.rewrite_deletes`)
  * materializes the deletes back into clean files. Opt-in per table:
  * `TBLPROPERTIES ('delete_mode' = 'merge-on-read')` (or ALTER TABLE
  * SET). Parquet tables only — the positional contract rides the
  * parquet reader's `_metadata.row_index`.
  *
  * Store layout: `<table>/_graft_dv/<url-encoded relative path>.dv`,
  * one sidecar per data file that has deletions. Underscore-prefixed,
  * so every data listing in the engine already skips it. Content is a
  * single JSON-ish header line (`rel`, `len`, `mtime`, `card`) plus one
  * line of comma-joined sorted row ordinals. Each sidecar is published
  * by write-temp-then-atomic-rename; a DELETE that touches several
  * files publishes them one by one — a crash mid-way leaves a prefix
  * of the delete applied and a re-run converges (the same contract as
  * the metadata partition delete).
  *
  * Safety posture (the part that matters):
  *  - a DV is bound to its data file by length AND mtime. A PLANNED
  *    file whose sidecar exists but mismatches fails the read LOUDLY —
  *    silently ignoring a stale DV would resurrect deleted rows, the
  *    one unacceptable failure mode. A sidecar whose data file is gone
  *    (rewritten by COW/compaction under a fresh name) is inert
  *    garbage, swept by retirement and `remove_orphans`.
  *  - read-time application counts row ordinals against a
  *    FILTER-STRIPPED delegate reader: parquet pushdown skips row
  *    groups, which would shift counted ordinals, so a DV'd file is
  *    always read unfiltered (Spark re-evaluates the full predicate in
  *    the Filter above the scan — file-source pushdown is advisory).
  *    Clean files keep the pushed-down, columnar fast path; the cost
  *    of deletion is paid only by the files that have deletions.
  *  - everything that answers queries from metadata declines under
  *    DVs: the manifest aggregate ([[GraftStats.completeAggregate]])
  *    and the delegate's parquet-footer aggregate pushdown both check
  *    [[hasAny]] — footer row counts include deleted rows.
  *
  * Scale: the delete job is an ordinary distributed scan (partition
  * pruning and data skipping apply); only matched (file, ordinal)
  * pairs — bounded by the DELETED row count, the quantity merge-on-read
  * exists to keep small — ever reach the driver, capped by
  * `spark.graft.dv.maxRows` (default 10M) with a pointer to the
  * copy-on-write path for wide deletes.
  */
private[graft] object GraftDv {

  val DirName = "_graft_dv"
  val MaxRowsConf = "spark.graft.dv.maxRows"
  val MaxRowsDefault = 10L * 1000 * 1000

  /** Table-property key and the merge-on-read value. */
  val ModeKey = "delete_mode"
  val MorValue = "merge-on-read"
  val CowValue = "copy-on-write"

  def dvDir(tableDir: Path): Path = new Path(tableDir, DirName)

  /** One data file's deletion vector: identity triple + sorted ordinals. */
  final case class Dv(rel: String, len: Long, mtime: Long, ords: Array[Long])

  // ---- sidecar naming ----------------------------------------------------

  private def encode(rel: String): String =
    java.net.URLEncoder.encode(rel, "UTF-8")
  private def decode(name: String): String =
    java.net.URLDecoder.decode(name.stripSuffix(".dv"), "UTF-8")

  def dvPath(tableDir: Path, rel: String): Path =
    new Path(dvDir(tableDir), encode(rel) + ".dv")

  /** Relative path of a data file under the table dir (URI-path based,
    * the same normalization [[GraftStats]] keys its manifest by).
    */
  def relOf(tableDir: Path, file: Path): Option[String] = {
    val dirUri = tableDir.toUri.getPath
    val p = file.toUri.getPath
    if (!p.startsWith(dirUri)) None
    else Some(p.stripPrefix(dirUri).stripPrefix("/"))
  }

  // ---- sidecar IO --------------------------------------------------------

  def write(fs: FileSystem, tableDir: Path, dv: Dv): Unit = {
    val dir = dvDir(tableDir)
    fs.mkdirs(dir)
    val fin = dvPath(tableDir, dv.rel)
    val tmp = new Path(dir, "." + fin.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (s"""{"rel":${jstr(dv.rel)},"len":${dv.len},"mtime":${dv.mtime},""" +
        s""""card":${dv.ords.length}}""" + "\n" +
        dv.ords.mkString(",") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    replaceAtomic(fs, tmp, fin)
  }

  /** Replace `fin` with `tmp` as atomically as the filesystem allows:
    * `FileContext.rename(OVERWRITE)` — atomic on HDFS and posix local —
    * so a reader planning concurrently sees either the old sidecar or
    * the new one, NEVER a missing one (a gap would silently resurrect
    * deleted rows: readers take no lock by design). Falls back to
    * delete-then-rename only where FileContext is unavailable.
    */
  private[graft] def replaceAtomic(fs: FileSystem, tmp: Path,
      fin: Path): Unit = {
    val done =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fin.toUri, fs.getConf)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(fin),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch { case NonFatal(_) => false }
    if (!done) {
      if (fs.exists(fin)) fs.delete(fin, false)
      require(fs.rename(tmp, fin), s"atomic replace failed: $fin")
    }
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def read(fs: FileSystem, p: Path): Dv = {
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    require(lines.length >= 2, s"malformed deletion vector $p")
    val h = lines.head
    def longField(k: String): Long = {
      val m = s""""$k":(-?\\d+)""".r.findFirstMatchIn(h).getOrElse(
        throw new IllegalStateException(s"malformed DV header $p: missing $k"))
      m.group(1).toLong
    }
    val rel = decode(p.getName)
    val ords =
      if (lines(1).isEmpty) Array.empty[Long]
      else lines(1).split(",").map(_.toLong)
    Dv(rel, longField("len"), longField("mtime"), ords)
  }

  /** All sidecars of a table: relative data-file path -> sidecar path.
    * One flat listing of `_graft_dv/` — proportional to the number of
    * files WITH deletions, not the table.
    */
  def list(fs: FileSystem, tableDir: Path): Map[String, Path] = {
    val d = dvDir(tableDir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".dv"))
      .map(st => decode(st.getPath.getName) -> st.getPath)
      .toMap
  }

  /** Whether the table has ANY deletion vector — the cheap guard the
    * metadata-answer tiers (manifest aggregate, parquet footer
    * aggregate pushdown) consult before trusting file-level counts.
    */
  def hasAny(fs: FileSystem, tableDir: Path): Boolean = {
    val d = dvDir(tableDir)
    try fs.exists(d) && fs.listStatus(d).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".dv"))
    catch { case NonFatal(_) => true } // unreadable sidecar dir: assume DVs
  }

  /** Drop the sidecars of retired data files (hygiene — a sidecar whose
    * file is gone is inert, but accumulating garbage isn't a store).
    * Never throws: retirement must not fail on sidecar cleanup.
    */
  def dropFor(fs: FileSystem, tableDir: Path, retired: Seq[Path]): Unit =
    try {
      if (retired.nonEmpty && fs.exists(dvDir(tableDir)))
        retired.foreach { f =>
          relOf(tableDir, f).foreach { rel =>
            val p = dvPath(tableDir, rel)
            if (fs.exists(p)) fs.delete(p, false)
          }
        }
    } catch { case NonFatal(_) => () }

  /** Sidecar-state fingerprint (sidecar rel key -> (len, mtime)) — the
    * serializable-conflict unit for copy-on-write rewrites: a rewrite
    * snapshots it at write build and re-checks it under the commit
    * lock. A merge-on-read DELETE landing while the rewrite ran would
    * otherwise be silently erased (the rewrite read pre-delete rows);
    * the mismatch makes the REWRITE lose cleanly instead — the same
    * designated-loser contract as the overwrites' interference check
    * (`GraftPartitionedCow.requireUnchanged`; Iceberg's
    * validateNoNewDeleteFiles).
    */
  def fingerprint(fs: FileSystem, tableDir: Path): Map[String, (Long, Long)] =
    list(fs, tableDir).map { case (rel, p) =>
      val st = fs.getFileStatus(p)
      rel -> (st.getLen, st.getModificationTime)
    }

  /** Drop sidecars whose data file no longer exists (partition drops,
    * compactions and rewrites retire files under fresh names — their
    * vectors are inert garbage). Never throws.
    */
  def sweepStale(fs: FileSystem, tableDir: Path): Unit =
    try list(fs, tableDir).foreach { case (rel, p) =>
      if (!fs.exists(new Path(tableDir, rel))) fs.delete(p, false)
    } catch { case NonFatal(_) => () }

  /** Drop the whole sidecar dir (TRUNCATE / table replace). */
  def dropAll(fs: FileSystem, tableDir: Path): Unit =
    try {
      val d = dvDir(tableDir)
      if (fs.exists(d)) fs.delete(d, true)
    } catch { case NonFatal(_) => () }

  // ---- V2 predicate -> Column translation (the MOR DELETE condition) ----

  /** Translate the conjunction Spark hands `deleteWhere` into a Column
    * over PUBLIC functions only (`col`/`lit`/`isin`), with catalyst-
    * internal literal values converted back to external form. Covers
    * the comparison/null/boolean shapes DELETE conditions are made of;
    * anything else answers None and `canDeleteWhere` keeps the
    * copy-on-write path — fail-safe, never wrong.
    */
  def translate(predicates: Array[Predicate], schema: StructType)
      : Option[Column] = {
    val cols = predicates.toSeq.map(translateOne(_, schema))
    if (cols.exists(_.isEmpty)) None
    else Some(cols.flatten.reduceOption(_ && _).getOrElse(lit(true)))
  }

  private def translateOne(p: Predicate, schema: StructType)
      : Option[Column] = {
    def ref(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Column] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          schema.fieldNames.exists(_.equalsIgnoreCase(nr.fieldNames.head)) =>
        Some(col(nr.fieldNames.head))
      case _ => None
    }
    def value(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
      case l: V2Literal[_] =>
        // catalyst-internal (UTF8String, days-int, Decimal) -> external
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType))
      case _ => None
    }
    /** Column/literal/arithmetic operand — `k % 4`, `qty * 2 + 1`. The
      * public Column operators resolve to the same catalyst nodes
      * (Add/Subtract/Multiply/Remainder) the DELETE condition held, so
      * semantics round-trip exactly; anything else (division variants,
      * functions, casts) declines to the copy-on-write path.
      */
    def operand(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Column] = e match {
      case _ if ref(e).isDefined => ref(e)
      case _ if value(e).isDefined => value(e).map(lit)
      case g: org.apache.spark.sql.connector.expressions.GeneralScalarExpression
          if g.children().length == 2 =>
        val ab = for (a <- operand(g.children()(0));
                      b <- operand(g.children()(1))) yield (a, b)
        g.name() match {
          case "+" => ab.map { case (a, b) => a + b }
          case "-" => ab.map { case (a, b) => a - b }
          case "*" => ab.map { case (a, b) => a * b }
          case "%" => ab.map { case (a, b) => a % b }
          case _ => None
        }
      case _ => None
    }
    def bin(f: (Column, Column) => Column): Option[Column] =
      p.children().toSeq match {
        case Seq(a, b) =>
          for (l <- operand(a); r <- operand(b)) yield f(l, r)
        case _ => None
      }
    p match {
      case a: V2And =>
        for (l <- translateOne(a.left(), schema);
             r <- translateOne(a.right(), schema)) yield l && r
      case o: V2Or =>
        for (l <- translateOne(o.left(), schema);
             r <- translateOne(o.right(), schema)) yield l || r
      case n: V2Not => translateOne(n.child(), schema).map(!_)
      case _ => p.name() match {
        case "ALWAYS_TRUE" => Some(lit(true))
        case "ALWAYS_FALSE" => Some(lit(false))
        case "=" => bin(_ === _)
        case "<>" => bin(_ =!= _)
        case "<" => bin(_ < _)
        case "<=" => bin(_ <= _)
        case ">" => bin(_ > _)
        case ">=" => bin(_ >= _)
        case "<=>" => bin(_ <=> _)
        case "IS_NULL" => p.children().toSeq match {
          case Seq(a) => ref(a).map(_.isNull)
          case _ => None
        }
        case "IS_NOT_NULL" => p.children().toSeq match {
          case Seq(a) => ref(a).map(_.isNotNull)
          case _ => None
        }
        case "IN" => p.children().toSeq match {
          case r +: vs if vs.nonEmpty =>
            val c = ref(r)
            val ext = vs.map(value)
            if (c.isEmpty || ext.exists(_.isEmpty)) None
            else Some(c.get.isin(ext.flatten: _*))
          case _ => None
        }
        case _ => None
      }
    }
  }

  // ---- the merge-on-read DELETE itself -----------------------------------

  /** Execute `DELETE FROM <table> WHERE cond` as deletion vectors.
    *
    * Phase 1 (distributed, unlocked): scan the table with the file
    * source's `_metadata` columns, filter by the condition, aggregate
    * matched row ordinals per file. Partition pruning and data skipping
    * apply as on any scan; only matched positions reach the driver.
    *
    * Phase 2 (driver, under the table commit lock): verify each
    * matched file still exists — a COW rewrite or compaction landing
    * between the scan and the lock retired it, in which case the
    * positions are stale and the delete FAILS cleanly
    * ([[GraftCommitLock.ConcurrentCommitException]]; re-run) — then
    * merge with any existing sidecar and publish.
    *
    * Returns the number of NEWLY deleted positions.
    */
  def morDelete(spark: SparkSession, tableDir: Path, tableSchema: StructType,
      cond: Column, partitionCols: Seq[String] = Nil): Long = {
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftEqDel.requireNone(fs, tableDir, "a merge-on-read DELETE")
    val maxRows = spark.conf.getOption(MaxRowsConf)
      .map(_.toLong).getOrElse(MaxRowsDefault)
    // preimage capture ([[GraftDeltaMor.captureEnabled]]): the matched
    // snapshot below already holds the deleted rows' values — write
    // them into a per-commit sidecar so the changes feed serves this
    // commit's delete rows exactly instead of re-reading whole files
    val capture = GraftDeltaMor.captureEnabled(spark)

    val df = spark.read.schema(tableSchema).parquet(tableDir.toString)
    // PERSIST the matched set so the cap count and the ordinal collect
    // read ONE snapshot: unpersisted, the two passes re-plan the scan,
    // and files published by a concurrent append between them could
    // push the collected set past the counted (capped) total.
    val matched = df.filter(cond)
      .select((if (capture) Seq(col("*")) else Nil) ++ Seq(
        col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__o")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // sidecar write OUTSIDE the lock: the per-write dir is
    // unreferenced until the journal record lands, so a failed commit
    // leaves an orphan dir, never a partial feed. The persisted
    // snapshot pins values to the SAME rows the ordinals come from.
    // The cap count RIDES this write (an Observation metric): with
    // capture on, the materializing pass is the sidecar write itself —
    // one distributed pass fewer than count-then-write, so capture
    // costs only the written bytes at small scale.
    var preRels: Seq[String] = Nil
    var preStage: Path = null
    val total: Long =
      if (!capture) matched.count()
      else {
        preStage = new Path(GraftCommits.preRoot(tableDir),
          s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
        val obs = org.apache.spark.sql.Observation()
        val w = matched.drop("__f", "__o")
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
         else w).parquet(preStage.toString)
        val n = obs.get("n").asInstanceOf[Long]
        val base = fs.makeQualified(GraftCommits.preRoot(tableDir))
          .toUri.getPath
        def walk(p: Path): Seq[Path] =
          fs.listStatus(p).toSeq.flatMap { st =>
            val nm = st.getPath.getName
            if (nm.startsWith("_") || nm.startsWith(".")) Nil
            else if (st.isDirectory) walk(st.getPath)
            else Seq(st.getPath)
          }
        preRels = walk(preStage).map(p =>
          fs.makeQualified(p).toUri.getPath
            .stripPrefix(base).stripPrefix("/")).sorted
        n
      }
    def dropStage(): Unit = if (preStage != null) {
      try fs.delete(preStage, true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val perFile = try {
      // enforce the cap BEFORE any ordinal reaches the driver: a
      // too-wide delete must fail before — not after — it can OOM the
      // driver (the capture write above is distributed; its wasted
      // bytes on this error path are cleaned up below)
      if (total > maxRows) dropStage()
      require(total <= maxRows,
        s"merge-on-read DELETE matched $total rows (> $MaxRowsConf=$maxRows): " +
          "a delete this wide should rewrite files — use the copy-on-write " +
          "path (delete_mode=copy-on-write) or a partition-level DELETE")
      if (total == 0) { dropStage(); return 0L }
      val rows = matched.groupBy(col("__f"))
        .agg(sort_array(collect_list(col("__o"))).as("__ords"))
        .collect()
      // backstop: a cache-evicted partition recomputes from live files;
      // re-verify what actually landed on the driver
      val landed = rows.iterator.map(_.getSeq[Long](1).size.toLong).sum
      require(landed <= maxRows,
        s"merge-on-read DELETE collected $landed ordinals (> $maxRows) — " +
          "the table changed under the delete scan; re-run")
      rows
    } finally matched.unpersist(false)

    var fresh = 0L
    val dvDeltas = Map.newBuilder[String, Array[Long]]
    GraftCommitLock.withLock(fs, tableDir, "mor-delete") {
      perFile.foreach { row =>
        val uriPath = new Path(row.getString(0)).toUri.getPath
        val file = new Path(uriPath)
        val rel = relOf(tableDir, file).getOrElse(
          throw new IllegalStateException(
            s"matched file $file is outside the table dir $tableDir"))
        val st =
          try fs.getFileStatus(file)
          catch {
            case _: java.io.FileNotFoundException =>
              throw new GraftCommitLock.ConcurrentCommitException(
                s"merge-on-read DELETE of $tableDir: $rel was rewritten " +
                  "by a concurrent commit after the delete scan — re-run")
          }
        val newOrds = row.getSeq[Long](1).toArray
        val dvFile = dvPath(tableDir, rel)
        val merged =
          if (fs.exists(dvFile)) {
            val prior = read(fs, dvFile)
            require(prior.len == st.getLen && prior.mtime ==
              st.getModificationTime,
              s"deletion vector for $rel no longer matches its data file " +
                "(possible concurrent rewrite) — re-run the delete")
            val set = mutable.SortedSet.empty[Long]
            set ++= prior.ords; set ++= newOrds
            fresh += set.size - prior.ords.length
            Dv(rel, st.getLen, st.getModificationTime, set.toArray)
          } else {
            fresh += newOrds.length
            Dv(rel, st.getLen, st.getModificationTime, newOrds)
          }
        dvDeltas += (rel -> newOrds)
        write(fs, tableDir, merged)
      }
      // commit journal ([[GraftCommits]]): the DELTA positions this
      // commit deleted, per file — the changes feed serves them as
      // delete rows attributed to this commit id, and per-commit time
      // travel replays the deltas to any commit's deletion state
      if (perFile.nonEmpty)
        GraftCommits.tryRecord(fs, tableDir, "mor_delete",
          dv = dvDeltas.result(), note = "delete", pre = preRels)
    }
    fresh
  }

  // ---- read-time application ---------------------------------------------

  /** One contiguous run of a single data file's splits inside a rebuilt
    * partition, with the ordinals deleted from it (empty = clean file).
    */
  final case class Group(files: Array[PartitionedFile], dels: Array[Long],
      rel: String, len: Long, mtime: Long) extends Serializable

  /** A rebuilt partition: per-file groups read sequentially. Extends
    * [[FilePartition]] so anything downstream that matches on it (the
    * bucket regrouper, preferred locations) keeps working.
    */
  sealed class DvFilePartition(idx: Int, val groups: Array[Group])
    extends FilePartition(idx, groups.flatMap(_.files))

  /** Bucketed variant — carries the bucket key so the scan's
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * stays truthful with deletion vectors present.
    */
  final class KeyedDvFilePartition(bucket: Int, groups: Array[Group])
    extends DvFilePartition(bucket, groups)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): InternalRow = InternalRow(bucket)
  }

  /** Plan-time regrouping: rebuild only the partitions that contain a
    * DV'd file. Within a rebuilt partition each file's splits are
    * collected (sorted by offset, verified contiguous — ordinal
    * counting depends on it) into a [[Group]]; untouched partitions
    * pass through and keep the delegate's columnar, filter-pushed
    * readers. `dvs` is keyed by relative path.
    */
  def regroup(parts: Array[InputPartition], tableDir: Path,
      dvs: Map[String, Dv]): Array[InputPartition] = {
    if (dvs.isEmpty) return parts
    def dvOf(f: PartitionedFile): Option[Dv] =
      relOf(tableDir, f.toPath).flatMap(dvs.get)
    val touched = parts.zipWithIndex.collect {
      case (fp: FilePartition, i) if fp.files.exists(f => dvOf(f).isDefined) =>
        i
    }.toSet
    if (touched.isEmpty) return parts

    // splits of a DV'd file may be scattered ACROSS partitions: pull
    // every split of every DV'd file out, regroup per file, and leave
    // the rest where it was
    val dvSplits = mutable.Map.empty[String, mutable.ArrayBuffer[PartitionedFile]]
    val keptParts = mutable.ArrayBuffer.empty[Array[PartitionedFile]]
    parts.foreach {
      case fp: FilePartition =>
        val (d, clean) = fp.files.partition(f => dvOf(f).isDefined)
        d.foreach { f =>
          val rel = relOf(tableDir, f.toPath).get
          dvSplits.getOrElseUpdate(rel, mutable.ArrayBuffer.empty) += f
        }
        if (clean.nonEmpty) keptParts += clean
      case other =>
        throw new IllegalStateException(
          s"deletion vectors over a non-file partition: $other")
    }
    val fileGroups = dvSplits.toSeq.sortBy(_._1).map { case (rel, splits) =>
      val dv = dvs(rel)
      groupOf(rel, splits.toArray, dv)
    }
    val rebuilt = mutable.ArrayBuffer.empty[InputPartition]
    keptParts.zipWithIndex.foreach { case (files, i) =>
      rebuilt += FilePartition(i, files)
    }
    fileGroups.foreach { g =>
      rebuilt += new DvFilePartition(rebuilt.length, Array(g))
    }
    rebuilt.toArray
  }

  /** Bucket-group variant: rebuild ONE bucket's file list into ordered
    * per-file groups (DV'd and clean interleaved), preserving the
    * partition count and key. Returns None when no file of the bucket
    * has a DV — caller keeps the plain keyed partition.
    */
  def regroupBucket(bucket: Int, files: Seq[PartitionedFile], tableDir: Path,
      dvs: Map[String, Dv]): Option[KeyedDvFilePartition] = {
    if (dvs.isEmpty) return None
    def relo(f: PartitionedFile): Option[String] = relOf(tableDir, f.toPath)
    if (!files.exists(f => relo(f).exists(dvs.contains))) return None
    val byFile = files.groupBy(f => f.toPath.toString).toSeq.sortBy(_._1)
    val groups = byFile.map { case (_, splits) =>
      val rel = relo(splits.head).getOrElse(
        throw new IllegalStateException(
          s"bucketed file ${splits.head.toPath} outside table dir $tableDir"))
      dvs.get(rel) match {
        case Some(dv) => groupOf(rel, splits.toArray, dv)
        case None => Group(
          splits.sortBy(_.start).toArray, Array.empty, rel, -1L, -1L)
      }
    }
    Some(new KeyedDvFilePartition(bucket, groups.toArray))
  }

  private def groupOf(rel: String, splits: Array[PartitionedFile],
      dv: Dv): Group = {
    val sorted = splits.sortBy(_.start)
    // contiguity: running ordinals are only meaningful over the WHOLE
    // file in order — a missing split would silently shift positions
    var expect = 0L
    sorted.foreach { s =>
      require(s.start == expect,
        s"deletion vector for $rel: planned splits are not contiguous " +
          s"(expected offset $expect, got ${s.start}) — cannot apply " +
          "positions safely")
      expect = s.start + s.length
    }
    require(expect == dv.len,
      s"deletion vector for $rel no longer matches its data file " +
        s"(recorded length ${dv.len}, planned $expect): the file changed " +
        "since the delete — refusing to read (stale vector would " +
        "resurrect or mis-delete rows)")
    Group(sorted, dv.ords, rel, dv.len, dv.mtime)
  }

  // ---- columnar application ----------------------------------------------

  /** Whether a read schema can go through the COLUMNAR deletion-vector
    * path: every output column (data AND partition constants — the
    * batch carries both) must be a type [[copyValue]] can move between
    * vectors. Nested types fall back to the row path — honest, and the
    * engine's catalog tables are flat.
    */
  def columnarApplicable(schema: StructType): Boolean =
    schema.fields.forall(f => copyableType(f.dataType))

  private def copyableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | DateType |
           LongType | TimestampType | TimestampNTZType | FloatType |
           DoubleType | StringType | BinaryType => true
      case _: DecimalType => true
      case _: YearMonthIntervalType | _: DayTimeIntervalType => true
      // ArrayType of a primitive element (r13 item 6): the embeddings
      // shape — Array[Float] and friends. OnHeapColumnVector supports
      // child vectors, so survivor compaction rebuilds the offsets and
      // appends the elements.
      case ArrayType(et, _) => et match {
        case BooleanType | ByteType | ShortType | IntegerType | DateType |
             LongType | TimestampType | TimestampNTZType | FloatType |
             DoubleType | StringType | BinaryType => true
        case _ => false
      }
      // StructType over copyable fields (r14 item 5): OnHeapColumnVector
      // allocates struct children at construction, so survivor
      // compaction writes each field's child vector at the same
      // destination ordinal — recursion admits struct-of-struct and
      // struct-of-array. Maps keep the documented row-path fallback.
      case st: StructType => st.fields.forall(f => copyableType(f.dataType))
      case _ => false
    }
  }

  /** Copy one value between vectors — the survivor compaction of a
    * deletion-vector'd batch (shared with the equality-delete reader).
    * Only called for [[copyableType]] types.
    */
  private[sources] def copyValue(dt: org.apache.spark.sql.types.DataType,
      src: org.apache.spark.sql.vectorized.ColumnVector, si: Int,
      dst: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      di: Int): Unit = {
    import org.apache.spark.sql.types._
    if (src.isNullAt(si)) { dst.putNull(di); return }
    dt match {
      case BooleanType => dst.putBoolean(di, src.getBoolean(si))
      case ByteType => dst.putByte(di, src.getByte(si))
      case ShortType => dst.putShort(di, src.getShort(si))
      case IntegerType | DateType | _: YearMonthIntervalType =>
        dst.putInt(di, src.getInt(si))
      case LongType | TimestampType | TimestampNTZType |
           _: DayTimeIntervalType =>
        dst.putLong(di, src.getLong(si))
      case FloatType => dst.putFloat(di, src.getFloat(si))
      case DoubleType => dst.putDouble(di, src.getDouble(si))
      case StringType =>
        val b = src.getUTF8String(si).getBytes
        dst.putByteArray(di, b, 0, b.length)
      case BinaryType =>
        val b = src.getBinary(si)
        dst.putByteArray(di, b, 0, b.length)
      case d: DecimalType =>
        dst.putDecimal(di, src.getDecimal(si, d.precision, d.scale),
          d.precision)
      case ArrayType(et, _) =>
        // survivor-compact an array cell: append the elements to the
        // destination's child vector and record (start, length) —
        // the offsets rebuild that keeps Array[Float] embeddings
        // vectorized under live deletion vectors (r13 item 6)
        val arr = src.getArray(si)
        val n = arr.numElements()
        val child = dst.arrayData()
        val start = child.getElementsAppended
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i)) child.appendNull()
          else et match {
            case BooleanType => child.appendBoolean(arr.getBoolean(i))
            case ByteType => child.appendByte(arr.getByte(i))
            case ShortType => child.appendShort(arr.getShort(i))
            case IntegerType | DateType => child.appendInt(arr.getInt(i))
            case LongType | TimestampType | TimestampNTZType =>
              child.appendLong(arr.getLong(i))
            case FloatType => child.appendFloat(arr.getFloat(i))
            case DoubleType => child.appendDouble(arr.getDouble(i))
            case StringType =>
              val b = arr.getUTF8String(i).getBytes
              child.appendByteArray(b, 0, b.length)
            case BinaryType =>
              val b = arr.getBinary(i)
              child.appendByteArray(b, 0, b.length)
            case other => throw new IllegalStateException(
              s"deletion-vector columnar copy: array element $other")
          }
          i += 1
        }
        dst.putArray(di, start, n)
      case st: StructType =>
        // survivor-compact a struct cell: each field's child vector is
        // written at the SAME destination ordinal (struct children are
        // index-aligned with the parent); null fields recurse through
        // the scalar null path
        dst.putNotNull(di)
        var i = 0
        while (i < st.fields.length) {
          copyValue(st.fields(i).dataType, src.getChild(i), si,
            dst.getChild(i), di)
          i += 1
        }
      case other => throw new IllegalStateException(
        s"deletion-vector columnar copy: unexpected type $other")
    }
  }

  /** Reader factory over rebuilt partitions: [[DvFilePartition]]s read
    * their groups sequentially — DV'd groups through the FILTER-STRIPPED
    * factory with ordinal skipping, clean groups through the delegate's
    * readers (pushed filters fine: no positions involved).
    *
    * The scan stays COLUMNAR under live vectors (r12 verdict item 1):
    * batches with no deleted ordinal pass through ZERO-COPY (the common
    * case — deletions are sparse by merge-on-read's premise), and a
    * batch containing deletions is rebuilt by compacting survivors into
    * fresh on-heap vectors, exactly the files/batches that pay. Spark's
    * scan exec requires all-or-nothing row/columnar partition sets, so
    * [[supportColumnarReads]] answers from the DELEGATE's own
    * (partition-independent) capability — clean and DV'd partitions
    * agree by construction. Schemas with nested types fall back to the
    * row path via [[columnarApplicable]] at the scan level.
    */
  final class DvReaderFactory(clean: PartitionReaderFactory,
      unfiltered: PartitionReaderFactory, outputSchema: StructType)
    extends PartitionReaderFactory {

    private val rebuildable = columnarApplicable(outputSchema)

    override def supportColumnarReads(p: InputPartition): Boolean = p match {
      case d: DvFilePartition =>
        rebuildable && {
          val fp = FilePartition(0, d.groups.flatMap(_.files))
          clean.supportColumnarReads(fp) && unfiltered.supportColumnarReads(fp)
        }
      case other => rebuildable && clean.supportColumnarReads(other)
    }

    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      p match {
        case d: DvFilePartition => new ChainedColumnarReader(d.groups)
        case other => clean.createColumnarReader(other)
      }

    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = p match {
      case d: DvFilePartition => new ChainedReader(d.groups)
      case other => clean.createReader(other)
    }

    /** Sequential per-group COLUMNAR reader: clean groups stream the
      * delegate's batches untouched; DV'd groups count file-running row
      * ordinals batch by batch (unfiltered reader — row-group skipping
      * would shift them) and compact out deleted rows only in batches
      * that actually contain one.
      */
    private final class ChainedColumnarReader(groups: Array[Group])
      extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

      private val types = outputSchema.fields.map(_.dataType)
      private var gi = -1
      private var cur: PartitionReader[ColumnarBatch] = _
      private var dels: Array[Long] = Array.empty
      private var di = 0
      private var ordBase = 0L
      private var out: ColumnarBatch = _
      private var owned: Array[OnHeapColumnVector] = _

      private def closeOwned(): Unit = if (owned != null) {
        owned.foreach(_.close()); owned = null
      }

      private def advanceGroup(): Boolean = {
        if (cur != null) { cur.close(); cur = null }
        gi += 1
        if (gi >= groups.length) false
        else {
          val g = groups(gi)
          val part = FilePartition(0, g.files)
          cur =
            if (g.dels.nonEmpty) unfiltered.createColumnarReader(part)
            else clean.createColumnarReader(part)
          dels = g.dels; di = 0; ordBase = 0L
          true
        }
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null && !advanceGroup()) return false
          if (cur.next()) {
            val b = cur.get()
            val n = b.numRows()
            val lo = ordBase
            ordBase += n
            // dels is sorted and lo is monotonic within a group: di
            // walks forward only — O(1) amortized per batch
            while (di < dels.length && dels(di) < lo) di += 1
            if (di >= dels.length || dels(di) >= lo + n) {
              if (n > 0) { out = b; return true } // zero-copy pass-through
            } else {
              // mark this batch's deleted row positions
              val deleted = new java.util.BitSet(n)
              var cnt = 0
              while (di < dels.length && dels(di) < lo + n) {
                deleted.set((dels(di) - lo).toInt); cnt += 1; di += 1
              }
              val keep = n - cnt
              if (keep > 0) {
                closeOwned()
                owned = types.map(dt => new OnHeapColumnVector(keep, dt))
                var si = 0
                var dsti = 0
                while (si < n) {
                  if (!deleted.get(si)) {
                    var c = 0
                    while (c < types.length) {
                      copyValue(types(c), b.column(c), si, owned(c), dsti)
                      c += 1
                    }
                    dsti += 1
                  }
                  si += 1
                }
                out = new ColumnarBatch(
                  owned.map(v => v: ColumnVector), keep)
                return true
              } // keep == 0: whole batch deleted, loop to the next one
            }
          } else {
            cur.close(); cur = null
          }
        }
        false
      }

      override def get(): ColumnarBatch = out
      override def close(): Unit = {
        if (cur != null) { cur.close(); cur = null }
        closeOwned()
      }
    }

    /** Sequential per-group reader. mtime re-verification happens at
      * PLANNING (driver) via [[verifyLive]]; here the groups are taken
      * as planned.
      */
    private final class ChainedReader(groups: Array[Group])
      extends PartitionReader[InternalRow] {
      private var gi = -1
      private var cur: PartitionReader[InternalRow] = _
      private var dels: Array[Long] = Array.empty
      private var di = 0
      private var ord = -1L

      private def advanceGroup(): Boolean = {
        if (cur != null) { cur.close(); cur = null }
        gi += 1
        if (gi >= groups.length) false
        else {
          val g = groups(gi)
          val part = FilePartition(0, g.files)
          cur =
            if (g.dels.nonEmpty) unfiltered.createReader(part)
            else clean.createReader(part)
          dels = g.dels; di = 0; ord = -1L
          true
        }
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null && !advanceGroup()) return false
          if (cur.next()) {
            ord += 1
            // sorted ordinals + monotonically increasing ord: one
            // forward pointer, O(1) amortized per row
            while (di < dels.length && dels(di) < ord) di += 1
            if (di < dels.length && dels(di) == ord) { di += 1 }
            else return true
          } else {
            cur.close(); cur = null
          }
        }
        false
      }

      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }

  /** Driver-side freshness check at planning time: every DV whose data
    * file is PLANNED must still match length+mtime. [[regroup]] has the
    * split lengths (sum = recorded length) but mtime needs a live stat —
    * one `getFileStatus` per DV'd planned file, bounded by files with
    * deletions.
    */
  def verifyLive(fs: FileSystem, tableDir: Path, dvs: Map[String, Dv],
      planned: Seq[PartitionedFile]): Unit =
    planned.foreach { f =>
      relOf(tableDir, f.toPath).flatMap(dvs.get).foreach { dv =>
        val st = fs.getFileStatus(f.toPath)
        require(st.getLen == dv.len && st.getModificationTime == dv.mtime,
          s"deletion vector for ${dv.rel} no longer matches its data file " +
            s"(recorded len=${dv.len}/mtime=${dv.mtime}, live " +
            s"len=${st.getLen}/mtime=${st.getModificationTime}) — refusing " +
            "to read; re-delete or CALL system.rewrite_deletes")
      }
    }

  /** Load the sidecars relevant to a planned file set (keyed by rel
    * path) — the scoped read: a partition-pruned scan never parses
    * foreign files' vectors.
    */
  def forFiles(fs: FileSystem, tableDir: Path,
      planned: Seq[PartitionedFile],
      index: Map[String, Path]): Map[String, Dv] =
    if (index.isEmpty) Map.empty
    else {
      val rels = planned.flatMap(f => relOf(tableDir, f.toPath)).toSet
      index.view.filterKeys(rels).toMap
        .map { case (rel, p) => rel -> read(fs, p) }
    }

  // ---- materialization (CALL system.rewrite_deletes) ---------------------

  /** Rewrite every file that carries a deletion vector into a clean
    * replacement (positions applied, vector dropped) — the compaction
    * half of merge-on-read, Iceberg's `rewrite_position_delete_files`
    * + data-file rewrite in one maintenance verb.
    *
    * Staging is ONE distributed job over the whole DV'd file set (r12
    * verdict item 3 — the old per-file driver loop issued one Spark job
    * per file; at 100× thousands of DV'd files meant thousands of tiny
    * serial jobs): every DV'd file is scanned in a single pass, rows
    * are tagged with their source file via `_metadata.file_path`,
    * anti-joined against the full (file, ordinal) deletion set, and
    * written `partitionBy` a path-safe source-file key — survivors land
    * in `<staging>/__src=<key>/` per source file, map-side (no
    * shuffle: each input split's survivors stay in their task).
    *
    * Publishing stays PER FILE under the table commit lock with an
    * identity re-check — a concurrent commit that touched a file makes
    * THAT file's rewrite lose cleanly
    * ([[GraftCommitLock.ConcurrentCommitException]]); files already
    * published stay rewritten (idempotent re-run converges). The
    * replacement keeps the original's bucket tag (a `-b<id>` suffix
    * anywhere in the name keeps [[GraftBucketedScan]]'s grouping) and
    * lands in the same partition directory; superseded originals are
    * TOMBSTONED ([[GraftRetired]]), not deleted. Cost is proportional
    * to the files WITH deletions, never the table.
    *
    * Returns (files rewritten, positions materialized, stale sidecars
    * swept).
    */
  def rewriteDeletes(spark: SparkSession, tableDir: Path)
      : (Int, Long, Int) = {
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(tableDir.toString + ".__dvrewrite")
    if (fs.exists(staging)) fs.delete(staging, true) // prior crash debris
    var swept = 0
    val live = mutable.ArrayBuffer.empty[(String, Dv)]
    list(fs, tableDir).toSeq.sortBy(_._1).foreach { case (rel, sidecar) =>
      if (!fs.exists(new Path(tableDir, rel))) {
        fs.delete(sidecar, false); swept += 1
      } else live += ((rel, read(fs, sidecar)))
    }
    if (live.isEmpty) return (0, 0L, swept)

    // scheme/slash normalization: the driver-side qualified URI and
    // the reader's file_path rendering meet on one key
    def norm(s: String): String =
      s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:", "").replaceFirst("^/+", "/")
    def keyOf(rel: String): String = java.util.Base64.getUrlEncoder
      .withoutPadding.encodeToString(rel.getBytes("UTF-8"))
    val normToKey = live.map { case (rel, _) =>
      norm(fs.makeQualified(new Path(tableDir, rel)).toUri.toString) ->
        keyOf(rel)
    }
    import spark.implicits._
    val deleted = spark.createDataset(live.toSeq.flatMap { case (rel, dv) =>
      val k = keyOf(rel)
      dv.ords.map(o => (k, o))
    }).toDF("__dv_k", "__dv_o")
    val lookup = spark.createDataset(normToKey.toSeq).toDF("__n", "__src")
    // ONE pass over all DV'd files: mergeSchema so evolved files union
    // (each output still carries only its rows; absent columns are the
    // same nulls the evolution sidecar reads them as)
    val df = spark.read.option("mergeSchema", "true")
      .parquet(live.map { case (rel, _) =>
        new Path(tableDir, rel).toString }.toSeq: _*)
    val normExpr = regexp_replace(
      regexp_replace(col("_metadata.file_path"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:", ""), "^/+", "/")
    df.withColumn("__n", normExpr)
      .withColumn("__o", col("_metadata.row_index"))
      .join(broadcast(lookup), "__n")
      .join(broadcast(deleted),
        col("__src") === col("__dv_k") && col("__o") === col("__dv_o"),
        "left_anti")
      .drop("__n", "__o")
      .write.mode("overwrite").partitionBy("__src")
      .parquet(staging.toString)

    // publish per file under the commit lock, identity-re-checked —
    // unchanged optimistic semantics, just fed from the batched staging
    var files = 0
    var positions = 0L
    live.foreach { case (rel, dv) =>
      val dataFile = new Path(tableDir, rel)
      val srcDir = new Path(staging, s"__src=${keyOf(rel)}")
      val parts =
        if (!fs.exists(srcDir)) Array.empty[Path] // every row was deleted
        else fs.listStatus(srcDir).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      GraftCommitLock.withLock(fs, tableDir, "rewrite-deletes") {
        val st =
          try fs.getFileStatus(dataFile)
          catch {
            case _: java.io.FileNotFoundException =>
              throw new GraftCommitLock.ConcurrentCommitException(
                s"rewrite_deletes: $rel vanished mid-rewrite " +
                  "(concurrent commit) — re-run")
          }
        if (st.getLen != dv.len || st.getModificationTime != dv.mtime)
          throw new GraftCommitLock.ConcurrentCommitException(
            s"rewrite_deletes: $rel changed mid-rewrite " +
              "(concurrent commit) — re-run")
        val published = parts.toSeq.map { staged =>
          val finName =
            "rw-" + java.util.UUID.randomUUID().toString.take(8) + "-" +
              dataFile.getName
          require(fs.rename(staged,
            new Path(dataFile.getParent, finName)),
            s"rewrite_deletes: could not publish $finName")
          fs.getFileStatus(new Path(dataFile.getParent, finName))
        }
        // commit journal: NEUTRAL file churn — the row deletions were
        // already fed by their mor_delete records; this rewrite only
        // re-homes the survivors (the feed must keep accounting total).
        // The record is the commit: it comes before the retire, and a
        // failed record unpublishes the survivors' new files
        val tomb = GraftRetired.newCommitDir(tableDir)
        val added = published.map(st =>
          GraftCommits.relOf(fs, tableDir, st.getPath) ->
            GraftCommits.FileInfo(st.getLen, st.getModificationTime))
        GraftCommits.recordOrUnpublish(fs, tableDir, published.map(_.getPath)) {
          GraftCommits.record(fs, tableDir, "maintenance",
            adds = added.map(_._1),
            removes = Seq(GraftCommits.Remove(rel, tomb.getName)),
            info = added.toMap)
        }
        GraftRetired.retireFilesInto(fs, tableDir, Seq(dataFile), tomb)
        fs.delete(dvPath(tableDir, rel), false)
      }
      files += 1
      positions += dv.ords.length
    }
    fs.delete(staging, true)
    (files, positions, swept)
  }
}
