package graft.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-on-read UPDATE / MERGE / row-level DELETE — Spark's
  * delta-based row-level operations ([[org.apache.spark.sql.connector
  * .write.SupportsDelta]]) over the [[GraftDv]] deletion-vector store.
  *
  * The copy-on-write tier rewrites every surviving row of every
  * touched group. In merge-on-read mode the operation instead reads
  * the table WITH row coordinates (`_graft_file`, `_graft_pos` —
  * metadata columns this object defines), and the write receives a
  * per-row op stream: DELETE(rowId) becomes a deletion-vector
  * position, UPDATE(rowId, row) becomes a position plus an appended
  * replacement row, INSERT(row) an appended row. A MERGE that touches
  * 100 rows of a 100 TB table writes 100 rows and a few kilobytes of
  * vectors; untouched files stay byte-identical — the Iceberg v2
  * merge-on-read write path re-expressed over this engine's sidecars.
  *
  * Positional integrity (the part that must not be approximately
  * right): `_graft_pos` is the row's FILE-ABSOLUTE ordinal. The
  * metadata scan therefore plans each file as ONE ordered,
  * contiguity-checked chain of its splits and reads it through a
  * FILTER-STRIPPED delegate (parquet pushdown skips row groups and
  * would shift counted ordinals; Spark re-applies data predicates in
  * the plan above — partition filters still prune the listing, which
  * is exact at file granularity). Live deletion vectors are applied
  * in the same pass: a deleted row is not emitted but IS counted, so
  * positions stay file-absolute across accumulating operations.
  *
  * Commit protocol: inserts stage invisibly through the house hive-
  * layout writer (partition dirs + bucket tags preserved); the driver
  * commit, under the table commit lock, re-checks the deletion-vector
  * fingerprint taken at write build (a racing MOR delete fails THIS
  * write cleanly — same designated-loser contract as the COW guard),
  * verifies every delete-target file still exists (a racing rewrite
  * retired it → clean ConcurrentCommitException), then publishes the
  * staged files and merges the new positions into the sidecars. A
  * crash mid-commit leaves inserts published with some vectors
  * unapplied — visible duplicates, never silent loss, repaired by
  * re-running (the house row-level contract).
  */
private[sources] object GraftDeltaMor {

  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"

  def metadataColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "table-relative path of the row's data file"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "file-absolute row ordinal (deletion-vector position)"
    })

  def isMetaField(name: String): Boolean =
    name.equalsIgnoreCase(FileCol) || name.equalsIgnoreCase(PosCol)

  /** Session gate for commit-time preimage capture (default ON): the
    * delta operation requests the `_graft_pre_*` mirrors of the data
    * columns as metadata attributes and its tasks write each
    * deleted/updated row's pre-image into a per-commit sidecar
    * ([[GraftCommits.preRoot]]), so the changes feed serves exact rows
    * with zero read amplification. OFF restores the r17 behavior (feed
    * re-reads data files and filters to the recorded ordinals — same
    * rows, ~10x the read at a 10% match rate).
    */
  val CaptureConf = "spark.graft.changes.preimageCapture"

  def captureEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(CaptureConf).forall(_.toBoolean)

  /** Preimage MIRROR metadata columns: `_graft_pre_<col>` exposes the
    * row's own `<col>` value as a METADATA column. The point is the
    * NAME: Spark's delta projections bind by name, and an UPDATE's new
    * values are aliases named after the data columns — a metadata
    * request for `v` would read the POST-image. The reserved prefix
    * cannot collide, and the preserve-on-delete/update markers keep
    * Spark from nullifying the values on the very ops that need them.
    */
  val PrePrefix = "_graft_pre_"

  def preColName(c: String): String = PrePrefix + c
  def isPreField(name: String): Boolean =
    name.toLowerCase.startsWith(PrePrefix)
  def preSourceOf(name: String): String = name.substring(PrePrefix.length)

  /** Coordinate fields OR preimage mirrors — everything the positional
    * [[MetaScan]] serves on top of the delegate's data columns.
    */
  def isEngineMetaField(name: String): Boolean =
    isMetaField(name) || isPreField(name)

  def metadataColumns(schema: StructType): Array[MetadataColumn] =
    // a user column under either reserved name disables the mirrors
    // (the coordinate columns keep their hard require in changesSchema)
    if (schema.fieldNames.exists(isEngineMetaField)) metadataColumns
    else metadataColumns ++ schema.fields.map { f =>
      new MetadataColumn {
        override def name(): String = preColName(f.name)
        override def dataType(): org.apache.spark.sql.types.DataType =
          f.dataType
        override def isNullable: Boolean = true
        override def comment(): String =
          s"pre-image mirror of ${f.name} (row-level preimage capture)"
        override def metadataInJSON(): String =
          s"""{"${MetadataColumn.PRESERVE_ON_DELETE}": true, """ +
            s""""${MetadataColumn.PRESERVE_ON_UPDATE}": true}"""
      }
    }

  // ---- the metadata scan ---------------------------------------------------

  /** One file's ordered split chain plus its live deletion vector. */
  private final case class FileChain(rel: String,
      files: Array[PartitionedFile], dels: Array[Long]) extends Serializable

  private final class ChainPartition(idx: Int, val chains: Array[FileChain])
    extends FilePartition(idx, chains.flatMap(_.files))

  /** Scan producing the delegate's columns PLUS the requested
    * `_graft_file` / `_graft_pos` coordinates, deletion vectors
    * applied. Row-based by construction.
    */
  final class MetaScan(initial: FileScan, tableDir: Path,
      metaFields: Seq[StructField]) extends Scan with Batch {

    override def readSchema(): StructType =
      StructType(initial.readSchema().fields ++ metaFields)
    override def description(): String =
      s"graft-meta(${metaFields.map(_.name).mkString(",")}) " +
        initial.description()
    override def toBatch: Batch = this
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      Scan.ColumnarSupportMode.UNSUPPORTED

    override def planInputPartitions(): Array[InputPartition] = {
      val fs = tableDir.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      // positional coordinates cannot reason about equality-delete
      // epoch floors — refuse rather than hand out resurrectable rows
      GraftEqDel.requireNone(fs, tableDir, "a positional (row-coordinate) scan")
      val dvIndex = GraftDv.list(fs, tableDir)
      val parts = initial.toBatch.planInputPartitions()
      val all = parts.toSeq.flatMap {
        case fp: FilePartition => fp.files.toSeq
        case other => throw new IllegalStateException(
          s"metadata scan over a non-file partition: $other")
      }
      // WHOLE-FILE skipping composes with positional reads: a file the
      // stats manifest or a bloom filter proves free of matching rows
      // holds nothing to update or delete, so dropping it cannot change
      // the operation (Spark only pushes filters that are semantically
      // applicable to this scan — e.g. a NOT-MATCHED-BY-SOURCE merge
      // pushes nothing). Positions in SURVIVING files are untouched —
      // skipping never splits a file. Readers stay filter-stripped.
      val filters = initial.dataFilters
      val splits =
        if (filters.isEmpty) all
        else {
          val stats = new GraftStats.ScopedReader(fs, tableDir)
            .forFiles(all)
          val blooms = new GraftBloom.ScopedReader(fs, tableDir)
            .forFiles(all)
          all.filter { f =>
            (stats.isEmpty ||
              GraftStats.keepFile(f, filters, stats, tableDir)) &&
            (blooms.isEmpty ||
              GraftBloom.keepFile(f, filters, blooms, tableDir))
          }
        }
      val dvs = GraftDv.forFiles(fs, tableDir, splits, dvIndex)
      if (dvs.nonEmpty) GraftDv.verifyLive(fs, tableDir, dvs, splits)
      // one chain per file: splits sorted and contiguity-checked —
      // ordinal counting is only meaningful over the whole file in order
      val byFile = splits.groupBy(_.toPath.toString).toSeq.sortBy(_._1)
      val chains = byFile.map { case (_, ss) =>
        val rel = GraftDv.relOf(tableDir, ss.head.toPath).getOrElse(
          throw new IllegalStateException(
            s"file ${ss.head.toPath} outside table dir $tableDir"))
        val sorted = ss.sortBy(_.start).toArray
        var expect = 0L
        sorted.foreach { s =>
          require(s.start == expect,
            s"metadata scan: splits of $rel are not contiguous " +
              s"(expected offset $expect, got ${s.start})")
          expect = s.start + s.length
        }
        require(expect == sorted.head.fileSize,
          s"metadata scan: splits of $rel cover $expect of " +
            s"${sorted.head.fileSize} bytes")
        FileChain(rel, sorted, dvs.get(rel).map(_.ords).getOrElse(Array.empty))
      }
      // one chain per partition: per-file parallelism, exact ordinals
      GraftMorRuntimeScope.lastPlannedRels.set(chains.map(_.rel))
      chains.zipWithIndex.map { case (c, i) =>
        new ChainPartition(i, Array(c)): InputPartition
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new MetaReaderFactory(
        GraftScanFilters.withoutDataFilters(initial).toBatch
          .createReaderFactory(),
        // meta projection: for each requested field, 0 = file, 1 = pos,
        // 2+i = preimage mirror copying the delegate row's column i
        metaFields.map { f =>
          if (f.name.equalsIgnoreCase(FileCol)) 0
          else if (f.name.equalsIgnoreCase(PosCol)) 1
          else {
            val src = preSourceOf(f.name)
            val i = initial.readSchema().fieldNames
              .indexWhere(_.equalsIgnoreCase(src))
            require(i >= 0, s"preimage mirror ${f.name}: source column " +
              s"$src is not in the delegate read schema")
            2 + i
          }
        }.toArray,
        metaFields.map(_.dataType).toArray)
  }

  private final class MetaReaderFactory(unfiltered: PartitionReaderFactory,
      metaSel: Array[Int],
      metaTypes: Array[org.apache.spark.sql.types.DataType])
    extends PartitionReaderFactory {
    override def supportColumnarReads(p: InputPartition): Boolean = false
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = p match {
      case c: ChainPartition => new ChainReader(c.chains)
      case other => throw new IllegalStateException(
        s"metadata reader over unexpected partition $other")
    }

    private final class ChainReader(chains: Array[FileChain])
      extends PartitionReader[InternalRow] {
      private var ci = -1
      private var cur: PartitionReader[InternalRow] = _
      private var rel: UTF8String = _
      private var dels: Array[Long] = Array.empty
      private var di = 0
      private var ord = -1L
      private val metaRow = new GenericInternalRow(metaSel.length)
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow()

      private def advance(): Boolean = {
        if (cur != null) { cur.close(); cur = null }
        ci += 1
        if (ci >= chains.length) false
        else {
          val c = chains(ci)
          cur = unfiltered.createReader(FilePartition(0, c.files))
          rel = UTF8String.fromString(c.rel)
          dels = c.dels; di = 0; ord = -1L
          true
        }
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null && !advance()) return false
          if (cur.next()) {
            ord += 1
            while (di < dels.length && dels(di) < ord) di += 1
            if (di < dels.length && dels(di) == ord) { di += 1 }
            else return true
          } else { cur.close(); cur = null }
        }
        false
      }

      override def get(): InternalRow = {
        val data = cur.get()
        var i = 0
        while (i < metaSel.length) {
          metaRow.update(i, metaSel(i) match {
            case 0 => rel
            case 1 => java.lang.Long.valueOf(ord)
            case k => // preimage mirror: the row's own column value
              val src = k - 2
              if (data.isNullAt(src)) null else data.get(src, metaTypes(i))
          })
          i += 1
        }
        joined(data, metaRow)
      }

      override def close(): Unit =
        if (cur != null) { cur.close(); cur = null }
    }
  }

  // ---- the delta write ------------------------------------------------------

  /** Task result: staged insert files (the CowTaskFiles payload) plus
    * the (rel -> sorted positions) this task deleted/updated away and
    * the staged preimage sidecar files capturing those rows' values.
    */
  private final case class DeltaTaskResult(
      files: Seq[(String, String, Long)],
      deletes: Map[String, Array[Long]],
      preFiles: Seq[(String, String, Long)] = Nil)
    extends WriterCommitMessage

  final class GraftMorDeltaWrite(spark: SparkSession, format: String,
      tableSchema: StructType, dir: String, partitionCols: Seq[String],
      bucketSpec: Option[(Int, String)], info: LogicalWriteInfo,
      autoAnalyze: Boolean, command: String = "")
    extends DeltaWrite with RequiresDistributionAndOrdering {

    override def description(): String = s"graft merge-on-read delta $dir"

    // the serializable-conflict snapshot (see GraftDv.fingerprint)
    private val fsAtBuild = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val dvBefore = GraftDv.fingerprint(fsAtBuild, new Path(dir))

    // row layout the writer receives (delta projections are built from
    // the operation's row/rowId schemas); a DELETE command carries no
    // row columns at all
    private val rowSchema: StructType = info.schema()
    private val writesRows: Boolean =
      (partitionCols ++ bucketSpec.map(_._2)).forall(c =>
        rowSchema.fieldNames.exists(_.equalsIgnoreCase(c)))

    // inserts cluster + sort by the hive/bucket key so a task holds one
    // open columnar writer (delete-only rows carry NULL data columns
    // and simply cluster together); a delete-only op has no key
    // columns in its rows — no requirement
    override def requiredDistribution(): Distribution =
      if (writesRows)
        GraftPartitionedCow.clusteringOf(partitionCols, bucketSpec)
      else org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    override def requiredOrdering(): Array[SortOrder] =
      if (writesRows)
        GraftPartitionedCow.orderingOf(partitionCols, bucketSpec)
      else Array.empty
    private val rowIdSchema: StructType = info.rowIdSchema()
      .orElse(StructType(Nil))
    private def idIdx(name: String): Int = {
      val i = rowIdSchema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"merge-on-read delta write: rowId schema " +
        s"$rowIdSchema lacks $name")
      i
    }

    // preimage capture: when the operation requested the preimage
    // MIRROR columns as metadata attributes ([[captureEnabled]]), the
    // writers receive each deleted/updated row's full pre-image and
    // stage it — in the table's own hive layout (mirror names stripped
    // back to the data columns'), so the feed plans the sidecars
    // exactly like tombstones — under ONE per-write dir beside the
    // table ([[GraftCommits.preRoot]]), invisible until the commit
    // record references it (a crashed write leaves an unreferenced
    // dir, never a partial feed)
    private val metaSchema: StructType = StructType(
      info.metadataSchema().orElse(StructType(Nil)).fields
        .filter(f => isPreField(f.name))
        .map(f => f.copy(name = preSourceOf(f.name))))
    private val capturesPre: Boolean = metaSchema.nonEmpty &&
      (partitionCols ++ bucketSpec.map(_._2)).forall(c =>
        metaSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    private val preStageDir: Path = new Path(
      GraftCommits.preRoot(new Path(dir)),
      s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")

    override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
      override def createBatchWriterFactory(
          physInfo: PhysicalWriteInfo): DeltaWriterFactory = {
        val p =
          if (writesRows) Some(GraftPartitionedCow.prepare(spark, format,
            rowSchema, partitionCols, bucketSpec, dir))
          else None // delete-only: no rows will ever be written
        val preP =
          if (capturesPre) Some(GraftPartitionedCow.prepare(spark, format,
            metaSchema, partitionCols, bucketSpec, dir))
          else None
        new MorDeltaWriterFactory(p, dir, rowSchema,
          idIdx(FileCol), idIdx(PosCol),
          preP, preStageDir.toString, metaSchema)
      }

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val fs = new Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val results = messages.toSeq.collect { case r: DeltaTaskResult => r }
        val staged = results.flatMap(_.files)
        val preStaged = results.flatMap(_.preFiles)
        val allDeletes = results.flatMap(_.deletes.toSeq)
          .groupMapReduce(_._1)(_._2.toSet)(_ ++ _)
        val maxRows = spark.conf.getOption(GraftDv.MaxRowsConf)
          .map(_.toLong).getOrElse(GraftDv.MaxRowsDefault)
        val total = allDeletes.valuesIterator.map(_.size.toLong).sum
        require(total <= maxRows,
          s"merge-on-read delta touched $total positions " +
            s"(> ${GraftDv.MaxRowsConf}=$maxRows): a change this wide " +
            "should rewrite files — use delete_mode=copy-on-write")

        GraftCommitLock.withLock(fs, new Path(dir), "mor-delta") {
          GraftEqDel.requireNone(fs, new Path(dir),
            "a merge-on-read delta operation")
          if (GraftDv.fingerprint(fs, new Path(dir)) != dvBefore)
            throw new GraftCommitLock.ConcurrentCommitException(
              s"$dir: deletion vectors changed while this merge-on-read " +
                "operation ran; it read pre-delete rows and was " +
                "DISCARDED — re-run")
          // every delete-target must still exist: a concurrent rewrite
          // retired it and these positions are stale
          allDeletes.keys.foreach { rel =>
            if (!fs.exists(new Path(dir, rel)))
              throw new GraftCommitLock.ConcurrentCommitException(
                s"$dir: $rel was rewritten by a concurrent commit — " +
                  "the merge-on-read positions are stale; re-run")
          }
          // phase 1 — publish staged inserts (atomic per-file rename);
          // preimage sidecars publish the same way, but into the
          // UNREFERENCED per-write dir beside the table — they become
          // part of the feed only when the journal record lands below,
          // so a crash anywhere in between leaves an orphan dir and the
          // feed falls back to the exact ordinal read
          staged.foreach { case (st, fin, _) =>
            require(fs.rename(new Path(st), new Path(fin)),
              s"merge-on-read commit: could not publish $st -> $fin")
          }
          preStaged.foreach { case (st, fin, _) =>
            require(fs.rename(new Path(st), new Path(fin)),
              s"merge-on-read commit: could not publish preimage " +
                s"$st -> $fin")
          }
          val preRels: Seq[String] = {
            val base = fs.makeQualified(
              GraftCommits.preRoot(new Path(dir))).toUri.getPath
            preStaged.map { case (_, fin, _) =>
              fs.makeQualified(new Path(fin)).toUri.getPath
                .stripPrefix(base).stripPrefix("/")
            }.sorted
          }
          // the merged deletion vectors, validated before the record
          val mergedDvs = allDeletes.toSeq.map { case (rel, ords) =>
            val st = fs.getFileStatus(new Path(dir, rel))
            val dvFile = GraftDv.dvPath(new Path(dir), rel)
            if (fs.exists(dvFile)) {
              val prior = GraftDv.read(fs, dvFile)
              require(prior.len == st.getLen &&
                prior.mtime == st.getModificationTime,
                s"deletion vector for $rel no longer matches its data " +
                  "file — concurrent rewrite; re-run")
              val set = mutable.SortedSet.empty[Long]
              set ++= prior.ords; set ++= ords
              GraftDv.Dv(rel, st.getLen, st.getModificationTime,
                set.toArray)
            } else GraftDv.Dv(rel, st.getLen, st.getModificationTime,
              ords.toArray.sorted)
          }
          // phase 2 — commit journal ([[GraftCommits]]), the commit
          // point: one feed-visible record for the whole delta —
          // appended rows as adds (feed: insert; scans plan from it),
          // the NEW ordinals per file as dv deltas (feed: delete;
          // replay: per-commit deletion state). A failed record fails
          // the operation and unpublishes its inserts before any
          // position is deleted.
          if (staged.nonEmpty || allDeletes.nonEmpty) {
            val added = staged.map { case (_, fin, _) =>
              val st = fs.getFileStatus(new Path(fin))
              GraftCommits.relOf(fs, new Path(dir), st.getPath) ->
                GraftCommits.FileInfo(st.getLen, st.getModificationTime)
            }
            GraftCommits.recordOrUnpublish(fs, new Path(dir),
                staged.map { case (_, fin, _) => new Path(fin) }) {
              GraftCommits.record(fs, new Path(dir), "mor_delete",
                adds = added.map(_._1),
                dv = allDeletes.map { case (rel, ords) =>
                  (rel, ords.toArray.sorted) },
                note = command, pre = preRels, info = added.toMap)
            }
          }
          // phase 3 — the merged positions land in the sidecars
          mergedDvs.foreach(GraftDv.write(fs, new Path(dir), _))
        }
        // advisory post-commit stats refresh, scoped to the published
        // dirs (the auto_analyze contract: never fails the write)
        if (autoAnalyze && staged.nonEmpty) {
          val dirUri = new Path(dir).toUri.getPath
          val scope = staged.map(f => new Path(f._2).toUri.getPath)
            .map(p => p.stripPrefix(dirUri).stripPrefix("/"))
            .map(rel => GraftStats.shardKeyOf(rel)).toSet
          try GraftStats.analyze(spark, dir, format, Some(scope))
          catch { case NonFatal(_) => () }
        }
        // maintenance policy, outside the lock: this commit grew the
        // DV area — a table with dv.rewrite_threshold set materializes
        // once enough files carry vectors
        GraftMaintenance.afterCommit(spark, fs, new Path(dir))
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        val fs = new Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        messages.foreach {
          case DeltaTaskResult(files, _, preFiles) =>
            (files ++ preFiles).foreach { case (st, _, _) =>
              try fs.delete(new Path(st), false)
              catch { case NonFatal(_) => () }
            }
          case _ => ()
        }
        // best-effort: drop the (never-referenced) per-write sidecar dir
        try fs.delete(preStageDir, true)
        catch { case NonFatal(_) => () }
      }
    }
  }

  private final class MorDeltaWriterFactory(
      p: Option[GraftPartitionedCow.Prepared], dir: String,
      rowSchema: StructType, fileIdx: Int, posIdx: Int,
      preP: Option[GraftPartitionedCow.Prepared] = None,
      preStageDir: String = "", metaSchema: StructType = StructType(Nil))
    extends DeltaWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DeltaWriter[InternalRow] = {
      lazy val inner = new GraftPartitionedCow.PartitionedCowWriter(
        p.getOrElse(throw new IllegalStateException(
          "delete-only merge-on-read op tried to write a row")).owf,
        p.get.conf.value, dir, rowSchema, p.get.fileSchema,
        p.get.fileFieldIdx, p.get.partFields, p.get.bucketField,
        partitionId, None, sorted = true)
      // preimage sidecar writer: rows arrive in the DISTRIBUTION's
      // order (clustered by the NEW row's key on update/merge,
      // scan order on delete), not the preimage's partition order —
      // unsorted mode keeps one open writer per partition dir touched.
      // No checks/blooms/ndv: these rows were already in the table.
      lazy val preWriter = new GraftPartitionedCow.PartitionedCowWriter(
        preP.getOrElse(throw new IllegalStateException(
          "preimage capture is off but a preimage row arrived")).owf,
        preP.get.conf.value, preStageDir, metaSchema, preP.get.fileSchema,
        preP.get.fileFieldIdx, preP.get.partFields, preP.get.bucketField,
        partitionId, None, sorted = false)
      var opened = false
      var preOpened = false
      new DeltaWriter[InternalRow] {
        private val dels =
          mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
        private def mark(id: InternalRow): Unit =
          dels.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
            mutable.ArrayBuffer.empty) += id.getLong(posIdx)
        private def capture(meta: InternalRow): Unit =
          if (preP.isDefined) { preOpened = true; preWriter.write(meta) }
        override def delete(meta: InternalRow, id: InternalRow): Unit = {
          mark(id); capture(meta) }
        override def update(meta: InternalRow, id: InternalRow,
            row: InternalRow): Unit = { mark(id); capture(meta)
          opened = true; inner.write(row) }
        override def insert(row: InternalRow): Unit = { opened = true
          inner.write(row) }
        private def filesOf(w: GraftPartitionedCow.PartitionedCowWriter)
            : Seq[(String, String, Long)] = w.commit() match {
          case GraftPartitionedCow.CowTaskFiles(fs0, _, _) => fs0
          case other => throw new IllegalStateException(
            s"unexpected writer message $other")
        }
        override def commit(): WriterCommitMessage =
          DeltaTaskResult(
            if (opened) filesOf(inner) else Nil,
            dels.view.mapValues(_.toArray.sorted).toMap,
            if (preOpened) filesOf(preWriter) else Nil)
        override def abort(): Unit = {
          if (opened) inner.abort()
          if (preOpened) preWriter.abort()
        }
        override def close(): Unit = {
          if (opened) inner.close()
          if (preOpened) preWriter.close()
        }
      }
    }
  }
}
