package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** CHANGELOG reads — `SELECT ... FROM cat.ns.t.changes` (Delta's
  * change-data-feed / Iceberg's changelog scan, re-expressed over this
  * engine's epoch-named streaming files and equality-delete sidecars;
  * the reference consumes its lakehouse incrementally one partition per
  * DAG run — covid_to_s3.py:22-45 — and a changelog is the same
  * consumption contract for row-level change streams).
  *
  * The feed is derived, not stored: the streaming writers already name
  * every epoch's data files `-s<tag>-e<epoch>-` ([[GraftEqDel]] epoch
  * floors) and equality-upsert epochs already persist their key tuples
  * in per-epoch sidecars. A changes row is therefore either
  *
  *  - an epoch data file's row, labeled `upsert` when the epoch still
  *    has a live key sidecar (its keys retracted all older rows) and
  *    `insert` otherwise (an append-mode epoch, or an upsert epoch
  *    whose sidecar provably deleted nothing and was GC'd), or
  *  - a sidecar key tuple, labeled `delete`: key columns populated,
  *    every other column NULL — Iceberg's equality-delete changelog
  *    row shape.
  *
  * Two virtual columns extend the table schema: `_change_type`
  * (insert | upsert | delete) and `_change_epoch`. Predicates on them
  * push down EXACTLY — an epoch-bounded read plans only that epoch's
  * files and sidecars, so consuming the feed costs the CHANGE, never
  * the table (the 100 TB contract; same posture as the epoch writes).
  *
  * The feed is a KEYED changelog, and compaction may coalesce: the
  * per-epoch sidecar maintenance ([[GraftEqDel.compactSidecars]]) drops
  * keys re-deleted by later epochs and whole sidecars that deleted
  * nothing, so a key's retraction is attributed to the LATEST epoch
  * that retracted it. Replaying the feed keyed by the upsert keys
  * converges to the live table state regardless.
  *
  * Horizon (Delta's "CDC disabled before version v" rule): only LIVE
  * epoch-named emission files are servable. `rewrite_deletes`
  * materialization rewrites files (stamped `-ef<tag>x<n>-`, excluded as
  * artifacts) and consumes sidecars — epochs at or below the max stamp
  * are rewritten history. An EXPLICIT lower bound at or below the
  * horizon refuses loudly; an unbounded read serves the retained feed.
  * Batch appends, compaction artifacts and other streams' files carry
  * no current-stream epoch and are outside the feed by contract.
  *
  * Refusals (loud, never silently-partial): tables with live positional
  * deletion vectors (row-level DML carries no epoch attribution — the
  * changelog is defined for streaming epochs) and directories whose
  * un-materialized emission files span MULTIPLE stream tags with no
  * live sidecar to pick the current one (compact to reset the horizon).
  * Evolved partition specs are SUPPORTED: the scan swaps in the
  * era-aware index ([[GraftEvolved]]) so anchor values parse from each
  * file's own chain, and the stream replans each batch through it.
  *
  * Maintenance-policy interplay: a table with `eqdel.rewrite_threshold`
  * armed ([[GraftMaintenance]]) auto-materializes at epoch commits, so
  * its changelog horizon advances WITHOUT an operator action — CDC
  * consumers on such tables must keep pace with the writer or accept
  * the lagging-consumer refusal and re-bootstrap from table state (the
  * same operational contract as Delta's CDF retention window, with the
  * refusal in place of a silent gap).
  */
private[sources] object GraftChanges {

  val TypeCol = "_change_type"
  val EpochCol = "_change_epoch"
  /** Stream feeds label insert/upsert/delete; the batch-journal feed
    * additionally labels UPDATE/MERGE commits' rows as Delta-CDF
    * update pairs — `update_preimage` (the replaced rows) and
    * `update_postimage` (their successors). FILE-granular, like the
    * rest of the batch feed: a copy-on-write rewrite's carryover rows
    * and a MERGE's not-matched inserts ride the same labels as the
    * genuinely updated rows of their commit; signed replay (pre → −,
    * post → +) nets identically to the insert/delete labeling.
    */
  private[sources] val TypeValues = Set("insert", "upsert", "delete",
    "update_preimage", "update_postimage")

  /** The changes relation schema: every data column NULLABLE (delete
    * rows carry keys only) + the two virtual columns.
    */
  def changesSchema(base: StructType): StructType = {
    require(!base.fieldNames.exists(n =>
      n.equalsIgnoreCase(TypeCol) || n.equalsIgnoreCase(EpochCol)),
      s"table already has a $TypeCol/$EpochCol column — the changes " +
        "relation cannot disambiguate it")
    StructType(base.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField(TypeCol, StringType, nullable = false),
      StructField(EpochCol, LongType, nullable = false)))
  }

  /** Feed identity from live state: the owning stream tag (live
    * sidecars' tag, else the unique un-materialized emission tag) and
    * the materialization horizon (max floor stamp for that tag; epochs
    * at or below it are rewritten history). Shared by the batch scan
    * and the micro-batch stream so both honor one contract.
    */
  def tagAndHorizon(tableDir: Path,
      sidecars: Seq[GraftEqDel.EqDel], names: Seq[String])
      : (Option[String], Long) = {
    val emissionTags = names.filterNot(GraftEqDel.hasFloorStamp)
      .flatMap(n => GraftEqDel.emissionOf(n).map(_._1)).distinct
    val tag = sidecars.headOption.map(_.tag).orElse {
      require(emissionTags.length <= 1,
        s"$tableDir holds emission files from ${emissionTags.length} " +
          "different streams with no live sidecar to order them — the " +
          "changelog horizon is ambiguous; CALL system.compact to reset")
      emissionTags.headOption
    }
    val horizon = tag match {
      case None => -1L
      case Some(t) =>
        names.iterator.map(GraftEqDel.floorStampOf(_, t))
          .foldLeft(-1L)(math.max)
    }
    (tag, horizon)
  }

  /** Load + validate the sidecars the way the batch scan does: single
    * stream/key-columns, keys under the read cap (delete partitions
    * ship one epoch's tuples to one task each).
    */
  def loadSidecars(fs: org.apache.hadoop.fs.FileSystem, tableDir: Path)
      : Seq[GraftEqDel.EqDel] = {
    val sidecars = GraftEqDel.readLive(fs, tableDir)
    require(sidecars.map(_.tag).distinct.length <= 1 &&
      sidecars.map(_.cols.map(_.toLowerCase)).distinct.length <= 1,
      s"$tableDir carries equality deletes from mixed streams or key " +
        "columns — CALL system.rewrite_deletes first")
    val maxKeys = SparkSession.active.conf.getOption(GraftEqDel.MaxKeysConf)
      .map(_.toLong).getOrElse(GraftEqDel.MaxKeysDefault)
    val total = sidecars.iterator.map(_.keys.length.toLong).sum
    require(total <= maxKeys,
      s"$tableDir holds $total live equality-delete keys (cap " +
        s"$maxKeys): CALL system.rewrite_deletes to materialize them")
    sidecars
  }
}

/** The `<table>.changes` relation (read-only). Scans wrap the format
  * delegate's file scan: emission files keep the delegate's splits and
  * readers (alias-merging rename reader included) with the two virtual
  * columns appended per file at zero copy ([[JoinedRow]]); delete rows
  * stream from the sidecars' decoded key tuples.
  */
private[sources] final class GraftChangesTable(
    spark: SparkSession, baseName: String, dir: String, format: String,
    meta: GraftTableMeta)
  extends Table with SupportsRead {

  require(format == "parquet",
    s"$baseName.changes: the changelog is defined over parquet tables " +
      s"(epoch-named streaming files); format is $format")

  private def delegate = {
    // evolved partition specs: skip Spark's partition inference (it
    // refuses mixed directory depths) — the scan swaps in the
    // era-aware index, exactly like the main catalog scans
    val opts = new CaseInsensitiveStringMap(
      (if (meta.evolvedCols.nonEmpty)
        Map("recursiveFileLookup" -> "true")
      else Map.empty[String, String]).asJava)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name(), spark, opts, Seq(dir), meta.schema,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
  }

  override def name(): String = s"$baseName.changes"

  override def schema(): StructType =
    GraftChanges.changesSchema(meta.schema.getOrElse(delegate.schema))

  override def partitioning(): Array[Transform] = Array.empty

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options) match {
      case fsb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
        new GraftChangesScanBuilder(fsb, new Path(dir), schema(),
          meta.renameAliases,
          baseSchema = meta.schema.getOrElse(delegate.schema),
          anchorCols = meta.partitionCols, evolvedCols = meta.evolvedCols,
          fromEpoch = Option(options.get("fromEpoch")).map(_.toLong),
          toEpoch = Option(options.get("toEpoch")).map(_.toLong),
          maxEpochsPerTrigger =
            Option(options.get("maxEpochsPerTrigger")).map(_.toLong))
      case other => throw new IllegalStateException(
        s"unreachable: parquet delegate returned $other")
    }
}

/** Pushdown surface of the changes relation: required-column pruning
  * forwards data columns to the delegate (virtual columns peel off);
  * predicates on `_change_epoch` / `_change_type` are handled EXACTLY
  * (every row of an epoch file has that epoch; sidecar rows are typed
  * at emission) — everything else stays residual, evaluated by Spark
  * over the feed's rows, so a data-column predicate can never drop a
  * delete row incorrectly.
  */
private[sources] final class GraftChangesScanBuilder(
    fsb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder,
    tableDir: Path, fullSchema: StructType,
    renameAliases: Map[String, Seq[String]],
    baseSchema: StructType,
    anchorCols: Seq[String], evolvedCols: Seq[String],
    fromEpoch: Option[Long], toEpoch: Option[Long],
    maxEpochsPerTrigger: Option[Long] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {

  import GraftChanges._

  // default projection: everything (pruneColumns overrides)
  private var virtualReq: Seq[StructField] =
    fullSchema.fields.toSeq.filter(f =>
      f.name == TypeCol || f.name == EpochCol)

  private var lo: Option[Long] = fromEpoch
  private var hi: Option[Long] = toEpoch
  private var epochSet: Option[Set[Long]] = None
  private var typeSet: Option[Set[String]] = None
  private var pushed: Seq[Filter] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (virt, data) = requiredSchema.fields.partition(f =>
      f.name == TypeCol || f.name == EpochCol)
    virtualReq = virt.toSeq
    fsb.pruneColumns(StructType(data))
  }

  private def longOf(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filter {
      case EqualTo(EpochCol, v) if longOf(v).isDefined =>
        val e = longOf(v).get
        epochSet = Some(epochSet.getOrElse(Set(e)).intersect(Set(e)))
        pushed :+= EqualTo(EpochCol, v); false
      case GreaterThan(EpochCol, v) if longOf(v).isDefined =>
        lo = Some(math.max(lo.getOrElse(Long.MinValue), longOf(v).get + 1))
        pushed :+= GreaterThan(EpochCol, v); false
      case GreaterThanOrEqual(EpochCol, v) if longOf(v).isDefined =>
        lo = Some(math.max(lo.getOrElse(Long.MinValue), longOf(v).get))
        pushed :+= GreaterThanOrEqual(EpochCol, v); false
      case LessThan(EpochCol, v) if longOf(v).isDefined =>
        hi = Some(math.min(hi.getOrElse(Long.MaxValue), longOf(v).get - 1))
        pushed :+= LessThan(EpochCol, v); false
      case LessThanOrEqual(EpochCol, v) if longOf(v).isDefined =>
        hi = Some(math.min(hi.getOrElse(Long.MaxValue), longOf(v).get))
        pushed :+= LessThanOrEqual(EpochCol, v); false
      case f @ In(EpochCol, vs) if vs.forall(longOf(_).isDefined) =>
        val s = vs.flatMap(longOf).toSet
        epochSet = Some(epochSet.map(_.intersect(s)).getOrElse(s))
        pushed :+= f; false
      case f @ EqualTo(TypeCol, v: String) if TypeValues(v) =>
        typeSet = Some(typeSet.map(_.intersect(Set(v))).getOrElse(Set(v)))
        pushed :+= f; false
      case f @ In(TypeCol, vs) if vs.forall {
          case s: String => TypeValues(s); case _ => false } =>
        val s = vs.map(_.asInstanceOf[String]).toSet
        typeSet = Some(typeSet.map(_.intersect(s)).getOrElse(s))
        pushed :+= f; false
      case _ => true
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed.toArray

  override def build(): Scan = fsb.build() match {
    case fscan0: FileScan =>
      // evolved tables: swap in the era-aware index and move anchor
      // columns to the read partition schema (their values live in
      // directory tokens) — the main scans' shape, with no pushed
      // anchor predicates (the feed keeps every data filter residual)
      val fscan =
        if (evolvedCols.isEmpty) fscan0
        else GraftEvolved.rebuildScan(fscan0, SparkSession.active,
          tableDir, baseSchema, anchorCols, evolvedCols, Nil)
      new GraftChangesScan(fscan, tableDir, virtualReq, lo, hi, epochSet,
        typeSet, renameAliases, maxEpochsPerTrigger)
    case other => throw new IllegalStateException(
      s"unreachable: delegate built $other")
  }
}

/** One sidecar's delete rows: the epoch and its decoded key tuples
  * ('l' components as Long, 's' as String, None = the null key).
  */
private[sources] final case class ChangesSidecarPartition(
    epoch: Long, keys: Seq[Seq[Option[Any]]]) extends InputPartition

/** One batch commit's feed rows of one label: pre-planned files (live
  * or tombstone-resolved) whose every row — or, with `ords`, exactly
  * the recorded row ordinals — is emitted under the constant
  * (label, commit id) virtual pair.
  */
private[sources] final case class BatchChangePartition(
    id: Long, label: String, files: Array[PartitionedFile],
    ords: Map[String, Array[Long]]) extends InputPartition

private[sources] final class GraftChangesScan(
    fileScan: FileScan, tableDir: Path, virtualReq: Seq[StructField],
    lo: Option[Long], hi: Option[Long], epochSet: Option[Set[Long]],
    typeSet: Option[Set[String]],
    renameAliases: Map[String, Seq[String]],
    maxEpochsPerTrigger: Option[Long] = None)
  extends Scan with Batch {

  import GraftChanges._

  override def readSchema(): StructType =
    // data columns must report nullable: sidecar delete rows emit NULL
    // for every non-key column, so a NOT NULL flag inherited from the
    // table schema would let IsNull fold those rows away post-pushdown
    StructType(
      fileScan.readSchema().fields.map(_.copy(nullable = true)) ++
        virtualReq)

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftChangesScan(${tableDir.getName}, " +
      s"epochs=[${lo.getOrElse("-inf")},${hi.getOrElse("+inf")}]" +
      s"${epochSet.map(s => s" in {${s.toSeq.sorted.mkString(",")}}")
        .getOrElse("")}, " +
      s"types=${typeSet.getOrElse(TypeValues).toSeq.sorted.mkString("|")})"

  private def admitsEpoch(e: Long): Boolean =
    lo.forall(e >= _) && hi.forall(e <= _) && epochSet.forall(_.contains(e))
  private def admitsType(t: String): Boolean = typeSet.forall(_.contains(t))

  /** An EXPLICIT epoch bound that reaches into rewritten history must
    * refuse, not silently serve a partial feed (Delta's beyond-retention
    * error) — shared by the batch plan AND the stream's initialOffset so
    * both paths refuse identically (batch-contract parity). Only the
    * UNBOUNDED read serves "the retained feed, whatever it is".
    */
  /** True when the read's EXPLICIT epoch bounds demand positions at or
    * below `horizon` (unbounded reads never do — they serve "the
    * retained feed, whatever it is").
    */
  private def demandsBelow(horizon: Long): Boolean = {
    if (horizon < 0) return false
    if (lo.isEmpty && hi.isEmpty && epochSet.isEmpty) return false
    val l = lo.getOrElse(0L)
    l <= horizon && hi.forall(_ >= 0L) && (epochSet match {
      case None => true
      case Some(s) =>
        s.exists(e => e >= l && e <= horizon && hi.forall(e <= _))
    })
  }

  private[sources] def requireAboveHorizon(horizon: Long): Unit =
    require(!demandsBelow(horizon),
      s"$tableDir: epochs at or below $horizon were materialized by " +
        "rewrite_deletes — that change history is rewritten and " +
        "cannot be served. Bound the read above the horizon " +
        s"(_change_epoch > $horizon) or read unbounded for the " +
        "retained feed")

  private def requireAboveBatchHorizon(horizon: Long): Unit =
    require(!demandsBelow(horizon),
      s"$tableDir: commits at or below $horizon are not row-level " +
        "servable (pre-journal history, a full replace, or expired " +
        "preimage tombstones). Bound the read above the horizon " +
        s"(_change_epoch > $horizon) or read unbounded for the " +
        "retained feed")

  /** Driver-side feed state, recomputed per planning pass (AQE may
    * re-plan; listings must see the current directory, same contract
    * as the main scans).
    */
  private final class FeedState {
    val fs = tableDir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    require(GraftDv.list(fs, tableDir).isEmpty,
      s"$tableDir carries live positional deletion vectors — row-level " +
        "DML has no epoch attribution, so the changelog is undefined; " +
        "CALL system.rewrite_deletes, or consume the table state instead")
    val sidecars: Seq[GraftEqDel.EqDel] =
      GraftChanges.loadSidecars(fs, tableDir)
    lazy val delegateParts: Array[InputPartition] =
      fileScan.toBatch.planInputPartitions()
    private lazy val names: Seq[String] = delegateParts.toSeq.collect {
      case fp: FilePartition => fp.files.toSeq.map(_.toPath.getName)
    }.flatten
    private lazy val tagHorizon =
      GraftChanges.tagAndHorizon(tableDir, sidecars, names)
    def feedTag: Option[String] = tagHorizon._1
    /** Max materialization stamp for the feed tag: epochs at or below
      * it are rewritten history.
      */
    def horizon: Long = tagHorizon._2
    /** An EXPLICIT epoch bound that reaches into rewritten history must
      * refuse, not silently serve a partial feed (Delta's
      * beyond-retention error). Only the UNBOUNDED read serves "the
      * retained feed, whatever it is".
      */
    def checkHorizon(): Unit = requireAboveHorizon(horizon)
    val sidecarEpochs: Set[Long] = sidecars.map(_.epoch).toSet
    def servable(e: Long): Boolean = e > horizon && admitsEpoch(e)
  }

  /** Batch-journal feed mode ([[GraftCommits]], r14 verdict item 1 —
    * Delta CDF for batch INSERT/UPDATE/DELETE/MERGE): active when the
    * table's commit journal carries feed-visible records. Feed
    * positions are commit ids; each commit's `adds` serve as `insert`
    * rows and its `removes`/`dv` positions as `delete` rows with FULL
    * preimages — removed files read from their tombstone commit
    * ([[GraftRetired]] preserves relative layout, so hive partition
    * values parse identically), deletion-vector rows from the recorded
    * per-commit ordinal deltas. Net-changes at file granularity
    * (Iceberg's changelog contract): a COW rewrite's carryover rows
    * appear as a delete+insert pair that cancels under keyed replay,
    * so replaying the feed converges to the live state.
    *
    * Cost contract: an epoch-bounded read plans ONLY the bounded
    * commits' recorded files — consuming the feed costs the CHANGE,
    * never the table (the same 100 TB posture as the stream feed).
    *
    * Refusals (loud, never silently partial): mixed stream+batch
    * change history; visible files no record accounts for (a crashed
    * or journal-bypassing commit); live deletion vectors with
    * positions no record attributes; un-materialized partition-spec
    * evolution (tombstone preimages predate the current era chain).
    * The batch HORIZON mirrors the stream one: the max of floor
    * records (genesis/replace) and commits whose preimage tombstones
    * were GC'd — explicit bounds at or below it refuse, unbounded
    * reads serve the retained feed above it.
    */
  private final class BatchFeed(fs: org.apache.hadoop.fs.FileSystem,
      ck: Option[GraftCommits.Checkpoint],
      recs: Seq[GraftCommits.Rec]) {
    private def spark = SparkSession.active
    private val feedRecs = recs.filter(_.feedVisible)
    /** Everything an expired prefix accounted, folded: file rels the
      * accounting checks accept without their original records.
      */
    private val ckFiles: Set[String] =
      ck.map(_.files.keySet).getOrElse(Set.empty)

    require(!fileScan.fileIndex
        .isInstanceOf[GraftEvolved.EvolvedFileIndex],
      s"$tableDir: the batch changelog is refused while a partition-" +
        "spec evolution is un-materialized — CALL system.compact first")

    /** Live (unstamped) emission file rels, for stream-record
      * servability and the journaled-emission accounting check. One
      * listing per planning pass, the feed's standing cost class.
      */
    private val liveEmissionRels: Set[String] = {
      val base = fs.makeQualified(tableDir).toUri.getPath
      GraftEvolved.listVisible(fs, tableDir)
        .filter { st =>
          val n = st.getPath.getName
          GraftEqDel.emissionOf(n).isDefined && !GraftEqDel.hasFloorStamp(n)
        }
        .map(st => fs.makeQualified(st.getPath).toUri.getPath
          .stripPrefix(base).stripPrefix("/"))
        .toSet
    }

    /** Live equality-delete sidecars, keyed by (tag, epoch) — stream
      * records serve their delete rows from these; empty on pure-batch
      * tables (zero cost).
      */
    private val liveSidecars: Map[(String, Long), GraftEqDel.EqDel] =
      GraftChanges.loadSidecars(fs, tableDir)
        .map(d => ((d.tag, d.epoch), d)).toMap

    locally {
      // stream history interleaves on the journal axis ONLY when every
      // live emission and sidecar is accounted by a stream_epoch
      // record (r15 item 2). Unjournaled legacy emissions have no
      // common ordering with batch commits — the original refusal.
      val streamAdds = recs.iterator
        .filter(_.kind == GraftCommits.StreamEpochKind)
        .flatMap(_.adds).toSet ++ ckFiles
      val unjournaled = liveEmissionRels -- streamAdds
      val journaledEpochs = recs.flatMap(_.streamEpoch).toSet
      val orphanSidecars =
        liveSidecars.keySet.filterNot(journaledEpochs.contains)
      require(unjournaled.isEmpty && orphanSidecars.isEmpty,
        s"$tableDir mixes streaming epoch emissions with batch DML " +
          "commits and the stream history predates epoch journaling — " +
          "the two change histories have no common ordering " +
          "and cannot be served as one feed; CALL system.compact to " +
          "reset the changelog, or consume the table state instead")
      // accounting: every visible data file must be attributed to a
      // commit — an unaccounted file means a crashed or journal-
      // bypassing commit whose changes would silently be missing
      val allAdds = recs.iterator.flatMap(_.adds).toSet ++ ckFiles
      val universe = GraftCommits.universe(fs, tableDir)
      val unaccounted = universe -- allAdds
      require(unaccounted.isEmpty,
        s"$tableDir has ${unaccounted.size} data file(s) no commit " +
          s"record accounts for (e.g. ${unaccounted.take(3).mkString(", ")})" +
          " — a crashed commit or a writer bypassing the journal; " +
          "CALL system.compact to reset the changelog")
      // deletion-vector attribution: every live deleted position must
      // belong to a recorded mor_delete delta
      val liveDvs = GraftDv.list(fs, tableDir)
      if (liveDvs.nonEmpty) {
        val attributed: Map[String, Set[Long]] =
          (ck.toSeq.flatMap(_.dv) ++ recs.flatMap(_.dv))
            .groupMapReduce(_._1)(_._2.toSet)(_ ++ _)
        liveDvs.foreach { case (rel, p) =>
          val orphan = GraftDv.read(fs, p).ords.toSet --
            attributed.getOrElse(rel, Set.empty)
          require(orphan.isEmpty,
            s"$tableDir: deletion vector for $rel carries ${orphan.size} " +
              "position(s) no commit record attributes — " +
              "CALL system.rewrite_deletes, then compact to reset")
        }
      }
    }

    private val retired = GraftRetired.retiredRoot(tableDir)
    private val preRoot = GraftCommits.preRoot(tableDir)
    // a commit's sidecars serve only when every file it recorded is
    // still there; a partly deleted set falls back to the ordinal read
    private def preServable(r: GraftCommits.Rec): Boolean =
      r.pre.nonEmpty && r.pre.forall(p =>
        p.takeWhile(_ != '/').nonEmpty && fs.exists(new Path(preRoot, p)))
    // rel -> its removing records (id-ascending): resolves which
    // tombstone holds the instance a given commit added
    private val removalsByRel: Map[String, Seq[(Long, String)]] =
      recs.flatMap(r => r.removes.map(rm => (rm.rel, (r.id, rm.tomb))))
        .groupMap(_._1)(_._2).map { case (k, v) => (k, v.sortBy(_._1)) }

    private val tombOk = scala.collection.mutable.Map.empty[String, Boolean]
    private def tombExists(t: String): Boolean =
      tombOk.getOrElseUpdate(t,
        t.nonEmpty && fs.exists(new Path(retired, t)))

    /** Base dir holding the instance of `rel` that was LIVE at commit
      * `id` (None = its preserving tombstone is gone). Mirrors
      * [[GraftCommits.resolveInstance]] with a distinct-tombstone
      * existence cache — O(tombstone commits), not O(feed files), per
      * planning pass; the per-FILE check only runs for the rare
      * rollback-restored instances.
      */
    private def instanceBase(rel: String, id: Long): Option[Path] =
      removalsByRel.get(rel).flatMap(_.find(_._1 > id)) match {
        case Some((rmId, tomb)) =>
          val restored =
            recs.exists(r2 => r2.id > rmId && r2.adds.contains(rel))
          if (!restored) {
            if (tombExists(tomb)) Some(new Path(retired, tomb)) else None
          } else if (tomb.nonEmpty &&
              fs.exists(new Path(retired, s"$tomb/$rel")))
            Some(new Path(retired, tomb))
          else Some(tableDir) // rollback moved the SAME instance back
        case None => Some(tableDir) // never removed since: live
      }

    // emission files a rewrite_deletes materialization moved: the
    // sidecars that retracted older rows for their epochs are consumed
    private val materialized: Set[String] = recs.iterator
      .filter(_.note == GraftEqDel.MaterializeNote)
      .flatMap(_.removes.map(_.rel)).toSet

    private def servable(r: GraftCommits.Rec): Boolean = {
      // a stream epoch whose emission file was materialized away floors
      // the feed exactly like rewritten batch history, wherever its
      // bytes went; one that resolves live must be in the live census
      def addOk(rel: String): Boolean =
        instanceBase(rel, r.id) match {
          case None => false
          case Some(base) if r.kind == GraftCommits.StreamEpochKind =>
            if (base == tableDir) liveEmissionRels.contains(rel)
            else !materialized(rel)
          case Some(_) => true
        }
      r.adds.forall(addOk) &&
        r.removes.forall(rm => tombExists(rm.tomb)) &&
        r.dv.keys.forall(rel => instanceBase(rel, r.id).isDefined)
    }

    private val floor =
      (ck.map(_.floor).getOrElse(-1L) +:
        recs.filter(_.isFloor).map(_.id)).max
    val horizon: Long = math.max(floor,
      feedRecs.filterNot(servable).map(_.id).foldLeft(-1L)(math.max))

    /** Servable feed positions (streaming admission). */
    def feedIds: Seq[Long] = feedRecs.map(_.id).filter(_ > horizon)

    /** Identity of THIS journal incarnation: a drop and re-create
      * starts a fresh journal — a streaming checkpoint's
      * offsets are only meaningful against the journal that issued
      * them, so the identity travels in the offset and mismatches
      * refuse loudly instead of silently skipping replaced history.
      */
    def feedId: String = recs.headOption
      .map(r => s"${r.ts}-${r.id}").getOrElse("")

    /** Plan one (base dir, rels) group through the delegate scan with a
      * fresh index rooted at the base — partition values parse from the
      * preserved relative layout exactly as on the live table.
      */
    private def plannedFiles(base: Path, rels: Seq[String])
        : Array[PartitionedFile] = {
      val idx = new org.apache.spark.sql.execution.datasources
        .InMemoryFileIndex(
          spark, rels.map(new Path(base, _)),
          Map("basePath" -> base.toString),
          Some(StructType(fileScan.dataSchema.fields ++
            fileScan.fileIndex.partitionSchema.fields)))
      GraftScanFilters.withFileIndex(fileScan, idx)
        .toBatch.planInputPartitions().flatMap {
          case fp: FilePartition => fp.files
          case _ => Array.empty[PartitionedFile]
        }
    }

    /** Whole-file copies (ordinal-filtered reads count row positions
      * sequentially, so splits are rejoined).
      */
    private def wholeFiles(fs0: Array[PartitionedFile])
        : Array[PartitionedFile] =
      fs0.groupBy(_.filePath.toString).values.map { parts =>
        parts.head.copy(start = 0, length = parts.head.fileSize)
      }.toArray

    /** Labels for one record's adds and removes/dv rows: UPDATE/MERGE
      * commits that both retire and publish (COW rewrites) or both
      * retract and append (mor deltas) serve Delta-CDF update pairs;
      * everything else keeps insert/delete. The command rides the
      * record's note — legacy records (no note) keep the net-change
      * labels, never a wrong pair.
      */
    private def labelsOf(r: GraftCommits.Rec): (String, String) = {
      val paired = (r.note == "update" || r.note == "merge") &&
        r.adds.nonEmpty && (r.removes.nonEmpty || r.dv.nonEmpty)
      if (paired) ("update_postimage", "update_preimage")
      else ("insert", "delete")
    }

    def plan(ids: Long => Boolean): Array[InputPartition] = {
      val admitted = feedRecs.filter(r => r.id > horizon && ids(r.id))
      val out = Array.newBuilder[InputPartition]
      admitted.foreach { r =>
        if (r.kind == GraftCommits.StreamEpochKind) {
          // a stream epoch on the journal axis: its emission files as
          // insert/upsert rows (upsert while the epoch's sidecar still
          // retracts older keys — the stream feed's own labeling) and
          // the sidecar's key tuples as delete rows, all positioned at
          // the JOURNAL commit id
          val sc = r.streamEpoch.flatMap(liveSidecars.get)
          val label = if (sc.isDefined) "upsert" else "insert"
          if (admitsType(label) && r.adds.nonEmpty)
            r.adds.groupBy(rel => instanceBase(rel, r.id).get)
              .foreach { case (base, rels) =>
                // ONE partition PER SPLIT (r16 q229 scaling): a commit
                // used to serve as a single task reading its whole
                // file set sequentially — at sf1 the feed ran on one
                // core per commit
                plannedFiles(base, rels).foreach(f =>
                  out += BatchChangePartition(r.id, label, Array(f),
                    Map.empty))
              }
          if (admitsType("delete"))
            sc.filter(_.keys.nonEmpty).foreach(d =>
              out += ChangesSidecarPartition(r.id, d.keys))
        } else {
          val (addLabel, delLabel) = labelsOf(r)
          // ONE partition PER SPLIT, not per commit (r16 q229
          // scaling): the feed used to read a commit's whole file set
          // sequentially in a single task — correct, but serial; at
          // sf1 every wide commit pinned one core while the rest of
          // the cluster idled. Ordinal counting resets per FILE inside
          // the reader, so whole-file granularity preserves exactness
          // for dv partitions and plain splits distribute freely.
          if (admitsType(addLabel) && r.adds.nonEmpty)
            r.adds.groupBy(rel => instanceBase(rel, r.id).get)
              .foreach { case (base, rels) =>
                plannedFiles(base, rels).foreach(f =>
                  out += BatchChangePartition(r.id, addLabel, Array(f),
                    Map.empty))
              }
          if (admitsType(delLabel)) {
            if (r.removes.nonEmpty)
              r.removes.groupBy(_.tomb).foreach { case (tomb, rms) =>
                plannedFiles(new Path(retired, tomb), rms.map(_.rel))
                  .foreach(f =>
                    out += BatchChangePartition(r.id, delLabel, Array(f),
                      Map.empty))
              }
            if (r.dv.nonEmpty) {
              if (preServable(r))
                // commit-time preimage sidecars hold EXACTLY the dv'd
                // rows (captured by the writing tasks): serve them
                // directly — free split granularity, zero re-read of
                // unmatched rows. The ordinal path below stays the
                // fallback for legacy records and GC'd sidecars.
                r.pre.groupBy(_.takeWhile(_ != '/')).foreach {
                  case (d, paths) =>
                    plannedFiles(new Path(preRoot, d),
                      paths.map(_.drop(d.length + 1))).foreach(f =>
                        out += BatchChangePartition(r.id, delLabel,
                          Array(f), Map.empty))
                }
              else r.dv.toSeq.groupBy { case (rel, _) =>
                instanceBase(rel, r.id).get
              }.foreach { case (base, entries) =>
                val ordsByPath = entries.map { case (rel, ords) =>
                  (fs.makeQualified(new Path(base, rel)).toUri.getPath,
                    ords.sorted)
                }.toMap
                wholeFiles(plannedFiles(base, entries.map(_._1)))
                  .foreach { f =>
                    val key = f.toPath.toUri.getPath
                    out += BatchChangePartition(r.id, delLabel, Array(f),
                      ordsByPath.view.filterKeys(_ == key).toMap)
                  }
              }
            }
          }
        }
      }
      out.result()
    }
  }

  /** The batch journal's feed-visible records, or empty = stream mode.
    * Recomputed per planning pass, like every other feed census.
    */
  private def journalRecs(fs: org.apache.hadoop.fs.FileSystem)
      : Seq[GraftCommits.Rec] = GraftCommits.list(fs, tableDir)

  /** Journal-axis mode gate: any batch row-changing record — retained,
    * or folded into a checkpoint (the `batch` flag keeps the mode
    * stable after expiry).
    */
  private def journalMode(fs: org.apache.hadoop.fs.FileSystem)
      : Option[(Option[GraftCommits.Checkpoint], Seq[GraftCommits.Rec])] = {
    val ck = GraftCommits.latestCheckpoint(fs, tableDir)
    val recs = journalRecs(fs)
    if (recs.exists(_.batchVisible) || ck.exists(_.batch))
      Some((ck, recs))
    else None
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val hfs = tableDir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    journalMode(hfs) match {
      case Some((ck, recs)) =>
        val bf = new BatchFeed(hfs, ck, recs)
        requireAboveBatchHorizon(bf.horizon)
        return bf.plan(admitsEpoch)
      case None => ()
    }
    val st = new FeedState
    st.checkHorizon()
    val tag = st.feedTag.getOrElse(return Array.empty)
    def label(e: Long): String =
      if (st.sidecarEpochs.contains(e)) "upsert" else "insert"
    val emissions: Array[InputPartition] = st.delegateParts.flatMap {
      case fp: FilePartition =>
        val kept = fp.files.filter { f =>
          val n = f.toPath.getName
          !GraftEqDel.hasFloorStamp(n) &&
            GraftEqDel.emissionOf(n).exists { case (t, e) =>
              t == tag && st.servable(e) && admitsType(label(e))
            }
        }
        if (kept.isEmpty) None
        else Some(FilePartition(0, kept): InputPartition)
      case _ => None
    }
    val deletes: Array[InputPartition] =
      if (!admitsType("delete")) Array.empty
      else st.sidecars.filter(d => st.servable(d.epoch))
        .map(d => ChangesSidecarPartition(d.epoch, d.keys): InputPartition)
        .toArray
    // re-index (FilePartition indices are positional metadata only)
    (emissions ++ deletes).zipWithIndex.map {
      case (fp: FilePartition, i) => FilePartition(i, fp.files)
      case (p, _) => p
    }
  }

  /** Factory construction shared by the batch path and the stream —
    * the stream passes a FRESH census (the scan-build-time delegate
    * index is stale for a running stream).
    */
  private def buildFactory(sidecars: Seq[GraftEqDel.EqDel],
      feedTag: Option[String]): PartitionReaderFactory = {
    val conf = new GraftPartitionedCow.SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)
    def iso(f: PartitionReaderFactory): PartitionReaderFactory =
      new GraftRetired.FallbackReaderFactory(f, tableDir.toString, conf)
    val inner = GraftRename.factoryFor(fileScan, renameAliases, iso)
      .getOrElse(iso(fileScan.toBatch.createReaderFactory()))
    val dataFields = fileScan.readSchema().fields
    // sidecar row plan: for each output slot, where its value comes from
    val keyCols = sidecars.headOption.map(_.cols).getOrElse(Nil)
    val slotPlan: Array[Int] = dataFields.map { f =>
      keyCols.indexWhere(_.equalsIgnoreCase(f.name)) // -1 = null slot
    } ++ virtualReq.map(f => if (f.name == TypeCol) -2 else -3)
    val slotTypes: Array[DataType] =
      (dataFields.map(_.dataType) ++ virtualReq.map(_.dataType)).toArray
    new GraftChangesReaderFactory(inner, feedTag.getOrElse(""),
      sidecars.map(_.epoch).toSet, typeSet,
      virtualReq.map(f => f.name == TypeCol).toArray,
      dataFields.length, slotPlan, slotTypes)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val hfs = tableDir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (journalMode(hfs).isDefined)
      // journal-axis mode: partitions carry everything, but live
      // equality-delete sidecars (journaled stream epochs on a mixed
      // table) supply the key-column slot plan for their delete rows
      buildFactory(GraftChanges.loadSidecars(hfs, tableDir), None)
    else {
      val st = new FeedState
      buildFactory(st.sidecars, st.feedTag)
    }
  }

  /** Streaming CDC consumption —
    * `spark.readStream.table("cat.ns.t.changes")`: offsets ARE feed
    * epochs ("delivered through epoch e"), so the checkpoint is stable
    * across restarts by construction and each micro-batch plans
    * exactly its epochs' emission files + sidecars — per-trigger cost
    * is the CHANGE, never the table, the same contract as the batch
    * feed. `maxEpochsPerTrigger` bounds catch-up batches.
    *
    * Replay semantics: an epoch's emission files are immutable
    * post-commit, so re-delivery after a crash is byte-identical;
    * delete rows may COALESCE between delivery and replay (the
    * sidecar compaction re-attributes a key's retraction to the latest
    * retracting epoch), so consumers must key on the upsert keys — the
    * keyed replay converges identically. Materializing
    * (rewrite_deletes) UNDER a lagging consumer destroys history it
    * has not delivered: the next batch refuses loudly rather than
    * serving a partial feed.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangesMicroBatchStream

  private final class ChangesMicroBatchStream
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

    private def spark = SparkSession.active
    private val fs = tableDir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)

    private case class EpochOffset(epoch: Long, feed: String = "")
      extends Offset {
      override def json(): String =
        if (feed.isEmpty) s"""{"epoch":$epoch}"""
        else s"""{"epoch":$epoch,"feed":"$feed"}"""
    }

    /** Batch-journal mode census (fresh per call, like [[census]]). */
    private def batchFeed(): Option[BatchFeed] =
      journalMode(fs).map { case (ck, recs) => new BatchFeed(fs, ck, recs) }

    /** A checkpointed offset from a DIFFERENT journal incarnation (or
      * feed mode) means the history this consumer tracked was replaced
      * — refuse loudly, never silently skip.
      */
    private def checkFeedIdentity(o: EpochOffset,
        bf: Option[BatchFeed]): Unit = bf match {
      case Some(b) =>
        require(o.feed.isEmpty && o.epoch < 0 || o.feed == b.feedId,
          s"$tableDir: this changelog stream's checkpoint tracks a " +
            "change history that was replaced (full replace or feed-" +
            "mode change) — restart the consumer from the current " +
            "state (fresh checkpoint) instead")
      case None =>
        require(o.feed.isEmpty,
          s"$tableDir: this changelog stream's checkpoint tracks a " +
            "batch commit journal that was replaced — restart the " +
            "consumer from the current state (fresh checkpoint) instead")
    }

    private final case class Census(tag: Option[String], horizon: Long,
        sidecars: Seq[GraftEqDel.EqDel],
        emissions: Seq[(org.apache.hadoop.fs.FileStatus, Long)])

    /** Fresh per call: every trigger must see the current directory. */
    private def census(): Census = {
      require(GraftDv.list(fs, tableDir).isEmpty,
        s"$tableDir carries live positional deletion vectors — " +
          "row-level DML has no epoch attribution, so the changelog " +
          "stream is undefined; CALL system.rewrite_deletes")
      val sidecars = GraftChanges.loadSidecars(fs, tableDir)
      val files = GraftEvolved.listVisible(fs, tableDir)
      val (tag, horizon) = GraftChanges.tagAndHorizon(tableDir, sidecars,
        files.map(_.getPath.getName))
      val em = tag match {
        case None => Nil
        case Some(t) => files.flatMap { st =>
          val n = st.getPath.getName
          if (GraftEqDel.hasFloorStamp(n)) None
          else GraftEqDel.emissionOf(n).collect {
            case (tt, e) if tt == t => (st, e)
          }
        }
      }
      Census(tag, horizon, sidecars, em)
    }

    private def available(c: Census): Seq[Long] =
      (c.emissions.map(_._2) ++ c.sidecars.map(_.epoch))
        .filter(e => e > c.horizon && admitsEpoch(e)).distinct.sorted

    override def initialOffset(): Offset = batchFeed() match {
      case Some(bf) =>
        requireAboveBatchHorizon(bf.horizon)
        EpochOffset(bf.horizon, bf.feedId)
      case None =>
        val c = census()
        // batch-contract parity: ANY explicit bound reaching into
        // rewritten history refuses (fromEpoch, toEpoch-only, epoch-set),
        // mirroring FeedState.checkHorizon — never silently deliver an
        // empty or partial feed
        requireAboveHorizon(c.horizon)
        EpochOffset(c.horizon)
    }

    /** AvailableNow: the run is bounded to epochs visible at start —
      * epochs committed DURING the run are excluded, so the query
      * drains and stops (the table-stream contract).
      */
    @volatile private var availableNowCeiling: Option[Long] = None

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCeiling = Some(batchFeed() match {
        case Some(bf) => bf.feedIds.foldLeft(bf.horizon)(math.max)
        case None =>
          val c = census()
          available(c).foldLeft(c.horizon)(math.max)
      })

    override def deserializeOffset(json: String): Offset =
      EpochOffset(
        """"epoch"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
          .map(_.group(1).toLong).getOrElse(
            throw new IllegalArgumentException(s"bad offset: $json")),
        """"feed"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json)
          .map(_.group(1)).getOrElse(""))

    override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "admission-controlled source: latestOffset(start, limit)")

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val so = start.asInstanceOf[EpochOffset]
      val s = so.epoch
      val bf = batchFeed()
      checkFeedIdentity(so, bf)
      val (avail, feed) = bf match {
        case Some(b) =>
          // a lagging checkpoint below the batch horizon means the
          // undelivered history's preimages were replaced or expired
          require(s >= b.horizon,
            s"$tableDir: commits at or below ${b.horizon} are no longer " +
              s"row-level servable but this changelog stream had only " +
              s"delivered through commit $s — restart the consumer " +
              "from the current state (fresh checkpoint) instead")
          (b.feedIds, b.feedId)
        case None =>
          val c = census()
          // a checkpoint BELOW the current horizon means rewrite_deletes
          // destroyed history this consumer had not delivered — refuse at
          // the first trigger (not only when the next batch plans), or the
          // stream would silently skip the gap once new epochs arrive
          require(s >= c.horizon,
            s"$tableDir: epochs at or below ${c.horizon} were materialized " +
              s"by rewrite_deletes but this changelog stream had only " +
              s"delivered through epoch $s — the undelivered change " +
              "history is rewritten. Restart the consumer from the current " +
              "state (fresh checkpoint) instead")
          (available(c), "")
      }
      val fresh = avail.filter(e => e > s && admitsEpoch(e))
        .filter(e => availableNowCeiling.forall(e <= _)).sorted
      if (fresh.isEmpty) EpochOffset(s, feed)
      else EpochOffset(maxEpochsPerTrigger match {
        // admit the m OLDEST undelivered epochs (bounded catch-up)
        case Some(m) if m > 0 => fresh.take(m.toInt).max
        case _ => fresh.max
      }, feed)
    }

    override def reportLatestOffset(): Offset = batchFeed() match {
      case Some(bf) =>
        EpochOffset(bf.feedIds.foldLeft(bf.horizon)(math.max), bf.feedId)
      case None =>
        val c = census()
        EpochOffset(available(c).foldLeft(c.horizon)(math.max))
    }

    override def planInputPartitions(start: Offset, end: Offset)
        : Array[InputPartition] = {
      val so = start.asInstanceOf[EpochOffset]
      val s = so.epoch
      val e = end.asInstanceOf[EpochOffset].epoch
      if (e <= s) return Array.empty
      batchFeed() match {
        case bfo @ Some(bf) =>
          checkFeedIdentity(so, bfo)
          require(s >= bf.horizon,
            s"$tableDir: commits at or below ${bf.horizon} are no longer " +
              s"row-level servable but this changelog stream had only " +
              s"delivered through commit $s — restart the consumer " +
              "from the current state (fresh checkpoint) instead")
          return bf.plan(id => id > s && id <= e && admitsEpoch(id))
        case None => ()
      }
      val c = census()
      // a batch reaching below the CURRENT horizon means history was
      // materialized under this consumer before it delivered it
      require(s >= c.horizon,
        s"$tableDir: epochs at or below ${c.horizon} were materialized " +
          s"by rewrite_deletes but this changelog stream had only " +
          s"delivered through epoch $s — the undelivered change " +
          "history is rewritten. Restart the consumer from the current " +
          "state (fresh checkpoint) instead")
      val tag = c.tag.getOrElse(return Array.empty)
      def inRange(ep: Long): Boolean = ep > s && ep <= e && admitsEpoch(ep)
      def label(ep: Long): String =
        if (c.sidecars.exists(_.epoch == ep)) "upsert" else "insert"
      val files = c.emissions
        .filter { case (_, ep) => inRange(ep) && admitsType(label(ep)) }
        .map(_._1)
      val fileParts: Array[InputPartition] =
        if (files.isEmpty) Array.empty
        else {
          // the batch's files behind a fresh index (basePath keeps
          // hive partition inference rooted at the TABLE) — the
          // template scan supplies pruned schemas, so the shared
          // reader factory applies (the table-stream pattern)
          val idx = fileScan.fileIndex match {
            case ev: GraftEvolved.EvolvedFileIndex =>
              // evolved tables replan with the era-aware index (plain
              // inference refuses the mixed depths)
              GraftEvolved.buildIndex(spark, ev.tableDir, ev.anchorSchema,
                ev.evolvedSchema, Some(files))
            case _ =>
              new org.apache.spark.sql.execution.datasources
                .InMemoryFileIndex(
                  spark, files.map(_.getPath),
                  Map("basePath" -> tableDir.toString),
                  Some(StructType(fileScan.dataSchema.fields ++
                    fileScan.fileIndex.partitionSchema.fields)))
          }
          GraftScanFilters.withFileIndex(fileScan, idx)
            .toBatch.planInputPartitions()
        }
      val deletes: Array[InputPartition] =
        if (!admitsType("delete")) Array.empty
        else c.sidecars.filter(d => inRange(d.epoch))
          .map(d => ChangesSidecarPartition(d.epoch, d.keys): InputPartition)
          .toArray
      (fileParts ++ deletes).zipWithIndex.map {
        case (fp: FilePartition, i) => FilePartition(i, fp.files)
        case (p, _) => p
      }
    }

    override def createReaderFactory(): PartitionReaderFactory =
      if (journalMode(fs).isDefined)
        buildFactory(GraftChanges.loadSidecars(fs, tableDir), None)
      else {
        val c = census()
        buildFactory(c.sidecars, c.tag)
      }

    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }
}

/** Emission files ride the wrapped delegate reader with the virtual
  * columns appended per file (constant across the file — a
  * [[JoinedRow]], zero copy per row); sidecar partitions stream their
  * key tuples as delete rows. Row-based by design: the feed is an
  * incremental-consumption surface, not an analytics hot path.
  */
private[sources] final class GraftChangesReaderFactory(
    inner: PartitionReaderFactory, feedTag: String,
    sidecarEpochs: Set[Long],
    // handled _change_type predicate, re-enforced per FILE: planning
    // and this factory census independently — a sidecar landing in
    // between must not surface a row the handled filter excluded
    admittedTypes: Option[Set[String]],
    // per appended virtual slot: true = _change_type, false = _change_epoch
    virtualIsType: Array[Boolean],
    nDataFields: Int, slotPlan: Array[Int], slotTypes: Array[DataType])
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case fp: FilePartition => new EmissionReader(fp.files)
    case sc: ChangesSidecarPartition => new SidecarReader(sc)
    case bp: BatchChangePartition => new BatchReader(bp)
    case other => inner.createReader(other)
  }

  /** Batch-journal feed rows: the partition's files chained through
    * the inner reader with the constant (label, commit id) virtual
    * pair joined per row; with recorded ordinals, rows are counted
    * sequentially (whole-file partitions, residual-only data filters —
    * nothing skips rows upstream) and only the deleted positions emit.
    */
  private final class BatchReader(bp: BatchChangePartition)
    extends PartitionReader[InternalRow] {
    private val joined = new JoinedRow
    private val virt = new GenericInternalRow(virtualIsType.length)
    locally {
      val label = UTF8String.fromString(bp.label)
      var i = 0
      while (i < virtualIsType.length) {
        virt.update(i, if (virtualIsType(i)) label else bp.id)
        i += 1
      }
    }
    // planning and factory construction census independently — the
    // handled _change_type filter is re-enforced per partition
    private val admitted = admittedTypes.forall(_.contains(bp.label))
    private var fi = -1
    private var cur: PartitionReader[InternalRow] = _
    private var ords: Array[Long] = _
    private var ordIdx = 0
    private var rowIdx = -1L

    private def advance(): Boolean = {
      if (cur != null) { cur.close(); cur = null }
      fi += 1
      if (fi >= bp.files.length) false
      else {
        val f = bp.files(fi)
        ords = bp.ords.getOrElse(f.toPath.toUri.getPath, null)
        ordIdx = 0
        rowIdx = -1L
        cur = inner.createReader(FilePartition(0, Array(f)))
        true
      }
    }

    override def next(): Boolean = {
      if (!admitted) return false
      while (true) {
        if (cur == null && !advance()) return false
        if (ords != null && ordIdx >= ords.length) {
          // every recorded ordinal of this file already emitted: the
          // tail holds nothing for the feed — skip straight to the
          // next file instead of row-counting to EOF
          cur.close(); cur = null
        } else if (cur.next()) {
          if (ords == null) return true
          rowIdx += 1
          if (ordIdx < ords.length && ords(ordIdx) == rowIdx) {
            ordIdx += 1
            return true
          }
          // not a recorded deletion: keep scanning this file
        } else { cur.close(); cur = null }
      }
      false
    }

    override def get(): InternalRow = joined(cur.get(), virt)

    override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  /** Chains the partition's files; per file, a constant (type, epoch)
    * pair joins every row.
    */
  private final class EmissionReader(files: Array[PartitionedFile])
    extends PartitionReader[InternalRow] {
    private val joined = new JoinedRow
    private val virt = new GenericInternalRow(virtualIsType.length)
    private var fi = -1
    private var cur: PartitionReader[InternalRow] = _

    private def advance(): Boolean = {
      if (cur != null) { cur.close(); cur = null }
      fi += 1
      if (fi >= files.length) false
      else {
        val f = files(fi)
        val (tag, epoch) = GraftEqDel.emissionOf(f.toPath.getName)
          .getOrElse(throw new IllegalStateException(
            s"planned non-emission file ${f.toPath}"))
        require(tag == feedTag, s"planned foreign-stream file ${f.toPath}")
        val labelStr = if (sidecarEpochs.contains(epoch)) "upsert" else "insert"
        if (!admittedTypes.forall(_.contains(labelStr))) return advance()
        val label = UTF8String.fromString(labelStr)
        var i = 0
        while (i < virtualIsType.length) {
          virt.update(i, if (virtualIsType(i)) label else epoch)
          i += 1
        }
        cur = inner.createReader(FilePartition(0, Array(f)))
        true
      }
    }

    override def next(): Boolean = {
      while (true) {
        if (cur == null && !advance()) return false
        if (cur.next()) return true
        cur.close(); cur = null
      }
      false
    }

    override def get(): InternalRow = joined(cur.get(), virt)

    override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  private final class SidecarReader(sc: ChangesSidecarPartition)
    extends PartitionReader[InternalRow] {
    private val row = new GenericInternalRow(slotPlan.length)
    private val it = sc.keys.iterator

    private def castKey(v: Any, dt: DataType): Any = (v, dt) match {
      case (l: Long, ByteType) => l.toByte
      case (l: Long, ShortType) => l.toShort
      case (l: Long, IntegerType) => l.toInt
      case (l: Long, LongType) => l
      case (s: String, StringType) => UTF8String.fromString(s)
      case (other, t) => throw new IllegalStateException(
        s"equality key $other cannot serve a $t column")
    }

    override def next(): Boolean = {
      if (!it.hasNext) return false
      val k = it.next()
      var i = 0
      while (i < slotPlan.length) {
        row.update(i, slotPlan(i) match {
          case -2 => UTF8String.fromString("delete")
          case -3 => sc.epoch
          case -1 => null
          case ki => k(ki).map(castKey(_, slotTypes(i))).orNull
        })
        i += 1
      }
      true
    }

    override def get(): InternalRow = row
    override def close(): Unit = ()
  }
}
