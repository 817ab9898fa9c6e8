package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EQUALITY deletes for streaming upserts (r12 verdict item 6 —
  * Iceberg v2 equality delete files re-expressed over this engine's
  * sidecar layout).
  *
  * The positional upsert (q213) lands each epoch as a real `MERGE
  * INTO`: correct, but every epoch pays a positional scan of the
  * TARGET even when most keys are absent — at 100 TB the per-epoch
  * cost is the table, not the epoch. An equality-delete epoch instead
  * writes two things, both bounded by the EPOCH:
  *
  *  1. the epoch's rows, appended as ordinary data files with the
  *     deterministic streaming names (`part-s<tag>-e<epoch>-...`);
  *  2. one sidecar `_graft_eqdel/q<tag>-e<epoch>.eqd` holding the
  *     epoch's DISTINCT KEY TUPLES — "any OLDER row with one of these
  *     keys is deleted".
  *
  * No table scan happens at commit, ever.
  *
  * Sequencing (Iceberg's data-sequence-number role): a sidecar of
  * epoch `e` applies to a data file iff the file's EPOCH FLOOR is
  * `< e`. The floor is carried in the file NAME — the streaming
  * writer's deterministic names already embed `-e<epoch>-`, and
  * materialization stamps its replacements `-ef<epoch>-`; every other
  * file (pre-existing batch data) floors at -1 and is subject to all
  * sidecars. A row therefore survives iff the LATEST sidecar
  * containing its key is not newer than its file: one hash probe per
  * row against a key→max-epoch map.
  *
  * Single-writer contract, enforced LOUDLY: while equality sidecars
  * are live, the only admitted writers are the owning upsert stream,
  * `TRUNCATE`/complete-refresh (which clears or archives them), and
  * `CALL system.rewrite_deletes` (which materializes them). Batch
  * appends, COW/MOR row-level operations, and a second stream with a
  * different query tag all REFUSE with a pointer to rewrite_deletes —
  * their interactions with epoch floors would otherwise be silently
  * wrong, the one unacceptable failure mode. Reads decline the
  * metadata-answer tiers (footer/manifest counts include deleted
  * rows), and the key map is capped (`spark.graft.eqdel.maxKeys`,
  * default 10M) with a loud refusal pointing to materialization.
  *
  * Null keys: the MERGE upsert path matches keys NULL-SAFELY
  * (`<=>`), so equality deletes do too — a null key component is a
  * legal, matchable value.
  */
private[graft] object GraftEqDel {

  val DirName = "_graft_eqdel"
  val MaxKeysConf = "spark.graft.eqdel.maxKeys"
  val MaxKeysDefault = 10L * 1000 * 1000

  def eqDir(tableDir: Path): Path = new Path(tableDir, DirName)

  /** One epoch's equality-delete sidecar. Key components are stored
    * typed by the same 'l'/'s' kinds as the bloom/stats tiers; a null
    * component is the literal marker "n".
    */
  final case class EqDel(tag: String, epoch: Long, cols: Seq[String],
      kinds: Seq[Char], keys: Seq[Seq[Option[Any]]])

  // ---- codec ---------------------------------------------------------------

  private def b64(s: String): String = java.util.Base64.getUrlEncoder
    .withoutPadding.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s), "UTF-8")

  private def encComp(kind: Char, v: Option[Any]): String = v match {
    case None => "n"
    case Some(x) => kind match {
      case 'l' => s"l$x"
      case 's' => s"s${b64(x.toString)}"
    }
  }
  private def decComp(s: String): Option[Any] = s.charAt(0) match {
    case 'n' => None
    case 'l' => Some(s.substring(1).toLong)
    case 's' => Some(unb64(s.substring(1)))
  }

  def sidecarName(tag: String, epoch: Long): String = f"q$tag-e$epoch%012d.eqd"

  /** Scheme/slash normalization applied IDENTICALLY to the driver-side
    * lookup key (over the fs-qualified URI string) and the data-side
    * `_metadata.file_path` column, so the rewrite join meets on one key
    * on every filesystem: `hdfs://nn:8020/a/b` and its file_path
    * rendering both become `/nn:8020/a/b`. `Path.toUri.getPath` would
    * DROP the authority the column keeps and match NOTHING on
    * authority-carrying filesystems — every file would stage zero
    * survivors and be retired with no replacement (ADVICE r13 high).
    */
  private[graft] def normUri(s: String): String =
    s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:", "").replaceFirst("^/+", "/")

  private[graft] def normUriCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:", ""),
      "^/+", "/")

  def write(fs: FileSystem, tableDir: Path, d: EqDel): Unit = {
    val dir = eqDir(tableDir)
    fs.mkdirs(dir)
    val fin = new Path(dir, sidecarName(d.tag, d.epoch))
    val tmp = new Path(dir, s".${fin.getName}.tmp")
    val sb = new StringBuilder
    sb.append(s"${d.tag}\t${d.epoch}\t${d.cols.map(b64).mkString(",")}\t")
      .append(d.kinds.mkString).append(s"\t${d.keys.length}\n")
    d.keys.foreach { k =>
      sb.append(k.zip(d.kinds).map { case (v, kd) => encComp(kd, v) }
        .mkString("\t")).append('\n')
    }
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    GraftDv.replaceAtomic(fs, tmp, fin)
  }

  def read(fs: FileSystem, p: Path): EqDel = {
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val h = lines.head.split('\t')
    val cols = h(2).split(',').toSeq.map(unb64)
    val kinds = h(3).toSeq
    val keys = lines.tail.filter(_.nonEmpty).map { l =>
      l.split('\t').toSeq.map(decComp)
    }
    require(keys.length == h(4).toInt,
      s"equality-delete sidecar $p is truncated " +
        s"(${keys.length} of ${h(4)} keys) — refusing to read")
    EqDel(h(0), h(1).toLong, cols, kinds, keys)
  }

  def list(fs: FileSystem, tableDir: Path): Seq[Path] = {
    val d = eqDir(tableDir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".eqd"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Every live sidecar, read. A sidecar that vanishes between the
    * listing and its read was dropped by [[compactSidecars]] under the
    * commit lock — dead or subsumed, so the set without it reads the
    * same — and is skipped (a concurrent stream's commit compacts while
    * another stream's trigger reads).
    */
  def readLive(fs: FileSystem, tableDir: Path): Seq[EqDel] =
    list(fs, tableDir).flatMap { p =>
      try Some(read(fs, p))
      catch { case _: java.io.FileNotFoundException => None }
    }

  def hasAny(fs: FileSystem, tableDir: Path): Boolean =
    try list(fs, tableDir).nonEmpty
    catch { case NonFatal(_) => false }

  /** Floor-aware sidecar compaction (r13 verdict item 5): shrink the
    * read-side key map at ZERO data cost, between materializations.
    * Caller must hold the table's commit lock.
    *
    *  1. DEAD sidecars: a sidecar of epoch `e` applies only to files
    *     with floor `< e`; when every data file's floor is `>= e` it
    *     deletes nothing — drop it. (On a table born from the stream
    *     itself, the FIRST epoch's sidecar is dead immediately: no
    *     file is older than epoch 0.)
    *  2. SUBSUMED keys: the read index keys on the MAX epoch per key,
    *     so a key present in a LATER sidecar contributes nothing from
    *     an earlier one — drop it there; emptied sidecars go.
    *
    * Both transforms preserve read parity UNCONDITIONALLY. The blanket
    * alternative — merging consecutive epochs' key sets under the max
    * epoch — does NOT: a key whose live row sits in the earlier
    * epoch's own files (floor between the two epochs) would suddenly
    * be deleted by the raised epoch. Hence keys are only ever dropped,
    * never re-stamped. The NEWEST sidecar is never rewritten — it is
    * the only one a crashed epoch can re-deliver (and nothing can
    * subsume it anyway).
    *
    * Crash safety: each sidecar rewrite is an atomic replace and each
    * is independently parity-preserving, so any prefix of the work
    * survives a crash correctly and a re-run converges.
    *
    * Returns (sidecars dropped, sidecars rewritten).
    */
  def compactSidecars(fs: FileSystem, tableDir: Path): (Int, Int) = {
    val ps = list(fs, tableDir)
    if (ps.length <= 1) return (0, 0)
    val ds = ps.map(read(fs, _))
    // a contract-violated directory (mixed tags/columns) refuses at
    // read and materialize time — don't touch it here
    if (ds.map(_.tag).distinct.length != 1 ||
        ds.map(_.cols.map(_.toLowerCase)).distinct.length != 1)
      return (0, 0)
    val tag = ds.head.tag
    val files = GraftEvolved.listVisible(fs, tableDir)
    val minFloor =
      if (files.isEmpty) Long.MaxValue
      else files.iterator.map(f => floorOf(f.getPath.getName, tag)).min
    val sorted = ds.sortBy(_.epoch)
    val seen = scala.collection.mutable.HashSet.empty[String]
    sorted.last.keys.foreach(k => seen += encodeKey(sorted.last.kinds, k))
    var dropped = 0
    var rewritten = 0
    def drop(d: EqDel): Unit =
      if (fs.delete(new Path(eqDir(tableDir),
          sidecarName(d.tag, d.epoch)), false)) dropped += 1
    sorted.dropRight(1).reverseIterator.foreach { d =>
      if (d.epoch <= minFloor) drop(d)
      else {
        val kept = d.keys.filterNot(k => seen.contains(encodeKey(d.kinds, k)))
        if (kept.isEmpty) drop(d)
        else if (kept.length < d.keys.length) {
          write(fs, tableDir, d.copy(keys = kept))
          rewritten += 1
        }
      }
      d.keys.foreach(k => seen += encodeKey(d.kinds, k))
    }
    (dropped, rewritten)
  }

  /** Total live keys across all sidecars, read from the HEADERS only
    * (one line per sidecar): the maintenance-policy probe runs at
    * every epoch commit and must never scale with key count.
    */
  def countKeys(fs: FileSystem, tableDir: Path): Long =
    list(fs, tableDir).map { p =>
      // a sidecar a concurrent materialize/compaction deleted between
      // the listing and this open holds zero LIVE keys — skipping it
      // is the correct count, and the advisory probe must never fail
      // an already-durable commit
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next().split('\t')(4).toLong
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => 0L }
    }.sum

  /** The other-writer guard: any commit that cannot reason about epoch
    * floors refuses while sidecars are live.
    */
  def requireNone(fs: FileSystem, tableDir: Path, what: String): Unit =
    require(!hasAny(fs, tableDir),
      s"$tableDir has live equality deletes from a streaming upsert: " +
        s"$what would interact with their epoch ordering incorrectly. " +
        "Materialize them first (CALL system.rewrite_deletes) or let the " +
        "owning stream quiesce")

  def clearAll(fs: FileSystem, tableDir: Path): Unit =
    try fs.delete(eqDir(tableDir), true)
    catch { case NonFatal(_) => () }

  /** Move the live sidecars into an archived version directory (the
    * TRUNCATE-replace retention path: a `VERSION AS OF` read of the
    * snapshot must apply the same deletes it had live).
    */
  def archiveInto(fs: FileSystem, tableDir: Path, vDir: Path): Unit = {
    val d = eqDir(tableDir)
    if (fs.exists(d)) {
      fs.mkdirs(vDir)
      require(fs.rename(d, new Path(vDir, DirName)),
        s"version archive: could not retain equality deletes $d")
    }
  }

  // ---- epoch floors ---------------------------------------------------------

  private val StreamTagRe = "-s([0-9a-f]{8})-e(\\d+)-".r
  private val FloorRe = "-ef([0-9a-f]{8})x(\\d+)-".r

  /** Epoch floor of a data file, from its NAME: the max of the
    * streaming epoch tag and the materialization floor stamp, BOTH
    * scoped to the owning query tag — epochs only order within one
    * stream; a different (later) stream's sidecars apply to every
    * earlier file regardless of its old tags. -1 when neither matches
    * (pre-existing data — subject to every sidecar).
    */
  def floorOf(fileName: String, tag: String): Long = {
    val s = StreamTagRe.findAllMatchIn(fileName)
      .filter(_.group(1) == tag).map(_.group(2).toLong)
      .foldLeft(-1L)(math.max)
    val f = FloorRe.findAllMatchIn(fileName)
      .filter(_.group(1) == tag).map(_.group(2).toLong)
      .foldLeft(-1L)(math.max)
    math.max(s, f)
  }

  /** The materialization floor stamp for replacement file names. */
  def floorStamp(tag: String, epoch: Long): String = s"-ef${tag}x$epoch-"

  /** (tag, epoch) when the file name carries a streaming emission tag
    * (`-s<tag>-e<epoch>-`) — the file IS that epoch's emission unless a
    * materialization floor stamp marks it as a rewrite artifact.
    * Feeds [[GraftChanges]]'s changelog reads.
    */
  def emissionOf(fileName: String): Option[(String, Long)] =
    StreamTagRe.findFirstMatchIn(fileName)
      .map(m => (m.group(1), m.group(2).toLong))

  /** Whether the name carries ANY materialization floor stamp (any
    * tag): such a file is a rewrite_deletes replacement, never an
    * epoch emission.
    */
  def hasFloorStamp(fileName: String): Boolean =
    FloorRe.findFirstIn(fileName).isDefined

  /** Max materialization floor stamped for `tag` in the name, -1 when
    * none: the changelog horizon — epochs at or below it had their
    * emission files rewritten and their sidecars consumed.
    */
  def floorStampOf(fileName: String, tag: String): Long =
    FloorRe.findAllMatchIn(fileName).filter(_.group(1) == tag)
      .map(_.group(2).toLong).foldLeft(-1L)(math.max)

  // ---- the read-side index ----------------------------------------------------

  /** Everything a scan needs: the owning tag, the key columns (names +
    * kinds, layout order), the key → latest-deleting-epoch map, and
    * the newest sidecar epoch (files flooring at or above it are
    * untouched by any sidecar).
    */
  final case class Index(tag: String, cols: Seq[String], kinds: Seq[Char],
      maxByKey: Map[String, Long], maxEpoch: Long, sidecars: Seq[Long])

  /** Map key of one tuple (already-encoded components joined). */
  private def keyOf(comps: Seq[String]): String = comps.mkString("\u0000")

  def encodeKey(kinds: Seq[Char], vs: Seq[Option[Any]]): String =
    keyOf(vs.zip(kinds).map { case (v, k) => encComp(k, v) })

  /** Load the live sidecars into a read index. LOUD on: mixed query
    * tags or key columns (the single-writer contract was violated),
    * or a key map past the cap (materialize first).
    */
  def load(spark: SparkSession, fs: FileSystem, tableDir: Path)
      : Option[Index] = {
    val ds = readLive(fs, tableDir)
    if (ds.isEmpty) return None
    val tags = ds.map(_.tag).distinct
    require(tags.length == 1,
      s"$tableDir carries equality deletes from ${tags.length} different " +
        "streams — single-writer contract violated; CALL " +
        "system.rewrite_deletes before starting a new upsert stream")
    require(ds.map(_.cols.map(_.toLowerCase)).distinct.length == 1,
      s"$tableDir carries equality deletes with differing key columns — " +
        "CALL system.rewrite_deletes")
    val maxKeys = spark.conf.getOption(MaxKeysConf).map(_.toLong)
      .getOrElse(MaxKeysDefault)
    val total = ds.iterator.map(_.keys.length.toLong).sum
    require(total <= maxKeys,
      s"$tableDir has $total live equality-delete keys (> $MaxKeysConf=" +
        s"$maxKeys): CALL system.rewrite_deletes to materialize them")
    val m = new scala.collection.mutable.HashMap[String, Long]
    ds.foreach { d =>
      d.keys.foreach { k =>
        val enc = encodeKey(d.kinds, k)
        if (m.getOrElse(enc, Long.MinValue) < d.epoch) m(enc) = d.epoch
      }
    }
    val h = ds.head
    Some(Index(h.tag, h.cols, h.kinds, m.toMap,
      ds.map(_.epoch).max, ds.map(_.epoch)))
  }

  // ---- read-time application (DSv2 scans) -------------------------------------

  /** Wraps a reader factory built over an EXTENDED read schema (the
    * key columns force-included) and drops deleted rows: a row dies
    * iff the latest sidecar containing its key is newer than its
    * file's epoch floor. Splits whose file floors at or above the
    * newest sidecar pass through untouched (the stream's own newest
    * rows); batches containing no deleted row pass through with only
    * the projection back to the original schema.
    */
  final class EqReaderFactory(
      inner: PartitionReaderFactory,
      // projection from the EXTENDED row/batch layout back to the
      // ORIGINAL readSchema layout (identity when nothing was added)
      outIdx: Array[Int],
      // key component positions + types in the EXTENDED layout
      keyIdx: Array[Int], kinds: Array[Char],
      extTypes: Array[DataType],
      tag: String, maxEpoch: Long,
      maxByKey: Broadcast[Map[String, Long]])
    extends PartitionReaderFactory {

    private val identityOut = outIdx.length == extTypes.length &&
      outIdx.zipWithIndex.forall { case (v, i) => v == i }

    override def supportColumnarReads(p: InputPartition): Boolean =
      inner.supportColumnarReads(p)

    private def floorOfSplit(f: PartitionedFile): Long =
      floorOf(f.toPath.getName, tag)

    private def keyStringRow(row: InternalRow): String = {
      val comps = new Array[String](keyIdx.length)
      var i = 0
      while (i < keyIdx.length) {
        val ci = keyIdx(i)
        comps(i) =
          if (row.isNullAt(ci)) "n"
          else kinds(i) match {
            case 'l' => "l" + (extTypes(ci) match {
              case ByteType => row.getByte(ci).toLong
              case ShortType => row.getShort(ci).toLong
              case IntegerType => row.getInt(ci).toLong
              case _ => row.getLong(ci)
            })
            case 's' => "s" + b64(row.getUTF8String(ci).toString)
          }
        i += 1
      }
      comps.mkString("\u0000")
    }

    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = p match {
      case fp: FilePartition => new RowChain(fp.files)
      case other => inner.createReader(other)
    }

    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      p match {
        case fp: FilePartition => new BatchChain(fp.files)
        case other => inner.createColumnarReader(other)
      }

    private final class RowChain(files: Array[PartitionedFile])
      extends PartitionReader[InternalRow] {
      private val proj = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(outIdx.length)
      private var fi = -1
      private var cur: PartitionReader[InternalRow] = _
      private var filtered = false
      private var floor = -1L // cached per split — never per row

      private def advance(): Boolean = {
        if (cur != null) { cur.close(); cur = null }
        fi += 1
        if (fi >= files.length) false
        else {
          val f = files(fi)
          cur = inner.createReader(FilePartition(0, Array(f)))
          floor = floorOfSplit(f)
          filtered = floor < maxEpoch
          true
        }
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null && !advance()) return false
          if (cur.next()) {
            if (!filtered) return true
            val row = cur.get()
            val died = maxByKey.value.get(keyStringRow(row))
              .exists(_ > floor)
            if (!died) return true
          } else { cur.close(); cur = null }
        }
        false
      }

      override def get(): InternalRow = {
        val row = cur.get()
        if (identityOut) row
        else {
          var i = 0
          while (i < outIdx.length) {
            val src = outIdx(i)
            proj.update(i,
              if (row.isNullAt(src)) null else row.get(src, extTypes(src)))
            i += 1
          }
          proj
        }
      }

      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }

    private final class BatchChain(files: Array[PartitionedFile])
      extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

      private var fi = -1
      private var cur: PartitionReader[ColumnarBatch] = _
      private var filtered = false
      private var floor = -1L
      private var out: ColumnarBatch = _
      private var owned: Array[OnHeapColumnVector] = _

      private def closeOwned(): Unit = if (owned != null) {
        owned.foreach(_.close()); owned = null
      }

      private def advance(): Boolean = {
        if (cur != null) { cur.close(); cur = null }
        fi += 1
        if (fi >= files.length) false
        else {
          val f = files(fi)
          cur = inner.createColumnarReader(FilePartition(0, Array(f)))
          floor = floorOfSplit(f)
          filtered = floor < maxEpoch
          true
        }
      }

      private def keyStringBatch(b: ColumnarBatch, r: Int): String = {
        val comps = new Array[String](keyIdx.length)
        var i = 0
        while (i < keyIdx.length) {
          val v = b.column(keyIdx(i))
          comps(i) =
            if (v.isNullAt(r)) "n"
            else kinds(i) match {
              case 'l' => "l" + (extTypes(keyIdx(i)) match {
                case ByteType => v.getByte(r).toLong
                case ShortType => v.getShort(r).toLong
                case IntegerType => v.getInt(r).toLong
                case _ => v.getLong(r)
              })
              case 's' => "s" + b64(v.getUTF8String(r).toString)
            }
          i += 1
        }
        comps.mkString("\u0000")
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null && !advance()) return false
          if (cur.next()) {
            val b = cur.get()
            val n = b.numRows()
            if (n == 0) {} // skip empty batches
            else if (!filtered && identityOut) { out = b; return true }
            else {
              val m = maxByKey.value
              val deleted = new java.util.BitSet(n)
              var cnt = 0
              if (filtered) {
                var r = 0
                while (r < n) {
                  if (m.get(keyStringBatch(b, r)).exists(_ > floor)) {
                    deleted.set(r); cnt += 1
                  }
                  r += 1
                }
              }
              if (cnt == 0 && identityOut) { out = b; return true }
              else if (cnt == 0) {
                // projection only: zero-copy vector subset
                val vs = outIdx.map(i => b.column(i))
                out = new ColumnarBatch(vs.map(v => v: ColumnVector), n)
                return true
              } else if (cnt < n) {
                closeOwned()
                val keep = n - cnt
                owned = outIdx.map(i =>
                  new OnHeapColumnVector(keep, extTypes(i)))
                var r = 0
                var d = 0
                while (r < n) {
                  if (!deleted.get(r)) {
                    var c = 0
                    while (c < outIdx.length) {
                      GraftDv.copyValue(extTypes(outIdx(c)),
                        b.column(outIdx(c)), r, owned(c), d)
                      c += 1
                    }
                    d += 1
                  }
                  r += 1
                }
                out = new ColumnarBatch(
                  owned.map(v => v: ColumnVector), keep)
                return true
              } // cnt == n: whole batch deleted — loop
            }
          } else { cur.close(); cur = null }
        }
        false
      }

      override def get(): ColumnarBatch = out
      override def close(): Unit = {
        if (cur != null) { cur.close(); cur = null }
        closeOwned()
      }
    }
  }

  /** Build the applying reader factory for a catalog scan: extend the
    * delegate's read data schema with any key columns the query pruned
    * away, wrap its factory (through the caller's snapshot-isolation
    * wrapper) with [[EqReaderFactory]], and hand back the projection
    * from the extended layout to the original one. LOUD when a key
    * column is not a data column of the table — the sink enforces
    * non-partition data-column keys, so this only fires on out-of-band
    * sidecars.
    */
  def factoryFor(
      current: org.apache.spark.sql.execution.datasources.v2.FileScan,
      ix: Index,
      iso: PartitionReaderFactory => PartitionReaderFactory)
      : PartitionReaderFactory = {
    val origData = current.readDataSchema
    val partSchema = current.readPartitionSchema
    val missing = ix.cols.filterNot(c =>
      origData.fieldNames.exists(_.equalsIgnoreCase(c)))
    val missingFields = missing.map { c =>
      current.dataSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalStateException(
          s"equality-delete key column $c is not a data column of " +
            s"${current.description()} — cannot apply the deletes"))
    }
    val extData = StructType(origData.fields ++ missingFields)
    val ext = GraftScanFilters.withReadDataSchema(current, extData)
    val innerF = iso(ext.toBatch.createReaderFactory())
    val extTypes = (extData.fields ++ partSchema.fields).map(_.dataType)
    val nOrig = origData.length
    val nAdded = missingFields.length
    val outIdx =
      ((0 until nOrig) ++ ((nOrig + nAdded) until extTypes.length)).toArray
    val keyIdx = ix.cols.map(c =>
      extData.fieldNames.indexWhere(_.equalsIgnoreCase(c))).toArray
    require(keyIdx.forall(_ >= 0), "equality-delete key resolution failed")
    val bc = SparkSession.active.sparkContext.broadcast(ix.maxByKey)
    new EqReaderFactory(innerF, outIdx, keyIdx, ix.kinds.toArray,
      extTypes, ix.tag, ix.maxEpoch, bc)
  }

  // ---- materialization (CALL system.rewrite_deletes) --------------------------

  /** Note of a materialization's `maintenance` records: the changes
    * feed cannot serve the retractions of an epoch whose emission file
    * such a record moved, because its sidecar is consumed.
    */
  val MaterializeNote = "eqdel-materialize"

  /** Rewrite every file subject to any sidecar with the deletes
    * applied, in ONE distributed staging job (the batched
    * [[GraftDv.rewriteDeletes]] shape), then publish per file under
    * the commit lock and drop the consumed sidecars. Replacement files
    * are stamped `-ef<maxEpoch>-` so a crash between publishes leaves
    * every already-rewritten file immune to the still-live sidecars —
    * a re-run converges.
    *
    * Each lock section journals what it moved as one neutral
    * `maintenance` record noted [[MaterializeNote]] (the deleted rows
    * were fed by their epochs' sidecars): a rewrite publishes its
    * `rw-…-ef…-` files, records them as adds and the old file as a
    * remove naming the tombstone, then retires into it; a stamp-only
    * rename records the renamed file as an add and the old name as a
    * remove with no tombstone (the bytes moved). Scans plan from those
    * records like any commit's.
    *
    * Returns (files rewritten, sidecars dropped).
    */
  def materialize(spark: SparkSession, tableDir: Path,
      upToEpoch: Option[Long] = None): (Int, Int) = {
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ps = list(fs, tableDir)
    if (ps.isEmpty) return (0, 0)
    // a BOUNDED materialization (the changes.min_retained_epochs
    // retention floor) consumes only sidecars at or below the bound:
    // newer epochs' sidecars and emission files stay live and servable
    // by the changelog. Correct by the same floor algebra as full
    // materialization — retained keys' latest retraction epochs are
    // ABOVE every rewritten file's new floor stamp
    val ds0 = ps.map(read(fs, _))
    val ds = upToEpoch match {
      case Some(b) => ds0.filter(_.epoch <= b)
      case None => ds0
    }
    require(ds0.map(_.tag).distinct.length == 1 &&
      ds0.map(_.cols.map(_.toLowerCase)).distinct.length == 1,
      s"$tableDir: mixed equality-delete streams — cannot materialize")
    val tag = ds0.head.tag
    val cols = ds0.head.cols
    val kinds = ds0.head.kinds
    val maxEpoch = upToEpoch.getOrElse(ds.map(_.epoch).max)

    // applicable files: floor below the newest consumed sidecar. In
    // BOUNDED mode files AT the bound re-stamp too (their content is
    // untouched — a sidecar never applies to its own epoch's files —
    // but the stamp is what advances the feed horizon to the bound).
    // Files an EARLIER bounded run floor-stamped BELOW this bound must
    // rewrite like any other: sidecars with epochs in (stamp, bound]
    // still retract their rows (the anti-join's `__eq_epoch > __floor`
    // applies exactly the newer retractions). The stamped-file
    // exclusion is reserved for files already AT the bound, where a
    // restamp would be a pure no-op.
    val applicable = GraftEvolved.listVisible(fs, tableDir)
      .filter { st =>
        val fl = floorOf(st.getPath.getName, tag)
        if (upToEpoch.isDefined) fl < maxEpoch ||
          (fl == maxEpoch && !hasFloorStamp(st.getPath.getName))
        else fl < maxEpoch
      }

    // a table with no journal plans from its listing: nothing to record
    val journaled = GraftCommits.exists(fs, tableDir)
    def journal(added: Seq[Path], removed: GraftCommits.Remove): Unit =
      if (journaled) {
        val info = added.map { p =>
          val st = fs.getFileStatus(p)
          GraftCommits.relOf(fs, tableDir, p) ->
            GraftCommits.FileInfo(st.getLen, st.getModificationTime)
        }
        GraftCommits.record(fs, tableDir, "maintenance",
          adds = info.map(_._1), removes = Seq(removed),
          note = MaterializeNote, info = info.toMap)
      }
    var rewritten = 0
    if (applicable.nonEmpty && ds.isEmpty) {
      // bounded, nothing to apply: a pure horizon advance — one rename
      // per file, the floor stamp riding the name; no data job
      applicable.foreach { st0 =>
        GraftCommitLock.withLock(fs, tableDir, "eqdel-materialize") {
          if (fs.exists(st0.getPath)) {
            val stamped = new Path(st0.getPath.getParent,
              "rw-" + java.util.UUID.randomUUID().toString.take(8) +
                floorStamp(tag, maxEpoch) + st0.getPath.getName)
            require(fs.rename(st0.getPath, stamped),
              s"eqdel-materialize: could not stamp ${st0.getPath}")
            // a failed record moves the file back: the table stays as
            // its journal says
            try journal(Seq(stamped), GraftCommits.Remove(
              GraftCommits.relOf(fs, tableDir, st0.getPath), ""))
            catch { case NonFatal(e) =>
              fs.rename(stamped, st0.getPath)
              throw e
            }
            rewritten += 1
          }
        }
      }
    } else if (applicable.nonEmpty) {
      val staging = new Path(tableDir.toString + ".__eqrewrite")
      if (fs.exists(staging)) fs.delete(staging, true)
      def keyB64(rel: String): String = java.util.Base64.getUrlEncoder
        .withoutPadding.encodeToString(rel.getBytes("UTF-8"))
      val dirUri = tableDir.toUri.getPath
      def relOfP(p: Path): String =
        p.toUri.getPath.stripPrefix(dirUri).stripPrefix("/")

      // one pass: tag rows with source key + floor, anti-join deletes
      import org.apache.spark.sql.Row
      val latest = new scala.collection.mutable.HashMap[Seq[Option[Any]], Long]
      ds.foreach(d => d.keys.foreach { k =>
        if (latest.getOrElse(k, Long.MinValue) < d.epoch) latest(k) = d.epoch
      })
      val fields = cols.zip(kinds).map { case (c, k) =>
        StructField(s"__eq_$c", if (k == 'l') LongType else StringType)
      } :+ StructField("__eq_epoch", LongType)
      val delDf = spark.createDataFrame(
        spark.sparkContext.parallelize(latest.toSeq.map { case (k, e) =>
          Row.fromSeq(k.map {
            case Some(v: Long) => v
            case Some(v) => v.toString
            case None => null
          } :+ e)
        }, 1), StructType(fields))
      // key BOTH sides with [[normUri]] over the QUALIFIED URI
      // (GraftDv.rewriteDeletes' shape) — see normUri's doc for why
      // toUri.getPath would silently lose every live row here
      val lookup = spark.createDataFrame(
        spark.sparkContext.parallelize(applicable.map { st =>
          Row(normUri(fs.makeQualified(st.getPath).toUri.toString),
            keyB64(relOfP(st.getPath)),
            floorOf(st.getPath.getName, tag))
        }, 1),
        StructType(Seq(StructField("__n", StringType),
          StructField("__src", StringType),
          StructField("__floor", LongType))))
      val df = spark.read.option("mergeSchema", "true")
        .parquet(applicable.map(_.getPath.toString): _*)
      df.withColumn("__n", normUriCol(col("_metadata.file_path")))
        .join(broadcast(lookup), "__n")
        .join(broadcast(delDf),
          cols.map(c => col(c) <=> col(s"__eq_$c")).reduceLeft(_ && _) &&
            (col("__eq_epoch") > col("__floor")),
          "left_anti")
        .drop("__n", "__floor")
        .write.mode("overwrite").partitionBy("__src")
        .parquet(staging.toString)

      applicable.foreach { st0 =>
        val dataFile = st0.getPath
        val rel = relOfP(dataFile)
        val srcDir = new Path(staging, s"__src=${keyB64(rel)}")
        val parts =
          if (!fs.exists(srcDir)) Array.empty[Path]
          else fs.listStatus(srcDir).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        GraftCommitLock.withLock(fs, tableDir, "eqdel-materialize") {
          val st =
            try fs.getFileStatus(dataFile)
            catch {
              case _: java.io.FileNotFoundException =>
                throw new GraftCommitLock.ConcurrentCommitException(
                  s"rewrite_deletes: $rel vanished mid-materialization — re-run")
            }
          if (st.getLen != st0.getLen ||
              st.getModificationTime != st0.getModificationTime)
            throw new GraftCommitLock.ConcurrentCommitException(
              s"rewrite_deletes: $rel changed mid-materialization — re-run")
          val published = parts.toSeq.map { staged =>
            val fin = new Path(dataFile.getParent, "rw-" +
              java.util.UUID.randomUUID().toString.take(8) +
              floorStamp(tag, maxEpoch) + dataFile.getName)
            require(fs.rename(staged, fin),
              s"rewrite_deletes: could not publish ${fin.getName}")
            fin
          }
          // the record is the commit: it names the tombstone the retire
          // then fills; a failed record unpublishes the new files
          val tomb = GraftRetired.newCommitDir(tableDir)
          GraftCommits.recordOrUnpublish(fs, tableDir, published) {
            journal(published, GraftCommits.Remove(
              GraftCommits.relOf(fs, tableDir, dataFile), tomb.getName))
          }
          GraftRetired.retireFilesInto(fs, tableDir, Seq(dataFile), tomb)
          GraftDv.dropFor(fs, tableDir, Seq(fs.makeQualified(dataFile)))
        }
        rewritten += 1
      }
      fs.delete(staging, true)
    }
    // consumed sidecars go; a crash above leaves them live but inert
    // (every file now floors at maxEpoch) and a re-run drops them
    var dropped = 0
    GraftCommitLock.withLock(fs, tableDir, "eqdel-drop") {
      ds.filter(_.epoch <= maxEpoch).foreach { d =>
        if (fs.delete(new Path(eqDir(tableDir),
            sidecarName(d.tag, d.epoch)), false)) dropped += 1
      }
      if (fs.exists(eqDir(tableDir)) &&
          fs.listStatus(eqDir(tableDir)).isEmpty)
        fs.delete(eqDir(tableDir), false)
    }
    (rewritten, dropped)
  }
}
