package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Path-based lakehouse catalog: `<root>/<layer>/<table>` parquet
  * directories, hive-style partitioning.
  *
  * Reproduces the reference's Iceberg-on-metastore table semantics
  * (`iceberg.raw.daily_reports` etc.) without a metastore service:
  *  - namespaces = directory prefixes (SURVEY §1.1);
  *  - `overwritePartitionsByName` = dynamic partition overwrite as ONE
  *    commit (the catalog's staged-invisible v2 write), replacing
  *    exactly the partitions present in the incoming DataFrame and
  *    preserving all others — the core idempotency semantic of
  *    `process_covid_ods.py:79-91` / `process_covid_dds.py:81-93` /
  *    `process_covid_data_mart.py:123-126`;
  *  - `createOrReplace` = full overwrite (`process_covid_dds.py:41-44`);
  *  - `append` = partitioned append (`process_covid_raw.py:102-113`);
  *  - `versions > 0` retains each full-replace's previous state as an
  *    Iceberg-snapshot-style version (the replace moves the files it
  *    supersedes into the version store instead of retiring them):
  *    `history` / `readVersion` (time travel) / `restoreVersion`
  *    (rollback-as-a-version), pruned to the newest `versions`.
  *    Applies to every full replace (createOrReplace, writeClustered,
  *    compact, unpartitioned merge, SQL `INSERT OVERWRITE`);
  *    partitioned overwrites stay partition-scoped.
  *
  * Every read and write resolves by name through the session catalog
  * ([[graft.sources.GraftCatalog]]): reads plan from the table's commit
  * journal, writes commit through its staged hive-layout writes — one
  * scan, one commit protocol, and the table's metadata sidecar and
  * commit journal survive every write. Scale note: every write is a straight
  * distributed write — no driver-side collection; partition columns
  * become hive directories so reads get partition pruning for free.
  */
final case class Catalog(spark: SparkSession, root: String,
                         format: String = "parquet",
                         versions: Int = 0) {
  require(Catalog.Formats.contains(format),
    s"unsupported storage format '$format' (one of ${Catalog.Formats.mkString(", ")})")
  require(versions >= 0, "versions must be >= 0 (0 = versioning off)")

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  /** Per-format writer options for [[writeBucketed]], the one write
    * that does not go through the session catalog.
    */
  private def writeOptions: Map[String, String] = format match {
    case "csv" => Map("header" -> "true", "compression" -> "gzip")
    case "json" => Map("compression" -> "gzip")
    case _ => Map("compression" -> "snappy")
  }

  /** S4 — table existence probe (`spark.catalog.tableExists` equivalent). */
  def tableExists(layer: String, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(layer, table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** S2 — catalog table scan: the name read [[table]]. It plans from
    * the table's commit journal, like every scan of the session
    * catalog, so it serves exactly the files the commits recorded —
    * a data file dropped into the directory outside a commit is not
    * served — with deletion vectors and equality deletes applied.
    */
  def read(layer: String, table: String): DataFrame = this.table(layer, table)

  // ---- name-based addressing (session-catalog binding) -----------------
  // The reference addresses every table by CATALOG NAME
  // (`spark.table("iceberg.raw.daily_reports")`,
  // /root/reference/airflow/dags/scripts/process_covid_ods.py:30); the
  // medallion layers do the same through these helpers, which bind this
  // warehouse root to a `graft.sources.GraftCatalog` session catalog and
  // resolve `<catalog>.<layer>.<table>` identifiers through Spark's
  // catalog manager. Reads keep every DSv2 scan tier (pushdown, static
  // + runtime partition pruning via the catalog's
  // SupportsRuntimeV2Filtering wrapper). The layer/table methods below
  // are shorthands for those names: every read is the catalog's
  // journal-planned scan and every write commits through the catalog's
  // staged-invisible hive-layout writes — one warehouse, one scan, one
  // commit protocol.

  /** Session-catalog name bound to this root: `graft` when free (or
    * already bound to this root+format), otherwise a deterministic
    * per-root fallback — Spark's CatalogManager caches instances by
    * name, so a name can never be re-pointed at a second root within a
    * session (tests spin up many warehouses).
    */
  lazy val sqlName: String =
    if (bind(spark, "graft")) "graft"
    else {
      val suffix = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(s"$root|$format|$versions")
          .toLong & 0xffffffffL)
      val unique = s"graft_$suffix"
      require(bind(spark, unique),
        s"session catalog $unique is bound to a different root")
      unique
    }

  /** Binds `name` to this root+format+versions in `session`'s conf;
    * false when the name is already bound there to another warehouse
    * or retention.
    */
  private def bind(session: SparkSession, name: String): Boolean = {
    val rootKey = s"spark.sql.catalog.$name.root"
    val implKey = s"spark.sql.catalog.$name"
    session.conf.getOption(implKey) match {
      case Some(impl) =>
        impl == "graft.sources.GraftCatalog" &&
          session.conf.getOption(rootKey).contains(root) &&
          session.conf.getOption(s"spark.sql.catalog.$name.format")
            .getOrElse("parquet") == format &&
          session.conf.getOption(s"spark.sql.catalog.$name.versions")
            .getOrElse("0") == versions.toString
      case None =>
        session.conf.set(implKey, "graft.sources.GraftCatalog")
        session.conf.set(rootKey, root)
        session.conf.set(s"spark.sql.catalog.$name.format", format)
        if (versions > 0)
          session.conf.set(s"spark.sql.catalog.$name.versions", versions.toString)
        true
    }
  }

  /** `df.writeTo` a table of this warehouse. The name resolves in the
    * DataFrame's OWN session — a `foreachBatch` micro-batch runs in the
    * stream's cloned session, which lacks a binding made after the
    * stream started — so the binding is carried into that session.
    */
  private def writerFor(df: DataFrame, layer: String, table: String,
                        note: String = "") = {
    require(bind(df.sparkSession, sqlName),
      s"session catalog $sqlName is bound to a different root in the " +
        "DataFrame's session")
    val w = df.writeTo(sqlIdent(layer, table))
    if (note.isEmpty) w else w.option(graft.sources.GraftCommits.NoteOption, note)
  }

  /** The record of the table's newest commit — None when the table has
    * no journal or that record was expired. A driver-side journal read,
    * no Spark job.
    */
  private[graft] def lastCommit(layer: String, table: String)
      : Option[graft.sources.GraftCommits.Rec] =
    journalHead(layer, table).flatMap(_.last)

  /** The notes of the commits that added the table's live files, one
    * per live file ("" for a commit without one) — None when the table
    * has no journal. A driver-side journal read, no Spark job.
    */
  private[graft] def liveFileNotes(layer: String, table: String)
      : Option[Seq[String]] =
    journalHead(layer, table).map(h =>
      h.live.values.toSeq.map(id => h.notes.getOrElse(id, "")))

  private def journalHead(layer: String, table: String) = {
    val p = new org.apache.hadoop.fs.Path(path(layer, table))
    graft.sources.GraftCommits.head(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Fully-qualified SQL identifier for a table of this warehouse. */
  def sqlIdent(layer: String, table: String): String =
    s"$sqlName.`$layer`.`$table`"

  /** Name-based read: resolves through the session catalog — the
    * reference's addressing mode. Scan tiers are the DSv2 delegate's
    * (pushdown, partition pruning, DPP via the runtime-filter wrapper).
    */
  def table(layer: String, table: String): DataFrame =
    spark.table(sqlIdent(layer, table))

  /** Name-based partitioned append (S5 by name): clusters within write
    * partitions like [[append]], then routes through the session
    * catalog — CTAS on first write (which persists the schema + spec in
    * the table sidecar), by-name-resolved append after. A zero-row
    * append into an existing table commits nothing (no journal record,
    * no file); a zero-row CTAS still creates the table, empty. A
    * non-empty `note` is recorded on the commit ([[liveFileNotes]]).
    */
  def appendByName(df: DataFrame, layer: String, table: String,
                   partitionCols: Seq[String], sortCols: Seq[String] = Nil,
                   note: String = ""): Unit = {
    val clustered =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      else df
    val w = writerFor(clustered, layer, table, note)
    if (tableExists(layer, table)) w.append()
    else {
      ensureNamespace(layer)
      if (partitionCols.nonEmpty)
        w.partitionedBy(org.apache.spark.sql.functions.col(partitionCols.head),
          partitionCols.tail.map(org.apache.spark.sql.functions.col): _*).create()
      else w.create()
    }
  }

  /** S6 — idempotent dynamic partition overwrite, the warehouse's one
    * partition-scoped commit: resolves to the catalog's
    * staged-invisible hive-layout v2 write
    * ([[graft.sources.GraftPartitionedCow]] DynamicOverwriteWrite),
    * replacing exactly the partitions present in `df` and preserving
    * every other. The commit aborts with
    * [[graft.sources.GraftCommitLock.ConcurrentCommitException]] when a
    * touched partition gained or lost a data file or a deletion vector
    * while the replacement was computed; the live table is untouched.
    * A zero-row `df` touches no partition and commits nothing; on a
    * missing table the CTAS still creates it, empty.
    */
  def overwritePartitionsByName(df: DataFrame, layer: String, table: String,
                                partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty,
      "overwritePartitionsByName needs partition columns")
    val w = writerFor(df, layer, table)
    if (tableExists(layer, table)) w.overwritePartitions()
    else {
      ensureNamespace(layer)
      w.partitionedBy(org.apache.spark.sql.functions.col(partitionCols.head),
        partitionCols.tail.map(org.apache.spark.sql.functions.col): _*).create()
    }
  }

  /** Name-based full replace (S7 by name): `overwrite(true)` resolves
    * to the catalog's truncate write
    * ([[graft.sources.GraftPartitionedCow.TruncateReplaceWrite]]), not
    * a drop+recreate RTAS — the table identity, properties, commit
    * journal and version history survive. A zero-row `df` still
    * commits: it empties the table and journals a `replace`. A
    * non-empty `note` is recorded on the commit ([[lastCommit]]).
    */
  def createOrReplaceByName(df: DataFrame, layer: String, table: String,
                            partitionCols: Seq[String] = Nil,
                            note: String = ""): Unit = {
    val w = writerFor(df, layer, table, note)
    if (tableExists(layer, table))
      w.overwrite(org.apache.spark.sql.functions.lit(true))
    else {
      ensureNamespace(layer)
      if (partitionCols.nonEmpty)
        w.partitionedBy(org.apache.spark.sql.functions.col(partitionCols.head),
          partitionCols.tail.map(org.apache.spark.sql.functions.col): _*).create()
      else w.create()
    }
  }

  /** CTAS needs the namespace (layer directory) to exist. */
  private def ensureNamespace(layer: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$layer")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.mkdirs(p)
  }

  /** S5 — partitioned append, clustered within partitions: the
    * by-name append ([[appendByName]]) behind the object API's CHECK
    * guard, after [[addMissingColumns]].
    */
  def append(df: DataFrame, layer: String, table: String,
             partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    // appended files carry no equality-delete epoch floor (-1): rows
    // whose keys live in any sidecar would silently vanish on read
    graft.sources.GraftEqDel.requireNone(
      new org.apache.hadoop.fs.Path(path(layer, table)).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(path(layer, table)), "a batch append")
    addMissingColumns(df, layer, table)
    appendByName(guarded(df, layer, table), layer, table, partitionCols,
      sortCols)
  }

  /** Write-time CHECK constraints ([[graft.sources.GraftCheck]]) as a
    * throwing Filter on the write's own row pass: a violation fails
    * with the constraint's message before Spark's by-name write
    * asserts a NOT NULL column itself.
    */
  private def guarded(df: DataFrame, layer: String, table: String): DataFrame =
    graft.sources.GraftCheck.guard(df,
      graft.sources.GraftCheck.constraintsAt(
        spark.sparkContext.hadoopConfiguration, path(layer, table)))

  /** Columns of `df` the stored table lacks are added first, through
    * the catalog's `ALTER TABLE ... ADD COLUMNS` (metadata-only: rows
    * written before read them as NULL), so the by-name write accepts a
    * wider frame — a schema-drifted append, a widening rewrite.
    */
  private def addMissingColumns(df: DataFrame, layer: String,
                                table: String): Unit =
    if (tableExists(layer, table)) {
      val have = this.table(layer, table).columns.map(_.toLowerCase).toSet
      val added = df.schema.fields.filterNot(f => have(f.name.toLowerCase))
      if (added.nonEmpty)
        spark.sql(s"ALTER TABLE ${sqlIdent(layer, table)} ADD COLUMNS (" +
          added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ") +
          ")")
    }

  /** S7 — full-replace (dimension rebuild), crash-safe like the
    * reference's Iceberg `createOrReplace()`: the rebuild stages
    * invisibly and publishes in one commit, so a failed rebuild leaves
    * the previous version intact.
    */
  def createOrReplace(df: DataFrame, layer: String, table: String): Unit =
    createOrReplace(df, layer, table, Nil)

  /** Full-replace preserving a hive-partitioned layout — the static
    * INSERT OVERWRITE semantic (every partition replaced, absent
    * partitions dropped), unlike [[overwritePartitionsByName]] which
    * scopes the replace to the partitions present in `df`: the by-name
    * replace ([[createOrReplaceByName]]) behind the CHECK guard, after
    * [[addMissingColumns]]. The commit aborts with
    * [[graft.sources.GraftCommitLock.ConcurrentCommitException]] when
    * another commit changed the table while the replacement was
    * computed; the live table is untouched.
    */
  def createOrReplace(df: DataFrame, layer: String, table: String,
                      partitionCols: Seq[String]): Unit = {
    addMissingColumns(df, layer, table)
    createOrReplaceByName(guarded(df, layer, table), layer, table,
      partitionCols)
  }

  /** Incremental materialized-aggregate maintenance: fold a DELTA of
    * rows into a stored keyed aggregate without rescanning history.
    * The delta is partially aggregated, unioned with the STORED
    * aggregate (group-cardinality-sized, not history-sized), and
    * re-aggregated — sound for additive measures (count/sum; an avg is
    * maintained as its (sum, count) partials), which is exactly the
    * algebra Spark's own partial aggregation relies on. The replace runs
    * through [[createOrReplace]], so the refresh is crash-safe and
    * every refresh is a snapshot version — a double-applied delta is
    * repaired by `restoreVersion`, the same recovery story as the CDC
    * sink. At 100 TB: cost per refresh = delta scan + aggregate-table
    * scan; the raw history is never touched.
    *
    * `measures` are columns of `delta` to be sum-maintained (pass a
    * `lit(1)` column for a count).
    */
  def refreshAggregate(delta: DataFrame, layer: String, table: String,
                       keys: Seq[String], measures: Seq[String]): Unit = {
    require(keys.nonEmpty, "refreshAggregate needs at least one key column")
    require(measures.nonEmpty, "refreshAggregate needs at least one measure")
    import org.apache.spark.sql.functions.{col, sum}
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(sum(col(measures.head)).as(measures.head),
          measures.tail.map(m => sum(col(m)).as(m)): _*)
        .select((keys ++ measures).map(col): _*)
    val partial = rollup(delta)
    val merged =
      if (tableExists(layer, table))
        rollup(read(layer, table).select((keys ++ measures).map(col): _*)
          .unionByName(partial))
      else partial
    createOrReplace(merged, layer, table)
  }

  /** Incremental materialized JOIN-view maintenance, append-only: keep
    * `view` = left ⨝ right (inner equi-join on `joinKeys`) current
    * under appends WITHOUT recomputing the join, via the classic IVM
    * delta rule
    *
    *   Δ(A ⨝ B) = ΔA ⨝ B_old  ∪  A_old ⨝ ΔB  ∪  ΔA ⨝ ΔB
    *
    * appended to the stored view while the base tables absorb their
    * deltas. Per-refresh cost is DELTA-proportional — every term joins
    * a delta against a base or another delta; the full A ⨝ B is never
    * re-touched, which at 100 TB is the difference between a minutes
    * refresh and an hours one. Retractions (updates/deletes) need
    * counting-IVM and are out of scope — append-only is the lakehouse
    * fact-stream case (and what `append` itself supports).
    *
    * The delta terms are materialized BEFORE the bases absorb their
    * deltas: table reads are lazy, so joining against
    * `read(base)` after appending would silently see the delta twice.
    * Non-key columns of the two sides must not collide (the join
    * output carries both).
    *
    * Crash window: view append and base appends are separate commits —
    * a crash between them leaves the view one delta AHEAD of its
    * bases. Re-running the same delta heals the bases but double-joins
    * the view rows; callers needing exactly-once across a crash should
    * version the view (`versions > 0`) and roll back before retrying,
    * the same recovery contract as refreshAggregate.
    */
  def refreshJoin(deltaLeft: Option[DataFrame], deltaRight: Option[DataFrame],
                  layer: String, view: String,
                  leftTable: String, rightTable: String,
                  joinKeys: Seq[String]): Unit = {
    require(joinKeys.nonEmpty, "refreshJoin needs at least one join key")
    require(deltaLeft.nonEmpty || deltaRight.nonEmpty,
      "refreshJoin needs at least one delta")
    val hasL = tableExists(layer, leftTable)
    val hasR = tableExists(layer, rightTable)
    require((hasL || deltaLeft.nonEmpty) && (hasR || deltaRight.nonEmpty),
      "first refresh must supply the bootstrap delta for each side")
    val dl = deltaLeft.map(Materialize.once)  // used in up to two terms
    val dr = deltaRight.map(Materialize.once)
    val aOld = if (hasL) Some(read(layer, leftTable)) else None
    val bOld = if (hasR) Some(read(layer, rightTable)) else None
    val viewExists = tableExists(layer, view)
    val terms = Seq(
      // first refresh over pre-existing bases = initial materialization
      if (!viewExists) for (a <- aOld; b <- bOld) yield a.join(b, joinKeys)
      else None,
      for (d <- dl; b <- bOld) yield d.join(b, joinKeys),
      for (a <- aOld; d <- dr) yield a.join(d, joinKeys),
      for (d1 <- dl; d2 <- dr) yield d1.join(d2, joinKeys)).flatten
    val newRows = terms
      .reduceOption(_ unionByName _)
      // pin the delta rows NOW — the base reads below must not observe
      // the appends that follow
      .map(Materialize.once)
    newRows.foreach { rows =>
      if (viewExists) append(rows, layer, view, Nil)
      else createOrReplace(rows, layer, view)
    }
    dl.foreach(d => if (hasL) append(d, layer, leftTable, Nil)
                    else createOrReplace(d, layer, leftTable))
    dr.foreach(d => if (hasR) append(d, layer, rightTable, Nil)
                    else createOrReplace(d, layer, rightTable))
  }

  /** Bucketed external table at this catalog's path: rows are hashed
    * into `buckets` files per partition by `bucketCols` and sorted
    * within each bucket. Two tables bucketed the SAME way on the join
    * key sort-merge join with NO exchange on either side — the shuffle
    * is paid once at write time and amortized over every subsequent
    * join/aggregation on that key. This is the 100 TB co-location
    * story: fact and dimension-fact joins on a pre-bucketed key touch
    * no network at read time.
    *
    * Bucketing metadata lives in the session catalog (saveAsTable), so
    * readers must use [[readBucketed]] (spark.table), not raw paths —
    * [[read]] still sees the data but loses the bucket guarantee.
    */
  /** Session-catalog name for a bucketed table, scoped to this
    * Catalog's root — two Catalog instances over different roots must
    * not alias each other's bucketed tables the way a bare
    * `layer_table` name would. The suffix is the first 16 hex chars of
    * sha-256 of the root: a 32-bit String.hashCode collides between
    * real-world path pairs often enough that one warehouse could
    * silently read another's buckets.
    */
  private def bucketedName(layer: String, table: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(root.getBytes("UTF-8"))
    val hex = digest.take(8).map(b => f"$b%02x").mkString
    s"graft_${hex}_${layer}_$table"
  }

  def writeBucketed(df: DataFrame, layer: String, table: String,
                    buckets: Int, bucketCols: Seq[String]): Unit = {
    val name = bucketedName(layer, table)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path(layer, table))
      .options(writeOptions)
      .mode("overwrite")
      .format(format)
      .saveAsTable(name)
  }

  /** Scan of a bucketed table with its bucket metadata intact. */
  def readBucketed(layer: String, table: String): DataFrame =
    spark.table(bucketedName(layer, table))

  /** Collect file-level column min/max statistics for a table into its
    * `_graft_stats` sidecar — the data-skipping tier
    * ([[graft.sources.GraftStats]]): subsequent scans (path or name
    * addressed; plain or bucketed) prune whole FILES whose stats prove
    * a pushed data filter can't match, before any footer is opened.
    * Incremental: only files not yet covered get a (distributed)
    * footer read; entries for rewritten or vanished files drop out.
    * Fail-safe by construction — files written after the last analyze
    * simply scan unpruned. Returns the number of files newly analyzed.
    */
  def analyze(layer: String, table: String): Int =
    graft.sources.GraftStats.analyze(spark, path(layer, table), format)

  /** Small-files compaction: rewrite the table into
    * ceil(bytes / targetFileBytes) files (per partition directory when
    * `partitionCols` is given). The rewrite reads the table's catalog
    * scan, whose schema is the union of every append's columns
    * ([[addMissingColumns]]), so older files' missing columns come
    * back null rather than being dropped. Streaming/incremental appends
    * accumulate thousands of small files; at 100 TB small files are a
    * NameNode/listing/scheduler tax AND a scan tax (each file is a
    * split floor). The rewrite is a [[createOrReplace]]: it stages
    * invisibly and publishes in one commit, and loses cleanly (live
    * table untouched, re-run it) when another commit landed while it
    * ran. Returns the write-task count (≈ files per partition
    * directory).
    */
  def compact(layer: String, table: String,
              partitionCols: Seq[String] = Nil,
              targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.spark.sql.functions.col
    val p = path(layer, table)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hp).getLength
    val tasks = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val source = read(layer, table)
    // partitioned tables must repartition BY the partition columns:
    // round-robin would scatter every hive partition across all tasks,
    // producing tasks×partitions small files instead of ~1 per dir
    val balanced =
      if (partitionCols.nonEmpty)
        source.repartition(tasks, partitionCols.map(col): _*)
      else source.repartition(tasks)
    createOrReplace(balanced, layer, table, partitionCols)
    tasks
  }

  /** LAYOUT-PRESERVING compaction by catalog NAME: a self
    * `INSERT OVERWRITE` of the table's own name-resolved scan (where
    * [[compact]] sizes its own tasks). The catalog's truncate write
    * [[graft.sources.GraftPartitionedCow.TruncateReplaceWrite]]
    * re-clusters the rows by the partition+bucket transforms → ~one
    * tagged file per (partition, bucket); staged-invisible, old
    * generation retired — or version-archived — in the driver commit.
    *
    * Streaming appends (one file per epoch per bucket) are the
    * motivating accretion: N epochs × n buckets collapse to ~n files
    * with the layout — and therefore the exchange-free join — intact.
    *
    * Safe to read-and-replace in one statement: the scan reads the old
    * generation while tasks stage dot-invisible files beside it;
    * nothing is retired until the driver commit, and a crash
    * mid-anything leaves the old generation complete.
    *
    * Scale note: this compacts the WHOLE table (one distributed
    * rewrite). For a 100 TB table, compact incrementally instead:
    * dynamic-overwrite the specific partitions whose file counts
    * accreted (`overwritePartitionsByName` of a re-coalesced slice) —
    * same machinery, partition-bounded cost.
    */
  def compactByName(layer: String, table: String): Unit = {
    require(tableExists(layer, table), s"$layer.$table does not exist")
    spark.table(sqlIdent(layer, table))
      .writeTo(sqlIdent(layer, table))
      .overwrite(org.apache.spark.sql.functions.lit(true))
  }

  /** RANGE-CLUSTERING rewrite by catalog name: reorder the whole table
    * so consecutive `sortCols` ranges land in the same files — the sort
    * strategy of Iceberg's `rewrite_data_files` / Delta `OPTIMIZE`.
    * Compaction fixes file COUNT; clustering fixes file STATS: after
    * arbitrary insert order, every file's min/max spans the whole key
    * domain and the [[analyze]] data-skipping manifest can prove
    * nothing. `repartitionByRange` (sampled range boundaries, so skew
    * balances across tasks) + an intra-task sort makes each rewritten
    * file cover a TIGHT, disjoint slice of the leading sort column —
    * a selective predicate then schedules O(1) files instead of all of
    * them, which at 100 TB is the difference between a point lookup
    * and a full scan. File sizing reuses [[compact]]'s
    * bytes/targetFileBytes heuristic. Plain (non-hive-partitioned,
    * non-bucketed) tables only: those layouts impose their own write
    * clustering, which would override this one — their per-partition
    * ordering lever is [[appendByName]]'s sortCols. Pair with
    * [[analyze]] (or let `CALL system.cluster` do both). Returns the
    * task (≈ file) count of the rewrite.
    *
    * `strategy = "zorder"` (exactly two integral columns) orders by
    * the [[mortonKey]] Morton interleave instead of lexicographically:
    * every file becomes tight in BOTH dimensions, so the skipping
    * manifest prunes predicates on EITHER column — a lexicographic
    * (x, y) sort serves only the leading one. The Delta
    * `OPTIMIZE ... ZORDER BY` semantic; the curve key is dropped
    * before writing, clustering survives as physical row order.
    */
  def clusterByName(layer: String, table: String, sortCols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      strategy: String = "range"): Int = {
    require(tableExists(layer, table), s"$layer.$table does not exist")
    require(sortCols.nonEmpty, "clusterByName needs at least one sort column")
    require(strategy == "range" || strategy == "zorder",
      s"strategy must be 'range' or 'zorder', got '$strategy'")
    require(strategy != "zorder" || sortCols.length >= 2,
      "zorder clustering takes two or more columns")
    // partitioned/bucketed writes impose their own clustering, which
    // would silently override the range layout — refuse, don't no-op
    val transforms = spark.sessionState.catalogManager.catalog(sqlName)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array(layer), table))
      .partitioning().toSeq
    require(transforms.isEmpty,
      s"$layer.$table declares ${transforms.mkString(", ")}: partitioned/" +
        "bucketed layouts own their write clustering; range-cluster " +
        "applies to plain tables (per-partition ordering is appendByName's " +
        "sortCols)")
    val hp = new org.apache.hadoop.fs.Path(path(layer, table))
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hp).getLength
    val tasks =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    val base = spark.table(sqlIdent(layer, table))
    val ordered =
      if (strategy == "zorder") {
        require(!base.columns.contains("__z"),
          "zorder clustering reserves the column name __z")
        base.withColumn("__z", curveKey(base, sortCols))
          .repartitionByRange(tasks, org.apache.spark.sql.functions.col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      } else base
        .repartitionByRange(tasks, cols: _*)
        .sortWithinPartitions(cols: _*)
    ordered
      .writeTo(sqlIdent(layer, table))
      .overwrite(org.apache.spark.sql.functions.lit(true))
    tasks
  }

  /** INCREMENTAL compaction by catalog name: compact ONLY the hive
    * partitions whose visible file count reached `minFiles` — the
    * 100 TB path [[compactByName]]'s scale note promises. Streaming
    * appends and per-trigger epochs accrete files partition by
    * partition; rewriting the whole table to fix a handful of hot
    * partitions is the thing that does not survive scale.
    *
    * Mechanics: list leaf partition directories (driver-side NAME
    * walk, no row data), pick the accreted ones, read exactly those
    * partitions back (typed equality filters → static partition
    * pruning at the listing), re-cluster one task per partition, and
    * DYNAMIC-OVERWRITE them — the catalog's staged-invisible
    * [[graft.sources.GraftPartitionedCow.DynamicOverwriteWrite]]
    * replaces exactly the partitions present in the frame and retires
    * their superseded files at commit; untouched partitions are never
    * read, written, or listed twice. Bucket specs survive (the
    * hive-layout writer tags per (partition, bucket) as always).
    *
    * Cost: scan + rewrite of the accreted partitions only. One task
    * per compacted partition (that IS the compaction); a partition too
    * large for one task has outgrown file-count compaction and wants
    * a split of its own.
    *
    * Returns the compacted partitions' rel dirs (empty = nothing to
    * do, and nothing was read or written).
    */
  def compactPartitionsByName(layer: String, table: String,
      minFiles: Int = 4): Seq[String] = {
    require(minFiles >= 2, "minFiles < 2 would rewrite every partition")
    require(tableExists(layer, table), s"$layer.$table does not exist")
    import org.apache.spark.sql.functions.col
    val df0 = spark.table(sqlIdent(layer, table))
    // partition columns in LAYOUT order, from the catalog's own spec
    val partCols = spark.sessionState.catalogManager.catalog(sqlName)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array(layer), table))
      .partitioning().toSeq.collect {
        case t if t.name == "identity" =>
          t.references().head.fieldNames.mkString(".")
      }
    require(partCols.nonEmpty,
      s"$layer.$table has no hive partitions; use compactByName")
    val types = partCols.map { c =>
      c -> df0.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"partition column $c not in schema"))
        .dataType
    }.toMap
    val base = new org.apache.hadoop.fs.Path(path(layer, table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // leaf dirs carrying >= minFiles visible data files
    def walk(dir: org.apache.hadoop.fs.Path, level: Int,
             rel: String): Seq[(String, Seq[String])] =
      if (level == partCols.length) {
        val files = fs.listStatus(dir).toSeq
          .filter(st => !st.isDirectory &&
            !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
        if (files.size >= minFiles) Seq((rel, rel.split("/").toSeq)) else Nil
      } else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(partCols(level) + "="))
        .flatMap { st =>
          val nm = st.getPath.getName
          walk(st.getPath, level + 1, if (rel.isEmpty) nm else s"$rel/$nm")
        }
    val accreted = walk(base, 0, "")
    if (accreted.isEmpty) return Nil
    // typed per-leaf equality conjunctions, OR'd — static partition
    // pruning keeps the scan on exactly the accreted leaves. NULL
    // (__HIVE_DEFAULT_PARTITION__) leaves use isNull.
    val leafPreds = accreted.map { case (_, segs) =>
      segs.zip(partCols).map { case (seg, c) =>
        val tok = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(c.length + 1))
        if (tok == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME) col(c).isNull
        else col(c) === org.apache.spark.sql.functions.lit(
          graft.sources.GraftPartitionedCow.externalToken(tok, types(c)))
      }.reduce(_ && _)
    }.reduce(_ || _)
    df0.where(leafPreds)
      .repartition(partCols.map(col): _*)
      .writeTo(sqlIdent(layer, table))
      .overwritePartitions()
    accreted.map(_._1)
  }

  /** ORPHAN-FILE cleanup by catalog name — the `remove_orphan_files`
    * maintenance op every staged-commit protocol eventually needs. All
    * writers here stage DOT-PREFIXED files beside the data and publish
    * by rename; a crash mid-job leaves the staged files behind,
    * invisible to every reader but occupying storage forever. At 100 TB
    * with thousands of jobs, abandoned stages are real capacity.
    *
    * Deletes, under the table directory only:
    *  - dot-prefixed files older than `olderThanMs` (abandoned stages,
    *    `._graft_stats.tmp` leftovers) — EXCEPT checksum sidecars of
    *    live visible files (`.name.crc` where `name` exists and is
    *    itself visible);
    *  - `_temporary` committer scratch directories older than the
    *    grace (only a crashed V1 job leaves one behind);
    *  - on a table with a commit journal, visible data files older than
    *    the grace that no read serves and no retained record names: not
    *    live at the journal's head, not among any retained record's adds
    *    or removes (a commit that crashed before its record, a foreign
    *    drop). Files a remove names stay. This runs under the table's
    *    commit lock, where no commit sits between publish and record,
    *    and only when the journal names every file reads serve: it is
    *    complete ([[graft.sources.GraftCommits.complete]]; a journal
    *    begun before stream epochs and rewrite_deletes recorded their
    *    files is not until its next commit) and no live file is gone;
    *  - `<table>.__pre` preimage stamp directories older than the grace
    *    that no retained record's `pre` names (their records expired).
    *
    * Never touched: journaled data files, `_graft_meta` / `_graft_stats`
    * sidecars, `_graft_stream_commits` (epoch markers and crash-retry
    * manifests ARE the exactly-once state), and the `.__versions`
    * SIBLING directory (the time-travel store lives outside the table
    * dir and is managed by its own protocol). The grace period is the
    * correctness lever:
    * an in-flight job's stage is younger than any sane grace, so
    * cleanup can run concurrently with writers.
    *
    * Returns (files deleted, bytes reclaimed).
    */
  def removeOrphansByName(layer: String, table: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000): (Int, Long) = {
    require(tableExists(layer, table), s"$layer.$table does not exist")
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    val base = new org.apache.hadoop.fs.Path(path(layer, table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - olderThanMs
    var files = 0
    var bytes = 0L
    // counts through the same (checksum-filtered) listing view the walk
    // uses — getContentSummary delegates to the raw FS and would count
    // .crc sidecars
    def deleteTree(dir: org.apache.hadoop.fs.Path): Unit = {
      def sub(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { c =>
          if (c.isDirectory) sub(c.getPath)
          else { files += 1; bytes += c.getLen }
        }
      sub(dir)
      fs.delete(dir, true)
    }
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (n == "_temporary") {
            if (st.getModificationTime < cutoff) deleteTree(st.getPath)
          } else if (!n.startsWith("_") && !n.startsWith("."))
            walk(st.getPath) // hive partition subtree
        } else if (n.startsWith(".")) {
          // `.name.crc` guarding a still-visible `name` is live metadata
          val liveCrc = n.endsWith(".crc") && {
            val guarded = n.stripPrefix(".").stripSuffix(".crc")
            !guarded.startsWith(".") && !guarded.isEmpty &&
              fs.exists(new org.apache.hadoop.fs.Path(dir, guarded))
          }
          if (!liveCrc && st.getModificationTime < cutoff) {
            files += 1
            bytes += st.getLen
            fs.delete(st.getPath, false)
          }
        }
      }
    walk(base)
    if (graft.sources.GraftCommits.exists(fs, base))
      graft.sources.GraftCommitLock.withLock(fs, base, "remove-orphans") {
        val live = graft.sources.GraftCommits.head(fs, base)
          .fold(Set.empty[String])(_.live.keySet)
        val recs = graft.sources.GraftCommits.list(fs, base)
        val visible = graft.sources.GraftEvolved.listVisible(fs, base)
          .map(st => graft.sources.GraftCommits.relOf(fs, base, st.getPath) -> st)
        // only a journal that names every file its reads serve tells
        // an orphan from a served file
        if (!graft.sources.GraftCommits.complete(fs, base))
          System.err.println(s"[graft] WARN $base: the commit journal " +
            "predates complete file recording — data files are swept " +
            "after the table's next commit")
        else if (!live.subsetOf(visible.map(_._1).toSet))
          System.err.println(s"[graft] WARN $base: files the commit " +
            "journal names live are gone (changed outside the commit " +
            "protocol) — no data file swept")
        else {
          val named = live ++ recs.flatMap(r => r.adds ++ r.removes.map(_.rel))
          visible.foreach { case (rel, st) =>
            if (st.getModificationTime < cutoff && !named(rel)) {
              files += 1
              bytes += st.getLen
              fs.delete(st.getPath, false)
            }
          }
        }
        val preRoot = graft.sources.GraftCommits.preRoot(base)
        val stamps = recs.flatMap(_.pre.map(_.takeWhile(_ != '/'))).toSet
        if (fs.exists(preRoot))
          fs.listStatus(preRoot).foreach { st =>
            if (st.isDirectory && st.getModificationTime < cutoff &&
                !stamps(st.getPath.getName)) deleteTree(st.getPath)
          }
      }
    // deletion-vector sidecars whose data file is gone are inert
    // garbage from rewrites/compactions — sweep them here too
    graft.sources.GraftDv.sweepStale(fs, base)
    // tombstoned generations (reader snapshot isolation) past the
    // grace window — Iceberg's expire_snapshots role
    val (rf, rb) = graft.sources.GraftRetired.expire(fs, base, olderThanMs)
    (files + rf, bytes + rb)
  }

  /** Visible data files under `p`, recursively (`_`/`.` names skipped). */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st)
    }

  private def versionsDir(layer: String, table: String) =
    new org.apache.hadoop.fs.Path(s"${path(layer, table)}.__versions")

  /** Retained version numbers for a versioned table, oldest first.
    * Version N is the table as it was BEFORE the (N+1)-th retained
    * replace — Iceberg-snapshot-style history without a metastore.
    */
  def history(layer: String, table: String): Seq[Int] = {
    val dir = versionsDir(layer, table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{6}")).map(_.drop(1).toInt).sorted
  }

  /** Expire retained time-travel versions beyond the newest `keep` —
    * Iceberg's `expire_snapshots` for the directory version store.
    * Storage-only maintenance: the LIVE table is untouched, and the
    * write-time retention window (`versions`) keeps pruning on its
    * own; this is the manual lever for reclaiming an over-retained
    * store (e.g. after lowering the retention policy). Returns
    * (versions expired, bytes reclaimed). A concurrent `VERSION AS
    * OF` of an expired version fails on its next file read — the
    * same contract as Iceberg expiring a snapshot a reader holds.
    */
  def expireVersionsByName(layer: String, table: String,
      keep: Int): (Int, Long) = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val dir = versionsDir(layer, table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gone = history(layer, table).dropRight(keep)
    var bytes = 0L
    gone.foreach { v =>
      val p = new org.apache.hadoop.fs.Path(dir, f"v$v%06d")
      bytes += fs.getContentSummary(p).getLength
      fs.delete(p, true)
    }
    (gone.size, bytes)
  }

  /** Time-travel read of a retained version: `VERSION AS OF` by name.
    * The catalog serves the archived `v<N>` directory as a read-only
    * snapshot table, applying the deletion vectors and equality deletes
    * archived with it.
    */
  def readVersion(layer: String, table: String, version: Int): DataFrame = {
    require(history(layer, table).contains(version),
      s"$layer.$table has no retained version $version " +
        s"(history: ${history(layer, table).mkString(", ")})")
    spark.sql(s"SELECT * FROM ${sqlIdent(layer, table)} VERSION AS OF $version")
  }

  /** Roll the live table back to a retained version. The replaced
    * current state is itself archived first (rollback is one more
    * version, never a deletion), so a rollback can be rolled back.
    */
  def restoreVersion(layer: String, table: String, version: Int): Unit =
    createOrReplace(readVersion(layer, table, version), layer, table)

  /** [[restoreVersion]] through the session catalog's OWN write path:
    * the truncate-replace write re-clusters rows by the table's
    * declared transforms, so a bucketed/partitioned table keeps its
    * layout (and its exchange-free joins) across a rollback — the
    * path-addressed [[restoreVersion]] writes a plain frame and would
    * drop bucket tags. Same never-a-deletion contract: the catalog
    * write archives the replaced current state as one more version.
    */
  def restoreVersionByName(layer: String, table: String,
      version: Int): Unit =
    readVersion(layer, table, version)
      .writeTo(sqlIdent(layer, table))
      .overwrite(org.apache.spark.sql.functions.lit(true))

  /** Incremental read between two retained versions (`to` = None
    * reads the live table): the row-level changes as an `__op`-tagged
    * frame ("insert" rows appeared, "delete" rows vanished; an update
    * is a delete+insert pair — exactly the shape
    * [[graft.streaming.Streaming.mergeSink]]-style appliers consume).
    * Multiset semantics via exceptAll, so duplicate rows diff by
    * count. A snapshot diff is inherently a two-table scan + shuffle;
    * use it at the cadence snapshots are taken, not per query.
    */
  def changesBetween(layer: String, table: String, from: Int,
                     to: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val a = readVersion(layer, table, from)
    // exceptAll pairs columns by position: the live table's columns
    // follow its schema, a snapshot's put partition columns last
    val b = to.map(readVersion(layer, table, _)).getOrElse(read(layer, table))
      .select(a.columns.map(col): _*)
    b.exceptAll(a).withColumn("__op", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("__op", lit("delete")))
  }

  /** Z-order-clustered write: range-partition and sort by the Morton
    * interleave of two columns so every output file is tight in BOTH
    * dimensions — parquet min/max row-group skipping then prunes scans
    * filtered on EITHER column, where a lexicographic (x, y) sort only
    * serves the leading one. The curve key is dropped before writing;
    * clustering survives as physical row order.
    */
  /** The Z-order curve key for N ≥ 2 integral columns, each rescaled
    * to the interleave's per-column bit domain from the frame's actual
    * min/max ([[graft.functions.ZOrderHelper.bitsFor]]: 16 bits up to
    * 3 columns, shrinking so the code always fits 63 bits). The
    * interleave consumes LOW bits — raw keys beyond the domain (or
    * negative) would silently degrade clustering to hashing, so each
    * column rescales to [0, 2^bits − 1] (one extra 1-row aggregate at
    * write time; double rounding is fine — the curve key orders data,
    * it never answers queries). Two columns produce bit-identical
    * codes to the original Morton pair.
    */
  private def curveKey(df: DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, greatest, least, lit, max, min}
    val bits = graft.functions.ZOrderHelper.bitsFor(cols.length)
    val lim = (1L << bits) - 1
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val Array(r) = df.agg(aggs.head, aggs.tail: _*).collect()
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val lo = r.getLong(2 * i)
      val range = math.max(1L, r.getLong(2 * i + 1) - lo)
      least(greatest(
        ((col(c) - lit(lo)).cast("double") * lim.toDouble / range)
          .cast("long"),
        lit(0L)), lit(lim))
    }
    graft.functions.ZOrderCode.of(scaled, bits)
  }

  def writeClustered(df: DataFrame, layer: String, table: String,
                     zCols: (String, String), files: Int): Unit =
    writeClustered(df, layer, table, Seq(zCols._1, zCols._2), files)

  /** N-column form (r11 item 5): interleaves every column, so a
    * three-predicate workload prunes on any of them.
    */
  def writeClustered(df: DataFrame, layer: String, table: String,
                     zCols: Seq[String], files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    require(zCols.length >= 2, "writeClustered needs two or more columns")
    require(!df.columns.contains("__z"),
      "writeClustered reserves the column name __z")
    val z = curveKey(df, zCols)
    createOrReplace(df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"), layer, table)
  }

  /** Row-level MERGE (upsert + delete) without a table format that
    * supports it natively: matched target rows are replaced by the
    * update (or dropped when the update's `deleteCol` is true),
    * unmatched updates are inserted. When `partitionCols` is given the
    * rewrite is SCOPED — only the hive partitions present in `updates`
    * are read, merged, and dynamically overwritten; every other
    * partition's files are untouched. That scoping is what makes
    * row-level merge affordable at 100 TB: cost is proportional to the
    * touched partitions, not the table. (The id join is a shuffle or
    * broadcast equi-join; nothing ever collects to the driver.)
    *
    * `updates` must carry the target's full schema (plus `deleteCol`
    * if deletions are wanted). PRECONDITION of the partition-scoped
    * form: a key's partition value is STABLE — an update row must
    * carry the same partition value as the target row it matches,
    * or the old copy (living in an untouched partition) survives
    * beside the new one. Rows that MOVE partitions need the
    * unpartitioned full-rewrite form (partitionCols = Nil). Returns
    * inserted/updated/deleted counts.
    */
  def merge(updates: DataFrame, layer: String, table: String,
            keyCols: Seq[String], partitionCols: Seq[String] = Nil,
            deleteCol: Option[String] = None): MergeStats = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val target = read(layer, table)
    val dataCols = target.columns.toSeq
    // NULL flags must not slip between filter(!del) and filter(del) —
    // that would silently delete the row while counting it as updated
    val del = deleteCol
      .map(c => coalesce(col(c).cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val ups = updates.transform(Materialize.once)
    require(
      ups.count() == ups.select(keyCols.map(col): _*).distinct().count(),
      "merge updates must be unique per key (ambiguous upsert/delete otherwise)")
    // scope the rewrite to the partitions the updates touch; the
    // touched target slice feeds three consumers below — one scan
    val scoped = (
      if (partitionCols.nonEmpty)
        target.join(ups.select(partitionCols.map(col): _*).distinct(),
          partitionCols, "left_semi")
      else target
    ).transform(Materialize.once)
    val scopedKeys = scoped.select(keyCols.map(col): _*).distinct()
      .transform(Materialize.once)
    val upsKeys = ups.select(keyCols.map(col): _*).distinct()
    val keep = scoped.join(upsKeys, keyCols, "left_anti")
    val applied = ups.filter(!del).select(dataCols.map(col): _*)
    val matchedKeys = scopedKeys.join(upsKeys, keyCols, "left_semi").count()
    val deleted = ups.filter(del).select(keyCols.map(col): _*).distinct()
      .join(scopedKeys, keyCols, "left_semi").count()
    val merged = keep.select(dataCols.map(col): _*).union(applied)
      // the union reads `scoped`/`keep` lazily while the write below
      // replaces the same files — materialize before overwriting
      .transform(Materialize.once)
    merged.count() // force materialization before the paths are replaced
    if (partitionCols.nonEmpty) {
      overwritePartitionsByName(merged, layer, table, partitionCols)
      // dynamic overwrite cannot DELETE a partition: a touched
      // partition whose every row was removed writes no files and its
      // old generation would resurrect the deleted rows — retire those
      // partitions as one more commit (touched minus surviving; both
      // sets are delta-bounded)
      val touched = ups.select(partitionCols.map(col): _*).distinct()
        .collect().map(_.toSeq).toSet
      val surviving = merged.select(partitionCols.map(col): _*).distinct()
        .collect().map(_.toSeq).toSet
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      import graft.sources.{GraftCommitLock, GraftCommits, GraftDv, GraftRetired}
      val base = new Path(path(layer, table))
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val emptied = (touched -- surviving).toSeq.map { values =>
        new Path(base, partitionCols.zip(values).map { case (c, v) =>
          ExternalCatalogUtils.getPartitionPathString(c,
            if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else v.toString)
        }.mkString("/"))
      }.filter(fs.exists)
      if (emptied.nonEmpty) {
        GraftCommitLock.withLock(fs, base, s"merge-drop:$layer.$table") {
          // tombstoned, not deleted: a reader that planned before this
          // commit still finds its files ([[GraftRetired]])
          // commit ([[GraftCommits]]): the record first, naming the
          // tombstone the retire then fills
          val gone = emptied.flatMap(dataFiles(fs, _)).map(_.getPath)
          val tomb = GraftRetired.newCommitDir(base)
          GraftCommits.record(fs, base, "delete", adds = Nil,
            removes = gone.map(g => GraftCommits.Remove(
              GraftCommits.relOf(fs, base, g), tomb.getName)))
          GraftRetired.retireFilesInto(fs, base, gone, tomb)
          GraftDv.dropFor(fs, base, gone)
          emptied.foreach { leaf =>
            var d = leaf
            while (d != base && d.getName.contains("=") && fs.exists(d) &&
                fs.listStatus(d).isEmpty) {
              fs.delete(d, false)
              d = d.getParent
            }
          }
        }
        graft.sources.GraftMaintenance.afterCommit(spark, fs, base)
      }
    } else createOrReplaceByName(merged, layer, table)
    MergeStats(
      inserted = ups.filter(!del).count() - (matchedKeys - deleted),
      updated = matchedKeys - deleted,
      deleted = deleted)
  }
}

final case class MergeStats(inserted: Long, updated: Long, deleted: Long)

object Catalog {
  /** Storage formats this catalog round-trips. Parquet is the scale
    * default (columnar, pushdown, pruning); ORC is the columnar
    * alternative with the same properties; JSON/CSV exist for
    * interchange layers — row-oriented, schema-on-read, no pushdown —
    * and should stay at the ingest edge of a 100 TB pipeline.
    */
  val Formats: Set[String] = Set("parquet", "orc", "json", "csv")
}
