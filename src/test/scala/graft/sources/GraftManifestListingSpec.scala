package graft.sources

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Counting local filesystem: every listStatus under a data directory
  * is recorded — the instrumentation proving a manifest-served scan
  * performs ZERO data-directory list calls.
  */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftcnt"
  override def getUri: URI = URI.create("graftcnt:///")
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.record(p)
    super.listStatus(p)
  }
}

object CountingLocalFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def record(p: Path): Unit = calls.add(p.toUri.getPath)
  def reset(): Unit = calls.clear()
  /** list calls under `root` excluding engine sidecar dirs (underscore
    * or dot prefixed segments) — the data-directory listings a
    * manifest-served scan must not perform.
    */
  def dataListings(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    calls.asScala.toSeq.filter { p =>
      p.startsWith(root) &&
        !p.stripPrefix(root).split('/').exists(s =>
          s.startsWith("_") || s.startsWith("."))
    }
  }
}

/** Scan planning from the commit journal ([[GraftManifestListing]]):
  * a journaled table plans from its journal's live set — zero
  * data-directory listStatus calls (instrumented filesystem), no
  * listing job — with partition pruning intact, tracking every commit
  * exactly. The record is the commit: files a commit published but
  * never recorded are not served, and a failed record fails the write.
  */
class GraftManifestListingSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftcnt.impl", classOf[CountingLocalFs].getName)
    val name = s"gml${n}_${System.nanoTime()}"
    val local = tmpDir(s"graft-ml-$name")
    val root = s"graftcnt://$local"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, local)
  }

  private def sumV(cat: String, t: String): (Long, Long) = {
    val r = spark.table(s"$cat.ods.$t").agg(count(lit(1)), sum(col("v"))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("journal planning: zero data-directory listings, pruning intact, every commit tracked exactly") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.j (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.j SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    CountingLocalFs.reset()
    assert(spark.table(s"$cat.ods.j").count() == 100)
    val pruned = spark.table(s"$cat.ods.j").where(col("p") === "a")
    assert(pruned.count() == 50)
    val listings = CountingLocalFs.dataListings(s"$local/ods/j")
    assert(listings.isEmpty, s"journal-planned scans listed data dirs: $listings")
    // partition pruning proof: the 'a'-filtered scan planned only the
    // p=a partition's files
    pruned.collect()
    val scanned = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}
      .collect(pruned.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.flatten.collect {
            case fp: org.apache.spark.sql.execution.datasources
                .FilePartition => fp.files.map(_.toPath.toString).toSeq
          }.flatten
      }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("p=a")),
      s"pruning broke under the journal index: $scanned")

    // a new commit: the file list is the journal's head, the fresh
    // rows serve with still zero data-dir listings
    spark.sql(s"INSERT INTO $cat.ods.j VALUES (999, 1, 'c')")
    CountingLocalFs.reset()
    assert(spark.table(s"$cat.ods.j").count() == 101,
      "journal planning served a stale snapshot")
    assert(CountingLocalFs.dataListings(s"$local/ods/j").isEmpty,
      "journal planning listed data dirs after a commit")

    // a row-level DELETE retires files and publishes a rewrite: the
    // plan tracks it exactly (no stale files, no missing rows)
    spark.sql(s"DELETE FROM $cat.ods.j WHERE k >= 90")
    CountingLocalFs.reset()
    assert(spark.table(s"$cat.ods.j").count() == 90,
      "journal planning missed a row-level rewrite")
    assert(CountingLocalFs.dataListings(s"$local/ods/j").isEmpty,
      "post-DML journal planning listed data dirs")
  }

  test("a name read of a 40-partition journaled table plans without a Spark job") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.wide (k BIGINT, v BIGINT, p INT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.wide SELECT id, id, CAST(id % 40 AS INT) " +
      "FROM range(0, 400)")
    assert(spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold").toInt < 40)
    val (_, jobs) = jobsDuring(spark.table(s"$cat.ods.wide")
      .where(col("v") > 3).queryExecution.executedPlan)
    assert(jobs.isEmpty, s"planning the name read ran Spark jobs: $jobs")
    assert(spark.table(s"$cat.ods.wide").count() == 400)
  }

  test("a commit that crashes before its record leaves the table at its pre-commit state, and the next commit succeeds") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.c (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.c SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    val pre = sumV(cat, "c")
    val old = GraftPartitionedCow.onBetweenPublishAndRetire
    GraftPartitionedCow.onBetweenPublishAndRetire = dir =>
      if (dir.endsWith("/ods/c")) throw new IllegalStateException("crash")
    try {
      val e = intercept[Exception](
        spark.sql(s"UPDATE $cat.ods.c SET v = v + 1000000 WHERE p = 'a'"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("crash")), e)
      val e2 = intercept[Exception](
        spark.sql(s"INSERT INTO $cat.ods.c VALUES (500, 5, 'a')"))
      assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("crash")), e2)
    } finally GraftPartitionedCow.onBetweenPublishAndRetire = old
    // both commits published files, neither recorded them: name reads
    // serve exactly the pre-commit state
    val tableDir = new Path(s"graftcnt://$local/ods/c")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(GraftEvolved.listVisible(fs, tableDir).size >
      GraftCommits.accountedLive(GraftCommits.list(fs, tableDir)).size,
      "the crashed commits published no file")
    assert(sumV(cat, "c") == pre)
    assert(spark.table(s"$cat.ods.c").where(col("p") === "a").count() == 50)
    // the next commits succeed and serve on top of the pre-commit state
    spark.sql(s"INSERT INTO $cat.ods.c VALUES (500, 5, 'a')")
    assert(sumV(cat, "c") == ((pre._1 + 1, pre._2 + 5)))
    spark.sql(s"UPDATE $cat.ods.c SET v = v + 1 WHERE p = 'b'")
    assert(sumV(cat, "c") == ((pre._1 + 1, pre._2 + 5 + 50)))
  }

  test("Catalog.read of a journaled table serves what Catalog.table serves, not an unrecorded file") {
    val (_, local) = freshCatalog()
    val engine = graft.runtime.Catalog(spark, s"graftcnt://$local")
    import spark.implicits._
    engine.append((0L until 20L).map(i => (i, i * 10, s"p${i % 2}"))
      .toDF("k", "v", "p"), "ods", "r", Seq("p"))
    // a Spark path write into the table directory is no commit
    Seq((1000L, 7L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$local/ods/r/p=p0")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "p").as[(Long, Long, String)].collect().toSet
    assert(rowsOf(engine.read("ods", "r")) == rowsOf(engine.table("ods", "r")))
    assert(engine.read("ods", "r").count() == 20,
      "the object-API read served a file no commit recorded")
  }

  test("Catalog.read of a journaled table lists no data directory") {
    val (_, local) = freshCatalog()
    val engine = graft.runtime.Catalog(spark, s"graftcnt://$local")
    import spark.implicits._
    engine.append((0L until 20L).map(i => (i, i * 10, s"p${i % 2}"))
      .toDF("k", "v", "p"), "ods", "l", Seq("p"))
    CountingLocalFs.reset()
    assert(engine.read("ods", "l").count() == 20)
    val listings = CountingLocalFs.dataListings(s"$local/ods/l")
    assert(listings.isEmpty, s"Catalog.read listed data dirs: $listings")
  }

  test("an unpartitioned UPDATE that crashes before its record leaves the pre-commit state, and the next UPDATE succeeds") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.n (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.n SELECT id, id * 10 FROM range(0, 100)")
    val pre = sumV(cat, "n")
    val old = GraftPartitionedCow.onBetweenPublishAndRetire
    GraftPartitionedCow.onBetweenPublishAndRetire = dir =>
      if (dir.endsWith("/ods/n")) throw new IllegalStateException("crash")
    try {
      val e = intercept[Exception](
        spark.sql(s"UPDATE $cat.ods.n SET v = v + 1000000 WHERE k < 50"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("crash")), e)
    } finally GraftPartitionedCow.onBetweenPublishAndRetire = old
    // the record is the commit point and the crash came before it
    assert(sumV(cat, "n") == pre)
    spark.sql(s"UPDATE $cat.ods.n SET v = v + 1 WHERE k < 50")
    assert(sumV(cat, "n") == ((pre._1, pre._2 + 50)))
  }

  test("a failed record fails the write and the table reads as before") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.f (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.f SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    val pre = sumV(cat, "f")
    val tableDir = new Path(s"graftcnt://$local/ods/f")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the next record's staging path is taken by a directory: writing
    // the record fails
    val blocker = new Path(GraftCommits.dir(tableDir),
      f".c${GraftCommits.lastId(fs, tableDir) + 1}%012d.rec.tmp")
    assert(fs.mkdirs(new Path(blocker, "x")))
    try {
      intercept[Exception](
        spark.sql(s"INSERT INTO $cat.ods.f VALUES (500, 5, 'a'), (501, 5, 'c')"))
      intercept[Exception](
        spark.sql(s"UPDATE $cat.ods.f SET v = v + 1000000 WHERE p = 'a'"))
      assert(sumV(cat, "f") == pre, "a write whose record failed is visible")
    } finally fs.delete(blocker, true)
    spark.sql(s"INSERT INTO $cat.ods.f VALUES (500, 5, 'a')")
    assert(sumV(cat, "f") == ((pre._1 + 1, pre._2 + 5)))
  }

  test("an UPDATE whose record failed, then path appends: name reads serve the pre-UPDATE state") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.u (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.u SELECT id, id * 10 FROM range(0, 100)")
    val pre = sumV(cat, "u")
    val tableDir = new Path(s"graftcnt://$local/ods/u")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val blocker = new Path(GraftCommits.dir(tableDir),
      f".c${GraftCommits.lastId(fs, tableDir) + 1}%012d.rec.tmp")
    assert(fs.mkdirs(new Path(blocker, "x")))
    try intercept[Exception](
      spark.sql(s"UPDATE $cat.ods.u SET v = v + 1000000 WHERE k < 50"))
    finally fs.delete(blocker, true)
    assert(sumV(cat, "u") == pre, "an UPDATE whose record failed is visible")
    // a Spark path write into the table directory is no commit: name
    // reads never serve its row, nor the failed UPDATE's generation
    import spark.implicits._
    Seq((1000L, 7L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$local/ods/u")
    assert(sumV(cat, "u") == pre)
    // nor the files of a commit that crashed before its record, nor a
    // path write after it
    val old = GraftPartitionedCow.onBetweenPublishAndRetire
    GraftPartitionedCow.onBetweenPublishAndRetire = dir =>
      if (dir.endsWith("/ods/u")) throw new IllegalStateException("crash")
    try intercept[Exception](
      spark.sql(s"INSERT INTO $cat.ods.u SELECT id, 1 FROM range(0, 100)"))
    finally GraftPartitionedCow.onBetweenPublishAndRetire = old
    Seq((2000L, 9L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$local/ods/u")
    assert(sumV(cat, "u") == pre)
  }

  test("a complete-mode stream refreshing a journaled table serves the refreshed state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.s (seg STRING, n BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.s VALUES ('z', 99)")
    val m = MemoryStream[(Long, String)]
    val q = m.toDF().toDF("k", "seg").groupBy("seg")
      .agg(count(lit(1)).as("n")).writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("gml-s-cp"))
      .toTable(s"$cat.ods.s")
    try { m.addData((1L, "a"), (2L, "b"), (3L, "a")); q.processAllAvailable() }
    finally q.stop()
    assert(spark.table(s"$cat.ods.s").orderBy("seg").collect().toSeq ==
      Seq(org.apache.spark.sql.Row("a", 2L), org.apache.spark.sql.Row("b", 1L)))
  }

  private def withShuffle4[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Name reads of `t` list no data directory; returns (count, sum). */
  private def unlistedSums(cat: String, local: String, t: String,
      col0: String = "v"): (Long, Long) = {
    CountingLocalFs.reset()
    val r = spark.table(s"$cat.ods.$t").agg(count(lit(1)), sum(col(col0))).head
    val listings = CountingLocalFs.dataListings(s"$local/ods/$t")
    assert(listings.isEmpty, s"a name read of $t listed data dirs: $listings")
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("an equality-upsert stream table plans from its journal, before and after a bounded and a full rewrite_deletes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.q (k BIGINT, total BIGINT)")
    val mem = MemoryStream[(Long, Long)]
    withShuffle4 {
      val q = mem.toDF().toDF("k", "v").groupBy("k")
        .agg(sum("v").as("total"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "k")
        .option("upsertMode", "equality")
        .option("checkpointLocation", tmpDir("gml-q-cp"))
        .toTable(s"$cat.ods.q")
      try {
        Seq(Seq((1L, 10L), (2L, 20L)), Seq((1L, 1L), (3L, 30L)),
            Seq((2L, 2L))).foreach { batch =>
          mem.addData(batch: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    // final state: 1 -> 11, 2 -> 22, 3 -> 30
    val want = (3L, 63L)
    assert(unlistedSums(cat, local, "q", "total") == want)
    val tableDir = new Path(s"graftcnt://$local/ods/q")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bounded at epoch 0 (no sidecar at or below it: a stamp-only
    // rename), then at epoch 1 (a rewrite), then a full materialization
    GraftEqDel.materialize(spark, tableDir, Some(0L))
    assert(unlistedSums(cat, local, "q", "total") == want)
    GraftEqDel.materialize(spark, tableDir, Some(1L))
    assert(unlistedSums(cat, local, "q", "total") == want)
    spark.sql(s"CALL $cat.system.rewrite_deletes(table => 'ods.q')").collect()
    assert(GraftEqDel.list(fs, tableDir).isEmpty, "sidecars left after rewrite_deletes")
    assert(unlistedSums(cat, local, "q", "total") == want)
    // the journal names exactly the files on disk
    val live = GraftCommits.head(fs, tableDir).get.live.keySet
    assert(GraftEvolved.listVisible(fs, tableDir)
      .map(st => GraftCommits.relOf(fs, tableDir, st.getPath)).toSet == live)
  }

  test("while a commit lock is held, name reads plan from the journal with no listing") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.h (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.h SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    val pre = sumV(cat, "h")
    val tableDir = new Path(s"graftcnt://$local/ods/h")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = GraftCommitLock.acquire(fs, tableDir, "spec-held")
    try {
      GraftManifestListing.invalidate()
      assert(unlistedSums(cat, local, "h") == pre)
    } finally GraftCommitLock.release(fs, tableDir, token)
  }

  private def streamEpochRecs(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: Path, epoch: Long): Int =
    GraftCommits.list(fs, tableDir).count(_.streamEpoch.exists(_._2 == epoch))

  test("an epoch that crashes between its record and its marker is redelivered with no second record, and its rows serve once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.e (k BIGINT, v BIGINT)")
    val tableDir = new Path(s"graftcnt://$local/ods/e")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mem = MemoryStream[(Long, Long)]
    val cp = tmpDir("gml-e-cp")
    def start() = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", cp).toTable(s"$cat.ods.e")
    val q1 = start()
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q1.processAllAvailable()
      GraftPartitionedCow.onBeforeEpochMarker = dir =>
        if (dir.endsWith("/ods/e")) throw new IllegalStateException("crash")
      mem.addData((3L, 30L))
      intercept[Exception](q1.processAllAvailable())
    } finally {
      q1.stop()
      GraftPartitionedCow.onBeforeEpochMarker = _ => ()
    }
    // recorded, so served, although the epoch has no marker yet
    assert(streamEpochRecs(fs, tableDir, 1L) == 1)
    assert(unlistedSums(cat, local, "e") == ((3L, 60L)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(streamEpochRecs(fs, tableDir, 1L) == 1,
      "the redelivered epoch recorded a second time")
    assert(unlistedSums(cat, local, "e") == ((3L, 60L)))
  }

  test("an epoch whose record fails leaves the table at its pre-epoch state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.x (k BIGINT, v BIGINT)")
    val tableDir = new Path(s"graftcnt://$local/ods/x")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmpDir("gml-x-cp")).toTable(s"$cat.ods.x")
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      val blocker = new Path(GraftCommits.dir(tableDir),
        f".c${GraftCommits.lastId(fs, tableDir) + 1}%012d.rec.tmp")
      assert(fs.mkdirs(new Path(blocker, "x")))
      try {
        mem.addData((3L, 30L))
        intercept[Exception](q.processAllAvailable())
      } finally fs.delete(blocker, true)
    } finally q.stop()
    assert(sumV(cat, "x") == ((2L, 30L)), "an epoch whose record failed is visible")
    assert(GraftEvolved.listVisible(fs, tableDir).size ==
      GraftCommits.head(fs, tableDir).get.live.size,
      "the failed epoch left published files behind")
  }

  test("remove_orphans collects the files of a commit that crashed before its record, and reads are unchanged") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.o (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.o SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    val pre = sumV(cat, "o")
    val old = GraftPartitionedCow.onBetweenPublishAndRetire
    GraftPartitionedCow.onBetweenPublishAndRetire = dir =>
      if (dir.endsWith("/ods/o")) throw new IllegalStateException("crash")
    try intercept[Exception](
      spark.sql(s"UPDATE $cat.ods.o SET v = v + 1000000 WHERE p = 'a'"))
    finally GraftPartitionedCow.onBetweenPublishAndRetire = old
    val tableDir = new Path(s"graftcnt://$local/ods/o")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible() = GraftEvolved.listVisible(fs, tableDir)
      .map(st => GraftCommits.relOf(fs, tableDir, st.getPath)).toSet
    val live = GraftCommits.head(fs, tableDir).get.live.keySet
    val leftovers = visible() -- live
    assert(leftovers.nonEmpty, "the crashed commit published no file")
    Thread.sleep(20)
    spark.sql(s"CALL $cat.system.remove_orphans(table => 'ods.o', " +
      "older_than_ms => 0)").collect()
    assert(visible() == live, s"orphans left: ${visible() -- live}")
    assert(sumV(cat, "o") == pre)
    spark.sql(s"UPDATE $cat.ods.o SET v = v + 1 WHERE p = 'b'")
    assert(sumV(cat, "o") == ((pre._1, pre._2 + 50)))
  }

  test("a table's first journaled commit claims the stream-named files its listing served") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.g (seg STRING, n BIGINT)")
    val m = MemoryStream[(Long, String)]
    val q = m.toDF().toDF("k", "seg").groupBy("seg")
      .agg(count(lit(1)).as("n")).writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("gml-g-cp"))
      .toTable(s"$cat.ods.g")
    try { m.addData((1L, "a"), (2L, "b"), (3L, "a")); q.processAllAvailable() }
    finally q.stop()
    val tableDir = new Path(s"graftcnt://$local/ods/g")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!GraftCommits.exists(fs, tableDir), "the refresh journaled")
    spark.sql(s"INSERT INTO $cat.ods.g VALUES ('z', 99)")
    assert(spark.table(s"$cat.ods.g").orderBy("seg").collect().toSeq == Seq(
      org.apache.spark.sql.Row("a", 2L), org.apache.spark.sql.Row("b", 1L),
      org.apache.spark.sql.Row("z", 99L)))
  }

  test("a journal from before complete recording: remove_orphans keeps what its reads serve, and the next commit records it") {
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.l (k BIGINT, v BIGINT)")
    spark.range(0, 10, 1, 2).selectExpr("id AS k", "id * 10 AS v")
      .writeTo(s"$cat.ods.l").append()
    val tableDir = new Path(s"graftcnt://$local/ods/l")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible() = GraftEvolved.listVisible(fs, tableDir)
      .map(st => GraftCommits.relOf(fs, tableDir, st.getPath)).toSet
    val rels = visible().toSeq.sorted
    assert(rels.size == 2)
    // the state an older rewrite_deletes left: live files recorded
    // without their length and mtime, one renamed with no record
    fs.delete(GraftCommits.dir(tableDir), true)
    GraftCommitLock.withLock(fs, tableDir, "spec-legacy") {
      GraftCommits.record(fs, tableDir, "append", adds = rels)
    }
    fs.delete(GraftCommits.completeMark(tableDir), false)
    val moved = "rw-legacy-" + rels.head
    assert(fs.rename(new Path(tableDir, rels.head), new Path(tableDir, moved)))
    GraftManifestListing.invalidate()
    assert(sumV(cat, "l") == ((10L, 450L)))
    Thread.sleep(20)
    spark.sql(s"CALL $cat.system.remove_orphans(table => 'ods.l', " +
      "older_than_ms => 0)").collect()
    assert(visible() == Set(moved, rels(1)), "remove_orphans deleted a served file")
    assert(sumV(cat, "l") == ((10L, 450L)))
    // the next commit records what the reads served, then its own file
    spark.sql(s"INSERT INTO $cat.ods.l VALUES (100, 1)")
    assert(GraftCommits.complete(fs, tableDir))
    assert(unlistedSums(cat, local, "l") == ((11L, 451L)))
    assert(GraftCommits.head(fs, tableDir).get.live.keySet == visible())
    spark.sql(s"CALL $cat.system.remove_orphans(table => 'ods.l', " +
      "older_than_ms => 0)").collect()
    assert(unlistedSums(cat, local, "l") == ((11L, 451L)))
    // on a complete journal a gone unstatted file fails the read, named
    fs.delete(new Path(tableDir, rels(1)), false)
    GraftManifestListing.invalidate()
    val e = intercept[Exception](sumV(cat, "l"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(rels(1))), e.toString)
  }

  test("an append stream table whose journal lost an epoch's record serves it again after the next epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, local) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.a (k BIGINT, v BIGINT)")
    val tableDir = new Path(s"graftcnt://$local/ods/a")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mem = MemoryStream[(Long, Long)]
    val cp = tmpDir("gml-a-cp")
    def start() = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", cp).toTable(s"$cat.ods.a")
    val q1 = start()
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q1.processAllAvailable()
      mem.addData((3L, 30L))
      q1.processAllAvailable()
    } finally q1.stop()
    // older writers recorded epochs best effort: epoch 1's record lost
    val lost = GraftCommits.list(fs, tableDir)
      .find(_.streamEpoch.exists(_._2 == 1L)).get
    fs.delete(new Path(GraftCommits.dir(tableDir), f"c${lost.id}%012d.rec"), false)
    fs.delete(GraftCommits.completeMark(tableDir), false)
    GraftManifestListing.invalidate()
    val q2 = start()
    try {
      mem.addData((4L, 40L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(GraftCommits.complete(fs, tableDir))
    assert(unlistedSums(cat, local, "a") == ((4L, 100L)))
    assert(GraftCommits.head(fs, tableDir).get.live.keySet ==
      GraftEvolved.listVisible(fs, tableDir)
        .map(st => GraftCommits.relOf(fs, tableDir, st.getPath)).toSet)
  }
}
