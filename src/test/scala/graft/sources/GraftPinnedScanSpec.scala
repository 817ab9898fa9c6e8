package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Reads pinned to the commit journal's snapshot while commits run
  * ([[GraftManifestListing]], r16 verdict item 1): a partitioned
  * copy-on-write commit publishes the new generation, then retires the
  * old one, all under the table lock. A reader planning INSIDE that
  * window used to see BOTH generations and double-count every touched
  * partition. Scans plan from the commit journal's accounted-live
  * snapshot, whose record is the commit, held lock or not: files a
  * commit published but has not recorded, superseded files not yet
  * retired and files no commit recorded are never served.
  */
class GraftPinnedScanSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gps${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-ps-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  test("a reader planning inside a stalled UPDATE's publish→retire window serves exactly the pre-commit state — zero duplicates") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.w (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.w SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    val preSum = spark.table(s"$cat.ods.w").agg(sum(col("v")))
      .head.getLong(0)
    val tableDir = new Path(s"$root/ods/w")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visibleDataFiles(): Seq[String] =
      GraftEvolved.listVisible(fs, tableDir).map(_.getPath.toString)
    val preFiles = visibleDataFiles().toSet

    val published = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val old = GraftPartitionedCow.onBetweenPublishAndRetire
    GraftPartitionedCow.onBetweenPublishAndRetire = dir =>
      if (dir.contains("/ods/w")) {
        published.countDown()
        release.await(120, TimeUnit.SECONDS)
        ()
      }
    try {
      val writer = new Thread(() =>
        spark.sql(s"UPDATE $cat.ods.w SET v = v + 1000000 WHERE p = 'a'"))
      writer.setDaemon(true)
      writer.start()
      assert(published.await(120, TimeUnit.SECONDS),
        "the UPDATE never reached its publish point")
      // the window is REAL: both generations are visible on disk
      val mid = visibleDataFiles()
      assert(mid.size > preFiles.size,
        s"expected both generations visible mid-commit: $mid")
      // ... and the commit lock is held
      assert(fs.exists(GraftCommitLock.lockPath(tableDir)))
      // a reader planning NOW must serve exactly the pre-commit
      // snapshot — before this round it double-counted partition a
      val midRows = spark.table(s"$cat.ods.w")
        .agg(count(lit(1)), sum(col("v"))).head
      assert(midRows.getLong(0) == 100L,
        s"mid-window reader saw ${midRows.getLong(0)} rows — the " +
          "publish→retire window double-served the touched partition")
      assert(midRows.getLong(1) == preSum,
        "mid-window reader's sum drifted from the pre-commit state")
      // a partition-pruned read through the UNTOUCHED partition too
      assert(spark.table(s"$cat.ods.w").where(col("p") === "b")
        .count() == 50L)
    } finally {
      release.countDown()
      GraftPartitionedCow.onBetweenPublishAndRetire = old
    }
    // after the commit completes, the post-state serves exactly
    var waited = 0
    while (fs.exists(GraftCommitLock.lockPath(tableDir)) && waited < 600) {
      Thread.sleep(200); waited += 1
    }
    val post = spark.table(s"$cat.ods.w")
      .agg(count(lit(1)), sum(col("v"))).head
    assert(post.getLong(0) == 100L)
    assert(post.getLong(1) == preSum + 50L * 1000000L,
      "post-commit reader must see the completed UPDATE")
  }

  test("an unjournaled file WITHOUT a held lock is not served: the journal is the table") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.f (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.f SELECT id, id FROM range(0, 50)")
    val tableDir = new Path(s"$root/ods/f")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a foreign writer drops an unjournaled copy of a data file in
    val dataFile = fs.listStatus(tableDir).filter(_.isFile)
      .map(_.getPath).find(p => !p.getName.startsWith("_") &&
        !p.getName.startsWith(".")).get
    val copy = new Path(tableDir, "part-foreign-copy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs, copy, false,
      spark.sparkContext.hadoopConfiguration)
    GraftManifestListing.invalidate()
    val copiedRows = spark.read.parquet(copy.toString).count()
    assert(copiedRows > 0)
    // no commit recorded the copy: name reads plan from the journal
    // and never serve it
    assert(spark.table(s"$cat.ods.f").count() == 50L,
      "a data file no commit recorded must not be served")
  }

  test("under a held lock the journal plan serves no unaccounted file, and a missing accounted file fails the read naming it") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.g (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.g SELECT id, id, 'a' FROM range(0, 20)")
    val tableDir = new Path(s"$root/ods/g")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a holder outside the commit protocol holds the lock, drops an
    // unaccounted copy in, then moves an accounted file away
    val dataFile = GraftEvolved.listVisible(fs, tableDir)
      .map(_.getPath).head
    val parked = new Path(tableDir.getParent, "parked-" + dataFile.getName)
    val token = GraftCommitLock.acquire(fs, tableDir, "spec-mid-retire")
    try {
      val copy = new Path(dataFile.getParent, "part-newgen-copy.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs, copy, false,
        spark.sparkContext.hadoopConfiguration)
      GraftManifestListing.invalidate()
      assert(spark.table(s"$cat.ods.g").count() == 20L,
        "the journal plan served a file no commit recorded")
      require(fs.rename(dataFile, parked))
      GraftManifestListing.invalidate()
      val e = intercept[Exception](spark.table(s"$cat.ods.g").count())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains(dataFile.getName)),
        s"the failed read does not name the missing file: $messages")
    } finally {
      try { if (fs.exists(parked)) fs.rename(parked, dataFile) }
      finally GraftCommitLock.release(fs, tableDir, token)
    }
  }

  test("a listing that raced a COMPLETED commit pins to the post-commit snapshot — journal-retired stragglers drop, never double-serve") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.r (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.r SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    spark.sql(s"UPDATE $cat.ods.r SET v = v + 1000000 WHERE p = 'a'")
    val post = spark.table(s"$cat.ods.r")
      .agg(count(lit(1)), sum(col("v"))).head
    val tableDir = new Path(s"$root/ods/r")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resurrect ONE retired pre-UPDATE file at its original relpath —
    // exactly what a scan listing captured inside the (since-completed)
    // publish→retire window holds
    val retiredArea = fs.makeQualified(new Path(tableDir.getParent,
      tableDir.getName + ".__retired"))
    val straggler = {
      val it = fs.listFiles(retiredArea, true)
      var found: Option[Path] = None
      while (found.isEmpty && it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          found = Some(st.getPath)
      }
      found.getOrElse(fail("no tombstoned file after the UPDATE"))
    }
    // rel below the commit dir: .__retired/<commit>/<rel>
    val commitDir = {
      var p = straggler
      while (p.getParent != retiredArea) p = p.getParent
      p
    }
    val rel = straggler.toString.stripPrefix(commitDir.toString)
      .stripPrefix("/")
    val back = new Path(tableDir, rel)
    org.apache.hadoop.fs.FileUtil.copy(fs, straggler, fs, back, false,
      spark.sparkContext.hadoopConfiguration)
    GraftManifestListing.invalidate()
    // no lock held, the straggler IS journal-retired: the pin serves
    // the post-commit snapshot exactly (before this refinement the
    // straggler double-served with a misleading foreign-writer warning)
    val got = spark.table(s"$cat.ods.r")
      .agg(count(lit(1)), sum(col("v"))).head
    assert(got.getLong(0) == post.getLong(0),
      s"retired straggler double-served: ${got.getLong(0)} rows")
    assert(got.getLong(1) == post.getLong(1))
    fs.delete(back, false)
    GraftManifestListing.invalidate()
  }

  test("a reader planning after the record, while the retire is under way, serves the post-commit snapshot with no wait") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.m (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.ods.m SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 100)")
    val preSum = spark.table(s"$cat.ods.m").agg(sum(col("v")))
      .head.getLong(0)
    spark.sql(s"UPDATE $cat.ods.m SET v = v + 1000000 WHERE p = 'a'")
    val tableDir = new Path(s"$root/ods/m")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the state between the UPDATE's record and the end of its retire:
    // the journal names the new generation, the commit lock is held,
    // and superseded files are still in the live directory
    val retiredArea = fs.makeQualified(new Path(tableDir.getParent,
      tableDir.getName + ".__retired"))
    val commitDir = fs.listStatus(retiredArea).head.getPath
    val superseded = {
      val it = fs.listFiles(commitDir, true)
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st.getPath
      }
      b.result()
    }
    assert(superseded.nonEmpty, "the UPDATE retired no file")
    val back = superseded.take((superseded.size + 1) / 2).map { f =>
      val dest = new Path(tableDir,
        f.toString.stripPrefix(commitDir.toString).stripPrefix("/"))
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs, dest, false,
        spark.sparkContext.hadoopConfiguration)
      dest
    }
    val token = GraftCommitLock.acquire(fs, tableDir, "spec-mid-retire")
    try {
      val t0 = System.nanoTime()
      val got = spark.table(s"$cat.ods.m")
        .agg(count(lit(1)), sum(col("v"))).head
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(got.getLong(0) == 100L,
        s"mid-retirement reader saw ${got.getLong(0)} rows")
      assert(got.getLong(1) == preSum + 50L * 1000000L,
        "mid-retirement reader must serve the completed UPDATE exactly")
      assert(waitedMs < 5000L,
        s"the reader waited $waitedMs ms for the commit lock")
    } finally {
      GraftCommitLock.release(fs, tableDir, token)
      back.foreach(fs.delete(_, false))
    }
  }

  test("a reader planning while an unpartitioned UPDATE is stalled mid-retire serves exactly the post-commit state") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.u (k BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.ods.u SELECT id, id * 10 " +
        s"FROM range(${i * 25}, ${(i + 1) * 25})")
    }
    val preSum = spark.table(s"$cat.ods.u").agg(sum(col("v")))
      .head.getLong(0)
    val tableDir = new Path(s"$root/ods/u")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retiring = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    GraftRetired.onFileRetired = f =>
      if (f.toString.contains("/ods/u/")) {
        retiring.countDown()
        release.await(120, TimeUnit.SECONDS)
        ()
      }
    @volatile var failure: Throwable = null
    val writer = new Thread(() =>
      try spark.sql(s"UPDATE $cat.ods.u SET v = v + 1000000 WHERE k % 2 = 0")
      catch { case t: Throwable => failure = t })
    writer.setDaemon(true)
    try {
      writer.start()
      assert(retiring.await(120, TimeUnit.SECONDS),
        "the UPDATE never started its retire")
      // the retire is under way: one superseded file is gone, the
      // others are still in the live directory, the lock is held
      assert(fs.exists(GraftCommitLock.lockPath(tableDir)))
      val mid = spark.table(s"$cat.ods.u")
        .agg(count(lit(1)), sum(col("v"))).head
      assert(mid.getLong(0) == 100L,
        s"mid-retire reader saw ${mid.getLong(0)} rows")
      assert(mid.getLong(1) == preSum + 50L * 1000000L,
        "mid-retire reader must serve the committed UPDATE exactly")
    } finally {
      release.countDown()
      GraftRetired.onFileRetired = _ => ()
      writer.join(120000L)
    }
    assert(failure == null, s"the UPDATE failed: $failure")
    val post = spark.table(s"$cat.ods.u")
      .agg(count(lit(1)), sum(col("v"))).head
    assert(post.getLong(0) == 100L)
    assert(post.getLong(1) == preSum + 50L * 1000000L)
  }
}
