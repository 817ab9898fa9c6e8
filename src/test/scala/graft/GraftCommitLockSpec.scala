package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.runtime.Catalog
import graft.sources.{GraftCommitLock, GraftPartitionedCow}

/** Concurrent-writer commit safety (r11 item 6): every publish/retire
  * critical section runs under the table's sibling commit lock
  * (`<dir>.__lock`), and the full-rewrite swaps add an optimistic
  * interference check — a racing commit makes exactly ONE writer lose,
  * and the loser fails CLEANLY with the table intact (nothing of its
  * generation published, nothing of the winner's erased).
  */
class GraftCommitLockSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"glk${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-lk-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def hasConcurrent(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[GraftCommitLock.ConcurrentCommitException]) return true
      c = c.getCause
    }
    false
  }

  /** Age a lock the way a crashed holder's really ages: the creation
    * time RECORDED INSIDE the file (the staleness clock — fs mtime is
    * untrustworthy on object stores, where rename is copy and stamps a
    * fresh mtime). Rewrites the timestamp field, keeps owner + token.
    */
  private def backdateContent(fs: org.apache.hadoop.fs.FileSystem,
      lp: Path, ageMs: Long): Unit = {
    val in = fs.open(lp)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parts = txt.split('\t')
    val out = fs.create(lp, true)
    try out.write(
      s"${parts(0)}\t${System.currentTimeMillis() - ageMs}\t${parts(2)}"
        .getBytes("UTF-8"))
    finally out.close()
  }

  test("a racing commit makes the second writer fail cleanly; table intact; retry succeeds") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, " +
      "concat('p', id % 2) FROM range(0, 100)")
    val snapshot = spark.table(s"$cat.ods.t").collect().toSet

    // simulate an in-flight commit: its lock file is held
    val dirP = new Path(s"$root/ods/t")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tok0 = GraftCommitLock.acquire(fs, dirP, "in-flight-writer")
    try {
      // a COW rewrite (UPDATE) must LOSE: clean error, nothing changed
      val e = intercept[Throwable] {
        spark.sql(s"UPDATE $cat.ods.t SET v = 0 WHERE k = 5")
      }
      assert(hasConcurrent(e),
        s"expected ConcurrentCommitException in the cause chain, got $e")
      assert(spark.table(s"$cat.ods.t").collect().toSet == snapshot,
        "the losing writer changed the table")
      // no staged residue either (abort cleaned the dot files)
      def dotFiles(p: Path): Seq[Path] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory && !st.getPath.getName.startsWith("_"))
            dotFiles(st.getPath)
          else if (st.getPath.getName.startsWith(".")) Seq(st.getPath)
          else Nil
        }
      assert(dotFiles(dirP).isEmpty, "losing writer left staged files")
    } finally GraftCommitLock.release(fs, dirP, tok0)

    // the in-flight commit finished (lock released): retry wins
    spark.sql(s"UPDATE $cat.ods.t SET v = 0 WHERE k = 5")
    assert(spark.table(s"$cat.ods.t").where(col("k") === 5)
      .head.getLong(1) == 0L)
    assert(spark.table(s"$cat.ods.t").count() == 100)
  }

  test("a crashed holder's stale lock is broken; commits proceed") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10, 'a')")
    val dirP = new Path(s"$root/ods/t")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a lock whose holder died long ago
    GraftCommitLock.acquire(fs, dirP, "crashed-writer")
    val lp = GraftCommitLock.lockPath(dirP)
    backdateContent(fs, lp, 3600 * 1000L)
    // the next commit breaks it and proceeds
    spark.sql(s"UPDATE $cat.ods.t SET v = 99 WHERE k = 1")
    assert(spark.table(s"$cat.ods.t").head.getLong(1) == 99L)
    assert(!fs.exists(lp), "lock not released after the commit")
  }

  test("staleness reads the lock's recorded time, not fs mtime (ADVICE r13: object-store rename is copy)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10)")
    val dirP = new Path(s"$root/ods/t")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lp = GraftCommitLock.lockPath(dirP)

    // 1) recorded time OLD, fs mtime FRESH (what a copy-based rename
    //    or touch leaves behind): the lock MUST still break — with
    //    mtime-based staleness it would look live forever
    GraftCommitLock.acquire(fs, dirP, "crashed-writer")
    backdateContent(fs, lp, 3600 * 1000L) // rewrite stamps a fresh mtime
    assert(fs.getFileStatus(lp).getModificationTime >
      System.currentTimeMillis() - 60 * 1000L, "precondition: fresh mtime")
    val tok = GraftCommitLock.acquire(fs, dirP, "waiter")
    GraftCommitLock.release(fs, dirP, tok)
    assert(!fs.exists(lp))

    // 2) recorded time FRESH, fs mtime OLD: the holder is LIVE — the
    //    break must refuse and the acquire report contention
    GraftCommitLock.acquire(fs, dirP, "live-writer")
    fs.setTimes(lp, System.currentTimeMillis() - 3600 * 1000L, -1)
    val e = intercept[Throwable] {
      GraftCommitLock.acquire(fs, dirP, "waiter2")
    }
    assert(hasConcurrent(e), s"expected ConcurrentCommitException, got $e")
    assert(fs.exists(lp), "a LIVE holder's lock was broken on stale mtime")
  }

  test("two waiters racing to break one stale lock: exactly one wins (ADVICE r12)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10)")
    val dirP = new Path(s"$root/ods/t")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftCommitLock.acquire(fs, dirP, "crashed-writer")
    val lp = GraftCommitLock.lockPath(dirP)
    backdateContent(fs, lp, 3600 * 1000L)
    // waiter B passes the staleness check; in that exact window waiter
    // A breaks the stale lock and acquires a FRESH one. With the old
    // delete-based break, B then deleted A's fresh lock and acquired
    // too — two committers inside the critical section. The atomic
    // rename-to-tombstone break must make B LOSE and leave A's lock
    // in place.
    var tokA: String = null
    GraftCommitLock.onBeforeBreak = () => {
      GraftCommitLock.onBeforeBreak = () => () // A breaks without reentry
      fs.delete(lp, false)
      tokA = GraftCommitLock.acquire(fs, dirP, "waiter-a")
    }
    val e = try intercept[Throwable] {
      GraftCommitLock.acquire(fs, dirP, "waiter-b")
    } finally GraftCommitLock.onBeforeBreak = () => ()
    assert(hasConcurrent(e), s"expected ConcurrentCommitException, got $e")
    assert(fs.exists(lp), "waiter A's fresh lock was destroyed by waiter B")
    val in = fs.open(lp)
    val holder = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(holder.startsWith("waiter-a"), s"unexpected lock holder: $holder")
    GraftCommitLock.release(fs, dirP, tokA)
    assert(!fs.exists(lp))
  }

  test("partition overwrite detects a merge-on-read DELETE in a touched partition (ADVICE r12)") {
    val (cat, root) = freshCatalog()
    val eng = Catalog(spark, root)
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.p SELECT id, id, concat('p', id % 2) " +
      "FROM range(0, 100)")
    val dirP = new Path(s"$root/ods/p")
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.sources.GraftDv
    // a MOR DELETE landing mid-write changes ONLY the DV sidecar — the
    // touched-partition interference filter must still catch it, or the
    // swap would resurrect the deleted rows
    GraftPartitionedCow.onBeforeOverwriteCheck = _ => {
      val dataRel = fs.listStatus(new Path(dirP, "g=p0")).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => "g=p0/" + st.getPath.getName).head
      val st = fs.getFileStatus(new Path(dirP, dataRel))
      GraftDv.write(fs, dirP,
        GraftDv.Dv(dataRel, st.getLen, st.getModificationTime, Array(0L)))
    }
    val upd0 = Seq((1L, 111L, "p0")).toDF("k", "v", "g")
    val e = try intercept[Throwable] {
      eng.overwritePartitionsByName(upd0, "ods", "p", Seq("g"))
    } finally GraftPartitionedCow.onBeforeOverwriteCheck = _ => ()
    assert(hasConcurrent(e), s"expected ConcurrentCommitException, got $e")
    // the DELETE survived: its vector is live and the row stays deleted
    assert(spark.table(s"$cat.ods.p").count() == 99,
      "the raced-in merge-on-read DELETE was erased by the overwrite")
    assert(spark.table(s"$cat.ods.p").where(col("v") === 111).count() == 0,
      "the aborted overwrite leaked rows")
  }

  test("full-rewrite swap detects a commit that landed during the rewrite (compact loses)") {
    val (cat, root) = freshCatalog()
    val eng = Catalog(spark, root)
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(100, 200)")

    // inject a racing append into the exact window between the
    // rewrite's read and its commit — the optimistic check must make
    // the COMPACTION lose, with the raced-in row surviving
    GraftPartitionedCow.onBeforeOverwriteCheck = _ =>
      journaledPathWrite(s"$root/ods/t", lockHeld = true) {
        Seq((9999L, 9999L)).toDF("k", "v").coalesce(1)
          .write.mode("append").parquet(s"$root/ods/t")
      }
    val e = try intercept[Throwable] { eng.compact("ods", "t") }
      finally GraftPartitionedCow.onBeforeOverwriteCheck = _ => ()
    assert(hasConcurrent(e), s"expected ConcurrentCommitException, got $e")
    // the winner's row is alive, nothing was lost, no staged residue
    assert(spark.table(s"$cat.ods.t").count() == 201)
    assert(spark.table(s"$cat.ods.t").where(col("k") === 9999).count() == 1)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new Path(s"$root/ods/t"))
      .exists(_.getPath.getName.startsWith(".")),
      "a staged dot-file was left in the table dir")
    // a re-run against the settled state succeeds
    eng.compact("ods", "t")
    assert(spark.table(s"$cat.ods.t").count() == 201)
  }

  test("partition overwrite detects interference in TOUCHED partitions only") {
    val (cat, root) = freshCatalog()
    val eng = Catalog(spark, root)
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.p SELECT id, id, concat('p', id % 2) " +
      "FROM range(0, 100)")

    // interference in a partition the overwrite TOUCHES: loser aborts
    GraftPartitionedCow.onBeforeOverwriteCheck = _ =>
      journaledPathWrite(s"$root/ods/p", lockHeld = true) {
        Seq((7777L, 7777L, "p0")).toDF("k", "v", "g").coalesce(1)
          .write.mode("append").partitionBy("g").parquet(s"$root/ods/p")
      }
    val upd0 = Seq((1L, 111L, "p0")).toDF("k", "v", "g")
    val e = try intercept[Throwable] {
      eng.overwritePartitionsByName(upd0, "ods", "p", Seq("g"))
    } finally GraftPartitionedCow.onBeforeOverwriteCheck = _ => ()
    assert(hasConcurrent(e), s"expected ConcurrentCommitException, got $e")
    assert(spark.table(s"$cat.ods.p").where(col("k") === 7777).count() == 1,
      "the raced-in commit was erased")
    assert(spark.table(s"$cat.ods.p").count() == 101)

    // the same race through SQL: INSERT OVERWRITE under dynamic mode
    // commits through the same write, so it loses the same way
    GraftPartitionedCow.onBeforeOverwriteCheck = _ =>
      journaledPathWrite(s"$root/ods/p", lockHeld = true) {
        Seq((7778L, 7778L, "p0")).toDF("k", "v", "g").coalesce(1)
          .write.mode("append").partitionBy("g").parquet(s"$root/ods/p")
      }
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    val eSql = try intercept[Throwable] {
      spark.sql(s"INSERT OVERWRITE $cat.ods.p VALUES (1, 111, 'p0')")
    } finally {
      GraftPartitionedCow.onBeforeOverwriteCheck = _ => ()
      prevMode match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None => spark.conf.unset(modeKey)
      }
    }
    assert(hasConcurrent(eSql), s"expected ConcurrentCommitException, got $eSql")
    assert(spark.table(s"$cat.ods.p").where(col("k") === 7778).count() == 1,
      "the raced-in commit was erased by INSERT OVERWRITE")
    assert(spark.table(s"$cat.ods.p").count() == 102)

    // interference in an UNTOUCHED partition: this overwrite proceeds
    // (its publish cannot erase the other partition's commit)
    GraftPartitionedCow.onBeforeOverwriteCheck = _ =>
      journaledPathWrite(s"$root/ods/p", lockHeld = true) {
        Seq((8888L, 8888L, "p1")).toDF("k", "v", "g").coalesce(1)
          .write.mode("append").partitionBy("g").parquet(s"$root/ods/p")
      }
    val replacement = spark.table(s"$cat.ods.p")
      .where(col("g") === "p0").withColumn("v", col("v") + 1)
    try eng.overwritePartitionsByName(replacement, "ods", "p", Seq("g"))
    finally GraftPartitionedCow.onBeforeOverwriteCheck = _ => ()
    assert(spark.table(s"$cat.ods.p").where(col("k") === 8888).count() == 1,
      "an untouched-partition commit was erased by the overwrite")
    assert(spark.table(s"$cat.ods.p").where(col("k") === 7777).count() == 1)
  }
}
