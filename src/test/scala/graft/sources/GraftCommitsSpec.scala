package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Per-commit time travel + rollback over the commit journal
  * ([[GraftCommits]], [[GraftCommitSnapshotTable]], r14 verdict item
  * 2). The proofs: every batch commit is an addressable snapshot
  * (`VERSION AS OF 'c<id>'`) reconstructed EXACTLY — including
  * instances that only survive in tombstones and deletion-vector
  * state replayed from per-commit deltas; `rollback_to_commit`
  * restores the file + DV state physically and floors the changes
  * feed; `<t>.commits` lists every commit with servability; expired
  * tombstones refuse loudly.
  */
class GraftCommitsSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gcm${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-cm-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("insert -> merge -> overwrite: every intermediate state time-travels exactly; rollback restores; commits lists all") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    // c0: append
    spark.sql(s"INSERT INTO $cat.ods.t VALUES " +
      "(1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b')")
    // c1: MERGE (matched update + insert, partitions a and b)
    spark.createDataFrame(Seq((2L, 21L, "a"), (4L, 40L, "b")))
      .toDF("k", "v", "p").createOrReplaceTempView("gcm_src")
    spark.sql(s"MERGE INTO $cat.ods.t t USING gcm_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    // c2: dynamic partition overwrite of partition a only
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(s"INSERT OVERWRITE $cat.ods.t VALUES (9, 90, 'a')")
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    def state(v: String) = rows(
      spark.sql(s"SELECT k, v FROM $cat.ods.t VERSION AS OF '$v'"))
    assert(state("c0") == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(state("c1") == Set((1L, 10L), (2L, 21L), (3L, 30L), (4L, 40L)))
    assert(state("c2") == Set((9L, 90L), (3L, 30L), (4L, 40L)))
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.t")) == state("c2"))

    // partition pruning still applies to a snapshot read (values parse
    // from the preserved relative layout)
    assert(rows(spark.sql(
      s"SELECT k, v FROM $cat.ods.t VERSION AS OF 'c1' WHERE p = 'a'")) ==
      Set((1L, 10L), (2L, 21L)))

    // rollback to c1: partition a's overwrite undone, tombstoned copies
    // restored byte-identically
    spark.sql(s"CALL $cat.system.rollback_to_commit(" +
      "table => 'ods.t', commit => 1)").collect()
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.t")) == state("c1"))
    // the rolled-BACK state stays addressable (its files are tombstoned,
    // not destroyed) — a rollback can be audited and re-rolled
    assert(state("c2") == Set((9L, 90L), (3L, 30L), (4L, 40L)))

    // commits: every commit listed, servable, rollback recorded
    val commits = spark.table(s"$cat.ods.t.commits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(7))).toSeq
    assert(commits.map(_._2) ==
      Seq("append", "rewrite", "overwrite", "rollback"),
      s"journal mismatch: $commits")
    assert(commits.forall(_._3), s"unservable commits: $commits")

    // and new DML after the rollback keeps journaling forward
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (7, 70, 'b')")
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.t")) ==
      state("c1") + ((7L, 70L)))
    assert(spark.table(s"$cat.ods.t.commits").count() == 5)
  }

  test("rollback takes the current state from the head: an unrecorded data file is neither retired nor removed") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.r (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.r VALUES (1, 10)") // c0
    spark.sql(s"INSERT INTO $cat.ods.r VALUES (2, 20)") // c1
    // a Spark path write into the table directory is no commit
    import spark.implicits._
    Seq((3L, 30L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$root/ods/r")
    val dir = new Path(s"$root/ods/r")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = GraftCommits.head(fs, dir).get.live.keySet
    val unrecorded = GraftCommits.universe(fs, dir) -- live
    assert(unrecorded.size == 1, s"unrecorded files: $unrecorded")
    spark.sql(s"CALL $cat.system.rollback_to_commit(" +
      "table => 'ods.r', commit => 0)").collect()
    val rec = GraftCommits.list(fs, dir).last
    assert(rec.kind == "rollback")
    assert(rec.removes.map(_.rel).toSet == live -- GraftCommits.list(fs, dir)
      .head.adds.toSet, s"rollback removes: ${rec.removes}")
    assert(unrecorded.forall(rel => fs.exists(new Path(dir, rel))),
      "the rollback retired a file no commit recorded")
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.r")) == Set((1L, 10L)))
  }

  test("deletion-vector state replays per commit; rollback across a mor-delete resurrects rows") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.d (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $cat.ods.d VALUES (1,1), (2,2), (3,3), (4,4)")
    spark.sql(s"DELETE FROM $cat.ods.d WHERE k = 2") // c1: dv delta
    spark.sql(s"DELETE FROM $cat.ods.d WHERE k = 4") // c2: dv delta
    def at(v: String) = rows(
      spark.sql(s"SELECT k, v FROM $cat.ods.d VERSION AS OF '$v'"))
    assert(at("c0") == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    assert(at("c1") == Set((1L, 1L), (3L, 3L), (4L, 4L)))
    assert(at("c2") == Set((1L, 1L), (3L, 3L)))

    spark.sql(s"CALL $cat.system.rollback_to_commit(" +
      "table => 'ods.d', commit => 1)").collect()
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.d")) ==
      Set((1L, 1L), (3L, 3L), (4L, 4L)),
      "rollback must resurrect the c2-deleted row via DV replay")
    // the rollback commit itself time-travels to the LIVE state: its
    // record resets dv absolutely, so c2's lingering delta on the
    // kept-live file must not hide k=4 in replay (ADVICE r15 medium)
    assert(at("c3") == Set((1L, 1L), (3L, 3L), (4L, 4L)),
      "VERSION AS OF the rollback commit diverged from the live table")
  }

  test("rollback record carries restored files' DV state: time travel at the rollback commit honors target-time deletes (ADVICE r15 medium)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.rd (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $cat.ods.rd VALUES (1,1), (2,2), (3,3)") // c0
    spark.sql(s"DELETE FROM $cat.ods.rd WHERE k = 2") // c1: dv delta
    // c2: copy-on-write rewrite retires the DV'd file (its replacement
    // has k=2 physically removed)
    spark.sql(s"UPDATE $cat.ods.rd SET v = 30 WHERE k = 3")
    def at(v: String) = rows(
      spark.sql(s"SELECT k, v FROM $cat.ods.rd VERSION AS OF '$v'"))
    assert(at("c2") == Set((1L, 1L), (3L, 30L)))
    // rollback to c1 restores the tombstoned file AND rebuilds its DV;
    // replay at the rollback commit must see BOTH (the old code's
    // re-add cleared the dv, silently serving the deleted k=2)
    spark.sql(s"CALL $cat.system.rollback_to_commit(" +
      "table => 'ods.rd', commit => 1)").collect()
    val live = rows(spark.sql(s"SELECT k, v FROM $cat.ods.rd"))
    assert(live == Set((1L, 1L), (3L, 3L)))
    assert(at("c3") == live,
      "rollback-commit snapshot served rows the target had deleted")
    assert(at("c1") == live)
  }

  test("rollback floors the changes feed: lagging consumers refuse, fresh reads serve post-rollback commits") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.f (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.f VALUES (1, 10)")
    spark.sql(s"INSERT INTO $cat.ods.f VALUES (2, 20)")
    spark.sql(s"CALL $cat.system.rollback_to_commit(" +
      "table => 'ods.f', commit => 0)").collect()
    // unbounded read serves only post-rollback commits (none yet)
    assert(spark.table(s"$cat.ods.f.changes").collect().isEmpty)
    // explicit bounds into rolled-back history refuse
    val e = intercept[Exception] {
      spark.table(s"$cat.ods.f.changes")
        .where(col("_change_epoch") <= 1).collect()
    }
    assert(e.getMessage.contains("not row-level servable"), e.getMessage)
    // post-rollback commits feed normally above the floor
    spark.sql(s"INSERT INTO $cat.ods.f VALUES (3, 30)")
    val feed = spark.table(s"$cat.ods.f.changes")
      .select(col("_change_type"), col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(feed == Seq(("insert", 3L)), s"post-rollback feed: $feed")
  }

  test("journal checkpoints fold the prefix; expiry drops pre-floor records; state, feed, assignment stay exact (r15 item 3)") {
    val (cat, root) = freshCatalog()
    val ckKey = "spark.graft.commits.checkpointInterval"
    val prev = spark.conf.getOption(ckKey)
    spark.conf.set(ckKey, "5")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.ods")
      spark.sql(s"CREATE TABLE $cat.ods.ck (k BIGINT, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.ods.ck VALUES (1, 10)") // c0
      spark.sql(s"INSERT INTO $cat.ods.ck VALUES (2, 20)") // c1
      spark.sql(s"INSERT INTO $cat.ods.ck VALUES (3, 30)") // c2
      spark.sql(s"UPDATE $cat.ods.ck SET v = 21 WHERE k = 2") // c3
      spark.sql(s"DELETE FROM $cat.ods.ck WHERE k = 3") // c4
      spark.sql(s"INSERT INTO $cat.ods.ck VALUES (4, 40)") // c5
      val dirP = new Path(s"$root/ods/ck")
      val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val jdir = new Path(dirP, "_graft_commits")
      // 6 records crossed the interval: a checkpoint folded the log
      assert(fs.listStatus(jdir).exists(_.getPath.getName.endsWith(".ck")),
        "no checkpoint written after crossing the interval")
      // time travel still exact on both sides of the checkpoint
      assert(rows(spark.sql(
        s"SELECT k, v FROM $cat.ods.ck VERSION AS OF 'c2'")) ==
        Set((1L, 10L), (2L, 20L), (3L, 30L)))
      assert(rows(spark.sql(
        s"SELECT k, v FROM $cat.ods.ck VERSION AS OF 'c4'")) ==
        Set((1L, 10L), (2L, 21L)))
      // rollback (a floor record) through the checkpointed journal
      spark.sql(s"CALL $cat.system.rollback_to_commit(" +
        "table => 'ods.ck', commit => 4)").collect() // c6: floor
      assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.ck")) ==
        Set((1L, 10L), (2L, 21L)))

      // EXPIRY: fold + drop everything at or below the floor (c6)
      val exp = spark.sql(s"CALL $cat.system.expire_versions(" +
        "table => 'ods.ck', keep => 0)").head
      assert(exp.getInt(2) == 7,
        s"expected 7 journal records expired, got ${exp.getInt(2)}")
      assert(!fs.listStatus(jdir)
        .exists(_.getPath.getName.endsWith(".rec")),
        "pre-floor records survived expiry")
      // the retention floor is visible in .commits
      val ckRows = spark.table(s"$cat.ods.ck.commits").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(ckRows == Seq((6L, "checkpoint(floor=6)")),
        s"post-expiry commits listing: $ckRows")
      // expired history refuses loudly; the checkpointed state serves
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.ods.ck VERSION AS OF 'c4'")
          .collect()
      }
      assert(e.getMessage.contains("expired"), e.getMessage)
      assert(rows(spark.sql(
        s"SELECT k, v FROM $cat.ods.ck VERSION AS OF 'c6'")) ==
        Set((1L, 10L), (2L, 21L)))
      // assignment continues monotonically and the feed serves the
      // post-floor tail on the same axis
      spark.sql(s"INSERT INTO $cat.ods.ck VALUES (7, 70)") // c7
      val feed = spark.table(s"$cat.ods.ck.changes")
        .select(col("_change_epoch"), col("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(feed == Seq((7L, 7L)), s"post-expiry feed: $feed")
      // live state is untouched throughout
      assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.ck")) ==
        Set((1L, 10L), (2L, 21L), (7L, 70L)))
      // more commits cross the interval again — a SECOND fold
      // checkpoint lands at the newest id; checkpoints are KEPT
      // (Delta-style), so a MID-HISTORY retained commit still replays
      // from the floor checkpoint below it
      (8 to 11).foreach(i =>
        spark.sql(s"INSERT INTO $cat.ods.ck VALUES ($i, ${i * 10})"))
      assert(fs.listStatus(jdir)
        .count(_.getPath.getName.endsWith(".ck")) == 2,
        "expected the floor checkpoint AND the new fold checkpoint")
      assert(rows(spark.sql(
        s"SELECT k, v FROM $cat.ods.ck VERSION AS OF 'c9'")) ==
        Set((1L, 10L), (2L, 21L), (7L, 70L), (8L, 80L), (9L, 90L)),
        "mid-history commit between the floor and fold checkpoints")
    } finally prev match {
      case Some(v) => spark.conf.set(ckKey, v)
      case None => spark.conf.unset(ckKey)
    }
  }

  test("expired tombstones refuse snapshot and rollback loudly; commits reports unservable") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.x (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.x VALUES (1, 10)")
    spark.sql(s"UPDATE $cat.ods.x SET v = 11 WHERE k = 1")
    // GC the tombstones (grace 0): c0's preimage instances are gone
    val dir = new Path(s"$root/ods/x")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftRetired.expire(fs, dir, 0L)
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ods.x VERSION AS OF 'c0'").collect()
    }
    assert(e1.getMessage.contains("no longer servable"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.rollback_to_commit(" +
        "table => 'ods.x', commit => 0)").collect()
    }
    assert(e2.getMessage.contains("expired"), e2.getMessage)
    val serv = spark.table(s"$cat.ods.x.commits").collect()
      .map(r => (r.getLong(0), r.getBoolean(7))).toMap
    assert(!serv(0L) && serv(1L), s"servability mismatch: $serv")
    // the LIVE state is untouched throughout
    assert(rows(spark.sql(s"SELECT k, v FROM $cat.ods.x")) ==
      Set((1L, 11L)))
  }
}
