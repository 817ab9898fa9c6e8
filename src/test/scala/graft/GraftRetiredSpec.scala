package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.GraftRetired

/** Reader snapshot isolation ([[graft.sources.GraftRetired]], r12
  * verdict item 2): retiring commits TOMBSTONE superseded files into
  * `<table>.__retired/<commit>/` instead of deleting them at commit,
  * and an in-flight reader that planned before the commit re-points
  * vanished splits at the tombstone — Iceberg's never-delete-at-commit
  * rule. Physical deletion is deferred to `remove_orphans`.
  * Commit-lock and optimistic-check semantics are untouched
  * (GraftCommitLockSpec runs unchanged against this retire path).
  */
class GraftRetiredSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"grt${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-rt-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def retiredCommits(root: String, rel: String): Int = {
    val fs = fsOf(root)
    val d = GraftRetired.retiredRoot(new Path(s"$root/$rel"))
    if (!fs.exists(d)) 0 else fs.listStatus(d).count(_.isDirectory)
  }

  /** Force one scan partition per data file so a mid-iteration commit
    * lands between partition jobs deterministically.
    */
  private def perFilePartitions[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
    spark.conf.set("spark.sql.files.openCostInBytes", "1048576")
    try body
    finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.set("spark.sql.files.openCostInBytes", prevCost)
    }
  }

  test("an in-flight read survives a compaction landing mid-read (files tombstoned, not deleted)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 3 " +
        s"FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    perFilePartitions {
      val df = spark.table(s"$cat.ods.t")
      assert(df.rdd.getNumPartitions >= 4, "need one partition per file")
      val it = df.toLocalIterator()
      val drained = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      // pull ONE row: the scan is planned (file paths baked into its
      // partitions) and partition 0 is consumed
      assert(it.hasNext)
      val r0 = it.next(); drained += ((r0.getLong(0), r0.getLong(1)))
      // a compaction lands NOW: every planned file is superseded and
      // leaves the live directory
      spark.sql(s"CALL $cat.system.compact(table => 'ods.t')")
      assert(retiredCommits(root, "ods/t") > 0,
        "compaction deleted the superseded generation instead of tombstoning")
      // the remaining partitions open their (vanished) planned files
      // AFTER the commit — the fallback must complete the read against
      // the pre-commit snapshot
      while (it.hasNext) {
        val r = it.next(); drained += ((r.getLong(0), r.getLong(1)))
      }
      assert(drained.size == 4000, s"in-flight read lost rows: ${drained.size}")
      assert(drained.toSet == (0L until 4000L).map(k => (k, k * 3)).toSet)
    }
    // fresh reads see the compacted table, same content
    assert(spark.table(s"$cat.ods.t").count() == 4000)
  }

  test("an in-flight read returns the PRE-COMMIT snapshot when a COW DELETE lands mid-read") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id " +
        s"FROM range(${s * 500}, ${(s + 1) * 500})")
    }
    perFilePartitions {
      val it = spark.table(s"$cat.ods.t").toLocalIterator()
      val drained = scala.collection.mutable.ArrayBuffer.empty[Long]
      assert(it.hasNext)
      drained += it.next().getLong(0)
      // a content-CHANGING commit mid-read: COW rewrite retires every
      // touched file and writes survivors to fresh names
      spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 2 = 0")
      while (it.hasNext) drained += it.next().getLong(0)
      // the in-flight read completed against its planned snapshot:
      // the deleted rows ARE present (pre-commit state), none missing
      assert(drained.size == 2000,
        s"expected the 2000-row pre-commit snapshot, got ${drained.size}")
      assert(drained.toSet == (0L until 2000L).toSet)
    }
    // a fresh read sees the post-commit state
    assert(spark.table(s"$cat.ods.t").count() == 1000)
    assert(spark.table(s"$cat.ods.t").where(col("k") % 2 === 0).count() == 0)
  }

  test("remove_orphans GCs tombstones after the grace window; fresh tombstones survive") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(1000, 2000)")
    spark.sql(s"CALL $cat.system.compact(table => 'ods.t')")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 5 = 1")
    assert(retiredCommits(root, "ods/t") >= 2)

    // inside the grace window: tombstones are retained
    spark.sql(s"CALL $cat.system.remove_orphans(table => 'ods.t', " +
      "older_than_ms => 3600000)")
    assert(retiredCommits(root, "ods/t") >= 2,
      "remove_orphans deleted tombstones inside the grace window")

    // past the grace window: physically reclaimed, root pruned
    val res = spark.sql(s"CALL $cat.system.remove_orphans(" +
      "table => 'ods.t', older_than_ms => 0)").head
    assert(res.getInt(0) > 0, "expired tombstone files not counted")
    assert(retiredCommits(root, "ods/t") == 0)
    assert(!fsOf(root).exists(
      GraftRetired.retiredRoot(new Path(s"$root/ods/t"))),
      "empty tombstone root left behind")
    // live reads unaffected
    assert(spark.table(s"$cat.ods.t").count() == 1600)
  }

  test("TRUNCATE and partition-drop DELETE tombstone instead of deleting (ADVICE r13)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.p SELECT id, id, concat('p', id % 4) " +
      "FROM range(0, 400)")
    // partition-drop DELETE mid-read: the in-flight reader keeps its
    // planned snapshot (the dropped directory is tombstoned with its
    // relative layout preserved, so splits re-resolve)
    perFilePartitions {
      val it = spark.table(s"$cat.ods.p").toLocalIterator()
      assert(it.hasNext); it.next()
      spark.sql(s"DELETE FROM $cat.ods.p WHERE g = 'p1'")
      var rows = 1
      while (it.hasNext) { it.next(); rows += 1 }
      assert(rows == 400,
        s"in-flight read across a partition-drop DELETE broke: $rows of 400")
    }
    assert(retiredCommits(root, "ods/p") > 0,
      "partition-drop DELETE deleted instead of tombstoning")
    assert(spark.table(s"$cat.ods.p").count() == 300)
    assert(spark.table(s"$cat.ods.p").where(col("g") === "p1").count() == 0)

    // TRUNCATE mid-read: same contract over the whole table
    val beforeCommits = retiredCommits(root, "ods/p")
    perFilePartitions {
      val it = spark.table(s"$cat.ods.p").toLocalIterator()
      assert(it.hasNext); it.next()
      spark.sql(s"TRUNCATE TABLE $cat.ods.p")
      var rows = 1
      while (it.hasNext) { it.next(); rows += 1 }
      assert(rows == 300,
        s"in-flight read across a TRUNCATE broke: $rows of 300")
    }
    assert(retiredCommits(root, "ods/p") > beforeCommits,
      "TRUNCATE deleted instead of tombstoning")
    assert(spark.table(s"$cat.ods.p").count() == 0)
    // the tombstones are GC-able like any other retiring commit's
    spark.sql(s"CALL $cat.system.remove_orphans(table => 'ods.p', " +
      "older_than_ms => 0)")
    assert(retiredCommits(root, "ods/p") == 0)
  }

  test("retired.expire_ms: tombstones expire under policy at later commits (r13 item 1)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id FROM range(0, 100)")
    // policy with a generous window: retiring commits GC nothing yet
    spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES (" +
      "'retired.expire_ms' = '3600000')")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 2 = 0") // COW: retires
    assert(retiredCommits(root, "ods/t") > 0,
      "no tombstones created by the COW delete")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 1 WHERE k = 1")
    assert(retiredCommits(root, "ods/t") >= 2,
      "inside the grace window the policy must retain tombstones")
    // shrink the window to zero: the NEXT retiring commit expires
    // everything older than it (no manual remove_orphans involved)
    spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES (" +
      "'retired.expire_ms' = '0')")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 1 WHERE k = 3")
    // the two pre-existing commits are strictly older than the cutoff
    // and MUST die; the policy commit's own tombstone may land in the
    // cutoff's same millisecond, so 0 or 1 remain
    assert(retiredCommits(root, "ods/t") <= 1,
      "expired tombstones survived the policy commit")
    assert(spark.table(s"$cat.ods.t").count() == 50)
    // UNSET returns the table to manual remove_orphans maintenance
    spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES (" +
      "'retired.expire_ms')")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 1 WHERE k = 5")
    assert(retiredCommits(root, "ods/t") > 0,
      "tombstones GC'd with no policy set")
  }

  test("dynamic partition overwrite tombstones the replaced partition generation") {
    val (cat, root) = freshCatalog()
    val eng = graft.runtime.Catalog(spark, root)
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.p SELECT id, id, concat('p', id % 2) " +
      "FROM range(0, 100)")
    perFilePartitions {
      val it = spark.table(s"$cat.ods.p").toLocalIterator()
      assert(it.hasNext); it.next()
      eng.overwritePartitionsByName(
        Seq((7L, 700L, "p0"), (9L, 900L, "p0")).toDF("k", "v", "g"),
        "ods", "p", Seq("g"))
      var rows = 1
      while (it.hasNext) { it.next(); rows += 1 }
      assert(rows == 100, s"in-flight read of the overwritten partition " +
        s"broke: $rows of 100 rows")
    }
    assert(retiredCommits(root, "ods/p") > 0)
    assert(spark.table(s"$cat.ods.p").where(col("g") === "p0").count() == 2)
  }

  test("a partitioned merge that empties a partition tombstones its files") {
    val (cat, root) = freshCatalog()
    val eng = graft.runtime.Catalog(spark, root)
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, v BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.p SELECT id, id, concat('p', id % 2) " +
      "FROM range(0, 100)")
    perFilePartitions {
      val it = spark.table(s"$cat.ods.p").toLocalIterator()
      assert(it.hasNext); it.next()
      // delete every row of g=p0
      eng.merge(
        spark.range(0, 100, 2).select(col("id").as("k"), col("id").as("v"),
          lit("p0").as("g"), lit(true).as("del")),
        "ods", "p", keyCols = Seq("k"), partitionCols = Seq("g"),
        deleteCol = Some("del"))
      var rows = 1
      while (it.hasNext) { it.next(); rows += 1 }
      assert(rows == 100, s"in-flight read of the emptied partition " +
        s"broke: $rows of 100 rows")
    }
    assert(retiredCommits(root, "ods/p") > 0)
    assert(!fsOf(root).exists(new Path(s"$root/ods/p/g=p0")))
    assert(spark.table(s"$cat.ods.p").count() == 50)
  }
}
