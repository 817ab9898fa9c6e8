package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.SparkSpec

/** Commit-time PREIMAGE SIDECARS for merge-on-read DML
  * ([[GraftDeltaMor]] capture + [[GraftChanges]] serving — Delta CDF's
  * `_change_data` shape): the operation's own tasks write each
  * deleted/updated row's pre-image into `<table>.__pre/<stamp>/`, the
  * journal record references the files, and the changes feed serves
  * `delete` / `update_preimage` rows from them EXACTLY instead of
  * re-reading whole data files and discarding unmatched rows.
  *
  * The sidecar is an ACCESS PATH, not the truth: the dv ordinals stay
  * authoritative, and this spec pins byte-equality of the feed between
  * the sidecar read and the ordinal fallback (sidecars deleted), plus
  * the crash/rollback windows: an orphan sidecar dir (crash before the
  * record landed) is invisible, and capture-off commits keep serving.
  */
class GraftPreimageSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gpre${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-pre-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mor(ddl: String, extra: String = ""): Unit =
    spark.sql(ddl + s" TBLPROPERTIES ('${GraftDv.ModeKey}' = " +
      s"'${GraftDv.MorValue}'$extra)")

  /** The standard scenario: load, UPDATE, DELETE, MERGE on a MOR
    * table; returns the table dir.
    */
  private def scenario(cat: String, root: String,
      partitioned: Boolean): Path = {
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    val part = if (partitioned) " PARTITIONED BY (seg)" else ""
    mor(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, seg STRING)$part")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' " +
      "END FROM range(0, 200)")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 7 WHERE k % 10 = 3")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 10 = 7")
    spark.sql(s"SELECT id AS k, id AS v, 'm' AS seg FROM range(195, 205)")
      .createOrReplaceTempView(s"src_$cat")
    spark.sql(s"MERGE INTO $cat.ods.t t USING src_$cat s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    new Path(s"$root/ods/t")
  }

  private def feedRows(cat: String): Seq[Row] =
    spark.table(s"$cat.ods.t.changes")
      .selectExpr("_change_epoch", "_change_type", "k", "v", "seg")
      .collect().toSeq
      .sortBy(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.toString).getOrElse(""),
        Option(r.get(3)).map(_.toString).getOrElse("")))

  test("capture: dv commits record sidecars; feed equals the ordinal fallback byte-for-byte") {
    for (partitioned <- Seq(false, true)) {
      val (cat, root) = freshCatalog()
      val dir = scenario(cat, root, partitioned)
      val fs = fsOf(root)
      // every dv commit (update / delete / merge) recorded sidecars
      val recs = GraftCommits.list(fs, dir).filter(_.dv.nonEmpty)
      assert(recs.length == 3, s"expected 3 dv commits, got $recs")
      recs.foreach { r =>
        assert(r.pre.nonEmpty, s"commit ${r.id} (${r.note}) captured " +
          "no preimage sidecars")
        r.pre.foreach(p => assert(
          fs.exists(new Path(GraftCommits.preRoot(dir), p)),
          s"recorded sidecar $p missing"))
      }
      val viaSidecars = feedRows(cat)
      // labels present as update pairs / plain delete
      assert(viaSidecars.exists(_.getString(1) == "update_preimage"))
      assert(viaSidecars.exists(_.getString(1) == "update_postimage"))
      assert(viaSidecars.exists(_.getString(1) == "delete"))
      // preimage VALUES are the pre-DML values: the UPDATE commit's
      // preimages carry v = 10k, its postimages v = 10k + 7
      val upd = viaSidecars.filter(r => r.getLong(0) == 2 ||
        viaSidecars.map(_.getLong(0)).min == r.getLong(0))
      assert(upd.nonEmpty)
      // ordinal fallback: drop the sidecar root — the feed must serve
      // IDENTICAL rows from the recorded dv ordinals
      assert(fs.delete(GraftCommits.preRoot(dir), true))
      val viaOrdinals = feedRows(cat)
      assert(viaSidecars == viaOrdinals,
        s"sidecar feed != ordinal feed (partitioned=$partitioned):\n" +
          s"  sidecars: ${viaSidecars.take(5)}\n" +
          s"  ordinals: ${viaOrdinals.take(5)}")
    }
  }

  test("preimage values are exact: update pairs carry old and new values keyed") {
    val (cat, root) = freshCatalog()
    scenario(cat, root, partitioned = false)
    val pairs = spark.table(s"$cat.ods.t.changes")
      .where("_change_type IN ('update_preimage', 'update_postimage')")
      .selectExpr("_change_epoch", "_change_type", "k", "v")
      .collect().toSeq
    val firstUpdate = pairs.map(_.getLong(0)).min
    val pre = pairs.filter(r => r.getLong(0) == firstUpdate &&
      r.getString(1) == "update_preimage").map(r =>
        (r.getLong(2), r.getLong(3))).toMap
    val post = pairs.filter(r => r.getLong(0) == firstUpdate &&
      r.getString(1) == "update_postimage").map(r =>
        (r.getLong(2), r.getLong(3))).toMap
    assert(pre.nonEmpty && pre.keySet == post.keySet,
      s"update pair key sets differ: ${pre.keySet} vs ${post.keySet}")
    pre.foreach { case (k, v) =>
      assert(v == k * 10, s"preimage of k=$k should be ${k * 10}, got $v")
      assert(post(k) == v + 7, s"postimage of k=$k should be ${v + 7}")
    }
  }

  test("crash window: an orphan sidecar dir (no record) is invisible; capture-off commits serve via ordinals") {
    val (cat, root) = freshCatalog()
    val dir = scenario(cat, root, partitioned = false)
    val fs = fsOf(root)
    val before = feedRows(cat)
    // crash simulation: a write that staged sidecars but never
    // journaled — an unreferenced dir under the pre root
    val orphan = new Path(GraftCommits.preRoot(dir), "999999-orphan")
    fs.mkdirs(orphan)
    fs.create(new Path(orphan, "part-bogus.parquet"), true).close()
    assert(feedRows(cat) == before, "orphan sidecar dir changed the feed")
    // capture-off commit: the record carries dv ordinals only and the
    // feed serves it from the data files, interleaved with captured
    // commits
    spark.conf.set(GraftDeltaMor.CaptureConf, "false")
    try {
      spark.sql(s"DELETE FROM $cat.ods.t WHERE k % 10 = 1")
      val recs = GraftCommits.list(fs, dir).filter(_.dv.nonEmpty)
      assert(recs.last.pre.isEmpty,
        "capture-off commit still recorded sidecars")
      val feed = feedRows(cat)
      val deleted = feed.filter(r => r.getLong(0) == recs.last.id &&
        r.getString(1) == "delete")
      assert(deleted.nonEmpty && deleted.forall(_.getLong(2) % 10 == 1),
        s"capture-off delete commit served wrong rows: $deleted")
    } finally spark.conf.unset(GraftDeltaMor.CaptureConf)
  }

  test("rollback floors the feed past captured commits (sidecars unreferenced, not misserved)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    mor(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, 'a' " +
      "FROM range(0, 100)")
    spark.sql(s"UPDATE $cat.ods.t SET v = v + 7 WHERE k % 10 = 3")
    val ex = intercept[Exception] {
      spark.sql(s"CALL $cat.system.rollback('ods.t', 1)")
      // a rollback writes a FLOOR record: explicit bounds at or below
      // it refuse; the unbounded read serves only what's above
      spark.table(s"$cat.ods.t.changes")
        .where("_change_epoch <= 1").collect()
    }
    assert(ex.getMessage != null)
  }

  test("a table column named like a preimage mirror reads its stored values") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.u (k BIGINT, note STRING, " +
      "_graft_pre_note STRING, _graft_pre_gone STRING)")
    spark.sql(s"INSERT INTO $cat.ods.u VALUES " +
      "(1, 'n1', 'stored1', 'g1'), (2, 'n2', 'stored2', 'g2')")
    def read(cols: String): Set[Row] =
      spark.sql(s"SELECT $cols FROM $cat.ods.u").collect().toSet
    // a mirror of `note` would copy note's values; `gone` has no
    // source column at all
    assert(read("k, _graft_pre_note") ==
      Set(Row(1L, "stored1"), Row(2L, "stored2")))
    assert(read("_graft_pre_note, _graft_pre_gone") ==
      Set(Row("stored1", "g1"), Row("stored2", "g2")))
    assert(read("k, note, _graft_pre_note") ==
      Set(Row(1L, "n1", "stored1"), Row(2L, "n2", "stored2")))
  }

  test("a partly deleted sidecar falls back to the exact ordinal read") {
    val (cat, root) = freshCatalog()
    val dir = scenario(cat, root, partitioned = true)
    val fs = fsOf(root)
    val expected = feedRows(cat)
    // one recorded sidecar file of the DELETE commit goes missing; its
    // stamp directory (and the commit's other sidecar files) stay
    val del = GraftCommits.list(fs, dir).filter(_.dv.nonEmpty)
      .find(_.note == "delete").getOrElse(fail("no delete commit"))
    assert(del.pre.size > 1, s"the delete recorded ${del.pre.size} sidecar")
    assert(fs.delete(new Path(GraftCommits.preRoot(dir), del.pre.head), false))
    val got = feedRows(cat)
    assert(got.filter(_.getString(1) == "delete") ==
      expected.filter(_.getString(1) == "delete"),
      "the feed lost delete rows of a partly deleted sidecar")
    assert(got == expected)
  }
}
