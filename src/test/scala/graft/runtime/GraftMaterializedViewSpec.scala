package graft.runtime

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Materialized views over the counting-IVM tier
  * ([[GraftMaterializedViews]], r15 verdict item 8): CREATE validates
  * maintainability and builds the backing aggregate; the refresh
  * procedure folds ONLY the base table's change feed above the MV's
  * recorded position — incremental must equal recompute after
  * INSERT/UPDATE/DELETE/MERGE, dead groups must disappear, and
  * non-maintainable bodies must refuse at CREATE.
  */
class GraftMaterializedViewSpec extends SparkSpec {

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gmv${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-mv-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def rows(df: org.apache.spark.sql.DataFrame)
      : Set[(String, Long, Long)] =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("incremental refresh equals recompute across INSERT/UPDATE/DELETE; dead groups vanish; no-op and full refresh") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.bal VALUES " +
      "(1, 100, 'a'), (2, 200, 'a'), (3, 300, 'b'), (4, 400, 'c')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.mv AS " +
      s"SELECT seg, count(*) AS n, sum(cents) AS cents_sum " +
      s"FROM $cat.ods.bal GROUP BY seg")
    def mv() = rows(spark.table(s"$cat.mart.mv")
      .select(col("seg"), col("n"), col("cents_sum")))
    def recompute() = rows(spark.sql(
      s"SELECT seg, count(*) AS n, sum(cents) AS cents_sum " +
        s"FROM $cat.ods.bal GROUP BY seg"))
    assert(mv() == recompute())
    assert(mv() == Set(("a", 2L, 300L), ("b", 1L, 300L), ("c", 1L, 400L)))

    // base DML: insert + COW update pairs + a group fully deleted
    spark.sql(s"INSERT INTO $cat.ods.bal VALUES (5, 500, 'b')")
    spark.sql(s"UPDATE $cat.ods.bal SET cents = cents + 7 WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE seg = 'c'")
    val res = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mv')").head
    assert(res.getLong(0) > 0, "refresh folded nothing")
    assert(mv() == recompute(), "incremental diverged from recompute")
    assert(!mv().exists(_._1 == "c"),
      "a fully-deleted group must vanish (liveness count reached zero)")

    // a refresh with no new commits is a no-op at the same position
    val res2 = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mv')").head
    assert(res2.getLong(0) == 0L && res2.getLong(1) == res.getLong(1))

    // full recompute lands on the same state
    spark.sql(s"INSERT INTO $cat.ods.bal VALUES (6, 600, 'd')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mv', full => true)").collect()
    assert(mv() == recompute())

    // a filtered MV folds only matching change rows
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.mvf AS " +
      s"SELECT seg, count(*) AS n, sum(cents) AS cents_sum " +
      s"FROM $cat.ods.bal WHERE k % 2 = 0 GROUP BY seg")
    spark.sql(s"INSERT INTO $cat.ods.bal VALUES (7, 70, 'a'), (8, 80, 'a')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mvf')").collect()
    assert(rows(spark.table(s"$cat.mart.mvf")
        .select(col("seg"), col("n"), col("cents_sum"))) ==
      rows(spark.sql(s"SELECT seg, count(*) AS n, sum(cents) AS " +
        s"cents_sum FROM $cat.ods.bal WHERE k % 2 = 0 GROUP BY seg")))

    // aliased group key + COUNT(col): the fold reads the SOURCE column
    // from the change feed, emits the OUTPUT alias, and maintains
    // COUNT(col) as a NULL-guarded sum (not a row count)
    spark.sql(s"CREATE TABLE $cat.ods.alz (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.alz VALUES " +
      "(1, 5, 'a'), (2, NULL, 'a'), (3, 7, 'b')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.mva AS " +
      s"SELECT seg AS segment, count(*) AS n, count(cents) AS filled " +
      s"FROM $cat.ods.alz GROUP BY seg")
    spark.sql(s"INSERT INTO $cat.ods.alz VALUES (4, NULL, 'b'), (5, 9, 'b')")
    spark.sql(s"DELETE FROM $cat.ods.alz WHERE k = 2")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mva')").collect()
    assert(rows(spark.table(s"$cat.mart.mva")
        .select(col("segment"), col("n"), col("filled"))) ==
      rows(spark.sql(s"SELECT seg AS segment, count(*) AS n, " +
        s"count(cents) AS filled FROM $cat.ods.alz GROUP BY seg")))
    assert(rows(spark.table(s"$cat.mart.mva")
        .select(col("segment"), col("n"), col("filled"))) ==
      Set(("a", 1L, 1L), ("b", 3L, 2L)))

    // DROP MATERIALIZED VIEW drops the backing table
    spark.sql(s"DROP MATERIALIZED VIEW $cat.mart.mvf")
    assert(intercept[Exception](
      spark.table(s"$cat.mart.mvf").collect()).getMessage.nonEmpty)
  }

  test("a crashed refresh (pending marker) refuses the next incremental fold; full recomputes and clears it") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.b (k BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.b VALUES (1, 10, 'x'), (2, 20, 'y')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.pm AS " +
      s"SELECT s, count(*) AS n, sum(v) AS sv FROM $cat.ods.b GROUP BY s")
    spark.sql(s"INSERT INTO $cat.ods.b VALUES (3, 30, 'x')")
    // simulate the crash window: the marker exists, position not updated
    val dir = new org.apache.hadoop.fs.Path(s"$root/mart/pm")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_mv.pending"),
      true).close()
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
        "table => 'mart.pm')").collect()
    }
    assert(e.getMessage.contains("full => true"), e.getMessage)
    // full recompute recovers AND clears the marker
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.pm', full => true)").collect()
    assert(rows(spark.table(s"$cat.mart.pm")
        .select(col("s"), col("n"), col("sv"))) ==
      Set(("x", 2L, 40L), ("y", 1L, 20L)))
    // incremental refreshes work again
    spark.sql(s"INSERT INTO $cat.ods.b VALUES (4, 40, 'y')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.pm')").collect()
    assert(rows(spark.table(s"$cat.mart.pm")
        .select(col("s"), col("n"), col("sv"))) ==
      Set(("x", 2L, 40L), ("y", 2L, 60L)))
  }

  test("non-maintainable bodies refuse at CREATE; refresh on a plain table refuses") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10, 'x')")
    def refused(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains(needle),
        s"wrong refusal for [$sql]: ${e.getMessage}")
    }
    // no COUNT(*) liveness counter — COUNT(col) does not qualify (it
    // skips NULLs, so it is not a row counter)
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m1 AS " +
      s"SELECT s, sum(v) AS sv FROM $cat.ods.t GROUP BY s",
      "liveness")
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m1b AS " +
      s"SELECT s, count(v) AS n FROM $cat.ods.t GROUP BY s",
      "liveness")
    // a hidden grouping column would collapse granularity on fold
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m1c AS " +
      s"SELECT s, count(*) AS n FROM $cat.ods.t GROUP BY s, k",
      "hidden")
    // non-additive aggregate
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m2 AS " +
      s"SELECT s, count(*) AS n, avg(v) AS av FROM $cat.ods.t GROUP BY s",
      "not additive")
    // SELF-joins are out (the two sides need independent positions);
    // fact⋈dim equi-joins of two DISTINCT tables are maintainable now
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m3 AS " +
      s"SELECT a.s, count(*) AS n FROM $cat.ods.t a " +
      s"JOIN $cat.ods.t b ON a.k = b.k GROUP BY a.s",
      "self-join")
    // non-equi join conditions are out
    spark.sql(s"CREATE TABLE $cat.ods.t2 (k BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $cat.ods.t2 VALUES (1, 'p')")
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m3b AS " +
      s"SELECT a.s, count(*) AS n FROM $cat.ods.t a " +
      s"JOIN $cat.ods.t2 b ON a.k < b.k GROUP BY a.s",
      "cross-side column equality")
    // outer joins are out
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m3c AS " +
      s"SELECT a.s, count(*) AS n FROM $cat.ods.t a " +
      s"LEFT JOIN $cat.ods.t2 b ON a.k = b.k GROUP BY a.s",
      "INNER equi-joins only")
    // an outer SELECT that renames or drops the aggregate's outputs
    // must refuse at CREATE, not confuse at refresh (ADVICE r16 low):
    // the recorded keys/measures would not match the backing schema
    refused(s"CREATE MATERIALIZED VIEW $cat.mart.m3d AS " +
      s"SELECT s AS seg2, n FROM (SELECT s, count(*) AS n, " +
      s"sum(v) AS sv FROM $cat.ods.t GROUP BY s)",
      "aggregate's outputs directly")
    // refresh on a table that is not an MV
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
        "table => 'ods.t')").collect()
    }
    assert(e.getMessage.contains("not a materialized view"), e.getMessage)
  }

  test("join-body MV (fact⋈dim): incremental refresh after DML on BOTH sides equals recompute (r16 item 2)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.fact (ck BIGINT, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.ods.dim (ck BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.fact SELECT id, id * 100 " +
      "FROM range(1, 41)")
    spark.sql(s"INSERT INTO $cat.ods.dim SELECT id, " +
      "concat('s', id % 3) FROM range(1, 31)")
    val body = s"SELECT d.seg, count(*) AS n, sum(f.cents) AS cents " +
      s"FROM $cat.ods.fact f JOIN $cat.ods.dim d ON f.ck = d.ck " +
      "GROUP BY d.seg"
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.jmv AS $body")
    def mv() = rows(spark.table(s"$cat.mart.jmv")
      .select(col("seg"), col("n"), col("cents")))
    def recompute() = rows(spark.sql(body))
    assert(mv() == recompute())

    // DML on BOTH sides: fact insert + delete, dim insert + update
    spark.sql(s"INSERT INTO $cat.ods.fact VALUES (50, 5000), (28, 1)")
    spark.sql(s"DELETE FROM $cat.ods.fact WHERE ck % 7 = 0")
    spark.sql(s"INSERT INTO $cat.ods.dim VALUES (50, 's0'), (35, 's1')")
    spark.sql(s"UPDATE $cat.ods.dim SET seg = 's9' WHERE ck % 11 = 0")
    val res = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.jmv')").head
    assert(res.getLong(0) > 0, "join refresh folded nothing")
    assert(mv() == recompute(),
      "two-sided incremental fold diverged from recompute")

    // dim-side-only delta next (the fact feed is empty: the ΔF terms
    // short-circuit, only F_new⋈ΔD folds)
    spark.sql(s"DELETE FROM $cat.ods.dim WHERE seg = 's9'")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.jmv')").collect()
    assert(mv() == recompute(), "dim-only delta diverged")

    // fact-side-only delta
    spark.sql(s"UPDATE $cat.ods.fact SET cents = cents + 3 " +
      "WHERE ck % 5 = 0")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.jmv')").collect()
    assert(mv() == recompute(), "fact-only delta diverged")
  }

  test("MIN/MAX measures: inserts fold incrementally, deletes evicting an extreme rescan only the touched groups (r16 item 7)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.m (k BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.m VALUES " +
      "(1, 10, 'a'), (2, 20, 'a'), (3, 30, 'a'), (4, 5, 'b'), (5, 7, 'b')")
    val body = s"SELECT s, count(*) AS n, min(v) AS vmin, " +
      s"max(v) AS vmax, sum(v) AS vsum FROM $cat.ods.m GROUP BY s"
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.mm AS $body")
    def mv() = spark.table(s"$cat.mart.mm")
      .select(col("s"), col("n"), col("vmin"), col("vmax"), col("vsum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    def recompute() = spark.sql(body).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(mv() == recompute())

    // insert-only delta: no rescan needed, extremes fold via
    // least/greatest
    spark.sql(s"INSERT INTO $cat.ods.m VALUES (6, 1, 'a'), (7, 99, 'b')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mm')").collect()
    assert(mv() == recompute(), "insert-only extremal fold diverged")
    assert(mv().exists(t => t._1 == "a" && t._3 == 1L && t._4 == 30L))

    // DELETE the group max of 'a' (30) — 'a' must rescan; 'b'
    // untouched
    spark.sql(s"DELETE FROM $cat.ods.m WHERE k = 3")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mm')").collect()
    assert(mv() == recompute(), "max-evicting delete diverged")
    assert(mv().exists(t => t._1 == "a" && t._4 == 20L),
      s"group a's max must fall back to 20: ${mv()}")

    // delete a NON-extreme value: no invalidation, still exact
    spark.sql(s"DELETE FROM $cat.ods.m WHERE k = 2")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mm')").collect()
    assert(mv() == recompute(), "non-extreme delete diverged")

    // UPDATE that moves an extreme (delete max + insert new value)
    spark.sql(s"UPDATE $cat.ods.m SET v = 2 WHERE k = 7")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.mm')").collect()
    assert(mv() == recompute(), "extreme-moving update diverged")
    assert(mv().exists(t => t._1 == "b" && t._4 == 7L))
  }

  test("group-scoped refresh: a delta touching one group rewrites only that group's backing partition (r16 item 3)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.g (k BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.g VALUES " +
      "(1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.gp AS " +
      s"SELECT s, count(*) AS n, sum(v) AS sv FROM $cat.ods.g GROUP BY s")
    val dir = new org.apache.hadoop.fs.Path(s"$root/mart/gp")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the backing is hive-partitioned by the group key
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "s=a")),
      "backing must be partitioned by the renderable group key")
    def filesOf(part: String): Set[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, part))
        .filter(_.isFile).filterNot(_.getPath.getName.startsWith("."))
        .map(st => (st.getPath.toString, st.getModificationTime)).toSet
    val bBefore = filesOf("s=b")
    val cBefore = filesOf("s=c")
    spark.sql(s"INSERT INTO $cat.ods.g VALUES (4, 40, 'a')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.gp')").collect()
    assert(rows(spark.table(s"$cat.mart.gp")
        .select(col("s"), col("n"), col("sv"))) ==
      Set(("a", 2L, 50L), ("b", 1L, 20L), ("c", 1L, 30L)))
    assert(filesOf("s=b") == bBefore && filesOf("s=c") == cBefore,
      "a one-group delta rewrote untouched partitions — the MERGE " +
        "fold must be group-scoped")
  }

  test("edge folds: same-window insert+delete on a NEW group rescans its extremes; empty-feed commits advance join positions; a journal-less dim at CREATE round-trips") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")

    // 1 — MIN/MAX on a group ABSENT from the backing whose window
    // holds both inserts and a delete: least(null, ins) would keep the
    // since-deleted 5; the true min is 10 (review regression)
    spark.sql(s"CREATE TABLE $cat.ods.ng (k BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.ng VALUES (1, 50, 'a')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.ngm AS " +
      s"SELECT s, count(*) AS n, min(v) AS vmin FROM $cat.ods.ng GROUP BY s")
    spark.sql(s"INSERT INTO $cat.ods.ng VALUES (2, 5, 'z'), (3, 10, 'z')")
    spark.sql(s"DELETE FROM $cat.ods.ng WHERE k = 2")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.ngm')").collect()
    val z = spark.table(s"$cat.mart.ngm").where(col("s") === "z")
      .select(col("n"), col("vmin")).head
    assert(z.getLong(0) == 1L && z.getLong(1) == 10L,
      s"new-group same-window delete must rescan: got $z")

    // 2 — a dim with NO journal records at CREATE (feedId "") must
    // round-trip the sidecar and fold later dim commits
    spark.sql(s"CREATE TABLE $cat.ods.f2 (ck BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.ods.d2 (ck BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.f2 VALUES (1, 10), (2, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.j2 AS " +
      s"SELECT d.s, count(*) AS n, sum(f.v) AS sv FROM $cat.ods.f2 f " +
      s"JOIN $cat.ods.d2 d ON f.ck = d.ck GROUP BY d.s")
    spark.sql(s"INSERT INTO $cat.ods.d2 VALUES (1, 'x'), (2, 'x')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.j2')").collect()
    assert(rows(spark.table(s"$cat.mart.j2")
        .select(col("s"), col("n"), col("sv"))) == Set(("x", 2L, 30L)))

    // 3 — a commit that advances a position with ZERO feed rows (the
    // empty-union leg): refresh must advance, not crash
    val f2Dir = new org.apache.hadoop.fs.Path(s"$root/ods/f2")
    val f2Fs = f2Dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.GraftCommits.record(f2Fs, f2Dir, "delete", adds = Nil)
    val res = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.j2')").head
    assert(res.getLong(0) == 0L, s"empty-feed refresh folded ${res}")
    assert(rows(spark.table(s"$cat.mart.j2")
        .select(col("s"), col("n"), col("sv"))) == Set(("x", 2L, 30L)))
    // ... and real DML afterwards still folds from the advanced position
    spark.sql(s"INSERT INTO $cat.ods.f2 VALUES (1, 5)")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.j2')").collect()
    assert(rows(spark.table(s"$cat.mart.j2")
        .select(col("s"), col("n"), col("sv"))) == Set(("x", 3L, 35L)))

    // 4 — keyless JOIN bodies refuse at CREATE (not at first refresh)
    val e = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.kj AS " +
        s"SELECT count(*) AS n FROM $cat.ods.f2 f " +
        s"JOIN $cat.ods.d2 d ON f.ck = d.ck")
    }
    assert(e.getMessage.contains("keyless join"), e.getMessage)
  }

  test("journal-incarnation identity: a base swap (compact) refuses the incremental fold; full re-bootstraps (ADVICE r16 high)") {
    // two ways a base's recorded position stops meaning anything: a
    // compact rewrites every file under a `replace` floor (the folded
    // commits are no longer row-level history), and a drop + re-create
    // restarts the journal incarnation (ids restart at 0)
    Seq("compact", "drop + re-create").foreach { how =>
      val (cat, _) = freshCatalog()
      spark.sql(s"CREATE NAMESPACE $cat.ods")
      spark.sql(s"CREATE NAMESPACE $cat.mart")
      spark.sql(s"CREATE TABLE $cat.ods.sw (k BIGINT, v BIGINT, s STRING)")
      spark.sql(s"INSERT INTO $cat.ods.sw VALUES (1, 10, 'x'), (2, 20, 'y')")
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.swm AS " +
        s"SELECT s, count(*) AS n, sum(v) AS sv FROM $cat.ods.sw GROUP BY s")
      val why = how match {
        case "compact" =>
          spark.sql(s"CALL $cat.system.compact('ods.sw')").collect()
          "no longer row-level servable"
        case _ =>
          spark.sql(s"DROP TABLE $cat.ods.sw")
          spark.sql(s"CREATE TABLE $cat.ods.sw (k BIGINT, v BIGINT, s STRING)")
          spark.sql(s"INSERT INTO $cat.ods.sw VALUES (1, 10, 'x'), (2, 20, 'y')")
          "incarnation"
      }
      spark.sql(s"INSERT INTO $cat.ods.sw VALUES (3, 30, 'x')")
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
          "table => 'mart.swm')").collect()
      }
      assert(e.getMessage.contains("full => true") &&
        e.getMessage.contains(why), s"$how: ${e.getMessage}")
      // the re-bootstrap recovers and records the NEW position
      spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
        "table => 'mart.swm', full => true)").collect()
      assert(rows(spark.table(s"$cat.mart.swm")
          .select(col("s"), col("n"), col("sv"))) ==
        Set(("x", 2L, 40L), ("y", 1L, 20L)), how)
      spark.sql(s"INSERT INTO $cat.ods.sw VALUES (4, 40, 'y')")
      spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
        "table => 'mart.swm')").collect()
      assert(rows(spark.table(s"$cat.mart.swm")
          .select(col("s"), col("n"), col("sv"))) ==
        Set(("x", 2L, 40L), ("y", 2L, 60L)), how)
    }
  }

  test("feed-axis guard: a stream-axis base refuses CREATE and refresh (ADVICE r16 medium); sidecar survives the full-refresh swap (ADVICE r16 low)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    // a table whose ONLY journal record is a stream epoch: its
    // _change_epoch axis is the per-tag STREAM epoch, not journal ids
    spark.sql(s"CREATE TABLE $cat.ods.st (k BIGINT, v BIGINT, s STRING)")
    val stDir = new org.apache.hadoop.fs.Path(s"$root/ods/st")
    val stFs = stDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.GraftCommits.record(stFs, stDir,
      graft.sources.GraftCommits.StreamEpochKind, adds = Nil,
      note = "q:0")
    val e = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.stm AS " +
        s"SELECT s, count(*) AS n, sum(v) AS sv FROM $cat.ods.st " +
        "GROUP BY s")
    }
    assert(e.getMessage.contains("journal-axis"), e.getMessage)

    // sidecar survival: the definition lives OUTSIDE the backing dir,
    // so the full refresh's CREATE OR REPLACE swap cannot drop it
    spark.sql(s"CREATE TABLE $cat.ods.sv (k BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.ods.sv VALUES (1, 10, 'x')")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.svm AS " +
      s"SELECT s, count(*) AS n, sum(v) AS sv FROM $cat.ods.sv GROUP BY s")
    val side = new org.apache.hadoop.fs.Path(s"$root/mart/svm.__mv/_graft_mv")
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(side), "sidecar must live in the sibling .__mv dir")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.svm', full => true)").collect()
    assert(fs.exists(side), "sidecar must survive the full-refresh swap")
    spark.sql(s"INSERT INTO $cat.ods.sv VALUES (2, 20, 'x')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.svm')").collect()
    assert(rows(spark.table(s"$cat.mart.svm")
        .select(col("s"), col("n"), col("sv"))) == Set(("x", 2L, 30L)))
    // DROP MATERIALIZED VIEW removes the sidecar dir too
    spark.sql(s"DROP MATERIALIZED VIEW $cat.mart.svm")
    assert(!fs.exists(side.getParent), "DROP must remove the .__mv dir")
  }
}
