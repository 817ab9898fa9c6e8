package graft

import graft.runtime.{Catalog, MergeStats}

/** Row-level MERGE semantics: upsert + delete, partition-scoped
  * rewrites, stat accounting.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(cat: Catalog): Set[(Long, String, Long)] =
    cat.read("ods", "t").select("id", "d", "v")
      .as[(Long, String, Long)].collect().toSet

  test("merge upserts, deletes, and reports stats") {
    val cat = Catalog(spark, tmpDir("merge-wh"))
    cat.createOrReplace(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("id", "d", "v"),
      "ods", "t")
    val updates = Seq(
      (2L, "a", 21L, false), // update
      (4L, "b", 40L, false), // insert
      (3L, "b", 0L, true),   // delete
      (9L, "c", 0L, true))   // delete of a missing key: no-op
      .toDF("id", "d", "v", "is_deleted")
    val stats = cat.merge(updates, "ods", "t",
      keyCols = Seq("id"), deleteCol = Some("is_deleted"))
    assert(stats == MergeStats(inserted = 1, updated = 1, deleted = 1))
    assert(rows(cat) == Set((1L, "a", 10L), (2L, "a", 21L), (4L, "b", 40L)))
  }

  test("partitioned merge rewrites only the touched partitions") {
    val cat = Catalog(spark, tmpDir("merge-part"))
    cat.overwritePartitionsByName(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "d", "v"),
      "ods", "t", Seq("d"))
    val before = new java.io.File(cat.path("ods", "t"), "d=c")
      .listFiles().map(_.getName).toSet
    cat.merge(Seq((1L, "a", 11L, false)).toDF("id", "d", "v", "is_deleted"),
      "ods", "t", keyCols = Seq("id"), partitionCols = Seq("d"),
      deleteCol = Some("is_deleted"))
    // untouched partition's files are byte-identical (never rewritten)
    val after = new java.io.File(cat.path("ods", "t"), "d=c")
      .listFiles().map(_.getName).toSet
    assert(after == before)
    assert(rows(cat) == Set((1L, "a", 11L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("deleting every row of a touched partition removes its directory") {
    val cat = Catalog(spark, tmpDir("merge-empty-part"))
    cat.overwritePartitionsByName(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "d", "v"),
      "ods", "t", Seq("d"))
    cat.merge(Seq((1L, "a", 0L, true)).toDF("id", "d", "v", "is_deleted"),
      "ods", "t", keyCols = Seq("id"), partitionCols = Seq("d"),
      deleteCol = Some("is_deleted"))
    // the emptied d=a partition must not resurrect its old file
    assert(rows(cat) == Set((2L, "b", 20L)))
    assert(!new java.io.File(cat.path("ods", "t"), "d=a").exists())
  }

  test("a NULL delete flag means upsert, not silent delete") {
    val cat = Catalog(spark, tmpDir("merge-null-flag"))
    cat.createOrReplace(Seq((1L, "a", 1L)).toDF("id", "d", "v"), "ods", "t")
    val updates = Seq((1L, "a", 2L, Option.empty[Boolean]))
      .toDF("id", "d", "v", "is_deleted")
    val stats = cat.merge(updates, "ods", "t",
      keyCols = Seq("id"), deleteCol = Some("is_deleted"))
    assert(stats == MergeStats(inserted = 0, updated = 1, deleted = 0))
    assert(rows(cat) == Set((1L, "a", 2L)))
  }

  test("duplicate update keys are rejected") {
    val cat = Catalog(spark, tmpDir("merge-dup"))
    cat.createOrReplace(Seq((1L, "a", 1L)).toDF("id", "d", "v"), "ods", "t")
    intercept[IllegalArgumentException] {
      cat.merge(
        Seq((1L, "a", 2L, false), (1L, "a", 3L, false))
          .toDF("id", "d", "v", "is_deleted"),
        "ods", "t", keyCols = Seq("id"), deleteCol = Some("is_deleted"))
    }
  }

  test("merge without deleteCol is pure upsert") {
    val cat = Catalog(spark, tmpDir("merge-upsert"))
    cat.createOrReplace(Seq((1L, "a", 1L)).toDF("id", "d", "v"), "ods", "t")
    val stats = cat.merge(Seq((1L, "a", 2L), (2L, "a", 3L)).toDF("id", "d", "v"),
      "ods", "t", keyCols = Seq("id"))
    assert(stats == MergeStats(inserted = 1, updated = 1, deleted = 0))
    assert(rows(cat) == Set((1L, "a", 2L), (2L, "a", 3L)))
  }
}
