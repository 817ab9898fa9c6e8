package graft

import graft.runtime.Catalog
import org.apache.spark.sql.functions.{col, udf}

/** S6 is the riskiest semantic (SURVEY §7.4/§7.5): dynamic partition
  * overwrite must replace exactly the partitions present in the incoming
  * DataFrame and preserve all others, including re-runs and out-of-order
  * dates.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def readAll(cat: Catalog): Set[(String, Long)] =
    cat.read("ods", "t").select("d", "v").as[(String, Long)].collect().toSet

  test("overwritePartitions replaces only touched partitions") {
    val cat = Catalog(spark, tmpDir("cat"))
    cat.overwritePartitionsByName(
      Seq(("2020-01-22", 1L), ("2020-01-23", 2L)).toDF("d", "v"),
      "ods", "t", Seq("d"))
    // re-run day 23 with a new value; day 22 must survive
    cat.overwritePartitionsByName(
      Seq(("2020-01-23", 20L)).toDF("d", "v"), "ods", "t", Seq("d"))
    assert(readAll(cat) == Set(("2020-01-22", 1L), ("2020-01-23", 20L)))
  }

  test("out-of-order date backfill preserves later partitions") {
    val cat = Catalog(spark, tmpDir("cat"))
    cat.overwritePartitionsByName(Seq(("2020-01-25", 5L)).toDF("d", "v"), "ods", "t", Seq("d"))
    cat.overwritePartitionsByName(Seq(("2020-01-22", 1L)).toDF("d", "v"), "ods", "t", Seq("d"))
    assert(readAll(cat) == Set(("2020-01-22", 1L), ("2020-01-25", 5L)))
  }

  test("re-running the same partition twice is idempotent") {
    val cat = Catalog(spark, tmpDir("cat"))
    val df = Seq(("2020-01-22", 7L)).toDF("d", "v")
    cat.overwritePartitionsByName(df, "ods", "t", Seq("d"))
    cat.overwritePartitionsByName(df, "ods", "t", Seq("d"))
    assert(readAll(cat) == Set(("2020-01-22", 7L)))
  }

  test("a crash mid-overwrite leaves every old partition complete") {
    val cat = Catalog(spark, tmpDir("cat"))
    cat.overwritePartitionsByName(
      Seq(("2020-01-22", 1L), ("2020-01-22", 2L), ("2020-01-23", 3L))
        .toDF("d", "v"),
      "ods", "t", Seq("d"))
    // the update evaluates lazily INSIDE the publish's write phase and
    // throws partway through — after some rows/files are already
    // written. An in-place dynamic overwrite could leave a
    // half-replaced date; the staged-invisible commit must keep the
    // live table byte-identical.
    val boom = udf { v: Long =>
      if (v >= 10L) throw new RuntimeException("injected mid-write failure")
      v
    }
    val bad = Seq(("2020-01-22", 8L), ("2020-01-22", 9L), ("2020-01-22", 10L))
      .toDF("d", "v")
      .repartition(1)
      .select(col("d"), boom(col("v")).as("v"))
    intercept[org.apache.spark.SparkException] {
      cat.overwritePartitionsByName(bad, "ods", "t", Seq("d"))
    }
    // both rows of the touched partition AND the untouched partition
    // survive — no partial publish is visible
    assert(readAll(cat) ==
      Set(("2020-01-22", 1L), ("2020-01-22", 2L), ("2020-01-23", 3L)))
    // a later successful publish converges normally
    cat.overwritePartitionsByName(
      Seq(("2020-01-22", 42L)).toDF("d", "v"), "ods", "t", Seq("d"))
    assert(readAll(cat) == Set(("2020-01-22", 42L), ("2020-01-23", 3L)))
    // a full replace whose write fails the same way leaves the previous
    // state readable, and a clean retry goes through
    intercept[org.apache.spark.SparkException] {
      cat.createOrReplace(bad, "ods", "t", Seq("d"))
    }
    assert(readAll(cat) == Set(("2020-01-22", 42L), ("2020-01-23", 3L)))
    cat.createOrReplace(Seq(("2020-01-24", 7L)).toDF("d", "v"), "ods", "t",
      Seq("d"))
    assert(readAll(cat) == Set(("2020-01-24", 7L)))
  }

  private def readAll2(cat: Catalog, layer: String, table: String): Set[(String, Long)] =
    cat.read(layer, table).select("k", "v").as[(String, Long)].collect().toSet

  test("versioned catalog: history, time travel, retention, rollback") {
    val cat = Catalog(spark, tmpDir("vcat"), versions = 2)
    def replace(k: String, v: Long) =
      cat.createOrReplace(Seq((k, v)).toDF("k", "v"), "dds", "t")
    replace("a", 1L) // first write: nothing to archive
    assert(cat.history("dds", "t").isEmpty)
    replace("b", 2L) // retains gen1 as v1
    assert(cat.history("dds", "t") == Seq(1))
    assert(readAll2(cat, "dds", "t") == Set(("b", 2L)))
    assert(cat.readVersion("dds", "t", 1).select("k", "v")
      .as[(String, Long)].collect().toSet == Set(("a", 1L)))
    replace("c", 3L) // v2 = gen2
    replace("d", 4L) // v3 = gen3; v1 pruned (retention 2)
    assert(cat.history("dds", "t") == Seq(2, 3))
    // rollback is one more version, never a deletion: the replaced
    // live state (gen4) is archived, so rollback can be rolled back
    cat.restoreVersion("dds", "t", 2)
    assert(readAll2(cat, "dds", "t") == Set(("b", 2L)))
    assert(cat.history("dds", "t") == Seq(3, 4))
    intercept[IllegalArgumentException] {
      cat.readVersion("dds", "t", 1) // pruned
    }
  }

  test("changesBetween reads version diffs as op-tagged changes") {
    val cat = Catalog(spark, tmpDir("vcat"), versions = 3)
    cat.createOrReplace(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "dds", "t")
    cat.createOrReplace(
      Seq(("a", 1L), ("b", 20L), ("c", 3L)).toDF("k", "v"), "dds", "t")
    // v1 → live: b updated (delete+insert pair), c inserted
    val ch = cat.changesBetween("dds", "t", from = 1)
      .select($"k", $"v", $"__op").as[(String, Long, String)]
      .collect().toSet
    assert(ch == Set(
      ("b", 2L, "delete"), ("b", 20L, "insert"), ("c", 3L, "insert")))
    // identical versions diff to nothing
    cat.createOrReplace(
      Seq(("a", 1L), ("b", 20L), ("c", 3L)).toDF("k", "v"), "dds", "t")
    assert(cat.changesBetween("dds", "t", from = 2).isEmpty)
  }

  test("tableExists probe (S4)") {
    val cat = Catalog(spark, tmpDir("cat"))
    assert(!cat.tableExists("raw", "nope"))
    cat.createOrReplace(Seq(1L).toDF("x"), "raw", "yes")
    assert(cat.tableExists("raw", "yes"))
  }

  test("append accumulates; createOrReplace fully replaces (S5/S7)") {
    val cat = Catalog(spark, tmpDir("cat"))
    cat.append(Seq(("a", 1L)).toDF("k", "v"), "raw", "t", Seq("k"))
    cat.append(Seq(("a", 2L)).toDF("k", "v"), "raw", "t", Seq("k"))
    assert(cat.read("raw", "t").count() == 2)
    cat.createOrReplace(Seq(("b", 3L)).toDF("k", "v"), "raw", "t2")
    cat.createOrReplace(Seq(("c", 4L)).toDF("k", "v"), "raw", "t2")
    assert(cat.read("raw", "t2").select("k").as[String].collect().toSeq == Seq("c"))
  }

  test("a zero-row append or partition overwrite commits nothing; a zero-row replace empties the table") {
    val cat = Catalog(spark, tmpDir("cat"))
    val fs = new org.apache.hadoop.fs.Path(cat.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every entry under the table directory — data files, sidecars,
    // the journal, directories (a lock file would bump one's mtime)
    def tree(table: String): Set[(String, Long, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val here = (st.getPath.toString, st.getLen, st.getModificationTime)
          if (st.isDirectory) here +: walk(st.getPath) else Seq(here)
        }
      walk(new org.apache.hadoop.fs.Path(cat.path("ods", table))).toSet
    }
    def commits(table: String): Seq[String] =
      spark.table(s"${cat.sqlIdent("ods", table)}.commits")
        .select("commit_id", "kind").collect().map(_.toString).toSeq
    val rows = Seq(("2020-01-22", 1L), ("2020-01-23", 2L)).toDF("d", "v")
    val none = rows.filter(col("v") < 0)
    cat.appendByName(rows, "ods", "a", Seq("d"))
    cat.overwritePartitionsByName(rows, "ods", "o", Seq("d"))
    cat.createOrReplaceByName(rows, "ods", "r", Seq("d"))

    for ((table, write) <- Seq[(String, () => Unit)](
        "a" -> (() => cat.appendByName(none, "ods", "a", Seq("d"))),
        "o" -> (() => cat.overwritePartitionsByName(none, "ods", "o", Seq("d"))))) {
      val (treeBefore, commitsBefore) = (tree(table), commits(table))
      Thread.sleep(10) // a rewritten entry would show a later mtime
      write()
      assert(commits(table) == commitsBefore, table)
      assert(tree(table) == treeBefore, table)
      assert(cat.table("ods", table).count() == 2, table)
    }

    val replacesBefore = commits("r").count(_.contains("replace"))
    cat.createOrReplaceByName(none, "ods", "r", Seq("d"))
    assert(cat.table("ods", "r").count() == 0)
    assert(cat.read("ods", "r").count() == 0)
    assert(commits("r").count(_.contains("replace")) == replacesBefore + 1)
  }

  test("co-bucketed tables sort-merge join with no exchange on either side") {
    val cat = Catalog(spark, tmpDir("bucketed-wh"))
    val fact = (0L until 1000L).map(i => (i % 50, i)).toDF("k", "v")
    val dim = (0L until 50L).map(i => (i, s"name$i")).toDF("k", "name")
    cat.writeBucketed(fact, "dds", "fact_b", buckets = 8, bucketCols = Seq("k"))
    cat.writeBucketed(dim, "dds", "dim_b", buckets = 8, bucketCols = Seq("k"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevPrefer = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // the static preference is Spark's default (true) — this pin
      // only guards against a future session-level change, since the
      // test specifically asserts the SORT-MERGE no-exchange shape
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      val joined = cat.readBucketed("dds", "fact_b")
        .join(cat.readBucketed("dds", "dim_b"), Seq("k"))
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.join.preferSortMergeJoin", prevPrefer)
    }
  }
}
