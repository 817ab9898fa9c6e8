package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.GraftBloom

/** Per-file Bloom-filter skipping ([[graft.sources.GraftBloom]],
  * `CALL system.analyze_bloom`): point-lookup pruning on
  * high-cardinality UNSORTED columns where min/max proves nothing.
  * The contract under test: false negatives are impossible (parity
  * always), pruning is real (scheduled-file counts match what the
  * built filters admit, and provably-pruned files are NEVER OPENED —
  * the corruption proof), and anything without a valid entry is kept
  * (fail-safe).
  */
class GraftBloomSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gbl${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-bl-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def scannedFiles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec =>
        b.partitions.flatten.map {
          case fp: FilePartition => fp.files.length
          case _ => 0
        }.sum
    }.sum

  private def plannedOf(df: DataFrame) =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec =>
        b.partitions.flatten.collect {
          case fp: FilePartition => fp.files.toSeq
        }.flatten
    }.flatten

  test("point lookup schedules exactly the admitting files; pruned files are never opened") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, tag STRING, v BIGINT)")
    // 8 inserts -> 8+ files; k is SHUFFLED across files so every
    // file's [min,max] spans the whole domain — min/max skipping is
    // provably useless and any pruning must come from the blooms
    (0 until 8).foreach { s =>
      spark.sql(s"""INSERT INTO $cat.ods.t
        SELECT (id * 37) % 8000, concat('t', (id * 37) % 8000), id
        FROM range(${s * 1000}, ${(s + 1) * 1000})""")
    }
    val unpruned = spark.table(s"$cat.ods.t").where(col("k") === 1234)
      .as[(Long, String, Long)].collect().toSet
    assert(unpruned.nonEmpty, "probe key missing — test is vacuous")
    val allFiles = scannedFiles(
      spark.table(s"$cat.ods.t").where(col("k") === 1234))
    assert(allFiles >= 8, s"expected >= 8 files before blooms, got $allFiles")

    val res = spark.sql(s"CALL $cat.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'k,tag')").head
    assert(res.getInt(0) >= 8 && res.getInt(1) == res.getInt(0) &&
      res.getInt(2) == 2)
    // INCREMENTAL: a repeat call re-reads nothing
    val again = spark.sql(s"CALL $cat.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'k,tag')").head
    assert(again.getInt(0) == 0 && again.getInt(1) == res.getInt(1),
      "repeat analyze_bloom rebuilt already-covered files")

    // deterministic expectation: consult the built filters directly
    val fs = fsOf(root)
    val dirP = new Path(s"$root/ods/t")
    val reader = new GraftBloom.ScopedReader(fs, dirP)
    val entries = reader.forFiles(plannedOf(spark.table(s"$cat.ods.t")))
    assert(entries.size >= 8, "blooms missing for some files")
    val admitting = entries.filter(
      _._2.cols("k")._2.mightContainLong(1234L))
    assert(admitting.size < entries.size,
      "every filter admits 1234 — no pruning possible, test is vacuous")

    val q = spark.table(s"$cat.ods.t").where(col("k") === 1234)
    assert(q.as[(Long, String, Long)].collect().toSet == unpruned,
      "bloom pruning changed the result")
    assert(scannedFiles(q) == admitting.size,
      "scheduled files != files whose filter admits the value")

    // zero-read proof: replace every NON-admitting file's bytes with
    // same-LENGTH garbage and restore its mtime — the entry identity
    // stays valid, so the file still prunes; if the scan ever opened
    // it, the parquet reader would explode
    entries.foreach { case (rel, fb) =>
      if (!fb.cols("k")._2.mightContainLong(1234L)) {
        val p = new Path(dirP, rel)
        val out = fs.create(p, true)
        try out.write(new Array[Byte](fb.size.toInt)) finally out.close()
        fs.setTimes(p, fb.mtime, -1)
      }
    }
    val q2 = spark.table(s"$cat.ods.t").where(col("k") === 1234)
    assert(q2.as[(Long, String, Long)].collect().toSet == unpruned,
      "a bloom-pruned file was opened (corruption surfaced) or parity broke")
  }

  test("string IN-list lookups; files written after the build are kept (fail-safe)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, tag STRING)")
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT (id * 13) % 4000, " +
        s"concat('g', (id * 13) % 4000) FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    spark.sql(s"CALL $cat.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'tag')")
    val expect = spark.table(s"$cat.ods.t")
      .where(col("tag").isin("g13", "g1math")).count()

    // append AFTER the bloom build: the new file has no entry and must
    // be kept — fail-safe, no false negative possible
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (13, 'g13')")
    val q = spark.table(s"$cat.ods.t").where(col("tag").isin("g13", "g1math"))
    assert(q.count() == expect + 1,
      "a file written after the bloom build was wrongly pruned")
    // an incremental re-analyze covers ONLY the appended file and the
    // lookup stays right
    val inc = spark.sql(s"CALL $cat.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'tag')").head
    assert(inc.getInt(0) >= 1 && inc.getInt(0) <= 2,
      s"incremental build touched ${inc.getInt(0)} files for one append")
    assert(spark.table(s"$cat.ods.t")
      .where(col("tag").isin("g13", "g1math")).count() == expect + 1)
  }

  test("auto-bloom: bloom_columns + auto_analyze keep filters fresh at every commit") {
    n += 1
    val name = s"gbla${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-bla-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.auto_analyze", "true")
    spark.sql(s"CREATE NAMESPACE $name.ods")
    spark.sql(s"CREATE TABLE $name.ods.t (k BIGINT, tag STRING) " +
      "TBLPROPERTIES ('bloom_columns' = 'k', 'bloom_fpp' = '0.005')")
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $name.ods.t SELECT (id * 37) % 4000, " +
        s"concat('t', id) FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    // NO CALL happened — the filters were maintained at commit time
    val q = spark.table(s"$name.ods.t").where(col("k") === 1234)
    val expect = (0L until 4000L).map(_ * 37 % 4000).count(_ == 1234)
    assert(q.count() == expect)
    val total = scannedFiles(spark.table(s"$name.ods.t"))
    val pruned = scannedFiles(q)
    assert(pruned < total,
      s"write-time blooms did not prune ($pruned of $total files)")
    // property surface: unknown key refused, bad fpp refused
    val e = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $name.ods.t SET TBLPROPERTIES " +
        "('bloom_fpp' = '7')")
    }
    assert(e.getMessage.contains("bloom_fpp"))
  }

  test("writer-side bloom maintenance: commits publish filters with ZERO data re-read (r13 item 5)") {
    n += 1
    val name = s"gblw${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-blw-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.auto_analyze", "true")
    spark.sql(s"CREATE NAMESPACE $name.ods")
    // bucketed table = the v2 hive-layout write path whose task writers
    // accumulate filters as rows stream through
    spark.sql(s"CREATE TABLE $name.ods.t (k BIGINT, tag STRING) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('bloom_columns' = 'k')")
    val readsBefore = GraftBloom.buildReads.sum()
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $name.ods.t SELECT (id * 37) % 4000, " +
        s"concat('t', id) FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    assert(GraftBloom.buildReads.sum() == readsBefore,
      "auto-bloom re-read data files at commit despite writer-shipped filters")
    // the writer-published filters prune and parity holds
    val q = spark.table(s"$name.ods.t").where(col("k") === 1234)
    val expect = (0L until 4000L).map(_ * 37 % 4000).count(_ == 1234)
    assert(q.count() == expect)
    val total = scannedFiles(spark.table(s"$name.ods.t"))
    val pruned = scannedFiles(spark.table(s"$name.ods.t")
      .where(col("k") === 1234))
    assert(pruned < total,
      s"writer-shipped blooms did not prune ($pruned of $total files)")

    // corruption proof on the JUST-WRITTEN files: replace every data
    // file with same-length garbage (identity preserved), then run the
    // maintenance CALL — covered by the shipped filters, it must open
    // NOTHING, rebuild NOTHING, and planning must keep pruning
    val fs = fsOf(root)
    val dirP = new Path(s"$root/ods/t")
    fs.listStatus(dirP).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")).foreach { st =>
      val len = st.getLen
      val mtime = st.getModificationTime
      val out = fs.create(st.getPath, true)
      try out.write(Array.fill(len.toInt)('x'.toByte)) finally out.close()
      fs.setTimes(st.getPath, mtime, -1)
    }
    val r = spark.sql(s"CALL $name.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'k')").head
    assert(r.getInt(0) == 0,
      s"analyze rebuilt ${r.getInt(0)} files — writer publishing failed")
    assert(GraftBloom.buildReads.sum() == readsBefore,
      "analyze opened a just-written (corrupted) data file")
    assert(scannedFiles(spark.table(s"$name.ods.t")
      .where(col("k") === 1234)) == pruned)
  }

  test("writer-shipped filters match the re-read path's (identity, columns, admits)") {
    n += 1
    val name = s"gble${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-ble-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.auto_analyze", "true")
    spark.sql(s"CREATE NAMESPACE $name.ods")
    spark.sql(s"CREATE TABLE $name.ods.t (k BIGINT, tag STRING) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('bloom_columns' = 'k', 'bloom_fpp' = '0.01')")
    (0 until 3).foreach { s =>
      spark.sql(s"INSERT INTO $name.ods.t SELECT (id * 13) % 3000, " +
        s"concat('t', id) FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    val fs = fsOf(root)
    val dirP = new Path(s"$root/ods/t")
    def entries(): Map[String, GraftBloom.FileBlooms] =
      new GraftBloom.ScopedReader(fs, dirP)
        .forFiles(plannedOf(spark.table(s"$name.ods.t")))
    val writerSide = entries()
    assert(writerSide.nonEmpty, "no writer-published entries")

    // force the RE-READ path to rebuild from the data itself
    fs.delete(new Path(dirP, GraftBloom.ShardDirName), true)
    spark.sql(s"CALL $name.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'k')")
    val rereadSide = entries()

    assert(writerSide.keySet == rereadSide.keySet,
      "writer and re-read paths cover different file sets")
    writerSide.foreach { case (rel, w) =>
      val r = rereadSide(rel)
      assert(w.size == r.size && w.mtime == r.mtime,
        s"identity mismatch for $rel")
      assert(w.cols.keySet == r.cols.keySet && w.cols.keySet == Set("k"),
        s"column mismatch for $rel")
      // every key actually IN the file is admitted by BOTH filters (the
      // no-false-negative contract both paths must honor identically)
      val keys = spark.read.parquet(s"$root/ods/t/$rel")
        .select("k").collect().map(_.getLong(0)).distinct
      assert(keys.nonEmpty)
      keys.foreach { key =>
        assert(w.cols("k")._2.mightContainLong(key),
          s"writer filter lost key $key of $rel (false negative)")
        assert(r.cols("k")._2.mightContainLong(key),
          s"re-read filter lost key $key of $rel (false negative)")
      }
    }
    // both states prune a point lookup to the same admitting files
    assert(spark.table(s"$name.ods.t").where(col("k") === 26).count() ==
      (0L until 3000L).map(_ * 13 % 3000).count(_ == 26) * 1L)
  }

  test("column-incremental: analyzing a second column keeps the first column's filters") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, tag STRING)")
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT (id * 37) % 4000, " +
        s"concat('t', (id * 37) % 4000) FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
      "columns => 'k')")
    val kPruned = scannedFiles(
      spark.table(s"$cat.ods.t").where(col("k") === 1234))
    assert(kPruned < scannedFiles(spark.table(s"$cat.ods.t")))

    // second analyze names a DIFFERENT column: every file rebuilds for
    // tag, but the k filters must MERGE into the entries, not vanish
    spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
      "columns => 'tag')")
    val entries = new GraftBloom.ScopedReader(fsOf(root),
      new Path(s"$root/ods/t"))
      .forFiles(plannedOf(spark.table(s"$cat.ods.t")))
    assert(entries.values.forall(fb =>
      fb.cols.contains("k") && fb.cols.contains("tag")),
      "the second analyze dropped the first column's filters")
    assert(scannedFiles(
      spark.table(s"$cat.ods.t").where(col("k") === 1234)) == kPruned,
      "k-lookup pruning regressed after analyzing tag")
  }

  test("zero-row data files get entries and coverage converges (ADVICE r12)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, tag STRING)")
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT (id * 37) % 4000, " +
        s"concat('t', (id * 37) % 4000) FROM range(${s * 1000}, ${(s + 1) * 1000})")
    }
    // an EMPTY parquet file (an external writer's empty task output):
    // it produces no rows in the build pass, so it used to land in
    // neither `valid` nor `built` — its entry was dropped every
    // analyze, coverage never converged, and it was re-read forever
    journaledPathWrite(s"$root/ods/t") {
      spark.range(0).selectExpr("id AS k", "CAST(NULL AS STRING) AS tag")
        .coalesce(1).write.mode("append").parquet(s"$root/ods/t")
    }
    val totalFiles = scannedFiles(spark.table(s"$cat.ods.t"))
    assert(totalFiles >= 5)

    val r1 = spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
      "columns => 'k')").head
    assert(r1.getInt(1) == totalFiles,
      s"first analyze covered ${r1.getInt(1)} of $totalFiles files " +
        "(the zero-row file got no entry)")
    // convergence: a second analyze must build NOTHING
    val r2 = spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
      "columns => 'k')").head
    assert(r2.getInt(0) == 0,
      s"second analyze rebuilt ${r2.getInt(0)} files — coverage did not converge")
    assert(r2.getInt(1) == totalFiles)
    // the empty file's trivially-empty filter admits nothing: a point
    // lookup skips it (and parity holds, trivially — it has no rows)
    assert(scannedFiles(
      spark.table(s"$cat.ods.t").where(col("k") === 1234)) < totalFiles)
    assert(spark.table(s"$cat.ods.t").where(col("k") === 1234).count() ==
      spark.read.parquet(s"$root/ods/t").where(col("k") === 1234).count())
  }

  test("refusals: partition columns, unsupported types, bad fpp") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, x DOUBLE, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 0.5, " +
      "concat('p', id % 2) FROM range(0, 10)")
    val e1 = intercept[Throwable] {
      spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
        "columns => 'g')")
    }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[Throwable] {
      spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
        "columns => 'x')")
    }
    assert(e2.getMessage.contains("unsupported"))
    val e3 = intercept[Throwable] {
      spark.sql(s"CALL $cat.system.analyze_bloom(table => 'ods.t', " +
        "columns => 'k', fpp => 3.0)")
    }
    assert(e3.getMessage.contains("fpp"))
  }

  test("bucketed composition: bloom prunes files inside surviving bucket groups") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, u BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // several appends -> several files per bucket; u is the
    // high-cardinality non-bucket lookup column
    (0 until 4).foreach { s =>
      spark.sql(s"INSERT INTO $cat.ods.t SELECT id % 100, id * 31 " +
        s"FROM range(${s * 500}, ${(s + 1) * 500})")
    }
    spark.sql(s"CALL $cat.system.analyze_bloom(" +
      "table => 'ods.t', columns => 'u')")
    val probe = 31L * 777
    val q = spark.table(s"$cat.ods.t").where(col("u") === probe)
    assert(q.as[(Long, Long)].collect().toSet == Set((777L % 100, probe)))
    // pruning evidence: fewer files scheduled than exist
    val total = scannedFiles(spark.table(s"$cat.ods.t"))
    val pruned = scannedFiles(q)
    assert(pruned < total,
      s"bloom did not prune inside bucket groups ($pruned vs $total)")
  }
}
