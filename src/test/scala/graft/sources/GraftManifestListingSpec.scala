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

  test("an UPDATE whose record failed, then a path append: no row is served twice") {
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
    // a Spark path write into the table directory is claimed: its one
    // row serves once, and the failed UPDATE's generation never does
    import spark.implicits._
    Seq((1000L, 7L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$local/ods/u")
    assert(sumV(cat, "u") == ((pre._1 + 1, pre._2 + 7)))
    // a commit that crashes before its record leaves files behind; a
    // path write after it is not claimed, because the unrecorded files
    // then come from two writers
    val old = GraftPartitionedCow.onBetweenPublishAndRetire
    GraftPartitionedCow.onBetweenPublishAndRetire = dir =>
      if (dir.endsWith("/ods/u")) throw new IllegalStateException("crash")
    try intercept[Exception](
      spark.sql(s"INSERT INTO $cat.ods.u SELECT id, 1 FROM range(0, 100)"))
    finally GraftPartitionedCow.onBetweenPublishAndRetire = old
    Seq((2000L, 9L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$local/ods/u")
    assert(sumV(cat, "u") == ((pre._1 + 1, pre._2 + 7)))
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
}
