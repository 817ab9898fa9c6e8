package graft

import org.apache.spark.sql.functions._
import graft.runtime.Catalog

/** Storage-maintenance semantics: small-files compaction and
  * schema-evolution reads.
  */
class CatalogMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("compact collapses many small files into few, preserving rows") {
    val cat = Catalog(spark, tmpDir("compact-wh"))
    val df = (0L until 10000L).toDF("id").repartition(40)
    cat.createOrReplace(df, "raw", "t")
    assert(parquetFiles(cat.path("raw", "t")).size >= 40)
    val written = cat.compact("raw", "t")
    assert(written == 1) // 10k longs are far under one target file
    assert(parquetFiles(cat.path("raw", "t")).size == 1)
    assert(cat.read("raw", "t").as[Long].collect().toSet ==
      (0L until 10000L).toSet)
  }

  test("compact keeps hive partition layout when partition cols are given") {
    val cat = Catalog(spark, tmpDir("compact-part"))
    val df = (0L until 1000L).map(i => (s"d${i % 3}", i)).toDF("d", "v")
      .repartition(20)
    cat.append(df, "ods", "t", Seq("d"))
    cat.compact("ods", "t", partitionCols = Seq("d"))
    val back = cat.read("ods", "t")
    // partition column survives as a hive directory (still readable +
    // prunable), and every row is intact
    assert(back.select("d").distinct().as[String].collect().toSet ==
      Set("d0", "d1", "d2"))
    assert(back.select("v").as[Long].collect().toSet == (0L until 1000L).toSet)
  }

  test("compactByName preserves bucket tags: streamed epochs collapse, join stays exchange-free (r10 item 3)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("compact-bucketed")
    val cat = Catalog(spark, root)
    val name = cat.sqlName
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.dds")
    spark.sql(s"CREATE TABLE $name.dds.sfacts (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $name.dds.sdims (k BIGINT, tag STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $name.dds.sdims " +
      "SELECT id, concat('t', id % 5) FROM range(0, 120)")
    // 5 streamed epochs accrete one file per bucket per epoch
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmpDir("compact-bucketed-cp"))
      .toTable(s"$name.dds.sfacts")
    (0 until 5).foreach { e =>
      mem.addData((0L until 24L).map(i => (e * 24L + i, e * 1000L + i)): _*)
      q.processAllAvailable()
    }
    q.stop()
    val before = parquetFiles(s"$root/dds/sfacts").size
    assert(before >= 10, s"expected epoch accretion, got $before files")
    cat.compactByName("dds", "sfacts")
    val files = parquetFiles(s"$root/dds/sfacts")
    assert(files.size < before && files.size <= 8,
      s"compaction did not collapse files: $before -> ${files.size}")
    // every compacted file keeps its bucket tag
    assert(files.forall(_.getName.matches(".*-b\\d{5}\\..*")),
      s"compaction dropped bucket tags: ${files.map(_.getName).mkString(", ")}")
    // rows intact
    assert(spark.table(s"$name.dds.sfacts").as[(Long, Long)].collect().toSet ==
      (0 until 5).flatMap(e => (0L until 24L).map(i =>
        (e * 24L + i, e * 1000L + i))).toSet)
    // and the same-spec join still plans with zero ShuffleExchange
    val joined = spark.table(s"$name.dds.sfacts")
      .join(spark.table(s"$name.dds.sdims"), Seq("k"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"compaction lost the storage-partitioned join:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() == 120)
  }

  test("compactPartitionsByName compacts ONLY the accreted partitions (r11)") {
    val root = tmpDir("compact-incr")
    val cat = Catalog(spark, root)
    val name = cat.sqlName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ods")
    spark.sql(s"CREATE TABLE $name.ods.ev (id BIGINT, v BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    // one clean insert for d0/d2, then SIX appends hammering only d1
    spark.sql(s"INSERT INTO $name.ods.ev " +
      "SELECT /*+ REPARTITION(1) */ id, id, concat('d', id % 3) " +
      "FROM range(0, 300) WHERE id % 3 != 1")
    (0 until 6).foreach { i =>
      spark.sql(s"INSERT INTO $name.ods.ev " +
        s"SELECT /*+ REPARTITION(1) */ id, id, 'd1' " +
        s"FROM range(${300 + i * 10}, ${310 + i * 10})")
    }
    def filesIn(rel: String) = parquetFiles(s"$root/ods/ev/$rel")
    val d0Before = filesIn("day=d0").map(f => (f.getName, f.length, f.lastModified))
    val d2Before = filesIn("day=d2").map(f => (f.getName, f.length, f.lastModified))
    assert(filesIn("day=d1").size >= 6)

    val compacted = cat.compactPartitionsByName("ods", "ev", minFiles = 4)
    assert(compacted == Seq("day=d1"), s"got $compacted")
    // d1 collapsed; d0/d2 untouched down to mtimes
    assert(filesIn("day=d1").size == 1,
      s"d1 not compacted: ${filesIn("day=d1").map(_.getName)}")
    assert(filesIn("day=d0").map(f => (f.getName, f.length, f.lastModified))
      == d0Before, "compaction rewrote an un-accreted partition (d0)")
    assert(filesIn("day=d2").map(f => (f.getName, f.length, f.lastModified))
      == d2Before, "compaction rewrote an un-accreted partition (d2)")
    // rows intact
    assert(spark.table(s"$name.ods.ev").count() == 260)
    assert(spark.table(s"$name.ods.ev").where(col("day") === "d1").count() == 60)
    // idempotent: a second pass finds nothing to do
    assert(cat.compactPartitionsByName("ods", "ev", minFiles = 4).isEmpty)
  }

  test("compact is lossless on schema-evolved tables") {
    val cat = Catalog(spark, tmpDir("compact-evolved"))
    cat.append(Seq((1L, "a")).toDF("id", "s"), "raw", "t", Seq.empty)
    cat.append(Seq((2L, "b", 9.5)).toDF("id", "s", "x"), "raw", "t", Seq.empty)
    cat.compact("raw", "t")
    // the column only the second file carried must survive the rewrite
    val back = cat.read("raw", "t")
    assert(back.columns.toSet == Set("id", "s", "x"))
    assert(back.filter(col("id") === 2L).select("x").as[Double].head() == 9.5)
  }

  test("partitioned compaction writes ~one file per partition directory") {
    val cat = Catalog(spark, tmpDir("compact-dirs"))
    val df = (0L until 3000L).map(i => (s"d${i % 3}", i)).toDF("d", "v")
      .repartition(15)
    cat.append(df, "ods", "t", Seq("d"))
    cat.compact("ods", "t", partitionCols = Seq("d"))
    // before the partition-aware repartition fix, every write task
    // dropped a file into every directory it touched
    for (part <- Seq("d=d0", "d=d1", "d=d2")) {
      val n = parquetFiles(s"${cat.path("ods", "t")}/$part").size
      assert(n == 1, s"$part has $n files after compaction")
    }
  }

  test("read unions schemas across appends") {
    val cat = Catalog(spark, tmpDir("evolve-wh"))
    cat.append(Seq((1L, "a")).toDF("id", "s"), "raw", "t", Seq.empty)
    cat.append(Seq((2L, "b", 9.5)).toDF("id", "s", "x"), "raw", "t", Seq.empty)
    val merged = cat.read("raw", "t")
    assert(merged.columns.toSet == Set("id", "s", "x"))
    assert(merged.filter(col("id") === 1L).select("x").first().isNullAt(0))
    assert(merged.filter(col("id") === 2L).select("x").as[Double].head() == 9.5)
  }

  test("refreshAggregate maintains a keyed sum/count incrementally, versioned") {
    val cat = Catalog(spark, tmpDir("magg"), versions = 3)
    def batch(rows: (String, Long)*) =
      rows.toDF("k", "v").withColumn("cnt", lit(1L))
    val b1 = batch(("a", 10L), ("a", 5L), ("b", 7L))
    val b2 = batch(("a", 1L), ("c", 2L))
    val b3 = batch(("b", 3L), ("c", 4L), ("c", 6L))

    cat.refreshAggregate(b1, "mart", "sums", Seq("k"), Seq("v", "cnt"))
    cat.refreshAggregate(b2, "mart", "sums", Seq("k"), Seq("v", "cnt"))
    cat.refreshAggregate(b3, "mart", "sums", Seq("k"), Seq("v", "cnt"))

    val got = cat.read("mart", "sums")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    // full recompute over the union of all batches
    val full = b1.unionByName(b2).unionByName(b3)
      .groupBy(col("k")).agg(sum(col("v")).as("v"), sum(col("cnt")).as("cnt"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == full, s"incremental=$got full=$full")

    // every refresh archived the previous state: a double-applied delta
    // is repaired by rolling back one version and re-applying
    val versions = cat.history("mart", "sums")
    assert(versions.size >= 2, s"expected archived versions, got $versions")
    cat.restoreVersion("mart", "sums", versions.max)
    val restored = cat.read("mart", "sums")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    // versions.max is the state before the b3 refresh
    val beforeB3 = b1.unionByName(b2)
      .groupBy(col("k")).agg(sum(col("v")).as("v"), sum(col("cnt")).as("cnt"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(restored == beforeB3, s"restored=$restored expected=$beforeB3")
  }

  test("refreshJoin maintains a materialized join view delta-incrementally") {
    val cat = Catalog(spark, tmpDir("mjoin"))
    def orders(rows: (Long, Long)*) = rows.toDF("cust_id", "amount")
    def custs(rows: (Long, String)*) = rows.toDF("cust_id", "region")

    // bootstrap: both deltas, view = dA join dB
    cat.refreshJoin(Some(orders((1L, 10L), (2L, 20L))),
      Some(custs((1L, "eu"), (3L, "us"))),
      "mart", "order_facts", "orders", "custs", Seq("cust_id"))
    // left-only delta: new orders join the STORED customer base
    cat.refreshJoin(Some(orders((3L, 30L), (1L, 11L))), None,
      "mart", "order_facts", "orders", "custs", Seq("cust_id"))
    // right-only delta: the late customer picks up EARLIER orders
    cat.refreshJoin(None, Some(custs((2L, "ap"))),
      "mart", "order_facts", "orders", "custs", Seq("cust_id"))
    // both sides at once: all three delta terms fire
    cat.refreshJoin(Some(orders((2L, 21L), (4L, 40L))),
      Some(custs((4L, "eu"))),
      "mart", "order_facts", "orders", "custs", Seq("cust_id"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cust_id"), col("amount"), col("region"))
        .as[(Long, Long, String)].collect().sorted.toSeq
    val full = cat.read("mart", "orders")
      .join(cat.read("mart", "custs"), Seq("cust_id"))
    assert(canon(cat.read("mart", "order_facts")) == canon(full),
      "incremental view drifted from the full recompute")
    // and the view is not trivially empty — every region matched
    assert(cat.read("mart", "order_facts").count() == 6)
  }

  test("refreshJoin over pre-existing bases starts with the full materialization") {
    val cat = Catalog(spark, tmpDir("mjoin2"))
    cat.createOrReplace(Seq((1L, 10L)).toDF("k", "v"), "mart", "a")
    cat.createOrReplace(Seq((1L, "x")).toDF("k", "w"), "mart", "b")
    cat.refreshJoin(Some(Seq((2L, 20L)).toDF("k", "v")),
      Some(Seq((2L, "y")).toDF("k", "w")),
      "mart", "ab", "a", "b", Seq("k"))
    val got = cat.read("mart", "ab").select(col("k"), col("v"), col("w"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, 10L, "x"), (2L, 20L, "y")),
      s"bootstrap over existing bases must include A_old join B_old, got $got")
  }
}
