package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.runtime.Catalog

/** The DSv2 session-catalog plugin ([[graft.sources.GraftCatalog]]):
  * SQL names, DDL, DML, and row-level operations resolving through
  * `spark.sql.catalog.<name>` onto the engine's path-based warehouse.
  */
class GraftCatalogSpec extends SparkSpec {

  /** Fresh catalog per test: catalog instances are cached by name with
    * their option snapshot, so each test registers a unique name over a
    * unique scratch root.
    */
  private var n = 0
  private def freshCatalog(format: String = "parquet"): (String, String) = {
    n += 1
    val name = s"gcat${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-cat-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    spark.conf.set(s"spark.sql.catalog.$name.format", format)
    (name, root)
  }

  test("DDL round-trip: create namespace -> create table -> insert -> select by name") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.people (id BIGINT, name STRING, score DOUBLE)")
    spark.sql(s"INSERT INTO $cat.ods.people VALUES (1, 'ada', 9.5), (2, 'lin', 7.25)")
    spark.sql(s"INSERT INTO $cat.ods.people VALUES (3, 'bob', 3.0)")
    val got = spark.table(s"$cat.ods.people").orderBy("id").collect()
    assert(got.toSeq == Seq(Row(1L, "ada", 9.5), Row(2L, "lin", 7.25),
      Row(3L, "bob", 3.0)))
    // catalog introspection surfaces
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("ods"))
    assert(spark.sql(s"SHOW TABLES IN $cat.ods").collect()
      .map(_.getString(1)).contains("people"))
    assert(spark.sql(s"DESCRIBE TABLE $cat.ods.people").collect()
      .map(_.getString(0)).contains("score"))
  }

  test("a catalog append reports the bytes and records it wrote in the task output metrics") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.m (k BIGINT, p STRING) PARTITIONED BY (p)")
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.outputMetrics.bytesWritten)
          records.addAndGet(m.outputMetrics.recordsWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // jobsDuring drains the listener bus past the write's task ends
    try jobsDuring(spark.sql(s"INSERT INTO $cat.ods.m SELECT id, " +
      "concat('p', id % 3) FROM range(0, 300)"))
    finally spark.sparkContext.removeSparkListener(listener)
    assert(bytes.get > 0, "the append reported no bytes written")
    assert(records.get == 300L, s"the append reported ${records.get} records")
  }

  test("tables written by the object API are readable by SQL name, and vice versa") {
    val (cat, root) = freshCatalog()
    val engine = Catalog(spark, root)
    import spark.implicits._
    engine.createOrReplace(
      Seq((1L, "de"), (2L, "fr"), (3L, "de")).toDF("id", "country"),
      "ods", "visits")
    // object-API table, no DDL, no sidecar: resolved + inferred by name
    val bySql = spark.sql(
      s"SELECT country, count(*) AS n FROM $cat.ods.visits GROUP BY country")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bySql == Map("de" -> 2L, "fr" -> 1L))
    // SQL-created table readable through the object API
    spark.sql(s"CREATE TABLE $cat.ods.dims (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ods.dims VALUES (10, 'x'), (20, 'y')")
    assert(engine.read("ods", "dims").count() == 2)
  }

  test("INSERT OVERWRITE replaces the full table state") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 'old'), (2, 'old')")
    spark.sql(s"INSERT OVERWRITE $cat.ods.t VALUES (9, 'new')")
    assert(spark.table(s"$cat.ods.t").collect().toSeq == Seq(Row(9L, "new")))
  }

  test("INSERT OVERWRITE an UNPARTITIONED table under partitionOverwriteMode=dynamic " +
      "is a full replace (r10 ADVICE)") {
    // OVERWRITE_DYNAMIC is a declared capability, so a session-wide
    // dynamic mode makes Spark plan OverwritePartitionsDynamic even for
    // unpartitioned targets — which must degrade to truncate semantics,
    // not throw at write-build time.
    val (cat, _) = freshCatalog()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      spark.sql(s"CREATE NAMESPACE $cat.ods")
      spark.sql(s"CREATE TABLE $cat.ods.flat (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.ods.flat VALUES (1, 'old'), (2, 'old')")
      spark.sql(s"INSERT OVERWRITE $cat.ods.flat VALUES (3, 'new')")
      assert(spark.table(s"$cat.ods.flat").collect().toSeq ==
        Seq(Row(3L, "new")))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("partitioned create + insert produce a hive layout the scan prunes") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.events (id BIGINT, val STRING, day STRING) " +
      "PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $cat.ods.events VALUES " +
      "(1, 'a', '2026-01-01'), (2, 'b', '2026-01-02'), (3, 'c', '2026-01-01')")
    // physical layout: hive partition directories (the object-API layout)
    val dirs = new java.io.File(s"$root/ods/events").listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .map(_.getName).sorted
    assert(dirs.toSeq == Seq("day=2026-01-01", "day=2026-01-02"))
    // partition pruning reaches the file index: only one partition read
    val pruned = spark.table(s"$cat.ods.events").filter(col("day") === "2026-01-02")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(pruned.collect().toSeq == Seq(Row(2L, "b", "2026-01-02")))
    // appends accumulate per-partition, replacing nothing
    spark.sql(s"INSERT INTO $cat.ods.events VALUES (4, 'd', '2026-01-02')")
    assert(spark.table(s"$cat.ods.events").count() == 4)
    assert(scanDesc.contains("PartitionFilters"))
  }

  test("timestamp / decimal / double partitions: appends and full replaces file rows as Spark's writer does; dynamic overwrite refuses") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.tp (k BIGINT, ts TIMESTAMP, " +
      "d DECIMAL(10,2), x DOUBLE) PARTITIONED BY (ts, d, x)")
    spark.sql(s"INSERT INTO $cat.ods.tp VALUES " +
      "(1, TIMESTAMP'2026-01-01 10:00:00', 1.5, 0.5), " +
      "(2, TIMESTAMP'2026-01-02 00:00:00', 2, 1)")
    // the session-time-zone string cast of each value, escaped
    assert(new java.io.File(
      s"$root/ods/tp/ts=2026-01-01 10%3A00%3A00/d=1.50/x=0.5").isDirectory)
    def keys() = spark.table(s"$cat.ods.tp").orderBy("k").collect().toSeq
    assert(keys() == Seq(
      Row(1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"),
        new java.math.BigDecimal("1.50"), 0.5),
      Row(2L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"),
        new java.math.BigDecimal("2.00"), 1.0)))
    assert(spark.table(s"$cat.ods.tp")
      .where(col("ts") === lit("2026-01-02 00:00:00").cast("timestamp"))
      .select("k").collect().toSeq == Seq(Row(2L)))
    spark.sql(s"INSERT OVERWRITE $cat.ods.tp VALUES " +
      "(3, TIMESTAMP'2026-01-03 00:00:00', 3, 1.5)")
    assert(keys().map(_.getLong(0)) == Seq(3L))
    // the dynamic overwrite must find each partition's existing
    // directory from its values: refused for these types
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception](spark.sql(s"INSERT OVERWRITE $cat.ods.tp " +
        "VALUES (4, TIMESTAMP'2026-01-03 00:00:00', 3, 1.5)"))
      assert(e.getMessage.contains("ambiguous"), e.getMessage)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(keys().map(_.getLong(0)) == Seq(3L))
  }

  test("streaming epochs into an identity-partitioned table plan no sort or shuffle") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.sa (k BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"CREATE TABLE $cat.ods.sc (seg STRING, n BIGINT) PARTITIONED BY (seg)")
    // the streaming writers keep one open file per partition: an epoch
    // needs neither the batch append's sort nor the full replace's
    // clustering exchange
    val ma = MemoryStream[(Long, String)]
    val qa = ma.toDF().toDF("k", "seg").writeStream
      .option("checkpointLocation", tmpDir("gcat-sa-cp"))
      .toTable(s"$cat.ods.sa")
    val mc = MemoryStream[(Long, String)]
    val qc = mc.toDF().toDF("k", "seg").groupBy("seg")
      .agg(count(lit(1)).as("n")).writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("gcat-sc-cp"))
      .toTable(s"$cat.ods.sc")
    try {
      ma.addData((1L, "a"), (2L, "b"), (3L, "a")); qa.processAllAvailable()
      mc.addData((1L, "a"), (2L, "b"), (3L, "a")); qc.processAllAvailable()
      def plan(q: org.apache.spark.sql.streaming.StreamingQuery) =
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
          .executedPlan.toString
      assert(!plan(qa).contains("Sort"), plan(qa))
      // the aggregation's own exchange stays; none is added on top
      assert("Exchange".r.findAllMatchIn(plan(qc)).size == 1, plan(qc))
    } finally { qa.stop(); qc.stop() }
    assert(spark.table(s"$cat.ods.sa").count() == 3)
    assert(spark.table(s"$cat.ods.sc").orderBy("seg").collect().toSeq ==
      Seq(Row("a", 2L), Row("b", 1L)))
    // the batch append still orders by the partition column
    val batch = spark.sql(
      s"INSERT INTO $cat.ods.sa SELECT k + 10, seg FROM $cat.ods.sa")
    assert(batch.queryExecution.executedPlan.toString.contains("Sort"),
      batch.queryExecution.executedPlan.toString)
  }

  test("MERGE INTO executes upsert + delete through the SQL surface") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.bal VALUES " +
      "(1, 100, 'A'), (2, 200, 'B'), (3, 300, 'A'), (4, 400, 'C')")
    import spark.implicits._
    Seq((2L, 999L, "B", false), (4L, 0L, "C", true), (5L, 555L, "N", false))
      .toDF("k", "cents", "seg", "del").createOrReplaceTempView("bal_updates")
    spark.sql(
      s"""MERGE INTO $cat.ods.bal t USING bal_updates u ON t.k = u.k
         |WHEN MATCHED AND u.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.cents = u.cents, t.seg = u.seg
         |WHEN NOT MATCHED THEN INSERT (k, cents, seg) VALUES (u.k, u.cents, u.seg)
         |""".stripMargin)
    val got = spark.table(s"$cat.ods.bal").orderBy("k").collect()
    assert(got.toSeq == Seq(
      Row(1L, 100L, "A"),  // untouched
      Row(2L, 999L, "B"),  // updated
      Row(3L, 300L, "A"),  // untouched
      Row(5L, 555L, "N"))) // inserted; 4 deleted
  }

  test("UPDATE and DELETE rewrite through the copy-on-write operation") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.kv (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.kv VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    spark.sql(s"UPDATE $cat.ods.kv SET v = v + 1 WHERE k % 2 = 0")
    spark.sql(s"DELETE FROM $cat.ods.kv WHERE k = 1")
    val got = spark.table(s"$cat.ods.kv").orderBy("k").collect()
    assert(got.toSeq == Seq(Row(2L, 21L), Row(3L, 30L), Row(4L, 41L)))
  }

  test("drop and rename manage the directory layout") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.a (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.a VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.ods.a RENAME TO ods.b")
    assert(!new java.io.File(s"$root/ods/a").exists())
    assert(spark.table(s"$cat.ods.b").count() == 1)
    spark.sql(s"DROP TABLE $cat.ods.b")
    assert(!new java.io.File(s"$root/ods/b").exists())
    assert(spark.sql(s"SHOW TABLES IN $cat.ods").collect().isEmpty)
  }

  test("CREATE TABLE AS SELECT lands schema and data") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    import spark.implicits._
    Seq((1L, "x", 5.0), (2L, "y", 6.0)).toDF("id", "tag", "w")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $cat.mart.copy AS SELECT id, w FROM ctas_src")
    val got = spark.table(s"$cat.mart.copy").orderBy("id").collect()
    assert(got.toSeq == Seq(Row(1L, 5.0), Row(2L, 6.0)))
  }

  test("REPLACE TABLE AS SELECT swaps contents and schema; partitioned CTAS lays out hive dirs") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    import spark.implicits._
    Seq((1L, "x", 5.0), (2L, "y", 6.0)).toDF("id", "tag", "w")
      .createOrReplaceTempView("rtas_src")
    spark.sql(s"CREATE TABLE $cat.mart.rt AS SELECT id, w FROM rtas_src")
    // RTAS: new schema (tag instead of w), old rows gone
    spark.sql(s"REPLACE TABLE $cat.mart.rt AS SELECT id, tag FROM rtas_src")
    assert(spark.table(s"$cat.mart.rt").columns.toSeq == Seq("id", "tag"))
    assert(spark.table(s"$cat.mart.rt").orderBy("id").collect().toSeq ==
      Seq(Row(1L, "x"), Row(2L, "y")))
    // partitioned CTAS: hive directory layout + pruning survive
    spark.sql(s"CREATE TABLE $cat.mart.ptc PARTITIONED BY (tag) " +
      "AS SELECT id, w, tag FROM rtas_src")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/mart/ptc/tag=x")))
    assert(spark.table(s"$cat.mart.ptc").where("tag = 'y'")
      .collect().toSeq == Seq(Row(2L, 6.0, "y")))
  }

  test("a non-default storage format round-trips through SQL") {
    val (cat, _) = freshCatalog(format = "orc")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (7, 'orc-row')")
    assert(spark.table(s"$cat.ods.t").collect().toSeq == Seq(Row(7L, "orc-row")))
  }

  /** File inventory under a table subtree: path + length + mtime. Two
    * equal inventories mean nothing was rewritten — the byte-identical
    * evidence for the touched-partition cost bound.
    */
  private def dataFiles(root: String, sub: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
    if (!fs.exists(p)) Nil
    else {
      def walk(q: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(q).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath.toString + "@" + st.getLen + "@" +
            st.getModificationTime)
        }
      walk(p)
    }
  }

  test("MERGE INTO a partitioned table rewrites ONLY the touched partitions") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.ods.bal VALUES " +
      "(1, 100, 'a'), (2, 200, 'a'), (3, 300, 'b'), (4, 400, 'b'), (5, 500, 'c')")
    import spark.implicits._
    Seq((1L, 111L, "a", false), (2L, 0L, "a", true), (9L, 900L, "n", false))
      .toDF("k", "cents", "seg", "del").createOrReplaceTempView("pmerge_up")
    val beforeB = dataFiles(root, "ods/bal/seg=b")
    val beforeC = dataFiles(root, "ods/bal/seg=c")
    assert(beforeB.nonEmpty && beforeC.nonEmpty)
    spark.sql(s"""MERGE INTO $cat.ods.bal t USING pmerge_up u ON t.k = u.k
      WHEN MATCHED AND u.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.cents = u.cents
      WHEN NOT MATCHED THEN INSERT (k, cents, seg) VALUES (u.k, u.cents, u.seg)""")
    val got = spark.table(s"$cat.ods.bal").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 111L, "a"), (3L, 300L, "b"), (4L, 400L, "b"),
      (5L, 500L, "c"), (9L, 900L, "n")), s"got $got")
    // untouched partitions: files byte-identical (runtime group filter
    // narrowed the rewrite to seg=a; the insert landed in NEW seg=n)
    assert(dataFiles(root, "ods/bal/seg=b") == beforeB,
      "seg=b was rewritten by a merge that never touched it")
    assert(dataFiles(root, "ods/bal/seg=c") == beforeC,
      "seg=c was rewritten by a merge that never touched it")
    assert(dataFiles(root, "ods/bal/seg=n").nonEmpty)
    // no invisible staging leftovers in the rewritten partition
    assert(dataFiles(root, "ods/bal/seg=a").nonEmpty)
  }

  test("copy-on-write on a TWO-LEVEL partition layout touches only the matching subtree") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.land (id BIGINT, v BIGINT, year INT, month INT) " +
      "PARTITIONED BY (year, month)")
    spark.sql(s"INSERT INTO $cat.raw.land VALUES " +
      "(1, 10, 2020, 1), (2, 20, 2020, 2), (3, 30, 2021, 1), (4, 40, 2021, 2)")
    val before2021 = dataFiles(root, "raw/land/year=2021")
    // id % 2 = 1 defeats the metadata path; the runtime group filter
    // bounds the rewrite at the TOP partition level (year=2020 — the
    // multi-column group filter keys a struct IN that Spark cannot
    // deliver to a V2 scan, so the scan declares the first level only)
    spark.sql(s"DELETE FROM $cat.raw.land WHERE year = 2020 AND month = 1 AND id % 2 = 1")
    val got = spark.table(s"$cat.raw.land").orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L, 4L), s"got $got")
    assert(dataFiles(root, "raw/land/year=2021") == before2021,
      "year=2021 rewritten by a delete scoped to year=2020")
    // the fully-emptied leaf directory is pruned
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/raw/land/year=2020/month=1")),
      "emptied two-level leaf should have been pruned")
  }

  test("UPDATE on a partitioned table rewrites only the matching partition") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.pu (k BIGINT, v BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $cat.ods.pu VALUES " +
      "(1, 10, 'd1'), (2, 20, 'd1'), (3, 30, 'd2'), (4, 40, 'd2')")
    val beforeD2 = dataFiles(root, "ods/pu/day=d2")
    spark.sql(s"UPDATE $cat.ods.pu SET v = v + 1 WHERE day = 'd1' AND k = 1")
    val got = spark.table(s"$cat.ods.pu").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the carryover row (k=2, same partition, non-matching) survives
    assert(got == Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)), s"got $got")
    assert(dataFiles(root, "ods/pu/day=d2") == beforeD2,
      "day=d2 was rewritten by an update that never touched it")
  }

  test("ALTER TABLE ADD/DROP COLUMN evolve the schema metadata-only") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.ev (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ods.ev VALUES (1, 'old')")

    spark.sql(s"ALTER TABLE $cat.ods.ev ADD COLUMN score DOUBLE")
    // pre-change files null-fill the new column; new writes carry it
    spark.sql(s"INSERT INTO $cat.ods.ev VALUES (2, 'new', 9.5)")
    val rows = spark.table(s"$cat.ods.ev").orderBy("k").collect().toSeq
    assert(rows == Seq(Row(1L, "old", null), Row(2L, "new", 9.5)), s"got $rows")

    spark.sql(s"ALTER TABLE $cat.ods.ev DROP COLUMN v")
    val after = spark.table(s"$cat.ods.ev").orderBy("k").collect().toSeq
    assert(after == Seq(Row(1L, null), Row(2L, 9.5)), s"got $after")
    assert(spark.table(s"$cat.ods.ev").columns.toSeq == Seq("k", "score"))

    // RENAME is supported now (r13 item 8) — values survive it
    spark.sql(s"ALTER TABLE $cat.ods.ev RENAME COLUMN score TO s2")
    assert(spark.table(s"$cat.ods.ev").columns.toSeq == Seq("k", "s2"))
    assert(spark.table(s"$cat.ods.ev").orderBy("k").collect().toSeq ==
      Seq(Row(1L, null), Row(2L, 9.5)))
    // unsafe changes stay refused with the reason
    val nn = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ods.ev ADD COLUMN must_have BIGINT NOT NULL")
    }
    assert(nn.getMessage.toLowerCase.contains("nullable"), nn.getMessage)
  }

  test("ALTER TABLE materializes an inferred schema for object-API tables; csv refused") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    val engine = Catalog(spark, root)
    engine.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "ods", "obj")
    spark.sql(s"ALTER TABLE $cat.ods.obj ADD COLUMN extra BIGINT")
    spark.sql(s"INSERT INTO $cat.ods.obj VALUES (2, 'b', 42)")
    val rows = spark.table(s"$cat.ods.obj").orderBy("k").collect().toSeq
    assert(rows == Seq(Row(1L, "a", null), Row(2L, "b", 42L)), s"got $rows")

    val (csvCat, _) = freshCatalog(format = "csv")
    spark.sql(s"CREATE NAMESPACE $csvCat.ods")
    spark.sql(s"CREATE TABLE $csvCat.ods.c (k BIGINT, v STRING)")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $csvCat.ods.c ADD COLUMN x BIGINT")
    }
    assert(e.getMessage.contains("POSITION"), e.getMessage)
  }

  test("VERSION AS OF / TIMESTAMP AS OF resolve retained states; snapshots are read-only") {
    val (cat, root) = freshCatalog()
    spark.conf.set(s"spark.sql.catalog.$cat.versions", "3")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // a plain table, and a bucketed one (its replaced states are
    // archived file by file)
    for ((t, layout) <- Seq("hist" -> "",
        "histb" -> " PARTITIONED BY (bucket(2, k))")) {
      spark.sql(s"CREATE TABLE $cat.ods.$t (k BIGINT, v STRING)$layout")
      spark.sql(s"INSERT INTO $cat.ods.$t VALUES (1, 'a')")
      spark.sql(s"INSERT OVERWRITE $cat.ods.$t VALUES (1, 'b'), (2, 'b')")
      Thread.sleep(1200) // separate the two archive mtimes + the probe ts
      val betweenMillis = System.currentTimeMillis()
      Thread.sleep(1200)
      spark.sql(s"INSERT OVERWRITE $cat.ods.$t VALUES (3, 'c')")

      // live vs versions (history numbering = object API's)
      assert(spark.table(s"$cat.ods.$t").collect().toSeq == Seq(Row(3L, "c")))
      val v1 = spark.sql(s"SELECT * FROM $cat.ods.$t VERSION AS OF 1")
        .orderBy("k").collect().toSeq
      assert(v1 == Seq(Row(1L, "a")), s"v1 = $v1")
      val v2 = spark.sql(s"SELECT * FROM $cat.ods.$t VERSION AS OF 2")
        .orderBy("k").collect().toSeq
      assert(v2 == Seq(Row(1L, "b"), Row(2L, "b")), s"v2 = $v2")

      // timestamp between the two replaces resolves to the middle state
      val atTs = spark.sql(s"SELECT * FROM $cat.ods.$t " +
          s"TIMESTAMP AS OF timestamp_millis(${betweenMillis}L)")
        .orderBy("k").collect().toSeq
      assert(atTs == Seq(Row(1L, "b"), Row(2L, "b")), s"atTs = $atTs")
      // a future timestamp reads the live table
      val future = spark.sql(s"SELECT * FROM $cat.ods.$t " +
          s"TIMESTAMP AS OF timestamp_millis(${System.currentTimeMillis() + 60000}L)")
        .collect().toSeq
      assert(future == Seq(Row(3L, "c")))

      // snapshots refuse writes, missing versions refuse loudly
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.ods.$t VERSION AS OF 1 VALUES (9, 'x')")
      }
      assert(e != null)
      val missing = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.ods.$t VERSION AS OF 99").collect()
      }
      assert(missing.getMessage.contains("no retained version"),
        s"got: ${missing.getMessage}")

      // object-API history sees the same numbering over the same root
      val eng = Catalog(spark, root, versions = 3)
      assert(eng.history("ods", t) == Seq(1, 2))
      assert(eng.readVersion("ods", t, 1).collect().toSeq == Seq(Row(1L, "a")))
    }
  }

  test("time travel x round-10 writers: versioning is full-replace-scoped (r10 item 7)") {
    // CONTRACT: the version store archives COMPLETE previous table
    // states, which only FULL REPLACES produce — INSERT OVERWRITE (the
    // V1 swap for plain tables, TruncateReplaceWrite for bucketed /
    // dynamic-on-unpartitioned ones). Appends, streaming epochs, and
    // partition-scoped copy-on-write (MERGE/UPDATE/DELETE) do NOT
    // create versions: their deltas never materialize the prior whole-
    // table state, and archiving one would mean copying every untouched
    // partition — the exact cost the partition-scoped paths exist to
    // avoid. What this spec pins: those writers also never CORRUPT the
    // store — retained versions resolve unchanged across them, and the
    // next full replace archives the cumulative state they produced.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.conf.set(s"spark.sql.catalog.$cat.versions", "3")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.tl (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.ods.tl VALUES (1, 'a'), (2, 'b')")
    // full replace #1 archives the initial state as v1
    spark.sql(s"INSERT OVERWRITE $cat.ods.tl VALUES (1, 'a'), (2, 'b'), (3, 'b')")
    def v1(): Seq[Row] = spark.sql(
      s"SELECT * FROM $cat.ods.tl VERSION AS OF 1").orderBy("k").collect().toSeq
    val v1Before = v1()
    assert(v1Before == Seq(Row(1L, "a"), Row(2L, "b")))

    // a streaming epoch lands (no new version, v1 untouched)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "seg").writeStream
      .option("checkpointLocation", tmpDir("gcat-tl-cp"))
      .toTable(s"$cat.ods.tl")
    mem.addData((4L, "a")); q.processAllAvailable(); q.stop()
    // a partitioned MERGE rewrites its touched partition (no version)
    spark.sql(s"""MERGE INTO $cat.ods.tl t
      USING (SELECT 2L AS k, 'b' AS seg, 222L AS nk) u ON t.k = u.k
      WHEN MATCHED THEN UPDATE SET t.k = u.nk""")
    val eng = Catalog(spark, root, versions = 3)
    assert(eng.history("ods", "tl") == Seq(1),
      "append/streaming/COW writers must not mint versions")
    assert(v1() == v1Before, "a delta writer corrupted an archived version")
    assert(spark.table(s"$cat.ods.tl").orderBy("k").collect().toSeq ==
      Seq(Row(1L, "a"), Row(3L, "b"), Row(4L, "a"), Row(222L, "b")))

    // the NEXT full replace archives the cumulative post-delta state
    spark.sql(s"INSERT OVERWRITE $cat.ods.tl VALUES (9, 'z')")
    assert(eng.history("ods", "tl") == Seq(1, 2))
    assert(spark.sql(s"SELECT * FROM $cat.ods.tl VERSION AS OF 2")
      .orderBy("k").collect().toSeq ==
      Seq(Row(1L, "a"), Row(3L, "b"), Row(4L, "a"), Row(222L, "b")))
  }

  test("bucketed INSERT OVERWRITE archives versions through the v2 replace (r11)") {
    val (cat, root) = freshCatalog()
    spark.conf.set(s"spark.sql.catalog.$cat.versions", "2")
    spark.sql(s"CREATE NAMESPACE $cat.dds")
    spark.sql(s"CREATE TABLE $cat.dds.bv (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.dds.bv SELECT id, id * 10 FROM range(0, 20)")
    spark.sql(s"INSERT OVERWRITE $cat.dds.bv SELECT id, id * 100 FROM range(0, 5)")
    spark.sql(s"INSERT OVERWRITE $cat.dds.bv SELECT id, id * 1000 FROM range(0, 3)")
    val eng = Catalog(spark, root, versions = 2)
    assert(eng.history("dds", "bv") == Seq(1, 2))
    // v1 = the original 20-row state, archived file-by-file with tags
    assert(spark.sql(s"SELECT sum(v) FROM $cat.dds.bv VERSION AS OF 1")
      .head.getLong(0) == (0L until 20L).map(_ * 10).sum)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.dds.bv VERSION AS OF 2")
      .head.getLong(0) == (0L until 5L).map(_ * 100).sum)
    assert(spark.table(s"$cat.dds.bv").count() == 3)
    // retention pruned to the newest 2 on the NEXT replace
    spark.sql(s"INSERT OVERWRITE $cat.dds.bv SELECT id, id FROM range(0, 2)")
    assert(eng.history("dds", "bv") == Seq(2, 3))
  }

  test("RENAME COLUMN is metadata-only: old and new files read correctly via field-id aliases (r13 item 8)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, bal BIGINT, g STRING) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, " +
      "concat('p', id % 2) FROM range(0, 500)")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, (Long, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, (Long, Long))] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Nil
          else if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, (st.getLen, st.getModificationTime)))
        }
      walk(new org.apache.hadoop.fs.Path(s"$root/ods/t")).toMap
    }
    val before = dataFiles()

    spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN bal TO bal_cents")
    // metadata-only: not one data file changed
    assert(dataFiles() == before, "RENAME rewrote data files")
    // old files read under the NEW name
    assert(spark.table(s"$cat.ods.t").columns.toSeq ==
      Seq("k", "bal_cents", "g"))
    assert(spark.table(s"$cat.ods.t").agg(sum("bal_cents")).head.getLong(0)
      == (0L until 500L).map(_ * 10).sum)
    // new files mix with old ones transparently
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 10, " +
      "concat('p', id % 2) FROM range(500, 800)")
    assert(spark.table(s"$cat.ods.t").agg(sum("bal_cents")).head.getLong(0)
      == (0L until 800L).map(_ * 10).sum)
    // filters on the renamed name hit OLD files' rows too
    assert(spark.table(s"$cat.ods.t").where(col("bal_cents") === 100)
      .head.getLong(0) == 10L)
    assert(spark.table(s"$cat.ods.t")
      .where(col("bal_cents") < 5000).count() == 500)
    // projections that PRUNE the renamed column stay exact
    assert(spark.table(s"$cat.ods.t").select("k").count() == 800)
    // a rename CHAIN resolves through every retired name
    spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN bal_cents TO cents")
    assert(spark.table(s"$cat.ods.t").agg(sum("cents")).head.getLong(0)
      == (0L until 800L).map(_ * 10).sum)

    // refusals unchanged / sharpened
    // type changes stay refused (Spark's analyzer rejects them before
    // the catalog is even consulted)
    val e1 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.ods.t ALTER COLUMN k TYPE INT")
    }
    assert(e1.getMessage.contains("not supported"), s"got: ${e1.getMessage}")
    val e2 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN g TO grp")
    }
    assert(e2.getMessage.contains("partition column"))
    val e3 = intercept[Throwable] {
      spark.sql(s"ALTER TABLE $cat.ods.t ADD COLUMN bal BIGINT")
    }
    assert(e3.getMessage.contains("retired name"))
    // row-level ops refuse while aliases are live, naming the fix
    val e4 = intercept[Throwable] {
      spark.sql(s"UPDATE $cat.ods.t SET cents = 0 WHERE k = 1")
    }
    assert(e4.getMessage.contains("system.compact"), s"got: ${e4.getMessage}")

    // compact materializes the rename; row-level ops are re-admitted
    spark.sql(s"CALL $cat.system.compact(table => 'ods.t')")
    assert(spark.table(s"$cat.ods.t").agg(sum("cents")).head.getLong(0)
      == (0L until 800L).map(_ * 10).sum)
    spark.sql(s"UPDATE $cat.ods.t SET cents = 0 WHERE k = 1")
    assert(spark.table(s"$cat.ods.t").where(col("k") === 1)
      .head.getAs[Long]("cents") == 0L)
  }

  test("ALTER COLUMN TYPE widens metadata-only: old narrow files read exactly; unsafe changes refuse (r13 item 2)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.w (k BIGINT, i INT, f FLOAT, " +
      "d DECIMAL(5,2), g STRING) PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.ods.w SELECT id, CAST(id AS INT), " +
      "CAST(id AS FLOAT) / 2, CAST(id AS DECIMAL(5,2)), " +
      "concat('p', id % 2) FROM range(0, 500)")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, (Long, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, (Long, Long))] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Nil
          else if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, (st.getLen, st.getModificationTime)))
        }
      walk(new org.apache.hadoop.fs.Path(s"$root/ods/w")).toMap
    }
    val before = dataFiles()

    spark.sql(s"ALTER TABLE $cat.ods.w ALTER COLUMN i TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.ods.w ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $cat.ods.w ALTER COLUMN d TYPE DECIMAL(10,2)")
    // metadata-only: not one data file rewritten
    assert(dataFiles() == before, "widening rewrote data files")
    val sch = spark.table(s"$cat.ods.w").schema
    assert(sch("i").dataType == LongType &&
      sch("f").dataType == DoubleType &&
      sch("d").dataType == DecimalType(10, 2), s"schema not widened: $sch")

    // old files' narrow physical values read back EXACTLY as wide types
    assert(spark.table(s"$cat.ods.w").agg(sum("i")).head.getLong(0)
      == (0L until 500L).sum)
    assert(spark.table(s"$cat.ods.w").agg(sum("f")).head.getDouble(0)
      == (0 until 500).map(_.toFloat / 2).map(_.toDouble).sum)
    // filters on the widened column still reach old files' rows
    assert(spark.table(s"$cat.ods.w").where(col("i") === 123L)
      .head.getLong(0) == 123L)
    assert(spark.table(s"$cat.ods.w")
      .where(col("d") === BigDecimal("42.00")).count() == 1)

    // new wide rows mix with old narrow files transparently
    spark.sql(s"INSERT INTO $cat.ods.w VALUES " +
      "(1000, 5000000000, CAST(0.5 AS DOUBLE), CAST(12345678.90 AS " +
      "DECIMAL(10,2)), 'p0')")
    assert(spark.table(s"$cat.ods.w").where(col("i") === 5000000000L)
      .count() == 1, "a value only the wide type can hold went missing")
    assert(spark.table(s"$cat.ods.w").agg(sum("i")).head.getLong(0)
      == (0L until 500L).sum + 5000000000L)
    assert(spark.table(s"$cat.ods.w").count() == 501)

    // widen + rename compose: the alias merge resolves the old NAME,
    // the readers promote the old TYPE
    spark.sql(s"ALTER TABLE $cat.ods.w RENAME COLUMN i TO i2")
    assert(spark.table(s"$cat.ods.w").where(col("i2") === 123L)
      .head.getLong(0) == 123L)
    assert(spark.table(s"$cat.ods.w").agg(sum("i2")).head.getLong(0)
      == (0L until 500L).sum + 5000000000L)

    // refusals: narrowing and cross-family die in the analyzer; scale
    // changes, partition and bucket columns die in the catalog
    def refused(sql: String, needle: String): Unit = {
      val e = intercept[Throwable](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(needle)),
        s"expected '$needle' in: ${msgs(e).mkString(" | ")}")
    }
    refused(s"ALTER TABLE $cat.ods.w ALTER COLUMN i2 TYPE INT",
      "not supported")        // narrowing: Spark's canUpCast gate
    refused(s"ALTER TABLE $cat.ods.w ALTER COLUMN d TYPE DECIMAL(12,4)",
      "only metadata-safe widenings") // scale change: catalog refusal
      // (Spark's canUpCast admits it, but old files' physical scale
      // would re-read wrong)
    // partition/bucket columns refuse even analyzer-admissible
    // widenings: dir tokens parse and bucket hashes compute under the
    // declared type
    spark.sql(s"CREATE TABLE $cat.ods.wp (k BIGINT, y INT) " +
      "PARTITIONED BY (y)")
    refused(s"ALTER TABLE $cat.ods.wp ALTER COLUMN y TYPE BIGINT",
      "partition column")
    spark.sql(s"CREATE TABLE $cat.ods.wb (k BIGINT, b INT) " +
      "PARTITIONED BY (bucket(4, b))")
    refused(s"ALTER TABLE $cat.ods.wb ALTER COLUMN b TYPE BIGINT",
      "bucket column")
  }

  test("a fresh field id never reuses a DROPPED column's id (ADVICE r13)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, b BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t SELECT id, id * 7 FROM range(0, 10)")
    // retire b's name under its field id, then retire the ID itself by
    // dropping its holder — the alias (id -> b) stays in the log
    spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN b TO b2")
    spark.sql(s"ALTER TABLE $cat.ods.t DROP COLUMN b2")
    // a NEW column that later renames must get a FRESH id: with id
    // reuse, d would inherit the alias d -> [b] and silently resurrect
    // the dropped column's physical data from the old files
    spark.sql(s"ALTER TABLE $cat.ods.t ADD COLUMN c BIGINT")
    spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN c TO d")
    assert(spark.table(s"$cat.ods.t").columns.toSeq == Seq("k", "d"))
    assert(spark.table(s"$cat.ods.t").where(col("d").isNotNull).count() == 0,
      "the dropped column's data resurrected into the new column")
    assert(spark.table(s"$cat.ods.t").count() == 10)
    // new writes under d read back exactly, old rows stay null
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (100, 5)")
    assert(spark.table(s"$cat.ods.t").agg(sum("d")).head.getLong(0) == 5L)
    assert(spark.table(s"$cat.ods.t").where(col("d").isNotNull).count() == 1)
  }

  test("views: CREATE/SHOW/DROP/RENAME round-trip; a view over an evolved table reads correctly") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.ev (k BIGINT, region STRING, " +
      "v BIGINT, d STRING) PARTITIONED BY (d)")
    spark.sql(s"INSERT INTO $cat.ods.ev SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'na' ELSE 'eu' END, id, 'd1' " +
      "FROM range(0, 60)")
    // evolve mid-life: the view must read THROUGH the era machinery
    spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'ods.ev', add_column => 'region')").collect()
    spark.sql(s"INSERT INTO $cat.ods.ev SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'na' ELSE 'eu' END, id, 'd2' " +
      "FROM range(60, 120)")

    spark.sql(s"CREATE VIEW $cat.mart.na_totals AS " +
      s"SELECT d, count(*) AS n, sum(v) AS v_sum FROM $cat.ods.ev " +
      "WHERE region = 'na' GROUP BY d")
    val got = spark.table(s"$cat.mart.na_totals").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq(("d1", 20L, (0L until 60L by 3).sum),
      ("d2", 20L, (60L until 120L by 3).sum)), s"view read wrong: $got")

    // the view tracks the TABLE, not a snapshot: new rows show up
    spark.sql(s"INSERT INTO $cat.ods.ev VALUES (999, 'na', 5, 'd1')")
    assert(spark.table(s"$cat.mart.na_totals")
      .where(col("d") === "d1").head.getLong(1) == 21L)

    // SHOW VIEWS lists it; DESCRIBE works; table/view collisions refuse
    val shown = spark.sql(s"SHOW VIEWS IN $cat.mart").collect()
      .map(_.getString(1)).toSeq
    assert(shown == Seq("na_totals"), s"SHOW VIEWS: $shown")
    val eTbl = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.mart.na_totals (x BIGINT)")
    }
    assert(eTbl.getMessage.contains("VIEW"), eTbl.getMessage)
    val eVw = intercept[Exception] {
      spark.sql(s"CREATE VIEW $cat.ods.ev AS SELECT 1 AS one")
    }
    assert(eVw.getMessage.contains("TABLE") ||
      eVw.getMessage.toLowerCase.contains("already exists"), eVw.getMessage)

    // CREATE OR REPLACE; ALTER VIEW properties; RENAME; DROP
    spark.sql(s"CREATE OR REPLACE VIEW $cat.mart.na_totals AS " +
      s"SELECT count(*) AS n FROM $cat.ods.ev")
    assert(spark.table(s"$cat.mart.na_totals").head.getLong(0) == 121L)
    spark.sql(s"ALTER VIEW $cat.mart.na_totals " +
      "SET TBLPROPERTIES ('owner_team' = 'dds')")
    spark.sql(s"ALTER VIEW $cat.mart.na_totals RENAME TO mart.totals")
    assert(spark.table(s"$cat.mart.totals").head.getLong(0) == 121L)
    spark.sql(s"DROP VIEW $cat.mart.totals")
    val eGone = intercept[Exception] {
      spark.table(s"$cat.mart.totals").collect()
    }
    assert(eGone.getMessage.toLowerCase.contains("cannot be found") ||
      eGone.getMessage.toLowerCase.contains("not found"), eGone.getMessage)
  }

  test("column DEFAULT values: CREATE, INSERT omission, DEFAULT keyword, ADD COLUMN, and refusals") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.alerts (id BIGINT, msg STRING, " +
      "sev STRING DEFAULT 'info', created_at TIMESTAMP DEFAULT " +
      "current_timestamp())")
    // omission fills the default; explicit DEFAULT keyword too
    spark.sql(s"INSERT INTO $cat.ods.alerts (id, msg) VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.ods.alerts VALUES " +
      "(2, 'b', DEFAULT, DEFAULT)")
    spark.sql(s"INSERT INTO $cat.ods.alerts VALUES " +
      "(3, 'c', 'crit', timestamp'2026-01-01 00:00:00')")
    val got = spark.table(s"$cat.ods.alerts")
      .collect().map(r => (r.getLong(0), r.getString(2), r.isNullAt(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "info", false), (2L, "info", false),
      (3L, "crit", false)), s"defaults not applied: $got")
    // current_timestamp defaults are stamped at INSERT time, per row
    assert(spark.table(s"$cat.ods.alerts").where(col("id") === 3)
      .head.getTimestamp(3).toString.startsWith("2026-01-01"))

    // ALTER TABLE ADD COLUMN with DEFAULT: new column reads as the
    // default for EXISTING rows too (EXISTS_DEFAULT semantics)
    spark.sql(s"ALTER TABLE $cat.ods.alerts ADD COLUMN src STRING " +
      "DEFAULT 'pipeline'")
    val srcs = spark.table(s"$cat.ods.alerts").select("src")
      .collect().map(_.getString(0)).toSeq
    assert(srcs == Seq("pipeline", "pipeline", "pipeline"),
      s"exists-default not served for pre-existing rows: $srcs")
    spark.sql(s"INSERT INTO $cat.ods.alerts (id, msg) VALUES (4, 'd')")
    assert(spark.table(s"$cat.ods.alerts").where(col("id") === 4)
      .head.getString(4) == "pipeline")
    assert(spark.table(s"$cat.ods.alerts").count() == 4)
  }
}
