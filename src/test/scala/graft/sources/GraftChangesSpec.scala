package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CHANGELOG reads (`<table>.changes`, [[GraftChanges]]) and the
  * metadata relations (`<table>.files` / `<table>.history`,
  * [[GraftMetaTables]]). The proofs: the feed's rows are exactly the
  * epochs' emissions + sidecar retractions with the coalescing
  * contract; epoch/type predicates prune EXACTLY (reads succeed with
  * every out-of-range file corrupted); keyed replay of the feed
  * converges to the live state; materialization advances the horizon
  * (explicit bounds into rewritten history refuse, unbounded reads
  * serve the retained feed); DV'd tables refuse; schema evolution
  * (rename aliases, type widening) applies to old epochs' files; the
  * metadata relations answer from driver-side listings only.
  */
class GraftChangesSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(versions: Int = 0): (String, String) = {
    n += 1
    val name = s"gch${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-ch-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    if (versions > 0)
      spark.conf.set(s"spark.sql.catalog.$name.versions", versions.toString)
    (name, root)
  }

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withShuffle4[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The 3-epoch equality-upsert stream from GraftEqDelSpec's parity
    * case: epoch 0 {1->10,2->20,3->30}, epoch 1 {2->25(cnt2),4->40},
    * epoch 2 {1->11(cnt2),4->44(cnt2)}.
    */
  private def runUpsertStream(cat: String, table: String): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").groupBy("k")
        .agg(sum("v").as("total"), count(lit(1)).as("cnt"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "k")
        .option("upsertMode", "equality")
        .option("checkpointLocation", tmpDir(s"gch-cp-$table"))
        .toTable(s"$cat.mart.$table")
      try {
        mem.addData((1L, 10L), (2L, 20L), (3L, 30L))
        q.processAllAvailable()
        mem.addData((2L, 5L), (4L, 40L))
        q.processAllAvailable()
        mem.addData((1L, 1L), (4L, 4L))
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  private def corruptFiles(root: String, rel: String,
      keep: String => Boolean): Int = {
    val fs = fsOf(root)
    var hit = 0
    fs.listStatus(new Path(s"$root/$rel")).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")).foreach { st =>
      if (!keep(st.getPath.getName)) {
        val (len, mtime) = (st.getLen, st.getModificationTime)
        val out = fs.create(st.getPath, true)
        try out.write(Array.fill(len.toInt)('x'.toByte)) finally out.close()
        fs.setTimes(st.getPath, mtime, -1)
        hit += 1
      }
    }
    hit
  }

  test("equality-upsert feed: emissions + coalesced retractions, keyed replay converges") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.eq (k BIGINT, total BIGINT, cnt BIGINT)")
    runUpsertStream(cat, "eq")

    val feed = spark.table(s"$cat.mart.eq.changes").collect().map { r =>
      (r.getString(r.fieldIndex("_change_type")),
        r.getLong(r.fieldIndex("_change_epoch")),
        r.getLong(r.fieldIndex("k")),
        if (r.isNullAt(r.fieldIndex("total"))) -1L
        else r.getLong(r.fieldIndex("total")))
    }.sorted.toSeq
    // epoch 0's sidecar was dead on a stream-born table (nothing older)
    // and is GC'd => its emissions are true INSERTS; epoch 1's
    // retraction of k=4 coalesced into epoch 2's sidecar (the keyed
    // changelog contract), leaving k=2 attributed to epoch 1
    val expected = Seq(
      ("delete", 1L, 2L, -1L),
      ("delete", 2L, 1L, -1L), ("delete", 2L, 4L, -1L),
      ("insert", 0L, 1L, 10L), ("insert", 0L, 2L, 20L),
      ("insert", 0L, 3L, 30L),
      ("upsert", 1L, 2L, 25L), ("upsert", 1L, 4L, 40L),
      ("upsert", 2L, 1L, 11L), ("upsert", 2L, 4L, 44L)).sorted
    assert(feed == expected, s"feed mismatch:\n$feed\nvs\n$expected")

    // keyed replay: last emission per key == the live table state
    val replayed = spark.table(s"$cat.mart.eq.changes")
      .where(col("_change_type") =!= "delete")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("_change_epoch").desc)))
      .where(col("rn") === 1).select(col("k"), col("total"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val live = spark.table(s"$cat.mart.eq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(replayed == live, s"replay diverged: $replayed vs $live")
  }

  test("epoch and type predicates prune exactly: out-of-range files can be corrupt") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.eq (k BIGINT, total BIGINT, cnt BIGINT)")
    runUpsertStream(cat, "eq")

    // corrupt every data file that is NOT an epoch-2 emission: an
    // epoch-bounded read must not open any of them
    val hit = corruptFiles(root, "mart/eq",
      keep = n => GraftEqDel.emissionOf(n).exists(_._2 == 2L))
    assert(hit > 0, "expected files outside epoch 2 to exist")

    val e2 = spark.table(s"$cat.mart.eq.changes")
      .where(col("_change_epoch") === 2)
      .collect().map(r => (r.getString(3), r.getLong(4),
        Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(-1L)))
      .sorted.toSeq
    assert(e2 == Seq(("delete", 2L, 1L), ("delete", 2L, 4L),
      ("upsert", 2L, 1L), ("upsert", 2L, 4L)).sorted)

    // a delete-only read opens NO data file at all
    val dels = spark.table(s"$cat.mart.eq.changes")
      .where(col("_change_type") === "delete")
      .select(col("_change_epoch"), col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(dels == Seq((1L, 2L), (2L, 1L), (2L, 4L)))
  }

  test("materialization advances the horizon: explicit bounds refuse, unbounded serves the retained feed") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.eq (k BIGINT, total BIGINT, cnt BIGINT)")
    runUpsertStream(cat, "eq")
    spark.sql(s"CALL $cat.system.rewrite_deletes(table => 'mart.eq')").collect()
    assert(GraftEqDel.list(fsOf(root), new Path(s"$root/mart/eq")).isEmpty)

    // epochs <= 2 are rewritten history now: an explicit bound into
    // them refuses loudly instead of serving a partial feed
    val e = intercept[Exception] {
      spark.table(s"$cat.mart.eq.changes")
        .where(col("_change_epoch") >= 0).collect()
    }
    assert(e.getMessage.contains("materialized by"),
      s"wrong refusal: ${e.getMessage}")

    // the unbounded read serves what is retained — epoch 2's own
    // emission files floor AT the max sidecar epoch, so materialization
    // left them in place but consumed their sidecar: above-horizon only
    val retained = spark.table(s"$cat.mart.eq.changes").collect()
    assert(retained.isEmpty,
      s"retained feed should be empty post-materialization, " +
        s"got ${retained.length} rows")

    // and a bound strictly above the horizon is servable (empty here)
    assert(spark.table(s"$cat.mart.eq.changes")
      .where(col("_change_epoch") === 3).collect().isEmpty)
  }

  test("append-mode stream epochs feed as pure inserts") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.ev (k BIGINT, v BIGINT)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir("gch-cp-app"))
        .toTable(s"$cat.raw.ev")
      try {
        mem.addData((1L, 10L), (2L, 20L))
        q.processAllAvailable()
        mem.addData((3L, 30L))
        q.processAllAvailable()
      } finally q.stop()
    }
    val feed = spark.table(s"$cat.raw.ev.changes")
      .select(col("_change_type"), col("_change_epoch"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(feed == Seq(("insert", 0L, 1L), ("insert", 0L, 2L),
      ("insert", 1L, 3L)))
  }

  test("batch tables feed from the commit journal; DV deletes serve exact positions; schema evolution reads old epochs") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // batch appends journal ([[GraftCommits]]) and feed as inserts at
    // their commit id (r14 verdict item 1 — previously outside the feed)
    spark.sql(s"CREATE TABLE $cat.ods.b (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.b VALUES (1, 1), (2, 2)")
    val bFeed = spark.table(s"$cat.ods.b.changes")
      .select(col("_change_type"), col("_change_epoch"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(bFeed == Seq(("insert", 0L, 1L), ("insert", 0L, 2L)),
      s"batch append feed mismatch: $bFeed")

    // a merge-on-read DELETE's positions are journaled per commit and
    // feed as delete rows with FULL preimages (previously a refusal)
    spark.sql(s"CREATE TABLE $cat.ods.d (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $cat.ods.d VALUES (1, 1), (2, 2), (3, 3)")
    spark.sql(s"DELETE FROM $cat.ods.d WHERE k = 2")
    val dFeed = spark.table(s"$cat.ods.d.changes")
      .select(col("_change_type"), col("_change_epoch"), col("k"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(dFeed == Seq(("delete", 1L, 2L, 2L), ("insert", 0L, 1L, 1L),
      ("insert", 0L, 2L, 2L), ("insert", 0L, 3L, 3L)),
      s"mor-delete feed mismatch: $dFeed")
    // and the preimage row carries its VALUES (not the sidecar NULL
    // shape) — the delete row above asserted v=2 already; the live
    // table excludes it
    assert(spark.table(s"$cat.ods.d").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L))

    // rename + widening apply to files written BEFORE the DDL
    spark.sql(s"CREATE TABLE $cat.ods.ev2 (k INT, v BIGINT)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Int, Long)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir("gch-cp-ev2"))
        .toTable(s"$cat.ods.ev2")
      try {
        mem.addData((7, 70L))
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.sql(s"ALTER TABLE $cat.ods.ev2 RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE $cat.ods.ev2 ALTER COLUMN k TYPE BIGINT")
    val rows = spark.table(s"$cat.ods.ev2.changes")
      .select(col("k"), col("val"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((7L, 70L, "insert")),
      s"evolved changes read mismatch: $rows")
  }

  test("streaming changes: incremental delivery, exactly-once across restart, CDC-apply converges") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.eq (k BIGINT, total BIGINT, cnt BIGINT)")
    spark.sql(s"CREATE TABLE $cat.mart.replica " +
      "(k BIGINT, total BIGINT, cnt BIGINT)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the upsert WRITER stream (kept open across the whole test)
    val mem = MemoryStream[(Long, Long)]
    val writer = withShuffle4 {
      mem.toDF().toDF("k", "v").groupBy("k")
        .agg(sum("v").as("total"), count(lit(1)).as("cnt"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "k")
        .option("upsertMode", "equality")
        .option("checkpointLocation", tmpDir("gch-cp-w"))
        .toTable(s"$cat.mart.eq")
    }
    def epoch(data: (Long, Long)*): Unit = withShuffle4 {
      mem.addData(data: _*); writer.processAllAvailable()
    }

    // CDC-apply: per batch, the LATEST action per key wins (emission
    // beats delete at the same epoch — an epoch's rows survive their
    // own sidecar), then MERGE into the replica
    def applyBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k"))
        .orderBy(col("_change_epoch").desc,
          when(col("_change_type") === "delete", 0).otherwise(1).desc)
      val latest = df
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      latest.createOrReplaceTempView("cdc_batch")
      df.sparkSession.sql(s"""MERGE INTO $cat.mart.replica t
        USING cdc_batch s ON t.k = s.k
        WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET total = s.total, cnt = s.cnt
        WHEN NOT MATCHED AND s._change_type <> 'delete'
          THEN INSERT (k, total, cnt) VALUES (s.k, s.total, s.cnt)""")
    }
    val cdcCp = tmpDir("gch-cp-cdc")
    def startCdc() = spark.readStream.table(s"$cat.mart.eq.changes")
      .writeStream.option("checkpointLocation", cdcCp)
      .foreachBatch(applyBatch _).start()

    try {
      epoch((1L, 10L), (2L, 20L), (3L, 30L))
      epoch((2L, 5L), (4L, 40L))
      val cdc1 = startCdc()
      try cdc1.processAllAvailable() finally cdc1.stop()
      def state(t: String) = spark.table(s"$cat.mart.$t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(state("replica") == state("eq"),
        s"CDC replica diverged after catch-up: ${state("replica")} " +
          s"vs ${state("eq")}")

      // restart from the checkpoint: only NEW epochs deliver
      epoch((1L, 1L), (5L, 50L))
      val cdc2 = startCdc()
      try {
        cdc2.processAllAvailable()
        // exactly-once: delivered batches after restart carry only the
        // new epoch's changes (emissions + deletes), never a replay
        val replayed = cdc2.recentProgress
          .map(_.numInputRows).sum
        assert(replayed <= 5,
          s"restart re-delivered old epochs ($replayed rows)")
      } finally cdc2.stop()
      assert(state("replica") == state("eq"),
        s"CDC replica diverged after restart: ${state("replica")} " +
          s"vs ${state("eq")}")
    } finally writer.stop()
  }

  test("streaming changes: maxEpochsPerTrigger bounds catch-up batches") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.ev (k BIGINT, v BIGINT)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir("gch-cp-cap-w"))
        .toTable(s"$cat.raw.ev")
      try {
        (1L to 3L).foreach { i =>
          mem.addData((i, i * 10)); q.processAllAvailable()
        }
      } finally q.stop()
    }
    val cq = spark.readStream
      .option("maxEpochsPerTrigger", "1")
      .table(s"$cat.raw.ev.changes")
      .writeStream.format("memory").queryName("gch_cap")
      .option("checkpointLocation", tmpDir("gch-cp-cap-r"))
      .start()
    try {
      cq.processAllAvailable()
      val rows = spark.table("gch_cap")
        .select(col("_change_epoch"), col("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(rows == Seq((0L, 1L), (1L, 2L), (2L, 3L)),
        s"capped stream lost or duplicated epochs: $rows")
      val nonEmpty = cq.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"3 epochs under maxEpochsPerTrigger=1 should take >= 3 " +
          s"batches, took $nonEmpty")
    } finally cq.stop()
  }

  test("streaming changes: materialization under a lagging consumer refuses, never partial") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.eq (k BIGINT, total BIGINT, cnt BIGINT)")
    runUpsertStream(cat, "eq") // epochs 0..2

    // a consumer that only delivered epoch 0 (toEpoch bound), then lags
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val cp = tmpDir("gch-cp-lag")
    def startLag(bounded: Boolean) = {
      val r = spark.readStream
      val r2 = if (bounded) r.option("toEpoch", "0") else r
      r2.table(s"$cat.mart.eq.changes")
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select(col("_change_epoch")).collect()
            .foreach(r => delivered.add(r.getLong(0)))
        }.start()
    }
    val cq1 = startLag(bounded = true)
    try cq1.processAllAvailable() finally cq1.stop()
    assert(!delivered.isEmpty)

    // history the consumer has NOT delivered is rewritten away
    spark.sql(s"CALL $cat.system.rewrite_deletes(table => 'mart.eq')").collect()

    // the restarted (now unbounded) consumer must refuse, not skip
    val cq2 = startLag(bounded = false)
    val e = intercept[Exception] {
      cq2.processAllAvailable(); cq2.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("materialized")),
      s"wrong refusal: ${msgs(e).mkString(" | ")}")
    import scala.jdk.CollectionConverters._
    assert(delivered.asScala.forall(_ == 0L),
      "the refusing consumer must not deliver partial history")

    // a FRESH consumer (new checkpoint) starts from the new horizon
    val cq3 = spark.readStream.table(s"$cat.mart.eq.changes")
      .writeStream.format("memory").queryName("gch_lag3")
      .option("checkpointLocation", tmpDir("gch-cp-lag3")).start()
    try cq3.processAllAvailable() finally cq3.stop()
    assert(spark.table("gch_lag3").collect().isEmpty)
  }

  test("streaming changes: Trigger.AvailableNow drains the retained feed and stops") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.an (k BIGINT, v BIGINT)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir("gch-cp-an-w"))
        .toTable(s"$cat.raw.an")
      try {
        mem.addData((1L, 10L)); q.processAllAvailable()
        mem.addData((2L, 20L)); q.processAllAvailable()
      } finally q.stop()
    }
    val cq = spark.readStream.table(s"$cat.raw.an.changes")
      .writeStream.format("memory").queryName("gch_an")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("gch-cp-an-r"))
      .start()
    assert(cq.awaitTermination(120000), "AvailableNow did not drain")
    val rows = spark.table("gch_an")
      .select(col("_change_epoch"), col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == Seq((0L, 1L), (1L, 2L)), s"drained feed mismatch: $rows")
  }

  test("changes feed on an evolved table: eras read through the era-aware index, stream replans") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.ev (k BIGINT, r STRING, " +
      "total BIGINT, d STRING) PARTITIONED BY (d)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String)]
    val cp = tmpDir("gch-cp-ev")
    def runEpoch(data: (Long, String, Long, String)*): Unit = withShuffle4 {
      val q = mem.toDF().toDF("k", "r", "v", "d").groupBy("d", "r", "k")
        .agg(sum("v").as("total"))
        .select(col("k"), col("r"), col("total"), col("d"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "k")
        .option("upsertMode", "equality")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.mart.ev")
      try { mem.addData(data: _*); q.processAllAvailable() } finally q.stop()
    }
    runEpoch((1L, "a", 10L, "d1"), (2L, "b", 20L, "d2")) // era: (d)
    spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'mart.ev', add_column => 'r')").collect()
    runEpoch((1L, "a", 1L, "d1"), (3L, "c", 30L, "d2")) // era: (d, r)
    // the post-evolution epoch really laid out (d, r)
    val fs = fsOf(root)
    assert(fs.exists(new Path(s"$root/mart/ev/d=d2/r=c")),
      "post-evolution epoch did not land under the (d, r) layout")

    val feed = spark.table(s"$cat.mart.ev.changes").collect().map { r =>
      (r.getString(r.fieldIndex("_change_type")),
        r.getLong(r.fieldIndex("_change_epoch")),
        r.getLong(r.fieldIndex("k")),
        Option(r.getAs[String]("r")).getOrElse("-"),
        Option(r.getAs[String]("d")).getOrElse("-"),
        if (r.isNullAt(r.fieldIndex("total"))) -1L
        else r.getLong(r.fieldIndex("total")))
    }.sorted.toSeq
    val expected = Seq(
      ("delete", 1L, 1L, "-", "-", -1L), ("delete", 1L, 3L, "-", "-", -1L),
      ("insert", 0L, 1L, "a", "d1", 10L),
      ("insert", 0L, 2L, "b", "d2", 20L),
      ("upsert", 1L, 1L, "a", "d1", 11L),
      ("upsert", 1L, 3L, "c", "d2", 30L)).sorted
    assert(feed == expected, s"evolved feed mismatch:\n$feed\nvs\n$expected")

    // epoch-bounded read stays exact across the evolution boundary
    val e1 = spark.table(s"$cat.mart.ev.changes")
      .where(col("_change_epoch") === 1 &&
        col("_change_type") === "upsert")
      .select(col("k"), col("d")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(e1 == Seq((1L, "d1"), (3L, "d2")))

    // the STREAM replans each batch through the era-aware index
    val cq = spark.readStream.table(s"$cat.mart.ev.changes")
      .writeStream.format("memory").queryName("gch_ev")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("gch-cp-ev-r"))
      .start()
    assert(cq.awaitTermination(120000))
    val streamed = spark.table("gch_ev")
      .select(col("_change_type"), col("_change_epoch"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == feed.map(t => (t._1, t._2, t._3)).sorted,
      s"streamed evolved feed diverged: $streamed")
  }

  test("metadata relations: files answers from listings, history tracks retained versions") {
    val (cat, root) = freshCatalog(versions = 3)
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 'A'), (2, 'A'), (3, 'B')")
    spark.sql(s"CALL $cat.system.analyze('ods.t')").collect()

    val files = spark.table(s"$cat.ods.t.files").collect()
    assert(files.nonEmpty)
    assert(files.forall(r => r.getString(r.fieldIndex("partition"))
      .startsWith("seg=")))
    val recs = files.map(r => r.getLong(r.fieldIndex("records"))).sum
    assert(recs == 3L, s"manifest records should sum to 3, got $recs")
    assert(files.forall(r => r.isNullAt(r.fieldIndex("stream_epoch"))))
    assert(files.forall(r => !r.getBoolean(r.fieldIndex("has_dv"))))
    // a LocalScan: zero input tasks
    val plan = spark.table(s"$cat.ods.t.files")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"files should plan as a " +
      s"LocalTableScan:\n$plan")

    // <t>.partitions: the per-partition rollup of the same listing
    val parts = spark.table(s"$cat.ods.t.partitions").collect()
      .map(r => (r.getString(0), r.getLong(1) > 0,
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    assert(parts == Seq(("seg=A", true, 2L), ("seg=B", true, 1L)),
      s"partitions rollup mismatch: $parts")

    // corrupting the data files must not matter — metadata only
    corruptFiles(root, "ods/t/seg=A", _ => false)
    assert(spark.table(s"$cat.ods.t.files").collect().length ==
      files.length)

    // a file whose identity drifted from the manifest entry reports
    // NULL records (stale counts must never serve), others keep theirs
    val fs = fsOf(root)
    val segB = fs.listStatus(new Path(s"$root/ods/t/seg=B"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    assert(segB.nonEmpty)
    fs.setTimes(segB.head.getPath, segB.head.getModificationTime + 12345, -1)
    val afterTouch = spark.table(s"$cat.ods.t.files").collect()
    val touchedRel = segB.head.getPath.toUri.getPath
      .stripPrefix(new Path(s"$root/ods/t").toUri.getPath).stripPrefix("/")
    assert(afterTouch.filter(_.getString(0) == touchedRel)
      .forall(_.isNullAt(3)), "stale manifest row count served")
    assert(afterTouch.exists(r => r.getString(0) != touchedRel &&
      !r.isNullAt(3)))
    // the rollup goes NULL for the whole partition (a partial sum
    // would read as a total), others keep theirs
    val partsTouched = spark.table(s"$cat.ods.t.partitions").collect()
      .map(r => (r.getString(0), r.isNullAt(3))).toMap
    assert(partsTouched("seg=B") && !partsTouched("seg=A"),
      s"stale rollup handling wrong: $partsTouched")

    spark.sql(s"INSERT OVERWRITE $cat.ods.t VALUES (9, 'C')")
    val hist = spark.table(s"$cat.ods.t.history").collect().map { r =>
      (if (r.isNullAt(0)) -1 else r.getInt(0), r.getBoolean(1))
    }.toSeq
    assert(hist == Seq((1, false), (-1, true)),
      s"history mismatch: $hist")
    // and timestamps are publish-ordered
    val ts = spark.table(s"$cat.ods.t.history")
      .collect().map(_.getTimestamp(2).getTime).toSeq
    assert(ts == ts.sorted, s"history not publish-ordered: $ts")

    // an unknown metadata relation is a missing table, not a crash
    val miss = intercept[Exception] {
      spark.table(s"$cat.ods.t.nosuch").collect()
    }
    assert(miss.getMessage.toLowerCase.contains("cannot be found") ||
      miss.getMessage.toLowerCase.contains("not found"),
      s"wrong error: ${miss.getMessage}")
  }

  test("batch DML changelog: INSERT/UPDATE/DELETE/MERGE diffs in commit order, preimages from tombstones, replay converges") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"UPDATE $cat.ods.t SET v = 21 WHERE k = 2")
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k = 3")
    spark.createDataFrame(Seq((1L, 11L), (4L, 40L))).toDF("k", "v")
      .createOrReplaceTempView("gch_src")
    spark.sql(s"MERGE INTO $cat.ods.t t USING gch_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")

    val feed = spark.table(s"$cat.ods.t.changes")
      .select(col("_change_epoch"), col("_change_type"), col("k"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq

    // commit ordering: 4 DML statements = positions 0..3, strictly
    assert(feed.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L),
      s"commit ordering broken: ${feed.map(_._1).distinct.sorted}")
    // every commit's net effect is exact (file-granular carryover
    // pre/post pairs cancel): signed replay in commit order — pre-
    // images (delete | update_preimage) retract, postimages accrue
    val replayed = feed.sortBy(_._1)
      .foldLeft(Map.empty[(Long, Long), Int]) { case (m, (_, t, k, v)) =>
        if (t == "delete" || t == "update_preimage") {
          val n = m.getOrElse((k, v), 0) - 1
          if (n == 0) m - ((k, v)) else m + ((k, v) -> n)
        } else m + ((k, v) -> (m.getOrElse((k, v), 0) + 1))
      }
    val live = spark.table(s"$cat.ods.t").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), 1)).toMap
    assert(replayed == live, s"replay diverged: $replayed vs $live")
    assert(live.keySet == Set((1L, 11L), (2L, 21L), (4L, 40L)))

    // the UPDATE commit serves Delta-CDF update pairs (r15 item 5):
    // its preimage (k=2, v=20) reads from the TOMBSTONED pre-rewrite
    // file under the update_preimage label, its successor under
    // update_postimage — and the DELETE commit keeps plain `delete`
    val pre1 = feed.filter(r => r._1 == 1L && r._2 == "update_preimage")
      .map(r => (r._3, r._4))
    assert(pre1.contains((2L, 20L)),
      s"UPDATE preimage missing from commit 1: $pre1")
    assert(feed.filter(r => r._1 == 1L && r._2 == "update_postimage")
      .map(r => (r._3, r._4)).contains((2L, 21L)),
      "UPDATE postimage missing from commit 1")
    assert(feed.filter(_._1 == 1L).forall(r =>
      r._2 == "update_preimage" || r._2 == "update_postimage"),
      s"UPDATE commit leaked non-pair labels: ${feed.filter(_._1 == 1L)}")
    assert(feed.filter(r => r._1 == 2L && r._4 == 30L)
      .forall(_._2 == "delete"),
      "DELETE commit must keep the delete label for its removed rows")

    // an epoch-bounded read of REWRITTEN history still serves: commit
    // 0's insert rows read from their tombstone instances
    val e0 = spark.table(s"$cat.ods.t.changes")
      .where(col("_change_epoch") === 0)
      .select(col("_change_type"), col("k"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(e0 == Seq(("insert", 1L, 10L), ("insert", 2L, 20L),
      ("insert", 3L, 30L)), s"bounded rewritten-history read: $e0")

    // type pushdown composes with epoch bounds — and the new pair
    // types push down like any other
    val onlyDeletes = spark.table(s"$cat.ods.t.changes")
      .where(col("_change_type") === "delete" && col("_change_epoch") <= 2)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(onlyDeletes.contains((3L, 30L)) && !onlyDeletes.contains((2L, 20L)),
      s"typed bounded read: $onlyDeletes")
    val onlyPre = spark.table(s"$cat.ods.t.changes")
      .where(col("_change_type") === "update_preimage" &&
        col("_change_epoch") <= 2)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(onlyPre.contains((2L, 20L)), s"typed pair read: $onlyPre")
  }

  test("unified feed replay-converges across the stream/batch boundary; batch rewrite of emission files serves from tombstones (r15 item 2)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.u (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.u VALUES (1, 10), (2, 20)") // c0
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir("gch-cp-uni"))
        .toTable(s"$cat.ods.u")
      try {
        mem.addData((3L, 30L), (4L, 40L)); q.processAllAvailable() // c1
        mem.addData((5L, 50L)); q.processAllAvailable() // c2
      } finally q.stop()
    }
    // c3: batch MERGE rewrites the file holding k=3 — a STREAM
    // emission file retires into a tombstone under a journaled remove
    spark.createDataFrame(Seq((3L, 31L), (6L, 60L))).toDF("k", "v")
      .createOrReplaceTempView("gch_uni_src")
    spark.sql(s"MERGE INTO $cat.ods.u t USING gch_uni_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    spark.sql(s"DELETE FROM $cat.ods.u WHERE k = 2") // c4

    val feed = spark.table(s"$cat.ods.u.changes")
      .select(col("_change_epoch"), col("_change_type"), col("k"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(feed.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L, 4L),
      s"one monotonic axis expected: ${feed.map(_._1).distinct.sorted}")
    // stream epochs serve at their journal positions as inserts
    assert(feed.filter(_._1 == 1L).map(r => (r._2, r._3)).sorted ==
      Seq(("insert", 3L), ("insert", 4L)), s"c1: ${feed.filter(_._1 == 1L)}")
    assert(feed.filter(_._1 == 2L).map(r => (r._2, r._3)) ==
      Seq(("insert", 5L)), s"c2: ${feed.filter(_._1 == 2L)}")
    // signed replay across the boundary converges to the live state
    val replayed = feed.sortBy(_._1)
      .foldLeft(Map.empty[(Long, Long), Int]) { case (m, (_, t, k, v)) =>
        if (t == "delete" || t == "update_preimage") {
          val n = m.getOrElse((k, v), 0) - 1
          if (n == 0) m - ((k, v)) else m + ((k, v) -> n)
        } else m + ((k, v) -> (m.getOrElse((k, v), 0) + 1))
      }
    val live = spark.table(s"$cat.ods.u").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), 1)).toMap
    assert(replayed == live, s"replay diverged: $replayed vs $live")
    assert(live.keySet ==
      Set((1L, 10L), (3L, 31L), (4L, 40L), (5L, 50L), (6L, 60L)))
    // the MERGE's preimage (3, 30) reads from the tombstoned emission
    // file instance — cross-machinery instance resolution
    assert(feed.filter(r => r._1 == 3L && r._2 == "update_preimage")
      .map(r => (r._3, r._4)).contains((3L, 30L)),
      s"stream preimage missing: ${feed.filter(_._1 == 3L)}")
    // journal shape: the interleave is literal
    val dirP = new Path(s"$root/ods/u")
    val hfs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(GraftCommits.list(hfs, dirP).map(_.kind) ==
      Seq("append", "stream_epoch", "stream_epoch", "rewrite", "rewrite"))
  }

  test("unified feed serves equality-upsert epochs at journal positions with keyed deletes (r15 item 2)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.eq (k BIGINT, total BIGINT, " +
      "cnt BIGINT)")
    // c0: a batch generation first — the table is MIXED from birth
    spark.sql(s"INSERT INTO $cat.ods.eq VALUES (9, 90, 1)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").groupBy("k")
        .agg(sum("v").as("total"), count(lit(1)).as("cnt"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "k")
        .option("upsertMode", "equality")
        .option("checkpointLocation", tmpDir("gch-cp-equni"))
        .toTable(s"$cat.ods.eq")
      try {
        mem.addData((1L, 10L), (2L, 20L)); q.processAllAvailable() // c1
        mem.addData((1L, 1L)); q.processAllAvailable() // c2: retracts k=1
      } finally q.stop()
    }
    val feed = spark.table(s"$cat.ods.eq.changes")
      .select(col("_change_epoch"), col("_change_type"), col("k"),
        col("total"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSeq
    // batch insert at c0; upsert emissions at journal positions; the
    // epoch-2 sidecar's retraction of k=1 serves as a keyed delete row
    assert(feed.filter(_._1 == 0L).map(r => (r._2, r._3)) ==
      Seq(("insert", 9L)), s"c0: ${feed.filter(_._1 == 0L)}")
    val c2 = feed.filter(_._1 == 2L).sorted
    assert(c2.exists(r => r._2 == "upsert" && r._3 == 1L && r._4 == 11L),
      s"c2 upsert emission: $c2")
    assert(c2.exists(r => r._2 == "delete" && r._3 == 1L && r._4 == -1L),
      s"c2 keyed delete: $c2")
    // keyed replay converges: within one position the keyed delete
    // retracts OLDER rows, so deletes apply before that position's
    // upsert rows (the documented consumption order)
    val byKey = feed
      .sortBy(r => (r._1, if (r._2 == "delete") 0 else 1))
      .foldLeft(Map.empty[Long, Option[Long]]) {
        case (m, (_, t, k, total)) =>
          if (t == "delete") m + (k -> None) else m + (k -> Some(total))
      }
    val live = spark.table(s"$cat.ods.eq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byKey.collect { case (k, Some(t)) => (k, t) }.toMap == live,
      s"keyed replay diverged: $byKey vs $live")
  }

  test("mor deltas serve exact keyed update pairs; pure mor DELETE stays delete-typed (r15 item 5)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $cat.ods.p VALUES (1,10), (2,20), (3,30)")
    spark.sql(s"UPDATE $cat.ods.p SET v = v + 1 WHERE k IN (1, 3)") // c1
    spark.sql(s"DELETE FROM $cat.ods.p WHERE k = 2") // c2: dv-only
    val feed = spark.table(s"$cat.ods.p.changes")
      .select(col("_change_epoch"), col("_change_type"), col("k"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // the mor UPDATE is EXACT: preimages are precisely the matched
    // rows (no copy-on-write carryover), keyed 1:1 with postimages
    val pre = feed.filter(r => r._1 == 1 && r._2 == "update_preimage")
      .map(r => (r._3, r._4)).sorted
    val post = feed.filter(r => r._1 == 1 && r._2 == "update_postimage")
      .map(r => (r._3, r._4)).sorted
    assert(pre == Seq((1L, 10L), (3L, 30L)), s"mor preimages: $pre")
    assert(post == Seq((1L, 11L), (3L, 31L)), s"mor postimages: $post")
    assert(pre.map(_._1) == post.map(_._1), "pairing keys diverged")
    // dv-only DELETE keeps the delete label with the original row
    assert(feed.filter(_._1 == 2) == Seq((2L, "delete", 2L, 20L))
      .map(t => (t._1, t._2, t._3, t._4)),
      s"mor delete commit: ${feed.filter(_._1 == 2)}")
  }

  test("batch changelog: full replace floors the feed; bounds below refuse; mixed stream+batch refuses") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.r (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.r VALUES (1, 10)")
    // the full replace journals a `replace` floor: history at or below
    // it is not row-level servable (Delta's overwrite-under-CDF
    // posture, loud not silent)
    spark.sql(s"INSERT OVERWRITE $cat.ods.r VALUES (5, 50), (6, 60)")
    assert(spark.table(s"$cat.ods.r.changes").collect().isEmpty,
      "post-replace feed should be empty until the next commit")
    // the replaced generation's rows are accounted by the floor record
    // but not row-level servable
    spark.sql(s"INSERT INTO $cat.ods.r VALUES (7, 70)")
    val feed = spark.table(s"$cat.ods.r.changes")
      .select(col("_change_epoch"), col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(feed == Seq((2L, 7L)), s"post-replace feed: $feed")
    val e = intercept[Exception] {
      spark.table(s"$cat.ods.r.changes")
        .where(col("_change_epoch") >= 0).collect()
    }
    assert(e.getMessage.contains("not row-level servable"),
      s"wrong floor refusal: ${e.getMessage}")

    // mixed histories now interleave on the journal axis (r15 item 2):
    // stream epochs journal stream_epoch records under the same table
    // lock batch commits use, so the feed serves one coherent history
    spark.sql(s"CREATE TABLE $cat.ods.m (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.m VALUES (1, 1)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withShuffle4 {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", tmpDir("gch-cp-mix"))
        .toTable(s"$cat.ods.m")
      try {
        mem.addData((2L, 2L)); q.processAllAvailable()
      } finally q.stop()
    }
    val mixed = spark.table(s"$cat.ods.m.changes")
      .select(col("_change_epoch"), col("_change_type"), col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(mixed == Seq((0L, "insert", 1L), (1L, "insert", 2L)),
      s"unified mixed feed: $mixed")
    // the refusal REMAINS for genuinely un-ordered legacy dirs: an
    // emission file no stream_epoch record accounts (pre-journaling
    // history, or a crash between marker and record)
    val mRoot = new Path(spark.conf.get(s"spark.sql.catalog.$cat.root") +
      "/ods/m")
    val mFs = mRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = new Path(mRoot, "part-sdeadbeef-e000000000009-x.parquet")
    mFs.create(legacy, true).close()
    val e2 = intercept[Exception] {
      spark.table(s"$cat.ods.m.changes").collect()
    }
    assert(e2.getMessage.contains("no common ordering"),
      s"wrong mixed refusal: ${e2.getMessage}")
    mFs.delete(legacy, false)
  }

  test("batch changelog streams: incremental commit delivery, restart exactly-once, replaced-journal refusal") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.s (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.s VALUES (1, 10), (2, 20)")

    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val cp = tmpDir("gch-cp-batchcdc")
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.table(s"$cat.ods.s.changes")
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select(col("_change_epoch"), col("_change_type"), col("k"))
            .collect().foreach(r =>
              got.add((r.getLong(0), r.getString(1), r.getLong(2))))
        }.start()

    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted ==
      Seq((0L, "insert", 1L), (0L, "insert", 2L)),
      s"first delivery: ${got.asScala.toSeq.sorted}")

    // new commits while the stream is down deliver exactly once on
    // restart (offsets are commit ids)
    spark.sql(s"DELETE FROM $cat.ods.s WHERE k = 2")
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val all = got.asScala.toSeq.sorted
    // exactly-once: commit 0 was NOT re-delivered; commit 1's rows are
    // file-granular net changes (the single file's carryover row k=1
    // re-emits as a cancelling delete+insert pair), so assert the NET
    val net1 = all.filter(_._1 == 1L)
      .groupMapReduce(_._3)(r => if (r._2 == "delete") -1 else 1)(_ + _)
      .filter(_._2 != 0)
    assert(all.count(_._1 == 0L) == 2 && net1 == Map(2L -> -1),
      s"restart delivery: $all")

    // a full replace floors the feed above the checkpoint: the
    // undelivered history is not row-level servable — the restarted
    // stream refuses loudly
    spark.sql(s"INSERT OVERWRITE $cat.ods.s VALUES (9, 90)")
    spark.sql(s"INSERT INTO $cat.ods.s VALUES (8, 80)")
    val q3 = run()
    val e = intercept[Exception] { q3.processAllAvailable(); q3.stop() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no longer row-level servable")),
      s"wrong floored-feed refusal: ${msgs(e).mkString(" | ")}")

    // a dropped and re-created table starts a new journal: the
    // checkpoint's history is gone — the restarted stream refuses
    spark.sql(s"DROP TABLE $cat.ods.s")
    spark.sql(s"CREATE TABLE $cat.ods.s (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.s VALUES (7, 70)")
    val q4 = run()
    val e4 = intercept[Exception] { q4.processAllAvailable(); q4.stop() }
    assert(msgs(e4).exists(_.contains("replaced")),
      s"wrong replaced-journal refusal: ${msgs(e4).mkString(" | ")}")
  }

  test("NOT NULL data column reads nullable through .changes: IS NULL finds the delete rows") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.nn " +
      "(k BIGINT, total BIGINT NOT NULL, cnt BIGINT)")
    runUpsertStream(cat, "nn")
    // sidecar delete rows carry NULL for every non-key column; after V2
    // pushdown the plan's output takes the SCAN's nullability, so a scan
    // that kept the table's NOT NULL flag would fold `total IS NULL` to
    // false and the delete rows would silently vanish (r14 ADVICE)
    val dels = spark.table(s"$cat.mart.nn.changes")
      .where(col("total").isNull)
      .select(col("_change_type"), col("_change_epoch"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(dels == Seq(("delete", 1L, 2L), ("delete", 2L, 1L),
      ("delete", 2L, 4L)), s"delete rows lost or mislabeled: $dels")
  }

  test("stream bounded only by toEpoch at/below the horizon refuses at start (batch parity)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.mart.eq (k BIGINT, total BIGINT, cnt BIGINT)")
    runUpsertStream(cat, "eq") // epochs 0..2
    spark.sql(s"CALL $cat.system.rewrite_deletes(table => 'mart.eq')").collect()
    // batch refuses a toEpoch-only bound reaching into rewritten history;
    // a FRESH stream on the same bound must refuse identically instead of
    // silently draining nothing (r14 ADVICE: initialOffset only checked
    // the lower bound)
    val cq = spark.readStream.option("toEpoch", "1")
      .table(s"$cat.mart.eq.changes")
      .writeStream.format("memory").queryName("gch_hibound")
      .option("checkpointLocation", tmpDir("gch-cp-hibound")).start()
    val e = intercept[Exception] { cq.processAllAvailable(); cq.stop() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("materialized")),
      s"wrong refusal: ${msgs(e).mkString(" | ")}")
  }
}
