package graft.sources

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write-time CHECK constraints ([[GraftCheck]]): durable
  * `constraints.check.<name>` table properties enforced on every
  * row-ingest surface — V1 inserts, the object API, streaming epochs,
  * dynamic overwrites, and row-level rewrites — with Delta's
  * ADD-CONSTRAINT existing-rows validation and SQL's NULL-passes rule.
  */
class GraftCheckSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshCatalog(): (String, String) = {
    n += 1
    val name = s"gck${n}_${System.nanoTime()}"
    val root = tmpDir(s"graft-ck-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def violates[T](body: => T): String = {
    val e = intercept[Throwable](body)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val all = msgs(e)
    assert(all.exists(_.contains("CHECK constraint")),
      s"expected a CHECK violation, got: ${all.mkString(" | ")}")
    all.find(_.contains("CHECK constraint")).get
  }

  test("V1 inserts enforce; violations name the constraint; nothing commits; NULL passes") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, bal BIGINT) " +
      "TBLPROPERTIES ('constraints.check.bal_nonneg' = 'bal >= 0')")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10), (2, 0)")
    // NULL is unknown — passes, the SQL standard rule
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (3, NULL)")
    val msg = violates {
      spark.sql(s"INSERT INTO $cat.ods.t VALUES (4, 5), (5, -1)")
    }
    assert(msg.contains("bal_nonneg") && msg.contains("bal >= 0"), msg)
    // the failed insert committed NOTHING
    val ks = spark.table(s"$cat.ods.t").select(col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(1L, 2L, 3L), s"partial commit after violation: $ks")
    // INSERT OVERWRITE enforces too
    violates {
      spark.sql(s"INSERT OVERWRITE $cat.ods.t VALUES (9, -9)")
    }
    assert(spark.table(s"$cat.ods.t").count() == 3)
  }

  test("a full replace keeps the table's metadata and commit journal") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // delete_mode stands in for any durable property: CREATE keeps
    // only the keys the catalog understands
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, bal BIGINT) " +
      "TBLPROPERTIES ('constraints.check.c' = 'bal >= 0', " +
      "'delete_mode' = 'copy-on-write')")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 1)")
    spark.sql(s"INSERT OVERWRITE $cat.ods.t VALUES (2, 2)")
    // the constraint still enforces after the replace
    violates { spark.sql(s"INSERT INTO $cat.ods.t VALUES (3, -3)") }
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (3, 3)")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.ods.t").collect()
      .map(_.getString(0)).toSet
    assert(props.contains("delete_mode") && props.contains("constraints.check.c"),
      s"properties after the replace: $props")
    // the journal survives too: the replace is one more record
    val kinds = spark.table(s"$cat.ods.t.commits").orderBy("commit_id")
      .select(col("kind")).as[String].collect().toSeq
    assert(kinds == Seq("append", "replace", "append"), s"commits: $kinds")

    // the object API's full replace (the dimension-rebuild path)
    val eng = graft.runtime.Catalog(spark, root)
    eng.createOrReplaceByName(Seq((1L, "a")).toDF("k", "s"), "dds", "dim")
    eng.createOrReplaceByName(Seq((2L, "b")).toDF("k", "s"), "dds", "dim")
    val dim = new org.apache.hadoop.fs.Path(eng.path("dds", "dim"))
    val fs = dim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dim, "_graft_meta")),
      "the replace dropped the table's metadata sidecar")
    assert(eng.table("dds", "dim").as[(Long, String)].collect().toSeq ==
      Seq((2L, "b")))
  }

  test("DDL validation: unknown column, non-boolean, nondeterministic, subquery all refuse") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.ods.bad$n (k BIGINT) " +
          s"TBLPROPERTIES ('constraints.check.c' = '$sql')")
      }
      assert(e.getMessage.contains(needle),
        s"wrong refusal for ($sql): ${e.getMessage}")
      n += 1
    }
    refuse("nope > 0", "does not resolve")
    refuse("k + 1", "not boolean")
    refuse("rand() > 0.5", "nondeterministic")
    refuse("k > (SELECT 1)", "subquery")
    refuse("sum(k) > 0", "row-level expression")
    refuse("k > unix_timestamp(current_timestamp())", "per QUERY")
  }

  test("ADD CONSTRAINT validates existing rows; UNSET lifts enforcement") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, bal BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10), (2, -5)")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES " +
        "('constraints.check.bal_nonneg' = 'bal >= 0')")
    }
    assert(e.getMessage.contains("violated by an existing row"),
      e.getMessage)
    spark.sql(s"DELETE FROM $cat.ods.t WHERE bal < 0")
    spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES " +
      "('constraints.check.bal_nonneg' = 'bal >= 0')")
    violates { spark.sql(s"INSERT INTO $cat.ods.t VALUES (3, -1)") }
    spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES " +
      "('constraints.check.bal_nonneg')")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (3, -1)") // now admitted
    assert(spark.table(s"$cat.ods.t").count() == 2)
  }

  test("row-level rewrites enforce: UPDATE and MERGE cannot write a violating row") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    // partitioned (hive-layout COW) AND unpartitioned (replace-files COW)
    spark.sql(s"CREATE TABLE $cat.ods.p (k BIGINT, bal BIGINT, d STRING) " +
      "PARTITIONED BY (d) " +
      "TBLPROPERTIES ('constraints.check.bal_nonneg' = 'bal >= 0')")
    spark.sql(s"INSERT INTO $cat.ods.p VALUES (1, 10, 'a'), (2, 20, 'b')")
    violates {
      spark.sql(s"UPDATE $cat.ods.p SET bal = bal - 100 WHERE k = 1")
    }
    assert(spark.table(s"$cat.ods.p").where(col("bal") < 0).count() == 0)

    spark.sql(s"CREATE TABLE $cat.ods.u (k BIGINT, bal BIGINT) " +
      "TBLPROPERTIES ('constraints.check.bal_nonneg' = 'bal >= 0')")
    spark.sql(s"INSERT INTO $cat.ods.u VALUES (1, 10), (2, 20)")
    violates {
      spark.sql(s"UPDATE $cat.ods.u SET bal = -1 WHERE k = 2")
    }
    assert(spark.table(s"$cat.ods.u").where(col("bal") < 0).count() == 0)
    violates {
      spark.sql(s"""MERGE INTO $cat.ods.u t
        USING (SELECT 9L AS k, -9L AS bal) s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(spark.table(s"$cat.ods.u").count() == 2)

    // dynamic partition overwrite enforces (v2 hive-layout write)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try violates {
      spark.sql(s"INSERT OVERWRITE $cat.ods.p VALUES (7, -7, 'a')")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("streaming epochs enforce; the object API enforces") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.s (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('constraints.check.v_pos' = 'v > 0')")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmpDir("gck-cp"))
      .toTable(s"$cat.ods.s")
    try {
      mem.addData((1L, 10L))
      q.processAllAvailable() // valid epoch commits
      mem.addData((2L, -2L))
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("CHECK constraint")),
        s"stream did not enforce: ${msgs(e).mkString(" | ")}")
    } finally q.stop()
    assert(spark.table(s"$cat.ods.s").count() == 1)

    // object API: the same table dir through graft.runtime.Catalog
    val eng = graft.runtime.Catalog(spark, root)
    violates {
      eng.append(Seq((3L, -3L)).toDF("k", "v"), "ods", "s", Nil)
    }
    assert(spark.table(s"$cat.ods.s").count() == 1)
  }

  test("NOT NULL: declared at CREATE, toggled by ALTER COLUMN, enforced where Spark's analyzer never runs") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT NOT NULL, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ods.t VALUES (1, 10), (2, NULL)")

    // the object API runs no analyzer null-check — the internal
    // constraint is what stands between a null and the files
    val eng = graft.runtime.Catalog(spark, root)
    violates {
      eng.append(Seq((null.asInstanceOf[java.lang.Long], 3L))
        .toDF("k", "v").selectExpr("CAST(k AS BIGINT) AS k", "v"),
        "ods", "t", Nil)
    }
    assert(spark.table(s"$cat.ods.t").count() == 2)

    // streaming toTable hands the query schema straight through — same
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.lang.Long, java.lang.Long)]
    val q = mem.toDF().selectExpr("CAST(_1 AS BIGINT) AS k",
        "CAST(_2 AS BIGINT) AS v")
      .writeStream.option("checkpointLocation", tmpDir("gck-nn-cp"))
      .toTable(s"$cat.ods.t")
    try {
      mem.addData((null: java.lang.Long, java.lang.Long.valueOf(7L)))
      val e = intercept[Throwable] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("CHECK constraint")),
        s"stream admitted a null into a NOT NULL column: " +
          msgs(e).mkString(" | "))
    } finally q.stop()

    // TIGHTENING rides the constraint-property surface (Spark's
    // analyzer hardcodes a refusal of ALTER COLUMN SET NOT NULL for v2
    // catalogs — it cannot know the catalog validates the data); the
    // existing-rows probe still applies
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES " +
        "('constraints.check.v_not_null' = 'v IS NOT NULL')")
    }
    assert(e2.getMessage.contains("existing row"), e2.getMessage)
    spark.sql(s"DELETE FROM $cat.ods.t WHERE v IS NULL")
    spark.sql(s"ALTER TABLE $cat.ods.t SET TBLPROPERTIES " +
      "('constraints.check.v_not_null' = 'v IS NOT NULL')")
    violates {
      eng.append(Seq((9L, null.asInstanceOf[java.lang.Long])).toDF("k", "v")
        .selectExpr("k", "CAST(v AS BIGINT) AS v"), "ods", "t", Nil)
    }
    spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES " +
      "('constraints.check.v_not_null')")
    eng.append(Seq((9L, null.asInstanceOf[java.lang.Long])).toDF("k", "v")
      .selectExpr("k", "CAST(v AS BIGINT) AS v"), "ods", "t", Nil)
    assert(spark.table(s"$cat.ods.t").count() == 2)

    // RELAXING a declared NOT NULL is plain DDL: DROP NOT NULL removes
    // the internal constraint with the schema flag
    spark.sql(s"ALTER TABLE $cat.ods.t ALTER COLUMN k DROP NOT NULL")
    eng.append(Seq((null.asInstanceOf[java.lang.Long],
        java.lang.Long.valueOf(6L))).toDF("k", "v")
      .selectExpr("CAST(k AS BIGINT) AS k", "v"), "ods", "t", Nil)
    assert(spark.table(s"$cat.ods.t").where(col("k").isNull).count() == 1)
    spark.sql(s"DELETE FROM $cat.ods.t WHERE k IS NULL")

    // a NOT NULL column renames freely — enforcement follows the name
    spark.sql(s"CREATE TABLE $cat.ods.r (k BIGINT NOT NULL, v BIGINT)")
    spark.sql(s"ALTER TABLE $cat.ods.r RENAME COLUMN k TO key")
    violates {
      eng.append(Seq((null.asInstanceOf[java.lang.Long],
          java.lang.Long.valueOf(5L)))
        .toDF("key", "v").selectExpr("CAST(key AS BIGINT) AS key", "v"),
        "ods", "r", Nil)
    }
  }

  test("DROP or RENAME of a referenced column refuses (silent un-enforcement)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT, bal BIGINT) " +
      "TBLPROPERTIES ('constraints.check.bal_nonneg' = 'bal >= 0')")
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ods.t DROP COLUMN bal")
    }
    assert(e1.getMessage.contains("CHECK constraint references"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN bal TO balance")
    }
    assert(e2.getMessage.contains("CHECK constraint references"),
      e2.getMessage)
    // unreferenced columns stay evolvable
    spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN k TO key")
    spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES " +
      "('constraints.check.bal_nonneg')")
    spark.sql(s"ALTER TABLE $cat.ods.t RENAME COLUMN bal TO balance")
  }

  test("UNSET on an internal __not_null_ key refuses; bindLenient skips ONLY missing columns") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.t (k BIGINT NOT NULL, v BIGINT)")
    // unsetting the backing prop alone would leave the schema declaring
    // NOT NULL with enforcement gone — IsNull folding would then return
    // wrong results once a null lands (r14 ADVICE); the schema flag and
    // the constraint must move together via DROP NOT NULL
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ods.t UNSET TBLPROPERTIES " +
        "('constraints.check.__not_null_k')")
    }
    assert(e.getMessage.contains("DROP NOT NULL"), e.getMessage)
    spark.sql(s"ALTER TABLE $cat.ods.t ALTER COLUMN k DROP NOT NULL")
    assert(!spark.table(s"$cat.ods.t").schema("k").nullable == false)

    // bindLenient's skip is ONLY for a referenced column the write does
    // not carry (partial-row positional deletes); any OTHER resolve
    // failure (type drift, analysis regression) must throw, or the
    // CHECK silently un-enforces on that write with no signal
    import org.apache.spark.sql.types._
    val ws = StructType(Seq(StructField("k", LongType)))
    assert(GraftCheck.bindLenient(spark, ws,
      Seq(GraftCheck.Constraint("c1", "missing_col > 0"))).isEmpty)
    val e2 = intercept[IllegalArgumentException] {
      GraftCheck.bindLenient(spark, ws,
        Seq(GraftCheck.Constraint("c2", "array_contains(k, 1)")))
    }
    assert(e2.getMessage.contains("does not resolve"), e2.getMessage)
  }
}
