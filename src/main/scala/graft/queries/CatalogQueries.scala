package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.OracleIdioms.bi
import graft.runtime.{Catalog, Tables}

/** Driver-oracle coverage for the relational CATALOG components that
  * were previously spec-only (VERDICT r07 item 6): row-level MERGE,
  * schema-evolution reads, and multi-format storage round-trips. Each
  * query builds a throwaway catalog under java tmp, drives the real
  * component against testdata-derived frames, and emits a result DuckDB
  * can recompute from the raw parquet alone — so the driver's
  * correctness gate now checks these code paths end to end, not just
  * the ScalaTest specs (CatalogSpec / MergeSpec /
  * MultiFormatCatalogSpec, which keep the crash-injection and
  * edge-case coverage SQL can't express).
  */
object CatalogQueries {

  private def scratch(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** q159 — row-level MERGE (upsert + delete) through
    * [[graft.runtime.Catalog.merge]]: customers' balances are the
    * target; every 7th key is an update (of which every 21st is a
    * delete), every 13th key spawns a brand-new inserted row. The
    * emitted frame is the post-merge table — so matched-replace,
    * matched-delete, unmatched-insert, and untouched-keep all land in
    * the compare.
    *
    * Scale shape: the merge itself is the production path (anti-join
    * keep + union, staged full replace); nothing here collects. Deterministic
    * arithmetic only (key modulo), so both engines agree exactly.
    */
  def q159MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q159"))
    val base = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"),
        expr("cast(round(c_acctbal * 100) as long)").as("bal_cents"),
        col("c_mktsegment").as("seg"))
    cat.createOrReplace(base, "ods", "balances")
    val updates = base.filter(col("k") % 7 === 0)
      .select(col("k"), (col("k") * 100).as("bal_cents"), col("seg"),
        (col("k") % 21 === 0).as("del"))
      .unionByName(base.filter(col("k") % 13 === 0)
        .select((col("k") + 10000000L).as("k"), col("k").as("bal_cents"),
          lit("NEW").as("seg"), lit(false).as("del")))
    cat.merge(updates, "ods", "balances", keyCols = Seq("k"),
      deleteCol = Some("del"))
    cat.read("ods", "balances").select(col("k"), col("bal_cents"), col("seg"))
  }

  val q159Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS k,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |    c_mktsegment AS seg
      |  FROM customer),
      |upd AS (
      |  SELECT k, CAST(k * 100 AS BIGINT) AS bal_cents, seg,
      |    (k % 21 = 0) AS del
      |  FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k + 10000000, CAST(k AS BIGINT), 'NEW', false
      |  FROM base WHERE k % 13 = 0)
      |SELECT b.k, b.bal_cents, b.seg FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)
      |UNION ALL
      |SELECT k, bal_cents, seg FROM upd WHERE NOT del""".stripMargin

  /** q160 — schema-evolution read through
    * [[graft.runtime.Catalog.read]]: half the orders land with the
    * original two-column schema, the other half append later with an
    * extra `price_cents` column (the append adds it to the table schema
    * first); the catalog scan must surface the union schema with nulls
    * for the pre-evolution files. This is
    * the storage-layer twin of the ingest tier's `Normalize` drift
    * handling.
    */
  def q160SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q160"))
    val orders = Tables.load(spark, dir, "orders")
    cat.createOrReplace(
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust")),
      "ods", "evolved")
    cat.append(
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          expr("cast(round(o_totalprice * 100) as long)").as("price_cents")),
      "ods", "evolved", partitionCols = Nil)
    cat.read("ods", "evolved")
      .select(col("k"), col("cust"), col("price_cents"))
  }

  val q160Oracle: String =
    """SELECT o_orderkey AS k, o_custkey AS cust,
      |  CAST(NULL AS BIGINT) AS price_cents
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT)
      |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin

  /** q161 — multi-format storage round-trip: the same nation frame is
    * written and read back through every format the catalog supports
    * (parquet, orc, json, csv — csv via header + schema inference),
    * and each round-trip must preserve row count, key sum, and name
    * character mass exactly. Exercises the per-format reader/writer
    * option wiring that only MultiFormatCatalogSpec touched before.
    */
  def q161Multiformat(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    Catalog.Formats.toSeq.sorted.map { fmt =>
      val cat = Catalog(spark, scratch(s"graft-q161-$fmt"), format = fmt)
      cat.createOrReplace(nation, "ods", "nation")
      cat.read("ods", "nation").agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_nationkey").cast("long")).as("key_sum"),
        sum(length(col("n_name")).cast("long")).as("name_chars"))
        .withColumn("fmt", lit(fmt))
        .select(col("fmt"), col("n_rows"), col("key_sum"), col("name_chars"))
    }.reduce(_ unionByName _)
  }

  val q161Oracle: String =
    s"""SELECT f.fmt, ${bi("count(*)")} AS n_rows,
       |  ${bi("sum(n_nationkey)")} AS key_sum,
       |  ${bi("sum(length(n_name))")} AS name_chars
       |FROM nation, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) f(fmt)
       |GROUP BY f.fmt""".stripMargin

  /** q172 — snapshot versioning / time travel through
    * [[graft.runtime.Catalog]] (`versions` retention + `readVersion` +
    * `changesBetween`): three successive states of a balance table
    * (base → +1000 on every 3rd key → drop every 5th key); the query
    * reads BOTH retained versions, the live table, and the op-tagged
    * changelog between the retained versions, and summarizes each.
    * DuckDB recomputes every state from the raw table, so a versioning
    * bug (wrong archive, wrong diff direction, lost rows) breaks the
    * hash.
    */
  def q172TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q172"), versions = 4)
    val base = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"),
        expr("cast(round(c_acctbal * 100) as long)").as("bal"),
        col("c_mktsegment").as("seg"))
    val stateB = base.withColumn("bal",
      when(col("k") % 3 === 0, col("bal") + 1000L).otherwise(col("bal")))
    val stateC = stateB.filter(col("k") % 5 =!= 0)
    cat.createOrReplace(base, "ods", "hist")
    cat.createOrReplace(stateB, "ods", "hist")
    cat.createOrReplace(stateC, "ods", "hist")
    val hist = cat.history("ods", "hist")
    def summ(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("bal")).as("bal_sum"))
        .select(lit(tag).as("state"), col("seg"), col("n"), col("bal_sum"))
    val chg = cat
      .changesBetween("ods", "hist", hist.head, Some(hist.last))
      .groupBy(col("__op"))
      .agg(count(lit(1)).as("n"), sum(col("bal")).as("bal_sum"))
      .select(concat(lit("chg_"), col("__op")).as("state"),
        lit("__all__").as("seg"), col("n"), col("bal_sum"))
    summ(cat.readVersion("ods", "hist", hist.head), "v_first")
      .unionByName(summ(cat.readVersion("ods", "hist", hist.last), "v_second"))
      .unionByName(summ(cat.read("ods", "hist"), "live"))
      .unionByName(chg)
  }

  val q172Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |    c_mktsegment AS seg
       |  FROM customer),
       |b AS (
       |  SELECT k, CASE WHEN k % 3 = 0 THEN bal + 1000 ELSE bal END AS bal,
       |    seg
       |  FROM base),
       |c AS (SELECT * FROM b WHERE k % 5 <> 0)
       |SELECT 'v_first' AS state, seg, ${bi("count(*)")} AS n,
       |  ${bi("sum(bal)")} AS bal_sum FROM base GROUP BY seg
       |UNION ALL
       |SELECT 'v_second', seg, ${bi("count(*)")}, ${bi("sum(bal)")}
       |FROM b GROUP BY seg
       |UNION ALL
       |SELECT 'live', seg, ${bi("count(*)")}, ${bi("sum(bal)")}
       |FROM c GROUP BY seg
       |UNION ALL
       |SELECT 'chg_insert', '__all__', ${bi("count(*)")}, ${bi("sum(bal)")}
       |FROM b WHERE k % 3 = 0
       |UNION ALL
       |SELECT 'chg_delete', '__all__', ${bi("count(*)")}, ${bi("sum(bal)")}
       |FROM base WHERE k % 3 = 0""".stripMargin

  /** q173 — small-files compaction through
    * [[graft.runtime.Catalog.compact]]: the fact table lands as 8
    * separate appends (8+ file groups), is compacted through the
    * staged full replace, and must preserve every row and measure
    * exactly.
    * File-count and layout assertions stay in CatalogMaintenanceSpec;
    * this is the driver-checked data-preservation contract.
    */
  def q173Compaction(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q173"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_linenumber").as("ln"),
        expr("cast(round(l_extendedprice * 100) as long)").as("price"))
    (0 until 8).foreach { i =>
      cat.append(li.filter(col("k") % 8 === i), "ods", "facts", Nil)
    }
    cat.compact("ods", "facts")
    cat.read("ods", "facts")
      .groupBy((col("k") % 4).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("price_sum"),
        sum(col("ln").cast("long")).as("ln_sum"))
  }

  val q173Oracle: String =
    s"""SELECT l_orderkey % 4 AS bucket, ${bi("count(*)")} AS n_rows,
       |  ${bi("sum(CAST(round(l_extendedprice * 100) AS BIGINT))")}
       |    AS price_sum,
       |  ${bi("sum(l_linenumber)")} AS ln_sum
       |FROM lineitem GROUP BY l_orderkey % 4""".stripMargin

  /** q174 — incremental materialized-aggregate maintenance
    * ([[graft.runtime.Catalog.refreshAggregate]]): per-customer order
    * totals built from THREE delta batches folded into the stored
    * aggregate, never rescanning history; the final table must equal
    * DuckDB's one-shot GROUP BY over all orders. The core IVM claim —
    * incremental == full recompute — as a driver-checked hash.
    */
  def q174IvmAggregate(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q174"))
    val orders = Tables.load(spark, dir, "orders")
    (0 until 3).foreach { i =>
      val delta = orders.filter(col("o_orderkey") % 3 === i)
        .select(col("o_custkey").as("cust"),
          expr("cast(round(o_totalprice * 100) as long)").as("cents"),
          lit(1L).as("cnt"))
      cat.refreshAggregate(delta, "mart", "cust_totals",
        keys = Seq("cust"), measures = Seq("cents", "cnt"))
    }
    cat.read("mart", "cust_totals")
  }

  val q174Oracle: String =
    s"""SELECT o_custkey AS cust,
       |  ${bi("sum(CAST(round(o_totalprice * 100) AS BIGINT))")} AS cents,
       |  ${bi("count(*)")} AS cnt
       |FROM orders GROUP BY o_custkey""".stripMargin

  /** q175 — incremental materialized JOIN-view maintenance
    * ([[graft.runtime.Catalog.refreshJoin]], the append-only IVM delta
    * rule ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB): the customer⋈orders view is built
    * from a bootstrap batch, a left-only delta, and a right-only
    * delta; the final view must equal the one-shot join. Every delta
    * term and the double-count guard are on the hash path.
    */
  def q175IvmJoin(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q175"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        expr("cast(round(o_totalprice * 100) as long)").as("cents"))
    cat.refreshJoin(Some(c.filter(col("ck") % 2 === 0)),
      Some(o.filter(col("ok") % 2 === 0)),
      "mart", "cust_orders", "cust", "ord", Seq("ck"))
    cat.refreshJoin(Some(c.filter(col("ck") % 2 === 1)), None,
      "mart", "cust_orders", "cust", "ord", Seq("ck"))
    cat.refreshJoin(None, Some(o.filter(col("ok") % 2 === 1)),
      "mart", "cust_orders", "cust", "ord", Seq("ck"))
    cat.read("mart", "cust_orders")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents_sum"))
  }

  val q175Oracle: String =
    s"""SELECT c.c_mktsegment AS seg, ${bi("count(*)")} AS n_orders,
       |  ${bi("sum(CAST(round(o.o_totalprice * 100) AS BIGINT))")}
       |    AS cents_sum
       |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       |GROUP BY c.c_mktsegment""".stripMargin

  /** q176 — bucketed co-located join through
    * [[graft.runtime.Catalog.writeBucketed]]/`readBucketed`: both
    * sides bucketed 8-way on the join key, joined WITHOUT any shuffle
    * (the zero-Exchange plan assertion lives in CatalogSpec); the
    * driver checks the join's RESULTS against DuckDB's plain join, so
    * a bucket-misalignment bug (rows hashed to different buckets on
    * the two sides silently dropping matches) breaks the hash.
    */
  def q176BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val cat = Catalog(spark, scratch("graft-q176"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("ck"),
        expr("cast(round(o_totalprice * 100) as long)").as("cents"))
    cat.writeBucketed(c, "ods", "cust_b", 8, Seq("ck"))
    cat.writeBucketed(o, "ods", "ord_b", 8, Seq("ck"))
    cat.readBucketed("ods", "cust_b")
      .join(cat.readBucketed("ods", "ord_b"), "ck")
      .groupBy(col("seg"))
      .agg(countDistinct(col("ck")).as("n_custs"),
        max(col("cents")).as("max_cents"))
  }

  val q176Oracle: String =
    s"""SELECT c.c_mktsegment AS seg,
       |  ${bi("count(DISTINCT c.c_custkey)")} AS n_custs,
       |  ${bi("max(CAST(round(o.o_totalprice * 100) AS BIGINT))")}
       |    AS max_cents
       |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       |GROUP BY c.c_mktsegment""".stripMargin

  /** q177 — declarative data-quality expectations
    * ([[graft.ops.Expectations]]): four named rules over a
    * deterministically-drifted documents frame (every 7th doc's
    * n_chars corrupted, every 11th doc's lang unknowned); the output
    * is each violated rule's row count plus the clean-row count, so
    * the tagging, null-safe predicate handling, and exhaustive split
    * are all on the driver's hash path.
    */
  def q177Expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations
    val d = Tables.load(spark, dir, "documents")
      .withColumn("n_chars", when(col("doc_id") % 7 === 0,
        col("n_chars") + 1).otherwise(col("n_chars")))
      .withColumn("lang", when(col("doc_id") % 11 === 0, lit("xx"))
        .otherwise(col("lang")))
    val rules = Seq(
      Expectations.Rule("nonempty_text", length(trim(col("text"))) > 0),
      Expectations.Rule("known_lang",
        col("lang").isin("en", "de", "es", "fr", "zh")),
      Expectations.Rule("id_in_range",
        col("doc_id") >= 0 && col("doc_id") < 100000),
      Expectations.Rule("chars_match",
        col("n_chars") === length(col("text"))))
    val tagged = Expectations.tag(d, rules)
      .transform(graft.runtime.Materialize.once)
    val perRule = tagged
      .select(explode(col("failed_rules")).as("rule"))
      .groupBy(col("rule")).agg(count(lit(1)).as("n"))
    val cleanRow = tagged.filter(size(col("failed_rules")) === 0)
      .agg(count(lit(1)).as("n"))
      .select(lit("__clean__").as("rule"), col("n"))
    perRule.unionByName(cleanRow)
  }

  val q177Oracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END AS lang,
       |    n_chars + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS n_chars
       |  FROM documents),
       |v AS (
       |  SELECT doc_id,
       |    NOT coalesce(length(trim(text)) > 0, false) AS v_nonempty,
       |    NOT coalesce(lang IN ('en','de','es','fr','zh'), false) AS v_lang,
       |    NOT coalesce(doc_id >= 0 AND doc_id < 100000, false) AS v_id,
       |    NOT coalesce(n_chars = length(text), false) AS v_chars
       |  FROM d),
       |counts AS (
       |  SELECT 'nonempty_text' AS rule,
       |    ${bi("sum(CASE WHEN v_nonempty THEN 1 ELSE 0 END)")} AS n FROM v
       |  UNION ALL
       |  SELECT 'known_lang',
       |    ${bi("sum(CASE WHEN v_lang THEN 1 ELSE 0 END)")} FROM v
       |  UNION ALL
       |  SELECT 'id_in_range',
       |    ${bi("sum(CASE WHEN v_id THEN 1 ELSE 0 END)")} FROM v
       |  UNION ALL
       |  SELECT 'chars_match',
       |    ${bi("sum(CASE WHEN v_chars THEN 1 ELSE 0 END)")} FROM v
       |  UNION ALL
       |  SELECT '__clean__',
       |    ${bi("""sum(CASE WHEN NOT v_nonempty AND NOT v_lang
       |                 AND NOT v_id AND NOT v_chars THEN 1 ELSE 0 END)""")}
       |  FROM v)
       |SELECT rule, n FROM counts
       |WHERE n > 0 OR rule = '__clean__'""".stripMargin

  /** Registers a throwaway [[graft.sources.GraftCatalog]] under a
    * unique session-catalog name over a scratch root. Unique because
    * catalog instances are cached by name with their option snapshot —
    * a reused name would pin the first invocation's scratch dir.
    */
  private def sqlCatalog(spark: SparkSession, prefix: String,
                         versions: Int = 0,
                         autoAnalyze: Boolean = false): String = {
    val dir = scratch(prefix)
    val name = prefix + java.lang.Long.toHexString(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).take(8)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xff)))
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", dir)
    if (versions > 0)
      spark.conf.set(s"spark.sql.catalog.$name.versions", versions.toString)
    if (autoAnalyze)
      spark.conf.set(s"spark.sql.catalog.$name.auto_analyze", "true")
    name
  }

  /** q182 — the session-catalog plugin ([[graft.sources.GraftCatalog]]):
    * tables addressed by NAME through SQL, the reference's
    * `spark.table("iceberg.raw.daily_reports")` addressing mode
    * (process_covid_ods.py:30). The full DDL+DML round-trip runs on the
    * driver's hash path: CREATE NAMESPACE → CREATE TABLE (partitioned)
    * → INSERT INTO (twice — append semantics) → INSERT OVERWRITE of a
    * second unpartitioned table → a SQL join of the two BY NAME.
    * DuckDB recomputes the same state from the raw parquet, so broken
    * name resolution, a lost append, or a bad overwrite all break the
    * hash.
    *
    * Scale shape: writes are the catalog's staged append / full-replace
    * commits (no collects); the partitioned fact table
    * gets hive pruning on any later day-scoped read.
    */
  def q182SqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g182")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g182_orders")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g182_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.facts " +
      "(ok BIGINT, cust BIGINT, cents BIGINT, pri STRING) PARTITIONED BY (pri)")
    spark.sql(s"""INSERT INTO $cat.ods.facts
      SELECT o_orderkey, o_custkey,
        CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority
      FROM g182_orders WHERE o_orderkey % 2 = 0""")
    spark.sql(s"""INSERT INTO $cat.ods.facts
      SELECT o_orderkey, o_custkey,
        CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority
      FROM g182_orders WHERE o_orderkey % 2 = 1""")
    spark.sql(s"CREATE TABLE $cat.ods.dim (ck BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $cat.ods.dim SELECT c_custkey, 'WRONG' FROM g182_customer")
    spark.sql(s"INSERT OVERWRITE $cat.ods.dim " +
      "SELECT c_custkey, c_mktsegment FROM g182_customer")
    spark.sql(s"""SELECT d.seg, f.pri, count(*) AS n, sum(f.cents) AS cents_sum
      FROM $cat.ods.facts f JOIN $cat.ods.dim d ON d.ck = f.cust
      GROUP BY d.seg, f.pri""")
  }

  val q182Oracle: String =
    s"""SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
       |  ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(o.o_totalprice * 100) AS BIGINT))")}
       |    AS cents_sum
       |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |GROUP BY c.c_mktsegment, o.o_orderpriority""".stripMargin

  /** q183 — `MERGE INTO` as SQL TEXT through the session catalog's
    * [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
    * (group-based copy-on-write): the exact q159 scenario — every 7th
    * key updated, every 21st deleted, every 13th key inserted as new —
    * driven by the MERGE statement instead of the `Catalog.merge` call,
    * checked against the same oracle algebra. A DELETE statement then
    * removes a slice SQL-side, so both row-level commands sit on the
    * hash path.
    */
  def q183SqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g183")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g183_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.balances (k BIGINT, bal_cents BIGINT, seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.balances
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g183_customer""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW g183_updates AS
      SELECT c_custkey AS k, CAST(c_custkey * 100 AS BIGINT) AS bal_cents,
        c_mktsegment AS seg, (c_custkey % 21 = 0) AS del
      FROM g183_customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, CAST(c_custkey AS BIGINT), 'NEW', false
      FROM g183_customer WHERE c_custkey % 13 = 0""")
    spark.sql(s"""MERGE INTO $cat.ods.balances t USING g183_updates u ON t.k = u.k
      WHEN MATCHED AND u.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.bal_cents = u.bal_cents, t.seg = u.seg
      WHEN NOT MATCHED THEN INSERT (k, bal_cents, seg)
        VALUES (u.k, u.bal_cents, u.seg)""")
    spark.sql(s"DELETE FROM $cat.ods.balances WHERE seg = 'NEW' AND k % 2 = 0")
    spark.table(s"$cat.ods.balances")
      .select(col("k"), col("bal_cents"), col("seg"))
  }

  val q183Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS k,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |    c_mktsegment AS seg
      |  FROM customer),
      |upd AS (
      |  SELECT k, CAST(k * 100 AS BIGINT) AS bal_cents, seg,
      |    (k % 21 = 0) AS del
      |  FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k + 10000000, CAST(k AS BIGINT), 'NEW', false
      |  FROM base WHERE k % 13 = 0),
      |merged AS (
      |  SELECT b.k, b.bal_cents, b.seg FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)
      |  UNION ALL
      |  SELECT k, bal_cents, seg FROM upd WHERE NOT del)
      |SELECT k, bal_cents, seg FROM merged
      |WHERE NOT (seg = 'NEW' AND k % 2 = 0)""".stripMargin

  /** q184 — time travel as SQL TEXT: `VERSION AS OF` resolving through
    * the session catalog's `loadTable(ident, version)` onto the
    * engine's version store — the SQL twin of q172's object-API
    * `readVersion` (and of the reference's Iceberg snapshot reads).
    * Three full-replace states land through INSERT OVERWRITE with
    * version retention on (`spark.sql.catalog.<name>.versions`); the
    * result unions per-segment summaries of version 1, version 2, and
    * the live table, so the snapshot numbering, the archived bytes,
    * and the live read all sit on the oracle hash.
    */
  def q184SqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g184", versions = 4)
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g184_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.hist (k BIGINT, bal BIGINT, seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.hist
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g184_customer""")
    spark.sql(s"""INSERT OVERWRITE $cat.ods.hist
      SELECT c_custkey,
        CASE WHEN c_custkey % 3 = 0
          THEN CAST(round(c_acctbal * 100) AS BIGINT) + 1000
          ELSE CAST(round(c_acctbal * 100) AS BIGINT) END,
        c_mktsegment
      FROM g184_customer""")
    spark.sql(s"""INSERT OVERWRITE $cat.ods.hist
      SELECT c_custkey,
        CASE WHEN c_custkey % 3 = 0
          THEN CAST(round(c_acctbal * 100) AS BIGINT) + 1000
          ELSE CAST(round(c_acctbal * 100) AS BIGINT) END,
        c_mktsegment
      FROM g184_customer WHERE c_custkey % 5 <> 0""")
    spark.sql(s"""
      SELECT 'v_first' AS state, seg, count(*) AS n, sum(bal) AS bal_sum
      FROM $cat.ods.hist VERSION AS OF 1 GROUP BY seg
      UNION ALL
      SELECT 'v_second', seg, count(*), sum(bal)
      FROM $cat.ods.hist VERSION AS OF 2 GROUP BY seg
      UNION ALL
      SELECT 'live', seg, count(*), sum(bal)
      FROM $cat.ods.hist GROUP BY seg""")
  }

  /** q185 — schema evolution as SQL DDL: `ALTER TABLE ADD COLUMN`
    * (metadata-only; pre-change files null-fill the new column on
    * read), widening `ALTER COLUMN TYPE` (r13 item 2 — Iceberg's
    * metadata-only safe promotion: the first file era stays INT on
    * disk and the parquet readers promote it to the declared BIGINT),
    * `RENAME COLUMN` (r12 item 8 — metadata-only via the sidecar's
    * field-id aliases), and `DROP COLUMN` (readers stop projecting
    * it), through the session catalog's sidecar-schema alterTable —
    * the SQL twin of q160's object-API schema evolution. The
    * aggregate runs over the RENAMED + WIDENED column across both
    * file eras — one era narrow-physical, one wide — old rows group
    * under a NULL segment, new rows under their real one, and the
    * post-drop column count proves DROP took effect, all on one
    * oracle hash. Narrowing type changes REQUIRE a refusal in-plan,
    * and the widening REQUIRES zero rewritten files in-plan.
    */
  def q185SqlSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g185")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g185_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.hist (k BIGINT, bal INT)")
    spark.sql(s"""INSERT INTO $cat.ods.hist
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS INT)
      FROM g185_customer WHERE c_custkey % 2 = 0""")
    spark.sql(s"ALTER TABLE $cat.ods.hist ADD COLUMN seg STRING")
    // widen bal INT -> BIGINT with the narrow era on disk: metadata-
    // only, proven in-plan by file-state identity across the ALTER
    def fileState(): Set[(String, Long, Long)] = {
      val dirP = new org.apache.hadoop.fs.Path(
        spark.conf.get(s"spark.sql.catalog.$cat.root") + "/ods/hist")
      val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.sources.GraftEvolved.listVisible(fs, dirP)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
    }
    val beforeWiden = fileState()
    spark.sql(s"ALTER TABLE $cat.ods.hist ALTER COLUMN bal TYPE BIGINT")
    require(fileState() == beforeWiden,
      "q185: the widening rewrote data files — must be metadata-only")
    spark.sql(s"""INSERT INTO $cat.ods.hist
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g185_customer WHERE c_custkey % 2 = 1""")
    // RENAME after both file eras exist: the aggregate below reads the
    // pre-rename files through the field-id alias, hash-checked
    spark.sql(s"ALTER TABLE $cat.ods.hist RENAME COLUMN bal TO bal_cents")
    val evolved = spark.sql(s"""
      SELECT seg, count(*) AS n, sum(bal_cents) AS bal_sum
      FROM $cat.ods.hist GROUP BY seg""")
    // NARROWING type changes stay refused — in-plan evidence
    val refused =
      try { spark.sql(
        s"ALTER TABLE $cat.ods.hist ALTER COLUMN k TYPE INT"); false }
      catch { case scala.util.control.NonFatal(_) => true }
    require(refused, "q185: narrowing ALTER COLUMN TYPE was not refused")
    spark.sql(s"ALTER TABLE $cat.ods.hist DROP COLUMN bal_cents")
    val postDrop = spark.table(s"$cat.ods.hist").columns.length.toLong
    evolved.unionAll(spark.sql(
      s"SELECT '__cols_after_drop__' AS seg, ${postDrop}L AS n, " +
        "CAST(NULL AS BIGINT) AS bal_sum"))
  }

  val q185Oracle: String =
    s"""SELECT CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS seg,
       |  ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(c_acctbal * 100) AS BIGINT))")} AS bal_sum
       |FROM customer GROUP BY 1
       |UNION ALL
       |SELECT '__cols_after_drop__', 2, NULL""".stripMargin

  /** q186 — catalog-scoped SQL FUNCTIONS
    * ([[graft.sources.GraftFunctions]] through the
    * [[graft.sources.GraftCatalog]] FunctionCatalog surface): the same
    * engine kernels the extension tier injects, but resolved as
    * `<catalog>.fn.<name>` with NO extensions install — the way the
    * reference's engines expose engine functions through their
    * connector catalogs. Exercises the scalar magic-method path
    * (`token_count`, `portable_hash` — direct Invoke, codegen-
    * compatible) composed inside builtin aggregates, AND the V2
    * AggregateFunction partial/merge contract (`sum_sq` — only the
    * 8-byte state crosses the exchange).
    *
    * Scale shape: one hash aggregate over documents; scalar functions
    * evaluate rowwise inside the scan stage, the custom aggregate
    * partial-aggregates map-side exactly like a builtin SUM.
    */
  def q186SqlFunctions(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g186")
    Tables.load(spark, dir, "documents").createOrReplaceTempView("g186_docs")
    spark.sql(s"""
      SELECT lang,
        CAST(sum($cat.fn.token_count(text)) AS BIGINT) AS tok_sum,
        CAST(max($cat.fn.token_count(text)) AS BIGINT) AS tok_max,
        $cat.fn.sum_sq(doc_id) AS id_sq,
        min($cat.fn.portable_hash(source)) AS src_h_min
      FROM g186_docs GROUP BY lang""")
  }

  /** DuckDB twin: the established ws-token and Horner-fold idioms from
    * [[OracleIdioms]] / the q21 hash replay, plus plain integer
    * arithmetic for the aggregate.
    */
  val q186Oracle: String = {
    import graft.functions.PortableHash.{Base, Mod}
    val srcHash =
      s"""list_reduce(list_transform(range(1, length(source) + 1),
         |      i -> ascii((source)[i])::BIGINT),
         |    (a, b) -> (a * $Base + b) % $Mod)""".stripMargin
    s"""WITH t AS (
       |  SELECT lang, doc_id,
       |    len(${OracleIdioms.wsTokensNonEmptySql("text")}) AS tok,
       |    $srcHash AS sh
       |  FROM documents)
       |SELECT lang,
       |  ${bi("sum(tok)")} AS tok_sum,
       |  ${bi("max(tok)")} AS tok_max,
       |  ${bi("sum(doc_id * doc_id)")} AS id_sq,
       |  ${bi("min(sh)")} AS src_h_min
       |FROM t GROUP BY lang""".stripMargin
  }

  /** q192 — metadata-only partition DELETE as SQL text
    * ([[graft.sources.GraftCatalog]] SupportsDeleteV2 via Spark's
    * OptimizeMetadataOnlyDeleteFromTable): `DELETE FROM t WHERE
    * <partition predicate>` on a partitioned catalog table drops the
    * matching hive DIRECTORIES — no data rewrite, cost bounded by
    * touched partitions, the Iceberg/Hive metadata-delete shape. Both
    * the `=` and `IN` translations run (the IN includes a value whose
    * directory name needs hive path escaping — '4-NOT SPECIFIED'), and
    * the surviving table is the oracle-checked output.
    */
  def q192SqlPartitionDelete(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g192")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g192_orders")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.facts " +
      "(ok BIGINT, cents BIGINT, pri STRING) PARTITIONED BY (pri)")
    spark.sql(s"""INSERT INTO $cat.ods.facts
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
        o_orderpriority
      FROM g192_orders""")
    spark.sql(s"DELETE FROM $cat.ods.facts WHERE pri = '1-URGENT'")
    spark.sql(
      s"DELETE FROM $cat.ods.facts WHERE pri IN ('5-LOW', '4-NOT SPECIFIED')")
    spark.sql(s"""SELECT pri, count(*) AS n, sum(cents) AS cents_sum
      FROM $cat.ods.facts GROUP BY pri""")
  }

  val q192Oracle: String =
    s"""SELECT o_orderpriority AS pri, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(o_totalprice * 100) AS BIGINT))")} AS cents_sum
       |FROM orders
       |WHERE o_orderpriority NOT IN ('1-URGENT', '5-LOW', '4-NOT SPECIFIED')
       |GROUP BY 1""".stripMargin

  /** q196 — `MERGE INTO` a PARTITIONED catalog table (r09 item 2): the
    * exact q183 scenario and oracle algebra, but the target is
    * `PARTITIONED BY (seg)`, so the statement exercises the partitioned
    * copy-on-write path end to end — Spark's runtime group filtering
    * (RowLevelOperationRuntimeGroupFiltering over the scan's
    * [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]])
    * narrows the rewrite to the partitions holding matched keys, the
    * replacement write lays rows back out in the hive layout
    * ([[graft.sources.GraftPartitionedCow]]), inserts land in a
    * brand-new `seg=NEW` partition, and the commit retires superseded
    * files only inside the scanned partitions (GraftCatalogSpec proves
    * untouched partitions stay byte-identical). The trailing DELETE
    * mixes a partition conjunct with a row predicate — not metadata-
    * translatable, so it rides the same partitioned rewrite, group-
    * filtered to `seg=NEW`. This is the reference's incremental unit
    * (`overwritePartitions()`, process_covid_ods.py:87) as pure SQL,
    * with cost bounded by touched partitions — the shape that survives
    * 100 TB.
    */
  def q196SqlMergePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g196")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g196_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.balances " +
      "(k BIGINT, bal_cents BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"""INSERT INTO $cat.ods.balances
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g196_customer""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW g196_updates AS
      SELECT c_custkey AS k, CAST(c_custkey * 100 AS BIGINT) AS bal_cents,
        c_mktsegment AS seg, (c_custkey % 21 = 0) AS del
      FROM g196_customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, CAST(c_custkey AS BIGINT), 'NEW', false
      FROM g196_customer WHERE c_custkey % 13 = 0""")
    spark.sql(s"""MERGE INTO $cat.ods.balances t USING g196_updates u ON t.k = u.k
      WHEN MATCHED AND u.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.bal_cents = u.bal_cents, t.seg = u.seg
      WHEN NOT MATCHED THEN INSERT (k, bal_cents, seg)
        VALUES (u.k, u.bal_cents, u.seg)""")
    spark.sql(s"DELETE FROM $cat.ods.balances WHERE seg = 'NEW' AND k % 2 = 0")
    spark.table(s"$cat.ods.balances")
      .select(col("k"), col("bal_cents"), col("seg"))
  }

  /** Same algebra as [[q183Oracle]] — the partitioned and unpartitioned
    * SQL merge paths must agree on the exact same final state.
    */
  val q196Oracle: String = q183Oracle

  /** q197 — BUCKETED catalog tables (r09 item 6): `PARTITIONED BY
    * (bucket(16, cust))` on two REAL warehouse tables; inserts route
    * rows into bucket-tagged files (one per bucket via the clustered
    * write distribution), scans report KeyGroupedPartitioning through
    * the catalog-resolved `bucket` function, and with
    * `spark.sql.sources.v2.bucketing.enabled` the fact-fact join below
    * storage-partition-joins with NO Exchange on either side
    * (GraftBucketingSpec pins the plan shape; this entry puts the
    * bucketed write→scan→join round-trip on the oracle hash). At
    * 100 TB this is the co-located fact join — the one shape where a
    * shuffle of both sides dominates everything else the query does.
    */
  def q197BucketedSqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g197")
    // save/restore around the query (r10 ADVICE): leaking the setting
    // into the shared bench session would make every LATER query's plan
    // depend on whether q197 ran first — an order-dependent confound in
    // the exact artifact the plan fingerprints are meant to compare.
    val bucketingKey = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(bucketingKey)
    spark.conf.set(bucketingKey, "true")
    try {
      Tables.load(spark, dir, "orders").createOrReplaceTempView("g197_orders")
      Tables.load(spark, dir, "customer").createOrReplaceTempView("g197_customer")
      spark.sql(s"CREATE NAMESPACE $cat.dds")
      spark.sql(s"CREATE TABLE $cat.dds.fact_orders " +
        "(cust BIGINT, cents BIGINT, pri STRING) PARTITIONED BY (bucket(16, cust))")
      spark.sql(s"CREATE TABLE $cat.dds.fact_balance " +
        "(cust BIGINT, bal_cents BIGINT, seg STRING) PARTITIONED BY (bucket(16, cust))")
      spark.sql(s"""INSERT INTO $cat.dds.fact_orders
        SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT),
          o_orderpriority
        FROM g197_orders""")
      spark.sql(s"""INSERT INTO $cat.dds.fact_balance
        SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
        FROM g197_customer""")
      // the joined frame is materialized INSIDE the conf scope: the
      // storage-partitioned planning happens at execution, and the
      // caller may run the returned frame after the restore below —
      // collect to a local relation so the measured plan is the one the
      // conf enabled. Result is |segments × priorities| ≈ 25 rows.
      val out = spark.sql(s"""SELECT b.seg, f.pri, count(*) AS n,
          sum(f.cents) AS cents_sum, sum(b.bal_cents) AS bal_sum
        FROM $cat.dds.fact_orders f
        JOIN $cat.dds.fact_balance b ON b.cust = f.cust
        GROUP BY b.seg, f.pri""")
      val rows = out.collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally prev match {
      case Some(v) => spark.conf.set(bucketingKey, v)
      case None => spark.conf.unset(bucketingKey)
    }
  }

  val q197Oracle: String =
    s"""SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
       |  ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(o.o_totalprice * 100) AS BIGINT))")} AS cents_sum,
       |  ${bi("sum(CAST(round(c.c_acctbal * 100) AS BIGINT))")} AS bal_sum
       |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |GROUP BY c.c_mktsegment, o.o_orderpriority""".stripMargin

  /** q198 — the STREAMING table-to-table pipeline on the oracle hash
    * path: `spark.readStream.table(src)` → `writeStream.toTable(dst)`,
    * both ends resolved by catalog NAME (MICRO_BATCH_READ +
    * STREAMING_WRITE). Two separate batch INSERTs land in `src` as two
    * file generations; the stream delivers generation 1, then
    * generation 2 arrives WHILE THE QUERY RUNS and is delivered as a
    * second micro-batch — exactly-once both times (epoch markers +
    * deterministic file names on the sink, checkpointed file log on
    * the source). The emitted frame is the destination table, whose
    * hash must equal the plain relational derivation of both
    * generations from `customer` — so dropped batches, duplicated
    * epochs, or partition-value corruption all break the compare.
    *
    * Scale shape: the driver handles file names and epoch markers
    * only; each micro-batch is the ordinary pruned batch scan over
    * that batch's files and a distributed staged-invisible append.
    */
  def q198StreamingTablePipeline(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g198")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g198_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.src (k BIGINT, bal_cents BIGINT, seg STRING)")
    spark.sql(s"CREATE TABLE $cat.raw.dst (k BIGINT, bal_cents BIGINT, seg STRING)")
    spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g198_customer WHERE c_custkey % 2 = 0""")
    val cp = scratch("graft-q198-cp")
    val q = spark.readStream.table(s"$cat.raw.src")
      .writeStream.option("checkpointLocation", cp)
      .toTable(s"$cat.raw.dst")
    q.processAllAvailable() // generation 1 delivered
    spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g198_customer WHERE c_custkey % 2 = 1""")
    q.processAllAvailable() // generation 2 delivered mid-stream
    q.stop()
    spark.table(s"$cat.raw.dst").select(col("k"), col("bal_cents"), col("seg"))
  }

  val q198Oracle: String =
    """SELECT c_custkey AS k,
      |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |  c_mktsegment AS seg
      |FROM customer""".stripMargin

  /** q199 — row-level SQL on a BUCKETED catalog table (r10 item 2): the
    * exact q183 merge+delete scenario and oracle algebra, but the
    * target is `PARTITIONED BY (bucket(16, k))`, so both statements
    * ride the bucket-preserving copy-on-write
    * ([[graft.sources.GraftPartitionedCow.PartitionedReplaceWrite]]
    * with the bucket spec threaded through): the replacement rows are
    * clustered by the bucket transform and land back in bucket-tagged
    * files. The emitted frame is the post-merge table, which DuckDB
    * recomputes relationally — so a rewrite that mis-routes a bucket,
    * loses carryover rows, or resurrects deleted ones breaks the hash;
    * GraftBucketingSpec separately asserts the zero-ShuffleExchange
    * same-spec join survives the rewrite (bucket tags intact). At
    * 100 TB this is "fact tables stay
    * co-located under row-level maintenance": the property that makes
    * bucketed layouts usable for mutable warehouse tables at all.
    */
  def q199BucketedSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g199")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g199_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.balances " +
      "(k BIGINT, bal_cents BIGINT, seg STRING) " +
      "PARTITIONED BY (bucket(16, k))")
    spark.sql(s"""INSERT INTO $cat.ods.balances
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g199_customer""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW g199_updates AS
      SELECT c_custkey AS k, CAST(c_custkey * 100 AS BIGINT) AS bal_cents,
        c_mktsegment AS seg, (c_custkey % 21 = 0) AS del
      FROM g199_customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, CAST(c_custkey AS BIGINT), 'NEW', false
      FROM g199_customer WHERE c_custkey % 13 = 0""")
    spark.sql(s"""MERGE INTO $cat.ods.balances t USING g199_updates u ON t.k = u.k
      WHEN MATCHED AND u.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.bal_cents = u.bal_cents, t.seg = u.seg
      WHEN NOT MATCHED THEN INSERT (k, bal_cents, seg)
        VALUES (u.k, u.bal_cents, u.seg)""")
    spark.sql(s"DELETE FROM $cat.ods.balances WHERE seg = 'NEW' AND k % 2 = 0")
    spark.table(s"$cat.ods.balances")
      .select(col("k"), col("bal_cents"), col("seg"))
  }

  /** Same algebra as [[q183Oracle]] — the bucketed target must reach
    * the exact same final state as the flat and hive-partitioned ones.
    */
  val q199Oracle: String = q183Oracle

  /** q200 — WATERMARKED STREAMING AGGREGATION landing in a catalog
    * table (r10 item 4): `readStream.table(src)` → `withWatermark` +
    * 10-minute tumbling window count/sum → Append-mode
    * `writeStream.toTable(dst)`, both ends catalog names. Event time is
    * synthesized deterministically (ts = custkey minutes), the stream
    * is fed as two time-ordered generations, and a far-future sentinel
    * row advances the watermark past every real window — so exactly
    * the FULL set of real windows finalizes, the sentinel's own window
    * (not yet closed) stays in state, and the landed table equals the
    * plain relational GROUP BY DuckDB recomputes. Late-arrival
    * correctness is inherent: generation 2's event times all exceed
    * generation 1's watermark, so nothing is dropped — and a dropped
    * batch, duplicated epoch, or premature (non-finalized) emission
    * each break the hash.
    *
    * Scale shape: streaming state = open windows only (watermark
    * eviction proven separately in StateEvictionSpec); each micro-batch
    * is a pruned scan of that batch's files plus a partial-aggregated
    * shuffle on (seg, window); the sink stages invisibly and commits
    * exactly-once per epoch.
    */
  def q200StreamingWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g200")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g200_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.src (seg STRING, ts TIMESTAMP, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.raw.agg " +
      "(seg STRING, win_min BIGINT, n BIGINT, cents_sum BIGINT) " +
      "PARTITIONED BY (seg)")
    val half = Tables.load(spark, dir, "customer")
      .agg(max(col("c_custkey"))).head.getLong(0) / 2
    def gen(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_mktsegment, timestamp_millis(c_custkey * 60000),
        CAST(round(c_acctbal * 100) AS BIGINT)
      FROM g200_customer WHERE $pred""")
    gen(s"c_custkey < $half")
    val cp = scratch("graft-q200-cp")
    // the streaming aggregate instantiates ONE state store per shuffle
    // partition per micro-batch (checkpointed to disk each commit) —
    // at this cardinality (|segments| x open windows) 32 partitions is
    // pure fixed overhead. 4 partitions is plenty; the setting is
    // pinned into the checkpoint at first start, and restored after
    // (try/finally) so later queries are unaffected.
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4")
    try {
    val q = spark.readStream.table(s"$cat.raw.src")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("seg"),
        org.apache.spark.sql.functions.window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
      .select(col("seg"),
        expr("unix_millis(window.start) DIV 60000").as("win_min"),
        col("n"), col("cents_sum"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .toTable(s"$cat.raw.agg")
    q.processAllAvailable() // generation 1 aggregated; open windows held
    gen(s"c_custkey >= $half")
    // the sentinel closes every real window; its own never finalizes
    spark.sql(s"INSERT INTO $cat.raw.src VALUES " +
      "('__SENTINEL__', timestamp_millis(86400000000000), 0)")
    q.processAllAvailable()
    q.stop()
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    spark.table(s"$cat.raw.agg")
      .select(col("seg"), col("win_min"), col("n"), col("cents_sum"))
  }

  /** DuckDB twin: the tumbling window over ts = custkey minutes is
    * exactly integer bucketing on custkey — every real window closes,
    * the sentinel never lands.
    */
  val q200Oracle: String =
    s"""SELECT c_mktsegment AS seg,
       |  CAST((c_custkey // 10) * 10 AS BIGINT) AS win_min,
       |  ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(c_acctbal * 100) AS BIGINT))")} AS cents_sum
       |FROM customer GROUP BY 1, 2""".stripMargin

  /** q201 — COMPLETE-output-mode streaming REFRESH of a catalog table
    * ([[graft.sources.GraftPartitionedCow.StreamingReplaceWrite]], the
    * round-10 "Append-only" gap closed): `readStream.table(src)` → an
    * unwatermarked running aggregate → `outputMode("complete")` →
    * `writeStream.toTable(dst)` lands the FULL aggregate state every
    * epoch as a staged-invisible whole-table replace, with the
    * superseded generation retired in the same commit. Two source
    * generations arrive while the query runs, so the landed table must
    * equal the one-shot GROUP BY over everything — a stale epoch
    * surviving the refresh, a dropped batch, or a double-applied
    * refresh each break the hash. This is the continuously-refreshed
    * mart dimension as a STREAM: the reference's `createOrReplace()`
    * rebuild unit (process_covid_dds.py:41-44) at trigger cadence.
    *
    * Scale shape: streaming state = one row per group (|segments|);
    * each epoch's write is distributed and hive-partitioned; the
    * replace retires exactly the previous generation's files.
    */
  def q201StreamingCompleteRefresh(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g201")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g201_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE TABLE $cat.raw.src (seg STRING, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.raw.agg " +
      "(seg STRING, n BIGINT, cents_sum BIGINT) PARTITIONED BY (seg)")
    def gen(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT)
      FROM g201_customer WHERE $pred""")
    gen("c_custkey % 2 = 0")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4") // state-store count, see q200
    try {
      val cp = scratch("graft-q201-cp")
      val q = spark.readStream.table(s"$cat.raw.src")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.raw.agg")
      q.processAllAvailable() // epoch 1: half the customers
      gen("c_custkey % 2 = 1")
      q.processAllAvailable() // epoch 2 refreshes to the full state
      q.stop()
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    spark.table(s"$cat.raw.agg")
      .select(col("seg"), col("n"), col("cents_sum"))
  }

  val q201Oracle: String =
    s"""SELECT c_mktsegment AS seg, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(c_acctbal * 100) AS BIGINT))")} AS cents_sum
       |FROM customer GROUP BY 1""".stripMargin

  /** q213 — UPDATE-output-mode streaming UPSERT into a catalog table
    * ([[graft.sources.GraftPartitionedCow.StreamingUpsertWrite]], r11
    * item 4 — the third output mode, completing Append/Complete):
    * `readStream.table(src)` → an unwatermarked running aggregate →
    * `outputMode("update")` + the `upsertKeys` option →
    * `writeStream.toTable(dst)`. Each epoch emits only the CHANGED
    * groups, and the sink applies them as one SQL `MERGE INTO` per
    * epoch (null-safe key equality, UPDATE SET * / INSERT *) — the
    * exact batch-MERGE machinery, so the landed table must equal the
    * one-shot GROUP BY over both source generations. An
    * append-duplicated group, a dropped epoch, or a double-applied
    * merge each break the hash. This is the continuously-maintained
    * mart table as a stream: per-epoch cost is the changed keys' COW
    * rewrite, not a world rebuild (Complete) or an ever-growing log
    * (Append).
    *
    * Scale shape: state = one row per group; each epoch stages its
    * changed groups distributed and key-joins them into the target
    * under the commit lock; the driver handles file names and the
    * epoch marker only.
    */
  def q213StreamingUpdateUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g213")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g213_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.raw.src (seg STRING, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.mart.state " +
      "(seg STRING, n BIGINT, cents_sum BIGINT)")
    def gen(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT)
      FROM g213_customer WHERE $pred""")
    gen("c_custkey % 2 = 0")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4") // state-store count, see q200
    try {
      val cp = scratch("graft-q213-cp")
      val q = spark.readStream.table(s"$cat.raw.src")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "seg")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.mart.state")
      q.processAllAvailable() // epoch 1: even custkeys inserted
      gen("c_custkey % 2 = 1")
      q.processAllAvailable() // epoch 2: every group UPSERTS in place
      q.stop()
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    spark.table(s"$cat.mart.state")
      .select(col("seg"), col("n"), col("cents_sum"))
  }

  /** Same one-shot algebra as [[q201Oracle]]: Update-upserts and
    * Complete-refreshes of the same aggregate must agree.
    */
  val q213Oracle: String = q201Oracle

  /** q214 — merge-on-read DELETE via deletion vectors
    * ([[graft.sources.GraftDv]]): `TBLPROPERTIES ('delete_mode' =
    * 'merge-on-read')` turns row-predicate DELETE into positional
    * sidecars instead of a copy-on-write rewrite — at 100 TB, deleting
    * 0.1% of rows scattered across many files costs kilobytes of
    * vector, not a rewrite of every touched file (Iceberg v2 position
    * deletes / Delta deletion vectors). Two accumulating deletes run
    * (a conjunction and a second overlapping predicate), the query
    * REQUIREs the data files stayed byte-identical while vectors
    * appeared (the no-rewrite evidence, in-plan), and the final
    * aggregate reads THROUGH the vectors — DuckDB recomputes from the
    * complement predicate, so a resurrected or over-deleted row breaks
    * the hash. GraftDvSpec covers the wider surface (COW interplay,
    * bucketed layouts, time travel, loud staleness).
    */
  def q214MorDelete(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g214")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g214_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.items " +
      "(okey BIGINT, qty BIGINT, rflag STRING) " +
      "TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    spark.sql(s"""INSERT INTO $cat.ods.items
      SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
      FROM g214_l""")
    val mx = spark.sql("SELECT max(l_orderkey) FROM g214_l").head.getLong(0)

    val loc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ods"), "items"))
      .properties().get("location")
    val base = new org.apache.hadoop.fs.Path(loc)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, (Long, Long)] =
      fs.listStatus(base).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    val before = dataFiles()

    // scale-relative predicates: a conjunction, then an overlapping
    // second delete — the vectors must UNION, not replace
    spark.sql(s"DELETE FROM $cat.ods.items " +
      s"WHERE rflag = 'R' AND okey < ${mx / 2}")
    spark.sql(s"DELETE FROM $cat.ods.items WHERE qty >= 45")

    require(dataFiles() == before,
      "q214: merge-on-read DELETE rewrote or retired data files")
    require(fs.exists(new org.apache.hadoop.fs.Path(base,
        graft.sources.GraftDv.DirName)) &&
      fs.listStatus(new org.apache.hadoop.fs.Path(base,
        graft.sources.GraftDv.DirName))
        .exists(_.getPath.getName.endsWith(".dv")),
      "q214: no deletion vectors were written")

    spark.table(s"$cat.ods.items")
      .groupBy(col("rflag"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
  }

  val q214Oracle: String =
    s"""SELECT l_returnflag AS rflag, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(l_quantity AS BIGINT))")} AS qty_sum
       |FROM lineitem
       |WHERE NOT (l_returnflag = 'R'
       |  AND l_orderkey < (SELECT max(l_orderkey) // 2 FROM lineitem))
       |  AND NOT (CAST(l_quantity AS BIGINT) >= 45)
       |GROUP BY l_returnflag""".stripMargin

  /** q202 — `MERGE INTO` + row-predicate `DELETE` on a TWO-LEVEL
    * (`yr=/mo=`) partitioned catalog table — the reference's landing
    * layout (covid_to_s3.py:41) under the leaf-exact copy-on-write
    * ([[graft.sources.GraftCowLeafScope]], r10 item 1). The established
    * merge algebra runs against a target whose partitions derive from
    * the key (yr = 2020 + k mod 3, mo = 1 + k mod 4), so matched keys
    * scatter across twelve leaves, inserted keys land in a brand-new
    * (2031, 7) leaf, and the trailing DELETE's matches concentrate in
    * the NEW leaf — every branch of the leaf commit logic (matched
    * rewrite, cartesian-corner carryover drop, outside-scope insert
    * publish) sits on the DuckDB hash. GraftCowLeafSpec separately
    * proves untouched sibling leaves stay byte-identical; this entry
    * proves the narrowed rewrite never loses or duplicates a row.
    */
  def q202TwoLevelLeafMerge(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g202")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g202_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.land " +
      "(k BIGINT, bal_cents BIGINT, yr INT, mo INT) PARTITIONED BY (yr, mo)")
    spark.sql(s"""INSERT INTO $cat.ods.land
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT),
        CAST(2020 + c_custkey % 3 AS INT), CAST(1 + c_custkey % 4 AS INT)
      FROM g202_customer""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW g202_updates AS
      SELECT c_custkey AS k, CAST(c_custkey * 100 AS BIGINT) AS bal_cents,
        CAST(2020 + c_custkey % 3 AS INT) AS yr,
        CAST(1 + c_custkey % 4 AS INT) AS mo,
        (c_custkey % 21 = 0) AS del
      FROM g202_customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, CAST(c_custkey AS BIGINT),
        CAST(2031 AS INT), CAST(7 AS INT), false
      FROM g202_customer WHERE c_custkey % 13 = 0""")
    spark.sql(s"""MERGE INTO $cat.ods.land t USING g202_updates u ON t.k = u.k
      WHEN MATCHED AND u.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.bal_cents = u.bal_cents
      WHEN NOT MATCHED THEN INSERT (k, bal_cents, yr, mo)
        VALUES (u.k, u.bal_cents, u.yr, u.mo)""")
    spark.sql(s"DELETE FROM $cat.ods.land WHERE yr = 2031 AND k % 2 = 0")
    spark.table(s"$cat.ods.land")
      .select(col("k"), col("bal_cents"), col("yr"), col("mo"))
  }

  val q202Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS k,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |    CAST(2020 + c_custkey % 3 AS INT) AS yr,
      |    CAST(1 + c_custkey % 4 AS INT) AS mo
      |  FROM customer),
      |upd AS (
      |  SELECT k, CAST(k * 100 AS BIGINT) AS bal_cents, yr, mo,
      |    (k % 21 = 0) AS del
      |  FROM base WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000, CAST(c_custkey AS BIGINT),
      |    CAST(2031 AS INT), CAST(7 AS INT), false
      |  FROM customer WHERE c_custkey % 13 = 0),
      |merged AS (
      |  SELECT b.k, b.bal_cents, b.yr, b.mo FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)
      |  UNION ALL
      |  SELECT k, bal_cents, yr, mo FROM upd WHERE NOT del)
      |SELECT k, bal_cents, yr, mo FROM merged
      |WHERE NOT (yr = 2031 AND k % 2 = 0)""".stripMargin

  /** q203 — file-level data skipping ([[graft.sources.GraftStats]]) on
    * a catalog table: four generations of orders land with DISJOINT
    * order-date ranges (so each parquet file's footer min/max spans one
    * band), `Catalog.analyze` collects the per-file stats into the
    * `_graft_stats` manifest, and the reporting query's date predicate
    * then schedules only the covering generations' files — whole files
    * are skipped at PLANNING time, before any footer is opened, which
    * is the tier that matters at 100 TB where a selective scan over
    * millions of files must not pay a round-trip per skipped file.
    * GraftStatsSpec pins the scheduled-file counts (and the fail-safe
    * contract); this entry pins the VALUES on the driver's DuckDB hash.
    */
  def q203DataSkipping(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g203")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g203_orders")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.orders " +
      "(okey BIGINT, odate DATE, prio STRING, total_cents BIGINT)")
    // testdata order dates span 1995..2001; the four bands cover the
    // full range so the union IS the table, while each band's files
    // carry a disjoint footer min/max for `odate`
    Seq((1995, 1996), (1997, 1998), (1999, 2000), (2001, 2001)).foreach {
      case (lo, hi) =>
        spark.sql(s"""INSERT INTO $cat.ods.orders
          SELECT o_orderkey, o_orderdate, o_orderpriority,
            CAST(round(o_totalprice * 100) AS BIGINT)
          FROM g203_orders
          WHERE year(o_orderdate) BETWEEN $lo AND $hi""")
    }
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    Catalog(spark, root).analyze("ods", "orders")
    spark.table(s"$cat.ods.orders")
      .where(col("odate") >= lit("1999-01-01").cast("date"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), sum(col("total_cents")).as("cents"))
  }

  val q203Oracle: String =
    s"""SELECT o_orderpriority AS prio, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(o_totalprice * 100) AS BIGINT))")} AS cents
       |FROM orders
       |WHERE o_orderdate >= DATE '1999-01-01'
       |GROUP BY o_orderpriority""".stripMargin

  /** q204 — SQL-addressable maintenance ([[graft.sources
    * .GraftProcedures]]): the table accretes four small generations per
    * hive partition, then `CALL system.compact_partitions` rewrites the
    * accreted partitions through the catalog's dynamic-overwrite path
    * and `CALL system.analyze` rebuilds the data-skipping manifest over
    * the compacted layout — the Iceberg/Trino `CALL system.*`
    * maintenance shape, driven purely from SQL the way a cluster
    * operator would. The emitted aggregate pins on the driver's hash
    * that the maintenance cycle preserved every row (a compaction bug
    * that drops or duplicates rows is exactly what this catches);
    * GraftProceduresSpec pins the file-count and result-row contracts.
    */
  def q204SqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g204")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g204_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.items " +
      "(okey BIGINT, qty BIGINT, ship DATE, rflag STRING) " +
      "PARTITIONED BY (rflag)")
    (0 until 4).foreach { k =>
      spark.sql(s"""INSERT INTO $cat.ods.items
        SELECT l_orderkey, CAST(l_quantity AS BIGINT),
          CAST(l_shipdate AS DATE), l_returnflag
        FROM g204_l WHERE l_linenumber % 4 = $k""")
    }
    spark.sql(
      s"CALL $cat.system.compact_partitions('ods.items', min_files => 2)")
      .collect() // eager: the rewrite must land before the read below
    spark.sql(s"CALL $cat.system.analyze('ods.items')").collect()
    spark.table(s"$cat.ods.items")
      .where(col("ship") >= lit("1999-01-01").cast("date"))
      .groupBy(col("rflag"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
  }

  val q204Oracle: String =
    s"""SELECT l_returnflag AS rflag, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(l_quantity AS BIGINT))")} AS qty_sum
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) >= DATE '1999-01-01'
       |GROUP BY l_returnflag""".stripMargin

  /** q205 — range-clustering maintenance ([[graft.runtime.Catalog
    * .clusterByName]] via `CALL system.cluster`): the table lands in
    * interleaved insert order (every file spans the whole orderkey
    * domain — the layout data skipping can prove nothing about), then
    * one CALL rewrites it ordered by `okey` and re-analyzes, making
    * every file a tight disjoint key slice. The emitted selective
    * aggregate pins on the driver's hash that the reorder preserved
    * every row; GraftProceduresSpec pins the scheduled-file collapse
    * (4 → <4 on the same predicate) and the partitioned-table refusal.
    */
  def q205ClusteredLayout(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g205")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g205_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.items " +
      "(okey BIGINT, qty BIGINT, price_cents BIGINT)")
    (0 until 4).foreach { k =>
      spark.sql(s"""INSERT INTO $cat.ods.items
        SELECT l_orderkey, CAST(l_quantity AS BIGINT),
          CAST(round(l_extendedprice * 100) AS BIGINT)
        FROM g205_l WHERE l_linenumber % 4 = $k""")
    }
    spark.sql(s"CALL $cat.system.cluster('ods.items', sort_by => 'okey', " +
      "target_file_bytes => 262144)").collect()
    spark.table(s"$cat.ods.items")
      .where(col("okey") >= 10000 && col("okey") < 30000)
      .groupBy((col("okey") % 5).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"),
        sum(col("price_cents")).as("cents"))
  }

  val q205Oracle: String =
    s"""SELECT l_orderkey % 5 AS g, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(l_quantity AS BIGINT))")} AS qty_sum,
       |  ${bi("sum(CAST(round(l_extendedprice * 100) AS BIGINT))")} AS cents
       |FROM lineitem
       |WHERE l_orderkey >= 10000 AND l_orderkey < 30000
       |GROUP BY l_orderkey % 5""".stripMargin

  /** q206 — SQL-addressable time travel ([[graft.runtime.Catalog
    * .restoreVersionByName]] via `CALL system.rollback`): a corrupting
    * full overwrite lands on the versioned table (archiving the good
    * state as v1), the operator inspects `CALL system.history`, rolls
    * back from SQL, and `CALL system.remove_orphans` sweeps write
    * residue — the Iceberg `rollback_to_snapshot` +
    * `remove_orphan_files` maintenance pair. The emitted aggregate pins
    * on the driver's hash that the rollback restored EXACTLY the
    * pre-corruption rows (a no-op rollback leaves the poisoned
    * quantities and breaks the hash) and that the orphan sweep touched
    * no live data. GraftProceduresSpec pins the archive-on-rollback
    * (history grows, VERSION AS OF still reads the bad state) and
    * grace-period contracts.
    */
  def q206RollbackMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g206", versions = 3)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g206_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.items " +
      "(okey BIGINT, qty BIGINT, rflag STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.items
      SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
      FROM g206_l""")
    // the corrupting overwrite: every quantity poisoned; the versioned
    // truncate archives the good state as v1 instead of destroying it
    spark.sql(s"""INSERT OVERWRITE $cat.ods.items
      SELECT l_orderkey, CAST(-1 AS BIGINT), l_returnflag FROM g206_l""")
    val hist = spark.sql(s"CALL $cat.system.history('ods.items')")
      .collect().map(_.getInt(0)).toSeq
    require(hist == Seq(1), s"expected one archived version, got $hist")
    spark.sql(s"CALL $cat.system.rollback('ods.items', version => 1)")
      .collect() // eager: the restore must land before the read below
    spark.sql(s"CALL $cat.system.remove_orphans('ods.items', " +
      "older_than_ms => 0)").collect()
    spark.table(s"$cat.ods.items")
      .groupBy(col("rflag"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
  }

  val q206Oracle: String =
    s"""SELECT l_returnflag AS rflag, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(l_quantity AS BIGINT))")} AS qty_sum
       |FROM lineitem
       |GROUP BY l_returnflag""".stripMargin

  /** q207 — Z-ORDER clustering maintenance ([[graft.runtime.Catalog
    * .clusterByName]] `strategy = "zorder"` via `CALL system.cluster`):
    * the table lands ordered by orderkey, so partkey predicates can
    * skip nothing; one CALL rewrites it along the Morton interleave of
    * (okey, pkey) and re-analyzes — every file becomes a tight
    * rectangle in BOTH key dimensions (Delta's `OPTIMIZE ... ZORDER
    * BY`), and the emitted aggregate filters on the SECOND dimension,
    * the one a lexicographic sort cannot serve. The driver's hash pins
    * that the curve rewrite preserved every row; GraftProceduresSpec
    * pins that both single-column predicates prune after the rewrite.
    */
  def q207ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g207")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g207_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.items " +
      "(okey BIGINT, pkey BIGINT, qty BIGINT)")
    spark.sql(s"""INSERT INTO $cat.ods.items
      SELECT l_orderkey, CAST(l_partkey AS BIGINT),
        CAST(l_quantity AS BIGINT)
      FROM g207_l""")
    spark.sql(s"CALL $cat.system.cluster('ods.items', " +
      "sort_by => 'okey,pkey', target_file_bytes => 262144, " +
      "strategy => 'zorder')").collect()
    spark.table(s"$cat.ods.items")
      .where(col("pkey") >= 100 && col("pkey") < 600)
      .groupBy((col("pkey") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"),
        sum(col("okey")).as("okey_sum"))
  }

  val q207Oracle: String =
    s"""SELECT l_partkey % 7 AS g, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(l_quantity AS BIGINT))")} AS qty_sum,
       |  ${bi("sum(l_orderkey)")} AS okey_sum
       |FROM lineitem
       |WHERE l_partkey >= 100 AND l_partkey < 600
       |GROUP BY l_partkey % 7""".stripMargin

  /** q208 — write-time statistics maintenance (`auto_analyze = true`):
    * the catalog refreshes the [[graft.sources.GraftStats]] skipping
    * manifest at every write COMMIT — each of the four appends pays a
    * footer read only for its own new files (Delta's
    * stats-in-the-transaction-log freshness; the manifest is never
    * stale and never needs an operator `CALL system.analyze`). The
    * emitted aggregate's selective okey predicate rides the
    * automatically-collected stats, and the driver's hash pins that
    * write-time collection neither drops rows (a wrong-prune here is
    * silent data loss) nor corrupts the committed data.
    * GraftStatsSpec pins freshness across append AND row-level rewrite
    * with scheduled-file-count assertions.
    */
  def q208AutoStats(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g208", autoAnalyze = true)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g208_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.items " +
      "(okey BIGINT, qty BIGINT, rflag STRING)")
    // range slices: each append's files carry tight disjoint okey
    // ranges, so the auto-collected stats actually discriminate
    // (a 1-row max() to size the slices — bounded driver work)
    val mx = spark.sql("SELECT max(l_orderkey) FROM g208_l").head.getLong(0)
    (0 until 4).foreach { k =>
      val lo = mx * k / 4
      val hi = if (k == 3) mx + 1 else mx * (k + 1) / 4
      spark.sql(s"""INSERT INTO $cat.ods.items
        SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
        FROM g208_l WHERE l_orderkey >= $lo AND l_orderkey < $hi""")
    }
    // scale-relative selective predicate (a fixed bound would be empty
    // at small sf and unselective at large): second key quartile only
    spark.table(s"$cat.ods.items")
      .where(col("okey") >= lit(mx / 4) && col("okey") < lit(mx / 2))
      .groupBy(col("rflag"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
  }

  val q208Oracle: String =
    s"""SELECT l_returnflag AS rflag, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(l_quantity AS BIGINT))")} AS qty_sum
       |FROM lineitem
       |WHERE l_orderkey >= (SELECT max(l_orderkey) // 4 FROM lineitem)
       |  AND l_orderkey < (SELECT max(l_orderkey) // 2 FROM lineitem)
       |GROUP BY l_returnflag""".stripMargin

  /** q209 — metadata-only aggregation: on an `auto_analyze` table,
    * unfiltered `COUNT(*)` / `COUNT(col)` / `MIN` / `MAX` are answered
    * entirely from the `_graft_stats` manifest via complete DSv2
    * aggregate pushdown ([[graft.sources.GraftStatsLocalAggScan]] —
    * the plan is a LocalTableScan: zero input partitions, zero tasks,
    * zero file opens). At 100 TB this is the freshness/rowcount probe
    * (`count(*), max(loaded_date)`) every orchestrator fires between
    * pipeline stages, answered in driver milliseconds instead of a
    * million-file scan — Iceberg's manifest-metrics fast path. The
    * NULLIF-derived column pins exact null accounting (count(col)
    * must subtract per-file footer null counts, not guess), and the
    * driver hash pins that the manifest answer equals DuckDB's
    * full-scan answer. GraftStatsSpec proves the zero-read claim by
    * corrupting every data file in place and re-running the aggregate.
    */
  def q209MetaAgg(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g209", autoAnalyze = true)
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g209_o")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.ord " +
      "(okey BIGINT, cust BIGINT, odate DATE)")
    (0 until 3).foreach { k =>
      spark.sql(s"""INSERT INTO $cat.ods.ord
        SELECT o_orderkey, NULLIF(o_custkey % 997, 0), o_orderdate
        FROM g209_o WHERE o_orderkey % 3 = $k""")
    }
    spark.sql(s"""SELECT count(*) AS n_rows, count(cust) AS n_cust,
      min(okey) AS min_k, max(okey) AS max_k,
      min(odate) AS d_lo, max(odate) AS d_hi FROM $cat.ods.ord""")
  }

  val q209Oracle: String =
    s"""SELECT ${bi("count(*)")} AS n_rows,
       |  ${bi("count(NULLIF(o_custkey % 997, 0))")} AS n_cust,
       |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
       |  min(o_orderdate) AS d_lo, max(o_orderdate) AS d_hi
       |FROM orders""".stripMargin

  /** q210 — partition-level metrics from metadata: `GROUP BY` a
    * partition column with COUNT/MIN/MAX is answered entirely from the
    * `_graft_stats` manifest plus the hive directory names (group
    * values parsed from `col=value` tokens, per-group folds over the
    * per-file footer stats — [[graft.sources.GraftStats
    * .completeAggregate]]). This is `SELECT partition, count(*),
    * max(ts) ... GROUP BY partition` — the per-partition freshness /
    * volume dashboard every warehouse runs — as a LocalTableScan:
    * zero tasks where a real scan would stream every row of every
    * partition through a shuffle. A group whose files hold zero rows
    * is omitted (a real scan emits no group for it), and any uncovered
    * file falls the whole query back to the distributed scan.
    */
  def q210PartMetrics(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g210", autoAnalyze = true)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g210_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.li " +
      "(okey BIGINT, qty BIGINT, rflag STRING) PARTITIONED BY (rflag)")
    spark.sql(s"""INSERT INTO $cat.ods.li
      SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
      FROM g210_l""")
    spark.sql(s"""SELECT rflag, count(*) AS n_rows, count(qty) AS n_qty,
      min(okey) AS k_lo, max(okey) AS k_hi
      FROM $cat.ods.li GROUP BY rflag""")
  }

  val q210Oracle: String =
    s"""SELECT l_returnflag AS rflag, ${bi("count(*)")} AS n_rows,
       |  ${bi("count(l_quantity)")} AS n_qty,
       |  min(l_orderkey) AS k_lo, max(l_orderkey) AS k_hi
       |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q211 — partition-filtered metadata aggregation: partition-column
    * predicates are EXACT at file granularity (every row of a file
    * shares its dir tokens), so `WHERE lstat = 'F' AND rflag IN
    * ('A','R') GROUP BY rflag` filters the manifest's file list and
    * folds per surviving group — still a LocalTableScan, zero file
    * opens ([[graft.sources.GraftStats.completeAggregate]] with the
    * pushed catalyst filters three-valued-evaluated against parsed
    * dir values). The "how much landed for THIS slice" probe at
    * 100 TB; any data-column conjunct bails the whole query to the
    * distributed scan (GraftStatsSpec pins both directions).
    */
  def q211FilteredMetrics(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g211", autoAnalyze = true)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("g211_l")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.li " +
      "(okey BIGINT, qty BIGINT, rflag STRING, lstat STRING) " +
      "PARTITIONED BY (rflag, lstat)")
    spark.sql(s"""INSERT INTO $cat.ods.li
      SELECT l_orderkey, CAST(l_quantity AS BIGINT),
             l_returnflag, l_linestatus
      FROM g211_l""")
    spark.sql(s"""SELECT rflag, count(*) AS n_rows,
      min(okey) AS k_lo, max(okey) AS k_hi
      FROM $cat.ods.li
      WHERE lstat = 'F' AND rflag IN ('A', 'R')
      GROUP BY rflag""")
  }

  val q211Oracle: String =
    s"""SELECT l_returnflag AS rflag, ${bi("count(*)")} AS n_rows,
       |  min(l_orderkey) AS k_lo, max(l_orderkey) AS k_hi
       |FROM lineitem
       |WHERE l_linestatus = 'F' AND l_returnflag IN ('A', 'R')
       |GROUP BY l_returnflag""".stripMargin

  /** q212 — HASH-EXACT bucket pruning on the oracle hash (r11 item 2):
    * a point lookup on the bucket key of a `bucket(16, cust)` table
    * evaluates the bucket transform over the literal at planning time
    * and schedules files from EXACTLY ONE bucket's file group — the
    * Iceberg bucket-transform pruning mode, where min/max skipping is
    * useless by construction (a hashed layout has full-range stats in
    * every file). The function asserts the scheduled-bucket set
    * in-plan (regression = hard failure, not a silent 16× I/O
    * inflation), then returns the probed rows for the DuckDB compare.
    * At 100 TB this is the needle-in-a-bucketed-fact lookup paying
    * 1/n of the I/O it used to.
    */
  def q212BucketPruning(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g212")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g212_orders")
    spark.sql(s"CREATE NAMESPACE $cat.dds")
    spark.sql(s"CREATE TABLE $cat.dds.fact " +
      "(cust BIGINT, cents BIGINT, pri STRING) PARTITIONED BY (bucket(16, cust))")
    spark.sql(s"""INSERT INTO $cat.dds.fact
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT),
        o_orderpriority
      FROM g212_orders""")
    val probe = spark.sql(s"""SELECT pri, count(*) AS n,
        sum(cents) AS cents_sum
      FROM $cat.dds.fact WHERE cust = 42 GROUP BY pri""")
    val rows = probe.collect().toSeq // materialize so AQE finalizes
    // in-plan proof: exactly the bucket of cust=42 schedules files
    import org.apache.spark.sql.execution.datasources.FilePartition
    val adaptive =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scheduled = adaptive.collect(probe.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten.collect {
          case fp: FilePartition if fp.files.nonEmpty => fp.index
        }
    }.flatten.toSet
    val expected = Set(graft.sources.GraftBucket.ofLong(42L, 16))
    require(scheduled == expected,
      s"bucket pruning regressed: scheduled $scheduled, expected $expected")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), probe.schema)
  }

  val q212Oracle: String =
    s"""SELECT o_orderpriority AS pri, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(o_totalprice * 100) AS BIGINT))")} AS cents_sum
       |FROM orders WHERE o_custkey = 42
       |GROUP BY o_orderpriority""".stripMargin

  /** q215 — per-file Bloom-filter point-lookup skipping
    * ([[graft.sources.GraftBloom]], `CALL system.analyze_bloom`): the
    * table's lookup key is a Knuth-scattered function of o_orderkey,
    * so every file's [min, max] spans the whole domain and the min/max
    * manifest can prove NOTHING — the tier q203/q205 cannot serve. Six
    * range-sliced inserts build 6+ files, `analyze_bloom` builds
    * per-file filters, and the probe (IN over the scattered images of
    * the min/max orderkeys plus one almost-surely-absent key) REQUIREs
    * the scheduled file count to equal exactly the count the built
    * filters admit (deterministic: Bloom hashing is content-pure) AND
    * to be a strict subset of the table. DuckDB recomputes the same
    * arithmetic, so a false-negative prune (the one impossible-by-
    * construction failure) would break the hash.
    */
  def q215BloomPointlookup(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g215")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g215_orders")
    spark.sql(s"CREATE NAMESPACE $cat.dds")
    spark.sql(s"CREATE TABLE $cat.dds.keyed (ukey BIGINT, cents BIGINT)")
    val bounds = spark.sql(
      "SELECT min(o_orderkey), max(o_orderkey), count(*) FROM g215_orders")
      .head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    (0 until 6).foreach { s =>
      val a = lo + (hi - lo + 1) * s / 6
      val b = if (s == 5) hi + 1 else lo + (hi - lo + 1) * (s + 1) / 6
      spark.sql(s"""INSERT INTO $cat.dds.keyed
        SELECT (o_orderkey * 2654435761) % 1000000007,
          CAST(round(o_totalprice * 100) AS BIGINT)
        FROM g215_orders WHERE o_orderkey >= $a AND o_orderkey < $b""")
    }
    spark.sql(s"CALL $cat.system.analyze_bloom(" +
      "table => 'dds.keyed', columns => 'ukey')")

    def img(k: Long): Long = (k * 2654435761L) % 1000000007L
    val probes = Seq(img(lo), img(hi), 999999937L) // last ~surely absent
    val probe = spark.table(s"$cat.dds.keyed")
      .where(col("ukey").isin(probes: _*))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"),
        min(col("ukey")).as("ukey_min"))
    val rows = probe.collect().toSeq // materialize so AQE finalizes

    // in-plan proof: scheduled files == files whose filter admits a
    // probe value, and strictly fewer than the table holds
    import org.apache.spark.sql.execution.datasources.FilePartition
    val adaptive =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def filesOf(df: DataFrame): Seq[String] =
      adaptive.collect(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.flatten.collect {
            case fp: FilePartition => fp.files.map(_.toPath.toString).toSeq
          }.flatten
      }.flatten
    val scheduled = filesOf(probe).toSet
    val full = spark.table(s"$cat.dds.keyed")
    val allFiles = filesOf(full)
    val loc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("dds"), "keyed"))
      .properties().get("location")
    val dirP = new org.apache.hadoop.fs.Path(loc)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = new graft.sources.GraftBloom.ScopedReader(fs, dirP)
    val planned = adaptive.collect(full.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten.collect {
          case fp: FilePartition => fp.files.toSeq
        }.flatten
    }.flatten
    val entries = reader.forFiles(planned)
    require(entries.size >= 6, s"q215: blooms cover ${entries.size} files")
    val admitting = entries.count { case (_, fb) =>
      probes.exists(fb.cols("ukey")._2.mightContainLong)
    }
    require(scheduled.size == admitting,
      s"q215: scheduled ${scheduled.size} files but the filters admit " +
        s"$admitting — bloom pruning regressed")
    require(scheduled.size < allFiles.size,
      s"q215: no pruning (${scheduled.size} of ${allFiles.size} files)")

    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), probe.schema)
  }

  /** q216 — merge-on-read MERGE ([[graft.sources.GraftDeltaMor]],
    * Spark's SupportsDelta row-level operations): the MERGE reads row
    * coordinates through the `_graft_file`/`_graft_pos` metadata
    * columns and writes POSITIONS (deletion vectors) plus appended
    * replacement/new rows — the query REQUIREs every pre-merge data
    * file byte-identical afterwards (a 100 TB table pays kilobytes of
    * vector and the changed rows, not a rewrite of touched files; the
    * Iceberg v2 MOR write path). All three clause kinds fire: matched
    * DELETE (k%9=0), matched UPDATE (+1000 cents), not-matched INSERT
    * (shifted keys, doubled balances); DuckDB recomputes the merged
    * state relationally, so a resurrected, lost, or double-applied row
    * breaks the hash. GraftMorDeltaSpec pins coordinates, bucketed
    * tags, and COW-parity separately.
    */
  def q216MorMerge(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g216")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g216_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.bal " +
      "(k BIGINT, bal_cents BIGINT, seg STRING) " +
      "TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g216_customer""")
    val mx = spark.sql("SELECT max(c_custkey) FROM g216_customer")
      .head.getLong(0)

    val loc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ods"), "bal"))
      .properties().get("location")
    val base = new org.apache.hadoop.fs.Path(loc)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, (Long, Long)] =
      fs.listStatus(base).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    val before = dataFiles()

    spark.sql(s"""MERGE INTO $cat.ods.bal t
      USING (
        SELECT c_custkey AS k,
          CAST(round(c_acctbal * 100) AS BIGINT) + 1000 AS bal_cents,
          c_mktsegment AS seg
        FROM g216_customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey + $mx + 1,
          CAST(round(c_acctbal * 100) AS BIGINT) * 2, c_mktsegment
        FROM g216_customer WHERE c_custkey % 11 = 0) s
      ON t.k = s.k
      WHEN MATCHED AND s.k % 9 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET bal_cents = s.bal_cents
      WHEN NOT MATCHED THEN INSERT *""")

    // the merge-on-read evidence, in-plan: every pre-merge file is
    // byte-identical (only vectors + appended rows landed)
    val after = dataFiles()
    before.foreach { case (f, id) =>
      require(after.get(f).contains(id),
        s"q216: merge-on-read MERGE rewrote or retired $f")
    }
    require(fs.exists(new org.apache.hadoop.fs.Path(base,
        graft.sources.GraftDv.DirName)),
      "q216: no deletion vectors were written")

    spark.table(s"$cat.ods.bal")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("bal_sum"))
  }

  val q216Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |    c_mktsegment AS seg
       |  FROM customer)
       |SELECT seg, ${bi("count(*)")} AS n, ${bi("sum(bal)")} AS bal_sum
       |FROM (
       |  SELECT seg,
       |    CASE WHEN k % 3 = 0 THEN bal + 1000 ELSE bal END AS bal
       |  FROM base WHERE k % 9 <> 0
       |  UNION ALL
       |  SELECT seg, bal * 2 FROM base WHERE k % 11 = 0)
       |GROUP BY seg""".stripMargin

  /** q217 — EQUALITY-delete streaming upsert
    * ([[graft.sources.GraftEqDel]], r12 item 6 — Iceberg v2 equality
    * deletes): the same Update-mode running aggregate as q213, but
    * with `upsertMode=equality` each epoch writes its rows plus one
    * KEY SIDECAR and NEVER scans the target — per-epoch cost is the
    * epoch, not the table. The query REQUIREs the evidence in-plan:
    * equality sidecars exist after the run, the positional MetaScan
    * sentinel never moved (no epoch planned a target scan), and every
    * file of the FIRST epoch is byte-identical afterwards (the second
    * epoch appended + sidecar'd; nothing was rewritten). The final
    * read applies the deletes by key with epoch-floor ordering, so it
    * must hash-equal the one-shot GROUP BY both in DuckDB and with
    * q213's MERGE-path result.
    */
  def q217EqUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g217")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g217_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.raw.src (seg STRING, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.mart.state " +
      "(seg STRING, n BIGINT, cents_sum BIGINT)")
    def gen(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT)
      FROM g217_customer WHERE $pred""")
    gen("c_custkey % 2 = 0")
    val loc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("mart"), "state"))
      .properties().get("location")
    val base = new org.apache.hadoop.fs.Path(loc)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, (Long, Long)] =
      fs.listStatus(base).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    graft.sources.GraftMorRuntimeScope.lastPlannedRels
      .set(Seq("__q217_sentinel__"))
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4") // state-store count, see q200
    var afterE1 = Map.empty[String, (Long, Long)]
    try {
      val cp = scratch("graft-q217-cp")
      val q = spark.readStream.table(s"$cat.raw.src")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "seg")
        .option("upsertMode", "equality")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.mart.state")
      q.processAllAvailable() // epoch 1: even custkeys
      afterE1 = dataFiles()
      gen("c_custkey % 2 = 1")
      q.processAllAvailable() // epoch 2: every group re-emits
      q.stop()
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    // the equality-delete evidence, in-plan
    require(graft.sources.GraftEqDel.hasAny(fs, base),
      "q217: no equality-delete sidecars were written")
    require(graft.sources.GraftMorRuntimeScope.lastPlannedRels.get() ==
      Seq("__q217_sentinel__"),
      "q217: an epoch positional-scanned the target")
    val after = dataFiles()
    afterE1.foreach { case (f, id) =>
      require(after.get(f).contains(id),
        s"q217: epoch 2 rewrote or retired epoch 1's file $f")
    }
    spark.table(s"$cat.mart.state")
      .select(col("seg"), col("n"), col("cents_sum"))
  }

  /** Same one-shot algebra as [[q201Oracle]]/[[q213Oracle]]: equality
    * upserts, MERGE upserts and Complete refreshes must agree.
    */
  val q217Oracle: String = q201Oracle

  val q215Oracle: String =
    s"""WITH keyed AS (
       |  SELECT (o_orderkey * 2654435761) % 1000000007 AS ukey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |bounds AS (
       |  SELECT (min(o_orderkey) * 2654435761) % 1000000007 AS klo,
       |    (max(o_orderkey) * 2654435761) % 1000000007 AS khi
       |  FROM orders)
       |SELECT ${bi("count(*)")} AS n, ${bi("sum(cents)")} AS cents_sum,
       |  ${bi("min(ukey)")} AS ukey_min
       |FROM keyed, bounds
       |WHERE ukey IN (klo, khi, 999999937)""".stripMargin

  val q184Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |    c_mktsegment AS seg
       |  FROM customer),
       |b AS (
       |  SELECT k, CASE WHEN k % 3 = 0 THEN bal + 1000 ELSE bal END AS bal,
       |    seg
       |  FROM base),
       |c AS (SELECT * FROM b WHERE k % 5 <> 0)
       |SELECT 'v_first' AS state, seg, ${bi("count(*)")} AS n,
       |  ${bi("sum(bal)")} AS bal_sum FROM base GROUP BY seg
       |UNION ALL
       |SELECT 'v_second', seg, ${bi("count(*)")}, ${bi("sum(bal)")}
       |FROM b GROUP BY seg
       |UNION ALL
       |SELECT 'live', seg, ${bi("count(*)")}, ${bi("sum(bal)")}
       |FROM c GROUP BY seg""".stripMargin

  /** q218 — partition SPEC EVOLUTION end-to-end
    * ([[graft.sources.GraftEvolved]], r13 item 3 — Iceberg's ADD
    * PARTITION FIELD over a directory layout): a table partitioned by
    * `d` takes one file era, `CALL system.evolve_partitioning` appends
    * `region` METADATA-ONLY (file-state identity REQUIRED in-plan), a
    * second era lands under the extended `(d, region)` layout
    * (directory shape required in-plan), a COW DELETE rewrites across
    * BOTH eras, and the aggregate spans them under anchor + evolved
    * filters — old-era files prune by `d` and filter `region` by row,
    * new-era files prune by BOTH as directory tokens. One oracle hash
    * covers the whole story.
    *
    * Scale shape: the evolution itself is one sidecar write regardless
    * of table size — the lakehouse answer to re-partitioning the
    * reference's layers (country vs report date) without a rewrite.
    */
  def q218PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g218")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g218_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.hist (k BIGINT, region STRING, " +
      "bal BIGINT, d STRING) PARTITIONED BY (d)")
    spark.sql(s"""INSERT INTO $cat.ods.hist
      SELECT c_custkey, c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT),
        concat('p', CAST(c_custkey % 3 AS STRING))
      FROM g218_customer WHERE c_custkey % 2 = 0""")
    val tableDir = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.root") + "/ods/hist")
    val hfs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileState(): Set[(String, Long, Long)] =
      graft.sources.GraftEvolved.listVisible(hfs, tableDir)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
    val before = fileState()
    spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'ods.hist', add_column => 'region')").collect()
    require(fileState() == before,
      "q218: the evolution rewrote data files — must be metadata-only")
    spark.sql(s"""INSERT INTO $cat.ods.hist
      SELECT c_custkey, c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT),
        concat('q', CAST(c_custkey % 3 AS STRING))
      FROM g218_customer WHERE c_custkey % 2 = 1""")
    // the new era REALLY laid out the extended spec
    require(hfs.listStatus(new org.apache.hadoop.fs.Path(tableDir, "d=q1"))
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("region=")),
      "q218: new era did not lay out the evolved (d, region) spec")
    // a row-level rewrite ACROSS eras (copy-on-write spans both)
    spark.sql(s"DELETE FROM $cat.ods.hist WHERE k % 10 = 3")
    spark.sql(s"""
      SELECT d, region, count(*) AS n, sum(bal) AS bal_sum
      FROM $cat.ods.hist
      WHERE region IN ('BUILDING', 'MACHINERY') AND d <> 'p2'
      GROUP BY d, region""")
  }

  val q218Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k, c_mktsegment AS region,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |    CASE WHEN c_custkey % 2 = 0
       |      THEN 'p' || CAST(c_custkey % 3 AS VARCHAR)
       |      ELSE 'q' || CAST(c_custkey % 3 AS VARCHAR) END AS d
       |  FROM customer)
       |SELECT d, region, ${bi("count(*)")} AS n, ${bi("sum(bal)")} AS bal_sum
       |FROM base
       |WHERE k % 10 <> 3 AND region IN ('BUILDING', 'MACHINERY')
       |  AND d <> 'p2'
       |GROUP BY d, region""".stripMargin

  /** q219 — CHANGELOG reads ([[graft.sources.GraftChanges]]: Delta's
    * change data feed / Iceberg's changelog scan, derived from the
    * epoch-named streaming files + equality-delete sidecars with NO
    * stored feed): the q217 equality-upsert stream runs two epochs,
    * then `SELECT ... FROM <table>.changes` serves the full feed —
    * epoch 0's emissions as pure INSERTS (its sidecar provably deleted
    * nothing and was GC'd), epoch 1's re-emissions as UPSERTS plus one
    * DELETE row per retracted key (key columns populated, the rest
    * NULL — Iceberg's equality-delete changelog shape). Epochs are
    * ranked (not hard-coded: streaming batch ids are an engine detail)
    * and the whole feed sits on one oracle hash. Consuming the feed
    * costs the CHANGE, never the table: epoch/type predicates prune to
    * the epoch's files and sidecars exactly (GraftChangesSpec proves
    * out-of-range files are never opened).
    */
  def q219ChangesFeed(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g219")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g219_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.raw.src (seg STRING, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.mart.state " +
      "(seg STRING, n BIGINT, cents_sum BIGINT)")
    def gen(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT)
      FROM g219_customer WHERE $pred""")
    gen("c_custkey % 2 = 0")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4") // state-store count, see q200
    try {
      val cp = scratch("graft-q219-cp")
      val q = spark.readStream.table(s"$cat.raw.src")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "seg")
        .option("upsertMode", "equality")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.mart.state")
      q.processAllAvailable() // epoch 1: even custkeys
      gen("c_custkey % 2 = 1")
      q.processAllAvailable() // epoch 2: every group re-emits
      q.stop()
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    // in-plan evidence: the feed still has live sidecars to serve
    // delete rows from
    val loc = spark.conf.get(s"spark.sql.catalog.$cat.root") + "/mart/state"
    val base = new org.apache.hadoop.fs.Path(loc)
    val hfs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(graft.sources.GraftEqDel.hasAny(hfs, base),
      "q219: no equality-delete sidecars — the feed has no retractions")
    val feed = spark.table(s"$cat.mart.state.changes")
    // epoch -> rank via a METADATA-SIZED driver map (the retained
    // epochs of one stream), broadcast-joined back — never a global
    // window funneling the feed's rows into one task
    import spark.implicits._
    val epochs = feed.select(col("_change_epoch")).distinct()
      .collect().map(_.getLong(0)).sorted
    val rankDf = epochs.zipWithIndex
      .map { case (e, i) => (e, i + 1) }.toSeq
      .toDF("_change_epoch", "epoch_rank")
    feed.join(broadcast(rankDf), "_change_epoch")
      .select(col("_change_type").as("change_type"),
        col("epoch_rank").cast("int").as("epoch_rank"),
        col("seg"), col("n"), col("cents_sum"))
  }

  /** The feed recomputed one-shot: epoch 1 aggregates the evens, epoch
    * 2 re-emits every group over the full table and retracts every
    * key it re-emits.
    */
  val q219Oracle: String =
    s"""WITH src AS (
       |  SELECT c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_custkey AS k
       |  FROM customer),
       |e1 AS (
       |  SELECT seg, ${bi("count(*)")} AS n, ${bi("sum(cents)")} AS cents_sum
       |  FROM src WHERE k % 2 = 0 GROUP BY seg),
       |e2 AS (
       |  SELECT seg, ${bi("count(*)")} AS n, ${bi("sum(cents)")} AS cents_sum
       |  FROM src GROUP BY seg)
       |SELECT 'insert' AS change_type, CAST(1 AS INTEGER) AS epoch_rank,
       |  seg, n, cents_sum FROM e1
       |UNION ALL
       |SELECT 'upsert', CAST(2 AS INTEGER), seg, n, cents_sum FROM e2
       |UNION ALL
       |SELECT 'delete', CAST(2 AS INTEGER), seg,
       |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM e2""".stripMargin

  /** q220 — METADATA TABLES ([[graft.sources.GraftMetaTables]]:
    * Iceberg's `db.table.files` / `db.table.history` inspection
    * surface as nested identifiers): a partitioned table takes a full
    * load then an INSERT OVERWRITE under version retention;
    * `<t>.files` then answers per-partition row counts from the stats
    * manifest as a `LocalTableScan` (REQUIRED in-plan: zero tasks,
    * zero file opens — the same listing every scan already pays) and
    * `<t>.history` pins the retained-version count. The hash holds the
    * post-overwrite state, so a stale manifest row, a missed
    * partition, or a lost version breaks it.
    */
  def q220MetaTables(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g220", versions = 3, autoAnalyze = true)
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g220_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.cust (k BIGINT, bal BIGINT, " +
      "seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"""INSERT INTO $cat.ods.cust
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g220_customer""")
    spark.sql(s"""INSERT OVERWRITE $cat.ods.cust
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g220_customer WHERE c_custkey % 5 <> 0""")
    // auto_analyze already refreshed the manifest per commit, but it is
    // ADVISORY by contract — the explicit CALL makes the row counts a
    // guarantee the hash can sit on (a covered no-op when fresh)
    spark.sql(s"CALL $cat.system.analyze('ods.cust')").collect()
    val files = spark.table(s"$cat.ods.cust.files")
    // in-plan evidence: metadata relations answer with NO input tasks
    require(files.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
      "q220: <t>.files must plan as a LocalTableScan")
    val perPart = files
      .groupBy(regexp_replace(col("partition"), "^seg=", "").as("grp"))
      .agg(sum(col("records")).as("n"))
    val hist = spark.table(s"$cat.ods.cust.history")
      .agg(count(lit(1)).as("n")).select(lit("__history__").as("grp"),
        col("n"))
    perPart.unionAll(hist)
  }

  /** Post-overwrite per-partition counts + the retained-version count
    * (one archived full replace + the live state).
    */
  val q220Oracle: String =
    s"""SELECT c_mktsegment AS grp, ${bi("count(*)")} AS n
       |FROM customer WHERE c_custkey % 5 <> 0
       |GROUP BY c_mktsegment
       |UNION ALL
       |SELECT '__history__', CAST(2 AS BIGINT)""".stripMargin

  /** q221 — STREAMING CDC-APPLY end-to-end
    * ([[graft.sources.GraftChanges]] micro-batch source): the q219
    * equality-upsert stream feeds a SECOND stream,
    * `readStream.table("<t>.changes")`, whose offsets ARE feed epochs;
    * each micro-batch applies latest-action-per-key (emission beats
    * delete at the same epoch — an epoch's rows survive their own
    * sidecar) as a `MERGE INTO` on a replica table. The replica must
    * converge to the one-shot aggregate (the q201/q217 algebra), and
    * the per-(type, seg) feed delivery counts sit on the same hash —
    * a CDC path that dropped delete rows or re-delivered an epoch
    * breaks it. Per-trigger cost is the epoch's changes, never either
    * table.
    */
  def q221CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g221")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g221_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.raw.src (seg STRING, cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.mart.state " +
      "(seg STRING, n BIGINT, cents_sum BIGINT)")
    spark.sql(s"CREATE TABLE $cat.mart.replica " +
      "(seg STRING, n BIGINT, cents_sum BIGINT)")
    def gen(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.raw.src
      SELECT c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT)
      FROM g221_customer WHERE $pred""")
    def applyBatch(df: DataFrame, id: Long): Unit = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("seg"))
        .orderBy(col("_change_epoch").desc,
          when(col("_change_type") === "delete", 0).otherwise(1).desc)
      df.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .createOrReplaceTempView("g221_cdc_batch")
      df.sparkSession.sql(s"""MERGE INTO $cat.mart.replica t
        USING g221_cdc_batch s ON t.seg = s.seg
        WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET n = s.n, cents_sum = s.cents_sum
        WHEN NOT MATCHED AND s._change_type <> 'delete'
          THEN INSERT (seg, n, cents_sum) VALUES (s.seg, s.n, s.cents_sum)""")
    }
    gen("c_custkey % 2 = 0")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4") // state-store count, see q200
    try {
      val q = spark.readStream.table(s"$cat.raw.src")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .writeStream.outputMode("update")
        .option("upsertKeys", "seg")
        .option("upsertMode", "equality")
        .option("checkpointLocation", scratch("graft-q221-cp-w"))
        .toTable(s"$cat.mart.state")
      val cdc = spark.readStream.table(s"$cat.mart.state.changes")
        .writeStream.option("checkpointLocation", scratch("graft-q221-cp-r"))
        .foreachBatch(applyBatch _).start()
      try {
        q.processAllAvailable() // epoch 1: even custkeys
        cdc.processAllAvailable()
        gen("c_custkey % 2 = 1")
        q.processAllAvailable() // epoch 2: every group re-emits
        cdc.processAllAvailable()
      } finally { q.stop(); cdc.stop() }
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    val replica = spark.table(s"$cat.mart.replica")
      .select(lit("state").as("kind"), col("seg"), col("n"),
        col("cents_sum"))
    // feed-delivery audit: per (type, seg) counts — a CDC path that
    // dropped delete rows would still converge above, so the delivery
    // itself goes on the hash
    val audit = spark.table(s"$cat.mart.state.changes")
      .groupBy(concat(lit("feed_"), col("_change_type")).as("kind"),
        col("seg"))
      .agg(count(lit(1)).as("n"),
        lit(null).cast("bigint").as("cents_sum"))
    replica.unionAll(audit)
  }

  /** Replica = the one-shot aggregate; feed counts: one insert per seg
    * (epoch 1), one upsert + one delete per seg (epoch 2).
    */
  val q221Oracle: String =
    s"""WITH src AS (
       |  SELECT c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_custkey AS k
       |  FROM customer),
       |e1 AS (SELECT seg FROM src WHERE k % 2 = 0 GROUP BY seg),
       |e2 AS (
       |  SELECT seg, ${bi("count(*)")} AS n, ${bi("sum(cents)")} AS cents_sum
       |  FROM src GROUP BY seg)
       |SELECT 'state' AS kind, seg, n, cents_sum FROM e2
       |UNION ALL
       |SELECT 'feed_insert', seg, CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
       |FROM e1
       |UNION ALL
       |SELECT 'feed_upsert', seg, CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
       |FROM e2
       |UNION ALL
       |SELECT 'feed_delete', seg, CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
       |FROM e2""".stripMargin

  /** q222 — DROP PARTITION FIELD end-to-end (the r14 session-2
    * completion of q218's ADD: Iceberg's DROP PARTITION FIELD,
    * metadata-only). Three file eras share one table: (d) → ADD r,
    * ADD s → era under (d,r,s) → DROP s (file-state identity REQUIRED
    * in-plan: not one data file moves) → era under (d,r) (directory
    * shape REQUIRED: no s= level). The aggregate spans all three eras
    * under an anchor filter (pruned everywhere), an evolved filter
    * (chain-pruned where laid out, row-filtered where not), and a
    * filter on the DROPPED column — which stays EXACT because evolved
    * columns ride in the data of every era. One oracle hash covers the
    * whole story.
    */
  def q222DropPartitionField(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g222")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g222_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.hist (k BIGINT, r STRING, s STRING, " +
      "bal BIGINT, d STRING) PARTITIONED BY (d)")
    // d (anchor) and s are k-derived INDEPENDENTLY of the era split
    // (k % 3), so every era spans every partition and the filters
    // below keep all three eras on the hash
    def era(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.ods.hist
      SELECT c_custkey, c_mktsegment,
        concat('x', CAST(c_custkey % 5 AS STRING)),
        CAST(round(c_acctbal * 100) AS BIGINT),
        concat('p', CAST(c_custkey % 2 AS STRING))
      FROM g222_customer WHERE $pred""")
    era("c_custkey % 3 = 0") // era 1: plain (d) layout
    spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'ods.hist', add_column => 'r')").collect()
    spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'ods.hist', add_column => 's')").collect()
    era("c_custkey % 3 = 1") // era 2: (d, r, s) layout
    val tableDir = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.root") + "/ods/hist")
    val hfs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileState(): Set[(String, Long, Long)] =
      graft.sources.GraftEvolved.listVisible(hfs, tableDir)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
    val before = fileState()
    val spec = spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'ods.hist', drop_column => 's')").head
    require(spec.getString(0) == "d,r",
      s"q222: post-drop spec should be d,r, got ${spec.getString(0)}")
    require(fileState() == before,
      "q222: DROP PARTITION FIELD rewrote data files — must be metadata-only")
    era("c_custkey % 3 = 2") // era 3: (d, r) layout — no s= level
    val p1 = new org.apache.hadoop.fs.Path(tableDir, "d=p1")
    require(hfs.listStatus(p1).filter(_.isDirectory).flatMap(rd =>
        hfs.listStatus(rd.getPath)).exists(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")),
      "q222: post-drop era did not land directly under (d, r)")
    spark.sql(s"""
      SELECT d, r, count(*) AS n, sum(bal) AS bal_sum
      FROM $cat.ods.hist
      WHERE s IN ('x1', 'x2') AND d = 'p1'
        AND r IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
      GROUP BY d, r""")
  }

  val q222Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k, c_mktsegment AS r,
       |    'x' || CAST(c_custkey % 5 AS VARCHAR) AS s,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
       |    'p' || CAST(c_custkey % 2 AS VARCHAR) AS d
       |  FROM customer)
       |SELECT d, r, ${bi("count(*)")} AS n, ${bi("sum(bal)")} AS bal_sum
       |FROM base
       |WHERE s IN ('x1', 'x2') AND d = 'p1'
       |  AND r IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
       |GROUP BY d, r""".stripMargin

  /** q223 — write-time CHECK constraints
    * ([[graft.sources.GraftCheck]]: Delta's ADD CONSTRAINT CHECK as
    * durable `constraints.check.*` table properties; the reference's
    * alert store declares DDL constraints, covid_alerts_dag.py:18-27).
    * The table is created WITH a constraint; a batch that violates it
    * REQUIREs the loud named refusal and commits NOTHING (in-plan:
    * row count unchanged); the violating rows re-land clamped; an
    * ALTER that would add a constraint the existing rows violate
    * REQUIREs Delta's existing-rows refusal. The final per-segment
    * aggregate sits on the oracle hash, so an unenforced write or a
    * partial commit breaks it.
    */
  def q223CheckConstraints(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g223")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g223_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.acct (k BIGINT, cents BIGINT, " +
      "seg STRING) TBLPROPERTIES " +
      "('constraints.check.cents_nonneg' = 'cents >= 0')")
    spark.sql(s"""INSERT INTO $cat.ods.acct
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g223_customer WHERE c_acctbal >= 0""")
    val okCount = spark.table(s"$cat.ods.acct").count()
    // the violating batch refuses LOUDLY and commits nothing
    val refusal = try {
      spark.sql(s"""INSERT INTO $cat.ods.acct
        SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT),
          c_mktsegment
        FROM g223_customer WHERE c_acctbal < 0""")
      None
    } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    require(refusal.exists(_.contains("cents_nonneg")),
      s"q223: violating insert was not refused by name: $refusal")
    require(spark.table(s"$cat.ods.acct").count() == okCount,
      "q223: a refused insert committed rows")
    // Delta's ADD CONSTRAINT rule: existing rows must satisfy a new
    // constraint — no customer balance reaches 10000.00, so every
    // existing row violates this one and the ALTER must refuse
    val alter = try {
      spark.sql(s"ALTER TABLE $cat.ods.acct SET TBLPROPERTIES " +
        "('constraints.check.cents_big' = 'cents >= 1000000')")
      None
    } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    require(alter.exists(_.contains("existing row")),
      s"q223: ADD CONSTRAINT over violating rows did not refuse: $alter")
    // the violators re-land clamped to the constraint
    spark.sql(s"""INSERT INTO $cat.ods.acct
      SELECT c_custkey,
        GREATEST(CAST(0 AS BIGINT), CAST(round(c_acctbal * 100) AS BIGINT)),
        c_mktsegment
      FROM g223_customer WHERE c_acctbal < 0""")
    spark.table(s"$cat.ods.acct")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
  }

  val q223Oracle: String =
    s"""SELECT c_mktsegment AS seg, ${bi("count(*)")} AS n,
       |  ${bi("sum(GREATEST(0, CAST(round(c_acctbal * 100) AS BIGINT)))")}
       |    AS cents_sum
       |FROM customer
       |GROUP BY c_mktsegment""".stripMargin

  /** q224 — BATCH-DML CHANGE DATA FEED
    * ([[graft.sources.GraftCommits]] + [[graft.sources.GraftChanges]]
    * batch mode — Delta's CDF for batch INSERT/UPDATE/DELETE/MERGE,
    * r14 verdict item 1): four DML statements land as journal commits
    * 0..3 and `<t>.changes` serves their row-level diffs — insert rows
    * from each commit's published files, delete rows as FULL PREIMAGES
    * read from the tombstoned pre-rewrite generation. The result is
    * the per-(commit, segment) NET change (rows and cents): COW
    * carryover rows emit cancelling delete+insert pairs within their
    * own commit, so the net is exact and layout-independent — DuckDB
    * recomputes it from the logical operations alone. A feed that
    * dropped preimages, misordered commits, or misattributed rows
    * breaks the hash.
    *
    * Scale shape: an epoch-bounded feed read plans ONLY that commit's
    * recorded files (exact pushdown on `_change_epoch`), so consuming
    * the feed costs the CHANGE, never the table.
    */
  def q224BatchCdf(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g224")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g224_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    // commit 0: full insert
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g224_customer""")
    // commit 1: UPDATE (COW rewrite — preimages tombstoned)
    spark.sql(s"UPDATE $cat.ods.bal SET cents = cents + 7 WHERE k % 10 = 3")
    // commit 2: DELETE
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE k % 10 = 7")
    // commit 3: MERGE (matched update + unmatched insert)
    spark.sql(s"""SELECT k, k * 3 AS cents, seg FROM $cat.ods.bal
      WHERE k % 10 IN (1, 4)
      UNION ALL
      SELECT c_custkey + 10000000, c_custkey, c_mktsegment
      FROM g224_customer WHERE c_custkey % 10 = 9""")
      .createOrReplaceTempView("g224_src")
    spark.sql(s"MERGE INTO $cat.ods.bal t USING g224_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET cents = s.cents " +
      "WHEN NOT MATCHED THEN INSERT *")
    // in-plan evidence: four feed-visible journal commits back the feed
    val loc = spark.conf.get(s"spark.sql.catalog.$cat.root") + "/ods/bal"
    val base = new org.apache.hadoop.fs.Path(loc)
    val hfs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(graft.sources.GraftCommits.list(hfs, base)
        .count(_.feedVisible) == 4,
      "q224: expected exactly 4 feed-visible batch commits")
    // signed replay: preimages (delete | update_preimage) negative,
    // postimages (insert | update_postimage) positive — COW UPDATE and
    // MERGE commits serve Delta-CDF update pairs, whose carryover
    // pre/post rows cancel exactly like the old delete+insert labels
    val neg = col("_change_type").isin("delete", "update_preimage")
    spark.table(s"$cat.ods.bal.changes")
      .groupBy(col("_change_epoch").as("epoch"), col("seg"))
      .agg(
        sum(when(neg, -col("cents")).otherwise(col("cents")))
          .as("net_cents"),
        sum(when(neg, -1L).otherwise(1L)).as("net_rows"))
      .where(col("net_cents") =!= 0 || col("net_rows") =!= 0)
      .select(col("epoch"), col("seg"), col("net_cents"), col("net_rows"))
  }

  /** The four commits' net effects recomputed from the logical ops:
    * commit 0 inserts everything; 1 adds 7 cents to k%10=3; 2 removes
    * k%10=7 (disjoint from the update); 3 sets cents=k*3 on k%10∈{1,4}
    * (disjoint again) and inserts shifted k%10=9 rows.
    */
  val q224Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
       |    c_mktsegment AS seg
       |  FROM customer),
       |nets AS (
       |  SELECT CAST(0 AS BIGINT) AS epoch, seg,
       |    ${bi("sum(cents)")} AS net_cents, ${bi("count(*)")} AS net_rows
       |  FROM base GROUP BY seg
       |  UNION ALL
       |  SELECT 1, seg, ${bi("7 * count(*)")}, CAST(0 AS BIGINT)
       |  FROM base WHERE k % 10 = 3 GROUP BY seg
       |  UNION ALL
       |  SELECT 2, seg, ${bi("-sum(cents)")}, ${bi("-count(*)")}
       |  FROM base WHERE k % 10 = 7 GROUP BY seg
       |  UNION ALL
       |  SELECT 3, seg, ${bi("sum(k * 3 - cents)")}, CAST(0 AS BIGINT)
       |  FROM base WHERE k % 10 IN (1, 4) GROUP BY seg
       |  UNION ALL
       |  SELECT 3, seg, ${bi("sum(k)")}, ${bi("count(*)")}
       |  FROM base WHERE k % 10 = 9 GROUP BY seg)
       |SELECT epoch, seg, ${bi("sum(net_cents)")} AS net_cents,
       |  ${bi("sum(net_rows)")} AS net_rows
       |FROM nets GROUP BY epoch, seg
       |HAVING sum(net_cents) <> 0 OR sum(net_rows) <> 0""".stripMargin

  /** q225 — PER-COMMIT TIME TRAVEL + ROLLBACK
    * ([[graft.sources.GraftCommitSnapshotTable]] +
    * [[graft.sources.GraftCommits.rollbackToCommit]], r14 verdict item
    * 2): three DML commits land, the table rolls back to the middle
    * one, and the result stacks FOUR states on one hash — `VERSION AS
    * OF 'c0'` (the pre-update snapshot, read from files the later
    * commits tombstoned), `'c1'` (the update state, physically
    * RESTORED by the rollback), `'c2'` (the rolled-back delete state,
    * still addressable from its tombstones), and the live table (which
    * must equal c1 exactly). DuckDB recomputes every state from the
    * logical operations alone — a snapshot that resolved the wrong
    * instance, lost a deletion, or a rollback that restored the wrong
    * file set breaks the hash.
    *
    * Scale shape: snapshots are journal replay + per-commit-dir
    * renames/listings — metadata-proportional, never a data rewrite;
    * the rollback itself is one rename per file it moves.
    */
  def q225CommitTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g225")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g225_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g225_customer""")
    spark.sql(s"UPDATE $cat.ods.bal SET cents = cents + 7 WHERE k % 10 = 3")
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE k % 10 = 7")
    spark.sql(s"CALL $cat.system.rollback_to_commit(" +
      "table => 'ods.bal', commit => 1)").collect()
    // in-plan evidence: the commits relation answers as a LocalScan and
    // records the rollback as an addressable floor commit
    val commits = spark.table(s"$cat.ods.bal.commits")
    require(commits.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
      "q225: <t>.commits must plan as a LocalTableScan")
    val kinds = commits.collect().map(_.getString(1)).toSeq
    require(kinds == Seq("append", "rewrite", "rewrite", "rollback"),
      s"q225: unexpected journal: $kinds")
    def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
        .select(lit(tag).as("state"), col("seg"), col("n"),
          col("cents_sum"))
    agg(spark.sql(s"SELECT * FROM $cat.ods.bal VERSION AS OF 'c0'"), "c0")
      .unionAll(
        agg(spark.sql(s"SELECT * FROM $cat.ods.bal VERSION AS OF 'c1'"),
          "c1"))
      .unionAll(
        agg(spark.sql(s"SELECT * FROM $cat.ods.bal VERSION AS OF 'c2'"),
          "c2"))
      .unionAll(agg(spark.table(s"$cat.ods.bal"), "live"))
  }

  /** The four states recomputed logically: c0 = raw balances, c1 = +7
    * on k%10=3, c2 = c1 minus k%10=7, live = c1 (rollback target).
    */
  val q225Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
       |    c_mktsegment AS seg
       |  FROM customer),
       |c1 AS (
       |  SELECT k, cents + CASE WHEN k % 10 = 3 THEN 7 ELSE 0 END AS cents,
       |    seg
       |  FROM base)
       |SELECT 'c0' AS state, seg, ${bi("count(*)")} AS n,
       |  ${bi("sum(cents)")} AS cents_sum FROM base GROUP BY seg
       |UNION ALL
       |SELECT 'c1', seg, ${bi("count(*)")}, ${bi("sum(cents)")}
       |FROM c1 GROUP BY seg
       |UNION ALL
       |SELECT 'c2', seg, ${bi("count(*)")}, ${bi("sum(cents)")}
       |FROM c1 WHERE k % 10 <> 7 GROUP BY seg
       |UNION ALL
       |SELECT 'live', seg, ${bi("count(*)")}, ${bi("sum(cents)")}
       |FROM c1 GROUP BY seg""".stripMargin

  /** q226 — HIDDEN-PARTITIONING TRANSFORMS
    * ([[graft.sources.GraftTransforms]], r14 verdict item 3 —
    * Iceberg's `ADD PARTITION FIELD days(ts)`): the table evolves by
    * `days(ts)` metadata-only; era-2 files gain a derived
    * `ts_day=<utc day>` directory level while `ts` stays an ordinary
    * data column in every era. An era-spanning aggregate under a
    * one-month timestamp-range filter sits on the oracle hash, and an
    * in-plan REQUIRE pins the 100 TB contract: every SCHEDULED era-2
    * file's chain token falls inside the filter's day range (files
    * outside it are pruned at planning, never opened), with era-1
    * files row-filtered as before the evolution.
    */
  def q226DaysTransform(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g226")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g226_orders")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.ord (k BIGINT, ts TIMESTAMP, " +
      "cents BIGINT, pr STRING) PARTITIONED BY (pr)")
    // a realistic daily-partition window: 15 distinct UTC days (the
    // raw 7-year o_orderdate span would mint thousands of day dirs —
    // a partitioning an operator would never choose at this grain; at
    // sandbox SF each day-file is small, so the day count prices the
    // per-file writer overhead, not data volume)
    def ins(pred: String): Unit = spark.sql(s"""INSERT INTO $cat.ods.ord
      SELECT o_orderkey,
        CAST(date_add(DATE'1995-03-01', CAST(o_orderkey % 15 AS INT))
          AS TIMESTAMP) +
          make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT), 0, 0),
        CAST(round(o_totalprice * 100) AS BIGINT),
        substring(o_orderpriority, 1, 1)
      FROM g226_orders WHERE $pred""")
    ins("o_orderkey % 8 = 0") // era 1: plain (pr) spec
    spark.sql(s"CALL $cat.system.evolve_partitioning(" +
      "table => 'ods.ord', add_column => 'days(ts)')").collect()
    ins("o_orderkey % 8 = 1") // era 2: (pr, ts_day=...) layout
    val agg = spark.sql(s"""
      SELECT pr, count(*) AS n, sum(cents) AS cents_sum
      FROM $cat.ods.ord
      WHERE ts >= timestamp'1995-03-05 00:00:00'
        AND ts < timestamp'1995-03-10 00:00:00'
      GROUP BY pr""")
    // in-plan evidence: every scheduled era-2 file's day token is
    // inside [1995-03-01, 1995-04-01), and era-2 files outside it were
    // pruned (strictly fewer era-2 files than the table holds)
    import org.apache.spark.sql.execution.datasources.FilePartition
    val adaptive =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def filesOf(df: DataFrame): Seq[String] = {
      df.count() // finalize AQE without shipping rows to the driver
      adaptive.collect(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.flatten.collect {
            case fp: FilePartition => fp.files.map(_.toPath.toString).toSeq
          }.flatten
      }.flatten
    }
    val scheduled = filesOf(agg)
    // the full-table file census is a METADATA walk, not a second
    // whole-table count job (r15 verdict item on q226's cost: the
    // REQUIRE evidence needs the file names only)
    val tableDir = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get(s"spark.sql.catalog.$cat.root")}/ods/ord")
    val all: Seq[String] = graft.sources.GraftEvolved.listVisible(
      tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      tableDir).map(_.getPath.toUri.getPath)
    val dayOf = "ts_day=([0-9-]+)".r
    def tokened(f: String): Option[String] =
      dayOf.findFirstMatchIn(f).map(_.group(1))
    require(scheduled.forall(f => tokened(f).forall(d =>
        d >= "1995-03-05" && d < "1995-03-10")),
      "q226: an out-of-range era-2 file was scheduled")
    require(all.count(tokened(_).isDefined) >
        scheduled.count(tokened(_).isDefined),
      "q226: the day-range filter pruned no era-2 files")
    require(scheduled.count(tokened(_).isEmpty) ==
        all.count(tokened(_).isEmpty),
      "q226: era-1 files must stay scheduled (row-filtered)")
    // the write clusters by the DERIVED token (r15 item 1): each
    // (pr, ts_day) group is one task's output — era-2 file count ==
    // touched token-dir count, no tasks × day-groups slivers
    val byDir = all.filter(tokened(_).isDefined)
      .groupBy(f => f.substring(0, f.lastIndexOf('/')))
    require(byDir.values.forall(_.size == 1),
      s"q226: transform write slivered token dirs (files per dir: " +
        s"${byDir.view.mapValues(_.size).filter(_._2 > 1).toMap})")
    agg
  }

  /** The era-spanning one-month aggregate recomputed logically (the
    * hour offset keeps every row inside its order date's UTC day).
    */
  val q226Oracle: String =
    s"""SELECT substring(o_orderpriority, 1, 1) AS pr,
       |  ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(o_totalprice * 100) AS BIGINT))")}
       |    AS cents_sum
       |FROM orders
       |WHERE (o_orderkey % 8) IN (0, 1)
       |  AND (o_orderkey % 15) >= 4 AND (o_orderkey % 15) < 9
       |GROUP BY 1""".stripMargin

  /** q227 — V2 VIEWS ([[graft.runtime.GraftViewRules]] +
    * [[graft.sources.GraftCatalog]] ViewCatalog, r14 verdict item 7 —
    * the named-relation consumption layer the reference's Superset
    * dashboards imply): a view with positional column aliases is
    * created over a catalog table, survives a CREATE OR REPLACE
    * narrowing its body, tracks subsequent DML on the base table
    * (schema-binding semantics), and the final aggregate reads
    * THROUGH the view — DuckDB recomputes it from the logical
    * pipeline. SHOW VIEWS and a rename round-trip are REQUIREd
    * in-plan.
    */
  def q227ViewLayer(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g227")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g227_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g227_customer""")
    // positional column aliases + an expression body
    spark.sql(s"CREATE VIEW $cat.mart.seg_stats (segment, n, total) AS " +
      s"SELECT seg, count(*), sum(cents) FROM $cat.ods.bal GROUP BY seg")
    require(spark.sql(s"SHOW VIEWS IN $cat.mart").collect()
      .map(_.getString(1)).toSeq == Seq("seg_stats"),
      "q227: SHOW VIEWS must list the view")
    // schema binding: the view tracks base-table DML
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE k % 10 = 7")
    // rename round-trip
    spark.sql(s"ALTER VIEW $cat.mart.seg_stats RENAME TO mart.seg_v")
    spark.table(s"$cat.mart.seg_v")
      .select(col("segment"), col("n"), col("total"))
  }

  val q227Oracle: String =
    s"""SELECT c_mktsegment AS segment, ${bi("count(*)")} AS n,
       |  ${bi("sum(CAST(round(c_acctbal * 100) AS BIGINT))")} AS total
       |FROM customer
       |WHERE c_custkey % 10 <> 7
       |GROUP BY c_mktsegment""".stripMargin

  /** q228 — UNIFIED BATCH+STREAM CHANGELOG
    * ([[graft.sources.GraftChanges]] + [[graft.sources.GraftCommits]]
    * stream-epoch journaling, r15 verdict item 2): a table maintained
    * by BOTH a streaming append cadence and batch DML — the
    * reference's own shape (daily streaming-like loads + batch
    * backfills) — serves ONE coherent `.changes` feed. Every stream
    * epoch journals a `stream_epoch` record under the same table lock
    * batch commits use, so the feed positions interleave on the
    * journal's monotonic commit axis: batch insert (c0), two stream
    * epochs (c1, c2), a batch MERGE serving update pairs (c3), a batch
    * DELETE (c4). The signed per-(position, segment) net is
    * layout-independent and DuckDB recomputes it from the logical
    * operations. An in-plan REQUIRE pins the literal journal
    * interleave.
    */
  def q228UnifiedChangelog(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g228")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g228_customer")
    spark.sql(s"CREATE NAMESPACE $cat.raw")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.raw.src (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    def cust(pred: String) =
      s"""SELECT c_custkey AS k,
         |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         |  c_mktsegment AS seg FROM g228_customer WHERE $pred""".stripMargin
    // c0: batch insert
    spark.sql(s"INSERT INTO $cat.ods.bal ${cust("c_custkey % 4 = 0")}")
    // stream phase: two append epochs from the raw table (c1, c2)
    spark.sql(s"INSERT INTO $cat.raw.src ${cust("c_custkey % 4 = 1")}")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.getOption(shuffleKey)
    spark.conf.set(shuffleKey, "4")
    try {
      val q = spark.readStream.table(s"$cat.raw.src")
        .writeStream
        .option("checkpointLocation", scratch("graft-q228-cp"))
        .toTable(s"$cat.ods.bal")
      q.processAllAvailable() // epoch 0 -> journal c1
      spark.sql(s"INSERT INTO $cat.raw.src ${cust("c_custkey % 4 = 2")}")
      q.processAllAvailable() // epoch 1 -> journal c2
      q.stop()
    } finally prevShuffle match {
      case Some(v) => spark.conf.set(shuffleKey, v)
      case None => spark.conf.unset(shuffleKey)
    }
    // c3: batch MERGE update across BOTH provenances (update pairs)
    spark.sql(s"""MERGE INTO $cat.ods.bal t USING
      (SELECT c_custkey AS k, 777 AS cents FROM g228_customer
       WHERE c_custkey % 10 = 3) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET cents = s.cents""")
    // c4: batch DELETE across both provenances
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE k % 10 = 7")
    // in-plan evidence: the journal interleaves literally
    val loc = spark.conf.get(s"spark.sql.catalog.$cat.root") + "/ods/bal"
    val base = new org.apache.hadoop.fs.Path(loc)
    val hfs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kinds = graft.sources.GraftCommits.list(hfs, base).map(_.kind)
    require(kinds == Seq("append", "stream_epoch", "stream_epoch",
        "rewrite", "rewrite"),
      s"q228: expected one interleaved journal axis, got $kinds")
    val neg = col("_change_type").isin("delete", "update_preimage")
    spark.table(s"$cat.ods.bal.changes")
      .groupBy(col("_change_epoch").as("epoch"), col("seg"))
      .agg(
        sum(when(neg, -col("cents")).otherwise(col("cents")))
          .as("net_cents"),
        sum(when(neg, -1L).otherwise(1L)).as("net_rows"))
      .where(col("net_cents") =!= 0 || col("net_rows") =!= 0)
      .select(col("epoch"), col("seg"), col("net_cents"), col("net_rows"))
  }

  /** The five positions' net effects from the logical ops alone:
    * c0/c1/c2 insert the three mod-4 slices, c3 sets cents=777 on
    * k%10=3 (within the loaded slices), c4 removes k%10=7.
    */
  val q228Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
       |    c_mktsegment AS seg
       |  FROM customer WHERE c_custkey % 4 IN (0, 1, 2)),
       |nets AS (
       |  SELECT CAST(0 AS BIGINT) AS epoch, seg,
       |    ${bi("sum(cents)")} AS net_cents, ${bi("count(*)")} AS net_rows
       |  FROM base WHERE k % 4 = 0 GROUP BY seg
       |  UNION ALL
       |  SELECT 1, seg, ${bi("sum(cents)")}, ${bi("count(*)")}
       |  FROM base WHERE k % 4 = 1 GROUP BY seg
       |  UNION ALL
       |  SELECT 2, seg, ${bi("sum(cents)")}, ${bi("count(*)")}
       |  FROM base WHERE k % 4 = 2 GROUP BY seg
       |  UNION ALL
       |  SELECT 3, seg, ${bi("sum(777 - cents)")}, CAST(0 AS BIGINT)
       |  FROM base WHERE k % 10 = 3 GROUP BY seg
       |  UNION ALL
  |  SELECT 4, seg, ${bi("-sum(cents)")}, ${bi("-count(*)")}
       |  FROM base WHERE k % 10 = 7 GROUP BY seg)
       |SELECT epoch, seg, ${bi("sum(net_cents)")} AS net_cents,
       |  ${bi("sum(net_rows)")} AS net_rows
       |FROM nets GROUP BY epoch, seg
       |HAVING sum(net_cents) <> 0 OR sum(net_rows) <> 0""".stripMargin

  /** q229 — CDF UPDATE PAIR TYPES over merge-on-read deltas
    * ([[graft.sources.GraftChanges]] + [[graft.sources.GraftDeltaMor]],
    * r15 verdict item 5 — Delta CDF's `update_preimage` /
    * `update_postimage`): on a merge-on-read table the per-commit
    * deltas are EXACT rows (deletion-vector positions + appended
    * versions, no copy-on-write carryover), so per-`_change_type`
    * counts and sums are layout-independent and DuckDB recomputes them
    * from the logical operations alone. UPDATE and MERGE commits serve
    * paired pre/post rows; the DELETE commit stays `delete`; the
    * initial load stays `insert`. An in-plan REQUIRE pins the KEYED
    * pairing: commit 1's preimage key set equals its postimage key set.
    */
  def q229CdfUpdatePairs(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g229")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g229_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING) TBLPROPERTIES ('delete_mode' = 'merge-on-read')")
    // commit 0: full insert
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g229_customer""")
    // commit 1: mor UPDATE — exact update pairs
    spark.sql(s"UPDATE $cat.ods.bal SET cents = cents + 7 WHERE k % 10 = 3")
    // commit 2: mor DELETE — dv-only, stays `delete`
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE k % 10 = 7")
    // commit 3: mor MERGE — matched updates pair; not-matched inserts
    // ride the postimage label (file-granular, the documented trade)
    spark.sql(s"""SELECT k, k * 3 AS cents, seg FROM $cat.ods.bal
      WHERE k % 10 IN (1, 4)
      UNION ALL
      SELECT c_custkey + 10000000, c_custkey, c_mktsegment
      FROM g229_customer WHERE c_custkey % 10 = 9""")
      .createOrReplaceTempView("g229_src")
    spark.sql(s"MERGE INTO $cat.ods.bal t USING g229_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET cents = s.cents " +
      "WHEN NOT MATCHED THEN INSERT *")
    // the feed is consumed TWICE (the pairing REQUIRE below + the
    // emitted aggregate): materialize it once — each raw read re-serves
    // every commit's preimages from the dv'd data files, and at sf1
    // that second pass was ~a third of the query (SCALING_r16 item)
    val feed = graft.runtime.Materialize.once(
      spark.table(s"$cat.ods.bal.changes"))
    // in-plan evidence of KEYED pairing: the UPDATE commit's preimage
    // keys are exactly its postimage keys (one bounded 1-row aggregate)
    val pair = feed.where(col("_change_epoch") === 1)
      .groupBy(col("_change_type")).agg(
        count(lit(1)).as("n"), sum(col("k")).as("ksum"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    require(pair.keySet == Set("update_preimage", "update_postimage") &&
        pair("update_preimage") == pair("update_postimage"),
      s"q229: UPDATE commit must serve keyed update pairs, got $pair")
    feed.groupBy(col("_change_epoch").as("epoch"),
        col("_change_type").as("ctype"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
  }

  /** Per-(commit, type) counts/sums recomputed logically: mor deltas
    * touch exactly the matched rows, so the feed's per-type shape is
    * layout-independent (unlike COW carryover).
    */
  val q229Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
       |  FROM customer)
       |SELECT CAST(0 AS BIGINT) AS epoch, 'insert' AS ctype,
       |  ${bi("count(*)")} AS n, ${bi("sum(cents)")} AS cents_sum
       |FROM base
       |UNION ALL
       |SELECT 1, 'update_preimage', ${bi("count(*)")}, ${bi("sum(cents)")}
       |FROM base WHERE k % 10 = 3
       |UNION ALL
       |SELECT 1, 'update_postimage', ${bi("count(*)")},
       |  ${bi("sum(cents + 7)")}
       |FROM base WHERE k % 10 = 3
       |UNION ALL
       |SELECT 2, 'delete', ${bi("count(*)")}, ${bi("sum(cents)")}
       |FROM base WHERE k % 10 = 7
       |UNION ALL
       |SELECT 3, 'update_preimage', ${bi("count(*)")}, ${bi("sum(cents)")}
       |FROM base WHERE k % 10 IN (1, 4)
       |UNION ALL
       |SELECT 3, 'update_postimage',
       |  ${bi("count(*) + (SELECT count(*) FROM base WHERE k % 10 = 9)")},
       |  ${bi("sum(k * 3) + (SELECT sum(k) FROM base WHERE k % 10 = 9)")}
       |FROM base WHERE k % 10 IN (1, 4)""".stripMargin

  /** q230 — MATERIALIZED VIEW with incremental refresh
    * ([[graft.runtime.GraftMaterializedViews]], r15 verdict item 8 —
    * Delta/Trino-Iceberg materialized views over the counting-IVM
    * tier): `CREATE MATERIALIZED VIEW` validates the body is
    * incrementally maintainable and builds the backing aggregate;
    * after batch INSERT + UPDATE + DELETE on the base table,
    * `CALL system.refresh_materialized_view` folds ONLY the change
    * feed above the MV's recorded commit position (exact
    * `_change_epoch` pushdown — the refresh costs the CHANGE, never
    * the base table). DuckDB recomputes the view from the final
    * logical state: incremental == recompute is the hash.
    */
  def q230MaterializedView(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g230")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("g230_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g230_customer WHERE c_custkey % 2 = 0""")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.seg_mv AS " +
      s"SELECT seg, count(*) AS n, sum(cents) AS cents_sum " +
      s"FROM $cat.ods.bal GROUP BY seg")
    // base DML after the MV: a second load, an update, a delete
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g230_customer WHERE c_custkey % 2 = 1""")
    spark.sql(s"UPDATE $cat.ods.bal SET cents = cents + 7 WHERE k % 10 = 3")
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE k % 10 = 7")
    val res = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.seg_mv')").head
    // in-plan evidence: the refresh folded change rows and advanced
    // the MV's position past the initial build's commit
    require(res.getLong(0) > 0,
      s"q230: the incremental refresh folded nothing")
    require(res.getLong(1) >= 3,
      s"q230: position ${res.getLong(1)} did not advance past the DML")
    spark.table(s"$cat.mart.seg_mv")
      .select(col("seg"), col("n"), col("cents_sum"))
  }

  /** The view recomputed from the final logical state. */
  val q230Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) +
       |      CASE WHEN c_custkey % 10 = 3 THEN 7 ELSE 0 END AS cents,
       |    c_mktsegment AS seg
       |  FROM customer)
       |SELECT seg, ${bi("count(*)")} AS n, ${bi("sum(cents)")} AS cents_sum
       |FROM base WHERE k % 10 <> 7
       |GROUP BY seg""".stripMargin

  /** q231 — JOIN-BODY MATERIALIZED VIEW (r16 verdict item 2 — the
    * reference's mart shape fact⋈dim → aggregate,
    * process_covid_data_mart.py:51-115, as a declared MV): `CREATE
    * MATERIALIZED VIEW` over an INNER equi-join of two graft tables;
    * after DML on BOTH sides (fact inserts + deletes, dim inserts +
    * updates) one incremental refresh folds the two-sided counting-IVM
    * delta ΔF⋈D_new + F_new⋈ΔD − ΔF⋈ΔD — per-side change positions,
    * each feed read once. DuckDB recomputes the view from the final
    * logical state: incremental == recompute is the hash.
    */
  def q231MvJoin(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g231")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("g231_orders")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("g231_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.ord (ok BIGINT, cust BIGINT, " +
      "cents BIGINT)")
    spark.sql(s"CREATE TABLE $cat.ods.cust (ck BIGINT, seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.ord
      SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100) AS BIGINT)
      FROM g231_orders WHERE o_orderkey % 2 = 0""")
    spark.sql(s"""INSERT INTO $cat.ods.cust
      SELECT c_custkey, c_mktsegment FROM g231_customer
      WHERE c_custkey % 3 <> 0""")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.seg_sales AS " +
      s"SELECT d.seg, count(*) AS n, sum(f.cents) AS cents_sum " +
      s"FROM $cat.ods.ord f JOIN $cat.ods.cust d ON f.cust = d.ck " +
      "GROUP BY d.seg")
    // DML on BOTH sides after the MV materialized
    spark.sql(s"""INSERT INTO $cat.ods.ord
      SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100) AS BIGINT)
      FROM g231_orders WHERE o_orderkey % 2 = 1""")
    spark.sql(s"""INSERT INTO $cat.ods.cust
      SELECT c_custkey, c_mktsegment FROM g231_customer
      WHERE c_custkey % 3 = 0""")
    spark.sql(s"UPDATE $cat.ods.cust SET seg = 'MOVED' WHERE ck % 10 = 4")
    spark.sql(s"DELETE FROM $cat.ods.ord WHERE ok % 7 = 0")
    val res = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.seg_sales')").head
    require(res.getLong(0) > 0,
      "q231: the two-sided incremental refresh folded nothing")
    spark.table(s"$cat.mart.seg_sales")
      .select(col("seg"), col("n"), col("cents_sum"))
  }

  /** The join view recomputed from the final logical state. */
  val q231Oracle: String =
    s"""WITH f AS (
       |  SELECT o_orderkey AS ok, o_custkey AS cust,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE o_orderkey % 7 <> 0),
       |d AS (
       |  SELECT c_custkey AS ck,
       |    CASE WHEN c_custkey % 10 = 4 THEN 'MOVED'
       |         ELSE c_mktsegment END AS seg
       |  FROM customer)
       |SELECT seg, ${bi("count(*)")} AS n,
       |  ${bi("sum(cents)")} AS cents_sum
       |FROM f JOIN d ON f.cust = d.ck GROUP BY seg""".stripMargin

  /** q232 — MIN/MAX MV MEASURES with rescan-on-invalidation (r16
    * verdict item 7): extremes fold incrementally on inserts
    * (least/greatest against the stored value); the deletes here
    * provably evict every segment's max (cents > 900000) and min
    * (cents < −90000), so the refresh must detect the invalidation
    * and rescan exactly those groups from the base. DuckDB recomputes
    * from the final state: evicted extremes must fall back to the
    * true runner-up values.
    */
  def q232MvMinMax(spark: SparkSession, dir: String): DataFrame = {
    val cat = sqlCatalog(spark, "g232")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("g232_customer")
    spark.sql(s"CREATE NAMESPACE $cat.ods")
    spark.sql(s"CREATE NAMESPACE $cat.mart")
    spark.sql(s"CREATE TABLE $cat.ods.bal (k BIGINT, cents BIGINT, " +
      "seg STRING)")
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g232_customer WHERE c_custkey % 2 = 0""")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mart.bal_mm AS " +
      s"SELECT seg, count(*) AS n, min(cents) AS cmin, " +
      s"max(cents) AS cmax, sum(cents) AS csum " +
      s"FROM $cat.ods.bal GROUP BY seg")
    spark.sql(s"""INSERT INTO $cat.ods.bal
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM g232_customer WHERE c_custkey % 2 = 1""")
    spark.sql(s"UPDATE $cat.ods.bal SET cents = cents - 5 WHERE k % 9 = 2")
    // evict every group's extremes: all high balances and all very
    // negative balances go
    spark.sql(s"DELETE FROM $cat.ods.bal WHERE cents > 900000 OR " +
      "cents < -90000")
    val res = spark.sql(s"CALL $cat.system.refresh_materialized_view(" +
      "table => 'mart.bal_mm')").head
    require(res.getLong(0) > 0,
      "q232: the extremal incremental refresh folded nothing")
    spark.table(s"$cat.mart.bal_mm")
      .select(col("seg"), col("n"), col("cmin"), col("cmax"), col("csum"))
  }

  /** The extremal view recomputed from the final logical state. */
  val q232Oracle: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k,
       |    CAST(round(c_acctbal * 100) AS BIGINT) -
       |      CASE WHEN c_custkey % 9 = 2 THEN 5 ELSE 0 END AS cents,
       |    c_mktsegment AS seg
       |  FROM customer)
       |SELECT seg, ${bi("count(*)")} AS n, ${bi("min(cents)")} AS cmin,
       |  ${bi("max(cents)")} AS cmax, ${bi("sum(cents)")} AS csum
       |FROM base WHERE cents <= 900000 AND cents >= -90000
       |GROUP BY seg""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q159_merge_upsert" -> (q159MergeUpsert _),
    "q160_schema_evolution" -> (q160SchemaEvolution _),
    "q161_multiformat" -> (q161Multiformat _),
    "q172_time_travel" -> (q172TimeTravel _),
    "q173_compaction" -> (q173Compaction _),
    "q174_ivm_aggregate" -> (q174IvmAggregate _),
    "q175_ivm_join" -> (q175IvmJoin _),
    "q176_bucketed_join" -> (q176BucketedJoin _),
    "q177_expectations" -> (q177Expectations _),
    "q182_sql_catalog" -> (q182SqlCatalog _),
    "q183_sql_merge" -> (q183SqlMerge _),
    "q184_sql_time_travel" -> (q184SqlTimeTravel _),
    "q185_sql_schema_evolution" -> (q185SqlSchemaEvolution _),
    "q186_sql_functions" -> (q186SqlFunctions _),
    "q192_sql_partition_delete" -> (q192SqlPartitionDelete _),
    "q196_sql_merge_partitioned" -> (q196SqlMergePartitioned _),
    "q197_bucketed_sql_catalog" -> (q197BucketedSqlCatalog _),
    "q198_streaming_table_pipeline" -> (q198StreamingTablePipeline _),
    "q199_bucketed_sql_merge" -> (q199BucketedSqlMerge _),
    "q200_streaming_window_agg" -> (q200StreamingWindowAgg _),
    "q201_streaming_complete_refresh" -> (q201StreamingCompleteRefresh _),
    "q202_two_level_leaf_merge" -> (q202TwoLevelLeafMerge _),
    "q203_data_skipping" -> (q203DataSkipping _),
    "q204_sql_maintenance" -> (q204SqlMaintenance _),
    "q205_clustered_layout" -> (q205ClusteredLayout _),
    "q206_rollback_maintenance" -> (q206RollbackMaintenance _),
    "q207_zorder_layout" -> (q207ZorderLayout _),
    "q208_auto_stats" -> (q208AutoStats _),
    "q209_meta_agg" -> (q209MetaAgg _),
    "q210_part_metrics" -> (q210PartMetrics _),
    "q211_filtered_metrics" -> (q211FilteredMetrics _),
    "q212_bucket_pruning" -> (q212BucketPruning _),
    "q213_streaming_update_upsert" -> (q213StreamingUpdateUpsert _),
    "q214_mor_delete" -> (q214MorDelete _),
    "q215_bloom_pointlookup" -> (q215BloomPointlookup _),
    "q216_mor_merge" -> (q216MorMerge _),
    "q217_eq_upsert" -> (q217EqUpsert _),
    "q218_partition_evolution" -> (q218PartitionEvolution _),
    "q219_changes_feed" -> (q219ChangesFeed _),
    "q220_meta_tables" -> (q220MetaTables _),
    "q221_cdc_apply" -> (q221CdcApply _),
    "q222_drop_partition_field" -> (q222DropPartitionField _),
    "q223_check_constraints" -> (q223CheckConstraints _),
    "q224_batch_cdf" -> (q224BatchCdf _),
    "q225_commit_time_travel" -> (q225CommitTimeTravel _),
    "q226_days_transform" -> (q226DaysTransform _),
    "q228_unified_changelog" -> (q228UnifiedChangelog _),
    "q229_cdf_update_pairs" -> (q229CdfUpdatePairs _),
    "q230_materialized_view" -> (q230MaterializedView _),
    "q231_mv_join" -> (q231MvJoin _),
    "q232_mv_minmax" -> (q232MvMinMax _),
    "q227_view_layer" -> (q227ViewLayer _))

  val oracles: Map[String, String] = Map(
    "q159_merge_upsert" -> q159Oracle,
    "q160_schema_evolution" -> q160Oracle,
    "q161_multiformat" -> q161Oracle,
    "q172_time_travel" -> q172Oracle,
    "q173_compaction" -> q173Oracle,
    "q174_ivm_aggregate" -> q174Oracle,
    "q175_ivm_join" -> q175Oracle,
    "q176_bucketed_join" -> q176Oracle,
    "q177_expectations" -> q177Oracle,
    "q182_sql_catalog" -> q182Oracle,
    "q183_sql_merge" -> q183Oracle,
    "q184_sql_time_travel" -> q184Oracle,
    "q185_sql_schema_evolution" -> q185Oracle,
    "q186_sql_functions" -> q186Oracle,
    "q192_sql_partition_delete" -> q192Oracle,
    "q196_sql_merge_partitioned" -> q196Oracle,
    "q197_bucketed_sql_catalog" -> q197Oracle,
    "q198_streaming_table_pipeline" -> q198Oracle,
    "q199_bucketed_sql_merge" -> q199Oracle,
    "q200_streaming_window_agg" -> q200Oracle,
    "q201_streaming_complete_refresh" -> q201Oracle,
    "q202_two_level_leaf_merge" -> q202Oracle,
    "q203_data_skipping" -> q203Oracle,
    "q204_sql_maintenance" -> q204Oracle,
    "q205_clustered_layout" -> q205Oracle,
    "q206_rollback_maintenance" -> q206Oracle,
    "q207_zorder_layout" -> q207Oracle,
    "q208_auto_stats" -> q208Oracle,
    "q209_meta_agg" -> q209Oracle,
    "q210_part_metrics" -> q210Oracle,
    "q211_filtered_metrics" -> q211Oracle,
    "q212_bucket_pruning" -> q212Oracle,
    "q213_streaming_update_upsert" -> q213Oracle,
    "q214_mor_delete" -> q214Oracle,
    "q215_bloom_pointlookup" -> q215Oracle,
    "q216_mor_merge" -> q216Oracle,
    "q217_eq_upsert" -> q217Oracle,
    "q218_partition_evolution" -> q218Oracle,
    "q219_changes_feed" -> q219Oracle,
    "q220_meta_tables" -> q220Oracle,
    "q221_cdc_apply" -> q221Oracle,
    "q222_drop_partition_field" -> q222Oracle,
    "q223_check_constraints" -> q223Oracle,
    "q224_batch_cdf" -> q224Oracle,
    "q225_commit_time_travel" -> q225Oracle,
    "q226_days_transform" -> q226Oracle,
    "q227_view_layer" -> q227Oracle,
    "q228_unified_changelog" -> q228Oracle,
    "q229_cdf_update_pairs" -> q229Oracle,
    "q230_materialized_view" -> q230Oracle,
    "q231_mv_join" -> q231Oracle,
    "q232_mv_minmax" -> q232Oracle)
}
