package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.DynamicPruning
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.layers.{AlertsLayer, DdsLayer, MartLayer}
import graft.runtime.Catalog

/** Partition-pruning invariants on the warehouse's date-partitioned
  * fact paths. PlanShapeSpec bans cartesians and global windows; this
  * spec pins down the scan tier the 100 TB story depends on:
  *
  *  1. the day-slice reads the layers perform (DdsLayer.run's ods
  *     slice, a mart date read) must reach the scan as STATIC
  *     partition filters — one partition touched, not a full-history
  *     listing that merely filters rows later;
  *  2. a join against a FILTERED date dimension on the partition key —
  *     the shape every downstream date-scoped consumer takes — must
  *     get DYNAMIC partition pruning (DPP), so the fact scan is
  *     bounded by the dim filter without a literal date in the query;
  *  3. the flagship mart/alert paths deliberately scan FULL history
  *     below their LAG windows (the run-date predicate must stay above
  *     the window or day-over-day deltas see no predecessor) — pinned
  *     here so an "optimization" pushing the date filter below the
  *     window, silently changing semantics, fails CI.
  */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  private val dates = (1 to 6).map(d => s"2020-03-0$d")

  /** dds-shaped warehouse: fact_covid over 6 report_date partitions ×
    * 3 locations, dim_location with populations.
    */
  private def seed(): Catalog = {
    val cat = Catalog(spark, tmpDir("prune_wh"))
    val fact = dates.flatMap { d =>
      Seq("AA", "BB", "CC").map { k =>
        (Date.valueOf(d), k, 100L, 10L, 5L, 85L,
          Timestamp.valueOf(s"$d 06:00:00"))
      }
    }.toDF("report_date", "location_key", "confirmed", "deaths",
      "recovered", "active", "ingestion_ts")
    cat.overwritePartitionsByName(fact, DdsLayer.layer, DdsLayer.factTable,
      Seq("report_date"))
    val dim = Seq(
      ("AA", "Albania", 2020, 2800000L),
      ("BB", "Brazil", 2020, 212000000L),
      ("CC", "Chile", 2020, 19000000L))
      .toDF("location_key", "country_name", "population_year", "population")
    cat.createOrReplace(dim, DdsLayer.layer, DdsLayer.dimTable)
    cat
  }

  /** A fact-table scan: its static partition filters (as the file
    * scan renders them) and the runtime filters Spark attached.
    */
  private case class FactScan(partitionFilters: String,
                              runtimeFilters: Seq[Expression])

  private def factScans(df: DataFrame): Seq[FactScan] =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec if b.table.name().endsWith(DdsLayer.factTable) =>
        FactScan("PartitionFilters: \\[([^\\]]*)\\]".r
          .findFirstMatchIn(b.scan.description()).map(_.group(1)).getOrElse(""),
          b.runtimeFilters)
    }

  test("static pruning: the day-slice scan touches exactly one partition") {
    val cat = seed()
    // the exact slice DdsLayer.run / MartLayer.run perform on their
    // date-partitioned inputs
    val slice = cat.read(DdsLayer.layer, DdsLayer.factTable)
      .filter(col("report_date") === lit("2020-03-04").cast("date"))
    val scans = factScans(slice)
    assert(scans.nonEmpty, "no fact scan found")
    assert(scans.forall(_.partitionFilters.contains("report_date")),
      s"date predicate did not reach the scan as a partition filter:\n$slice")
    // execution-level proof: every file actually read is from the one
    // hive partition
    val files = slice.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("report_date=2020-03-04")),
      s"scan read outside the sliced partition: ${files.mkString(", ")}")
  }

  test("DPP: a filtered date-dim join on the partition key prunes the fact scan") {
    val cat = seed()
    val fact = cat.read(DdsLayer.layer, DdsLayer.factTable)
    // a date dimension with an attribute filter — no literal date
    // reaches the fact side, only the join. This is the downstream
    // date-scoped consumer shape (audit windows, reporting calendars).
    // Stored as a real table: an in-memory Seq would have its filter
    // constant-folded into the LocalRelation and DPP's selective-
    // predicate detection would (correctly) see nothing to prune on.
    // (an attribute-equals-literal predicate: DPP's isLikelySelective
    // heuristic accepts it, where a bare boolean flag would not)
    val dimPath = tmpDir("date_dim")
    dates.zipWithIndex
      .map { case (d, i) =>
        (Date.valueOf(d), if (i % 3 == 0) "audit" else "regular") }
      .toDF("report_date", "day_kind")
      .write.mode("overwrite").parquet(dimPath)
    val dateDim = spark.read.parquet(dimPath)
    val q = fact.join(dateDim.where(col("day_kind") === "audit"), Seq("report_date"))
      .groupBy("report_date").agg(sum("confirmed").as("c"))
    val scans = factScans(q)
    assert(scans.nonEmpty, "no fact scan found")
    assert(scans.exists(_.runtimeFilters.exists(e =>
        e.exists(_.isInstanceOf[DynamicPruning]))),
      "no DynamicPruningExpression on the fact scan's partition filters — " +
        s"a date-dim join would full-scan history at 100 TB:\n${q.queryExecution.sparkPlan}")
    // and it still answers correctly with the pruning active
    assert(q.count() == 2) // audit days 2020-03-01 and 2020-03-04
  }

  test("DPP survives the session catalog: runtime pruning on a partitioned SQL table") {
    // same join shape as the v1-path test above, but resolved through
    // the DSv2 session catalog (graft.sources.GraftCatalog) — proves
    // the delegate file-table scan kept Spark's runtime group
    // filtering tier (SupportsRuntimeV2Filtering), not just static
    // pushdown
    val name = s"gdpp${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", tmpDir("gdpp_wh"))
    spark.sql(s"CREATE NAMESPACE $name.dds")
    spark.sql(s"CREATE TABLE $name.dds.fact " +
      "(location_key STRING, confirmed BIGINT, report_date DATE) " +
      "PARTITIONED BY (report_date)")
    val factRows = dates.flatMap(d => Seq("AA", "BB", "CC").map(k =>
      s"('$k', 100, DATE'$d')")).mkString(", ")
    spark.sql(s"INSERT INTO $name.dds.fact VALUES $factRows")

    val dimPath = tmpDir("gdpp_dim")
    dates.zipWithIndex
      .map { case (d, i) =>
        (Date.valueOf(d), if (i % 3 == 0) "audit" else "regular") }
      .toDF("report_date", "day_kind")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView(s"${name}_dates")

    val q = spark.sql(s"""
      SELECT f.report_date, sum(f.confirmed) AS c
      FROM $name.dds.fact f
      JOIN ${name}_dates d ON d.report_date = f.report_date
      WHERE d.day_kind = 'audit'
      GROUP BY f.report_date""")
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no runtime pruning on the catalog table scan:\n$plan")
    assert(q.count() == 2)
  }

  test("flagship window paths keep full history below the LAG window (pinned semantics)") {
    val cat = seed()
    val fact = cat.read(DdsLayer.layer, DdsLayer.factTable)
    val dim = cat.read(DdsLayer.layer, DdsLayer.dimTable)

    val mart = MartLayer.slice(fact, dim, "2020-03-04")
    // the run-date predicate must NOT become a partition filter on the
    // fact scan: LAG needs the 03-03 rows to compute 03-04 deltas
    assert(factScans(mart).forall(_.partitionFilters.isEmpty),
      "mart run-date filter was pushed below the LAG window — " +
        "day-over-day deltas would lose their predecessor rows")
    val row = mart.where(col("country_name") === "Brazil").collect()
    assert(row.length == 1, "exactly the run-date slice comes out")

    val alerts = AlertsLayer.candidatesFor(fact, dim, Seq("2020-03-04"))
    assert(factScans(alerts).forall(_.partitionFilters.isEmpty),
      "alert-date filter was pushed below the spike-rate LAG window")
  }

  test("name-based layer reads keep static and runtime pruning (the pipeline's addressing mode)") {
    // the layers now address tables by CATALOG NAME (Catalog.table →
    // spark.table("<cat>.dds.fact_covid")), the reference's addressing
    // mode — prove the DSv2 path kept both pruning tiers on the exact
    // frames DdsLayer/MartLayer consume
    val cat = seed()
    // static: the day-slice behind the name touches one partition
    val slice = cat.table(DdsLayer.layer, DdsLayer.factTable)
      .filter(col("report_date") === lit("2020-03-04").cast("date"))
    val files = slice.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("report_date=2020-03-04")),
      s"name-based slice read outside its partition: ${files.mkString(", ")}")
    // runtime: a filtered date-dim join on the partition key prunes the
    // name-resolved fact scan dynamically
    val dimPath = tmpDir("name_date_dim")
    dates.zipWithIndex
      .map { case (d, i) =>
        (Date.valueOf(d), if (i % 3 == 0) "audit" else "regular") }
      .toDF("report_date", "day_kind")
      .write.mode("overwrite").parquet(dimPath)
    val dateDim = spark.read.parquet(dimPath)
    val q = cat.table(DdsLayer.layer, DdsLayer.factTable)
      .join(dateDim.where(col("day_kind") === "audit"), Seq("report_date"))
      .groupBy("report_date").agg(sum("confirmed").as("c"))
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no runtime pruning on the name-resolved fact scan:\n$plan")
    assert(q.count() == 2)
  }
}
