package graft.layers

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.CountryMap
import graft.runtime.{Catalog, WriteMetrics}

/** ods layer: raw daily reports → one `daily_country_stats` partition.
  *
  * Re-expresses `process_covid_ods.py:30-91`:
  *  - `report_date` derived from the ingest file name via
  *    `to_date(regexp_extract(source_file, "(\d{4}-\d{2}-\d{2})", 1))` (F6);
  *  - partition-pruned equality filter on the run date (P4);
  *  - empty-input short-circuit (C3): the reference counts the slice
  *    before writing; here the write counts it, and a zero-row write
  *    commits nothing;
  *  - country-name CASE normalization (F1);
  *  - province→country hash aggregate: multi `sum(coalesce(x, 0))` +
  *    `count(*)` (A1) — Catalyst plans partial+final HashAggregate, so the
  *    shuffle carries only one row per (date, country);
  *  - idempotent dynamic partition overwrite on `report_date` (S6).
  *
  * Returns true iff the write carried rows, i.e. a partition was
  * written.
  */
object OdsLayer {
  val layer = "ods"
  val table = "daily_country_stats"

  val dateRe = "(\\d{4}-\\d{2}-\\d{2})"

  def transform(raw: DataFrame, reportDate: String): DataFrame = {
    val dated = raw
      .withColumn("report_date", to_date(regexp_extract(col("source_file"), dateRe, 1)))
      .filter(col("report_date") === lit(reportDate).cast("date"))
    dated
      .withColumn("country_normalized", CountryMap.normalize(col("Country_Region")))
      .groupBy(col("report_date"), col("country_normalized").as("country_region"))
      .agg(
        sum(coalesce(col("Confirmed"), lit(0L))).as("confirmed"),
        sum(coalesce(col("Deaths"), lit(0L))).as("deaths"),
        sum(coalesce(col("Recovered"), lit(0L))).as("recovered"),
        sum(coalesce(col("Active"), lit(0L))).as("active"),
        count(lit(1)).as("source_records_cnt"))
  }

  /** One query execution: the partition overwrite, with the slice's
    * row count observed on the written rows.
    */
  def run(cat: Catalog, reportDate: String,
          fixedClock: Option[Timestamp] = None): Boolean = {
    val raw = cat.table(RawLayer.layer, RawLayer.table)
    val ts = fixedClock.map(lit(_)).getOrElse(current_timestamp())
    val written = WriteMetrics.observed(
        transform(raw, reportDate).withColumn("ingestion_ts", ts),
        count(lit(1)).as("rows")) { ods =>
      cat.overwritePartitionsByName(ods, layer, table,
        partitionCols = Seq("report_date"))
    }
    written.getAs[Long]("rows") > 0
  }
}
