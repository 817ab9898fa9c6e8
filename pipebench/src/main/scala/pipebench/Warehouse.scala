package pipebench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.layers._
import graft.ops.{CountryMap, Normalize}
import graft.runtime.{Catalog, Runner}
import graft.schema.Schemas

/** Warehouse set-up through the pipeline's public functions only. */
object Warehouse {
  /** Every write uses this clock so table contents hash the same run to run. */
  val Clock: Option[Timestamp] = Some(Timestamp.valueOf("2024-01-01 00:00:00"))

  /** The tables a day writes, as (layer, table). */
  val Tables: Seq[(String, String)] = Seq(
    RawLayer.layer -> RawLayer.table,
    OdsLayer.layer -> OdsLayer.table,
    DdsLayer.layer -> DdsLayer.dimTable,
    DdsLayer.layer -> DdsLayer.factTable,
    MartLayer.layer -> MartLayer.table,
    AlertsLayer.layer -> AlertsLayer.table)

  def populationDf(spark: SparkSession, gen: Gen): DataFrame = {
    import spark.implicits._
    gen.populationRows().map(p => (p.country, p.code, p.year, p.population))
      .toDF("country", "country_code", "year", "population")
  }

  /** Empty warehouse plus the population seed: the `backfill` start state. */
  def seeded(spark: SparkSession, root: Path, gen: Gen): Catalog = {
    val cat = Catalog(spark, root.toString)
    PopulationLayer.seedIfEmpty(cat, populationDf(spark, gen))
    cat
  }

  /** Loads `days` (already written under `inputDir`) as history in one
    * commit per table, using the layers' date-agnostic builders, then
    * places the runner's cursor on the day after the last one. Each table
    * partition gets one file, the layout the daily runs write.
    */
  def bulkLoad(cat: Catalog, inputDir: Path, days: Seq[Gen.Day]): Unit = {
    val spark = cat.spark
    val byEra = days.groupBy(d =>
      if (d.index < Gen.EraLatLong) 0 else if (d.index < Gen.EraModern) 1 else 2)
    // One CSV read per header era: files of one era share a header.
    val raw = byEra.toSeq.sortBy(_._1).map { case (_, ds) =>
      val files = ds.map(d => inputDir.resolve(d.name).toString)
      val df = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(files: _*)
        .withColumn("source_file", concat(lit(s"$inputDir/"), col("_metadata.file_name")))
      Normalize(df, Schemas.rawDailyReport, keep = Seq("source_file"))
    }.reduce(_ unionByName _)
      .withColumn("ingestion_ts", lit(Clock.get))
      // one file per country partition, as a daily append writes
      .repartition(col("Country_Region"))
    cat.appendByName(raw, RawLayer.layer, RawLayer.table,
      partitionCols = Seq("Country_Region"), sortCols = Seq("Country_Region"))

    // OdsLayer.transform without its one-date filter.
    val ods = cat.table(RawLayer.layer, RawLayer.table)
      .withColumn("report_date",
        to_date(regexp_extract(col("source_file"), OdsLayer.dateRe, 1)))
      .withColumn("country_normalized", CountryMap.normalize(col("Country_Region")))
      .groupBy(col("report_date"), col("country_normalized").as("country_region"))
      .agg(
        sum(coalesce(col("Confirmed"), lit(0L))).as("confirmed"),
        sum(coalesce(col("Deaths"), lit(0L))).as("deaths"),
        sum(coalesce(col("Recovered"), lit(0L))).as("recovered"),
        sum(coalesce(col("Active"), lit(0L))).as("active"),
        count(lit(1)).as("source_records_cnt"))
      .withColumn("ingestion_ts", lit(Clock.get))
      .repartition(col("report_date"))
    cat.overwritePartitionsByName(ods, OdsLayer.layer, OdsLayer.table, Seq("report_date"))

    val dim = DdsLayer.buildDim(cat.table(PopulationLayer.layer, PopulationLayer.table))
    cat.createOrReplaceByName(dim, DdsLayer.layer, DdsLayer.dimTable)
    val fact = DdsLayer.buildFact(cat.table(OdsLayer.layer, OdsLayer.table),
      cat.table(DdsLayer.layer, DdsLayer.dimTable))
    cat.overwritePartitionsByName(fact.repartition(col("report_date")), DdsLayer.layer, DdsLayer.factTable, Seq("report_date"))

    val factT = cat.table(DdsLayer.layer, DdsLayer.factTable)
    val dimT = cat.table(DdsLayer.layer, DdsLayer.dimTable)
    val mart = MartLayer.analytics(factT, dimT)
      .select(Schemas.covidAnalytics.fieldNames.map(col).toIndexedSeq: _*)
    cat.overwritePartitionsByName(mart.repartition(col("report_date")), MartLayer.layer, MartLayer.table, Seq("report_date"))

    val alerts = AlertsLayer.candidatesFor(factT, dimT, days.map(_.date.toString))
      .withColumn("created_at", lit(Clock.get))
      .select(Schemas.covidAlerts.fieldNames.map(col).toIndexedSeq: _*)
    cat.appendByName(alerts, AlertsLayer.layer, AlertsLayer.table, partitionCols = Nil)

    Runner(cat, inputDir.toString).setCursor(days.last.date.plusDays(1))
  }

  /** Order-independent content hash of a table (all columns). */
  def contentHash(cat: Catalog, layer: String, table: String): String =
    if (!cat.tableExists(layer, table)) "absent"
    else {
      val df = cat.table(layer, table)
      val h = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
        .head()
      s"${h.getLong(0)}:${h.get(1)}"
    }

  def contentHashes(cat: Catalog): Map[String, String] =
    Tables.map { case (l, t) => s"$l.$t" -> contentHash(cat, l, t) }.toMap

  /** Files and bytes under one directory, split into table data and
    * `_graft_*` commit metadata.
    */
  final case class DirStats(files: Long, metaFiles: Long, bytes: Long)

  def dirStats(dir: Path): DirStats =
    if (!Files.exists(dir)) DirStats(0, 0, 0)
    else {
      val s = Files.walk(dir)
      try {
        s.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft(DirStats(0, 0, 0)) { (a, p) =>
          val meta = dir.relativize(p).iterator().asScala.exists(_.toString.startsWith("_graft_"))
          DirStats(a.files + (if (meta) 0 else 1), a.metaFiles + (if (meta) 1 else 0),
            a.bytes + Files.size(p))
        }
      } finally s.close()
    }

  def treeBytes(dir: Path): Long = dirStats(dir).bytes

  /** Copies the directory tree `from` to `to` (which must not exist), file
    * by file: the program rewrites some files in place, so links would
    * let one copy change another.
    */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  /** Per-table storage: the six tables plus the dim's retired versions,
    * all of which count as metadata.
    */
  def storage(root: Path): Seq[(String, DirStats)] = {
    val retired = dirStats(root.resolve(DdsLayer.layer).resolve(s"${DdsLayer.dimTable}.__retired"))
    Tables.map { case (l, t) => t -> dirStats(root.resolve(l).resolve(t)) } :+
      (s"${DdsLayer.dimTable}.__retired" -> retired.copy(metaFiles = retired.files + retired.metaFiles))
  }
}
