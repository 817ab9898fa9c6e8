package graft.layers

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Normalize
import graft.runtime.Catalog
import graft.schema.Schemas

/** raw layer: schema-drift-tolerant CSV ingestion into `raw.daily_reports`.
  *
  * Re-expresses `process_covid_raw.py:86-113`: CSV scan with header +
  * inferSchema (S1), drift normalization to the 14-field target (P1/P2),
  * lineage columns `source_file` + `ingestion_ts` (P3), then a partitioned
  * append clustered by country (S5: `sortWithinPartitions("Country_Region")`,
  * partitioned by `Country_Region`) whose commit notes its source file,
  * so a re-run day's already-ingested probe reads the commit journal
  * instead of the raw rows.
  *
  * `fixedClock` substitutes a deterministic timestamp for
  * `current_timestamp()` so tests and oracles can hash results
  * (SURVEY §7.5 non-determinism note).
  */
object RawLayer {
  val layer = "raw"
  val table = "daily_reports"

  /** True if this source file is already in the raw table. The reference
    * relies on its forward-only cursor to never re-ingest
    * (`covid_to_s3.py:83-88`); we enforce the same effect explicitly so
    * a re-run of any day is idempotent end-to-end.
    *
    * Every ingest notes its source on its commit ([[noteOf]]), so when
    * each live raw file was added by such a commit the journal answers
    * on the driver, without a Spark job. Otherwise — a bulk load, a
    * table written before ingests carried notes, a compacted table —
    * the raw rows are scanned for the source file.
    */
  def alreadyIngested(cat: Catalog, csvPath: String): Boolean =
    cat.tableExists(layer, table) && (
      cat.liveFileNotes(layer, table)
        .filter(_.forall(_.startsWith(NotePrefix))) match {
        case Some(notes) => notes.contains(noteOf(csvPath))
        case None => !cat.table(layer, table)
          .where(col("source_file") === csvPath).limit(1).isEmpty
      })

  private val NotePrefix = "ingest:"

  /** The commit note of an ingest of `sourcePath`. */
  private def noteOf(sourcePath: String): String = NotePrefix + sourcePath

  def ingest(cat: Catalog, csvPath: String,
             fixedClock: Option[Timestamp] = None): Unit = {
    if (alreadyIngested(cat, csvPath)) return
    val df = cat.spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(csvPath)
    conformAndAppend(cat, df, csvPath, fixedClock)
  }

  /** Same drift-tolerant pipeline over newline-delimited JSON: the feed
    * format differs, but normalization, lineage, and the partitioned
    * append are byte-identical to the CSV path — one code path after
    * the scan, as with the streaming facade.
    */
  def ingestJson(cat: Catalog, jsonPath: String,
                 fixedClock: Option[Timestamp] = None): Unit = {
    if (alreadyIngested(cat, jsonPath)) return
    val df = cat.spark.read.json(jsonPath)
    // PERMISSIVE inference surfaces malformed lines as _corrupt_record;
    // quarantine them (raw line + provenance) instead of letting typed
    // nulls masquerade as data or DROPMALFORMED silently shrink the
    // feed — the ingest-observability discipline a 100 TB feed needs
    val good =
      if (df.columns.contains("_corrupt_record")) {
        // Spark refuses corrupt-record-only queries on a raw file scan
        // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize the parse
        val parsed = graft.runtime.Materialize.once(df)
        val ts = fixedClock.map(lit(_)).getOrElse(current_timestamp())
        val bad = parsed.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record").as("raw_line"),
            lit(jsonPath).as("source_file"), ts.as("ingestion_ts"))
        if (!bad.isEmpty)
          cat.appendByName(bad, layer, "quarantine", partitionCols = Nil)
        parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      } else df
    conformAndAppend(cat, good, jsonPath, fixedClock)
  }

  private def conformAndAppend(cat: Catalog, df: DataFrame, sourcePath: String,
                               fixedClock: Option[Timestamp]): Unit = {
    val ts = fixedClock.map(lit(_)).getOrElse(current_timestamp())
    val finalDf: DataFrame = Normalize(df, Schemas.rawDailyReport)
      .withColumn("source_file", lit(sourcePath))
      .withColumn("ingestion_ts", ts)
    cat.appendByName(finalDf, layer, table,
      partitionCols = Seq("Country_Region"),
      sortCols = Seq("Country_Region"), note = noteOf(sourcePath))
  }
}
