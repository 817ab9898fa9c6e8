package graft.runtime

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.hadoop.fs.Path
import graft.layers._

/** Orchestration semantics of the reference DAGs collapsed into one
  * Spark application (SURVEY §2.9, §3.1).
  *
  *  - C1: a simulation cursor starting at 2020-01-22
  *    (`covid_to_s3.py:22-29`), advanced one day per run (`:83-88`),
  *    persisted under `<root>/_state/cursor`;
  *  - C2: layer ordering ingest → raw → ods → dds → mart → alerts
  *    (`covid_to_s3.py:169-173`);
  *  - C3: empty-input short-circuits without a probe: each layer's
  *    write counts its own rows, a zero-row append or partition
  *    overwrite commits nothing, and the mart runs only when the fact
  *    write carried rows. The commit journal answers the rest: a
  *    re-run day's raw file is found by its ingest note, and an
  *    unchanged population skips the dim rebuild;
  *  - C5: alerts run for cursor − 1 day (`covid_alerts_dag.py:12`).
  *
  * Each run is an incremental load of exactly one `report_date`
  * partition; re-running a date is idempotent by construction
  * (dynamic partition overwrite + anti-join alert dedup).
  */
final case class Runner(cat: Catalog, inputDir: String) {
  val initialDate: LocalDate = LocalDate.parse("2020-01-22")

  private def cursorPath = new Path(s"${cat.root}/_state/cursor")
  private def fs = cursorPath.getFileSystem(cat.spark.sparkContext.hadoopConfiguration)

  def cursor: LocalDate =
    if (fs.exists(cursorPath)) {
      val in = fs.open(cursorPath)
      try LocalDate.parse(scala.io.Source.fromInputStream(in).mkString.trim)
      finally in.close()
    } else initialDate

  def setCursor(d: LocalDate): Unit = {
    val out = fs.create(cursorPath, true)
    try out.write(d.toString.getBytes("UTF-8")) finally out.close()
  }

  /** One full pipeline pass for `date` (does not move the cursor). */
  def runDay(date: LocalDate, fixedClock: Option[Timestamp] = None): Unit = {
    val d = date.toString
    val csv = s"$inputDir/$d.csv"
    val csvPath = new Path(csv)
    if (csvPath.getFileSystem(cat.spark.sparkContext.hadoopConfiguration).exists(csvPath))
      RawLayer.ingest(cat, csv, fixedClock)
    OdsLayer.run(cat, d, fixedClock)
    // dim_location rebuilds before the empty-ODS check, as
    // process_covid_dds.py does, unless the population has not committed
    // since the last rebuild; the mart is gated on the fact write having
    // carried rows for the date.
    if (DdsLayer.run(cat, d).isDefined)
      MartLayer.run(cat, d)
    // C5: the reference advances the cursor BEFORE triggering the alerts
    // DAG, whose ALERT_DATE = cursor-1 — i.e. the just-processed day.
    val alertDate = d
    if (cat.tableExists(DdsLayer.layer, DdsLayer.factTable))
      AlertsLayer.run(cat, alertDate, fixedClock)
  }

  /** Cursor-driven run: process the current cursor date, then advance. */
  def runNext(fixedClock: Option[Timestamp] = None): LocalDate = {
    val d = cursor
    runDay(d, fixedClock)
    setCursor(d.plusDays(1))
    d
  }
}
