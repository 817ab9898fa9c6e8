package graft.layers

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.{Catalog, WriteMetrics}
import graft.schema.Schemas

/** alerts: threshold rules over window-derived daily rates, inserted
  * exactly-once per (alert_date, country, alert_type).
  *
  * Re-expresses the four Trino queries `alert_case_spike.sql`,
  * `alert_death_spike.sql`, `alert_incidence.sql`, `deaths_incidence.sql`
  * in one engine (SURVEY §3.3): the shared subquery (fact JOIN dim,
  * LAG over (location_key, date) — W2) is computed ONCE and all four
  * rules filter/project from it, instead of the reference's four
  * separate federated scans; the correlated `NOT EXISTS` dedup becomes a
  * `left_anti` join (J3) against the alerts table; `format(...)` message
  * rendering becomes `format_string` (F15).
  *
  * Scale note: one window shuffle for all four rules; the dedup anti-join
  * keys on (alert_date, country, alert_type) — the existing-alerts side is
  * pruned to the run date before joining, so it stays broadcast-sized.
  */
object AlertsLayer {
  val layer = "alerts"
  val table = "covid_alerts"

  /** One alert rule = type/severity + predicate + metric + message. */
  final case class Rule(alertType: String, severity: String,
                        predicate: Column, metric: Column, message: Column)

  /** Shared candidate base: per-location day-over-day deltas and rates
    * (the inner subquery of all four alert_*.sql files, lines 20-51).
    */
  def enriched(fact: DataFrame, dim: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("location_key")).orderBy(col("report_date"))
    fact.join(broadcast(dim), Seq("location_key"), "inner")
      .select(
        col("report_date"), col("location_key"), col("country_name"),
        col("population"), col("confirmed"), col("deaths"))
      .withColumn("confirmed_yesterday", lag(col("confirmed"), 1).over(w))
      .withColumn("deaths_yesterday", lag(col("deaths"), 1).over(w))
      .withColumn("new_cases_today", col("confirmed") - col("confirmed_yesterday"))
      .withColumn("new_deaths_today", col("deaths") - col("deaths_yesterday"))
      .withColumn("case_rate",
        col("new_cases_today").cast("double") / col("population"))
      .withColumn("death_rate",
        col("new_deaths_today").cast("double") / col("population"))
      .withColumn("incidence_per_100k",
        col("new_cases_today").cast("double") * 100000.0 / col("population"))
      .withColumn("deaths_per_100k",
        col("new_deaths_today").cast("double") * 100000.0 / col("population"))
  }

  /** The four reference rules (alert_*.sql WHERE + SELECT clauses). */
  val rules: Seq[Rule] = Seq(
    Rule("CASE_RATE_POPULATION", "HIGH",
      predicate = col("confirmed_yesterday").isNotNull &&
        col("new_cases_today") > 0 && col("population") > 0 &&
        col("case_rate") >= 0.00005,
      metric = col("new_cases_today").cast("double"),
      message = format_string(
        "COVID alert: %.3f%% of population infected today (%s new cases)",
        col("case_rate") * 100, col("new_cases_today"))),
    Rule("DEATH_RATE_POPULATION", "HIGH",
      predicate = col("deaths_yesterday").isNotNull &&
        col("new_deaths_today") > 0 && col("population") > 0 &&
        col("death_rate") >= 0.0000005,
      metric = col("new_deaths_today").cast("double"),
      message = format_string(
        "COVID death alert: %.5f%% of population died today (%s new deaths)",
        col("death_rate") * 100, col("new_deaths_today"))),
    Rule("INCIDENCE_100K", "MEDIUM",
      predicate = col("confirmed_yesterday").isNotNull &&
        col("incidence_per_100k") > 10,
      metric = col("incidence_per_100k"),
      message = format_string(
        "Daily incidence: %.2f per 100k population", col("incidence_per_100k"))),
    Rule("DEATH_SPIKE_100K", "HIGH",
      predicate = col("deaths_yesterday").isNotNull &&
        col("deaths_per_100k") > 1,
      metric = col("deaths_per_100k"),
      message = format_string(
        "High daily COVID mortality: %.2f per 100k population",
        col("deaths_per_100k")))
  )

  /** All candidate alerts for one date (before dedup), schema matching
    * Schemas.covidAlerts minus created_at.
    */
  def candidates(fact: DataFrame, dim: DataFrame, alertDate: String): DataFrame =
    candidatesFor(fact, dim, Seq(alertDate))

  /** Candidates for a SET of dates in one pass — the streaming sink
    * evaluates every date a micro-batch delivered with a single
    * window shuffle instead of one per date.
    */
  def candidatesFor(fact: DataFrame, dim: DataFrame,
                    dates: Seq[String]): DataFrame = {
    val base = enriched(fact, dim)
      .where(col("report_date")
        .isInCollection(dates.map(java.sql.Date.valueOf)))
    // Rules can co-fire for one row (a spike and an incidence breach are
    // different alert_types), so this is a real 1→N expansion — but a
    // union of 4 filtered branches would execute the window+join base 4
    // times. Evaluating every rule as one struct array and exploding
    // evaluates the base ONCE; non-firing rules contribute nulls that
    // the post-explode filter drops.
    val fired = array(rules.map { r =>
      when(r.predicate, struct(
        lit(r.alertType).as("alert_type"),
        lit(r.severity).as("severity"),
        r.metric.as("metric_value"),
        r.message.as("description")))
    }: _*)
    base.select(
        col("report_date").as("alert_date"),
        col("country_name").as("country"),
        explode(fired).as("alert"))
      .filter(col("alert").isNotNull)
      .select(col("alert_date"), col("country"), col("alert.*"))
  }

  /** Exactly-once insert: anti-join candidates against existing alerts on
    * (alert_date, country, alert_type) — the NOT EXISTS of
    * alert_case_spike.sql:57-63 — then append. Returns the number of
    * alerts appended; a day without new alerts commits nothing.
    */
  def run(cat: Catalog, alertDate: String,
          fixedClock: Option[Timestamp] = None): Long =
    runDates(cat, Seq(alertDate), fixedClock)

  /** Multi-date form of [[run]]: one candidate pass + one anti-join
    * for every date in `dates` (the streaming sink's per-micro-batch
    * unit). Exactly-once semantics are identical — the dedup key is
    * still (alert_date, country, alert_type). The candidate plan runs
    * once, inside the append, which also counts the rows it writes.
    */
  def runDates(cat: Catalog, dates: Seq[String],
               fixedClock: Option[Timestamp] = None): Long = {
    val fact = cat.table(DdsLayer.layer, DdsLayer.factTable)
    val dim = cat.table(DdsLayer.layer, DdsLayer.dimTable)
    val cand = candidatesFor(fact, dim, dates)

    val existing: DataFrame =
      if (cat.tableExists(layer, table)) cat.table(layer, table)
      else cat.spark.createDataFrame(
        cat.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.covidAlerts)
    val existingKeys = existing
      .where(col("alert_date")
        .isInCollection(dates.map(java.sql.Date.valueOf)))
      .select("alert_date", "country", "alert_type")
    val fresh = cand.join(broadcast(existingKeys),
      Seq("alert_date", "country", "alert_type"), "left_anti")

    val ts = fixedClock.map(lit(_)).getOrElse(current_timestamp())
    val toWrite = fresh.withColumn("created_at", ts)
      .select(Schemas.covidAlerts.fieldNames.map(col).toIndexedSeq: _*)
    WriteMetrics.observed(toWrite, count(lit(1)).as("rows")) { alerts =>
      cat.appendByName(alerts, layer, table, partitionCols = Nil)
    }.getAs[Long]("rows")
  }

  /** C6: notification digest for a date — an HTML list of that day's
    * alerts (covid_alerts_dag.py:38-59's email body), None when the day
    * has none. Driver-side render is correct here by construction: the
    * alert set for one day is threshold-filtered and bounded by
    * (#countries × #rules), so the collect is a few hundred rows at
    * most — this is presentation, not a data-plane operator.
    */
  def renderDigest(alerts: DataFrame, alertDate: String): Option[String] = {
    val rows = alerts
      .where(col("alert_date") === lit(alertDate).cast("date"))
      .select("country", "description")
      .orderBy("country", "description")
      .collect()
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    if (rows.isEmpty) None
    else Some(rows.map { r =>
      s"<li>${esc(r.getString(0))}: ${esc(r.getString(1))}</li>"
    }.mkString(s"<h3>New COVID alerts for $alertDate</h3><ul>", "", "</ul>"))
  }
}
