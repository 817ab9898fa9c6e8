package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate
import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.layers._
import graft.runtime.Catalog

/** Plain-Scala ground truth for every table a day writes, computed from
  * what the generator put into the CSVs — never from the warehouse.
  *
  * Re-derives the pipeline's semantics independently: the province →
  * country rollup over normalized names ([[Gen.Aliases]]), the sha-256
  * surrogate key, the mart's per-country LAG with `GREATEST(COALESCE(Δ, 0), 0)`, the risk
  * buckets, and the four alert rules with their per-(country, year) LAG.
  */
final class Oracle(rollup: Rollup, populations: Seq[Gen.Population]) {
  import Oracle._

  private val pop: Map[(String, Int), Long] =
    populations.map(p => (p.country, p.year) -> p.population).toMap

  def ods(dates: Seq[LocalDate]): Map[(LocalDate, String), OdsRow] = {
    val keep = dates.toSet
    rollup.byKey.collect { case (k, s) if keep(k.date) =>
      (k.date, k.country) -> OdsRow(s.confirmed, s.deaths, s.recovered, s.active, s.n)
    }.toMap
  }

  def fact(dates: Seq[LocalDate]): Map[(LocalDate, String), OdsRow] =
    ods(dates).map { case ((d, c), r) => (d, surrogateKey(c, d.getYear)) -> r.copy(n = 0) }

  /** Mart rows for `dates` (which must be every date the fact table holds). */
  def mart(dates: Seq[LocalDate]): Map[(LocalDate, String), MartRow] = {
    val out = mutable.HashMap.empty[(LocalDate, String), MartRow]
    ods(dates).toSeq.groupBy(_._1._2).foreach { case (country, rows) =>
      var prev: Option[OdsRow] = None
      rows.sortBy(_._1._1.toEpochDay).foreach { case ((d, _), r) =>
        pop.get((country, d.getYear)).filter(_ > 0).foreach { p =>
          def delta(f: OdsRow => Long) =
            math.max(prev.fold(0L)(q => f(r) - f(q)), 0L)
          val per100k = round(r.confirmed.toDouble / p * 100000, 0).toLong
          def pct(x: Long) = if (r.confirmed > 0) round(x.toDouble / r.confirmed * 100, 2) else 0.0
          out((d, country)) = MartRow(p, r.confirmed, r.deaths, r.recovered,
            r.confirmed - r.deaths - r.recovered, delta(_.confirmed), delta(_.deaths), per100k,
            pct(r.deaths), pct(r.recovered),
            if (per100k > 5000) "Critical" else if (per100k > 1000) "High"
            else if (per100k > 100) "Medium" else "Low")
        }
        prev = Some(r)
      }
    }
    out.toMap
  }

  /** Alerts raised for `alertDates`, given that the fact table holds `factDates`. */
  def alerts(factDates: Seq[LocalDate], alertDates: Seq[LocalDate]): Map[AlertKey, AlertRow] = {
    val want = alertDates.toSet
    val out = mutable.HashMap.empty[AlertKey, AlertRow]
    // The alert LAG runs per surrogate key, i.e. per (country, year).
    ods(factDates).toSeq.groupBy { case ((d, c), _) => (c, d.getYear) }.foreach {
      case ((country, year), rows) =>
        val p = pop((country, year))
        var prev: Option[OdsRow] = None
        rows.sortBy(_._1._1.toEpochDay).foreach { case ((d, _), r) =>
          if (want(d)) prev.foreach { y =>
            val newCases = r.confirmed - y.confirmed
            val newDeaths = r.deaths - y.deaths
            val caseRate = newCases.toDouble / p
            val deathRate = newDeaths.toDouble / p
            val incidence = newCases.toDouble * 100000.0 / p
            val deaths100k = newDeaths.toDouble * 100000.0 / p
            def add(t: String, sev: String, metric: Double, msg: String): Unit =
              out(AlertKey(d, country, t)) = AlertRow(sev, metric, msg)
            if (newCases > 0 && caseRate >= 0.00005)
              add("CASE_RATE_POPULATION", "HIGH", newCases.toDouble, String.format(Locale.US,
                "COVID alert: %.3f%% of population infected today (%s new cases)",
                Double.box(caseRate * 100), newCases.toString))
            if (newDeaths > 0 && deathRate >= 0.0000005)
              add("DEATH_RATE_POPULATION", "HIGH", newDeaths.toDouble, String.format(Locale.US,
                "COVID death alert: %.5f%% of population died today (%s new deaths)",
                Double.box(deathRate * 100), newDeaths.toString))
            if (incidence > 10)
              add("INCIDENCE_100K", "MEDIUM", incidence, String.format(Locale.US,
                "Daily incidence: %.2f per 100k population", Double.box(incidence)))
            if (deaths100k > 1)
              add("DEATH_SPIKE_100K", "HIGH", deaths100k, String.format(Locale.US,
                "High daily COVID mortality: %.2f per 100k population", Double.box(deaths100k)))
          }
          prev = Some(r)
        }
    }
    out.toMap
  }

  /** Compares every table against the expectation for a warehouse that
    * has processed `dates` (all of them also alert dates). Returns one
    * message per mismatch, each tagged with its date when it has one.
    */
  def check(cat: Catalog, dates: Seq[LocalDate]): Seq[Mismatch] = {
    val d = (s: java.sql.Date) => s.toLocalDate
    val odsActual = cat.table(OdsLayer.layer, OdsLayer.table)
      .select("report_date", "country_region", "confirmed", "deaths", "recovered", "active",
        "source_records_cnt").collect().toSeq
      .map(r => (d(r.getDate(0)), r.getString(1)) ->
        OdsRow(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val factActual = cat.table(DdsLayer.layer, DdsLayer.factTable)
      .select("report_date", "location_key", "confirmed", "deaths", "recovered", "active")
      .collect().toSeq
      .map(r => (d(r.getDate(0)), r.getString(1)) ->
        OdsRow(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), 0))
    val martActual = cat.table(MartLayer.layer, MartLayer.table)
      .select(graft.schema.Schemas.covidAnalytics.fieldNames.map(col).toIndexedSeq: _*)
      .collect().toSeq
      .map(r => (d(r.getDate(0)), r.getString(1)) -> MartRow(r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
        r.getDouble(10), r.getDouble(11), r.getString(12)))
    // The alerts table appears with the first alert: a first day has none.
    val alertsActual =
      if (!cat.tableExists(AlertsLayer.layer, AlertsLayer.table)) Nil
      else cat.table(AlertsLayer.layer, AlertsLayer.table)
      .select("alert_date", "country", "alert_type", "severity", "metric_value", "description")
      .collect().toSeq
      .map(r => AlertKey(d(r.getDate(0)), r.getString(1), r.getString(2)) ->
        AlertRow(r.getString(3), r.getDouble(4), r.getString(5)))
    compare("ods", ods(dates), odsActual)(_._1) ++
      compare("fact", fact(dates), factActual)(_._1) ++
      compare("mart", mart(dates), martActual)(_._1) ++
      compare("alerts", alerts(dates, dates), alertsActual)(_.date)
  }
}

object Oracle {
  final case class OdsRow(confirmed: Long, deaths: Long, recovered: Long, active: Long, n: Long)
  final case class MartRow(population: Long, confirmed: Long, deaths: Long, recovered: Long,
                           active: Long, newCases: Long, newDeaths: Long, per100k: Long,
                           fatality: Double, recovery: Double, risk: String)
  final case class AlertKey(date: LocalDate, country: String, alertType: String)
  final case class AlertRow(severity: String, metric: Double, description: String)
  final case class Mismatch(table: String, date: Option[LocalDate], what: String)

  /** Spark's `round` on a double: HALF_UP on the decimal rendering. */
  def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  def surrogateKey(country: String, year: Int): String =
    MessageDigest.getInstance("SHA-256")
      .digest((country.trim.toUpperCase(Locale.ROOT) + year).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Product, y: Product) if x.productArity == y.productArity =>
      x.getClass == y.getClass && x.productIterator.zip(y.productIterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** Keyed comparison: missing, unexpected, duplicated and differing rows. */
  def compare[K, V](table: String, expected: Map[K, V], actual: Seq[(K, V)])
                   (dateOf: K => LocalDate): Seq[Mismatch] = {
    val grouped = actual.groupBy(_._1)
    def m(k: K, what: String) = Mismatch(table, Some(dateOf(k)), s"$what $k")
    expected.toSeq.flatMap { case (k, v) =>
      grouped.get(k) match {
        case None => Seq(m(k, "missing"))
        case Some(Seq((_, a))) => if (same(a, v)) Nil else Seq(m(k, s"expected $v got $a for"))
        case Some(rows) => Seq(m(k, s"${rows.size} copies of"))
      }
    } ++ grouped.keys.filterNot(expected.contains).map(k => m(k, "unexpected")).toSeq
  }
}
