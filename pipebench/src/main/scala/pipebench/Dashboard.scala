package pipebench

import java.time.LocalDate
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import graft.layers._
import graft.runtime.Catalog

/** The Superset-style read mix, issued through `spark.sql` on catalog
  * names. Each query carries its expected answer, computed from the
  * oracle's mart and alert rows.
  */
final class Dashboard(cat: Catalog, oracle: Oracle, dates: Seq[LocalDate]) {
  import Dashboard._

  private val mart = cat.sqlIdent(MartLayer.layer, MartLayer.table)
  private val alerts = cat.sqlIdent(AlertsLayer.layer, AlertsLayer.table)
  private val fact = cat.sqlIdent(DdsLayer.layer, DdsLayer.factTable)
  private val dim = cat.sqlIdent(DdsLayer.layer, DdsLayer.dimTable)

  private lazy val martRows = oracle.mart(dates)
  private lazy val alertRows = oracle.alerts(dates, dates)
  private lazy val countries = martRows.keys.map(_._2).toSeq.distinct.sorted

  /** The next query of the mix, its kind and parameters drawn from `rnd`. */
  def next(rnd: SplittableRandom): Query = {
    val day = dates(rnd.nextInt(dates.size))
    Kinds(rnd.nextInt(Kinds.size)) match {
      case "leaderboard" => leaderboard
      case "series" => series(countries(rnd.nextInt(countries.size)))
      case "rolling7" => rolling7(day)
      case "risk_counts" => riskCounts
      case "day_alerts" => dayAlerts(day)
      case "year_rollup" => yearRollup
    }
  }

  def all(day: LocalDate): Seq[Query] =
    Seq(leaderboard, series(countries.head), rolling7(day), riskCounts, dayAlerts(day), yearRollup)

  private def sql(text: String, args: Map[String, Any] = Map.empty): DataFrame =
    cat.spark.sql(text, args)

  def leaderboard: Query = {
    val last = dates.max
    Query("leaderboard", () => sql(
      s"""SELECT country_name, cases_per_100k, risk_category FROM $mart
         |WHERE report_date = (SELECT max(report_date) FROM $mart)
         |ORDER BY cases_per_100k DESC, country_name LIMIT 20""".stripMargin),
      () => martRows.toSeq.filter(_._1._1 == last)
        .sortBy { case ((_, c), m) => (-m.per100k, c) }.take(20)
        .map { case ((_, c), m) => Seq(c, m.per100k, m.risk) })
  }

  def series(country: String): Query =
    Query("series", () => sql(
      s"""SELECT report_date, total_confirmed, new_cases_today FROM $mart
         |WHERE country_name = :c ORDER BY report_date""".stripMargin, Map("c" -> country)),
      () => martRows.toSeq.filter(_._1._2 == country).sortBy(_._1._1.toEpochDay)
        .map { case ((d, _), m) => Seq(d, m.confirmed, m.newCases) })

  /** World new cases, 7-row rolling average over the 28 days ending at `hi`. */
  def rolling7(hi: LocalDate): Query = {
    val lo = hi.minusDays(27)
    Query("rolling7", () => sql(
      s"""WITH d AS (SELECT report_date, sum(new_cases_today) AS n FROM $mart
         |  WHERE report_date BETWEEN :lo AND :hi GROUP BY report_date)
         |SELECT report_date, avg(n) OVER (ORDER BY report_date
         |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS avg7
         |FROM d ORDER BY report_date""".stripMargin,
        Map("lo" -> java.sql.Date.valueOf(lo), "hi" -> java.sql.Date.valueOf(hi))),
      () => {
        val daily = martRows.toSeq.filter { case ((d, _), _) => !d.isBefore(lo) && !d.isAfter(hi) }
          .groupBy(_._1._1).map { case (d, rs) => d -> rs.map(_._2.newCases).sum }
          .toSeq.sortBy(_._1.toEpochDay)
        daily.indices.map { i =>
          val w = daily.slice(math.max(0, i - 6), i + 1).map(_._2)
          Seq(daily(i)._1, w.sum.toDouble / w.size)
        }
      })
  }

  def riskCounts: Query =
    Query("risk_counts", () => sql(
      s"""SELECT report_date, risk_category, count(*) AS n FROM $mart
         |GROUP BY report_date, risk_category ORDER BY report_date, risk_category""".stripMargin),
      () => martRows.toSeq.groupBy { case ((d, _), m) => (d, m.risk) }
        .map { case ((d, r), rs) => Seq(d, r, rs.size.toLong) }.toSeq
        .sortBy(r => (r(0).asInstanceOf[LocalDate].toEpochDay, r(1).asInstanceOf[String])))

  def dayAlerts(day: LocalDate): Query =
    Query("day_alerts", () => sql(
      s"""SELECT a.country, a.alert_type, a.severity, m.total_confirmed, m.risk_category
         |FROM $alerts a JOIN $mart m
         |  ON a.alert_date = m.report_date AND a.country = m.country_name
         |WHERE a.alert_date = :d ORDER BY a.country, a.alert_type""".stripMargin,
        Map("d" -> java.sql.Date.valueOf(day))),
      () => alertRows.toSeq.filter(_._1.date == day).flatMap { case (k, a) =>
        martRows.get((day, k.country)).map(m =>
          Seq(k.country, k.alertType, a.severity, m.confirmed, m.risk))
      }.sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[String])))

  def yearRollup: Query =
    Query("year_rollup", () => sql(
      s"""SELECT d.population_year, count(*) AS n, sum(f.confirmed) AS confirmed,
         |  sum(f.deaths) AS deaths
         |FROM $fact f JOIN $dim d ON f.location_key = d.location_key
         |GROUP BY d.population_year ORDER BY d.population_year""".stripMargin),
      () => oracle.ods(dates).toSeq.groupBy(_._1._1.getYear).toSeq.sortBy(_._1)
        .map { case (y, rs) =>
          Seq(y, rs.size.toLong, rs.map(_._2.confirmed).sum, rs.map(_._2.deaths).sum)
        })
}

object Dashboard {
  val Kinds: IndexedSeq[String] =
    IndexedSeq("leaderboard", "series", "rolling7", "risk_counts", "day_alerts", "year_rollup")

  /** A query: how to build its DataFrame, and its expected answer. */
  final case class Query(kind: String, df: () => DataFrame, expected: () => Seq[Seq[Any]])

  /** Spark row values in the oracle's terms. */
  def normalize(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate
    case i: Int => i.toLong
    case x => x
  }

  def matches(actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Boolean =
    actual.size == expected.size && actual.zip(expected).forall { case (a, e) =>
      a.size == e.size && a.zip(e).forall {
        case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x: Long, y: Int) => x == y.toLong
        case (x, y) => x == y
      }
    }
}
