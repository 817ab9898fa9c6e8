package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of JHU-style daily report CSVs plus the population seed.
  *
  * Shape follows the JHU feed the pipeline was written for: countries under
  * their JHU spellings (every alias of [[Gen.Aliases]] among them), one country
  * holding most rows the way the US holds its counties, a tenth of the
  * countries split into provinces, some always-null and sometimes-null
  * counts, and exactly one negative-delta correction day.
  *
  * Header drift runs through three eras, compressed into the first three
  * days so short runs cross them: day 0 uses the 6-column
  * `Province/State` header, day 1 adds the `Latitude/Longitude` spelling,
  * and later days use the 14-column header. The correction lands on day 1.
  *
  * Days are generated strictly in order (counts are cumulative); the same
  * seed always yields byte-identical files. [[Gen.Day.rows]] carries what
  * each CSV row says so the oracle never re-parses the files.
  */
object Gen {
  val Start: LocalDate = LocalDate.parse("2020-01-22")
  val EraLatLong = 1
  val EraModern = 2
  val CorrectionDay = 1

  /** JHU spelling → World-Bank-style name: the 15 branches of the reference
    * pipeline's CASE expression (`process_covid_ods.py:42-59`), written out
    * here so neither the inputs nor the oracle's answers are derived from
    * the program under test.
    */
  val Aliases: Seq[(String, String)] = Seq(
    "US" -> "United States",
    "Korea, South" -> "Korea, Rep.",
    "Taiwan*" -> "Taiwan",
    "Hong Kong" -> "Hong Kong SAR, China",
    "Iran (Islamic Republic of)" -> "Iran, Islamic Rep.",
    "Russia" -> "Russian Federation",
    "Mainland China" -> "China",
    "Turkey" -> "Turkiye",
    "Vietnam" -> "Viet Nam",
    "Burma" -> "Myanmar",
    "Slovakia" -> "Slovak Republic",
    "Kyrgyzstan" -> "Kyrgyz Republic",
    "Egypt" -> "Egypt, Arab Rep.",
    "Iran" -> "Iran, Islamic Rep.",
    "Venezuela" -> "Venezuela, RB")

  /** JHU spellings the pipeline rewrites, each listed once. */
  val JhuAliases: Seq[String] = Aliases.map(_._1)

  final case class Loc(country: String, province: String, admin2: String,
                       fips: String, lat: Double, lon: Double)

  /** One CSV row's values as written (None = empty field). */
  final case class Row(loc: Int, confirmed: Option[Long], deaths: Option[Long],
                       recovered: Option[Long], active: Option[Long])

  final case class Day(index: Int, date: LocalDate, rows: IndexedSeq[Row]) {
    def name: String = s"$date.csv"
  }

  final case class Population(country: String, code: String, year: Int, population: Long)

  def dateOf(day: Int): LocalDate = Start.plusDays(day.toLong)
}

final class Gen(seed: Long, countries: Int, rowsPerDay: Int) {
  import Gen._
  private val multiProvince = math.max(3, countries / 10)
  require(countries > JhuAliases.size + multiProvince, "too few countries for the alias set")

  private val rnd = new SplittableRandom(seed)

  val countryNames: IndexedSeq[String] =
    (JhuAliases ++ (1 to countries - JhuAliases.size).map(i => f"Country $i%03d")).toIndexedSeq

  /** Normalized (World-Bank-style) name, the one the population seed uses. */
  def normalized(jhu: String): String = Rollup.normalize(jhu)

  val locations: IndexedSeq[Loc] = {
    val us = "US"
    val multi = countryNames.filterNot(_ == us).take(multiProvince).toSet
    val otherRows = countryNames.count(c => c != us && !multi(c)) + multi.size * 8
    val usRows = math.max(10, rowsPerDay - otherRows)
    val b = IndexedSeq.newBuilder[Loc]
    def coord(): (Double, Double) =
      (math.rint(rnd.nextDouble(-60, 70) * 1e4) / 1e4, math.rint(rnd.nextDouble(-180, 180) * 1e4) / 1e4)
    for (c <- countryNames) {
      if (c == us) {
        for (i <- 0 until usRows) {
          val (la, lo) = coord()
          b += Loc(c, f"State ${i % 50}%02d", f"County $i%04d", f"${1000 + i}%05d", la, lo)
        }
      } else if (multi(c)) {
        for (p <- 0 until 8) {
          val (la, lo) = coord()
          b += Loc(c, s"Province $p", "", "", la, lo)
        }
      } else {
        val (la, lo) = coord()
        b += Loc(c, "", "", "", la, lo)
      }
    }
    b.result()
  }

  /** Rows that report deaths but never a case count ("Unassigned"-style). */
  private val alwaysNullConfirmed: Set[Int] =
    locations.indices.filter(_ % 97 == 5).toSet

  private val byCountry: Map[String, IndexedSeq[Int]] =
    locations.indices.groupBy(i => normalized(locations(i).country))

  val populations: Map[String, Long] =
    byCountry.keys.toSeq.sorted.map { c =>
      c -> (if (c == "United States") 331000000L
            else math.round(math.exp(rnd.nextDouble(math.log(2e5), math.log(2e8)))))
    }.toMap

  /** Population rows for every year the data can reach (dim is country × year). */
  def populationRows(years: Seq[Int] = 2020 to 2023): Seq[Population] =
    for {
      (c, i) <- populations.keys.toSeq.sorted.zipWithIndex
      y <- years
    } yield Population(c, f"C$i%02d".take(3).padTo(3, 'X'), y,
      populations(c) + (y - 2020) * (populations(c) / 200))

  // Daily new cases per location: a country's daily incidence is drawn
  // log-uniformly around the alert thresholds so some countries alert and
  // some do not, then split over its locations.
  private val perLocRate: Array[Double] = {
    val rate = byCountry.keys.map(c => c -> math.exp(rnd.nextDouble(math.log(5e-6), math.log(3e-4)))).toMap
    locations.indices.map { i =>
      val c = normalized(locations(i).country)
      rate(c) * populations(c) / byCountry(c).size
    }.toArray
  }

  private val conf = new Array[Long](locations.size)
  private val deaths = new Array[Long](locations.size)
  private val recovered = new Array[Long](locations.size)
  // A busy single-row country, so its total visibly drops on the correction day.
  private val correctionLoc: Int = {
    val candidates = byCountry.collect { case (c, Seq(only)) if c != "United States" => only }
      .toIndexedSeq.sortBy(i => (-perLocRate(i), i))
    candidates(rnd.nextInt(5))
  }
  private var next = 0

  /** The country (JHU spelling) whose count is corrected downward on [[Gen.CorrectionDay]]. */
  def correctionCountry: String = locations(correctionLoc).country

  /** Generates the next day in sequence. */
  def nextDay(): Day = {
    val d = next
    next += 1
    val rows = locations.indices.map { i =>
      val mean = perLocRate(i)
      val inc = if (mean < 1) (if (rnd.nextDouble() < mean) 1L else 0L)
                else math.max(0L, math.round(mean * rnd.nextDouble(0.5, 1.5)))
      conf(i) += inc
      deaths(i) += (if (inc > 0) rnd.nextLong(0, inc / 40 + 2) else 0L)
      recovered(i) += (if (d > 5) rnd.nextLong(0, inc + 1) else 0L)
      if (d == CorrectionDay && i == correctionLoc) conf(i) = (conf(i) - inc) * 7 / 10
      val c = if (alwaysNullConfirmed(i)) None else Some(conf(i))
      // Recovered goes unreported on some rows, as it did in the feed.
      val r = if (rnd.nextInt(25) == 0) None else Some(recovered(i))
      val a = if (d < EraModern || r.isEmpty || c.isEmpty) None
              else Some(conf(i) - deaths(i) - recovered(i))
      Row(i, c, Some(deaths(i)), r, a)
    }
    Day(d, dateOf(d), rows)
  }

  private def q(s: String): String =
    if (s.contains(',') || s.contains('"')) "\"" + s.replace("\"", "\"\"") + "\"" else s
  private def opt(v: Option[Long]): String = v.fold("")(_.toString)

  /** The day's CSV text in the header layout of its era. */
  def csv(day: Day): String = {
    val sb = new java.lang.StringBuilder(day.rows.size * 96)
    val date = day.date
    def line(s: String): Unit = sb.append(s).append('\n')
    if (day.index < EraLatLong) {
      line("Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered")
      val ts = s"${date.getMonthValue}/${date.getDayOfMonth}/${date.getYear} 17:00"
      day.rows.foreach { r =>
        val l = locations(r.loc)
        line(Seq(q(province(l)), q(l.country), ts, opt(r.confirmed), opt(r.deaths),
          opt(r.recovered)).mkString(","))
      }
    } else if (day.index < EraModern) {
      line("Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered,Latitude,Longitude")
      val ts = s"${date}T10:13:19"
      day.rows.foreach { r =>
        val l = locations(r.loc)
        line(Seq(q(province(l)), q(l.country), ts, opt(r.confirmed), opt(r.deaths),
          opt(r.recovered), l.lat.toString, l.lon.toString).mkString(","))
      }
    } else {
      line("FIPS,Admin2,Province_State,Country_Region,Last_Update,Lat,Long_," +
        "Confirmed,Deaths,Recovered,Active,Combined_Key,Incident_Rate,Case-Fatality_Ratio")
      val ts = s"$date 23:45:00"
      day.rows.foreach { r =>
        val l = locations(r.loc)
        val key = Seq(l.admin2, l.province, l.country).filter(_.nonEmpty).mkString(", ")
        val pop = populations(normalized(l.country)).toDouble
        val incident = r.confirmed.fold("")(c => f"${c * 1e5 / pop}%.4f")
        val cfr = (r.confirmed, r.deaths) match {
          case (Some(c), Some(dd)) if c > 0 => f"${dd * 100.0 / c}%.4f"
          case _ => ""
        }
        line(Seq(l.fips, q(l.admin2), q(l.province), q(l.country), ts, l.lat.toString,
          l.lon.toString, opt(r.confirmed), opt(r.deaths), opt(r.recovered), opt(r.active),
          q(key), incident, cfr).mkString(","))
      }
    }
    sb.toString
  }

  private def province(l: Loc): String =
    if (l.admin2.nonEmpty) s"${l.admin2}, ${l.province}" else l.province

  /** Generates days `[next, next + n)`, writes each as `<dir>/<date>.csv`,
    * and returns them with their byte sizes.
    */
  def writeDays(dir: Path, n: Int): Seq[(Day, Long)] = {
    Files.createDirectories(dir)
    (0 until n).map { _ =>
      val day = nextDay()
      val bytes = csv(day).getBytes(UTF_8)
      Files.write(dir.resolve(day.name), bytes)
      (day, bytes.length.toLong)
    }
  }
}

/** Per-(date, country) sums the ODS layer should produce, accumulated
  * from CSV rows as they are generated: all the oracle needs, at countries
  * × days entries rather than one per CSV row. Countries are keyed by
  * their normalized ([[Gen.Aliases]]) name.
  */
final class Rollup {
  import Rollup._

  val byKey: mutable.Map[Key, Sums] = mutable.HashMap.empty

  /** One CSV row; `country` in its JHU spelling, None for an empty field. */
  def add(date: LocalDate, country: String, confirmed: Option[Long], deaths: Option[Long],
          recovered: Option[Long], active: Option[Long]): Unit = {
    val k = Key(date, Rollup.normalize(country))
    val s = byKey.getOrElse(k, Sums(0, 0, 0, 0, 0))
    byKey(k) = Sums(s.confirmed + confirmed.getOrElse(0L), s.deaths + deaths.getOrElse(0L),
      s.recovered + recovered.getOrElse(0L), s.active + active.getOrElse(0L), s.n + 1)
  }

  def add(gen: Gen, day: Gen.Day): Unit = day.rows.foreach { r =>
    add(day.date, gen.locations(r.loc).country, r.confirmed, r.deaths, r.recovered, r.active)
  }
}

object Rollup {
  final case class Key(date: LocalDate, country: String)
  final case class Sums(confirmed: Long, deaths: Long, recovered: Long, active: Long, n: Long)

  private val names = Gen.Aliases.toMap
  def normalize(jhu: String): String = names.getOrElse(jhu, jhu)
}
