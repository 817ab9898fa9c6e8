package pipebench

import java.nio.file.Files
import java.time.LocalDate
import graft.layers.PopulationLayer
import graft.runtime.{Catalog, Runner}

/** The oracle against the golden rows of the repo's own end-to-end test:
  * the same 3-day fixture, the same expected values.
  */
class OracleSpec extends SparkSpec {
  import Oracle._

  private val d22 = LocalDate.parse("2020-01-22")
  private val d23 = LocalDate.parse("2020-01-23")
  private val d24 = LocalDate.parse("2020-01-24")
  private val dates = Seq(d22, d23, d24)

  // (date, province, JHU country, confirmed, deaths, recovered, active)
  private val rows = Seq(
    (d22, "Hubei", "Mainland China", 444L, 17L, 28L, None),
    (d22, "Beijing", "Mainland China", 100L, 1L, 2L, None),
    (d22, "", "US", 1L, 0L, 0L, None),
    (d22, "", "Japan", 100L, 0L, 0L, None),
    (d23, "Hubei", "Mainland China", 644L, 18L, 30L, None),
    (d23, "Beijing", "Mainland China", 200L, 1L, 5L, None),
    (d23, "", "US", 1L, 0L, 0L, None),
    (d23, "", "Japan", 250L, 0L, 0L, None),
    (d24, "Hubei", "Mainland China", 700L, 19L, 40L, Some(641L)),
    (d24, "Beijing", "Mainland China", 200L, 1L, 6L, Some(193L)),
    (d24, "", "US", 2L, 0L, 0L, Some(2L)),
    (d24, "", "Japan", 260L, 0L, 0L, Some(260L)))
  private val pops = Seq(
    Gen.Population("China", "CHN", 2020, 1400000000L),
    Gen.Population("United States", "USA", 2020, 330000000L),
    Gen.Population("Japan", "JPN", 2020, 1000000L))

  private lazy val oracle = {
    val r = new Rollup
    rows.foreach { case (d, _, c, conf, dead, rec, act) =>
      r.add(d, c, Some(conf), Some(dead), Some(rec), act) }
    new Oracle(r, pops)
  }

  test("ODS rollup: province sums under normalized names") {
    val china22 = oracle.ods(dates)((d22, "China"))
    assert(china22 == OdsRow(544, 18, 30, 0, 2))
    assert(oracle.ods(dates).keys.count(_._2 == "United States") == 3)
    assert(oracle.fact(dates).size == 9)
    assert(oracle.fact(dates).keys.forall(_._2.length == 64))
  }

  test("mart: LAG deltas, per-100k rates and risk buckets match the golden rows") {
    val mart = oracle.mart(dates)
    val china23 = mart((d23, "China"))
    assert(china23.confirmed == 844 && china23.newCases == 300)
    val japan23 = mart((d23, "Japan"))
    assert(japan23.newCases == 150 && japan23.per100k == 25)
    assert(japan23.risk == "Low" && japan23.fatality == 0.0)
    assert(mart((d22, "China")).newCases == 0)
  }

  test("alerts: Japan's rate and incidence alerts with the exact message; none for China") {
    val alerts = oracle.alerts(dates, dates)
    val japan = alerts.filter(_._1.country == "Japan")
    assert(japan.keys.map(_.alertType).toSet == Set("CASE_RATE_POPULATION", "INCIDENCE_100K"))
    val caseAlert = japan(AlertKey(d23, "Japan", "CASE_RATE_POPULATION"))
    assert(caseAlert.metric == 150.0)
    assert(caseAlert.description ==
      "COVID alert: 0.015% of population infected today (150 new cases)")
    assert(!alerts.keys.exists(_.country == "China"))
  }

  test("a negative delta is clamped to zero in the mart and raises no alert") {
    val r = new Rollup
    r.add(d22, "Japan", Some(500L), Some(0L), Some(0L), None)
    r.add(d23, "Japan", Some(300L), Some(0L), Some(0L), None)
    val o = new Oracle(r, pops)
    assert(o.mart(Seq(d22, d23))((d23, "Japan")).newCases == 0)
    assert(o.alerts(Seq(d22, d23), Seq(d23)).isEmpty)
  }

  test("the pipeline run on the same fixture matches the oracle table by table") {
    import spark.implicits._
    val input = tmpDir("oracle-input")
    val early = "Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered"
    val modern = "FIPS,Admin2,Province_State,Country_Region,Last_Update,Lat,Long_," +
      "Confirmed,Deaths,Recovered,Active,Combined_Key,Incident_Rate,Case-Fatality_Ratio"
    rows.groupBy(_._1).foreach { case (d, rs) =>
      val body = rs.map { case (_, p, c, conf, dead, rec, act) =>
        if (act.isEmpty) s"$p,$c,1/1/2020 17:00,$conf,$dead,$rec"
        else s",,$p,$c,$d 17:00:00,1.0,2.0,$conf,$dead,$rec,${act.get},x,0.0,0.0"
      }
      val header = if (rs.head._7.isEmpty) early else modern
      Files.write(input.resolve(s"$d.csv"), (header +: body).mkString("\n").getBytes("UTF-8"))
    }
    val cat = Catalog(spark, tmpDir("oracle-wh").toString)
    PopulationLayer.seedIfEmpty(cat,
      pops.map(p => (p.country, p.code, p.year, p.population))
        .toDF("country", "country_code", "year", "population"))
    val runner = Runner(cat, input.toString)
    dates.foreach(_ => runner.runNext(Warehouse.Clock))
    assert(oracle.check(cat, dates).isEmpty)
  }
}
