package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import graft.layers._
import graft.runtime.{Catalog, Runner}

/** End-to-end: N days of drifting daily-report CSVs through
  * raw → ods → dds → mart → alerts, run twice for the same date —
  * idempotency + golden-row spot checks (SURVEY §5.3).
  */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  private val clock = Some(Timestamp.valueOf("2024-01-01 00:00:00"))

  private def writeCsv(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))

  /** 3 days of JHU-style files: days 1-2 in the early 6-column format,
    * day 3 in the modern 14-column format (drift matrix).
    */
  private def seedInput(dir: String): Unit = {
    val earlyHeader = "Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered"
    writeCsv(dir, "2020-01-22.csv", Seq(earlyHeader,
      "Hubei,Mainland China,1/22/2020 17:00,444,17,28",
      "Beijing,Mainland China,1/22/2020 17:00,100,1,2",
      ",US,1/22/2020 17:00,1,0,0",
      ",Japan,1/22/2020 17:00,100,0,0"))
    writeCsv(dir, "2020-01-23.csv", Seq(earlyHeader,
      "Hubei,Mainland China,1/23/2020 17:00,644,18,30",
      "Beijing,Mainland China,1/23/2020 17:00,200,1,5",
      ",US,1/23/2020 17:00,1,0,0",
      ",Japan,1/23/2020 17:00,250,0,0"))
    val modernHeader = "FIPS,Admin2,Province_State,Country_Region,Last_Update," +
      "Lat,Long_,Confirmed,Deaths,Recovered,Active,Combined_Key," +
      "Incident_Rate,Case-Fatality_Ratio"
    writeCsv(dir, "2020-01-24.csv", Seq(modernHeader,
      ",,Hubei,Mainland China,2020-01-24 17:00:00,30.9,112.2,700,19,40,641,\"Hubei, China\",1.1,2.7",
      ",,Beijing,Mainland China,2020-01-24 17:00:00,40.1,116.5,200,1,6,193,\"Beijing, China\",0.5,0.5",
      ",,,US,2020-01-24 17:00:00,38.0,-97.0,2,0,0,2,US,0.0,0.0",
      ",,,Japan,2020-01-24 17:00:00,36.2,138.2,260,0,0,260,Japan,26.0,0.0"))
  }

  private lazy val env: (Catalog, Runner) = {
    val cat = Catalog(spark, tmpDir("warehouse"))
    val input = tmpDir("input")
    seedInput(input)
    val pop = Seq(
      ("China", "CHN", 2020, 1400000000L),
      ("United States", "USA", 2020, 330000000L),
      ("Japan", "JPN", 2020, 1000000L))
      .toDF("country", "country_code", "year", "population")
    cat.createOrReplace(pop, "raw", "country_population")
    val runner = Runner(cat, input)
    runner.runNext(clock) // 2020-01-22 (alerts for 22: no LAG predecessor)
    runner.runNext(clock) // 2020-01-23 (alerts for 23)
    runner.runNext(clock) // 2020-01-24 (alerts for 24: deltas under thresholds)
    (cat, runner)
  }

  test("cursor advances from the reference initial date") {
    val (_, runner) = env
    assert(runner.cursor == LocalDate.parse("2020-01-25"))
  }

  test("raw: drift-normalized schema + lineage columns, partitioned by country") {
    val (cat, _) = env
    val raw = cat.read("raw", "daily_reports")
    assert(raw.columns.toSet.contains("source_file"))
    assert(raw.count() == 12)
    // early-format row got typed nulls for missing modern columns
    val hubei22 = raw.filter(col("Province_State") === "Hubei" &&
      col("source_file").contains("2020-01-22")).collect()(0)
    assert(hubei22.isNullAt(hubei22.fieldIndex("Incident_Rate")))
  }

  test("ods: province → country rollup with CASE-normalized names") {
    val (cat, _) = env
    val ods = cat.read("ods", "daily_country_stats")
    val china22 = ods.filter(col("report_date") === "2020-01-22" &&
      col("country_region") === "China").collect()(0)
    assert(china22.getAs[Long]("confirmed") == 544L)
    assert(china22.getAs[Long]("deaths") == 18L)
    assert(china22.getAs[Long]("source_records_cnt") == 2L)
    // "US" normalized to "United States"
    assert(ods.filter(col("country_region") === "United States").count() == 3)
  }

  test("dds: sha2 surrogate key joins fact to dim with zero misses") {
    val (cat, _) = env
    val dim = cat.read("dds", "dim_location")
    assert(dim.count() == 3)
    val keyLen = dim.select(length(col("location_key"))).distinct().as[Int].collect()
    assert(keyLen.toSeq == Seq(64)) // sha-256 hex
    val fact = cat.read("dds", "fact_covid")
    assert(fact.filter(col("location_key").isNull).count() == 0)
    assert(fact.count() == 9) // 3 countries × 3 days
  }

  test("mart: LAG deltas, per-100k rates, risk buckets (golden rows)") {
    val (cat, _) = env
    val mart = cat.read("data_mart", "covid_analytics")
    val china23 = mart.filter(col("report_date") === "2020-01-23" &&
      col("country_name") === "China").collect()(0)
    assert(china23.getAs[Long]("total_confirmed") == 844L)
    assert(china23.getAs[Long]("new_cases_today") == 300L) // 844 - 544
    val japan23 = mart.filter(col("report_date") === "2020-01-23" &&
      col("country_name") === "Japan").collect()(0)
    assert(japan23.getAs[Long]("new_cases_today") == 150L)
    assert(japan23.getAs[Long]("cases_per_100k") == 25L) // 250/1M*100k
    assert(japan23.getAs[String]("risk_category") == "Low")
    assert(japan23.getAs[Double]("fatality_rate_percent") == 0.0)
    // first day has no predecessor → LAG coalesces to 0
    val china22 = mart.filter(col("report_date") === "2020-01-22" &&
      col("country_name") === "China").collect()(0)
    assert(china22.getAs[Long]("new_cases_today") == 0L)
  }

  test("alerts: threshold rules fire with formatted messages") {
    val (cat, _) = env
    val alerts = cat.read("alerts", "covid_alerts")
    val japan = alerts.filter(col("country") === "Japan").collect()
    val types = japan.map(_.getAs[String]("alert_type")).toSet
    // jump of 150 on pop 1M: case_rate 1.5e-4 ≥ 5e-5; incidence 15 > 10
    assert(types == Set("CASE_RATE_POPULATION", "INCIDENCE_100K"))
    val caseAlert = japan.find(_.getAs[String]("alert_type") == "CASE_RATE_POPULATION").get
    assert(caseAlert.getAs[Double]("metric_value") == 150.0)
    assert(caseAlert.getAs[String]("description") ==
      "COVID alert: 0.015% of population infected today (150 new cases)")
    // China's jump is huge absolutely but tiny per-capita → no alert
    assert(alerts.filter(col("country") === "China").count() == 0)
  }

  test("idempotency: re-running a day changes nothing, alerts not duplicated") {
    val (cat, runner) = env
    val martBefore = cat.read("data_mart", "covid_analytics")
      .collect().map(_.toString).sorted.toSeq
    val alertsBefore = cat.read("alerts", "covid_alerts").count()
    runner.runDay(LocalDate.parse("2020-01-24"), clock) // re-run (alerts for 24 again)
    val martAfter = cat.read("data_mart", "covid_analytics")
      .collect().map(_.toString).sorted.toSeq
    assert(martAfter == martBefore)
    assert(cat.read("alerts", "covid_alerts").count() == alertsBefore)
  }

  /** The session's successful query executions, in order. The listener
    * bus delivers them asynchronously: [[during]] runs a marker query
    * after the body and waits until the listener has seen it, and the
    * bus delivers in order, so every execution of the body is in by
    * then.
    */
  private final class ExecutionLog extends QueryExecutionListener {
    private val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = seen.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    private def marker(qe: QueryExecution): Option[String] =
      qe.analyzed.output.map(_.name).find(_.startsWith("execution_log_"))

    private def drain(): Unit = {
      val name = s"execution_log_${System.nanoTime()}"
      spark.range(1).toDF(name).collect()
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!seen.asScala.exists(marker(_).contains(name))) {
        assert(System.nanoTime() < deadline, "listener bus did not drain")
        Thread.sleep(5)
      }
    }

    def during[T](body: => T): (T, Seq[QueryExecution]) = {
      drain()
      seen.clear()
      val result = body
      drain()
      (result, seen.asScala.toSeq.filter(marker(_).isEmpty))
    }
  }

  private def withExecutionLog[T](f: ExecutionLog => T): T = {
    val log = new ExecutionLog
    spark.listenerManager.register(log)
    try f(log) finally spark.listenerManager.unregister(log)
  }

  /** Runs `body` on another thread and fails the test when it does not
    * finish in time, instead of hanging the suite.
    */
  private def within[T](limit: FiniteDuration)(body: => T): T =
    Await.result(Future(body), limit)

  test("one query execution per layer write on a steady-state day") {
    val (cat, _) = env
    val d = "2020-01-24"
    withExecutionLog { log =>
      def actions[T](body: => T): (T, Seq[String]) = {
        val (result, runs) = log.during(body)
        (result, runs.map(_.logical.nodeName))
      }
      val (written, ods) = actions(OdsLayer.run(cat, d, clock))
      assert(written)
      assert(ods.size == 1)
      val (missing, dds) = actions(DdsLayer.run(cat, d))
      assert(missing.contains(0L))
      assert(dds.size == 1) // fact overwrite; the population did not move
      val (_, alerts) = actions(AlertsLayer.run(cat, d, clock))
      assert(alerts.size == 1)
      // a population commit brings the dim rebuild back
      cat.createOrReplace(cat.table("raw", "country_population"),
        "raw", "country_population")
      val (missing2, dds2) = actions(DdsLayer.run(cat, d))
      assert(missing2.contains(0L))
      assert(dds2.size == 2) // dim replace, fact overwrite
    }
  }

  private def rawCommits(cat: Catalog): Long =
    spark.table(s"${cat.sqlIdent("raw", "daily_reports")}.commits").count()

  test("a re-run day answers alreadyIngested from the journal: no Spark job, no raw commit") {
    val (cat, runner) = env
    val csv = s"${runner.inputDir}/2020-01-23.csv"
    val (ingested, jobs) = jobsDuring(RawLayer.alreadyIngested(cat, csv))
    assert(ingested)
    assert(jobs.isEmpty, s"alreadyIngested ran Spark jobs: $jobs")
    assert(!RawLayer.alreadyIngested(cat, s"${runner.inputDir}/2020-02-30.csv"))
    val before = rawCommits(cat)
    RawLayer.ingest(cat, csv, clock)
    assert(rawCommits(cat) == before)
  }

  test("a raw table holding an un-noted commit falls back to the scan and still refuses a second ingest") {
    val cat = Catalog(spark, tmpDir("warehouse-unnoted"))
    val input = tmpDir("input-unnoted")
    seedInput(input)
    // a bulk load: rows of one file appended without an ingest note
    val first = s"$input/2020-01-22.csv"
    cat.appendByName(
      graft.ops.Normalize(cat.spark.read.option("header", "true")
          .option("inferSchema", "true").csv(first),
        graft.schema.Schemas.rawDailyReport)
        .withColumn("source_file", lit(first))
        .withColumn("ingestion_ts", lit(clock.get)),
      "raw", "daily_reports", partitionCols = Seq("Country_Region"))
    val csv = s"$input/2020-01-23.csv"
    RawLayer.ingest(cat, csv, clock)
    val rows = cat.read("raw", "daily_reports").count()
    val (ingested, jobs) = jobsDuring(RawLayer.alreadyIngested(cat, csv))
    assert(ingested)
    assert(jobs.nonEmpty, "an un-noted raw table must answer from its rows")
    assert(RawLayer.alreadyIngested(cat, first))
    val before = rawCommits(cat)
    RawLayer.ingest(cat, csv, clock)
    RawLayer.ingest(cat, first, clock)
    assert(rawCommits(cat) == before)
    assert(cat.read("raw", "daily_reports").count() == rows)
  }

  test("dim_location gains no commit on a steady-state day, and is rebuilt after a population commit") {
    val (cat, runner) = env
    def dimCommits: Long =
      spark.table(s"${cat.sqlIdent("dds", "dim_location")}.commits").count()
    def dimRows: Seq[String] =
      cat.read("dds", "dim_location").collect().map(_.toString).sorted.toSeq
    val d = LocalDate.parse("2020-01-24")
    runner.runDay(d, clock)
    val (commits, rows) = (dimCommits, dimRows)
    runner.runDay(d, clock)
    assert(dimCommits == commits, "a steady-state day rebuilt the dim")
    assert(dimRows == rows)
    cat.createOrReplace(cat.table("raw", "country_population"),
      "raw", "country_population")
    runner.runDay(d, clock)
    assert(dimCommits == commits + 1, "a population commit did not rebuild the dim")
    assert(dimRows == rows)
    runner.runDay(d, clock)
    assert(dimCommits == commits + 1)
  }

  test("alerts over no dates append nothing and return 0") {
    val (cat, _) = env
    val before = cat.read("alerts", "covid_alerts").count()
    assert(within(2.minutes)(AlertsLayer.runDates(cat, Nil, clock)) == 0L)
    assert(cat.read("alerts", "covid_alerts").count() == before)
  }

  test("a write that fails rethrows its error without waiting for its metrics") {
    val e = intercept[Exception](within(2.minutes)(
      graft.runtime.WriteMetrics.observed(spark.range(3).toDF("x"),
        count(lit(1)).as("rows"))(_.select(raise_error(lit("boom"))).collect())))
    assert(e.getMessage.contains("boom"))
  }

  test("an empty day commits nothing to ods, fact, mart or alerts and skips the mart (C3)") {
    val (cat, runner) = env
    val empty = LocalDate.parse("2020-01-25")
    writeCsv(runner.inputDir, s"$empty.csv",
      Seq("Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered"))
    val tables = Seq("ods" -> "daily_country_stats", "dds" -> "fact_covid",
      "data_mart" -> "covid_analytics", "alerts" -> "covid_alerts")
    def commits(layer: String, table: String): Seq[String] =
      spark.table(s"${cat.sqlIdent(layer, table)}.commits")
        .collect().map(_.toString).toSeq
    def content(layer: String, table: String): Seq[String] =
      cat.read(layer, table).collect().map(_.toString).sorted.toSeq
    val before = tables.map { case (l, t) => (commits(l, t), content(l, t)) }

    val (_, executions) = withExecutionLog(log =>
      log.during(within(5.minutes)(runner.runDay(empty, clock))))

    tables.zip(before).foreach { case ((l, t), (c, rows)) =>
      assert(commits(l, t) == c, s"$l.$t gained a commit")
      assert(content(l, t) == rows, s"$l.$t changed")
    }
    // no execution of the day's run plans the mart's write
    assert(!executions.exists(_.analyzed.toString.contains(MartLayer.table)),
      executions.map(_.analyzed.nodeName))
  }
}
