package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.runtime.Catalog
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-source ingest stream conforms and appends like the batch path") {
    val input = tmpDir("stream-input")
    val header = "Province_State,Country_Region,Last_Update,Confirmed,Deaths"
    Files.write(Paths.get(input, "2020-02-01.csv"),
      (Seq(header,
        "Hubei,Mainland China,2020-02-01 10:00:00,100,5",
        ",US,2020-02-01 10:00:00,7,0")).mkString("\n").getBytes)
    val cat = Catalog(spark, tmpDir("stream-wh"))
    val clock = Some(Timestamp.valueOf("2024-01-01 00:00:00"))
    val landing = Streaming.landingSchema(Seq(
      "Province_State", "Country_Region", "Last_Update", "Confirmed", "Deaths"))
    val q = Streaming.rawIngestStream(spark, input, cat,
      fixedClock = clock, checkpointDir = tmpDir("stream-ckpt"),
      landing = landing)
    q.awaitTermination(60000)

    val raw = cat.read("raw", "daily_reports")
    assert(raw.count() == 2)
    // conformed to the full 14-field schema + lineage
    assert(raw.columns.contains("Incident_Rate"))
    val hubei = raw.filter(col("Province_State") === "Hubei").collect()(0)
    assert(hubei.getAs[Long]("Confirmed") == 100L)
    assert(hubei.getAs[String]("source_file").endsWith("2020-02-01.csv"))

    // a second identical run of the same files is a no-op (checkpointed)
    val q2 = Streaming.rawIngestStream(spark, input, cat,
      fixedClock = clock, checkpointDir = tmpDir("stream-ckpt-2"),
      landing = landing)
    q2.awaitTermination(60000)
    // new checkpoint re-reads the file: appends again — demonstrate the
    // checkpoint IS the idempotency boundary
    assert(cat.read("raw", "daily_reports").count() == 4)
  }

  test("watermarked daily rollup aggregates by event-time day window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Long)]
    val reports = mem.toDF()
      .toDF("Last_Update", "Country_Region", "Confirmed", "Deaths")
      .withColumn("Recovered", lit(null).cast("long"))
      .withColumn("Active", lit(null).cast("long"))
    val agg = Streaming.dailyCountryStats(reports, watermark = "2 days")
    val q = agg.writeStream
      .format("memory")
      .queryName("daily_stats")
      .outputMode("complete")
      .start()
    mem.addData(
      (Timestamp.valueOf("2020-03-01 08:00:00"), "US", 10L, 1L),
      (Timestamp.valueOf("2020-03-01 17:00:00"), "US", 5L, 0L),
      (Timestamp.valueOf("2020-03-02 09:00:00"), "US", 7L, 2L),
      (Timestamp.valueOf("2020-03-01 12:00:00"), "Mainland China", 100L, 3L))
    q.processAllAvailable()
    val rows = spark.table("daily_stats")
      .orderBy("report_date", "country_region").collect()
    q.stop()
    assert(rows.length == 3)
    val us1 = rows.find(r => r.getAs[String]("country_region") == "United States"
      && r.getAs[java.sql.Date]("report_date").toString == "2020-03-01").get
    assert(us1.getAs[Long]("confirmed") == 15L)
    assert(us1.getAs[Long]("source_records_cnt") == 2L)
    // CASE normalization applied inside the stream
    assert(rows.exists(_.getAs[String]("country_region") == "China"))
  }

  test("stream-static join enriches the rollup with broadcast population rates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Long)]
    val reports = mem.toDF()
      .toDF("Last_Update", "Country_Region", "Confirmed", "Deaths")
      .withColumn("Recovered", lit(null).cast("long"))
      .withColumn("Active", lit(null).cast("long"))
    val dim = Seq(("United States", 2020, 331000000L), ("China", 2020, 1400000000L))
      .toDF("country_name", "population_year", "population")
    val rates = Streaming.ratesStream(
      Streaming.dailyCountryStats(reports), dim)
    val q = rates.writeStream
      .format("memory").queryName("rates").outputMode("complete").start()
    mem.addData(
      (Timestamp.valueOf("2020-03-01 08:00:00"), "US", 662000L, 10L),
      (Timestamp.valueOf("2020-03-01 09:00:00"), "Mainland China", 140000L, 3L))
    q.processAllAvailable()
    val out = spark.table("rates").collect()
      .map(r => r.getAs[String]("country_region") -> r.getAs[Double]("confirmed_per_100k"))
      .toMap
    q.stop()
    assert(out == Map("United States" -> 200.0, "China" -> 10.0))
  }

  test("streaming session windows: gap-merged, watermark-finalized, append-once") {
    implicit val sqlCtx = spark.sqlContext
    def ts(hm: String) = Timestamp.valueOf(s"2020-03-01 $hm:00")
    val mem = MemoryStream[(String, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    val q = graft.streaming.Streaming
      .sessionizeStream(events, gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // batch 1: A's 10:00 and 10:10 must MERGE (gap < 30m); B separate
    mem.addData(("A", ts("10:00"), 1.0), ("A", ts("10:10"), 2.5),
      ("B", ts("10:05"), 1.0))
    q.processAllAvailable()
    // batch 2: a new A session after >30m of inactivity
    mem.addData(("A", ts("12:00"), 4.0))
    q.processAllAvailable()
    // advance the watermark in two steps: 16:00 ⇒ wm 15:00 finalizes
    // every session above; 17:00 triggers the batch that EMITS them
    mem.addData(("C", ts("16:00"), 0.5))
    q.processAllAvailable()
    mem.addData(("C", ts("17:00"), 0.5))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getAs[String]("user_id"),
        r.getAs[Timestamp]("started_at"),
        r.getAs[Timestamp]("session_closes_at"),
        r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value")))
    q.stop()
    // A's merged first session: 2 events, closes 30m after its LAST event
    assert(rows.contains(("A", ts("10:00"), ts("10:40"), 2L, 3.5)))
    assert(rows.contains(("B", ts("10:05"), ts("10:35"), 1L, 1.0)))
    assert(rows.contains(("A", ts("12:00"), ts("12:30"), 1L, 4.0)))
    // C's sessions are still open (watermark has not passed them) —
    // append mode must not have emitted them yet
    assert(!rows.exists(_._1 == "C"))
    assert(rows.length == 3)
  }

  test("changepointSink: streamed CUSUM charts equal the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val cat = Catalog(spark, tmpDir("cusum-wh"))
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streaming.changepointSink(events, cat, tmpDir("cusum-ckpt"))
    val b1 = Seq(
      (ts("2024-01-01 09:00:00"), "view", 10.00),
      (ts("2024-01-01 11:30:00"), "view", 4.50),
      (ts("2024-01-01 10:00:00"), "click", 2.25),
      (ts("2024-01-02 09:00:00"), "view", 11.00))
    val b2 = Seq(
      (ts("2024-01-02 15:00:00"), "click", 3.75),
      // late event for day 1, inside the 2-day watermark: its window
      // re-emits with the corrected total and the upsert folds it in
      (ts("2024-01-01 23:00:00"), "view", 1.50),
      (ts("2024-01-03 08:00:00"), "view", 2.00))
    val b3 = Seq(
      (ts("2024-01-04 12:00:00"), "view", 40.00), // the level shift
      (ts("2024-01-04 12:05:00"), "click", 2.00))
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    mem.addData(b3); q.processAllAvailable()
    q.stop()
    val batch = graft.queries.EventQueries.cusumCharts(
      graft.queries.EventQueries.dailyVolume(
        (b1 ++ b2 ++ b3).toDF("ts", "event_type", "value")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(cat.read("mon", "volume_shifts")) == canon(batch))
    // the injected day-4 spike must actually trip the upward chart
    val shifted = cat.read("mon", "volume_shifts")
      .filter(col("shifted") === 1).collect()
    assert(shifted.exists(r => r.getAs[String]("event_type") == "view"))
  }

  test("mergeSink applies streaming CDC: bootstrap, upsert latest, delete") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Long, Boolean)]
    val df = mem.toDF().toDF("id", "attr", "value", "seq", "is_del")
    val cat = Catalog(spark, tmpDir("cdc-wh"))
    val q = graft.streaming.Streaming.mergeSink(df, cat, "dds", "state",
      keyCols = Seq("id"), seqCol = "seq", checkpoint = tmpDir("cdc-ckpt"),
      deleteCol = Some("is_del"))
    def state(): Map[Long, (String, Double)] =
      cat.read("dds", "state").select($"id", $"attr", $"value")
        .as[(Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // batch 1 bootstraps; id 2 appears twice — the later seq wins
    mem.addData((1L, "a", 1.0, 1L, false), (2L, "b", 2.0, 2L, false),
      (2L, "b2", 3.0, 3L, false))
    q.processAllAvailable()
    assert(state() == Map(1L -> ("a", 1.0), 2L -> ("b2", 3.0)))
    // batch 2: update id 1, insert id 3, delete id 2
    mem.addData((1L, "a2", 9.0, 4L, false), (3L, "c", 5.0, 5L, false),
      (2L, "x", 0.0, 6L, true))
    q.processAllAvailable()
    assert(state() == Map(1L -> ("a2", 9.0), 3L -> ("c", 5.0)))
    // batch 3: stragglers from EARLIER in the change stream arriving
    // late — an update for id 1 with seq 2 (< stored 4) and a delete
    // for id 3 with seq 1 (< stored 5). Neither may regress state.
    mem.addData((1L, "stale", 0.0, 2L, false), (3L, "y", 0.0, 1L, true))
    q.processAllAvailable()
    assert(state() == Map(1L -> ("a2", 9.0), 3L -> ("c", 5.0)))
    // batch 4: a genuinely newer change still applies
    mem.addData((1L, "a3", 11.0, 7L, false))
    q.processAllAvailable()
    assert(state() == Map(1L -> ("a3", 11.0), 3L -> ("c", 5.0)))
    q.stop()
  }

  test("mergeSink schema evolution: a redeployed stream adds a column") {
    implicit val sqlCtx = spark.sqlContext
    val cat = Catalog(spark, tmpDir("cdc-evo-wh"))
    // generation 1: original schema
    val mem1 = MemoryStream[(Long, String, Double, Long, Boolean)]
    val q1 = graft.streaming.Streaming.mergeSink(
      mem1.toDF().toDF("id", "attr", "value", "seq", "is_del"),
      cat, "dds", "state", keyCols = Seq("id"), seqCol = "seq",
      checkpoint = tmpDir("evo-ckpt1"), deleteCol = Some("is_del"))
    mem1.addData((1L, "a", 1.0, 1L, false), (2L, "b", 2.0, 2L, false))
    q1.processAllAvailable(); q1.stop()
    // generation 2: redeployed with an extra src column (fresh stream +
    // checkpoint — a streaming query's schema is fixed for its
    // lifetime; the TABLE carries the continuity)
    val mem2 = MemoryStream[(Long, String, Double, Long, Boolean, String)]
    val q2 = graft.streaming.Streaming.mergeSink(
      mem2.toDF().toDF("id", "attr", "value", "seq", "is_del", "src"),
      cat, "dds", "state", keyCols = Seq("id"), seqCol = "seq",
      checkpoint = tmpDir("evo-ckpt2"), deleteCol = Some("is_del"))
    mem2.addData((2L, "b2", 3.0, 5L, false, "cdc"),
      (3L, "c", 4.0, 6L, false, "cdc"))
    q2.processAllAvailable()
    val rows = cat.read("dds", "state")
      .select($"id", $"attr", $"value", $"src")
      .as[(Long, String, Double, Option[String])].collect().toSet
    // pre-evolution row 1 widened with a typed null; rows 2-3 merged
    assert(rows == Set(
      (1L, "a", 1.0, None), (2L, "b2", 3.0, Some("cdc")),
      (3L, "c", 4.0, Some("cdc"))))
    // the cross-batch seq guard still applies across the evolution
    mem2.addData((2L, "stale", 0.0, 4L, false, "old"))
    q2.processAllAvailable()
    assert(cat.read("dds", "state").filter($"id" === 2L)
      .select($"attr").as[String].collect().toSeq == Seq("b2"))
    q2.stop()
  }

  test("mergeSink schema evolution on a partitioned table") {
    implicit val sqlCtx = spark.sqlContext
    val cat = Catalog(spark, tmpDir("cdc-evo-part-wh"))
    def sink(df: org.apache.spark.sql.DataFrame, ckpt: String) =
      Streaming.mergeSink(df, cat, "dds", "state", keyCols = Seq("id"),
        seqCol = "seq", checkpoint = tmpDir(ckpt),
        partitionCols = Seq("g"), deleteCol = Some("is_del"))
    val mem1 = MemoryStream[(Long, String, Long, Boolean)]
    val q1 = sink(mem1.toDF().toDF("id", "g", "seq", "is_del"), "evo-part-1")
    mem1.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
    q1.processAllAvailable(); q1.stop()
    val mem2 = MemoryStream[(Long, String, Long, Boolean, String)]
    val q2 = sink(mem2.toDF().toDF("id", "g", "seq", "is_del", "src"),
      "evo-part-2")
    mem2.addData((2L, "b", 5L, false, "cdc"), (3L, "a", 6L, false, "cdc"))
    q2.processAllAvailable(); q2.stop()
    assert(cat.read("dds", "state").select($"id", $"g", $"src")
      .as[(Long, String, Option[String])].collect().toSet == Set(
        (1L, "a", None), (2L, "b", Some("cdc")), (3L, "a", Some("cdc"))))
  }

  test("a by-name write inside foreachBatch binds the catalog in the stream's session") {
    implicit val sqlCtx = spark.sqlContext
    // first used INSIDE the micro-batch: the catalog binding lands after
    // the stream cloned its session, and the batch resolves names there
    val cat = Catalog(spark, tmpDir("fb-bind-wh"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "g").writeStream
      .option("checkpointLocation", tmpDir("fb-bind-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        cat.appendByName(b, "ods", "t", Seq("g")); ()
      }
      .start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "a"))
      q.processAllAvailable()
    } finally q.stop()
    assert(cat.table("ods", "t").select($"k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }

  test("streaming alerts: exactly-once across duplicate delivery, agrees with batch") {
    implicit val sqlCtx = spark.sqlContext
    val clock = Some(Timestamp.valueOf("2024-01-01 00:00:00"))
    def d(s: String) = java.sql.Date.valueOf(s)
    // one location that crosses thresholds on days 2-3, one that never
    // does; population drives the rates (AlertsLayer.rules)
    val dim = Seq(
      ("JP", "Japan", 1000000L),
      ("US", "United States", 330000000L))
      .toDF("location_key", "country_name", "population")
    val facts = Seq(
      // day 1: LAG predecessors only (no alerts possible)
      ("JP", d("2020-03-01"), 100L, 0L), ("US", d("2020-03-01"), 10L, 0L),
      // day 2: JP +150 cases (rate 1.5e-4, incidence 15/100k) and
      // +2 deaths (rate 2e-6) → CASE_RATE + INCIDENCE + DEATH_RATE
      ("JP", d("2020-03-02"), 250L, 2L), ("US", d("2020-03-02"), 11L, 0L),
      // day 3: JP +20 deaths (2 per 100k) → DEATH_RATE + DEATH_SPIKE
      ("JP", d("2020-03-03"), 260L, 22L), ("US", d("2020-03-03"), 12L, 0L))

    // batch reference: same data through AlertsLayer.run per day
    val batchCat = Catalog(spark, tmpDir("alerts-batch-wh"))
    batchCat.createOrReplace(dim, "dds", "dim_location")
    batchCat.overwritePartitionsByName(
      facts.toDF("location_key", "report_date", "confirmed", "deaths"),
      "dds", "fact_covid", Seq("report_date"))
    Seq("2020-03-01", "2020-03-02", "2020-03-03")
      .foreach(day => graft.layers.AlertsLayer.run(batchCat, day, clock))

    // streaming path: dim pre-seeded, facts arrive as daily partitions
    val streamCat = Catalog(spark, tmpDir("alerts-stream-wh"))
    streamCat.createOrReplace(dim, "dds", "dim_location")
    val mem = MemoryStream[(String, java.sql.Date, Long, Long)]
    val q = Streaming.alertSink(
      mem.toDF().toDF("location_key", "report_date", "confirmed", "deaths"),
      streamCat, checkpoint = tmpDir("alerts-ckpt"), fixedClock = clock)
    def alerts(): Set[(java.sql.Date, String, String, String, Double, String)] =
      if (!streamCat.tableExists("alerts", "covid_alerts"))
        Set.empty // no alert has fired yet → the table was never created
      else streamCat.read("alerts", "covid_alerts")
        .select($"alert_date", $"country", $"alert_type", $"severity",
          $"metric_value", $"description")
        .as[(java.sql.Date, String, String, String, Double, String)]
        .collect().toSet
    // batch 1: day 1 alone; batch 2: days 2 AND 3 together (multi-date
    // micro-batch exercises the single-pass runDates path)
    mem.addData(facts.filter(_._2 == d("2020-03-01")): _*)
    q.processAllAvailable()
    assert(alerts().isEmpty)
    mem.addData(facts.filter(_._2 != d("2020-03-01")): _*)
    q.processAllAvailable()
    val afterAll = alerts()
    assert(afterAll.map(_._3).nonEmpty)
    // duplicate delivery of ALL days: partitions re-publish
    // idempotently, the anti-join inserts nothing new
    mem.addData(facts: _*)
    q.processAllAvailable()
    assert(alerts() == afterAll)
    assert(streamCat.read("dds", "fact_covid").count() == facts.size)
    q.stop()

    // agreement: identical alert sets on the semantic columns...
    val batchAlerts = batchCat.read("alerts", "covid_alerts")
      .select($"alert_date", $"country", $"alert_type", $"severity",
        $"metric_value", $"description")
      .as[(java.sql.Date, String, String, String, Double, String)]
      .collect().toSet
    assert(afterAll == batchAlerts)
    // ...and FULL-frame equality over the complete covid_alerts schema
    // (created_at included — both paths run the same fixed clock): the
    // streaming path and the batch path must be indistinguishable from
    // the table a downstream consumer reads, as multisets of whole rows
    def wholeRows(cat: Catalog) = cat.read("alerts", "covid_alerts")
      .select(graft.schema.Schemas.covidAlerts.fieldNames
        .map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
      .toMap
    assert(wholeRows(streamCat) == wholeRows(batchCat),
      "streaming and batch alert tables must match row-for-row")
    // and the expected rules actually fired
    val jpByDay = afterAll.filter(_._2 == "Japan")
      .groupBy(_._1.toString).view.mapValues(_.map(_._3)).toMap
    assert(jpByDay("2020-03-02") ==
      Set("CASE_RATE_POPULATION", "INCIDENCE_100K", "DEATH_RATE_POPULATION"))
    assert(jpByDay("2020-03-03") ==
      Set("DEATH_RATE_POPULATION", "DEATH_SPIKE_100K"))
    assert(!afterAll.exists(_._2 == "United States"))
  }

  test("streaming sessions agree with the batch sessionizer on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    def ts(hm: String) = Timestamp.valueOf(s"2020-03-01 $hm:00")
    // deterministic event set: two users, three sessions, in-session
    // gaps under 30m and inter-session gaps over it
    val events = Seq(
      ("A", ts("08:00"), 1.0), ("A", ts("08:20"), 2.0), ("A", ts("08:39"), 0.5),
      ("A", ts("10:00"), 4.0),
      ("B", ts("09:10"), 3.0), ("B", ts("09:35"), 1.5))
    // batch path (event_id tiebreak = insertion order)
    val batchDf = events.zipWithIndex
      .map { case ((u, t, v), i) => (u, t, v, i.toLong) }
      .toDF("user_id", "ts", "value", "event_id")
    val batch = graft.operators.Sessionize.sessionStats(batchDf, gapSec = 1800)
      .select($"user_id", $"started_at", $"ended_at", $"n_events", $"total_value")
      .as[(String, Timestamp, Timestamp, Long, Double)].collect().toSet
    // streaming path over the SAME rows, flushed far past every session
    val mem = MemoryStream[(String, Timestamp, Double)]
    val q = graft.streaming.Streaming
      .sessionizeStream(mem.toDF().toDF("user_id", "ts", "value"),
        gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("sessions_parity")
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    mem.addData(("Z", ts("20:00"), 0.0))
    q.processAllAvailable()
    mem.addData(("Z", ts("21:00"), 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sessions_parity")
      .filter($"user_id" =!= "Z")
      .select($"user_id", $"started_at", $"session_closes_at",
        $"n_events", $"total_value")
      .as[(String, Timestamp, Timestamp, Long, Double)].collect().toSet
    // same sessions: identical (user, start, count, total); the stream's
    // window end is the batch's last-event timestamp + the 30m gap
    val normalized = streamed.map { case (u, start, closes, n, v) =>
      (u, start, new Timestamp(closes.getTime - 30L * 60 * 1000), n, v)
    }
    assert(normalized == batch,
      s"stream=$normalized\nbatch=$batch")
    q.stop()
  }

  test("windowed distinct sketch: streaming registers equal batch per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id")
    val q = Streaming.windowedDistinctSketch(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("wds")
      .outputMode("complete").start()

    val batch1 = (0 until 120).map(i =>
      (Timestamp.valueOf(f"2020-03-01 08:${i % 60}%02d:00"), "click", (i % 40).toLong)) ++
      (0 until 30).map(i =>
        (Timestamp.valueOf(f"2020-03-01 09:${i % 60}%02d:00"), "click", (i % 25).toLong))
    val batch2 = (0 until 50).map(i =>  // same window, later batch, overlap
      (Timestamp.valueOf(f"2020-03-01 08:${i % 60}%02d:30"), "click", (20 + i % 30).toLong))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("wds")
      .as[(Timestamp, String, Seq[Int])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    q.stop()

    // batch twin: same rows, same window, same aggregator
    val batchRegs = (batch1 ++ batch2).toDF("ts", "event_type", "user_id")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(graft.functions.HllAgg.udaf(col("user_id").cast("string")).as("reg"))
      .select(col("win.start"), col("event_type"), col("reg"))
      .as[(Timestamp, String, Seq[Int])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed == batchRegs)
    assert(streamed.size == 2) // 08:00 and 09:00 windows
  }

  test("windowed heavy hitters: summaries equal the batch aggregator's per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    val events = mem.toDF().toDF("ts", "event_type", "item")
    val q = Streaming.windowedHeavyHitters(events, k = 4, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("whh")
      .outputMode("complete").start()

    val batch1 = Seq.fill(30)((Timestamp.valueOf("2020-03-01 08:05:00"), "view", "hot")) ++
      (0 until 12).map(i => (Timestamp.valueOf(f"2020-03-01 08:${10 + i}%02d:00"), "view", s"c$i"))
    val batch2 = Seq.fill(10)((Timestamp.valueOf("2020-03-01 08:40:00"), "view", "hot")) ++
      (12 until 20).map(i => (Timestamp.valueOf(f"2020-03-01 08:${i + 20}%02d:00"), "view", s"c$i"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("whh")
      .as[(Timestamp, String, Map[String, Long])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    q.stop()

    // MG summaries depend on how the stream was split (unlike the
    // linear CM or max-merge HLL), so the check is the GUARANTEE, not
    // bit-equality: k-bounded state, est ≤ true ≤ est + N/(k+1), and
    // the dominant item is present in the window it dominates
    assert(streamed.size == 1)
    val hh = streamed.values.head
    val n = (batch1 ++ batch2).size
    assert(hh.size <= 4)
    assert(hh.contains("hot"))
    assert(hh("hot") <= 40 && hh("hot") >= 40 - n / 5,
      s"MG bound violated: ${hh("hot")} for true 40, N=$n")
  }
}
