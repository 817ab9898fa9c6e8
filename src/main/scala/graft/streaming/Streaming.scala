package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{CountryMap, Normalize}
import graft.runtime.Catalog
import graft.schema.Schemas

/** Structured Streaming facade over the incremental pipeline (SURVEY
  * §1.4 stretch goal): the reference simulates a stream with a daily
  * cursor + batch re-runs; here the same layer functions are driven by
  * a real file-source stream, and the windowed ods rollup gets a
  * watermarked streaming twin.
  *
  * Design notes:
  *  - the landing stream declares a fixed schema (streams cannot
  *    re-infer per file); historical drift handling stays in the batch
  *    path, which is where drift actually occurs;
  *  - ingest uses foreachBatch so each micro-batch reuses the exact
  *    batch-layer writers — one code path for batch and streaming, the
  *    Spark-native equivalent of the reference's cursor loop;
  *  - the streaming rollup carries a watermark so late rows beyond the
  *    horizon are dropped deterministically and state is bounded (at
  *    100 TB/day the state store only holds open windows).
  */
object Streaming {

  /** All-string landing schema over the given column layout: CSV
    * streams must declare a schema up front and match files by
    * POSITION, so the layout must equal the feed's actual column order;
    * cast/conform then happens in Normalize, like the batch path.
    */
  def landingSchema(columns: Seq[String]) = {
    import org.apache.spark.sql.types._
    StructType(columns.map(StructField(_, StringType)))
  }

  /** Default landing layout: the full modern 14-column daily report. */
  val modernLanding = landingSchema(Schemas.rawDailyReport.fieldNames.toSeq)

  /** File-source stream of landing CSVs → conformed raw-layer appends.
    * Each micro-batch: normalize to the target schema, stamp lineage
    * columns (file path from the metadata column), append partitioned
    * by country — identical effects to RawLayer.ingest.
    */
  def rawIngestStream(spark: SparkSession, inputDir: String, cat: Catalog,
                      fixedClock: Option[Timestamp] = None,
                      checkpointDir: String,
                      landing: org.apache.spark.sql.types.StructType = modernLanding): StreamingQuery = {
    // _metadata.file_path is a URI (file:///...); the batch path stores
    // the caller-supplied filesystem path. Strip a local-file scheme so
    // RawLayer.alreadyIngested matches across the two ingest paths
    // (object-store URIs — s3a:// etc. — are what batch callers pass
    // anyway, so those are left intact).
    val stream = spark.readStream
      .option("header", "true")
      .schema(landing)
      .csv(inputDir)
      .withColumn("__path",
        regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ts = fixedClock.map(lit(_)).getOrElse(current_timestamp())
          val conformed = Normalize(batch, Schemas.rawDailyReport,
              keep = Seq("__path"))
            .withColumnRenamed("__path", "source_file")
            .withColumn("ingestion_ts", ts)
          cat.append(conformed, "raw", "daily_reports",
            partitionCols = Seq("Country_Region"),
            sortCols = Seq("Country_Region"))
        }
        ()
      }
      .start()
  }

  /** Stream-static enrichment: the streaming daily rollup joined to the
    * (static, small) population dimension for per-100k rates — the
    * streaming twin of the mart's fact⋈dim. A stream-static equi-join
    * needs no watermark bookkeeping on the static side and Spark plans
    * the dim as a broadcast per micro-batch, so the stream side never
    * shuffles for the join; the dim is re-read each batch, picking up
    * dimension updates between batches for free.
    */
  def ratesStream(dailyStats: DataFrame, populationDim: DataFrame): DataFrame =
    dailyStats
      .join(broadcast(populationDim
          .select(col("country_name"), col("population_year"), col("population"))),
        dailyStats("country_region") === col("country_name") &&
          year(dailyStats("report_date")) === col("population_year"))
      .select(
        col("report_date"), col("country_region"), col("confirmed"),
        col("deaths"), col("population"),
        round(col("confirmed").cast("double") * 100000.0 / col("population"), 2)
          .as("confirmed_per_100k"))

  /** Watermarked streaming twin of OdsLayer's daily country rollup:
    * event-time day windows, late data beyond `watermark` dropped,
    * update-mode-compatible aggregation.
    */
  def dailyCountryStats(reports: DataFrame, watermark: String = "2 days"): DataFrame =
    reports
      .withWatermark("Last_Update", watermark)
      .withColumn("country_normalized", CountryMap.normalize(col("Country_Region")))
      .groupBy(
        window(col("Last_Update"), "1 day").as("day"),
        col("country_normalized").as("country_region"))
      .agg(
        sum(coalesce(col("Confirmed"), lit(0L))).as("confirmed"),
        sum(coalesce(col("Deaths"), lit(0L))).as("deaths"),
        sum(coalesce(col("Recovered"), lit(0L))).as("recovered"),
        sum(coalesce(col("Active"), lit(0L))).as("active"),
        count(lit(1)).as("source_records_cnt"))
      .select(
        col("day.start").cast("date").as("report_date"),
        col("country_region"), col("confirmed"), col("deaths"),
        col("recovered"), col("active"), col("source_records_cnt"))

  /** Stream-STREAM interval join (attribution): each click joins the
    * same user's impression when it lands within `within` after it.
    * Watermarks on BOTH sides bound the join state Spark must retain —
    * without them a stream-stream join buffers forever; with them each
    * side's state is (watermark + within) of event time, a fixed
    * memory budget per key regardless of stream length. Inner join +
    * event-time range condition = append-mode-safe (rows emit as they
    * match, finalized once the watermark passes).
    *
    * Expects impressions(imp_id, imp_user, imp_ts) and
    * clicks(click_id, click_user, click_ts).
    */
  def attributionJoin(impressions: DataFrame, clicks: DataFrame,
                      within: String = "10 minutes",
                      watermark: String = "20 minutes"): DataFrame =
    impressions.withWatermark("imp_ts", watermark)
      .join(clicks.withWatermark("click_ts", watermark),
        expr(s"""imp_user = click_user AND
                 click_ts >= imp_ts AND
                 click_ts <= imp_ts + INTERVAL $within"""))
      .select(
        col("imp_id"), col("click_id"), col("imp_user").as("user_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("imp_ts")))
          .as("lag_seconds"))

  /** LEFT OUTER stream-stream interval join — the unmatched-side
    * completion of [[attributionJoin]]: every impression emits, with
    * its click when one landed inside `within`, or with NULLs once the
    * watermark proves no click can still arrive. The null emission is
    * the part only a watermark makes possible: without it "no match"
    * is indistinguishable from "not yet", so outer results would be
    * unboundedly deferred. State per side stays (watermark + within)
    * of event time, exactly as in the inner form; the unmatched row
    * materializes in the micro-batch after its join-state expires.
    * This is the CTR-denominator stream — impressions that did NOT
    * convert — which the inner join structurally cannot produce.
    */
  def attributionJoinOuter(impressions: DataFrame, clicks: DataFrame,
                           within: String = "10 minutes",
                           watermark: String = "20 minutes"): DataFrame =
    impressions.withWatermark("imp_ts", watermark)
      .join(clicks.withWatermark("click_ts", watermark),
        expr(s"""imp_user = click_user AND
                 click_ts >= imp_ts AND
                 click_ts <= imp_ts + INTERVAL $within"""),
        "left_outer")
      .select(
        col("imp_id"), col("click_id"), col("imp_user").as("user_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("imp_ts")))
          .as("lag_seconds"),
        col("click_id").isNotNull.cast("int").as("converted"))

  /** CDC-apply sink: MERGE each micro-batch into a catalog table —
    * the streaming change-data-capture pattern (upsert latest, apply
    * deletes) on top of [[graft.runtime.Catalog.merge]]'s
    * partition-scoped rewrite. Later changes win ACROSS batches, not
    * just within one: rows collapse to the highest `seqCol` per key
    * inside the batch (merge requires key-unique updates), the seq
    * column is PERSISTED in the applied table, and an incoming
    * update/delete whose seq is <= the stored seq for its key is
    * dropped — a straggler from an earlier position in the change
    * stream arriving in a later micro-batch cannot regress newer
    * table state. First batch bootstraps the table. Re-processing a
    * batch after a crash CONVERGES: replayed rows compare equal-or-
    * older against what the crashed attempt applied and re-deleting
    * absent keys is idempotent, so checkpoint replay is safe.
    *
    * Schema evolution: a redeployed stream whose updates carry NEW
    * columns widens the stored table on first contact — existing rows
    * get typed nulls (the batch drift-conformance rule on the CDC
    * path); updates missing a stored column still fail (CDC rows must
    * be complete).
    *
    * Known limit (documented, standard): a DELETE drops the row —
    * and with it the stored seq — so a straggler UPDATE older than
    * the delete would re-insert the key. Guarding that needs
    * tombstone retention; sources that emit per-key ordered deletes
    * (every CDC log) never hit it.
    *
    * Scale note: each micro-batch pays the merge's delta-bounded cost
    * (touched partitions only, when partitionCols is given) plus one
    * key-join against the touched slice for the seq guard — the
    * standard streaming-lakehouse apply loop.
    */
  def mergeSink(updates: DataFrame, cat: Catalog, layer: String,
                table: String, keyCols: Seq[String], seqCol: String,
                checkpoint: String, partitionCols: Seq[String] = Nil,
                deleteCol: Option[String] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
            .orderBy(col(seqCol).desc)
          val latest = batch
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          if (cat.tableExists(layer, table)) {
            // schema evolution: a REDEPLOYED stream may carry columns
            // the stored table predates (a streaming query's own
            // schema is fixed for its lifetime — evolution happens at
            // restart). Widen the table once per new column: existing
            // rows take typed nulls, the batch drift-conformance rule
            // (Normalize) applied to the CDC path. Strict the other
            // way: updates missing a stored column still fail, CDC
            // rows must be complete.
            val target0 = cat.read(layer, table)
            val added = latest.schema.fields.toSeq
              .filterNot(f => deleteCol.contains(f.name))
              .filterNot(f => target0.columns.contains(f.name))
            val target =
              if (added.isEmpty) target0
              else {
                // every row changes shape: a full replace (a partition
                // overwrite's by-name write would refuse the new column)
                cat.createOrReplace(
                  added.foldLeft(target0)((d, f) =>
                    d.withColumn(f.name, lit(null).cast(f.dataType))),
                  layer, table, partitionCols)
                cat.read(layer, table)
              }
            // cross-batch ordering guard: narrow the stored-seq lookup
            // to the partitions this batch touches (delta-bounded,
            // same scoping as merge itself), then drop any change that
            // is not strictly newer than what the table already holds
            val scoped =
              if (partitionCols.nonEmpty)
                target.join(
                  latest.select(partitionCols.map(col): _*).distinct(),
                  partitionCols, "left_semi")
              else target
            val stored = scoped.select(
              keyCols.map(col) :+ col(seqCol).as("__stored_seq"): _*)
            val fresh = latest.join(stored, keyCols, "left")
              .filter(col("__stored_seq").isNull ||
                col(seqCol) > col("__stored_seq"))
              .drop("__stored_seq")
            if (!fresh.isEmpty)
              cat.merge(fresh, layer, table, keyCols, partitionCols,
                deleteCol)
          } else {
            // bootstrap: the first batch IS the table (minus deletes)
            val del = deleteCol
              .map(c => coalesce(col(c).cast("boolean"), lit(false)))
              .getOrElse(lit(false))
            val rows = latest.filter(!del)
              .drop(deleteCol.toSeq: _*)
            if (partitionCols.nonEmpty)
              cat.overwritePartitionsByName(rows, layer, table, partitionCols)
            else cat.createOrReplace(rows, layer, table)
          }
        }
        ()
      }
      .start()

  /** Streaming alert pipeline — the streaming twin of the batch alert
    * path (W2 window rates + J3 anti-join dedup + S9 insert,
    * [[graft.layers.AlertsLayer.run]]): the stream delivers fact rows
    * as complete `report_date` partitions (the reference's arrival
    * unit — one daily drop per DAG run,
    * `covid_to_s3.py:83-88` / `alert_case_spike.sql:52-63`); each
    * micro-batch
    *
    *  1. publishes its partitions into the dds fact table in one
    *     dynamic-partition-overwrite commit
    *     ([[graft.runtime.Catalog.overwritePartitionsByName]], the
    *     batch layers' commit — idempotent, so checkpoint replay of a
    *     batch converges), then
    *  2. evaluates ALL four alert rules for every date the batch
    *     delivered in ONE candidate pass
    *     ([[graft.layers.AlertsLayer.runDates]]) and appends only
    *     alerts whose (alert_date, country, alert_type) is not
    *     already present.
    *
    * Exactly-once is the anti-join, same as batch: duplicate delivery
    * or replay re-publishes identical partitions and inserts nothing
    * new. PRECONDITION (inherited from dynamic partition overwrite):
    * a micro-batch carries complete date partitions, not fragments of
    * a date split across batches.
    *
    * The per-batch date list is a bounded driver collect (one row per
    * arrived DAY — the reference's cadence is 1/day).
    */
  def alertSink(facts: DataFrame, cat: Catalog, checkpoint: String,
                fixedClock: Option[Timestamp] = None): StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist() // consumed twice: date list + publish
          try {
            val dates = b.select(col("report_date").cast("string"))
              .distinct().collect().map(_.getString(0)).sorted.toSeq
            cat.overwritePartitionsByName(b, graft.layers.DdsLayer.layer,
              graft.layers.DdsLayer.factTable, Seq("report_date"))
            graft.layers.AlertsLayer.runDates(cat, dates, fixedClock)
          } finally { b.unpersist(); () }
        }
        ()
      }
      .start()

  /** Streaming sessionization — the streaming twin of
    * [[graft.operators.Sessionize]]: event-time session windows closed
    * by a `gap` of inactivity, via Spark's native `session_window`
    * (dynamic-gap merging aggregation, no custom state function
    * needed). The watermark bounds the session state Spark retains: a
    * session finalizes — and, in append mode, EMITS exactly once —
    * when the watermark passes its end, so per-key memory is gap +
    * watermark of event time however long the stream runs. Output
    * carries the batch `sessionStats` MEASURES (event count,
    * decimal-safe value total) but differs structurally: no
    * per-user `session_seq` (streams have no total order to number
    * within), and `session_closes_at` is the window END — last event
    * + gap — not the batch `ended_at` last-event timestamp.
    *
    * Expects events(user_id, ts, value).
    */
  /** Event-time-windowed distinct-count sketch: tumbling windows +
    * watermark + the register-exact HLL aggregator
    * ([[graft.functions.HllAgg]]) as the windowed aggregate. The
    * watermark bounds state exactly as for any windowed agg — closed
    * windows evict — while each open window's state is 64 ints per
    * (window, key) whatever the cardinality; max-merge makes late
    * in-watermark arrivals and replays idempotent. This is the
    * streaming "distinct users per hour" that never keeps a user set.
    */
  def windowedDistinctSketch(events: DataFrame, windowLen: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("win"), col("event_type"))
      .agg(graft.functions.HllAgg.udaf(col("user_id").cast("string")).as("reg"))
      .select(col("win.start").as("win_start"), col("event_type"), col("reg"))

  /** Event-time-windowed heavy hitters: tumbling windows + watermark +
    * the Misra–Gries aggregator as the windowed aggregate — the
    * "trending items per hour" stream that never keeps full counts.
    * State per (window, key) is bounded at k counters; the summary
    * after any prefix of batches carries MG's usual guarantees
    * (est ≤ true ≤ est + N/(k+1)) over the window's prefix.
    */
  def windowedHeavyHitters(events: DataFrame, k: Int,
                           windowLen: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.MisraGriesAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("win"), col("event_type"))
      .agg(mg(col("item")).as("summary"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("summary"))
  }

  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("session"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(
        col("user_id"),
        col("session.start").as("started_at"),
        col("session.end").as("session_closes_at"),
        col("n_events"), col("total_value"))

  /** Streaming CUSUM changepoint monitor — the streaming twin of the
    * q137 batch chart ([[graft.queries.EventQueries.cusumCharts]]).
    *
    * Two-tier design, because CUSUM is NOT foldable into per-day
    * state: the target (per-type mean daily total) moves with every
    * new day, so the charts are a function of the whole daily history.
    * Tier 1 — the streaming engine maintains the day-level aggregate
    * (event-time day windows, watermark-bounded state, update mode
    * emits each window's refreshed running total). Tier 2 — each
    * micro-batch upserts those totals into a stored `daily_volume`
    * table keyed (event_type, day) and recomputes the charts FROM THE
    * STORED AGGREGATE — a day-cardinality frame, so the recompute
    * costs the same at 100 TB of events as at 100 MB; the event-scale
    * work only ever happens once, inside the windowed aggregation.
    *
    * Replay safety: a crashed micro-batch replays with identical
    * window totals (the agg state is checkpointed), and merge
    * re-upserting the same values is a no-op — convergent without a
    * sequence guard. Late events inside the watermark re-emit their
    * window with a LARGER total; the upsert overwrites, and the next
    * chart recompute folds the correction in.
    *
    * Expects events(ts, event_type, value).
    */
  def changepointSink(events: DataFrame, cat: Catalog, checkpoint: String,
                      layer: String = "mon", watermark: String = "2 days")
  : StreamingQuery = {
    val daily = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(sum(expr("cast(round(value * 100) as long)")).as("day_cents"))
      // session timezone is UTC, so the window start date equals the
      // batch tier's to_date(ts) — the spec pins this agreement
      .select(col("event_type"), col("win.start").cast("date").as("day"),
        col("day_cents"))
    daily.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          if (cat.tableExists(layer, "daily_volume"))
            cat.merge(batch, layer, "daily_volume",
              Seq("event_type", "day"))
          else cat.createOrReplace(batch, layer, "daily_volume")
          cat.createOrReplace(
            graft.queries.EventQueries.cusumCharts(
              cat.read(layer, "daily_volume")),
            layer, "volume_shifts")
        }
        ()
      }
      .start()
  }
}
