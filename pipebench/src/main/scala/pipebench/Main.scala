package pipebench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.layers._
import graft.runtime.{Catalog, GraftSession, Runner}

/** The pipeline benchmark: one workload per JVM, a single closed-loop
  * client, inputs generated from `--seed`.
  *
  * Usage: `Main --workload <backfill|deep_daily|dashboard> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--traces <dir>]`. The last
  * stdout line is the JSON result; the line before it is a report with
  * the workload's metrics under their workload-specific names.
  */
object Main {
  val Workloads: Seq[String] = Seq("backfill", "deep_daily", "dashboard")

  /** Input scale: countries, rows per CSV, and days of `deep_daily` history. */
  val Countries = 60
  val RowsPerDay = 1000
  val HistoryDays = 31
  /** Days a write run times even when `--seconds` have passed, so every
    * run reports a median over at least this many days.
    */
  val MinTimedDays = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traces: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val extra = m.keySet -- Set("workload", "seed", "seconds", "trace", "work", "traces")
    require(argv.length % 2 == 0 && extra.isEmpty, s"bad arguments: ${argv.mkString(" ")}")
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(w, m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, m.get("traces").map(Paths.get(_).toAbsolutePath))
  }

  def session(a: Args): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder(cores)
      .appName("pipebench")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    val result = try new Bench(spark, a).run() finally spark.stop()
    println(result.report)
    println(result.json)
  }

  def now(): Long = System.nanoTime()
  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Outcome of one run, rendered as the report line and the JSON result. */
final case class Result(workload: String, opName: String, ops: Seq[Double], setup: Double,
                        attempted: Int, failed: Int, storedBytes: Long, inputBytes: Long,
                        perLayer: Seq[(String, Double, String)], trace: Boolean,
                        messages: Seq[String]) {
  import Main.{median, quantile}

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  private def metric(n: String, v: Double, u: String) = s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private val p50 = median(ops)
  private val rate = ops.size / ops.sum

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setup, "s"),
    ("op_s_p50", p50, "s"),
    ("stored_bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio"))

  /** Workload-specific names: days on the write workloads, queries on `dashboard`. */
  def report: String = {
    val named =
      if (opName == "day") Seq(("day_s_p50", p50, "s"), ("days_per_min", rate * 60, "1/min"),
        ("stored_bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio"))
      else Seq(("query_s_p50", p50, "s"), ("query_s_p90", quantile(ops, 0.9), "s"),
        ("queries_per_s", rate, "1/s"))
    val all = ("setup_s", setup, "s") +: named :+
      ("error_rate", failed.toDouble / math.max(1, attempted), "ratio")
    s"""{"report": "pipebench", "workload": "$workload", "trace": $trace, """ +
      s""""samples": ${ops.size}, "op_s": [${ops.map(num).mkString(", ")}], """ +
      s""""metrics": {${all.map((metric _).tupled).mkString(", ")}}, """ +
      s""""messages": [${messages.take(20).map(m => "\"" + esc(m) + "\"").mkString(", ")}]}"""
  }

  def json: String = {
    val ms = if (trace) perLayer else endToEnd
    val ok = failed == 0 && ops.nonEmpty && ms.forall(m => !m._2.isNaN && !m._2.isInfinite)
    s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.map((metric _).tupled).mkString(", ")}}}"""
  }
}

final class Bench(spark: SparkSession, a: Main.Args) {
  import Main._

  private val input = a.work.resolve("input")
  private val gen = new Gen(a.seed, Countries, RowsPerDay)
  private val rollup = new Rollup
  private val oracle = new Oracle(rollup, gen.populationRows())
  private val trace = if (a.trace) Some(new Trace(spark)) else None
  private val messages = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  /** Per-day and per-query values the traced run aggregates. */
  private val dayNotes = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val queryNotes = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var storage: Seq[(String, Warehouse.DirStats)] = Nil

  def run(): Result = a.workload match {
    case "backfill" => writes(deep = false)
    case "deep_daily" => writes(deep = true)
    case "dashboard" => dashboard()
  }

  /** Writes the next `n` days' CSVs and adds them to the oracle's rollup. */
  private def generate(n: Int): Seq[(Gen.Day, Long)] = {
    val days = gen.writeDays(input, n)
    days.foreach { case (d, _) => rollup.add(gen, d) }
    days
  }

  /** Builds the start warehouse, timed as `setup_s`; its inputs are
    * generated first, outside the timer. The deep warehouse bulk-loads
    * [[Main.HistoryDays]] days; the backfill one runs its first day (which
    * creates every table) through the runner, so the timed days find every
    * table in place.
    */
  private def setUp(deep: Boolean): (Catalog, Double, Seq[(Gen.Day, Long)]) = {
    val history = generate(if (deep) HistoryDays else 1)
    val t0 = now()
    val cat = Warehouse.seeded(spark, a.work.resolve("warehouse"), gen)
    if (deep) Warehouse.bulkLoad(cat, input, history.map(_._1))
    else Runner(cat, input.toString).runNext(Warehouse.Clock)
    (cat, secs(t0), history)
  }

  /** Every operation runs the same next day on a fresh copy of the start
    * warehouse, so the operations of a run are alike and no day inherits
    * the commit history of the ones before it. At least
    * [[Main.MinTimedDays]] are timed, then more until `--seconds` have
    * passed.
    */
  private def writes(deep: Boolean): Result = {
    val (start, setup, history) = setUp(deep)
    // The day's CSV lands once, before any timing.
    val (day, bytes) = generate(1).head
    var copies = 0
    var last: Option[Catalog] = None

    /** Runs the day on a fresh copy; its seconds, or None if it failed. */
    def once(): Option[Double] = {
      copies += 1
      val root = a.work.resolve(s"warehouse-$copies")
      Warehouse.copyTree(Paths.get(start.root), root)
      val cat = Catalog(spark, root.toString)
      val runner = Runner(cat, input.toString)
      attempted += 1
      try {
        val t = now()
        val d = trace.fold(runner.runNext(Warehouse.Clock))(
          tr => tracedDay(tr, cat, runner, day, s"${day.date}#$copies"))
        val s = secs(t)
        require(d == day.date, s"cursor at $d, expected ${day.date}")
        if (trace.isDefined) storage = Warehouse.storage(root)
        last = Some(cat)
        Some(s)
      } catch {
        case e: Exception =>
          failed += 1
          messages += s"day ${day.date} failed: $e"
          None
      }
    }

    val ops = mutable.ArrayBuffer.empty[Double]
    var ok = true
    val deadline = now() + a.seconds * 1000000000L
    while (ok && (ops.size < MinTimedDays || now() < deadline)) {
      val s = once()
      s.foreach(ops += _)
      ok = s.isDefined
    }
    val dates = history.map(_._1.date) :+ day.date
    val inputBytes = history.map(_._2).sum + bytes
    val stored = last.fold(0L)(c => Warehouse.treeBytes(Paths.get(c.root)))

    if (ok) last.foreach { cat =>
      if (trace.isDefined) queryRound(new Dashboard(cat, oracle, dates), day.date)
      // Re-running a day costs a day, so only traced runs pay for this check.
      if (!deep && trace.isDefined) idempotency(cat, Runner(cat, input.toString), day.date)
      oracleCheck(cat, dates, Set(day.date))
    }
    finish("day", ops.toSeq, setup, stored, inputBytes)
  }

  private def dashboard(): Result = {
    val (cat, setup, history) = setUp(deep = true)
    val dates = history.map(_._1.date)
    val dash = new Dashboard(cat, oracle, dates)
    val rnd = new SplittableRandom(a.seed * 31 + 7)
    val stored = Warehouse.treeBytes(Paths.get(cat.root))
    val inputBytes = history.map(_._2).sum
    val ops = mutable.ArrayBuffer.empty[Double]
    val deadline = now() + a.seconds * 1000000000L
    val results = mutable.ArrayBuffer.empty[(Dashboard.Query, Seq[Seq[Any]])]
    while (now() < deadline) {
      val q = dash.next(rnd)
      attempted += 1
      try {
        val t = now()
        results += q -> runQuery(q, results.size)
        ops += secs(t)
      } catch {
        case e: Exception =>
          failed += 1
          messages += s"query ${q.kind} failed: $e"
      }
    }
    results.foreach { case (q, rows) =>
      if (!Dashboard.matches(rows, q.expected())) {
        failed += 1
        messages += s"query ${q.kind}: result differs from the oracle"
      }
    }
    // The traced run also lands one day after the reads, so every layer
    // metric is measured on this warehouse too.
    trace.foreach { tr =>
      val runner = Runner(cat, input.toString)
      val day = generate(1).head._1
      attempted += 1
      try {
        tracedDay(tr, cat, runner, day, day.date.toString)
        storage = Warehouse.storage(Paths.get(cat.root))
        oracleCheck(cat, dates :+ day.date, Set(day.date))
      } catch {
        case e: Exception =>
          failed += 1
          messages += s"day ${day.date} failed: $e"
      }
    }
    finish("query", ops.toSeq, setup, stored, inputBytes)
  }

  /** Plans (forcing `executedPlan`) and executes one query, returning its rows. */
  private def runQuery(q: Dashboard.Query, id: Int): Seq[Seq[Any]] = trace match {
    case None => q.df().collect().toSeq.map(Dashboard.normalize)
    case Some(tr) =>
      tr.span("query", s"q$id") {
        val df = tr.span("query.plan", s"q$id") { val d = q.df(); d.queryExecution.executedPlan; d }
        val rows = tr.span("query.exec", s"q$id")(df.collect().toSeq.map(Dashboard.normalize))
        queryNotes += Map("files" -> Scans.filesRead(df.queryExecution.executedPlan).toDouble,
          "rows_out" -> rows.size.toDouble)
        rows
      }
  }

  /** One traced round of every query kind, checked against the oracle. */
  private def queryRound(dash: Dashboard, day: LocalDate): Unit =
    dash.all(day).foreach { q =>
      attempted += 1
      val problem =
        try {
          if (Dashboard.matches(runQuery(q, queryNotes.size), q.expected())) None
          else Some("result differs from the oracle")
        } catch { case e: Exception => Some(s"failed: $e") }
      problem.foreach { p =>
        failed += 1
        messages += s"query ${q.kind}: $p"
      }
    }

  /** A traced day, with the per-day values the traced run reports. */
  private def tracedDay(tr: Trace, cat: Catalog, runner: Runner, day: Gen.Day, op: String): LocalDate = {
    val rawDir = Paths.get(cat.path(RawLayer.layer, RawLayer.table))
    val rawFiles = Warehouse.dirStats(rawDir).files
    val d = TracedRunner.runNext(tr, cat, runner, op)
    dayNotes += Map("input_rows" -> day.rows.size.toDouble,
      "mart_rows" -> oracle.ods(Seq(day.date)).size.toDouble,
      "raw_files" -> (Warehouse.dirStats(rawDir).files - rawFiles).toDouble)
    d
  }

  /** Re-runs the last processed day; every table must hash the same after. */
  private def idempotency(cat: Catalog, runner: Runner, last: LocalDate): Unit = {
    attempted += 1
    val before = Warehouse.contentHashes(cat)
    runner.runDay(last, Warehouse.Clock)
    val after = Warehouse.contentHashes(cat)
    val changed = before.keys.filter(k => before(k) != after(k)).toSeq.sorted
    if (changed.nonEmpty) {
      failed += 1
      messages += s"re-running $last changed ${changed.mkString(", ")}"
    }
  }

  /** Oracle comparison of every table. A mismatch on a timed day fails
    * that day; any other mismatch fails the check itself.
    */
  private def oracleCheck(cat: Catalog, dates: Seq[LocalDate], timed: Set[LocalDate]): Unit = {
    attempted += 1
    val bad = oracle.check(cat, dates)
    bad.take(10).foreach(m => messages += s"${m.table}: ${m.what}")
    val badDays = bad.flatMap(_.date).toSet
    failed += (badDays & timed).size
    if (bad.exists(m => m.date.forall(d => !timed(d)))) failed += 1
  }

  private def finish(opName: String, ops: Seq[Double], setup: Double,
                     stored: Long, inputBytes: Long): Result = {
    val perLayer = trace.map(tr => layerMetrics(tr, ops)).getOrElse(Nil)
    Result(a.workload, opName, ops, setup, attempted, failed, stored, inputBytes,
      perLayer, a.trace, messages.toSeq)
  }

  private def layerMetrics(tr: Trace, ops: Seq[Double]): Seq[(String, Double, String)] = {
    val closed = tr.finish()
    a.traces.foreach(dir => Trace.write(dir.resolve(s"${a.workload}-${a.seed}.jsonl"), closed))
    val byDay = closed.filter(_.span.parent != 0).groupBy(_.span.op)
    val dayOps = closed.filter(_.span.name == "day").map(_.span.op).toSet
    def perDay(name: String)(f: Seq[Trace.Closed] => Double): Double =
      median(dayOps.toSeq.map(op => f(byDay.getOrElse(op, Nil).filter(_.span.name == name))))
    def total(name: String)(f: Trace.Closed => Long): Double =
      closed.filter(c => c.span.name == name && dayOps(c.span.op)).map(f).sum.toDouble
    val layers = Seq("raw.ingest", "ods.run", "dds.run", "mart.run", "alerts.run")
    val times = (layers :+ "runner.cursor").map(l => (s"${l}_s", perDay(l)(_.map(_.seconds).sum), "s"))
    val spark = layers.flatMap { l =>
      def c(n: String, u: String)(f: Trace.Counters => Long) = (s"$l.$n", perDay(l)(_.map(x => f(x.counters)).sum.toDouble), u)
      Seq(c("spark_jobs", "count")(_.jobs), c("tasks", "count")(_.tasks),
        c("shuffle_bytes", "bytes")(_.shuffleBytes), c("bytes_written", "bytes")(_.bytesWritten),
        c("gc_ms", "ms")(_.gcMs))
    }
    val tables = storage.flatMap { case (t, s) =>
      Seq((s"$t.files", s.files.toDouble, "count"), (s"$t.bytes", s.bytes.toDouble, "bytes"),
        (s"$t.meta_files", s.metaFiles.toDouble, "count"))
    }
    val days = closed.filter(_.span.name == "day")
    val coverage = median(days.map(d => 1 - d.selfSeconds / d.seconds))
    def qMedian(n: String) = median(closed.filter(_.span.name == n).map(_.seconds))
    val rowsOut = queryNotes.map(_("rows_out")).sum
    val queryRead = closed.filter(c => c.span.name.startsWith("query.")).map(_.counters.recordsRead).sum
    Seq(
      ("raw.files_written", median(dayNotes.map(_("raw_files")).toSeq), "count"),
      ("ods.rows_read_per_input_row", total("ods.run")(_.counters.recordsRead) /
        dayNotes.map(_("input_rows")).sum, "ratio"),
      ("mart.rows_read_per_row_out", total("mart.run")(_.counters.recordsRead) /
        dayNotes.map(_("mart_rows")).sum, "ratio")) ++
      times ++ spark ++ tables ++ Seq(
      ("query.plan_s", qMedian("query.plan"), "s"),
      ("query.exec_s", qMedian("query.exec"), "s"),
      ("scan.files_read", median(queryNotes.map(_("files")).toSeq), "count"),
      ("scan.rows_read_per_row_out", queryRead / rowsOut, "ratio"),
      ("trace.day_coverage", coverage, "ratio"),
      ("trace.op_s_p50", median(ops), "s"))
  }
}

/** Files the scans of an executed plan read. */
object Scans extends AdaptiveSparkPlanHelper {
  def filesRead(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case b: BatchScanExec => b.inputPartitions.map {
      case f: FilePartition => f.files.length.toLong
      case _ => 1L
    }.sum
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum
}
