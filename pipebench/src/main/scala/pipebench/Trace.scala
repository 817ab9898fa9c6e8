package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import graft.layers._
import graft.runtime.{Catalog, Runner}

/** In-memory spans around calls into the pipeline's public functions, plus
  * a `SparkListener` that charges every Spark job to the innermost open
  * span. Spans are written out only when the run ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      id.foreach { s =>
        e.stageIds.foreach(stageSpan.put(_, s))
        Trace.this.synchronized(counters.getOrElseUpdate(s, new Counters).jobs += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != 0 && m != null) Trace.this.synchronized {
        val c = counters.getOrElseUpdate(s, new Counters)
        c.tasks += 1
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.gcMs += m.jvmGCTime
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Runs `f` inside a span named `name`, tagged with the day or query `op`. */
  def span[A](name: String, op: String)(f: => A): A = {
    val id = spans.size + 1
    val parent = stack.headOption.getOrElse(0)
    spans += Span(id, name, parent, op, System.nanoTime(), 0L)
    stack.push(id)
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, id.toString)
    try f
    finally {
      stack.pop()
      spans(id - 1) = spans(id - 1).copy(end = System.nanoTime())
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  def finish(): Seq[Closed] = {
    BenchListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      Closed(s, (s.end - s.start) / 1e9, (s.end - s.start - covered) / 1e9,
        counters.getOrElse(s.id, new Counters))
    }
  }
}

object Trace {
  val SpanProp = "pipebench.span"

  final case class Span(id: Int, name: String, parent: Int, op: String, start: Long, end: Long)

  final class Counters {
    var jobs, tasks, shuffleBytes, bytesWritten, recordsRead, recordsWritten, gcMs = 0L
  }

  final case class Closed(span: Span, seconds: Double, selfSeconds: Double, counters: Counters)

  /** One JSON object per span. */
  def write(path: Path, closed: Seq[Closed]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = closed.map { c =>
      val s = c.span
      val k = c.counters
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${c.selfSeconds},""" +
        s""""jobs":${k.jobs},"tasks":${k.tasks},"shuffle_bytes":${k.shuffleBytes},""" +
        s""""bytes_written":${k.bytesWritten},"records_read":${k.recordsRead},""" +
        s""""records_written":${k.recordsWritten},"gc_ms":${k.gcMs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** `Runner.runNext` replayed with a span around each layer call, in
  * `Runner.runDay`'s order and with its conditions. A test holds the
  * replay to leaving every table exactly as `Runner.runNext` does.
  */
object TracedRunner {
  def runNext(tr: Trace, cat: Catalog, runner: Runner, op: String): LocalDate =
    tr.span("day", op) {
      val d = tr.span("runner.cursor", op)(runner.cursor)
      val ds = d.toString
      val csv = s"${runner.inputDir}/$ds.csv"
      if (Files.exists(Paths.get(csv)))
        tr.span("raw.ingest", op)(RawLayer.ingest(cat, csv, Warehouse.Clock))
      tr.span("ods.run", op)(OdsLayer.run(cat, ds, Warehouse.Clock))
      if (tr.span("dds.run", op)(DdsLayer.run(cat, ds)).isDefined)
        tr.span("mart.run", op)(MartLayer.run(cat, ds))
      if (cat.tableExists(DdsLayer.layer, DdsLayer.factTable))
        tr.span("alerts.run", op)(AlertsLayer.run(cat, ds, Warehouse.Clock))
      tr.span("runner.cursor", op)(runner.setCursor(d.plusDays(1)))
      d
    }
}
