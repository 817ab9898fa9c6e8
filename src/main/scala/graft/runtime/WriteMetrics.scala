package graft.runtime

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Metrics that ride a write: `Dataset.observe` on the written frame,
  * so the write's own pass computes them and a layer needs no separate
  * counting action (and no second planning of its scans).
  */
private[graft] object WriteMetrics {
  /** How long to wait for the metrics after the write returned. Spark
    * hands them over on its listener bus, normally within milliseconds.
    */
  private val Delivery = 60.seconds

  /** Runs `write` on `df` with `metric` and `more` observed over the
    * rows it writes, and returns their values. A write that throws is
    * rethrown before any wait. A write of no rows still reports its
    * metrics (zero counts), also when Catalyst pruned its plan to an
    * empty relation. Metrics that never arrive fail the call after
    * [[Delivery]] rather than block it: the write has committed by
    * then, and a layer's write is idempotent to re-run.
    */
  def observed(df: DataFrame, metric: Column, more: Column*)(
      write: DataFrame => Unit): Row = {
    val obs = Observation()
    write(df.observe(obs, metric, more: _*))
    try Await.result(obs.future, Delivery)
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        "the write finished, but its observed metrics did not arrive " +
          s"within $Delivery")
    }
  }
}
