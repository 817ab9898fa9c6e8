package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // same builder as Verify/Bench (GraftSession) so specs exercise the
    // production configuration — AQE, skew join, extensions — not a
    // hand-rolled variant that drifts
    val s = graft.runtime.GraftSession.builder("4")
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `write`, a Spark path write into the catalog table directory
    * `dir`, then records the data files it added in the table's commit
    * journal as one `append`, as a catalog commit would: name reads
    * plan from the journal and serve only recorded files. `lockHeld`:
    * the caller already holds the table's commit lock (a commit seam).
    */
  def journaledPathWrite(dir: String, lockHeld: Boolean = false)(
      write: => Unit): Unit = {
    import graft.sources.{GraftCommitLock, GraftCommits, GraftEvolved}
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible = GraftEvolved.listVisible(fs, base)
      .map(st => GraftCommits.relOf(fs, base, st.getPath) -> st).toMap
    def commit(): Unit = {
      val before = visible.keySet
      write
      val added = visible -- before
      GraftCommits.record(fs, base, "append", adds = added.keys.toSeq.sorted,
        info = added.map { case (rel, st) =>
          rel -> GraftCommits.FileInfo(st.getLen, st.getModificationTime)
        })
    }
    if (lockHeld) commit()
    else GraftCommitLock.withLock(fs, base, "spec-path-write")(commit())
  }

  /** `body`'s result and the descriptions of the Spark jobs it started.
    * The listener bus delivers in order, so once a marker job run after
    * `body` is seen, every job of `body` is too.
    */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val marker = s"jobs-marker-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s"job ${e.jobId}"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker)) {
        assert(System.nanoTime() < deadline, "listener bus did not drain")
        Thread.sleep(5)
      }
      import scala.jdk.CollectionConverters._
      (result, seen.asScala.toSeq.filter(_ != marker))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
