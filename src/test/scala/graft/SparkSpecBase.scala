package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test`,
  * `build.sbt:12`). Mirrors the driver's Verify session config so test
  * behavior == gate behavior (UTC, small shuffle partitions, AQE on).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it launched. A
    * marker job drains the listener bus: delivery is async but
    * ordered, so once the marker's start arrives every job of `body`
    * has been counted. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"spec-drain-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          drained = true
        else if (!drained) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
      assert(drained, "listener bus did not drain within 30 s")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // saveAsTable targets (bucketed-join tests) go to scratch, not the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the limit-k/metadata-frame windows warn per task; across 929
    // tests that is thousands of log lines of pure I/O (r19, verdict
    // item 2 — the same flood ate the driver's test-output tail)
    Bench.silenceKnownBenignWarnings()
    s
  }
}
