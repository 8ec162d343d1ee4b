package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Per-query cost-structure profiler for the optimization rounds.
  *
  * Usage: runMain graft.tools.ProfileQ <sfDir> <outJson> [query ...]
  *
  * For each named query (default: all) measures, on one warm session:
  *   - build_s: Q.build call (plan construction, view registration)
  *   - plan_s:  force analysis+optimization+physical planning
  *              (`queryExecution.executedPlan`)
  *   - exec_s:  noop-sink execution of the SAME df (includes AQE
  *              re-planning, job scheduling, task run)
  *   - jobs / stages / tasks launched from the query call to the end
  *     of the write — queries that train or materialize inside the
  *     query function launch most of their jobs before `fn` returns
  *   - shuffle_mb written over the same span
  *
  * Counters are read at a marker job: listener delivery is async but
  * ordered, so when the marker's start event arrives every earlier
  * event has been counted (the marker's own stage and tasks are not).
  *
  * The split answers the first optimization question per query: is the
  * time in the distributed work (exec dominated by few long stages), in
  * the job-count floor (many tiny jobs/stages), or on the driver
  * (plan_s comparable to exec_s — oversized plan trees). One run per
  * query (protocol A shape): this tool ranks COST STRUCTURE, not A/B
  * deltas — use graft.Bench for those.
  */
object ProfileQ {
  private def f3(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson, rest @ _*) = args
    val only: Set[String] = rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceKnownBenignWarnings()
    val jobs = new AtomicLong(0); val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0); val shuffle = new AtomicLong(0)
    val marker = "profileq-drain"
    val markerStages = ConcurrentHashMap.newKeySet[Int]()
    @volatile var pending = Promise[(Long, Long, Long, Long)]()
    val sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) {
          e.stageIds.foreach(markerStages.add)
          pending.trySuccess((jobs.get, stages.get, tasks.get, shuffle.get)): Unit
        } else jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!markerStages.contains(e.stageInfo.stageId)) {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks): Unit
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && !markerStages.contains(e.stageId))
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    })
    /** (jobs, stages, tasks, shuffle bytes) counted up to now. */
    def counters(): (Long, Long, Long, Long) = {
      pending = Promise()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Await.result(pending.future, 30.seconds)
    }
    // warm-up, untimed
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => }
    val out = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .flatMap { case (name, fn) =>
        spark.catalog.clearCache()
        try {
          val (j0, s0, k0, sh0) = counters()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          val (j1, s1, k1, sh1) = counters()
          val r = s""""$name":{"build_s":${f3((t1 - t0) / 1e9)},"plan_s":${f3((t2 - t1) / 1e9)}""" +
            s""","exec_s":${f3((t3 - t2) / 1e9)},"jobs":${j1 - j0}""" +
            s""","stages":${s1 - s0},"tasks":${k1 - k0}""" +
            s""","shuffle_mb":${f3((sh1 - sh0) / 1e6)}}"""
          println(s"[profile] $name build=${f3((t1 - t0) / 1e9)} plan=${f3((t2 - t1) / 1e9)} " +
            s"exec=${f3((t3 - t2) / 1e9)} jobs=${j1 - j0} stages=${s1 - s0}")
          Some(r)
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $name failed: ${e.getMessage}")
          None
        }
      }
    Files.write(Paths.get(outJson),
      out.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
