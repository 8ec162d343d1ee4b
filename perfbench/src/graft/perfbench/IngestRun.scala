package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.queries.Tweets
import graft.sources.HttpIngest
import graft.streaming.{IndexSink, TweetPipeline}

/** `tweet-ingest`: the paper's E1→E3 loop. `HttpIngest.enriched` streams
  * into a `foreachBatch` that calls `IndexSink.writeBatch` partitioned by
  * sentiment. The set-up, timed from JVM start, ends with the warm-up
  * tweet's micro-batch committed. Once
  * every accepted tweet is committed, the correctness gate's E3 query over
  * the index (`Tweets.e3Shapes(IndexSink.read(...))`) is timed, so a write
  * side that multiplies index files shows up as a slower read. (A reader
  * running beside the stream made the stream's latency swing by 2x from
  * run to run on a 4-core machine.)
  * The tweets come
  * from the separate open-loop generator (`gen.py`) that `run.py` starts
  * once this side has written `--ready`; it writes `--gen-done` when its
  * ladder is over. Each micro-batch's progress (from the
  * `StreamingQueryListener`) is kept in memory for `run.py`. */
object IngestRun {
  private val Partition = Seq("sentiment")

  final class Live(spark: SparkSession, dir: String) {
    val index = s"$dir/index"
    val batches = new ConcurrentLinkedQueue[Seq[Any]]()
    @volatile var committedRows = 0L

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (d.contains("addBatch")) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          val commit = start + d.getOrElse("triggerExecution", 0L)
          batches.add(Seq(p.batchId, p.numInputRows, start, commit, d))
          committedRows += p.numInputRows
        }
      }
    }
    spark.streams.addListener(listener)

    val http = new HttpIngest(spark)
    private val query = http.enriched.writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IndexSink.writeBatch(batch, index, Partition)
      }
      .start()

    def awaitRows(n: Long, timeoutMs: Long): Boolean = {
      val end = Env.nowMs() + timeoutMs
      while (committedRows < n && Env.nowMs() < end && query.exception.isEmpty)
        Thread.sleep(20)
      committedRows >= n
    }

    def stop(): Unit = {
      query.stop()
      http.stop()
      spark.streams.removeListener(listener)
    }
  }

  private def post(port: Int, body: String): Int =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/tweets"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  def run(a: Args): Map[String, Any] = {
    val cores = a.int("cores")
    val work = a("work")
    val warm = Files.readString(Paths.get(a("warm"))).trim

    val spark = Env.session(cores)
    val live = new Live(spark, work)
    require(post(live.http.boundPort, warm) == 200, "warm-up POST refused")
    require(live.awaitRows(1, 120000), "warm-up micro-batch never committed")
    val setup = Map("setup_s" -> (Env.nowMs() - Env.jvmStartMs()) / 1e3)
    val warmBatches = live.batches.size

    val ledger = if (a("trace") == "1") Some(new Ledger) else None
    ledger.foreach(_.install(spark))
    val guard0 = Env.guard()
    val probe = new LoadProbe
    Json.write(a("ready"), Map("port" -> live.http.boundPort))

    val done = Paths.get(a("gen-done"))
    val genDeadline = Env.nowMs() + a.int("gen-timeout-s") * 1000L
    while (!Files.exists(done) && Env.nowMs() < genDeadline) Thread.sleep(20)
    val accepted = if (Files.exists(done)) Files.readString(done).trim.toLong else -1L
    val expected = accepted + 1 // the warm-up tweet
    val drained = accepted >= 0 && live.awaitRows(expected, a.int("drain-timeout-s") * 1000L)
    live.stop()
    val foreign = probe.stop()
    val guard1 = Env.guard()
    val trace = ledger.map(_.snapshot(spark))

    val indexFiles = Files.walk(Paths.get(live.index)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val gate = if (drained) correct(spark, live.index, a("accepted"), warm, work, expected)
               else Map("ok" -> false, "why" -> s"not drained: ${live.committedRows}/$expected")
    Env.stop(spark)

    Map("setup" -> setup, "batches" -> live.batches.asScala.toSeq.drop(warmBatches),
      "accepted" -> accepted, "committed_rows" -> live.committedRows, "index_files" -> indexFiles,
      "gate" -> gate, "foreign_load" -> foreign, "guard_before" -> guard0,
      "guard_after" -> guard1, "peak_rss_mb" -> Env.peakRssMb(), "trace" -> trace)
  }

  /** Every accepted tweet is in the index exactly once, and the index's
    * E3 answers equal those of the batch path over the same tweets. */
  private def correct(spark: SparkSession, index: String, acceptedPath: String,
      warmTweet: String, work: String, expected: Long): Map[String, Any] = {
    val gateDir = Paths.get(work, "gate")
    Files.createDirectories(gateDir)
    Files.writeString(gateDir.resolve("warm.json"), warmTweet + "\n")
    Files.copy(Paths.get(acceptedPath), gateDir.resolve("accepted.json"))
    val batch = TweetPipeline.batchIngest(spark, gateDir.toString)
    def shapes(df: DataFrame) = Tweets.e3Shapes(df).collect().map(_.toString).toSeq
    val want = shapes(batch)
    val t0 = System.nanoTime()
    val got = shapes(IndexSink.read(spark, index)) // the E3 read over the index the stream wrote
    val readS = (System.nanoTime() - t0) / 1e9
    val sameShapes = got == want
    // per accepted tweet: how many index rows carry its created_at (none =
    // missing, >1 = duplicated), plus index rows no accepted tweet has
    def keys(df: DataFrame) = df.select("created_at").collect().map(_.get(0)).toSeq
    val copies = keys(IndexSink.read(spark, index)).groupBy(identity).map { case (k, v) => k -> v.size }
    val accepted = keys(batch)
    val wrong = accepted.count(k => copies.getOrElse(k, 0) != 1) + (copies.keySet -- accepted).size
    val rows = copies.values.sum
    Map("ok" -> (rows == expected && wrong == 0 && sameShapes), "read_s" -> readS,
      "why" -> s"rows=$rows expected=$expected wrong_keys=$wrong same_e3=$sameShapes")
  }
}
