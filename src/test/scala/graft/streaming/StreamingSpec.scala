package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.TTLConfig

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

/** SURVEY.md §2.9: incremental-execution semantics that the batch oracle
  * cannot model — micro-batches, watermark late-drop, streaming state.
  * Windowing ARITHMETIC is shared with batch (StreamOps builders run on
  * both), so the batch-vs-stream agreement tests double as the oracle.
  */
class StreamingSpec extends SparkSpecBase {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("T2: streaming tumbling counts agree with the same plan run in batch") {
    val s = spark
    import s.implicits._
    val data = Seq(
      Ev(1, ts(0, 10), 1, "click"), Ev(2, ts(0, 50), 1, "click"),
      Ev(3, ts(1, 10), 2, "view"), Ev(4, ts(2, 30), 1, "click"))
    val stream = MemoryStream[Ev](s)
    stream.addData(data)
    val q = StreamOps.tumblingCounts(stream.toDF(), "ts", "event_type", "1 minute")
      .writeStream.format("memory").queryName("t2_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = s.table("t2_out").orderBy("win_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSeq
    val batch = StreamOps.tumblingCounts(data.toDF(), "ts", "event_type", "1 minute")
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSeq
    assert(streamed === batch)
    assert(batch === Seq(
      (ts(0), "click", 2L), (ts(1), "view", 1L), (ts(2), "click", 1L)))
  }

  test("T3: sliding windows produce one row per covering window") {
    val s = spark
    import s.implicits._
    val df = Seq(Ev(1, ts(5, 30), 1, "click")).toDF()
    val out = StreamOps.slidingCounts(df, "ts", "event_type", "10 minutes", "5 minutes")
      .collect()
    // a point at 00:05:30 falls in windows [00:00,00:10) and [00:05,00:15)
    assert(out.map(_.getTimestamp(0)).toSet === Set(ts(0), ts(5)))
  }

  test("T4: session windows split on gap > threshold") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Ev(1, ts(0), 7, "a"), Ev(2, ts(2), 7, "a"),   // session 1 (gap 2min < 5min)
      Ev(3, ts(20), 7, "a")                          // session 2
    ).toDF()
    val out = StreamOps.sessionAgg(df, "ts", "user_id", "5 minutes")
      .orderBy("sess_start").collect()
    assert(out.length === 2)
    assert(out(0).getLong(3) === 2L && out(1).getLong(3) === 1L)
  }

  test("T5: watermark drops data later than the delay") {
    val s = spark
    import s.implicits._
    val stream = MemoryStream[Ev](s)
    val q = StreamOps.watermarkedCounts(stream.toDF(), "ts", "event_type", "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("t5_out").outputMode("append").start()
    stream.addData(Ev(1, ts(0, 10), 1, "click"))
    q.processAllAvailable()               // watermark still at 0
    stream.addData(Ev(2, ts(10), 1, "click"))
    q.processAllAvailable()               // watermark -> 00:08; [00:00,00:01) finalized+emitted
    stream.addData(Ev(3, ts(0, 20), 1, "click"))   // LATE: behind watermark -> dropped
    q.processAllAvailable()
    stream.addData(Ev(4, ts(20), 1, "click"))
    q.processAllAvailable()               // advances watermark; [00:10,00:11) emitted
    q.stop()
    val rows = s.table("t5_out").orderBy("win_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(3))).toSeq
    // the late event did NOT bump [00:00,00:01) to 2
    assert(rows === Seq((ts(0), 1L), (ts(10), 1L)))
  }

  test("T6: streaming dedup collapses repeated event ids") {
    val s = spark
    import s.implicits._
    val stream = MemoryStream[Ev](s)
    val q = StreamOps.dedup(stream.toDF(), "ts", "10 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("t6_out").outputMode("append").start()
    stream.addData(Ev(1, ts(0), 1, "click"), Ev(1, ts(0), 1, "click"))
    q.processAllAvailable()
    stream.addData(Ev(1, ts(0), 1, "click"), Ev(2, ts(1), 1, "view"))
    q.processAllAvailable()
    q.stop()
    assert(s.table("t6_out").select("event_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("T7: mapGroupsWithState keeps running per-user totals across batches") {
    val s = spark
    import s.implicits._
    val stream = MemoryStream[Stateful.UserEvent](s)
    val q = Stateful.runningUserTotals(stream.toDS())
      .writeStream.format("memory").queryName("t7_out").outputMode("update").start()
    stream.addData(Stateful.UserEvent(1, "a", 10.0), Stateful.UserEvent(1, "a", 20.0))
    q.processAllAvailable()
    stream.addData(Stateful.UserEvent(1, "b", 30.0))
    q.processAllAvailable()
    q.stop()
    // last update for user 1 must carry state from batch 1 (n=3, total=60)
    val last = s.table("t7_out").filter($"user_id" === 1)
      .orderBy($"n".desc).head()
    assert(last.getLong(1) === 3L && last.getDouble(2) === 60.0)
  }

  test("T4/Q30 agreement: streaming session_window and the batch lag+cumsum " +
    "idiom segment the same event vector into the same sessions") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 2 users, gaps straddling the 30-minute threshold (incl. exactly 30m:
    // session_window treats gap >= threshold as a new session only when
    // strictly past start+gap; lag-idiom uses > 1800s — 30:00 exactly
    // continues the session in both)
    val events = Seq(
      Ev(1, ts(0), 7, "a"), Ev(2, ts(10), 7, "a"), Ev(3, ts(40, 1), 7, "a"), // 30:01 gap -> new
      Ev(4, ts(0), 8, "a"), Ev(5, ts(30), 8, "a"), Ev(6, ts(59), 8, "a")     // 30:00 & 29:00 -> same
    )
    // batch twin (q30's shape)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = events.toDF()
      .withColumn("gap",
        when(unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)) > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"gap").over(cum))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n"), min($"ts").as("start"))
      .select($"user_id", $"start", $"n")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // streaming path
    val stream = MemoryStream[Ev](s)
    val q = StreamOps.sessionAgg(stream.toDF(), "ts", "user_id", "30 minutes")
      .writeStream.format("memory").queryName("t4q30_out").outputMode("complete").start()
    stream.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.table("t4q30_out")
      .select($"user_id", $"sess_start", $"n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(batch.map(t => (t._1, t._3)) === Set((7L, 2L), (7L, 1L), (8L, 3L)))
  }

  test("T7b: transformWithState keeps running totals across batches (RocksDB store)") {
    val s = spark
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Stateful.UserEvent](s)
      val q = Stateful.runningUserTotalsTws(stream.toDS())
        .writeStream.format("memory").queryName("t7b_out").outputMode("update").start()
      stream.addData(Stateful.UserEvent(1, "a", 10.0), Stateful.UserEvent(1, "a", 20.0))
      q.processAllAvailable()
      stream.addData(Stateful.UserEvent(1, "b", 30.0))
      q.processAllAvailable()
      q.stop()
      val last = s.table("t7b_out").filter($"user_id" === 1)
        .orderBy($"n".desc).head()
      assert(last.getLong(1) === 3L && last.getDouble(2) === 60.0)
    } finally {
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T7c: event-time timers close idle sessions and CLEAR their state " +
    "(transformWithState timer eviction)") {
    val s = spark
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Stateful.TimedEvent](s)
      val q = Stateful.timerClosedSessions(stream.toDS(), gapMs = 30000L)
        .writeStream.format("memory").queryName("t7c_out").outputMode("append").start()
      // batch 1: user 7's session (2 events); timer lands at 00:01:00 + 30s
      stream.addData(Stateful.TimedEvent(7, ts(0), 10.0),
        Stateful.TimedEvent(7, ts(1), 20.0))
      q.processAllAvailable()
      // batch 2: user 8 far in the future pushes the watermark to 00:40
      stream.addData(Stateful.TimedEvent(8, ts(40), 1.0))
      q.processAllAvailable()
      // batch 3: the watermark (00:40) now exceeds user 7's timer -> fires
      stream.addData(Stateful.TimedEvent(8, ts(41), 1.0))
      q.processAllAvailable()
      // batch 4+5: user 7 returns; a fresh session proves state was cleared
      stream.addData(Stateful.TimedEvent(7, ts(50), 5.0))
      q.processAllAvailable()
      stream.addData(Stateful.TimedEvent(8, ts(120), 1.0))
      q.processAllAvailable()
      stream.addData(Stateful.TimedEvent(8, ts(121), 1.0))
      q.processAllAvailable()
      q.stop()
      val closed7 = s.table("t7c_out").filter($"user_id" === 7)
        .orderBy($"n".desc)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(closed7.toSeq === Seq((2L, 30.0, true), (1L, 5.0, true)))
    } finally {
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T7d: native state TTL evicts idle keys — totals restart after the " +
    "TTL elapses (transformWithState TTLConfig)") {
    val s = spark
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Stateful.UserEvent](s)
      val q = Stateful.runningUserTotalsTws(stream.toDS(),
          ttl = TTLConfig(java.time.Duration.ofMillis(1)))
        .writeStream.format("memory").queryName("t7d_out").outputMode("update").start()
      // TimeMode.ProcessingTime keeps scheduling no-data batches to advance
      // the clock for TTL — processAllAvailable never quiesces under it,
      // so wait on the SINK instead (same caveat as ProcessingTimeTimeout,
      // see Stateful.runningUserTotals scaladoc).
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (s.table("t7d_out").count() < n && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(s.table("t7d_out").count() >= n, s"sink never reached $n rows")
      }
      stream.addData(Stateful.UserEvent(1, "a", 10.0))
      awaitRows(1)
      Thread.sleep(300) // let the 1 ms TTL lapse in processing time
      stream.addData(Stateful.UserEvent(1, "a", 5.0))
      awaitRows(2)
      q.stop()
      val rows = s.table("t7d_out").filter($"user_id" === 1)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      // without TTL the second batch would read (2, 15.0)
      assert(rows === Set((1L, 10.0), (1L, 5.0)))
    } finally {
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T7e: MapState keeps per-(user, event-type) counters — one store " +
    "entry per map key, only touched types emitted per batch") {
    val s = spark
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Stateful.UserEvent](s)
      val q = Stateful.perTypeCounts(stream.toDS())
        .writeStream.format("memory").queryName("t7e_out").outputMode("update").start()
      stream.addData(Stateful.UserEvent(1, "a", 0), Stateful.UserEvent(1, "a", 0),
        Stateful.UserEvent(1, "b", 0), Stateful.UserEvent(2, "a", 0))
      q.processAllAvailable()
      val batch1 = s.table("t7e_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(batch1 === Set((1L, "a", 2L), (1L, "b", 1L), (2L, "a", 1L)))
      stream.addData(Stateful.UserEvent(1, "a", 0))
      q.processAllAvailable()
      q.stop()
      val all = s.table("t7e_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // second batch emits ONLY user 1's type a, now at 3
      assert(all === batch1 + ((1L, "a", 3L)))
    } finally {
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T7f: ListState keeps a bounded last-n buffer per user across " +
    "micro-batches (append-only writes, trim once per batch)") {
    val s = spark
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Stateful.UserEvent](s)
      val q = Stateful.recentValues(stream.toDS(), n = 3)
        .writeStream.format("memory").queryName("t7f_out").outputMode("update").start()
      stream.addData(Stateful.UserEvent(1, "a", 1.0), Stateful.UserEvent(1, "a", 2.0))
      q.processAllAvailable()
      stream.addData(Stateful.UserEvent(1, "a", 3.0), Stateful.UserEvent(1, "a", 4.0))
      q.processAllAvailable()
      q.stop()
      val rows = s.table("t7f_out")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      // batch 1: [1,2]; batch 2: buffer [1,2,3,4] trimmed to last 3
      assert(rows.map(r => (r._1, r._2.toList)).toSet ===
        Set((1L, List(1.0, 2.0)), (1L, List(2.0, 3.0, 4.0))))
      assert(rows.find(_._2.size == 3).get._3 === 3.0) // mean of [2,3,4]
    } finally {
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T13: streaming drift monitor — foreachBatch-finished shares agree " +
    "with the full batch pass and with hand-computed ppm") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    val baseline = Seq(("click", 500000L), ("view", 500000L))
      .toDF("event_type", "base_ppm")
    val data = Seq(
      Ev(1, ts(0, 10), 1, "click"), Ev(2, ts(0, 20), 2, "click"),
      Ev(3, ts(0, 30), 3, "click"), Ev(4, ts(0, 40), 4, "view"),
      Ev(5, ts(1, 10), 1, "click"), Ev(6, ts(1, 20), 2, "view"))
    val stream = MemoryStream[Ev](s)
    stream.addData(data)
    var last: Seq[(java.sql.Timestamp, String, Long, Long, Long)] = Nil
    val q = StreamOps.windowedKeyCounts(stream.toDF(), "ts", "event_type",
        "1 minute", "0 seconds")
      .writeStream.outputMode("complete")
      .foreachBatch { (b: DataFrame, _: Long) =>
        last = StreamOps.finishDrift(b, "event_type", baseline)
          .orderBy("win_start", "event_type")
          .collect().map(r => (r.getTimestamp(0), r.getString(1),
            r.getLong(2), r.getLong(3), r.getAs[Long]("drift_ppm"))).toSeq
      }
      .start()
    q.processAllAvailable(); q.stop()
    val batch = StreamOps.finishDrift(
        StreamOps.tumblingCounts(data.toDF(), "ts", "event_type", "1 minute")
          .select($"win_start", $"event_type", $"n"),
        "event_type", baseline)
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getAs[Long]("drift_ppm"))).toSeq
    assert(last === batch)
    // window 0: 3 clicks + 1 view -> click 750000 ppm, drift 250000
    assert(last.find(x => x._1 == ts(0) && x._2 == "click")
      .map(x => (x._4, x._5)) === Some((750000L, 250000L)))
  }

  test("T12: foreachBatch maintains an IncrementalAgg summary — the " +
    "streaming materialized view equals the full batch re-aggregate") {
    val s = spark
    import s.implicits._
    import graft.operators.IncrementalAgg
    val b1 = Seq(Ev(1, ts(0), 1, "click"), Ev(2, ts(1), 1, "view"),
      Ev(3, ts(2), 2, "click"))
    val b2 = Seq(Ev(4, ts(3), 1, "click"), Ev(5, ts(4), 3, "view"))
    val stream = MemoryStream[Ev](s)
    // the running summary lives across micro-batches; each batch folds
    // its DELTA in via the mergeable (n, sum, min, max) state — the
    // streaming spelling of q101's incremental view maintenance
    var summary = IncrementalAgg.summarize(
      Seq.empty[Ev].toDF(), Seq("user_id"), Seq("event_id"))
      .localCheckpoint()
    val q = stream.toDF().writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
        summary = IncrementalAgg
          .refresh(summary, delta, Seq("user_id"), Seq("event_id"))
          .localCheckpoint() // summary must not retain micro-batch lineage
      }
      .start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    val got = summary.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val full = IncrementalAgg.summarize(
        (b1 ++ b2).toDF(), Seq("user_id"), Seq("event_id"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === full)
    assert(got === Seq((1L, 3L, 7L, 1L, 4L), (2L, 1L, 3L, 3L, 3L),
      (3L, 1L, 5L, 5L, 5L)))
  }

  test("T12b: foreachBatch maintains an EXACT quantile histogram (X50) — " +
    "streamed P50 equals the full batch rank statistic") {
    val s = spark
    import s.implicits._
    import graft.operators.IncrementalAgg
    val b1 = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0))
    val b2 = Seq(("a", 30.0), ("a", 20.0), ("b", 7.0), ("b", 9.0))
    val stream = MemoryStream[(String, Double)](s)
    var hist = IncrementalAgg.summarizeHist(
        Seq.empty[(String, Double)].toDF("g", "v"), Seq("g"), "v")
      .localCheckpoint()
    val q = stream.toDF().toDF("g", "v").writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
        hist = IncrementalAgg.mergeHist(hist,
            IncrementalAgg.summarizeHist(delta, Seq("g"), "v"), Seq("g"), "v")
          .localCheckpoint()
      }
      .start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    val got = IncrementalAgg.histQuantiles(hist, Seq("g"), "v", _ / 8d,
        Seq("p50" -> 50, "p95" -> 95))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // a: sorted [10,20,20,30] -> rank ceil(2)=2 -> 20; p95 rank 4 -> 30
    // b: sorted [5,7,9] -> p50 rank 2 -> 7; p95 rank 3 -> 9
    assert(got === Map("a" -> ((20.0, 30.0)), "b" -> ((7.0, 9.0))))
  }

  test("T11: stream-stream join attributes clicks to impressions within " +
    "the event-time bound; out-of-window and unmatched rows drop") {
    val s = spark
    import s.implicits._
    val imps = MemoryStream[(Long, Timestamp, Long)](s)
    val clks = MemoryStream[(Long, Timestamp, Long)](s)
    val joined = graft.streaming.StreamOps.streamStreamJoin(
      imps.toDF().toDF("imp_id", "imp_ts", "imp_user"),
      clks.toDF().toDF("clk_id", "clk_ts", "clk_user"),
      "imp_ts", "clk_ts", "imp_user", "clk_user",
      within = "1 MINUTE", delay = "0 seconds")
    val q = joined.select($"imp_id", $"clk_id")
      .writeStream.format("memory").queryName("t11_out").outputMode("append").start()
    imps.addData((1L, ts(0), 1L), (2L, ts(10), 2L))
    clks.addData(
      (100L, ts(0, 30), 1L), // in window -> matches imp 1
      (101L, ts(5), 1L),     // 5 min after imp 1 -> outside the bound
      (102L, ts(0, 20), 2L)) // before user 2's impression -> no match
    q.processAllAvailable()
    q.stop()
    val got = s.table("t11_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 100L)))
  }

  test("T11b: left-outer stream-stream join emits unmatched impressions " +
    "with nulls once the watermark proves no click can arrive") {
    val s = spark
    import s.implicits._
    val imps = MemoryStream[(Long, Timestamp, Long)](s)
    val clks = MemoryStream[(Long, Timestamp, Long)](s)
    val joined = graft.streaming.StreamOps.streamStreamJoinOuter(
      imps.toDF().toDF("imp_id", "imp_ts", "imp_user"),
      clks.toDF().toDF("clk_id", "clk_ts", "clk_user"),
      "imp_ts", "clk_ts", "imp_user", "clk_user",
      within = "1 MINUTE", delay = "0 seconds")
    val q = joined.select($"imp_id", $"clk_id")
      .writeStream.format("memory").queryName("t11b_out").outputMode("append").start()
    imps.addData((1L, ts(0), 1L), (2L, ts(0), 2L)) // user 2 never clicks
    clks.addData((100L, ts(0, 30), 1L))
    q.processAllAvailable()
    // push BOTH watermarks far past imp 2's match window, then run two
    // more batches: eviction of provably-unmatched state happens in the
    // batch AFTER the watermark advances
    imps.addData((9L, ts(60), 9L))
    clks.addData((900L, ts(60), 8L))
    q.processAllAvailable()
    imps.addData((10L, ts(61), 9L))
    clks.addData((901L, ts(61), 8L))
    q.processAllAvailable()
    q.stop()
    val got = s.table("t11b_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(got.contains((1L, Some(100L))), got)   // matched pair
    assert(got.contains((2L, None)), got)         // unmatched -> null click
  }

  test("T8: stream-static dim join enriches in-flight rows") {
    val s = spark
    import s.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[Ev](s)
    val q = StreamOps.enrichWithDim(stream.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("t8_out").outputMode("append").start()
    stream.addData(Ev(1, ts(0), 1, "click"), Ev(2, ts(1), 9, "view"))
    q.processAllAvailable(); q.stop()
    val rows = s.table("t8_out").select("event_id", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows === Map(1L -> "gold", 2L -> null))
  }

  test("T1/T9/S8: file-stream ingest -> enrich -> partitioned index sink; partition filter prunes") {
    val s = spark
    val in = tmp("tweets_in"); val idx = tmp("tweets_idx"); val ck = tmp("ck")
    val tweets = Seq(
      """{"created_at":"2024-01-01T00:00:00Z","text":"Happy #New Year fast fast","user":{"id":1,"name":"ann"},"geo":{"lat":40.0,"lon":-105.2}}""",
      """{"created_at":"2024-01-01T00:01:00Z","text":"so slow today","user":{"id":2,"name":"bob"},"geo":null}""")
    Files.write(java.nio.file.Paths.get(in, "batch0.json"),
      tweets.mkString("\n").getBytes("UTF-8"))
    val q = IndexSink.start(
      TweetPipeline.streamIngest(s, in), idx, ck, Seq("sentiment"))
    q.awaitTermination()   // AvailableNow terminates when caught up
    val back = IndexSink.read(s, idx)
    assert(back.count() === 2)
    val pos = back.filter(col("sentiment") === "positive")
    assert(pos.count() === 1)
    assert(pos.head().getAs[Seq[String]]("hashtags") === Seq("#New"))
    // partition pruning visible in the physical plan
    val plan = pos.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("sentiment"))
  }

  test("S4b: maxFilesPerTrigger bounds every micro-batch under a file " +
    "burst — the backlog drains as a sequence of bounded batches, " +
    "nothing is lost (r5 verdict item 8)") {
    val s = spark
    val in = tmp("burst_in"); val out = tmp("burst_out"); val ck = tmp("burst_ck")
    // a producer dump: 12 files land BEFORE the query first starts
    val rowsPerFile = 5
    for (f <- 0 until 12) {
      val lines = (0 until rowsPerFile).map(r =>
        f"""{"created_at":"2024-01-01T00:$f%02d:0$r%01dZ","text":"burst #f$f r$r","user":{"id":$f,"name":"u$f"},"geo":null}""")
      Files.write(java.nio.file.Paths.get(in, f"burst$f%02d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    val q = TweetPipeline.streamIngest(s, in, maxFilesPerTrigger = Some(3))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    // the bound: NO micro-batch ever admitted more than 3 files' rows
    assert(progress.nonEmpty)
    for (p <- progress)
      assert(p.numInputRows <= 3L * rowsPerFile,
        s"micro-batch admitted ${p.numInputRows} rows (> ${3 * rowsPerFile})")
    // the backlog really was split, not swallowed in one batch ...
    assert(progress.length >= 4,
      s"expected >= 4 bounded batches for 12 files at 3/trigger, got ${progress.length}")
    // ... and drained completely, exactly once
    assert(s.read.parquet(out).count() === 12L * rowsPerFile)
  }

  test("T10: a restarted query resumes from the checkpoint — committed " +
    "input is not re-ingested, and the final index equals the batch run") {
    val s = spark
    import s.implicits._
    val in = tmp("restart_in"); val idx = tmp("restart_idx"); val ck = tmp("restart_ck")
    def tweet(i: Int, text: String) =
      s"""{"created_at":"2024-01-01T00:0$i:00Z","text":"$text","user":{"id":$i,"name":"u$i"},"geo":null}"""
    Files.write(java.nio.file.Paths.get(in, "batch0.json"),
      Seq(tweet(1, "happy fast day"), tweet(2, "so slow today"))
        .mkString("\n").getBytes("UTF-8"))
    // run 1: drains batch0, commits it to the checkpoint, terminates
    IndexSink.start(TweetPipeline.streamIngest(s, in), idx, ck, Seq("sentiment"))
      .awaitTermination()
    assert(IndexSink.read(s, idx).count() === 2)
    // new input lands while no query is running
    Files.write(java.nio.file.Paths.get(in, "batch1.json"),
      Seq(tweet(3, "great great #win"), tweet(4, "bad errors again"))
        .mkString("\n").getBytes("UTF-8"))
    // run 2: SAME checkpoint — must pick up only batch1
    IndexSink.start(TweetPipeline.streamIngest(s, in), idx, ck, Seq("sentiment"))
      .awaitTermination()
    val streamed = IndexSink.read(s, idx)
    assert(streamed.count() === 4, "restart re-ingested committed input")
    // structural batch/stream agreement: same rows as one batch pass
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"user.id", $"text", $"sentiment", $"n_tokens")
        .collect().map(_.toSeq).sortBy(_.toString)
    assert(key(streamed).sameElements(key(TweetPipeline.batchIngest(s, in))))
  }

  test("S8: index upsert replaces same-key rows, appends new keys, keeps the rest") {
    val s = spark
    import s.implicits._
    val existing = Seq((1L, "old-1", "x"), (2L, "old-2", "x"), (3L, "old-3", "x"))
      .toDF("id", "payload", "tag")
    val updates = Seq((2L, "new-2", "y"), (9L, "new-9", "y"))
      .toDF("id", "payload", "tag")
    val merged = IndexSink.upsert(existing, updates, Seq("id"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(merged === Map(
      1L -> ("old-1", "x"), 2L -> ("new-2", "y"),
      3L -> ("old-3", "x"), 9L -> ("new-9", "y")))
  }

  test("S8: upsertLatest collapses a multi-version batch to last-write-wins " +
    "per key before merging (ES 'index by id' semantics)") {
    val s = spark
    import s.implicits._
    val existing = Seq((1L, "old-1", 0L)).toDF("id", "payload", "seq")
    // key 1 appears three times in ONE batch; plain upsert would keep all
    val updates = Seq((1L, "v1", 10L), (1L, "v3", 30L), (1L, "v2", 20L),
      (2L, "only", 5L)).toDF("id", "payload", "seq")
    val merged = IndexSink.upsertLatest(existing, updates, Seq("id"), "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(1L -> "v3", 2L -> "only"))
    assert(IndexSink.upsertLatest(existing, updates, Seq("id"), "seq").count() == 2)
  }

  test("S2: malformed JSON rows surface in _corrupt_record, valid rows enrich") {
    val s = spark
    import s.implicits._
    val dir = tmp("corrupt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "in.json"),
      """{"created_at":"2020-01-01T00:00:00Z","text":"good #row","user":{"name":"u"}}
        |{not json at all
        |""".stripMargin)
    // cache: Spark disallows querying ONLY the corrupt-record column from
    // a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val out = TweetPipeline.batchIngest(s, dir).cache()
    try {
      assert(out.columns.contains("_corrupt_record"))
      val bad = out.filter($"_corrupt_record".isNotNull)
      val good = out.filter($"_corrupt_record".isNull)
      assert(bad.count() === 1)
      assert(bad.head().getAs[String]("_corrupt_record").startsWith("{not"))
      assert(good.count() === 1)
      assert(good.head().getAs[Seq[String]]("hashtags") === Seq("#row"))
    } finally out.unpersist(): Unit
  }

  test("E1 == E2: HTTP-ingested and batch-file tweets produce identical enriched rows") {
    val s = spark
    val payload =
      """{"created_at":"2024-01-01T06:30:00Z","text":"big #Spark merge is fast","user":{"id":3,"name":"cat"},"geo":{"lat":1.5,"lon":2.5}}"""
    // E1: HTTP path
    val http = new HttpIngestForTest(s)
    try {
      val out = tmp("e1_out"); val ck = tmp("e1_ck")
      http.post(payload)
      val q = http.ingester.enriched.writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val e1 = s.read.parquet(out)
      // E2: batch path over the same payload written to a file
      val in = tmp("e2_in")
      Files.write(java.nio.file.Paths.get(in, "t.json"), payload.getBytes("UTF-8"))
      val e2 = TweetPipeline.batchIngest(s, in)
      assert(e1.collect().toSeq === e2.collect().toSeq)
      assert(e1.head().getAs[String]("sentiment") === "positive")
    } finally http.close()
  }

  // ---- checkpoint-restart exactly-once for the r8 stateful operators
  // (r8 verdict item 2): T10 proves restart for stateless file ingest;
  // these pin that the NEW state — LSH bucket membership, retention
  // deadlines, in-flight per-doc sums, pair-dedup history — is restored
  // from a real checkpoint and committed output is never re-emitted.

  private def writeDocs(dir: String, name: String,
                        docs: Seq[(Long, String)]): Unit =
    Files.write(java.nio.file.Paths.get(dir, name),
      docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
        .mkString("\n").getBytes("UTF-8"))

  test("T16 restart: LSH bucket state and pair-dedup history survive a " +
    "checkpoint restart — post-restart docs pair with pre-restart members, " +
    "committed pairs are not re-emitted, union equals the batch run") {
    val s = spark
    import s.implicits._
    val in = tmp("t16r_in"); val out = tmp("t16r_out"); val ck = tmp("t16r_ck")
    val run1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark streaming state stores scale across many executors"),
      (3L, "completely unrelated text about cooking pasta with garlic"),
      (103L, "completely unrelated text about cooking pasta with oil"))
    val run2 = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "spark streaming state stores scale across many"))
    val corpus = (run1 ++ run2).toDF("doc_id", "text")
    val store = graft.operators.MinHashLSH
      .shingleSets(corpus, "doc_id", "text").cache()
    def runOnce(): Unit = {
      val docs = s.readStream.schema("doc_id LONG, text STRING").json(in)
      val q = StreamingVerifiedDedup.verified(docs, "doc_id", "text",
          store, "doc_id", "sh", minJaccard = 0.5)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeDocs(in, "b0.json", run1); runOnce()
    val afterRun1 = s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterRun1.contains((3L, 103L)), "run-1 pair missing before restart")
    // new input lands while no query is running; SAME checkpoint
    writeDocs(in, "b1.json", run2); runOnce()
    val rows = s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSeq
    // exactly-once: nothing re-emitted (incl. run-1's committed pair)
    assert(rows.size === rows.distinct.size, s"duplicate pairs: $rows")
    val streamed = rows.toMap
    // cross-restart discovery: run-2 docs paired with RUN-1 bucket members
    assert(streamed.contains((1L, 101L)) && streamed.contains((2L, 102L)),
      s"bucket state lost across restart: ${streamed.keys}")
    val batch = graft.operators.MinHashLSH
      .nearDupPairs(corpus, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed === batch, s"streamed != batch: $streamed vs $batch")
    store.unpersist()
  }

  test("T14c restart: retention-mode bucket state, deadlines and the " +
    "watermark survive restarts — within-retention pairing works across " +
    "a restart, eviction still fires across later restarts") {
    val s = spark
    import s.implicits._
    val in = tmp("t14r_in"); val out = tmp("t14r_out"); val ck = tmp("t14r_ck")
    def writeTs(name: String, docs: Seq[(Long, String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(in, name),
        docs.map { case (i, t, sec) =>
          s"""{"doc_id":$i,"text":"$t","ts":"${java.time.Instant.ofEpochSecond(1000 + sec)}"}"""
        }.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val docs = s.readStream
        .schema("doc_id LONG, text STRING, ts TIMESTAMP").json(in)
      val q = StreamingNearDup.candidatesWithRetention(docs,
          "doc_id", "text", "ts", retention = java.time.Duration.ofSeconds(60))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: the originals at t=0
    writeTs("b0.json", Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", 0L),
      (2L, "spark streaming state stores scale across many executors", 0L)))
    runOnce()
    // run 2 (restart): near-copy of doc 2 at t=30, inside retention —
    // pairs only if the bucket membership AND deadline were restored
    writeTs("b1.json", Seq(
      (102L, "spark streaming state stores scale across many", 30L)))
    runOnce()
    // runs 3-4 (restarts): far-future docs advance the restored
    // watermark past the t<=30 deadlines, then let the timeouts fire
    writeTs("b2.json", Seq(
      (9L, "completely unrelated text about cooking pasta with garlic", 300L)))
    runOnce()
    writeTs("b3.json", Seq(
      (10L, "another unrelated document describing mountain hiking trails", 310L)))
    runOnce()
    // run 5 (restart): near-copy of doc 1 — its bucket was evicted
    // across the restarts, so it must NOT pair
    writeTs("b4.json", Seq(
      (101L, "the quick brown fox jumps over the lazy dog", 320L)))
    runOnce()
    val pairs = s.read.parquet(out).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 102L)),
      s"within-retention pair lost across restart: $pairs")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      s"near-copy paired with an original evicted across restarts: $pairs")
  }

  test("T17 restart: in-flight per-document sums survive a restart — a " +
    "doc id continuing after the restart accumulates onto its restored " +
    "state; finished docs are not re-emitted") {
    val s = spark
    import s.implicits._
    import graft.operators.QualityClassifier
    val in = tmp("t17r_in"); val out = tmp("t17r_out"); val ck = tmp("t17r_ck")
    val train = Seq(
      (1L, true, "alpha beta alpha common"),
      (2L, true, "beta gamma alpha"),
      (3L, false, "delta epsilon common"),
      (4L, false, "epsilon zeta delta delta")).toDF("doc_id", "pos", "text")
    val weights = QualityClassifier.trainWeights(
      QualityClassifier.tokenTable(train, "doc_id", "text", $"pos")).cache()
    def runOnce(): Unit = {
      val docs = s.readStream.schema("doc_id LONG, text STRING").json(in)
      val q = StreamingQuality.scoreStream(docs, "doc_id", "text", weights)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          df.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: doc 101 part 1, doc 102 complete
    writeDocs(in, "b0.json", Seq(
      (101L, "alpha beta"), (102L, "delta zeta epsilon")))
    runOnce()
    // run 2 (restart): doc 101 CONTINUES (same id, more tokens) + a new doc
    writeDocs(in, "b1.json", Seq(
      (101L, "alpha common"), (103L, "beta gamma")))
    runOnce()
    val rows = s.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // (doc, score, batch)
    // finished doc 102 emitted exactly once across both runs
    assert(rows.count(_._1 == 102L) === 1, s"102 re-emitted: ${rows.toSeq}")
    // doc 101's LAST update equals the batch score over BOTH parts —
    // only possible if the run-1 partial sum was restored from the
    // checkpoint state store
    val last101 = rows.filter(_._1 == 101L).maxBy(_._3)._2
    val expected = QualityClassifier.score(
        QualityClassifier.tokenTable(
          Seq((101L, "alpha beta alpha common")).toDF("doc_id", "text"),
          "doc_id", "text", lit(false)), "doc_id", weights)
      .collect().head.getLong(1)
    assert(last101 === expected,
      s"restored state did not accumulate: $last101 != $expected")
    weights.unpersist()
  }

  test("E1 == E2 == q205: the composed flagship pipeline computes the same " +
    "E3 answers through the streaming path, the batch path, and the oracle " +
    "query (r8 verdict item 1)") {
    val s = spark
    import graft.queries.Tweets
    // the SAME corpus-derived fixture q205 builds internally
    val in = tmp("q205_in")
    Tweets.tweetFrame(s, sf).write.mode("overwrite").json(in)
    // E2: batch file ingest -> enrich -> E3 shapes
    val e2 = Tweets.e3Shapes(TweetPipeline.batchIngest(s, in)).collect().toSeq
    // E1: streaming file ingest over the same files -> enrich -> sink ->
    // the same E3 shapes over the landed records
    val out = tmp("q205_out"); val ck = tmp("q205_ck")
    val q = TweetPipeline.streamIngest(s, in)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val e1 = Tweets.e3Shapes(s.read.parquet(out)).collect().toSeq
    // q205: the oracle-registered composition (its own fixture write)
    val q205 = Tweets.q205.build(s, sf).collect().toSeq
    assert(e1 === e2, "streamed != batch")
    assert(e2 === q205, "batch != q205 oracle query")
    // sanity: all five query shapes present and non-degenerate
    val kinds = q205.map(_.getString(0)).distinct.sorted
    assert(kinds === Seq("geo", "hashtag", "sentiment", "time", "user"))
    assert(q205.map(_.getLong(2)).sum > 0)
  }

  /** Drives the real HTTP server over a socket — the full E1 boundary. */
  private class HttpIngestForTest(s: org.apache.spark.sql.SparkSession) {
    val ingester = new graft.sources.HttpIngest(s, port = 0)
    def post(body: String): Unit = {
      val url = java.net.URI.create(s"http://localhost:${ingester.boundPort}/tweets").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes("UTF-8"))
      assert(c.getResponseCode === 200)
      c.disconnect()
    }
    /** One keep-alive HTTP/1.1 client for every `send` of this server. */
    private lazy val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    def send(method: String, body: String = ""): java.net.http.HttpResponse[String] = {
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:${ingester.boundPort}/tweets"))
        .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    }
    def close(): Unit = ingester.stop()
  }

  private def tweetJson(i: Int, text: String): String =
    f"""{"created_at":"2024-01-01T07:$i%02d:00Z","text":"$text","user":{"id":$i,"name":"u$i"}}"""

  test("E1 batching: 12 tweets POSTed one by one drain as ONE micro-batch " +
    "in ONE input partition, at most one parquet file per sentiment, and " +
    "the rows equal the batch path over the same payloads") {
    val s = spark
    val texts = Seq("fast merge", "slow scan", "plain words")
    val payloads = (0 until 12).map(i => tweetJson(i, s"${texts(i % 3)} #t$i"))
    val http = new HttpIngestForTest(s)
    try {
      payloads.foreach(http.post)
      val out = tmp("e1b_out"); val ck = tmp("e1b_ck")
      val partitions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val q = http.ingester.enriched.writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          partitions.add(df.rdd.getNumPartitions)
          df.write.mode("append").partitionBy("sentiment").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.map(_.numInputRows).toSeq === Seq(12L))
      assert(partitions.toArray.toSeq === Seq(1))
      val sentimentDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      assert(sentimentDirs.length === 3)
      sentimentDirs.foreach { d =>
        val files = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(files === 1, s"$d holds $files parquet files")
      }
      val in = tmp("e1b_in")
      Files.write(java.nio.file.Paths.get(in, "t.json"),
        payloads.mkString("\n").getBytes("UTF-8"))
      val e2 = TweetPipeline.batchIngest(s, in)
      val e1 = s.read.parquet(out).select(e2.columns.map(col).toSeq: _*)
      assert(e1.orderBy("created_at").collect().toSeq ===
        e2.orderBy("created_at").collect().toSeq)
    } finally http.close()
  }

  test("E1 reply contract: an accepted POST gets 200 with Content-Length 0, " +
    "a GET gets 405 with a JSON error, and 40 keep-alive POSTs take < 1 s " +
    "(no Nagle / delayed-ACK stall per reply)") {
    val http = new HttpIngestForTest(spark)
    try {
      val ok = http.send("POST", tweetJson(0, "fast"))
      assert(ok.statusCode === 200)
      assert(ok.headers.firstValue("content-length").orElse("") === "0")
      assert(ok.body === "")
      val get = http.send("GET")
      assert(get.statusCode === 405)
      assert(get.body === """{"error":"POST only"}""")
      val t0 = System.nanoTime()
      (1 to 40).foreach(i => assert(http.send("POST", tweetJson(i, "fast")).statusCode === 200))
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(seconds < 1.0, f"40 sequential POSTs took $seconds%.2f s")
    } finally http.close()
  }

  test("E1 body bound: a POST over HttpIngest.MaxBodyBytes gets 413 and adds no row") {
    val s = spark
    val http = new HttpIngestForTest(s)
    try {
      val huge = tweetJson(0, "x" * graft.sources.HttpIngest.MaxBodyBytes)
      val rejected = http.send("POST", huge)
      assert(rejected.statusCode === 413)
      assert(rejected.body.startsWith("""{"error":"""))
      assert(http.send("POST", tweetJson(1, "fast")).statusCode === 200)
      val out = tmp("e1413_out"); val ck = tmp("e1413_ck")
      http.ingester.enriched.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
      assert(s.read.parquet(out).select("text").collect().map(_.getString(0)).toSeq ===
        Seq("fast"))
    } finally http.close()
  }

  test("T14: streaming near-dup discovers CROSS-BATCH pairs — a doc " +
    "arriving in batch 3 pairs with its near-copy from batch 1, and the " +
    "accumulated candidate set equals the batch LSH run") {
    val s = spark
    import s.implicits._
    def doc(id: Long, t: String) = (id, t)
    val base = Seq(
      doc(1, "the quick brown fox jumps over the lazy dog tonight"),
      doc(2, "spark streaming state stores scale across many executors"),
      doc(3, "completely unrelated text about cooking pasta with garlic"),
      doc(4, "another unrelated document describing mountain hiking trails"))
    val nearOf1 = doc(101, "the quick brown fox jumps over the lazy dog")
    val nearOf2 = doc(102, "spark streaming state stores scale across many")
    val lateNearOf1 = doc(201, "the quick brown fox jumps over the lazy")
    val stream = MemoryStream[(Long, String)](s)
    val q = StreamingNearDup
      .candidates(stream.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("t14_out")
      .outputMode("append").start()
    stream.addData(base: _*); q.processAllAvailable()
    stream.addData(nearOf1, nearOf2); q.processAllAvailable()
    val afterB2 = s.table("t14_out").select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterB2.contains((1L, 101L)) && afterB2.contains((2L, 102L)))
    stream.addData(lateNearOf1); q.processAllAvailable()
    q.stop()
    val streamed = s.table("t14_out").select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the batch-1 original AND the batch-2 near-copy both pair with the
    // batch-3 arrival — membership persisted across batches
    assert(streamed.contains((1L, 201L)) && streamed.contains((101L, 201L)))
    // distinct accumulated candidates == one batch LSH pass over the
    // same corpus (cap not binding) — same signature math, same bands
    val corpus = (base ++ Seq(nearOf1, nearOf2, lateNearOf1))
      .toDF("doc_id", "text")
    val batch = graft.operators.MinHashLSH.candidatePairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
  }

  test("T14b: a saturated bucket stops emitting AND stops growing state " +
    "— the streaming viral cap truncates instead of exploding") {
    val s = spark
    import s.implicits._
    val boiler = "click here to accept cookies and continue to the site"
    val stream = MemoryStream[(Long, String)](s)
    val q = StreamingNearDup
      .candidates(stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
        maxBucketSize = 5)
      .writeStream.format("memory").queryName("t14b_out")
      .outputMode("append").start()
    stream.addData((1L to 30L).map(i => (i, boiler)): _*)
    q.processAllAvailable()
    stream.addData((31L to 40L).map(i => (i, boiler)): _*)
    q.processAllAvailable()
    q.stop()
    val pairs = s.table("t14b_out").select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs share ALL 4 band buckets; distinct pairs are capped
    // at C(5,2) = 10 no matter how many copies arrive, and the ids that
    // made it in are deterministically the 5 smallest of the first batch
    assert(pairs === (1L to 5L).combinations(2)
      .map { case Seq(a, b) => (a, b) }.toSet)
  }

  test("T14c: retention mode evicts idle buckets on event time — a " +
    "near-copy arriving after the gap re-seeds instead of pairing with " +
    "the evicted original; within-retention pairing is unchanged") {
    val s = spark
    import s.implicits._
    // +1000s base: the initial watermark is epoch 0 and the stateful-op
    // late filter drops rows AT the watermark, so t=0 events would be
    // discarded before the state function ever saw them
    def ts(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000L)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)](s)
    val q = StreamingNearDup.candidatesWithRetention(
        stream.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
        retention = java.time.Duration.ofSeconds(60))
      .writeStream.format("memory").queryName("t14c_out")
      .outputMode("append").start()
    // batch 1 at t=0: the two originals
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog tonight", ts(0)),
      (2L, "spark streaming state stores scale across many executors", ts(0)))
    q.processAllAvailable()
    // batch 2 at t=30 (inside retention): near-copy of doc 2 pairs
    stream.addData(
      (102L, "spark streaming state stores scale across many", ts(30)))
    q.processAllAvailable()
    // batches 3-4: unrelated far-future docs advance the watermark to
    // 300s, then let the t<=30 buckets (deadline <=90s) time out
    stream.addData(
      (9L, "completely unrelated text about cooking pasta with garlic", ts(300)))
    q.processAllAvailable()
    stream.addData(
      (10L, "another unrelated document describing mountain hiking trails", ts(310)))
    q.processAllAvailable()
    // batch 5: near-copy of doc 1 — its bucket was EVICTED, so no pair
    stream.addData(
      (101L, "the quick brown fox jumps over the lazy dog", ts(320)))
    q.processAllAvailable()
    // batch 6: near-copy of 101 pairs within the re-seeded epoch
    stream.addData(
      (103L, "the quick brown fox jumps over the lazy", ts(330)))
    q.processAllAvailable()
    q.stop()
    val pairs = s.table("t14c_out").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 102L)), s"within-retention pair lost: $pairs")
    assert(!pairs.exists(_._1 == 1L),
      s"near-copy paired with the evicted original: $pairs")
    assert(pairs.contains((101L, 103L)),
      s"re-seeded bucket did not pair the new epoch: $pairs")
  }

  test("T16: streaming VERIFIED pairs — candidates + stream-static " +
    "Jaccard verify against the shingle store emit exactly the batch " +
    "nearDupPairs set over the same corpus") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark streaming state stores scale across many executors"),
      (3L, "completely unrelated text about cooking pasta with garlic"),
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "spark streaming state stores scale across many"),
      (201L, "the quick brown fox jumps over the lazy"))
    val corpusDf = corpus.toDF("doc_id", "text")
    // the steady-state S11 index: every ingested doc's shingle set
    val store = graft.operators.MinHashLSH
      .shingleSets(corpusDf, "doc_id", "text").cache()
    val stream = MemoryStream[(Long, String)](s)
    val q = StreamingVerifiedDedup.verified(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
        store, "doc_id", "sh", minJaccard = 0.5)
      .writeStream.format("memory").queryName("t16_out")
      .outputMode("append").start()
    corpus.grouped(2).foreach { batch =>
      stream.addData(batch: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = s.table("t16_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = graft.operators.MinHashLSH
      .nearDupPairs(corpusDf, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batch.nonEmpty) // the corpus must actually exercise the verify
    assert(streamed === batch,
      s"streamed verified pairs != batch: $streamed vs $batch")
    store.unpersist()
  }

  test("T15: streaming embedding near-dup — a RESCALED copy arriving two " +
    "batches later pairs with its original (sign-LSH buckets are " +
    "scale-invariant and membership persists)") {
    val s = spark
    import s.implicits._
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed); Seq.fill(16)(r.nextFloat() - 0.5f)
    }
    val base = (1L to 8L).map(i => (i, vec(i.toInt)))
    val rescaled = (101L, vec(1).map(x => x * 0.37f)) // same direction as id 1
    val stream = MemoryStream[(Long, Seq[Float])](s)
    val q = StreamingNearDup
      .embeddingCandidates(stream.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .writeStream.format("memory").queryName("t15_out")
      .outputMode("append").start()
    stream.addData(base: _*); q.processAllAvailable()
    stream.addData((50L, vec(50))); q.processAllAvailable()
    stream.addData(rescaled); q.processAllAvailable()
    q.stop()
    val pairs = s.table("t15_out").select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 101L)),
      s"rescaled copy did not pair with its batch-1 original: $pairs")
  }

  test("T17: streaming quality scoring — docs streamed against the " +
    "batch-trained weight table score exactly like the batch operator") {
    val s = spark
    import s.implicits._
    import graft.operators.QualityClassifier
    val train = Seq(
      (1L, true, "alpha beta alpha common"),
      (2L, true, "beta gamma alpha"),
      (3L, false, "delta epsilon common"),
      (4L, false, "epsilon zeta delta delta")).toDF("doc_id", "pos", "text")
    val weights = QualityClassifier.trainWeights(
      QualityClassifier.tokenTable(train, "doc_id", "text", $"pos")).cache()
    // live docs: only tokens the trained vocabulary knows (in-vocab
    // scoring — the operator contract; OOV handling is documented)
    val live = Seq(
      (101L, "alpha beta common"),
      (102L, "delta zeta epsilon"),
      (103L, "alpha delta"))
    val stream = MemoryStream[(Long, String)](s)
    val q = StreamingQuality.scoreStream(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", weights)
      .writeStream.format("memory").queryName("t17_out")
      .outputMode("update").start()
    live.grouped(2).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // update-mode memory sink may emit a key more than once; the last
    // update per doc is the final score (docs arrive whole, so each
    // doc finalizes in its own batch and is emitted exactly once here)
    val streamed = s.table("t17_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = QualityClassifier.score(
        QualityClassifier.tokenTable(live.toDF("doc_id", "text"),
          "doc_id", "text", lit(false)), "doc_id", weights)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch, s"$streamed vs $batch")
    // the planted signal survives the stream: positive-vocab doc > 0,
    // negative-vocab doc < 0
    assert(streamed(101L) > 0 && streamed(102L) < 0)
    weights.unpersist()
  }

  test("T18: streaming PQ encode — live vectors encode per row against " +
    "the frozen batch-trained codebooks, codes equal the batch encoder") {
    val s = spark
    import s.implicits._
    import graft.operators.{KMeansInt, ProductQuantizer}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" < 60)
    val sub = ProductQuantizer.subVectors(emb, "vec_id", "embedding", 8, 8)
      .persist()
    val cents = ProductQuantizer.trainCodebooks(sub, "vec_id", 4, 2)
    val batch = ProductQuantizer.encode(sub, "vec_id", cents)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val books = ProductQuantizer.collectCodebooks(cents)
    val live = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])](s)
    val q = stream.toDF().toDF("vec_id", "embedding")
      .select($"vec_id", ProductQuantizer.encodeExpr(books, 8, 8,
        KMeansInt.quantize($"embedding")).as("codes"))
      .writeStream.format("memory").queryName("t18_out")
      .outputMode("append").start()
    live.grouped(25).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = s.table("t18_out").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    sub.unpersist()
    assert(streamed === batch,
      s"streamed codes diverge from batch encoder (${streamed.size} rows)")
  }

  test("T19: streaming coherence scoring — live docs against the frozen " +
    "batch-trained bigram LM report exactly like the batch operator") {
    val s = spark
    import s.implicits._
    import graft.operators.BigramLm
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown dog sleeps"),
      (3L, "a slow green turtle walks"),
      (4L, "the quick green fox runs")).toDF("doc_id", "text")
    val lm = BigramLm.train(train, "doc_id", "text").cache()
    val live = Seq(
      (101L, "the quick brown fox"),   // every bigram seen — no backoff
      (102L, "fox the turtle quick"),  // bigrams unseen, unigrams seen
      (103L, "purple elephants sing")) // fully out of vocabulary
    val stream = MemoryStream[(Long, String)](s)
    val q = StreamingCoherence.scoreStream(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", lm)
      .writeStream.format("memory").queryName("t19_out")
      .outputMode("update").start()
    live.grouped(2).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // docs arrive whole, one row each, so every report finalizes (and
    // is emitted) in its own batch — the T17 update-mode contract
    val streamed = s.table("t19_out").collect().map(key).toMap
    val batch = BigramLm.score(
        BigramLm.bigrams(live.toDF("doc_id", "text"), "doc_id", "text"),
        "doc_id", lm)
      .collect().map(key).toMap
    assert(streamed === batch, s"$streamed vs $batch")
    // the planted signal survives the stream: fluent > scrambled > OOV
    assert(streamed(101L)._3 === 0L, "fluent doc must not back off")
    assert(streamed(101L)._2 > streamed(102L)._2)
    assert(streamed(103L)._2 === 0L && streamed(103L)._4 === 1000000L)
    lm.unpersist()
  }

  test("T20: streaming DBSCAN assignment — live points against the frozen " +
    "batch clustering assign exactly like the batch predict path") {
    val s = spark
    import s.implicits._
    import graft.operators.Dbscan
    // two tight blobs + one isolated point: blob A around (100,100),
    // blob B around (1000,1000) — eps=50, minPts=3
    val base = Seq(
      (1L, 100.0, 100.0), (2L, 110.0, 100.0), (3L, 100.0, 110.0),
      (4L, 120.0, 110.0),
      (11L, 1000.0, 1000.0), (12L, 1010.0, 1000.0), (13L, 1000.0, 1010.0),
      (21L, 5000.0, 5000.0)).toDF("id", "x", "y")
    val core = Dbscan.coreTable(base, eps = 50.0, minPts = 3).cache()
    val live = Seq(
      (101L, 105.0, 105.0),   // inside blob A -> cluster 1
      (102L, 1005.0, 1005.0), // inside blob B -> cluster 11
      (103L, 140.0, 140.0),   // within eps of blob A's edge cores
      (104L, 3000.0, 3000.0)) // nowhere near a core -> noise
    val stream = MemoryStream[(Long, Double, Double)](s)
    val q = StreamingDbscanAssign.assignStream(
        stream.toDF().toDF("id", "x", "y"), core, eps = 50.0)
      .writeStream.format("memory").queryName("t20_out")
      .outputMode("update").start()
    live.grouped(2).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = s.table("t20_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Dbscan.assign(live.toDF("id", "x", "y"), core, eps = 50.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch, s"$streamed vs $batch")
    assert(streamed(101L) === 1L && streamed(102L) === 11L)
    assert(streamed(104L) === -1L, "far point must be noise")
    core.unpersist()
  }

  test("T21: foreachBatch maintains the packed corpus — streamed arrival-" +
    "order packing equals the batch map, bins never remap across batches") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, sf, "documents")
      .select($"doc_id", $"text").orderBy($"doc_id")
      .as[(Long, String)].collect().toSeq
    val (b1, rest) = docs.splitAt(docs.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    var state = StreamingPacking.empty(s)
    val stream = MemoryStream[(Long, String)](s)
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
        state = StreamingPacking.appendBatch(state, delta, L = 128)
      }
      .start()
    Seq(b1, b2, b3).foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // doc_id-ordered batches => arrival order == doc_id order == the
    // batch map's order; byte-identical segments required
    val batchMap = graft.queries.Text.q209.build(s, sf)
    assert(key(state.map) === key(batchMap),
      "streamed packing diverged from the batch map")
    // frozen-prefix law: segments from batch 1 are bit-identical to
    // packing b1 alone — later arrivals never remapped them
    val soloB1 = graft.queries.Text.packingMap(b1.toDF("doc_id", "text"), 128)
    val b1Ids = b1.map(_._1).toSet
    assert(key(state.map.filter($"doc_id".isInCollection(b1Ids))) === key(soloB1))
  }

  test("T21b: the accumulated packing plan stays BOUNDED over many folds — " +
    "compaction collapses the per-batch unions (ADVICE r9), content intact") {
    val s = spark
    import s.implicits._
    val nBatches = 2 * StreamingPacking.CompactEvery + 3 // 19 folds
    val perBatch = 5
    var state = StreamingPacking.empty(s)
    (0 until nBatches).foreach { b =>
      val delta = (0 until perBatch).map { i =>
        val id = (b * perBatch + i).toLong
        (id, s"doc $id tok" + (" w" * (id % 7).toInt))
      }.toDF("doc_id", "text")
      state = StreamingPacking.appendBatch(state, delta, L = 16)
    }
    def unionNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.size
    // old code: one Union node per fold => nBatches - 1 = 18 here; with
    // compaction at most CompactEvery - 1 leaves-worth of unions remain
    assert(unionNodes(state.map) < StreamingPacking.CompactEvery,
      s"plan holds ${unionNodes(state.map)} Union nodes — compaction not applied")
    // content is the same map a single batch pack would produce
    val all = (0 until nBatches * perBatch).map { i =>
      (i.toLong, s"doc $i tok" + (" w" * (i % 7)))
    }.toDF("doc_id", "text")
    val batchMap = graft.queries.Text.packingMap(all, 16)
    assert(state.map.collect().map(_.toSeq).toSet ===
      batchMap.collect().map(_.toSeq).toSet)
    assert(state.batches === nBatches.toLong)
  }

  test("T21c: executor STORAGE stays bounded too — superseded compaction " +
    "leaves are unpersisted, so persistent-RDD count tracks the live " +
    "leaf set, not batch count (ADVICE r11)") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.size
    val nBatches = 3 * StreamingPacking.CompactEvery + 2 // 26 folds, 3 compactions
    var state = StreamingPacking.empty(s)
    (0 until nBatches).foreach { b =>
      val delta = (0 until 4).map { i =>
        val id = (b * 4 + i).toLong
        (id, s"d $id" + (" w" * (id % 5).toInt))
      }.toDF("doc_id", "text")
      state = StreamingPacking.appendBatch(state, delta, L = 16)
    }
    // live leaves: 1 compacted map + (nBatches mod CompactEvery) batch
    // leaves; the OLD code leaked 2 persisted RDDs per fold (~52 here)
    val leaked = s.sparkContext.getPersistentRDDs.size - before
    assert(state.leaves.size <= StreamingPacking.CompactEvery,
      s"PackState tracks ${state.leaves.size} leaves")
    assert(leaked <= StreamingPacking.CompactEvery + 1,
      s"$leaked persistent RDDs accumulated over $nBatches folds — " +
        "superseded leaves are not being unpersisted")
    // content law still holds after the storage discipline
    val all = (0 until nBatches * 4).map { i =>
      (i.toLong, s"d $i" + (" w" * (i % 5)))
    }.toDF("doc_id", "text")
    assert(state.map.collect().map(_.toSeq).toSet ===
      graft.queries.Text.packingMap(all, 16).collect().map(_.toSeq).toSet)
  }

  test("T23: streaming index append — live embedding micro-batches fold " +
    "through the FROZEN IVF-PQ model (T18's posture lifted to the whole " +
    "index row); streamed rows == the batch q222 append on the same deltas") {
    val s = spark
    import s.implicits._
    import graft.operators.{IvfPqIndex, KMeansInt, ProductQuantizer}
    import graft.core.Barriers._
    val emb = graft.core.Tables(s, sf, "embeddings")
    val frozen = emb.filter($"vec_id" < 384)
    val (_, cents0) =
      KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2)
    val books = ProductQuantizer.trainCodebooks(
      ProductQuantizer.subVectors(frozen, "vec_id", "embedding",
        m = 8, subDims = 8),
      "vec_id", k = 4, rounds = 2).barrier()
    val cents = cents0.barrier()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"cell", $"cell_dist",
        concat_ws(",", $"codes").as("cs"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSet
    val deltaRows = emb.filter($"vec_id" >= 384)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    var streamed = Set.empty[(Long, Int, Long, String)]
    val stream = MemoryStream[(Long, Array[Float])](s)
    val qy = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = streamed ++ rows(IvfPqIndex.appendToIndex(
          b, "vec_id", "embedding", cents, books, m = 8, subDims = 8))
      }
      .start()
    val (b1, b2) = deltaRows.splitAt(deltaRows.size / 2)
    Seq(b1, b2).foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    qy.stop()
    val batch = rows(IvfPqIndex.appendToIndex(
      emb.filter($"vec_id" >= 384), "vec_id", "embedding", cents, books,
      m = 8, subDims = 8))
    assert(streamed === batch,
      "streamed index append diverged from the batch append")
    assert(streamed.size === deltaRows.size)
  }

  test("T24: streaming video near-dup assignment — arriving clips' frame " +
    "hashes probe the frozen banded index, temporal agreement decides, " +
    "adopt-or-mint; streamed == batch clusterClips on the union " +
    "(non-bridging deltas)") {
    val s = spark
    import s.implicits._
    import graft.multimodal.{Phash, RealCodecs}
    val md = java.security.MessageDigest.getInstance("MD5")
    def seedOf(n: Int) = md.digest(s"vid-$n".getBytes("UTF-8"))
    // frame hashes for clip `cid` built on seed n: orig (hot = -1) or a
    // one-pixel-per-frame perturbation at `hot0 + f`
    def clipRows(cid: Long, n: Int, hot0: Int): Seq[(Long, Int, Long, Long)] = {
      val seed = seedOf(n)
      val nF = 3 + n % 3
      val sampled = (0 until nF).filter(_ % 2 == 0)
      sampled.map { f =>
        val hot = if (hot0 < 0) -1 else (hot0 + f) % 63
        val comps = Array.tabulate(189) { i =>
          if (hot >= 0 && i / 3 == hot) seed((i + 7) % 16) & 0xff
          else seed((i + f) % 16) & 0xff
        }
        (cid, f, Phash.dHash(RealCodecs.Img(9, 7, comps)), sampled.size.toLong)
      }
    }
    // frozen corpus: 30 seeds x (original + variant); delta: a THIRD
    // per-frame variant for 15 seeds (adopts — every frame within 2
    // bits of the ORIGINAL), 4 fresh seeds (mint); delta ids larger
    val frozenRows = (0 until 30).flatMap(n =>
      clipRows(n * 2L, n, -1) ++ clipRows(n * 2L + 1, n, n % 60))
    val delta = (0 until 15).flatMap(n => clipRows(1000L + n, n, (n + 30) % 60)) ++
      (100 until 104).flatMap(n => clipRows(2000L + n, n, -1))
    val frozen = frozenRows.toDF("clip_id", "f", "dhash", "n_s")
    val state = StreamingVideoDedup.freeze(frozen, k = 2, bits = 56)
    var streamed = Map.empty[Long, (Long, Int)]
    val stream = MemoryStream[(Long, Int, Long, Long)](s)
    val qy = stream.toDF().toDF("clip_id", "f", "dhash", "n_s").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = streamed ++ StreamingVideoDedup.assignBatch(state, b)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      }
      .start()
    // micro-batch split must keep a clip's frames together (a clip is
    // one ingest unit — its hashes arrive as one record's explosion)
    val byClip = delta.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    val (d1, d2) = byClip.splitAt(byClip.size / 2)
    Seq(d1.flatten, d2.flatten).foreach { b =>
      stream.addData(b: _*); qy.processAllAvailable()
    }
    qy.stop()
    val deltaIds = delta.map(_._1).distinct
    assert(streamed.keySet === deltaIds.toSet)
    // batch truth on the union
    val union = (frozenRows ++ delta).toDF("clip_id", "f", "dhash", "n_s")
    val batch = graft.operators.VideoNearDup.clusterClips(union, 2, 56)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    deltaIds.foreach { id =>
      assert(streamed(id)._1 === batch(id),
        s"clip $id: streamed ${streamed(id)._1} != batch ${batch(id)}")
    }
    // adopters matched a frozen cluster; fresh clips minted their own id
    (0 until 15).foreach { n =>
      assert(streamed(1000L + n) === (n * 2L, 1), s"adopter $n")
    }
    (100 until 104).foreach { n =>
      assert(streamed(2000L + n) === (2000L + n, 0), s"fresh $n")
    }
  }

  test("T24 mask contract: signature bits above the declared width cannot " +
    "break streamed==batch — freeze and probe both mask to the low bits " +
    "(r12 ADVICE)") {
    val s = spark
    import s.implicits._
    val h = 0x5a5a5aL // an in-width 56-bit signature
    // frozen clip 1 carries a stray bit ABOVE width 56; delta clip 10
    // carries a different stray bit. Masked, they are IDENTICAL — the
    // batch path (VideoNearDup -> HammingJoin) collapses them, so the
    // streamed assign must adopt, not band-then-fail-the-raw-verify.
    val frozen = Seq((1L, 0, h | (1L << 60), 1L), (2L, 0, ~h & ((1L << 56) - 1), 1L))
      .toDF("clip_id", "f", "dhash", "n_s")
    val st = StreamingVideoDedup.freeze(frozen, k = 2, bits = 56)
    val delta = Seq((10L, 0, h | (1L << 58), 1L))
      .toDF("clip_id", "f", "dhash", "n_s")
    val got = StreamingVideoDedup.assignBatch(st, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((10L, 1L, 1)),
      s"out-of-width bits leaked into the verify: ${got.toSeq}")
  }

  test("T25: streaming single-signature hamming assignment — arriving " +
    "audio fingerprints probe the frozen banded signature index, " +
    "adopt-or-mint; streamed == batch collapse on the union " +
    "(non-bridging deltas)") {
    val s = spark
    import s.implicits._
    import graft.multimodal.AudioFingerprint
    val md = java.security.MessageDigest.getInstance("MD5")
    // q232's PCM arithmetic: modulated seed audio; hot >= 0 edits one
    // frame (<= 2 signature bits from the original by the locality law)
    def sigOf(n: Int, hot: Int): Long = {
      val seed = md.digest(s"aud-$n".getBytes("UTF-8"))
      def sb(p: Int): Int = seed(p % 16) & 0xff
      val x = Array.tabulate(456) { i =>
        if (hot >= 0 && i / 8 == hot) (sb(i + 7) - 128) * (1 + i % 3)
        else (sb(i + i / 16) - 128) * (1 + i % 5)
      }
      AudioFingerprint.energySign(x, 8)
    }
    // frozen: 30 seeds x (original + one-frame edit); delta: a THIRD
    // edit for 15 seeds (adopts) + 4 fresh seeds (mint); delta ids larger
    val frozenRows = (0 until 30).flatMap(n =>
      Seq((n * 2L, sigOf(n, -1)), (n * 2L + 1, sigOf(n, n % 57))))
    val deltaRows = (0 until 15).map(n => (1000L + n, sigOf(n, (n + 19) % 57))) ++
      (100 until 104).map(n => (2000L + n, sigOf(n, -1)))
    val state = StreamingHammingDedup.freeze(
      frozenRows.toDF("id", "sig"), k = 2, bits = 56)
    var streamed = Map.empty[Long, (Long, Int)]
    val stream = MemoryStream[(Long, Long)](s)
    val qy = stream.toDF().toDF("id", "sig").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = streamed ++ StreamingHammingDedup.assignBatch(state, b)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      }
      .start()
    val (d1, d2) = deltaRows.splitAt(deltaRows.size / 2)
    Seq(d1, d2).foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    qy.stop()
    assert(streamed.keySet === deltaRows.map(_._1).toSet)
    // batch truth on the union: the same collapse q217/q232 run
    val union = (frozenRows ++ deltaRows).toDF("id", "sig")
    val (rp, mm) = graft.operators.HammingJoin
      .collapsed(union, "id", "sig", k = 2, bits = 56)
    val repLabeled = graft.operators.ConnectedComponents
      .labelStar(mm.select($"rep").distinct(), "rep", rp, "rep_a", "rep_b")
    val batch = mm.join(repLabeled, "rep").select($"id", $"component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    deltaRows.map(_._1).foreach { id =>
      assert(streamed(id)._1 === batch(id),
        s"id $id: streamed ${streamed(id)._1} != batch ${batch(id)}")
    }
    // adopters matched a frozen cluster (exact id already pinned by the
    // streamed==batch loop — seed families CAN merge by chance, the
    // signature is 56 non-uniform bits); fresh clips minted their own id
    (0 until 15).foreach { n =>
      assert(streamed(1000L + n)._2 === 1, s"adopter $n did not match")
    }
    (100 until 104).foreach { n =>
      assert(streamed(2000L + n) === (2000L + n, 0), s"fresh $n")
    }
  }

  test("T25 mask contract: out-of-width signature bits cannot break " +
    "streamed==batch — freeze and probe both mask before banding AND " +
    "the popcount verify") {
    val s = spark
    import s.implicits._
    val h = 0x5a5a5aL
    val frozen = Seq((1L, h | (1L << 60)), (2L, ~h & ((1L << 56) - 1)))
      .toDF("id", "sig")
    val st = StreamingHammingDedup.freeze(frozen, k = 2, bits = 56)
    val delta = Seq((10L, h | (1L << 58))).toDF("id", "sig")
    val got = StreamingHammingDedup.assignBatch(st, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((10L, 1L, 1)),
      s"out-of-width bits leaked: ${got.toSeq}")
  }

  test("T25b: the frozen-index caveat classes are REAL and the re-freeze " +
    "reconciles them — a delta-delta near-dup pair mints separately, a " +
    "bridge within k of two frozen clusters adopts without merging; " +
    "freezing on the union restores the exact brute-force closure") {
    val s = spark
    import s.implicits._
    // engineered signatures (bits = 56, k = 2): clusters A and B sit 4
    // apart in the LOW bits (> k: separate frozen clusters) with their
    // in-cluster edits in distinct HIGH bits (so no member-to-member
    // path bridges them: all cross distances >= 4); bridge c with
    // d(c,a) = d(c,b) = 2; far pair {e, e^1} with d(e, *) >> k
    val a = 0x00aa55aa55aa55L
    val b = a ^ 0xfL
    val c = a ^ 0x3L
    val e = a ^ 0x00ff00ff00ff00L
    val frozenRows = Seq((1L, a), (2L, a ^ (1L << 50)),
      (3L, b), (4L, b ^ (1L << 51)))
    val deltaRows = Seq((100L, c), (101L, e), (102L, e ^ 1L))
    val st = StreamingHammingDedup.freeze(
      frozenRows.toDF("id", "sig"), k = 2, bits = 56)
    val streamed = StreamingHammingDedup
      .assignBatch(st, deltaRows.toDF("id", "sig"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val frozenClusters = st.clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // caveat 1 (delta-delta): both far records MINT — the pair does not
    // collapse against the frozen index
    assert(streamed(101L) === (101L, 0) && streamed(102L) === (102L, 0),
      s"delta-delta pair should mint separately: $streamed")
    // caveat 2 (bridge): adopts the smaller frozen cluster, does NOT
    // merge A and B (frozen labels are immutable under assignBatch)
    assert(streamed(100L)._2 === 1)
    assert(streamed(100L)._1 ===
      math.min(frozenClusters(1L), frozenClusters(3L)))
    assert(frozenClusters(1L) !== frozenClusters(3L),
      "fixture broken: A and B must be separate frozen clusters")
    // the re-freeze on the union reconciles BOTH classes; compare
    // against an independent brute-force transitive closure
    val union = frozenRows ++ deltaRows
    val st2 = StreamingHammingDedup.freeze(
      union.toDF("id", "sig"), k = 2, bits = 56)
    val got = st2.clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map(union.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((i1, s1) <- union; (i2, s2) <- union
         if i1 < i2 && java.lang.Long.bitCount(s1 ^ s2) <= 2)
      parent(find(i1)) = find(i2)
    val roots = union.map(_._1).groupBy(find)
    val brute = roots.flatMap { case (_, ids) =>
      val m = ids.min; ids.map(_ -> m)
    }
    union.map(_._1).foreach { id =>
      assert(got(id) === brute(id),
        s"re-frozen cluster for $id: ${got(id)} != brute ${brute(id)}")
    }
    // and the reconciliations specifically: pair collapsed, bridge merged
    assert(got(101L) === got(102L), "delta-delta pair still split")
    assert(got(1L) === got(3L) && got(1L) === got(100L),
      "bridge did not merge A and B at re-freeze")
  }

  test("T27: streaming graph append — embedding batches arriving on a " +
    "stream connect into the FROZEN KNN graph via beam search " +
    "(GraphAnn.appendNodes as the foreachBatch body); streamed == batch " +
    "append on the union EXACTLY (order-free search, no caveat class)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4227)
    val dim = 8
    val frozen = (0L until 200L).map(i =>
      (i, Array.fill(dim)(rnd.nextInt(20000).toLong)))
    val delta = (1000L until 1040L).map(i =>
      (i, Array.fill(dim)(rnd.nextInt(20000).toLong)))
    val fq = frozen.toDF("vec_id", "xq")
    val init = fq.select($"vec_id".as("v"),
        explode(sequence(lit(1), lit(4))).as("i"))
      .select($"v", (($"v" + $"i") % 200L).as("u"))
    val graph = graft.operators.NNDescent
      .build(fq, "vec_id", init, k = 4, rounds = 2)
      .select($"v", $"u")
    // freeze once (the store that exists anyway)
    val fqB = fq.localCheckpoint(true)
    val graphB = graph.localCheckpoint(true)
    val entries = (0 until 8).map(_ * 25L).toDF("id").localCheckpoint(true)
    var streamed = Set.empty[(Long, Int, Long, Long)]
    val stream = MemoryStream[(Long, Array[Long])](s)
    val qy = stream.toDF().toDF("vec_id", "xq").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = streamed ++ graft.operators.GraphAnn
          .appendNodes(fqB, "vec_id", graphB, b, entries,
            beam = 4, rounds = 3, k = 4)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3)))
      }
      .start()
    val (d1, d2) = delta.splitAt(delta.size / 2)
    Seq(d1, d2).foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    qy.stop()
    val batch = graft.operators.GraphAnn
      .appendNodes(fqB, "vec_id", graphB, delta.toDF("vec_id", "xq"),
        entries, beam = 4, rounds = 3, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed === batch,
      "streamed graph append diverges from the batch append on the union")
    assert(streamed.map(_._1) === delta.map(_._1).toSet)
  }

  test("T26: streaming takedown — right-to-be-forgotten requests applied " +
    "per micro-batch with O(|delta|) ledger increments; streamed == batch " +
    "packingTakedown + removeFromIndex stats on the union, and replayed " +
    "requests are exactly-once") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
    val map = graft.queries.Text.packingMap(docs, L = 128) // freeze barriers it
    // synthetic doc-keyed index: one row per doc, 8 cells
    val index = docs.select($"doc_id".as("vec_id"),
      ($"doc_id" % 8).cast("int").as("cell"))
    var st = StreamingTakedown.freeze(map, index)
    // three batches; batch 3 REPLAYS batch 1's ids (at-least-once)
    val b1 = docs.select($"doc_id").filter($"doc_id" % 17 === 3)
    val b2 = docs.select($"doc_id").filter($"doc_id" % 17 === 5)
    val b3 = b1 // replay
    val stream = MemoryStream[Long](s)
    val qy = stream.toDF().toDF("doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingTakedown.applyBatch(st, b)
      }
      .start()
    Seq(b1, b2, b3).foreach { b =>
      stream.addData(b.collect().map(_.getLong(0)).toSeq: _*)
      qy.processAllAvailable()
    }
    qy.stop()
    // batch truth on the union (replay contributes nothing)
    val union = b1.unionByName(b2)
    val wantLedger = graft.queries.Text.packingTakedown(map, union)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val gotLedger = st.ledger
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(gotLedger === wantLedger,
      "streamed packing ledger != batch takedown on the union")
    val (_, wantStats) = graft.operators.IvfPqIndex
      .removeFromIndex(index, "vec_id", union)
    val want = wantStats.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = st.cellStats.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want, "streamed cell stats != batch removeFromIndex")
    // the replay really was a no-op: tombstones = |b1| + |b2|
    assert(st.tombstones.count() === b1.count() + b2.count())
  }

  test("T26b: tombstone plan stays BOUNDED over a long-lived stream — " +
    "aggregate-top + re-barrier every CompactEvery batches caps the union " +
    "at CompactEvery+1 leaves across 20 micro-batches; the ledger law and " +
    "exactly-once replay arithmetic survive compaction") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
    val map = graft.queries.Text.packingMap(docs, L = 128)
    val index = docs.select($"doc_id".as("vec_id"),
      ($"doc_id" % 8).cast("int").as("cell"))
    var st = StreamingTakedown.freeze(map, index)
    val all = docs.select($"doc_id").filter($"doc_id" % 3 === 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    val base = all.grouped(math.max(1, all.length / 19)).toSeq
    // batch 12 REPLAYS batch 1's ids AFTER a compaction boundary (batch 8)
    val batches = base.take(11) ++ Seq(base.head) ++ base.drop(11)
    val applied = batches.flatten.distinct
    var maxLeaves = 0
    batches.foreach { ids =>
      st = StreamingTakedown.applyBatch(st, ids.toDF("doc_id"))
      maxLeaves = math.max(maxLeaves,
        st.tombstones.queryExecution.logical.collectLeaves().size)
    }
    assert(batches.size >= 20 - 1 && st.batches === batches.size)
    assert(maxLeaves <= StreamingTakedown.CompactEvery + 1,
      s"tombstone union grew to $maxLeaves leaves — compaction not bounding")
    // ledger == batch takedown on the distinct union; replay was a no-op
    val union = applied.toDF("doc_id")
    val wantLedger = graft.queries.Text.packingTakedown(map, union)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val gotLedger = st.ledger
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(gotLedger === wantLedger,
      "compacted streamed ledger != batch takedown on the union")
    assert(st.tombstones.count() === applied.size)
  }

  test("T22: streaming entity-resolution assignment — new records probe the " +
    "frozen EdJoin gram index, verify, adopt-or-mint; streamed assignments " +
    "== batch golden-record run on the union (non-bridging deltas)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val hexa = "0123456789abcdef"
    def hex(n: Int) = (1 to n).map(_ => hexa(rnd.nextInt(16))).mkString
    def mut(x: String): String = {
      val pos = rnd.nextInt(x.length)
      if (rnd.nextBoolean()) x.updated(pos, hexa(rnd.nextInt(16)))
      else x.take(pos) + x.drop(pos + 1)
    }
    // frozen corpus: 40 bases + 1 mutant each (clusters exist), plus a
    // short class; delta ids all LARGER so batch min-id goldens are
    // frozen-side (the non-bridging construction the scaladoc declares)
    val bases = (0 until 40).map(_ => hex(20))
    val frozenRows = bases.zipWithIndex.map { case (b, i) => (i.toLong, b) } ++
      bases.zipWithIndex.map { case (b, i) => (40L + i, mut(b)) } ++
      Seq((90L, "ab"), (91L, "abcd"), (92L, "xy"))
    val delta = bases.take(20).zipWithIndex.map { case (b, i) =>
      (100L + i, mut(b)) } ++                       // adopters
      (0 until 5).map(i => (200L + i, hex(20))) ++  // far -> minted
      Seq((210L, "ac"))                             // short adopter
    val frozen = frozenRows.toDF("id", "nm")
    val state = StreamingEntityResolution.freeze(frozen, "id", "nm",
      tau = 2, q = 3)
    // drive the delta through foreachBatch in two micro-batches
    var streamed = Map.empty[Long, (Long, Int)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("id", "nm").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = streamed ++ StreamingEntityResolution
          .assignBatch(state, b, "id", "nm")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      }
      .start()
    val (d1, d2) = delta.splitAt(delta.size / 2)
    Seq(d1, d2).foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    qy.stop()
    assert(streamed.size === delta.size)
    // batch truth on the UNION: q212's composition, golden = component
    val union = (frozenRows ++ delta).toDF("id", "nm")
    val pairs = graft.operators.EdJoin.join(union, "id", "nm", tau = 2, q = 3)
    val batchGolden = graft.operators.ConnectedComponents
      .labelStar(union.select($"id"), "id", pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    delta.foreach { case (id, _) =>
      assert(streamed(id)._1 === batchGolden(id),
        s"record $id: streamed ${streamed(id)._1} != batch ${batchGolden(id)}")
    }
    // minted records: far strings got their own id and matched = 0
    (0 until 5).foreach { i =>
      assert(streamed(200L + i) === (200L + i, 0), s"far record ${200 + i}")
    }
    // the short adopter went through the fallback, not the gram probe
    assert(streamed(210L)._2 === 1 && streamed(210L)._1 === 90L)
    // frozen assignments agree with the union run too (non-bridging
    // deltas cannot re-cluster the frozen side)
    val frozenGolden = state.golden.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    frozenRows.foreach { case (id, _) =>
      assert(frozenGolden(id) === batchGolden(id), s"frozen $id moved")
    }
  }

  test("T28: streaming bundle dedup — arriving (text, image, audio) " +
    "bundles adopt their label-triple cluster through the frozen q244 " +
    "machinery or mint; streamed == batch bundle run on the union " +
    "(non-bridging deltas), and a broken modality blocks the merge") {
    val s = spark
    import s.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    val mask = (1L << 56) - 1
    def h56(sd: String): Long = {
      val d = md.digest(sd.getBytes("UTF-8"))
      (0 until 7).map(i => (d(i) & 0xffL) << (8 * i)).reduce(_ | _) & mask
    }
    def flip(x: Long, b1: Int, b2: Int): Long = x ^ (1L << b1) ^ (1L << b2)
    def inv(x: Long): Long = ~x & mask
    def tx(n: Int) = s"text-$n"
    def ih(n: Int) = h56(s"img-$n")
    def ah(n: Int) = h56(s"aud-$n")
    // frozen: q244's corpus shape — 20 seeds x (v0 original, v1 one-step
    // edits on image+audio [collapses with v0], v2 INVERTED image with
    // matching text+audio [its own triple cluster])
    val frozenRows = (0 until 20).flatMap { n =>
      Seq((n * 10L, tx(n), ih(n), ah(n)),
        (n * 10L + 1, tx(n), flip(ih(n), n % 56, (n + 7) % 56),
          flip(ah(n), (n + 3) % 56, (n + 11) % 56)),
        (n * 10L + 2, tx(n), inv(ih(n)),
          flip(ah(n), (n + 5) % 56, (n + 13) % 56)))
    }
    val state = StreamingBundleDedup.freeze(
      frozenRows.toDF("bundle_id", "thash", "ihash", "asig"), k = 2, bits = 56)
    // delta (ids all larger — the non-bridging construction):
    //  - seeds 0..9: a further one-step edit -> adopts the v0/v1 cluster
    //  - seeds 10..14: image inverted-with-one-flip, text+audio match ->
    //    the triple resolves to the v2 cluster, NOT v0's (the AND law:
    //    the broken modality redirects the merge)
    //  - seeds 15..17: image completely fresh, text+audio match ->
    //    novel triple, mints, matched = 0
    //  - seeds 100..102: everything fresh -> mints
    val delta =
      (0 until 10).map(n => (1000L + n, tx(n),
        flip(ih(n), (n + 1) % 56, (n + 8) % 56),
        flip(ah(n), (n + 2) % 56, (n + 9) % 56))) ++
      (10 until 15).map(n => (1100L + n, tx(n),
        flip(inv(ih(n)), (n + 4) % 56, (n + 4) % 56), // zero-flip: exact inv
        flip(ah(n), (n + 6) % 56, (n + 14) % 56))) ++
      (15 until 18).map(n => (1200L + n, tx(n), h56(s"fresh-img-$n"), ah(n))) ++
      (100 until 103).map(n => (2000L + n, tx(n), ih(n), ah(n)))
    var streamed = Map.empty[Long, (Long, Int)]
    val stream = MemoryStream[(Long, String, Long, Long)](s)
    val qy = stream.toDF().toDF("bundle_id", "thash", "ihash", "asig")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = streamed ++ StreamingBundleDedup.assignBatch(state, b)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      }
      .start()
    val (d1, d2) = delta.splitAt(delta.size / 2)
    Seq(d1, d2).foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    qy.stop()
    assert(streamed.keySet === delta.map(_._1).toSet)
    // batch truth on the union: q244's clustering (text exact groups,
    // per-modality hamming collapse, triple groups keyed by min id)
    val union = (frozenRows ++ delta)
      .toDF("bundle_id", "thash", "ihash", "asig")
    def cl(sigCol: String) = {
      val (rp, mm) = graft.operators.HammingJoin
        .collapsed(union, "bundle_id", sigCol, k = 2, bits = 56)
      val lab = graft.operators.ConnectedComponents
        .labelStar(mm.select($"rep").distinct(), "rep", rp, "rep_a", "rep_b")
      mm.join(lab, "rep")
        .select($"id".as("bundle_id"), $"component".as(s"${sigCol}_c"))
    }
    val tclus = union.groupBy($"thash").agg(min($"bundle_id").as("t_c"))
    val labeled = union.join(tclus, "thash")
      .join(cl("ihash"), "bundle_id").join(cl("asig"), "bundle_id")
    val groups = labeled.groupBy($"t_c", $"ihash_c", $"asig_c")
      .agg(min($"bundle_id").as("cluster"))
    val batch = labeled.join(groups, Seq("t_c", "ihash_c", "asig_c"))
      .select($"bundle_id", $"cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    delta.map(_._1).foreach { id =>
      assert(streamed(id)._1 === batch(id),
        s"bundle $id: streamed ${streamed(id)._1} != batch ${batch(id)}")
    }
    // adopters joined the v0-rooted cluster
    (0 until 10).foreach { n =>
      assert(streamed(1000L + n) === (n * 10L, 1), s"adopter seed $n")
    }
    // inverted-image deltas adopt the v2 cluster — NOT the original:
    // one broken modality redirects the merge (the AND law)
    (10 until 15).foreach { n =>
      assert(streamed(1100L + n) === (n * 10L + 2, 1),
        s"inverted-image delta seed $n must land on the v2 cluster")
    }
    // fresh-image deltas: text+audio match is NOT enough — minted
    (15 until 18).foreach { n =>
      assert(streamed(1200L + n) === (1200L + n, 0),
        s"fresh-image delta seed $n must mint")
    }
    (100 until 103).foreach { n =>
      assert(streamed(2000L + n) === (2000L + n, 0), s"fresh seed $n")
    }
  }

  test("T30: streaming INDEX reaper — the frozen serving frame rolls " +
    "MID-STREAM when cell stats cross the dead-fraction threshold; " +
    "final frame == batch removeFromIndex on the union (generation-" +
    "count independence), stats re-freeze all-live, and replays of " +
    "reaped ids are structural no-ops") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
    val index0 = docs.select($"doc_id".as("vec_id"),
      ($"doc_id" % 8).cast("int").as("cell"),
      ($"doc_id" * 31 % 97).as("code")).localCheckpoint()
    var st = StreamingIndexReaper.freeze(index0)
    val w1 = docs.select($"doc_id").filter($"doc_id" % 3 === 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    val w2 = docs.select($"doc_id")
      .filter($"doc_id" % 3 =!= 0 && $"doc_id" % 7 === 1)
      .collect().map(_.getLong(0)).sorted.toSeq
    val w1batches = w1.grouped(math.max(1, w1.length / 5)).toSeq
    var maxTombLeaves = 0
    var maxIndexLeaves = 0
    val stream = MemoryStream[Long](s)
    val qy = stream.toDF().toDF("vec_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingIndexReaper.applyBatch(st, b)
        maxTombLeaves = math.max(maxTombLeaves,
          st.tombstones.queryExecution.logical.collectLeaves().size)
        maxIndexLeaves = math.max(maxIndexLeaves,
          st.index.queryExecution.logical.collectLeaves().size)
      }
      .start()
    w1batches.foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    assert(st.generation >= 1,
      "wave 1 deleted a third of the rows but no mid-stream roll fired")
    stream.addData(w2: _*); qy.processAllAvailable()
    val statsBefore = st.cellStats.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    stream.addData(w1batches.head: _*); qy.processAllAvailable() // replay
    qy.stop()
    val statsAfter = st.cellStats.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(statsAfter === statsBefore,
      "replaying reaped ids moved the cell stats across a generation " +
        "boundary")
    st = StreamingIndexReaper.roll(st)
    assert(st.generation >= 2)
    val union = (w1 ++ w2).toDF("vec_id")
    val (wantLive, _) = graft.operators.IvfPqIndex
      .removeFromIndex(index0, "vec_id", union)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"cell", $"code")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    assert(rows(st.index) === rows(wantLive),
      "streamed final frame != batch removeFromIndex on the union")
    // re-frozen stats: all-live occupancy of the final generation
    val wantStats = wantLive.groupBy($"cell")
      .agg(count(lit(1)).as("n"), lit(0L).as("d"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gotStats = st.cellStats.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotStats === wantStats, "re-frozen stats != final occupancy")
    // the zero-plan-growth design claims: the frozen frame never grows
    // an anti-join chain (1 leaf always), tombstones stay bounded by
    // the compaction period
    assert(maxIndexLeaves === 1,
      s"frozen index frame grew to $maxIndexLeaves plan leaves")
    assert(maxTombLeaves <= StreamingTakedown.CompactEvery + 1,
      s"tombstone union grew to $maxTombLeaves leaves")
  }

  test("T29: streaming reaper — generation rollover fires MID-STREAM off " +
    "the live ledger; final map == single-shot batch rollover of all " +
    "deltas (generation-count independence), chained re-key == direct " +
    "re-key, and replays of reaped docs are structural no-ops") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
    val map0 = graft.queries.Text.packingMap(docs, L = 128).localCheckpoint()
    var st = StreamingReaper.freeze(map0)
    // wave 1: ~a third of the docs (token mass > the 25% threshold, so
    // the roll MUST fire inside the wave); wave 2: more takedowns that
    // tombstone the post-roll generation; then a REPLAY of wave-1 ids
    // (docs reaped generations ago) — must be a structural no-op
    val w1 = docs.select($"doc_id").filter($"doc_id" % 3 === 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    val w2 = docs.select($"doc_id")
      .filter($"doc_id" % 3 =!= 0 && $"doc_id" % 7 === 1)
      .collect().map(_.getLong(0)).sorted.toSeq
    val w1batches = w1.grouped(math.max(1, w1.length / 5)).toSeq
    var genAfterW1 = -1
    val stream = MemoryStream[Long](s)
    val qy = stream.toDF().toDF("doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReaper.applyBatch(st, b, L = 128)
      }
      .start()
    w1batches.foreach { b => stream.addData(b: _*); qy.processAllAvailable() }
    genAfterW1 = st.generation
    assert(genAfterW1 >= 1,
      "wave 1 deleted >25% of tokens but no mid-stream roll fired")
    stream.addData(w2: _*); qy.processAllAvailable()
    val ledgerBeforeReplay = st.ledger.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    stream.addData(w1batches.head: _*); qy.processAllAvailable() // replay
    qy.stop()
    val ledgerAfterReplay = st.ledger.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(ledgerAfterReplay === ledgerBeforeReplay,
      "replaying reaped docs moved the ledger — exactly-once broke at a " +
        "generation boundary")
    // forced final roll, then the two chain laws
    st = StreamingReaper.roll(st, L = 128)
    assert(st.generation >= 2 && st.translations.size ===
      math.min(st.generation, StreamingReaper.HopBudget))
    val allDeleted = (w1 ++ w2).toDF("doc_id")
    val (wantMap, directTrans) =
      graft.operators.GenerationRollover.rollover(map0, allDeleted, L = 128)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"bin_id", $"bin_off", $"doc_off", $"seg_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(rows(st.map) === rows(wantMap),
      "streamed final map != single-shot batch rollover of all deltas")
    // probes: one per generation-0 bin; some land on reaped spans (drop
    // on BOTH paths), the rest must land on the SAME final home
    val probes = map0.select($"bin_id".as("old_bin_id")).distinct()
      .withColumn("probe_id", $"old_bin_id")
      .withColumn("old_off", ($"old_bin_id" * 7) % 128)
      .select($"probe_id", $"old_bin_id", $"old_off")
      .localCheckpoint()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val chained = keyed(StreamingReaper.rekeyChain(probes, st.translations))
    val direct = keyed(StreamingReaper.rekeyChain(probes, Seq(directTrans)))
    assert(chained === direct,
      "chained re-key through the generation chain != single-shot re-key")
    val nProbes = probes.count()
    assert(chained.nonEmpty && chained.size < nProbes,
      s"degenerate probe set: ${chained.size} of $nProbes survived")
  }

  test("T29b: in-stream translation-chain collapse — over 4 mid-stream " +
    "rollovers the chain never exceeds HopBudget frames, and the " +
    "bounded chain re-keys IDENTICALLY to an unbounded chain and to " +
    "the single-shot direct translation") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
    val map0 = graft.queries.Text.packingMap(docs, L = 128).localCheckpoint()
    // four waves, each deleting >25% of the CURRENT live token mass so
    // every wave fires a roll (doc-count shares 35/46/57/66% of the
    // then-live corpus — wide margin over the threshold even with
    // uneven doc lengths)
    val ids = docs.select($"doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(0.0, 0.35, 0.65, 0.85, 0.95).map(f => (ids.length * f).toInt)
    val waves = cuts.sliding(2).map { case Seq(a, b) =>
      ids.slice(a, b).toSeq
    }.toSeq
    var bounded = StreamingReaper.freeze(map0)
    var unbounded = StreamingReaper.freeze(map0)
    val maxChain = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stream = MemoryStream[Long](s)
    val qy = stream.toDF().toDF("doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        bounded = StreamingReaper.applyBatch(bounded, b, L = 128)
        unbounded = StreamingReaper.applyBatch(unbounded, b, L = 128,
          hopBudget = Int.MaxValue)
        maxChain += bounded.translations.size
        ()
      }
      .start()
    waves.foreach { w => stream.addData(w: _*); qy.processAllAvailable() }
    qy.stop()
    assert(bounded.generation === 4,
      s"expected 4 mid-stream rolls, got ${bounded.generation}")
    assert(unbounded.generation === 4)
    assert(unbounded.translations.size === 4)
    assert(maxChain.max <= StreamingReaper.HopBudget,
      s"chain exceeded the hop budget mid-stream: $maxChain")
    // the three-way law: bounded ≡ unbounded ≡ single-shot direct
    val probes = map0.select($"bin_id".as("old_bin_id")).distinct()
      .withColumn("probe_id", $"old_bin_id")
      .withColumn("old_off", ($"old_bin_id" * 11) % 128)
      .select($"probe_id", $"old_bin_id", $"old_off")
      .localCheckpoint()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaBounded =
      keyed(StreamingReaper.rekeyChain(probes, bounded.translations))
    val viaUnbounded =
      keyed(StreamingReaper.rekeyChain(probes, unbounded.translations))
    val (_, directTrans) = graft.operators.GenerationRollover
      .rollover(map0, waves.flatten.toDF("doc_id"), L = 128)
    val viaDirect =
      keyed(StreamingReaper.rekeyChain(probes, Seq(directTrans)))
    assert(viaBounded === viaUnbounded,
      "budget-collapsed chain re-keys differently from the unbounded chain")
    assert(viaBounded === viaDirect,
      "collapsed chain re-keys differently from the single-shot direct map")
    assert(viaBounded.nonEmpty && viaBounded.size < probes.count())
  }

  test("T31: streaming postings maintenance — per-batch delta segments, " +
    "segment list bounded by the compaction cadence, replays are " +
    "structural no-ops, and the final compacted store equals the BATCH " +
    "build over every delivered doc, byte for byte") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    // 9 waves of docs (so a mid-stream compaction fires at batch 4
    // and 8), then a REPLAY of wave 1
    val waves = docs.grouped(math.max(1, docs.length / 9)).toSeq
    var st = StreamingPostings.freeze(s)
    val segCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingPostings.applyBatch(st, b)
        segCounts += st.segments.size
        ()
      }
      .start()
    waves.foreach { w => stream.addData(w: _*); qy.processAllAvailable() }
    // replay wave 1: must mint NO segment (empty fresh delta)
    val segsBeforeReplay = st.segments.size
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(st.segments.size === segsBeforeReplay,
      "a replayed batch minted a segment — exactly-once broke")
    assert(segCounts.max <= StreamingPostings.CompactEvery,
      s"segment list exceeded the compaction bound: $segCounts")
    assert(segCounts.contains(1),
      "no mid-stream compaction observed (cadence never fired)")
    // the chained law: compact(stream state) == batch build, bytes
    val streamed = StreamingPostings.compact(st.segments)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap
    val batch = graft.queries.Text
      .postingStore(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap
    assert(streamed === batch,
      "streamed postings store != batch build over all delivered docs")
  }

  test("T32: BM25 served MID-STREAM from the live segment list — probe " +
    "after every batch equals the from-raw-text ranking over delivered " +
    "docs, serving is identical across a compaction boundary, and a " +
    "replay changes no answer") {
    val s = spark
    import s.implicits._
    val qTerms = Seq("spark", "merge", "window")
    val k = 15
    // the from-scratch side: q170's exact rational BM25 straight from
    // raw text — the maintained index never enters it
    def exhaustive(docs: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val d = docs.toDF("doc_id", "text")
      val toks = d.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"),
        explode(split($"text", " ")).as("term"))
      val hits = toks.filter($"term".isin(qTerms: _*))
      val tf = hits.groupBy($"doc_id", $"term", $"dl")
        .agg(count(lit(1)).as("tf"))
      val dfreq = hits.select($"doc_id", $"term").distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      val stats = d.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(split($"text", " "))).cast("long").as("l_total"))
        .select($"n_docs", expr("l_total DIV n_docs").as("adl"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
        .withColumn("contrib_ppm", expr(
          """(22 * tf * adl * (2 * n_docs - 2 * df + 1) * 1000000)
             DIV ((10 * tf * adl + 3 * adl + 9 * dl) * (2 * df + 1))"""))
        .groupBy($"doc_id").agg(sum($"contrib_ppm").as("score_ppm"))
        .orderBy($"score_ppm".desc, $"doc_id").limit(k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    def probe(st: StreamingPostings.PsState): Seq[(Long, Long)] =
      StreamingPostings.serve(st, qTerms, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val waves = docs.grouped(math.max(1, docs.length / 6)).toSeq
    var st = StreamingPostings.freeze(s)
    var delivered = Seq.empty[(Long, String)]
    var sawMultiSegmentProbe = false
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingPostings.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      if (st.segments.size > 1) sawMultiSegmentProbe = true
      assert(probe(st) === exhaustive(delivered),
        s"mid-stream probe diverged from the from-scratch ranking " +
          s"after wave $i (segments=${st.segments.size})")
    }
    assert(sawMultiSegmentProbe,
      "every probe saw a compacted single segment — the multi-segment " +
        "read path was never exercised")
    // replay wave 1 (exactly-once): serving must not move
    val before = probe(st)
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(probe(st) === before, "a replayed wave changed the ranking")
    assert(probe(st) === exhaustive(delivered))
  }

  test("T34: streaming postings takedown — deletes arrive mid-stream, " +
    "segments get block-local surgery, tombstones hold forever (late " +
    "arrivals and replays of reaped docs are no-ops), and the final " +
    "compacted store equals the batch build over the survivors, byte " +
    "for byte") {
    val s = spark
    import s.implicits._
    val qTerms = Seq("spark", "merge", "window")
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val waves = docs.grouped(math.max(1, docs.length / 5)).toSeq
    // takedown after wave 2: some already-arrived ids (from wave 1)
    // AND some ids that will only arrive in LATER waves (tombstone-
    // before-arrival — those docs must never index)
    val deadEarly = waves.head.map(_._1).filter(_ % 4 == 1)
    val deadLate = waves.last.map(_._1).filter(_ % 4 == 1)
    val dead = (deadEarly ++ deadLate).toSet
    def survivors(delivered: Seq[(Long, String)]) =
      delivered.filterNot(d => dead.contains(d._1))
    def serveNow(st: StreamingPostings.PsState): Seq[(Long, Long)] =
      StreamingPostings.serve(st, qTerms, 15)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def batchState(rows: Seq[(Long, String)]): StreamingPostings.PsState =
      StreamingPostings.applyBatch(
        StreamingPostings.freeze(s), rows.toDF("doc_id", "text"))
    var st = StreamingPostings.freeze(s)
    var delivered = Seq.empty[(Long, String)]
    var takenDown = false
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingPostings.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      if (i == 1) {
        st = StreamingPostings.applyTakedown(st, dead.toSeq.toDF("doc_id"))
        takenDown = true
      }
      val expect = if (takenDown) survivors(delivered) else delivered
      assert(serveNow(st) === serveNow(batchState(expect)),
        s"streamed serve diverged from batch-over-survivors after wave $i")
    }
    // replay a REAPED doc's wave: tombstones hold, nothing resurrects
    val before = serveNow(st)
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(serveNow(st) === before,
      "a replayed wave resurrected a reaped doc")
    // the byte law: compacted streamed store == batch build over
    // survivors, byte for byte
    val streamed = StreamingPostings.compact(st.segments)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap
    val batch = graft.queries.Text
      .postingStore(survivors(delivered).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap
    assert(streamed === batch,
      "streamed store after takedown != batch build over survivors")
  }

  test("T42: streaming postings UPDATE — re-index events arrive " +
    "mid-stream (changed text for arrived docs + a brand-new id), the " +
    "updated docs replace their postings immediately, an identical " +
    "re-send is idempotent, and the final compacted store equals the " +
    "batch build over the LATEST version of every doc, byte for byte") {
    val s = spark
    import s.implicits._
    val qTerms = Seq("spark", "merge", "window")
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val waves = docs.grouped(math.max(1, docs.length / 5)).toSeq
    // the update event: changed text for wave-0 arrivals (% 3 == 1)
    // plus one id the stream never carries — the upsert half
    val changed = waves.head.filter(_._1 % 3 == 1)
      .map { case (i, t) => (i, s"spark edit $t") }
    val upsertId = docs.map(_._1).max + 1000L
    val update = changed :+ ((upsertId, "spark merge window fresh"))
    val updateMap = update.toMap
    var reaped = Set.empty[Long]
    def latest(delivered: Seq[(Long, String)], applied: Boolean) = {
      val live =
        if (!applied) delivered
        else delivered.map { case (i, t) => (i, updateMap.getOrElse(i, t)) } :+
          ((upsertId, "spark merge window fresh"))
      live.filterNot(d => reaped.contains(d._1))
    }
    def serveNow(st: StreamingPostings.PsState): Seq[(Long, Long)] =
      StreamingPostings.serve(st, qTerms, 15)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def batchState(rows: Seq[(Long, String)]): StreamingPostings.PsState =
      StreamingPostings.applyBatch(
        StreamingPostings.freeze(s), rows.toDF("doc_id", "text"))
    var st = StreamingPostings.freeze(s)
    var delivered = Seq.empty[(Long, String)]
    var applied = false
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingPostings.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      if (i == 1) {
        st = StreamingPostings.applyUpdate(st, update.toDF("doc_id", "text"))
        applied = true
      }
      if (i == 2) {
        // identical re-send: the verb is idempotent
        val before = serveNow(st)
        st = StreamingPostings.applyUpdate(st, update.toDF("doc_id", "text"))
        assert(serveNow(st) === before,
          "an identical update re-send changed an answer")
      }
      if (i == 3) {
        // tombstones beat the index verb (ADVICE r17): after a
        // takedown, an UPDATE of the reaped id is a structural no-op —
        // the right-to-be-forgotten doc never resurrects, enforced in
        // applyUpdate itself rather than by each caller's filter
        val victim = waves.head.head._1
        st = StreamingPostings.applyTakedown(st, Seq(victim).toDF("doc_id"))
        reaped += victim
        val before = serveNow(st)
        st = StreamingPostings.applyUpdate(st,
          Seq((victim, "spark spark spark merge window"))
            .toDF("doc_id", "text"))
        assert(serveNow(st) === before,
          "an update resurrected a tombstoned doc")
      }
      assert(serveNow(st) === serveNow(batchState(latest(delivered, applied))),
        s"streamed serve diverged from batch-over-latest after wave $i")
    }
    qy.stop()
    // byte law: compacted streamed store == batch build over the
    // latest-version corpus
    val streamed = StreamingPostings.compact(st.segments)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap
    val batch = graft.queries.Text
      .postingStore(latest(delivered, applied).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap
    assert(streamed === batch,
      "streamed store after updates != batch build over latest versions")
  }

  test("T33: streaming cross-modal latent index — GRF1 payloads decode " +
    "mid-stream, latents + grid keys append exactly-once, and the " +
    "banded text→image probe off the maintained index equals the probe " +
    "off an index rebuilt from scratch, after every batch") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    // fixed text queries (the q261 shape: every 20th doc's text)
    import graft.core.Barriers._
    val queries = StreamingLatentIndex.encodeQueries(
      docs.filter(_._1 % 20 == 0).toDF("doc_id", "text")).barrier()
    def probe(items: StreamingLatentIndex.LiState): Seq[(Long, Long, Long)] =
      StreamingLatentIndex.serve(items, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val waves = docs.grouped(math.max(1, docs.length / 5)).toSeq
    var st = StreamingLatentIndex.freeze(s)
    var delivered = Seq.empty[(Long, String)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingLatentIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      // maintained ≡ rebuilt: same probe off a from-scratch index
      val rebuilt = StreamingLatentIndex.LiState(
        StreamingLatentIndex.encodeImages(delivered.toDF("doc_id", "text")),
        st.seenIds, st.batches)
      assert(probe(st) === probe(rebuilt),
        s"maintained index diverged from rebuilt after wave $i")
      assert(st.items.count() === delivered.length.toLong,
        s"index row count != delivered docs after wave $i")
    }
    // replay wave 1: exactly-once — no new rows, no answer moves
    val before = probe(st)
    val nBefore = st.items.count()
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(st.items.count() === nBefore,
      "a replayed wave appended index rows — exactly-once broke")
    assert(probe(st) === before, "a replayed wave changed an answer")
    // the staggered-grid guarantee: once everything arrived, every
    // query's own image is among its candidates (within-16 latent
    // noise shares a cell in >= 1 grid), so top-1 distance is small
    val own = probe(st)
    assert(own.nonEmpty)
    assert(own.forall(_._3 <= 16L * 16L),
      s"a query's best candidate is far — own image missing: $own")
    // T35: takedown mid-stream — reaped latents leave the index,
    // tombstones hold against replays, maintained == rebuilt over
    // the survivors
    val deadIds = delivered.map(_._1).filter(_ % 5 == 2)
    st = StreamingLatentIndex.applyTakedown(st, deadIds.toDF("doc_id"))
    val surv = delivered.filterNot(d => deadIds.contains(d._1))
    assert(st.items.count() === surv.length.toLong,
      "takedown row count != survivors")
    val rebuiltSurv = StreamingLatentIndex.LiState(
      StreamingLatentIndex.encodeImages(surv.toDF("doc_id", "text")),
      st.seenIds, st.batches)
    assert(probe(st) === probe(rebuiltSurv),
      "post-takedown probe != rebuilt-over-survivors probe")
    val afterTakedown = probe(st)
    val stream2 = MemoryStream[(Long, String)](s)
    val qy2 = stream2.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingLatentIndex.applyBatch(st, b)
        ()
      }
      .start()
    stream2.addData(waves.head: _*); qy2.processAllAvailable()
    qy2.stop()
    assert(st.items.count() === surv.length.toLong,
      "a replay resurrected a reaped latent")
    assert(probe(st) === afterTakedown,
      "a replay after takedown changed an answer")
  }

  test("T36: streaming SQ8 index — arriving embeddings quantize " +
    "statelessly, the served code store stays maintained == rebuilt " +
    "EXACTLY (per-vector scales mean no frozen model, no caveat), " +
    "replays are no-ops, takedowns tombstone forever") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingSq
    val emb = graft.core.Tables(s, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    import graft.core.Barriers._
    // frozen probe set: the first 4 vectors' own codes (q286's shape)
    val queries = graft.functions.VectorOps.sq8Codes(
        emb.filter(_._1 < 4).toDF("vec_id", "embedding"))
      .select($"vec_id".as("q_id"), $"am".as("q_am"), $"qv".as("q_qv"))
      .barrier()
    def probe(st: StreamingSq.SqState): Seq[(Long, Long, Long)] =
      StreamingSq.serve(st, queries).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val waves = emb.grouped(math.max(1, emb.length / 5)).toSeq
    var st = StreamingSq.freeze(s)
    var delivered = Seq.empty[(Long, Array[Float])]
    val stream = MemoryStream[(Long, Array[Float])](s)
    val qy = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingSq.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      // maintained == rebuilt EXACTLY — per-vector scales are stateless
      val rebuilt = StreamingSq.SqState(
        graft.functions.VectorOps.sq8Codes(delivered.toDF("vec_id", "embedding")),
        st.seenIds, st.batches)
      assert(probe(st) === probe(rebuilt),
        s"maintained code store diverged from rebuilt after wave $i")
      assert(st.codes.count() === delivered.length.toLong,
        s"code-store row count != delivered vectors after wave $i")
    }
    // replay: exactly-once
    val before = probe(st)
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(st.codes.count() === delivered.length.toLong,
      "a replayed wave appended code rows — exactly-once broke")
    assert(probe(st) === before, "a replayed wave changed an answer")
    // takedown mid-stream: reaped codes leave, tombstones hold
    val deadIds = delivered.map(_._1).filter(id => id % 6 == 5 && id >= 4)
    st = StreamingSq.applyTakedown(st, deadIds.toDF("vec_id"))
    val surv = delivered.filterNot(d => deadIds.contains(d._1))
    assert(st.codes.count() === surv.length.toLong)
    val rebuiltSurv = StreamingSq.SqState(
      graft.functions.VectorOps.sq8Codes(surv.toDF("vec_id", "embedding")),
      st.seenIds, st.batches)
    assert(probe(st) === probe(rebuiltSurv),
      "post-takedown probe != rebuilt-over-survivors probe")
    val afterTd = probe(st)
    val stream2 = MemoryStream[(Long, Array[Float])](s)
    val qy2 = stream2.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingSq.applyBatch(st, b)
        ()
      }
      .start()
    stream2.addData(waves.head: _*); qy2.processAllAvailable()
    qy2.stop()
    assert(st.codes.count() === surv.length.toLong,
      "a replay resurrected a reaped code row")
    assert(probe(st) === afterTd,
      "a replay after takedown changed an answer")
  }

  test("T37: streaming elastic index — shard-routed delta segments, a " +
    "mid-stream consistent-hash grow (index-only surgery, no raw text), " +
    "serving invariant across the reshard, and the final compacted " +
    "store byte-equal to a from-scratch grown-ring build") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingElasticIndex
    import graft.operators.{IndexReshard, ShardedIndex}
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val qTerms = Seq("spark", "window", "merge", "dup")
    def probe(st: StreamingElasticIndex.EiState): Seq[(Long, Long)] =
      StreamingElasticIndex.serve(st, qTerms, 20).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def fromScratch(delivered: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val df = delivered.toDF("doc_id", "text")
      val dl = df.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"))
      StreamingPostings.serve(
        StreamingPostings.PsState(
          List(graft.queries.Text.postingStore(df)),
          dl.select($"doc_id"), dl), qTerms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val waves = docs.grouped(math.max(1, docs.length / 5)).toSeq
    var st = StreamingElasticIndex.freeze(s, nShards = 3)
    var delivered = Seq.empty[(Long, String)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingElasticIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      assert(probe(st) === fromScratch(delivered),
        s"elastic serving diverged from from-scratch after wave $i")
      if (i == 1) {
        // a node joins MID-STREAM: the reshard must change no answer
        val before = probe(st)
        st = StreamingElasticIndex.grow(st)
        assert(st.nShards === 4)
        assert(probe(st) === before,
          "the mid-stream reshard changed a served answer")
      }
    }
    // replay: exactly-once across the topology change
    val before = probe(st)
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(probe(st) === before, "a replayed wave changed an answer")
    // byte law: final compacted store == from-scratch grown-ring build
    // (pre-grow arrivals moved by the surgery, post-grow arrivals
    // routed by the grown ring — one canonical store either way)
    val fin =
      if (st.segments.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.segments)
      else st.segments.head
    def storeMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
      }.toMap
    val positioned = delivered.toDF("doc_id", "text")
      .withColumn("p", IndexReshard.position($"doc_id"))
    val expected = graft.queries.Text.postingStore(
      IndexReshard.assign(positioned, 4, "shard")
        .select($"shard", $"doc_id", $"text"), "shard")
    assert(storeMap(fin.select($"shard", $"term", $"bucket", $"df",
      $"bytes")) === storeMap(expected),
      "final elastic store != from-scratch grown-ring build")
  }

  test("T38: streaming elastic index — a node DRAINS mid-stream (q295's " +
    "index-only shrink surgery under a live stream), serving invariant " +
    "across the drain, ingest continues at the shrunk ring, and the " +
    "final compacted store is byte-equal to a from-scratch shrunk-ring " +
    "build") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingElasticIndex
    import graft.operators.{IndexReshard, ShardedIndex}
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val qTerms = Seq("spark", "window", "merge", "dup")
    def probe(st: StreamingElasticIndex.EiState): Seq[(Long, Long)] =
      StreamingElasticIndex.serve(st, qTerms, 20).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def fromScratch(delivered: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val df = delivered.toDF("doc_id", "text")
      val dl = df.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"))
      StreamingPostings.serve(
        StreamingPostings.PsState(
          List(graft.queries.Text.postingStore(df)),
          dl.select($"doc_id"), dl), qTerms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val waves = docs.grouped(math.max(1, docs.length / 5)).toSeq
    var st = StreamingElasticIndex.freeze(s, nShards = 4)
    var delivered = Seq.empty[(Long, String)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingElasticIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      assert(probe(st) === fromScratch(delivered),
        s"elastic serving diverged from from-scratch after wave $i")
      if (i == 1) {
        // a node drains MID-STREAM: the shrink must change no answer
        val before = probe(st)
        st = StreamingElasticIndex.shrink(st)
        assert(st.nShards === 3)
        assert(probe(st) === before,
          "the mid-stream drain changed a served answer")
      }
    }
    // replay: exactly-once across the topology change
    val before = probe(st)
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(probe(st) === before, "a replayed wave changed an answer")
    // byte law: final compacted store == from-scratch shrunk-ring build
    // (pre-drain arrivals moved by the surgery, post-drain arrivals
    // routed by the shrunk ring — one canonical store either way)
    val fin =
      if (st.segments.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.segments)
      else st.segments.head
    def storeMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
      }.toMap
    val positioned = delivered.toDF("doc_id", "text")
      .withColumn("p", IndexReshard.position($"doc_id"))
    val expected = graft.queries.Text.postingStore(
      IndexReshard.assign(positioned, 3, "shard")
        .select($"shard", $"doc_id", $"text"), "shard")
    assert(storeMap(fin.select($"shard", $"term", $"bucket", $"df",
      $"bytes")) === storeMap(expected),
      "final elastic store != from-scratch shrunk-ring build")
  }

  test("T39: streaming replicated index — both copies' delta segments " +
    "minted per batch, failover of ANY node answer-invariant after " +
    "every wave, replay no-ops, final compacted stores byte-equal to " +
    "the batch replicated build") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingReplicatedIndex
    import graft.operators.ReplicatedIndex
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val qTerms = Seq("spark", "window", "merge", "dup")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("doc_id", "score_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def fromScratch(delivered: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val df = delivered.toDF("doc_id", "text")
      val dl = df.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"))
      StreamingPostings.serve(
        StreamingPostings.PsState(
          List(graft.queries.Text.postingStore(df)),
          dl.select($"doc_id"), dl), qTerms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val waves = docs.grouped(math.max(1, docs.length / 4)).toSeq
    var st = StreamingReplicatedIndex.freeze(s, nShards = 4)
    var delivered = Seq.empty[(Long, String)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReplicatedIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      val want = fromScratch(delivered)
      assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        === want, s"primary serving diverged after wave $i")
      // ANY node can die at this instant — no answer may change
      for (x <- 0L until 4L)
        assert(rows(StreamingReplicatedIndex
          .serveFailover(st, x, qTerms, 20)) === want,
          s"failover of node $x diverged after wave $i")
    }
    // replay: exactly-once across both copies
    val before = rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
      === before, "a replayed wave changed an answer")
    // byte law: final compacted stores == the batch replicated build
    val finP =
      if (st.primSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.primSegs)
      else st.primSegs.head
    val finR =
      if (st.replSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.replSegs)
      else st.replSegs.head
    val want = ReplicatedIndex.build(delivered.toDF("doc_id", "text"), 4)
    def pMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
      }.toMap
    def rMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)) ->
          (r.getInt(4), r.getAs[Array[Byte]](5).toSeq)
      }.toMap
    assert(pMap(finP.select($"shard", $"term", $"bucket", $"df", $"bytes"))
      === pMap(want.primaryStore),
      "final primary store != batch replicated build")
    assert(rMap(finR.select($"node", $"origin", $"term", $"bucket", $"df",
      $"bytes")) === rMap(want.replicaStore),
      "final replica store != batch replicated build")
  }

  test("T40: streaming replicated index — a node JOINS mid-stream " +
    "(q302's index-only replicated grow under a live stream), serving " +
    "and failover invariant across the topology change, ingest " +
    "continues at the grown ring, final stores byte-equal to the " +
    "grown-ring replicated build") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingReplicatedIndex
    import graft.operators.ReplicatedIndex
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val qTerms = Seq("spark", "window", "merge", "dup")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("doc_id", "score_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def fromScratch(delivered: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val df = delivered.toDF("doc_id", "text")
      val dl = df.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"))
      StreamingPostings.serve(
        StreamingPostings.PsState(
          List(graft.queries.Text.postingStore(df)),
          dl.select($"doc_id"), dl), qTerms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val waves = docs.grouped(math.max(1, docs.length / 4)).toSeq
    var st = StreamingReplicatedIndex.freeze(s, nShards = 3)
    var delivered = Seq.empty[(Long, String)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReplicatedIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      val want = fromScratch(delivered)
      assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        === want, s"primary serving diverged after wave $i")
      // failover of any CURRENT node must change nothing — before AND
      // after the mid-stream grow
      for (x <- 0L until st.nShards.toLong)
        assert(rows(StreamingReplicatedIndex
          .serveFailover(st, x, qTerms, 20)) === want,
          s"failover of node $x diverged after wave $i (S=${st.nShards})")
      if (i == 1) {
        val before = rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        st = StreamingReplicatedIndex.grow(st)
        assert(st.nShards === 4)
        assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
          === before, "the mid-stream replicated grow changed an answer")
      }
    }
    qy.stop()
    // byte law: final stores == the batch replicated build at the
    // grown ring (pre-grow arrivals moved by the surgery, post-grow
    // arrivals placed by the grown ring — one canonical pair of stores)
    val finP =
      if (st.primSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.primSegs)
      else st.primSegs.head
    val finR =
      if (st.replSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.replSegs)
      else st.replSegs.head
    val want = ReplicatedIndex.build(delivered.toDF("doc_id", "text"), 4)
    def pMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
      }.toMap
    def rMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)) ->
          (r.getInt(4), r.getAs[Array[Byte]](5).toSeq)
      }.toMap
    assert(pMap(finP.select($"shard", $"term", $"bucket", $"df", $"bytes"))
      === pMap(want.primaryStore),
      "final primary store != grown-ring replicated build")
    assert(rMap(finR.select($"node", $"origin", $"term", $"bucket", $"df",
      $"bytes")) === rMap(want.replicaStore),
      "final replica store != grown-ring replicated build")
  }

  test("T43: streaming replicated ANN code store — two-copy SQ8 ingest " +
    "per batch (quantize mid-stream, stateless), failover of ANY node " +
    "candidate-invariant after every wave, a node JOINS mid-stream " +
    "with no answer changed, replays no-op, final stores set-equal to " +
    "the batch build") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingReplicatedCodes
    import graft.operators.ReplicatedCodes
    val emb = graft.core.Tables(s, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toSeq.sortBy(_._1)
    // the broadcastable query set: q286's shape off the full corpus
    val codesAll = emb.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding",
        graft.functions.VectorOps.absMax($"embedding").as("amax"))
      .select($"vec_id",
        rint($"amax" * lit(1e3)).cast("long").as("am"),
        graft.functions.VectorOps.quantize8($"embedding", $"amax")
          .as("qv"))
    val queries = codesAll.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"am".as("q_am"), $"qv".as("q_qv"))
      .cache()
    def cands(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("q_id", "vec_id", "adist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val waves = emb.grouped(math.max(1, emb.length / 4)).toSeq
    var st = StreamingReplicatedCodes.freeze(s, nShards = 3)
    var delivered = Seq.empty[(Long, Seq[Float])]
    val stream = MemoryStream[(Long, Seq[Float])](s)
    val qy = stream.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReplicatedCodes.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      val base = cands(StreamingReplicatedCodes.servePrimary(st, queries, 8))
      assert(base.nonEmpty, s"empty serve after wave $i")
      for (x <- 0L until st.nShards.toLong)
        assert(cands(StreamingReplicatedCodes
          .serveFailover(st, x, queries, 8)) === base,
          s"failover of node $x changed candidates after wave $i (S=${st.nShards})")
      if (i == 1) {
        st = StreamingReplicatedCodes.grow(st)
        assert(st.nShards === 4)
        assert(cands(StreamingReplicatedCodes
          .servePrimary(st, queries, 8)) === base,
          "the mid-stream grow changed an answer")
      }
    }
    // replay: exactly-once
    val before = cands(StreamingReplicatedCodes.servePrimary(st, queries, 8))
    stream.addData(waves.head: _*); qy.processAllAvailable()
    qy.stop()
    assert(cands(StreamingReplicatedCodes.servePrimary(st, queries, 8))
      === before, "a replayed wave changed an answer")
    // final stores == the batch build at the grown ring, as sets
    val want = ReplicatedCodes.build(codesAll, 4)
    def pSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Byte](3).toSeq)).toSet
    def rSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[Byte](4).toSeq)).toSet
    assert(pSet(st.primary) === pSet(want.primaryStore),
      "final primary rows != batch build")
    assert(rSet(st.replica) === rSet(want.replicaStore),
      "final replica rows != batch build")
    queries.unpersist()
    ()
  }

  test("T41: streaming replicated index — TAKEDOWN mid-stream naming " +
    "arrived AND not-yet-arrived ids (q304's two-copy surgery + " +
    "tombstones forever), serving and failover correct after the " +
    "surgery, late copies of dead docs never index, final stores " +
    "byte-equal to the batch replicated build over the survivors") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingReplicatedIndex
    import graft.operators.ReplicatedIndex
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    // dead ids span the stream: % 5 == 2 hits every wave, so the
    // takedown after wave 1 names arrived AND not-yet-arrived docs
    val deadIds = docs.map(_._1).filter(_ % 5 == 2).toSet
    val qTerms = Seq("spark", "window", "merge", "dup")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("doc_id", "score_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def fromScratch(live: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val df = live.toDF("doc_id", "text")
      val dl = df.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"))
      StreamingPostings.serve(
        StreamingPostings.PsState(
          List(graft.queries.Text.postingStore(df)),
          dl.select($"doc_id"), dl), qTerms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val waves = docs.grouped(math.max(1, docs.length / 4)).toSeq
    var st = StreamingReplicatedIndex.freeze(s, nShards = 4)
    var delivered = Seq.empty[(Long, String)]
    var taken = false
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReplicatedIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      if (i == 1) {
        // the takedown event: every dead id at once — wave-0/1 members
        // are indexed (surgery must cut them), later members are still
        // in flight (tombstones must reject them on arrival)
        st = StreamingReplicatedIndex.takedown(st,
          deadIds.toSeq.sorted.toDF("doc_id"))
        taken = true
      }
      val live =
        if (taken) delivered.filterNot(d => deadIds.contains(d._1))
        else delivered
      val want = fromScratch(live)
      assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        === want, s"primary serving diverged after wave $i")
      for (x <- 0L until 4L)
        assert(rows(StreamingReplicatedIndex
          .serveFailover(st, x, qTerms, 20)) === want,
          s"failover of node $x diverged after wave $i")
    }
    // a LATE COPY of a dead doc arrives after the takedown: the
    // tombstone must reject it even though it was never in seenIds
    val lateDead = docs.filter(d => deadIds.contains(d._1)).take(3)
    val before = rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
    stream.addData(lateDead: _*); qy.processAllAvailable()
    qy.stop()
    assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
      === before, "a late copy of a tombstoned doc was indexed")
    // byte law: final compacted stores == the batch replicated build
    // over delivered-minus-tombstoned docs, BOTH copies
    val survivors = delivered.filterNot(d => deadIds.contains(d._1))
    val finP =
      if (st.primSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.primSegs)
      else st.primSegs.head
    val finR =
      if (st.replSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.replSegs)
      else st.replSegs.head
    val want = ReplicatedIndex.build(survivors.toDF("doc_id", "text"), 4)
    def pMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
      }.toMap
    def rMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)) ->
          (r.getInt(4), r.getAs[Array[Byte]](5).toSeq)
      }.toMap
    assert(pMap(finP.select($"shard", $"term", $"bucket", $"df", $"bytes"))
      === pMap(want.primaryStore),
      "final primary store != batch build over survivors")
    assert(rMap(finR.select($"node", $"origin", $"term", $"bucket", $"df",
      $"bytes")) === rMap(want.replicaStore),
      "final replica store != batch build over survivors")
  }

  test("T44: streaming replicated index — UPDATE mid-stream against " +
    "the two-copy state (changed text + an upsert id), both copies " +
    "replaced the moment the event lands so primary AND every failover " +
    "serve the new version, identical re-sends idempotent, tombstoned " +
    "updates rejected, final stores byte-equal to the batch replicated " +
    "build over the latest live versions") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingReplicatedIndex
    import graft.operators.ReplicatedIndex
    val docs = graft.core.Tables(s, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val qTerms = Seq("spark", "window", "merge", "dup")
    val waves = docs.grouped(math.max(1, docs.length / 4)).toSeq
    // the update event: changed text for wave-0 arrivals (% 3 == 1)
    // plus one id the stream never carries — the upsert half
    val changed = waves.head.filter(_._1 % 3 == 1)
      .map { case (i, t) => (i, s"spark edit $t") }
    val upsertId = docs.map(_._1).max + 1000L
    val update = changed :+ ((upsertId, "spark merge window fresh"))
    val updateMap = update.toMap
    val victim = waves.head.find(d => !updateMap.contains(d._1)).get._1
    var applied = false
    var reaped = Set.empty[Long]
    def latest(delivered: Seq[(Long, String)]) = {
      val base =
        if (!applied) delivered
        else delivered.map { case (i, t) =>
          (i, updateMap.getOrElse(i, t)) } :+
          ((upsertId, "spark merge window fresh"))
      base.filterNot(d => reaped.contains(d._1))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("doc_id", "score_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def fromScratch(live: Seq[(Long, String)]): Seq[(Long, Long)] = {
      val df = live.toDF("doc_id", "text")
      val dl = df.select($"doc_id",
        size(split($"text", " ")).cast("long").as("dl"))
      StreamingPostings.serve(
        StreamingPostings.PsState(
          List(graft.queries.Text.postingStore(df)),
          dl.select($"doc_id"), dl), qTerms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    var st = StreamingReplicatedIndex.freeze(s, nShards = 4)
    var delivered = Seq.empty[(Long, String)]
    val stream = MemoryStream[(Long, String)](s)
    val qy = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReplicatedIndex.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      if (i == 1) {
        st = StreamingReplicatedIndex.applyUpdate(st,
          update.toDF("doc_id", "text"))
        applied = true
      }
      if (i == 2) {
        // identical re-send: the verb is idempotent on the 2-copy state
        val before = rows(
          StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        st = StreamingReplicatedIndex.applyUpdate(st,
          update.toDF("doc_id", "text"))
        assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
          === before, "an identical update re-send changed an answer")
        // tombstones-forever beat the index verb (q319's T41 contrast)
        st = StreamingReplicatedIndex.takedown(st,
          Seq(victim).toDF("doc_id"))
        reaped += victim
        val after = rows(
          StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        st = StreamingReplicatedIndex.applyUpdate(st,
          Seq((victim, "spark spark spark merge window"))
            .toDF("doc_id", "text"))
        assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
          === after, "an update resurrected a tombstoned doc")
      }
      val want = fromScratch(latest(delivered))
      assert(rows(StreamingReplicatedIndex.servePrimary(st, qTerms, 20))
        === want, s"primary serving diverged after wave $i")
      for (x <- 0L until 4L)
        assert(rows(StreamingReplicatedIndex
          .serveFailover(st, x, qTerms, 20)) === want,
          s"failover of node $x diverged after wave $i")
    }
    qy.stop()
    // byte law: final compacted stores == the batch replicated build
    // over the latest live versions, BOTH copies
    val finP =
      if (st.primSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.primSegs)
      else st.primSegs.head
    val finR =
      if (st.replSegs.lengthCompare(1) > 0)
        graft.operators.PostingBlocks.merge(st.replSegs)
      else st.replSegs.head
    val want = ReplicatedIndex.build(
      latest(delivered).toDF("doc_id", "text"), 4)
    def pMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
      }.toMap
    def rMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)) ->
          (r.getInt(4), r.getAs[Array[Byte]](5).toSeq)
      }.toMap
    assert(pMap(finP.select($"shard", $"term", $"bucket", $"df", $"bytes"))
      === pMap(want.primaryStore),
      "final primary store != batch build over latest versions")
    assert(rMap(finR.select($"node", $"origin", $"term", $"bucket", $"df",
      $"bytes")) === rMap(want.replicaStore),
      "final replica store != batch build over latest versions")
  }
  test("T45: streaming replicated ROW placement — payload-agnostic " +
    "two-copy ingest per batch, failover of ANY node returns the " +
    "delivered row multiset after every wave, a node joins mid-stream " +
    "with nothing changed, a mid-stream takedown names arrived AND " +
    "in-flight ids, replays and late copies no-op, final stores " +
    "set-equal to the batch build at the grown ring") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingReplicatedRows
    import graft.operators.ReplicatedRows
    val edgeRows = (0L until 60L).flatMap { v =>
      Seq((v, (v + 1) % 60), (v, (v + 7) % 60), (v, (v + 19) % 60))
    }
    // dead ids span the stream: 5/17/40 arrived by the wave-2
    // takedown, 52 still in flight (wave 3)
    val deadIds = Set(5L, 17L, 40L, 52L)
    val waves = edgeRows.grouped(45).toSeq // 4 waves, 15 vertices each
    def rowSet(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    var st = StreamingReplicatedRows.freeze(
      edgeRows.take(1).toDF("v", "u"), "v", nShards = 3)
    var delivered = Seq.empty[(Long, Long)]
    var taken = false
    val stream = MemoryStream[(Long, Long)](s)
    val qy = stream.toDF().toDF("v", "u").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        st = StreamingReplicatedRows.applyBatch(st, b)
        ()
      }
      .start()
    waves.zipWithIndex.foreach { case (w, i) =>
      stream.addData(w: _*); qy.processAllAvailable()
      delivered = delivered ++ w
      if (i == 1) {
        val before = rowSet(StreamingReplicatedRows.failover(st, 0L))
        st = StreamingReplicatedRows.grow(st)
        assert(st.nShards === 4)
        assert(rowSet(StreamingReplicatedRows.failover(st, 0L)) === before,
          "the mid-stream grow changed the served row set")
      }
      if (i == 2) {
        st = StreamingReplicatedRows.takedown(st,
          deadIds.toSeq.sorted.toDF("v"))
        taken = true
      }
      val live =
        if (taken) delivered.filterNot(d => deadIds.contains(d._1))
        else delivered
      for (x <- 0L until st.nShards.toLong)
        assert(rowSet(StreamingReplicatedRows.failover(st, x))
          === live.sorted,
          s"failover of node $x lost or duplicated rows after wave $i")
    }
    // replay + a late copy of a tombstoned id: both structural no-ops
    val before = rowSet(StreamingReplicatedRows.failover(st, 1L))
    stream.addData(waves.head: _*)
    stream.addData(edgeRows.filter(e => deadIds.contains(e._1)).take(3): _*)
    qy.processAllAvailable()
    qy.stop()
    assert(rowSet(StreamingReplicatedRows.failover(st, 1L)) === before,
      "a replay or late tombstoned copy changed the row set")
    // final stores == the batch build at the grown ring, as sets
    val survivors = delivered.filterNot(d => deadIds.contains(d._1))
    val (wp, wr) = ReplicatedRows.build(
      survivors.toDF("v", "u"), "v", 4)
    def fSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(fSet(st.primary) === fSet(wp),
      "final primary rows != batch build over survivors")
    assert(fSet(st.replica) === fSet(wr),
      "final replica rows != batch build over survivors")
  }
}
