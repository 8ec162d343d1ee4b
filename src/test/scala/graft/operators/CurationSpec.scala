package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Laws for the round-4 curation operators (SURVEY.md §2.11a N22/N23/X40).
  * Exact per-row values at corpus scale are the q117–q119 DuckDB oracles'
  * job; these pin the algorithmic guarantees on adversarial shapes. */
class CurationSpec extends SparkSpecBase {

  // ---------------------------------------------------------------- KMeansInt

  test("KMeansInt separates two obvious blobs regardless of seed quality") {
    val s = spark
    import s.implicits._
    // ids 0,1 seed the centroids; blob A near 0.1, blob B near 0.9
    val vecs = Seq(
      (0L, Array(0.10f, 0.10f)), (1L, Array(0.11f, 0.09f)),
      (2L, Array(0.09f, 0.12f)), (3L, Array(0.90f, 0.91f)),
      (4L, Array(0.92f, 0.89f)), (5L, Array(0.88f, 0.90f))
    ).toDF("vec_id", "embedding")
    val out = KMeansInt.cluster(vecs, "vec_id", "embedding", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // blob A all share one cluster, blob B the other, and they differ
    assert(Set(out(0L), out(1L), out(2L)).size == 1)
    assert(Set(out(3L), out(4L), out(5L)).size == 1)
    assert(out(0L) != out(3L))
  }

  test("KMeansInt assignment is invariant under input partitioning") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      KMeansInt.cluster(df, "vec_id", "embedding", k = 3, rounds = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(vecs.repartition(1)) === run(vecs.repartition(7)))
  }

  test("KMeansInt quantization shift never changes a squared distance " +
    "(translation invariance of the +10000 grid offset)") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(-0.5f, 0.3f), Array(0.2f, -0.4f))).toDF("a", "b")
    val shifted = df.select(KMeansInt.sqDist(
      KMeansInt.quantize($"a"), KMeansInt.quantize($"b")).as("d"))
    val unshifted = df.select(KMeansInt.sqDist(
      transform($"a", x => round(x.cast("double") * 10000d).cast("long")),
      transform($"b", x => round(x.cast("double") * 10000d).cast("long"))).as("d"))
    assert(shifted.head.getLong(0) === unshifted.head.getLong(0))
  }

  test("KMeansInt argmin ties break to the smallest cluster id") {
    val s = spark
    import s.implicits._
    // vector 9 is exactly halfway between the two seed centroids
    val vecs = Seq(
      (0L, Array(0.0f)), (1L, Array(1.0f)), (9L, Array(0.5f))
    ).toDF("vec_id", "embedding")
    val vq = vecs.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
    val cents = vq.filter($"vec_id" < 2)
      .select($"vec_id".cast("int").as("cluster"), $"xq".as("cq"))
    val got = KMeansInt.assign(vq, "vec_id", cents)
      .filter($"vec_id" === 9L).head.getInt(1)
    assert(got === 0)
  }

  test("a KMeansInt training round costs exactly one Spark job") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding").repartition(3)
    def jobs(rounds: Int): Int = withJobCount(
      KMeansInt.clusterWithCents(vecs, "vec_id", "embedding", k = 3, rounds))._2
    assert(jobs(2) - jobs(1) === 1)
  }

  test("KMeansInt empty-cluster drop: of two identical seeds the larger " +
    "id captures nothing, drops out, and is never assigned") {
    val s = spark
    import s.implicits._
    // seeds 0 and 1 coincide, so every tie goes to cluster 0
    val vecs = Seq(
      (0L, Array(0.1f, 0.1f)), (1L, Array(0.1f, 0.1f)),
      (2L, Array(0.9f, 0.9f)), (3L, Array(0.12f, 0.1f)),
      (4L, Array(0.88f, 0.9f)), (5L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val (assigned, cents) =
      KMeansInt.clusterWithCents(vecs, "vec_id", "embedding", k = 3, rounds = 2)
    assert(cents.collect().map(_.getInt(0)).sorted.toSeq === Seq(0, 2))
    val clusters = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(clusters.size === 6)
    assert(!clusters.values.exists(_ == 1))
    assert(clusters(0L) === 0 && clusters(1L) === 0)
  }

  // ---------------------------------------------------------------------- Bfs

  test("Bfs measures exact hop distances on a path and respects maxHops") {
    val s = spark
    import s.implicits._
    // path 1-2-3-...-10, source 1, bound 4 → nodes 1..5 at dist 0..4
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val sources = Seq(Tuple1(1L)).toDF("id")
    val got = Bfs.distances(sources, "id", edges, "src", "dst", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("Bfs is undirected, multi-source, and keeps the SHORTEST distance " +
    "when frontiers meet") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 with sources at both ends: middle node at dist 2
    val edges = (1L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val sources = Seq(Tuple1(1L), Tuple1(5L)).toDF("id")
    val got = Bfs.distances(sources, "id", edges, "src", "dst", maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  // ---------------------------------------------------------------- Spatial

  test("SpatialJoin equals the brute-force cross product on random points " +
    "(cell decomposition loses no pair, adds no pair)") {
    val s = spark
    import s.implicits._
    // deterministic scatter incl. adjacent-cell and just-over-radius pairs
    val pts = (1L to 120L).map { i =>
      (i, ((i * 37) % 100) / 10.0 - 5.0, ((i * 73) % 100) / 10.0 - 5.0)
    }.toDF("k", "lat", "lon")
    val r = 0.5
    val fast = SpatialJoin.withinRadius(pts, "k", "lat", "lon", r)
      .select("a_key", "b_key").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val a = pts.select($"k".as("a"), $"lat".as("la"), $"lon".as("lo"))
    val brute = a.crossJoin(pts)
      .filter($"a" < $"k" &&
        (($"la" - $"lat") * ($"la" - $"lat") +
         ($"lo" - $"lon") * ($"lo" - $"lon")) < r * r)
      .select($"a", $"k").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(fast === brute)
    assert(brute.nonEmpty) // the fixture actually exercises the join
  }

  // -------------------------------------------------- deletion-neighborhood

  test("q131 wildcard-mask join finds EXACTLY the hamming<=1 pairs (deletion-" +
    "neighborhood recall is exact; double-sub pairs share no mask)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    // 18-char ids: planted single-sub pair, double-sub pair (shares the
    // even stripe but must be rejected), and unrelated ids
    val ids = Seq(
      (1L, "Customer#000000042"), (2L, "Customer#000000043"), // hamming 1
      (3L, "Customer#000011042"), // hamming 2 vs id 1 — same parity stripe
      (4L, "Customer#999999999")
    ).toDF("c_custkey", "c_name")
    def pairs(of: DataFrame) = {
      // run the q131 pipeline over a substituted table via a temp view
      of.createOrReplaceTempView("customer_small")
      s.sql("SELECT c_custkey, c_name FROM customer_small")
    }
    val names = pairs(ids)
    // mirror of q131's double-pigeonhole construction: parity stripes
    // as the join stripe, mod-4 quarter of the OTHER parity as the
    // second key level — exact recall for hamming <= 1
    def cut(start: Int, step: Int) = expr(
      s"array_join(transform(sequence($start, 18, $step), p -> substr(c_name, p, 1)), '')")
    val stripes = names
      .select($"c_custkey", $"c_name", cut(1, 2).as("s0"), cut(2, 2).as("s1"),
        cut(1, 4).as("q1"), cut(2, 4).as("q2"), cut(3, 4).as("q3"), cut(4, 4).as("q4"))
      .select($"c_custkey", $"c_name",
        posexplode(array(
          struct(lit(0).as("sid"), lit(0).as("hid"), $"s0".as("stripe"), $"q2".as("half")),
          struct(lit(0).as("sid"), lit(1).as("hid"), $"s0".as("stripe"), $"q4".as("half")),
          struct(lit(1).as("sid"), lit(0).as("hid"), $"s1".as("stripe"), $"q1".as("half")),
          struct(lit(1).as("sid"), lit(1).as("hid"), $"s1".as("stripe"), $"q3".as("half"))
        )).as(Seq("ord", "sv")))
      .select($"c_custkey", $"c_name", $"sv.sid".as("sid"), $"sv.hid".as("hid"),
        $"sv.stripe".as("stripe"), $"sv.half".as("half"))
    val a = stripes.select($"c_custkey".as("a_id"), $"c_name".as("an"),
      $"sid", $"hid", $"stripe", $"half")
    val b = stripes.select($"c_custkey".as("b_id"), $"c_name".as("bn"),
      $"sid", $"hid", $"stripe", $"half")
    val flatHamming = (1 to 18)
      .map(i => when(substring($"an", i, 1) === substring($"bn", i, 1), 0).otherwise(1))
      .reduce(_ + _)
    val got = a.join(b, Seq("sid", "hid", "stripe", "half")).filter($"a_id" < $"b_id")
      .withColumn("h", flatHamming)
      .filter($"h" <= 1)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs
    val an = names.select($"c_custkey".as("a_id"), $"c_name".as("an"))
    val brute = an.crossJoin(names)
      .filter($"a_id" < $"c_custkey")
      .withColumn("h", expr(
        "aggregate(transform(sequence(1, 18), " +
          "i -> IF(substr(an, i, 1) = substr(c_name, i, 1), 0, 1)), 0, (s, x) -> s + x)"))
      .filter($"h" <= 1)
      .select($"a_id", $"c_custkey").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
    assert(got === Set((1L, 2L))) // the hamming-2 candidate was scrubbed
  }

  // ------------------------------------------------------------- plan shapes

  test("q117 boilerplate filter is a BROADCAST anti-join — document text " +
    "never shuffles to test viral membership") {
    val plan = graft.queries.Curation.q117.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.linesIterator.take(30).mkString("\n"))
  }

  test("q123 top-50 fuses into TakeOrderedAndProject (no global sort of " +
    "all pairs)") {
    val plan = graft.queries.Curation.q123.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      plan.linesIterator.take(30).mkString("\n"))
  }

  test("q127's per-lang stats come back via a BROADCAST join — the corpus " +
    "is scanned, never shuffled, for the outlier flags") {
    val plan = graft.queries.Curation.q127.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      plan.linesIterator.take(30).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"))
  }

  // (q133's per-round argmax plans are consumed inside localCheckpoint
  // materialization — the final plan is a union of checkpointed RDD
  // scans, so there is no lazy plan left to assert TakeOrdered on.)

  test("Bfs never reaches a disconnected component and terminates early " +
    "on an exhausted frontier") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (7L, 8L)).toDF("src", "dst")
    val sources = Seq(Tuple1(1L)).toDF("id")
    // maxHops far beyond the component diameter — the empty-frontier
    // exit must fire rather than running 100 join rounds
    val t0 = System.nanoTime()
    val got = Bfs.distances(sources, "id", edges, "src", "dst", maxHops = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got === Map(1L -> 0L, 2L -> 1L))
    assert(secs < 60.0, s"early-exit failed to fire: $secs s")
  }
}
