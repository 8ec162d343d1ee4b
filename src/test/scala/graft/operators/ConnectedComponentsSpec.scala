package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpecBase
import graft.queries.Dedup

/** Laws of [[ConnectedComponents.labelStar]]'s partition-local
  * contraction and star-forest test: the rounds it saves on co-located
  * inputs, the rounds it still runs on scattered ones, and labels that
  * never depend on how the edges are partitioned or scheduled. */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._
  import ConnectedComponentsSpec.components

  /** Runs `body` and counts labelStar's star rounds in it: the SQL
    * executions started by the convergence `head()`, whose call site
    * is `head at ConnectedComponents.scala`. */
  private def withStarRounds[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"cc-spec-drain-${System.nanoTime()}"
    val heads = new ConcurrentLinkedQueue[Long]()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.description.startsWith("head at ConnectedComponents.scala") =>
          heads.add(s.executionId)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          drained = true
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener delivery is async but ordered: once the marker job is
      // seen, every event of `body` has been delivered
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
      assert(drained, "listener bus did not drain within 30 s")
      (out, heads.size)
    } finally sc.removeSparkListener(listener)
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
  }

  /** q96's graph shape: each key's ids chained in id order by a window
    * partitioned by the key, so every chain sits whole in one partition. */
  private def chains(n: Int, keys: Int): (DataFrame, DataFrame) = {
    val nodes = spark.range(n).select($"id", ($"id" * 7 % keys).as("k"))
    val w = Window.partitionBy($"k").orderBy($"id")
    val edges = nodes.withColumn("nxt", lead($"id", 1).over(w))
      .filter($"nxt".isNotNull).select($"id".as("a"), $"nxt".as("b"))
    (nodes.select($"id"), edges)
  }

  test("labelStar: a 200-node path scattered round-robin over 8 partitions " +
    "still runs star rounds, converges in <= 12 and labels every node 0") {
    val n = 200L
    val nodes = (0L until n).toDF("id")
    // partition p holds edges (i, i+1) with i = p mod 8: no two edges of
    // a partition share a node, so contraction leaves the path intact
    val edges = spark.sparkContext.parallelize(0 until 8, 8)
      .flatMap(p => (p.toLong until n - 1 by 8).map(i => (i, i + 1)))
      .toDF("a", "b")
    val (out, rounds) = withStarRounds(labels(
      ConnectedComponents.labelStar(nodes, "id", edges, "a", "b", maxRounds = 12)))
    assert(out.size == n && out.values.forall(_ == 0L))
    assert(rounds >= 1, "a scattered path must not pass the star-forest test")
  }

  test("labelStar: chains co-located by a Window.partitionBy key contract " +
    "locally and finish with zero star rounds") {
    val (nodes, edges) = chains(3000, 11)
    val expected = (0L until 3000L).map(i => i -> i % 11).toMap
    spark.catalog.clearCache()
    val (out, rounds) = withStarRounds(labels(
      ConnectedComponents.labelStar(nodes, "id", edges, "a", "b")))
    assert(out === expected)
    assert(rounds == 0)
    // the zero-round result reads a checkpoint, not a cached plan
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("contract: flushing every 4 nodes gives the same components as the " +
    "real cap, and every emitted edge is canonical (u > v)") {
    val edges = randomEdges(7, 400, 500) ++ Seq((3L, 3L), (5L, 9L), (9L, 5L))
    val small = ConnectedComponents.contract(edges.iterator, 4).toSeq
    val full = ConnectedComponents.contract(edges.iterator,
      ConnectedComponents.ContractCap).toSeq
    val truth = components(edges.filter { case (a, b) => a != b })
    assert(small.forall { case (u, v) => u > v } && full.forall { case (u, v) => u > v })
    assert(components(small) === truth)
    assert(components(full) === truth)
    // the cap-4 pass flushed: a single pass emits one edge per non-root
    assert(full.size == truth.size - truth.values.toSet.size)
    assert(small.size > full.size)
    // and the flushed stars close to the same labels inside labelStar
    val nodes = (0L until 400L).toDF("id")
    val star = labels(ConnectedComponents.labelStar(nodes, "id", small.toDF("a", "b"), "a", "b"))
    assert(star === (0L until 400L).map(i => i -> truth.getOrElse(i, i)).toMap)
  }

  test("labelStar equals a driver-side union-find with null endpoints, " +
    "self-loops, duplicate and reversed edges") {
    val base = randomEdges(11, 80, 60)
    val noisy = base.map { case (a, b) => (Option(a), Option(b)) } ++
      base.take(8).map { case (a, b) => (Option(a), Option(b)) } ++
      base.take(8).map { case (a, b) => (Option(b), Option(a)) } ++
      Seq((Some(4L), Some(4L)), (Some(7L), None), (None, Some(9L)),
        (None, None), (Some(81L), Some(81L)))
    val nodes = (0L until 82L).toDF("id")
    val edges = noisy.toDF("a", "b")
    // the reference drops null endpoints; isolated nodes label themselves
    val truth = components(noisy.collect { case (Some(a), Some(b)) => (a, b) })
    val exact = (0L until 82L).map(i => i -> truth.getOrElse(i, i)).toMap
    val star = labels(ConnectedComponents.labelStar(nodes, "id", edges, "a", "b"))
    assert(star === exact)
    assert(star(81L) == 81L)
  }

  test("labelStar's labels do not depend on shuffle partitions, AQE or how " +
    "the edges are partitioned (random graph and q96's chains)") {
    val rndEdges = randomEdges(23, 300, 260).toDF("a", "b")
    val rndNodes = (0L until 300L).toDF("id")
    val (chainNodes, chainEdges) = chains(2000, 13)
    def run(): Seq[Map[Long, Long]] = Seq(
      labels(ConnectedComponents.labelStar(rndNodes, "id", rndEdges, "a", "b")),
      labels(ConnectedComponents.labelStar(rndNodes, "id",
        rndEdges.repartition(5, rand(3)), "a", "b")),
      labels(ConnectedComponents.labelStar(chainNodes, "id", chainEdges, "a", "b")),
      labels(ConnectedComponents.labelStar(chainNodes, "id",
        chainEdges.repartition(6, rand(5)), "a", "b")),
      labels(Dedup.q96.build(spark, sf)))
    val reference = run()
    assert(reference(2) === (0L until 2000L).map(i => i -> i % 13).toMap)
    assert(reference(1) === reference(0))
    assert(reference(3) === reference(2))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (parts <- Seq("1", "7"); aqe <- Seq("true", "false")) {
        spark.conf.set(keys(0), parts)
        spark.conf.set(keys(1), aqe)
        assert(run() === reference, s"shuffle.partitions=$parts AQE=$aqe")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object ConnectedComponentsSpec {

  /** Components of an edge list as node → min node id, by a plain
    * driver-side union-find (independent of the operator). */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}
