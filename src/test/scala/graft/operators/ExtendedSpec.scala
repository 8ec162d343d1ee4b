package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpecBase
import graft.core.Tables
import graft.functions.Profiler
import graft.queries.Extended

/** Laws for the round-2 surface extensions (SURVEY.md §2.12). */
class ExtendedSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  test("SaltedJoin equals the plain join (salting is pure redistribution)") {
    val facts = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("c", 5))
      .toDF("k", "v")
    val dim = Seq(("a", 10), ("b", 20), ("d", 40)).toDF("k", "code")
    val salted = SaltedJoin.join(facts, dim, "k", salts = 4)
      .select("k", "v", "code").collect().map(_.toSeq).toSet
    val plain = facts.join(dim, Seq("k"))
      .select("k", "v", "code").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 4) // a x3 + b x1; c and d drop out
  }

  test("SaltedJoin spreads a hot key across multiple salt buckets") {
    val facts = (1 to 400).map(i => ("hot", i)).toDF("k", "v")
    val dim = Seq(("hot", 1)).toDF("k", "code")
    val salted = facts.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(4L)))
    assert(salted.select("__salt").distinct().count() > 1)
    assert(SaltedJoin.join(facts, dim, "k", 4).count() == 400)
  }

  test("Profiler: one row per column, exact metrics, numeric min/max") {
    val df = Seq((3, "b"), (1, "a"), (10, null.asInstanceOf[String]), (1, "c"))
      .toDF("n", "s")
    val p = Profiler.profile(df, Seq("n", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(p("n") == ((0L, 3L, "1", "10"))) // numeric: 10 > 9 lexicographic trap
    assert(p("s") == ((1L, 3L, "a", "c")))  // nulls counted, not in distinct/min
  }

  test("hash split is stable, complete, and roughly 80/10/10") {
    val out = Extended.q67.build(spark, sf)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(counts.keySet == Set("train", "validation", "test"))
    assert(counts("train") > n * 6 / 10) // generous bounds on 50 docs
    // determinism: same bucket for same doc on a re-run
    val again = Extended.q67.build(spark, sf)
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("IVF ANN: every reported neighbor shares the query's cluster and " +
    "hits are a subset of brute-force candidates ranked identically") {
    val out = Extended.q69.build(spark, sf).collect()
    assert(out.nonEmpty)
    // queries are vec_id 8..11 -> at most 4 * 3 rows, rn in 1..3
    assert(out.map(_.getAs[Long]("q_id")).toSet.subsetOf(Set(8L, 9L, 10L, 11L)))
    assert(out.forall(r => r.getAs[Int]("rn") >= 1 && r.getAs[Int]("rn") <= 3))
    // cos within each query is non-increasing with rn
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val byRn = rows.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cos"))
      assert(byRn.zip(byRn.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IntervalJoin equals the brute-force interval join, each pair once") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val iv = Seq(
      (1L, d("2020-01-01"), d("2020-01-10")),
      (2L, d("2020-01-09"), d("2020-01-20")),  // overlaps 1 (single day), 3
      (3L, d("2020-01-15"), d("2020-03-05")),  // long: spans many cells
      (4L, d("2020-03-01"), d("2020-03-02")),  // overlaps 3 only
      (5L, d("2020-06-01"), d("2020-06-01")),  // empty interval: no pairs
      (6L, d("2020-02-01"), d("2020-02-03"))   // inside 3
    ).toDF("id", "s", "e")
    val bucketed = IntervalJoin.overlap(iv, iv, "s", "e", bucketWidthDays = 7)
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = iv.as("x").join(iv.as("y"),
        col("x.s") < col("y.e") && col("y.s") < col("x.e") &&
          col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bucketed.sorted.toSeq == brute.sorted.toSeq)
    assert(bucketed.length == bucketed.distinct.length) // exactly-once
    assert(bucketed.toSet == Set((1L, 2L), (2L, 3L), (3L, 4L), (3L, 6L)))
  }

  test("ConnectedComponents: chains collapse transitively, isolated nodes " +
    "keep themselves, and the representative is the component minimum") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // chain 1-2-3 (via pairs (2,1),(2,3)), pair 4-5, isolated 9
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 4L)).toDF("a", "b")
    val out = ConnectedComponents.labelStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("ConnectedComponents: a 50-node path (diameter 49) converges through " +
    "the localCheckpoint lineage truncation, label = path minimum") {
    val n = 50
    val nodes = (0L until n.toLong).toDF("id")
    // the path visits the ids in a seeded shuffled order, not id order,
    // and each edge has a partition to itself: the
    // partition-local contraction merges nothing, and every star round
    // runs over a lazily localCheckpointed edge set
    val order = new scala.util.Random(7).shuffle((0L until n.toLong).toVector)
    val path = order.zip(order.tail)
    val edges = spark.sparkContext.parallelize(path, path.length).toDF("a", "b")
    val out = ConnectedComponents.labelStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n && out.forall(_._2 == 0L))
  }

  test("ConnectedComponents: exceeding maxRounds fails loudly instead of " +
    "returning unconverged labels") {
    val nodes = (0L until 12L).toDF("id")
    // a 12-node path scattered round-robin over 4 partitions: no two
    // edges of a partition share a node, so the partition-local
    // contraction leaves the path to the star rounds
    val edges = spark.sparkContext.parallelize(0 until 4, 4)
      .flatMap(p => (p.toLong until 11L by 4).map(i => (i, i + 1)))
      .toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.labelStar(nodes, "id", edges, "a", "b", maxRounds = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the cap, not the input, is what failed
    val out = ConnectedComponents.labelStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(1))
    assert(out.length == 12 && out.forall(_ == 0L))
  }

  test("labelStar: a 200-node path (diameter 199) converges in <= 12 rounds " +
    "— edge rewiring, not per-hop propagation") {
    val n = 200
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    // label() would need 199 rounds here; the star algorithm's
    // O(log^2 n) bound means maxRounds = 12 must suffice
    val out = ConnectedComponents.labelStar(nodes, "id", edges, "a", "b",
        maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n && out.forall(_._2 == 0L))
  }

  test("labelStar equals a driver-side union-find on a seeded random graph, " +
    "and handles self-loops, duplicate and reversed edges") {
    val rnd = new scala.util.Random(42)
    val n = 120L
    val nodes = (0L until n).toDF("id")
    val base = (1 to 90).map(_ => (rnd.nextLong(n.toInt).abs % n, rnd.nextLong(n.toInt).abs % n))
    // add noise: self-loops, duplicates, reversed copies
    val noisy = base ++ base.take(10) ++ base.take(10).map(_.swap) ++ Seq((7L, 7L))
    val edges = noisy.toDF("a", "b")
    val truth = ConnectedComponentsSpec.components(noisy)
    val exact = (0L until n).map(i => i -> truth.getOrElse(i, i)).toMap
    val star = ConnectedComponents.labelStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === exact)
  }

  test("IncrementalAgg: base ⊕ delta equals the full re-aggregate, keys " +
    "outside the delta pass through, new delta keys appear") {
    val s = spark
    import s.implicits._
    val keys = Seq("k"); val ms = Seq("v")
    val base  = Seq(("a", 1L), ("a", 5L), ("b", 2L)).toDF("k", "v")
    val delta = Seq(("b", 7L), ("c", 4L)).toDF("k", "v")
    val inc = IncrementalAgg.refresh(
      IncrementalAgg.summarize(base, keys, ms), delta, keys, ms)
    val full = IncrementalAgg.summarize(base.unionByName(delta), keys, ms)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq).toSeq
    assert(rows(inc) === rows(full))
    val m = inc.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m("a") === ((2L, 6L, 1L, 5L)))  // untouched by delta
    assert(m("c") === ((1L, 4L, 4L, 4L)))  // new key from delta
  }

  test("Triangles: K4 gives 3 per node, paths give none, and the ordered " +
    "count equals the naive 3-join on a seeded random graph") {
    val s = spark
    import s.implicits._
    // K4 has C(4,3)=4 triangles, each node in exactly 3
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("u", "v")
    val m = Triangles.participation(k4, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("u", "v")
    assert(Triangles.participation(path, "u", "v").count() === 0)
    // random graph: total triangle count (participation sum / 3) must
    // equal the naive canonical 3-join
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("u", "v")
    val part = Triangles.participation(edges, "u", "v")
      .agg(sum($"n_triangles")).head().getLong(0)
    val e = edges.select($"u", $"v")
    val naive = e.as("e1")
      .join(e.as("e2"), $"e1.v" === $"e2.u")
      .join(e.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
      .count()
    assert(part === naive * 3, s"participation=$part naive=$naive")
  }

  test("PageRank: star center outranks leaves, mass is conserved up to " +
    "truncation drift, and ranks are partitioning-invariant") {
    val s = spark
    import s.implicits._
    // star: center 0, leaves 1..8, symmetrized
    val star = (1L to 8L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("u", "v")
    val nodes = (0L to 8L).toDF("id")
    val ranks = PageRank.ranksMicro(nodes, "id", star, "u", "v", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(0L) > ranks(1L) * 3, ranks.toString) // hub dominates
    assert((1L to 8L).map(ranks).distinct.size === 1) // leaves symmetric
    val total = ranks.values.sum
    // per round: <= 1 micro-unit truncation per donation edge + per node
    val maxDrift = 5L * (16 + 9 + 9)
    assert(total <= PageRank.Scale && total >= PageRank.Scale - maxDrift,
      s"mass $total vs ${PageRank.Scale}")
    val re = PageRank.ranksMicro(nodes.repartition(7), "id",
        star.repartition(5), "u", "v", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re === ranks) // exact integer arithmetic: bit-equal anywhere
  }

  test("IncrementalAgg sketches: base ⊕ delta estimate is BIT-EQUAL to the " +
    "full rebuild (register merge is exact), and close to exact distinct") {
    val s = spark
    import s.implicits._
    val base  = (1 to 3000).map(i => ("a", i % 700)) ++ (1 to 500).map(i => ("b", i))
    val delta = (1 to 2000).map(i => ("a", 400 + i % 900)) ++ (1 to 100).map(i => ("b", i * 3))
    val (bdf, ddf) = (base.toDF("k", "v"), delta.toDF("k", "v"))
    val inc = IncrementalAgg.estimateDistinct(
      IncrementalAgg.mergeDistinct(
        IncrementalAgg.summarizeDistinct(bdf, Seq("k"), "v"),
        IncrementalAgg.summarizeDistinct(ddf, Seq("k"), "v"), Seq("k")), Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = IncrementalAgg.estimateDistinct(
      IncrementalAgg.summarizeDistinct(bdf.unionByName(ddf), Seq("k"), "v"), Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc === full) // not approximately: identical sketches
    val exact = bdf.unionByName(ddf).groupBy("k").agg(countDistinct($"v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(inc(k) - n) <= n * 0.05 + 2, s"$k: est ${inc(k)} vs $n") }
  }

  test("MergeInto: updates overwrite only update columns, deletes remove, " +
    "inserts carry nulls elsewhere, untouched rows pass through") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, "ann", 10.0), (2L, "bob", 20.0), (3L, "cyd", 30.0))
      .toDF("id", "name", "bal")
    val source = Seq(
      (2L, Some(99.0), false),  // update bal only
      (3L, None, true),         // delete
      (9L, Some(5.0), false))   // insert
      .toDF("id", "bal", "del")
    val out = MergeInto.merge(target, source, Seq("id"), Seq("bal"), Some("del"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getDouble(2))).toSet
    assert(out === Set(
      (1L, Some("ann"), 10.0),   // untouched
      (2L, Some("bob"), 99.0),   // bal updated, name kept
      (9L, None, 5.0)))          // inserted; name null
  }

  test("MergeInto: a matched source row sets an update column to NULL " +
    "verbatim (SQL MERGE semantics, not coalesce-survival)") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, "ann", Option(10.0)), (2L, "bob", Option(20.0)))
      .toDF("id", "name", "bal")
    val source = Seq((2L, None: Option[Double], false)).toDF("id", "bal", "del")
    val out = MergeInto.merge(target, source, Seq("id"), Seq("bal"), Some("del"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out === Set((1L, "ann", Some(10.0)), (2L, "bob", None)))
  }

  test("MergeInto: a duplicate-key source fails loudly instead of " +
    "silently multiplying target rows") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, "ann", 10.0)).toDF("id", "name", "bal")
    val dupSource = Seq((1L, Some(99.0), false), (1L, Some(98.0), false))
      .toDF("id", "bal", "del")
    val ex = intercept[Exception] {
      MergeInto.merge(target, dupSource, Seq("id"), Seq("bal"), Some("del"))
        .collect()
    }
    // raise_error surfaces wrapped in SparkException; the message must
    // name the operator and the offending key
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m =>
      m != null && m.contains("MergeInto") && m.contains("key-unique")))
  }

  test("MergeInto: multiple NULL-key source rows are plain inserts, not a " +
    "key-uniqueness violation (the join never matches them)") {
    val s = spark
    import s.implicits._
    val target = Seq((Option(1L), "ann", 10.0)).toDF("id", "name", "bal")
    val src = Seq(
      (None: Option[Long], Some(5.0), false),
      (None: Option[Long], Some(6.0), false))
      .toDF("id", "bal", "del")
    val out = MergeInto.merge(target, src, Seq("id"), Seq("bal"), Some("del"))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getDouble(2))).toSet
    assert(out === Set((Some(1L), 10.0), (None, 5.0), (None, 6.0)))
  }

  test("MergeInto: a source carrying a reserved marker column is rejected " +
    "up front (withColumn would silently replace it)") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, 10.0)).toDF("id", "bal")
    val badSource = Seq((1L, 99.0, true)).toDF("id", "bal", "__sp")
    val ex = intercept[IllegalArgumentException] {
      MergeInto.merge(target, badSource, Seq("id"), Seq("bal"))
    }
    assert(ex.getMessage.contains("reserved"))
  }

  test("SaltedJoin spreads EXACT duplicate hot rows (empty-saltCols " +
    "position tiebreaker) and still equals the plain join") {
    val facts = (1 to 400).map(_ => ("hot", 1)).toDF("k", "v") // identical rows
    val dim = Seq(("hot", 7)).toDF("k", "code")
    // mirror of the operator's empty-saltCols salt: content hash alone
    // would put all 400 identical rows in ONE bucket; the position
    // tiebreaker must spread them
    val src = facts.columns.toSeq.map(col) :+ monotonically_increasing_id()
    val spread = facts.withColumn("__salt", pmod(xxhash64(src: _*), lit(4L)))
      .select("__salt").distinct().count()
    assert(spread > 1)
    assert(SaltedJoin.join(facts, dim, "k", 4).count() == 400)
  }

  test("labelStar: empty edge set labels every node with itself") {
    val nodes = Seq(3L, 8L, 11L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = ConnectedComponents.labelStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(3L -> 3L, 8L -> 8L, 11L -> 11L))
  }

  test("quality filters flag a degenerate repeated document") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "a varied document with many distinct tokens inside it")
    ).toDF("doc_id", "text")
    val tokens = split($"text", " ")
    val n = size(tokens)
    val topTf = array_max(transform(array_distinct(tokens),
      d => size(filter(tokens, t => t === d))))
    val out = docs.select($"doc_id", (topTf.cast("double") / n).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0 && out(2L) < 0.2)
  }

  test("pivot fills missing cells with zero (matches FILTER-count oracle)") {
    val out = Extended.q65.build(spark, sf)
    assert(Seq("F", "O", "P").forall(out.columns.contains))
    assert(out.na.drop().count() == out.count()) // no nulls survive the fill
  }

  test("subqueries decorrelate: physical plan contains no subquery loops") {
    Tables.registerAll(spark, sf)
    val plan = Extended.q66.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesianproduct"))
  }
}
