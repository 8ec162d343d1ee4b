package graft.queries

import graft.SparkSpecBase

/** Invariants for the retrieval/sketch/sampling family (q170-q174)
  * beyond the DuckDB value gate: the CMS overestimate guarantee, BM25
  * ordering, pps sample-size and weight-bias contracts, covariance
  * diagonal positivity, and the q173 top-k physical shape.
  */
class RetrievalSpec extends SparkSpecBase {

  test("q171 count-min estimate never undercounts (CMS guarantee)") {
    val rows = Retrieval.q171.build(spark, sf)
      .select("overcount").collect().map(_.getLong(0))
    assert(rows.nonEmpty)
    assert(rows.forall(_ >= 0L), "CMS min-of-counters fell below exact count")
  }

  test("q170 BM25 scores are positive and output is rank-ordered") {
    val scores = Retrieval.q170.build(spark, sf)
      .select("score_ppm").collect().map(_.getLong(0))
    assert(scores.nonEmpty)
    assert(scores.forall(_ > 0L))
    assert(scores.sameElements(scores.sortBy(-_)), "top-k not score-descending")
  }

  test("q172 chi-square keyness is non-negative, 5 rows per source") {
    val df = Retrieval.q172.build(spark, sf).cache()
    try {
      assert(df.select("chi2_micro").collect().map(_.getLong(0)).forall(_ >= 0L))
      val perSource = df.groupBy("source").count().collect().map(_.getLong(1))
      assert(perSource.forall(_ <= 5L))
    } finally df.unpersist()
  }

  test("q173 pps sample is exactly k and oversamples heavy orders") {
    val df = Retrieval.q173.build(spark, sf).cache()
    try {
      assert(df.count() === 100L)
      val sampleMean = df.agg(org.apache.spark.sql.functions.avg("w_cents"))
        .collect()(0).getDouble(0)
      val popMean = graft.core.Tables(spark, sf, "orders")
        .selectExpr("avg(o_totalprice * 100) AS m").collect()(0).getDouble(0)
      // πps inclusion is weight-proportional: the fixed-hash draw must
      // land a heavier-than-average sample (deterministic, so pinnable)
      assert(sampleMean > popMean,
        s"pps sample mean $sampleMean not above population mean $popMean")
    } finally df.unpersist()
  }

  test("q173 plan is a global top-k (TakeOrderedAndProject), not a full sort") {
    val plan = Retrieval.q173.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k heap plan, got:\n$plan")
  }

  test("q174 covariance diagonal is non-negative (variances)") {
    import spark.implicits._
    val diag = Retrieval.q174.build(spark, sf)
      .filter($"i" === $"j").select("cov_micro").collect().map(_.getLong(0))
    assert(diag.length === 64)
    assert(diag.forall(_ >= 0L), "negative variance on the diagonal")
  }

  test("q174 empty corpus yields an EMPTY frame, not 2080 NaN-cast-to-0 " +
    "rows (ADVICE r6: global Aggregator zero-buffer vs DuckDB's zero " +
    "grouped rows)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Retrieval.covarianceMicro(spark, empty).count() === 0L)
    // and the populated path still unfolds the full upper triangle
    val one = Seq((1L, Seq.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(Retrieval.covarianceMicro(spark, one).count() === 2080L)
  }

  test("q301 cursor law: an ALL-TIES page boundary paginates by doc_id " +
    "with no skip and no repeat (the case offset-free paging must get " +
    "right)") {
    import spark.implicits._
    val scored = ((1L to 25L).map(i => (i, 5000L)) ++
      Seq((100L, 9000L), (101L, 1000L))).toDF("doc_id", "score_ppm")
    val pages = Retrieval.searchAfterPages(scored, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // global order: (100, 9000), then the 5000-ties by doc_id 1..25;
    // the page boundary falls INSIDE the tie run
    val want = ((100L, 9000L) +: (1L to 19L).map(i => (i, 5000L)))
      .zipWithIndex.map { case ((d, s), i) =>
        ((i / 10 + 1).toLong, (i % 10 + 1).toLong, d, s)
      }
    assert(pages == want, "cursor skipped or repeated a tied row")
  }

  test("q309/q310 composition law: the failover MATCH SET equals the " +
    "single-store one for EVERY choice of failed node, and an empty " +
    "cursor frame still pages") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables(spark, sf, "documents")
    val rep = graft.operators.ReplicatedIndex.build(docs, nShards = 4)
    val qTerms = Seq("merge", "dup", "vector")
    def matchSet(sel: org.apache.spark.sql.DataFrame): Set[Long] = {
      import spark.implicits._
      sel.filter($"term".isin(qTerms: _*))
        .select($"term", $"df", $"bytes")
        .as[(String, Int, Array[Byte])]
        .flatMap { case (t, df, bytes) =>
          graft.operators.PostingCodec.decode(bytes, df)
            .getOrElse(sys.error(s"corrupt block '$t'")).map(_._1)
        }.collect().toSet
    }
    val single = matchSet(rep.primaryStore
      .select(col("shard").as("node"), col("term"), col("bucket"),
        col("df"), col("bytes")))
    assert(single.nonEmpty)
    for (x <- 0L until 4L)
      assert(matchSet(graft.operators.ReplicatedRows
        .failoverServing(rep.primaryStore, rep.replicaStore, x)) === single,
        s"failover of node $x changed the match set")
    // the ADVICE-r16 guard: no hits -> two empty pages, no crash
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "score_ppm")
    assert(Retrieval.searchAfterPages(empty, 10).count() === 0L)
  }
}
