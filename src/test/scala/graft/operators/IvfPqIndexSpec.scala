package graft.operators

import graft.SparkSpecBase
import graft.core.Barriers._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IvfPqIndex (X97/q222): the incremental-ANN maintenance law —
  * appending under a frozen model must be BIT-IDENTICAL to assigning +
  * encoding the full corpus under that same frozen model and
  * restricting to the delta (q213/q139's maintained ≡ rebuilt, ANN
  * member). Plus the retrain-trigger instrumentation contract.
  */
class IvfPqIndexSpec extends SparkSpecBase {

  private def frozenModel(dir: String): (DataFrame, DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables(s, dir, "embeddings")
    val frozen = emb.filter($"vec_id" < 384)
    val (_, cents) =
      KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2)
    val sub = ProductQuantizer
      .subVectors(frozen, "vec_id", "embedding", m = 8, subDims = 8)
    val books = ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2)
    (emb, cents.barrier(), books.barrier())
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, String)] =
    df.select(col("vec_id"), col("cell"), col("cell_dist"),
        concat_ws(",", col("codes")).as("cs"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSet

  test("maintained == rebuilt-then-restricted, hash-equal at two extra " +
    "scale factors (the driver oracle covers the third)") {
    val s = spark
    import s.implicits._
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val (emb, cents, books) = frozenModel(dir)
      val delta = emb.filter($"vec_id" >= 384)
      val maintained = IvfPqIndex.appendToIndex(
        delta, "vec_id", "embedding", cents, books, m = 8, subDims = 8)
      // rebuilt: the SAME frozen model applied to the FULL corpus, then
      // restricted — the oracle's definition, replayed engine-side
      val rebuilt = IvfPqIndex.appendToIndex(
          emb, "vec_id", "embedding", cents, books, m = 8, subDims = 8)
        .filter($"vec_id" >= 384)
      assert(rows(maintained) === rows(rebuilt), s"law broken at $dir")
      assert(rows(maintained).nonEmpty)
    }
  }

  test("takedown (q234): removeFromIndex live rows == index built on " +
    "corpus-minus-deleted under the same frozen model, stats account " +
    "for every row, and a fully-deleted cell drains to n_live = 0") {
    val s = spark
    import s.implicits._
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val (emb, cents, books) = frozenModel(dir)
      val index = IvfPqIndex.appendToIndex(
        emb, "vec_id", "embedding", cents, books, m = 8, subDims = 8).barrier()
      val deleted = emb.select($"vec_id").filter($"vec_id" % 13 === 5)
      val (live, stats) = IvfPqIndex.removeFromIndex(index, "vec_id", deleted)
      // maintained == rebuilt-minus-deleted (the DELETE half of the law)
      val rebuilt = IvfPqIndex.appendToIndex(
          emb.filter($"vec_id" % 13 =!= 5), "vec_id", "embedding",
          cents, books, m = 8, subDims = 8)
      assert(rows(live) === rows(rebuilt), s"DELETE law broken at $dir")
      assert(rows(live).nonEmpty)
      // stats conservation: per cell, n_live + n_deleted == original size
      val before = index.groupBy($"cell").agg(count(lit(1)).as("n0"))
      val bad = stats.join(before, "cell")
        .filter($"n_live" + $"n_deleted" =!= $"n0")
      assert(bad.isEmpty, s"stats do not conserve at $dir")
      val liveByCell = live.groupBy($"cell").agg(count(lit(1)).as("nl"))
      val bad2 = stats.join(liveByCell, Seq("cell"), "left_outer")
        .filter($"n_live" =!= coalesce($"nl", lit(0L)))
      assert(bad2.isEmpty, s"n_live disagrees with the live rows at $dir")
    }
    // drained cell: delete EVERY member of one cell on the small SF
    val (emb, cents, books) = frozenModel("/root/testdata/sf0.001")
    val index = IvfPqIndex.appendToIndex(
      emb, "vec_id", "embedding", cents, books, m = 8, subDims = 8).barrier()
    val firstCell = index.select($"cell").orderBy($"cell").head().getInt(0)
    val toDrop = index.filter($"cell" === firstCell).select($"vec_id")
    val (live2, stats2) = IvfPqIndex.removeFromIndex(index, "vec_id", toDrop)
    assert(live2.filter($"cell" === firstCell).isEmpty)
    val drained = stats2.filter($"cell" === firstCell).head()
    assert(drained.getLong(drained.fieldIndex("n_live")) === 0L)
  }

  test("append is pointwise: appending the delta in two sub-batches " +
    "yields the same index rows as one batch (order-free, the property " +
    "that makes daily shard landings composable)") {
    val s = spark
    import s.implicits._
    val (emb, cents, books) = frozenModel(sf)
    def app(df: org.apache.spark.sql.DataFrame) = IvfPqIndex
      .appendToIndex(df, "vec_id", "embedding", cents, books, m = 8, subDims = 8)
    val oneShot = rows(app(emb.filter($"vec_id" >= 384)))
    val split = rows(app(emb.filter($"vec_id" >= 384 && $"vec_id" < 440))) ++
      rows(app(emb.filter($"vec_id" >= 440)))
    assert(split === oneShot)
  }

  test("residual index (IVFADC, q224): maintained == rebuilt-then-" +
    "restricted under the frozen coarse cells + frozen residual codebooks") {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables(s, sf, "embeddings")
    val frozen = emb.filter($"vec_id" < 384)
    val (coarse, cents) =
      KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2)
    val rv = ProductQuantizer
      .residuals(frozen, "vec_id", "embedding", coarse, cents)
    val rbooks = ProductQuantizer.trainCodebooks(
      ProductQuantizer.subVectorsQ(rv.select($"vec_id", $"xq"),
        "vec_id", m = 8, subDims = 8),
      "vec_id", k = 4, rounds = 2).barrier()
    val centsB = cents.barrier()
    def app(df: org.apache.spark.sql.DataFrame) = IvfPqIndex
      .appendToResidualIndex(df, "vec_id", "embedding", centsB, rbooks,
        m = 8, subDims = 8)
    val maintained = rows(app(emb.filter($"vec_id" >= 384)))
    val rebuilt = rows(app(emb).filter($"vec_id" >= 384))
    assert(maintained === rebuilt)
    assert(maintained.nonEmpty)
  }

  test("retrain-trigger instrumentation: delta mean cell_dist is " +
    "comparable to the frozen corpus's own assignment distortion on " +
    "stationary data (the monitored ratio the scaladoc documents)") {
    val s = spark
    import s.implicits._
    val (emb, cents, books) = frozenModel(sf)
    def meanDist(df: org.apache.spark.sql.DataFrame): Double = {
      val a = IvfPqIndex.appendToIndex(df, "vec_id", "embedding",
        cents, books, m = 8, subDims = 8)
      val r = a.agg(sum($"cell_dist").cast("double"), count(lit(1))).head()
      r.getDouble(0) / r.getLong(1)
    }
    val frozenMean = meanDist(emb.filter($"vec_id" < 384))
    val deltaMean = meanDist(emb.filter($"vec_id" >= 384))
    // stationary testdata: the ratio stays far below any retrain
    // threshold; a drifted delta would push it over ~1.5
    assert(deltaMean / frozenMean < 1.5,
      s"stationary delta reads as drifted: $deltaMean vs $frozenMean")
  }

  test("a trainCodebooks round costs exactly one Spark job") {
    val s = spark
    import s.implicits._
    val sub = ProductQuantizer.subVectors(
      graft.core.Tables(s, sf, "embeddings").filter($"vec_id" < 384),
      "vec_id", "embedding", m = 8, subDims = 8)
    def jobs(rounds: Int): Int =
      withJobCount(ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds))._2
    assert(jobs(2) - jobs(1) === 1)
  }

  test("trainCodebooks is invariant under input partitioning") {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables(s, sf, "embeddings").filter($"vec_id" < 384)
    def run(df: DataFrame) = ProductQuantizer.trainCodebooks(
        ProductQuantizer.subVectors(df, "vec_id", "embedding", m = 8, subDims = 8),
        "vec_id", k = 4, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSet
    assert(run(emb.repartition(1)) === run(emb.repartition(7)))
  }

  test("appendToIndex is a pointwise projection: no Exchange in its plan") {
    val s = spark
    import s.implicits._
    val (emb, cents, books) = frozenModel(sf)
    val plan = IvfPqIndex.appendToIndex(emb.filter($"vec_id" >= 384),
        "vec_id", "embedding", cents, books, m = 8, subDims = 8)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.isEmpty, plan.toString)
  }
}
