package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** X115b pins: (1) the maintained ≡ rebuilt law — the surgically
  * resharded store equals a from-scratch build over the grown ring,
  * byte for byte, at two different ring sizes; (2) the consistent-
  * hashing guarantee the surgery rests on — every mover's new shard
  * is THE new shard (wrap-around included); (3) the movement bound —
  * the ring moves a ~1/(S+1) minority, never the ~all a modulo
  * reshard forces (q162's measured contrast, here pinned on the
  * index's own assignment).
  */
class IndexReshardSpec extends SparkSpecBase {
  import spark.implicits._

  private val corpus = (0L until 400L).map { i =>
    val body = Seq.fill(3 + (i % 9).toInt)(s"w${i % 23}") ++
      (if (i % 4 == 0) Seq("alpha", "beta") else Seq(s"t${i % 5}"))
    (i, body.mkString(" "))
  }

  private def storeMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getLong(0), r.getString(1), r.getLong(2)) ->
        (r.getInt(3), r.getAs[Array[Byte]](4).toSeq)
    }.toMap

  test("maintained newStore == from-scratch grown-ring build, byte for byte") {
    val docs = corpus.toDF("doc_id", "text")
    for (s0 <- Seq(2, 3)) {
      val r = IndexReshard.reshard(docs, s0)
      val maintained = storeMap(r.newStore)
      // from scratch: assign at s0+1 straight off the reshard's own
      // assignment frame (shard_new IS the grown-ring assignment)
      val rebuilt = storeMap(graft.queries.Text.postingStore(
        r.assignments.join(docs, "doc_id")
          .select($"shard_new".as("shard"), $"doc_id", $"text"), "shard"))
      assert(maintained == rebuilt, s"reshard $s0 -> ${s0 + 1} diverged")
    }
  }

  test("movers land ONLY on the new shard (consistent-hashing law)") {
    val docs = corpus.toDF("doc_id", "text")
    val moved = IndexReshard.reshard(docs, 3).assignments
      .filter($"shard_old" =!= $"shard_new")
      .select($"shard_new").distinct().collect().map(_.getLong(0))
    assert(moved.nonEmpty && moved.toSeq == Seq(3L),
      s"movers must all land on shard 3, got ${moved.mkString(",")}")
  }

  test("shrink: maintained newStore == from-scratch drained-ring build, " +
    "byte for byte (q295's law, two ring sizes)") {
    val docs = corpus.toDF("doc_id", "text")
    for (s0 <- Seq(3, 4)) {
      val r = IndexReshard.shrinkReshard(docs, s0)
      val maintained = storeMap(r.newStore)
      val rebuilt = storeMap(graft.queries.Text.postingStore(
        r.assignments.join(docs, "doc_id")
          .select($"shard_new".as("shard"), $"doc_id", $"text"), "shard"))
      assert(maintained == rebuilt, s"shrink $s0 -> ${s0 - 1} diverged")
    }
  }

  test("shrink movers come ONLY from the drained shard; every survivor's " +
    "assignment is untouched; the drained shard fully evacuates") {
    val docs = corpus.toDF("doc_id", "text")
    val a = IndexReshard.shrinkReshard(docs, 4).assignments
    val moved = a.filter($"shard_old" =!= $"shard_new")
    assert(moved.count() > 0, "nothing moved — corpus missed shard 3?")
    assert(moved.filter($"shard_old" =!= 3L).count() === 0L,
      "a non-drained doc moved: consistent hashing violated")
    assert(a.filter($"shard_new" === 3L).count() === 0L,
      "a doc still assigned to the drained shard")
  }

  test("grow then shrink round-trips the store byte for byte") {
    val docs = corpus.toDF("doc_id", "text")
    val g = IndexReshard.reshard(docs, 3)
    val (_, back) = IndexReshard.shrink(
      g.newStore, docs.select($"doc_id"), 4)
    assert(storeMap(back) == storeMap(g.oldStore),
      "shrink(grow(store)) != store")
  }

  test("the ring moves a minority, never the modulo-reshard majority") {
    val docs = corpus.toDF("doc_id", "text")
    val a = IndexReshard.reshard(docs, 3).assignments
    val total = a.count().toDouble
    val movedRing = a.filter($"shard_old" =!= $"shard_new").count() / total
    val movedMod = docs
      .select((col("doc_id") % 3).as("o"), (col("doc_id") % 4).as("n"))
      .filter($"o" =!= $"n").count() / total
    assert(movedRing > 0.02 && movedRing < 0.5,
      s"ring movement $movedRing outside the ~1/(S+1) band")
    assert(movedRing < movedMod,
      s"ring ($movedRing) must beat modulo ($movedMod)")
  }
}
