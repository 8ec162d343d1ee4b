package graft.operators

import graft.SparkSpecBase

/** X109g takedown pins: untouched buckets' blocks pass through
  * byte-identical WITHOUT re-coding; emptied blocks vanish; unknown
  * ids are no-ops; sequential takedowns compose to the union; and the
  * headline law — takedown(store, dead) == from-scratch build over
  * the survivors, byte for byte.
  */
class PostingsTakedownSpec extends SparkSpecBase {
  import spark.implicits._

  private def store(rows: Seq[(Long, String)]) =
    graft.queries.Text.postingStore(rows.toDF("doc_id", "text"))

  private def bytesByKey(df: org.apache.spark.sql.DataFrame) = df
    .collect()
    .map(r => (r.getString(0), r.getLong(1)) ->
      (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap

  // 3 buckets; 'hot' everywhere, per-doc words vary
  private val corpus = (0L until 250L).map(i => (i, s"hot w${i % 9} hot"))

  test("maintained == rebuilt over survivors, byte for byte; emptied " +
    "blocks vanish") {
    val dead = corpus.map(_._1).filter(_ % 3 == 1)
    val got = bytesByKey(PostingBlocks.drop(
      store(corpus), dead.toDF("doc_id")))
    val want = bytesByKey(store(corpus.filterNot(d => d._1 % 3 == 1)))
    assert(got === want)
    // kill bucket 0 entirely: every (term, bucket=0) block vanishes
    val all0 = bytesByKey(PostingBlocks.drop(
      store(corpus), (0L until 100L).toDF("doc_id")))
    assert(all0.keys.forall(_._2 != 0L))
    assert(all0 === bytesByKey(store(corpus.filter(_._1 >= 100L))))
  }

  test("untouched buckets pass through byte-identical; unknown ids are " +
    "no-ops") {
    val base = store(corpus)
    val baseBytes = bytesByKey(base)
    // dead ids only in bucket 1 -> bucket 0 and 2 blocks unchanged
    val got = bytesByKey(PostingBlocks.drop(base, Seq(150L).toDF("doc_id")))
    for ((k, v) <- baseBytes if k._2 != 1L)
      assert(got(k) === v, s"untouched block $k changed")
    // ids that never existed: the store is unchanged entirely
    val noop = bytesByKey(PostingBlocks.drop(base, Seq(9999L).toDF("doc_id")))
    assert(noop === baseBytes)
  }

  test("sequential takedowns compose to the union") {
    val a = corpus.map(_._1).filter(_ % 5 == 0)
    val b = corpus.map(_._1).filter(_ % 7 == 0)
    val seq2 = bytesByKey(PostingBlocks.drop(
      PostingBlocks.drop(store(corpus), a.toDF("doc_id")), b.toDF("doc_id")))
    val union = bytesByKey(PostingBlocks.drop(
      store(corpus), (a ++ b).toDF("doc_id")))
    assert(seq2 === union)
  }

  test("corrupt block in a TOUCHED bucket throws loud") {
    val bad = store(corpus).withColumn("bytes",
      org.apache.spark.sql.functions.expr(
        "CASE WHEN bucket = 0 THEN concat(bytes, X'00') ELSE bytes END"))
    val e = intercept[Exception] {
      PostingBlocks.drop(bad, Seq(5L).toDF("doc_id")).collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).map(_.toString).mkString(" | ")
    assert(chain.contains("corrupt block"), chain)
  }
}
