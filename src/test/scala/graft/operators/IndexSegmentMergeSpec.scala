package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** X109d segment-merge pins: merged segments equal a from-scratch
  * build BYTE FOR BYTE even when the segments' doc ids interleave
  * inside one bucket; the fold absorbs any segment count; overlapping
  * doc ids (a posting stored twice) throw instead of silently
  * double-counting.
  */
class IndexSegmentMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def store(rows: Seq[(Long, String)]) =
    graft.queries.Text.postingStore(rows.toDF("doc_id", "text"))

  private def bytesByKey(df: org.apache.spark.sql.DataFrame) = df
    .collect()
    .map(r => (r.getString(0), r.getLong(1)) ->
      (r.getInt(2), r.getAs[Array[Byte]]("bytes").toSeq)).toMap

  // 'hot' in every doc; even/odd ids interleave within bucket 0
  private val corpus = (0L until 150L).map(i => (i, s"hot w$i hot"))

  test("merge(base, delta) == from-scratch build, byte for byte, with " +
    "interleaved doc ids across segments") {
    val base = store(corpus.filter(_._1 % 2 == 0))
    val delta = store(corpus.filter(_._1 % 2 == 1))
    val merged = bytesByKey(PostingBlocks.merge(Seq(base, delta)))
    val full = bytesByKey(store(corpus))
    assert(merged === full)
  }

  test("three-way fold: merge(merge(a, b), c) == full build") {
    val a = store(corpus.filter(_._1 % 3 == 0))
    val b = store(corpus.filter(_._1 % 3 == 1))
    val c = store(corpus.filter(_._1 % 3 == 2))
    val merged = bytesByKey(
      PostingBlocks.merge(Seq(PostingBlocks.merge(Seq(a, b)), c)))
    assert(merged === bytesByKey(store(corpus)))
  }

  test("overlapping doc ids between segments THROW (a merge must never " +
    "silently duplicate a posting)") {
    val base = store(corpus)
    val dup = store(corpus.take(5)) // same docs again
    val e = intercept[Exception] {
      PostingBlocks.merge(Seq(base, dup)).collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).map(_.toString).mkString(" | ")
    assert(chain.contains("overlapping doc ids"), chain)
  }

  test("a corrupt block in a merging (node, origin)-keyed group THROWS, " +
    "naming its keys, term and bucket; a frame off the block layout " +
    "fails before any job runs") {
    def seg(ids: Long => Boolean) = graft.queries.Text.postingStore(
      corpus.filter(d => ids(d._1)).map { case (id, t) => (2L, 1L, id, t) }
        .toDF("node", "origin", "doc_id", "text"), "node", "origin")
    // set the continuation bit of the odd segment's 'hot'/0 block's last
    // byte: the final varint runs off the end of the stream
    val bad = seg(_ % 2 == 1)
      .as[(Long, Long, String, Long, Int, Array[Byte])]
      .map { case (n, o, t, b, df, bytes) =>
        if (t == "hot" && b == 0L) bytes(bytes.length - 1) =
          (bytes(bytes.length - 1) | 0x80).toByte
        (n, o, t, b, df, bytes)
      }.toDF("node", "origin", "term", "bucket", "df", "bytes")
    val e = intercept[Exception] {
      PostingBlocks.merge(Seq(seg(_ % 2 == 0), bad)).collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).toSeq
    val ise = chain.collectFirst { case x: IllegalStateException => x }
    assert(ise.isDefined, chain.map(_.toString).mkString(" | "))
    assert(ise.get.getMessage ===
      "corrupt block node=2 origin=1 term='hot' bucket=0")
    // a stray String column is not a Long key: the layout require fails
    // while merge builds its plan, with no action called
    val stray = seg(_ % 2 == 0).withColumn("tag", lit("x"))
    val layout = intercept[IllegalArgumentException] {
      PostingBlocks.merge(Seq(stray, seg(_ % 2 == 1)))
    }
    assert(layout.getMessage.contains("expected (Long keys"), layout.getMessage)
  }
}
