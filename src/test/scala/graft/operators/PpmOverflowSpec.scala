package graft.operators

import graft.SparkSpecBase
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** The ppm/micros arithmetic scale contract (VERDICT r14 "What's wrong
  * #1"): every reaper/scoring trigger that multiplies a token/row-count
  * SUM by 10⁶ must survive counts at the declared 100 TB design point
  * (~10¹³–10¹⁴ tokens; the fixtures below use ~2⁶²-scale counts, past
  * anything a BIGINT ×10⁶ can hold). The fix is DECIMAL(38,0) sums —
  * exact, with the quotient floored back to BIGINT, so every result at
  * tested SFs is bit-identical to the old BIGINT path. These tests run
  * under ANSI mode (Spark 4's default), where the old arithmetic THROWS
  * instead of silently corrupting — the negative control proves the
  * fixture actually exercises the overflow.
  */
class PpmOverflowSpec extends SparkSpecBase {
  import spark.implicits._

  private val big = 1L << 62  // 4.6e18: one ×10⁶ away from > Long.Max
  private val half = 1L << 61 // for fixtures whose SIBLING sum must fit

  private def withAnsi[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private def messageChain(t: Throwable): String = {
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
  }

  test("negative control: the old BIGINT ppm arithmetic overflows at " +
    "2^62-scale counts under ANSI (proves the fixture hits the edge)") {
    withAnsi {
      val ledger = Seq((big, big)).toDF("freed_tokens", "live_tokens")
      val e = intercept[Exception] {
        ledger.agg(expr("sum(freed_tokens) * 1000000 div " +
          "(sum(live_tokens) + sum(freed_tokens))")).head()
      }
      val msg = messageChain(e).toLowerCase
      assert(msg.contains("overflow") || msg.contains("arithmetic"),
        s"expected an overflow failure, got: $msg")
    }
  }

  test("GenerationRollover.deadFractionPpm survives 2^62-scale token " +
    "counts (incl. a BIGINT-overflowing sum) and floors exactly") {
    withAnsi {
      // two bins of 2^62 freed each: the SUM alone (2^63) overflows
      // BIGINT — the decimal cast must sit inside the sum, not after it
      val ledger = Seq((big, big), (big, big))
        .toDF("freed_tokens", "live_tokens")
      assert(GenerationRollover.deadFractionPpm(ledger) === 500000L)
      // asymmetric: freed=2^61, live=3*2^61 -> floor(1e6/4) = 250000
      val l2 = Seq((half, 3 * half)).toDF("freed_tokens", "live_tokens")
      assert(GenerationRollover.deadFractionPpm(l2) === 250000L)
      // small counts: bit-identical to the old BIGINT path
      val l3 = Seq((1L, 2L)).toDF("freed_tokens", "live_tokens")
      assert(GenerationRollover.deadFractionPpm(l3) === 333333L)
      assert(GenerationRollover.deadFractionPpm(
        l3.filter(lit(false))) === 0L)
    }
  }

  test("IvfPqIndex.deadFractionPpm survives 2^62-scale row counts") {
    withAnsi {
      val stats = Seq((big, big), (big, big)).toDF("n_deleted", "n_live")
      assert(IvfPqIndex.deadFractionPpm(stats) === 500000L)
      assert(IvfPqIndex.deadFractionPpm(
        Seq((1L, 9L)).toDF("n_deleted", "n_live")) === 100000L)
    }
  }

  test("GraphAnn.lostFractionPpm survives 2^62-scale edge counts") {
    withAnsi {
      val ledger = Seq((half, 2 * half), (half, 2 * half))
        .toDF("n_lost", "n_before")
      assert(GraphAnn.lostFractionPpm(ledger) === 500000L)
      assert(GraphAnn.lostFractionPpm(
        Seq((1L, 3L)).toDF("n_lost", "n_before")) === 333333L)
    }
  }

  test("BigramLm.score survives corpus-scale model counts (cb/ch/cu/n " +
    "~2^62) in both the bigram and the unigram-backoff branch") {
    withAnsi {
      // doc 1: bigram (a,b) in the model (cb=2^62, ch=2^62 -> 1e6);
      //        bigram (c,d) backs off to unigram d (cu=2^61, n=2^62
      //        -> 200000)
      val bigr = Seq((1L, "a", "b"), (1L, "c", "d"))
        .toDF("doc_id", "w1", "w2")
      val lm = BigramLm.Lm(
        bg = Seq(("a", "b", big)).toDF("bw1", "bw2", "cb"),
        hd = Seq(("a", big), ("c", big)).toDF("hw1", "ch"),
        uni = Seq(("b", half), ("d", half)).toDF("uw", "cu"),
        nn = Seq(Tuple1(big)).toDF("n"))
      val row = BigramLm.score(bigr, "doc_id", lm).head()
      assert(row.getAs[Long]("n_big") === 2L)
      // ss = 1e6 + 200000 -> coherence (1e6+2e5) div 2 = 600000
      assert(row.getAs[Long]("coherence_ppm") === 600000L)
      assert(row.getAs[Long]("backoff_ppm") === 500000L)
      assert(row.getAs[Long]("oov_ppm") === 0L)
    }
  }

  test("QualityClassifier.weightsFrom survives 2^50-per-token / " +
    "2^62-total counts (the 10^6*np*(Nn+V) triple product)") {
    withAnsi {
      // np=2^50, nn=2^49-1: the weight stays ppm-scale (ratio ~2) but
      // the intermediate 1e6*(np+1)*(tnn+v) ~ 2.6e36 is ~10^17 past
      // Long.Max — only DECIMAL(38,0) holds it
      val perTok = 1L << 50
      val cnt = Seq(("hot", perTok, (1L << 49) - 1)).toDF("t", "np", "nn")
      val tot = Seq((1L << 51, 1L << 51, 2L)).toDF("tnp", "tnn", "v")
      // wc = 1e6*(2^50+1)*(2^51+2) div (2^49*(2^51+2)) - 1e6
      //    = 1e6*(2^50+1) div 2^49 - 1e6 = 2000000 - 1000000
      val got = QualityClassifier.weightsFrom(cnt, tot)
        .head().getAs[Long]("wc")
      assert(got === 1000000L)
      // small counts: identical to the BIGINT formula
      val cnt2 = Seq(("x", 3L, 1L)).toDF("t", "np", "nn")
      val tot2 = Seq((10L, 5L, 4L)).toDF("tnp", "tnn", "v")
      val got2 = QualityClassifier.weightsFrom(cnt2, tot2)
        .head().getAs[Long]("wc")
      assert(got2 === (1000000L * 4 * 9) / (2 * 14) - 1000000L)
    }
  }

  test("StreamOps.finishDrift survives 2^62-scale window counts " +
    "(incl. a BIGINT-overflowing window total)") {
    withAnsi {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val counts = Seq((t0, "a", big), (t0, "b", big))
        .toDF("win_start", "k", "n")
      val baseline = Seq(("a", 500000L), ("b", 400000L))
        .toDF("k", "base_ppm")
      val rows = StreamOps.finishDrift(counts, "k", baseline)
        .orderBy("k").collect()
      assert(rows.map(_.getAs[Long]("obs_ppm")).toSeq === Seq(500000L,
        500000L))
      assert(rows.map(_.getAs[Long]("drift_ppm")).toSeq === Seq(0L,
        100000L))
    }
  }

  // the BM25 contribution at 2^40 docs: the numerator passes 2^63 while
  // the floored quotient still fits a BIGINT; small rows take the
  // BIGINT branch and must equal the plain BIGINT form bit for bit
  private val nDocs = 1L << 40
  private val flatBigint = expr(
    """(22 * tf * adl * (2 * n_docs - 2 * df + 1) * 1000000)
       DIV ((10 * tf * adl + 3 * adl + 9 * dl) * (2 * df + 1))""")
  private val fieldedBigint = expr(
    """(22 * (2 * tf_t + tf_b) * awdl * (2 * n_docs - 2 * df + 1) * 1000000)
       DIV ((10 * (2 * tf_t + tf_b) * awdl + 3 * awdl
             + 9 * (2 * lt + lb)) * (2 * df + 1))""")
  private def overflows(body: => Any): Unit = {
    val msg = messageChain(intercept[Exception](body)).toLowerCase
    assert(msg.contains("overflow") || msg.contains("arithmetic"),
      s"expected an overflow failure, got: $msg")
  }

  test("Bm25.contrib survives 2^40-scale n_docs (the 22·tf·adl·" +
    "(2N−2df+1)·10⁶ numerator past 2^63) and floors exactly") {
    withAnsi {
      val cols = Seq("tf", "dl", "df", "n_docs", "adl")
      val row = Seq((3L, 120L, 7L, nDocs, 100L)).toDF(cols: _*)
      val want = BigInt(22) * 3 * 100 * (BigInt(nDocs) * 2 - 2 * 7 + 1) *
        1000000 / ((BigInt(10) * 3 * 100 + 3 * 100 + 9 * 120) * (2 * 7 + 1))
      assert(want === BigInt("220906445761908675"))
      assert(row.select(Bm25.contrib).head().getLong(0) === want.toLong)
      // negative control: the BIGINT form overflows on the same row
      overflows(row.select(flatBigint).head())
      val small = Seq((3L, 120L, 7L, 1000L, 100L)).toDF(cols: _*)
      assert(small.select(Bm25.contrib).head().getLong(0) ===
        small.select(flatBigint).head().getLong(0))
    }
  }

  test("Bm25.Fielded.contrib survives 2^40-scale n_docs and floors " +
    "exactly") {
    withAnsi {
      val cols = Seq("tf_t", "tf_b", "lt", "lb", "df", "n_docs", "awdl")
      val row = Seq((1L, 2L, 5L, 95L, 11L, nDocs, 150L)).toDF(cols: _*)
      // wtf = 2·1 + 2 = 4, wdl = 2·5 + 95 = 105
      val want = BigInt(22) * 4 * 150 * (BigInt(nDocs) * 2 - 2 * 11 + 1) *
        1000000 / ((BigInt(10) * 4 * 150 + 3 * 150 + 9 * 105) * (2 * 11 + 1))
      assert(want === BigInt("170662356898075668"))
      assert(row.select(Bm25.Fielded.contrib).head().getLong(0) ===
        want.toLong)
      overflows(row.select(fieldedBigint).head())
      val small = Seq((1L, 2L, 5L, 95L, 11L, 1000L, 150L)).toDF(cols: _*)
      assert(small.select(Bm25.Fielded.contrib).head().getLong(0) ===
        small.select(fieldedBigint).head().getLong(0))
    }
  }
}
