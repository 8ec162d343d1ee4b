package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** X110b Block-Max WAND pins: (1) the skip law — on a skewed corpus
  * whole buckets are never decoded, and every skipped bucket's upper
  * bound sits strictly below θ; (2) exactness — the pruned ranking
  * equals the exhaustive from-raw-text ranking row for row, including
  * on a corpus where the seeds hold fewer than k docs (θ degrades to
  * MinValue and nothing is pruned, never the other failure mode);
  * (3) soundness of the bound itself — no doc's true score exceeds
  * its bucket's ub.
  */
class BlockMaxSpec extends SparkSpecBase {
  import spark.implicits._

  // 10 buckets × 100 docs. Bucket 0 is HOT: docs stuffed with the query
  // terms (high tf, short dl). Everywhere else the terms appear once,
  // diluted by filler — low contribution, so their buckets' ub falls
  // below the θ seeded from bucket 0.
  private val qTerms = Seq("alpha", "beta")
  private val corpus = (0L until 1000L).map { i =>
    val txt =
      if (i < 100) "alpha beta alpha beta alpha beta alpha beta"
      else ("alpha beta " + Seq.fill(60)(s"w${i % 7}").mkString(" "))
    (i, txt)
  }

  private def exhaustive(k: Int) = {
    val docs = corpus.toDF("doc_id", "text")
    val toks = docs.select($"doc_id",
      size(split($"text", " ")).cast("long").as("dl"),
      explode(split($"text", " ")).as("term"))
    val hits = toks.filter($"term".isin(qTerms: _*))
    val tf = hits.groupBy($"doc_id", $"term", $"dl").agg(count(lit(1)).as("tf"))
    val dfreq = hits.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).cast("long").as("n_docs"),
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

  test("skip law: whole buckets are never decoded, and every skipped " +
    "bucket's ub < θ") {
    val p = BlockMaxWand.probe(corpus.toDF("doc_id", "text"), qTerms, k = 20)
    val total = p.bucketUb.count()
    val decoded = p.seeds.count() + p.survivors.count()
    assert(total === 10L)
    assert(decoded < total, s"expected skips, decoded $decoded of $total")
    val theta = p.theta.collect().head.getLong(0)
    assert(theta > Long.MinValue, "seeds held >= k docs, so θ is real")
    val skipped = p.bucketUb
      .join(p.seeds, Seq("bucket"), "left_anti")
      .join(p.survivors, Seq("bucket"), "left_anti")
    assert(skipped.count() === total - decoded)
    assert(skipped.filter($"ub_ppm" >= theta).count() === 0L,
      "every skipped bucket must be provably below θ")
  }

  test("exactness: pruned top-k == exhaustive from-raw-text top-k") {
    val p = BlockMaxWand.probe(corpus.toDF("doc_id", "text"), qTerms, k = 20)
    val pruned = p.ranked.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pruned === exhaustive(20))
  }

  test("ub soundness: no doc's true score exceeds its bucket's ub") {
    val p = BlockMaxWand.probe(corpus.toDF("doc_id", "text"), qTerms, k = 20)
    val ub = p.bucketUb.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exhaustive(1000).foreach { case (doc, score) =>
      assert(score <= ub(doc / 100),
        s"doc $doc score $score exceeds bucket ub ${ub(doc / 100)}")
    }
  }

  test("degenerate seeds (< k docs total): θ = MinValue, nothing pruned, " +
    "ranking still exact") {
    val tiny = (0L until 7L).map(i => (i, s"alpha beta w$i"))
    val p = BlockMaxWand.probe(tiny.toDF("doc_id", "text"), qTerms, k = 20)
    assert(p.theta.collect().head.getLong(0) === Long.MinValue)
    assert(p.survivors.count() === 0L) // the one bucket seeds; none remain
    val got = p.ranked.collect().map(_.getLong(0)).toSeq
    assert(got.size === 7)
  }

  test("sharded probe (q330): per-shard skips happen, every skipped " +
    "cell's ub < its own shard's θ, and the pruned sharded ranking " +
    "equals the exhaustive single-index ranking") {
    val p = BlockMaxWand.probeSharded(
      corpus.toDF("doc_id", "text"), qTerms, k = 20, nShards = 4)
    val total = p.bucketUb.count()
    val decoded = p.seeds.count() + p.survivors.count()
    assert(decoded < total,
      s"expected per-shard skips, decoded $decoded of $total cells")
    val skipped = p.bucketUb
      .join(p.seeds, Seq("shard", "bucket"), "left_anti")
      .join(p.survivors, Seq("shard", "bucket"), "left_anti")
      .join(p.theta, "shard")
    assert(skipped.count() > 0L, "no cell was skipped")
    assert(skipped.filter($"ub_ppm" >= $"theta").count() === 0L,
      "a skipped cell's ub reached its shard's θ")
    val rows = p.ranked.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (doc, _, sh) =>
      assert(sh === doc % 4, s"doc $doc served from the wrong shard")
    }
    assert(rows.map(t => (t._1, t._2)).toSeq === exhaustive(20),
      "sharded pruned ranking != exhaustive")
  }

  test("a corrupt stored block fails loud through the shared BM25 " +
    "decode, naming the block's key and term") {
    val docs = corpus.toDF("doc_id", "text")
    // set the continuation bit of the hot block's last byte: the final
    // varint runs off the end of the stream, so the strict decode fails
    val storeSel = graft.queries.Text.postingStore(docs)
      .filter($"term".isin(qTerms: _*))
      .as[(String, Long, Int, Array[Byte])]
      .map { case (t, b, n, bytes) =>
        if (t == "alpha" && b == 0L) bytes(bytes.length - 1) =
          (bytes(bytes.length - 1) | 0x80).toByte
        (t, b, n, bytes)
      }.toDF("term", "bucket", "df", "bytes")
    val ubSel = BlockMaxWand.ubSidecar(docs).filter($"term".isin(qTerms: _*))
    val dl = docs.select($"doc_id", Bm25.dl)
    val e = intercept[Exception] {
      BlockMaxWand.probeStored(storeSel, ubSel, dl, Bm25.stats(dl), k = 20)
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).toSeq
    val ise = chain.collectFirst { case x: IllegalStateException => x }
    assert(ise.isDefined, chain.map(_.toString).mkString(" | "))
    assert(ise.get.getMessage ===
      "stored block-max probe: corrupt postings block 'alpha'/0")
  }
}
