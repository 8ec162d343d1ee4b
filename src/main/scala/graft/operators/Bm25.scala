package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one BM25 scorer (Robertson et al., TREC-3) every ranking in the
  * engine calls: the doc-length sidecar, the corpus stats, the exact
  * rational per-term contribution, the strict posting-block decode and
  * the per-doc fold. Callers keep only what differs between them —
  * routing, df scope (global vs per-shard), top-k, pagination.
  *
  * The log-free rational form: with k1 = 6/5 and b = 3/4 the per-term
  * score
  *   idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  * clears denominators to integer arithmetic,
  *   (22·tf·adl·(2N−2df+1)·10⁶) DIV ((10·tf·adl+3·adl+9·dl)·(2df+1)),
  * using the raw-ratio RSJ idf (N−df+½)/(df+½) instead of its log —
  * same ranking direction, no libm (the q122 entropy→Gini lesson) —
  * and adl = L DIV N (integer-truncated avgdl, a documented spec
  * choice so both engines share one exact value). Scores are ppm.
  *
  * Arithmetic scale contract: at the 100 TB design point N ≈ 10⁹–10¹²
  * docs, and the BIGINT numerator 22·tf·adl·2N·10⁶ passes 2⁶³ from
  * N ≈ 2·10⁹ at adl = 100 (ANSI mode throws). [[exactRatio]] takes
  * both products in BIGINT while they fit and in DECIMAL(38,0) past
  * 2⁶³; `DIV` floors either to BIGINT, so the score is exact at every
  * N and bit-identical to the BIGINT form the DuckDB oracles replay.
  *
  * [[Fielded]] is BM25F (Robertson-Zaragoza-Taylor) at the declared
  * weights w_title = 2, w_body = 1 (title = the first 5 tokens): the
  * weighted tf/dl fold BEFORE the single k1 saturation.
  */
object Bm25 {

  /** The doc-length column `dl` of a frame with a `text` column. */
  val dl: Column = size(split(col("text"), " ")).cast(LongType).as("dl")

  /** Corpus stats `(n_docs, adl)` of a `(…, dl)` sidecar. */
  def stats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("dl")).as("l_total"))
      .select(col("n_docs"), expr("l_total DIV n_docs").as("adl"))

  /** The per-term contribution over tf/dl/df/n_docs/adl columns. */
  val contrib: Column = exactRatio(
    Seq("22 * tf", "adl", "2 * n_docs - 2 * df + 1", "1000000"),
    Seq("10 * tf * adl + 3 * adl + 9 * dl", "2 * df + 1"))

  /** Strict decode of `(keys…, term, bucket, df, bytes)` posting
    * blocks to `(keys…, term, doc_id, tf)`: a block that fails the
    * canonical q258 decode throws, naming its key and term — never a
    * silent ranking change. `keys` is empty or one Long column. */
  def decode(who: String, keys: String*)(blocks: DataFrame): DataFrame = {
    val s = blocks.sparkSession
    import s.implicits._
    keys match {
      case Seq() =>
        blocks.select($"term", $"bucket", $"df", $"bytes")
          .as[(String, Long, Int, Array[Byte])]
          .flatMap { case (t, b, n, bytes) =>
            postings(who, s"'$t'/$b", bytes, n)
              .map { case (doc, tf, _) => (t, doc, tf) }
          }.toDF("term", "doc_id", "tf")
      case Seq(k) =>
        blocks.select(col(k), $"term", $"bucket", $"df", $"bytes")
          .as[(Long, String, Long, Int, Array[Byte])]
          .flatMap { case (key, t, b, n, bytes) =>
            postings(who, s"$key/'$t'/$b", bytes, n)
              .map { case (doc, tf, _) => (key, t, doc, tf) }
          }.toDF(k, "term", "doc_id", "tf")
    }
  }

  /** `decoded` joined to its length sidecar and broadcast df (each on
    * the columns they share — `doc_id`, `term`, plus any shard key the
    * sidecar carries), crossed with the broadcast stats, plus the
    * `contrib_ppm` column. */
  def contributions(decoded: DataFrame, dl: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame =
    withContrib(decoded, dl, dfreq, stats, contrib)

  /** The per-doc fold: Σ contributions grouped by `(keys…, doc_id)`
    * into `score_ppm`. */
  def score(decoded: DataFrame, dl: DataFrame, dfreq: DataFrame,
      stats: DataFrame, keys: String*): DataFrame =
    sumContrib(contributions(decoded, dl, dfreq, stats), keys)

  /** BM25F at the declared weights over the fielded store — see the
    * [[Bm25]] scaladoc. */
  object Fielded {

    /** Title = the first `TitleTokens` tokens of a doc. */
    val TitleTokens = 5

    /** The fielded posting store `(keys…, term, bucket, df, bytes)` of
      * a `(keys…, doc_id, text)` frame: (doc_id, tf_title, tf_body)
      * triples through the q258 codec — the weights are NOT baked in.
      * `keys` is empty or one Long column. */
    def store(docs: DataFrame, keys: String*): DataFrame = {
      val s = docs.sparkSession
      import s.implicits._
      val fielded = docs
        .select(keys.map(col) :+ col("doc_id") :+
          posexplode(split(col("text"), " ")): _*)
        .select(keys.map(col) :+ $"doc_id" :+
          ($"pos" + 1).cast(LongType).as("pos") :+ $"col".as("term"): _*)
        .groupBy(keys.map(col) :+ $"term" :+ $"doc_id": _*)
        .agg(sum(when($"pos" <= TitleTokens, 1L).otherwise(0L)).as("tf_t"),
          sum(when($"pos" > TitleTokens, 1L).otherwise(0L)).as("tf_b"))
        .groupBy(keys.map(col) :+ $"term" :+
          floor($"doc_id" / 100).as("bucket"): _*)
        .agg(sort_array(collect_list(
          struct($"doc_id", $"tf_t", $"tf_b"))).as("ps"))
      keys match {
        case Seq() =>
          fielded.as[(String, Long, Seq[(Long, Long, Long)])]
            .map { case (t, b, ps) =>
              (t, b, ps.size, PostingCodec.encode(ps))
            }.toDF("term", "bucket", "df", "bytes")
        case Seq(k) =>
          fielded.as[(Long, String, Long, Seq[(Long, Long, Long)])]
            .map { case (key, t, b, ps) =>
              (key, t, b, ps.size, PostingCodec.encode(ps))
            }.toDF(k, "term", "bucket", "df", "bytes")
      }
    }

    /** The field-length sidecar `(doc_id, lt, lb)` of a documents
      * frame: title and body token counts. */
    def lengths(docs: DataFrame): DataFrame = {
      val t = lit(TitleTokens.toLong)
      docs.select(col("doc_id"), dl)
        .select(col("doc_id"), least(col("dl"), t).as("lt"),
          (col("dl") - least(col("dl"), t)).as("lb"))
    }

    /** Weighted corpus stats `(n_docs, awdl)` of a [[lengths]] frame. */
    def stats(flen: DataFrame): DataFrame =
      flen.agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(lit(2L) * col("lt") + col("lb")).as("wl_total"))
        .select(col("n_docs"), expr("wl_total DIV n_docs").as("awdl"))

    /** The per-term contribution over tf_t/tf_b/lt/lb/df/n_docs/awdl. */
    val contrib: Column = exactRatio(
      Seq("22 * (2 * tf_t + tf_b)", "awdl", "2 * n_docs - 2 * df + 1",
        "1000000"),
      Seq("10 * (2 * tf_t + tf_b) * awdl + 3 * awdl + 9 * (2 * lt + lb)",
        "2 * df + 1"))

    /** [[Bm25.decode]] for fielded blocks: `(keys…, term, doc_id,
      * tf_t, tf_b)` out. */
    def decode(who: String, keys: String*)(blocks: DataFrame): DataFrame = {
      val s = blocks.sparkSession
      import s.implicits._
      keys match {
        case Seq() =>
          blocks.select($"term", $"bucket", $"df", $"bytes")
            .as[(String, Long, Int, Array[Byte])]
            .flatMap { case (t, b, n, bytes) =>
              postings(who, s"'$t'/$b", bytes, n)
                .map { case (doc, tfT, tfB) => (t, doc, tfT, tfB) }
            }.toDF("term", "doc_id", "tf_t", "tf_b")
        case Seq(k) =>
          blocks.select(col(k), $"term", $"bucket", $"df", $"bytes")
            .as[(Long, String, Long, Int, Array[Byte])]
            .flatMap { case (key, t, b, n, bytes) =>
              postings(who, s"$key/'$t'/$b", bytes, n)
                .map { case (doc, tfT, tfB) => (key, t, doc, tfT, tfB) }
            }.toDF(k, "term", "doc_id", "tf_t", "tf_b")
      }
    }

    /** [[Bm25.contributions]] with the fielded sidecar and formula. */
    def contributions(decoded: DataFrame, flen: DataFrame,
        dfreq: DataFrame, stats: DataFrame): DataFrame =
      withContrib(decoded, flen, dfreq, stats, contrib)

    /** [[Bm25.score]] with the fielded sidecar and formula. */
    def score(decoded: DataFrame, flen: DataFrame, dfreq: DataFrame,
        stats: DataFrame, keys: String*): DataFrame =
      sumContrib(contributions(decoded, flen, dfreq, stats), keys)
  }

  /** `Π num DIV Π den`, exact: the BIGINT products (`try_multiply`,
    * NULL on overflow) while both fit, else the DECIMAL(38,0) ones —
    * decimal arithmetic past 18 digits runs on BigDecimal, several
    * times slower per row, so only rows past 2⁶³ pay for it. */
  private def exactRatio(num: Seq[String], den: Seq[String]): Column = {
    def narrow(fs: Seq[String]) =
      fs.reduceLeft((a, b) => s"try_multiply($a, $b)")
    def wide(fs: Seq[String]) =
      fs.map(f => s"CAST($f AS DECIMAL(38,0))").mkString(" * ")
    expr(s"COALESCE(${narrow(num)} DIV ${narrow(den)}, " +
      s"(${wide(num)}) DIV (${wide(den)}))")
  }

  private def postings(who: String, at: => String, bytes: Array[Byte],
      n: Int): Seq[(Long, Long, Long)] =
    PostingCodec.decode(bytes, n).getOrElse(throw new IllegalStateException(
      s"$who: corrupt postings block $at"))

  private def withContrib(decoded: DataFrame, lengths: DataFrame,
      dfreq: DataFrame, stats: DataFrame, formula: Column): DataFrame = {
    def shared(l: DataFrame, r: DataFrame) =
      r.columns.filter(l.columns.contains).toSeq
    val withLengths = decoded.join(lengths, shared(decoded, lengths))
    withLengths.join(broadcast(dfreq), shared(withLengths, dfreq))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_ppm", formula)
  }

  private def sumContrib(contribs: DataFrame, keys: Seq[String]): DataFrame =
    contribs.groupBy((keys :+ "doc_id").map(col): _*)
      .agg(sum(col("contrib_ppm")).as("score_ppm"))
}
