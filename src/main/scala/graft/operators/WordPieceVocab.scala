package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Barriers._

/** Distributed WordPiece tokenizer (SURVEY.md §2.11a N46/N46b) — the
  * SECOND tokenizer family (r9→r11 verdict item: the packing algebra's
  * "count-agnostic" claim needs a non-BPE member). Two public halves:
  *
  * TRAINING (Schuster & Nakajima, ICASSP 2012; the BERT recipe): like
  * BPE, greedy pair merging over the word-frequency table — but the
  * merge argmax maximizes the LIKELIHOOD gain score
  * `count(ab) / (count(a) · count(b))`, not the raw pair count, so a
  * moderately-frequent pair of RARE symbols beats a frequent pair of
  * ubiquitous ones. Shares [[BpeVocab]]'s whole scale shape — the
  * corpus is scanned ONCE into (word, freq); each round is one
  * map-side-combined pair count + one symbol-unigram count + a
  * single-row driver argmax (the sanctioned reduced-aggregate collect)
  * + a zero-shuffle `replace` merge — and its fixed-width md5-symbol
  * determinism device verbatim. The score is ONE IEEE divide of two
  * exactly-representable doubles (counts < 2⁵³; the product of two
  * BIGINT-casts is one correctly-rounded multiply), so the greedy
  * trajectory is bit-identical in Spark and DuckDB (q113/q133's
  * argument); ties break (a, b) ascending.
  *
  * ENCODING (greedy longest-match-first / MaxMatch — WordPiece's
  * inference side, unlike BPE's replay-the-merges): at each position
  * of a word, consume the LONGEST vocabulary unit that prefixes the
  * remainder. Decomposed scale-first:
  *   1. the vocabulary = initial characters ∪ learned unit SPELLINGS —
  *      a tiny driver-side table (chars are alphabet-bounded; units
  *      are one per merge round), the one sanctioned collect beyond
  *      the per-round argmax;
  *   2. `lm(w, pos) = max unit length matching at pos` — one bounded
  *      explode of the DISTINCT-word table (Heaps' law: ~√corpus) ×
  *      broadcast vocabulary; every position matches (single chars
  *      are always in the vocabulary), so the walk can never stall;
  *   3. the walk itself — pos ← pos + lm(w, pos) — is inherently
  *      sequential PER WORD and word-LOCAL, so it runs as ONE
  *      catalyst `aggregate` per word over the word's own lm list
  *      (r19 — UnigramLm's segmentExpr device; it used to run as
  *      ≤ max-word-length join rounds over the whole distinct-word
  *      table, the job-count floor that dominated the encode
  *      queries — see [[walkExpr]] for the equivalence argument).
  * The corpus only ever joins the finished `(w, n_wp)` table on the
  * word key — the same Heaps-sized equi-join as q195.
  *
  * No `##` continuation marker: this implementation scores every unit
  * equally at any position (a declared simplification — the marker
  * changes which units exist, not the matching algebra; adding it is
  * one extra column on the vocabulary).
  */
object WordPieceVocab {

  /** One learned merge with its likelihood-score evidence: pair
    * count `cnt`, unigram counts `ca`/`cb` — all exact BIGINTs; the
    * score cnt/(ca·cb) is derived, never stored. */
  final case class Merge(round: Int, a: String, b: String, merged: String,
                         cnt: Long, ca: Long, cb: Long)

  private def md5hex8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Run `rounds` likelihood-scored merge rounds over a
    * [[BpeVocab.wordTable]] frame. Returns the learned merges and the
    * final word table (w, freq, repr). Stops early when no adjacent
    * pair remains. */
  def train(words: DataFrame, rounds: Int): (Seq[Merge], DataFrame) = {
    var wf = words.barrier()
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val states = wf.select(col("freq"), BpeVocab.syms(col("repr")).as("sy"))
      // symbol unigram counts over ALL words (1-symbol words included —
      // they hold unigram mass even though they contribute no pair)
      val uni = states
        .select(col("freq"), explode(col("sy")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("c"))
      val pairs = states
        .filter(size(col("sy")) >= 2)
        .select(col("freq"),
          slice(col("sy"), lit(1), size(col("sy")) - 1).as("s1"),
          slice(col("sy"), lit(2), size(col("sy")) - 1).as("s2"))
        .select(col("freq"), explode(arrays_zip(col("s1"), col("s2"))).as("p"))
        .groupBy(col("p.s1").as("a"), col("p.s2").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pairs
        .join(uni.select(col("sym").as("a"), col("c").as("ca")), "a")
        .join(uni.select(col("sym").as("b"), col("c").as("cb")), "b")
        .withColumn("score",
          col("cnt").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double")))
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1)
        .select(col("a"), col("b"), col("cnt"), col("ca"), col("cb"))
        .collect() // ONE row — the round's argmax (BpeVocab's device)
      top.headOption match {
        case None => exhausted = true
        case Some(row) =>
          val (a, b) = (row.getString(0), row.getString(1))
          merges += Merge(r, a, b, md5hex8(a + b),
            row.getLong(2), row.getLong(3), row.getLong(4))
          wf = wf.withColumn("repr",
            replace(col("repr"),
              lit(BpeVocab.Sep + a + BpeVocab.Sep + b),
              lit(BpeVocab.Sep + md5hex8(a + b))))
            .barrier()
          r += 1
      }
    }
    (merges.result(), wf)
  }

  /** The merges as a DataFrame (round, a, b, merged, cnt, ca, cb). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF()
  }

  /** [[BpeVocab.wordTable]]'s MARKED twin (q228/q229 — BERT's actual
    * symbol alphabet): the word's FIRST character keeps its plain md5
    * symbol, every later character gets the `##`-prefixed symbol
    * `md5("##" + c)` — so word-initial and continuation units are
    * DISTINCT symbols from round zero, and training counts them
    * separately (the reason "ing"-as-suffix and "ing"-as-word are
    * different units with different statistics in real WordPiece).
    * Same fixed-width/SEP device, so [[train]] applies verbatim. */
  def markedWordTable(docs: DataFrame, textCol: String): DataFrame = {
    val w = col("w")
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(w) > 0)
      .groupBy(w).agg(count(lit(1)).as("freq"))
      .withColumn("repr",
        concat_ws("", transform(sequence(lit(1), length(w)),
          i => concat(lit(BpeVocab.Sep), substring(md5(
            when(i === 1, w.substr(lit(1), lit(1)))
              .otherwise(concat(lit("##"), w.substr(i, lit(1))))), 1, 8)))))
  }

  /** Marked vocabulary: `(consumable spelling, isContinuation)` pairs —
    * observed word-initial characters (cont = false), observed
    * continuation characters (cont = true; the `##` marker lives in
    * the symbol ID, the spelling stays the raw consumable text), and
    * each merge's concatenated unit inheriting `cont` from its LEFT
    * parent (the right parent is always a continuation symbol inside a
    * word). Encoding the training corpus can never stall: every word's
    * first char was observed word-initially and every later char in
    * continuation position, so both single-char classes are complete
    * for this corpus by construction. Driver-side and
    * 2·alphabet + rounds bounded (the sanctioned tiny collects). */
  def markedVocabSpellings(words: DataFrame,
                           merges: Seq[Merge]): Seq[(String, Boolean)] = {
    val observed = words.select(explode(expr(
        "transform(sequence(1, length(w)), i -> struct(" +
          "CAST(i > 1 AS INT) AS cont, substring(w, i, 1) AS c))")).as("p"))
      .select(col("p.cont"), col("p.c")).distinct()
      .collect().map(r => (r.getInt(0) == 1, r.getString(1)))
    val spell = scala.collection.mutable.Map[String, (String, Boolean)]()
    observed.foreach { case (cont, c) =>
      spell(md5hex8(if (cont) "##" + c else c)) = (c, cont)
    }
    merges.foreach { m =>
      val (sa, ca) = spell(m.a); val (sb, _) = spell(m.b)
      spell(m.merged) = (sa + sb, ca)
    }
    spell.values.toSeq.distinct
  }

  /** [[wordPieceCounts]]'s marked twin: MaxMatch where position 1 may
    * only consume word-initial units and positions > 1 only
    * continuation units — BERT's actual inference rule. */
  def markedWordPieceCounts(words: DataFrame,
                            vocab: Seq[(String, Boolean)]): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val dw = words.select(col("w")).distinct()
      .withColumn("len", length(col("w")))
    val vdf = vocab.map { case (v, cont) => (v, v.length, if (cont) 1 else 0) }
      .toDF("spell", "sl", "cont")
    val lm = dw
      .select(col("w"), explode(sequence(lit(1), col("len"))).as("pos"))
      .crossJoin(broadcast(vdf))
      .filter(expr(
        "substring(w, pos, sl) = spell AND (pos = 1) = (cont = 0)"))
      .groupBy(col("w"), col("pos"))
      .agg(max(col("sl")).as("L"))
    walkCounts(dw, lm)
  }

  /** Walk epilogue: a word whose walk did not reach past its end has a
    * position NO vocabulary unit matches (possible for any corpus other
    * than the training words in the marked variant) — fail LOUDLY
    * instead of emitting a silently-partial count (r12 ADVICE). The
    * check is a per-row expression, no extra action. */
  private def finishedOrRaise(state: DataFrame): DataFrame =
    state.select(col("w"),
      when(col("pos") <= col("len"),
        raise_error(concat(
          lit("WordPiece MaxMatch stalled (out-of-vocabulary): word '"),
          col("w"), lit("' has no matching unit at position "),
          col("pos").cast("string"))))
        .otherwise(col("n_wp")).as("n_wp"))

  /** The MaxMatch walk `pos ← pos + lm(w, pos)`, collapsed into ONE
    * catalyst `aggregate` per word over the word's own longest-match
    * list (r19 — the UnigramLm `segmentExpr` device ported to the
    * greedy walk; was ≤ max-word-length rounds of one left-join each
    * with a localCheckpoint every second round, plus a 1-row maxLen
    * collect — the job-count floor that dominated q220/q221/q229).
    *
    * Iteration i of the aggregate performs exactly round i's step for
    * this word: finished (pos > len) or stalled (no lm entry at pos)
    * states pass through untouched — the old rounds' `L IS NULL`
    * no-op — otherwise pos advances by the unique L at pos and the
    * piece count increments. Every quantity is exact-integer
    * arithmetic on the SAME lm table the rounds consumed (lm has one
    * row per (w, pos) by construction — groupBy(w, pos).max), so
    * after ≤ len iterations the (pos, n_wp) pair is identical to the
    * round formulation's fixpoint row for row, and the stall→raise
    * contract ([[finishedOrRaise]]) is preserved verbatim. The walk
    * reads lm only through the per-word `pos → L` map `lms`, built once
    * by the grouping aggregate (`map_from_entries`) — the assignPR
    * lesson: per-word lists keep the interpreted HOF over O(len)
    * elements, never over a re-inlined subtree. Each step is one
    * `element_at` lookup (a key scan that stops at the match) instead
    * of two `filter` passes that each copied the whole list, which made
    * the walk O(len²) in allocation. A missing position and a word with
    * no lm rows at all (null map) both read NULL, the stall case. */
  private def walkExpr: org.apache.spark.sql.Column = expr("""
    aggregate(
      sequence(1, len),
      named_struct('pos', 1, 'n_wp', CAST(0 AS BIGINT)),
      (st, i) -> IF(st.pos > len OR element_at(lms, st.pos) IS NULL,
         st,
         named_struct(
           'pos', st.pos + element_at(lms, st.pos),
           'n_wp', st.n_wp + CAST(1 AS BIGINT))))""")

  /** Per-distinct-word MaxMatch counts from a longest-match table
    * `(w, pos, L)`: one aggregate per word, then the stall check. */
  private def walkCounts(dw: DataFrame, lm: DataFrame): DataFrame = {
    val perWord = lm.groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("pos"), col("L")))).as("lms"))
    dw.join(perWord, Seq("w"), "left_outer")
      .select(col("w"), col("len"), walkExpr.as("seg"))
      .select(col("w"), col("len"),
        col("seg.pos").as("pos"), col("seg.n_wp").as("n_wp"))
      .transform(finishedOrRaise)
  }

  /** Vocabulary SPELLINGS for greedy matching: every distinct corpus
    * character plus each merge's spelled-out unit (resolved by folding
    * the merge list over the char table — both driver-side and
    * alphabet/rounds-bounded, the declared tiny collects). */
  def vocabSpellings(words: DataFrame, merges: Seq[Merge]): Seq[String] = {
    val chars = words
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("c"))
      .distinct()
      .collect().map(_.getString(0)) // alphabet-bounded collect
    val spell = scala.collection.mutable.Map[String, String]()
    chars.foreach(c => spell(md5hex8(c)) = c)
    merges.foreach { m => spell(m.merged) = spell(m.a) + spell(m.b) }
    spell.values.toSeq.distinct
  }

  /** Greedy longest-match token counts per DISTINCT word: `(w, n_wp)`.
    * `vocab` must contain every single character that occurs in `w`
    * (guaranteed by [[vocabSpellings]]), so each walk step consumes
    * ≥ 1 character and the word finishes in ≤ length(w) steps. */
  def wordPieceCounts(words: DataFrame, vocab: Seq[String]): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val dw = words.select(col("w")).distinct()
      .withColumn("len", length(col("w")))
    // longest-match table: one bounded explode (positions per word) ×
    // the broadcast vocabulary — the filter-inside-broadcast-crossJoin
    // is the sanctioned k-row pattern (vocab = alphabet + rounds rows)
    val vdf = vocab.map(v => (v, v.length)).toDF("spell", "sl")
    val lm = dw
      .select(col("w"), explode(sequence(lit(1), col("len"))).as("pos"))
      .crossJoin(broadcast(vdf))
      .filter(expr("substring(w, pos, sl) = spell"))
      .groupBy(col("w"), col("pos"))
      .agg(max(col("sl")).as("L"))
    walkCounts(dw, lm)
  }
}
