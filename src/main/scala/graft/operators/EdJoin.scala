package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ed-Join: positional-q-gram prefix-blocked edit-distance similarity
  * join (SURVEY.md §2.10 N44 — the promised scale path for the N15/q77
  * verify step; Xiao, Wang & Lin, PVLDB 2008).
  *
  * The 100-TB problem: "find all string pairs within edit distance τ"
  * is O(N²) verifications if done naively — q77 runs it on a bounded
  * slice and its scaladoc says the honest posture is ALWAYS candidate
  * generation first. This operator is that candidate generation:
  *
  *   1. each string's positional q-gram windows `(gram, pos)` —
  *      `len−q+1` of them (a string shorter than q contributes itself
  *      as its single window);
  *   2. a corpus-wide gram-frequency aggregate fixes one global total
  *      order (freq asc, gram asc, pos asc) — rarest first, fully
  *      deterministic;
  *   3. each string keeps its τ·q+1 rarest windows as its PREFIX;
  *   4. candidates = prefix windows of `a` joined against ALL windows
  *      of `b` (an inverted index) — on gram equality AND
  *      |pos(a)−pos(b)| ≤ τ AND |len(a)−len(b)| ≤ τ. The position
  *      filter is what keeps frequent grams from fanning out: a common
  *      gram only pairs strings where it sits within τ characters of
  *      the same offset;
  *   5. survivors are verified with the exact `levenshtein` — false
  *      candidates die here, so the result is bit-identical to the
  *      all-pairs join, which is exactly what the q208 oracle checks.
  *
  * Losslessness: an edit script with ≤ τ operations touches at most q
  * windows per operation, so ≤ τ·q of `a`'s windows are touched. An
  * untouched window survives VERBATIM in `b`, displaced only by the
  * net insert/delete shift of earlier operations — at most ±τ
  * positions. So if `a` has ≥ τ·q+1 windows, its prefix contains an
  * untouched one, and that window hits `b`'s inverted index within the
  * position band. The probe is symmetric (prefix(a)×windows(b) and
  * prefix(b)×windows(a) in one join, canonicalized to a_id < b_id), so
  * one side having τ·q+1 windows suffices. Strings with fewer windows
  * (length ≤ τ·q+q−1, a CONSTANT bound) go through an explicit
  * length-filtered self-join fallback — positional windows mean no
  * repetitive-string degenerate class, unlike distinct-gram schemes.
  * No pair can be lost; the verify step makes every survivor exact.
  *
  * Scale shape: one window explode (rows ≈ Σ len), one value-domain-
  * sized frequency aggregate, one per-string window function
  * (partitioned by id — high cardinality, never a skew task), one
  * equi-join on gram whose probe side is τ·q+1 rows per string and
  * whose fan-out is band-limited by the position filter, a `distinct`
  * on candidate id pairs, and a verify join that touches candidates
  * only. The short-string fallback is all-pairs WITHIN ITS OWN CLASS
  * only (strings under τ·q+q chars), and identical short strings are
  * exact-grouped FIRST (enforced in the operator since r10): the
  * self-join and verify run per distinct string, member pairs expand
  * back afterwards. Verification cost is candidate-bounded, never
  * corpus².
  *
  * Know your corpus (measured, q208 scaladoc): on gram-DIVERSE strings
  * (identifiers, URLs, fingerprints) the prune is two orders of
  * magnitude; on dense template corpora (this testdata's
  * "Customer#000001234", or its 64-distinct-value part names) a double-
  * digit percentage of ALL pairs is within τ=2 — the verify set IS the
  * answer and no lossless signature scheme can beat its own output
  * size. Blocking bounds the slack between candidates and truth, not
  * the truth itself.
  */
object EdJoin {

  /** All `(a_id, b_id, dist)` with `a_id < b_id` and
    * `levenshtein(a, b) ≤ tau`, computed without an all-pairs join.
    *
    * `strs` must have unique non-null `idCol` values; `strCol` non-null.
    */
  def join(strs: DataFrame, idCol: String, strCol: String,
           tau: Int, q: Int): DataFrame = {
    require(tau >= 1 && q >= 1, s"EdJoin: need tau>=1, q>=1 (got $tau, $q)")
    val prefixLen = tau * q + 1
    val s = strs.select(col(idCol).as("__id"), col(strCol).as("__s"),
      length(col(strCol)).as("__len"))

    // Positional q-gram windows, one projection + one explode.
    // substring is 1-indexed; len < q collapses to sequence(1,1) → the
    // whole short string as its single window at pos 1.
    val grams = s.select(col("__id"), col("__len"),
      posexplode(expr(
        s"transform(sequence(1, greatest(__len - ${q - 1}, 1)), " +
          s"i -> substring(__s, i, $q))")).as(Seq("__p0", "__g")))
      .select(col("__id"), col("__len"), (col("__p0") + 1).as("__pos"),
        col("__g"))

    val freq = grams.groupBy(col("__g")).agg(count(lit(1)).as("__f"))

    // Global rarest-first order; row_number per string (id-partitioned
    // window — never low-cardinality). The freq join is unhinted: AQE
    // broadcasts the gram table while it fits and shuffles when a
    // web-scale gram vocabulary outgrows executors (q179's posture).
    // PREFIX side is LONG strings only (>= tau*q+1 windows, i.e.
    // len >= tau*q+q): short strings are the fallback's exclusive
    // territory (r12 — this is what makes the three output branches
    // DISJOINT and lets the result skip the output-wide distinct; a
    // long-short pair still surfaces because the long side's prefix
    // probes the short side's index windows, and the length band rules
    // out long-vs-(len<q) pairs: tau*q+q <= len(b)+tau < q+tau forces
    // tau*q < tau, impossible).
    val prefix = grams.filter(col("__len") >= tau * q + q)
      .join(freq, "__g")
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__id"))
          .orderBy(col("__f"), col("__g"), col("__pos"))))
      .filter(col("__r") <= prefixLen)
      .select(col("__id").as("p_id"), col("__len").as("p_len"),
        col("__pos").as("p_pos"), col("__g").as("__ga"))
    val index = grams
      .select(col("__id").as("i_id"), col("__len").as("i_len"),
        col("__pos").as("i_pos"), col("__g").as("__gb"))

    // Both probe directions in one join (p_id =!= i_id), canonicalized
    // to a_id < b_id — the prefix guarantee then needs only ONE of the
    // pair to own >= tau*q+1 windows.
    val probed = prefix.join(index,
        col("__ga") === col("__gb") &&
          col("p_id") =!= col("i_id") &&
          abs(col("p_pos") - col("i_pos")) <= tau &&
          abs(col("p_len") - col("i_len")) <= tau)
      .select(least(col("p_id"), col("i_id")).as("a_id"),
        greatest(col("p_id"), col("i_id")).as("b_id"))

    // Verify the indexed path's candidates only; the exact filter
    // removes every false candidate, so blocking choices cannot change
    // the result.
    val sa = s.select(col("__id").as("a_id"), col("__s").as("__sa"))
    val sb = s.select(col("__id").as("b_id"), col("__s").as("__sb"))
    val probedVerified = probed.distinct()
      .join(sa, "a_id").join(sb, "b_id")
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= tau)
      .select(col("a_id"), col("b_id"), col("dist"))

    // Fallback class: strings with fewer than tau*q+1 windows — i.e.
    // length <= tau*q+q-1, a constant bound. The exact-group-first
    // advice is ENFORCED here (r9 verdict item 9): identical short
    // strings collapse to one representative, the banded self-join and
    // the levenshtein verify run once per DISTINCT string pair, and
    // member pairs expand back afterwards (within-group pairs are
    // dist 0 by identity — never re-verified). A dense-duplicate short
    // corpus thus pays O(distinct²) verifies instead of O(N²); the
    // OUTPUT pair set can still be quadratic in group sizes because
    // those pairs genuinely satisfy the predicate.
    val few = s.filter(greatest(col("__len") - (q - 1), lit(1)) <= tau * q)

    // Early-out: on a short-free corpus the fallback subplan still
    // costs real wall-clock — its group/expand joins re-scan the
    // corpus even though every frame is empty (r12 A/B, BASELINE.md:
    // q208 min-of-3 5.92 s with the empty fallback vs 3.25 s without
    // — ~45% of the query on the operator's HOME regime, since
    // identifier/fingerprint corpora rarely have strings under
    // tau*q+q chars). One narrow length-only scan (the sanctioned
    // eager action — BpeVocab's argmax precedent) decides whether the
    // fallback branches are built at all; when shorts exist, the scan
    // early-terminates at the first one and the full machinery runs
    // unchanged.
    if (few.isEmpty) return probedVerified
    val reps = few.groupBy(col("__s"), col("__len"))
      .agg(min(col("__id")).as("__rep"))
    val members = few.join(reps.select(col("__s"), col("__rep")), Seq("__s"))
      .select(col("__rep"), col("__id"))
    val ra = reps.select(col("__rep").as("__ra"), col("__s").as("__sra"),
      col("__len").as("__la"))
    val rb = reps.select(col("__rep").as("__rb"), col("__s").as("__srb"),
      col("__len").as("__lb"))
    val repVerified = ra.join(rb,
        col("__ra") < col("__rb") &&
          abs(col("__la") - col("__lb")) <= tau)
      .withColumn("dist", levenshtein(col("__sra"), col("__srb")))
      .filter(col("dist") <= tau)
      .select(col("__ra"), col("__rb"), col("dist"))
    val crossPairs = repVerified
      .join(members.select(col("__rep").as("__ra"), col("__id").as("__ida")),
        "__ra")
      .join(members.select(col("__rep").as("__rb"), col("__id").as("__idb")),
        "__rb")
      .select(least(col("__ida"), col("__idb")).as("a_id"),
        greatest(col("__ida"), col("__idb")).as("b_id"), col("dist"))
    val m1 = members.select(col("__rep"), col("__id").as("a_id"))
    val m2 = members.select(col("__rep"), col("__id").as("b_id"))
    val withinPairs = m1.join(m2, Seq("__rep"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(0).as("dist"))

    // No output-wide distinct (r13, closing the r12 comment's promise):
    // the three branches are DISJOINT — probedVerified pairs always
    // contain a long string (the prefix side filters len >= tau*q+q),
    // while both fallback branches are short-short; crossPairs differ
    // in string value, withinPairs share one — and each branch is
    // internally unique (probed.distinct() + 1-row-per-pair verify;
    // one rep per distinct string; a<b member expansion).
    probedVerified.unionByName(crossPairs).unionByName(withinPairs)
  }
}
