package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.core.Barriers._
import graft.operators.{ConnectedComponents, MinHashLSH}

/** End-to-end training-corpus preparation (SURVEY.md §2.11a X26): the
  * composed pipeline a reference user actually runs — quality filter →
  * exact dedup → near-dup cluster collapse → token accounting — as ONE
  * DataFrame program, not a query zoo. Each stage is the
  * already-oracle-checked operator (q73's quality features, q49's
  * content-hash dedup, q54+q82's MinHash-LSH + connected components,
  * q71's token budget), so the composition needs no new oracle: its
  * tests assert the pipeline-level invariants (stage monotonicity,
  * planted near-dups collapse to their minimum representative, budget
  * arithmetic).
  *
  * Stage counts ride on `observe()` nodes: they are computed BY the
  * job that materializes the result — no extra count() actions, no
  * second pass over a 100 TB corpus just to fill a report. (The
  * near-dup stage inherently runs its own jobs: LSH signature
  * generation and the connected-components star test and rounds.)
  *
  * Keep/drop semantics: docs failing quality are dropped; exact dups
  * keep the MINIMUM doc_id per content hash; near-dup clusters keep
  * the MINIMUM doc_id per component — deterministic under any
  * partitioning, so reprocessing is idempotent.
  */
object CorpusPipeline {

  /** `input`/`quality`/`exact` expose the stage frames LAZILY so a
    * caller can audit them declaratively (the q186 oracle query counts
    * them in one job); `counts` stays the zero-extra-pass path — it
    * reads the observe() metrics of whatever action materialized
    * `result`. */
  final case class Prepared(result: DataFrame, counts: () => Map[String, Long],
                            input: DataFrame, quality: DataFrame,
                            exact: DataFrame)

  /** @param docs (idCol: long, textCol: string) corpus
    * @param minWords/maxWords Gopher-style length gate
    * @param maxMeanWordLen degenerate-text gate (symbol soup / DNA)
    * @param minJaccard near-dup threshold for MinHash-LSH
    * @return surviving docs + n_tokens column, and a thunk that reads
    *   the stage counts AFTER the caller runs an action on `result` */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
              minWords: Int = 5, maxWords: Int = 5000,
              maxMeanWordLen: Double = 12.0,
              minJaccard: Double = 0.5): Prepared = {
    val id = col(idCol); val text = col(textCol)
    val words = split(text, "\\s+")

    val obsIn = new Observation("cp_input")
    val obsQuality = new Observation("cp_quality")
    val obsExact = new Observation("cp_exact")

    val input = docs.observe(obsIn, count(lit(1)).as("n"))

    // q73's gate: word-count band + mean word length
    val quality = input
      .withColumn("__n_words", size(words))
      .filter(col("__n_words").between(minWords, maxWords) &&
        (length(regexp_replace(text, "\\s+", "")) /
          col("__n_words")) <= maxMeanWordLen)
      .observe(obsQuality, count(lit(1)).as("n"))

    // q49's exact dedup, min-id representative (not dropDuplicates,
    // whose survivor is partition-order-dependent)
    val hashed = quality.withColumn("__h", sha2(lower(text), 256))
    val exact = hashed
      .withColumn("__rep", min(id).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(id === col("__rep"))
      .observe(obsExact, count(lit(1)).as("n"))
      .drop("__h", "__rep")
      // the near-dup stage fans this frame into signatures AND the
      // final keep-join; persist so LSH does not recompute the gates
      .persist()

    // q54+q82: near-dup pairs → components → keep the min representative
    val pairs = MinHashLSH.nearDupPairs(exact, idCol, textCol, minJaccard)
      .select(col("a_id"), col("b_id"))
    // labelStar's labelling aggregates its star edges; the lazy
    // checkpoint lets the result's first action compute the survivors
    // once, and the near_dedup count read them back
    val roots = ConnectedComponents.labelStar(
      exact.select(id), idCol, pairs, "a_id", "b_id")
      .filter(id === col("component")).select(id)
      .barrier(eager = false)
    val kept = exact.join(roots, Seq(idCol))

    // q71's accounting rides out on the result
    val result = kept
      .withColumn("n_tokens", size(split(text, "\\s+")))
      .drop("__n_words")

    Prepared(result, () => Map(
      "input" -> obsIn.get("n").asInstanceOf[Long],
      "quality" -> obsQuality.get("n").asInstanceOf[Long],
      "exact_dedup" -> obsExact.get("n").asInstanceOf[Long],
      // served from the persisted `exact` frame and the checkpointed
      // survivors: no corpus re-scan, no LSH re-run
      "near_dedup" -> kept.count()),
      input = input, quality = quality, exact = exact)
  }

  /** [[prepare]]'s stage frames plus the near-dup survivor frame and
    * the semantically pruned result. */
  final case class PreparedSem(result: DataFrame,
                               counts: () => Map[String, Long],
                               input: DataFrame, quality: DataFrame,
                               exact: DataFrame, near: DataFrame)

  /** r8: [[prepare]] extended with the OPTIONAL semantic-prune stage —
    * [[graft.operators.SemDeDup]] over the near-dup survivors'
    * embeddings (quality → exact → near-dup → SemDeDup), the full
    * Abbas-'23 recipe where syntactic dedup feeds the semantic
    * diversity cut. The stage consumes a SEPARATE (embIdCol, vecCol)
    * embedding table joined on id; a surviving doc with no embedding
    * row passes through unjudged (an anti-join against the DROPPED
    * decision rows, so missing embeddings never silently delete docs).
    *
    * Scale: the near-dup survivor frame is persisted once and feeds
    * the embedding join, the anti-join, and the final projection;
    * SemDeDup broadcasts centroids and pairs within clusters only
    * (its own cap applies) — the embedding table is touched exactly
    * once, filtered down to survivors BEFORE clustering, so the
    * semantic stage's cost scales with what dedup kept, not with the
    * raw corpus. */
  def prepareSemantic(docs: DataFrame, idCol: String, textCol: String,
                      emb: DataFrame, embIdCol: String, vecCol: String,
                      minWords: Int = 5, maxWords: Int = 5000,
                      maxMeanWordLen: Double = 12.0,
                      minJaccard: Double = 0.5,
                      k: Int = 8, rounds: Int = 2,
                      tau: Double = 0.35,
                      maxClusterSize: Long = 4096L): PreparedSem = {
    val p = prepare(docs, idCol, textCol, minWords, maxWords,
      maxMeanWordLen, minJaccard)
    val near = p.result.persist()
    val survivorEmb = emb.select(col(embIdCol), col(vecCol))
      .join(near.select(col(idCol).as(embIdCol)), Seq(embIdCol))
    val decisions = graft.operators.SemDeDup.dedup(
      survivorEmb, embIdCol, vecCol, k, rounds, tau, maxClusterSize)
    val droppedIds = decisions.filter(!col("kept"))
      .select(col(embIdCol).as(idCol))
    val result = near.join(droppedIds, Seq(idCol), "left_anti")
    PreparedSem(result,
      () => p.counts() + ("semantic" -> result.count()),
      input = p.input, quality = p.quality, exact = p.exact, near = near)
  }
}
