package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.core.Barriers._

/** SemDeDup — semantic deduplication scoped by k-means clusters
  * (Abbas et al. '23, SURVEY.md §2.11a N33): drop every vector that has
  * a LOWER-id neighbor in its own cluster at cosine ≥ τ. This prunes
  * merely-SIMILAR examples inside semantic clusters — a diversity cut,
  * not just near-identical removal (q57's sign-LSH targets
  * cos ≥ 0.999); the paper's LAION result is that the cut speeds
  * training at equal downstream quality.
  *
  * Scale posture (reference behavior: `/root/reference/README.md:89-94`
  * describes the embedding surface this curates):
  *   - clustering is [[KMeansInt]]: one job per round, the k-row
  *     centroid table broadcast against the corpus and k·dims partial
  *     sums collected back — vectors never shuffle;
  *   - the pair stage shuffles each vector ONCE on its cluster id and
  *     compares within clusters only. That bounds pair work at
  *     Σ |cluster|² — which is only a bound if cluster sizes are
  *     bounded, hence the two defenses below;
  *   - per-vector norms are computed ONCE before the pair join (never
  *     per pair), and the per-pair dot is the codegen'd
  *     [[graft.expressions.FloatVectorDot]] primitive loop.
  *
  * Defense 1 — k ∝ N ([[chooseK]]): the paper's own bound. With
  * k = ⌈N / targetClusterSize⌉ the expected per-cluster pair work is
  * N·targetClusterSize — LINEAR in N, constant per document. A fixed k
  * at growing N is quadratic; never ship that.
  *
  * Defense 2 — viral-cluster cap (`maxClusterSize`, MinHashLSH's
  * device at `MinHashLSH.scala:35-46` ported to clusters): k-means on a
  * degenerate corpus (mass-duplicated boilerplate, zero-vector spam)
  * can collapse most of the corpus into ONE cluster no matter how k was
  * chosen, and one 10⁶-row cluster is O(10¹²) pairs from a single key.
  * A cluster larger than the cap is excluded from the PAIR stage
  * entirely — its members are all KEPT, because a cluster that fat is
  * mass exact/near-exact duplication, which the exact-hash (q49) and
  * MinHash (q54) passes remove upstream for a count instead of a
  * quadratic pair list. Capped clusters are observable via
  * [[clusterStats]] (the bucketStats device), so the exclusion is loud,
  * never silent.
  *
  * Determinism: clustering is integer-exact ([[KMeansInt]]), the cosine
  * chain is the q50 contract (sequential-fold dot, one sqrt·sqrt
  * product), and the survivor rule is min-id — bit-identical on any
  * partitioning and in the DuckDB oracle twin.
  */
object SemDeDup {

  /** The paper's scale bound as a default, not a manual knob:
    * k = ⌈n / targetClusterSize⌉ clamped to [minK, maxK]. At the
    * default target (1024) per-cluster pair work is ~2²⁰ dot products —
    * a fraction of a second of one core — and total pair work is
    * n·1024, linear in corpus size. Smaller targets trade recall (dups
    * split across cluster boundaries are never compared) for cheaper
    * pairing; the paper runs ~100k clusters over 5 B examples, i.e.
    * target ≈ 50k on a corpus whose near-dup rate justifies it. maxK
    * caps the centroid table each KMeansInt round and the final
    * assignment ship in a `sparkContext.broadcast` and each round
    * collects back as per-cluster sums (65 536 centroids × 64 dims ×
    * 8 B = 32 MB, the broadcast comfort limit).
    */
  def chooseK(n: Long, targetClusterSize: Long = 1024L,
              minK: Int = 8, maxK: Int = 1 << 16): Int = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val want = (n + targetClusterSize - 1) / targetClusterSize
    math.min(maxK.toLong, math.max(minK.toLong, want)).toInt
  }

  /** Clustered corpus with per-vector norms: (idCol, cluster, vecCol,
    * nrm). Materialized via localCheckpoint — the frame feeds BOTH pair
    * -join sides plus the decision table, and checkpointing (vs
    * persist) keeps the reuse out of the session CacheManager, so
    * library callers don't leak a cache entry per invocation; the
    * blocks are freed by the ContextCleaner when the result frame is
    * garbage-collected. Local checkpoints are not fault-tolerant —
    * see the tradeoff note in [[Winnowing.fingerprintRows]] (use
    * reliable checkpoint() for long jobs on preemptible nodes). */
  private def clustered(emb: DataFrame, idCol: String, vecCol: String,
                        k: Int, rounds: Int): DataFrame = {
    val vecs = emb.select(col(idCol), col(vecCol))
    KMeansInt.cluster(vecs, idCol, vecCol, k, rounds)
      .select(col(idCol), col("cluster"))
      .join(vecs, idCol)
      .withColumn("nrm", sqrt(VectorOps.normSq(col(vecCol))))
      .barrier()
  }

  /** Decision table (idCol, cluster, kept) over the whole corpus:
    * kept = false iff a lower-id same-cluster neighbor exists at
    * cosine ≥ tau AND the cluster is within `maxClusterSize`. */
  def dedup(emb: DataFrame, idCol: String, vecCol: String,
            k: Int, rounds: Int, tau: Double,
            maxClusterSize: Long): DataFrame = {
    val vecs = clustered(emb, idCol, vecCol, k, rounds)
    // ≤ k rows; broadcast so the cap filter adds no corpus shuffle.
    val ok = vecs.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"))
      .filter(col("csize") <= maxClusterSize)
      .select(col("cluster"))
    val inPair = vecs.join(broadcast(ok), Seq("cluster"))
    val dropped = inPair
      .select(col("cluster"), col(idCol).as("a_id"), col(vecCol).as("a_vec"),
        col("nrm").as("a_nrm"))
      .join(inPair.select(col("cluster"), col(idCol).as("b_id"),
        col(vecCol).as("b_vec"), col("nrm").as("b_nrm")), Seq("cluster"))
      .filter(col("a_id") < col("b_id") &&
        VectorOps.dot(col("a_vec"), col("b_vec")) /
          (col("a_nrm") * col("b_nrm")) >= tau)
      .select(col("b_id").as(idCol)).distinct()
      .withColumn("dropped", lit(true))
    vecs.join(dropped, Seq(idCol), "left_outer")
      .select(col(idCol), col("cluster"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** Cluster-size accounting — (cluster, csize, capped). The loud
    * companion to the cap: a pipeline should alert on `capped` clusters
    * (they signal mass duplication the upstream exact/MinHash passes
    * should have removed), mirroring [[MinHashLSH.bucketStats]]. */
  def clusterStats(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, rounds: Int, maxClusterSize: Long): DataFrame =
    clustered(emb, idCol, vecCol, k, rounds)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"))
      .withColumn("capped", col("csize") > maxClusterSize)
}
