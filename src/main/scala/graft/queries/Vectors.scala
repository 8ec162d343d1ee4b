package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Par, Q, Tables}
import graft.functions.VectorOps
import graft.core.Barriers._

/** SURVEY.md §2.10 — similarity search / KNN / centroids over the
  * embeddings table (N11 N12 A10).
  *
  * Scale posture: brute-force cosine is O(Q·N) with the small query set
  * BROADCAST — each executor streams its shard of the N side once; no
  * shuffle of the corpus. That is the correct exact-search plan at 100 TB
  * when |Q| is small. For large |Q| the LSH-bucketed path
  * (graft.operators.MinHashLSH for text; random-hyperplane buckets for
  * vectors) replaces the cartesian with an equi-join on bucket ids.
  *
  * Determinism: all vector math via VectorOps (sequential folds /
  * micro-quantization) — see its scaladoc for the oracle contract.
  */
object Vectors {

  private def duckDot(a: String, b: String, dims: Int = 64): String =
    VectorOps.dotSql(a, b, dims)

  /** q50 — brute-force cosine top-5 neighbors for 5 query vectors (N11). */
  val q50 = Q(
    "q50_cosine_topk",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("cos", VectorOps.cosine($"q_vec", $"embedding"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"rn", $"vec_id", $"cos")
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
           pairs AS (
             SELECT q.q_id, e.vec_id,
               ${duckDot("q.q_vec", "e.embedding")} /
                 (sqrt(${duckDot("q.q_vec", "q.q_vec")}) *
                  sqrt(${duckDot("e.embedding", "e.embedding")})) AS cos
             FROM embeddings e, q WHERE e.vec_id <> q.q_id),
           r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                 FROM pairs)
      SELECT q_id, rn, vec_id, cos FROM r WHERE rn <= 5
      ORDER BY q_id, rn"""),
    doc = "N11: exact ANN baseline — broadcast queries, stream corpus, heap top-k")

  /** q51 — KNN classification vote (N12): predict each query vector's
    * label from its 10 nearest neighbors' majority (ties -> smaller
    * label), compared against its true label. */
  val q51 = Q(
    "q51_knn_vote",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"label".as("true_label"))
      val wNn = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val wVote = Window.partitionBy($"q_id").orderBy($"votes".desc, $"label".asc)
      emb.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("cos", VectorOps.cosine($"q_vec", $"embedding"))
        .withColumn("rn", row_number().over(wNn))
        .filter($"rn" <= 10)
        .groupBy($"q_id", $"true_label", $"label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter($"vr" === 1)
        .select($"q_id", $"true_label", $"label".as("predicted"), $"votes")
        .orderBy($"q_id")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS true_label
                 FROM embeddings WHERE vec_id < 20),
           pairs AS (
             SELECT q.q_id, q.true_label, e.vec_id, e.label,
               ${duckDot("q.q_vec", "e.embedding")} /
                 (sqrt(${duckDot("q.q_vec", "q.q_vec")}) *
                  sqrt(${duckDot("e.embedding", "e.embedding")})) AS cos
             FROM embeddings e, q WHERE e.vec_id <> q.q_id),
           nn AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                  FROM pairs),
           votes AS (SELECT q_id, true_label, label, COUNT(*) AS votes
                     FROM nn WHERE rn <= 10 GROUP BY q_id, true_label, label),
           win AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label ASC) AS vr
                   FROM votes)
      SELECT q_id, true_label, label AS predicted, votes FROM win WHERE vr = 1
      ORDER BY q_id"""),
    doc = "N12: KNN = N11 + mode-per-group via rank idiom")

  /** q52 — per-label centroids (A10 capability, relational form): the
    * embedding micro-quantized (VectorOps.micros), summed exactly as
    * longs per (label, dim), mean rendered in double. One exploded
    * shuffle keyed (label, dim) — 640 groups regardless of corpus size. */
  val q52 = Q(
    "q52_label_centroids",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "embeddings")
        .select($"label", posexplode(VectorOps.microsVec(slice($"embedding", 1, 8))))
        .groupBy($"label", ($"pos" + 1).as("dim"))
        .agg(count(lit(1)).as("n"), sum($"col").as("sum_micros"))
        .select($"label", $"dim",
          ($"sum_micros".cast(DoubleType) / 1e6 / $"n").as("centroid"))
        .orderBy($"label", $"dim")
    },
    Some("""
      WITH d AS (SELECT label, CAST(pos AS INT) AS dim,
                   CAST(CAST(CAST(embedding[CAST(pos AS INT)] AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micros
                 FROM embeddings, (SELECT unnest(range(1, 9)) AS pos))
      SELECT label, dim,
             CAST(SUM(micros) AS DOUBLE) / 1000000 / COUNT(*) AS centroid
      FROM d GROUP BY label, dim ORDER BY label, dim"""),
    doc = "A10 relational twin: exact long sums; VectorMean UDAF is the typed API")

  /** q53 — per-vector norm profile grouped by label (N11 support):
    * micro-quantized norms summed exactly. */
  val q53 = Q(
    "q53_norm_stats",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "embeddings")
        .select($"label",
          VectorOps.micros(sqrt(VectorOps.normSq($"embedding"))).as("norm_micros"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          min($"norm_micros").as("min_norm_micros"),
          max($"norm_micros").as("max_norm_micros"),
          (sum($"norm_micros").cast(DoubleType) / 1e6 / count(lit(1))).as("avg_norm"))
        .orderBy($"label")
    },
    Some(s"""
      WITH n AS (SELECT label,
                   CAST(CAST(sqrt(${duckDot("embedding", "embedding")}) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS norm_micros
                 FROM embeddings)
      SELECT label, COUNT(*) AS n,
             MIN(norm_micros) AS min_norm_micros,
             MAX(norm_micros) AS max_norm_micros,
             CAST(SUM(norm_micros) AS DOUBLE) / 1000000 / COUNT(*) AS avg_norm
      FROM n GROUP BY label ORDER BY label"""),
    doc = "norm profile: sequential-fold norms, exact micro sums")

  /** q64 — label centroids via the typed VectorMean Aggregator (A10,
    * the UDAF API surface; q52 is the same math in relational form).
    * The UDAF's long-micro buffer makes it partition-order-invariant,
    * which is what lets a UDAF be oracle-checked at all. */
  val q64 = Q(
    "q64_vector_mean_udaf",
    (s, dir) => {
      import s.implicits._
      implicit val seqFloatEnc =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
      val vecMean = udaf(new graft.functions.VectorMean(8))
      Tables(s, dir, "embeddings")
        .groupBy($"label")
        .agg(vecMean(slice($"embedding", 1, 8)).as("centroid"),
          count(lit(1)).as("n"))
        .select($"label" +: $"n" +:
          (1 to 8).map(i => element_at($"centroid", i).as(s"c$i")): _*)
        .orderBy($"label")
    },
    Some {
      val dims = (1 to 8)
        .map(i => s"MAX(CASE WHEN dim = $i THEN mean_val END) AS c$i")
        .mkString(",\n             ")
      s"""
      WITH d AS (SELECT label, CAST(pos AS INT) AS dim,
                   CAST(CAST(CAST(embedding[CAST(pos AS INT)] AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micros
                 FROM embeddings, (SELECT unnest(range(1, 9)) AS pos)),
           m AS (SELECT label, dim,
                   CAST(SUM(micros) AS DOUBLE) / 1000000 / COUNT(*) AS mean_val,
                   COUNT(*) AS n
                 FROM d GROUP BY label, dim)
      SELECT label, CAST(MIN(n) AS BIGINT) AS n,
             $dims
      FROM m GROUP BY label ORDER BY label"""
    },
    doc = "A10 typed Aggregator: micro-long buffer -> order-invariant, oracle-exact")

  /** q106 — int8 embedding quantization (N21): symmetric per-vector
    * quantization to TINYINT — 4× smaller storage/shuffle for a
    * billion-vector corpus — verified end to end: the oracle recomputes
    * scale, quantized bytes and the reconstruction cosine with the
    * identical IEEE ops (see VectorOps.quantize8 for why ties agree).
    * q_sum pins the exact byte content; recon_cos pins the dequantized
    * geometry. amax is materialized in its own projection before the
    * quantize lambda (the O(d²) inlining trap — VectorOps scaladoc). */
  val q106 = Q(
    "q106_quantize_int8",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "embeddings")
        .select($"vec_id", $"embedding",
          VectorOps.absMax($"embedding").as("amax"))
        .select($"vec_id", $"embedding", $"amax",
          VectorOps.quantize8($"embedding", $"amax").as("qv"))
        .select($"vec_id", $"amax", $"qv",
          VectorOps.dequantize8($"qv", $"amax").as("dq"), $"embedding")
        .select($"vec_id", $"amax",
          aggregate($"qv", lit(0L), (acc, v) => acc + v.cast(LongType)).as("q_sum"),
          when($"amax" === 0.0, lit(null).cast(DoubleType))
            .otherwise(VectorOps.dotHof($"embedding", $"dq") /
              (sqrt(VectorOps.dotHof($"embedding", $"embedding")) *
                sqrt(VectorOps.dotHof($"dq", $"dq")))).as("recon_cos"))
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH k AS (SELECT vec_id, embedding,
                   ${VectorOps.absMaxSql("embedding")} AS amax
                 FROM embeddings),
      q AS (SELECT vec_id, embedding, amax,
              CASE WHEN amax = 0
                   THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(embedding, x ->
                     CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))
              END AS qv
            FROM k),
      d AS (SELECT vec_id, embedding, amax, qv,
              list_transform(qv, v -> CAST(v AS DOUBLE) * amax / 127) AS dq
            FROM q)
      SELECT vec_id, amax,
             CAST(list_sum(qv) AS BIGINT) AS q_sum,
             CASE WHEN amax = 0 THEN NULL
                  ELSE ${VectorOps.dotSql("embedding", "dq")} /
                       (sqrt(${VectorOps.dotSql("embedding", "embedding")}) *
                        sqrt(${VectorOps.dotSql("dq", "dq")}))
             END AS recon_cos
      FROM d ORDER BY vec_id"""),
    doc = "N21: symmetric int8 quantization — engine-exact bytes (IEEE ops + " +
      "away-from-zero ties), reconstruction cosine pinned by the oracle")

  /** DuckDB twin of the grouped integer k-means PQ codebook training
    * (m=8 subspaces × 8 dims, k=4 codes, 2 rounds) ending in `c2`
    * (sub, cluster, cq) + `sv` (vec_id, sub, sxq) — the q118 CTE
    * device generalized with a `sub` grouping key. */
  private[queries] def pqRound(prev: String, a: String, c: String,
                      sv: String = "sv", dims: Int = 8): String = s"""
      $a AS (SELECT vec_id, sub, cluster, sxq, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT $sv.vec_id, $sv.sub, c.cluster, $sv.sxq,
                CAST(list_sum(list_transform(range(1, ${dims + 1}),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM $sv JOIN $prev c ON $sv.sub = c.sub))
        WHERE rn = 1),
      $c AS (SELECT sub, cluster, list(q ORDER BY pos) AS cq FROM (
        SELECT sub, cluster, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS q
        FROM (SELECT sub, cluster, unnest(range(1, ${dims + 1})) AS pos, unnest(sxq) AS v
              FROM $a)
        GROUP BY sub, cluster, pos)
        GROUP BY sub, cluster)"""

  /** The shared integer-grid quantization CTE (q118's `vq`). */
  private val vqCte: String = """vq AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings)"""

  /** PQ chain over an existing `vq`: subvectors `sv`, codebook
    * training `pc0..pc2`, final codes `paf`, query lookup tables
    * `pdt` — p-prefixed so it composes with the coarse k-means chain
    * (`c0..a3`, Curation's q118 CTEs) inside one WITH (q196). */
  private val pqCoreCtes: String = s"""sv AS (
        SELECT vec_id, CAST(s.sub AS INT) AS sub,
               list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                              CAST(s.sub AS INT) * 8 + 8) AS sxq
        FROM vq CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      pc0 AS (SELECT sub, CAST(rn - 1 AS INT) AS cluster, sxq AS cq FROM (
               SELECT sub, sxq,
                      row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
               FROM sv) WHERE rn <= 4),
      ${pqRound("pc0", "pa1", "pc1")},
      ${pqRound("pc1", "pa2", "pc2")},
      paf AS (SELECT vec_id, sub, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT sv.vec_id, sv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM sv JOIN pc2 c ON sv.sub = c.sub))
        WHERE rn = 1),
      pdt AS (SELECT sv.vec_id AS q_id, c.sub, c.cluster,
               CAST(list_sum(list_transform(range(1, 9),
                 i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
             FROM sv JOIN pc2 c ON sv.sub = c.sub
             WHERE sv.vec_id < 4)"""

  private val pqCtes: String = s"""$vqCte,
      $pqCoreCtes,
      ad AS (SELECT pdt.q_id, paf.vec_id, CAST(SUM(pdt.d) AS BIGINT) AS adist
             FROM paf JOIN pdt ON paf.sub = pdt.sub AND paf.cluster = pdt.cluster
             WHERE paf.vec_id <> pdt.q_id
             GROUP BY pdt.q_id, paf.vec_id)"""

  /** q193 — Product Quantization ANN, train→encode→search (N35): m=8
    * subspace codebooks of k=4 integer-exact centroids (2 grouped
    * k-means rounds), corpus encoded to 8 codes/vector, ADC top-5 for
    * 4 query vectors. The whole PQ pipeline — codebook training,
    * encoding, asymmetric-distance search — is exact BIGINT algebra on
    * the q118 grid, so it hash-matches the DuckDB twin end to end.
    * See [[graft.operators.ProductQuantizer]] for the 100 TB shape
    * (codes are the stored corpus; scoring is a zero-shuffle
    * projection + bounded TopKScored). */
  val q193 = Q(
    "q193_pq_adc",
    (s, dir) => {
      import s.implicits._
      import graft.operators.ProductQuantizer
      val emb = Tables(s, dir, "embeddings")
      val sub = ProductQuantizer
        .subVectors(emb, "vec_id", "embedding", m = 8, subDims = 8)
        .persist()
      val cents = ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2)
      val codes = ProductQuantizer.encode(sub, "vec_id", cents)
      val qSub = sub.filter($"vec_id" < 4)
      val out = ProductQuantizer
        .adcTopK(codes, "vec_id", qSub, "vec_id", cents, m = 8, k = 4, topK = 5)
        .orderBy($"q_id", $"rn")
        .barrier()
      sub.unpersist()
      out
    },
    Some(s"""
      WITH $pqCtes,
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY adist, vec_id) AS rn FROM ad)
      SELECT q_id, rn, vec_id, adist FROM r WHERE rn <= 5
      ORDER BY q_id, rn"""),
    doc = "N35: PQ-ANN (Jégou '11) — grouped integer k-means codebooks, m-byte " +
      "codes, ADC as a zero-shuffle LUT projection + bounded top-k aggregate")

  /** q196 — IVF-PQ ANN (N35b): the production composition the PQ
    * scaladoc promises — IVF coarse cells prune WHICH vectors are
    * scored (q118's exact integer k-means, nProbe=2 of 8 cells), PQ
    * codes shrink WHAT is scored (q193's codebooks), ADC runs only
    * over the probed cells' members. Everything stays on the shared
    * integer grid, so the full compose — coarse train, cell probe,
    * candidate prune, PQ train, encode, ADC, top-5 — hash-matches one
    * DuckDB WITH-chain built from the q118 + q193 CTEs.
    *
    * Scale: coarse assignment and probe are broadcast joins (k=8
    * rows); the candidate stream is ~nProbe/k of the corpus and joins
    * the codes table on vec_id (both sides shrink to longs + m codes);
    * ADC scores via [[graft.operators.ProductQuantizer.adcExpr]]'s
    * map-literal LUT — no per-query plan duplication — and the final
    * top-k is the bounded TopKScored aggregate. */
  val q196 = Q(
    "q196_ivfpq",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, ProductQuantizer}
      val emb = Tables(s, dir, "embeddings")
      val sub = ProductQuantizer
        .subVectors(emb, "vec_id", "embedding", m = 8, subDims = 8)
        .persist()
      // the coarse-quantizer and PQ-codebook trainings are pairwise
      // independent eager chains — overlap them (guide §2.6, r19)
      val ((coarse, coarseCents), cents) = Par.join2(
        KMeansInt.clusterWithCents(emb, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      val codes = ProductQuantizer.encode(sub, "vec_id", cents)
      val qv = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), KMeansInt.quantize($"embedding").as("qx"))
      val wP = Window.partitionBy($"q_id").orderBy($"__d", $"cluster")
      val probes = qv.crossJoin(broadcast(coarseCents))
        .withColumn("__d", KMeansInt.sqDist($"qx", $"cq"))
        .withColumn("__rn", row_number().over(wP))
        .filter($"__rn" <= 2)
        .select($"q_id", $"cluster".as("cell"))
      val cand = coarse.select($"vec_id", $"cluster".as("cell"))
        .join(broadcast(probes), "cell")
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id")
      val luts = ProductQuantizer
        .buildLuts(sub.filter($"vec_id" < 4), "vec_id", cents, m = 8, k = 4)
      val scored = cand.join(codes, "vec_id")
        .select($"q_id", $"vec_id",
          ProductQuantizer.adcExpr(luts, $"q_id", $"codes", m = 8, k = 4).as("adist"))
      // barrier EAGERLY before unpersist (ADVICE r8): unpersist at
      // construction time would drop the cached sub-frame before the
      // lazy plan ever runs, so the encode lineage would recompute
      // from scratch and the orderBy's range-sampling pass would
      // replay it again — q193's posture
      val out = ProductQuantizer.boundedTopK(scored, "vec_id", topK = 5)
        .orderBy($"q_id", $"rn")
        .barrier()
      sub.unpersist()
      out
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From("SELECT vec_id, embedding FROM embeddings")},
      $pqCoreCtes,
      pr AS (SELECT q_id, cell FROM (
        SELECT t.q_id, t.cluster AS cell,
               row_number() OVER (PARTITION BY t.q_id ORDER BY t.d, t.cluster) AS rn
        FROM (SELECT vq.vec_id AS q_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM vq CROSS JOIN c2 c WHERE vq.vec_id < 4) t)
        WHERE rn <= 2),
      cand AS (SELECT pr.q_id, a3.vec_id FROM a3 JOIN pr ON a3.cluster = pr.cell
               WHERE a3.vec_id <> pr.q_id),
      iad AS (SELECT pdt.q_id, paf.vec_id, CAST(SUM(pdt.d) AS BIGINT) AS adist
              FROM paf JOIN pdt ON paf.sub = pdt.sub AND paf.cluster = pdt.cluster
              JOIN cand ON cand.vec_id = paf.vec_id AND cand.q_id = pdt.q_id
              GROUP BY pdt.q_id, paf.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY adist, vec_id) AS rn FROM iad)
      SELECT q_id, rn, vec_id, adist FROM r WHERE rn <= 5
      ORDER BY q_id, rn"""),
    doc = "N35b: IVF-PQ — coarse cells prune the candidate set (nProbe/k of " +
      "the corpus), PQ codes shrink storage+scoring, ADC via one map-literal " +
      "LUT; the full compose hash-matches the q118+q193 CTEs chained")

  /** q198 — JL random-projection sketch (N39): every embedding
    * projected 64 → 16 dims through the md5-derived ±1 matrix, on the
    * shared integer grid — exact BIGINT output, zero shuffles (pure
    * per-row math; the matrix is a plan literal). The cheap sketch
    * that feeds sign-LSH/clustering at 4× less width — see
    * [[graft.operators.RandomProjection]]. */
  val q198 = Q(
    "q198_random_projection",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, RandomProjection}
      Tables(s, dir, "embeddings")
        .select($"vec_id",
          posexplode(RandomProjection.project(
            KMeansInt.quantize($"embedding"), 16, 64)).as(Seq("dim", "y")))
        .orderBy($"vec_id", $"dim")
    },
    Some(s"""
      WITH vq AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings),
      p AS (SELECT vec_id, CAST(d.j AS INT) AS dim,
              CAST(list_sum(list_transform(range(1, 65),
                i -> xq[i] * (${graft.operators.RandomProjection.signsSql(16, 64)})[CAST(d.j AS INT) + 1][i]))
                AS BIGINT) AS y
            FROM vq CROSS JOIN (SELECT unnest(range(0, 16)) AS j) d)
      SELECT vec_id, dim, y FROM p ORDER BY vec_id, dim"""),
    doc = "N39: JL ±1 sketch (Achlioptas '03) — md5-derived literal matrix, " +
      "integer-exact per-row projection, zero shuffle; feeds LSH/clustering " +
      "at 4x less width")

  /** Residual PQ chain CTEs over the coarse assignment (a3/c2 from the
    * q118 chain): residual vectors `rv` (re-centered at +2·10⁴ — see
    * [[graft.operators.ProductQuantizer.residuals]]), subvectors
    * `rsv`, codebooks `rc0..rc2`, codes `raf`. */
  private val residualPqCtes: String = s"""rv AS (
        SELECT vq.vec_id, a3.cluster AS cell,
               list_transform(range(1, 65),
                 i -> vq.xq[i] - c.cq[i] + 20000) AS xq
        FROM vq JOIN a3 ON vq.vec_id = a3.vec_id
        JOIN c2 c ON a3.cluster = c.cluster),
      rsv AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
                list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                               CAST(s.sub AS INT) * 8 + 8) AS sxq
              FROM rv CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      rc0 AS (SELECT sub, CAST(rn - 1 AS INT) AS cluster, sxq AS cq FROM (
               SELECT sub, sxq,
                      row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
               FROM rsv) WHERE rn <= 4),
      ${pqRound("rc0", "ra1", "rc1", sv = "rsv")},
      ${pqRound("rc1", "ra2", "rc2", sv = "rsv")},
      raf AS (SELECT vec_id, sub, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT rsv.vec_id, rsv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM rsv JOIN rc2 c ON rsv.sub = c.sub))
        WHERE rn = 1)"""

  /** q200 — IVFADC with residual encoding (N35c): the fidelity step of
    * Jégou '11 §IV-A that separates toy PQ from the production index —
    * PQ codebooks train on the RESIDUAL (vector − its coarse
    * centroid), which has far less variance than the raw vector, so
    * the same code budget quantizes finer; the query builds one lookup
    * table PER PROBED CELL (its residual differs per cell) and
    * candidates score against their own cell's LUT. Everything stays
    * integer-exact (residuals re-centered non-negative — the grid
    * trick applied twice), so coarse train → residual train → encode →
    * per-cell ADC hash-matches the chained q118+residual CTEs.
    *
    * Scale: identical to q196 plus one broadcast join for the
    * re-centering; LUTs are |Q|·nProbe·m·k longs. The composite
    * (q_id·1024 + cell) LUT key keeps the mixed candidate stream in
    * ONE map literal — cell ids are coarse-seed ids, < 1024 by
    * construction here (assert wider domains upstream). */
  val q200 = Q(
    "q200_ivfadc_residual",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, ProductQuantizer}
      val emb = Tables(s, dir, "embeddings")
      val (coarse, coarseCents) =
        KMeansInt.clusterWithCents(emb, "vec_id", "embedding", k = 8, rounds = 2)
      val rv = ProductQuantizer
        .residuals(emb, "vec_id", "embedding", coarse, coarseCents)
      val rsub = ProductQuantizer
        .subVectorsQ(rv.select($"vec_id", $"xq"), "vec_id", m = 8, subDims = 8)
        .persist()
      val rcents = ProductQuantizer.trainCodebooks(rsub, "vec_id", k = 4, rounds = 2)
      val rcodes = ProductQuantizer.encode(rsub, "vec_id", rcents)
      val qv = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), KMeansInt.quantize($"embedding").as("qx"))
      val wP = Window.partitionBy($"q_id").orderBy($"__d", $"cluster")
      val probes = qv.crossJoin(broadcast(coarseCents))
        .withColumn("__d", KMeansInt.sqDist($"qx", $"cq"))
        .withColumn("__rn", row_number().over(wP))
        .filter($"__rn" <= 2)
        .select($"q_id", $"cluster".as("cell"))
      // one query-residual per probed cell; composite LUT key
      val qr = probes.join(qv, "q_id")
        .join(broadcast(coarseCents.select($"cluster".as("cell"), $"cq")), "cell")
        .select(($"q_id" * 1024 + $"cell").as("qc"),
          zip_with($"qx", $"cq", (x, c) => x - c + lit(20000L)).as("xq"))
      val luts = ProductQuantizer.buildLuts(
        ProductQuantizer.subVectorsQ(qr, "qc", m = 8, subDims = 8),
        "qc", rcents, m = 8, k = 4)
      val cand = coarse.select($"vec_id", $"cluster".as("cell"))
        .join(broadcast(probes), "cell")
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"cell", $"vec_id")
      val scored = cand.join(rcodes, "vec_id")
        .select($"q_id", $"vec_id",
          ProductQuantizer.adcExpr(luts, $"q_id" * 1024 + $"cell", $"codes",
            m = 8, k = 4).as("adist"))
      // barrier eagerly before unpersist (ADVICE r8) — q193's posture
      val out = ProductQuantizer.boundedTopK(scored, "vec_id", topK = 5)
        .orderBy($"q_id", $"rn")
        .barrier()
      rsub.unpersist()
      out
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From("SELECT vec_id, embedding FROM embeddings")},
      $residualPqCtes,
      pr AS (SELECT q_id, cell FROM (
        SELECT t.q_id, t.cluster AS cell,
               row_number() OVER (PARTITION BY t.q_id ORDER BY t.d, t.cluster) AS rn
        FROM (SELECT vq.vec_id AS q_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM vq CROSS JOIN c2 c WHERE vq.vec_id < 4) t)
        WHERE rn <= 2),
      qr AS (SELECT p.q_id, p.cell,
               list_transform(range(1, 65),
                 i -> vq.xq[i] - c.cq[i] + 20000) AS xq
             FROM pr p JOIN vq ON vq.vec_id = p.q_id
             JOIN c2 c ON p.cell = c.cluster),
      qrs AS (SELECT q_id, cell, CAST(s.sub AS INT) AS sub,
                list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                               CAST(s.sub AS INT) * 8 + 8) AS sxq
              FROM qr CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      rdt AS (SELECT qrs.q_id, qrs.cell, c.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM qrs JOIN rc2 c ON qrs.sub = c.sub),
      cand AS (SELECT pr.q_id, pr.cell, a3.vec_id
               FROM a3 JOIN pr ON a3.cluster = pr.cell
               WHERE a3.vec_id <> pr.q_id),
      iad AS (SELECT cand.q_id, cand.vec_id, CAST(SUM(rdt.d) AS BIGINT) AS adist
              FROM cand
              JOIN raf ON raf.vec_id = cand.vec_id
              JOIN rdt ON rdt.sub = raf.sub AND rdt.cluster = raf.cluster
                      AND rdt.q_id = cand.q_id AND rdt.cell = cand.cell
              GROUP BY cand.q_id, cand.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY adist, vec_id) AS rn FROM iad)
      SELECT q_id, rn, vec_id, adist FROM r WHERE rn <= 5
      ORDER BY q_id, rn"""),
    doc = "N35c: IVFADC residual encoding (Jégou '11 §IV-A) — codebooks on " +
      "coarse-cell residuals, per-probed-cell query LUTs under one composite " +
      "map key; the fidelity step that separates toy PQ from the production " +
      "index, hash-matched end to end")

  /** One unrolled NN-Descent round: incident lists capped at 2k=8,
    * local-join pairs, union current edges, exact rescoring, top-k=4
    * per node. */
  private def nndRound(eIn: String, r: Int, pfx: String = "",
                       k: Int = 4): String = s"""
      ${pfx}inc$r AS (SELECT node, nb, MIN(d) AS d FROM (
          SELECT v AS node, u AS nb, d FROM $eIn
          UNION ALL SELECT u, v, d FROM $eIn)
        GROUP BY node, nb),
      ${pfx}it$r AS (SELECT node, nb FROM (
          SELECT *, row_number() OVER (PARTITION BY node ORDER BY d, nb) AS rn
          FROM ${pfx}inc$r) WHERE rn <= ${2 * k}),
      ${pfx}cp$r AS (SELECT a.nb AS v, b.nb AS u
               FROM ${pfx}it$r a JOIN ${pfx}it$r b ON a.node = b.node AND a.nb < b.nb),
      ${pfx}cd$r AS (SELECT DISTINCT v, u FROM (
          SELECT v, u FROM ${pfx}cp$r
          UNION ALL SELECT u AS v, v AS u FROM ${pfx}cp$r
          UNION ALL SELECT v, u FROM $eIn) WHERE v <> u),
      ${pfx}sc$r AS (SELECT e.v, e.u,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
               FROM ${pfx}cd$r e
               JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      ${pfx}e${r + 1} AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM ${pfx}sc$r) WHERE rn <= $k)"""

  /** q201 — NN-Descent KNN-graph build (N41): Dong '11's local-join
    * iteration from a deliberately poor deterministic seed (each
    * node's 4 id-successors, mod N) — 2 rounds of "a neighbor of a
    * neighbor is likely a neighbor" with exact grid distances and
    * (d, id) tie-breaks, so the full iterative graph build
    * hash-matches the rounds unrolled as CTEs. The KNN graph is what
    * HNSW/NSG-class serving indexes are built FROM — and NN-Descent,
    * unlike their sequential inserts, is a data-parallel algorithm.
    * See [[graft.operators.NNDescent]] for the per-round bounds. */
  val q201 = Q(
    "q201_nndescent",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, NNDescent}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq.count() // 1-scalar driver action: the init's mod base
      val init = vq.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      val out = NNDescent.build(vq, "vec_id", init, k = 4, rounds = 2)
        .orderBy($"v", $"rn")
        .barrier() // honors spark.graft.reliableCheckpoints (ADVICE r8)
      vq.unpersist()
      out
    },
    Some(s"""
      WITH vq AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vq),
      e0r AS (SELECT vq.vec_id AS v, (vq.vec_id + g.i) % nt.n AS u
              FROM vq CROSS JOIN nt
              CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g),
      s0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM e0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      e1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM s0) WHERE rn <= 4),
      ${nndRound("e1", 1)},
      ${nndRound("e2", 2)}
      SELECT v, CAST(rn AS INT) AS rn, u, d FROM (
        SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
        FROM e3) WHERE rn <= 4
      ORDER BY v, rn"""),
    doc = "N41: NN-Descent KNN graph (Dong '11) — bounded local joins, " +
      "O(N·k²) candidate ids per round, exact integer distances; the " +
      "data-parallel alternative to sequential-insert graph indexes")

  /** q222 — incremental IVF-PQ index maintenance (X97): append a new
    * embedding batch (vec_id ≥ 384, a fixed split so every scale
    * factor exercises it) to an index whose coarse cells AND PQ
    * codebooks were trained on the FROZEN prefix (vec_id < 384) —
    * [[graft.operators.IvfPqIndex.appendToIndex]]: frozen-cell
    * assignment + frozen-codebook encode, O(|delta|), nothing about
    * the indexed corpus re-read. Output per appended vector: its cell,
    * its exact coarse distortion (the documented RETRAIN-TRIGGER
    * evidence), and its m PQ codes (exploded to (sub, code) rows so
    * the hash gate sees scalars).
    *
    * The ORACLE never sees the incremental structure (q139/q213's
    * device): it trains the same frozen model in SQL, assigns + encodes
    * under it, and restricts to the delta — maintained ≡
    * rebuilt-then-restricted is the entire correctness claim, and
    * IvfPqIndexSpec pins the same law engine-side at multiple SFs. */
  val q222 = Q(
    "q222_incremental_ivfpq",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{IvfPqIndex, KMeansInt, ProductQuantizer}
      val emb = Tables(s, dir, "embeddings")
      val frozen = emb.filter($"vec_id" < 384)
      val delta = emb.filter($"vec_id" >= 384)
      val sub = ProductQuantizer
        .subVectors(frozen, "vec_id", "embedding", m = 8, subDims = 8)
      // independent eager trainings, overlapped (guide §2.6, r19)
      val ((_, coarseCents), books) = Par.join2(
        KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      IvfPqIndex
        .appendToIndex(delta, "vec_id", "embedding", coarseCents, books,
          m = 8, subDims = 8)
        .select($"vec_id", $"cell", $"cell_dist",
          posexplode($"codes").as(Seq("sub", "code")))
        .orderBy($"vec_id", $"sub")
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 384")},
      $pqCoreCtes,
      dvq AS (SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
              FROM embeddings WHERE vec_id >= 384),
      dcell AS (SELECT vec_id, cluster AS cell, d AS cell_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT dvq.vec_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM dvq CROSS JOIN c2 c))
        WHERE rn = 1),
      dsv AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
                list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                               CAST(s.sub AS INT) * 8 + 8) AS sxq
              FROM dvq CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      dcode AS (SELECT vec_id, sub, cluster AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT dsv.vec_id, dsv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM dsv JOIN pc2 c ON dsv.sub = c.sub))
        WHERE rn = 1)
      SELECT dcell.vec_id, CAST(cell AS INT) AS cell, cell_dist,
             CAST(dcode.sub AS INT) AS sub, CAST(code AS INT) AS code
      FROM dcell JOIN dcode ON dcell.vec_id = dcode.vec_id
      ORDER BY dcell.vec_id, dcode.sub"""),
    doc = "X97: incremental IVF-PQ maintenance — frozen-cell assignment + " +
      "frozen-codebook encode, O(|delta|) with both models broadcast; " +
      "oracle rebuilds under the same frozen model and restricts, " +
      "maintained == rebuilt; cell_dist is the documented retrain trigger")

  /** q224 — incremental IVFADC residual-index maintenance (X97b): the
    * q222 law carried to the PRODUCTION index variant (q200's residual
    * encoding) — a delta vector assigns to its frozen coarse cell, is
    * re-centered against that cell's centroid, and encodes under the
    * frozen RESIDUAL codebooks. All three steps are pointwise under
    * frozen tables, so maintained ≡ rebuilt-then-restricted holds
    * verbatim; with q222 the WHOLE ANN ladder (flat PQ and residual
    * IVFADC) has an O(|delta|) maintenance path. Oracle: q200's
    * residual CTE chain trained on the frozen prefix, delta assigned +
    * residual-encoded under it, restricted. */
  val q224 = Q(
    "q224_incremental_ivfadc",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{IvfPqIndex, KMeansInt, ProductQuantizer}
      val emb = Tables(s, dir, "embeddings")
      val frozen = emb.filter($"vec_id" < 384)
      val delta = emb.filter($"vec_id" >= 384)
      val (coarse, coarseCents) =
        KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2)
      val rv = ProductQuantizer
        .residuals(frozen, "vec_id", "embedding", coarse, coarseCents)
      val rsub = ProductQuantizer
        .subVectorsQ(rv.select($"vec_id", $"xq"), "vec_id", m = 8, subDims = 8)
        .persist()
      val rbooks = ProductQuantizer.trainCodebooks(rsub, "vec_id", k = 4, rounds = 2)
      val appended = IvfPqIndex
        .appendToResidualIndex(delta, "vec_id", "embedding", coarseCents,
          rbooks, m = 8, subDims = 8)
        .select($"vec_id", $"cell", $"cell_dist",
          posexplode($"codes").as(Seq("sub", "code")))
        .orderBy($"vec_id", $"sub")
        .barrier() // eager, BEFORE unpersist — q193/q196's posture
      rsub.unpersist()
      appended
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 384")},
      $residualPqCtes,
      dvq AS (SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
              FROM embeddings WHERE vec_id >= 384),
      dcell AS (SELECT vec_id, cluster AS cell, d AS cell_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT dvq.vec_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM dvq CROSS JOIN c2 c))
        WHERE rn = 1),
      drv AS (SELECT dvq.vec_id, dcell.cell, dcell.cell_dist,
                list_transform(range(1, 65),
                  i -> dvq.xq[i] - c.cq[i] + 20000) AS xq
              FROM dvq JOIN dcell ON dvq.vec_id = dcell.vec_id
              JOIN c2 c ON dcell.cell = c.cluster),
      drsv AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
                 list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                                CAST(s.sub AS INT) * 8 + 8) AS sxq
               FROM drv CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      dcode AS (SELECT vec_id, sub, cluster AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT drsv.vec_id, drsv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM drsv JOIN rc2 c ON drsv.sub = c.sub))
        WHERE rn = 1)
      SELECT drv.vec_id, CAST(drv.cell AS INT) AS cell, drv.cell_dist,
             CAST(dcode.sub AS INT) AS sub, CAST(code AS INT) AS code
      FROM drv JOIN dcode ON drv.vec_id = dcode.vec_id
      ORDER BY drv.vec_id, dcode.sub"""),
    doc = "X97b: incremental IVFADC residual-index maintenance — frozen-cell " +
      "assign + frozen-centroid re-center + frozen-residual-codebook encode, " +
      "all pointwise => maintained == rebuilt-then-restricted; the whole ANN " +
      "ladder now has an O(|delta|) append path")

  /** q227 — the retrain trigger, demonstrated live (X97c): q222/q224
    * EMIT per-vector coarse distortion and their scaladocs document
    * "monitor delta mean vs train-time mean, rebuild past ~1.5×" —
    * this query is that monitor, oracle-checked, with both of its
    * possible answers in one output: the STATIONARY delta (vec_id ≥
    * 384, same distribution as the frozen training prefix) reads a
    * ratio near 1000 milli, and a DRIFTED cohort (the same vectors
    * shifted +0.5 per coordinate — a deterministic, engine-exact
    * drift: two correctly-rounded IEEE ops before the usual grid
    * quantization) reads orders of magnitude above the 1500-milli
    * threshold. The pipeline wires the q222 append's `cell_dist`
    * straight into this aggregate; a real deployment alerts on
    * `ratio_milli > 1500`.
    *
    * Scale: three cohort assignments against the broadcast k-row
    * centroid table + a 3-row aggregate — O(corpus) scans, O(1)
    * output. All integer-exact (means are truncating BIGINT
    * divisions; the ratio is a milli-scaled BIGINT division). */
  val q227 = Q(
    "q227_retrain_trigger",
    (s, dir) => {
      import s.implicits._
      import graft.operators.KMeansInt
      val emb = Tables(s, dir, "embeddings")
      val frozen = emb.filter($"vec_id" < 384)
      val delta = emb.filter($"vec_id" >= 384)
      val (_, cents) =
        KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2)
      def cohort(df: org.apache.spark.sql.DataFrame, name: String,
                 vec: org.apache.spark.sql.Column) =
        KMeansInt.assign(df.select($"vec_id", vec.as("xq")), "vec_id", cents)
          .select(lit(name).as("cohort"), $"dist")
      val drifted = transform($"embedding",
        x => (round((x.cast("double") + 0.5d) * 10000d)).cast("long") + 10000L)
      val rows = cohort(frozen, "a_frozen", KMeansInt.quantize($"embedding"))
        .unionByName(cohort(delta, "b_delta", KMeansInt.quantize($"embedding")))
        .unionByName(cohort(delta, "c_drifted", drifted))
        .groupBy($"cohort")
        .agg(count(lit(1)).as("n"), sum($"dist").as("sd"))
        .select($"cohort", $"n", expr("sd div n").as("mean_dist"))
        .barrier() // 3-row aggregate consumed twice (base + output)
      val base = rows.filter($"cohort" === "a_frozen")
        .select($"mean_dist".as("frozen_mean"))
      rows.crossJoin(broadcast(base))
        .select($"cohort", $"n", $"mean_dist",
          expr("(mean_dist * 1000) div frozen_mean").as("ratio_milli"),
          (expr("(mean_dist * 1000) div frozen_mean") > 1500L)
            .cast("int").as("retrain"))
        .orderBy($"cohort")
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 384")},
      fq AS (SELECT 'a_frozen' AS cohort, vec_id, xq FROM vq),
      dq AS (SELECT 'b_delta' AS cohort, vec_id, list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
             FROM embeddings WHERE vec_id >= 384),
      gq AS (SELECT 'c_drifted' AS cohort, vec_id, list_transform(embedding,
               x -> CAST(round((CAST(x AS DOUBLE) + 0.5) * 10000) AS BIGINT) + 10000) AS xq
             FROM embeddings WHERE vec_id >= 384),
      uq AS (SELECT * FROM fq UNION ALL SELECT * FROM dq UNION ALL SELECT * FROM gq),
      asn AS (SELECT cohort, vec_id, d FROM (
        SELECT *, row_number() OVER (PARTITION BY cohort, vec_id
                                     ORDER BY d, cluster) AS rn
        FROM (SELECT uq.cohort, uq.vec_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM uq CROSS JOIN c2 c))
        WHERE rn = 1),
      agg AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(d) // COUNT(*) AS BIGINT) AS mean_dist
              FROM asn GROUP BY cohort),
      base AS (SELECT mean_dist AS frozen_mean FROM agg WHERE cohort = 'a_frozen')
      SELECT cohort, n, mean_dist,
             CAST((mean_dist * 1000) // frozen_mean AS BIGINT) AS ratio_milli,
             CAST((mean_dist * 1000) // frozen_mean > 1500 AS INT) AS retrain
      FROM agg CROSS JOIN base ORDER BY cohort"""),
    doc = "X97c: the maintenance retrain trigger live — frozen / stationary-" +
      "delta / drifted-delta mean coarse distortions and milli-ratios " +
      "against the train-time mean; the drifted cohort fires the documented " +
      "1500-milli alert, the stationary one does not; all BIGINT-exact")

  /** q234 — IVF-PQ index takedown (X102): the q222 maintenance law's
    * DELETE member. The full corpus is indexed under the frozen model
    * (trained on the vec_id < 384 prefix — q222's device), a
    * deterministic takedown set (vec_id mod 13 = 5) is removed via
    * [[graft.operators.IvfPqIndex.removeFromIndex]] (broadcast-sized
    * anti-join; no retrain, no touch of any surviving row), and the
    * output is the per-cell serving update: live/deleted occupancy
    * plus EXACT content checksums over the live rows (id sum, coarse
    * distortion sum, position-weighted code sum) — any surviving row
    * mutated, dropped, or duplicated by the takedown breaks a
    * checksum. Maintained ≡ rebuilt-minus-deleted because every index
    * row is pointwise under the frozen model; the oracle rebuilds
    * from scratch in SQL (train on the prefix, assign + encode ALL
    * vectors, flag the takedown set) and re-derives the ledger.
    *
    * Scale: one scan of the index with a broadcast takedown set, one
    * per-row bounded aggregate (m codes), one per-cell aggregate —
    * k rows out. */
  val q234 = Q(
    "q234_index_takedown",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{IvfPqIndex, KMeansInt, ProductQuantizer}
      val emb = Tables(s, dir, "embeddings")
      val frozen = emb.filter($"vec_id" < 384)
      val sub = ProductQuantizer
        .subVectors(frozen, "vec_id", "embedding", m = 8, subDims = 8)
      // independent eager trainings, overlapped (guide §2.6, r19)
      val ((_, coarseCents), books) = Par.join2(
        KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      // the full index under the frozen model (appendToIndex over the
      // whole corpus IS the build — pointwise, q222's law); consumed
      // twice below
      val index = IvfPqIndex
        .appendToIndex(emb, "vec_id", "embedding", coarseCents, books,
          m = 8, subDims = 8)
        .barrier()
      val deleted = emb.select($"vec_id").filter($"vec_id" % 13 === 5)
      val (live, stats) = IvfPqIndex.removeFromIndex(index, "vec_id", deleted)
      val rowW = live
        .select($"vec_id", $"cell", $"cell_dist",
          posexplode($"codes").as(Seq("sub", "code")))
        .groupBy($"vec_id", $"cell", $"cell_dist")
        .agg(sum(($"sub".cast("long") + 1L) * ($"code".cast("long") + 1L))
          .as("code_w"))
      val sums = rowW.groupBy($"cell")
        .agg(sum($"vec_id").as("live_id_sum"),
          sum($"cell_dist").as("live_dist_sum"),
          sum($"code_w").as("live_code_sum"))
      stats.join(sums, Seq("cell"), "left_outer")
        .select($"cell".cast("int").as("cell"), $"n_live", $"n_deleted",
          coalesce($"live_id_sum", lit(0L)).as("live_id_sum"),
          coalesce($"live_dist_sum", lit(0L)).as("live_dist_sum"),
          coalesce($"live_code_sum", lit(0L)).as("live_code_sum"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 384")},
      $pqCoreCtes,
      dvq AS (SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
              FROM embeddings),
      dcell AS (SELECT vec_id, cluster AS cell, d AS cell_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT dvq.vec_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM dvq CROSS JOIN c2 c))
        WHERE rn = 1),
      dsv AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
                list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                               CAST(s.sub AS INT) * 8 + 8) AS sxq
              FROM dvq CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      dcode AS (SELECT vec_id, sub, cluster AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT dsv.vec_id, dsv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM dsv JOIN pc2 c ON dsv.sub = c.sub))
        WHERE rn = 1),
      w AS (SELECT vec_id,
              CAST(SUM((sub + 1) * (code + 1)) AS BIGINT) AS code_w
            FROM dcode GROUP BY vec_id),
      f AS (SELECT dcell.vec_id, cell, cell_dist, code_w,
              CASE WHEN dcell.vec_id % 13 = 5 THEN 1 ELSE 0 END AS del
            FROM dcell JOIN w ON dcell.vec_id = w.vec_id)
      SELECT CAST(cell AS INT) AS cell,
             CAST(SUM(1 - del) AS BIGINT) AS n_live,
             CAST(SUM(del) AS BIGINT) AS n_deleted,
             CAST(SUM(CASE WHEN del = 0 THEN vec_id ELSE 0 END) AS BIGINT)
               AS live_id_sum,
             CAST(SUM(CASE WHEN del = 0 THEN cell_dist ELSE 0 END) AS BIGINT)
               AS live_dist_sum,
             CAST(SUM(CASE WHEN del = 0 THEN code_w ELSE 0 END) AS BIGINT)
               AS live_code_sum
      FROM f GROUP BY cell ORDER BY cell"""),
    doc = "X102: IVF-PQ index takedown — delete an id set from the built " +
      "index by broadcast anti-join (no retrain, frozen model untouched); " +
      "per-cell occupancy + exact live-row checksums; oracle rebuilds " +
      "from scratch and restricts, maintained == rebuilt-minus-deleted")

  /** q249 — INDEX generation rollover (X108d, r14): the reaper's index
    * member — q234's takedown ledger accretes tombstones until the
    * dead-row fraction crosses the declared threshold (the q245
    * packing reaper's 25%), then generation G+1 is REBUILT from the
    * live corpus rows under the FROZEN model (coarse cents + PQ
    * codebooks trained on the original prefix stay — retrain is the
    * separate q227 trigger; generations swap atomically, q139's
    * posture). Because index rows are pointwise under the frozen
    * model, maintained ≡ rebuilt (q234's law) — so the rollover
    * reclaims tombstone space without changing one serving answer,
    * and the oracle (train on the prefix, assign + encode ONLY the
    * survivors) hash-pins the rebuilt generation directly. The
    * takedown set (vec_id mod 3 = 0, ~333k ppm) crosses the
    * threshold; the trigger is asserted engine-side via
    * [[graft.operators.IvfPqIndex.deadFractionPpm]].
    *
    * Scale: the rebuild scans live corpus rows once under broadcast
    * models (q222's append posture applied to the survivor set);
    * output is k cells of exact checksums. */
  val q249 = Q(
    "q249_index_rollover",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{IvfPqIndex, KMeansInt, ProductQuantizer}
      val emb = Tables(s, dir, "embeddings")
      val frozen = emb.filter($"vec_id" < 384)
      val sub = ProductQuantizer
        .subVectors(frozen, "vec_id", "embedding", m = 8, subDims = 8)
      // independent eager trainings, overlapped (guide §2.6, r19)
      val ((_, coarseCents), books) = Par.join2(
        KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      val index = IvfPqIndex
        .appendToIndex(emb, "vec_id", "embedding", coarseCents, books,
          m = 8, subDims = 8)
        .barrier()
      val deleted = emb.select($"vec_id").filter($"vec_id" % 3 === 0)
      val (_, stats) = IvfPqIndex.removeFromIndex(index, "vec_id", deleted)
      val ppm = IvfPqIndex.deadFractionPpm(stats)
      require(ppm >= graft.operators.GenerationRollover.ThresholdPpm,
        s"index rollover not due: dead fraction $ppm ppm")
      // generation G+1: re-encode the LIVE corpus rows under the frozen
      // model (pointwise => equals the maintained live set, q234's law)
      val liveEmb = emb.join(deleted, Seq("vec_id"), "left_anti")
      val g1 = IvfPqIndex.appendToIndex(liveEmb, "vec_id", "embedding",
        coarseCents, books, m = 8, subDims = 8)
      val rowW = g1
        .select($"vec_id", $"cell", $"cell_dist",
          posexplode($"codes").as(Seq("sub", "code")))
        .groupBy($"vec_id", $"cell", $"cell_dist")
        .agg(sum(($"sub".cast("long") + 1L) * ($"code".cast("long") + 1L))
          .as("code_w"))
      rowW.groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"), sum($"vec_id").as("id_sum"),
          sum($"cell_dist").as("dist_sum"), sum($"code_w").as("code_sum"))
        .select($"cell".cast("int").as("cell"), $"n_vecs", $"id_sum",
          $"dist_sum", $"code_sum")
        .orderBy($"cell")
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 384")},
      $pqCoreCtes,
      dvq AS (SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
              FROM embeddings WHERE vec_id % 3 <> 0),
      dcell AS (SELECT vec_id, cluster AS cell, d AS cell_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT dvq.vec_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM dvq CROSS JOIN c2 c))
        WHERE rn = 1),
      dsv AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
                list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                               CAST(s.sub AS INT) * 8 + 8) AS sxq
              FROM dvq CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      dcode AS (SELECT vec_id, sub, cluster AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT dsv.vec_id, dsv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM dsv JOIN pc2 c ON dsv.sub = c.sub))
        WHERE rn = 1),
      w AS (SELECT vec_id,
              CAST(SUM((sub + 1) * (code + 1)) AS BIGINT) AS code_w
            FROM dcode GROUP BY vec_id)
      SELECT CAST(cell AS INT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(dcell.vec_id) AS BIGINT) AS id_sum,
             CAST(SUM(cell_dist) AS BIGINT) AS dist_sum,
             CAST(SUM(code_w) AS BIGINT) AS code_sum
      FROM dcell JOIN w ON dcell.vec_id = w.vec_id
      GROUP BY cell ORDER BY cell"""),
    doc = "X108d: index generation rollover — the reaper's index member: " +
      "dead-fraction trigger past the declared threshold rebuilds " +
      "generation G+1 from live corpus rows under the FROZEN model " +
      "(pointwise => maintained == rebuilt, so serving answers are " +
      "unchanged while tombstone space is reclaimed); oracle trains on " +
      "the prefix and encodes only survivors")

  /** One unrolled beam-search round for the q238 oracle: frontier
    * tx$r = the beam best not-yet-expanded seen rows, expanded-set
    * union ex$r, one-hop neighbors nb$r through the symmetrized graph,
    * fresh never-seen candidates fr$r, exact-grid scores sc$r, and the
    * folded seen set sn$r. */
  private def gannRound(r: Int, beam: Int, pfx: String = ""): String = {
    val snPrev = s"${pfx}sn${r - 1}"
    val anti =
      if (r == 1) snPrev
      else s"""(SELECT s.q_id, s.id, s.d FROM $snPrev s
               ANTI JOIN ${pfx}ex${r - 1} e ON e.q_id = s.q_id AND e.id = s.id)"""
    s"""
      ${pfx}tx$r AS MATERIALIZED (SELECT q_id, id, d FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, id) AS rn
          FROM $anti) WHERE rn <= $beam),
      ${pfx}ex$r AS MATERIALIZED (${
        if (r == 1) s"SELECT q_id, id FROM ${pfx}tx1"
        else s"SELECT q_id, id FROM ${pfx}ex${r - 1} UNION ALL SELECT q_id, id FROM ${pfx}tx$r"}),
      ${pfx}nb$r AS (SELECT DISTINCT t.q_id, g.u AS id
               FROM ${pfx}tx$r t JOIN ${pfx}gsym g ON g.v = t.id),
      ${pfx}fr$r AS (SELECT n.q_id, n.id FROM ${pfx}nb$r n
               ANTI JOIN $snPrev s ON s.q_id = n.q_id AND s.id = n.id),
      ${pfx}gsc$r AS (SELECT f.q_id, f.id,
          CAST(list_sum(list_transform(range(1, 65),
            i -> (q.xq[i] - a.xq[i]) * (q.xq[i] - a.xq[i]))) AS BIGINT) AS d
        FROM ${pfx}fr$r f JOIN vq a ON a.vec_id = f.id JOIN qv q ON q.q_id = f.q_id),
      ${pfx}sn$r AS MATERIALIZED (SELECT q_id, id, MIN(d) AS d FROM (
          SELECT q_id, id, d FROM $snPrev
          UNION ALL SELECT q_id, id, d FROM ${pfx}gsc$r)
        GROUP BY q_id, id)"""
  }

  /** q238 — graph-ANN beam search (N48): the QUERY path over the q201
    * NN-Descent KNN graph — the ANN ladder's graph-index story closed
    * (build q201, serve HERE; the IVF family serves q69/q140/q196).
    * Data-parallel best-first search: all queries advance together,
    * each round expanding their `beam` best unexpanded candidates
    * through ONE equi-join on the symmetrized edge table, scoring only
    * never-seen pairs with exact grid distances, answering with the
    * exact top-k of everything seen (self-matches excluded). Oracle:
    * the same graph chain as q201 plus the rounds unrolled as CTEs —
    * frontier selection, expansion, fresh-scoring, and the seen fold
    * are all deterministic ((d, id) ties, exact BIGINTs), so the whole
    * search hash-matches. GraphAnnSpec pins recall against brute force
    * and against IVF at an equal-or-larger candidate budget. */
  val q238 = Q(
    "q238_graph_ann_search",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq.count() // 1-scalar driver action: the init's mod base
      val init = vq.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      val graph = NNDescent.build(vq, "vec_id", init, k = 4, rounds = 2)
        .select($"v", $"u")
      val queries = vq.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), $"xq")
      val entries = vq.filter($"vec_id" < 4).select($"vec_id".as("id"))
      val out = GraphAnn
        .beamSearch(vq, "vec_id", graph, queries, entries,
          beam = 4, rounds = 3, k = 4)
        .orderBy($"q_id", $"rn")
        .barrier() // eager, BEFORE unpersist
      vq.unpersist()
      out
    },
    Some(s"""
      WITH vq AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vq),
      e0r AS (SELECT vq.vec_id AS v, (vq.vec_id + g.i) % nt.n AS u
              FROM vq CROSS JOIN nt
              CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g),
      s0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM e0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      e1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM s0) WHERE rn <= 4),
      ${nndRound("e1", 1)},
      ${nndRound("e2", 2)},
      gg AS (SELECT v, u FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM e3) WHERE rn <= 4),
      gsym AS MATERIALIZED (SELECT DISTINCT v, u FROM (
          SELECT v, u FROM gg UNION ALL SELECT u AS v, v AS u FROM gg)
        WHERE v <> u),
      qv AS MATERIALIZED (SELECT vec_id AS q_id, xq FROM vq WHERE vec_id < 4),
      sn0 AS MATERIALIZED (SELECT q.q_id, e.vec_id AS id,
          CAST(list_sum(list_transform(range(1, 65),
            i -> (q.xq[i] - e.xq[i]) * (q.xq[i] - e.xq[i]))) AS BIGINT) AS d
        FROM qv q CROSS JOIN (SELECT vec_id, xq FROM vq WHERE vec_id < 4) e),
      ${gannRound(1, 4)},
      ${gannRound(2, 4)},
      ${gannRound(3, 4)}
      SELECT q_id, CAST(rn AS INT) AS rn, id, d FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, id) AS rn
        FROM sn3 WHERE id <> q_id) WHERE rn <= 4
      ORDER BY q_id, rn"""),
    doc = "N48: graph-ANN beam search over the q201 KNN graph — " +
      "data-parallel best-first rounds (beam frontier, one-join " +
      "expansion, fresh-only exact scoring), deterministic ties; " +
      "oracle unrolls the rounds as CTEs")

  /** q240 — graph-index APPEND (X105): the maintenance matrix's last
    * empty cell — packing and the IVF-PQ index both append (q213,
    * q222) and delete (q233, q234); the q201 KNN graph could only be
    * rebuilt. New nodes connect by beam-searching the FROZEN graph
    * (HNSW's own insert: search, then connect) — every delta node
    * searches the same frozen structure simultaneously, so the append
    * is deterministic, order-free, and O(|delta| × search budget).
    * Reverse edges and delta-delta edges reconcile at the next
    * rebuild generation (documented, the T22/T24 caveat class).
    * Oracle: the q238 unrolled-rounds device with the graph chain on
    * the frozen prefix and the delta as the query set. */
  val q240 = Q(
    "q240_graph_append",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val frozen = vq.filter($"vec_id" < 384)
      val n = frozen.count() // 1-scalar driver action: the init's mod base
      val init = frozen.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      val graph = NNDescent.build(frozen, "vec_id", init, k = 4, rounds = 2)
        .select($"v", $"u")
      val delta = vq.filter($"vec_id" >= 384)
      val entries = frozen.filter($"vec_id" < 4).select($"vec_id".as("id"))
      val out = GraphAnn
        .appendNodes(frozen, "vec_id", graph, delta, entries,
          beam = 4, rounds = 3, k = 4)
        .orderBy($"v", $"rn")
        .barrier() // eager, BEFORE unpersist
      vq.unpersist()
      out
    },
    Some(s"""
      WITH vq AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings WHERE vec_id < 384),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vq),
      e0r AS (SELECT vq.vec_id AS v, (vq.vec_id + g.i) % nt.n AS u
              FROM vq CROSS JOIN nt
              CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g),
      s0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM e0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      e1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM s0) WHERE rn <= 4),
      ${nndRound("e1", 1)},
      ${nndRound("e2", 2)},
      gg AS (SELECT v, u FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM e3) WHERE rn <= 4),
      gsym AS MATERIALIZED (SELECT DISTINCT v, u FROM (
          SELECT v, u FROM gg UNION ALL SELECT u AS v, v AS u FROM gg)
        WHERE v <> u),
      qv AS MATERIALIZED (SELECT vec_id AS q_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings WHERE vec_id >= 384),
      sn0 AS MATERIALIZED (SELECT q.q_id, e.vec_id AS id,
          CAST(list_sum(list_transform(range(1, 65),
            i -> (q.xq[i] - e.xq[i]) * (q.xq[i] - e.xq[i]))) AS BIGINT) AS d
        FROM qv q CROSS JOIN (SELECT vec_id, xq FROM vq WHERE vec_id < 4) e),
      ${gannRound(1, 4)},
      ${gannRound(2, 4)},
      ${gannRound(3, 4)}
      SELECT q_id AS v, CAST(rn AS INT) AS rn, id AS u, d FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, id) AS rn
        FROM sn3 WHERE id <> q_id) WHERE rn <= 4
      ORDER BY v, rn"""),
    doc = "X105: graph-index append — delta nodes connect by beam-searching " +
      "the frozen graph (HNSW's insert, order-free and data-parallel); " +
      "reverse/delta-delta edges reconcile at the next rebuild generation; " +
      "oracle unrolls the search rounds over the frozen-prefix graph")

  /** q241 — graph-index TAKEDOWN (X106): drop a node set from the q201
    * KNN graph as sources AND as targets, with the per-surviving-node
    * degradation ledger — a node that lost neighbors serves a thinner
    * neighborhood until the next rebuild re-densifies it, and
    * sum(n_lost)/sum(n_before) is the rebuild trigger (q222's
    * cell_dist posture). Pure anti-join arithmetic — exact by
    * construction, oracle rebuilds the graph and re-derives the
    * ledger. */
  val q241 = Q(
    "q241_graph_takedown",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq.count()
      val init = vq.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      val graph = NNDescent.build(vq, "vec_id", init, k = 4, rounds = 2)
      val deleted = emb.select($"vec_id").filter($"vec_id" % 13 === 5)
      val (_, ledger) = GraphAnn.removeNodes(graph, deleted)
      val out = ledger.orderBy($"v").barrier() // eager, BEFORE unpersist
      vq.unpersist()
      out
    },
    Some(s"""
      WITH vq AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vq),
      e0r AS (SELECT vq.vec_id AS v, (vq.vec_id + g.i) % nt.n AS u
              FROM vq CROSS JOIN nt
              CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g),
      s0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM e0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      e1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM s0) WHERE rn <= 4),
      ${nndRound("e1", 1)},
      ${nndRound("e2", 2)},
      gg AS (SELECT v, u FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM e3) WHERE rn <= 4)
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN u % 13 = 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lost,
             CAST(SUM(CASE WHEN u % 13 = 5 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_live
      FROM gg WHERE v % 13 <> 5
      GROUP BY v ORDER BY v"""),
    doc = "X106: graph-index takedown — deleted nodes removed as sources AND " +
      "targets by anti-joins; per-surviving-node degradation ledger is the " +
      "rebuild trigger; oracle rebuilds the graph and re-derives the ledger")

  /** q250 — GRAPH generation rollover (X108e, r14): the reaper's
    * graph member, completing the rollover family across all three
    * stores (packing q245, index q249, graph HERE). q241's
    * degradation ledger is the documented trigger — once
    * sum(n_lost)/sum(n_before) crosses the threshold the degraded
    * graph must be RE-DENSIFIED: unlike packing/index (pointwise,
    * maintained ≡ rebuilt), a KNN graph's edges are RELATIONAL, so
    * the anti-joined survivor graph serves thinner neighborhoods and
    * only a rebuild restores k live neighbors per node. Generation
    * G+1 = NN-Descent from scratch over the survivors (the
    * data-parallel rebuild HNSW-class indexes can't do), seeded by
    * the same deterministic id-successor device as q201 — successors
    * falling on deleted ids drop in the scoring join (identically in
    * both engines), which NN-Descent's whole convergence argument
    * exists to absorb.
    *
    * Scale: two bounded NN-Descent builds (the generation-G build
    * exists anyway as the serving store; the ledger is one aggregate
    * over it) — per-round shuffle O(N·k²) ids, never quadratic. */
  val q250 = Q(
    "q250_graph_rollover",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq.count()
      def initOf(nodes: org.apache.spark.sql.DataFrame) =
        nodes.select($"vec_id".as("v"),
            explode(sequence(lit(1), lit(4))).as("i"))
          .select($"v", (($"v" + $"i") % n).as("u"))
      val deleted = emb.select($"vec_id").filter($"vec_id" % 3 === 0)
      val liveVq = vq.join(deleted, Seq("vec_id"), "left_anti").persist()
      // generation G's build (the serving store the trigger audits) and
      // generation G+1's survivor rebuild are independent eager chains
      // — overlap them (guide §2.6, r19); the threshold gate still runs
      // before anything is returned.
      val (graph, g1) = Par.join2(
        NNDescent.build(vq, "vec_id", initOf(vq), k = 4, rounds = 2),
        NNDescent.build(liveVq, "vec_id", initOf(liveVq),
            k = 4, rounds = 2)
          .orderBy($"v", $"rn")
          .barrier()) // eager, BEFORE unpersist
      val (_, ledger) = GraphAnn.removeNodes(graph, deleted)
      val ppm = GraphAnn.lostFractionPpm(ledger)
      require(ppm >= graft.operators.GenerationRollover.ThresholdPpm,
        s"graph rollover not due: lost fraction $ppm ppm")
      vq.unpersist(); liveVq.unpersist()
      g1
    },
    Some(s"""
      WITH vq AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings WHERE vec_id % 3 <> 0),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      e0r AS (SELECT vq.vec_id AS v, (vq.vec_id + g.i) % nt.n AS u
              FROM vq CROSS JOIN nt
              CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g),
      s0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM e0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      e1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM s0) WHERE rn <= 4),
      ${nndRound("e1", 1)},
      ${nndRound("e2", 2)}
      SELECT v, CAST(rn AS INT) AS rn, u, d FROM (
        SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
        FROM e3) WHERE rn <= 4
      ORDER BY v, rn"""),
    doc = "X108e: graph generation rollover — lost-edge-fraction trigger " +
      "past the declared threshold re-densifies the degraded survivor " +
      "graph with a from-scratch NN-Descent build over live rows " +
      "(relational edges, unlike pointwise packing/index rollovers, " +
      "cannot be maintained-equals-rebuilt); oracle unrolls the rebuild " +
      "rounds over the survivor set")

  /** q280 — LAYERED graph ANN: hierarchical entry selection (N48b,
    * r15; the HNSW idea, Malkov & Yashunin '18). q238's beam search
    * starts every query from one FIXED entry set — at corpus scale
    * that costs extra rounds just to travel from the entry to the
    * query's neighborhood. The hierarchical fix: a sparse TOP LAYER
    * (the deterministic 1-in-8 sample, its own NN-Descent graph with
    * k = 3) is searched first from the single global entry (node 0,
    * HNSW's top-of-tower entry); each query's top-2 winners there
    * become its PERSONAL layer-0 entry points, and the full-corpus
    * beam search starts already near the target — log-tower descent
    * collapsed to two layers, the shape's whole point.
    *
    * Both legs run the same data-parallel beam algebra
    * ([[graft.operators.GraphAnn.beamSearchFrom]] — the per-query-
    * seed variant this row adds); everything is deterministic
    * ((d, id) ties, exact grid distances), so the oracle unrolls BOTH
    * layers' builds and BOTH descents as CTEs and the whole
    * hierarchical search hash-matches at all 3 SFs.
    *
    * Scale: the top layer is corpus/8 nodes with k = 3 edges — its
    * build and search cost a fraction of layer 0's; stage-2 seeds are
    * 2 ids per query; every round is one equi-join expansion + fresh-
    * only scoring (q238's posture). GraphAnnSpec pins layered recall
    * ≥ fixed-entry recall at an equal layer-0 budget. */
  val q280 = Q(
    "q280_layered_graph_ann",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq.count() // 1-scalar driver action: the init's mod base
      val init0 = vq.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      // the sparse top layer: 1-in-8 sample. Its graph is k=3 KNN
      // edges PLUS an exponential-stride ring (strides 1,2,4,… over
      // the dense rank — Kleinberg's navigable-small-world links):
      // pure KNN top layers DISCONNECT across far clusters, and the
      // O(log m) stride edges are what make a single global entry
      // reach any neighborhood in O(log m) hops — the property HNSW's
      // layer tower exists to provide.
      val top = vq.filter($"vec_id" % 8 === 0)
      val m = top.count() // the subset init's mod base
      val strides = (0 until 20).map(1L << _).filter(_ < m)
      val ring = top.select($"vec_id".as("v"),
          explode(lit(strides.toArray)).as("st"))
        .select($"v", expr(s"((v DIV 8) + st) % $m * 8").as("u"))
      // the two layer graphs are independent eager NN-Descent chains
      // over the same persisted corpus — overlap them (guide §2.6, r19)
      val (g0, g1) = Par.join2(
        NNDescent.build(vq, "vec_id", init0, k = 4, rounds = 2)
          .select($"v", $"u"),
        NNDescent.build(top, "vec_id", ring, k = 3, rounds = 2)
          .select($"v", $"u")
          .unionByName(ring.select($"v", $"u")))
      // queries are never top-layer members (id % 8 = 0 and
      // id % 100 = 7 have no common solution mod 4), so stage 1's
      // self-exclusion can never eat a seed
      val queries = vq.filter($"vec_id" % 100 === 7)
        .select($"vec_id".as("q_id"), $"xq")
      val entryTop = top.filter($"vec_id" === 0).select($"vec_id".as("id"))
      val stage1 = GraphAnn.beamSearch(top, "vec_id", g1, queries,
        entryTop, beam = 3, rounds = 2, k = 2)
      val seeds = stage1.select($"q_id", $"id")
      val out = GraphAnn
        .beamSearchFrom(vq, "vec_id", g0, queries, seeds,
          beam = 4, rounds = 3, k = 4)
        .orderBy($"q_id", $"rn")
        .barrier() // eager, BEFORE unpersist
      vq.unpersist()
      out
    },
    Some(s"""
      WITH vq AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM embeddings),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vq),
      e0r AS (SELECT vq.vec_id AS v, (vq.vec_id + g.i) % nt.n AS u
              FROM vq CROSS JOIN nt
              CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g),
      s0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM e0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      e1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM s0) WHERE rn <= 4),
      ${nndRound("e1", 1)},
      ${nndRound("e2", 2)},
      gg AS (SELECT v, u FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM e3) WHERE rn <= 4),
      gsym AS MATERIALIZED (SELECT DISTINCT v, u FROM (
          SELECT v, u FROM gg UNION ALL SELECT u AS v, v AS u FROM gg)
        WHERE v <> u),
      tvq AS (SELECT vec_id, xq FROM vq WHERE vec_id % 8 = 0),
      mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM tvq),
      te0r AS (SELECT tvq.vec_id AS v,
                 ((tvq.vec_id // 8) + (CAST(1 AS BIGINT) << g.x)) % mt.m * 8
                   AS u
               FROM tvq CROSS JOIN mt
               CROSS JOIN (SELECT unnest(range(0, 20)) AS x) g
               WHERE (CAST(1 AS BIGINT) << g.x) < mt.m),
      ts0 AS (SELECT e.v, e.u,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS d
             FROM (SELECT DISTINCT v, u FROM te0r WHERE v <> u) e
             JOIN vq a ON e.v = a.vec_id JOIN vq b ON e.u = b.vec_id),
      te1 AS (SELECT v, u, d FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM ts0) WHERE rn <= 3),
      ${nndRound("te1", 1, "t", 3)},
      ${nndRound("te2", 2, "t", 3)},
      tgg AS (SELECT v, u FROM (
          SELECT *, row_number() OVER (PARTITION BY v ORDER BY d, u) AS rn
          FROM te3) WHERE rn <= 3),
      tgsym AS MATERIALIZED (SELECT DISTINCT v, u FROM (
          SELECT v, u FROM tgg UNION ALL SELECT u AS v, v AS u FROM tgg
          UNION ALL SELECT v, u FROM te0r
          UNION ALL SELECT u AS v, v AS u FROM te0r)
        WHERE v <> u),
      qv AS MATERIALIZED (SELECT vec_id AS q_id, xq FROM vq
                          WHERE vec_id % 100 = 7),
      tsn0 AS MATERIALIZED (SELECT q.q_id, e.vec_id AS id,
          CAST(list_sum(list_transform(range(1, 65),
            i -> (q.xq[i] - e.xq[i]) * (q.xq[i] - e.xq[i]))) AS BIGINT) AS d
        FROM qv q CROSS JOIN (SELECT vec_id, xq FROM vq WHERE vec_id = 0) e),
      ${gannRound(1, 3, "t")},
      ${gannRound(2, 3, "t")},
      sn0 AS MATERIALIZED (SELECT q_id, id, d FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, id) AS rn
          FROM tsn2 WHERE id <> q_id) WHERE rn <= 2),
      ${gannRound(1, 4)},
      ${gannRound(2, 4)},
      ${gannRound(3, 4)}
      SELECT q_id, CAST(rn AS INT) AS rn, id, d FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, id) AS rn
        FROM sn3 WHERE id <> q_id) WHERE rn <= 4
      ORDER BY q_id, rn"""),
    doc = "N48b: layered graph ANN (the HNSW shape) — a 1-in-8 top layer " +
      "with its own k=3 NN-Descent graph is searched from the single " +
      "global entry; each query's top-2 winners seed the full-corpus " +
      "beam search (per-query seeds via beamSearchFrom); both layers' " +
      "builds and descents unroll as oracle CTEs and hash-match")

  /** q286 — similarity search SERVED through the int8 codes (N21b,
    * r15): the q259 rule applied to q106's storage tier — a 4×-smaller
    * quantized corpus nothing probes is an unproven asset. This is the
    * two-stage serving shape every SQ-compressed vector store runs
    * (faiss `SQ8` + refine, Lucene's int8 HNSW): stage 1 ranks the
    * WHOLE corpus on quantized codes only, stage 2 re-ranks the
    * survivors exactly.
    *
    * Exactness device: with per-vector symmetric scales, the
    * dequantized element is qᵢ·amax/127 — cross-vector comparisons in
    * the shared /127 scale drop the divisor entirely (rank-invariant
    * common factor), and amax enters as exact MILLIS (rint(amax·10³) —
    * DuckDB's DECIMAL(18,3) half-even twin, the micros argument at 10³),
    * so stage 1's distance is the all-BIGINT
    *   Σᵢ (qqᵢ·q_am − qdᵢ·am)²
    * — codes ≤ 127, corpus scales ~10³ millis ⇒ each square ≤ ~10¹⁷/64,
    * the 64-dim sum stays far under Long.Max. Stage-1 top-50 per query
    * rides the exact-BIGINT bounded TopKLong (map-side k; never a
    * corpus-sized window partition). Stage 2 joins ONLY the 4×50
    * candidates back to exact micro vectors and re-ranks by exact
    * integer L2; rank windows run over ≤50-row frames. The oracle
    * replays BOTH stages (quantize, millis, code distance, QUALIFY
    * top-50, micros rerank) — hash-matched at all 3 SFs, so the entire
    * quantized read path is gated, recall trade and all. Sq8ServeSpec
    * pins the measured recall floor vs the unquantized exact top-10
    * and the candidate-set wire bound.
    *
    * Scale: stage 1 streams the corpus CODES once per broadcast query
    * set (q50's posture at a quarter the bytes — the whole point of
    * SQ8); stage 2 is candidate-bounded; no shuffle of the corpus. */
  val q286 = Q(
    "q286_sq8_serve",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      // ---- ingest: the SQ8 store — codes + exact-millis scale ONLY
      val codes = VectorOps.sq8Codes(emb)
      val queries = codes.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), $"am".as("q_am"), $"qv".as("q_qv"))
      // ---- stage 1: all-integer code-space distance over the corpus
      val s1 = codes.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("adist", expr(
          """aggregate(zip_with(q_qv, qv,
               (x, y) -> (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am) *
                         (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
      val top50 = udaf(new graft.functions.TopKLong(50))
      val cand = s1.groupBy($"q_id")
        .agg(top50(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"q_id", explode($"tk").as("e"))
        .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"))
      // ---- stage 2: exact integer-micros L2 on the candidates only
      val mv = emb.select($"vec_id", VectorOps.microsVec($"embedding").as("mv"))
      val w = Window.partitionBy($"q_id").orderBy($"edist".asc, $"vec_id".asc)
      cand
        .join(mv, "vec_id")
        .join(broadcast(mv.filter($"vec_id" < 4)
          .select($"vec_id".as("q_id"), $"mv".as("q_mv"))), "q_id")
        .withColumn("edist", expr(
          """aggregate(zip_with(q_mv, mv, (x, y) -> (x - y) * (x - y)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= 10)
        .select($"q_id", $"rn", $"vec_id", $"adist", $"edist")
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH k AS (SELECT vec_id, embedding,
                   ${VectorOps.absMaxSql("embedding")} AS amax
                 FROM embeddings),
      c AS (SELECT vec_id,
              CAST(CAST(amax AS DECIMAL(18,3)) * 1000 AS BIGINT) AS am,
              CASE WHEN amax = 0
                   THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(embedding, x ->
                     CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))
              END AS qv
            FROM k),
      q AS (SELECT vec_id AS q_id, am AS q_am, qv AS q_qv
            FROM c WHERE vec_id < 4),
      s1 AS (SELECT q.q_id, e.vec_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, 65), i ->
                   (q.q_qv[CAST(i AS INT)] * q.q_am -
                    e.qv[CAST(i AS INT)] * e.am) *
                   (q.q_qv[CAST(i AS INT)] * q.q_am -
                    e.qv[CAST(i AS INT)] * e.am))),
                 (acc, v) -> acc + v) AS adist
             FROM c e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      cand AS (SELECT q_id, vec_id, adist FROM s1
               QUALIFY row_number() OVER (PARTITION BY q_id
                 ORDER BY adist, vec_id) <= 50),
      m AS (SELECT vec_id, list_transform(embedding, x ->
              CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000
                   AS BIGINT)) AS mv
            FROM embeddings),
      r AS (SELECT cand.q_id, cand.vec_id, cand.adist,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, 65), i ->
                  (qm.mv[CAST(i AS INT)] - dm.mv[CAST(i AS INT)]) *
                  (qm.mv[CAST(i AS INT)] - dm.mv[CAST(i AS INT)]))),
                (acc, v) -> acc + v) AS edist
            FROM cand JOIN m dm ON cand.vec_id = dm.vec_id
                      JOIN m qm ON cand.q_id = qm.vec_id)
      SELECT q_id,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY edist, vec_id) AS BIGINT) AS rn,
             vec_id, adist, edist
      FROM r
      QUALIFY rn <= 10
      ORDER BY q_id, rn"""),
    doc = "N21b: ANN served through the int8-quantized store — stage 1 " +
      "ranks the corpus on codes alone (all-BIGINT scaled-code distance, " +
      "the /127 divisor dropped as a rank-invariant common factor), " +
      "stage 2 re-ranks the 50 candidates by exact integer-micros L2; " +
      "the oracle replays both stages, gating the quantized read path " +
      "recall trade and all")

  /** q290 — triplet hard-negative mining (X117, r15): the
    * contrastive-training data op (FaceNet, Schroff '15; the hard-
    * negative manifest every embedding-model trainer consumes) — for
    * each anchor, the 5 NEAREST vectors with a DIFFERENT label (hard
    * negatives: close in space, wrong by label — the pairs that carry
    * gradient) and the FARTHEST vector with the SAME label (the hard
    * positive). All distances exact integer-micros L2, ties by vec_id,
    * so the manifest is byte-reproducible on rerun — the checkpoint-
    * resume property q215 pins for text shards, here for triplets.
    *
    * Scale: anchors broadcast, ONE stream over the corpus, per-anchor
    * k via the exact-BIGINT bounded TopKLong (map-side k — never an
    * anchor-keyed window over corpus-sized partitions); for anchor
    * sets beyond broadcast size the IVF-bucketed path (q69's posture)
    * replaces the cartesian. The oracle replays distances and both
    * QUALIFY ranks — hash-matched at all 3 SFs. */
  val q290 = Q(
    "q290_triplet_mining",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      val mv = emb.select($"vec_id", $"label",
        VectorOps.microsVec($"embedding").as("mv"))
      val anchors = mv.filter($"vec_id" < 8)
        .select($"vec_id".as("a_id"), $"label".as("a_label"),
          $"mv".as("a_mv"))
      val pairs = mv.crossJoin(broadcast(anchors))
        .filter($"vec_id" =!= $"a_id")
        .withColumn("dist", expr(
          """aggregate(zip_with(a_mv, mv, (x, y) -> (x - y) * (x - y)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
      val top5 = udaf(new graft.functions.TopKLong(5))
      val negs = pairs.filter($"label" =!= $"a_label")
        .groupBy($"a_id")
        .agg(top5(-$"dist", $"vec_id", lit(0L)).as("tk"))
        .select($"a_id", posexplode($"tk"))
        .select($"a_id", lit("neg").as("role"),
          ($"pos" + 1).cast(LongType).as("rnk"),
          $"col.id".as("vec_id"), (-$"col.score").as("dist"))
      val top1 = udaf(new graft.functions.TopKLong(1))
      val poss = pairs.filter($"label" === $"a_label")
        .groupBy($"a_id")
        .agg(top1($"dist", $"vec_id", lit(0L)).as("tk"))
        .select($"a_id", explode($"tk").as("e"))
        .select($"a_id", lit("pos").as("role"), lit(1L).as("rnk"),
          $"e.id".as("vec_id"), $"e.score".as("dist"))
      negs.unionByName(poss)
        .orderBy($"a_id", $"role", $"rnk")
    },
    Some("""
      WITH m AS (SELECT vec_id, label, list_transform(embedding, x ->
                   CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000
                        AS BIGINT)) AS mv
                 FROM embeddings),
      a AS (SELECT vec_id AS a_id, label AS a_label, mv AS a_mv
            FROM m WHERE vec_id < 8),
      p AS (SELECT a.a_id, a.a_label, m.vec_id, m.label,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, 65), i ->
                  (a.a_mv[CAST(i AS INT)] - m.mv[CAST(i AS INT)]) *
                  (a.a_mv[CAST(i AS INT)] - m.mv[CAST(i AS INT)]))),
                (acc, v) -> acc + v) AS dist
            FROM m CROSS JOIN a WHERE m.vec_id <> a.a_id),
      negs AS (SELECT a_id, 'neg' AS role,
                 CAST(row_number() OVER (PARTITION BY a_id
                   ORDER BY dist, vec_id) AS BIGINT) AS rnk,
                 vec_id, dist
               FROM p WHERE label <> a_label
               QUALIFY rnk <= 5),
      poss AS (SELECT a_id, 'pos' AS role, CAST(1 AS BIGINT) AS rnk,
                 vec_id, dist
               FROM p WHERE label = a_label
               QUALIFY row_number() OVER (PARTITION BY a_id
                 ORDER BY dist DESC, vec_id) = 1)
      SELECT a_id, role, rnk, vec_id, dist FROM negs
      UNION ALL
      SELECT a_id, role, rnk, vec_id, dist FROM poss
      ORDER BY a_id, role, rnk"""),
    doc = "X117: triplet hard-negative mining — per anchor the 5 nearest " +
      "different-label vectors (hard negatives) + the farthest same-" +
      "label vector (hard positive), exact integer-micros L2, bounded " +
      "TopKLong per anchor; byte-reproducible triplet manifest for " +
      "contrastive training, gated by the from-raw oracle")

  /** q296 — SHARDED ANN scatter-gather over the SQ8 code store (N21c,
    * r16): the r15 verdict's "missing #3" — text serving got the
    * scatter-gather treatment (q283/q293) but vector serving stayed
    * single-topology: q286's stage 1 streams ONE code store. At 100 TB
    * the code store is doc-sharded across serving nodes like the text
    * index, and the q283 containment law applies VERBATIM: the
    * code-space distance is a pure function of the (query, vector)
    * pair — no corpus statistics at all, stronger than BM25's case —
    * so the global stage-1 top-50 is contained in the union of
    * per-shard top-50 lists and the merge is exact, not a recall
    * trade. Topology: shard = vec_id mod 4; stage 1 ranks each shard's
    * codes locally (all-BIGINT scaled-code distance, q286's device)
    * with a bounded per-(shard, query) TopKLong — ≤ 50 rows per shard
    * per query on the wire, never a shard's full scan through one
    * task — then a second bounded TopKLong merges 4 × 50 candidates
    * into the global 50; stage 2 re-ranks those exactly, unchanged
    * from q286. The oracle is q286's VERBATIM (unsharded two-stage
    * replay — the topology never enters it), so the hash match proves
    * sharded scatter-gather ≡ single-store serving bit for bit, at
    * all 3 SFs. ShardedAnnSpec pins the stage-1 candidate-set equality
    * and the per-shard wire bound.
    *
    * Scale: each shard streams only ITS codes (corpus/S per node,
    * embarrassingly parallel — the point of sharding a vector store);
    * the gather is k·S rows per query; stage 2 is candidate-bounded;
    * queries broadcast. */
  val q296 = Q(
    "q296_sharded_sq8_serve",
    (s, dir) => {
      import s.implicits._
      val nShards = 4
      val emb = Tables(s, dir, "embeddings")
      // ---- ingest: the q286 SQ8 store, doc-sharded
      val codes = VectorOps.sq8Codes(emb)
        .select(pmod($"vec_id", lit(nShards.toLong)).as("shard"), $"*")
      val queries = codes.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), $"am".as("q_am"), $"qv".as("q_qv"))
      // ---- stage 1 scatter: per-shard all-integer code distance,
      // per-(shard, query) bounded top-50
      val s1 = codes.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("adist", expr(
          """aggregate(zip_with(q_qv, qv,
               (x, y) -> (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am) *
                         (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
      val top50 = udaf(new graft.functions.TopKLong(50))
      val perShard = s1.groupBy($"shard", $"q_id")
        .agg(top50(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"shard", $"q_id", explode($"tk").as("e"))
        .select($"q_id", (-$"e.score").as("adist"), $"e.id".as("vec_id"))
      // ---- gather: exact merge of k·S candidates per query
      val cand = perShard.groupBy($"q_id")
        .agg(top50(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"q_id", explode($"tk").as("e"))
        .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"))
      // ---- stage 2: exact integer-micros L2 rerank (q286 verbatim)
      val mv = emb.select($"vec_id", VectorOps.microsVec($"embedding").as("mv"))
      val w = Window.partitionBy($"q_id").orderBy($"edist".asc, $"vec_id".asc)
      cand
        .join(mv, "vec_id")
        .join(broadcast(mv.filter($"vec_id" < 4)
          .select($"vec_id".as("q_id"), $"mv".as("q_mv"))), "q_id")
        .withColumn("edist", expr(
          """aggregate(zip_with(q_mv, mv, (x, y) -> (x - y) * (x - y)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= 10)
        .select($"q_id", $"rn", $"vec_id", $"adist", $"edist")
        .orderBy($"q_id", $"rn")
    },
    q286.oracle, // the unsharded two-stage replay — topology never enters
    doc = "N21c: sharded SQ8 ANN scatter-gather — vec_id-mod-4 code " +
      "shards, per-shard all-BIGINT code-distance top-50 via bounded " +
      "TopKLong (≤ 50 rows per shard per query on the wire), exact " +
      "k·S gather merge (code distance is per-pair, so the q283 " +
      "containment law holds with no stats step at all), exact " +
      "candidate-bounded rerank; q286's unsharded oracle proves " +
      "scatter-gather == single-store serving bit for bit")

  /** q303 — REPLICATED SQ8 ANN serving with FAILOVER (X122, r17): the
    * r16 verdict's "missing #1" — the text tier survives a node loss
    * with answers unchanged (q294/q299) but every vector store stayed
    * single-copy; a node loss loses that shard's codes, which no
    * production vector tier accepts (Milvus/Qdrant replica sets, ES
    * dense-vector `number_of_replicas`).
    * [[graft.operators.ReplicatedCodes]] places the q286 code rows
    * with [[graft.operators.ReplicatedRows]] — per-vec Dynamo
    * placement on an independent md5 ring (positions from
    * md5("vec" ‖ vec_id)), both copies emitted at ingest (primary
    * keyed (shard, …), replica keyed (node, origin, …)) — and this
    * query serves a 4-node topology WITH NODE 1 DOWN: node 1's vecs
    * answer from their replica rows (all on nodes ≠ 1 by the placement
    * law), everyone else serves primary. Strictly EASIER than text:
    * code distance is a pure (query, vector) pair function — no df
    * step to keep exact — so any corpus-partitioning selection yields
    * the identical stage-1 candidate set and the q283 containment law
    * closes with no stats argument at all. Stage 2 reranks the 50
    * survivors by exact integer-micros L2, q286-verbatim. The oracle
    * is q286's unsharded two-stage replay (the topology never enters
    * it) EXTENDED with a ring-walk replay over the final top-10:
    * score columns pin answer-invariance under failover bit for bit,
    * served_from/role pin that the probe actually routed around the
    * dead node. ReplicatedCodesSpec pins the remaining laws: failover
    * candidate-invariance for EVERY choice of failed node, primary ≠
    * replica everywhere, both copies carrying identical payloads, and
    * recoverLost ≡ a from-scratch S−1 build (set equality, both
    * stores).
    *
    * Scale: placement is one broadcast join of the code rows against
    * the doubled 2·S·16-row ring interval table; ingest pays replication's
    * 2× copy cost on 4×-compressed codes; the failover probe streams
    * only the routed selection (corpus/S per surviving node,
    * embarrassingly parallel) against the broadcast query set,
    * per-(node, query) bounded TopKLong (≤ 50 rows on the wire), exact
    * k·S gather, candidate-bounded rerank — q296's posture unchanged
    * by replication. */
  val q303 = Q(
    "q303_replicated_sq8_failover",
    (s, dir) => {
      import s.implicits._
      val failed = 1L
      val emb = Tables(s, dir, "embeddings")
      // ---- ingest: the q286 SQ8 store, replicated on the vec ring
      val codes = VectorOps.sq8Codes(emb)
      val queries = codes.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), $"am".as("q_am"), $"qv".as("q_qv"))
      val rep = graft.operators.ReplicatedCodes.build(codes, nShards = 4)
      // ---- stage 1: failover scatter-gather (node 1 down)
      val cand = graft.operators.ReplicatedCodes
        .serveFailover(rep, failed, queries, k = 50)
      // ---- stage 2: exact integer-micros L2 rerank (q286 verbatim)
      val mv = emb.select($"vec_id",
        VectorOps.microsVec($"embedding").as("mv"))
      val w = Window.partitionBy($"q_id").orderBy($"edist".asc, $"vec_id".asc)
      cand
        .join(mv, "vec_id")
        .join(broadcast(mv.filter($"vec_id" < 4)
          .select($"vec_id".as("q_id"), $"mv".as("q_mv"))), "q_id")
        .withColumn("edist", expr(
          """aggregate(zip_with(q_mv, mv, (x, y) -> (x - y) * (x - y)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= 10)
        .join(rep.primaryStore.select($"vec_id", $"shard"), "vec_id")
        .select($"q_id", $"rn", $"vec_id", $"adist", $"edist",
          $"node".as("served_from"),
          when($"shard" === failed, lit("r")).otherwise(lit("p"))
            .as("role"))
        .orderBy($"q_id", $"rn")
    },
    Some(s"""
      WITH k AS (SELECT vec_id, embedding,
                   ${VectorOps.absMaxSql("embedding")} AS amax
                 FROM embeddings),
      c AS (SELECT vec_id,
              CAST(CAST(amax AS DECIMAL(18,3)) * 1000 AS BIGINT) AS am,
              CASE WHEN amax = 0
                   THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(embedding, x ->
                     CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))
              END AS qv
            FROM k),
      q AS (SELECT vec_id AS q_id, am AS q_am, qv AS q_qv
            FROM c WHERE vec_id < 4),
      s1 AS (SELECT q.q_id, e.vec_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, 65), i ->
                   (q.q_qv[CAST(i AS INT)] * q.q_am -
                    e.qv[CAST(i AS INT)] * e.am) *
                   (q.q_qv[CAST(i AS INT)] * q.q_am -
                    e.qv[CAST(i AS INT)] * e.am))),
                 (acc, v) -> acc + v) AS adist
             FROM c e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      cand AS (SELECT q_id, vec_id, adist FROM s1
               QUALIFY row_number() OVER (PARTITION BY q_id
                 ORDER BY adist, vec_id) <= 50),
      m AS (SELECT vec_id, list_transform(embedding, x ->
              CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000
                   AS BIGINT)) AS mv
            FROM embeddings),
      r AS (SELECT cand.q_id, cand.vec_id, cand.adist,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, 65), i ->
                  (qm.mv[CAST(i AS INT)] - dm.mv[CAST(i AS INT)]) *
                  (qm.mv[CAST(i AS INT)] - dm.mv[CAST(i AS INT)]))),
                (acc, v) -> acc + v) AS edist
            FROM cand JOIN m dm ON cand.vec_id = dm.vec_id
                      JOIN m qm ON cand.q_id = qm.vec_id),
      top AS MATERIALIZED (SELECT q_id,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY edist, vec_id) AS BIGINT) AS rn,
               vec_id, adist, edist
             FROM r QUALIFY rn <= 10),
      rg AS (${graft.queries.Mining.ringSql(4, 16)}),
      r2 AS (SELECT shard, pos FROM rg
             UNION ALL
             SELECT shard, pos + (CAST(1 AS BIGINT) << 60) FROM rg),
      pd AS (SELECT top.*,
               CAST(('0x' || substr(md5('vec' || vec_id), 1, 15)) AS BIGINT)
                 AS p
             FROM top),
      pr AS (SELECT pd.*,
               (SELECT r2.shard FROM r2 WHERE r2.pos >= pd.p
                ORDER BY r2.pos, r2.shard LIMIT 1) AS prim
             FROM pd),
      pr2 AS (SELECT pr.*,
                (SELECT r2.shard FROM r2
                 WHERE r2.pos >= pr.p AND r2.shard <> pr.prim
                 ORDER BY r2.pos, r2.shard LIMIT 1) AS repl
              FROM pr)
      SELECT q_id, rn, vec_id, adist, edist,
        CAST(CASE WHEN prim = 1 THEN repl ELSE prim END AS BIGINT)
          AS served_from,
        CASE WHEN prim = 1 THEN 'r' ELSE 'p' END AS role
      FROM pr2 ORDER BY q_id, rn"""),
    doc = "X122: replicated SQ8 ANN serving with node-1 failover — " +
      "Dynamo preference-list placement on an independent vec ring, " +
      "both code copies at ingest, the dead node's vecs served from " +
      "replica rows by pure key-space selection; code distance is a " +
      "per-pair function so failover is candidate-invariant with no " +
      "stats step; q286's two-stage oracle extended with a ring replay " +
      "pins answer-invariance AND the served_from/role routing evidence")

  /** q313 — replicated code store GROW, index-only (X122b, r17): q302's
    * elastic-grow classes carried to the vector tier — when a node
    * joins a replicated ANN tier, both copies' placements move by the
    * q288 walk (moved primary → the new shard, old primary becomes the
    * replica in place; moved replica → the new shard; everything else
    * untouched). [[graft.operators.ReplicatedRows.grow]] re-places the
    * primary rows at S+1, so those classes are consequences of the
    * ring, payloads come from the primary copy, and raw vectors are
    * NEVER re-quantized. Rows are atomic, so grown
    * ≡ a from-scratch [[graft.operators.ReplicatedCodes.build]] at S+1
    * — which this query gates ROW FOR ROW: the evidence frame is both
    * stores' rows (code payload folded to a hash — the driver compare
    * takes no array columns) and the oracle replays quantization
    * (q286's c CTE) plus BOTH preference-list slots of the 4-ring walk
    * in closed form (q309's HUGEINT min device); the grow surgery
    * never enters it. ReplicatedCodesSpec additionally pins the class
    * laws and the grow∘recoverLost round-trip; T43 fires the grow
    * MID-STREAM.
    *
    * Scale: one broadcast join of the primary rows against the S+1
    * ring interval table, projected into both copies — no exchange and
    * no join on vec_id. */
  val q313 = Q(
    "q313_replicated_codes_grow",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      val codes = VectorOps.sq8Codes(emb)
      val rep = graft.operators.ReplicatedCodes.build(codes, nShards = 3)
      val grown = graft.operators.ReplicatedCodes.grow(rep, 3)
      val p = grown.primaryStore.select(lit("p").as("store"),
        $"shard".as("node"), lit(-1L).as("origin"), $"vec_id", $"am",
        $"qv")
      val r = grown.replicaStore.select(lit("r").as("store"), $"node",
        $"origin", $"vec_id", $"am", $"qv")
      p.unionByName(r)
        .withColumn("qv_hash", expr(
          """aggregate(qv, CAST(7 AS BIGINT),
               (h, x) -> (h * 31 + CAST(x AS BIGINT) + 128) % 1000000007)"""))
        .select($"store", $"node", $"origin", $"vec_id", $"am", $"qv_hash")
        .orderBy($"store", $"node", $"origin", $"vec_id")
    },
    Some(s"""
      WITH k AS (SELECT vec_id, embedding,
                   ${VectorOps.absMaxSql("embedding")} AS amax
                 FROM embeddings),
      c AS (SELECT vec_id,
              CAST(CAST(amax AS DECIMAL(18,3)) * 1000 AS BIGINT) AS am,
              CASE WHEN amax = 0
                   THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(embedding, x ->
                     CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))
              END AS qv
            FROM k),
      rg AS (${graft.queries.Mining.ringSql(4, 16)}),
      r2 AS (SELECT shard, pos FROM rg
             UNION ALL
             SELECT shard, pos + (CAST(1 AS BIGINT) << 60) FROM rg),
      md AS (SELECT vec_id,
               CAST(('0x' || substr(md5('vec' || vec_id), 1, 15)) AS BIGINT)
                 AS p
             FROM c),
      pw AS (SELECT md.vec_id,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS prim
             FROM md JOIN r2 ON r2.pos >= md.p GROUP BY md.vec_id),
      rw AS (SELECT md.vec_id, pw.prim,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS repl
             FROM md JOIN pw USING (vec_id)
                  JOIN r2 ON r2.pos >= md.p AND r2.shard <> pw.prim
             GROUP BY md.vec_id, pw.prim),
      h AS (SELECT c.vec_id, c.am,
              CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), c.qv),
                (h, x) -> (h * 31 + x + 128) % 1000000007) AS BIGINT)
                AS qv_hash,
              rw.prim, rw.repl
            FROM c JOIN rw USING (vec_id))
      SELECT 'p' AS store, prim AS node, CAST(-1 AS BIGINT) AS origin,
             vec_id, am, qv_hash
      FROM h
      UNION ALL
      SELECT 'r', repl, prim, vec_id, am, qv_hash FROM h
      ORDER BY store, node, origin, vec_id"""),
    doc = "X122b: replicated code store GROW 3->4, index-only — " +
      "ReplicatedRows re-places the primary rows on the 4-ring, so " +
      "q302's move classes (moved primary to the new shard with the " +
      "old primary as replica, moved replica to the new shard, the " +
      "rest untouched) follow from the ring; vectors never " +
      "re-quantized; grown == " +
      "from-scratch 4-ring build row for row (the oracle replays " +
      "quantization + both ring slots in closed form; the surgery " +
      "never enters it)")

  /** q316 — replicated code store WRITE VERBS: takedown + re-embed
    * (X122c, r17): the vector tier's q304/q305 — a right-to-be-
    * forgotten event and a model re-encode against the TWO-COPY code
    * store, both index-only. Rows are atomic, so the takedown is one
    * anti-join per frame (both copies at once — the compliance law
    * q304 carries, without the block surgery), and the re-embed
    * exploits the placement invariant: a vec's ring position is a pure
    * function of vec_id, so NEW CODES NEVER MOVE A VECTOR —
    * [[graft.operators.ReplicatedRows.update]] takes the old rows out
    * of both copies and places the new ones on the same homes.
    * Maintained ≡ a from-scratch build over the
    * post-maintenance corpus (survivors, updated vecs re-encoded from
    * their new embeddings — here the deterministic `reverse`, which
    * any SQL replays) ROW FOR ROW — the oracle replays quantization
    * over the modified corpus + both ring slots in closed form; the
    * verbs never enter it. Hash-matched at all 3 SFs.
    * ReplicatedCodesSpec pins placement-never-moves, the upsert half,
    * unknown-id no-ops, and failover invariance after maintenance.
    *
    * Scale: takedown = anti-joins on the compact vec_id key; update =
    * the same anti-joins plus a placement of the |updated| rows; both
    * copies pay the same row count (the
    * 2× replication always costs); raw vectors re-read only for the
    * RE-EMBEDDED set — the verb's input by definition. */
  val q316 = Q(
    "q316_replicated_codes_maintenance",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      val rep = graft.operators.ReplicatedCodes.build(
        VectorOps.sq8Codes(emb), 4)
      val dead = emb.select($"vec_id").filter($"vec_id" % 11 === 4)
      val upd = emb
        .filter($"vec_id" % 13 === 2 && $"vec_id" % 11 =!= 4)
        .select($"vec_id", reverse($"embedding").as("embedding"))
      val maintained = graft.operators.ReplicatedCodes.update(
        graft.operators.ReplicatedCodes.takedown(rep, dead),
        VectorOps.sq8Codes(upd))
      val p = maintained.primaryStore.select(lit("p").as("store"),
        $"shard".as("node"), lit(-1L).as("origin"), $"vec_id", $"am",
        $"qv")
      val r = maintained.replicaStore.select(lit("r").as("store"),
        $"node", $"origin", $"vec_id", $"am", $"qv")
      p.unionByName(r)
        .withColumn("qv_hash", expr(
          """aggregate(qv, CAST(7 AS BIGINT),
               (h, x) -> (h * 31 + CAST(x AS BIGINT) + 128) % 1000000007)"""))
        .select($"store", $"node", $"origin", $"vec_id", $"am", $"qv_hash")
        .orderBy($"store", $"node", $"origin", $"vec_id")
    },
    Some(s"""
      WITH base AS (SELECT vec_id,
              CASE WHEN vec_id % 13 = 2 AND vec_id % 11 <> 4
                   THEN list_reverse(embedding) ELSE embedding END
                AS embedding
            FROM embeddings WHERE vec_id % 11 <> 4),
      k AS (SELECT vec_id, embedding,
              ${VectorOps.absMaxSql("embedding")} AS amax
            FROM base),
      c AS (SELECT vec_id,
              CAST(CAST(amax AS DECIMAL(18,3)) * 1000 AS BIGINT) AS am,
              CASE WHEN amax = 0
                   THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(embedding, x ->
                     CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))
              END AS qv
            FROM k),
      rg AS (${graft.queries.Mining.ringSql(4, 16)}),
      r2 AS (SELECT shard, pos FROM rg
             UNION ALL
             SELECT shard, pos + (CAST(1 AS BIGINT) << 60) FROM rg),
      md AS (SELECT vec_id,
               CAST(('0x' || substr(md5('vec' || vec_id), 1, 15)) AS BIGINT)
                 AS p
             FROM c),
      pw AS (SELECT md.vec_id,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS prim
             FROM md JOIN r2 ON r2.pos >= md.p GROUP BY md.vec_id),
      rw AS (SELECT md.vec_id, pw.prim,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS repl
             FROM md JOIN pw USING (vec_id)
                  JOIN r2 ON r2.pos >= md.p AND r2.shard <> pw.prim
             GROUP BY md.vec_id, pw.prim),
      h AS (SELECT c.vec_id, c.am,
              CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), c.qv),
                (h, x) -> (h * 31 + x + 128) % 1000000007) AS BIGINT)
                AS qv_hash,
              rw.prim, rw.repl
            FROM c JOIN rw USING (vec_id))
      SELECT 'p' AS store, prim AS node, CAST(-1 AS BIGINT) AS origin,
             vec_id, am, qv_hash
      FROM h
      UNION ALL
      SELECT 'r', repl, prim, vec_id, am, qv_hash FROM h
      ORDER BY store, node, origin, vec_id"""),
    doc = "X122c: replicated code store write verbs — takedown on both " +
      "copies (one anti-join per frame; rows are atomic) and re-embed " +
      "as a pure payload swap (placement is a function of vec_id, so " +
      "new codes never move a vector); maintained == from-scratch " +
      "build over the post-maintenance corpus row for row (the oracle " +
      "replays quantization over the modified corpus + both ring " +
      "slots; the verbs never enter it)")

  /** q317 — SHARDED IVF-PQ scatter-gather (N35d, r17): the other named
    * store of the r16 verdict's "missing #1" ("the SQ8 shards, the
    * IVF-PQ index, the q280 graph") — q296 sharded the SQ8 store and
    * q303 replicated it, but the production ANN index (IVF-PQ) stayed
    * single-topology. Doc-sharded like q296: each node owns ITS vecs'
    * (cell, codes) rows; the coarse centroids, the query's probed
    * cells and the ADC LUTs all BROADCAST (they are the frozen model —
    * k·m·nprobe longs); each shard scans only its rows IN THE PROBED
    * CELLS, scores them against the LUT locally (ADC distance is a
    * pure function of the (query, code) pair given the broadcast LUT —
    * no corpus statistics), reduces per-(shard, query) with the
    * bounded TopKLong, and the k·S gather merges exactly — the q283
    * containment law with no stats step, applied to the IVF-PQ read
    * path. The oracle is q196's VERBATIM (the unsharded
    * coarse-train → PQ-train → encode → probe → ADC replay — the
    * topology never enters it), so the hash match proves the sharded
    * serve ≡ the single-store IVF-PQ serve bit for bit at all 3 SFs.
    *
    * Scale: the candidate set per shard is its slice of the probed
    * cells (~nprobe/k_coarse of its vecs); ≤ 5 rows per (shard, query)
    * on the wire; trainings are the q196 costs, paid at ingest;
    * everything broadcast is model-sized, never corpus-sized. */
  val q317 = Q(
    "q317_sharded_ivfpq_serve",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, ProductQuantizer}
      val nShards = 4
      val emb = Tables(s, dir, "embeddings")
      val sub = ProductQuantizer
        .subVectors(emb, "vec_id", "embedding", m = 8, subDims = 8)
        .persist()
      // independent eager trainings, overlapped (guide §2.6, r19)
      val ((coarse, coarseCents), cents) = Par.join2(
        KMeansInt.clusterWithCents(emb, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      val codes = ProductQuantizer.encode(sub, "vec_id", cents)
      // ---- the sharded serving store: each node owns its vecs' rows
      val store = coarse.select($"vec_id", $"cluster".as("cell"))
        .join(codes, "vec_id")
        .withColumn("shard", pmod($"vec_id", lit(nShards.toLong)))
      val qv = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), KMeansInt.quantize($"embedding").as("qx"))
      val wP = Window.partitionBy($"q_id").orderBy($"__d", $"cluster")
      val probes = qv.crossJoin(broadcast(coarseCents))
        .withColumn("__d", KMeansInt.sqDist($"qx", $"cq"))
        .withColumn("__rn", row_number().over(wP))
        .filter($"__rn" <= 2)
        .select($"q_id", $"cluster".as("cell"))
      val luts = ProductQuantizer
        .buildLuts(sub.filter($"vec_id" < 4), "vec_id", cents, m = 8, k = 4)
      // ---- scatter: each shard scans ITS probed-cell rows only
      val scored = store.join(broadcast(probes), "cell")
        .filter($"vec_id" =!= $"q_id")
        .select($"shard", $"q_id", $"vec_id",
          ProductQuantizer.adcExpr(luts, $"q_id", $"codes", m = 8, k = 4)
            .as("adist"))
      val top5 = udaf(new graft.functions.TopKLong(5))
      val perShard = scored.groupBy($"shard", $"q_id")
        .agg(top5(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"q_id", explode($"tk").as("e"))
        .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"))
      // ---- gather: exact merge of ≤ 5·S candidates per query
      val w = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id".asc)
      val out = perShard.groupBy($"q_id")
        .agg(top5(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"q_id", explode($"tk").as("e"))
        .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .select($"q_id", $"rn", $"vec_id", $"adist")
        .orderBy($"q_id", $"rn")
        .barrier()
      sub.unpersist()
      out
    },
    q196.oracle, // the unsharded IVF-PQ replay — topology never enters
    doc = "N35d: sharded IVF-PQ scatter-gather — vec_id-mod-4 shards " +
      "own their (cell, codes) rows, centroids/probes/LUTs broadcast " +
      "(frozen-model-sized), each shard scans only its probed-cell " +
      "rows and reduces with a bounded TopKLong (<= 5 rows per shard " +
      "per query on the wire), exact k*S gather (ADC distance is " +
      "per-pair given the LUT — the q283 containment law with no " +
      "stats step); q196's unsharded oracle proves sharded == " +
      "single-store bit for bit")

  /** q318 — REPLICATED navigable-graph ANN with FAILOVER (X122d, r17):
    * the last named store of the r16 verdict's "missing #1" — SQ8 got
    * q303/q316, IVF-PQ got q317, and the q280 graph tier was still
    * single-copy: a node loss loses its vertices' adjacency rows AND
    * codes, and a beam search is ITERATIVE — one lost row changes
    * paths, so the invariance is a real claim about the traversal, not
    * a tautology about one scan. [[graft.operators.ReplicatedRows]]
    * places all three row stores (quantized vectors, dense-layer
    * edges, top-layer edges) on TWO nodes each, CO-PLACED on the same
    * vec ring as the codes (a traversal that lands on a vertex needs
    * its vector and its neighbors together — the locality every real
    * graph index engineers for); with node 1 down the failover
    * selection returns the exact original row SETS (a partition, every
    * row from a surviving copy), so the layered beam search — q280
    * VERBATIM from there on — answers identically, which the oracle
    * (q280's from-raw two-layer replay; the topology never enters it)
    * gates bit for bit at all 3 SFs. ReplicatedRowsSpec pins the
    * row-set partition law and traversal invariance for EVERY failed
    * node on a planted graph.
    *
    * Scale: placement is one broadcast doubled-ring join per store
    * over its rows (no exchange); ingest pays replication's 2× row cost;
    * failover is filter + union (never a payload shuffle); the serve
    * is q280's posture unchanged — per-hop candidate frontiers, exact
    * integer distances, bounded beams. */
  val q318 = Q(
    "q318_replicated_graph_ann",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent, ReplicatedRows}
      val failed = 1L
      val emb = Tables(s, dir, "embeddings")
      val vq0 = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq0.count() // 1-scalar driver action: the init's mod base
      val init0 = vq0.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      val top0 = vq0.filter($"vec_id" % 8 === 0)
      val m = top0.count() // the subset init's mod base
      val strides = (0 until 20).map(1L << _).filter(_ < m)
      val ring = top0.select($"vec_id".as("v"),
          explode(lit(strides.toArray)).as("st"))
        .select($"v", expr(s"((v DIV 8) + st) % $m * 8").as("u"))
      // the two layer-graph builds and the routed-vq placement barrier
      // are pairwise independent eager chains over the same persisted
      // corpus — overlap them (guide §2.6, r19). The vq leg keeps the
      // r18 posture: barriered once, five consumers below —
      // top/queries/entry plus both searches' corpus — would each
      // replay the placement chain; g0/g1 feed only the searches' own
      // sym barrier.
      val (g0full, g1full, vq) = Par.join3(
        NNDescent.build(vq0, "vec_id", init0, k = 4, rounds = 2)
          .select($"v", $"u"),
        NNDescent.build(top0, "vec_id", ring, k = 3, rounds = 2)
          .select($"v", $"u")
          .unionByName(ring.select($"v", $"u")),
        { // ---- ingest + node-1 failover of the vector row store
          val (vqP, vqR) = ReplicatedRows.build(vq0, "vec_id", nShards = 4)
          ReplicatedRows.failover(vqP, vqR, failed).barrier() })
      // ---- ingest: BOTH copies of the two edge stores, co-placed on
      // the vec ring (a vertex's codes and adjacency share a home)
      val (g0P, g0R) = ReplicatedRows.build(g0full, "v", nShards = 4)
      val (g1P, g1R) = ReplicatedRows.build(g1full, "v", nShards = 4)
      // ---- node 1 is DOWN: the traversal serves off the routed sets
      val g0 = ReplicatedRows.failover(g0P, g0R, failed)
      val g1 = ReplicatedRows.failover(g1P, g1R, failed)
      val top = vq.filter($"vec_id" % 8 === 0)
      val queries = vq.filter($"vec_id" % 100 === 7)
        .select($"vec_id".as("q_id"), $"xq")
      val entryTop = top.filter($"vec_id" === 0).select($"vec_id".as("id"))
      val stage1 = GraphAnn.beamSearch(top, "vec_id", g1, queries,
        entryTop, beam = 3, rounds = 2, k = 2)
      val seeds = stage1.select($"q_id", $"id")
      val out = GraphAnn
        .beamSearchFrom(vq, "vec_id", g0, queries, seeds,
          beam = 4, rounds = 3, k = 4)
        .orderBy($"q_id", $"rn")
        .barrier() // eager, BEFORE unpersist (q280's posture)
      vq0.unpersist()
      out
    },
    q280.oracle, // the single-copy two-layer replay — topology never enters
    doc = "X122d: replicated navigable-graph ANN with node-1 failover — " +
      "all three row stores (quantized vectors, dense edges, top-layer " +
      "edges) placed on two nodes each, CO-PLACED on the codes' vec " +
      "ring; the failover selection is a row-set partition, so the " +
      "layered beam search (iterative — one lost row changes paths) " +
      "answers identically with any node down; q280's oracle gates it " +
      "bit for bit")

  /** q320 — replicated graph ANN: node LOSS → RE-REPLICATION → a
    * SECOND failover (X123a, r18): the r17 verdict's "missing #2" —
    * q318 gave the graph tier a failover but no way to RE-REPLICATE: a
    * lost node permanently halved those rows' redundancy, one more
    * failure from data loss. [[graft.operators.ReplicatedRows.recoverLost]]
    * is the row placement's promotion/re-replication (the same vec
    * ring and walk every vector store uses): replica rows
    * of the lost node's primaries PROMOTE wholesale, every id the lost
    * node hosted re-replicates at the S−1 ring from a surviving copy,
    * everything else passes key-untouched — run across ALL THREE
    * co-placed row stores (quantized vectors, dense edges, top-layer
    * edges). The query then fails over a SECOND node (0) on the
    * recovered 3-ring topology and runs the layered beam search — the
    * end-to-end claim a replica set exists for: lose a node, heal,
    * lose another, and the ITERATIVE traversal still answers
    * identically, which q280's from-raw oracle gates bit for bit at
    * all 3 SFs (neither the topology nor either loss enters it).
    * ReplicatedRowsSpec pins recovered ≡ from-scratch S−1 build (both
    * stores, as sets), the promotion law, and the second-failover
    * partition law.
    *
    * Scale: recovery touches the lost node's hosted rows only (~2/S of
    * each store: filters + one broadcast ring join over the hosted
    * rows + |hosted|-sized unions); the serve is q280's posture
    * unchanged. */
  val q320 = Q(
    "q320_replicated_graph_recovery",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{GraphAnn, KMeansInt, NNDescent, ReplicatedRows}
      val emb = Tables(s, dir, "embeddings")
      val vq0 = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
        .persist()
      val n = vq0.count() // 1-scalar driver action: the init's mod base
      val init0 = vq0.select($"vec_id".as("v"),
          explode(sequence(lit(1), lit(4))).as("i"))
        .select($"v", (($"v" + $"i") % n).as("u"))
      val top0 = vq0.filter($"vec_id" % 8 === 0)
      val m = top0.count() // the subset init's mod base
      val strides = (0 until 20).map(1L << _).filter(_ < m)
      val ring = top0.select($"vec_id".as("v"),
          explode(lit(strides.toArray)).as("st"))
        .select($"v", expr(s"((v DIV 8) + st) % $m * 8").as("u"))
      // the two layer-graph builds and the vq store's full lifecycle
      // chain (build → lose node 3 → re-replicate → lose node 0 →
      // failover, barriered once — q318's note; the most expensive
      // replayed chain of the family) are pairwise independent eager
      // chains — overlap them (guide §2.6, r19)
      val (g0full, g1full, vq) = Par.join3(
        NNDescent.build(vq0, "vec_id", init0, k = 4, rounds = 2)
          .select($"v", $"u"),
        NNDescent.build(top0, "vec_id", ring, k = 3, rounds = 2)
          .select($"v", $"u")
          .unionByName(ring.select($"v", $"u")),
        { val (vqP, vqR) = ReplicatedRows.build(vq0, "vec_id", nShards = 4)
          val (vqP2, vqR2) = ReplicatedRows.recoverLost(vqP, vqR, "vec_id", 4)
          ReplicatedRows.failover(vqP2, vqR2, 0L).barrier() })
      // ---- ingest at S = 4 (q318's placement, both edge stores)
      val (g0P, g0R) = ReplicatedRows.build(g0full, "v", nShards = 4)
      val (g1P, g1R) = ReplicatedRows.build(g1full, "v", nShards = 4)
      // ---- node 3 is LOST; the tier re-replicates onto the 3-ring
      val (g0P2, g0R2) = ReplicatedRows.recoverLost(g0P, g0R, "v", 4)
      val (g1P2, g1R2) = ReplicatedRows.recoverLost(g1P, g1R, "v", 4)
      // ---- a SECOND node (0) goes down: serve off the routed sets
      val g0 = ReplicatedRows.failover(g0P2, g0R2, 0L)
      val g1 = ReplicatedRows.failover(g1P2, g1R2, 0L)
      val top = vq.filter($"vec_id" % 8 === 0)
      val queries = vq.filter($"vec_id" % 100 === 7)
        .select($"vec_id".as("q_id"), $"xq")
      val entryTop = top.filter($"vec_id" === 0).select($"vec_id".as("id"))
      val stage1 = GraphAnn.beamSearch(top, "vec_id", g1, queries,
        entryTop, beam = 3, rounds = 2, k = 2)
      val seeds = stage1.select($"q_id", $"id")
      val out = GraphAnn
        .beamSearchFrom(vq, "vec_id", g0, queries, seeds,
          beam = 4, rounds = 3, k = 4)
        .orderBy($"q_id", $"rn")
        .barrier() // eager, BEFORE unpersist (q280's posture)
      vq0.unpersist()
      out
    },
    q280.oracle, // the single-copy two-layer replay — neither loss enters
    doc = "X123a: replicated graph ANN loss -> re-replication -> second " +
      "failover — ReplicatedRows' promotion/re-replication laws " +
      "across all three co-placed " +
      "stores; the recovered 3-ring tier fails over ANOTHER node and " +
      "the iterative layered beam search still answers identically " +
      "(q280's oracle gates it bit for bit; neither loss enters it)")

  /** q321 — ReplicatedRows LIFECYCLE on the vector row store:
    * append ∘ grow ∘ takedown (X123b, r18): the generic placement's
    * write-verb batch — q320 heals losses; this closes the PLANNED
    * maintenance verbs on the same frames. The chain: build at S = 3
    * over a WITHHELD corpus (vec_id % 10 ≠ 7), [[ReplicatedRows.append]]
    * the withheld rows (placement is a pure ring function, so appended
    * rows of existing ids land on established homes — the graph-append
    * composition, q240's verb on the placement), [[ReplicatedRows.grow]]
    * 3 → 4 index-only (ReplicatedRows' move classes), then [[ReplicatedRows.takedown]] of % 7 = 3 (one
    * anti-join per copy). Rows are atomic ⇒ the maintained pair ≡ a
    * from-scratch build at the final ring over the post-maintenance
    * row set — the oracle replays the quantization and BOTH
    * preference-list slots in CLOSED FORM (the HUGEINT pos·S + shard
    * min device) over `embeddings WHERE vec_id % 7 <> 3`; none of the
    * three verbs enters it. Hash-matched at all 3 SFs.
    * ReplicatedRowsSpec pins each verb's set law, the move classes,
    * the grow∘recoverLost round trip and append co-location.
    *
    * Scale: append = build over the |delta| only; grow = one
    * broadcast ring join of the primary rows, no exchange;
    * takedown = anti-joins on the compact id key; payload arrays ride
    * untouched (never re-quantized). */
  val q321 = Q(
    "q321_replicated_rows_lifecycle",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, ReplicatedRows}
      val emb = Tables(s, dir, "embeddings")
      val vq = emb.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
      val (p0, r0) = ReplicatedRows.build(
        vq.filter($"vec_id" % 10 =!= 7), "vec_id", nShards = 3)
      val (p1, r1) = ReplicatedRows.append(p0, r0,
        vq.filter($"vec_id" % 10 === 7), "vec_id", nShards = 3)
      val (p2, r2) = ReplicatedRows.grow(p1, r1, "vec_id", 3)
      val (p3, r3) = ReplicatedRows.takedown(p2, r2, "vec_id",
        vq.filter($"vec_id" % 7 === 3).select($"vec_id"))
      val p = p3.select(lit("p").as("store"), $"shard".as("node"),
        lit(-1L).as("origin"), $"vec_id", $"xq")
      val r = r3.select(lit("r").as("store"), $"node", $"origin",
        $"vec_id", $"xq")
      p.unionByName(r)
        .withColumn("xq_hash", expr(
          """aggregate(xq, CAST(7 AS BIGINT),
               (h, x) -> (h * 31 + x) % 1000000007)"""))
        .select($"store", $"node", $"origin", $"vec_id", $"xq_hash")
        .orderBy($"store", $"node", $"origin", $"vec_id")
    },
    Some(s"""
      WITH c AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                   + 10000) AS xq
            FROM embeddings WHERE vec_id % 7 <> 3),
      rg AS (${graft.queries.Mining.ringSql(4, 16)}),
      r2 AS (SELECT shard, pos FROM rg
             UNION ALL
             SELECT shard, pos + (CAST(1 AS BIGINT) << 60) FROM rg),
      md AS (SELECT vec_id,
               CAST(('0x' || substr(md5('vec' || vec_id), 1, 15)) AS BIGINT)
                 AS p
             FROM c),
      pw AS (SELECT md.vec_id,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS prim
             FROM md JOIN r2 ON r2.pos >= md.p GROUP BY md.vec_id),
      rw AS (SELECT md.vec_id, pw.prim,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS repl
             FROM md JOIN pw USING (vec_id)
                  JOIN r2 ON r2.pos >= md.p AND r2.shard <> pw.prim
             GROUP BY md.vec_id, pw.prim),
      h AS (SELECT c.vec_id,
              CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), c.xq),
                (h, x) -> (h * 31 + x) % 1000000007) AS BIGINT)
                AS xq_hash,
              rw.prim, rw.repl
            FROM c JOIN rw USING (vec_id))
      SELECT 'p' AS store, prim AS node, CAST(-1 AS BIGINT) AS origin,
             vec_id, xq_hash
      FROM h
      UNION ALL
      SELECT 'r', repl, prim, vec_id, xq_hash FROM h
      ORDER BY store, node, origin, vec_id"""),
    doc = "X123b: ReplicatedRows lifecycle — append (withheld rows " +
      "place at established ring homes), grow 3->4 index-only " +
      "(ReplicatedRows' move classes), takedown " +
      "(one anti-join per copy); maintained == from-scratch 4-ring " +
      "build over the post-maintenance rows, row for row (the oracle " +
      "replays quantization + both ring slots in closed form; none of " +
      "the verbs enters it)")

  /** q322 — REPLICATED sharded IVF-PQ with FAILOVER (N35e, r18): the
    * r17 verdict's "missing #3" — q317 sharded the IVF-PQ read path
    * but a node loss lost its cells' codes; the SQ8 store survives
    * losses (q303) and now the IVF-PQ store does too.
    * [[graft.operators.ReplicatedRows]] places the (cell, codes) rows
    * on TWO nodes each (the codes' vec ring — co-placed with every
    * other vector store), and the serve runs q317's scatter-gather off
    * [[graft.operators.ReplicatedRows.failoverServing]] with node 1
    * DOWN: the routed selection partitions the corpus with the serving
    * node retained, each surviving node scans only ITS probed-cell
    * rows, reduces per-(node, query) with the bounded TopKLong, and
    * the exact gather merges — ADC distance is per-pair given the
    * broadcast LUT, so the q283 containment law closes with no stats
    * step and the ranking is invariant for EVERY failed node (spec).
    * The oracle is q196's VERBATIM (unsharded, unreplicated, the
    * topology and the loss never enter it) — the hash match proves
    * failover serve ≡ single-store IVF-PQ bit for bit at all 3 SFs.
    *
    * Scale: q317's posture + replication's 2× row cost at ingest;
    * failover selection is filter + union (never a payload shuffle);
    * ≤ 5 rows per (node, query) on the wire; broadcasts stay
    * frozen-model-sized. */
  val q322 = Q(
    "q322_replicated_ivfpq_failover",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, ProductQuantizer, ReplicatedRows}
      val failed = 1L
      val emb = Tables(s, dir, "embeddings")
      val sub = ProductQuantizer
        .subVectors(emb, "vec_id", "embedding", m = 8, subDims = 8)
        .persist()
      // independent eager trainings, overlapped (guide §2.6, r19)
      val ((coarse, coarseCents), cents) = Par.join2(
        KMeansInt.clusterWithCents(emb, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      val codes = ProductQuantizer.encode(sub, "vec_id", cents)
      // ---- ingest: BOTH copies of the (cell, codes) rows on the ring
      val rows = coarse.select($"vec_id", $"cluster".as("cell"))
        .join(codes, "vec_id")
        .select($"vec_id", $"cell", $"codes")
      val (rP, rR) = ReplicatedRows.build(rows, "vec_id", nShards = 4)
      val qv = emb.filter($"vec_id" < 4)
        .select($"vec_id".as("q_id"), KMeansInt.quantize($"embedding").as("qx"))
      val wP = Window.partitionBy($"q_id").orderBy($"__d", $"cluster")
      val probes = qv.crossJoin(broadcast(coarseCents))
        .withColumn("__d", KMeansInt.sqDist($"qx", $"cq"))
        .withColumn("__rn", row_number().over(wP))
        .filter($"__rn" <= 2)
        .select($"q_id", $"cluster".as("cell"))
      val luts = ProductQuantizer
        .buildLuts(sub.filter($"vec_id" < 4), "vec_id", cents, m = 8, k = 4)
      // ---- node 1 is DOWN: scatter over the routed selection, the
      // serving node retained for the per-node bounded reduction
      val sel = ReplicatedRows.failoverServing(rP, rR, failed)
      val scored = sel.join(broadcast(probes), "cell")
        .filter($"vec_id" =!= $"q_id")
        .select($"node", $"q_id", $"vec_id",
          ProductQuantizer.adcExpr(luts, $"q_id", $"codes", m = 8, k = 4)
            .as("adist"))
      val top5 = udaf(new graft.functions.TopKLong(5))
      val perNode = scored.groupBy($"node", $"q_id")
        .agg(top5(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"q_id", explode($"tk").as("e"))
        .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"))
      val w = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id".asc)
      val out = perNode.groupBy($"q_id")
        .agg(top5(-$"adist", $"vec_id", lit(0L)).as("tk"))
        .select($"q_id", explode($"tk").as("e"))
        .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .select($"q_id", $"rn", $"vec_id", $"adist")
        .orderBy($"q_id", $"rn")
        .barrier()
      sub.unpersist()
      out
    },
    q196.oracle, // the unsharded single-copy replay — the loss never enters
    doc = "N35e: replicated sharded IVF-PQ with node-1 failover — both " +
      "copies of the (cell, codes) rows on the vec ring, the routed " +
      "selection partitions the corpus with the serving node retained, " +
      "per-node bounded TopKLong + exact gather (ADC is per-pair given " +
      "the broadcast LUT — containment with no stats step); q196's " +
      "oracle proves failover serve == single-store IVF-PQ bit for bit")

  /** q323 — REPLICATED IVF-PQ store MAINTENANCE: frozen-model append +
    * takedown (N35f, r18): the r17 verdict's "missing #3" second half —
    * q222/q234's maintenance devices operated on the UNSHARDED IVF
    * store only; the serving tier that survives losses (q322) must
    * also take writes. The chain: coarse cells + PQ codebooks train on
    * the FROZEN prefix (vec_id < 384, q222's split), the prefix's
    * (cell, codes) rows place on BOTH copies at S = 3
    * ([[graft.operators.ReplicatedRows.build]]), the delta (vec_id ≥
    * 384) assigns + encodes under the frozen model
    * ([[graft.operators.IvfPqIndex.appendToIndex]] — O(|delta|),
    * nothing re-read) and APPENDS through the placement (pure ring
    * function ⇒ appended rows land exactly where a from-scratch build
    * puts them), then a takedown (% 13 = 5) anti-joins both copies.
    * Maintained ≡ a from-scratch placement of the rebuilt-then-
    * restricted store ROW FOR ROW — the oracle trains the same frozen
    * model in SQL (q222's CTEs), encodes base + delta under it,
    * restricts to survivors and replays BOTH ring slots in closed
    * form; none of the verbs enters it. Hash-matched at all 3 SFs.
    *
    * Scale: training is the q222 cost at ingest; append = |delta|
    * pointwise encodes + the ring join over the delta rows;
    * takedown = anti-joins on the compact vec_id key; the 2× row cost
    * is replication's constant. */
  val q323 = Q(
    "q323_replicated_ivfpq_maintenance",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{IvfPqIndex, KMeansInt, ProductQuantizer, ReplicatedRows}
      val emb = Tables(s, dir, "embeddings")
      val frozen = emb.filter($"vec_id" < 384)
      val delta = emb.filter($"vec_id" >= 384)
      val sub = ProductQuantizer
        .subVectors(frozen, "vec_id", "embedding", m = 8, subDims = 8)
        .persist()
      // independent eager trainings, overlapped (guide §2.6, r19)
      val ((coarse, coarseCents), books) = Par.join2(
        KMeansInt.clusterWithCents(frozen, "vec_id", "embedding", k = 8, rounds = 2),
        ProductQuantizer.trainCodebooks(sub, "vec_id", k = 4, rounds = 2))
      val baseRows = coarse.select($"vec_id", $"cluster".as("cell"))
        .join(ProductQuantizer.encode(sub, "vec_id", books), "vec_id")
        .select($"vec_id", $"cell".cast(LongType).as("cell"), $"codes")
      val (p0, r0) = ReplicatedRows.build(baseRows, "vec_id", nShards = 3)
      // ---- frozen-model append through the placement
      val deltaRows = IvfPqIndex
        .appendToIndex(delta, "vec_id", "embedding", coarseCents, books,
          m = 8, subDims = 8)
        .select($"vec_id", $"cell".cast(LongType).as("cell"), $"codes")
      val (p1, r1) = ReplicatedRows.append(p0, r0, deltaRows, "vec_id", 3)
      // ---- right-to-be-forgotten against both copies
      val dead = emb.select($"vec_id").filter($"vec_id" % 13 === 5)
      val (p2, r2) = ReplicatedRows.takedown(p1, r1, "vec_id", dead)
      val p = p2.select(lit("p").as("store"), $"shard".as("node"),
        lit(-1L).as("origin"), $"vec_id", $"cell", $"codes")
      val r = r2.select(lit("r").as("store"), $"node", $"origin",
        $"vec_id", $"cell", $"codes")
      val out = p.unionByName(r)
        .withColumn("codes_hash", expr(
          """aggregate(codes, CAST(7 AS BIGINT),
               (h, x) -> (h * 31 + CAST(x AS BIGINT)) % 1000000007)"""))
        .select($"store", $"node", $"origin", $"vec_id", $"cell",
          $"codes_hash")
        .orderBy($"store", $"node", $"origin", $"vec_id")
        .barrier()
      sub.unpersist()
      out
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2From(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 384")},
      $pqCoreCtes,
      dvq AS (SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
              FROM embeddings WHERE vec_id >= 384),
      dcell AS (SELECT vec_id, cluster AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT dvq.vec_id, c.cluster,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
              FROM dvq CROSS JOIN c2 c))
        WHERE rn = 1),
      dsv AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
                list_slice(xq, CAST(s.sub AS INT) * 8 + 1,
                               CAST(s.sub AS INT) * 8 + 8) AS sxq
              FROM dvq CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      dcode AS (SELECT vec_id, sub, cluster AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster) AS rn
        FROM (SELECT dsv.vec_id, dsv.sub, c.cluster,
                CAST(list_sum(list_transform(range(1, 9),
                  i -> (sxq[i] - cq[i]) * (sxq[i] - cq[i]))) AS BIGINT) AS d
              FROM dsv JOIN pc2 c ON dsv.sub = c.sub))
        WHERE rn = 1),
      bch AS (SELECT vec_id,
                CAST(list_reduce(list_prepend(CAST(7 AS BIGINT),
                  list(CAST(cluster AS BIGINT) ORDER BY sub)),
                  (h, x) -> (h * 31 + x) % 1000000007) AS BIGINT)
                  AS codes_hash
              FROM paf GROUP BY vec_id),
      dch AS (SELECT vec_id,
                CAST(list_reduce(list_prepend(CAST(7 AS BIGINT),
                  list(CAST(code AS BIGINT) ORDER BY sub)),
                  (h, x) -> (h * 31 + x) % 1000000007) AS BIGINT)
                  AS codes_hash
              FROM dcode GROUP BY vec_id),
      allrows AS (
        SELECT a3.vec_id, CAST(a3.cluster AS BIGINT) AS cell,
               bch.codes_hash
        FROM a3 JOIN bch USING (vec_id)
        UNION ALL
        SELECT dcell.vec_id, CAST(dcell.cell AS BIGINT), dch.codes_hash
        FROM dcell JOIN dch USING (vec_id)),
      live AS MATERIALIZED (SELECT * FROM allrows WHERE vec_id % 13 <> 5),
      rg AS (${graft.queries.Mining.ringSql(3, 16)}),
      rr2 AS (SELECT shard, pos FROM rg
             UNION ALL
             SELECT shard, pos + (CAST(1 AS BIGINT) << 60) FROM rg),
      md AS (SELECT vec_id,
               CAST(('0x' || substr(md5('vec' || vec_id), 1, 15)) AS BIGINT)
                 AS p
             FROM live),
      pw AS (SELECT md.vec_id,
               CAST(MIN(CAST(rr2.pos AS HUGEINT) * 3 + rr2.shard) % 3
                 AS BIGINT) AS prim
             FROM md JOIN rr2 ON rr2.pos >= md.p GROUP BY md.vec_id),
      rw AS (SELECT md.vec_id, pw.prim,
               CAST(MIN(CAST(rr2.pos AS HUGEINT) * 3 + rr2.shard) % 3
                 AS BIGINT) AS repl
             FROM md JOIN pw USING (vec_id)
                  JOIN rr2 ON rr2.pos >= md.p AND rr2.shard <> pw.prim
             GROUP BY md.vec_id, pw.prim),
      h AS (SELECT live.vec_id, live.cell, live.codes_hash,
              rw.prim, rw.repl
            FROM live JOIN rw USING (vec_id))
      SELECT 'p' AS store, prim AS node, CAST(-1 AS BIGINT) AS origin,
             vec_id, cell, codes_hash
      FROM h
      UNION ALL
      SELECT 'r', repl, prim, vec_id, cell, codes_hash FROM h
      ORDER BY store, node, origin, vec_id"""),
    doc = "N35f: replicated IVF-PQ store maintenance — frozen-model " +
      "append (q222's device) through the ring placement + takedown on " +
      "both copies; maintained == rebuilt-then-restricted placed from " +
      "scratch, row for row (the oracle trains the frozen model in " +
      "SQL, encodes base + delta, restricts to survivors and replays " +
      "both ring slots in closed form; no verb enters it)")

  /** q332 — UPDATE on the replicated row placement (X123c, r18): the
    * generic verb matrix's last member — build/append/grow/takedown/
    * recoverLost/failover existed (q318–q321); the UPDATE verb (a
    * re-embedded vector's new payload, a vertex's rebuilt adjacency)
    * is [[graft.operators.ReplicatedRows.update]]: takedown ∘ append
    * composed, and because placement is a pure ring function the new
    * rows land on the ids' ESTABLISHED homes — an update never moves
    * an id; withheld ids (vec_id % 17 = 6) arrive FIRST through the
    * verb (the upsert half). Updated ≡ a from-scratch build over the
    * post-update row set — the oracle replays quantization over the
    * CASE-modified corpus (% 13 = 2 vecs re-embedded as the
    * deterministic `reverse`) and BOTH ring slots in closed form; the
    * verb never enters it. Hash-matched at all 3 SFs.
    *
    * Scale: one anti-join per copy + the ring projection over the
    * |delta| rows; payloads of untouched ids never move or re-read. */
  val q332 = Q(
    "q332_replicated_rows_update",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{KMeansInt, ReplicatedRows}
      val emb = Tables(s, dir, "embeddings")
      def vqOf(df: org.apache.spark.sql.DataFrame) =
        df.select($"vec_id", KMeansInt.quantize($"embedding").as("xq"))
      val (p0, r0) = ReplicatedRows.build(
        vqOf(emb.filter($"vec_id" % 17 =!= 6)), "vec_id", nShards = 4)
      // the update event: re-embedded (% 13 = 2) + withheld upserts
      val upd = vqOf(emb
        .filter($"vec_id" % 13 === 2 || $"vec_id" % 17 === 6)
        .select($"vec_id",
          when($"vec_id" % 13 === 2, reverse($"embedding"))
            .otherwise($"embedding").as("embedding")))
      val (p1, r1) = ReplicatedRows.update(p0, r0, upd, "vec_id", 4)
      val p = p1.select(lit("p").as("store"), $"shard".as("node"),
        lit(-1L).as("origin"), $"vec_id", $"xq")
      val r = r1.select(lit("r").as("store"), $"node", $"origin",
        $"vec_id", $"xq")
      p.unionByName(r)
        .withColumn("xq_hash", expr(
          """aggregate(xq, CAST(7 AS BIGINT),
               (h, x) -> (h * 31 + x) % 1000000007)"""))
        .select($"store", $"node", $"origin", $"vec_id", $"xq_hash")
        .orderBy($"store", $"node", $"origin", $"vec_id")
    },
    Some(s"""
      WITH c AS (SELECT vec_id, list_transform(
              CASE WHEN vec_id % 13 = 2 THEN list_reverse(embedding)
                   ELSE embedding END,
              x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                   + 10000) AS xq
            FROM embeddings),
      rg AS (${graft.queries.Mining.ringSql(4, 16)}),
      r2 AS (SELECT shard, pos FROM rg
             UNION ALL
             SELECT shard, pos + (CAST(1 AS BIGINT) << 60) FROM rg),
      md AS (SELECT vec_id,
               CAST(('0x' || substr(md5('vec' || vec_id), 1, 15)) AS BIGINT)
                 AS p
             FROM c),
      pw AS (SELECT md.vec_id,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS prim
             FROM md JOIN r2 ON r2.pos >= md.p GROUP BY md.vec_id),
      rw AS (SELECT md.vec_id, pw.prim,
               CAST(MIN(CAST(r2.pos AS HUGEINT) * 4 + r2.shard) % 4
                 AS BIGINT) AS repl
             FROM md JOIN pw USING (vec_id)
                  JOIN r2 ON r2.pos >= md.p AND r2.shard <> pw.prim
             GROUP BY md.vec_id, pw.prim),
      h AS (SELECT c.vec_id,
              CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), c.xq),
                (h, x) -> (h * 31 + x) % 1000000007) AS BIGINT)
                AS xq_hash,
              rw.prim, rw.repl
            FROM c JOIN rw USING (vec_id))
      SELECT 'p' AS store, prim AS node, CAST(-1 AS BIGINT) AS origin,
             vec_id, xq_hash
      FROM h
      UNION ALL
      SELECT 'r', repl, prim, vec_id, xq_hash FROM h
      ORDER BY store, node, origin, vec_id"""),
    doc = "X123c: UPDATE on the replicated row placement — takedown o " +
      "append composed (placement is a pure ring function, so new " +
      "payloads land on the ids' established homes; updates never move " +
      "an id), withheld ids upsert through the verb; updated == " +
      "from-scratch build over the post-update rows, row for row (the " +
      "oracle replays quantization over the CASE-modified corpus + " +
      "both ring slots in closed form)")

  val all: Seq[Q] = Seq(q50, q51, q52, q53, q64, q106, q193, q196, q198,
    q200, q201, q222, q224, q227, q234, q238, q240, q241, q249, q250,
    q280, q286, q290, q296, q303, q313, q316, q317, q318, q320, q321,
    q322, q323, q332)
}
