package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.KMeansInt.Cents

/** Product Quantization ANN (SURVEY.md §2.11a N35) — Jégou, Douze &
  * Schmid, "Product Quantization for Nearest Neighbor Search" (TPAMI
  * 2011): split each d-dim vector into `m` subvectors, train an
  * independent k-centroid codebook per subspace, store each vector as
  * `m` small codes, and answer queries with Asymmetric Distance
  * Computation (ADC) — the query stays exact, every corpus vector's
  * distance is the sum of `m` precomputed query→centroid distances
  * looked up by code.
  *
  * Why it matters at 100 TB: a 64-dim float corpus is 256 bytes/vector;
  * PQ with m=8, k=4 is EIGHT codes of 2 bits — the codes table for the
  * whole corpus fits in a fraction of the raw size, the codebooks are
  * k·d longs (broadcast), and the scoring pass is a pure PROJECTION
  * over the codes (a per-query lookup-table sum) — zero shuffle of
  * vectors, zero shuffle of candidates until the bounded top-k
  * aggregate. IVF (q69/q140) prunes WHICH vectors are scored; PQ
  * shrinks WHAT is stored and scored — production ANN composes both
  * (IVF-PQ). Here each piece is its own audited operator.
  *
  * Determinism (the q118 contract, per subspace): vectors land on the
  * corpus-global integer grid (`round(x·10⁴)+10⁴` — [[KMeansInt]]
  * scaladoc for why that exact form), codebooks train with integer-
  * exact grouped k-means (truncating-div centroid means, argmin ties
  * to the smallest code), and ADC distances are exact BIGINT sums —
  * the full train→encode→search pipeline hash-matches a DuckDB twin
  * running the same algebra.
  *
  * Codebook training shape: ONE grouped k-means trains all `m`
  * codebooks simultaneously through [[KMeansInt]]'s round, keyed by
  * subspace — one seeding job, then one job per round: the (sub,
  * cluster, cq) codebooks ship in a broadcast, each partition folds
  * its (id, sub, sxq) rows into exact per-(sub, cluster) partial sums,
  * and a state-sized (m·k·subDims longs) collect brings them back.
  * Every argmin — training, [[encode]], [[encodeExpr]] and the IVF-PQ
  * append — is [[KMeansInt.nearest]] over driver-held codebooks.
  */
object ProductQuantizer {

  /** (idCol, sub, sxq): the quantized corpus sliced into `m` subspaces
    * of `subDims` dims each. Slicing is a projection (posexplode over
    * a precomputed slice array) — the vector never shuffles. */
  def subVectors(vecs: DataFrame, idCol: String, vecCol: String,
                 m: Int, subDims: Int): DataFrame =
    subVectorsQ(vecs.select(col(idCol),
      KMeansInt.quantize(col(vecCol)).as("xq")), idCol, m, subDims)

  /** [[subVectors]] over an ALREADY-quantized `xq` array<long> column
    * — the residual path (IVFADC, q200) quantizes and re-centers
    * before slicing. */
  def subVectorsQ(vecsQ: DataFrame, idCol: String,
                  m: Int, subDims: Int): DataFrame =
    vecsQ.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("xq"), s * subDims + 1, lit(subDims))))
        .as(Seq("sub", "sxq")))

  /** Residual vectors against an assigned coarse cell (IVFADC, Jégou
    * '11 §IV-A): xq − centroid + `shift`, per dimension. The constant
    * shift keeps every coordinate non-negative so the centroid-mean
    * integer division stays truncation-vs-floor-proof (the KMeansInt
    * grid argument, re-applied to residuals whose raw range is
    * [−2·10⁴, 2·10⁴]); distances are translation-invariant, so
    * assignments and ADC sums are unaffected. Returns (idCol, cell,
    * xq). Broadcast joins only — the corpus shuffles nothing here
    * beyond the assignment it already owns. */
  def residuals(vecs: DataFrame, idCol: String, vecCol: String,
                coarseAssign: DataFrame, coarseCents: DataFrame,
                shift: Long = 20000L): DataFrame =
    vecs.select(col(idCol), KMeansInt.quantize(col(vecCol)).as("__xq"))
      .join(coarseAssign.select(col(idCol), col("cluster").as("cell")), idCol)
      .join(broadcast(coarseCents.select(col("cluster").as("cell"),
        col("cq"))), "cell")
      .select(col(idCol), col("cell"),
        zip_with(col("__xq"), col("cq"), (x, c) => x - c + lit(shift)).as("xq"))

  /** Grouped k-means: `k` centroids per subspace, seeded per sub from
    * the `k` smallest ids (cluster id = seed rank 0..k-1 — id VALUES
    * need not be contiguous), `rounds` assign/update cycles, run
    * eagerly. Returns the codebook table (sub, cluster, cq) as a local
    * relation. Empty clusters drop (KMeansInt's documented semantic,
    * per subspace). */
  def trainCodebooks(sub: DataFrame, idCol: String,
                     k: Int, rounds: Int): DataFrame = {
    val data = KMeansInt.vectors(
      sub.select(col(idCol).cast("long"), col("sub"), col("sxq")))
    val trained = try {
      val seeds = KMeansInt.seedRows(data, k)
      val rank = seeds.map(_._1).distinct.sorted.zipWithIndex.toMap
      val init = seeds.groupBy(_._2).map { case (s, rows) =>
        s -> KMeansInt.cents(rows.map { case (id, _, x) => (rank(id), x) }) }
      KMeansInt.train(data, init, rounds)
    } finally data.unpersist(blocking = false)
    KMeansInt.centsFrame(sub.sparkSession, trained, withSub = true)
  }

  /** (sub, cluster, cq) codebook rows as one [[KMeansInt.Cents]] per
    * subspace. */
  private[operators] def books(rows: Seq[(Int, Int, Array[Long])]): Map[Int, Cents] =
    rows.groupBy(_._1).map { case (s, rs) =>
      s -> KMeansInt.cents(rs.map(r => (r._2, r._3))) }

  /** The m codes of a full vector column: subspace `s` codes the slice
    * `[s·subDims, (s+1)·subDims)` against `books(s)`. */
  private[operators] def codesCol(xq: Column, books: Broadcast[Map[Int, Cents]],
                                  m: Int, subDims: Int): Column =
    array((0 until m).map(s => KMeansInt.nearestCol(xq, lit(s), books,
      Some((s * subDims, subDims))).getField("cluster")): _*)

  /** Encode the corpus: (idCol, codes array<int>, one code per
    * subspace in sub order). This is the m-byte representation the
    * 100 TB corpus actually stores. Each (id, sub) row codes
    * pointwise; the one exchange regroups the m codes per id. */
  def encode(sub: DataFrame, idCol: String, cents: DataFrame): DataFrame = {
    val bc = sub.sparkSession.sparkContext.broadcast(books(collectCodebooks(cents)))
    sub.select(col(idCol), col("sub"),
        KMeansInt.nearestCol(col("sxq"), col("sub"), bc).getField("cluster").as("cluster"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cluster")))),
        c => c.getField("cluster")).as("codes"))
  }

  /** Per-query ADC lookup tables: q_id → flat array indexed
    * `sub*k + code` of exact query→centroid BIGINT distances. |Q|·m·k
    * longs, collected to the driver (the sanctioned reduced-aggregate
    * collect — k-means-output-sized, never corpus-sized). */
  def buildLuts(querySub: DataFrame, qIdCol: String, cents: DataFrame,
                m: Int, k: Int): Map[Long, Array[Long]] = {
    val dtab = querySub.join(broadcast(cents), "sub")
      .select(col(qIdCol), col("sub"), col("cluster"),
        KMeansInt.sqDist(col("sxq"), col("cq")).as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    dtab.map(_._1).distinct.sorted.map { q =>
      val a = Array.fill(m * k)(Long.MaxValue) // dropped empty cluster = never assigned
      dtab.filter(_._1 == q).foreach { case (_, s, c, d) => a(s * k + c) = d }
      q -> a
    }.toMap
  }

  /** ADC distance from a LUT carried as a COLUMN (a flat array<long>
    * indexed `sub*k + code`): the one scoring expression shared by the
    * plan-literal path ([[adcExpr]]/[[adcTopK]] inline literal arrays)
    * and the broadcast-join path ([[lutFrame]]'s data column) — the
    * two can never drift. */
  def adcFromLut(lut: Column, codes: Column, m: Int, k: Int): Column =
    aggregate(
      zip_with(sequence(lit(0), lit(m - 1)), codes,
        (s, c) => element_at(lut, (s * k + c + 1).cast("int"))),
      lit(0L), _ + _)

  /** ADC distance as a pure projection over a (q_id, codes) row: the
    * LUTs inline as ONE map literal keyed by query id, so a candidate
    * stream carrying mixed query ids (the IVF-PQ probe join, q196)
    * scores without any shuffle or per-query plan duplication.
    * Plan-literal size is |Q|·m·k — right for serving-sized query
    * batches; LARGE batches use [[lutFrame]] + [[scoreCandidates]] /
    * [[adcTopKJoin]], which carry the same tables as broadcast DATA
    * with no |Q| term in the plan. */
  def adcExpr(luts: Map[Long, Array[Long]], qId: Column, codes: Column,
              m: Int, k: Int): Column = {
    val entries = luts.toSeq.sortBy(_._1).flatMap { case (q, arr) =>
      Seq(lit(q), array(arr.map(lit): _*)) }
    adcFromLut(element_at(map(entries: _*), qId), codes, m, k)
  }

  /** The per-query ADC lookup tables as DATA rows, never on the
    * driver: (q_id, __lut) where __lut[sub·k + code] is the exact
    * BIGINT query→centroid distance, Long.MaxValue on never-assigned
    * (dropped-empty-cluster) codes — byte-identical content to
    * [[buildLuts]], built by one m·k-row-per-query
    * aggregate and consumed through a broadcast join. This lifts the
    * literal path's |Q| bound: a thousand-query batch is a thousand
    * 32-long broadcast rows instead of |Q|·m·k plan literals (whose
    * analysis cost, codegen size and plan-cache pressure all grow
    * with the batch). */
  def lutFrame(querySub: DataFrame, qIdCol: String, cents: DataFrame,
               m: Int, k: Int): DataFrame =
    querySub.join(broadcast(cents), "sub")
      .select(col(qIdCol).as("q_id"),
        (col("sub") * k + col("cluster")).as("__i"),
        KMeansInt.sqDist(col("sxq"), col("cq")).as("__d"))
      .groupBy(col("q_id"))
      .agg(map_from_entries(collect_list(struct(col("__i"), col("__d"))))
        .as("__dm"))
      .select(col("q_id"), transform(sequence(lit(0), lit(m * k - 1)),
        i => coalesce(element_at(col("__dm"), i), lit(Long.MaxValue)))
        .as("__lut"))

  /** [[adcTopK]] with the LUTs as broadcast data instead of plan
    * literals: one broadcast nested-loop join fans each code row out
    * to the |Q| LUT rows, scoring stays a shuffle-free projection,
    * and the only exchange is the bounded top-k's final aggregate —
    * PqLutJoinSpec pins output equality with the literal path at
    * |Q|=1000 and the single-exchange plan shape. */
  def adcTopKJoin(codes: DataFrame, idCol: String, lutF: DataFrame,
                  m: Int, k: Int, topK: Int): DataFrame = {
    val scored = codes.crossJoin(broadcast(lutF))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        adcFromLut(col("__lut"), col("codes"), m, k).as("adist"))
    boundedTopK(scored, idCol, topK)
  }

  /** Score a pruned (q_id, idCol) candidate stream — the IVF-pruned
    * serve shape (q206) — against broadcast LUT rows: candidates join
    * the codes table on the id (both sides are ids + m codes), then
    * the k-row LUT frame broadcasts in; no |Q| term in the plan. */
  def scoreCandidates(cand: DataFrame, codes: DataFrame, idCol: String,
                      lutF: DataFrame, m: Int, k: Int): DataFrame =
    cand.join(codes, idCol)
      .join(broadcast(lutF), "q_id")
      .select(col("q_id"), col(idCol),
        adcFromLut(col("__lut"), col("codes"), m, k).as("adist"))

  /** The trained codebook table collected to the driver:
    * (sub, cluster, centroid) rows — m·k·subDims longs, the sanctioned
    * reduced collect. Feeds [[encodeExpr]]. */
  def collectCodebooks(cents: DataFrame): Seq[(Int, Int, Array[Long])] =
    cents.select(col("sub"), col("cluster"), col("cq")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray)).toSeq

  /** Per-ROW PQ encoding of a full quantized vector against a FROZEN
    * codebook: identical codes to [[encode]], but STATELESS and
    * shuffle-free, so a live vector stream encodes in append mode
    * against the last trained codebooks (T18 — the retrain-batch /
    * encode-stream deployment; the same pattern as T17's frozen
    * quality weights). Given no frame, it broadcasts the books through
    * the active session. */
  def encodeExpr(codebooks: Seq[(Int, Int, Array[Long])],
                 m: Int, subDims: Int, xq: Column): Column =
    codesCol(xq, SparkSession.active.sparkContext.broadcast(books(codebooks)), m, subDims)

  /** ADC top-k: exact per-query lookup tables over the codebooks, then
    * ONE zero-shuffle projection scores every encoded vector against
    * every query; the bounded [[graft.functions.TopKScored]] aggregate
    * ships ≤ partitions·|Q|·k entries to the final top-k. Returns
    * (q_id, rn, idCol, adist) — rank by (adist ASC, id ASC). */
  def adcTopK(codes: DataFrame, idCol: String,
              querySub: DataFrame, qIdCol: String,
              cents: DataFrame, m: Int, k: Int, topK: Int): DataFrame = {
    val luts = buildLuts(querySub, qIdCol, cents, m, k)
    val qIds = luts.keys.toSeq.sorted
    // one literal column per query; adist = Σ_sub lut[sub*k + code]
    val scored = qIds.map { q =>
      val lut = array(luts(q).map(lit): _*)
      struct(lit(q).as("q_id"),
        adcFromLut(lut, col("codes"), m, k).as("adist"))
    }
    val scoredRows = codes
      .select(col(idCol), explode(array(scored: _*)).as("qa"))
      .select(col(idCol), col("qa.q_id").as("q_id"), col("qa.adist").as("adist"))
      .filter(col(idCol) =!= col("q_id"))
    boundedTopK(scoredRows, idCol, topK)
  }

  /** Bounded top-k over a scored candidate stream (q_id, idCol,
    * adist): map-side partial top-k via TopKScored, rank by
    * (adist ASC, id ASC). adist is an exact BIGINT ≤
    * m·subDims·(2·10⁴)² ≈ 2.6e10 ≪ 2⁵³, so the Double negation is
    * exact and score-DESC in the aggregate is identical to adist-ASC. */
  def boundedTopK(scored: DataFrame, idCol: String, topK: Int): DataFrame = {
    implicit val inEnc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Double, Long, Long)]()
    val topk = udaf(new graft.functions.TopKScored(topK))
    scored
      .groupBy(col("q_id"))
      .agg(topk((-col("adist")).cast("double"), col(idCol), col("adist")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).as("rn"),
        col("e.id").as(idCol), col("e.tag").as("adist"))
  }
}
