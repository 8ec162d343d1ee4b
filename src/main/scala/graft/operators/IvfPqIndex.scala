package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental IVF-PQ index maintenance (SURVEY.md §2.11a X97):
  * append a vector batch to an ALREADY-BUILT index without retraining
  * or touching one indexed vector.
  *
  * The q213/q139 maintenance law, applied to the ANN family: both
  * halves of the index model are FROZEN at append time — the coarse
  * centroid table (IVF cells) and the per-subspace PQ codebooks — and
  * both assignment steps are POINTWISE per vector (argmin against a
  * broadcast k-row table; no cross-vector term anywhere). Pointwise +
  * frozen ⇒ append-stable by construction: `appendToIndex(delta)` is
  * bit-identical to "assign + encode the FULL corpus under the same
  * frozen model, then restrict to the delta ids" — which is exactly
  * what the q222 oracle computes and IvfPqIndexSpec pins engine-side
  * at multiple scale factors (maintained ≡ rebuilt-then-restricted).
  * Bin-remap has q213's failure mode here too: serving keys on cell
  * membership and stored codes, so a daily embedding shard must extend
  * the index, never reshuffle it.
  *
  * RETRAIN TRIGGER (documented contract): frozen models go stale when
  * the data distribution drifts. The append emits each vector's exact
  * coarse quantization distortion (`cell_dist`, the BIGINT squared
  * distance to its won cell) precisely so the pipeline can monitor
  *
  *   mean(cell_dist over the delta)  vs  mean(cell_dist at train time)
  *
  * and schedule a REBUILD (train + re-encode, a new index generation)
  * when the ratio exceeds a policy threshold (~1.5× is the classic
  * FAISS-style heuristic); the trigger is an alert, never an in-place
  * mutation — generations swap atomically, q139's posture.
  * IvfPqIndexSpec pins the instrumentation on stationary testdata.
  *
  * Scale shape: the delta is scanned once; both frozen tables are
  * collected to the driver (they are k-row and m·k-row local
  * relations) and broadcast; per vector, [[KMeansInt.nearest]] (as
  * the native [[graft.expressions.NearestCentroid]]) takes the coarse
  * argmin and the m subspace argmins in place — a pointwise
  * projection with no join and no exchange. NOTHING about the frozen corpus is read at all — the
  * append costs O(|delta|), the property that makes daily shard
  * landings on a 100 TB index affordable.
  */
object IvfPqIndex {

  /** Append `delta` under a frozen model: `(idCol, cell, cell_dist,
    * codes)` — the coarse cell each new vector files under, its exact
    * coarse distortion (the retrain-trigger evidence), and its m-code
    * PQ row, all computed with [[KMeansInt.nearest]] against the
    * FROZEN tables (the same codes as [[ProductQuantizer.encode]]).
    *
    * @param coarseCents frozen coarse centroids (cluster, cq)
    * @param codebooks   frozen PQ codebooks (sub, cluster, cq)
    */
  def appendToIndex(delta: DataFrame, idCol: String, vecCol: String,
                    coarseCents: DataFrame, codebooks: DataFrame,
                    m: Int, subDims: Int): DataFrame =
    append(delta, idCol, vecCol, coarseCents, codebooks, m, subDims, None)

  /** The maintenance law's DELETE member (X102 — takedown /
    * right-to-be-forgotten): drop an id set from an already-built
    * index without touching any other row or either frozen model
    * table. Because every index row is POINTWISE in its own vector
    * (frozen argmin + frozen encode, no cross-vector term anywhere),
    * the anti-join is EXACTLY the index built under the same frozen
    * model on corpus-minus-deleted — maintained ≡ rebuilt-minus-
    * deleted, which q234's oracle rebuilds from scratch and
    * IvfPqIndexSpec pins engine-side. Deletion never retrains: the
    * model stays frozen (generations swap atomically on REBUILD,
    * q139's posture), so a takedown costs one scan of the index with
    * a broadcast-sized takedown set — no shuffle of the index, no
    * touch of the corpus.
    *
    * Returns `(live, cellStats)`: the maintained index rows and the
    * per-cell `(cell, n_live, n_deleted)` occupancy update a serving
    * layer needs (nprobe planning reads cell sizes; a drained cell
    * stops being probed). */
  def removeFromIndex(index: DataFrame, idCol: String,
                      deletedIds: DataFrame): (DataFrame, DataFrame) = {
    // normalize the key to the index id column's type (the sibling
    // takedown helpers' posture) — a differently-typed id frame must
    // not rely on implicit join coercion
    val del = deletedIds
      .select(col(deletedIds.columns.head)
        .cast(index.schema(idCol).dataType).as(idCol)).distinct()
    val live = index.join(del, Seq(idCol), "left_anti")
    val stats = index
      .join(del.withColumn("__del", lit(1L)), Seq(idCol), "left_outer")
      .withColumn("__del", coalesce(col("__del"), lit(0L)))
      .groupBy(col("cell"))
      .agg(sum(lit(1L) - col("__del")).as("n_live"),
        sum(col("__del")).as("n_deleted"))
    (live, stats)
  }

  /** Dead-row fraction (ppm) of a [[removeFromIndex]] cellStats frame
    * — the index reaper's scheduling input (the generation-rollover
    * trigger the takedown ledger documents; the packing twin is
    * [[GenerationRollover.deadFractionPpm]]). One aggregate over the
    * k-row cell frame; the 1-row collect is the sanctioned
    * reduced-aggregate class. Sums in DECIMAL(38,0) so the ×10⁶ ppm
    * step cannot overflow BIGINT at 100 TB row counts (quotient is
    * floored back to BIGINT — see GenerationRollover.deadFractionPpm
    * for the scale argument). */
  def deadFractionPpm(cellStats: DataFrame): Long =
    cellStats.agg(coalesce(
        expr("sum(cast(n_deleted as decimal(38,0))) * 1000000 div " +
          "(sum(cast(n_live as decimal(38,0))) + " +
          "sum(cast(n_deleted as decimal(38,0))))"), lit(0L)).as("ppm"))
      .head().getLong(0)

  /** [[appendToIndex]] for the RESIDUAL index (IVFADC, q200's
    * fidelity step): the delta assigns to its frozen coarse cell, is
    * re-centered against that cell's centroid
    * ([[ProductQuantizer.residuals]] — the grid trick applied twice),
    * and encodes under the frozen RESIDUAL codebooks. Still pointwise
    * under a frozen model, so the same maintained ≡
    * rebuilt-then-restricted law holds verbatim (q224's oracle;
    * IvfPqIndexSpec pins it engine-side). Same O(|delta|) posture and
    * the same `cell_dist` retrain trigger as the plain index. */
  def appendToResidualIndex(delta: DataFrame, idCol: String, vecCol: String,
                            coarseCents: DataFrame, residualBooks: DataFrame,
                            m: Int, subDims: Int): DataFrame =
    append(delta, idCol, vecCol, coarseCents, residualBooks, m, subDims,
      Some(20000L))

  /** Both appends as one pointwise projection: coarse argmin, then
    * (for the residual index) `xq − centroid + shift` — the
    * [[ProductQuantizer.residuals]] arithmetic — then the m codes. */
  private def append(delta: DataFrame, idCol: String, vecCol: String,
                     coarseCents: DataFrame, codebooks: DataFrame,
                     m: Int, subDims: Int, residualShift: Option[Long]): DataFrame = {
    val sc = delta.sparkSession.sparkContext
    val coarse = sc.broadcast(Map(0 -> KMeansInt.collectCents(coarseCents)))
    val books = sc.broadcast(
      ProductQuantizer.books(ProductQuantizer.collectCodebooks(codebooks)))
    val xq = col("__xq")
    val coded = residualShift.fold(xq)(shift =>
      zip_with(xq, col("__c.cq"), (x, c) => x - c + lit(shift)))
    delta.select(col(idCol), KMeansInt.quantize(col(vecCol)).as("__xq"))
      .select(col(idCol), xq, KMeansInt.nearestCol(xq, lit(0), coarse).as("__c"))
      .select(col(idCol), col("__c.cluster").as("cell"), col("__c.dist").as("cell_dist"),
        ProductQuantizer.codesCol(coded, books, m, subDims).as("codes"))
  }
}
