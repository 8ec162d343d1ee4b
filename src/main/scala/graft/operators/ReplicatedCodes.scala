package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replicated SQ8 code store with failover serving (q303/q313/q316):
  * [[ReplicatedRows]] over q286's `(vec_id, am, qv)` code rows, plus
  * the code-space serve. Placement, failover and every maintenance verb
  * are [[ReplicatedRows]]'; what is specific to codes is
  *
  *   - one row per vector: [[build]] and [[update]] drop duplicate
  *     vec_ids where code rows come in, so a serve counts each vector
  *     once and [[ReplicatedC.assignments]] is re-derived from the
  *     primary store's ids;
  *   - the ring size rides in the store, so [[update]]'s upsert half
  *     cannot place novel ids on a different ring than the existing
  *     rows, and [[grow]]/[[recoverLost]] fail loudly on a mismatched
  *     claim;
  *   - the serve: code distance is a pure function of the (query,
  *     vector) pair — no corpus statistics — so ANY row selection that
  *     holds each vector once (primary, replica, or a failover routing)
  *     serves the identical candidate set (ReplicatedCodesSpec pins
  *     every choice of failed node).
  *
  * Scale: every serve streams only the routed selection's codes
  * (corpus/S per serving node) against the broadcast query set, with a
  * bounded map-side [[graft.functions.TopKLong]] per node (≤ k rows per
  * node per query on the wire) and a k·S-row gather. */
object ReplicatedCodes {

  final case class ReplicatedC(
      primaryStore: DataFrame, // (shard, vec_id, am, qv)
      replicaStore: DataFrame, // (node, origin, vec_id, am, qv)
      nShards: Int) {          // the ring size the placement used
    /** (vec_id, primary, replica), primary ≠ replica — placement is a
      * pure function of vec_id, so it is recomputed, never stored. */
    def assignments: DataFrame =
      ReplicatedRows.place(primaryStore.select(col("vec_id")), "vec_id",
        nShards)
  }

  /** One (vec_id, am, qv) row per vector — the boundary guard of every
    * verb that takes code rows in. */
  private def rowsOf(codes: DataFrame): DataFrame =
    codes.select(col("vec_id"), col("am"), col("qv")).dropDuplicates("vec_id")

  /** Ingest: both copies of every (vec_id, am, qv) code row. */
  def build(codes: DataFrame, nShards: Int): ReplicatedC = {
    val (p, r) = ReplicatedRows.build(rowsOf(codes), "vec_id", nShards)
    ReplicatedC(p, r, nShards)
  }

  /** Stage-1 scatter-gather over ANY row selection that partitions the
    * corpus — (node, vec_id, am, qv) rows where `node` is the serving
    * node. `queries` is the broadcastable (q_id, q_am, q_qv) set. Each
    * node ranks ITS codes by the all-BIGINT scaled-code distance
    * (q286's device), per-(node, query) bounded top-k, exact k·S-row
    * gather merge. Returns (q_id, vec_id, adist, node). */
  private[graft] def serveCandidates(sel: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val s = sel.sparkSession
    import s.implicits._
    val s1 = sel.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist", expr(
        """aggregate(zip_with(q_qv, qv,
             (x, y) -> (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am) *
                       (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am)),
           CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
    val topK = udaf(new graft.functions.TopKLong(k))
    val perNode = s1.groupBy($"node", $"q_id")
      .agg(topK(-$"adist", $"vec_id", lit(0L)).as("tk"))
      .select($"node", $"q_id", explode($"tk").as("e"))
      .select($"node", $"q_id", $"e.id".as("vec_id"),
        (-$"e.score").as("adist"))
    perNode.groupBy($"q_id")
      .agg(topK(-$"adist", $"vec_id", $"node").as("tk")) // node rides as tag
      .select($"q_id", explode($"tk").as("e"))
      .select($"q_id", $"e.id".as("vec_id"), (-$"e.score").as("adist"),
        $"e.tag".as("node"))
  }

  /** Normal serve: every shard answers from its PRIMARY copy. */
  def servePrimary(r: ReplicatedC, queries: DataFrame, k: Int): DataFrame =
    serveCandidates(r.primaryStore.withColumnRenamed("shard", "node"),
      queries, k)

  /** Replica-routed serve (read shedding): every vec answers from its
    * REPLICA copy — the same candidates as [[servePrimary]]. */
  def serveReplica(r: ReplicatedC, queries: DataFrame, k: Int): DataFrame =
    serveCandidates(r.replicaStore.drop("origin"), queries, k)

  /** Node `failed` is down: its vecs answer from their replicas, every
    * other vec from its primary — the same candidates as
    * [[servePrimary]] for every choice of failed node. */
  def serveFailover(r: ReplicatedC, failed: Long, queries: DataFrame,
      k: Int): DataFrame =
    serveCandidates(
      ReplicatedRows.failoverServing(r.primaryStore, r.replicaStore, failed),
      queries, k)

  /** Permanent loss (or drain) of node S−1: [[ReplicatedRows.recoverLost]];
    * raw vectors are never re-quantized. */
  def recoverLost(rep: ReplicatedC, oldShards: Int): ReplicatedC = {
    require(oldShards == rep.nShards,
      s"recoverLost at $oldShards on a ${rep.nShards}-ring store")
    val (p, r) = ReplicatedRows.recoverLost(rep.primaryStore,
      rep.replicaStore, "vec_id", oldShards)
    ReplicatedC(p, r, oldShards - 1)
  }

  /** Right-to-be-forgotten takedown on both copies:
    * [[ReplicatedRows.takedown]]. */
  def takedown(rep: ReplicatedC, deadIds: DataFrame): ReplicatedC = {
    val (p, r) = ReplicatedRows.takedown(rep.primaryStore,
      rep.replicaStore, "vec_id", deadIds)
    ReplicatedC(p, r, rep.nShards)
  }

  /** Re-embed / upsert of (vec_id, am, qv) code rows at the store's own
    * ring: [[ReplicatedRows.update]] — a re-embed never moves a vector. */
  def update(rep: ReplicatedC, newCodes: DataFrame): ReplicatedC = {
    val (p, r) = ReplicatedRows.update(rep.primaryStore, rep.replicaStore,
      rowsOf(newCodes), "vec_id", rep.nShards)
    ReplicatedC(p, r, rep.nShards)
  }

  /** A node joins, S → S+1, index-only: [[ReplicatedRows.grow]]; raw
    * vectors are never re-quantized. */
  def grow(rep: ReplicatedC, oldShards: Int): ReplicatedC = {
    require(oldShards == rep.nShards,
      s"grow at $oldShards on a ${rep.nShards}-ring store")
    val (p, r) = ReplicatedRows.grow(rep.primaryStore, rep.replicaStore,
      "vec_id", oldShards)
    ReplicatedC(p, r, oldShards + 1)
  }
}
