package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Two-copy placement for ATOMIC-ROW serving stores — every vector
  * row store (the SQ8 codes of [[ReplicatedCodes]], the graph tier's
  * quantized vectors and adjacency lists, the IVF-PQ (cell, codes)
  * rows) places through this one operator, so each verb has one
  * implementation:
  *
  *   - every row keys by an id column; the id's Dynamo preference list
  *     (primary, replica) is [[ReplicatedIndex.assignPR]]'s walk over
  *     the md5 ring at [[position]]. Placement is a pure function of
  *     (id, ring size), so stores that share an id co-place (a vertex's
  *     codes and adjacency land on the same nodes — a traversal that
  *     reaches a vertex needs both);
  *   - the primary copy carries a `shard` column, the replica copy
  *     (node, origin), where origin is the id's primary — so "serve
  *     node x's rows from replicas" is a key selection (origin = x);
  *   - both copies carry the SAME per-id payload multiset: [[build]]
  *     derives both from one placed frame and every verb keeps that.
  *     This is what makes [[failover]] of node x return the ORIGINAL
  *     row multiset (primaries of nodes ≠ x ∪ replica rows with
  *     origin = x), so any computation that is a pure function of the
  *     row set — a beam search over edges, an ADC scan over codes — is
  *     answer-invariant under every single-node failover.
  *
  * Every verb's result equals a from-scratch [[build]] over the
  * resulting row set at the resulting ring size, as a multiset
  * (ReplicatedRowsSpec pins each verb and the copy agreement).
  *
  * Scale: placement is one broadcast non-equi join of every row
  * against the 2·S·16-row ring interval table — row-preserving, no
  * exchange; the copies are projections of it (the 2× write cost of
  * replication); failover is a filter + union, never a payload
  * shuffle. */
object ReplicatedRows {

  /** Placement and key column names the payload frame must not use:
    * the placement join and the copies' keys would become ambiguous or
    * silently wrong (`p` carries the ring position during [[place]]). */
  private val Reserved = Set("primary", "replica", "shard", "node", "origin", "p")

  /** An id's ring position: the first 15 hex digits of md5("vec" ‖ id)
    * as a Long. The "vec" prefix keeps the vector ring independent of
    * the text tier's "doc" ring. */
  private[graft] def position(id: Column): Column =
    conv(substring(md5(concat(lit("vec"), id.cast(StringType))), 1, 15),
      16, 10).cast(LongType)

  /** `rows` plus the (primary, replica) of each row's id on the
    * `n`-shard ring — one output row per input row. */
  private[operators] def place(rows: DataFrame, idCol: String,
      n: Int): DataFrame =
    ReplicatedIndex.assignPR(rows.withColumn("p", position(col(idCol))), n)
      .drop("p")

  /** The two copies of a [[place]]d frame: (shard, payload…) and
    * (node, origin, payload…). */
  private def copies(placed: DataFrame,
      payload: Seq[String]): (DataFrame, DataFrame) = {
    val cols = payload.map(col)
    (placed.select(col("primary").as("shard") +: cols: _*),
     placed.select(col("replica").as("node") +: col("primary").as("origin")
       +: cols: _*))
  }

  /** Both copies of `rows`, placed by `idCol` on the `nShards` ring.
    * Returns (primary with `shard`, replica with `node`/`origin`). */
  def build(rows: DataFrame, idCol: String,
      nShards: Int): (DataFrame, DataFrame) = {
    val clash = rows.columns.filter(Reserved.contains)
    require(clash.isEmpty,
      s"ReplicatedRows.build: payload columns ${clash.mkString(", ")} " +
        s"collide with placement keys (${Reserved.mkString("/")})")
    copies(place(rows, idCol, nShards), rows.columns.toSeq)
  }

  /** The original row set with node `failed` down — a partition of the
    * rows, every one served from a surviving copy. */
  def failover(primary: DataFrame, replica: DataFrame,
      failed: Long): DataFrame =
    failoverServing(primary, replica, failed).drop("node")

  /** [[failover]] with the SERVING node retained — (node, payload…)
    * rows, node ≠ failed everywhere. A per-node bounded reduction needs
    * to know who serves each row. */
  def failoverServing(primary: DataFrame, replica: DataFrame,
      failed: Long): DataFrame = {
    val payload = primary.columns.filterNot(_ == "shard").map(col)
    primary.filter(col("shard") =!= failed)
      .select(col("shard").as("node") +: payload: _*)
      .unionByName(replica.filter(col("origin") === failed)
        .select(col("node") +: payload: _*))
  }

  /** APPEND rows at the `nShards` ring. Placement is a pure function of
    * the id, so rows of an existing id land on its established homes
    * (an edge appended to a known vertex co-locates with it) and novel
    * ids place fresh. Scale: [[build]] over the delta only. */
  def append(primary: DataFrame, replica: DataFrame, newRows: DataFrame,
      idCol: String, nShards: Int): (DataFrame, DataFrame) = {
    val (p2, r2) = build(newRows, idCol, nShards)
    (primary.unionByName(p2), replica.unionByName(r2))
  }

  /** TAKEDOWN: every row of the ids named by `deadIds`' first column
    * leaves both copies (one anti-join per copy). Unknown ids are
    * no-ops. */
  def takedown(primary: DataFrame, replica: DataFrame, idCol: String,
      deadIds: DataFrame): (DataFrame, DataFrame) = {
    val dead = deadIds
      .select(col(deadIds.columns.head).cast("long").as(idCol))
      .distinct()
    // anti-joins move the key to the front — re-pin canonical order
    (primary.join(dead, Seq(idCol), "left_anti")
       .select(primary.columns.map(col): _*),
     replica.join(dead, Seq(idCol), "left_anti")
       .select(replica.columns.map(col): _*))
  }

  /** UPDATE: every row of the ids in `newRows` is replaced by
    * `newRows`' rows ([[takedown]] then [[append]]). Placement is a
    * pure function of the id, so an update never moves an id, and ids
    * not yet placed insert (the upsert half). */
  def update(primary: DataFrame, replica: DataFrame, newRows: DataFrame,
      idCol: String, nShards: Int): (DataFrame, DataFrame) = {
    val (p, r) = takedown(primary, replica, idCol,
      newRows.select(col(idCol)).distinct())
    append(p, r, newRows, idCol, nShards)
  }

  /** PERMANENT loss of the highest node S−1 (also a planned drain
    * S → S−1), rebuilt from SURVIVING copies only:
    *
    *   - PROMOTION: replica rows with origin = lost become primary rows
    *     of their node (when the lost node's vnodes vanish, an id's
    *     next owner on the walk is its old replica);
    *   - RE-REPLICATION: every id the lost node hosted (either copy)
    *     gets a fresh replica at the S−1 ring, its payload read from a
    *     surviving copy;
    *   - every other row keeps its key (a lost vnode ahead of a
    *     surviving placement would have been that placement).
    *
    * Scale: promotion and pass-through are filters; only the lost
    * node's hosted rows are re-placed. */
  def recoverLost(primary: DataFrame, replica: DataFrame, idCol: String,
      oldShards: Int): (DataFrame, DataFrame) = {
    require(oldShards >= 3,
      s"recovery needs >= 3 shards (>= 2 survive), got $oldShards")
    val lost = (oldShards - 1).toLong
    val payload = primary.columns.filterNot(_ == "shard").toSeq
    val keepPrim = primary.filter(col("shard") =!= lost)
    val keepRepl = replica.filter(col("node") =!= lost &&
      col("origin") =!= lost)
    val promoted = replica.filter(col("origin") === lost)
      .select(col("node").as("shard") +: payload.map(col): _*)
    val replicaLostIds = replica.filter(col("node") === lost &&
        col("origin") =!= lost)
      .select(col(idCol)).distinct()
    val hosted = promoted.select(payload.map(col): _*)
      .unionByName(primary.join(replicaLostIds, Seq(idCol))
        .select(payload.map(col): _*))
    val (_, reRepl) = copies(place(hosted, idCol, oldShards - 1), payload)
    (keepPrim.unionByName(promoted), keepRepl.unionByName(reRepl))
  }

  /** GROW S → S+1, index-only: both copies re-place from the primary
    * payload at the S+1 ring. Because placement is a pure function of
    * the id, this is [[build]] at S+1 — a moved primary lands on the
    * new shard with its old primary as replica, a moved replica lands
    * on the new shard, and every other row keeps its key (theorems of
    * the ring walk, pinned in ReplicatedRowsSpec). Scale: one
    * placement pass and no exchange. */
  def grow(primary: DataFrame, replica: DataFrame, idCol: String,
      oldShards: Int): (DataFrame, DataFrame) = {
    require(oldShards >= 2, s"grow needs >= 2 shards, got $oldShards")
    val payload = primary.columns.filterNot(_ == "shard").toSeq
    copies(place(primary.select(payload.map(col): _*), idCol,
      oldShards + 1), payload)
  }
}
