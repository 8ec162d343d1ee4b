package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barriers._
import graft.operators.ReplicatedRows

/** Streaming REPLICATED ROW placement (SURVEY.md §2.9 T45, r18): the
  * generic atomic-row tier — the placement under the graph ANN's three
  * row stores (q318/q320) and the replicated IVF-PQ rows (q322/q323) —
  * maintained under a stream. T39 streams the text topology's BLOCK
  * stores; this member is payload-AGNOSTIC: any (id, payload…) rows
  * place on the vec ring with both copies per micro-batch, so every
  * row store built on [[ReplicatedRows]] inherits a streaming ingest
  * ([[StreamingReplicatedCodes]], T43, is this with an SQ8 encode in
  * front). Per batch:
  *
  *   - the T26 exactly-once discipline at the ID grain: a replayed
  *     id's rows ALL drop (ids are the placement key; one id's payload
  *     rows — a vertex's edges, a vector's codes — arrive together in
  *     its batch, the graph-append shape);
  *   - fresh rows place via [[ReplicatedRows.append]] (the Dynamo
  *     preference list at the CURRENT ring), both copies appending —
  *     rows are atomic, so there are no segments and no merge, just
  *     unions re-barriered on the compaction cadence;
  *   - tombstoned ids are rejected on arrival AND at takedown time
  *     (tombstones-forever, the T41/T44 discipline).
  *
  * Serving at any instant routes like q318: [[failover]] of ANY node
  * returns the exact delivered row multiset (the partition law, per
  * wave), so every pure-function-of-the-row-set read — a beam search,
  * an ADC scan — is answer-invariant mid-stream. [[grow]] runs the
  * q321 move classes on the accumulated rows mid-stream (the
  * assignment recomputes deterministically from the stored keys — no
  * assignment state carried); [[takedown]] anti-joins both copies and
  * tombstones the ids forever. StreamingSpec T45 pins the per-wave
  * partition law for EVERY node across an ingest/grow/takedown
  * interleaving, replay and late-copy no-ops, and the final stores ≡
  * the batch [[ReplicatedRows.build]] over delivered-minus-tombstoned
  * rows as SETS at the final ring.
  *
  * Scale: per batch O(|delta| · 2) — the write amplification
  * replication always costs — plus one broadcast ring join over the
  * delta's rows; compaction keeps the union plans bounded; grow is
  * index-only (one ring join of the primary rows), takedown two
  * anti-joins. */
object StreamingReplicatedRows {

  /** Compaction cadence — the union-plan bound. */
  val CompactEvery = 4

  final case class RrState(primary: DataFrame, replica: DataFrame,
      seenIds: DataFrame, tombstones: DataFrame, idCol: String,
      nShards: Int, batches: Int = 0)

  /** Freeze from a TEMPLATE rows frame (supplies the payload schema —
    * the state itself starts empty). */
  def freeze(template: DataFrame, idCol: String, nShards: Int): RrState = {
    val none = template.limit(0)
    val (p, r) = ReplicatedRows.build(none, idCol, nShards)
    RrState(p, r, none.select(col(idCol)), none.select(col(idCol)),
      idCol, nShards)
  }

  /** Apply one micro-batch of (id, payload…) rows. */
  def applyBatch(state: RrState, delta: DataFrame): RrState = {
    val id = state.idCol
    // T26 discipline at the ID grain: never-seen, never-tombstoned ids
    // only — a replayed or reaped id's rows ALL drop
    val fresh = delta
      .join(state.seenIds, Seq(id), "left_anti")
      .join(state.tombstones, Seq(id), "left_anti")
      .select(delta.columns.map(col): _*)
      .barrier()
    val nBatches = state.batches + 1
    val (p, r) = ReplicatedRows.append(state.primary, state.replica,
      fresh, id, state.nShards)
    val seenUnion = state.seenIds.unionByName(fresh.select(col(id)).distinct())
    if (nBatches % CompactEvery == 0)
      state.copy(primary = p.barrier(), replica = r.barrier(),
        seenIds = seenUnion.distinct().barrier(), batches = nBatches)
    else state.copy(primary = p, replica = r, seenIds = seenUnion,
      batches = nBatches)
  }

  /** The delivered row multiset with node `failed` down RIGHT NOW. */
  def failover(state: RrState, failed: Long): DataFrame =
    ReplicatedRows.failover(state.primary, state.replica, failed)

  /** A node joins MID-STREAM: the q321 move classes on the accumulated
    * rows; later batches place at the grown ring. */
  def grow(state: RrState): RrState = {
    val (p, r) = ReplicatedRows.grow(state.primary, state.replica,
      state.idCol, state.nShards)
    state.copy(primary = p.barrier(), replica = r.barrier(),
      nShards = state.nShards + 1)
  }

  /** TAKEDOWN mid-stream: both copies anti-join, the ids tombstone
    * FOREVER (a row taken down before its arrival never places; a
    * replay of a reaped id stays a no-op). */
  def takedown(state: RrState, deadIds: DataFrame): RrState = {
    val id = state.idCol
    val dead = deadIds
      .select(col(deadIds.columns.head).cast("long").as(id))
      .distinct().barrier()
    val (p, r) = ReplicatedRows.takedown(state.primary, state.replica,
      id, dead)
    state.copy(primary = p.barrier(), replica = r.barrier(),
      seenIds = state.seenIds.unionByName(dead).distinct().barrier(),
      tombstones =
        state.tombstones.unionByName(dead).distinct().barrier())
  }
}
