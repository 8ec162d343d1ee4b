package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.ReplicatedCodes
import graft.streaming.StreamingReplicatedRows.RrState

/** Streaming replicated SQ8 code store (StreamingSpec T43): q303's
  * two-copy code store maintained under a stream, so a node can die at
  * any instant and serving routes around it with the candidate set
  * unchanged. It is q286's SQ8 encode in front of
  * [[StreamingReplicatedRows]] over `(vec_id, am, qv)` rows: the
  * per-vector scale makes encoding stateless, so each micro-batch of raw
  * `(vec_id, embedding)` rows encodes in-stream with no frozen model,
  * and the exactly-once discipline, both copies' appends, compaction
  * and the mid-stream grow are the row placement's. Serving is
  * [[ReplicatedCodes]]' over the accumulated stores. */
object StreamingReplicatedCodes {

  def freeze(spark: SparkSession, nShards: Int): RrState = {
    import spark.implicits._
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    StreamingReplicatedRows.freeze(VectorOps.sq8Codes(none), "vec_id",
      nShards)
  }

  /** Apply one micro-batch of `(vec_id, embedding)` rows. */
  def applyBatch(state: RrState, delta: DataFrame): RrState =
    StreamingReplicatedRows.applyBatch(state, VectorOps.sq8Codes(delta
      .select(col(delta.columns.head).cast("long").as("vec_id"),
        col(delta.columns(1)).as("embedding"))
      .dropDuplicates("vec_id")))

  /** A node joins mid-stream; later batches place at the grown ring. */
  def grow(state: RrState): RrState = StreamingReplicatedRows.grow(state)

  private def store(state: RrState) =
    ReplicatedCodes.ReplicatedC(state.primary, state.replica, state.nShards)

  /** Stage-1 candidates off the PRIMARY copies. `queries` is the
    * broadcastable (q_id, q_am, q_qv) set. */
  def servePrimary(state: RrState, queries: DataFrame, k: Int): DataFrame =
    ReplicatedCodes.servePrimary(store(state), queries, k)

  /** Node `failed` is down right now: q303's routed selection over the
    * accumulated rows. */
  def serveFailover(state: RrState, failed: Long, queries: DataFrame,
      k: Int): DataFrame =
    ReplicatedCodes.serveFailover(store(state), failed, queries, k)
}
