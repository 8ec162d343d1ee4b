package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barriers._

/** Streaming SQ8 index (SURVEY.md §2.9 T36): q286's quantized serving
  * tier maintained under a stream — embedding shards arriving
  * continuously quantize to int8 codes and append to the served code
  * store, and probes run against whatever codes are live at that
  * instant.
  *
  * This is the EASY member of the frozen-model family, and the row
  * documents why: q286's scales are PER-VECTOR (amax of the vector
  * itself), so quantization is stateless per row — there is NO frozen
  * corpus-level model to go stale, no delta-delta caveat, no re-freeze
  * reconciliation. Maintained ≡ rebuilt holds EXACTLY (the T27 class,
  * not the T14 class), and the spec pins it after every wave. The
  * contrast row is a per-DIM min/max scale (faiss SQ trained on the
  * corpus): that WOULD be a frozen model with the full T20 caveat set —
  * the per-vector scale is what buys the caveat-free stream.
  *
  * Exactly-once: the T26 anti-join discipline (replays contribute an
  * empty delta); takedown = anti-join + tombstones-forever (T35's
  * shape — codes are derived data of the reaped vector).
  *
  * Scale: per batch O(|delta|) quantize (one fold per vector, no
  * shuffle of the corpus); the store accretes by union with the
  * compaction-cadence re-barrier (bounded plan, the r9 rule); serving
  * is q286's stage-1 posture — broadcast query codes, stream the live
  * code store once. */
object StreamingSq {

  val CompactEvery = 4

  final case class SqState(codes: DataFrame, seenIds: DataFrame,
                           batches: Int = 0)

  def freeze(spark: org.apache.spark.sql.SparkSession): SqState = {
    import org.apache.spark.sql.types._
    val empty = (s: StructType) => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    SqState(
      empty(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("am", LongType),
        StructField("qv", ArrayType(ByteType))))),
      empty(StructType(Seq(StructField("vec_id", LongType)))))
  }

  /** Apply one micro-batch of `(vec_id, embedding)` rows. */
  def applyBatch(state: SqState, delta: DataFrame): SqState = {
    val fresh = delta
      .select(col(delta.columns.head).cast("long").as("vec_id"),
        col(delta.columns(1)).as("embedding"))
      .dropDuplicates("vec_id")
      .join(state.seenIds, Seq("vec_id"), "left_anti")
      .barrier()
    val nBatches = state.batches + 1
    val codes0 = state.codes.unionByName(
      graft.functions.VectorOps.sq8Codes(fresh))
    val seen0 = state.seenIds.unionByName(fresh.select(col("vec_id")))
    val (codes, seen) =
      if (nBatches % CompactEvery == 0)
        (codes0.barrier(), seen0.distinct().barrier())
      else (codes0, seen0)
    SqState(codes, seen, nBatches)
  }

  /** Takedown mid-stream: reaped vectors leave the code store; dead
    * ids tombstone forever (a replay of a reaped vector is a no-op). */
  def applyTakedown(state: SqState, dead: DataFrame): SqState = {
    val ids = dead
      .select(col(dead.columns.head).cast("long").as("vec_id"))
      .distinct()
      .barrier()
    SqState(
      state.codes.join(ids, Seq("vec_id"), "left_anti").barrier(),
      state.seenIds.unionByName(ids).distinct().barrier(),
      state.batches)
  }

  /** q286's stage-1 probe off the LIVE code store: all-BIGINT scaled-
    * code distance, exact min-struct top-1 per query. Queries carry
    * their own (q_am, q_qv) codes. */
  def serve(state: SqState, queries: DataFrame): DataFrame =
    state.codes
      .crossJoin(broadcast(queries.select(col("q_id"), col("q_am"),
        col("q_qv"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", expr(
        """aggregate(zip_with(q_qv, qv,
             (x, y) -> (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am) *
                       (CAST(x AS BIGINT) * q_am - CAST(y AS BIGINT) * am)),
           CAST(0 AS BIGINT), (acc, v) -> acc + v)"""))
      .groupBy(col("q_id"))
      .agg(min(struct(col("adist"), col("vec_id"))).as("m"))
      .select(col("q_id"), col("m.vec_id").as("nn_id"),
        col("m.adist").as("nn_d"))
}
