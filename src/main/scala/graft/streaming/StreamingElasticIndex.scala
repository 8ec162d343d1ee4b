package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barriers._
import graft.operators.{Bm25, IndexReshard, PostingBlocks}

/** Streaming ELASTIC sharded index (SURVEY.md §2.9 T37): the q283
  * scatter-gather topology maintained under a stream, with q288's
  * consistent-hash reshard firing MID-STREAM when a node joins — the
  * full elastic-serving lifecycle (Elasticsearch shard allocation +
  * relocation while indexing continues) as one state machine:
  *
  *   - ingest: each micro-batch's docs assign to shards via the md5
  *     ring at the CURRENT shard count and mint one shard-keyed q258
  *     delta segment (T31's shape with the shard in the block key);
  *   - compaction: every [[CompactEvery]] batches the segment list
  *     folds to one (q264's merge keyed (shard, term, bucket));
  *   - grow: the reshard compacts, then runs q288's INDEX-ONLY
  *     surgery (movers' postings extract from the old shards' touched
  *     blocks and regroup on the new shard — raw text never re-read,
  *     which is the property that makes a mid-STREAM reshard possible
  *     at all: the stream retains no corpus, only the index), and
  *     every later batch assigns at the grown ring;
  *   - serving: T32's BM25 probe off the live segment list (shards
  *     dropped from the block key at probe time — segments and shards
  *     both partition docs, so metadata df stays exact).
  *
  * Laws (StreamingSpec T37): serving equals the from-scratch
  * single-segment probe over every delivered doc after EVERY wave;
  * the grow changes NO answer (scores use only global stats — the
  * q283 dfs_query_then_fetch argument, here as an invariance law);
  * after the final compaction the maintained store equals
  * [[graft.queries.Text.postingStore]] over the grown-ring assignment
  * of all delivered docs BYTE FOR BYTE (pre-grow arrivals moved by the
  * surgery, post-grow arrivals routed by the grown ring — one
  * canonical store either way); replays are no-ops (T26 discipline).
  *
  * Scale: per batch O(|delta|); the grow is q288's ~1/(S+1) surgery
  * paid once per topology change; serving cost = query-term blocks ×
  * live segments (bounded by CompactEvery). */
object StreamingElasticIndex {

  val CompactEvery = 4

  final case class EiState(segments: List[DataFrame], seenIds: DataFrame,
                           dl: DataFrame, nShards: Int, batches: Int = 0)

  def freeze(spark: org.apache.spark.sql.SparkSession,
      nShards: Int): EiState = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    def empty(fields: String*) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map(StructField(_, LongType))))
    EiState(Nil, empty("doc_id"), empty("doc_id", "dl"), nShards)
  }

  /** Apply one micro-batch of `(doc_id, text)` documents — assigned
    * to shards at the CURRENT ring. */
  def applyBatch(state: EiState, delta: DataFrame): EiState = {
    val s = delta.sparkSession
    import s.implicits._
    val fresh = delta
      .select(col(delta.columns.head).cast("long").as("doc_id"),
        col(delta.columns(1)).as("text"))
      .dropDuplicates("doc_id")
      .join(state.seenIds, Seq("doc_id"), "left_anti")
      .barrier()
    val nBatches = state.batches + 1
    val segs =
      if (fresh.isEmpty) state.segments
      else {
        val positioned = fresh.withColumn("p",
          IndexReshard.position($"doc_id"))
        val assigned = IndexReshard.assign(positioned, state.nShards, "shard")
          .select($"shard", $"doc_id", $"text")
        graft.queries.Text.postingStore(assigned, "shard").barrier() ::
          state.segments
      }
    val seenUnion = state.seenIds.unionByName(fresh.select($"doc_id"))
    val dlUnion = state.dl.unionByName(fresh.select($"doc_id", Bm25.dl))
    if (nBatches % CompactEvery == 0)
      EiState(
        if (segs.isEmpty) segs else List(StreamingPostings.compact(segs)),
        seenUnion.distinct().barrier(), dlUnion.barrier(),
        state.nShards, nBatches)
    else EiState(segs, seenUnion, dlUnion, state.nShards, nBatches)
  }

  /** A node joins: compact, run q288's index-only surgery, grow the
    * ring. Later batches assign at the grown ring. Explicit match on
    * the segment list (ADVICE r15): the old getOrElse(return ...) form
    * relied on NonLocalReturnControl exception control flow, which
    * breaks silently if the expression ever moves into a closure that
    * crosses a Spark boundary. */
  def grow(state: EiState): EiState = state.segments match {
    case Nil =>
      // nothing indexed yet: the ring just grows, no surgery to run
      state.copy(nShards = state.nShards + 1)
    case segs =>
      val (_, newStore) = IndexReshard.grow(PostingBlocks.merge(segs),
        state.dl.select(col("doc_id")), state.nShards)
      EiState(List(newStore.barrier()), state.seenIds, state.dl,
        state.nShards + 1, state.batches)
  }

  /** A node drains MID-STREAM (T38, r16): compact, run q295's
    * index-only shrink surgery (the drained shard's blocks re-key onto
    * their S−1-ring survivors; every survivor block that receives
    * nothing passes byte-untouched; raw text never re-read — the same
    * property that makes [[grow]] possible under a stream), shrink the
    * ring. Later batches assign at the shrunk ring. Symmetric to
    * [[grow]]; StreamingSpec's T38 member pins serving invariance
    * across the shrink and the final byte law at the shrunk ring. */
  def shrink(state: EiState): EiState = {
    require(state.nShards >= 2,
      s"streaming shrink needs >= 2 shards, got ${state.nShards}")
    state.segments match {
      case Nil =>
        // nothing indexed yet: the ring just shrinks, no surgery
        state.copy(nShards = state.nShards - 1)
      case segs =>
        val (_, newStore) = IndexReshard.shrink(PostingBlocks.merge(segs),
          state.dl.select(col("doc_id")), state.nShards)
        EiState(List(newStore.barrier()), state.seenIds, state.dl,
          state.nShards - 1, state.batches)
    }
  }

  /** T32's BM25 probe off the live elastic store: shards drop from
    * the block key at probe time (shards and segments both partition
    * docs, so Σ metadata df stays exact). */
  def serve(state: EiState, qTerms: Seq[String], k: Int): DataFrame =
    StreamingPostings.serve(
      StreamingPostings.PsState(
        state.segments.map(_.select(col("term"), col("bucket"), col("df"),
          col("bytes"))),
        state.seenIds, state.dl, state.batches),
      qTerms, k)
}
