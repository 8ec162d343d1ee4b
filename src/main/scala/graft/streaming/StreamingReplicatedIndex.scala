package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barriers._
import graft.operators.{Bm25, IndexReshard, PostingBlocks, ReplicatedIndex,
  ReplicatedRows}

/** Streaming REPLICATED index (SURVEY.md §2.9 T39, r16): q294's
  * two-copy topology maintained under a stream — every production
  * ingest writes primaries AND replicas per commit (Elasticsearch
  * indexes into both shard copies; Dynamo writes its preference list),
  * so a node can die at ANY instant and serving routes around it with
  * no answer changed. Per micro-batch:
  *
  *   - the T26 exactly-once discipline (dedup + anti-join against the
  *     accumulated seen-id set);
  *   - fresh docs place via [[ReplicatedIndex.assignPR]] (the Dynamo
  *     preference list on the md5 ring) and mint TWO delta segments —
  *     a primary q258 segment keyed (shard, term, bucket) and a
  *     replica segment keyed (node, origin, term, bucket) — T31's
  *     shape, both copies;
  *   - every [[CompactEvery]] batches both segment lists fold to one
  *     (q264's byte-exact merge on each store's key).
  *
  * Serving at any instant routes like q294: primary-only, or failover
  * of ANY node x (primaries of nodes ≠ x ∪ replica blocks with
  * origin = x, a corpus partition across the live segment lists —
  * segments hold disjoint docs by the T26 discipline, so metadata df
  * stays exact across segments AND copies). StreamingSpec T39 pins
  * failover-serve ≡ the from-scratch exhaustive ranking for EVERY
  * failed node after EVERY wave, replay no-ops, and the final
  * compacted stores ≡ [[ReplicatedIndex.build]] over every delivered
  * doc, BOTH copies BYTE FOR BYTE.
  *
  * Scale: per batch O(|delta|) twice (the 2× write amplification
  * replication always costs); compaction on the cadence bounds the
  * segment count and the plan; serving reads query-term blocks ×
  * live segments of the routed selection only. */
object StreamingReplicatedIndex {

  val CompactEvery = 4

  final case class RiState(primSegs: List[DataFrame],
      replSegs: List[DataFrame], seenIds: DataFrame, dl: DataFrame,
      tombstones: DataFrame, nShards: Int, batches: Int = 0)

  def freeze(spark: org.apache.spark.sql.SparkSession,
      nShards: Int): RiState = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    def empty(fields: String*) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map(StructField(_, LongType))))
    RiState(Nil, Nil, empty("doc_id"), empty("doc_id", "dl"),
      empty("doc_id"), nShards)
  }

  /** Apply one micro-batch of `(doc_id, text)` documents — BOTH copies'
    * delta segments minted per batch. Tombstoned ids (T41 takedowns,
    * arrived OR not-yet-arrived at takedown time) never index. */
  def applyBatch(state: RiState, delta: DataFrame): RiState = {
    val s = delta.sparkSession
    import s.implicits._
    val fresh = delta
      .select(col(delta.columns.head).cast("long").as("doc_id"),
        col(delta.columns(1)).as("text"))
      .dropDuplicates("doc_id")
      .join(state.seenIds, Seq("doc_id"), "left_anti")
      .join(state.tombstones, Seq("doc_id"), "left_anti")
      .barrier()
    val nBatches = state.batches + 1
    val (pSegs, rSegs) =
      if (fresh.isEmpty) (state.primSegs, state.replSegs)
      else {
        val positioned = fresh.withColumn("p",
          IndexReshard.position($"doc_id"))
        val a = ReplicatedIndex.assignPR(positioned, state.nShards)
        val pSeg = graft.queries.Text.postingStore(
          a.select($"primary".as("shard"), $"doc_id", $"text"), "shard")
          .barrier()
        val rSeg = graft.queries.Text.postingStore(
          a.select($"replica".as("node"), $"primary".as("origin"),
            $"doc_id", $"text"), "node", "origin").barrier()
        (pSeg :: state.primSegs, rSeg :: state.replSegs)
      }
    val seenUnion = state.seenIds.unionByName(fresh.select($"doc_id"))
    val dlUnion = state.dl.unionByName(fresh.select($"doc_id", Bm25.dl))
    if (nBatches % CompactEvery == 0)
      state.copy(
        primSegs =
          if (pSegs.isEmpty) pSegs else List(StreamingPostings.compact(pSegs)),
        replSegs =
          if (rSegs.isEmpty) rSegs else List(StreamingPostings.compact(rSegs)),
        seenIds = seenUnion.distinct().barrier(),
        dl = dlUnion.barrier(), batches = nBatches)
    else state.copy(primSegs = pSegs, replSegs = rSegs,
      seenIds = seenUnion, dl = dlUnion, batches = nBatches)
  }

  /** A node joins MID-STREAM (T40, r16): compact both copies, run
    * q302's index-only replicated grow (the old assignment recomputes
    * deterministically from the dl sidecar's ids at the current ring —
    * no assignment state is carried), grow the ring. Later batches
    * place at the grown ring. Serving — including failover of ANY
    * node — is invariant across the topology change (global-stats
    * argument); StreamingSpec T40 pins it plus the final byte law at
    * the grown ring. */
  def grow(state: RiState): RiState = state.primSegs match {
    case Nil =>
      state.copy(nShards = state.nShards + 1)
    case pSegs =>
      val prim = PostingBlocks.merge(pSegs)
      val repl = PostingBlocks.merge(state.replSegs)
      val s = prim.sparkSession
      import s.implicits._
      val ids = state.dl.select($"doc_id")
        .withColumn("p", IndexReshard.position($"doc_id"))
      val aOld = ReplicatedIndex.assignPR(ids, state.nShards)
        .select($"doc_id", $"primary", $"replica")
      val grown = ReplicatedIndex.grow(
        ReplicatedIndex.Replicated(aOld, prim, repl, state.dl,
          Bm25.stats(state.dl), state.nShards),
        state.nShards)
      state.copy(primSegs = List(grown.primaryStore.barrier()),
        replSegs = List(grown.replicaStore.barrier()),
        nShards = state.nShards + 1)
  }

  /** TAKEDOWN mid-stream (T41, r17): q304's two-copy block surgery run
    * across every LIVE segment of both lists, plus a tombstone so ids
    * named BEFORE they arrive never index — the right-to-be-forgotten
    * contract a stream must honor for documents still in flight.
    * Segments hold disjoint docs (the T26 discipline), so the per-
    * segment surgery composes: afterwards the live lists hold exactly
    * the delivered-minus-tombstoned corpus, and the final compacted
    * stores equal [[ReplicatedIndex.build]] over that corpus BYTE FOR
    * BYTE (StreamingSpec T41 pins it, plus failover-serve correctness
    * after the takedown and the never-index law for late arrivals).
    *
    * Tombstones persist FOREVER (they must — a tombstone dropped after
    * the surgery re-admits a replayed or late copy of the dead doc);
    * each takedown event re-barriers the union, so the plan stays
    * bounded by the (rare) takedown count, not the batch count.
    *
    * Scale: q304's posture per live segment — bucket-grouped dead
    * arrays, compact-key equi-joins, |touched blocks| re-encode; the
    * dl shrink is one anti-join on doc_id. */
  def takedown(state: RiState, deadIds: DataFrame): RiState = {
    val s = deadIds.sparkSession
    import s.implicits._
    val dead = deadIds
      .select(col(deadIds.columns.head).cast("long").as("doc_id"))
      .distinct().barrier()
    state.copy(
      primSegs = state.primSegs.map(PostingBlocks.drop(_, dead).barrier()),
      replSegs = state.replSegs.map(PostingBlocks.drop(_, dead).barrier()),
      dl = state.dl.join(dead, Seq("doc_id"), "left_anti").barrier(),
      tombstones =
        state.tombstones.unionByName(dead).distinct().barrier())
  }

  /** Apply an UPDATE batch of `(doc_id, text)` documents mid-stream
    * (T44, r18): q319's re-index verb under a live stream, against the
    * TWO-COPY state — an updated doc replaces its postings in BOTH
    * copies the moment the event lands, so a failover at ANY instant
    * serves the new version (q319's staleness argument, live). Every
    * live segment of both lists gets the id surgery, then the new text
    * mints BOTH delta segments at each doc's ring placement (placement
    * is a pure function of doc_id — existing docs re-derive their
    * unchanged homes, novel ids place fresh: the upsert half).
    * Tombstoned ids are REJECTED before the surgery (the T41
    * tombstones-forever discipline beats the `index` verb — the
    * StreamingPostings ADVICE fix, same device); updated ids enter the
    * seen set so a LATER stream arrival of an upserted doc cannot
    * double-index. Off-cadence segments compact when the list
    * overflows (T31's bound).
    *
    * Laws (StreamingSpec T44): after any interleaving of inserts,
    * updates and a takedown, primary serve AND every failover serve ≡
    * the batch build over latest-live versions; final compacted stores
    * ≡ [[ReplicatedIndex.build]] over that corpus BYTE FOR BYTE;
    * identical re-sends idempotent; tombstoned updates are no-ops.
    *
    * Scale: per update O(|updated| grouping + touched blocks
    * re-encode) × live segments (cadence-bounded) × 2 copies + one
    * |updated|-sized two-copy delta encode; never corpus-shaped. */
  def applyUpdate(state: RiState, updated: DataFrame): RiState = {
    val s = updated.sparkSession
    import s.implicits._
    val up = updated
      .select(col(updated.columns.head).cast("long").as("doc_id"),
        col(updated.columns(1)).as("text"))
      .dropDuplicates("doc_id")
      .join(state.tombstones, Seq("doc_id"), "left_anti")
      .barrier()
    val ids = up.select($"doc_id")
    val cutP = state.primSegs.map(PostingBlocks.drop(_, ids).barrier())
    val cutR = state.replSegs.map(PostingBlocks.drop(_, ids).barrier())
    val positioned = up.withColumn("p", IndexReshard.position($"doc_id"))
    val a = ReplicatedIndex.assignPR(positioned, state.nShards)
    val pGrown = graft.queries.Text.postingStore(
      a.select($"primary".as("shard"), $"doc_id", $"text"), "shard")
      .barrier() :: cutP
    val rGrown = graft.queries.Text.postingStore(
      a.select($"replica".as("node"), $"primary".as("origin"),
        $"doc_id", $"text"), "node", "origin").barrier() :: cutR
    state.copy(
      primSegs =
        if (pGrown.lengthCompare(CompactEvery) > 0)
          List(StreamingPostings.compact(pGrown))
        else pGrown,
      replSegs =
        if (rGrown.lengthCompare(CompactEvery) > 0)
          List(StreamingPostings.compact(rGrown))
        else rGrown,
      seenIds = state.seenIds.unionByName(ids).distinct().barrier(),
      dl = state.dl.join(ids, Seq("doc_id"), "left_anti")
        .unionByName(up.select($"doc_id", Bm25.dl))
        .barrier())
  }

  /** Serve off the PRIMARY copies of the live segment lists. */
  def servePrimary(state: RiState, qTerms: Seq[String], k: Int): DataFrame = {
    require(state.primSegs.nonEmpty, "nothing indexed yet")
    val sel = state.primSegs
      .map(_.select(col("shard").as("node"), col("term"), col("bucket"),
        col("df"), col("bytes")))
      .reduce(_ unionByName _)
    ReplicatedIndex.serveBlocks(sel, state.dl,
      Bm25.stats(state.dl), qTerms, k)
  }

  /** Node `failed` is down RIGHT NOW: q294's failover selection taken
    * across the live segment lists. */
  def serveFailover(state: RiState, failed: Long, qTerms: Seq[String],
      k: Int): DataFrame = {
    require(state.primSegs.nonEmpty, "nothing indexed yet")
    val sel = ReplicatedRows.failoverServing(
      state.primSegs.reduce(_ unionByName _),
      state.replSegs.reduce(_ unionByName _), failed)
    ReplicatedIndex.serveBlocks(sel, state.dl,
      Bm25.stats(state.dl), qTerms, k)
  }
}
