package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Barriers._
import graft.operators.{Bm25, PostingBlocks}

/** Streaming POSTINGS maintenance (SURVEY.md §2.9 T31): the inverted
  * index's streaming member — each micro-batch of NEW documents builds
  * a small compressed DELTA segment ([[graft.queries.Text.postingStore]],
  * q258's layout), probes read the segment LIST, and every
  * [[CompactEvery]] batches the segments fold into one with
  * [[PostingBlocks.merge]] — Lucene's ingest shape (per-commit segments
  * + background merges), and the posting-store member of the
  * T21/T23/T26 append-then-compact family.
  *
  * Exactly-once under at-least-once delivery: a replayed document
  * would violate q264's overlap law (the same doc id in two segments
  * double-counts a posting), so the batch dedups against the
  * accumulated seen-id set FIRST (anti-join, the T26 discipline; the
  * seen set is compacted on the same cadence so its plan stays
  * bounded). A replay therefore contributes an EMPTY delta — a
  * structural no-op, no segment minted.
  *
  * Laws (spec-pinned, StreamingSpec T31): segment count never exceeds
  * CompactEvery; after a forced final compaction the single segment
  * equals the BATCH [[graft.queries.Text.postingStore]] over every
  * document ever delivered, BYTE FOR BYTE (q264's merged ≡ rebuilt law
  * chained across the whole stream); replays are no-ops.
  *
  * Scale: per batch O(|delta| explode + delta-sized block encode);
  * the compaction is q264's one compact-key shuffle over the bounded
  * segment list, paid every CompactEvery batches, never per batch.
  */
object StreamingPostings {

  /** Compaction cadence — also the segment-list bound. */
  val CompactEvery = 4

  /** `dl` is the doc-stats sidecar (doc_id, dl) every ranking probe
    * needs (q265's dl/adl store), maintained in-stream next to the
    * segments — appended from fresh rows only (disjoint by the seen
    * discipline, so no dedup pass), re-barriered on the compaction
    * cadence so its plan stays bounded (T32, r15). `tombstones` is the
    * taken-down id set (ADVICE r17): kept SEPARATE from `seenIds`
    * (which also holds live docs) so [[applyUpdate]] can enforce the
    * right-to-be-forgotten invariant structurally — an update of a
    * reaped id must NOT resurrect it, and before r18 that discipline
    * was the caller's job. None ⇔ no takedown ever ran (states built
    * by hand for batch-equivalence replays stay source-compatible). */
  final case class PsState(segments: List[DataFrame], seenIds: DataFrame,
                           dl: DataFrame, batches: Int = 0,
                           tombstones: Option[DataFrame] = None)

  def freeze(spark: org.apache.spark.sql.SparkSession): PsState = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    def empty(fields: String*) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map(StructField(_, LongType))))
    PsState(Nil, empty("doc_id"), empty("doc_id", "dl"))
  }

  /** Apply one micro-batch of `(doc_id, text)` documents. */
  def applyBatch(state: PsState, delta: DataFrame): PsState = {
    // T26 discipline: only never-seen docs mint postings
    val fresh = delta
      .select(col(delta.columns.head).cast("long").as("doc_id"),
        col(delta.columns(1)).as("text"))
      .dropDuplicates("doc_id")
      .join(state.seenIds, Seq("doc_id"), "left_anti")
      .barrier()
    val nBatches = state.batches + 1
    val segs =
      if (fresh.isEmpty) state.segments
      else graft.queries.Text.postingStore(fresh).barrier() ::
        state.segments
    val seenUnion = state.seenIds.unionByName(fresh.select(col("doc_id")))
    val seen =
      if (nBatches % CompactEvery == 0) seenUnion.distinct().barrier()
      else seenUnion
    val dlUnion = state.dl.unionByName(fresh.select(col("doc_id"), Bm25.dl))
    val dl =
      if (nBatches % CompactEvery == 0) dlUnion.barrier()
      else dlUnion
    val compacted =
      if (segs.nonEmpty && nBatches % CompactEvery == 0) List(compact(segs))
      else segs
    PsState(compacted, seen, dl, nBatches, state.tombstones)
  }

  /** Serve a ranked BM25 probe from the LIVE segment list (T32, r15):
    * the streaming twin of q265's serving stack — tf decodes from each
    * segment's query-term blocks (q259's strict read path), df = Σ
    * per-block df across ALL segments (segments hold disjoint doc ids
    * — q264's overlap law — and buckets partition docs within one, so
    * metadata alone is still exact df), dl/adl from the maintained
    * sidecar, scored by [[graft.operators.Bm25]]. Raw text is never
    * touched at probe time. Returns (doc_id, score_ppm) top-k; empty
    * index ⇒ empty frame.
    *
    * Scale: probe cost = query-term blocks × live segments (bounded by
    * CompactEvery) + the one doc_id equi-join against the 2-column dl
    * store; corpus stats and df broadcast. Serving is identical before
    * and after a compaction (merged ≡ rebuilt is byte-exact), which
    * the T32 spec pins probe for probe. */
  def serve(state: PsState, qTerms: Seq[String], k: Int): DataFrame = {
    val spark = state.seenIds.sparkSession
    import spark.implicits._
    val blocks = state.segments
      .map(_.filter($"term".isin(qTerms: _*)))
      .reduceOption(_ unionByName _)
      .getOrElse(return state.dl.limit(0)
        .select($"doc_id", $"dl".as("score_ppm")))
    val dfreq = blocks.groupBy($"term")
      .agg(sum($"df").cast("long").as("df"))
    Bm25.score(Bm25.decode("streaming serve")(blocks), state.dl, dfreq,
        Bm25.stats(state.dl))
      .orderBy($"score_ppm".desc, $"doc_id")
      .limit(k)
  }

  /** Apply a TAKEDOWN batch of doc ids mid-stream (T34, r15): the
    * delete member of the streaming postings family. Each live
    * segment gets q274's block-local surgery (only the dead buckets'
    * blocks decode + re-encode; emptied segments drop from the list);
    * the doc-stats sidecar anti-joins the dead ids (BM25's adl must
    * reflect survivors); and the dead ids enter the SEEN set as
    * tombstones-forever — a document taken down before its arrival
    * never indexes, and a replay of a reaped doc stays a structural
    * no-op, with no cross-generation dedup state beyond the seen set
    * the T26 discipline already keeps.
    *
    * Laws (StreamingSpec T34): after every doc/takedown batch, the
    * streamed serve equals the batch serve over delivered-minus-
    * taken-down; the final compacted store equals the BATCH build
    * over the survivors BYTE FOR BYTE; late-arriving dead docs and
    * replays of reaped docs are both no-ops.
    *
    * Scale: per takedown O(|dead| grouping + touched blocks re-encode)
    * per segment — segment count is bounded by the compaction cadence,
    * so the surgery never scans the corpus. */
  def applyTakedown(state: PsState, dead: DataFrame): PsState = {
    val ids = dead
      .select(col(dead.columns.head).cast("long").as("doc_id"))
      .distinct()
      .barrier()
    val segs = state.segments
      .map(PostingBlocks.drop(_, ids).barrier())
      .filter(!_.isEmpty)
    val seen = state.seenIds.unionByName(ids).distinct().barrier()
    val dl = state.dl.join(ids, Seq("doc_id"), "left_anti").barrier()
    val tombs = state.tombstones
      .fold(ids)(_.unionByName(ids).distinct().barrier())
    PsState(segs, seen, dl, state.batches, Some(tombs))
  }

  /** Apply an UPDATE batch of `(doc_id, text)` documents mid-stream
    * (T42, r17): q305's re-index verb under a live stream — an updated
    * doc REPLACES its postings the moment the event lands. Each live
    * segment gets q274's surgery for the updated ids (old versions
    * drop; emptied segments leave the list), then the NEW text mints a
    * fresh delta segment — disjointness across the list is restored
    * before the delta joins it, so q264's overlap law keeps holding
    * and compaction stays byte-exact. Ids never seen before insert
    * cleanly (the upsert half: surgery no-op, delta ingest); the dl
    * sidecar swaps old rows for new. NOTE the deliberate contrast with
    * [[applyTakedown]]: takedown ids become tombstones-forever, while
    * an update is a LIVE write — and the tombstone set now rides in
    * [[PsState]] (ADVICE r17), so an update of a reaped id is REJECTED
    * here (anti-join before the surgery) instead of each caller
    * carrying its own filter: the compliance invariant is enforced in
    * one place, and a right-to-be-forgotten doc can never be
    * resurrected by a late `index` verb.
    *
    * Laws (StreamingSpec T42): after any interleaving of inserts and
    * updates, serve ≡ the batch serve over the LATEST version of every
    * delivered doc; the final compacted store ≡ the batch
    * [[graft.queries.Text.postingStore]] over that latest-version
    * corpus BYTE FOR BYTE; re-sending an identical update is
    * idempotent; an update of a tombstoned id is a structural no-op.
    *
    * Scale: per update O(|updated| grouping + touched blocks re-encode)
    * per live segment (bounded by the compaction cadence) + one
    * |updated|-sized delta encode; never corpus-shaped. */
  def applyUpdate(state: PsState, updated: DataFrame): PsState = {
    val s = updated.sparkSession
    import s.implicits._
    val up0 = updated
      .select(col(updated.columns.head).cast("long").as("doc_id"),
        col(updated.columns(1)).as("text"))
      .dropDuplicates("doc_id")
    // tombstones-forever beat the index verb: reaped ids never re-index
    val up = state.tombstones
      .fold(up0)(tb => up0.join(tb, Seq("doc_id"), "left_anti"))
      .barrier()
    val ids = up.select($"doc_id")
    val cutSegs = state.segments
      .map(PostingBlocks.drop(_, ids).barrier())
      .filter(!_.isEmpty)
    val grown = graft.queries.Text.postingStore(up).barrier() :: cutSegs
    // updates mint segments OFF the batch cadence — keep the T31
    // segment-count bound by compacting when the list overflows
    val segs =
      if (grown.lengthCompare(CompactEvery) > 0) List(compact(grown))
      else grown
    val seen = state.seenIds.unionByName(ids).distinct().barrier()
    val dl = state.dl.join(ids, Seq("doc_id"), "left_anti")
      .unionByName(up.select($"doc_id", Bm25.dl))
      .barrier()
    PsState(segs, seen, dl, state.batches, state.tombstones)
  }

  /** Fold the whole segment list into one (the background merge; also
    * the spec's forced final compaction). A lone segment is returned as
    * is, never re-barriered. */
  def compact(segments: List[DataFrame]): DataFrame = segments match {
    case one :: Nil => one
    case _ => PostingBlocks.merge(segments).barrier()
  }
}
