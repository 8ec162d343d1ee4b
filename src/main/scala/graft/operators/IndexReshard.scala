package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Consistent-hash index reshard (SURVEY.md §2.11a X115b, q288):
  * the storage-growth operation a 100 TB sharded index (q283's
  * topology) actually runs. q162 AUDITS the movement matrix; this
  * operator DOES the move on the index's storage layer: add one shard
  * to the md5 ring (16 vnodes, q162's exact hash so the two rows
  * share one geometry), and rebuild ONLY what the ring says moved —
  * never the corpus, never the unmoved blocks.
  *
  * The reshard is INDEX-ONLY: the movers' postings are extracted from
  * the old shards' touched blocks during the delete pass and re-grouped
  * into the new shard's blocks — raw documents are never re-read (at
  * 100 TB the corpus may not even be mounted on the serving tier; the
  * index must be self-sufficient, and with doc-aligned buckets plus
  * canonical gap coding the regrouped movers are byte-identical to a
  * from-scratch build over them).
  *
  * The consistent-hashing guarantee does the heavy lifting: adding a
  * shard's vnodes can only REDIRECT a doc to the NEW shard (its
  * clockwise-next vnode either stays or becomes one of the new
  * vnodes — wrap-around included, since a changed wrap target is
  * itself a new vnode), so the surgery is block-local:
  *
  *   - old shards: the movers drop from their old shard's blocks
  *     ([[PostingBlocks.drop]] scoped by shard — q274's surgery with
  *     the shard in the block key);
  *   - new shard: the movers' postings decode from those same touched
  *     blocks and regroup by (term, bucket) ([[PostingBlocks.encode]])
  *     — bucket keys ride along unchanged (they are shard-independent).
  *
  * Gap coding has no layout freedom, so maintained ≡ a from-scratch
  * S+1-ring build BYTE FOR BYTE — q288's oracle replays exactly that
  * build (ring assignment + q258 expansion; the surgery never enters
  * it), and IndexReshardSpec pins the only-to-new-shard law, the
  * byte law at two ring sizes, and the ~1/(S+1) movement bound.
  *
  * Scale: the ring is S·16 rows, broadcast; assignment is one
  * as-of-shaped join per doc id (q162's device) over the ID LIST, not
  * the corpus; the reshard touches |moved docs' buckets| blocks on
  * the old shards plus a movers-sized regroup — ~1/(S+1) of the
  * index, the whole point of the ring (a modulo reshard re-keys ~all
  * docs and would rebuild every block, q162's measured contrast). */
object IndexReshard {

  final case class Reshard(
      assignments: DataFrame, // (doc_id, shard_old, shard_new)
      oldStore: DataFrame,    // (shard, term, bucket, df, bytes) at S
      newStore: DataFrame)    // (shard, term, bucket, df, bytes) at S+1

  /** q162's md5 ring: 16 vnodes per shard, positions in [0, 2⁶⁰).
    * Shard ids are LongType so every frame downstream of an assignment
    * carries shard as Long — the store frames always did, and a mixed
    * Int/Long surface was a getInt-vs-getLong ClassCastException trap
    * for callers (ADVICE r15). */
  private[graft] def ring(spark: org.apache.spark.sql.SparkSession,
      shards: Int): DataFrame = {
    import spark.implicits._
    (0 until shards).flatMap(sh => (0 until 16).map(v => (sh, sh + ":" + v)))
      .toDF("shard", "sv")
      .select($"shard".cast(LongType).as("shard"),
        conv(substring(md5(concat(lit("shard"), $"sv")), 1, 15), 16, 10)
          .cast(LongType).as("pos"))
  }

  /** The doc's ring position (q162's hash, verbatim). */
  private[graft] def position(docId: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("doc"), docId.cast(StringType))),
      1, 15), 16, 10).cast(LongType)

  /** Clockwise-next-vnode assignment (q162's as-of-shaped device):
    * smallest vnode pos ≥ the doc's pos, wrapping to the ring's
    * global minimum. Input needs a `p` position column.
    *
    * Scale note (r16 verdict): the `pos >= p` join fans each doc to
    * ~S·16 candidate vnode rows before the min-struct — always over
    * the ID LIST, never the corpus, fine at tested shard counts. At
    * hundreds of shards, replace with a broadcast SORTED positions
    * array + one binary-search expression per doc (O(log S)); the
    * walk semantics are identical. */
  private[graft] def assign(docs: DataFrame, shards: Int,
      outCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val r = ring(s, shards)
    val wrap = r.orderBy($"pos".asc, $"shard".asc).limit(1)
      .select($"shard".as("wrap_shard"))
    val best = docs.select($"doc_id", $"p").join(broadcast(r), $"pos" >= $"p")
      .groupBy($"doc_id")
      .agg(min(struct($"pos", $"shard")).as("m"))
      .select($"doc_id", $"m.shard".as(outCol))
    docs.join(best, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(wrap))
      .withColumn(outCol, coalesce(col(outCol), $"wrap_shard"))
      .drop("wrap_shard")
  }

  /** Grow an existing ring-sharded q258 store from `oldShards` to
    * `oldShards + 1` shards, INDEX-ONLY: `docIds` is the 1-column id
    * list of every indexed doc (the dl sidecar every serving index
    * keeps); texts are never read. Returns (assignments, newStore). */
  def grow(store: DataFrame, docIds: DataFrame,
      oldShards: Int): (DataFrame, DataFrame) = {
    val s = store.sparkSession
    import s.implicits._
    val positioned = docIds
      .select(col(docIds.columns.head).cast("long").as("doc_id"))
      // the id list is usually the dl sidecar (unique by construction),
      // but a duplicated id would duplicate assignment rows and inflate
      // the dead lists / movement stats (ADVICE r15) — dedup defensively
      .dropDuplicates("doc_id")
      .withColumn("p", position($"doc_id"))
    val a = assign(assign(positioned, oldShards, "shard_old"),
      oldShards + 1, "shard_new")
      .select($"doc_id", $"shard_old", $"shard_new")
    val moved = a.filter($"shard_old" =!= $"shard_new")
      .select($"shard_old".as("shard"), $"doc_id")
    // the movers' postings extract FROM THE INDEX and regroup into the
    // new shard's blocks (bucket keys are shard-independent)
    val added = PostingBlocks.decode(store, moved)
      .select(lit(oldShards.toLong).as("shard"), $"term", $"bucket",
        $"doc_id", $"tf", $"first_pos")
    (a, PostingBlocks.drop(store, moved)
      .unionByName(PostingBlocks.encode(added)))
  }

  /** q288's end-to-end shape: build the S-ring store from documents,
    * then grow it to S+1 — the grow itself never reads the texts. */
  def reshard(docs: DataFrame, oldShards: Int): Reshard = {
    val s = docs.sparkSession
    import s.implicits._
    val positioned = docs.select($"doc_id", $"text",
      position($"doc_id").as("p"))
    val a0 = assign(positioned, oldShards, "shard_old")
    val oldStore = graft.queries.Text.postingStore(
      a0.select($"shard_old".as("shard"), $"doc_id", $"text"), "shard")
    val (a, newStore) = grow(oldStore, docs.select($"doc_id"), oldShards)
    Reshard(a, oldStore, newStore)
  }

  /** SHRINK an existing ring-sharded q258 store from `oldShards` to
    * `oldShards − 1` shards (X115d, q295) — the node-DRAIN half of the
    * elastic lifecycle [[grow]] opened (decommissioning a serving
    * node; Elasticsearch shard relocation on node removal). INDEX-ONLY
    * like grow: `docIds` is the 1-column id list (the dl sidecar);
    * raw texts are never read.
    *
    * The consistent-hashing argument runs symmetrically and the
    * surgery is even simpler than grow's: shard ids fix vnode
    * positions, so ring(S−1) IS ring(S) minus the drained shard's 16
    * vnodes — removing vnodes can only redirect docs whose clockwise-
    * next vnode WAS a drained one, i.e. exactly the drained shard's
    * docs (every survivor's assignment is untouched: its owning vnode
    * is still there, still first). The drained shard is always the
    * HIGHEST id (oldShards − 1), mirroring grow's always-add-highest,
    * so grow∘shrink round-trips the ring. Hence:
    *
    *   - every drained-shard block is ALL movers: decode it (strict),
    *     re-key each posting by the doc's S−1-ring owner (a join
    *     against the assignment frame, sized |drained postings| —
    *     ~1/S of the index, never the corpus);
    *   - the re-keyed movers encode and [[PostingBlocks.merge]] folds
    *     them into the survivors: blocks that RECEIVE movers decode,
    *     interleave and re-encode, the rest pass through byte-UNTOUCHED
    *     (never decoded).
    *
    * Laws (IndexReshardSpec): maintained ≡ from-scratch S−1-ring build
    * BYTE FOR BYTE (q288's law mirrored; q295's oracle replays that
    * build); only-from-drained movement (shard_old ≠ shard_new ⟺
    * shard_old = drained); survivors' assignments unchanged.
    *
    * Scale: assignment is the ring device over the ID LIST; surgery
    * touches the drained shard's blocks (~1/S) plus the receiving
    * blocks' decode-merge — block-local, corpus-independent per key. */
  def shrink(store: DataFrame, docIds: DataFrame,
      oldShards: Int): (DataFrame, DataFrame) = {
    require(oldShards >= 2, s"shrink needs >= 2 shards, got $oldShards")
    val s = store.sparkSession
    import s.implicits._
    val drained = (oldShards - 1).toLong
    val positioned = docIds
      .select(col(docIds.columns.head).cast("long").as("doc_id"))
      .dropDuplicates("doc_id")
      .withColumn("p", position($"doc_id"))
    val a = assign(assign(positioned, oldShards, "shard_old"),
      oldShards - 1, "shard_new")
      .select($"doc_id", $"shard_old", $"shard_new")
    // movers = the drained shard's docs, and ONLY them (the law the
    // spec pins); their targets come from the S−1-ring assignment
    val targets = a.filter($"shard_old" === drained)
      .select($"doc_id", $"shard_new")
    // every drained block decodes; postings re-key by target and
    // merge into the survivors (receiving blocks decode, interleave and
    // re-encode; the rest pass through byte-untouched)
    val movers = PostingBlocks.decode(store.filter($"shard" === drained))
      .join(targets, "doc_id")
      .select($"shard_new".as("shard"), $"term", $"bucket",
        $"doc_id", $"tf", $"first_pos")
    (a, PostingBlocks.merge(Seq(store.filter($"shard" =!= drained),
      PostingBlocks.encode(movers))))
  }

  /** q295's end-to-end shape: build the S-ring store from documents,
    * then drain shard S−1 down to an S−1-ring store — the shrink
    * itself never reads the texts. */
  def shrinkReshard(docs: DataFrame, oldShards: Int): Reshard = {
    val s = docs.sparkSession
    import s.implicits._
    val positioned = docs.select($"doc_id", $"text",
      position($"doc_id").as("p"))
    val a0 = assign(positioned, oldShards, "shard_old")
    val oldStore = graft.queries.Text.postingStore(
      a0.select($"shard_old".as("shard"), $"doc_id", $"text"), "shard")
    val (a, newStore) = shrink(oldStore, docs.select($"doc_id"), oldShards)
    Reshard(a, oldStore, newStore)
  }
}
