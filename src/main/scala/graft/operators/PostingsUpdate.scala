package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document UPDATE on the compressed posting store (SURVEY.md §2.11a
  * X109m, q305): the re-index verb — Elasticsearch's `index` over an
  * existing id, the commonest write after append — was the unpinned
  * member of the maintenance family: q258 builds, q264 appends, q274
  * deletes, but re-indexing a CHANGED document existed only as a
  * table-level upsert (S11's IndexSink), never on the q258 storage
  * layer. This composes delete+insert as ONE operation:
  *
  *   - the updated ids run q274's block-local surgery
  *     ([[PostingBlocks.drop]]) — the OLD version's postings drop from
  *     exactly the touched buckets' blocks;
  *   - the NEW text builds a delta segment (q258's encode), and
  *     [[PostingBlocks.merge]] folds it in — after the surgery the doc
  *     ids are disjoint again, so the merge's overlap law holds by
  *     construction.
  *
  * Ids NOT in the store insert cleanly (the upsert half of the verb:
  * the surgery is a no-op, the merge an append). Gap coding has no
  * layout freedom ⇒ updated ≡ a from-scratch build over the
  * POST-UPDATE corpus BYTE FOR BYTE — q305's oracle replays exactly
  * that build (the update never enters it). PostingsUpdateSpec pins
  * the worst-case decode set (a changed doc's buckets decode twice:
  * once to drop, once to merge), untouched-block passthrough, upsert
  * insert, and update-to-identical-text idempotence.
  *
  * Scale: q274's + q264's postures composed — dead ids group to
  * bucket-bounded arrays, the delta is |updated docs|-sized, both
  * passes join on compact (term, bucket)/bucket keys, re-encode cost
  * is |touched blocks| × block width; never corpus-shaped, raw
  * unchanged text never re-read. */
object PostingsUpdate {

  /** Re-index `updated` (doc_id, text) against a q258-layout store
    * (term, bucket, df, bytes). Returns the post-update store. */
  def apply(store: DataFrame, updated: DataFrame): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    val up = updated
      .select(col(updated.columns.head).cast("long").as("doc_id"),
        col(updated.columns(1)).as("text"))
      .dropDuplicates("doc_id")
    PostingBlocks.merge(Seq(PostingBlocks.drop(store, up.select($"doc_id")),
      graft.queries.Text.postingStore(up)))
  }
}
