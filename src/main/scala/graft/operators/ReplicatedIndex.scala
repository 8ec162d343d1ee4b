package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shard REPLICATION + failover serving (SURVEY.md §2.11a X119, q294):
  * the availability half of the q283/q288 sharded topology. Every
  * shard there lives on exactly one node — a node loss loses the
  * shard, which no production search tier accepts (Elasticsearch
  * `number_of_replicas`, Vespa content groups, Dynamo/Cassandra
  * replica sets). This operator gives every document TWO distinct
  * homes and makes serving routable to either:
  *
  *   - PLACEMENT is the Dynamo preference-list rule on q288's md5
  *     ring (16 vnodes/shard, q162's exact hash): walk clockwise from
  *     the doc's position — the first vnode's shard is the PRIMARY
  *     (identical to [[IndexReshard.assign]], the compat law the spec
  *     pins), the first vnode of a DIFFERENT shard is the REPLICA.
  *     Per-doc placement (not per-shard) spreads a dead node's load
  *     across ALL survivors instead of doubling one neighbor's — the
  *     consistent-hashing argument applied to failover fan-in.
  *   - The WRITE PATH emits both copies: the primary store is the
  *     q258/q283 layout keyed (shard, term, bucket); the replica
  *     store is keyed (node, origin, term, bucket) where `origin` is
  *     the doc's primary shard — so "serve shard p from replicas" is
  *     a pure KEY-SPACE selection (origin = p), no decode, no
  *     recompute, and every origin-p replica block lives on a node ≠ p
  *     by construction (primary ≠ replica per doc).
  *   - FAILOVER of node x serves: primary blocks of every node ≠ x
  *     UNION replica blocks with origin = x. That selection PARTITIONS
  *     the corpus (docs with primary ≠ x once via their primary; docs
  *     with primary = x once via their replica, which is ≠ x), so df
  *     summed over the selection's block metadata stays the exact
  *     global df and BM25 scores are unchanged — failover is answer-
  *     INVARIANT, the law q294 hash-gates and the spec pins for EVERY
  *     choice of failed node.
  *
  * Byte law: canonical gap coding means the replica copy is not just
  * score-equivalent but byte-reconstructible — decode-union-encode of
  * one (origin, term, bucket)'s replica blocks across nodes equals the
  * primary block byte for byte (ReplicatedIndexSpec).
  *
  * Scale: placement is one broadcast join against the 2·S·16-row
  * doubled ring (doubling unrolls the wrap-around so "first distinct
  * clockwise" needs no branch); the write path is two [[ShardedIndex]]
  * builds (the 2× ingest cost replication always costs); every serve
  * probes only the query terms' blocks in the routed selection, with
  * the per-node reduction a bounded map-side [[graft.functions.TopKLong]]
  * (≤ k rows per node per mapper) and a k·S-row gather — q283's wire
  * posture, unchanged by replication. */
object ReplicatedIndex {

  /** `nShards` is the ring the assignments were built at — carried in
    * the store (the ReplicatedC device, r18) so [[update]]'s upsert
    * half places novel docs on the store's OWN ring and
    * [[grow]]/[[recoverLost]] fail loudly on a mismatched claim. */
  final case class Replicated(
      assignments: DataFrame,  // (doc_id, primary, replica), primary != replica
      primaryStore: DataFrame, // (shard, term, bucket, df, bytes)
      replicaStore: DataFrame, // (node, origin, term, bucket, df, bytes)
      dl: DataFrame,           // (doc_id, dl) — the doc-stats sidecar
      stats: DataFrame,        // (n_docs, adl) — global corpus stats
      nShards: Int)            // the ring size the placement used

  /** Dynamo preference list of length 2 on the md5 ring: input needs
    * (doc_id, p); output adds (primary, replica). The ring is DOUBLED
    * (each vnode again at pos + 2⁶⁰, one past the 15-hex position
    * domain) so the clockwise walk from any p is a plain ORDER BY over
    * rpos ≥ p — wrap-around included, no COALESCE branch.
    *
    * The join is row-preserving: every input row gets its own
    * position's placement, so [[ReplicatedRows]] places payload rows
    * that repeat an id (a vertex's edges) directly. The text index's
    * CONTRACT is that `docs` carries each doc_id ONCE — a duplicated id
    * would mint duplicate assignment rows and non-strictly-ascending
    * posting lists, failing much later with an opaque encode/merge
    * error. That dedupe lives at the TOPOLOGY BOUNDARIES only
    * ([[build]], [[addReplicas]] — the frames a caller hands in), not
    * here: recoverLost/grow/update call this on by-construction-unique
    * sidecars (dl, assignments), and q299
    * measured the per-call exchange+aggregate as the one
    * code-attributable regression of r17 (VERDICT r17 What's-wrong #1
    * — the guard was correct, the per-call cost avoidable).
    *
    * Scale (r18, closing the r16 scale note; REWRITTEN in the r18
    * optimization pass): the ring is MODEL-SIZED (2·S·16 vnodes), so
    * the ENTIRE preference-list function precomputes DRIVER-SIDE —
    * the vnode positions (the same md5 the SQL replays) sort once,
    * and the step function p → (primary, replica) materializes as a
    * 2·S·16-row (lo, hi, primary, replica) INTERVAL table: row i
    * covers p ∈ (rpos_{i-1}, rpos_i], its primary is vnode i's shard
    * and its replica the first later vnode with a different shard —
    * identical to "first (rpos, shard) ≥ p in sorted order" with the
    * wrap-around unrolled by the doubling. Placement is then ONE
    * broadcast non-equi join (lo < p AND p ≤ hi): intervals partition
    * the 60-bit position domain, so the join is 1:1 and row-preserving.
    * Zero exchanges, zero aggregations; the per-row cost is ≤ 2·S·16
    * codegen'd long comparisons against the broadcast table.
    *
    * WHY NOT a lambda projection (the first r18 attempt, reverted in
    * the optimization round): `filter(ringLiteral, x → x.rpos ≥ p)`
    * composed with a second filter referencing `primary` LOOKS like a
    * pure projection, but higher-order functions are CodegenFallback
    * (interpreted), and CollapseProject inlines both `p` (an md5
    * expression) and `primary` (the first 2·S·16-element filter) into
    * the replica lambda — interpreted eval then re-computes the md5
    * and the whole primary scan PER RING ELEMENT: ~(2·S·16)² ≈ 16k
    * md5 evaluations per row at S=4. Measured: single bench tasks sat
    * 10+ minutes in ArrayFilter/Md5 stacks at sf0.1 (jstack evidence
    * in OPTIMIZATION_r18.md). A join boundary materializes `p` once
    * per row by construction — the property the projection lacked. */
  private[graft] def assignPR(docs: DataFrame, shards: Int): DataFrame = {
    require(shards >= 2, s"replication needs >= 2 shards, got $shards")
    val s = docs.sparkSession
    import s.implicits._
    val ring = ringPositions(shards)
    val doubled =
      (ring ++ ring.map { case (p, sh) => (p + (1L << 60), sh) }).sorted
    // step-function intervals: entry i serves p in (rpos_{i-1}, rpos_i]
    // (ties on rpos leave the later entry's interval empty — the
    // (rpos, shard) sort order already picked the winner); replica_i =
    // first entry at index >= i whose shard differs from primary_i.
    // p is 15 hex digits, so p ≤ 2⁶⁰ − 1: intervals whose lo is at or
    // past that bound can never match and are dropped — which also
    // guarantees every KEPT interval's suffix still spans all shards
    // (a kept upper-half entry is the first one, so the whole mirrored
    // ring follows it), making the replica search total.
    val maxP = (1L << 60) - 1
    val intervals = doubled.zipWithIndex.flatMap { case ((hi, prim), i) =>
      val lo = if (i == 0) -1L else doubled(i - 1)._1
      if (lo >= maxP) None
      else {
        val repl = doubled.drop(i).collectFirst {
          case (_, sh) if sh != prim => sh
        }.getOrElse(sys.error(
          s"ring with $shards shards has no distinct replica after vnode $i"))
        Some((lo, hi, prim, repl))
      }
    }
    val iv = s.createDataFrame(intervals)
      .toDF("__lo", "__hi", "primary", "replica")
    docs.join(broadcast(iv), $"p" > $"__lo" && $"p" <= $"__hi")
      .drop("__lo", "__hi")
  }

  /** The ring's vnode positions computed DRIVER-SIDE — exactly
    * [[IndexReshard.ring]]'s values (md5("shard" ‖ sh ‖ ":" ‖ v), first
    * 15 hex digits as a Long), without a Spark job: the ring is
    * model-sized state, not data. Returns (pos, shard) pairs. */
  private def ringPositions(shards: Int): Seq[(Long, Long)] =
    (0 until shards).flatMap { sh =>
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 16).map { v =>
        val hex = md.digest(s"shard$sh:$v".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex.take(15), 16), sh.toLong)
      }
    }

  /** Ingest: place every doc (primary + replica), build BOTH copies'
    * stores and the serving sidecars. Duplicate doc_ids drop
    * defensively at the boundary (ADVICE r16 — [[assignPR]]'s note);
    * exact duplicates are harmless, ids duplicated with DIFFERENT text
    * are the caller's bug and keep an arbitrary row. */
  def build(docs: DataFrame, nShards: Int): Replicated = {
    val s = docs.sparkSession
    import s.implicits._
    val positioned = docs.dropDuplicates("doc_id")
      .select($"doc_id", $"text",
        IndexReshard.position($"doc_id").as("p"))
    val a = assignPR(positioned, nShards)
    val assignments = a.select($"doc_id", $"primary", $"replica")
    val primaryStore = graft.queries.Text.postingStore(
      a.select($"primary".as("shard"), $"doc_id", $"text"), "shard")
    val replicaStore = graft.queries.Text.postingStore(
      a.select($"replica".as("node"), $"primary".as("origin"),
        $"doc_id", $"text"), "node", "origin")
    val dl = positioned.select($"doc_id", Bm25.dl)
    Replicated(assignments, primaryStore, replicaStore, dl, Bm25.stats(dl),
      nShards)
  }

  /** RAISE THE REPLICATION FACTOR 1 → 2 on an EXISTING single-copy
    * ring store (X119e, q315): the Elasticsearch
    * `number_of_replicas: 0 → 1` settings change — a tier that ran
    * single-copy (q288's shape) turns replication on WITHOUT re-reading
    * raw text. The existing store IS the primary copy already (its ring
    * assignment equals [[assignPR]]'s primary — the compat law
    * ReplicatedIndexSpec pins), so it passes through byte-UNTOUCHED;
    * the replica tier bootstraps FROM THE INDEX: every primary block
    * decodes once, postings re-key by their doc's preference-list
    * replica, and the (node, origin, term, bucket) blocks encode fresh.
    * Gap coding has no layout freedom ⇒ the bootstrapped pair ≡ a
    * from-scratch [[build]] at the same ring, BOTH stores BYTE FOR
    * BYTE — q315's oracle replays that build.
    *
    * Scale: decodes the FULL index exactly once and writes one new
    * copy — the inherent cost of raising the replication factor (ES
    * peer recovery streams every primary's segments the same way); the
    * re-key join is |postings|-sized on the compact doc_id key against
    * the broadcast-ring-assigned ID list; raw text never re-read. */
  def addReplicas(store: DataFrame, dl: DataFrame,
      nShards: Int): Replicated = {
    val s = store.sparkSession
    import s.implicits._
    // boundary dedupe (assignPR's pre-deduped contract): dl is
    // caller-supplied here, unlike the by-construction-unique sidecars
    // recoverLost/grow pass
    val ids = dl.select($"doc_id").dropDuplicates("doc_id")
      .withColumn("p", IndexReshard.position($"doc_id"))
    val a = assignPR(ids, nShards)
      .select($"doc_id", $"primary", $"replica")
    val replicaStore = PostingBlocks.encode(PostingBlocks.decode(store)
      .join(a.select($"doc_id", $"replica".as("node")), "doc_id")
      .select($"node", $"shard".as("origin"), $"term", $"bucket", $"doc_id",
        $"tf", $"first_pos"))
    Replicated(a, store, replicaStore, dl, Bm25.stats(dl), nShards)
  }

  /** LOWER THE REPLICATION FACTOR 2 → 1 (X119f, q329): the inverse of
    * [[addReplicas]] — the ES `number_of_replicas: 1 → 0` settings
    * change (a tier shedding storage cost, or staging data down before
    * a migration). The primary store IS the single-copy ring store
    * already (its assignment equals [[IndexReshard.assign]]'s — the
    * compat law the spec pins), so the verb is pure selection: the
    * primary copy and the dl sidecar pass through BYTE-UNTOUCHED and
    * the replica tier is simply dropped. Returns (store, dl) — q288's
    * single-copy shape, ready for [[IndexReshard]] maintenance or a
    * later [[addReplicas]] round trip (which the spec pins byte for
    * byte). Scale: zero data movement — the cheapest verb in the
    * matrix, listed for the completeness of the RF pair. */
  def dropReplicas(rep: Replicated): (DataFrame, DataFrame) =
    (rep.primaryStore, rep.dl)

  /** Scatter-gather over ANY block selection that partitions the
    * corpus — (node, term, bucket, df, bytes) rows where `node` is the
    * serving node. df sums from the selection's metadata (exact
    * because the selection partitions docs), [[Bm25]] scores keyed by
    * node, per-node local top-k via the bounded TopKLong,
    * k·|nodes|-row gather. Returns (doc_id, score_ppm, node). */
  private[graft] def serveBlocks(sel: DataFrame, dl: DataFrame,
      stats: DataFrame, qTerms: Seq[String], k: Int): DataFrame = {
    val s = sel.sparkSession
    import s.implicits._
    val probed = sel.filter($"term".isin(qTerms: _*))
    val dfreq = probed.groupBy($"term")
      .agg(sum($"df").cast(LongType).as("df"))
    val scored = Bm25.score(Bm25.decode("replicated serve", "node")(probed),
      dl, dfreq, stats, "node")
    val topK = udaf(new graft.functions.TopKLong(k))
    scored.groupBy($"node")
      .agg(topK($"score_ppm", $"doc_id", lit(0L)).as("tk"))
      .select($"node", explode($"tk").as("e"))
      .select($"node", $"e.id".as("doc_id"), $"e.score".as("score_ppm"))
      .orderBy($"score_ppm".desc, $"doc_id").limit(k)
      .select($"doc_id", $"score_ppm", $"node")
  }

  /** Normal serve: every shard answers from its PRIMARY copy. */
  def servePrimary(r: Replicated, qTerms: Seq[String], k: Int): DataFrame =
    serveBlocks(
      r.primaryStore.select(col("shard").as("node"), col("term"),
        col("bucket"), col("df"), col("bytes")),
      r.dl, r.stats, qTerms, k)

  /** Replica-routed serve: every doc answers from its REPLICA copy
    * (read load shed off the primaries — the other thing replicas are
    * for). Must equal [[servePrimary]]'s ranking exactly: the replica
    * store partitions the same corpus and scores use only global
    * stats. */
  def serveReplica(r: Replicated, qTerms: Seq[String], k: Int): DataFrame =
    serveBlocks(
      r.replicaStore.select(col("node"), col("term"), col("bucket"),
        col("df"), col("bytes")),
      r.dl, r.stats, qTerms, k)

  /** TAKEDOWN on the replicated topology (X119d, q304): the
    * right-to-be-forgotten event against a TWO-COPY store — q274
    * deletes from the single-copy postings store, but a replicated
    * tier must run the same block surgery on BOTH copies or the dead
    * doc keeps serving the moment any node fails over (the
    * compliance hole: ES deletes propagate primary → replica before
    * acking). Both stores run [[PostingBlocks.drop]]; the
    * dl/assignment sidecars and global stats shrink to the survivors.
    * Maintained ≡ a from-scratch [[build]] over the surviving corpus,
    * BOTH stores BYTE FOR BYTE (the drop law) — q304's oracle replays
    * exactly that build (the surgery never enters it).
    *
    * Scale: q274's posture twice — [[PostingBlocks.drop]]'s, per
    * copy, never corpus-shaped. */
  def takedown(rep: Replicated, deadIds: DataFrame): Replicated = {
    val s = rep.primaryStore.sparkSession
    import s.implicits._
    val dead = deadIds
      .select(col(deadIds.columns.head).cast("long").as("doc_id"))
      .distinct()
    val dl = rep.dl.join(dead, Seq("doc_id"), "left_anti")
    Replicated(
      rep.assignments.join(dead, Seq("doc_id"), "left_anti"),
      PostingBlocks.drop(rep.primaryStore, dead),
      PostingBlocks.drop(rep.replicaStore, dead), dl, Bm25.stats(dl),
      rep.nShards)
  }

  /** Document UPDATE / re-index on the REPLICATED topology (X109q,
    * q319): the r17 verdict's "missing #1" and the LAST open cell of
    * the write-verb matrix — q305's re-index verb (Elasticsearch's
    * `index` over an existing id, the commonest write after append) ran
    * on the single-copy q258 store, while the replicated topology had
    * append (T39), takedown (q304) and the lifecycle verbs but not the
    * verb a production tier runs most. Like a delete, an update must
    * reach BOTH copies before acking (ES propagates the `index` verb
    * primary → replica) or a failover serves the STALE version — the
    * same compliance hole q304 closed for deletes, this time serving
    * outdated text rather than reaped text. One law, both stores:
    *
    *   - the updated ids run q304's two-copy block surgery
    *     ([[PostingBlocks.drop]]) — old versions drop from exactly the
    *     touched buckets of BOTH stores;
    *   - the NEW text builds per-copy delta stores
    *     ([[graft.queries.Text.postingStore]]) keyed by each doc's
    *     assignment — EXISTING docs keep their placement (the ring is a
    *     pure function of doc_id, so an update never moves a document:
    *     the verb is block surgery, not a re-shard), novel ids place
    *     fresh at the store's OWN carried ring (the upsert half);
    *   - [[PostingBlocks.merge]] folds each delta in per store — ids are
    *     disjoint again after the surgery, so q264's overlap law holds
    *     by construction; non-receiving blocks pass byte-UNTOUCHED;
    *   - the dl sidecar swaps old rows for new, global stats recompute
    *     (an edit changes dl, hence adl, hence every BM25 score — the
    *     stats sidecar is why the verb must own the dl swap).
    *
    * Gap coding has no layout freedom ⇒ updated ≡ a from-scratch
    * [[build]] over the POST-UPDATE corpus, BOTH stores BYTE FOR BYTE —
    * q319's oracle replays exactly that build (the verb never enters
    * it), hash-matched at all 3 SFs. ReplicatedIndexSpec pins upsert,
    * idempotence, untouched-block passthrough on both stores, and
    * placement-never-moves; T44 fires the verb MID-STREAM against the
    * two-copy T39 state (tombstones-forever still beat it).
    *
    * Scale: q305's posture twice — updated ids group to bucket-bounded
    * arrays, one compact-key equi-join per copy for the surgery, the
    * delta is |updated docs|-sized and its merge decodes only receiving
    * blocks; the ring join runs over the UPDATED id list only; raw
    * unchanged text never re-read; never corpus-shaped. */
  def update(rep: Replicated, updated: DataFrame): Replicated = {
    val s = rep.primaryStore.sparkSession
    import s.implicits._
    val up = updated
      .select(col(updated.columns.head).cast("long").as("doc_id"),
        col(updated.columns(1)).as("text"))
      .dropDuplicates("doc_id")
    val ids = up.select($"doc_id")
    // ---- placement: existing docs KEEP theirs; novel ids place fresh
    // on the store's carried ring (the upsert half)
    val novel = up.join(rep.assignments, Seq("doc_id"), "left_anti")
    val novelA = assignPR(
      novel.select($"doc_id", IndexReshard.position($"doc_id").as("p")),
      rep.nShards)
      .select($"doc_id", $"primary", $"replica")
    val aUp = rep.assignments.join(ids, "doc_id")
      .select($"doc_id", $"primary", $"replica")
      .unionByName(novelA)
    // ---- both copies drop the updated ids' OLD postings and merge in
    // the NEW text's delta at each doc's placement
    val placed = up.join(aUp, "doc_id")
    val newPrimary = PostingBlocks.merge(Seq(
      PostingBlocks.drop(rep.primaryStore, ids),
      graft.queries.Text.postingStore(
        placed.select($"primary".as("shard"), $"doc_id", $"text"), "shard")))
    val newReplica = PostingBlocks.merge(Seq(
      PostingBlocks.drop(rep.replicaStore, ids),
      graft.queries.Text.postingStore(
        placed.select($"replica".as("node"), $"primary".as("origin"),
          $"doc_id", $"text"), "node", "origin")))
    // ---- sidecars: dl swaps old for new; stats follow the swap
    val dl = rep.dl.join(ids, Seq("doc_id"), "left_anti")
      .unionByName(up.select($"doc_id", Bm25.dl))
    Replicated(rep.assignments.unionByName(novelA), newPrimary,
      newReplica, dl, Bm25.stats(dl), rep.nShards)
  }

  /** PERMANENT loss of the highest node (X119b, q299): [[serveFailover]]
    * keeps answering the moment a node dies, but a tier running on one
    * copy of the dead node's docs is one more failure from data loss —
    * production systems RE-REPLICATE (Elasticsearch re-allocates lost
    * shard copies from survivors; Dynamo anti-entropy). This rebuilds a
    * fully-replicated S−1-node topology FROM THE SURVIVING COPIES ONLY
    * — raw text never re-read, the lost node's blocks never touched:
    *
    *   - PROMOTION: a doc whose primary died has, as its new S−1-ring
    *     owner, exactly its OLD REPLICA node (the first surviving vnode
    *     clockwise IS the first distinct-shard vnode when the primary's
    *     vnodes all vanish — the Dynamo argument), so its replica
    *     blocks (node r, origin = lost) re-key to primary blocks of
    *     shard r wholesale, merging into r's existing primaries;
    *   - RE-REPLICATION: those promoted docs get fresh replicas at the
    *     S−1 ring, and docs whose REPLICA died re-extract from their
    *     (intact) primary blocks — both regroup into the replica store,
    *     merging where keys collide;
    *   - every other block — primaries of survivors, replica blocks
    *     with node ≠ lost and origin ≠ lost — passes through
    *     byte-UNTOUCHED (placement is provably unchanged: a lost vnode
    *     ahead of a doc's surviving primary/replica vnode would have
    *     BEEN that doc's primary/replica).
    *
    * Gap coding has no layout freedom ⇒ recovered ≡ a from-scratch
    * [[build]] at S−1 shards, BOTH stores BYTE FOR BYTE — q299's
    * oracle replays exactly that build (primary AND replica streams;
    * the recovery never enters it); ReplicatedIndexSpec pins the
    * promotion law (new primary == old replica for every lost-primary
    * doc), the byte law, and serve-invariance across the loss.
    *
    * Scale: the decode set is the lost node's hosted docs' blocks
    * (~2/S of the index: its primaries' replica copies + its replicas'
    * primary buckets), the re-key joins are |lost-hosted postings|-
    * sized on compact keys, and the ring assignment is the broadcast
    * doubled-ring device over the ID list. */
  def recoverLost(rep: Replicated, oldShards: Int): Replicated = {
    require(oldShards == rep.nShards,
      s"recoverLost at $oldShards on a ${rep.nShards}-ring store")
    require(oldShards >= 3,
      s"recovery needs >= 3 shards (>= 2 survive), got $oldShards")
    val lost = (oldShards - 1).toLong
    val s = rep.primaryStore.sparkSession
    import s.implicits._
    val ids = rep.dl.select($"doc_id")
      .withColumn("p", IndexReshard.position($"doc_id"))
    val a2 = assignPR(ids, oldShards - 1)
      .select($"doc_id", $"primary", $"replica")
    // ---- surviving, placement-unchanged blocks (never decoded)
    val sp = rep.primaryStore.filter($"shard" =!= lost)
    val keepRepl = rep.replicaStore
      .filter($"node" =!= lost && $"origin" =!= lost)
    // ---- decode the two surviving sources of lost-hosted data
    // (a) the dead node's primaries live on as replica copies
    val aPost =
      PostingBlocks.decode(rep.replicaStore.filter($"origin" === lost))
    // (b) docs whose REPLICA died: extract from their primary buckets
    val bDocs = rep.assignments
      .filter($"replica" === lost && $"primary" =!= lost)
      .select($"doc_id", $"primary".as("shard"))
    val bPost = PostingBlocks.decode(sp, bDocs)
    // ---- promotion: (node r, origin = lost) blocks become shard-r
    // primaries (every member's S−1 owner IS r — the Dynamo argument)
    val newPrimary = PostingBlocks.merge(Seq(sp, PostingBlocks.encode(
      aPost.select($"node".as("shard"), $"term", $"bucket", $"doc_id",
        $"tf", $"first_pos"))))
    // ---- re-replication: fresh S−1-ring replicas for every doc the
    // lost node hosted (either copy), placed by the NEW assignment
    val posting = Seq("term", "bucket", "doc_id", "tf", "first_pos").map(col)
    val reRepl = aPost.select(posting: _*)
      .unionByName(bPost.select(posting: _*))
      .join(a2, "doc_id")
      .select($"replica".as("node") +: $"primary".as("origin") +: posting: _*)
    val newReplica = PostingBlocks.merge(Seq(keepRepl,
      PostingBlocks.encode(reRepl)))
    Replicated(a2, newPrimary, newReplica, rep.dl, rep.stats,
      oldShards - 1)
  }

  /** GROW a replicated topology from S to S+1 nodes, INDEX-ONLY
    * (X119c, q302): q288's elastic grow composed with q294's
    * replication — when a node joins a replicated tier BOTH copies'
    * placements can move, and the consistent-hash walk makes every
    * move enumerable:
    *
    *   - PRIMARY moved (class A): the new shard's vnode is now first,
    *     so the new primary is ALWAYS shard S — and the new REPLICA is
    *     the doc's OLD PRIMARY (the first distinct-from-S vnode is the
    *     old first vnode). The old primary copy changes ROLES in place
    *     (same node, primary block → replica block keyed (op, S)), and
    *     the new primary copy on S extracts from it.
    *   - REPLICA moved, primary unchanged (class B): the new replica
    *     is always shard S; the copy moves from its old node to S.
    *   - Everything else is untouched — a new vnode ahead of an
    *     unchanged placement would have captured it (the q288
    *     argument, run per copy).
    *
    * All mover postings extract from TOUCHED OLD-PRIMARY blocks
    * (strict decode); class-A docs drop from their old primary blocks
    * and all movers drop from their old replica blocks (q274's
    * surgery, emptied blocks vanish); the additions regroup at the new
    * keys — which all involve shard S in one component, so they never
    * collide with surviving blocks and no merge pass is needed. Gap
    * coding has no layout freedom ⇒ grown ≡ a from-scratch [[build]]
    * at S+1, BOTH stores BYTE FOR BYTE (q302's oracle replays that
    * build; ReplicatedIndexSpec also pins grow∘recoverLost as a
    * round-trip back to the S-ring build).
    *
    * Scale: q288's posture per copy — the decode set is the movers'
    * touched blocks (~2/(S+1) of the index across both stores), re-key
    * joins are mover-sized on compact keys, assignment is the
    * broadcast doubled-ring device over the ID list; raw text never
    * re-read (the property T40 needs to fire this mid-stream). */
  def grow(rep: Replicated, oldShards: Int): Replicated = {
    require(oldShards == rep.nShards,
      s"grow at $oldShards on a ${rep.nShards}-ring store")
    require(oldShards >= 2, s"grow needs >= 2 shards, got $oldShards")
    val s = rep.primaryStore.sparkSession
    import s.implicits._
    val newShard = oldShards.toLong
    val ids = rep.dl.select($"doc_id")
      .withColumn("p", IndexReshard.position($"doc_id"))
    val a2 = assignPR(ids, oldShards + 1)
      .select($"doc_id", $"primary", $"replica")
    val ch = rep.assignments
      .select($"doc_id", $"primary".as("op"), $"replica".as("or"))
      .join(a2, "doc_id")
    val movers = ch.filter($"primary" =!= $"op" || $"replica" =!= $"or")
    // ---- extract every mover's postings from its old primary blocks
    val mPost = PostingBlocks.decode(rep.primaryStore,
        movers.select($"op".as("shard"), $"doc_id"))
      .join(movers, "doc_id")
    val posting = Seq("term", "bucket", "doc_id", "tf", "first_pos").map(col)
    // ---- primary store: class-A docs leave their old blocks and
    // regroup on the new shard (keys disjoint from survivors)
    val newPrimary = PostingBlocks.drop(rep.primaryStore,
        movers.filter($"primary" === newShard)
          .select($"op".as("shard"), $"doc_id"))
      .unionByName(PostingBlocks.encode(mPost.filter($"primary" === newShard)
        .select(lit(newShard).as("shard") +: posting: _*)))
    // ---- replica store: every mover leaves its old replica block and
    // regroups at its new placement — class A at (old primary, S),
    // class B at (S, primary): both keys carry S, so no survivor merge
    val newReplica = PostingBlocks.drop(rep.replicaStore,
        movers.select($"or".as("node"), $"op".as("origin"), $"doc_id"))
      .unionByName(PostingBlocks.encode(mPost.select(
        $"replica".as("node") +: $"primary".as("origin") +: posting: _*)))
    Replicated(a2, newPrimary, newReplica, rep.dl, rep.stats,
      oldShards + 1)
  }

  /** Node `failed` is down: its primaries serve from their replicas
    * (a key-space selection — origin = failed — on nodes that are all
    * ≠ failed by the placement law), everyone else serves primary.
    * Answer-invariant vs [[servePrimary]] for EVERY choice of failed
    * node (the spec pins all S). */
  def serveFailover(r: Replicated, failed: Long, qTerms: Seq[String],
      k: Int): DataFrame =
    serveBlocks(
      ReplicatedRows.failoverServing(r.primaryStore, r.replicaStore, failed),
      r.dl, r.stats, qTerms, k)
}
