package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sharded scatter-gather serving (SURVEY.md §2.11a X115, q283): a
  * 100 TB index never lives on one node — it is DOC-SHARDED across
  * serving nodes, a query scatters to every shard, each shard answers
  * from its own sub-index with its LOCAL top-k, and a coordinator
  * merges k·S candidate rows into the global top-k (Elasticsearch's
  * query-then-fetch, Vespa's content groups). This operator is that
  * topology made Spark-native and EXACT:
  *
  *   - Shards partition docs (shard = doc_id mod S), and a doc's BM25
  *     score is a pure function of its own (tf, dl) plus GLOBAL stats
  *     (df, N, adl) — so the true global top-k is contained in the
  *     union of per-shard top-k lists, and the merge is exact, not a
  *     recall trade (the containment law ShardedIndexSpec pins).
  *   - The per-shard reduction is the bounded [[graft.functions.TopKLong]]
  *     aggregate: map-side partial top-k, ≤ k rows per shard per
  *     mapper reach the coordinator — the scatter-gather wire cost,
  *     never the shard's full hit set (a `row_number() <= k` window
  *     partitioned by S≈4 keys would funnel each shard's entire hit
  *     stream through one task — the anti-pattern this aggregate
  *     exists to avoid).
  *   - df comes from per-shard block METADATA summed ACROSS shards
  *     before any ranking — the dfs_query_then_fetch step. This is the
  *     load-bearing production detail: per-shard df re-weights idf
  *     differently per shard and cross-shard comparisons silently
  *     skew (the default-ES footgun); `globalDf = false` exposes that
  *     wrong ranking so the spec can pin the divergence on a planted
  *     df-skewed corpus.
  *
  * Each shard's sub-index is the q258 layout (gap-coded LEB128 posting
  * blocks keyed (shard, term, bucket) — [[graft.queries.Text.postingStore]]
  * with the `shard` key) built ONLY from that shard's docs, so blocks
  * partition docs within a shard and shards partition the corpus:
  * Σ_{shard,bucket} df = global df stays a metadata-only aggregate.
  * Scoring is [[Bm25]]'s decode and per-doc fold, keyed by shard.
  *
  * Scale: the probe touches only the query terms' blocks in every
  * shard (Σ df(query terms) decoded rows, embarrassingly parallel
  * across shards); dl joins on (shard, doc_id) — co-keyed within the
  * shard, the one equi-join a serving node pays; df/adl/N broadcast;
  * the gather step is a k·S-row TakeOrdered. No window touches a
  * corpus-sized partition.
  */
object ShardedIndex {

  /** Every frame of the scatter-gather, exposed for the spec.
    * `merged` is the exact global top-k: (doc_id, score_ppm, shard). */
  final case class Served(
      store: DataFrame,    // (shard, term, bucket, df, bytes) sub-indexes
      dfreq: DataFrame,    // the df table the ranking used
      perShard: DataFrame, // (shard, doc_id, score_ppm) local top-k lists
      merged: DataFrame)   // (doc_id, score_ppm, shard) global top-k

  def serve(docs: DataFrame, qTerms: Seq[String], k: Int,
      nShards: Int = 4, globalDf: Boolean = true): Served = {
    val s = docs.sparkSession
    import s.implicits._
    val sharded = docs.select(
      pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
      col("doc_id"), col("text"))
    // ---- ingest: per-shard sub-indexes (the shard key IS the node
    // boundary) + the doc-length sidecar, kept per shard (each node
    // owns its docs'); corpus stats are GLOBAL by definition (N, adl)
    val store = graft.queries.Text.postingStore(sharded, "shard")
    val dl = sharded.select($"shard", $"doc_id", Bm25.dl)
    val stats = Bm25.stats(dl)
    // ---- scatter: every shard fetches its own query-term blocks
    val probed = store.filter($"term".isin(qTerms: _*))
    // df: global = metadata summed ACROSS shards (dfs_query_then_fetch);
    // per-shard = the documented footgun, kept only for the spec's
    // divergence pin
    val dfKeys = if (globalDf) Seq($"term") else Seq($"shard", $"term")
    val dfreq = probed.groupBy(dfKeys: _*)
      .agg(sum($"df").cast(LongType).as("df"))
    val scored = Bm25.score(Bm25.decode("sharded probe", "shard")(probed),
      dl, dfreq, stats, "shard")
    // ---- per-shard local top-k: bounded exact-Long aggregate
    val topK = udaf(new graft.functions.TopKLong(k))
    val perShard = scored.groupBy($"shard")
      .agg(topK($"score_ppm", $"doc_id", lit(0L)).as("tk"))
      .select($"shard", explode($"tk").as("e"))
      .select($"shard", $"e.id".as("doc_id"), $"e.score".as("score_ppm"))
    // ---- gather: merge k·S candidate rows into the global top-k
    val merged = perShard
      .orderBy($"score_ppm".desc, $"doc_id").limit(k)
      .select($"doc_id", $"score_ppm", $"shard")
    Served(store, dfreq, perShard, merged)
  }
}
