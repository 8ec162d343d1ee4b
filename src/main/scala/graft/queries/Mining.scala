package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Q, Tables}
import graft.functions.VectorOps
import graft.core.Barriers._

/** SURVEY.md §2.11a continued — corpus/graph mining operators a
  * training-data pipeline runs between ingestion and sampling: hybrid
  * retrieval fusion, importance weighting, eval-set decontamination,
  * graph-core curation, collocation mining, and a k-anonymity audit.
  * The reference's query surface is analytics over tweets/documents
  * (`/root/reference/README.md:24-38`); these extend that surface with
  * the published pipeline stages its data model implies.
  *
  * Shared determinism contract: every score is exact BIGINT arithmetic
  * (integer DIV, md5-derived buckets — the q67 device), so results are
  * bit-identical across engines, partitionings, and reruns.
  */
object Mining {

  private def duckDot(a: String, b: String): String = VectorOps.dotSql(a, b)

  /** Two-proportion z, micro-rounded — ONE textual formula evaluated by
    * BOTH engines (q94's fixed-order-IEEE-chain device). Every operand
    * is explicitly CAST to DOUBLE because bare `1.0` is DOUBLE in Spark
    * but DECIMAL in DuckDB, and DECIMAL division truncates (measured:
    * 2e-4 relative drift before these casts). */
  private[queries] val zMicroSql: String =
    """CAST(round(((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) -
       (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
       sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
            (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
            (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) *
       1000000) AS BIGINT)""".replaceAll("\\s+", " ")

  /** q143 — hybrid retrieval with reciprocal-rank fusion (Cormack,
    * Clarke & Büttcher 2009): a keyword retriever (query-term
    * occurrence count) and a vector retriever (cosine to a query
    * embedding) each produce a bounded top-50 candidate list; fused
    * score = Σ 1e6 DIV (60 + rank), integer-exact.
    *
    * Scale: each retriever's candidate generation is its own bounded
    * top-k (TakeOrdered here; inverted-index postings / ANN probes —
    * q91/q69 — at corpus scale). Fusion only ever joins two K-row
    * lists, so the fused stage is constant-size no matter the corpus;
    * ranks are computed by a window over the K survivors, never the
    * raw table. */
  val q143 = Q(
    "q143_hybrid_rrf",
    (s, dir) => {
      import s.implicits._
      val kw = Tables(s, dir, "documents")
        .select($"doc_id",
          size(filter(split($"text", " "),
            t => t.isin("spark", "table", "join"))).as("kw"))
        .filter($"kw" > 0)
        .orderBy($"kw".desc, $"doc_id".asc).limit(50)
        .withColumn("kw_rank",
          row_number().over(Window.orderBy($"kw".desc, $"doc_id".asc)))
        .select($"doc_id", $"kw_rank")
      val emb = Tables(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).select($"embedding".as("q_vec"))
      val vec = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .select($"vec_id".as("doc_id"),
          VectorOps.cosine($"q_vec", $"embedding").as("cos"))
        .orderBy($"cos".desc, $"doc_id".asc).limit(50)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy($"cos".desc, $"doc_id".asc)))
        .select($"doc_id", $"vec_rank")
      kw.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("1000000 DIV (60 + kw_rank)"), lit(0L)) +
            coalesce(expr("1000000 DIV (60 + vec_rank)"), lit(0L)))
        .select($"doc_id", $"kw_rank", $"vec_rank", $"rrf")
        .orderBy($"rrf".desc, $"doc_id".asc).limit(20)
    },
    Some(s"""
      WITH kw AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('spark', 'table', 'join'))) AS kw
        FROM documents),
      kr0 AS (SELECT doc_id,
                row_number() OVER (ORDER BY kw DESC, doc_id) AS kw_rank
              FROM kw WHERE kw > 0),
      kr AS (SELECT * FROM kr0 WHERE kw_rank <= 50),
      q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
      vs AS (SELECT e.vec_id AS doc_id,
               ${duckDot("q.q_vec", "e.embedding")} /
                 (sqrt(${duckDot("q.q_vec", "q.q_vec")}) *
                  sqrt(${duckDot("e.embedding", "e.embedding")})) AS cos
             FROM embeddings e, q WHERE e.vec_id <> 0),
      vr0 AS (SELECT doc_id,
                row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
              FROM vs),
      vr AS (SELECT * FROM vr0 WHERE vec_rank <= 50),
      f AS (SELECT COALESCE(kr.doc_id, vr.doc_id) AS doc_id,
                   kr.kw_rank, vr.vec_rank,
                   COALESCE(1000000 // (60 + kr.kw_rank), 0) +
                   COALESCE(1000000 // (60 + vr.vec_rank), 0) AS rrf
            FROM kr FULL OUTER JOIN vr ON kr.doc_id = vr.doc_id)
      SELECT doc_id, kw_rank, vec_rank, rrf FROM f
      ORDER BY rrf DESC, doc_id LIMIT 20"""),
    doc = "RRF hybrid search — bounded per-retriever top-k, constant-size fusion")

  /** q144 — DSIR-style importance weighting (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * hash every bigram into 256 md5 buckets, estimate target-vs-raw
    * bucket ratios from a target-domain sample (source = 'src18'), and
    * score every out-of-target document by its mean bucket importance.
    * DSIR's log-likelihood ratio is replaced by an integer ratio
    * (tgt_n * 1e6 DIV raw_n, averaged by DIV) so scores hash-match —
    * the same monotone ranking signal without IEEE log drift.
    *
    * Scale: text reduces to (doc_id, bucket) ints before any shuffle;
    * the bucket-weight table is 256 rows and broadcasts; scoring is
    * one groupBy(doc_id). Two passes over the corpus (weights, then
    * scores) — at 100 TB persist the exploded bucket frame or fold the
    * weight estimate into a prior sample, both scan-bound. */
  val q144 = Q(
    "q144_dsir_importance",
    (s, dir) => {
      import s.implicits._
      val toks = split($"text", " ")
      // ONE corpus explode, collapsed immediately to (doc, source,
      // bucket, n) — both the bucket weights and the doc scores derive
      // from this compact table, so the bigram stream (and its md5) is
      // materialized once, not twice. Σ over occurrences of a
      // per-bucket constant == Σ over buckets of n·constant, so scores
      // are bit-identical to the per-occurrence form.
      val counts = Tables(s, dir, "documents")
        .select($"doc_id", $"source", explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .select($"doc_id", $"source",
          (conv(substring(md5($"bigram"), 1, 4), 16, 10)
            .cast(IntegerType) % 256).as("bucket"))
        .groupBy($"doc_id", $"source", $"bucket")
        .agg(count(lit(1)).as("n"))
      val weights = counts.groupBy($"bucket").agg(
        sum($"n").as("raw_n"),
        sum(when($"source" === "src18", $"n").otherwise(0L)).as("tgt_n"))
      counts.filter($"source" =!= "src18")
        .join(broadcast(weights), "bucket")
        .groupBy($"doc_id")
        .agg(sum($"n").as("n_bigrams"),
          expr("CAST(sum(n * ((tgt_n * 1000000) DIV raw_n)) DIV sum(n) AS BIGINT)")
            .as("score"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, source, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, source, string_split(text, ' ') AS l
                       FROM documents)),
      b AS (SELECT t1.doc_id, t1.source,
              CAST(('0x' || substr(md5(t1.term || ' ' || t2.term), 1, 4)) AS INT)
                % 256 AS bucket
            FROM t t1 JOIN t t2
              ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
      w AS (SELECT bucket, COUNT(*) AS raw_n,
              COUNT(*) FILTER (WHERE source = 'src18') AS tgt_n
            FROM b GROUP BY 1)
      SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM((w.tgt_n * 1000000) // w.raw_n) // COUNT(*) AS BIGINT) AS score
      FROM b JOIN w ON b.bucket = w.bucket
      WHERE b.source <> 'src18'
      GROUP BY b.doc_id ORDER BY b.doc_id"""),
    doc = "DSIR importance weights — hashed-bucket ratios, integer-exact scores")

  /** q145 — exact n-gram eval-set decontamination (the GPT-3 appendix-C
    * / Lee et al. 2022 protocol): flag every training document sharing
    * any exact 5-gram with the held-out eval slice (source = 'src1').
    *
    * Scale: grams leave the scan as 60-bit md5 prefixes (BIGINT), never
    * text; the eval side is the small side by construction (eval sets
    * are thousands of docs), so its distinct gram-hash set broadcasts
    * and the corpus is scanned once with no shuffle of gram data at
    * all — the count aggregate shuffles (doc_id, n) pairs only. */
  val q145 = Q(
    "q145_ngram_decontam",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 5)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(toks) - 5),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"""))
          .as("gram"))
        .select($"doc_id",
          conv(substring(md5($"gram"), 1, 15), 16, 10).cast(LongType).as("gh"))
      val evalGrams = grams(docs.filter($"source" === "src1"))
        .select($"gh").distinct()
      val hits = grams(docs.filter($"source" =!= "src1"))
        .join(broadcast(evalGrams), "gh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      docs.filter($"source" =!= "src1").select($"doc_id")
        .join(hits, Seq("doc_id"), "left_outer")
        .select($"doc_id", coalesce($"n_hits", lit(0L)).as("n_hits"),
          (coalesce($"n_hits", lit(0L)) > 0).as("tainted"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, source, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, source, string_split(text, ' ') AS l
                       FROM documents)),
      g AS (SELECT t1.doc_id, t1.source,
              CAST(('0x' || substr(md5(t1.term || ' ' || t2.term || ' ' ||
                t3.term || ' ' || t4.term || ' ' || t5.term), 1, 15)) AS BIGINT) AS gh
            FROM t t1
            JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
            JOIN t t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
            JOIN t t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3
            JOIN t t5 ON t1.doc_id = t5.doc_id AND t5.pos = t1.pos + 4),
      ev AS (SELECT DISTINCT gh FROM g WHERE source = 'src1'),
      hits AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
               FROM g JOIN ev ON g.gh = ev.gh
               WHERE g.source <> 'src1' GROUP BY 1)
      SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
             COALESCE(h.n_hits, 0) > 0 AS tainted
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.source <> 'src1' ORDER BY d.doc_id"""),
    doc = "exact 5-gram decontamination — hashed grams, broadcast eval side")

  /** q146 — k-core curation of the co-purchase graph (same hourly
    * clique-union edges as q108/q109): every user with their raw
    * degree, whether they survive the 3-core peel, and their degree
    * inside the core. See [[graft.operators.KCore]] for the peel's
    * convergence contract; the DuckDB twin unrolls 6 peel rounds,
    * which equals the fixpoint because peeling rounds past convergence
    * are no-ops (Spark asserts convergence within the same bound). */
  val q146 = Q(
    "q146_kcore_curation",
    (s, dir) => {
      import s.implicits._
      val hp = Tables(s, dir, "events")
        .filter($"event_type" === "purchase" && $"user_id" < 100)
        .select(date_trunc("hour", $"ts").as("h"), $"user_id")
        .distinct()
      val edges = hp.as("a").join(hp.as("b"),
          $"a.h" === $"b.h" && $"a.user_id" < $"b.user_id")
        .select($"a.user_id".as("u"), $"b.user_id".as("v"))
        .distinct()
      val core = graft.operators.KCore.peel(edges, "u", "v", k = 3, maxRounds = 6)
      val deg0 = edges.select($"u".as("node"))
        .unionByName(edges.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg0"))
      deg0.join(core, Seq("node"), "left_outer")
        .select($"node".as("user_id"), $"deg0",
          $"core_deg".isNotNull.as("in_core"),
          coalesce($"core_deg", lit(0L)).as("core_deg"))
        .orderBy($"user_id")
    },
    Some {
      val peelRound = (i: Int) => {
        val prev = if (i == 1) "a0" else s"a${i - 1}"
        s"""a$i AS (SELECT s.u AS node FROM sym s
             JOIN $prev x ON s.u = x.node JOIN $prev y ON s.v = y.node
             GROUP BY 1 HAVING COUNT(*) >= 3)"""
      }
      s"""
      WITH hp AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
                  WHERE event_type = 'purchase' AND user_id < 100),
      e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM hp a JOIN hp b ON a.h = b.h AND a.user_id < b.user_id),
      sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      a0 AS (SELECT DISTINCT u AS node FROM sym),
      ${(1 to 6).map(peelRound).mkString(",\n      ")},
      fd AS (SELECT s.u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM sym s
             JOIN a6 x ON s.u = x.node JOIN a6 y ON s.v = y.node GROUP BY 1),
      d0 AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg0 FROM sym GROUP BY 1)
      SELECT d0.node AS user_id, d0.deg0, fd.node IS NOT NULL AS in_core,
             COALESCE(fd.core_deg, 0) AS core_deg
      FROM d0 LEFT JOIN fd ON d0.node = fd.node ORDER BY user_id"""
    },
    doc = "3-core peel over the co-purchase graph — unrolled-round oracle twin")

  /** q147 — collocation mining by integer lift (Church & Hanks 1990's
    * association ratio, with PMI's log dropped so the statistic is
    * exact): lift = P(w1 w2) / (P(w1)·P(w2)) scaled to
    * (n_ab · N · 1000) DIV (n_a · n_b), min support 5, top 50.
    *
    * Scale (r5 verdict item, implemented): ONE corpus scan emits tagged
    * unigrams and bigrams through a single (typ, gram) count shuffle;
    * unigram counts then join the bigram counts as a plain equi-join on
    * the gram's first/second word with NO broadcast hint — AQE ships
    * the vocabulary while it fits the broadcast threshold (every test
    * SF) and falls back to a shuffle equi-join on compact (word, count)
    * aggregates when a billion-term vocabulary outgrows executor
    * memory. Only the 1-row corpus total keeps an unconditional hint.
    * The 1000-scaled integer lift overflows BIGINT only past ~1e15
    * tokens; at that scale move the product to DECIMAL(38,0) — noted,
    * not needed at any test SF. */
  val q147 = Q(
    "q147_collocations",
    (s, dir) => {
      import s.implicits._
      val toks = split($"text", " ")
      val counts = Tables(s, dir, "documents")
        .select(explode(concat(
          transform(toks, t => struct(lit("u").as("typ"), t.as("gram"))),
          zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(lit("b").as("typ"),
              concat_ws(" ", a, b).as("gram"))))).as("g"))
        .select($"g.typ".as("typ"), $"g.gram".as("gram"))
        .groupBy($"typ", $"gram").agg(count(lit(1)).as("n"))
      val uni = counts.filter($"typ" === "u").select($"gram".as("term"), $"n".as("nw"))
      val tot = uni.agg(sum($"nw").as("n_total"))
      counts.filter($"typ" === "b" && $"n" >= 5)
        .select($"gram".as("bigram"), $"n".as("n_ab"),
          split($"gram", " ").getItem(0).as("w1"),
          split($"gram", " ").getItem(1).as("w2"))
        .join(uni.select($"term".as("w1"), $"nw".as("nw1")), "w1")
        .join(uni.select($"term".as("w2"), $"nw".as("nw2")), "w2")
        .crossJoin(broadcast(tot))
        .select($"bigram", $"n_ab",
          expr("(n_ab * n_total * 1000) DIV (nw1 * nw2)").as("lift"))
        .orderBy($"lift".desc, $"bigram".asc).limit(50)
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      uni AS (SELECT term, COUNT(*) AS nw FROM t GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_total FROM t),
      big AS (SELECT t1.term AS w1, t2.term AS w2, COUNT(*) AS n_ab
              FROM t t1 JOIN t t2
                ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
              GROUP BY 1, 2)
      SELECT w1 || ' ' || w2 AS bigram, CAST(n_ab AS BIGINT) AS n_ab,
             CAST((n_ab * n_total * 1000) // (a.nw * b.nw) AS BIGINT) AS lift
      FROM big JOIN uni a ON big.w1 = a.term JOIN uni b ON big.w2 = b.term
      CROSS JOIN tot
      WHERE n_ab >= 5 ORDER BY lift DESC, bigram LIMIT 50"""),
    doc = "collocation lift — one tagged explode, one count shuffle, integer lift")

  /** q148 — k-anonymity generalization audit (Sweeney 2002): for each
    * quasi-identifier combo (nation, market segment, account-balance
    * band) report its population and the minimal generalization level
    * at which it meets k = 5 — 0: full combo, 1: drop the band,
    * 2: nation only, 3: unmeetable below global. The release-prep
    * audit a pipeline runs before publishing user-derived data.
    *
    * Scale: three aggregates over progressively coarser keys (the
    * coarser two are value-domain-sized and broadcast back); the fact
    * table shuffles once on the finest key. */
  val q148 = Q(
    "q148_k_anonymity",
    (s, dir) => {
      import s.implicits._
      val cust = Tables(s, dir, "customer")
        .select($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000.0).cast(LongType).as("bal_band"))
      val l0 = cust.groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
        .agg(count(lit(1)).as("n0"))
      val l1 = cust.groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n1"))
      val l2 = cust.groupBy($"c_nationkey").agg(count(lit(1)).as("n2"))
      l0.join(broadcast(l1), Seq("c_nationkey", "c_mktsegment"))
        .join(broadcast(l2), Seq("c_nationkey"))
        .select($"c_nationkey", $"c_mktsegment", $"bal_band", $"n0",
          when($"n0" >= 5, 0).when($"n1" >= 5, 1).when($"n2" >= 5, 2)
            .otherwise(3).as("anon_level"))
        .orderBy($"c_nationkey", $"c_mktsegment", $"bal_band")
    },
    Some("""
      WITH c AS (SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
                 FROM customer),
      l0 AS (SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS n0
             FROM c GROUP BY 1, 2, 3),
      l1 AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n1 FROM c GROUP BY 1, 2),
      l2 AS (SELECT c_nationkey, COUNT(*) AS n2 FROM c GROUP BY 1)
      SELECT l0.c_nationkey, l0.c_mktsegment, l0.bal_band,
             CAST(l0.n0 AS BIGINT) AS n0,
             CASE WHEN l0.n0 >= 5 THEN 0 WHEN l1.n1 >= 5 THEN 1
                  WHEN l2.n2 >= 5 THEN 2 ELSE 3 END AS anon_level
      FROM l0 JOIN l1 ON l0.c_nationkey = l1.c_nationkey
                     AND l0.c_mktsegment = l1.c_mktsegment
              JOIN l2 ON l0.c_nationkey = l2.c_nationkey
      ORDER BY l0.c_nationkey, l0.c_mktsegment, l0.bal_band"""),
    doc = "k-anonymity ladder — three coarsening aggregates, one fact shuffle")

  /** q149 — sampled closeness centrality (Lin's index form, integer):
    * exact hop distances from a seed sample (every 20th user) over the
    * co-purchase graph via ONE tagged multi-source BFS
    * ([[graft.operators.Bfs.distancesPerSource]]), then per seed:
    * nodes reached within 6 hops, total distance, and scaled closeness
    * (n_reached·1e6 DIV total_dist). The oracle derives distances
    * independently through a recursive BFS CTE — it checks the
    * traversal, not a mirror of it (q119's independence principle).
    *
    * Scale: one BFS costs 6 rounds regardless of seed count (frontier
    * rows carry the seed tag); state is bounded by seeds x nodes, so
    * keep seeds a sample — which is exactly how closeness is estimated
    * on large graphs (Eppstein–Wang). */
  val q149 = Q(
    "q149_closeness_sample",
    (s, dir) => {
      import s.implicits._
      val hp = Tables(s, dir, "events")
        .filter($"event_type" === "purchase" && $"user_id" < 100)
        .select(date_trunc("hour", $"ts").as("h"), $"user_id")
        .distinct()
      val edges = hp.as("a").join(hp.as("b"),
          $"a.h" === $"b.h" && $"a.user_id" < $"b.user_id")
        .select($"a.user_id".as("u"), $"b.user_id".as("v"))
        .distinct()
      val seeds = edges.select($"u".as("node"))
        .unionByName(edges.select($"v".as("node")))
        .distinct()
        .filter($"node" % 20 === 0)
        .select($"node".as("seed"), $"node")
      graft.operators.Bfs
        .distancesPerSource(seeds, "seed", "node", edges, "u", "v", maxHops = 6)
        .groupBy($"seed")
        .agg((count(lit(1)) - 1).as("n_reached"), sum($"dist").as("total_dist"))
        .select($"seed", $"n_reached", $"total_dist",
          expr("(n_reached * 1000000) DIV total_dist").as("closeness_micro"))
        .orderBy($"seed")
    },
    Some("""
      WITH RECURSIVE hp AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
                            FROM events WHERE event_type = 'purchase' AND user_id < 100),
      e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM hp a JOIN hp b ON a.h = b.h AND a.user_id < b.user_id),
      sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      seeds AS (SELECT DISTINCT u AS seed FROM sym WHERE u % 20 = 0),
      bfs AS (
        SELECT seed, seed AS node, 0 AS dist FROM seeds
        UNION
        SELECT b.seed, s.v AS node, b.dist + 1 AS dist
        FROM bfs b JOIN sym s ON b.node = s.u
        WHERE b.dist < 6),
      d AS (SELECT seed, node, MIN(dist) AS dist FROM bfs GROUP BY 1, 2)
      SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
             CAST(SUM(dist) AS BIGINT) AS total_dist,
             CAST(CAST((COUNT(*) - 1) * 1000000 AS BIGINT) //
                  CAST(SUM(dist) AS BIGINT) AS BIGINT) AS closeness_micro
      FROM d GROUP BY seed ORDER BY seed"""),
    doc = "sampled closeness — one tagged BFS for all seeds, recursive-CTE oracle")

  /** q150 — per-source dataset datasheet (Gebru et al. 2021,
    * "Datasheets for Datasets" — the stats block): one pass emits doc
    * count, token count, exact median tokens, intra-source exact-dup
    * doc count, and integer chars-per-token. The release artifact a
    * corpus pipeline publishes next to every training mix.
    *
    * Scale: everything aggregates before any wide operation — the
    * median comes from a (source, n_tokens) distinct-value summary
    * (the q130 device; the window runs over the summary, never rows),
    * dups from a (source, md5) count. Raw text never shuffles. */
  val q150 = Q(
    "q150_source_datasheet",
    (s, dir) => {
      import s.implicits._
      val base = Tables(s, dir, "documents")
        .select($"source", $"n_chars",
          size(split($"text", " ")).as("ntok"), md5($"text").as("th"))
      val totals = base.groupBy($"source").agg(
        count(lit(1)).as("doc_count"),
        sum($"ntok").as("token_count"),
        sum($"n_chars").as("char_count"))
      val dups = base.groupBy($"source", $"th")
        .agg(count(lit(1)).as("c"))
        .filter($"c" >= 2)
        .groupBy($"source").agg(sum($"c").as("dup_docs"))
      val lens = base.groupBy($"source", $"ntok").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"source").orderBy($"ntok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p50 = lens
        .withColumn("cum", sum($"c").over(w))
        .withColumn("n", sum($"c").over(Window.partitionBy($"source")))
        .filter($"cum" * 2 >= $"n")
        .groupBy($"source").agg(min($"ntok").as("p50_tokens"))
      totals.join(p50, Seq("source"))
        .join(dups, Seq("source"), "left_outer")
        .select($"source", $"doc_count", $"token_count", $"p50_tokens",
          coalesce($"dup_docs", lit(0L)).as("dup_docs"),
          expr("(char_count * 1000) DIV token_count").as("chars_per_token_milli"))
        .orderBy($"source")
    },
    Some("""
      WITH base AS (SELECT source, n_chars,
                      len(string_split(text, ' ')) AS ntok, md5(text) AS th
                    FROM documents),
      totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_count,
                   CAST(SUM(ntok) AS BIGINT) AS token_count,
                   CAST(SUM(n_chars) AS BIGINT) AS char_count
                 FROM base GROUP BY 1),
      dups AS (SELECT source, CAST(SUM(c) AS BIGINT) AS dup_docs FROM
                 (SELECT source, th, COUNT(*) AS c FROM base GROUP BY 1, 2)
               WHERE c >= 2 GROUP BY 1),
      lens AS (SELECT source, ntok, COUNT(*) AS c FROM base GROUP BY 1, 2),
      cums AS (SELECT source, ntok,
                 SUM(c) OVER (PARTITION BY source ORDER BY ntok
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY source) AS n
               FROM lens),
      p50 AS (SELECT source, MIN(ntok) AS p50_tokens FROM cums
              WHERE cum * 2 >= n GROUP BY 1)
      SELECT t.source, t.doc_count, t.token_count, p50.p50_tokens,
             COALESCE(d.dup_docs, 0) AS dup_docs,
             (t.char_count * 1000) // t.token_count AS chars_per_token_milli
      FROM totals t JOIN p50 ON t.source = p50.source
      LEFT JOIN dups d ON t.source = d.source
      ORDER BY t.source"""),
    doc = "dataset datasheet — summary-only aggregation, text never shuffles")

  /** q151 — cross-source contamination matrix: for every source pair,
    * how many DISTINCT exact 5-grams they share — the provenance audit
    * behind "which crawls copied which" and mix-deduplication planning
    * (the pairwise generalization of q145's one-vs-eval protocol).
    *
    * Scale: grams reduce to distinct (source, 60-bit hash) pairs before
    * the self-join, so join input is bounded by vocabulary x sources,
    * not corpus size; a gram shared by s sources fans out to s·(s-1)/2
    * pairs — bounded by the SOURCE count squared per gram, never by
    * corpus size (20 sources → ≤190 rows per gram; cap or sample
    * sources if a deployment has millions of them). */
  val q151 = Q(
    "q151_source_overlap",
    (s, dir) => {
      import s.implicits._
      val grams = Tables(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 5)
        .select($"source", explode(expr(
          """transform(sequence(0, size(toks) - 5),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"""))
          .as("gram"))
        .select($"source",
          conv(substring(md5($"gram"), 1, 15), 16, 10).cast(LongType).as("gh"))
        .distinct()
      grams.as("a").join(grams.as("b"),
          $"a.gh" === $"b.gh" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"src_a", $"src_b")
    },
    Some("""
      WITH t AS (SELECT doc_id, source, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, source, string_split(text, ' ') AS l
                       FROM documents)),
      g AS (SELECT DISTINCT t1.source,
              CAST(('0x' || substr(md5(t1.term || ' ' || t2.term || ' ' ||
                t3.term || ' ' || t4.term || ' ' || t5.term), 1, 15)) AS BIGINT) AS gh
            FROM t t1
            JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
            JOIN t t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
            JOIN t t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3
            JOIN t t5 ON t1.doc_id = t5.doc_id AND t5.pos = t1.pos + 4)
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "source-pair 5-gram overlap — distinct compact hashes, bounded fan-out")

  /** Unrolled integer-TrustRank iteration CTE: i{k} from i{k-1} —
    * q109's prIter device with the teleport restricted to seeds. */
  private def trIter(k: Int): String = {
    val prev = if (k == 1) "r0" else s"i${k - 1}"
    s"""i$k AS (
      SELECT nd.node,
        CAST(CASE WHEN nd.node < 10
               THEN ((1000000000000 * 15) // 100) // (SELECT COUNT(*) FROM seeds)
               ELSE 0 END +
             (COALESCE(s.s, 0) * 85) // 100 AS BIGINT) AS r
      FROM nodes nd LEFT JOIN (
        SELECT e.dst, CAST(SUM(r.r // od.od) AS BIGINT) AS s
        FROM ed e JOIN od ON e.src = od.src JOIN $prev r ON r.node = e.src
        GROUP BY e.dst) s ON s.dst = nd.node)"""
  }

  /** q152 — TrustRank over the co-purchase graph (Gyöngyi et al. 2004):
    * trusted seeds = users 0–9; after 5 exact integer rounds every
    * user carries trust mass proportional to their link-proximity to
    * the seed set — the spam-demotion signal a crawl-corpus pipeline
    * feeds into source quality weighting (q128/q144's inputs). See
    * [[graft.operators.PageRank.trustMicro]] for the integer contract;
    * the oracle unrolls the same 5 rounds (q109's device). */
  val q152 = Q(
    "q152_trustrank",
    (s, dir) => {
      import s.implicits._
      val hp = Tables(s, dir, "events")
        .filter($"event_type" === "purchase" && $"user_id" < 100)
        .select(date_trunc("hour", $"ts").as("h"), $"user_id")
        .distinct()
      val edges = hp.as("a").join(hp.as("b"),
          $"a.h" === $"b.h" && $"a.user_id" < $"b.user_id")
        .select($"a.user_id".as("u"), $"b.user_id".as("v"))
        .distinct()
      val sym = edges.unionByName(edges.select($"v".as("u"), $"u".as("v")))
      val nodes = sym.select($"u".as("user_id")).distinct()
      val seeds = nodes.filter($"user_id" < 10)
      graft.operators.PageRank
        .trustMicro(nodes, "user_id", sym, "u", "v", seeds, "user_id", iters = 5)
        .orderBy($"user_id")
    },
    Some(s"""
      WITH hp AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
                  WHERE event_type = 'purchase' AND user_id < 100),
      e0 AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
             FROM hp a JOIN hp b ON a.h = b.h AND a.user_id < b.user_id),
      ed AS (SELECT u AS src, v AS dst FROM e0
             UNION ALL SELECT v, u FROM e0),
      nodes AS (SELECT DISTINCT src AS node FROM ed),
      seeds AS (SELECT node FROM nodes WHERE node < 10),
      od AS (SELECT src, COUNT(*) AS od FROM ed GROUP BY 1),
      r0 AS (SELECT node,
               CASE WHEN node < 10
                 THEN 1000000000000 // (SELECT COUNT(*) FROM seeds)
                 ELSE 0 END AS r
             FROM nodes),
      ${(1 to 5).map(trIter).mkString(",\n      ")}
      SELECT node AS user_id, r AS trust_micro FROM i5 ORDER BY user_id"""),
    doc = "TrustRank — personalized integer PageRank, unrolled-round oracle")

  /** q153 — link prediction by resource allocation (Zhou, Lü & Zhang
    * 2009 — Adamic–Adar's log-free sibling, hence exactly computable):
    * for every 2-hop non-adjacent pair, RA = Σ_{z ∈ common nbrs}
    * 1e6 DIV deg(z); top 50 predicted links. The "users who should
    * know each other" / related-item candidate generator.
    *
    * Scale: wedge generation through middle z costs Σ deg(z)² — the
    * q108 wedge bound without the degree-orientation rescue (RA needs
    * BOTH neighbors of z). At power-law scale, cap or sample hot
    * middles (MinHashLSH's viral-bucket device) — a hub's wedges carry
    * near-zero RA weight (1e6 DIV deg ≈ 0) precisely when they explode,
    * so capping them is principled, not just expedient. All shuffles
    * carry compact ids; the anti-join removes existing edges before
    * scoring. */
  val q153 = Q(
    "q153_link_prediction",
    (s, dir) => {
      import s.implicits._
      val hp = Tables(s, dir, "events")
        .filter($"event_type" === "purchase" && $"user_id" < 100)
        .select(date_trunc("hour", $"ts").as("h"), $"user_id")
        .distinct()
      val edges = hp.as("a").join(hp.as("b"),
          $"a.h" === $"b.h" && $"a.user_id" < $"b.user_id")
        .select($"a.user_id".as("u"), $"b.user_id".as("v"))
        .distinct()
      val sym = edges.unionByName(edges.select($"v".as("u"), $"u".as("v")))
      val deg = sym.groupBy($"u").agg(count(lit(1)).as("d"))
        .select($"u".as("z"), $"d")
      val wedges = sym.as("s1").join(sym.as("s2"),
          $"s1.v" === $"s2.u" && $"s1.u" < $"s2.v")
        .select($"s1.u".as("a"), $"s1.v".as("z"), $"s2.v".as("b"))
      wedges
        .join(edges, wedges("a") === edges("u") && wedges("b") === edges("v"),
          "left_anti")
        .join(deg, "z")
        .groupBy($"a", $"b")
        .agg(count(lit(1)).as("n_common"),
          sum(expr("1000000 DIV d")).as("ra_micro"))
        .orderBy($"ra_micro".desc, $"a".asc, $"b".asc).limit(50)
    },
    Some("""
      WITH hp AS (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
                  WHERE event_type = 'purchase' AND user_id < 100),
      e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM hp a JOIN hp b ON a.h = b.h AND a.user_id < b.user_id),
      sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      deg AS (SELECT u AS z, COUNT(*) AS d FROM sym GROUP BY 1),
      w AS (SELECT s1.u AS a, s1.v AS z, s2.v AS b
            FROM sym s1 JOIN sym s2 ON s1.v = s2.u AND s1.u < s2.v),
      cand AS (SELECT w.a, w.z, w.b FROM w
               WHERE NOT EXISTS (SELECT 1 FROM e
                                 WHERE e.u = w.a AND e.v = w.b))
      SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(1000000 // d.d) AS BIGINT) AS ra_micro
      FROM cand c JOIN deg d ON c.z = d.z
      GROUP BY 1, 2 ORDER BY ra_micro DESC, a, b LIMIT 50"""),
    doc = "resource-allocation link prediction — wedge join, integer RA weights")

  /** SQL-standard ntile(t) from (rn, n) by big-buckets-first integer
    * math (q25's device): b = n div t, r = n mod t. */
  private def ntileExpr(rn: String, t: Int): org.apache.spark.sql.Column =
    expr(s"CAST(CASE WHEN $rn <= r * (b + 1) THEN ($rn + b) div (b + 1) " +
      s"ELSE r + ($rn - r * (b + 1) + b - 1) div b END AS INT)")

  /** q154 — RFM quintile scoring (Hughes 1994's segmentation staple):
    * per purchasing user, recency days / frequency / monetary cents,
    * each scored into ascending quintiles (invert per convention at
    * the call site). Money is rounded to cents PER EVENT before the
    * sum, so the total is an exact integer in any aggregation order.
    *
    * Scale: the user frame is aggregate-sized; each quintile rank is a
    * weight-1 [[graft.operators.PrefixScan]] (q138's empty-group
    * global form) — three data shuffles of (user, measures), never a
    * one-task global ntile window. */
  val q154 = Q(
    "q154_rfm_scores",
    (s, dir) => {
      import s.implicits._
      import graft.operators.PrefixScan
      val users = Tables(s, dir, "events")
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(
          datediff(lit("2024-02-01").cast("date"), to_date(max($"ts")))
            .cast(LongType).as("r_days"),
          count(lit(1)).as("f_n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("m_cents"))
        .withColumn("one", lit(1L))
      val s1 = PrefixScan.inclusive(users, Nil, "r_days", Seq("user_id"),
        "one", _ / 4, "rn_r", Some("n"))
      val s2 = PrefixScan.inclusive(s1, Nil, "f_n", Seq("user_id"),
        "one", _ / 4, "rn_f")
      val s3 = PrefixScan.inclusive(s2, Nil, "m_cents", Seq("user_id"),
        "one", _ / 65536, "rn_m")
      s3.withColumn("b", expr("n div 5")).withColumn("r", expr("n % 5"))
        .select($"user_id", $"r_days", $"f_n", $"m_cents",
          ntileExpr("rn_r", 5).as("r_q"),
          ntileExpr("rn_f", 5).as("f_q"),
          ntileExpr("rn_m", 5).as("m_q"))
        .orderBy($"user_id")
    },
    Some("""
      WITH u AS (SELECT user_id,
          CAST(date_diff('day', CAST(MAX(ts) AS DATE), DATE '2024-02-01') AS BIGINT) AS r_days,
          CAST(COUNT(*) AS BIGINT) AS f_n,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT user_id, r_days, f_n, m_cents,
        ntile(5) OVER (ORDER BY r_days, user_id) AS r_q,
        ntile(5) OVER (ORDER BY f_n, user_id) AS f_q,
        ntile(5) OVER (ORDER BY m_cents, user_id) AS m_q
      FROM u ORDER BY user_id"""),
    doc = "RFM quintiles — per-event cent rounding, PrefixScan global ranks")

  /** q155 — smoothed target encoding (the Micci-Barreca 2001 device
    * behind CatBoost-style categorical features): encode each
    * (nation, segment) by (Σ target + m·prior) DIV (n + m), m = 10,
    * prior = global mean — all in exact integer cents, so the encoding
    * is reproducible across engines and reprocessing runs (a feature
    * store requirement). Truncating DIV agrees between Spark (`div`)
    * and DuckDB (`//`): both truncate toward zero, negatives included.
    *
    * Scale: one fact aggregate + a 1-row global prior broadcast. */
  val q155 = Q(
    "q155_target_encoding",
    (s, dir) => {
      import s.implicits._
      val g = Tables(s, dir, "customer")
        .groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("sum_cents"))
      val prior = g.agg(
        expr("CAST(sum(sum_cents) DIV sum(n) AS BIGINT)").as("prior_cents"))
      g.crossJoin(broadcast(prior))
        .select($"c_nationkey", $"c_mktsegment", $"n",
          expr("CAST((sum_cents + 10 * prior_cents) DIV (n + 10) AS BIGINT)")
            .as("enc_cents"))
        .orderBy($"c_nationkey", $"c_mktsegment")
    },
    Some("""
      WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM customer GROUP BY 1, 2),
      p AS (SELECT CAST(SUM(sum_cents) // SUM(n) AS BIGINT) AS prior_cents FROM g)
      SELECT c_nationkey, c_mktsegment, n,
        CAST((sum_cents + 10 * prior_cents) // (n + 10) AS BIGINT) AS enc_cents
      FROM g CROSS JOIN p ORDER BY 1, 2"""),
    doc = "smoothed target encoding — exact cents, one aggregate + 1-row prior")

  /** q156 — KNN calibration audit (the reliability-diagram counts of
    * Niculescu-Mizil & Caruana 2005): predict every embedding's label
    * from its 10 nearest neighbors (q51's vote), then bin by vote
    * count and report accuracy per confidence bin — does 9/10 votes
    * actually mean ~90%? The model-eval gate a labeling pipeline runs
    * before trusting KNN-propagated labels.
    *
    * Scale: exact all-pairs KNN is O(N²) BY DESIGN here — calibration
    * runs on an eval-set-sized sample (audit data, not corpus); the
    * corpus-scale path swaps the crossJoin for IVF probes (q69). The
    * vote/bin stages are aggregate-sized. */
  val q156 = Q(
    "q156_knn_calibration",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings")
      // norms once per VECTOR, not per pair: cos = dot / (qn * en) is the
      // SAME IEEE expression tree as VectorOps.cosine, factored out of
      // the O(N²) pair loop (3x flop cut, bit-identical values)
      val queries = emb.select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("true_label"),
        sqrt(VectorOps.normSq($"embedding")).as("qn"))
      val corpus = emb.select($"vec_id", $"label", $"embedding",
        sqrt(VectorOps.normSq($"embedding")).as("en"))
      val wVote = Window.partitionBy($"q_id").orderBy($"votes".desc, $"label".asc)
      // top-10 via the bounded TopKScored aggregate, NOT a window: the
      // window form shuffles all N² candidate pairs to sort each
      // q_id's 5k candidates; the aggregate keeps 10 per (q_id,
      // mapper) map-side, so the shuffle is ~N·10 rows. Total order
      // (cos DESC, vec_id ASC) makes it bit-identical to the window.
      implicit val inEnc = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long, Long)]()
      val topk = udaf(new graft.functions.TopKScored(10))
      corpus.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("cos", VectorOps.dot($"q_vec", $"embedding") / ($"qn" * $"en"))
        .groupBy($"q_id", $"true_label")
        .agg(topk($"cos", $"vec_id", $"label".cast(LongType)).as("nn"))
        .select($"q_id", $"true_label", explode($"nn.tag").as("label"))
        .groupBy($"q_id", $"true_label", $"label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote)).filter($"vr" === 1)
        .groupBy($"votes".as("vote_n"))
        .agg(count(lit(1)).as("n"),
          count(when($"label" === $"true_label", 1)).as("n_correct"))
        .select($"vote_n", $"n", $"n_correct",
          expr("(n_correct * 1000) DIV n").as("acc_milli"))
        .orderBy($"vote_n")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS true_label
                 FROM embeddings),
      pairs AS (SELECT q.q_id, q.true_label, e.vec_id, e.label,
                  ${duckDot("q.q_vec", "e.embedding")} /
                    (sqrt(${duckDot("q.q_vec", "q.q_vec")}) *
                     sqrt(${duckDot("e.embedding", "e.embedding")})) AS cos
                FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      nn AS (SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, vec_id ASC) AS rn FROM pairs),
      votes AS (SELECT q_id, true_label, label, COUNT(*) AS votes
                FROM nn WHERE rn <= 10 GROUP BY 1, 2, 3),
      win AS (SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY votes DESC, label ASC) AS vr FROM votes)
      SELECT votes AS vote_n, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE label = true_label) AS BIGINT) AS n_correct,
             CAST((COUNT(*) FILTER (WHERE label = true_label) * 1000)
                  // COUNT(*) AS BIGINT) AS acc_milli
      FROM win WHERE vr = 1 GROUP BY votes ORDER BY vote_n"""),
    doc = "KNN reliability diagram — audit-sized exact KNN, aggregate bins")

  /** q157 — distribution drift report (the total-variation sibling of
    * PSI — PSI's log term can't hash-match, TV distance is exact
    * integer ppm): compare event-type mix and value-band mix between
    * the first and second half of the month; per (feature, key):
    * counts, shares in ppm, absolute drift in ppm. The monitoring
    * gate a pipeline evaluates before auto-retraining on new data.
    *
    * Scale: two value-domain-sized aggregates + per-feature totals
    * broadcast back; the fact table is scanned once and shuffles only
    * combined (feature, key, half) partials. */
  val q157 = Q(
    "q157_drift_report",
    (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .withColumn("half",
          when($"ts" < lit("2024-01-16 00:00:00").cast("timestamp"), 1)
            .otherwise(2))
      val typed = ev.select(lit("event_type").as("feature"),
        $"event_type".as("key"), $"half")
      val banded = ev.select(lit("value_band").as("feature"),
        floor($"value" / 50).cast(LongType).cast(StringType).as("key"), $"half")
      val counts = typed.unionByName(banded)
        .groupBy($"feature", $"key")
        .agg(sum(when($"half" === 1, 1L).otherwise(0L)).as("n_first"),
          sum(when($"half" === 2, 1L).otherwise(0L)).as("n_second"))
      val totals = counts.groupBy($"feature")
        .agg(sum($"n_first").as("t1"), sum($"n_second").as("t2"))
      counts.join(broadcast(totals), "feature")
        .select($"feature", $"key", $"n_first", $"n_second",
          expr("(n_first * 1000000) DIV t1").as("p_first_ppm"),
          expr("(n_second * 1000000) DIV t2").as("p_second_ppm"))
        .withColumn("drift_ppm", abs($"p_first_ppm" - $"p_second_ppm"))
        .orderBy($"feature", $"key")
    },
    Some("""
      WITH ev AS (SELECT *, CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 2 END AS half FROM events),
      u AS (SELECT 'event_type' AS feature, event_type AS key, half FROM ev
            UNION ALL
            SELECT 'value_band', CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR),
                   half FROM ev),
      counts AS (SELECT feature, key,
          CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
          CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
        FROM u GROUP BY 1, 2),
      totals AS (SELECT feature, SUM(n_first) AS t1, SUM(n_second) AS t2
                 FROM counts GROUP BY 1)
      SELECT c.feature, c.key, c.n_first, c.n_second,
             CAST((c.n_first * 1000000) // t.t1 AS BIGINT) AS p_first_ppm,
             CAST((c.n_second * 1000000) // t.t2 AS BIGINT) AS p_second_ppm,
             CAST(abs((c.n_first * 1000000) // t.t1 -
                      (c.n_second * 1000000) // t.t2) AS BIGINT) AS drift_ppm
      FROM counts c JOIN totals t ON c.feature = t.feature
      ORDER BY c.feature, c.key"""),
    doc = "TV-distance drift report — domain-sized summaries, single fact scan")

  /** q158 — A/B experiment report with a two-proportion z-score: arms
    * assigned by hash bucket (md5(user) % 2 — the q67 split device,
    * which IS how production experiment assignment works: sticky,
    * stateless, uniform), conversion = a purchase over 150 (a
    * non-saturating event — pooled p in {0,1} makes z undefined, and
    * "any purchase" saturates on this corpus). Counts are exact
    * integers; the z statistic is one FIXED-ORDER IEEE chain written
    * textually identically in both engines (q94's device — sqrt is
    * exactly rounded, so the whole chain is bit-identical), then
    * micro-rounded to a BIGINT.
    *
    * Scale: two aggregates over (user, arm) — assignment is a pure
    * projection, no experiment-assignment table to join. */
  val q158 = Q(
    "q158_ab_test",
    (s, dir) => {
      import s.implicits._
      val zExpr = Mining.zMicroSql
      Tables(s, dir, "events")
        .select($"user_id", $"event_type", $"value",
          (conv(substring(md5(concat($"user_id".cast(StringType), lit(":ab"))),
            1, 4), 16, 10).cast(IntegerType) % 2).as("arm"))
        .groupBy($"user_id", $"arm")
        .agg(max(when($"event_type" === "purchase" && $"value" > 150, 1L)
          .otherwise(0L)).as("conv"))
        .agg(
          count(when($"arm" === 0, 1)).as("n1"),
          sum(when($"arm" === 0, $"conv").otherwise(0L)).as("c1"),
          count(when($"arm" === 1, 1)).as("n2"),
          sum(when($"arm" === 1, $"conv").otherwise(0L)).as("c2"))
        .select($"n1", $"c1", $"n2", $"c2",
          expr("(c1 * 1000000) DIV n1").as("p1_ppm"),
          expr("(c2 * 1000000) DIV n2").as("p2_ppm"),
          expr(zExpr).as("z_micro"))
    },
    Some(s"""
      WITH u AS (SELECT user_id,
          CAST(('0x' || substr(md5(user_id || ':ab'), 1, 4)) AS INT) % 2 AS arm,
          MAX(CASE WHEN event_type = 'purchase' AND value > 150
              THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1, 2),
      agg AS (SELECT
          CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n1,
          CAST(SUM(conv) FILTER (WHERE arm = 0) AS BIGINT) AS c1,
          CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n2,
          CAST(SUM(conv) FILTER (WHERE arm = 1) AS BIGINT) AS c2
        FROM u)
      SELECT n1, c1, n2, c2,
        (c1 * 1000000) // n1 AS p1_ppm,
        (c2 * 1000000) // n2 AS p2_ppm,
        ${Mining.zMicroSql} AS z_micro
      FROM agg"""),
    doc = "A/B report — hash-bucket arms, exact counts, IEEE-chain z-score")

  /** q159 — golden-record survivorship (the MDM merge step that follows
    * entity resolution): cluster documents whose 5-gram overlap is
    * strong (>= 10 distinct shared grams — true near-dup copies, not
    * chance collisions) with [[graft.operators.ConnectedComponents]],
    * then resolve each cluster to ONE record by survivorship rules:
    * canonical id = min, source/lang = majority (ties lexicographic),
    * n_chars = max. Complements q82 (which finds clusters) with the
    * attribute-resolution step a warehouse actually ships.
    *
    * Scale: the pair graph is built from distinct (doc, gram-hash)
    * pairs with a support floor — candidate edges are overlap-heavy
    * near-dups only, so the CC input is a tiny fraction of the corpus;
    * majority rules are mode-per-group rank idioms over cluster-sized
    * aggregates.
    *
    * r7: gram hashing reuses [[MinHashLSH]]'s token-md5 + base-31
    * polynomial scheme (q107's device, same DuckDB twin CTEs) instead
    * of md5 over each concatenated 5-gram STRING — one ~9-char md5 per
    * TOKEN replaces one ~90-char md5 per GRAM, the token-hash array is
    * materialized BEFORE the 5-way polynomial slicing (the Winnowing
    * barrier — otherwise CollapseProject inlines the md5 chain into
    * every slice), and the gram frame is localCheckpointed so the
    * self-join's two sides read it instead of recomputing the chain
    * twice (4.6 → 2.3 s min at sf0.1, output-identical semantics:
    * gram equality under either hash, support floor ≥ 10 makes a
    * spurious 28-bit-collision edge require 10 independent collisions
    * on one doc pair). */
  val q159 = Q(
    "q159_golden_record",
    (s, dir) => {
      import s.implicits._
      import graft.operators.MinHashLSH
      val docs = Tables(s, dir, "documents")
      // token hashes materialized FIRST (the Winnowing barrier): the
      // 5-gram polynomial slices the hts array 5 ways, and without the
      // barrier CollapseProject inlines the md5 chain into every slice
      val hts = docs
        .select($"doc_id", MinHashLSH.tokenHashes($"text").as("hts"))
        .barrier()
      val grams = hts
        .select($"doc_id", explode(array_distinct(
          MinHashLSH.shinglesFromHashes($"hts", 5))).as("gh"))
        .barrier() // two pair-join consumers; polynomial runs once
      val pairs = grams.as("a").join(grams.as("b"),
          $"a.gh" === $"b.gh" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
        .agg(count(lit(1)).as("shared"))
        .filter($"shared" >= 10)
        .select($"a_id", $"b_id")
        .barrier() // the nodes and labelStar's edges both read the self-join
      val nodes = pairs.select($"a_id".as("doc_id"))
        .unionByName(pairs.select($"b_id".as("doc_id"))).distinct()
      val comp = graft.operators.ConnectedComponents
        .labelStar(nodes, "doc_id", pairs, "a_id", "b_id")
      val members = comp.join(docs, "doc_id")
      val mode = (attr: String) => {
        val w = Window.partitionBy($"component")
          .orderBy($"cnt".desc, col(attr).asc)
        members.groupBy($"component", col(attr))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("vr", row_number().over(w))
          .filter($"vr" === 1)
          .select($"component", col(attr).as(s"${attr}_win"))
      }
      members.groupBy($"component")
        .agg(min($"doc_id").as("canonical_id"),
          count(lit(1)).as("members"),
          max($"n_chars").as("n_chars"))
        .join(mode("source"), "component")
        .join(mode("lang"), "component")
        .select($"canonical_id", $"members",
          $"source_win".as("source"), $"lang_win".as("lang"), $"n_chars")
        .orderBy($"canonical_id")
    },
    Some(s"""
      WITH RECURSIVE hts AS (SELECT doc_id,
              list_transform(string_split(text, ' '), t ->
                CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)) AS hts
            FROM documents),
      g AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                range(1, greatest(len(hts) - 4, 0) + 1), i ->
                  (((((hts[i] * 31 + hts[i+1]) * 31 + hts[i+2]) * 31
                     + hts[i+3]) * 31 + hts[i+4])) % ${graft.operators.MinHashLSH.Mod}))) AS gh
            FROM hts),
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING COUNT(*) >= 10),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach(node, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lab FROM reach r JOIN edges e ON r.node = e.dst),
      comp AS (SELECT node AS doc_id, MIN(lab) AS component
               FROM reach GROUP BY node),
      mem AS (SELECT c.component, d.doc_id, d.source, d.lang, d.n_chars
              FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
      srcw AS (SELECT component, source FROM (
                 SELECT component, source,
                   row_number() OVER (PARTITION BY component
                     ORDER BY COUNT(*) DESC, source ASC) AS vr
                 FROM mem GROUP BY component, source) WHERE vr = 1),
      langw AS (SELECT component, lang FROM (
                 SELECT component, lang,
                   row_number() OVER (PARTITION BY component
                     ORDER BY COUNT(*) DESC, lang ASC) AS vr
                 FROM mem GROUP BY component, lang) WHERE vr = 1)
      SELECT m.canonical_id, m.members, s.source, l.lang, m.n_chars FROM
        (SELECT component, CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
                CAST(COUNT(*) AS BIGINT) AS members,
                CAST(MAX(n_chars) AS BIGINT) AS n_chars
         FROM mem GROUP BY component) m
        JOIN srcw s ON m.component = s.component
        JOIN langw l ON m.component = l.component
      ORDER BY m.canonical_id"""),
    doc = "MDM survivorship — support-floored pair graph, CC label, mode rules")

  /** q160 — exact two-sample Kolmogorov–Smirnov statistic between the
    * purchase-value distributions of q158's two hash arms: D = max over
    * values of |F1(v) - F2(v)|, the numeric-drift companion to q157's
    * categorical TV distance (and the experimentation guardrail for
    * "same conversion rate, different spend shape"). Exact integers
    * throughout: the max runs over |cum1·n2 - cum2·n1| (cross-scaled
    * cumulative counts — no division until the final ppm render), and
    * the report names the value where the gap peaks.
    *
    * Scale: cents collapse to a distinct-value summary FIRST (q130's
    * device), so the [[graft.operators.PrefixScan]] cumulations run on
    * a value-domain-sized frame and the max is a TakeOrdered(1) — no
    * global sort of raw purchases anywhere. Cross-products cum·n
    * overflow BIGINT only past ~3e9 rows per side; the summary is
    * where you'd move to DECIMAL(38) at that scale. */
  val q160 = Q(
    "q160_ks_test",
    (s, dir) => {
      import s.implicits._
      import graft.operators.PrefixScan
      val summary = Tables(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select(
          (conv(substring(md5(concat($"user_id".cast(StringType), lit(":ab"))),
            1, 4), 16, 10).cast(IntegerType) % 2).as("arm"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy($"cents")
        .agg(count(when($"arm" === 0, 1)).as("c1"),
          count(when($"arm" === 1, 1)).as("c2"))
      val s1 = PrefixScan.inclusive(summary, Nil, "cents", Nil, "c1",
        _ / 5000, "cum1", Some("n1"))
      val s2 = PrefixScan.inclusive(s1, Nil, "cents", Nil, "c2",
        _ / 5000, "cum2", Some("n2"))
      s2.select($"cents", $"n1", $"n2",
          abs($"cum1" * $"n2" - $"cum2" * $"n1").as("gap"))
        .orderBy($"gap".desc, $"cents".asc).limit(1)
        .select($"n1", $"n2", $"cents".as("at_cents"),
          expr("CAST((gap * 1000000) DIV (n1 * n2) AS BIGINT)").as("ks_ppm"))
    },
    Some("""
      WITH p AS (SELECT
          CAST(('0x' || substr(md5(user_id || ':ab'), 1, 4)) AS INT) % 2 AS arm,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      v AS (SELECT cents,
          CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS c1,
          CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS c2
        FROM p GROUP BY 1),
      c AS (SELECT cents,
          SUM(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum1,
          SUM(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum2,
          SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
        FROM v),
      g AS (SELECT cents, n1, n2, abs(cum1 * n2 - cum2 * n1) AS gap FROM c
            ORDER BY gap DESC, cents ASC LIMIT 1)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             cents AS at_cents,
             CAST((gap * 1000000) // (n1 * n2) AS BIGINT) AS ks_ppm
      FROM g"""),
    doc = "exact two-sample KS — value-domain summary, PrefixScan cums, TakeOrdered max")

  /** Benford first-digit expectations, log10(1+1/d) in ppm — public
    * constants (Benford 1938), hardcoded identically in both engines
    * so no log is ever evaluated. */
  private val benfordPpm =
    Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
      6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** q161 — Benford's-law conformance audit (Benford 1938; Nigrini's
    * fraud-detection staple): first-digit distribution of purchase
    * cents vs the log-law expectation, per digit in exact ppm. The
    * data-quality tripwire for fabricated or truncated numeric feeds —
    * a pipeline runs it per source before trusting amounts.
    *
    * Scale: one fact scan → 9-row digit aggregate; the expectation
    * table is a 9-row literal. Nothing else. */
  val q161 = Q(
    "q161_benford_audit",
    (s, dir) => {
      import s.implicits._
      val expected = benfordPpm.toDF("digit", "benford_ppm")
      val digits = Tables(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .filter($"cents" > 0)
        .select(substring($"cents".cast(StringType), 1, 1)
          .cast(IntegerType).as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum($"n").as("total"))
      digits.crossJoin(broadcast(tot))
        .join(broadcast(expected), "digit")
        .select($"digit", $"n",
          expr("(n * 1000000) DIV total").as("obs_ppm"), $"benford_ppm")
        .withColumn("diff_ppm", abs($"obs_ppm" - $"benford_ppm"))
        .orderBy($"digit")
    },
    Some(s"""
      WITH d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events WHERE event_type = 'purchase')
            WHERE cents > 0 GROUP BY 1),
      tot AS (SELECT SUM(n) AS total FROM d),
      b AS (SELECT digit, ppm AS benford_ppm FROM (VALUES
          ${benfordPpm.map { case (d, p) => s"($d, CAST($p AS BIGINT))" }
            .mkString(", ")}) AS t(digit, ppm))
      SELECT d.digit, d.n, CAST((d.n * 1000000) // tot.total AS BIGINT) AS obs_ppm,
             b.benford_ppm,
             CAST(abs((d.n * 1000000) // tot.total - b.benford_ppm) AS BIGINT)
               AS diff_ppm
      FROM d CROSS JOIN tot JOIN b ON d.digit = b.digit
      ORDER BY d.digit"""),
    doc = "Benford audit — hardcoded log-law ppm constants, 9-row aggregate")

  /** Ring positions for consistent hashing: `vnodes` virtual nodes per
    * shard at md5-derived 60-bit points (Karger et al. 1997). */
  private[queries] def ringSql(shards: Int, vnodes: Int): String =
    s"""SELECT s AS shard, CAST(('0x' || substr(md5('shard' || s || ':' || v), 1, 15))
          AS BIGINT) AS pos
        FROM (SELECT unnest(range($shards)) AS s),
             (SELECT unnest(range($vnodes)) AS v)"""

  /** q162 — consistent-hash reshard audit (Karger et al. 1997): assign
    * every document a position on the md5 ring, map it to its
    * clockwise-next virtual node under an 8-shard and a 12-shard ring,
    * and emit the movement matrix — the storage-planning proof that
    * growing the cluster moves ~new/total of the data, not the ~90% a
    * modulo reshard would (ScalaTest pins exactly that comparison).
    *
    * Scale: rings are shards x vnodes rows — always broadcast; the
    * assignment is a broadcast min-over-qualifying-vnodes per doc (an
    * as-of-join shape against a constant table); docs shuffle once per
    * ring on their own ids for the final matrix count. */
  val q162 = Q(
    "q162_reshard_audit",
    (s, dir) => {
      import s.implicits._
      def ring(shards: Int): org.apache.spark.sql.DataFrame =
        (0 until shards).flatMap(sh => (0 until 16).map(v => (sh, sh + ":" + v)))
          .toDF("shard", "sv")
          .select($"shard",
            conv(substring(md5(concat(lit("shard"), $"sv")), 1, 15), 16, 10)
              .cast(LongType).as("pos"))
      def assign(docs: org.apache.spark.sql.DataFrame, shards: Int,
                 outCol: String): org.apache.spark.sql.DataFrame = {
        val r = ring(shards)
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
      val docs = Tables(s, dir, "documents")
        .select($"doc_id",
          conv(substring(md5(concat(lit("doc"), $"doc_id".cast(StringType))),
            1, 15), 16, 10).cast(LongType).as("p"))
      assign(assign(docs, 8, "shard_old"), 12, "shard_new")
        .groupBy($"shard_old", $"shard_new")
        .agg(count(lit(1)).as("docs"))
        .orderBy($"shard_old", $"shard_new")
    },
    Some(s"""
      WITH r8 AS (${ringSql(8, 16)}),
      r12 AS (${ringSql(12, 16)}),
      d AS (SELECT doc_id,
              CAST(('0x' || substr(md5('doc' || doc_id), 1, 15)) AS BIGINT) AS p
            FROM documents),
      w8 AS (SELECT shard FROM r8 ORDER BY pos, shard LIMIT 1),
      w12 AS (SELECT shard FROM r12 ORDER BY pos, shard LIMIT 1),
      a8 AS (SELECT d.doc_id, COALESCE(
               (SELECT r.shard FROM r8 r WHERE r.pos >= d.p
                ORDER BY r.pos, r.shard LIMIT 1),
               (SELECT shard FROM w8)) AS shard_old
             FROM d),
      a12 AS (SELECT d.doc_id, COALESCE(
               (SELECT r.shard FROM r12 r WHERE r.pos >= d.p
                ORDER BY r.pos, r.shard LIMIT 1),
               (SELECT shard FROM w12)) AS shard_new
             FROM d)
      SELECT a8.shard_old, a12.shard_new, CAST(COUNT(*) AS BIGINT) AS docs
      FROM a8 JOIN a12 ON a8.doc_id = a12.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "consistent-hash reshard matrix — broadcast rings, as-of-shaped assignment")

  /** q163 — within-document repetition signals (Rae et al. 2021,
    * Gopher Table A1): per doc, the character fraction covered by the
    * most frequent word 2-gram and the fraction of 5-grams that are
    * duplicates; docs exceeding the published thresholds (20% / 15%)
    * are flagged, reported per source. The self-repetition filter
    * complements q73's length/punct gates and the CROSS-doc dedup
    * family (q54/q55/q82) — a doc can be unique corpus-wide and still
    * be degenerate internally (boilerplate loops, scraper stutter).
    *
    * Scale: two explodes over one scan, both collapsing to per-doc
    * aggregates before any join; the top-2-gram argmax is a
    * `max(struct)` (no per-doc window), and the report is
    * source-cardinality rows. All ratios exact integer ppm. */
  val q163 = Q(
    "q163_repetition_signals",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val base = docs.select($"doc_id", split($"text", " ").as("toks"))
      val topBi = base.filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(toks) - 2),
             i -> concat_ws(' ', toks[i], toks[i+1]))""")).as("gram"))
        .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(max(struct($"cnt", length($"gram").as("glen"), $"gram")).as("m"))
        .select($"doc_id", $"m.cnt".as("top_cnt"), $"m.glen".as("top_len"))
      val dup5 = base.filter(size($"toks") >= 5)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(toks) - 5),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"""))
          .as("g5"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n5"), countDistinct($"g5").as("d5"))
      docs.select($"doc_id", $"source", length($"text").cast(LongType).as("nc"))
        .join(topBi, Seq("doc_id"), "left_outer")
        .join(dup5, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"source",
          coalesce(expr("(top_cnt * top_len * 1000000) DIV nc"), lit(0L))
            .as("top2_ppm"),
          coalesce(expr("((n5 - d5) * 1000000) DIV n5"), lit(0L)).as("dup5_ppm"))
        .withColumn("flagged",
          ($"top2_ppm" > 200000L || $"dup5_ppm" > 150000L).cast(IntegerType))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"flagged").cast(LongType).as("n_flagged"),
          expr("CAST(sum(top2_ppm) DIV count(1) AS BIGINT)").as("avg_top2_ppm"),
          expr("CAST(sum(dup5_ppm) DIV count(1) AS BIGINT)").as("avg_dup5_ppm"))
        .orderBy($"source")
    },
    Some("""
      WITH t AS (SELECT doc_id, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      bi AS (SELECT t1.doc_id, t1.term || ' ' || t2.term AS gram
             FROM t t1 JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
      bc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
      tb AS (SELECT doc_id, cnt AS top_cnt, length(gram) AS top_len FROM (
               SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, length(gram) DESC, gram DESC) AS rr FROM bc)
             WHERE rr = 1),
      fg AS (SELECT t1.doc_id, t1.term || ' ' || t2.term || ' ' || t3.term || ' ' ||
                    t4.term || ' ' || t5.term AS g5
             FROM t t1
             JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
             JOIN t t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
             JOIN t t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3
             JOIN t t5 ON t1.doc_id = t5.doc_id AND t5.pos = t1.pos + 4),
      d5 AS (SELECT doc_id, COUNT(*) AS n5, COUNT(DISTINCT g5) AS d5
             FROM fg GROUP BY 1),
      per AS (SELECT d.doc_id, d.source,
               COALESCE((tb.top_cnt * tb.top_len * 1000000) // length(d.text), 0)
                 AS top2_ppm,
               COALESCE(((d5.n5 - d5.d5) * 1000000) // d5.n5, 0) AS dup5_ppm
             FROM documents d
             LEFT JOIN tb ON d.doc_id = tb.doc_id
             LEFT JOIN d5 ON d.doc_id = d5.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(*) FILTER (WHERE top2_ppm > 200000 OR dup5_ppm > 150000)
          AS BIGINT) AS n_flagged,
        CAST(SUM(top2_ppm) // COUNT(*) AS BIGINT) AS avg_top2_ppm,
        CAST(SUM(dup5_ppm) // COUNT(*) AS BIGINT) AS avg_dup5_ppm
      FROM per GROUP BY source ORDER BY source"""),
    doc = "Gopher repetition gates — per-doc aggregates, max(struct) argmax, ppm-exact")

  /** q164 — temperature-smoothed mixture reweighting (the α = 1/2
    * resampling of Conneau & Lample 2019 / multilingual-corpus
    * practice): per source, natural token share vs the
    * sqrt-temperature share w = floor(sqrt(tokens)), and the boost
    * each source's sampling rate gets. The mixture designer's table —
    * how much the head is suppressed and the tail amplified before an
    * epoch is drawn (Hamilton quota mixing, q112, then realizes the
    * draw).
    *
    * Determinism: IEEE-754 sqrt is correctly rounded in both engines,
    * so floor(sqrt(BIGINT)) is bit-exact cross-engine; every share is
    * integer ppm. Scale: one fact scan to a source-cardinality
    * aggregate; totals broadcast back. */
  val q164 = Q(
    "q164_mixture_reweight",
    (s, dir) => {
      import s.implicits._
      val g = Tables(s, dir, "documents")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split($"text", " ")).cast(LongType)).as("n_tok"))
        .withColumn("w", floor(sqrt($"n_tok".cast(DoubleType))).cast(LongType))
      val tot = g.agg(sum($"n_tok").as("t_tok"), sum($"w").as("t_w"))
      g.crossJoin(broadcast(tot))
        .select($"source", $"n_docs", $"n_tok",
          expr("(n_tok * 1000000) DIV t_tok").as("nat_ppm"),
          expr("(w * 1000000) DIV t_w").as("samp_ppm"))
        .withColumn("boost_milli",
          expr("(samp_ppm * 1000) DIV greatest(nat_ppm, 1)"))
        .orderBy($"source")
    },
    Some("""
      WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        FROM documents GROUP BY 1),
      w AS (SELECT *, CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS w FROM g),
      tot AS (SELECT SUM(n_tok) AS t_tok, SUM(w) AS t_w FROM w)
      SELECT source, n_docs, n_tok,
        CAST((n_tok * 1000000) // t_tok AS BIGINT) AS nat_ppm,
        CAST((w * 1000000) // t_w AS BIGINT) AS samp_ppm,
        CAST((((w * 1000000) // t_w) * 1000) //
             greatest((n_tok * 1000000) // t_tok, 1) AS BIGINT) AS boost_milli
      FROM w CROSS JOIN tot ORDER BY source"""),
    doc = "sqrt-temperature mixture shares — source-sized aggregate, ppm-exact")

  /** q165 — stratified exact train/val/test split: within every
    * (lang, source) stratum, rank docs by a salted md5 of their id and
    * cut at exactly 80/10/10 by integer rank arithmetic — every
    * stratum's class balance is preserved to the row, unlike the
    * per-row hash-threshold split (q49 family) whose per-stratum
    * counts are only correct in expectation. Report per stratum.
    *
    * Scale: the within-stratum rank is the weight-1
    * [[graft.operators.PrefixScan]] scan (q25's device) — strata are
    * LOW-cardinality keys (~langs x sources), so a
    * `Window.partitionBy(lang, source)` would cap the sort at one
    * task per stratum at any cluster size; the scan shuffles on
    * (stratum, 64 hash buckets) instead. Output is strata-sized. */
  val q165 = Q(
    "q165_stratified_split",
    (s, dir) => {
      import s.implicits._
      import graft.operators.PrefixScan
      val d = Tables(s, dir, "documents")
        .select($"lang", $"source", $"doc_id",
          conv(substring(md5(concat(lit("split:"), $"doc_id".cast(StringType))),
            1, 15), 16, 10).cast(LongType).as("h"),
          lit(1L).as("one"))
      val scanned = PrefixScan.inclusive(d, Seq("lang", "source"), "h",
        Seq("doc_id"), "one", c => floor(c / lit(1L << 54)), "rn", Some("n"))
      scanned.groupBy($"lang", $"source")
        .agg(max($"n").as("n"),
          count(when(expr("rn * 10 <= n * 8"), 1)).as("n_train"),
          count(when(expr("rn * 10 > n * 8 AND rn * 10 <= n * 9"), 1)).as("n_val"),
          count(when(expr("rn * 10 > n * 9"), 1)).as("n_test"))
        .withColumn("train_ppm", expr("(n_train * 1000000) DIV n"))
        .orderBy($"lang", $"source")
    },
    Some("""
      WITH d AS (SELECT lang, source, doc_id,
          CAST(('0x' || substr(md5('split:' || doc_id), 1, 15)) AS BIGINT) AS h
        FROM documents),
      r AS (SELECT *,
          row_number() OVER (PARTITION BY lang, source ORDER BY h, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY lang, source) AS n FROM d)
      SELECT lang, source, CAST(MAX(n) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE rn * 10 <= n * 8) AS BIGINT) AS n_train,
        CAST(COUNT(*) FILTER (WHERE rn * 10 > n * 8 AND rn * 10 <= n * 9)
          AS BIGINT) AS n_val,
        CAST(COUNT(*) FILTER (WHERE rn * 10 > n * 9) AS BIGINT) AS n_test,
        CAST((COUNT(*) FILTER (WHERE rn * 10 <= n * 8) * 1000000) // MAX(n)
          AS BIGINT) AS train_ppm
      FROM r GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "exact 80/10/10 stratified split — weight-1 PrefixScan rank, no stratum window")

  /** q166 — vocabulary richness estimate (Chao 1984; Good-Turing
    * coverage): observed distinct tokens, singleton/doubleton counts,
    * the Chao1 lower bound on TRUE vocabulary size
    * D + f1(f1−1)/(2(f2+1)), and Good-Turing sample coverage
    * 1 − f1/N — the "how much bigger should the tokenizer's vocab be,
    * and have we seen enough data" planning numbers.
    *
    * Scale: token counts map-side combine into a vocabulary-sized
    * aggregate; the f1/f2/D readout is a second aggregate over that
    * summary. One row out, exact integer arithmetic throughout. */
  val q166 = Q(
    "q166_vocab_richness",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select(explode(split($"text", " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("d_obs"), sum($"c").as("n_tok"),
          count(when($"c" === 1, 1)).as("f1"),
          count(when($"c" === 2, 1)).as("f2"))
        .select($"n_tok", $"d_obs", $"f1", $"f2",
          expr("d_obs + (f1 * (f1 - 1)) DIV (2 * (f2 + 1))").as("chao1"),
          expr("((n_tok - f1) * 1000000) DIV n_tok").as("coverage_ppm"))
    },
    Some("""
      WITH c AS (SELECT term, COUNT(*) AS c FROM (
                   SELECT unnest(string_split(text, ' ')) AS term FROM documents)
                 GROUP BY 1),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS d_obs,
               CAST(SUM(c) AS BIGINT) AS n_tok,
               CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
               CAST(COUNT(*) FILTER (WHERE c = 2) AS BIGINT) AS f2
             FROM c)
      SELECT n_tok, d_obs, f1, f2,
        CAST(d_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT) AS chao1,
        CAST(((n_tok - f1) * 1000000) // n_tok AS BIGINT) AS coverage_ppm
      FROM st"""),
    doc = "Chao1 + Good-Turing coverage — vocabulary-sized aggregate, 1 row out")

  /** q167 — vocabulary growth curve (Heaps' law empirically, no law
    * fitted — the curve itself): corpus split into 10 equal doc-id
    * deciles; per decile, docs added, FIRST-occurrence tokens added,
    * and both cumulatives. Flattening growth ⇒ more same-distribution
    * data stops paying for tokenizer/vocab coverage.
    *
    * Scale: first occurrence = min(doc_id) per token — one
    * vocabulary-sized aggregate (no ordered scan of the corpus); the
    * cumulative runs on the 10-row decile summary (q113's
    * tiny-summary window idiom — the unpartitioned window is 10 rows
    * by construction at any corpus size). */
  val q167 = Q(
    "q167_vocab_growth",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val mx = docs.agg(max($"doc_id").as("mx"))
      val firsts = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy($"tok").agg(min($"doc_id").as("first_doc"))
        .crossJoin(broadcast(mx))
        .select(expr("(first_doc * 10) DIV (mx + 1)").as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("new_tokens"))
      val perDecile = docs.crossJoin(broadcast(mx))
        .select(expr("(doc_id * 10) DIV (mx + 1)").as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("n_docs"))
      val w = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDecile.join(firsts, Seq("decile"), "left_outer")
        .withColumn("new_tokens", coalesce($"new_tokens", lit(0L)))
        .withColumn("cum_docs", sum($"n_docs").over(w))
        .withColumn("cum_vocab", sum($"new_tokens").over(w))
        .select($"decile".cast(IntegerType).as("decile"), $"n_docs",
          $"new_tokens", $"cum_docs", $"cum_vocab")
        .orderBy($"decile")
    },
    Some("""
      WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
      f AS (SELECT term, MIN(doc_id) AS first_doc FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) GROUP BY 1),
      nt AS (SELECT (first_doc * 10) // (mx + 1) AS decile,
               CAST(COUNT(*) AS BIGINT) AS new_tokens
             FROM f CROSS JOIN mx GROUP BY 1),
      nd AS (SELECT (doc_id * 10) // (mx + 1) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM documents CROSS JOIN mx GROUP BY 1)
      SELECT CAST(nd.decile AS INT) AS decile, nd.n_docs,
        COALESCE(nt.new_tokens, 0) AS new_tokens,
        CAST(SUM(nd.n_docs) OVER (ORDER BY nd.decile
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
        CAST(SUM(COALESCE(nt.new_tokens, 0)) OVER (ORDER BY nd.decile
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
      FROM nd LEFT JOIN nt ON nd.decile = nt.decile
      ORDER BY decile"""),
    doc = "vocab growth deciles — min-doc-id first occurrence, 10-row summary cum")

  /** q168 — duplicate-cluster size histogram (the dedup PLANNING
    * number q53's exact dedup implies but never reports): group docs
    * by exact text hash, histogram the cluster sizes, and report per
    * size how many docs sit in such clusters and how many a
    * keep-one-per-cluster pass would remove. "What fraction of the
    * corpus is copies, and is it many pairs or a few viral blobs" —
    * the answer decides between hash-dedup and LSH spend.
    *
    * Scale: two key-collapsing aggregates (doc → cluster → size
    * histogram); text leaves the scan as a 128-bit hash. */
  val q168 = Q(
    "q168_dup_cluster_histogram",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .groupBy(md5($"text").as("h")).agg(count(lit(1)).as("sz"))
        .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
        .select($"sz", $"n_clusters",
          ($"sz" * $"n_clusters").as("n_docs"),
          (($"sz" - 1) * $"n_clusters").as("removable"))
        .orderBy($"sz")
    },
    Some("""
      WITH cl AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS sz
                  FROM documents GROUP BY 1)
      SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
        CAST((sz - 1) * COUNT(*) AS BIGINT) AS removable
      FROM cl GROUP BY sz ORDER BY sz"""),
    doc = "dup-cluster size histogram — doc→cluster→size aggregates, hash-only shuffle")

  /** q169 — containment decontamination (the asymmetric companion of
    * q145; Lee et al. '22 §4 use containment for unequal-length
    * pairs): for every (train doc, eval doc) pair, the fraction of
    * the EVAL doc's distinct 5-grams the train doc contains; pairs
    * over 30% are contamination q145's any-single-gram flag would
    * drown in false positives and Jaccard (q56's device) would miss
    * when the train doc is much longer than the eval doc.
    *
    * Scale: eval side (≪ corpus by construction) broadcasts as
    * distinct (doc, gram-hash); train grams join it hash-to-hash, so
    * the pair aggregate sees only co-occurring (train, eval, gram)
    * rows — candidate-pair-sized, not corpus²; the ≥30% floor is
    * applied before the (tiny) eval-size join. */
  val q169 = Q(
    "q169_containment_decontam",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 5)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(toks) - 5),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"""))
          .as("gram"))
        .select($"doc_id",
          conv(substring(md5($"gram"), 1, 15), 16, 10).cast(LongType).as("gh"))
        .distinct()
      val ev = grams(docs.filter($"source" === "src1"))
        .select($"doc_id".as("eval_id"), $"gh")
      val evSz = ev.groupBy($"eval_id").agg(count(lit(1)).as("eval_n"))
      grams(docs.filter($"source" =!= "src1"))
        .join(broadcast(ev), "gh")
        .groupBy($"doc_id".as("train_id"), $"eval_id")
        .agg(count(lit(1)).as("shared"))
        .join(broadcast(evSz), "eval_id")
        .filter($"shared" * 10 >= $"eval_n" * 3)
        .select($"train_id", $"eval_id", $"shared", $"eval_n",
          expr("(shared * 1000000) DIV eval_n").as("containment_ppm"))
        .orderBy($"train_id", $"eval_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, source, unnest(l) AS term,
                   unnest(range(1, len(l) + 1)) AS pos
                 FROM (SELECT doc_id, source, string_split(text, ' ') AS l
                       FROM documents)),
      g AS (SELECT DISTINCT t1.doc_id, t1.source,
              CAST(('0x' || substr(md5(t1.term || ' ' || t2.term || ' ' ||
                t3.term || ' ' || t4.term || ' ' || t5.term), 1, 15)) AS BIGINT) AS gh
            FROM t t1
            JOIN t t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
            JOIN t t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
            JOIN t t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3
            JOIN t t5 ON t1.doc_id = t5.doc_id AND t5.pos = t1.pos + 4),
      ev AS (SELECT doc_id AS eval_id, gh FROM g WHERE source = 'src1'),
      sz AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS eval_n
             FROM ev GROUP BY 1),
      sh AS (SELECT g.doc_id AS train_id, ev.eval_id,
               CAST(COUNT(*) AS BIGINT) AS shared
             FROM g JOIN ev ON g.gh = ev.gh
             WHERE g.source <> 'src1' GROUP BY 1, 2)
      SELECT sh.train_id, sh.eval_id AS eval_id, sh.shared, sz.eval_n,
        CAST((sh.shared * 1000000) // sz.eval_n AS BIGINT) AS containment_ppm
      FROM sh JOIN sz ON sh.eval_id = sz.eval_id
      WHERE sh.shared * 10 >= sz.eval_n * 3
      ORDER BY sh.train_id, sh.eval_id"""),
    doc = "asymmetric 5-gram containment — broadcast eval grams, floored pair agg")

  /** q211 — grid-DBSCAN density clustering (X92; Ester et al. '96):
    * the density-based corpus-map operator — discover clusters of any
    * shape, label sparse points as noise, no k chosen upfront. The
    * classic single-node algorithm is a sequential region-growing
    * loop; the data-parallel decomposition used here is the standard
    * one (MR-DBSCAN family): every step is an operator this library
    * already ships —
    *
    *   1. ε-neighbor pairs via [[graft.operators.SpatialJoin]]'s
    *      salt-split grid (3×3 cell probes — linear in points, never
    *      quadratic, hot cells split);
    *   2. core points = neighbor-count aggregate (≥ minPts−1
    *      neighbors, DBSCAN counts the point itself);
    *   3. clusters = connected components of the core-core ε-graph
    *      via [[graft.operators.ConnectedComponents.labelStar]]
    *      (O(log²) rounds — a chain of ε-balls converges without a
    *      round-per-hop);
    *   4. border points adopt the MINIMUM cluster label among their
    *      core neighbors (the deterministic tie-break the sequential
    *      algorithm leaves order-dependent); the rest is noise.
    *
    * Points are exact integers (md5-derived blob centers + jitter —
    * 40 planted blobs, q76's device), so distances and the oracle's
    * quadratic ε-join + recursive min-label closure are bit-exact.
    * Output: (id, role 2=core/1=border/0=noise, cluster_id = min core
    * id, −1 for noise).
    *
    * Scale: the grid join is the only pair generator (bounded by cell
    * occupancy × 9, salted hot cells); degree/border steps are
    * id-keyed aggregates; the component step shuffles the CORE-CORE
    * edge set only. The `c_custkey < 4000` slice bounds the ORACLE's
    * quadratic side, not the operator. */
  private[queries] def dbscanPoints(s: org.apache.spark.sql.SparkSession,
                                    dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    def hex6(seed: org.apache.spark.sql.Column) =
      conv(substring(md5(seed), 1, 6), 16, 10).cast("long")
    def coord(axis: String) =
      (hex6(concat(lit("b"), ($"id" % 40).cast("string"), lit(axis))) % 10000
        + hex6(concat(lit("p"), $"id".cast("string"), lit(axis))) % 401
        - 200 + 1000).cast("double")
    Tables(s, dir, "customer").filter($"c_custkey" < 4000)
      .select($"c_custkey".as("id"))
      .withColumn("x", coord("x")).withColumn("y", coord("y"))
  }

  val q211 = Q(
    "q211_grid_dbscan",
    (s, dir) => {
      import s.implicits._
      graft.operators.Dbscan
        .cluster(dbscanPoints(s, dir), eps = 150.0, minPts = 5)
        .orderBy($"id")
    },
    Some("""
      WITH RECURSIVE p0 AS (SELECT c_custkey AS id FROM customer
                            WHERE c_custkey < 4000),
      pt AS (SELECT id,
               CAST(('0x' || substr(md5('b' || CAST(id % 40 AS VARCHAR) || 'x'), 1, 6))
                 AS BIGINT) % 10000
                 + CAST(('0x' || substr(md5('p' || CAST(id AS VARCHAR) || 'x'), 1, 6))
                 AS BIGINT) % 401 - 200 + 1000 AS x,
               CAST(('0x' || substr(md5('b' || CAST(id % 40 AS VARCHAR) || 'y'), 1, 6))
                 AS BIGINT) % 10000
                 + CAST(('0x' || substr(md5('p' || CAST(id AS VARCHAR) || 'y'), 1, 6))
                 AS BIGINT) % 401 - 200 + 1000 AS y
             FROM p0),
      nb AS (SELECT a.id AS p, b.id AS q FROM pt a JOIN pt b
             ON a.id <> b.id
               AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 22500),
      core AS (SELECT p AS id FROM nb GROUP BY p HAVING COUNT(*) >= 4),
      ce AS (SELECT nb.p, nb.q FROM nb
             JOIN core ca ON nb.p = ca.id JOIN core cb ON nb.q = cb.id),
      r(node, lbl) AS (
        SELECT id, id FROM core
        UNION
        SELECT e.q, r.lbl FROM r JOIN ce e ON e.p = r.node),
      comp AS (SELECT node AS id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
      bord AS (SELECT nb.p AS id, MIN(comp.cluster_id) AS cluster_id
               FROM nb JOIN comp ON nb.q = comp.id
               WHERE nb.p NOT IN (SELECT id FROM core)
               GROUP BY nb.p)
      SELECT id, CAST(2 AS INT) AS role, CAST(cluster_id AS BIGINT) AS cluster_id
      FROM comp
      UNION ALL
      SELECT id, CAST(1 AS INT), CAST(cluster_id AS BIGINT) FROM bord
      UNION ALL
      SELECT id, CAST(0 AS INT), CAST(-1 AS BIGINT) FROM pt
      WHERE id NOT IN (SELECT id FROM comp) AND id NOT IN (SELECT id FROM bord)
      ORDER BY id"""),
    doc = "X92: grid-DBSCAN — SpatialJoin ε-pairs + degree aggregate + " +
      "labelStar core components + min-label border adoption; exact " +
      "integer geometry, noise = -1")

  val all: Seq[Q] = Seq(q143, q144, q145, q146, q147, q148, q149, q150,
    q151, q152, q153, q154, q155, q156, q157, q158, q159, q160, q161, q162,
    q163, q164, q165, q166, q167, q168, q169, q211)
}
