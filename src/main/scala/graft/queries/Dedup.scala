package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Q, Tables}
import graft.functions.VectorOps
import graft.operators.{ConnectedComponents, MinHashLSH, SimHash, SignLSH}
import graft.core.Barriers._

/** SURVEY.md §2.10 N10 + BASELINE north-star dedup suite: MinHash+LSH,
  * SimHash, n-gram Jaccard, and sign-LSH embedding near-dup.
  *
  * The corpus has no natural duplicates (500 distinct texts at sf0.01),
  * so each query PLANTS deterministic near-dups — a perturbed copy
  * (id+100000) of every 5th row — and must rediscover exactly the
  * planted pairs. Both engines build the same planted corpus, so the
  * outputs hash-compare. All hashing is md5-derived (engine-agnostic,
  * seed-free); see the operator scaladocs for the scale arguments.
  */
object Dedup {

  /** documents ∪ (every 5th doc with its last 2 tokens dropped). */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    val tokens = split($"text", " ")
    val perturbed = d.filter($"doc_id" % 5 === 0).select(
      ($"doc_id" + 100000).as("doc_id"),
      concat_ws(" ", slice(tokens, lit(1), greatest(size(tokens) - 2, lit(0)))).as("text"))
    d.unionByName(perturbed)
  }

  private val plantedDocsSql = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 2], ' ') AS text
    FROM documents WHERE doc_id % 5 = 0"""

  /** The full MinHash-LSH pipeline as DuckDB CTEs ending in `v` (pair
    * candidates with inter/na/nb) over the given corpus SQL — shared by
    * q54 (pairs), q82 (cluster collapse) and q93 (cross-table
    * decontamination). `capWhere` restricts WHICH band rows count
    * toward the viral-bucket cap: q54/q82 cap over the whole input
    * (TRUE, mirroring `nearDupPairs`), while q93 caps corpus-side
    * members only (doc_id < 500000), mirroring `crossNearDup` exactly —
    * the probe side must not be able to push a bucket over the cap at
    * any scale factor. */
  private[queries] def minhashCtes(corpusSql: String,
                                   capWhere: String = "TRUE"): String = {
    val aLit = MinHashLSH.aConst(12).mkString("[", ", ", "]")
    val bLit = MinHashLSH.bConst(12).mkString("[", ", ", "]")
    val M = MinHashLSH.Mod
    s"""corpus AS ($corpusSql),
      hts AS (SELECT doc_id,
                list_transform(string_split(text, ' '), t ->
                  CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)) AS hts
              FROM corpus),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(hts) - 2, 0) + 1),
                 i -> ((hts[i] * 31 + hts[i+1]) * 31 + hts[i+2]) % $M)) AS sh
             FROM hts),
      sig AS (SELECT doc_id, sh,
                list_transform(range(0, 12), j ->
                  list_min(list_transform(sh, h ->
                    ($aLit[CAST(j AS INT) + 1] * h + $bLit[CAST(j AS INT) + 1]) % $M))) AS sig
              FROM sh),
      bands AS (SELECT doc_id, CAST(b AS INT) AS band,
                  (sig[CAST(b AS INT)*3+1] * 31 + sig[CAST(b AS INT)*3+2]) * 31 + sig[CAST(b AS INT)*3+3] AS key
                FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      ok_buckets AS (SELECT band, key FROM bands WHERE $capWhere
                     GROUP BY band, key
                     HAVING COUNT(*) <= ${MinHashLSH.DefaultMaxBucket}),
      cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
               JOIN ok_buckets o ON x.band = o.band AND x.key = o.key),
      v AS (SELECT a_id, b_id,
              CAST(len(list_filter(sa.sh, s -> list_contains(sb.sh, s))) AS DOUBLE) AS inter,
              len(sa.sh) AS na, len(sb.sh) AS nb
            FROM cand
            JOIN sh sa ON cand.a_id = sa.doc_id
            JOIN sh sb ON cand.b_id = sb.doc_id)"""
  }

  private[queries] val minhashOracleCtes: String = minhashCtes(plantedDocsSql)

  /** q54 — MinHash + LSH near-dup pairs (N10): token md5 hashes →
    * base-31 hashed 3-shingles → 12 universal-hash signature minima →
    * 4 bands × 3 rows polynomial keys → bucket join → Jaccard >= 0.5
    * over the hashed shingle sets. Mirrors MinHashLSH step for step. */
  val q54 = Q(
    "q54_minhash_lsh",
    (s, dir) => MinHashLSH
      .nearDupPairs(plantedDocs(s, dir), "doc_id", "text", minJaccard = 0.5)
      .orderBy(col("a_id"), col("b_id")),
    Some(s"""
      WITH $minhashOracleCtes
      SELECT a_id, b_id, inter / (na + nb - inter) AS jaccard
      FROM v WHERE inter / (na + nb - inter) >= 0.5
      ORDER BY a_id, b_id"""),
    doc = "N10: minhash-LSH, relational form — one codegen'd agg computes all " +
      "signature minima + shingle sets; shuffles longs + doc ids, never raw text")

  /** q55 — SimHash near-dup pairs (N10 variant): 64-bit fingerprint as
    * four 16-bit bands (Manku '07), band-equality candidates (exact
    * recall for hamming <= 3 by pigeonhole), hamming <= 3 verify. */
  val q55 = Q(
    "q55_simhash",
    (s, dir) => {
      import s.implicits._
      // sum(tf * sign) over DISTINCT (doc, term) == sum(sign) over raw
      // token instances, so the (doc, term) pre-aggregation — a shuffle
      // keyed on ~|corpus vocab x docs| — is skipped entirely: one
      // explode, ONE groupBy(doc) with 64 sums. The DuckDB twin keeps
      // the textbook tf formulation; results are identical.
      val instances = plantedDocs(s, dir)
        .select($"doc_id", explode(split($"text", " ")).as("term"),
          lit(1L).as("tf"))
      val fp = SimHash.fingerprints(instances, "doc_id", "term", "tf")
      SimHash.nearDupPairs(fp, "doc_id", maxHamming = 3)
        .orderBy($"a_id", $"b_id")
    },
    Some {
      val pieces = (0 until SimHash.Bands)
        .map(k => s"CAST(('0x' || substr(md5(term), ${1 + 4 * k}, 4)) AS INT) AS h$k")
        .mkString(",\n             ")
      val sums = (for (k <- 0 until SimHash.Bands; j <- 0 until SimHash.BandBits)
        yield s"SUM(tf * (((h$k >> $j) & 1) * 2 - 1)) AS s${k}_$j").mkString(",\n                ")
      val fpCols = (0 until SimHash.Bands).map { k =>
        (0 until SimHash.BandBits)
          .map(j => s"(CASE WHEN s${k}_$j > 0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ") + s" AS f$k"
      }.mkString(",\n              ")
      val sideCols = (0 until SimHash.Bands)
        .map(k => s"a.f$k AS fa$k, b.f$k AS fb$k").mkString(", ")
      val candBands = (0 until SimHash.Bands).map { k =>
        s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id, $sideCols
        FROM fp a JOIN fp b ON a.f$k = b.f$k AND a.doc_id < b.doc_id"""
      }.mkString("\n        UNION\n        ")
      val hamming = (0 until SimHash.Bands)
        .map(k => s"bit_count(xor(fa$k, fb$k))").mkString(" + ")
      s"""
      WITH corpus AS ($plantedDocsSql),
      terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
      h AS (SELECT doc_id, tf,
             $pieces
            FROM tf),
      s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
      fp AS (SELECT doc_id,
              $fpCols
             FROM s),
      cand AS (
        $candBands)
      SELECT a_id, b_id, $hamming AS hamming
      FROM cand WHERE $hamming <= 3
      ORDER BY a_id, b_id"""
    },
    doc = "N10: simhash 64-bit/4-band — word-count-shaped agg, 65k-bucket band joins")

  /** q56 — character-3-gram Jaccard similarity matrix over a fixed doc
    * slice (the n-gram-Jaccard dedup primitive, exact form). All pairs
    * reported with their score; is_near_dup flags the 0.5 threshold. */
  val q56 = Q(
    "q56_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      val grams = Tables(s, dir, "documents")
        .filter($"doc_id" < 20)
        .select($"doc_id",
          when(length($"text") >= 3,
            array_distinct(transform(
              sequence(lit(1), length($"text") - 2),
              i => $"text".substr(i, lit(3)))))
            .otherwise(array().cast("array<string>")).as("grams"))
      val a = grams.select($"doc_id".as("a_id"), $"grams".as("ga"))
      val b = grams.select($"doc_id".as("b_id"), $"grams".as("gb"))
      a.join(b, $"a_id" < $"b_id")
        .withColumn("inter", size(array_intersect($"ga", $"gb")).cast(DoubleType))
        .select($"a_id", $"b_id",
          ($"inter" / (size($"ga") + size($"gb") - $"inter")).as("jaccard"),
          ($"inter" / (size($"ga") + size($"gb") - $"inter") >= 0.5).as("is_near_dup"))
        .orderBy($"a_id", $"b_id")
    },
    Some("""
      WITH g AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                     i -> substr(text, CAST(i AS INT), 3))) AS grams
                 FROM documents WHERE doc_id < 20),
      p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE) AS inter,
              len(a.grams) AS na, len(b.grams) AS nb
            FROM g a JOIN g b ON a.doc_id < b.doc_id)
      SELECT a_id, b_id, inter / (na + nb - inter) AS jaccard,
             inter / (na + nb - inter) >= 0.5 AS is_near_dup
      FROM p ORDER BY a_id, b_id"""),
    doc = "N10 exact form: char-3-gram Jaccard; bounded slice keeps it O(k²)")

  /** q57 — embedding near-dup via sign-LSH buckets (N11 scale path):
    * plant rescaled copies (cosine ≈ 1, bucket-invariant), bucket on 8
    * hyperplane signs over the first 16 dims, verify cosine >= 0.999
    * within buckets only. */
  val q57 = Q(
    "q57_embedding_neardup",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      val planted = e.filter($"vec_id" % 5 === 0).select(
        ($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => (x.cast(DoubleType) * 0.999).cast(FloatType)).as("embedding"))
      SignLSH.nearDupPairs(e.unionByName(planted), "vec_id", "embedding", minCosine = 0.999)
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 0.999 AS FLOAT))
        FROM embeddings WHERE vec_id % 5 = 0),
      keyed AS (SELECT vec_id, embedding, ${SignLSH.bucketSql("embedding")} AS bucket FROM corpus),
      pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                  ${VectorOps.cosineSql("a.embedding", "b.embedding")} AS cos
                FROM keyed a JOIN keyed b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT a_id, b_id, cos FROM pairs WHERE cos >= 0.999
      ORDER BY a_id, b_id"""),
    doc = "N11 scale path: sign-LSH buckets collapse all-pairs cosine to per-bucket joins")

  /** q82 — near-dup CLUSTER collapse (N16): q54's pairs are only half a
    * dedup pipeline; chained duplicates (A~B, B~C) must collapse into
    * one cluster with one kept representative. Spark runs
    * [[ConnectedComponents.labelStar]] (partition-local contraction,
    * then large-star/small-star rounds); DuckDB computes the same
    * components with a recursive CTE over the identical MinHash pair
    * CTEs. */
  val q82 = Q(
    "q82_dedup_clusters",
    (s, dir) => {
      import s.implicits._
      val docs = plantedDocs(s, dir)
      val pairs = MinHashLSH
        .nearDupPairs(docs, "doc_id", "text", minJaccard = 0.5)
        .select($"a_id", $"b_id")
      ConnectedComponents
        .labelStar(docs.select($"doc_id"), "doc_id", pairs, "a_id", "b_id")
        .select($"doc_id", $"component",
          ($"doc_id" === $"component").as("is_kept"))
        .barrier() // sort sampling must not replay the CC join
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH RECURSIVE $minhashOracleCtes,
      pairs AS (SELECT a_id, b_id FROM v
                WHERE inter / (na + nb - inter) >= 0.5),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach(node, lab) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT e.src, r.lab FROM reach r JOIN edges e ON r.node = e.dst)
      SELECT node AS doc_id, MIN(lab) AS component,
             node = MIN(lab) AS is_kept
      FROM reach GROUP BY node ORDER BY doc_id"""),
    doc = "N16: connected components by large-star/small-star; per-cluster " +
      "representative = min doc id — the collapse step after pair finding")

  /** q93 — cross-table decontamination join (N19): which corpus docs
    * nearly duplicate a PROBE set (here: clipped copies of every 25th
    * doc standing in for a benchmark eval set). The operator bands
    * corpus and probes separately and joins ACROSS sides only —
    * corpus×corpus candidates are never generated; the oracle reuses
    * the q54 CTE pipeline over the union, filters to cross-boundary
    * pairs, and counts only corpus-side members toward the viral cap
    * (capWhere), which is the same set at ANY scale factor — probes
    * can never push a corpus bucket over the cap. */
  val q93 = Q(
    "q93_decontaminate",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents").select($"doc_id", $"text")
      val tokens = split($"text", " ")
      val probes = docs.filter($"doc_id" % 25 === 0).select(
        ($"doc_id" + 500000).as("probe_id"),
        concat_ws(" ", slice(tokens, lit(1), greatest(size(tokens) - 2, lit(0)))).as("text"))
      MinHashLSH.crossNearDup(docs, "doc_id", probes, "probe_id", "text",
          minJaccard = 0.5)
        .orderBy($"c_id", $"p_id")
    },
    Some(s"""
      WITH ${minhashCtes("""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 500000 AS doc_id,
               array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 2], ' ') AS text
        FROM documents WHERE doc_id % 25 = 0""",
        capWhere = "doc_id < 500000")}
      SELECT a_id AS c_id, b_id AS p_id, inter / (na + nb - inter) AS jaccard
      FROM v
      WHERE a_id < 500000 AND b_id >= 500000
        AND inter / (na + nb - inter) >= 0.5
      ORDER BY c_id, p_id"""),
    doc = "N19: benchmark decontamination — cross-side band join only; " +
      "corpus self-pairs never generated")

  /** q96 — connected components via the ALTERNATING star algorithm
    * (N16b), exercised on the graph shape that MOTIVATES it: chains.
    * Nodes are orders; edges link each customer's consecutive orders,
    * so every component is a PATH with diameter = orders-per-customer
    * (~100 at sf0.1) — per-hop min-label propagation would need one
    * round per hop and a diameter-sized round cap here, while
    * [[ConnectedComponents.labelStar]] (Kiveris et al.
    * '14) converges in O(log² n) rounds by rewiring edges toward the
    * component minimum. The edges come out of a window partitioned by
    * `o_custkey`, so each chain sits whole in one partition: labelStar's
    * partition-local contraction turns every chain into a star before
    * any shuffle, its star-forest test passes, and q96 runs zero star
    * rounds. The rounds themselves are exercised by
    * `ConnectedComponentsSpec`'s scattered-path spec. The oracle derives
    * the expected labels INDEPENDENTLY — a chain spans exactly one
    * customer's orders, so component = min orderkey per customer, no
    * recursion needed. */
  val q96 = Q(
    "q96_chain_components_star",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ord = Tables(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val edges = ord
        .withColumn("nxt", lead($"o_orderkey", 1).over(w))
        .filter($"nxt".isNotNull)
        .select($"o_orderkey", $"nxt")
      ConnectedComponents
        .labelStar(ord.select($"o_orderkey"), "o_orderkey",
          edges, "o_orderkey", "nxt")
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS component
      FROM orders ORDER BY o_orderkey"""),
    doc = "N16b: star-algorithm connected components on path graphs " +
      "(diameter ~ orders-per-customer); oracle = independent window-min " +
      "derivation, no recursion")

  /** q107 — local-overlap pair detection via winnowing (N20b): q95
    * extracts fingerprint sets; this makes them OPERATIONAL — doc
    * pairs sharing >= 2 winnowed fingerprints are local-overlap
    * candidates (shared boilerplate, quoted spans, planted near-dups).
    * Same scale shape as LSH banding, with a hot-fingerprint cap
    * (freq <= 50) playing the viral-bucket role so one corpus-wide
    * boilerplate gram can never generate O(N²) pairs.
    *
    * r7 rework (1.7× — 4.6 → 2.7 s min at sf0.1, BASELINE.md): the
    * fingerprint rows come off [[Winnowing.fingerprintRows]]'s new
    * zero-shuffle column form and are localCheckpointed ONCE for the
    * two consumers (hot count + pair join) — the r6 form paid a
    * doc-keyed window sort plus a (doc,f) distinct exchange before
    * pairing, and persisted two frames. The cap now runs as an
    * ANTI-join against the broadcast HOT list (viral fingerprints),
    * where r6 broadcast the entire ok-list — at corpus scale the ok
    * set is nearly ALL fingerprints, far beyond broadcast limits. The
    * freq > 50 filter bounds the hot set to ≤ N/50 DISTINCT
    * fingerprints — 50× smaller than the ok-list but still linear in
    * corpus size on a heavily templated corpus. The hot side therefore
    * carries NO broadcast hint (r8, ADVICE): AQE sees its runtime size
    * and plans a broadcast anti-join while it fits (measured identical
    * to the hinted plan at sf0.1) but falls back to a shuffle
    * anti-join past the threshold instead of failing the build — a
    * hint would force the broadcast regardless.
    * (A groupBy(f).collect_list + per-group pair
    * unfold — one f-shuffle instead of the join's two — measured 15%
    * SLOWER here: the array build beats the second exchange only when
    * groups are fat, and the cap keeps them thin.) Text is scanned
    * once; only (doc_id, fp) longs ever shuffle. Finds 97 of the 100
    * planted pairs at sf0.01 (3 planted docs are too short to carry 2
    * shared fingerprints) plus genuine cross-doc boilerplate
    * overlaps. */
  val q107 = Q(
    "q107_winnow_pairs",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Winnowing
      // exploded fingerprint rows off the checkpointed gram arrays
      // (Winnowing scaladoc) — two consumers below, both reading the
      // materialized arrays, so no persist needed here
      val fps = Winnowing
        .fingerprintRows(plantedDocs(s, dir), "doc_id", "text", 4, 4)
        .barrier() // two consumers; rows ≈ 0.4× the gram volume
      val hot = fps.groupBy($"f").agg(count(lit(1)).as("c"))
        .filter($"c" > 50).select($"f")
      // no broadcast hint: AQE broadcasts while hot fits, degrades to a
      // shuffle anti-join on a templated corpus where it would not
      val ok = fps.join(hot, Seq("f"), "left_anti")
      ok.select($"doc_id".as("a_id"), $"f")
        .join(ok.select($"doc_id".as("b_id"), $"f"), Seq("f"))
        .filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
        .barrier() // sort sampling must not replay the pair join
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""
      WITH corpus AS ($plantedDocsSql),
      hts AS (SELECT doc_id,
                list_transform(string_split(text, ' '), t ->
                  CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)) AS hts
              FROM corpus),
      g AS (SELECT doc_id,
              list_transform(range(1, greatest(len(hts) - 3, 0) + 1), i ->
                (((hts[i] * 31 + hts[i+1]) * 31 + hts[i+2]) * 31 + hts[i+3])
                  % ${MinHashLSH.Mod}) AS g
            FROM hts),
      fp AS (SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(g) - 3, 0) + 1), i ->
                   least(g[i], g[i+1], g[i+2], g[i+3])))) AS f
             FROM g),
      ok AS (SELECT fp.doc_id, fp.f FROM fp
             JOIN (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= 50) h
               ON fp.f = h.f),
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
                FROM ok a JOIN ok b ON a.f = b.f AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT a_id, b_id, n_shared FROM pairs
      WHERE n_shared >= 2 ORDER BY a_id, b_id"""),
    doc = "N20b: winnow-fingerprint pair join — LSH-banding shape with a " +
      "hot-fingerprint cap; surfaces local overlap minhash can't localize")

  /** q187 — SemDeDup (Abbas et al. '23): semantic deduplication scoped
    * by k-means clusters — drop every vector that has a LOWER-id
    * neighbor in its own cluster at cosine ≥ τ; output the full
    * (vec_id, cluster, kept) decision table. This differs from q57's
    * sign-LSH near-dup (which targets near-IDENTICAL vectors at
    * cos ≥ 0.999): SemDeDup prunes merely-SIMILAR examples inside
    * semantic clusters, trading recall for diversity — the paper's
    * LAION result is that this cut speeds training at equal quality.
    * The whole algorithm lives in [[graft.operators.SemDeDup]];
    * clustering is [[KMeansInt]] (q118's exact integer k-means, same
    * k=8/rounds=2 parameters so the oracle CTEs are shared verbatim);
    * the cosine is the q50-contract chain (sequential-fold dot, one
    * sqrt·sqrt product, textually identical in both engines) so the
    * τ comparison is bit-identical.
    *
    * τ = 0.35 because the fixture embeddings are isotropic-random
    * (pairwise cos ∈ [-0.6, 0.6], no planted semantic pairs), so the
    * spec threshold sits in the distribution's upper tail to exercise
    * hundreds of drops at every SF; production corpora cluster tightly
    * and use τ ≈ 0.9+. The plan is threshold-independent.
    *
    * Scale: assignment is k broadcast centroids (no corpus shuffle);
    * the pair stage shuffles each vector ONCE on its cluster id and
    * compares within clusters only. The declared k=8 is the ORACLE's
    * constraint (DuckDB recomputes the same 2-round clustering as
    * CTEs; k is baked into those), not the operator's — production
    * calls size k via [[graft.operators.SemDeDup.chooseK]] (k ∝
    * N/target, the paper's linear-work bound). The viral-cluster cap
    * IS live here: maxClusterSize = 4096 excludes any degenerate
    * mega-cluster from the pair stage (members all kept — mass
    * duplication is q49/q54's job upstream), mirrored in the oracle's
    * `csize` gate and observable via SemDeDup.clusterStats. At the
    * fixture's 500–2000 vectors over k=8 the cap never binds, so the
    * decision table is identical to the uncapped r6 output. */
  val q187 = Q(
    "q187_semdedup",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      graft.operators.SemDeDup
        .dedup(emb, "vec_id", "embedding", k = 8, rounds = 2,
          tau = 0.35, maxClusterSize = 4096L)
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH ${Curation.kmeansCtes8x2},
      vecs AS (
        SELECT e.vec_id, a3.cluster, e.embedding,
               sqrt(${VectorOps.dotSql("e.embedding", "e.embedding")}) AS nrm
        FROM embeddings e JOIN a3 ON e.vec_id = a3.vec_id),
      ok AS (SELECT cluster FROM vecs GROUP BY cluster
             HAVING COUNT(*) <= 4096),
      dropped AS (
        SELECT DISTINCT y.vec_id
        FROM vecs x JOIN vecs y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        JOIN ok ON x.cluster = ok.cluster
        WHERE ${VectorOps.dotSql("x.embedding", "y.embedding")} /
              (x.nrm * y.nrm) >= 0.35)
      SELECT v.vec_id, v.cluster, d.vec_id IS NULL AS kept
      FROM vecs v LEFT JOIN dropped d ON v.vec_id = d.vec_id
      ORDER BY v.vec_id"""),
    doc = "SemDeDup: k-means-cluster-scoped cosine pruning, min-id survivor " +
      "— semantic diversity cut, not just near-identical removal; " +
      "cluster-id equi-join + viral-cluster cap bound pair work")

  /** Shared DuckDB CTE chain for the ExactSubstr pair (q191/q192):
    * k-gram occurrences → duplicated hashes → gaps-and-islands merge,
    * ending in `spans(doc_id, span_start, span_end)`. Mirrors
    * [[graft.operators.ExactSubstr]] hash-for-hash (same md5-prefix
    * gram scheme as q145). k is baked in because the oracle must be a
    * closed SQL string. */
  private def substrCtes(k: Int): String = s"""
      corpus AS ($plantedDocsSql),
      t AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
      p AS (SELECT doc_id, l,
              unnest(range(1, greatest(len(l) - ${k - 1}, 0) + 1)) AS pos
            FROM t),
      o AS (SELECT doc_id, pos,
              CAST(('0x' || substr(md5(array_to_string(l[pos:pos+${k - 1}], ' ')), 1, 15))
                AS BIGINT) AS gh
            FROM p),
      dup AS (SELECT gh FROM o GROUP BY gh HAVING COUNT(*) > 1),
      h AS (SELECT o.doc_id, o.pos FROM o JOIN dup ON o.gh = dup.gh),
      brks AS (SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $k
                      THEN 1 ELSE 0 END AS brk
               FROM h),
      isls AS (SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
               FROM brks),
      spans AS (SELECT doc_id, MIN(pos) AS span_start,
                  MAX(pos) + ${k - 1} AS span_end
                FROM isls GROUP BY doc_id, isl)"""

  /** q191 — exact-substring duplicated spans (Lee et al. '22
    * ExactSubstr, §4.1): every maximal token span occurring more than
    * once anywhere in the planted corpus, located per document. The
    * planted every-5th copy is the original minus its last 2 tokens,
    * so the operator must rediscover span [1, n-2] on each original
    * and full coverage [1, n-2] on each copy — plus whatever natural
    * k-gram repeats the corpus carries (both engines see the same).
    * k = 8 tokens here (production uses ~50 BPE tokens); algorithm,
    * scale posture, and the Bloom-filter scale path are documented in
    * [[graft.operators.ExactSubstr]].
    *
    * Scale: the gram-frequency aggregate is the dominant shuffle
    * (8-byte keys, map-side partial counts absorb viral boilerplate);
    * the occurrence semi-join cannot fan out; the islands window is
    * document-partitioned, never global. */
  val q191 = Q(
    "q191_repeated_spans",
    (s, dir) => {
      import s.implicits._
      graft.operators.ExactSubstr
        .duplicatedSpans(plantedDocs(s, dir), "doc_id", "text", k = 8)
        .orderBy($"doc_id", $"span_start")
    },
    Some(s"""
      WITH ${substrCtes(8)}
      SELECT doc_id, span_start, span_end,
             span_end - span_start + 1 AS span_tokens
      FROM spans ORDER BY doc_id, span_start"""),
    doc = "N34: ExactSubstr duplicated-span detection — gram-frequency " +
      "semi-join + per-doc gaps-and-islands merge; localizes the repeated " +
      "bytes memorization rides on (Lee et al. '22)")

  /** q192 — ExactSubstr scrub: drop-all removal of every duplicated
    * span from q191's corpus, reconstructing the cleaned training text
    * per document. Every corpus row survives as a row: sub-k documents
    * pass through untouched, fully-covered copies keep an empty
    * clean_text (callers decide drop-vs-backfill — losing the row
    * silently would un-count the scrub). The drop-all-vs-keep-one
    * policy choice is documented on [[graft.operators.ExactSubstr]].
    *
    * Scale: adds one document-keyed anti-join (spans per document are
    * few and bounded by length) and one per-document reassembly
    * aggregate (bounded by document length — a row the document
    * already owned) on top of q191's plan. */
  val q192 = Q(
    "q192_substr_scrub",
    (s, dir) => {
      import s.implicits._
      graft.operators.ExactSubstr
        .scrub(plantedDocs(s, dir), "doc_id", "text", k = 8)
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ${substrCtes(8)},
      tk AS (SELECT doc_id, unnest(l) AS w,
               unnest(range(1, len(l) + 1)) AS pos
             FROM t),
      kept AS (SELECT tk.doc_id, tk.pos, tk.w FROM tk
               WHERE NOT EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = tk.doc_id
                   AND tk.pos BETWEEN s.span_start AND s.span_end)),
      a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              string_agg(w, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id)
      SELECT c.doc_id,
             CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
             COALESCE(a.n_kept, 0) AS n_kept,
             COALESCE(a.clean_text, '') AS clean_text
      FROM corpus c LEFT JOIN a ON c.doc_id = a.doc_id
      ORDER BY c.doc_id"""),
    doc = "N34b: ExactSubstr drop-all scrub — duplicated spans removed " +
      "from the text itself, cleaned corpus reconstructed per document")

  /** q208 — Ed-Join edit-distance similarity join (N44): all string
    * pairs within edit distance 2 over a deterministic identifier
    * corpus — a 20-hex-char fingerprint per part (`p_partkey < 3000`)
    * plus a mutated copy carrying one md5-derived substitution (odd
    * keys add an md5-derived deletion, so dist-1 and dist-2 truths
    * both exist by construction). [[graft.operators.EdJoin]] generates
    * candidates from each string's 7 rarest positional 3-grams probed
    * against a full window inverted index under the ±τ position band
    * (lossless — see the operator scaladoc), verifies survivors with
    * the exact `levenshtein`, and is bit-identical to the oracle's
    * brute-force quadratic join — the whole point: the DuckDB twin IS
    * the all-pairs definition, the Spark side never materializes it.
    * Measured at sf0.1: ~131k candidates for 6000 strings (18M
    * possible pairs, 3000 true) — a 137× prune with zero loss.
    *
    * Output: per-id fuzzy-partner counts at distance ≤1 and ≤2 over
    * the symmetrized pair set, densest records first — the
    * entity-resolution "how much does this record collide" profile.
    *
    * Corpus choice is part of the operator's story. Identifier-like
    * strings (content hashes, SKUs, URL slugs — here md5 prefixes)
    * are the gram-DIVERSE regime where signature blocking pays. This
    * testdata's word corpora are all measured-DENSE: customer names
    * are one digit template (~12% of ALL pairs within τ=2 at sf0.1),
    * part names have 64 distinct values in the slice, document text
    * draws on a ~30-word vocabulary — in that regime the truth itself
    * is a double-digit share of the quadratic and the verify set IS
    * the answer; blocking bounds the slack between candidates and
    * truth, never the truth. Those corpora belong to q77's
    * bounded-slice path.
    *
    * The `p_partkey < 3000` slice bounds the ORACLE's quadratic side
    * (4000² at sf0.01), not the operator — EdJoin's own cost is
    * candidate-bounded at any corpus size. */
  /** q208/q212's deterministic identifier corpus: a 20-hex-char md5
    * fingerprint per part (`p_partkey < 3000`) plus a mutated copy —
    * one md5-derived substitution, odd keys add an md5-derived
    * deletion — so dist-1 AND dist-2 truths exist by construction.
    * `typoCorpusSql` is the DuckDB-CTE twin ending in `c(id, nm)`. */
  private[graft] def typoCorpus(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val base = Tables(s, dir, "part").filter($"p_partkey" < 3000)
      .select($"p_partkey".as("pk"),
        substring(md5(concat($"p_partkey".cast("string"), lit(":base"))), 1, 20)
          .as("nm"))
      .withColumn("h1",
        conv(substring(md5(concat($"pk".cast("string"), lit(":pos"))), 1, 4),
          16, 10).cast("long"))
      .withColumn("h2",
        conv(substring(md5(concat($"pk".cast("string"), lit(":ch"))), 1, 4),
          16, 10).cast("long"))
      .withColumn("h3",
        conv(substring(md5(concat($"pk".cast("string"), lit(":del"))), 1, 4),
          16, 10).cast("long"))
      .withColumn("p1", ($"h1" % length($"nm") + 1).cast("int"))
      .withColumn("c1",
        expr("substr('0123456789abcdef', CAST(h2 % 16 + 1 AS INT), 1)"))
      .withColumn("sub", concat(
        expr("substr(nm, 1, p1 - 1)"), $"c1", expr("substr(nm, p1 + 1, 100)")))
      .withColumn("p2", ($"h3" % length($"sub") + 1).cast("int"))
      .withColumn("mut", when($"pk" % 2 === 1,
        concat(expr("substr(sub, 1, p2 - 1)"), expr("substr(sub, p2 + 1, 100)")))
        .otherwise($"sub"))
    base.select(($"pk" * 2).as("id"), $"nm")
      .unionAll(base.select(($"pk" * 2 + 1).as("id"), $"mut".as("nm")))
  }

  private val typoCorpusSql: String = """
      b0 AS (SELECT p_partkey AS pk,
               substr(md5(CAST(p_partkey AS VARCHAR) || ':base'), 1, 20) AS nm
             FROM part WHERE p_partkey < 3000),
      b1 AS (SELECT pk, nm,
               CAST(('0x' || substr(md5(CAST(pk AS VARCHAR) || ':pos'), 1, 4))
                 AS BIGINT) % len(nm) + 1 AS p1,
               substr('0123456789abcdef',
                 CAST(CAST(('0x' || substr(md5(CAST(pk AS VARCHAR) || ':ch'), 1, 4))
                   AS BIGINT) % 16 + 1 AS INT), 1) AS c1,
               CAST(('0x' || substr(md5(CAST(pk AS VARCHAR) || ':del'), 1, 4))
                 AS BIGINT) AS h3
             FROM b0),
      b2 AS (SELECT pk, nm,
               substr(nm, 1, CAST(p1 - 1 AS INT)) || c1
                 || substr(nm, CAST(p1 + 1 AS INT), 100) AS sub, h3
             FROM b1),
      b3 AS (SELECT pk, nm, CASE WHEN pk % 2 = 1 THEN
                 substr(sub, 1, CAST(h3 % len(sub) AS INT))
                   || substr(sub, CAST(h3 % len(sub) + 2 AS INT), 100)
               ELSE sub END AS mut
             FROM b2),
      c AS (SELECT pk * 2 AS id, nm FROM b3
            UNION ALL SELECT pk * 2 + 1 AS id, mut AS nm FROM b3)"""

  val q208 = Q(
    "q208_edjoin_fuzzy",
    (s, dir) => {
      import s.implicits._
      val corpus = typoCorpus(s, dir)
      val pairs = graft.operators.EdJoin.join(corpus, "id", "nm", tau = 2, q = 3)
      val sym = pairs.select($"a_id".as("id"), $"dist")
        .unionAll(pairs.select($"b_id".as("id"), $"dist"))
      sym.groupBy($"id")
        .agg(sum(when($"dist" <= 1, 1L).otherwise(0L)).as("n_d1"),
          count(lit(1)).as("n_d2"))
        .orderBy($"n_d2".desc, $"id")
        .limit(100)
    },
    Some(s"""
      WITH $typoCorpusSql,
      p AS (SELECT a.id AS a_id, b.id AS b_id,
              levenshtein(a.nm, b.nm) AS dist
            FROM c a JOIN c b
              ON a.id < b.id AND abs(len(a.nm) - len(b.nm)) <= 2
            WHERE levenshtein(a.nm, b.nm) <= 2),
      u AS (SELECT a_id AS id, dist FROM p
            UNION ALL SELECT b_id AS id, dist FROM p)
      SELECT id,
             CAST(SUM(CASE WHEN dist <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
             CAST(COUNT(*) AS BIGINT) AS n_d2
      FROM u GROUP BY id ORDER BY n_d2 DESC, id LIMIT 100"""),
    doc = "N44: Ed-Join prefix-blocked edit-similarity join on a seeded typo " +
      "corpus — rarest-gram candidate generation + exact verify, " +
      "bit-identical to the oracle's all-pairs definition it never runs")

  /** q212 — fuzzy golden-record clusters (N44b): the entity-resolution
    * endgame on top of q208 — typo variants of one record must
    * COLLAPSE, not just pair. The [[graft.operators.EdJoin]] pair
    * graph (τ=2) feeds
    * [[graft.operators.ConnectedComponents.labelStar]]; every cluster
    * reports its size, distinct-variant count, and the golden record —
    * `min_by(nm, id)` makes the survivor pick deterministic (q158's
    * survivorship is rule-based; here the rule is "oldest id wins",
    * the classic tiebreak). Transitivity is the REASON clustering is a
    * separate operator: A↔B and B↔C within τ does not imply A↔C within
    * τ, so pair output alone under-merges — the component step closes
    * the chain exactly like q82/q96 do for MinHash graphs.
    *
    * Scale: EdJoin's candidate-bounded pair graph (never corpus²) +
    * labelStar's O(log²) rounds over edges only; the per-cluster
    * aggregate touches one row per member. Oracle: the quadratic pair
    * definition + a recursive min-label closure. */
  val q212 = Q(
    "q212_fuzzy_golden_record",
    (s, dir) => {
      import s.implicits._
      val corpus = typoCorpus(s, dir)
      val pairs = graft.operators.EdJoin
        .join(corpus, "id", "nm", tau = 2, q = 3)
      graft.operators.ConnectedComponents
        .labelStar(corpus.select($"id"), "id", pairs, "a_id", "b_id")
        .join(corpus, "id")
        .groupBy($"component".as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct($"nm").as("n_variants"),
          min_by($"nm", $"id").as("rep_nm"))
        .filter($"n_members" >= 2)
        .orderBy($"n_members".desc, $"cluster_id")
        .limit(100)
    },
    Some(s"""
      WITH RECURSIVE $typoCorpusSql,
      p AS (SELECT a.id AS a_id, b.id AS b_id
            FROM c a JOIN c b
              ON a.id < b.id AND abs(len(a.nm) - len(b.nm)) <= 2
            WHERE levenshtein(a.nm, b.nm) <= 2),
      e AS (SELECT a_id AS u, b_id AS v FROM p
            UNION ALL SELECT b_id AS u, a_id AS v FROM p),
      r(node, lbl) AS (
        SELECT id, id FROM c
        UNION
        SELECT e.v, r.lbl FROM r JOIN e ON e.u = r.node),
      comp AS (SELECT node AS id, MIN(lbl) AS cluster_id FROM r GROUP BY node)
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT nm) AS BIGINT) AS n_variants,
             min_by(nm, id) AS rep_nm
      FROM comp JOIN c USING (id)
      GROUP BY cluster_id HAVING COUNT(*) >= 2
      ORDER BY n_members DESC, cluster_id LIMIT 100"""),
    doc = "N44b: fuzzy golden-record clusters — EdJoin pair graph closed " +
      "by labelStar components (transitive variants collapse), " +
      "deterministic min-id survivor per cluster")

  /** q226 — frozen-index entity-resolution assignment (N44c): the
    * BATCH spelling of T22, under the driver's DuckDB oracle — the
    * q212 corpus splits into a FROZEN prefix (id < 300: resolved by
    * EdJoin+labelStar at freeze time) and an arriving batch
    * (id ≥ 300) that probes the frozen gram index, verifies with
    * exact levenshtein, and adopts the smallest matched golden id or
    * mints its own. Exercises the EXACT operator the stream runs
    * ([[graft.streaming.StreamingEntityResolution]]), so the
    * one-directional probe losslessness (ALL delta windows vs the
    * frozen index + the short-class fallback) gets a hash gate, not
    * just a spec: the oracle computes the frozen closure and the
    * delta's min-golden-of-matches QUADRATICALLY and must agree
    * bit-for-bit. Deliberately NOT full ER on the union — delta-delta
    * pairs are invisible to a frozen index by design (the documented
    * reconciliation caveat), and the oracle encodes exactly that
    * semantics.
    *
    * Scale: freeze is the batch job that exists anyway; assignment is
    * O(|delta|) window probes + candidate-bounded verifies. The
    * oracle's quadratic d×f join rides the fixed `p_partkey < 3000`
    * slice (q208's device for bounding the oracle, never the
    * operator). */
  val q226 = Q(
    "q226_er_assignment",
    (s, dir) => {
      import s.implicits._
      val corpus = typoCorpus(s, dir)
      val state = graft.streaming.StreamingEntityResolution
        .freeze(corpus.filter($"id" < 300), "id", "nm", tau = 2, q = 3)
      graft.streaming.StreamingEntityResolution
        .assignBatch(state, corpus.filter($"id" >= 300), "id", "nm")
        .orderBy($"id")
    },
    Some(s"""
      WITH RECURSIVE $typoCorpusSql,
      f AS (SELECT * FROM c WHERE id < 300),
      d AS (SELECT * FROM c WHERE id >= 300),
      fp AS (SELECT a.id AS a_id, b.id AS b_id
             FROM f a JOIN f b
               ON a.id < b.id AND abs(len(a.nm) - len(b.nm)) <= 2
             WHERE levenshtein(a.nm, b.nm) <= 2),
      fe AS (SELECT a_id AS u, b_id AS v FROM fp
             UNION ALL SELECT b_id AS u, a_id AS v FROM fp),
      fr(node, lbl) AS (
        SELECT id, id FROM f
        UNION
        SELECT fe.v, fr.lbl FROM fr JOIN fe ON fe.u = fr.node),
      fgold AS (SELECT node AS id, MIN(lbl) AS golden FROM fr GROUP BY node),
      m AS (SELECT d.id AS did, MIN(g.golden) AS adopt
            FROM d JOIN f ON abs(len(d.nm) - len(f.nm)) <= 2
                         AND levenshtein(d.nm, f.nm) <= 2
            JOIN fgold g ON g.id = f.id
            GROUP BY d.id)
      SELECT d.id, COALESCE(m.adopt, d.id) AS golden,
             CAST(m.adopt IS NOT NULL AS INT) AS matched
      FROM d LEFT JOIN m ON m.did = d.id
      ORDER BY d.id"""),
    doc = "N44c: frozen-index ER assignment (T22's batch spelling) — frozen " +
      "EdJoin gram index + closure at freeze, delta probes/verifies/adopts " +
      "or mints; oracle replays frozen closure + quadratic min-golden " +
      "adoption; frozen-index semantics (no delta-delta merges) encoded " +
      "in both engines")

  val all: Seq[Q] =
    Seq(q54, q55, q56, q57, q82, q93, q96, q107, q187, q191, q192, q208,
      q212, q226)
}
