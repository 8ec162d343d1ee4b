package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, Tables}
import graft.operators.{Bfs, KMeansInt}
import graft.core.Barriers._

/** Round-4 corpus-curation operators (SURVEY.md §2.11a N22–N25,
  * X40–X47, J12): boilerplate line removal, integer-exact k-means,
  * bounded BFS, negative sampling, token-Gini scoring, co-purchase
  * mining, exact EWMA, two-phase skyline, linear interpolation,
  * 3σ outlier flags, Hamilton quota mixing, grid-cell spatial join,
  * and quantile normalization.
  *
  * The documents corpus has no natural line structure or duplicates,
  * so q117 PLANTS deterministic boilerplate lines (same device as
  * q54's planted near-dups): both engines build the same corpus, so
  * outputs hash-compare. A recurring theme across the file: every
  * formula that must hash-match is either exact integer arithmetic or
  * a short FIXED-ORDER IEEE chain written textually identically in
  * both engines — no libm (log/sqrt/trig), no order-dependent float
  * reductions.
  */
object Curation {

  private val B1 = "shared boilerplate footer appended by the exporter"
  private val B2 = "subscribe to our newsletter for updates"

  /** q117 — boilerplate line removal (N22), the C4 rule: drop every
    * line that occurs in >= 3 distinct documents, keep survivors in
    * original order, drop documents left empty. Planted lines: B1 on
    * doc_id%4 (viral at every scale), B2 on doc_id%10 (viral), and a
    * doc_id-suffixed unique footer on doc_id%250 (occurs once — must
    * SURVIVE at every scale, pinning that the threshold tests
    * distinct-doc frequency, not mere plantedness).
    *
    * Scale shape: one posexplode, one line-frequency aggregate, one
    * anti-join, one doc_id aggregate to reassemble. The viral-line set
    * is tiny by construction (boilerplate is frequent, so there are
    * few distinct viral lines), so the anti-join broadcasts it —
    * documents never shuffle for the filter. At 100 TB, key the
    * frequency pass and anti-join on md5(line) so raw text stays in
    * place; same plan shape. */
  val q117 = Q(
    "q117_boilerplate_lines",
    (s, dir) => {
      import s.implicits._
      val corpus = Tables(s, dir, "documents").select($"doc_id",
        // concat_ws skips NULLs in both engines, so absent plants
        // simply contribute no line
        concat_ws("\n", $"text",
          when($"doc_id" % 4 === 0, lit(B1)),
          when($"doc_id" % 10 === 0, lit(B2)),
          when($"doc_id" % 250 === 0,
            concat(lit("unique footer "), $"doc_id"))).as("text"))
      val lines = corpus.select($"doc_id",
        posexplode(split($"text", "\n")).as(Seq("pos", "line")))
      val viral = lines.groupBy($"line")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 3)
        .select($"line")
      lines.join(viral, Seq("line"), "left_anti")
        .groupBy($"doc_id")
        .agg(
          array_join(transform(array_sort(collect_list(struct($"pos", $"line"))),
            c => c.getField("line")), "\n").as("text"),
          count(lit(1)).as("n_lines"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, concat_ws(chr(10), text,
          CASE WHEN doc_id % 4 = 0 THEN 'shared boilerplate footer appended by the exporter' END,
          CASE WHEN doc_id % 10 = 0 THEN 'subscribe to our newsletter for updates' END,
          CASE WHEN doc_id % 250 = 0 THEN 'unique footer ' || CAST(doc_id AS VARCHAR) END) AS text
        FROM documents),
      splitd AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM corpus),
      lines AS (
        -- multiple unnests in one SELECT zip positionally in DuckDB
        SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, unnest(l) AS line
        FROM splitd),
      viral AS (
        SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
      kept AS (
        SELECT * FROM lines WHERE line NOT IN (SELECT line FROM viral))
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             COUNT(*) AS n_lines
      FROM kept GROUP BY doc_id ORDER BY doc_id"""),
    doc = "N22: C4-style boilerplate removal — viral lines (>=3 distinct docs) " +
      "dropped, survivor order preserved; broadcast anti-join, text never " +
      "shuffled for the filter")

  /** DuckDB twin of `KMeansInt.cluster(src, k = 8, rounds = 2)` as a
    * reusable CTE chain ending in `a3(vec_id, cluster, d)` — the final
    * assignment — over any `(vec_id, embedding)` source SQL. Shared by
    * q118 (the k-means oracle itself), q187 (SemDeDup, which prunes
    * within these clusters) and q190 (the composed pipeline, which
    * clusters only the near-dedup survivors' embeddings — an id set
    * WITH gaps, which is why seeding spells the operator's
    * `orderBy(id).limit(k)` literally instead of the old `vec_id < 8`
    * shortcut that assumed contiguous 0-based ids; r8, closing the
    * q118 scaladoc caveat). */
  private[queries] def kmeansCtes8x2From(srcSql: String): String = s"""vq AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 10000) AS xq
        FROM ($srcSql)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cluster, xq AS cq FROM vq
             ORDER BY vec_id LIMIT 8),""" + kmeansRounds8x2

  // lazy: forces after kmeansRounds8x2 below is initialized
  private[queries] lazy val kmeansCtes8x2: String =
    kmeansCtes8x2From("SELECT vec_id, embedding FROM embeddings")

  private[queries] val kmeansRounds8x2: String = """
      a1 AS (
        SELECT vec_id, cluster, xq, d FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM (SELECT vq.vec_id, c0.cluster, vq.xq,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
                FROM vq CROSS JOIN c0))
        WHERE rn = 1),
      c1 AS (
        SELECT cluster, list(q ORDER BY pos) AS cq FROM (
          SELECT cluster, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS q
          FROM (SELECT cluster, unnest(range(1, 65)) AS pos, unnest(xq) AS v
                FROM a1)
          GROUP BY cluster, pos)
        GROUP BY cluster),
      a2 AS (
        SELECT vec_id, cluster, xq, d FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM (SELECT vq.vec_id, c1.cluster, vq.xq,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
                FROM vq CROSS JOIN c1))
        WHERE rn = 1),
      c2 AS (
        SELECT cluster, list(q ORDER BY pos) AS cq FROM (
          SELECT cluster, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS q
          FROM (SELECT cluster, unnest(range(1, 65)) AS pos, unnest(xq) AS v
                FROM a2)
          GROUP BY cluster, pos)
        GROUP BY cluster),
      a3 AS (
        SELECT vec_id, cluster, d FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM (SELECT vq.vec_id, c2.cluster,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> (xq[i] - cq[i]) * (xq[i] - cq[i]))) AS BIGINT) AS d
                FROM vq CROSS JOIN c2))
        WHERE rn = 1)"""

  /** q118 — integer-exact k-means (N23): 8 clusters, 2 update rounds,
    * centroids seeded from the 8 smallest vec_ids. Every distance and
    * centroid mean is exact BIGINT math on a corpus-global quantized
    * grid (see [[KMeansInt]]), so the full iterative clustering —
    * assignments, updates, final distances — hash-matches DuckDB
    * running the same algebra in SQL.
    *
    * Oracle seeding: [[KMeansInt.cluster]] seeds from the k SMALLEST
    * ids, and since r8 the DuckDB twin spells
    * exactly that (`ORDER BY vec_id LIMIT 8`), so the two engines agree
    * on ANY id set — including the gap-ridden survivor subsets q190
    * clusters (the old `vec_id < 8` shortcut assumed contiguous
    * 0-based ids and would have silently diverged there). */
  val q118 = Q(
    "q118_kmeans_int",
    (s, dir) => {
      import s.implicits._
      KMeansInt.cluster(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, rounds = 2)
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH $kmeansCtes8x2
      SELECT vec_id, cluster, d AS dist FROM a3 ORDER BY vec_id"""),
    doc = "N23: integer-exact k-means — iterative ML made hash-reproducible; " +
      "one job per round: broadcast centroids, per-partition exact sums, " +
      "a k*dims-long collect")

  /** q119 — bounded multi-source BFS (X40) on the per-nation customer
    * chain graph (consecutive custkeys within a nation — the same
    * chain construction as q96, whose diameter defeats naive
    * propagation). Sources: each nation's smallest custkey; bound: 6
    * hops. The oracle derives distances INDEPENDENTLY — on a chain,
    * hop distance from the chain head is just rank-1 — so it checks
    * the BFS rather than mirroring it (q96's device). */
  val q119 = Q(
    "q119_bfs_hops",
    (s, dir) => {
      import s.implicits._
      val cust = Tables(s, dir, "customer").select($"c_custkey", $"c_nationkey")
      val w = Window.partitionBy($"c_nationkey").orderBy($"c_custkey")
      val edges = cust.withColumn("nxt", lead($"c_custkey", 1).over(w))
        .filter($"nxt".isNotNull)
        .select($"c_custkey".as("src"), $"nxt".as("dst"))
      val sources = cust.groupBy($"c_nationkey")
        .agg(min($"c_custkey").as("c_custkey"))
        .select($"c_custkey")
      Bfs.distances(sources, "c_custkey", edges, "src", "dst", maxHops = 6)
        .orderBy($"c_custkey")
    },
    Some("""
      WITH r AS (
        SELECT c_custkey,
               CAST(row_number() OVER (PARTITION BY c_nationkey
                                       ORDER BY c_custkey) - 1 AS BIGINT) AS dist
        FROM customer)
      SELECT c_custkey, dist FROM r WHERE dist <= 6 ORDER BY c_custkey"""),
    doc = "X40: frontier BFS with per-round lineage truncation; oracle is an " +
      "independent rank-based derivation over the chain graph")

  /** q120 — deterministic negative sampling (N24): for each document,
    * k=3 "random other documents" from the same language stratum — the
    * negative-pair generation step of contrastive embedding training.
    * The device: order each (lang, hash-bucket) partition by a keyed
    * md5 draw and take the next three doc_ids — hash-shuffled
    * neighbors ARE a uniform sample, with zero joins, zero RNG state,
    * and bit-identical output on any engine/partitioning/reprocess
    * (q67/q80/q103's determinism family).
    *
    * Scale shape: ONE window over (lang, bucket). The md5-derived
    * bucket caps partition size as the corpus grows — a plain
    * per-lang window would concentrate 90%-English corpora onto a few
    * reducers; more buckets = more parallelism, same semantics. */
  val q120 = Q(
    "q120_negative_sampling",
    (s, dir) => {
      import s.implicits._
      val draw = md5(concat(lit("ns:"), $"doc_id".cast("string")))
      val bucket = (conv(substring(draw, 1, 2), 16, 10).cast("int") % 4).as("bucket")
      val w = Window.partitionBy($"lang", $"bucket").orderBy($"draw", $"doc_id")
      Tables(s, dir, "documents")
        .select($"doc_id", $"lang", draw.as("draw"), bucket)
        .select($"doc_id", $"lang",
          lead($"doc_id", 1).over(w).as("neg1"),
          lead($"doc_id", 2).over(w).as("neg2"),
          lead($"doc_id", 3).over(w).as("neg3"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang,
               md5('ns:' || CAST(doc_id AS VARCHAR)) AS draw,
               CAST(('0x' || substr(md5('ns:' || CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 4 AS bucket
        FROM documents)
      SELECT doc_id, lang,
             lead(doc_id, 1) OVER w AS neg1,
             lead(doc_id, 2) OVER w AS neg2,
             lead(doc_id, 3) OVER w AS neg3
      FROM d
      WINDOW w AS (PARTITION BY lang, bucket ORDER BY draw, doc_id)
      ORDER BY doc_id"""),
    doc = "N24: contrastive negative sampling — hash-ordered window neighbors " +
      "as a uniform draw; one bounded window, no joins, no RNG state")

  /** q122 — token-distribution Gini impurity (N25): a lexical-diversity
    * / repetition quality signal per document. Entropy is the textbook
    * choice but needs log(), whose libm ULPs differ across engines
    * (the q76 haversine lesson); Gini = 1 − Σpᵢ² carries the same
    * signal and is pure rational arithmetic: with per-term counts cᵢ
    * and n = Σcᵢ, gini = (n² − Σcᵢ²)/n² — exact BIGINT numerator and
    * denominator, one deterministic IEEE divide at the end.
    *
    * Scale shape: the word-count shape — one (doc, term) aggregate,
    * one doc aggregate, both compact-key shuffles. (The per-row HOF
    * form would be shuffle-free but O(d²) per doc — the nested-lambda
    * no-CSE trap q95/q106 document; the relational form is the one
    * that scales.) */
  val q122 = Q(
    "q122_token_gini",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n"), sum($"c" * $"c").as("sq"))
        .select($"doc_id", $"n", $"sq",
          (($"n" * $"n" - $"sq").cast("double") / ($"n" * $"n").cast("double"))
            .as("gini"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH tc AS (
        SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) t
        GROUP BY doc_id, t.term),
      d AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS sq
        FROM tc GROUP BY doc_id)
      SELECT doc_id, n, sq,
             CAST(n * n - sq AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
      FROM d ORDER BY doc_id"""),
    doc = "N25: lexical-diversity Gini — log-free quality scoring; exact " +
      "integer moments, one IEEE divide; word-count shuffle shape")

  /** q123 — co-occurrence pair mining (X41): which part pairs appear in
    * the same order — the market-basket / "frequently bought together"
    * primitive (and, on (doc, term), the co-occurrence matrix behind
    * PMI embeddings). Per-key self-join with p1 < p2, so fan-out is
    * C(k,2) with k the per-order item count — bounded by the basket
    * size, never by the corpus (q108's wedge-bound argument); pairs
    * then aggregate on a compact (p1, p2) key and global top-50 fuses
    * into TakeOrderedAndProject. Ties at the cutoff break by (p1, p2)
    * so the top-k is total-order deterministic. */
  val q123 = Q(
    "q123_copurchase",
    (s, dir) => {
      import s.implicits._
      val items = Tables(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey").distinct()
      items.as("a").join(items.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
        .groupBy($"a.l_partkey".as("p1"), $"b.l_partkey".as("p2"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"p1", $"p2")
        .limit(50)
    },
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 ORDER BY n DESC, p1, p2 LIMIT 50"""),
    doc = "X41: market-basket pair counts — basket-bounded self-join fan-out, " +
      "compact-key aggregate, top-k fusion")

  /** q124 — exact half-life EWMA (X42): per-customer smoothed spend,
    * s = Σⱼ x₍ₜ₋ⱼ₎·2^−(j+1) over the last 8 orders. α = 1/2 is the
    * trick: every term is a power-of-two SCALING (exact in binary
    * floating point — no rounding anywhere), and the remaining sum is
    * a textually identical left-to-right chain in both engines (q94's
    * device), so the smoothed value hash-matches bit-for-bit — a
    * recursive float EWMA never could. Eight lag() columns over one
    * customer-partitioned window: one shuffle, no self-joins. */
  val q124 = Q(
    "q124_ewma",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val terms = (0 to 7).map { j =>
        coalesce(lag($"o_totalprice", j).over(w), lit(0.0d)) /
          lit(math.pow(2.0, j + 1))
      }
      Tables(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
        .withColumn("ewma", terms.reduce(_ + _))
        .select($"o_orderkey", $"o_custkey", $"ewma")
        .orderBy($"o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey,
             coalesce(lag(o_totalprice, 0) OVER w, 0) / 2
           + coalesce(lag(o_totalprice, 1) OVER w, 0) / 4
           + coalesce(lag(o_totalprice, 2) OVER w, 0) / 8
           + coalesce(lag(o_totalprice, 3) OVER w, 0) / 16
           + coalesce(lag(o_totalprice, 4) OVER w, 0) / 32
           + coalesce(lag(o_totalprice, 5) OVER w, 0) / 64
           + coalesce(lag(o_totalprice, 6) OVER w, 0) / 128
           + coalesce(lag(o_totalprice, 7) OVER w, 0) / 256 AS ewma
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey"""),
    doc = "X42: half-life EWMA — power-of-two scalings are exact in IEEE, " +
      "fixed-order sum chain matches across engines; one window shuffle")

  /** q125 — Pareto frontier / skyline (X43): documents not dominated in
    * (n_chars, distinct-token count) — the multi-objective selection
    * primitive ("no other doc is at least as long AND at least as
    * diverse, and strictly better in one").
    *
    * The naive skyline needs a GLOBAL sort (the unpartitioned-window
    * red flag), so this runs the exact two-phase decomposition: x-range
    * buckets make every dominance check local — a dominator has
    * x' ≥ x, so it lives in the same bucket (caught by a PER-BUCKET
    * range window), a strictly higher bucket (caught by a running max
    * over the ~16-row bucket summary), or the same x (per-x max
    * window). No approximation — bucket ranges are disjoint, so the
    * three checks exactly cover the dominator set. The only global
    * window runs over the bucket SUMMARY (rows = bucket count,
    * corpus-size independent). The oracle is the independent
    * NOT-EXISTS definition, so it checks the decomposition rather
    * than mirroring it. */
  val q125 = Q(
    "q125_skyline",
    (s, dir) => {
      import s.implicits._
      val W = 128
      val m = Tables(s, dir, "documents")
        .select($"doc_id", $"n_chars".as("x"),
          size(array_distinct(split($"text", " "))).cast("long").as("y"))
        .withColumn("b", floor($"x" / W))
      val wLoc = Window.partitionBy($"b").orderBy($"x")
        .rangeBetween(1L, Window.unboundedFollowing)
      // bucket summary: best y in each bucket, then best y over all
      // strictly HIGHER buckets (tiny frame: one row per bucket)
      val wRun = Window.orderBy($"b".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val hi = m.groupBy($"b").agg(max($"y").as("bm"))
        .withColumn("hm", max($"bm").over(wRun))
        .select($"b", $"hm")
      m.join(broadcast(hi), Seq("b"))
        .withColumn("lg", max($"y").over(wLoc))
        .withColumn("sx", max($"y").over(Window.partitionBy($"x")))
        .filter(($"lg".isNull || $"lg" < $"y") &&
          ($"hm".isNull || $"hm" < $"y") && $"sx" === $"y")
        .select($"doc_id", $"x", $"y")
        .orderBy($"doc_id")
    },
    Some("""
      WITH m AS (
        SELECT doc_id, n_chars AS x,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
        FROM documents)
      SELECT doc_id, x, y FROM m p
      WHERE NOT EXISTS (
        SELECT 1 FROM m q
        WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
      ORDER BY doc_id"""),
    doc = "X43: exact two-phase skyline — per-bucket range windows + a " +
      "bucket-summary running max; no global data sort; oracle is the " +
      "independent NOT-EXISTS definition")

  /** q126 — time-series linear interpolation (X44): q81 forward-fills
    * gaps; this one fills them on the line between the surrounding
    * observations — the standard feature-engineering choice when a
    * sensor value drifts rather than steps. Same per-key spine device
    * as q81; hour index = row_number on the contiguous spine, so the
    * interpolation fraction is a ratio of exact BIGINTs and the value
    * formula `vp + (vn−vp)·frac` is one textually-identical IEEE chain
    * in both engines (q94's device). Edge slots (no observation on one
    * side) stay NULL. One window shuffle; no self-joins. */
  val q126 = Q(
    "q126_interpolate",
    (s, dir) => {
      import s.implicits._
      import graft.core.Exact.dsum
      val ev = Tables(s, dir, "events").filter($"user_id" < 20)
      val bounds = ev.groupBy($"user_id")
        .agg(date_trunc("hour", min($"ts")).as("lo"),
          date_trunc("hour", max($"ts")).as("hi"))
      val spine = bounds.select($"user_id",
        explode(sequence($"lo", $"hi", expr("interval 1 hour"))).as("slot"))
      val hourly = ev
        .groupBy($"user_id", date_trunc("hour", $"ts").as("slot"))
        .agg(dsum($"value").as("v"))
      val wOrd = Window.partitionBy($"user_id").orderBy($"slot")
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(hourly, Seq("user_id", "slot"), "left_outer")
        .withColumn("idx", row_number().over(wOrd))
        .withColumn("vp", last($"v", ignoreNulls = true).over(wPrev))
        .withColumn("pi", last(when($"v".isNotNull, $"idx"), ignoreNulls = true).over(wPrev))
        .withColumn("vn", first($"v", ignoreNulls = true).over(wNext))
        .withColumn("ni", first(when($"v".isNotNull, $"idx"), ignoreNulls = true).over(wNext))
        .select($"user_id", $"slot",
          when($"v".isNotNull, lit("obs"))
            .when($"vp".isNull || $"vn".isNull, lit("edge"))
            .otherwise(lit("interp")).as("status"),
          when($"v".isNotNull, $"v".cast("double"))
            .otherwise($"vp".cast("double") +
              ($"vn".cast("double") - $"vp".cast("double")) *
                (($"idx" - $"pi").cast("double") / ($"ni" - $"pi").cast("double")))
            .as("vi"))
        .orderBy($"user_id", $"slot")
    },
    Some(s"""
      WITH ev AS (SELECT * FROM events WHERE user_id < 20),
      b AS (SELECT user_id, date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM ev GROUP BY user_id),
      spine AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot FROM b),
      h AS (SELECT user_id, date_trunc('hour', ts) AS slot, ${graft.core.Exact.sqlDsum("value")} AS v
            FROM ev GROUP BY 1, 2),
      j AS (SELECT s.user_id, s.slot, h.v,
              row_number() OVER w AS idx
            FROM spine s LEFT JOIN h ON s.user_id = h.user_id AND s.slot = h.slot
            WINDOW w AS (PARTITION BY s.user_id ORDER BY s.slot)),
      f AS (SELECT user_id, slot, v, idx,
              last_value(v IGNORE NULLS) OVER wp AS vp,
              last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER wp AS pi,
              first_value(v IGNORE NULLS) OVER wn AS vn,
              first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER wn AS ni
            FROM j
            WINDOW wp AS (PARTITION BY user_id ORDER BY slot
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY user_id ORDER BY slot
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, slot,
             CASE WHEN v IS NOT NULL THEN 'obs'
                  WHEN vp IS NULL OR vn IS NULL THEN 'edge'
                  ELSE 'interp' END AS status,
             CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                  ELSE CAST(vp AS DOUBLE) +
                       (CAST(vn AS DOUBLE) - CAST(vp AS DOUBLE)) *
                         (CAST(idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
             END AS vi
      FROM f ORDER BY user_id, slot"""),
    doc = "X44: per-key spine + two ignoreNulls windows + exact-integer " +
      "interpolation fraction; gap filling on the line, one window shuffle")

  /** q127 — per-group 3σ outlier flags WITHOUT sqrt (X45): a length
    * outlier is flagged iff (x − μ)² > 9·σ² — algebraically identical
    * to |x − μ| > 3σ but expressible with exact integer moments and a
    * short fixed-order IEEE chain (sqrt's libm ULPs differ across
    * engines; squaring both sides removes it, the q122 log-avoidance
    * move applied to stddev).
    *
    * Scale shape: per-lang moments are a TINY aggregate (one row per
    * lang) broadcast-joined back — the corpus is scanned, never
    * shuffled. The window form (`sum over partitionBy(lang)`) would
    * shuffle every row; the stats-join form is the one that scales. */
  val q127 = Q(
    "q127_outlier_flags",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val st = docs.groupBy($"lang").agg(
        count(lit(1)).as("n"),
        sum($"n_chars").as("sx"),
        sum($"n_chars" * $"n_chars").as("sx2"))
      val nd = $"n".cast("double")
      val mean = $"sx".cast("double") / nd
      val variance = $"sx2".cast("double") / nd - mean * mean
      val diff = $"n_chars".cast("double") - mean
      docs.join(broadcast(st), Seq("lang"))
        .select($"doc_id", $"lang", $"n_chars",
          (diff * diff > lit(9.0d) * variance).as("is_outlier"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH st AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS sx,
               CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
        FROM documents GROUP BY lang)
      SELECT doc_id, d.lang, n_chars,
             (CAST(n_chars AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n_chars AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           > 9.0 * (CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS is_outlier
      FROM documents d JOIN st USING (lang)
      ORDER BY doc_id"""),
    doc = "X45: 3-sigma flags via squared comparison — no sqrt, exact integer " +
      "moments, tiny stats broadcast back; corpus scanned, never shuffled")

  /** q128 — training-mix quota sampling (X46): apportion a 100-doc
    * budget across sources proportionally to their sizes using
    * Hamilton's largest-remainder method — floor quotas from exact
    * integer division, the leftover seats to the largest remainders
    * (ties by source name) — then fill each source's quota with its
    * md5-rank top documents (q80's deterministic stratified device).
    * Every step is BIGINT arithmetic or hash ranking: the mix is
    * bit-identical on any engine/partitioning/reprocess, which is what
    * makes a training-data recipe auditable.
    *
    * Scale shape: the apportionment runs entirely on the ~20-row
    * source summary (its unpartitioned windows are tiny-frame by
    * construction); the corpus sees one rank window per source and a
    * broadcast quota join. */
  val q128 = Q(
    "q128_quota_mix",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val st = docs.groupBy($"source").agg(count(lit(1)).as("ns"))
      val tot = st.agg(sum($"ns").as("nn"))
      val wAll = Window.partitionBy()
      val wRem = Window.orderBy($"rem".desc, $"source")
      val quotas = st.crossJoin(broadcast(tot))
        .withColumn("base", expr("(100 * ns) div nn"))
        .withColumn("rem", lit(100) * $"ns" - $"base" * $"nn")
        .withColumn("leftover", lit(100) - sum($"base").over(wAll))
        .withColumn("rk", row_number().over(wRem))
        .withColumn("quota", $"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
        .select($"source", $"quota")
      // quota <= 100 by construction (quotas sum to 100), so the pick
      // is a top-100-per-source — q29's two-phase salted device, not a
      // one-task-per-source window (the r5 audit's skew family)
      val pickKey = md5(concat(lit("qs:"), $"doc_id".cast("string")))
      val wSalt = Window.partitionBy($"source", $"__salt")
        .orderBy($"pick_key", $"doc_id")
      val wPick = Window.partitionBy($"source").orderBy($"pick_key", $"doc_id")
      docs.select($"doc_id", $"source", pickKey.as("pick_key"),
          pmod(hash($"doc_id"), lit(32)).as("__salt"))
        .withColumn("spick", row_number().over(wSalt))
        .filter($"spick" <= 100)
        .withColumn("pick", row_number().over(wPick))
        .join(broadcast(quotas), Seq("source"))
        .filter($"pick" <= $"quota")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },
    Some("""
      WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
                  FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS nn FROM st),
      q0 AS (SELECT source, ns, nn,
               (100 * ns) // nn AS base,
               100 * ns - ((100 * ns) // nn) * nn AS rem
             FROM st CROSS JOIN tot),
      q1 AS (SELECT source, base,
               100 - SUM(base) OVER () AS leftover,
               row_number() OVER (ORDER BY rem DESC, source) AS rk
             FROM q0),
      quotas AS (SELECT source,
                   base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
                 FROM q1),
      ranked AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5('qs:' || CAST(doc_id AS VARCHAR)), doc_id) AS pick
                 FROM documents)
      SELECT doc_id, r.source
      FROM ranked r JOIN quotas USING (source)
      WHERE pick <= quota
      ORDER BY doc_id"""),
    doc = "X46: Hamilton largest-remainder apportionment + md5-rank fill — " +
      "an auditable, bit-reproducible training mix; apportionment math runs " +
      "on the tiny source summary only")

  /** q129 — spatial proximity self-join (J12): customer pairs within
    * 1° of each other on q76's md5-scattered globe, via
    * [[graft.operators.SpatialJoin]]'s grid-cell equi-join — never a
    * cross product. Radius 1.0 keeps the cell index `floor(x/r)` a
    * division by an exact power of two — bit-identical cells in both
    * engines — and is the smallest such radius that yields pairs at
    * sf0.001's 150-customer density (the registry's rows>0 smoke
    * check). The oracle runs the grid construction in SQL; the
    * distance predicate is q76's oracle-safe squared-degree metric. */
  val q129 = Q(
    "q129_geo_cell_join",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType}
      val lat = conv(substring(md5(concat($"c_custkey".cast(StringType), lit(":lat"))), 1, 6),
        16, 10).cast(LongType) % 18000 / 100.0 - 90.0
      val lon = conv(substring(md5(concat($"c_custkey".cast(StringType), lit(":lon"))), 1, 6),
        16, 10).cast(LongType) % 36000 / 100.0 - 180.0
      val pts = Tables(s, dir, "customer")
        .select($"c_custkey", lat.as("lat"), lon.as("lon"))
      graft.operators.SpatialJoin
        .withinRadius(pts, "c_custkey", "lat", "lon", radiusDeg = 1.0)
        .orderBy($"a_key", $"b_key")
    },
    Some("""
      WITH g AS (
        SELECT c_custkey AS k,
               CAST(('0x' || substr(md5(c_custkey || ':lat'), 1, 6)) AS BIGINT) % 18000 / 100.0 - 90.0 AS lat,
               CAST(('0x' || substr(md5(c_custkey || ':lon'), 1, 6)) AS BIGINT) % 36000 / 100.0 - 180.0 AS lon
        FROM customer),
      p AS (SELECT k, lat, lon,
              CAST(floor(lat / 1.0) AS BIGINT) AS cx,
              CAST(floor(lon / 1.0) AS BIGINT) AS cy
            FROM g),
      o AS (SELECT a.dx, b.dy
            FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
      pr AS (SELECT k AS a_key, lat AS alat, lon AS alon,
               cx + dx AS px, cy + dy AS py
             FROM p CROSS JOIN o)
      SELECT pr.a_key, p.k AS b_key,
             (alat - lat) * (alat - lat) + (alon - lon) * (alon - lon) AS dist_sq
      FROM pr JOIN p ON pr.px = p.cx AND pr.py = p.cy AND pr.a_key < p.k
      WHERE (alat - lat) * (alat - lat) + (alon - lon) * (alon - lon) < 1.0
      ORDER BY a_key, b_key"""),
    doc = "J12: grid-cell spatial join — 9x probe replication, one equi-join, " +
      "exact distance scrub; linear shuffle, never a cross product")

  /** q130 — within-source quantile normalization (X47): replace each
    * document's length with its exact percentile position inside its
    * source, `(rank−1)/(n−1)` — the rank-based feature normalization
    * that makes quality signals comparable ACROSS sources with
    * different length distributions (a 2k-char doc is long for tweets,
    * short for books). Rank-with-ties keeps tied lengths identical;
    * the position is one IEEE divide of exact BIGINTs (q113's device).
    * Single-doc sources emit 0.0 (the n=1 guard, not a 0/0 NaN).
    * De-skewed via [[graft.operators.PrefixScan]] over the
    * distinct-length summary — see the build comment; the oracle SQL
    * keeps the plain-window spelling (same algebra, DuckDB's scale is
    * not in question). */
  val q130 = Q(
    "q130_quantile_norm",
    (s, dir) => {
      import s.implicits._
      import graft.operators.PrefixScan
      // rank() OVER (PARTITION BY source) would cap the query at one
      // task per source (~tens of values over billions of docs at
      // corpus scale) — the r4-flagged skew family. The measure is
      // DISCRETE (char lengths), so rank-with-ties(v) = count(v'<v)+1
      // comes from a distinct-value summary instead: groupBy collapses
      // the corpus to value-domain size, PrefixScan cumulates the
      // counts without a per-source sort, and the corpus itself never
      // shuffles — the qpos table broadcasts back onto the scan.
      val docs = Tables(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars")
      val summary = docs.groupBy($"source", $"n_chars")
        .agg(count(lit(1)).as("cnt"))
      val scanned = PrefixScan.inclusive(summary, Seq("source"), "n_chars",
          Nil, "cnt", _.cast("long") / 256L, "cum_le", Some("n"))
        .withColumn("rk", $"cum_le" - $"cnt" + 1)
      val pos = scanned
        .select($"source", $"n_chars",
          when($"n" === 1, lit(0.0d))
            .otherwise(($"rk" - 1).cast("double") / ($"n" - 1).cast("double"))
            .as("qpos"))
      docs.join(broadcast(pos), Seq("source", "n_chars"))
        .select($"doc_id", $"source", $"n_chars", $"qpos")
        .orderBy($"doc_id")
    },
    Some("""
      WITH r AS (
        SELECT doc_id, source, n_chars,
               rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT doc_id, source, n_chars,
             CASE WHEN n = 1 THEN 0.0
                  ELSE CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
             END AS qpos
      FROM r ORDER BY doc_id"""),
    doc = "X47: rank-based quantile normalization per source — exact integer " +
      "rank math via PrefixScan over the distinct-length summary (no " +
      "per-source single-task window), cross-source comparable scores")

  /** q131 — fixed-width identifier near-match join (N26): all customer
    * pairs whose names differ in AT MOST ONE character position — the
    * entity-resolution shape for typo'd/OCR'd fixed-format identifiers
    * (SKUs, serials, account numbers). Algorithm (r5, third cut): the
    * DELETION-NEIGHBORHOOD index (the mask form of Mor & Fraenkel '82
    * "ASPELL"-style 1-error retrieval): each name emits its 18
    * single-position wildcard masks, and hamming-1 pairs are EXACTLY
    * the (p, mask) equi-join matches — a substitution at position p
    * matches the p-mask and no other, so recall is exact, every pair
    * arises from exactly one key, and (unlike any pigeonhole banding)
    * there are NO false candidates to scrub: mask-equal ⇒ hamming ≤ 1
    * by construction. The flat 18-term compare is kept only as the
    * hamming output column. Replaces the r4 double-pigeonhole
    * (stripe × quarter) cut: that one still materialized large
    * candidate buckets off 4 low-selectivity keys and spent ~30 s at
    * sf0.1 on candidate generation; masks make the join keys
    * near-unique (bucket size ≈ 1 + #true matches), measured ~6×
    * faster, identical output.
    *
    * Scale shape: 18 key rows per name (×L blowup of a narrow
    * projection — linear, compressible, the standard trade), one
    * equi-join on near-unique 19-char keys — never a cross product,
    * no quadratic bucket. PRECONDITION (unchanged from r4): names are
    * unique (TPC-H c_name is). A hamming-0 pair (two ids with
    * IDENTICAL names) would match all 18 masks and be emitted 18×
    * here (2× by the two-stripe oracle) — under duplicate names, add
    * .dropDuplicates("a_id","b_id") and mirror a DISTINCT in the
    * oracle. */
  val q131 = Q(
    "q131_id_near_match",
    (s, dir) => {
      import s.implicits._
      val names = Tables(s, dir, "customer")
        .select($"c_custkey", $"c_name")
        .filter(length($"c_name") === 18)
      // 18 wildcard masks per name: position p replaced by chr(1), a
      // character that cannot occur in the data — (p, mask) is the key.
      // `c` = the MASKED-OUT character: mask equality already proves
      // agreement at every position ≠ p, so hamming reduces to ONE char
      // compare (r7 — the r6 form re-ran the full 18-substring compare
      // per candidate, ~60% of the query on TPC-H's dense hamming-1
      // name space; identical output, incl. the 18×-emission behavior
      // for precondition-violating duplicate names where c matches)
      val masks = names
        .select($"c_custkey", explode(expr(
          """transform(sequence(1, 18), p -> named_struct(
               'p', p,
               'm', concat(substring(c_name, 1, p - 1), chr(1),
                           substring(c_name, p + 1, 18 - p)),
               'c', substring(c_name, p, 1)))"""))
          .as("mk"))
        .select($"c_custkey", $"mk.p".as("p"), $"mk.m".as("m"), $"mk.c".as("c"))
      val a = masks.select($"c_custkey".as("a_id"), $"p", $"m", $"c".as("ca"))
      val b = masks.select($"c_custkey".as("b_id"), $"p", $"m", $"c".as("cb"))
      a.join(b, Seq("p", "m"))
        .filter($"a_id" < $"b_id")
        .withColumn("hamming",
          when($"ca" === $"cb", 0L).otherwise(1L))
        .filter($"hamming" <= 1)
        .select($"a_id", $"b_id", $"hamming")
        // a global sort runs a range-sampling pass that would replay
        // the whole pair join a second time; materialize first
        .barrier()
        .orderBy($"a_id", $"b_id")
    },
    Some("""
      WITH n AS (SELECT c_custkey, c_name FROM customer WHERE length(c_name) = 18),
      st AS (
        SELECT c_custkey, c_name, 0 AS sid,
               array_to_string(list_transform(range(1, 19, 2),
                 p -> substr(c_name, CAST(p AS INT), 1)), '') AS stripe
        FROM n
        UNION ALL
        SELECT c_custkey, c_name, 1 AS sid,
               array_to_string(list_transform(range(2, 19, 2),
                 p -> substr(c_name, CAST(p AS INT), 1)), '') AS stripe
        FROM n),
      cand AS (
        SELECT a.c_custkey AS a_id, a.c_name AS an,
               b.c_custkey AS b_id, b.c_name AS bn
        FROM st a JOIN st b
          ON a.sid = b.sid AND a.stripe = b.stripe AND a.c_custkey < b.c_custkey)
      SELECT a_id, b_id,
             CAST(list_sum(list_transform(range(1, 19),
               i -> CASE WHEN substr(an, CAST(i AS INT), 1)
                            = substr(bn, CAST(i AS INT), 1)
                         THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
      FROM cand
      WHERE list_sum(list_transform(range(1, 19),
              i -> CASE WHEN substr(an, CAST(i AS INT), 1)
                           = substr(bn, CAST(i AS INT), 1)
                        THEN 0 ELSE 1 END)) <= 1
      ORDER BY a_id, b_id"""),
    doc = "N26: pigeonhole stripe blocking on raw strings — exact recall for " +
      "hamming<=1, interleaved stripes dodge the constant-prefix viral bucket; " +
      "linear stripe shuffle, never a cross product")

  /** q132 — GROUP BY ALL (P10): the modern-SQL ergonomic surface —
    * every non-aggregate select item becomes a grouping key, so adding
    * a dimension to the report never desynchronizes SELECT and GROUP
    * BY. Byte-identical SQL text runs on both engines (Q.sql's
    * device); Spark resolves it in the analyzer, so the physical plan
    * is the ordinary two-phase hash aggregate. */
  val q132 = Q.sql(
    "q132_group_by_all",
    """SELECT lang, source, COUNT(*) AS n,
              CAST(SUM(n_chars) AS BIGINT) AS chars
       FROM documents GROUP BY ALL ORDER BY lang, source""",
    """SELECT lang, source, COUNT(*) AS n,
              CAST(SUM(n_chars) AS BIGINT) AS chars
       FROM documents GROUP BY ALL ORDER BY lang, source""",
    doc = "P10: GROUP BY ALL — analyzer sugar over the standard two-phase " +
      "hash aggregate; identical SQL text in both engines")

  /** q133 — maximal marginal relevance selection (N27): pick 4 items
    * that are RELEVANT to a query vector but DIVERSE from each other —
    * greedy MMR (Carbonell & Goldstein '98), the retrieval/curation
    * step that stops a top-k from returning four copies of the same
    * idea. Round i picks argmax of
    * `0.5·cos(q,d) − 0.5·max_{s∈selected} cos(d,s)` (ties to smallest
    * id). Every cosine is a sequential fold (VectorOps contract) and
    * sqrt is IEEE-exactly-rounded everywhere (unlike log/trig — why
    * q50's cosine family hash-matches), so the greedy trajectory is
    * bit-identical cross-engine; the oracle unrolls the four rounds as
    * CTE stages (q118's device).
    *
    * Scale shape per round: selected set is ≤k rows — broadcast against
    * the candidate corpus, one max-penalty aggregate keyed by
    * candidate, global argmax fuses to TakeOrdered. k rounds of
    * linear passes; candidates never self-join. */
  val q133 = Q(
    "q133_mmr_select",
    (s, dir) => {
      import s.implicits._
      val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      val query = emb.filter($"vec_id" === 0)
        .select($"embedding".as("q_vec"))
      val cands = emb.filter($"vec_id" > 0)
        .crossJoin(broadcast(query))
        .select($"vec_id", $"embedding",
          graft.functions.VectorOps.cosine($"q_vec", $"embedding").as("rel"))
        .persist()
      var selected = s.emptyDataFrame
      var out = Seq.empty[(Int, org.apache.spark.sql.DataFrame)]
      for (round <- 1 to 4) {
        val scored =
          if (round == 1) cands.withColumn("score", $"rel" * 0.5)
          else {
            val sel = broadcast(selected
              .select($"vec_id".as("s_id"), $"embedding".as("s_vec")))
            cands.join(sel, $"vec_id" =!= $"s_id")
              .groupBy($"vec_id", $"embedding", $"rel")
              .agg(max(graft.functions.VectorOps.cosine($"embedding", $"s_vec"))
                .as("pen"))
              .withColumn("score", $"rel" * 0.5 - $"pen" * 0.5)
          }
        val pickable = if (round == 1) scored
          else scored.join(selected.select($"vec_id"), Seq("vec_id"), "left_anti")
        val pick = pickable
          .orderBy($"score".desc, $"vec_id")
          .limit(1)
          .select($"vec_id", $"embedding", $"score")
          .barrier()
        out = out :+ (round -> pick)
        selected = if (round == 1) pick else selected.unionByName(pick)
      }
      out.map { case (r, df) =>
        df.select(lit(r).as("rank"), $"vec_id", $"score")
      }.reduce(_ unionByName _).orderBy($"rank")
    },
    Some {
      import graft.functions.VectorOps.cosineSql
      def relOf(c: String) = cosineSql("q.q_vec", s"$c.embedding")
      s"""
      WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
      cand AS (SELECT e.vec_id, e.embedding, ${relOf("e")} AS rel
               FROM embeddings e, q WHERE e.vec_id > 0),
      s1 AS (SELECT vec_id, embedding, rel * 0.5 AS score FROM cand
             ORDER BY score DESC, vec_id LIMIT 1),
      p2 AS (SELECT c.vec_id, c.embedding, c.rel,
               MAX(${cosineSql("c.embedding", "s.embedding")}) AS pen
             FROM cand c, s1 s WHERE c.vec_id <> s.vec_id
               AND c.vec_id NOT IN (SELECT vec_id FROM s1)
             GROUP BY c.vec_id, c.embedding, c.rel),
      s2 AS (SELECT vec_id, embedding, rel * 0.5 - pen * 0.5 AS score FROM p2
             ORDER BY score DESC, vec_id LIMIT 1),
      sel2 AS (SELECT vec_id, embedding FROM s1 UNION ALL
               SELECT vec_id, embedding FROM s2),
      p3 AS (SELECT c.vec_id, c.embedding, c.rel,
               MAX(${cosineSql("c.embedding", "s.embedding")}) AS pen
             FROM cand c, sel2 s WHERE c.vec_id <> s.vec_id
               AND c.vec_id NOT IN (SELECT vec_id FROM sel2)
             GROUP BY c.vec_id, c.embedding, c.rel),
      s3 AS (SELECT vec_id, embedding, rel * 0.5 - pen * 0.5 AS score FROM p3
             ORDER BY score DESC, vec_id LIMIT 1),
      sel3 AS (SELECT vec_id, embedding FROM sel2 UNION ALL
               SELECT vec_id, embedding FROM s3),
      p4 AS (SELECT c.vec_id, c.embedding, c.rel,
               MAX(${cosineSql("c.embedding", "s.embedding")}) AS pen
             FROM cand c, sel3 s WHERE c.vec_id <> s.vec_id
               AND c.vec_id NOT IN (SELECT vec_id FROM sel3)
             GROUP BY c.vec_id, c.embedding, c.rel),
      s4 AS (SELECT vec_id, embedding, rel * 0.5 - pen * 0.5 AS score FROM p4
             ORDER BY score DESC, vec_id LIMIT 1)
      SELECT 1 AS rank, vec_id, score FROM s1 UNION ALL
      SELECT 2, vec_id, score FROM s2 UNION ALL
      SELECT 3, vec_id, score FROM s3 UNION ALL
      SELECT 4, vec_id, score FROM s4
      ORDER BY rank"""
    },
    doc = "N27: greedy MMR diverse selection — broadcast selected set, " +
      "linear passes, TakeOrdered argmax; bit-identical greedy trajectory")

  /** q136 — share-of-parent rollup (X48): each nation's revenue as a
    * fraction of its region's total — the hierarchical "contribution"
    * report every BI layer ships. Both levels are EXACT decimal sums
    * computed independently from the fact rows (never by re-summing
    * the child DOUBLES — window-summing rendered doubles would make
    * the total association-order-dependent and unhashable); the share
    * is one IEEE divide of the two deterministic renderings. Region
    * totals are 5 rows → broadcast back; the fact table is scanned,
    * aggregated on compact keys, and never shuffled twice. */
  val q136 = Q(
    "q136_share_of_parent",
    (s, dir) => {
      import s.implicits._
      import graft.core.Exact
      val base = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables(s, dir, "nation")),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables(s, dir, "region")),
          $"n_regionkey" === $"r_regionkey")
        .select($"r_name", $"n_name", $"o_totalprice")
      val nations = base.groupBy($"r_name", $"n_name")
        .agg(Exact.dsum($"o_totalprice").as("revenue"))
      val regions = base.groupBy($"r_name")
        .agg(Exact.dsum($"o_totalprice").as("region_total"))
      nations.join(broadcast(regions), Seq("r_name"))
        .select($"r_name", $"n_name", $"revenue",
          ($"revenue" / $"region_total").as("share"))
        .orderBy($"r_name", $"n_name")
    },
    Some(s"""
      WITH base AS (
        SELECT r_name, n_name, o_totalprice
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey),
      nations AS (
        SELECT r_name, n_name, ${graft.core.Exact.sqlDsum("o_totalprice")} AS revenue
        FROM base GROUP BY r_name, n_name),
      regions AS (
        SELECT r_name, ${graft.core.Exact.sqlDsum("o_totalprice")} AS region_total
        FROM base GROUP BY r_name)
      SELECT n.r_name, n.n_name, n.revenue, n.revenue / r.region_total AS share
      FROM nations n JOIN regions r ON n.r_name = r.r_name
      ORDER BY n.r_name, n.n_name"""),
    doc = "X48: hierarchical contribution report — both levels exact decimal " +
      "sums from facts, share one IEEE divide; 5-row region totals broadcast")

  /** q137 — gaps and islands (X49): group each customer's order DAYS
    * into maximal runs of consecutive days — the classic SQL pattern
    * behind activity streaks, outage windows, and contiguous-coverage
    * reports (q30 sessionizes by TIME GAP on raw events; islands group
    * by integer ADJACENCY on the distinct-day grid). The whole trick
    * is one subtraction: within a customer, `day_index − row_number()`
    * is constant exactly along a consecutive run, so the island id
    * falls out of a window function with no joins and no iteration.
    * Exact integer date math end-to-end; one shuffle on customer. */
  val q137 = Q(
    "q137_gaps_islands",
    (s, dir) => {
      import s.implicits._
      val days = Tables(s, dir, "orders")
        .select($"o_custkey", datediff(to_date($"o_orderdate"),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy($"o_custkey").orderBy($"day")
      days
        .withColumn("isl", $"day" - row_number().over(w))
        .groupBy($"o_custkey", $"isl")
        .agg(min($"day").as("start_day"), max($"day").as("end_day"),
          count(lit(1)).as("n_days"))
        .filter($"n_days" >= 2) // streaks, not singletons — keeps output lean
        .select($"o_custkey", $"start_day", $"end_day", $"n_days")
        .orderBy($"o_custkey", $"start_day")
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT o_custkey,
               CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        FROM orders),
      isl AS (
        SELECT o_custkey, day,
               day - row_number() OVER (PARTITION BY o_custkey ORDER BY day) AS isl
        FROM days)
      SELECT o_custkey, MIN(day) AS start_day, MAX(day) AS end_day,
             COUNT(*) AS n_days
      FROM isl GROUP BY o_custkey, isl
      HAVING COUNT(*) >= 2
      ORDER BY o_custkey, start_day"""),
    doc = "X49: consecutive-run grouping via the rank-difference constant — " +
      "no joins, no iteration; exact integer day math, one customer shuffle")

  /** q142 — robust scaling per source (X51): `(x − median) / IQR`, the
    * outlier-immune cousin of the z-score (q127's 3σ device breaks on
    * heavy-tailed lengths; median/IQR do not). Boundaries are EXACT
    * rank statistics from the [[graft.operators.IncrementalAgg]] value
    * histogram (X50's mergeable summary — a warehouse can maintain it
    * incrementally and re-scale nightly without re-scanning history),
    * read out by one [[graft.operators.PrefixScan]]; the scale itself
    * is one IEEE divide of exact BIGINTs, hash-safe. Degenerate
    * IQR = 0 (constant-length sources) emits 0.0, not a 0/0 NaN.
    * Corpus never shuffles: the 3-quantile table broadcasts back. */
  val q142 = Q(
    "q142_robust_scale",
    (s, dir) => {
      import s.implicits._
      import graft.operators.IncrementalAgg
      val docs = Tables(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars")
      val hist = IncrementalAgg.summarizeHist(docs, Seq("source"), "n_chars")
      val qs = IncrementalAgg.histQuantiles(hist, Seq("source"), "n_chars",
          _.cast("long") / 256L, Seq("p25" -> 25, "p50" -> 50, "p75" -> 75))
        .select($"source", $"p25", $"p50", $"p75")
      docs.join(broadcast(qs), Seq("source"))
        .select($"doc_id", $"source", $"n_chars",
          when($"p75" === $"p25", lit(0.0d))
            .otherwise(($"n_chars" - $"p50").cast("double")
              / ($"p75" - $"p25").cast("double")).as("robust_z"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH r AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM documents),
      b AS (
        SELECT source,
               MAX(CASE WHEN rn = (cnt * 25 + 99) // 100 THEN n_chars END) AS p25,
               MAX(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN n_chars END) AS p50,
               MAX(CASE WHEN rn = (cnt * 75 + 99) // 100 THEN n_chars END) AS p75
        FROM r GROUP BY source)
      SELECT d.doc_id, d.source, d.n_chars,
             CASE WHEN p75 = p25 THEN 0.0
                  ELSE CAST(d.n_chars - p50 AS DOUBLE) / CAST(p75 - p25 AS DOUBLE)
             END AS robust_z
      FROM documents d JOIN b USING (source) ORDER BY d.doc_id"""),
    doc = "X51: median/IQR robust scaling — exact rank-statistic boundaries " +
      "from the mergeable X50 histogram, 3-row-per-source broadcast back; " +
      "corpus never shuffles")

  val all: Seq[Q] = Seq(q117, q118, q119, q120, q122, q123, q124, q125, q126,
    q127, q128, q129, q130, q131, q132, q133, q136, q137, q142)
}
