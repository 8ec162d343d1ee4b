package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.core.Barriers._

/** Connected components — the cluster-collapse step of a dedup
  * pipeline (near-dup PAIRS from MinHash/SimHash become duplicate
  * CLUSTERS; the pipeline keeps one representative per cluster) and the
  * closure of every representative-level graph in the engine. One
  * verb, [[ConnectedComponents.labelStar]]: a partition-local union-find
  * contraction, then large-star/small-star rounds only while the
  * contracted edges are not yet a star forest. It returns
  * `(id, component)` with component = the minimum reachable id.
  *
  * Deterministic: min over longs, no ordering sensitivity anywhere.
  */
object ConnectedComponents {

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14): rounds are O(log² n) in the worst case (in
    * practice a handful) instead of min-label propagation's
    * O(diameter), because each round REWIRES edges toward the component
    * minimum rather than propagating labels one hop.
    *
    *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    *   small-star(u): over edges (u, v) canonical u > v:
    *                  m = min(N(u)); emit (v, m) for v ∈ N(u) ∪ {u} \ {m}
    *
    * Both steps preserve connectivity and never raise any node's
    * minimum reachable label (the paper's Lemmas 1-2); the fixed point
    * is a forest of stars rooted at each component's minimum id.
    *
    * Local contraction first (Łącki et al., "Connected Components at
    * Scale via Local Contractions", 2018): before any shuffle, one
    * `mapPartitions` over the raw `(src, dst)` longs runs a union-find
    * with min-id roots over the edges that share a partition and emits
    * `(x, root(x))` for every non-root node — canonical (u > v) star
    * edges with the same connectivity as the partition's edges. Rows
    * with a null endpoint are dropped and self-loops vanish. Inputs
    * whose components already sit whole in one partition (q96's
    * chains come out of a window partitioned by customer) leave the
    * pass as a star forest and need no star round at all. The union-
    * find's node map is a primitive open-addressing long table; when
    * it reaches [[ContractCap]] nodes (~20 MB per task at the cap) the
    * pass flushes its stars and starts over. Any subset of the edges
    * contracts to stars of the same connectivity, so a flush only
    * leaves more work for the rounds, never a wrong answer.
    *
    * Star-forest test instead of an initial signature: round 1's
    * large-star window (partitioned by node over the symmetrized
    * contracted edges) also marks each node with two different parents
    * or with both roles; with canonical edges (u > v), a node's smallest
    * neighbor is below it iff it has a parent. That window is lazily
    * localCheckpointed and one count of marked rows both materializes
    * it and decides. Zero means every edge joins a leaf to a root that
    * is nobody's child — a forest of stars, each root its component's
    * minimum because edges are canonical — exactly
    * the loop's fixed point, so the loop is skipped and the final
    * labeling below is correct unchanged. The test tolerates duplicate
    * edges (two parents show as min ≠ max), so the contracted edges need
    * no `distinct` exchange, and when the test fails round 1 starts from
    * the checkpointed window: the test costs one count over it, not a
    * shuffle of its own. The loop then runs as before, with no previous
    * signature to compare against: its first round cannot stop, which
    * costs at most one round and never a wrong answer.
    *
    * Implementation notes (Spark-first, no collect_list): each star
    * step is a window-min over the neighbor partition — the
    * neighborhood is never materialized as an array, so a viral node
    * with 10⁷ neighbors costs a sort+scan, not an executor-memory
    * array. Shuffles are all on compact long keys. Convergence =
    * (edge count, xxhash64 edge-set checksum) unchanged across a
    * round — one driver-side pair compare per round against the
    * materializing count; a false stop needs a 64-bit checksum
    * collision at equal cardinality (~2⁻⁶⁴ — negligible, and both
    * star steps are deterministic so a stop is reproducible). The
    * loop keeps this signature rather than the star test: the test
    * reads the window over a round's INPUT, so it could confirm a
    * fixed point no earlier than the signature compare does.
    *
    * Every round's edges are lazily localCheckpointed: un-truncated,
    * each round's plan nests every earlier round's windows and
    * exchanges, and driver-side ANALYSIS — which runs on every Dataset
    * construction, cached data or not — becomes the bottleneck within a
    * handful of rounds (measured 60 s → 14 s on a 135k-edge graph by
    * truncating every round).
    *
    * @param maxRounds hard cap on star rounds; exceeding it THROWS (an
    *   unconverged labeling is silently-wrong clusters — prefer a loud
    *   failure and a bigger cap over corrupt dedup output)
    * @return (idCol, "component") — component = min node id reachable */
  def labelStar(nodes: DataFrame, idCol: String,
                edges: DataFrame, srcCol: String, dstCol: String,
                maxRounds: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // (count, checksum) signature of a canonical edge frame; the head()
    // action is also what materializes the round's checkpoint. The
    // checksum sums full-range xxhash64 longs as DECIMAL(38,0) — an
    // overflow-safe, order-independent exact sum under ANSI mode.
    def sig(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }

    // large-star's window over the symmetrized edges: m = min(Γ(u) ∪ {u}),
    // and `bad` on every row of a node u with two parents or with both
    // roles. lo = u's smallest neighbor: u has a parent iff lo < u, and
    // lo is then its smallest parent. No dedup here: duplicate edges
    // don't change the window mins, and the round's distinct drops them.
    // Both directions come from ONE scan (explode, not a self-union), so
    // an unpersisted input — round 1's contraction — is computed once.
    def starWindow(e: DataFrame): DataFrame = {
      val w = Window.partitionBy("u")
      val lo = min(col("v")).over(w)
      e.select(explode(array(struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .select(col("u"), col("v"), least(lo, col("u")).as("m"),
          (lo < col("u") && (max(col("v")).over(w) > col("u") ||
            lo < max(when(col("v") < col("u"), col("v"))).over(w))).as("bad"))
    }

    // canonical (u = bigger, v = smaller) star edges of each partition's
    // edges; duplicates across partitions (and flushes) are left in
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val contracted = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .as(pair)
      .mapPartitions(contract(_, ContractCap))(pair)
      .toDF("u", "v")
    // the star test and round 1's large-star share one window; first()
    // materializes its lazy checkpoint (first, not head: head() is the
    // rounds' call site). A checkpoint, not persist(): the zero-round
    // result reads it, and it must leave no CacheManager entry behind.
    var win = starWindow(contracted).barrier(eager = false)
    var converged = win.agg(count(when(col("bad"), 1))).first().getLong(0) == 0
    var e = win.filter(col("v") < col("u")).select(col("u"), col("v"))
    var eSig: Option[(Long, String)] = None
    var round = 0
    while (!converged && round < maxRounds) {
      val large = win
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over the (already canonical) large-star output.
      // ONE pass over the window result: the textbook form unions a
      // filter arm {(v,m): v ≠ m} with a projection arm {(u,m)} — two
      // plan branches referencing the same window, which Spark plans as
      // TWO window sorts (no CSE across union arms; measured ~25% of
      // the round). Every u-group attains its min on ≥ 1 row (v = m),
      // so emitting (u,m) FROM those rows and (v,m) from the rest
      // yields the identical edge SET after the round's distinct,
      // with the window materialized once.
      val withMin = large.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      val small = withMin
        .select(when(col("v") =!= col("m"), col("v")).otherwise(col("u")).as("u"),
          col("m").as("v"))
        .distinct() // no self-edges possible: m ≤ v < u on every row
      // LAZY checkpoint: sig()'s head() — which touches every partition
      // — is the materializing action, so each round runs ONE job, not
      // an eager-checkpoint job plus the signature job
      val next = small.barrier(eager = false)
      val nextSig = sig(next)
      converged = eSig.contains(nextSig)
      e = next
      win = starWindow(e)
      eSig = Some(nextSig)
      round += 1
    }
    require(converged,
      s"star connected components did not converge within $maxRounds rounds; " +
        "raise maxRounds — partial edges would mislabel components")
    // fixed point is a star forest: every non-root points at its root; roots
    // and isolated nodes label themselves.
    nodes.select(col(idCol).cast("long").as("node"))
      .join(e.groupBy(col("u").as("node")).agg(min(col("v")).as("root")),
        Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("root"), col("node")).as("component"))
  }

  /** Node cap of one [[contract]] flush: 2²⁰ nodes hold ~20 MB per task
    * (a 2²¹-slot int table, 2²⁰ longs of ids and 2²⁰ ints of parents). */
  private[operators] val ContractCap = 1 << 20

  /** [[labelStar]]'s partition-local contraction: a union-find with
    * min-id roots over `rows`, emitting `(x, root(x))` for every
    * non-root node, so `x > root(x)`. Once the union-find holds `cap`
    * nodes it emits its stars and starts over. Self-loops add nothing. */
  private[operators] def contract(rows: Iterator[(Long, Long)], cap: Int): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private val uf = new LongUnionFind
      private var out: Iterator[(Long, Long)] = Iterator.empty
      def hasNext: Boolean = {
        while (!out.hasNext && rows.hasNext) {
          uf.clear()
          while (rows.hasNext && uf.size <= cap - 2) {
            val (a, b) = rows.next()
            if (a != b) uf.union(a, b)
          }
          out = uf.stars
        }
        out.hasNext
      }
      def next(): (Long, Long) =
        if (hasNext) out.next() else throw new NoSuchElementException("contract")
    }

  /** Union-find over long node ids with min-id roots. Node ids map to
    * dense indexes through an open-addressing int table (linear
    * probing, load ≤ 1/2); all three arrays start small and double. */
  private final class LongUnionFind {
    private var slots = Array.fill(64)(-1) // hash slot → dense index, -1 empty
    private var ids = new Array[Long](32)  // dense index → node id
    private var parent = new Array[Int](32)
    private var n = 0

    def size: Int = n

    def clear(): Unit = { java.util.Arrays.fill(slots, -1); n = 0 }

    def union(a: Long, b: Long): Unit = {
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
    }

    /** `(id, root id)` of every non-root node; valid until the next union/clear. */
    def stars: Iterator[(Long, Long)] =
      Iterator.range(0, n).flatMap { i =>
        val r = find(i)
        if (r == i) Iterator.empty else Iterator.single((ids(i), ids(r)))
      }

    private def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) } // path halving
      i
    }

    private def slotOf(x: Long): Int = {
      val mask = slots.length - 1
      val h = x * 0x9E3779B97F4A7C15L
      var s = (h ^ (h >>> 32)).toInt & mask
      while (slots(s) >= 0 && ids(slots(s)) != x) s = (s + 1) & mask
      s
    }

    private def index(x: Long): Int = {
      val s = slotOf(x)
      if (slots(s) >= 0) slots(s)
      else if (2 * (n + 1) > slots.length) { grow(); index(x) }
      else {
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, 2 * n)
          parent = java.util.Arrays.copyOf(parent, 2 * n)
        }
        ids(n) = x; parent(n) = n; slots(s) = n
        n += 1
        n - 1
      }
    }

    private def grow(): Unit = {
      slots = Array.fill(2 * slots.length)(-1)
      var i = 0
      while (i < n) { slots(slotOf(ids(i))) = i; i += 1 }
    }
  }
}
