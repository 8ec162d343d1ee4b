package graft.operators

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import graft.expressions.NearestCentroid

/** Integer-exact k-means over embedding vectors (SURVEY.md §2.11a N23)
  * — the semantic-clustering step a training-data pipeline runs for
  * cluster-balanced sampling, semantic dedup, and topic bucketing at
  * corpus scale.
  *
  * Floating-point k-means can never hash-match across engines: centroid
  * means depend on summation order, which depends on partitioning. This
  * variant quantizes every vector ONCE onto a fixed integer grid
  * (`round(x·10⁴) + 10⁴` per dimension — two exactly-rounded IEEE ops,
  * ties away from zero in both Spark HALF_UP and DuckDB, then a shift
  * that keeps every coordinate positive so `div` truncation-vs-floor
  * can never diverge), and from there every distance, comparison, and
  * centroid update is pure BIGINT math: squared L2 distances are exact
  * sums, centroid means are truncating integer division of exact sums,
  * and ties in the argmin break to the smallest cluster id. The
  * clustering is therefore bit-identical on any engine, partitioning,
  * or reprocess — q67/q80/q103's determinism family, applied to the
  * iterative-ML primitive. (The q106 int8 quantizer is per-vector-scale
  * — right for storage, wrong for cross-vector distances; this grid is
  * corpus-global.)
  *
  * Every integer-grid argmin in the library is ONE kernel, [[nearest]],
  * over centroids held on the driver ([[Cents]], sorted by cluster id).
  * Training shape: one job seeds the centroids from the `k` smallest
  * ids and caches the vectors; each round is then ONE job — the
  * centroids ship in a `sparkContext.broadcast`, every partition folds
  * its vectors into exact per-cluster partial sums, `reduceByKey`
  * merges them, and a state-sized (k·dims longs) collect brings the
  * sums back to the driver, where the new means are taken and the
  * round's broadcast is destroyed. The vectors never shuffle; BIGINT
  * sums are order-independent, so the centroids are the same under any
  * partitioning. Assignment against trained centroids is a pointwise
  * projection (the kernel as a native expression,
  * [[graft.expressions.NearestCentroid]]) — no window, no join, no
  * exchange. Rounds are a fixed small constant (training-data
  * clustering runs 2–10 rounds on a sample, then assigns the full
  * corpus once). [[ProductQuantizer]] trains its codebooks through the
  * same round, keyed by subspace.
  */
object KMeansInt {

  /** Corpus-global integer grid: `round(x·10⁴) + 10⁴` per dimension.
    * float→double widening is exact; the multiply and round are single
    * exactly-rounded IEEE ops; the +10⁴ shift keeps coordinates
    * positive (|x| < 1 in this corpus — assert wider domains upstream)
    * so integer division in the update step truncates identically
    * everywhere. Squared distances are translation-invariant, so the
    * shift never changes an assignment. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 10000d).cast("long") + 10000L)

  /** Exact squared L2 between two equal-length long arrays. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Centroids on the driver, sorted by cluster id: `cq(j)` is the
    * centroid of cluster `ids(j)`. */
  private[graft] final case class Cents(ids: Array[Int], cq: Array[Array[Long]]) {
    require(ids.length == cq.length, "one centroid per cluster id")
  }

  /** Centroids sorted by cluster id. */
  private[operators] def cents(rows: Seq[(Int, Array[Long])]): Cents = {
    val sorted = rows.sortBy(_._1)
    Cents(sorted.map(_._1).toArray, sorted.map(_._2).toArray)
  }

  /** The argmin kernel: the index into `cq` of the centroid nearest to
    * `x(off until off + len)` and its exact BIGINT squared distance.
    * `cq` is sorted by cluster id and the comparison is a strict `<`,
    * so ties go to the smallest id. A distance that can no longer win
    * stops accumulating early; the winner's is always complete. */
  def nearest(x: Array[Long], off: Int, len: Int,
              cq: Array[Array[Long]]): (Int, Long) = {
    require(cq.nonEmpty, "no centroids to assign against")
    require(off >= 0 && off + len <= x.length,
      s"slice [$off, ${off + len}) is outside a ${x.length}-dim vector")
    var best = -1
    var bestD = Long.MaxValue
    var j = 0
    while (j < cq.length) {
      val c = cq(j)
      require(c.length == len,
        s"dimension mismatch: ${c.length}-dim centroid, $len-dim vector")
      var d = 0L
      var i = 0
      while (i < len && d < bestD) {
        val t = Math.subtractExact(x(off + i), c(i))
        d = Math.addExact(d, Math.multiplyExact(t, t))
        i += 1
      }
      if (d < bestD) { best = j; bestD = d }
      j += 1
    }
    (best, bestD)
  }

  /** One assignment pass: each vector to its nearest centroid (exact
    * BIGINT distance, ties to the smallest cluster id), as a pointwise
    * projection. `cents` is collected to the driver (trained tables
    * are local relations, so that launches no job).
    * @param vecs (idCol, xq: array<long>)  @param cents (cluster, cq)
    * @return (idCol, cluster, dist) */
  def assign(vecs: DataFrame, idCol: String, cents: DataFrame): DataFrame =
    assignWith(vecs, idCol, collectCents(cents))

  private def assignWith(vecs: DataFrame, idCol: String, c: Cents): DataFrame = {
    val bc = vecs.sparkSession.sparkContext.broadcast(Map(0 -> c))
    vecs.select(col(idCol), nearestCol(col("xq"), lit(0), bc).as("__n"))
      .select(col(idCol), col("__n.cluster").as("cluster"), col("__n.dist").as("dist"))
  }

  /** [[nearest]] as a column ([[graft.expressions.NearestCentroid]]):
    * struct(cluster, dist, cq) of the centroid of `books(sub)` nearest
    * to `vec`, or to its `(offset, len)` slice. */
  private[operators] def nearestCol(vec: Column, sub: Column,
                                    books: Broadcast[Map[Int, Cents]],
                                    slice: Option[(Int, Int)] = None): Column =
    Bridge.column(NearestCentroid(Bridge.expression(vec), Bridge.expression(sub),
      books, slice))

  /** A (cluster, cq) centroid table on the driver. */
  private[operators] def collectCents(cents: DataFrame): Cents =
    KMeansInt.cents(cents.select(col("cluster"), col("cq")).collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray)))

  /** Driver centroids as a local relation — (cluster, cq), or
    * (sub, cluster, cq) for codebooks: reading it launches no job, and
    * callers join it like any table. */
  private[operators] def centsFrame(spark: SparkSession, books: Map[Int, Cents],
                                    withSub: Boolean): DataFrame = {
    val rows = for ((s, c) <- books.toSeq.sortBy(_._1); j <- c.ids.indices)
      yield Row.fromSeq((if (withSub) Seq(s) else Nil) ++ Seq(c.ids(j), c.cq(j).toSeq))
    val fields = Seq(StructField("sub", IntegerType, nullable = false))
      .filter(_ => withSub) ++ Seq(StructField("cluster", IntegerType, nullable = false),
      StructField("cq", ArrayType(LongType, containsNull = false), nullable = false))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
  }

  /** Full run: quantize, seed centroids from the `k` smallest ids
    * (deterministic, engine-agnostic), `rounds` assign/update cycles,
    * one final assignment. Returns (idCol, cluster, dist). */
  def cluster(vecs: DataFrame, idCol: String, vecCol: String,
              k: Int, rounds: Int): DataFrame =
    clusterWithCents(vecs, idCol, vecCol, k, rounds)._1

  /** [[cluster]], also returning the trained centroid table
    * (cluster, cq) — callers that probe AGAINST the centroids (IVF-PQ
    * coarse cells, q196) need the table itself, not just the
    * assignments. */
  def clusterWithCents(vecs: DataFrame, idCol: String, vecCol: String,
                       k: Int, rounds: Int): (DataFrame, DataFrame) =
    clusterWithCentsQ(
      vecs.select(col(idCol), quantize(col(vecCol)).as("xq")), idCol, k, rounds)

  /** [[clusterWithCents]] over an ALREADY-quantized `xq` array<long>
    * column — callers whose vectors are integer-born (the RAG chunk
    * embeddings, q202/q206; PQ residuals) must not re-quantize. The
    * training runs eagerly (1 + `rounds` jobs); the returned
    * assignment is a lazy projection over `vecsQ`, and the centroid
    * table is a local relation. */
  def clusterWithCentsQ(vecsQ: DataFrame, idCol: String,
                        k: Int, rounds: Int): (DataFrame, DataFrame) = {
    val data = vectors(vecsQ.select(col(idCol).cast("long"), lit(0), col("xq")))
    val trained = try {
      val init = cents(seedRows(data, k).map { case (id, _, x) => (Math.toIntExact(id), x) })
      train(data, Map(0 -> init), rounds).getOrElse(0, init)
    } finally data.unpersist(blocking = false)
    (assignWith(vecsQ, idCol, trained),
      centsFrame(vecsQ.sparkSession, Map(0 -> trained), withSub = false))
  }

  /** An (id, sub, vector) training row. */
  private[operators] type IdVec = (Long, Int, Array[Long])

  /** (id, sub, vector) rows of a frame with exactly those three
    * columns (long, int, array<long>), cached for the training passes;
    * the caller unpersists. A plain k-means is the one-subspace case
    * (sub = 0). */
  private[operators] def vectors(df: DataFrame): RDD[IdVec] =
    df.queryExecution.toRdd.map { r =>
      require(!r.isNullAt(2), "null vector")
      (r.getLong(0), r.getInt(1), r.getArray(2).toLongArray())
    }.persist()

  /** Every row of the `k` smallest distinct ids, in one job (a bounded
    * per-partition cut, merged by the same cut). */
  private[operators] def seedRows(data: RDD[IdVec], k: Int): Seq[IdVec] = {
    require(k > 0, s"k must be positive, got $k")
    def cut(rows: Iterator[IdVec]): Vector[IdVec] = {
      val byId = mutable.TreeMap.empty[Long, List[IdVec]]
      rows.foreach { r =>
        if (byId.size < k || r._1 <= byId.lastKey) {
          byId(r._1) = r :: byId.getOrElse(r._1, Nil)
          if (byId.size > k) byId.remove(byId.lastKey)
        }
      }
      byId.valuesIterator.flatMap(_.reverse).toVector
    }
    data.mapPartitions(it => Iterator.single(cut(it)))
      .fold(Vector.empty[IdVec])((a, b) => cut((a ++ b).iterator))
  }

  /** `rounds` assign/update cycles over per-subspace centroids, one
    * job each. Per (sub, cluster) a partition keeps the exact sums of
    * the vectors it captured, with their count in the last slot
    * (`Math.addExact` fails loudly where a plain `+` would wrap). A
    * centroid is the truncating mean; a cluster that captured no
    * vectors drops out. */
  private[operators] def train(data: RDD[IdVec],
                               init: Map[Int, Cents], rounds: Int): Map[Int, Cents] =
    (1 to rounds).foldLeft(init) { (cs, _) =>
      val bc = data.sparkContext.broadcast(cs)
      val sums = try data.mapPartitions { it =>
        val books = bc.value
        val acc = mutable.HashMap.empty[(Int, Int), Array[Long]]
        it.foreach { case (_, s, x) =>
          books.get(s).foreach { c =>
            val j = nearest(x, 0, x.length, c.cq)._1
            val a = addInto(acc.getOrElseUpdate((s, c.ids(j)), new Array(x.length + 1)), x)
            a(x.length) += 1
          }
        }
        acc.iterator
      }.reduceByKey(addInto).collect()
      finally bc.destroy()
      sums.groupBy(_._1._1).map { case (s, kv) =>
        s -> cents(kv.toSeq.map { case ((_, c), a) => (c, a.init.map(_ / a.last)) })
      }
    }

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }
}
