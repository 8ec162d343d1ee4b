package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector column math (SURVEY.md §2.10 N11-N12).
  *
  * All built from lambda HOFs (`zip_with`/`aggregate`/`transform`) —
  * codegen-eligible column expressions, no UDFs, array stays unexploded.
  *
  * Determinism contract: dot/norm are SEQUENTIAL left folds over the
  * dimension index, so the double result is a pure function of the
  * vector values — identical on any partitioning, any cluster size, and
  * in any engine that folds in index order (the DuckDB oracle uses
  * list_reduce, which matches). Never replace with a parallel/tree sum.
  */
object VectorOps {

  /** Σ a[i]*b[i], float→double widened, sequential fold. Delegates to
    * the native codegen'd FloatVectorDot expression — a tight primitive
    * loop in whole-stage codegen instead of the HOF chain's per-row
    * zipped-array allocation. Fold order (and thus the double result)
    * is identical to the HOF form and the DuckDB list_reduce twin. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.FloatVectorDot(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** The HOF formulation of `dot` — kept as the portable fallback and
    * the differential test partner for FloatVectorDot. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Σ a[i]^2 (squared L2 norm), sequential fold. */
  def normSq(a: Column): Column = dot(a, a)

  /** cosine(a, b) = dot / (sqrt(|a|²) * sqrt(|b|²)). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Deterministic micro-unit quantization: rint(x * 1e6) as BIGINT.
    * Cross-row sums of doubles are order-dependent; sums of these longs
    * are exact in any order. rint (round-half-even on the double) is
    * exactly DuckDB's double→DECIMAL(_,6) conversion, so the oracle can
    * reproduce it with a cast. */
  def micros(x: Column): Column = rint(x * lit(1e6)).cast(LongType)

  /** Element-wise micros of a float array. */
  def microsVec(a: Column): Column =
    transform(a, x => micros(x.cast(DoubleType)))

  /** max |x_i| over the vector — the per-vector symmetric-quantization
    * scale. Sequential fold, deterministic. */
  def absMax(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => greatest(acc, abs(x.cast(DoubleType))))

  /** Symmetric int8 quantization: q_i = round(x_i / amax · 127) as
    * TINYINT — 4× smaller than float32 on disk and on every shuffle,
    * the standard storage/recall trade for billion-vector corpora
    * (|cosine drift| ~ 1e-3 at 64 dims, pinned in VectorOpsSpec).
    *
    * Determinism: x/amax·127 is two exactly-rounded IEEE ops, and
    * `round` ties go AWAY FROM ZERO in both Spark (HALF_UP) and DuckDB
    * (`round`), so the quantized bytes are engine/partitioning-exact.
    * Pass a MATERIALIZED `amax` column (from [[absMax]]): referencing
    * an unmaterialized absMax expression here would inline it into the
    * lambda and re-fold the vector once per element — the O(d²)
    * CollapseProject trap MinHashLSH's scaladoc documents. */
  def quantize8(a: Column, amax: Column): Column =
    transform(a, x =>
      when(amax === 0.0, lit(0))
        .otherwise(round(x.cast(DoubleType) / amax * 127, 0))
        .cast(ByteType))

  /** q286's SQ8 code rows: (vec_id, embedding) → (vec_id, am, qv), with
    * `am` the per-vector scale in exact millis (rint(amax·10³), the
    * oracle's DECIMAL(18,3) cast) and `qv` the [[quantize8]] codes.
    * The scale is per vector, so encoding is stateless per row. `amax`
    * is materialized in its own projection (see [[quantize8]]). */
  def sq8Codes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        absMax(col("embedding")).as("amax"))
      .select(col("vec_id"),
        rint(col("amax") * lit(1e3)).cast(LongType).as("am"),
        quantize8(col("embedding"), col("amax")).as("qv"))

  /** Inverse of [[quantize8]]: x̂_i = q_i · amax / 127. Reconstruction
    * error is bounded by amax/254 + rounding dust per element. */
  def dequantize8(q: Column, amax: Column): Column =
    transform(q, v => v.cast(DoubleType) * amax / lit(127.0))

  // DuckDB twins (string builders keep the two engines in sync — the
  // oracle must fold in the same index order as the columns above).

  /** DuckDB twin of `absMax` (list_prepend supplies the fold seed). */
  def absMaxSql(a: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, x -> CAST(abs(x) AS DOUBLE))), " +
      "(acc, x) -> greatest(acc, x))"

  /** DuckDB twin of `dot`: sequential list_reduce in index order. */
  def dotSql(a: String, b: String, dims: Int = 64): String =
    s"list_reduce(list_transform(range(1, ${dims + 1}), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** DuckDB twin of `cosine`. */
  def cosineSql(a: String, b: String, dims: Int = 64): String =
    s"${dotSql(a, b, dims)} / (sqrt(${dotSql(a, a, dims)}) * sqrt(${dotSql(b, b, dims)}))"
}
