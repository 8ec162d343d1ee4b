package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes,
  Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.operators.KMeansInt
import graft.operators.KMeansInt.Cents

/** The integer-grid argmin ([[KMeansInt.nearest]]) as a native
  * expression: `struct(cluster, dist, cq)` of the centroid nearest to
  * `vec` — or to its `(offset, len)` slice — among the centroids of
  * subspace `sub` (0 for a plain k-means), with its exact BIGINT
  * squared distance and its coordinates (the residual encoders
  * re-center against them). The centroids arrive in one broadcast, so
  * a 65 536 × 64 table never rides in the plan or a task closure.
  *
  * Interpreted and generated code call the same [[nearest]]; the
  * generated code passes the input `ArrayData` straight through, with
  * no converter or boxing. A null vector or sub yields null; a null
  * element, a missing subspace or a dimension mismatch fails loudly.
  */
case class NearestCentroid(vec: Expression, sub: Expression,
                           books: Broadcast[Map[Int, Cents]],
                           slice: Option[(Int, Int)])
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = vec
  override def right: Expression = sub
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = NearestCentroid.schema
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val cqData: Map[Int, Array[ArrayData]] =
    books.value.map { case (s, c) =>
      s -> c.cq.map(a => UnsafeArrayData.fromPrimitiveArray(a): ArrayData) }

  override def nullSafeEval(v: Any, s: Any): Any =
    nearest(v.asInstanceOf[ArrayData], s.asInstanceOf[Int])

  def nearest(v: ArrayData, s: Int): InternalRow = {
    val c = books.value.getOrElse(s,
      throw new IllegalArgumentException(s"no centroids for subspace $s"))
    val n = v.numElements()
    var i = 0
    while (i < n) { require(!v.isNullAt(i), s"null element $i in a vector"); i += 1 }
    val (off, len) = slice.getOrElse((0, n))
    val (j, d) = KMeansInt.nearest(v.toLongArray(), off, len, c.cq)
    InternalRow(c.ids(j), d, cqData(s)(j))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this)
    nullSafeCodeGen(ctx, ev, (v, s) => s"${ev.value} = $self.nearest($v, $s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(vec = newLeft, sub = newRight)
}

object NearestCentroid {
  val schema: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false),
    StructField("cq", ArrayType(LongType, containsNull = false), nullable = false)))
}
