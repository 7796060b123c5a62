package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{IntegerType, ObjectType}

/** Row-local vector primitives for the ANN operators.
  *
  * The centroid table of an IVF quantizer is BOUNDED (nCentroids ≤ a few
  * thousand), so nearest-centroid assignment must not be a join: the
  * centroids are collected once and embedded in the expression, and the
  * argmax runs inside the corpus scan — at 100 TB the assignment pass is
  * a single map stage with no exchange, vs the r2 crossJoin+window shape
  * that shuffled and SORTED corpus×nCentroids rows.
  */
object VectorHelper {

  /** Argmax-dot centroid id for v (unit vectors ⇒ argmax cosine).
    * `cents`/`ids` are parallel arrays sorted by id ascending; ties on
    * the score keep the FIRST (= smallest id), matching the old window
    * ordering (score desc, centroid_id asc). Dot products accumulate
    * left-to-right — the same FP order as the `aggregate` Column fold,
    * so scores are bit-identical to the join formulation. */
  def nearestCentroid(vec: ArrayData, cents: Array[Array[Double]],
                      ids: Array[Int]): Int = {
    val v = vec.toDoubleArray()
    var bestScore = Double.NegativeInfinity
    var bestId = -1
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(v.length, c.length)
      var s = 0.0
      var d = 0
      while (d < n) { s += v(d) * c(d); d += 1 }
      if (s > bestScore) { bestScore = s; bestId = ids(i) }
      i += 1
    }
    bestId
  }
}

/** array<double> → int nearest-centroid id: one `StaticInvoke` of
  * [[VectorHelper.nearestCentroid]], like every `TextSetExprs` function.
  * The centroid and id arrays are object literals, which generated code
  * holds as reference objects, so no row decodes them. */
object VectorExprs {
  def nearestCentroid(v: Column, centroids: Array[Array[Double]],
                      ids: Array[Int]): Column =
    GraftExpressionBridge.column(StaticInvoke(VectorHelper.getClass, IntegerType,
      "nearestCentroid", Seq(GraftExpressionBridge.expression(v),
        Literal(centroids, ObjectType(classOf[Array[Array[Double]]])),
        Literal(ids, ObjectType(classOf[Array[Int]]))),
      returnNullable = false))
}
