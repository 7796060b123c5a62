package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Shared support for the small-graph in-driver fast paths: a NATIVE
  * ordering per supported column type so min-label semantics match the
  * distributed loops exactly (a string ordering over numeric labels would
  * pick "100" over "99"). Types without a listed ordering fall back to
  * the distributed path. */
private[graph] object GraphDriverPath {

  /** Runs `algorithm` in the driver over the collected pairs of `edges`
    * (two columns of one node type) when that type has an ordering and
    * `edges` has at most `maxEdges` rows (one count() job); its pairs come
    * back as a frame with columns `out`. None ⇒ use the distributed loop. */
  def solve(edges: DataFrame, maxEdges: Long, out: (String, String))(
      algorithm: (Array[(Any, Any)], Ordering[Any]) => Seq[(Any, Any)]): Option[DataFrame] = {
    val node = edges.schema.fields(0)
    val ord = orderingFor(node.dataType).filter(_ => edges.count() <= maxEdges)
    ord.map { o =>
      val rows = algorithm(edges.collect().map(r => (r.get(0), r.get(1))), o)
        .map { case (a, b) => Row(a, b) }
      val spark = edges.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500000 + 1)),
        StructType(Seq(
          StructField(out._1, node.dataType, nullable = node.nullable),
          StructField(out._2, node.dataType, nullable = node.nullable))))
    }
  }

  def orderingFor(dt: DataType): Option[Ordering[Any]] = dt match {
    // Spark's StringType ordering is UTF8String's byte comparison (=
    // code-POINT order); java.lang.String compares UTF-16 code UNITS,
    // which diverges for supplementary-plane characters — wrap in
    // UTF8String so the driver path picks the same min label.
    case StringType => Some(Ordering.by((a: Any) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])))
    case LongType | IntegerType | ShortType | ByteType =>
      Some(Ordering.by((a: Any) => a.asInstanceOf[Number].longValue()))
    case DoubleType | FloatType =>
      Some(Ordering.by((a: Any) => a.asInstanceOf[Number].doubleValue()))
    case _ => None
  }
}
