package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output checks. Each returns the problems it found; empty means pass. */
object Checks {

  /** Stages whose `_lineage` row sum differs from the rows they output. */
  def lineageMismatches(lineageRows: Map[String, Long],
                        outputRows: Map[String, Long]): Seq[String] =
    outputRows.toSeq.sortBy(_._1).collect {
      case (stage, n) if !lineageRows.get(stage).contains(n) =>
        s"$stage: lineage sums ${lineageRows.getOrElse(stage, -1L)} rows, output has $n"
    }

  def floor(name: String, value: Double, min: Double): Seq[String] =
    if (value >= min) Nil else Seq(f"$name $value%.4f below $min%.2f")

  /** Mentions that received more than `limit` candidate rows. */
  def overLimit(rowsPerMention: Map[String, Int], limit: Int): Seq[String] =
    rowsPerMention.toSeq.sortBy(_._1).collect {
      case (m, n) if n > limit => s"mention '$m' returned $n rows, limit $limit"
    }

  /** The `links` stage against the links the benchmark's copy of the
    * pipeline linker config gives, both as `digest`s of (mention, entity). */
  def linkerConfigDrift(stage: (Long, Long), probe: (Long, Long)): Seq[String] =
    if (stage == probe) Nil
    else Seq(s"links stage has ${stage._1} rows, a re-run with Configs.pipeline gives " +
      s"${probe._1} (or other rows): Configs.pipeline no longer matches Pipeline.run's default")

  /** Order-insensitive digest of a table: (rows, XOR of row hashes). Map
    * columns are hashed as their sorted entries, since map equality does
    * not depend on entry order. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(struct(cols: _*))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (precision, recall) of predicted rows against gold rows, on `keys`,
    * compared in memory (both sides are small). */
  def precisionRecall(pred: DataFrame, gold: DataFrame, keys: Seq[String]): (Double, Double) = {
    def rows(df: DataFrame) = df.select(keys.map(col): _*).collect().map(_.toSeq).toSet
    val p = rows(pred)
    val g = rows(gold)
    val tp = (p intersect g).size.toDouble
    (if (p.isEmpty) 0.0 else tp / p.size, if (g.isEmpty) 1.0 else tp / g.size)
  }
}
