package graft.kg

import graft.SparkSpec
import graft.graph.{Canonicalize, TypeClosure}
import org.apache.spark.sql.functions._

/** The small-graph in-driver fast paths must be indistinguishable from
  * the distributed loops — same rows, same native column types, same
  * min-label ordering (numeric, not lexicographic). */
class GraphPathsSpec extends SparkSpec {
  import spark.implicits._

  test("closure: driver and distributed paths agree on numeric ids") {
    val edges = (1 to 200).map(i => (i.toLong, (i / 2).toLong))
      .toDF("child", "parent")
    val drv = TypeClosure.closure(edges) // 200 edges ⇒ driver path
    val dist = TypeClosure.closure(edges, maxDriverEdges = 0L)
    assert(drv.schema == dist.schema, s"${drv.schema} vs ${dist.schema}")
    val a = drv.as[(Long, Long)].collect().toSet
    val b = dist.as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("closure: a 140-level chain closes fully on both paths") {
    val edges = (1 to 140).map(i => (i.toLong, (i - 1).toLong)).toDF("child", "parent")
    val want = (for (c <- 1 to 140; a <- 0 until c) yield (c.toLong, a.toLong)).toSet
    Seq("driver" -> Long.MaxValue, "distributed" -> 0L).foreach { case (path, maxDriverEdges) =>
      val got = TypeClosure.closure(edges, maxDriverEdges = maxDriverEdges)
        .as[(Long, Long)].collect().toSet
      val missing = (want -- got).size
      assert(missing == 0 && got.subsetOf(want), s"$path path: ${got.size} of ${want.size} pairs")
    }
  }

  test("components: driver path picks NUMERIC min labels like the loop") {
    // component {9, 100}: numeric min = 9; lexicographic would pick "100"
    val edges = Seq((100L, 9L), (5L, 300L)).toDF("src", "dst")
    val drv = Canonicalize.connectedComponents(edges)
    val dist = Canonicalize.connectedComponents(edges, maxDriverEdges = 0L)
    assert(drv.schema == dist.schema)
    val a = drv.as[(Long, Long)].collect().toSet
    val b = dist.as[(Long, Long)].collect().toSet
    assert(a == b)
    assert(a.contains((100L, 9L)) && a.contains((300L, 5L)))
  }

  test("components: string labels keep lexicographic min on both paths") {
    val edges = Seq(("Qb", "Qa"), ("Qz", "Qc")).toDF("src", "dst")
    val a = Canonicalize.connectedComponents(edges)
      .as[(String, String)].collect().toSet
    val b = Canonicalize.connectedComponents(edges, maxDriverEdges = 0L)
      .as[(String, String)].collect().toSet
    assert(a == b && a.contains(("Qb", "Qa")))
  }
}
