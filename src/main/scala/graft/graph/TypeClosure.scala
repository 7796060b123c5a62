package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive closure of a (child, parent) edge relation.
  *
  * Reference semantics: `scripts/infer_types.py:62-111` materializes
  * `subclass_closure` with a SQLite recursive CTE; the notebook
  * (`scripts/create_types_db.ipynb` cells 7-8) asserts the per-seed
  * recursive query and the materialized table agree — that equivalence is
  * our ScalaTest property.
  *
  * Spark has no recursive CTE, so this is the canonical iterative
  * semi-naive frontier loop:
  *   closure₀ = edges;  frontierₖ₊₁ = frontierₖ ⋈ edges − closureₖ
  * Each iteration is one shuffle join on the frontier only (semi-naive:
  * joining the delta, not the whole closure — the standard Datalog
  * optimization; see PAPERS.md on iterative dataflow).
  *
  * Scale notes:
  *  - `localCheckpoint()` per iteration truncates lineage, otherwise the
  *    plan tree grows exponentially and Catalyst analysis dominates.
  *  - Cycles terminate naturally: a cycle adds no new pairs once closed.
  *  - Hub skew (a parent with millions of descendants) is shuffle-key skew
  *    on `parent`; AQE skew-join splitting handles residuals. Downstream
  *    joins re-shuffle the closure on `child` (at cluster scale: persist
  *    it as an Iceberg table bucketed by `child`).
  */
object TypeClosure {

  /** @param edges DataFrame with columns (child, parent)
    * @param maxDriverEdges edge sets at or below this size close in-driver
    *        (semi-naive fixpoint over an adjacency map): the join loop pays one
    *        shuffle-job latency per 2 hierarchy levels, which dominates
    *        when the type graph is small (a KG type hierarchy is ~10³-10⁴
    *        edges even for full Wikidata-scale item counts). The driver
    *        bound is on EDGES; the closure itself can be O(edges × depth)
    *        rows (deep chains), so callers with pathological chain-shaped
    *        hierarchies should lower it. Identical output semantics on
    *        both paths.
    * @return closure (child, ancestor) — all pairs child →* ancestor,
    *         excluding the trivial (x, x) unless present as an edge. */
  def closure(edges: DataFrame, maxDriverEdges: Long = 32768L): DataFrame = {
    val eDistinct = edges.select(col("child").as("e_child"), col("parent").as("e_parent"))
      .distinct()
    val inDriver = GraphDriverPath.solve(eDistinct, maxDriverEdges,
        ("child", "ancestor")) { (es, ord) =>
      val adj = es.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).toSet }
      // semi-naive fixpoint over nodes (cycle-safe, like the join loop)
      val memo = scala.collection.mutable.HashMap.empty[Any, Set[Any]]
      var changed = true
      while (changed) {
        changed = false
        adj.keys.foreach { n =>
          val direct = adj(n)
          val cur = memo.getOrElse(n, Set.empty[Any])
          val next = direct ++ direct.flatMap(d => memo.getOrElse(d, Set.empty[Any]))
          if (next != cur) { memo(n) = next; changed = true }
        }
      }
      memo.toSeq
        .flatMap { case (c, as) => as.map(a => (c, a)) }
        .sortBy(identity)(Ordering.Tuple2(ord, ord))
    }
    if (inDriver.isDefined) return inDriver.get
    val e = eDistinct.localCheckpoint(eager = true)
    var acc = e.select(col("e_child").as("child"), col("e_parent").as("ancestor"))
      .localCheckpoint(eager = true)
    var frontier = acc
    var done = false
    // runs to an empty delta, which always comes: the closure is finite
    while (!done) {
      // TWO expansion levels per materialization: each iteration joins the
      // frontier one AND two edge-steps out before the distinct/anti-join,
      // halving the number of sequential materialization barriers (the
      // per-iteration count() is the latency floor of the loop, so depth-d
      // hierarchies pay ⌈d/2⌉ barriers instead of d). Correctness is
      // unchanged — any ancestor path decomposes into 1-2 level steps, and
      // the loop still runs to an empty delta.
      val step1 = frontier
        .join(e, frontier("ancestor") === e("e_child"))
        .select(frontier("child").as("child"), e("e_parent").as("ancestor"))
      val e2 = e.select(col("e_child").as("f_child"), col("e_parent").as("f_parent"))
      val step2 = step1
        .join(e2, step1("ancestor") === e2("f_child"))
        .select(step1("child").as("child"), e2("f_parent").as("ancestor"))
      // lazy checkpoint: the count() below is the single materializing job
      // per iteration (an eager checkpoint + separate isEmpty would double
      // the per-iteration latency floor)
      val next = step1.union(step2).distinct()
        .join(acc, Seq("child", "ancestor"), "left_anti")
        .localCheckpoint(eager = false)
      if (next.count() == 0) done = true
      else {
        acc = acc.union(next).localCheckpoint(eager = false)
        frontier = next
      }
    }
    acc
  }
}
