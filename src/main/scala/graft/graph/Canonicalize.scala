package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-components canonicalization (north-rule stage 10).
  *
  * The reference dedups candidates per entity id only
  * (`lamapi/retrievers/lookup_retriever.py:304-311`); component-level
  * canonicalization is new. Semantics: over the undirected graph of
  * same-as / link edges, every node gets the component's minimum label
  * (deterministic min-QID tie-breaking per SURVEY.md §4.3 — a total order
  * on labels, never partition order).
  *
  * Algorithm: min-label propagation with **pointer jumping** (each round:
  * adopt the min of your neighbors' labels, then compress
  * label ← label(label) twice). Plain propagation needs O(diameter)
  * rounds — fatal on chain-shaped components; pointer jumping converges in
  * O(log d) rounds like the large-star/small-star method (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public).
  *
  * Scale notes: every round is shuffle joins keyed on node/label; nothing
  * is collected to the driver; `localCheckpoint` truncates lineage so the
  * plan stays O(1) per round. Label skew (a giant component funnels to one
  * label key) is bounded because joins are on node ids, not labels, except
  * the pointer-jump lookup whose build side is the (distinct-label) table —
  * AQE skew-split is the backstop.
  */
object Canonicalize {

  /** @param edges (src, dst) undirected edges (string or numeric labels)
    * @param maxDriverEdges graphs at or below this edge count are solved
    *        with an in-driver union-find instead of the iterative join
    *        loop: the loop pays ~6 shuffle-job latencies per round, which
    *        dominates wall time when the equivalence graph is tiny (the
    *        common case — same-as edges are sparse). Identical output by
    *        construction (same min-label semantics); the distributed loop
    *        remains the path for large graphs and is what the size check
    *        costs one cheap count() to choose.
    * @return (node, component) — component = min node label reachable. */
  def connectedComponents(edges: DataFrame, maxDriverEdges: Long = 100000L): DataFrame = {
    val sym0 = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val inDriver = GraphDriverPath.solve(sym0, maxDriverEdges,
        ("node", "component")) { (es, ord) =>
      // union-find with min-label roots (deterministic: label order only,
      // NATIVE ordering of the column type — identical to the loop's min)
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.toSeq.sorted(ord).map(n => (n, find(n)))
    }
    if (inDriver.isDefined) return inDriver.get
    val sym = sym0.localCheckpoint(eager = true)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(eager = true)
    var converged = false
    // runs until no label changes, which always comes: labels only decrease
    while (!converged) {
      // 1) neighbor-label min
      val nbrMin = sym
        .join(labels, sym("v") === labels("node"))
        .groupBy(sym("u").as("node"))
        .agg(min(col("component")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // 2) pointer jumping ×2: component ← label(component)
      val jumped = (1 to 2).foldLeft(stepped) { (cur, _) =>
        val lab = cur.select(col("node").as("l_node"), col("component").as("l_comp"))
        cur.join(lab, cur("component") === lab("l_node"), "left")
          .select(cur("node"),
            least(cur("component"), coalesce(col("l_comp"), cur("component")))
              .as("component"))
      }
      // one materializing job per iteration: checkpoint lazily, then a
      // single agg both materializes and counts changed labels
      val prev = labels.select(col("node"), col("component").as("prev_component"))
      val updated = jumped.join(prev, Seq("node"))
        .withColumn("changed", (col("component") =!= col("prev_component")).cast("int"))
        .select(col("node"), col("component"), col("changed"))
        .localCheckpoint(eager = false)
      val row = updated.agg(sum(col("changed"))).first()
      val nChanged = if (row.isNullAt(0)) 0L else row.getLong(0)
      labels = updated.drop("changed")
      converged = nChanged == 0
    }
    labels
  }
}
