package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; broadcast the query set so
  * the corpus scan is a single map stage — no shuffle of the 100 TB side).
  * Scale path: random-hyperplane LSH (Charikar, STOC'02 — public) with
  * MULTIPLE independent tables — each vector lands in one bucket per
  * table; a pair/probe collides if it shares a bucket in ANY table, so
  * recall = 1 − (1 − p_bucket)^nTables while per-table bucket load stays
  * n / 2^nBits. Size nBits to the corpus (≈ log2(n) − 10) and nTables to
  * the recall target.
  *
  * All vectors are L2-normalized ONCE per side ([[unitVectors]]), so
  * every pairwise cosine is a single dot-product fold instead of dot + two
  * norm traversals per pair.
  *
  * Shared tables (here and in [[Dedup]]): a table that more than one plan
  * reads is checkpointed EAGERLY. AQE runs those plans' stages at once; a
  * lazy checkpoint is materialized by whichever job ends first, which
  * then drops the source plan. Tasks of the other stages were built from
  * that plan and still report its SQL metrics, which a GC has by then
  * removed — one DAGScheduler "non-existent accumulator" ERROR trace per
  * metric per task.
  */
object Ann {

  /** Ensure at least cluster default parallelism for CPU-bound per-row
    * stages (signatures, projections): a small/compacted input can arrive
    * as a single file split, which would serialize the whole map stage on
    * one core. No-op when the input already has enough partitions (the
    * 100 TB case — never force a corpus-wide shuffle). */
  private[ops] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Auto-sizing of hyperplane-bucket granularity from the corpus size:
    * expected bucket load is n / 2^nBits, so nBits ≈ log2(n) − 10 keeps
    * ~1024 vectors per bucket (the exact-verification unit) no matter how
    * big the corpus grows — callers pass nBits=0 to derive it from ONE
    * cheap count instead of a fixed default that silently degrades into
    * giant buckets past ~10⁷ vectors. */
  def lshBitsFor(n: Long): Int =
    math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))) - 10)

  /** Sum of elementwise products of two equal-length double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** v / ‖v‖₂; the zero vector stays zero (cosine 0 vs everything,
    * matching Similarity.cosine's zero-norm guard). */
  def unitVector(v: Column): Column = {
    val n = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
    when(n === 0.0, v).otherwise(transform(v, x => x / n))
  }

  /** The (id, u) table of `df`: u = the unit vector of `vecCol` as
    * array<double>. Callers rename its columns with `toDF`. */
  private[ops] def unitVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), unitVector(col(vecCol).cast("array<double>")).as("u"))

  /** Exact top-k cosine neighbors for each query vector.
    * queries is small (broadcast); corpus is arbitrarily large — the join
    * is a BroadcastNestedLoopJoin = one pass over the corpus, then a
    * per-query top-k window on (score, id). Deterministic: ranking key is
    * (rounded score desc, id asc). A query is never its own neighbor. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = unitVectors(ensureParallelism(corpus), idCol, vecCol).toDF("n_id", "n_u")
    val q = unitVectors(queries, idCol, vecCol).toDF("q_id", "q_u")
    val joined = c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("q_u"), col("n_u")), 6))
    topKPerQuery(joined, k)
  }

  /** The k best (q_id, n_id, cos) rows of each query, ranked by
    * (cos desc, n_id asc) — the deterministic tail of every top-k path. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** One random-hyperplane sign bit of a (unit) vector. Hyperplane
    * components are pseudo-random but seeded deterministically from
    * (table, bit, dimension) via a hash → no RNG, reproducible across
    * runs and cluster sizes. */
  private def hyperplaneBit(v: Column, table: Int, bit: Int): Column = {
    // h[d] = hash(table, bit, d) mapped to [-1, 1); dot via zip on index
    val proj = aggregate(
      zip_with(v, sequence(lit(0), size(v) - 1),
        (x, d) => x * (pmod(xxhash64(lit(table * 131 + bit), d), lit(2000001L))
          .cast("double") / 1000000.0 - 1.0)),
      lit(0.0), (acc, x) => acc + x)
    when(proj >= 0, lit(1L << bit)).otherwise(lit(0L))
  }

  /** nBits-bit LSH bucket id of each vector for one hyperplane table. */
  def lshBucketFor(v: Column, table: Int, nBits: Int): Column =
    (0 until nBits).map(b => hyperplaneBit(v, table, b)).reduce(_.bitwiseOR(_))

  /** One (table, bucket) key per table: the table id is mixed into the
    * key so one shuffle on it covers all nTables tables. */
  private def lshKeys(u: Column, nTables: Int, nBits: Int): Column =
    array((0 until nTables).map(t => xxhash64(lit(t), lshBucketFor(u, t, nBits))): _*)

  /** All-pairs cosine ≥ minCos via multi-table random-hyperplane buckets —
    * the scale path for [[Dedup.embeddingPairs]]: candidates = pairs
    * sharing a bucket in ≥1 of nTables tables; every candidate is verified
    * with the exact dot product, so precision is 1 by construction and
    * recall is governed by (nBits, nTables) — measured against the exact
    * operator in DedupSpec and the q_embed_lsh gate.
    *
    * Defaults target true near-dup thresholds (minCos ≥ 0.9). For lower
    * thresholds raise nTables / lower nBits (collision probability per
    * bit is 1 − θ/π). maxBucket drops degenerate buckets (skew guard). */
  def lshCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                     minCos: Double = 0.95, nBits: Int = 0, nTables: Int = 16,
                     maxBucket: Int = 100000): DataFrame = {
    val bits = if (nBits > 0) nBits else lshBitsFor(embs.count())
    val e = unitVectors(ensureParallelism(embs), idCol, vecCol)
      .localCheckpoint() // normalize once; reused by verify joins
    val keyed = e.select(col("id"), explode(lshKeys(col("u"), nTables, bits)).as("bucket"))
      .localCheckpoint() // nTables×nBits projections computed once
    val small = Dedup.dropFrequentKeys(keyed, "bucket", maxBucket)
    Dedup.selfJoinPairs(small, "bucket")
      .join(e.toDF("id_a", "u_a"), "id_a")
      .join(e.toDF("id_b", "u_b"), "id_b")
      .withColumn("cos", dot(col("u_a"), col("u_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** IVF (inverted-file) coarse quantizer: deterministic centroids are
    * drawn from the corpus itself (the nCentroids vectors with the
    * smallest xxhash64(id) — a uniform pseudo-random sample that needs no
    * RNG and is stable across runs and cluster sizes), refined with
    * two Lloyd steps. Returns (centroid_id, centroid) — small enough to
    * broadcast; at 100 TB the assignment pass is one broadcast map stage
    * over the corpus. */
  def ivfCentroids(corpus: DataFrame, nCentroids: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    centroidsOf(unitVectors(ensureParallelism(corpus), idCol, vecCol).localCheckpoint(),
      nCentroids)

  /** [[ivfCentroids]] over a checkpointed (id, u) table. */
  private def centroidsOf(e: DataFrame, nCentroids: Int): DataFrame = {
    // orderBy+limit plans as a distributed TakeOrdered (no global
    // single-partition sort); the window numbering then runs over the
    // nCentroids-row result only
    val seeds = e.select(col("id"), col("u"), xxhash64(col("id")).as("h"))
      .orderBy(col("h"), col("id")).limit(nCentroids)
    val wSeed = Window.orderBy(col("h"), col("id"))
    var cents = seeds.withColumn("r", row_number().over(wSeed))
      .select((col("r") - 1).as("centroid_id"), col("u").as("centroid"))
      .localCheckpoint()
    for (_ <- 1 to 2) {
      val assigned = assignToCentroids(e, cents)
      // elementwise mean via dimension explode — partial aggregation keeps
      // the shuffle at (nCentroids × dim) rows regardless of corpus size
      cents = assigned
        .select(col("centroid_id"), posexplode(col("u")).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim").as("d"), col("m").as("m")))),
          e2 => e2.getField("m")).as("centroid"))
        .withColumn("centroid", unitVector(col("centroid")))
        .localCheckpoint()
    }
    cents
  }

  /** Nearest-centroid assignment: the centroid table is BOUNDED
    * (nCentroids), so it is collected to the driver (the hot-token trick)
    * and embedded in a native argmax expression — the assignment is a
    * row-local computation inside the corpus scan, with NO join, NO
    * exchange and NO sort. (The previous crossJoin + Window shape
    * materialized corpus×nCentroids rows through a shuffle and sorted
    * them per vector id — a 4096× data blowup at scale for work the
    * broadcast already made row-local.) Returns e's columns +
    * `centroid_id`. Ties keep the smallest centroid_id, as the old
    * window ordering (score desc, centroid_id asc) did. */
  private[ops] def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("centroid_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    e.withColumn("centroid_id",
      graft.functions.VectorExprs.nearestCentroid(col("u"),
        rows.map(_._2), rows.map(_._1)))
  }

  /** IVF ANN top-k: corpus vectors are inverted-indexed by their nearest
    * centroid; each query probes its nProbe closest centroid lists and
    * ranks exactly inside them. The standard coarse-quantization scale
    * path (FAISS-style IVF-Flat — public): the corpus-side pass is one
    * broadcast assignment, the query join touches corpus/nCentroids ×
    * nProbe rows. Recall vs brute force measured in AnnSpec. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nCentroids: Int = 64, nProbe: Int = 8): DataFrame = {
    val e = unitVectors(ensureParallelism(corpus), idCol, vecCol).localCheckpoint()
    val cents = centroidsOf(e, nCentroids)
    val cAssigned = assignToCentroids(e, cents).toDF("n_id", "n_u", "centroid_id")
    val q = unitVectors(queries, idCol, vecCol).toDF("q_id", "q_u")
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("centroid_id"))
    val qProbes = q.crossJoin(broadcast(cents))
      .withColumn("cscore", dot(col("q_u"), col("centroid")))
      .withColumn("rk", row_number().over(wProbe)).filter(col("rk") <= nProbe)
      .select(col("q_id"), col("q_u"), col("centroid_id"))
    val joined = qProbes.join(cAssigned, Seq("centroid_id"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("q_u"), col("n_u")), 6))
    topKPerQuery(joined, k)
  }

  /** Bucketed ANN top-k: exact ranking inside the union of shared LSH
    * buckets across nTables tables. Trades recall for a shuffle keyed on
    * bucket instead of a cross join; at 100 TB the bucket join is the only
    * viable physical plan. Recall vs bruteForceTopK is measured in
    * AnnSpec; raise nTables for recall, nBits for bucket granularity.
    *
    * Scale hygiene: `cos` is computed INSIDE the bucket join (a 64-dim
    * dot is cheap codegen; recomputing it for the ≤nTables collisions of
    * a pair is far cheaper than shuffling both unit vectors through the
    * dedup exchange), so the multi-table `distinct` carries 3 scalars per
    * candidate instead of ~1 KB of vectors; and corpus-side buckets above
    * maxBucket are dropped (degenerate-bucket skew guard
    * [[Dedup.dropFrequentKeys]], as in [[lshCosinePairs]]; a zero vector or constant embedding region
    * otherwise funnels the corpus into one reducer). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nBits: Int = 0, nTables: Int = 4,
              maxBucket: Int = 100000): DataFrame = {
    val bits = if (nBits > 0) nBits else lshBitsFor(corpus.count())
    def keyed(df: DataFrame, side: String) =
      unitVectors(ensureParallelism(df), idCol, vecCol).toDF(s"${side}_id", s"${side}_u")
        .select(col("*"), explode(lshKeys(col(s"${side}_u"), nTables, bits)).as("bucket"))
    // checkpoint: the keyed corpus feeds both the bucket-df count and the
    // join — without it the nTables×nBits projections run twice
    val c = keyed(corpus, "n").localCheckpoint()
    val cSmall = Dedup.dropFrequentKeys(c, "bucket", maxBucket)
    val q = keyed(queries, "q")
    val joined = cSmall.join(q, Seq("bucket")).filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", round(dot(col("q_u"), col("n_u")), 6))
      .select("q_id", "n_id", "cos")
      .distinct() // a pair may collide in several tables — scalar-only dedup
    topKPerQuery(joined, k)
  }
}
