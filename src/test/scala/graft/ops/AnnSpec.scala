package graft.ops

import graft.SparkSpec
import graft.core.Similarity
import org.apache.spark.sql.functions._

/** Recall oracles for the LSH cosine paths vs their exact counterparts —
  * the measured-recall evidence behind the q_embed_lsh and q_ann_lsh full
  * oracles (both pin configs whose recall is 1.0, so brute-force SQL is
  * exact at the driver). */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic vectors: 50 bases (16-d, hash-derived ±1-ish), plus a
    * jittered near-dup of each (cos ≈ 0.98) — the true near-dup regime
    * the default lshCosinePairs params target. */
  private lazy val embs = {
    def comp(seed: Long): Double = {
      val h = java.lang.Long.rotateLeft(seed * 0x9E3779B97F4A7C15L, 23)
      (math.abs(h % 2001) / 1000.0) - 1.0
    }
    val base = (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(d => comp(i * 37 + d)).toArray)
    }
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.zipWithIndex.map { case (x, d) => x + 0.02 * comp(i * 91 + d) })
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("unit-vector dot equals Similarity.cosine") {
    val pair = embs.limit(2).collect()
    val df = Seq((pair(0).getSeq[Double](1), pair(1).getSeq[Double](1)))
      .toDF("a", "b")
    val viaCos = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val viaUnit = df.select(
      Ann.dot(Ann.unitVector(col("a")), Ann.unitVector(col("b")))).head().getDouble(0)
    assert(math.abs(viaCos - viaUnit) < 1e-9)
  }

  test("lshCosinePairs: precision 1 and recall >= 0.95 vs exact at cos 0.9") {
    val exact = Dedup.embeddingPairs(embs, "vec_id", "embedding", minCos = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 40, s"planted near-dups must exist (got ${exact.size})")
    val lsh = Ann.lshCosinePairs(embs, "vec_id", "embedding",
      minCos = 0.9, nBits = 4, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "exact verification ⇒ precision 1")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"cosine-LSH recall $recall < 0.95 (${lsh.size}/${exact.size})")
  }

  test("ivfTopK: top-1 recall >= 0.9 vs brute force") {
    val queries = embs.filter(col("vec_id") < 20)
    val brute = Ann.bruteForceTopK(embs, queries, k = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(embs, queries, k = 1, nCentroids = 8, nProbe = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"ivfTopK top-1 recall $recall < 0.9")
  }

  test("ivfCentroids: deterministic across invocations, unit-norm") {
    val c1 = Ann.ivfCentroids(embs, 8).orderBy("centroid_id")
      .as[(Int, Seq[Double])].collect()
    val c2 = Ann.ivfCentroids(embs, 8).orderBy("centroid_id")
      .as[(Int, Seq[Double])].collect()
    assert(c1.toSeq == c2.toSeq)
    c1.foreach { case (_, v) =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    }
  }

  test("centroid assignment is row-local: no Exchange, no Window in the plan") {
    val cents = Ann.ivfCentroids(embs, 4)
    val e = embs.select(col("vec_id").as("id"),
      Ann.unitVector(col("embedding").cast("array<double>")).as("u"))
    val plan = Ann.assignToCentroids(e, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"assignment must not sort/window:\n$plan")
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
  }

  test("lshTopK: top-1 recall >= 0.9 vs brute force") {
    val queries = embs.filter(col("vec_id") < 20)
    val brute = Ann.bruteForceTopK(embs, queries, k = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(embs, queries, k = 1, nBits = 3, nTables = 8)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"lshTopK top-1 recall $recall < 0.9")
  }

  test("lshTopK: no shuffle exchange is keyed on an embedding column") {
    // the multi-table dedup must run AFTER cos is computed, on
    // (q_id, n_id, cos) — an exchange partitioned on a `_u` vector column
    // means ~1 KB of unit vectors per candidate rides the dedup shuffle
    val queries = embs.filter(col("vec_id") < 20)
    val plan = Ann.lshTopK(embs, queries, k = 1, nBits = 3, nTables = 8)
      .queryExecution.executedPlan.toString
    val vectorKeyed = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("_u#")).toSeq
    assert(vectorKeyed.isEmpty,
      s"dedup exchange must carry scalars only:\n${vectorKeyed.mkString("\n")}")
  }

  test("lshTopK: maxBucket drops a planted degenerate bucket; real recall intact") {
    // 300 identical vectors (a constant embedding region) collide into ONE
    // bucket per table — unguarded, that bucket alone joins 300×queries rows
    val constVec = (0 until 16).map(_ => 0.25).toArray
    val degen = (0 until 300).map(i => (5000L + i, constVec))
    val all = embs.union(degen.toDF("vec_id", "embedding"))
    val queries = all.filter(col("vec_id") < 20 || col("vec_id") === 5000L)
    val res = Ann.lshTopK(all, queries, k = 1, nBits = 3, nTables = 8,
      maxBucket = 100)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(!res.exists { case (q, n) => q >= 5000 && n >= 5000 },
      "degenerate-cluster self-pairs must be dropped by the bucket cap")
    val brute = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") < 20), k = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val real = res.filter(_._1 < 20).toSet
    val recall = real.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"capped lshTopK real-query recall $recall < 0.9")
  }

  test("lshCosinePairs: no task reports a metric of a collected plan (DAGScheduler ERROR)") {
    val r = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("lsh-acc").toString + "/embs"
    (0 until 500).map(i => (i.toLong, Array.fill(64)(r.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(dir)
    val errors = schedulerErrorsUnderGc {
      (1 to 2).foreach { _ =>
        Ann.lshCosinePairs(spark.read.parquet(dir), "vec_id", "embedding",
          minCos = 0.5, nBits = 1, nTables = 10)
          .orderBy(col("id_a"), col("id_b")).collect()
      }
    }
    assert(errors.isEmpty, s"${errors.size} DAGScheduler errors, first: ${errors.take(1)}")
  }

  test("embeddingPairs, ivfTopK, lshTopK: no task reports a metric of a collected plan") {
    val queries = embs.filter(col("vec_id") < 20)
    val errors = schedulerErrorsUnderGc {
      (1 to 3).foreach { _ =>
        Dedup.embeddingPairs(embs, "vec_id", "embedding", minCos = 0.9).collect()
        Ann.ivfTopK(embs, queries, k = 1, nCentroids = 8, nProbe = 3).collect()
        Ann.lshTopK(embs, queries, k = 1, nBits = 3, nTables = 8).collect()
      }
    }.filter(_.contains("non-existent accumulator"))
    assert(errors.isEmpty, s"${errors.size} accumulator errors, first: ${errors.take(1)}")
  }

  test("nearestCentroid ≡ Scala argmax on both paths") {
    val r = new scala.util.Random(11)
    val cents = Array.fill(6)(Array.fill(16)(r.nextDouble() * 2 - 1))
    val ids = Array(3, 7, 10, 12, 20, 31)
    def dotOf(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val want = embs.as[(Long, Seq[Double])].collect().toSeq.map { case (id, v) =>
      (id, ids(cents.indices.maxBy(i => dotOf(v, cents(i).toSeq))))
    }
    assert(want.map(_._2).distinct.size > 1, "the probe must reach several centroids")
    assertSameOnBothPaths(want.toDF("vec_id", "centroid_id"),
      embs.select(col("vec_id"),
        graft.functions.VectorExprs.nearestCentroid(col("embedding"), cents, ids)))
  }
}
