package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Recall/equivalence oracles for the approximate dedup operators.
  * The driver gates (q_minhash_pairs, q_simhash_pairs) are full hash
  * oracles since r3 (md5-based signatures DuckDB reproduces bit-exactly);
  * this spec adds the semantic check those gates can't express: recall
  * against the exact counterparts on a corpus with planted near-dups. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic corpus: 40 base docs of 30 pseudo-random words, plus a
    * near-dup of every 2nd doc (two words changed ⇒ shingle Jaccard ≈0.8)
    * and an exact dup of every 5th. */
  private lazy val docs = {
    def word(seed: Long): String = {
      val h = java.lang.Long.rotateLeft(seed * 0x9E3779B97F4A7C15L, 17)
      "w" + math.abs(h % 997)
    }
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 30).map(j => word(i * 100 + j)).mkString(" "))
    }
    val nearDups = base.filter(_._1 % 2 == 0).map { case (i, t) =>
      val ws = t.split(" "); ws(3) = "changed3"; ws(17) = "changed17"
      (i + 1000L, ws.mkString(" "))
    }
    val exactDups = base.filter(_._1 % 5 == 0).map { case (i, t) => (i + 2000L, t) }
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("minhashLshPairs: precision 1 and recall >= 0.9 vs exact jaccardPairs") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numPerms = 32, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "planted near-dups must be found by the exact operator")
    assert(lsh.subsetOf(exact), "verification makes precision 1 by construction")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"minhash-LSH recall $recall < 0.9 (found ${lsh.size}/${exact.size})")
  }

  test("simhashPairs: Manku block tables are complete — nBlocks 4 and 6 agree") {
    val p4 = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, nBlocks = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val p6 = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, nBlocks = 6)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(p4 == p6, "both blockings are complete by pigeonhole ⇒ identical output")
    assert(p4.nonEmpty, "exact dups (hamming 0) must collide")
  }

  test("MinHashExpr ≡ md5 column formulation (bit-exact)") {
    import graft.functions.SigHelper
    val n = 16
    val aLit = typedLit(SigHelper.permA(n).toSeq)
    val bLit = typedLit(SigHelper.permB(n).toSeq)
    val sh = TextStats.shingles(col("text"), 3)
    def h40(s: org.apache.spark.sql.Column) =
      conv(substring(md5(s), 1, 10), 16, 10).cast("long")
    val colSig = aggregate(sh,
      array_repeat(lit(Long.MaxValue), lit(n)),
      (acc, s) => {
        val h = h40(s)
        zip_with(acc, sequence(lit(0), lit(n - 1)), (m, i) =>
          least(m, (element_at(aLit, i + 1) * h + element_at(bLit, i + 1))
            % lit(SigHelper.Mod40)))
      })
    assertSameOnBothPaths(docs.select(col("doc_id"), colSig),
      docs.select(col("doc_id"), Dedup.minhashSignature(sh, n)))
  }

  test("SimHashExpr ≡ md5 column formulation (bit-exact)") {
    val masks = typedLit((0 until 60).map(1L << _))
    val toks = graft.core.Text.tokenSet(col("text"))
    def h60(s: org.apache.spark.sql.Column) =
      conv(substring(md5(s), 1, 15), 16, 10).cast("long")
    val counts = aggregate(toks, array_repeat(lit(0), lit(60)),
      (acc, t) => {
        val h = h60(t)
        zip_with(acc, masks,
          (c, m) => c + when(h.bitwiseAND(m) =!= 0, 1).otherwise(0))
      })
    val colSig = aggregate(
      zip_with(counts, masks, (c, m) => when(c * 2 > size(toks), m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    assertSameOnBothPaths(docs.select(col("doc_id"), colSig),
      docs.select(col("doc_id"), Dedup.simhash(toks)))
  }

  test("jaccardPairs, minhashLshPairs, simhashPairs: no task reports a metric of a collected plan") {
    val errors = schedulerErrorsUnderGc {
      (1 to 3).foreach { _ =>
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5).collect()
        Dedup.minhashLshPairs(docs, "doc_id", "text", minJaccard = 0.5).collect()
        Dedup.simhashPairs(docs, "doc_id", "text").collect()
      }
    }.filter(_.contains("non-existent accumulator"))
    assert(errors.isEmpty, s"${errors.size} accumulator errors, first: ${errors.take(1)}")
  }

  test("jaccardPairs: stop-shingle cap keeps precision 1 (subset of uncapped)") {
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxPostings = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, maxPostings = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(full))
  }

  test("auto-sized blocking: thresholds follow the documented key-width math") {
    assert(Dedup.simhashBlocksFor(500L) == 4)
    assert(Dedup.simhashBlocksFor(10L * 1000 * 1000) == 4)
    assert(Dedup.simhashBlocksFor(100L * 1000 * 1000) == 5)
    assert(Dedup.simhashBlocksFor(10L * 1000 * 1000 * 1000) == 6)
    assert(Ann.lshBitsFor(1000L) == 1)
    assert(Ann.lshBitsFor(1L << 20) == 10)   // ~1024 per bucket
    assert(Ann.lshBitsFor(1L << 30) == 20)
  }

  test("planted 10^6 docs: auto-sized simhash keys keep candidates sub-quadratic") {
    // 10^6 short docs over a wide vocabulary — the signature/bucket path
    // runs end-to-end (native md5 simhash, Manku keys, df stats) and the
    // candidate volume Σ df·(df−1)/2 over buckets must stay ~linear in n,
    // nowhere near the n²/2 of an unblocked join.
    val n = 1000000L
    val docs = spark.range(n).selectExpr("id AS doc_id",
      """array_join(transform(sequence(0, 11),
           i -> concat('w', pmod(id * (31 + i * 2) + i, 99991))), ' ') AS text""")
    val blocks = Dedup.simhashBlocksFor(n)
    val w = 60 / blocks
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash(graft.core.Text.tokenSet(col("text"))).as("sig"))
    val combos = (0 until blocks).combinations(blocks - 3).toSeq.zipWithIndex
    val keys = array(combos.map { case (idxs, cid) =>
      xxhash64((lit(cid) +: idxs.map(i =>
        shiftright(col("sig"), i * w).bitwiseAND(lit((1L << w) - 1)))): _*)
    }: _*)
    val cands = sigs.select(explode(keys).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2)).first().getAs[Any](0).toString.toDouble
    // majority-vote bit bias makes buckets denser than uniform — a few
    // hundred candidates per doc is the expected blocked volume; the
    // unblocked join would be n²/2 = 5·10¹¹
    assert(cands < 512.0 * n,
      f"candidate volume $cands%.0f not ~linear in n=$n (quadratic would be ${n * n / 2.0}%.0f)")
  }

  test("minhashSignature: one fold, numPerms entries, deterministic") {
    val sig = docs.limit(1)
      .select(Dedup.minhashSignature(TextStats.shingles(col("text"), 3), 16).as("s"))
      .as[Seq[Long]].head()
    val sig2 = docs.limit(1)
      .select(Dedup.minhashSignature(TextStats.shingles(col("text"), 3), 16).as("s"))
      .as[Seq[Long]].head()
    assert(sig.length == 16 && sig == sig2)
  }
}
