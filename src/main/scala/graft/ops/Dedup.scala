package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale design: exact dedup is one hash-shuffle on a 32-byte key; near-dup
  * avoids the O(n²) cross join by inverted-index / LSH-bucket joins whose
  * shuffle keys are (shingle|band-signature|simhash-block) — at 100 TB both
  * stay linear in corpus size + pair-candidate count, and skewed keys
  * (stop-shingles, giant buckets) are capped explicitly BEFORE the join.
  * All signatures are single-pass array folds (one traversal of the
  * shingle/token array per row, one string hash per element). Shared
  * tables are checkpointed eagerly, by the rule stated on [[Ann]].
  */
object Dedup {

  /** Exact dedup: one row per distinct normalized content, keeping the
    * smallest id (deterministic winner). Single hash aggregation on the
    * md5 fingerprint — the 32-char key keeps shuffle volume flat no matter
    * how long documents are. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", TextStats.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep only posting rows whose key's document frequency is ≤ cap —
    * the stop-key skew guard shared by every inverted-index join here and
    * by the LSH bucket joins in [[Ann]].
    * groupBy + left-semi join (two hash shuffles on the key, no sort) —
    * cheaper than a count-over-window, which forces a full sort of the
    * posting table within each key partition. */
  private[ops] def dropFrequentKeys(posts: DataFrame, keyCol: String,
                                    cap: Int): DataFrame = {
    val df = posts.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .select(keyCol)
    posts.join(df, Seq(keyCol), "left_semi")
  }

  /** Candidate pairs (id_a < id_b) sharing ≥1 posting key, with the number
    * of shared keys (the groupBy replaces a distinct — same shuffle — and
    * the count is a free overlap lower bound for pruning). The caller must
    * checkpoint `posts` so the self-join's two sides share one
    * materialization instead of recomputing the signature lineage twice. */
  private[ops] def selfJoinPairs(posts: DataFrame, keyCol: String): DataFrame =
    posts.as("x").join(posts.as("y"), keyCol)
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared_kept"))

  /** Exact word-shingle Jaccard verification of candidate pairs. */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame,
                            minJaccard: Double): DataFrame =
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      // |A∩B| via native merge scan (shingle sets are sorted distinct);
      // |A∪B| = |A| + |B| − |A∩B| avoids materializing the union array
      .withColumn("inter", graft.functions.TextSetExprs
        .sortedOverlapCount(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Near-duplicate pairs by word-shingle Jaccard ≥ minJaccard, via an
    * inverted-index join on shingles (no cross join).
    *
    * maxPostings caps stop-shingle posting lists (skew guard): a shingle
    * appearing in more than maxPostings docs is dropped from candidate
    * generation — standard practice; such shingles carry no dedup signal
    * but would produce quadratic candidate blowup.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, minJaccard: Double = 0.8,
                   maxPostings: Int = 1000): DataFrame = {
    val sh = Ann.ensureParallelism(docs)
      .select(col(idCol).as("id"), TextStats.shingles(col(textCol), n).as("sh"))
      .localCheckpoint()
    val posts = sh.select(col("id"), explode(col("sh")).as("shingle"))
    val rare = dropFrequentKeys(posts, "shingle", maxPostings)
      .localCheckpoint()
    // prune BEFORE touching shingle arrays: an upper bound on the true
    // Jaccard from (shared kept keys, per-doc sizes, per-doc dropped
    // postings) — true_shared ≤ shared_kept + min(drop_a, drop_b), and
    // j = s/(|A|+|B|−s) is monotone in s. Only survivors pay the
    // array_intersect/array_union shuffle of full shingle sets.
    val szKept = rare.groupBy("id").agg(count(lit(1)).as("kept"))
    val stats = sh.select(col("id"), size(col("sh")).as("sz"))
      .join(szKept, Seq("id"), "left")
      .select(col("id"), col("sz"),
        (col("sz") - coalesce(col("kept"), lit(0L))).as("dropped"))
    val pruned = selfJoinPairs(rare, "shingle")
      .join(stats.select(col("id").as("id_a"), col("sz").as("sz_a"),
        col("dropped").as("drop_a")), "id_a")
      .join(stats.select(col("id").as("id_b"), col("sz").as("sz_b"),
        col("dropped").as("drop_b")), "id_b")
      .withColumn("ub_shared",
        col("shared_kept") + least(col("drop_a"), col("drop_b")))
      .filter(col("ub_shared").cast("double") /
        (col("sz_a") + col("sz_b") - col("ub_shared")).cast("double") >= minJaccard)
      .select("id_a", "id_b")
    verifyJaccard(pruned, sh, minJaccard)
  }

  /** MinHash signature: numPerms permutation-mins over the shingle set —
    * one static-helper call (SigHelper.minhash via TextSetExprs): ONE md5
    * per shingle, numPerms long multiply-adds per element in a tight JVM
    * loop. The hash base is md5 (not xxhash64) BY CHOICE: the signature
    * is bit-reproducible in DuckDB SQL, so the LSH gate gets a full hash
    * oracle (the winnow precedent — see SigHelper). */
  def minhashSignature(shingleSet: Column, numPerms: Int): Column =
    graft.functions.TextSetExprs.minhash(shingleSet, numPerms)

  /** MinHash-LSH near-dup pairs: signature → bands → bucket join →
    * exact-Jaccard verification. Output = verified pairs (precision 1 by
    * construction; recall governed by bands×rows, tested vs the exact
    * operator in DedupSpec). Buckets over maxBucket docs are dropped
    * (skew guard). Band buckets are the band's VALUE string (band index +
    * joined perm minima), not a re-hash — candidate sets are then exactly
    * "pairs agreeing on ≥1 band", with no second-level hash collisions,
    * which is what lets an external oracle reproduce the output. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numPerms: Int = 32, bands: Int = 16,
                      minJaccard: Double = 0.8,
                      maxBucket: Int = 2000): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rows = numPerms / bands
    val sh = Ann.ensureParallelism(docs)
      .select(col(idCol).as("id"), TextStats.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val sig = sh.withColumn("sig", minhashSignature(col("sh"), numPerms))
    val banded = sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat(b.cast("string"), lit(":"),
          array_join(transform(slice(col("sig"), b * rows + 1, lit(rows)),
            x => x.cast("string")), ","))))
        .as("bucket"))
    val small = dropFrequentKeys(banded, "bucket", maxBucket)
      .localCheckpoint() // signatures computed once, not per join side
    verifyJaccard(selfJoinPairs(small, "bucket").select("id_a", "id_b"), sh, minJaccard)
  }

  /** 60-bit SimHash over token features: bit b of the signature is set iff
    * a strict majority of token hashes have bit b set. One static-helper
    * call (SigHelper.simhash60 via TextSetExprs): one md5 + 60 bit-adds per
    * token.
    * 60 bits (not 64) so the value stays positive in a signed BIGINT on
    * both engines — the signature, and therefore the near-dup pair set,
    * is reproducible in DuckDB SQL (full hash oracle). */
  def simhash(tokenSet: Column): Column =
    graft.functions.TextSetExprs.simhash60(tokenSet)

  /** Auto-sizing of the Manku block count from the corpus size: effective
    * key width is (nBlocks−3)·(60/nBlocks) bits at d=3, and candidate
    * volume stays sub-quadratic while 2^width ≳ corpus size —
    * 15-bit keys (nBlocks=4) hold to ~10⁷ docs, 24-bit (5) to ~10⁹,
    * 30-bit (6) beyond. Chosen from ONE cheap count when the caller
    * passes nBlocks=0 instead of silently keeping a default that stops
    * holding past 10⁷ docs. */
  def simhashBlocksFor(nDocs: Long): Int =
    if (nDocs <= 10L * 1000 * 1000) 4
    else if (nDocs <= 1000L * 1000 * 1000) 5
    else 6

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, blocked
    * Manku-style (permuted-block tables, WWW'07 "Detecting Near-Duplicates
    * for Web Crawling" — public): the 60-bit signature splits into nBlocks
    * equal blocks; a pair within Hamming distance d agrees on ≥ nBlocks−d
    * blocks (pigeonhole — recall is EXACT, the blocking drops nothing
    * within distance d short of the maxBucket skew cap), so each doc is
    * keyed once per (nBlocks−d)-subset of block indices and pairs join on
    * the concatenated block values.
    *
    * Sizing to corpus: the effective key width is (nBlocks−d)·(60/nBlocks)
    * bits — nBlocks=4, d=3 gives 15-bit keys (fine to ~10⁷ docs);
    * nBlocks=5, d=3 gives C(5,2)=10 tables of 24-bit keys (~10⁹ docs);
    * nBlocks=6, d=3 gives C(6,3)=20 tables of 30-bit keys (10⁹+ docs).
    * Residual giant buckets (constant-ish signatures) are dropped via
    * maxBucket.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, nBlocks: Int = 0,
                   maxBucket: Int = 10000): DataFrame = {
    val blocks = if (nBlocks > 0) nBlocks else simhashBlocksFor(docs.count())
    require(blocks > maxHamming, "need nBlocks > maxHamming (pigeonhole)")
    require(60 % blocks == 0, "nBlocks must divide 60")
    val w = 60 / blocks
    val blockMask = (1L << w) - 1
    def block(i: Int): Column =
      shiftright(col("sig"), i * w).bitwiseAND(lit(blockMask))
    val combos = (0 until blocks).combinations(blocks - maxHamming)
      .toSeq.zipWithIndex
    val keys = array(combos.map { case (idxs, cid) =>
      xxhash64((lit(cid) +: idxs.map(block)): _*)
    }: _*)

    val sigs = Ann.ensureParallelism(docs).select(col(idCol).as("id"),
      simhash(graft.core.Text.tokenSet(col(textCol))).as("sig"))
    val keyed = sigs.select(col("id"), col("sig"), explode(keys).as("bucket"))
    val small = dropFrequentKeys(keyed, "bucket", maxBucket)
      .localCheckpoint() // signatures computed once, not per join side
    // Hamming filter INSIDE the join: bad pairs die during the bucket
    // probe instead of being shuffled into a distinct — the dedup shuffle
    // carries only true near-dup pairs (× #combos duplicates).
    small.as("x").join(small.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id") &&
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= maxHamming)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
  }

  /** Embedding near-dup pairs: cosine ≥ minCos, EXACT (all pairs). The
    * nested-loop join is O(n²) by definition of the operator — usable as a
    * small-scale oracle only; the scale path is [[Ann.lshCosinePairs]]
    * (multi-table random-hyperplane buckets, recall-tested against this).
    * Vectors are L2-normalized once per side so the per-pair work is a
    * single dot-product fold. */
  def embeddingPairs(embs: DataFrame, idCol: String, vecCol: String,
                     minCos: Double = 0.95): DataFrame = {
    val e = Ann.unitVectors(Ann.ensureParallelism(embs), idCol, vecCol)
      .localCheckpoint() // normalize once, not per join side
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos", Ann.dot(col("a.u"), col("b.u")))
      .filter(col("cos") >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }
}
