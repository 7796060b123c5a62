package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Similarity, Text}
import graft.functions.{TextSetExprs, TextSetHelper}

/** Lookup / linking configuration — the parameter surface of
  * `LookupRetriever.search` (`lamapi/retrievers/lookup_retriever.py:13-29`).
  * `hotTokenDf` is our scale knob (north rule: salted shuffle joins for
  * skewed tokens; the shard count is `Linker`'s fixed `SaltShards`).
  */
case class LinkerConfig(
    limit: Int = 1000,
    fuzzy: Boolean = false,
    kind: Option[String] = None,
    nerTypes: Seq[String] = Nil,
    types: Seq[String] = Nil,          // explicit_types filter
    extendedTypes: Seq[String] = Nil,
    language: Option[String] = None,
    softFiltering: Boolean = false,
    /** Posting-list length from which a token is hot (salted by the exact
      * join). Read only when the index carries no hot-token set:
      * `NameIndex.tables` fixes that set at this default. */
    hotTokenDf: Long = 100000L,
    /** Candidate-generation blocking (Lucene common-terms /
      * minimum_should_match analog): a token whose posting list exceeds
      * this df does NOT generate candidates for a mention that also has a
      * rarer token — "the"/"of"-class tokens otherwise join every film
      * with every film (O(n²) candidate blowup). Common tokens still
      * contribute to jaccard/ngram features (computed from full token
      * sets), only their idf (low by construction) leaves es_raw.
      * 0 = auto: max(64, 0.5% of name rows). */
    commonTokenDf: Long = 0L,
    /** ES minimum_should_match analog for the pipeline path: a candidate
      * must match ≥ min(2, mention ntokens) tokens — both tokens of a
      * 2-token mention, ≥2 of a longer one. OFF for lookup parity (the
      * reference's ES `match` is pure OR); ON for linking —
      * one-token-overlap candidates on a 3-token mention can never win
      * the composite and only inflate the scoring stage. A misspelled
      * token still counts through its fuzzy expansion. */
    minShouldMatch: Boolean = false,
    /** false = reference parity: per-mention top-`limit` cut ordered by
      * popularity (ES `sort:[{popularity:desc}]`). true = cut by the
      * lexical relevance score instead — the right setting for pipeline
      * LINKING, where a low-popularity exact match must not be crowded out
      * of the candidate window by high-popularity token-mates. */
    cutByRelevance: Boolean = false,
    /** A5/A6 ambiguity features require an extra window pass over the FULL
      * unfiltered match set; linking does not use them, so the pipeline
      * turns them off (columns emitted as nulls). */
    computeAmbiguity: Boolean = true,
    /** Forced-candidate ids (`_check_ids`, `lookup_retriever.py:348-395`):
      * every id listed here that the match set does not already contain is
      * fetched from the index (en, non-alias, one row per id — the
      * reference's per-id `create_ids_query` with limit=1) and scored with
      * the same similarity features; fetched rows carry pos_score = 1 and
      * es_score = 1 exactly as a 1-hit ES response does, and are appended
      * after the matched candidates (rank continues). */
    ids: Seq[String] = Nil,
    /** `normalize_score` (`elastic.py:88-97`): when false, popularity is
      * denormalized (popularity_norm × index max popularity — requires
      * NameIndexTables.maxPopularity) and es_score is the raw lexical
      * score, not divided by the per-mention max. */
    normalizeScore: Boolean = true)

/** Stages 7-9 — candidate generation, scoring, top-k: the distributed
  * re-realization of the reference's lookup
  * (`lookup_retriever.py` + `elastic.py`; SURVEY.md §3.1).
  *
  * One DataFrame DAG replaces 2 HTTP + 3 Mongo round-trips per mention:
  * distinct mentions → token inverted-index join (salted on hot tokens) →
  * per-(mention,name-row) match stats → feature columns → per-mention
  * window (pos/es normalization, top-k) → per-entity best-variant dedup.
  *
  * Scoring model: every reference feature is reproduced exactly from its
  * formula (ed/jaccard/ngram/popularity/pos/ambiguity/corrects —
  * `utils.py:14-68`, `elastic.py:83-106`, `lookup_retriever.py:214-311`)
  * except `es_score`, whose ES-BM25 value is not reproducible without ES
  * (SURVEY.md §7.5.2); we substitute a deterministic lexical score:
  *   raw = Σ_{matched index tokens} ln(1 + N/df(token))
  *         (+ soft-filter should-boosts 2.0/1.5/1.2, × penalties 0.1/0.2 —
  *          `create_query`:535-610)     es_score = raw / max raw per mention.
  * Candidate order and the top-`limit` cut use popularity desc (the
  * reference's ES `sort:[{popularity:desc}]`, :496-498) with (raw desc,
  * id asc, name_clean asc) as the deterministic tie-break.
  *
  * Fuzzy mode mirrors ES `fuzziness:auto` (0 edits for token length<3,
  * ≤1 for 3-5, ≤2 for ≥6) via the 3-gram posting join + gram-count prune +
  * exact `levenshtein` re-check.
  */
object Linker {

  /** Max name rows for which the per-row idf_map table rides a broadcast
    * in candidate scoring (~200 B/row ⇒ ≲200 MB at the bound — the same
    * bounded-side policy as the collected hot-token set). Beyond it the
    * shuffle join is the right cluster shape (bucketed index side). */
  val BroadcastIdfMapsMaxRows: Long = 1000000L

  /** Max DISTINCT mentions for which the per-mention token/gram sets ride
    * a broadcast into the candidate-scoring joins (~300 B/row ⇒ ≲300 MB
    * at the bound). The mention table sits just past Spark's default
    * 10 MB auto-broadcast threshold at bench scale, so without the hint
    * both scoring joins plan as SortMergeJoin — sorting the ~25M-row
    * candidate stream (and the ~3M-row post-cut stream) on a string key
    * for a ≤35 MB build side. Past the bound the shuffle join IS the
    * right cluster shape: candidates are already hash-partitioned by
    * mention_norm, so only the mention side moves. */
  val BroadcastMentionsMaxRows: Long = 1000000L

  /** ES `max_expansions` (its default): how many closest index terms a
    * mention token may fuzzy-expand to. */
  private val MaxFuzzyExpansions = 50

  /** 3-grams whose vocabulary posting list is longer than this are pruned
    * from the distributed fuzzy gram join (bounded fan-out). */
  private val MaxGramDf = 500000L

  /** Largest index vocabulary whose fuzzy term-dictionary expansion runs
    * in the driver (see `expandTokens`). */
  private val VocabDriverMax = 20000L

  /** Shards a hot token's posting list is replicated into by the salted
    * exact-match join. */
  private val SaltShards = 8

  /** An index table linking reads; `NameIndex.tables` builds them all. */
  private def required[T](table: Option[T], name: String): T =
    table.getOrElse(sys.error(
      s"linking needs NameIndexTables.$name; build the index with NameIndex.tables"))

  /** ES AUTO fuzziness: max edits allowed for a token of given length. */
  def autoFuzzEdits(len: Column): Column =
    when(len < 3, 0).when(len < 6, 1).otherwise(2)

  /** Distinct-mention pre-pass (the batch replacement of the reference's
    * query cache C1): every distinct mention_norm computed once, with its
    * token and 3-gram sets materialized so downstream scoring never
    * rebuilds them per candidate pair. */
  def distinctMentions(mentions: DataFrame): DataFrame =
    mentions.select(col("mention_norm")).filter(col("mention_norm") =!= "").distinct()
      .withColumn("mention_tokens", Text.tokenSet(col("mention_norm")))
      .withColumn("mention_grams", Text.ngramSet(col("mention_norm"), 3))

  /** Common-key blocking (see LinkerConfig.commonTokenDf): the
    * generation-eligible (mention_norm, key) rows, where a key whose df
    * exceeds `commonDf` is kept ONLY for mentions with no rarer key. One
    * rule for single tokens, for token pairs, and for the flagship gates.
    * @param mentions (mention_norm, …)
    * @param keys     each mention's key array, over `mentions`' columns
    * @param key      name of the key column, in `keyDf` and the output
    * @param keyDf    (key, df) posting-list lengths */
  def blockedKeys(mentions: DataFrame, keys: Column, key: String,
                  keyDf: DataFrame, commonDf: Long): DataFrame = {
    val wMent = Window.partitionBy(col("mention_norm"))
    mentions
      .select(col("mention_norm"), explode(keys).as(key))
      .join(keyDf, Seq(key), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("min_df", min(col("df")).over(wMent))
      .filter(col("df") <= commonDf || col("min_df") > commonDf)
      .select(col("mention_norm"), col(key))
  }

  /** Exact token matches: (mention_norm, name_row_id, token), salted on
    * hot tokens so one mega-posting token cannot pin a shuffle partition,
    * with common-token blocking (see LinkerConfig.commonTokenDf).
    * @param postings (token, name_row_id)
    * @param tokenDf  (token, df) posting-list lengths */
  def exactTokenMatches(spark: SparkSession, mentionsD: DataFrame,
                        postings: DataFrame, tokenDf: DataFrame,
                        commonDf: Long, cfg: LinkerConfig,
                        hotTokens: Option[Set[String]] = None): DataFrame = {
    val mtok = blockedKeys(mentionsD, col("mention_tokens"), "token", tokenDf, commonDf)

    // hot tokens: precomputed at index-build time when available (skips a
    // mid-DAG collect job), else from the df table (tiny result)
    val hot = hotTokens.getOrElse(NameIndex.hotTokens(tokenDf, cfg.hotTokenDf))

    if (hot.isEmpty) {
      mtok.join(postings, Seq("token"))
        .select(col("mention_norm"), col("name_row_id"), col("token"))
    } else {
      val hotArr = typedLit(hot.toSeq.sorted)
      val salts = spark.range(SaltShards).select(col("id").cast("int").as("salt"))
      // posting side: hot tokens replicated into SaltShards shards, cold salt=0
      val pCold = postings.filter(!array_contains(hotArr, col("token")))
        .withColumn("salt", lit(0))
      val pHot = postings.filter(array_contains(hotArr, col("token")))
        .crossJoin(broadcast(salts))
      // mention side: deterministic shard by mention hash
      val m = mtok.withColumn("salt",
        when(array_contains(hotArr, col("token")),
          pmod(xxhash64(col("mention_norm")), lit(SaltShards)).cast("int")).otherwise(lit(0)))
      m.join(pCold.unionByName(pHot), Seq("token", "salt"))
        .select(col("mention_norm"), col("name_row_id"), col("token"))
    }
  }

  /** Levenshtein distance in code points, as Spark's `levenshtein`
    * (driver-side verification). */
  private def lev(a: String, b: String): Int = {
    import org.apache.spark.unsafe.types.UTF8String
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))
  }

  /** Fuzzy token matches — ES's two-phase fuzzy-query model:
    *
    *  phase 1 (TERM DICTIONARY, vocabulary × vocabulary): the DISTINCT
    *  mention tokens are expanded to index tokens within AUTO edit
    *  distance, via two complementary blockings:
    *   (a) the 3-gram vocab join with the shared-gram lower-bound prune —
    *       complete whenever max(|a|,|b|) − 2 − 3·d ≥ 1;
    *   (b) a SymSpell delete-neighborhood join
    *       ([[graft.functions.TextSetHelper.deletes]]) for SHORT pairs
    *       (max(|a|,|b|) ≤ 2+3·d, i.e. ≤5 chars at 1 edit / ≤8 at 2),
    *       where a legal fuzzy pair can share zero 3-grams ('abc'→'axc')
    *       and the gram join would silently drop it;
    *  then the exact levenshtein check and the ES `max_expansions`-style
    *  cap (50 closest terms per mention token, deterministic order);
    *
    *  phase 2 (POSTINGS): only the accepted (mtok → token) expansions are
    *  joined against the posting lists.
    *
    * Doing both blocking joins at vocabulary scale is what keeps fuzzy
    * matching linear — joining grams against per-name-row postings would
    * multiply the candidate volume by posting-list length.
    * @param postings   (token, name_row_id)
    * @param postings3g (gram, token) vocabulary grams
    * @param tokenDf    (token, df); expansion targets with df > commonDf
    *                   are blocked (same policy as the exact path) */
  private def fuzzyTokenMatches(mentionsD: DataFrame, postings: DataFrame,
                                postings3g: DataFrame, tokenDf: DataFrame,
                                commonDf: Long): DataFrame =
    // distinct targets × postings unique per (token, name_row_id) ⇒
    // distinct triples
    fuzzyTargets(mentionsD, postings3g, tokenDf, commonDf)
      .join(postings, Seq("token"))
      .select(col("mention_norm"), col("name_row_id"), col("token"))

  /** Phase 2's distinct (mention_norm, token) targets: every accepted
    * phase-1 expansion of each mention token, minus common targets
    * (df > commonDf, the exact path's blocking policy). Deduplicated here,
    * at the (mention, target-token) level — a table that is tiny BEFORE
    * the posting join (tens of thousands of rows) — instead of on the
    * millions of post-join triples. */
  private def fuzzyTargets(mentionsD: DataFrame, postings3g: DataFrame,
                           tokenDf: DataFrame, commonDf: Long): DataFrame = {
    // the driver-built expansion table is small, so it is broadcast; the
    // hint sits on the join that consumes it
    val (exps, inDriver) = expandTokens(mentionsD, postings3g, tokenDf, VocabDriverMax)
    val rareExpansions = (if (inDriver) broadcast(exps) else exps)
      .join(tokenDf.filter(col("df") <= commonDf).select("token"), Seq("token"))
    mentionsD
      .select(col("mention_norm"), explode(col("mention_tokens")).as("mtok"))
      .join(rareExpansions, Seq("mtok"))
      .select(col("mention_norm"), col("token"))
      .distinct()
  }

  /** Phase 1 only: the accepted (mtok → index token) fuzzy expansions.
    * The expansion caps are fixed (`MaxFuzzyExpansions`, `MaxGramDf`), so
    * `cfg` is not read. */
  def fuzzyExpansions(mentionsD: DataFrame, postings3g: DataFrame,
                      tokenDf: DataFrame, cfg: LinkerConfig,
                      vocabDriverMax: Long = VocabDriverMax): DataFrame =
    expandTokens(mentionsD, postings3g, tokenDf, vocabDriverMax)._1

  /** Phase 1 and where it ran: (expansions, built in the driver). */
  private def expandTokens(mentionsD: DataFrame, postings3g: DataFrame,
                           tokenDf: DataFrame,
                           vocabDriverMax: Long): (DataFrame, Boolean) = {
    val spark = mentionsD.sparkSession
    // distinct mention tokens (the query-side vocabulary)
    val mvocab = mentionsD
      .select(explode(col("mention_tokens")).as("mtok")).distinct()
      .filter(length(col("mtok")) >= 3)

    // Delete rule of both venues: every token, mention or index, is keyed
    // by its deletes ≤ AUTO(its own length). Complete for lev(m, v) = e ≤
    // AUTO(|m|): an alignment with s substitutions, i insertions and r
    // removals meets at m minus s+r code points (s+r ≤ e) and v minus s+i
    // (s+i ≤ e ≤ AUTO(|v|) when |v| ≥ |m|; when |v| < |m|, r ≥ 1, so
    // s+i = 1 only at e = 2, where |v| ≥ |m| − 1 ≥ 5).
    def autoDeletes(t: Column): Column =
      TextSetExprs.deleteSet(t, autoFuzzEdits(length(t)))

    // ---- phase 1, SMALL-VOCAB fast path: when both vocabularies fit the
    // driver comfortably, the whole term-dictionary expansion runs as an
    // in-driver SymSpell (same delete rule, verified output and cap as the
    // distributed path). This collapses ~14 vocabulary-scale exchanges
    // into one broadcastable expansion table; the distributed gram+delete
    // join path below is the 100 TB shape and takes over past the size
    // guards. ----
    val nVocab = tokenDf.count()
    val nMvocab = if (nVocab <= vocabDriverMax) mvocab.count() else Long.MaxValue
    if (nVocab <= vocabDriverMax && nMvocab <= 10 * vocabDriverMax) {
      import spark.implicits._
      def withEdits(df: DataFrame, c: String): Array[(String, Int)] =
        df.select(col(c), autoFuzzEdits(length(col(c)))).as[(String, Int)].collect()
      val mtoks = withEdits(mvocab, "mtok")
      val dict = scala.collection.mutable.HashMap.empty[String, List[String]]
      withEdits(tokenDf, "token").foreach { case (t, d) =>
        TextSetHelper.deletes(t, d).foreach(k => dict(k) = t :: dict.getOrElse(k, Nil))
      }
      val rows: Seq[(String, String)] = mtoks.toSeq.flatMap { case (m, d) =>
        if (d == 0) Seq.empty[(String, String)]
        else {
          val cands: Seq[String] =
            TextSetHelper.deletes(m, d).flatMap(k => dict.getOrElse(k, Nil)).toSeq.distinct
          cands
            .map(t => (t, lev(m, t)))
            .filter { case (_, l) => l >= 1 && l <= d }
            .sortBy { case (t, l) => (l, t) }
            .take(MaxFuzzyExpansions)
            .map { case (t, _) => (m, t) }
        }
      }
      // RDD-backed, NOT a LocalRelation: a Seq-based toDF would embed every
      // expansion row into the serialized plan of every downstream stage
      val rdd = spark.sparkContext
        .parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)),
          math.max(1, rows.size / 100000 + 1))
      return (spark.createDataFrame(rdd,
        org.apache.spark.sql.types.StructType.fromDDL("mtok string, token string")), true)
    }

    // POSITIONAL grams on the mention side (no distinct): the q-gram lower
    // bound |shared grams| ≥ max(|a|,|b|) − 2 − 3·d holds for MULTISET
    // intersections; tokens with repeated grams ("aaaaaaaaaa") share few
    // DISTINCT grams and a distinct-count filter wrongly prunes them.
    // With mention-side multiplicity kept and the (distinct) vocab side,
    // the join count is Σ_g cnt_m(g)·1{g∈v} ≥ Σ_g min(cnt_m, cnt_v) =
    // |multiset ∩| ≥ bound for every true pair — a valid (weaker) prune;
    // the exact levenshtein re-check below restores precision.
    val mgrams = mvocab
      .select(col("mtok"), explode(Text.tokenNgrams(col("mtok"), 3)).as("gram"))

    // prune ultra-common grams (bounded fan-out; documented cap)
    val gramDf = postings3g.groupBy("gram").count()
    val p3 = postings3g.join(gramDf.filter(col("count") <= MaxGramDf), Seq("gram"))
      .select("gram", "token")

    val d = autoFuzzEdits(length(col("mtok")))
    val gramPairs = mgrams.join(p3, Seq("gram"))
      .groupBy(col("mtok"), col("token"))
      .agg(count(lit(1)).as("shared_grams"))
      // multiset q-gram bound, necessary for lev ≤ d (see mgrams note)
      .filter(col("shared_grams") >=
        greatest(length(col("mtok")), length(col("token"))) - lit(2) - lit(3) * d)
      .select("mtok", "token")

    // (b) delete-neighborhood fallback for short pairs, by the in-driver
    // rule (`autoDeletes`) on tokens ≤8 of both sides. Longer pairs are
    // complete under (a).
    val vShort = postings3g.select("token").distinct()
      .filter(length(col("token")) <= 8)
      .select(col("token"), explode(autoDeletes(col("token"))).as("k"))
    val deletePairs = mvocab.filter(length(col("mtok")) <= 8)
      .select(col("mtok"), explode(autoDeletes(col("mtok"))).as("k"))
      .join(vShort, Seq("k"))
      .select("mtok", "token")
      .distinct()

    val verified = gramPairs.union(deletePairs).distinct()
      .withColumn("lev", levenshtein(col("mtok"), col("token")))
      // lev ≥ 1: identical tokens are the EXACT path's job — keeping them
      // here would re-derive every exact match through the gram join
      .filter(col("lev") <= autoFuzzEdits(length(col("mtok"))) && col("lev") >= 1)

    // ES max_expansions: keep the MaxFuzzyExpansions closest index
    // terms per mention token, deterministic (lev asc, token asc)
    val wExp = Window.partitionBy(col("mtok")).orderBy(col("lev").asc, col("token").asc)
    (verified
      .withColumn("exp_rank", row_number().over(wExp))
      .filter(col("exp_rank") <= MaxFuzzyExpansions)
      .select(col("mtok"), col("token")), false)
  }

  /** Fuzzy candidates of the minimum_should_match branch: the expansion →
    * posting join, aggregated to per-(mention, name row) stats (n_f, idf_f)
    * over the distinct fuzzy tokens not in the mention's own token set. */
  private def fuzzyStats(mentionsD: DataFrame, postings: DataFrame,
                         postings3g: DataFrame, tokenDf: DataFrame,
                         commonDf: Long, idf: DataFrame): DataFrame = {
    // Self-token filtering runs on the distinct (mention, target-token)
    // targets, before the posting join: postings are unique per (token,
    // name_row), so the (m, n, token) triples have NO duplicates and the
    // per-candidate stats reduce to a plain codegen count/sum.
    val targets = fuzzyTargets(mentionsD, postings3g, tokenDf, commonDf)
      .join(mentionsD.select(col("mention_norm"),
          explode(col("mention_tokens")).as("token")),
        Seq("mention_norm", "token"), "left_anti")
    targets
      .join(idf, Seq("token"), "left")
      .join(postings, Seq("token"))
      .groupBy(col("mention_norm"), col("name_row_id"))
      .agg(count(lit(1)).as("n_f"),
        sum(coalesce(col("idf"), lit(0.0))).as("idf_f"))
  }

  /** Candidate rows with match stats + every name-index column.
    * idfByToken: (token, idf) — precomputed from postings
    * (`idf(t) = ln(1 + N/df(t))`, N = #name rows). */
  def candidateRows(matches: DataFrame, names: DataFrame,
                    idfByToken: DataFrame): DataFrame = {
    val stats = matches
      .join(idfByToken, Seq("token"), "left")
      .groupBy(col("mention_norm"), col("name_row_id"))
      .agg(
        count(lit(1)).as("matched_tokens"),
        sum(coalesce(col("idf"), lit(0.0))).as("idf_sum"))
    stats.join(names, Seq("name_row_id"))
  }

  /** Full per-mention lookup: returns the 18-feature candidate table of
    * `lookup_retriever.py:278-302` (+ mention_norm, rank). One row per
    * (mention, entity) after A7 best-variant dedup; ≤ cfg.limit rows per
    * mention, ordered by popularity desc. `types` is the reference's
    * [{id, name}] struct array (J5 enrichment via index.typeNames; a type
    * id with no kind='type' label falls back to the id itself, exactly as
    * `types_id_to_name.get(id, id)` does). cfg.ids appends forced
    * candidates (`_check_ids`) after the matched ones. */
  def lookup(spark: SparkSession, mentions: DataFrame, index: NameIndexTables,
             cfg: LinkerConfig = LinkerConfig()): DataFrame = {
    val (feat2, mentionsDM) = scoredFeatures(spark, mentions, index, cfg)
    val popularity =
      if (cfg.normalizeScore) col("popularity_norm")
      else col("popularity_norm") * lit(required(index.maxPopularity, "maxPopularity"))

    // ---- A7 per-entity best-variant dedup: keep max (ed+jac); ties →
    //      first in result order (pos asc) ----
    val wEnt = Window.partitionBy(col("mid"), col("id"))
      .orderBy((col("ed_score") + col("jaccard_score")).desc, col("pos").asc)
    // the reference candidate object in output order, plus mid and rank
    def candidateOutput(df: DataFrame): DataFrame = df.select(
      col("mid"), col("mention_norm"), col("id"), col("name"), col("description"),
      col("types_text"),
      col("kind"), col("ner_type").as("NERtype"),
      col("explicit_types"), col("extended_types"),
      col("ambiguity_mention"), col("corrects_tokens"),
      Text.ntoken(col("mention_norm")).as("ntoken_mention"),
      col("ntoken").as("ntoken_entity"),
      length(col("mention_norm")).as("length_mention"),
      col("length").as("length_entity"),
      popularity.as("popularity"),
      col("pos_score"), col("es_score"), col("ed_score"),
      col("jaccard_score"), col("jaccardNgram_score"),
      col("rank"))

    val main = candidateOutput(feat2
      .withColumn("variant_rank", row_number().over(wEnt))
      .filter(col("variant_rank") === 1)
      .withColumnRenamed("pos", "rank"))

    val full = if (cfg.ids.isEmpty) main else {
      // the forced-id rows read `main` three times and the types
      // enrichment reads `full` twice: evaluate each once, so the plan
      // does not depend on which re-read exchanges AQE happens to reuse
      val scored = main.localCheckpoint(eager = true)
      import spark.implicits._
      // ---- forced-candidate fetch (`_check_ids`:348-395): one en,
      // non-alias index row per requested id (the per-id limit=1 query),
      // deterministic pick = smallest name_clean. req_pos = the id's
      // position in cfg.ids — the reference appends fetched candidates in
      // the caller's requested order (`lookup_retriever.py:364-395`
      // iterates ids_list), so rank continues in that order, not id order.
      val forcedIds = broadcast(cfg.ids.distinct.zipWithIndex.toDF("id", "req_pos"))
      val w1 = Window.partitionBy(col("id")).orderBy(col("name_clean"))
      val oneRow = index.names
        .filter(!col("is_alias") && array_contains(col("languages"), "en"))
        .join(forcedIds, Seq("id"), "left_semi")
        .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)

      val perMention = scored.groupBy(col("mid")).agg(
        first(col("ambiguity_mention")).as("ambiguity_mention"),
        first(col("corrects_tokens")).as("corrects_tokens"),
        max(col("rank")).as("max_rank"))
      // broadcast (bounded by mentions × ids): an AQE-converted sort-merge
      // join keeps or drops its left shuffle by which input finishes first
      val present = scored.select("mid", "id").filter(col("id").isin(cfg.ids: _*))
      val missing = mentionsDM.crossJoin(forcedIds)
        .join(broadcast(present), Seq("mid", "id"), "left_anti")

      val wForced = Window.partitionBy(col("mid")).orderBy(col("req_pos"))
      val fetched = candidateOutput(missing.join(oneRow, Seq("id"))
        .join(perMention, Seq("mid"), "left")
        .select(col("*") +: similarityFeatures: _*)
        // a 1-hit ES response: pos_score = (0+1)/1, es_score = s/s = 1
        .withColumn("pos_score", lit(1.0)).withColumn("es_score", lit(1.0))
        .withColumn("rank", coalesce(col("max_rank"), lit(0)) + row_number().over(wForced)))
      scored.unionByName(fetched).localCheckpoint(eager = true)
    }

    // ---- J5 types {id, name} enrichment over the final candidate set
    // ((mention_norm, id) is unique after dedup) ----
    val typeNames = required(index.typeNames, "typeNames")
    val typeIds = full.select(col("mid"), col("id"),
        posexplode_outer(filter(split(col("types_text"), " "), t => t =!= ""))
          .as(Seq("tpos", "tid")))
      .join(typeNames.select(col("entity").as("tid"), col("name").as("tname")),
        Seq("tid"), "left")
      .groupBy(col("mid"), col("id"))
      .agg(transform(
        array_sort(collect_list(when(col("tid").isNotNull,
          struct(col("tpos").as("p"),
            struct(col("tid").as("id"), coalesce(col("tname"), col("tid")).as("name"))
              .as("t"))))),
        e => e.getField("t")).as("types"))
    full.join(typeIds, Seq("mid", "id"), "left")
      .withColumn("types", coalesce(col("types"),
        array().cast("array<struct<id:string,name:string>>")))
      .drop("types_text")
      .drop("mid")
  }

  /** Stage-9 linking decision: best accepted entity per mention, from the
    * scored-candidate core + a SINGLE top-1-per-mention window (the A7
    * variant dedup is subsumed — the argmax row is the same entity either
    * way). Composite (engine-defined, documented): ed+jaccard+ngram (the
    * reference's own dedup/ranking signal A7 extended with the fuzzy
    * feature) + 0.5·es_score — the lexical term separates candidates whose
    * string features tie because a short alias/abbreviation row mimics the
    * mention while matching fewer index tokens. Popularity as prior
    * tie-break; threshold to abstain.
    * Output: (mention_norm, qid, link_score). */
  def linkTop1(spark: SparkSession, mentions: DataFrame, index: NameIndexTables,
               cfg: LinkerConfig, minScore: Double): DataFrame = {
    val (feat2, _) = scoredFeatures(spark, mentions, index, cfg)
    val composite = col("ed_score") + col("jaccard_score") +
      col("jaccardNgram_score") + lit(0.5) * col("es_score")
    val w = Window.partitionBy(col("mid"))
      .orderBy(composite.desc, col("popularity_norm").desc, col("id").asc)
    feat2
      .withColumn("link_score", composite)
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1 && col("link_score") >= minScore)
      .select(col("mention_norm"), col("id").as("qid"), col("link_score"))
  }

  /** Content fingerprint of the name index — folded into the memo key so
    * a REBUILT KG auto-invalidates stale memo rows (the reference couples
    * cache and index lifecycles the same way: its Mongo `cache` is cleared
    * on reindex, `lookup_retriever.py:139-156`). One columnar partial-agg
    * scan of `names` (count + order-independent xor of a per-row hash over
    * the scoring-relevant columns), run by every memoized call. */
  def indexFingerprint(names: DataFrame): Long = {
    val r = names.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("name_row_id"), col("popularity_norm"),
        col("kind"))), lit(0L)).as("x")).head()
    (r.getLong(0) * 0x9E3779B97F4A7C15L) ^ r.getLong(1)
  }

  /** Deterministic memo key for a linking configuration + index content —
    * results are only reusable under the SAME filters/limits/scoring
    * switches AND the same index. Derived from the case class's own fields,
    * so a field added to LinkerConfig joins the key without an edit here.
    * Seq values render by content, not by collection class (`List(a)` and
    * `Vector(a)` are the same filter); a field type whose toString is
    * identity-based (an Array) would need its own case. */
  private[kg] def memoKey(cfg: LinkerConfig, minScore: Double,
                          indexFp: Long): String = {
    val fields = cfg.productElementNames.zip(cfg.productIterator).map {
      case (name, s: Seq[_]) => s"$name=${s.mkString("[", ",", "]")}"
      case (name, v) => s"$name=$v"
    }
    val parts = fields.toSeq ++ Seq("minScore=" + minScore, "indexFp=" + indexFp)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString("|").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Cross-run lookup memo — the PERSISTED form of the reference's query
    * cache C1 (`lookup_retriever.py:139-175,313-346`: Mongo `cache`
    * collection keyed by the full query tuple, consulted before ES).
    * Batch re-realization: a Parquet table
    * (cfg_key, mention_norm, qid, link_score) consulted before candidate
    * generation; a mention already present under the same cfg_key skips
    * generation entirely — INCLUDING recorded no-link outcomes
    * (qid = null), which are exactly the reference's cached empty
    * responses. Fresh outcomes are appended after computation. A crash
    * mid-append at worst duplicates rows; reads dropDuplicates per
    * mention (linking is deterministic, so duplicates are identical).
    * Scale shape: the memo join is one broadcast/shuffle of the
    * distinct-mention set against a table bucketable by mention_norm —
    * the candidate-generation DAG it replaces is strictly heavier.
    * Invalidation is AUTOMATIC: the key folds in [[indexFingerprint]], so
    * rows memoized against a rebuilt/changed index simply stop matching
    * (the reference's analogue clears its Mongo cache on reindex).
    * Concurrency: each append lands in its own `batch-<uuid>` subdirectory
    * — two simultaneous runs sharing a memoDir cannot race on a shared
    * FileOutputCommitter `_temporary` staging dir; reads use
    * recursiveFileLookup so flat (pre-r4) and batched layouts coexist. */
  def linkTop1Memoized(spark: SparkSession, mentions: DataFrame,
                       index: NameIndexTables, cfg: LinkerConfig,
                       minScore: Double, memoDir: String): DataFrame = {
    val key = memoKey(cfg, minScore, indexFingerprint(index.names))
    val memoRaw = readMemo(spark, memoDir)
    val mentionsD = distinctMentions(mentions).select(col("mention_norm"))
    // each table below is read by two plans, so each is checkpointed
    // eagerly (a lazy checkpoint is materialized by whichever job ends
    // first; see the `graft.ops.Ann` doc)
    val hits = memoRaw.filter(col("cfg_key") === key)
      .dropDuplicates("mention_norm")
      .join(mentionsD, Seq("mention_norm"), "left_semi")
      .localCheckpoint()
    val missMentions = mentionsD
      .join(hits.select("mention_norm"), Seq("mention_norm"), "left_anti")
      .localCheckpoint()
    val fresh = linkTop1(spark, missMentions, index, cfg, minScore)
      .localCheckpoint() // consumed by the append AND the union
    // record no-link outcomes too (qid null) so they also memoize
    missMentions
      .join(fresh, Seq("mention_norm"), "left")
      .select(lit(key).as("cfg_key"), col("mention_norm"),
        col("qid"), col("link_score"))
      .write.mode("overwrite")
      .parquet(s"$memoDir/batch-${java.util.UUID.randomUUID()}")
    // drop the session's cached file listing for memoDir: a later read in
    // the same session must see the batch just appended
    spark.catalog.refreshByPath(memoDir)
    hits.filter(col("qid").isNotNull)
      .select(col("mention_norm"), col("qid"), col("link_score"))
      .unionByName(fresh)
  }

  private val MemoSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cfg_key string, mention_norm string, qid string, link_score double")

  private def readMemo(spark: SparkSession, memoDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(memoDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(memoDir)))
      spark.read.schema(MemoSchema)
        .option("recursiveFileLookup", "true").parquet(memoDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], MemoSchema)
  }

  /** Bound the append-only memo (reference C1 parity: its Mongo cache is
    * LRU-bounded via `lastAccessed` + TTL, `lookup_retriever.py:313-346`;
    * batch runs have no access clock, so the policy here is dedup +
    * deterministic down-sampling). Rewrites memoDir as ONE deduped batch:
    * duplicates from crash-repeated appends collapse (rows are identical —
    * linking is deterministic), and if still over maxRows an arbitrary
    * but deterministic subset (ordered by xxhash64 of the key pair) is
    * kept — dropping memo rows only costs recomputation, never
    * correctness. Not concurrency-safe vs in-flight appends: compact
    * between runs, like the reference's reindex-time cache clear. */
  def compactMemo(spark: SparkSession, memoDir: String,
                  maxRows: Long = Long.MaxValue): Long = {
    import org.apache.hadoop.fs.Path
    val memo = readMemo(spark, memoDir).dropDuplicates("cfg_key", "mention_norm")
    val bounded =
      if (memo.count() <= maxRows) memo
      else memo.orderBy(xxhash64(col("cfg_key"), col("mention_norm")))
        .limit(math.min(maxRows, Int.MaxValue.toLong).toInt)
    val tmp = s"$memoDir-compact-${java.util.UUID.randomUUID()}"
    bounded.write.mode("overwrite").parquet(tmp)
    val fs = new Path(memoDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(memoDir), true)
    fs.rename(new Path(tmp), new Path(memoDir))
    // the rewrite invalidated every cached file listing under memoDir
    spark.catalog.refreshByPath(memoDir)
    spark.read.parquet(memoDir).count()
  }

  /** One lookup filter (P3-P7, `create_query`:535-610): the names column
    * it reads, its hard predicate, and — when it has one — the
    * should-boost and the miss penalty it becomes under soft filtering. */
  private case class NameFilter(column: String, pred: Column,
                                boost: Option[Double] = None,
                                penalty: Option[Double] = None)

  /** The filters `cfg` sets, in boost-term order. */
  private def nameFilters(cfg: LinkerConfig): Seq[NameFilter] = Seq(
    cfg.kind.map(k => NameFilter("kind", col("kind") === k)),
    Option.when(cfg.nerTypes.nonEmpty)(NameFilter("ner_type",
      col("ner_type").isin(cfg.nerTypes: _*), boost = Some(2.0))),
    Option.when(cfg.types.nonEmpty)(NameFilter("explicit_types",
      arrays_overlap(col("explicit_types"), typedLit(cfg.types)),
      boost = Some(1.5), penalty = Some(0.1))),
    Option.when(cfg.extendedTypes.nonEmpty)(NameFilter("extended_types",
      arrays_overlap(col("extended_types"), typedLit(cfg.extendedTypes)),
      boost = Some(1.2), penalty = Some(0.2))),
    cfg.language.map(l => NameFilter("languages", array_contains(col("languages"), l)))
  ).flatten

  /** Similarity features F2-F4 over the pre-built name and mention sets. */
  private def similarityFeatures: Seq[Column] = Seq(
    Similarity.editDistanceScore(col("name_clean"), col("mention_norm")).as("ed_score"),
    Similarity.setOverlapScore(col("name_tokens"), col("mention_tokens")).as("jaccard_score"),
    Similarity.setOverlapScore(col("name_grams"), col("mention_grams"))
      .as("jaccardNgram_score"))

  /** Shared core of lookup/linkTop1: candidate generation + filters +
    * cut + per-mention normalization + similarity features.
    * Returns (features, mentionsD) — the distinct-mention table rides
    * along so callers (the forced-ids path) reuse the SAME frozen `mid`
    * assignment instead of re-deriving mentions. */
  private def scoredFeatures(spark: SparkSession, mentions: DataFrame,
                             index: NameIndexTables, cfg: LinkerConfig): (DataFrame, DataFrame) = {
    // `mid`: a dense numeric surrogate for mention_norm, frozen by the
    // checkpoint (the count below materializes it before any consumer, so
    // every evaluation reads the same stored blocks). The candidate stream
    // exchanges and window-partitions on THIS 8-byte key instead of the
    // mention string — strings and token arrays never ride the big
    // exchange or the pre-cut top-k sort; they re-attach via the bounded
    // mention broadcast after aggregation (norm) / after the cut (sets).
    val mentionsD = distinctMentions(mentions)
      .withColumn("mid", monotonically_increasing_id())
      .localCheckpoint(eager = false)
    // bounded-side broadcast of the mention sets into the two candidate-
    // stream joins (see BroadcastMentionsMaxRows); the count materializes
    // the checkpoint, which every downstream chain needs first anyway
    val nMentions = mentionsD.count()
    def mentionsB(df: DataFrame): DataFrame =
      if (nMentions <= BroadcastMentionsMaxRows) broadcast(df) else df
    val midMap = mentionsD.select(col("mention_norm"), col("mid"))

    // ONE exchange for the entire scoring chain: `rows` (mention_norm,
    // name_row_id, statCols…) map to `mid` map-side through the bounded
    // mention broadcast, and the candidate stream is hash-partitioned by
    // mid here and never moves again — the per-(mid, name row) aggregation,
    // the mention joins, the top-limit cut window, the es normalization
    // window and the final top-1 window all accept hashpartitioning(mid)
    // (their grouping/partition keys contain it). Each extra exchange of
    // the 4-5M-row candidate stream costs ~0.4 GB of shuffle write+read
    // and a stage boundary at 384k pages.
    def perCandidate(rows: DataFrame, statCols: Seq[String], aggs: Column*): DataFrame =
      rows
        .join(mentionsB(midMap), Seq("mention_norm")) // map-side: str → mid
        .select((Seq("mid", "name_row_id") ++ statCols).map(col): _*)
        .repartition(col("mid"))
        .groupBy(col("mid"), col("name_row_id"))
        .agg(aggs.head, aggs.tail: _*)

    // index-side stats, all built once by NameIndex.tables
    val nRows = required(index.nameRowCount, "nameRowCount")
    val tokenDf = required(index.tokenStats, "tokenStats")
    val idf = NameIndex.idf(tokenDf, nRows)
    val commonDf =
      if (cfg.commonTokenDf > 0) cfg.commonTokenDf
      else math.max(64L, (nRows * 0.005).toLong)

    val statsF: DataFrame =
      if (!cfg.minShouldMatch) {
        // ---- reference-parity OR generation: every (eligible) token's
        // posting list contributes candidates; no distinct across
        // exact ∪ fuzzy (in ES every query clause scores, so a token
        // reached both ways counts twice there too)
        val exact = exactTokenMatches(spark, mentionsD, index.postings,
          tokenDf, commonDf, cfg, index.hotTokens)
        val matches =
          if (!cfg.fuzzy) exact
          else exact.union(fuzzyTokenMatches(mentionsD, index.postings,
            index.postings3g, tokenDf, commonDf).localCheckpoint(eager = false))
        perCandidate(matches.join(idf, Seq("token"), "left"), Seq("idf"),
            count(lit(1)).as("matched_tokens"),
            sum(coalesce(col("idf"), lit(0.0))).as("idf_sum"))
          .join(mentionsB(mentionsD.select(col("mid"), col("mention_norm"))),
            Seq("mid"))
      } else {
        // ---- pipeline generation (minimum_should_match = min(2, ntok)):
        // multi-token mentions generate via TOKEN-PAIR posting lists —
        // a candidate sharing ≥2 tokens shares ≥1 pair, and pair lists
        // stay short no matter how common the individual tokens get
        // ("garen ashford" vs every "ashford"). Single-token mentions use
        // the (blocked) single-token path; fuzzy candidates always join.
        val pairTable = required(index.postingsPair, "postingsPair")

        // pair-df blocking with the same all-common fallback as tokens
        val pairDf = required(index.pairStats, "pairStats")
        val pairCands = blockedKeys(mentionsD.filter(size(col("mention_tokens")) >= 2),
            NameIndex.tokenPairs(col("mention_tokens")), "pair", pairDf, commonDf)
          .join(pairTable, Seq("pair"))
          .select(col("mention_norm"), col("name_row_id"))

        val m1 = mentionsD.filter(size(col("mention_tokens")) === 1)
        val singleCands = exactTokenMatches(spark, m1, index.postings,
          tokenDf, commonDf, cfg, index.hotTokens)
          .select(col("mention_norm"), col("name_row_id"))

        // The fuzzy stats MERGE rides the per-candidate aggregation
        // instead of a join: exact arms carry (n_f=0, idf_f=0), the fuzzy
        // arm carries its aggregated stats, and max() per (m,n) reproduces
        // a left-outer-join-then-coalesce exactly (the fuzzy stats are
        // unique per (m,n), exact arms contribute zeros). Spark plans joins
        // only on full key equality, so a (m,n) join could never stay in
        // the (m) partitioning — an aggregation can.
        val exactStats = pairCands.union(singleCands)
          .select(col("mention_norm"), col("name_row_id"),
            lit(0L).as("n_f"), lit(0.0).as("idf_f"))
        val rows =
          if (!cfg.fuzzy) exactStats
          else exactStats.unionByName(fuzzyStats(mentionsD, index.postings,
            index.postings3g, tokenDf, commonDf, idf)
            .localCheckpoint(eager = false)) // overlaps the exact-gen chain
        val candStats = perCandidate(rows, Seq("n_f", "idf_f"),
          max(col("n_f")).as("n_f"), max(col("idf_f")).as("idf_f"))

        // stats from the token-set intersection (+ fuzzy-only tokens).
        // idf per matched token comes from a per-NAME-ROW token→idf map
        // (built once at vocabulary scale, at index time), so the
        // per-candidate work is a pure array fold — no
        // explode / join / groupBy over candidates. The map's KEY SET is
        // exactly the name's token set, so one join serves both.
        //
        // JOIN ORDER keeps the fat idf_map column OFF the candidate-stream
        // exchanges: attaching the map before the mention_norm repartition
        // made every candidate row carry its name's token→idf map through
        // a full shuffle (measured 1.2 GB written + read again at the
        // 384k-page bench — the single largest exchange in the links DAG).
        // Here the slim candidate stream picks up mention_tokens first;
        // the bounded index-side map table then joins via BROADCAST (no
        // exchange at all) and collapses to two scalars in the same stage.
        // Past the broadcast bound the name_row_id shuffle join is the
        // right cluster shape (bucketed index side) — and the map still
        // never rides a candidate exchange, because the scalars project
        // out within the join stage.
        val namesIdf = required(index.idfMaps, "idfMaps")
        val namesIdfJ =
          if (nRows <= BroadcastIdfMapsMaxRows) broadcast(namesIdf) else namesIdf
        candStats
          .join(mentionsB(mentionsD.select(col("mid"), col("mention_norm"),
            col("mention_tokens"))), Seq("mid"))
          .join(namesIdfJ, Seq("name_row_id"))
          .withColumn("shared",
            array_intersect(col("mention_tokens"), map_keys(col("idf_map"))))
          .withColumn("n_ex", size(col("shared")).cast("long"))
          .withColumn("idf_ex", aggregate(col("shared"), lit(0.0),
            (acc, t) => acc + coalesce(element_at(col("idf_map"), t), lit(0.0))))
          // token array + idf map project OUT here — the pre-cut sort sees
          // only (mid, norm, name_row_id, 2 scalars)
          .select(col("mid"), col("mention_norm"), col("name_row_id"),
            (col("n_ex") + col("n_f")).as("matched_tokens"),
            (col("idf_ex") + col("idf_f")).as("idf_sum"),
            size(col("mention_tokens")).as("m_ntok"))
          .filter(col("matched_tokens") >= least(lit(2), col("m_ntok")))
          .drop("m_ntok")
      }

    // ---- names split: ranking columns always join BEFORE the cut;
    //      filter/boost columns join pre-cut ONLY when this cfg references
    //      them (the pipeline cfg references none — its 15.9M-row pre-cut
    //      top-k sort then carries 5 scalars, not 3 type/language arrays
    //      of dead payload); every other column — output taxonomy + fat
    //      name/description/sets — joins AFTER the top-k cut, touching
    //      only the ≤limit survivors per mention ----
    val filters = nameFilters(cfg)
    val filterCols = filters.map(_.column)
    val namesRank = index.names.select((Seq("name_row_id", "id", "name_clean",
      "popularity_norm") ++ filterCols).map(col): _*)
    // languages is filter-only (never in any output); the taxonomy columns
    // the callers project are re-attached post-cut unless already present
    val postCols = Seq("kind", "ner_type", "explicit_types", "extended_types")
      .filterNot(filterCols.contains)
    val namesFat = index.names.select((Seq("name_row_id", "name",
      "description", "types_text", "ntoken", "length", "name_tokens",
      "name_grams") ++ postCols).map(col): _*)

    val cand = statsF.join(namesRank, Seq("name_row_id"))

    // ---- deterministic lexical raw score (es_score substitute) ----
    val exactBoost =
      // lamAPI boosts an exact name match 2× only in its non-fuzzy name
      // query; the fuzzy (`fuzziness: auto`) query carries no such boost
      // (SURVEY.md J3, `lookup_retriever.py:505-512`)
      if (cfg.fuzzy) lit(1.0)
      else when(col("name_clean") === col("mention_norm"), 2.0).otherwise(1.0)
    // soft filtering turns every filter with a should-boost into boost +
    // penalty terms (in declaration order); the rest stay hard
    val (soft, hard) = filters.partition(f => cfg.softFiltering && f.boost.isDefined)
    val softBoost = soft.map(f => when(f.pred, f.boost.get).otherwise(0.0))
      .reduceOption(_ + _).getOrElse(lit(0.0))
    val penalty = soft.flatMap(f => f.penalty.map(p => when(!f.pred, p).otherwise(1.0)))
      .reduceOption(_ * _).getOrElse(lit(1.0))
    val scored0 = cand.withColumn("es_raw",
      (col("idf_sum") * exactBoost + softBoost) * penalty)

    // ---- ambiguity features from the UNFILTERED match set (A5/A6,
    //      `_get_ambiguity_mention`:214-234, cut to top-limit by es_raw) ----
    def ambiguity = {
      val wAmb = Window.partitionBy(col("mid"))
        .orderBy(col("es_raw").desc, col("id").asc, col("name_clean").asc)
      scored0
        .withColumn("amb_rank", row_number().over(wAmb))
        .filter(col("amb_rank") <= cfg.limit)
        .groupBy("mid").agg(
          (countDistinct(when(col("name_clean") === col("mention_norm"), col("id")))
            .cast("double") / countDistinct(col("id"))).as("ambiguity_mention"),
          (size(array_intersect(
            array_distinct(flatten(collect_list(split(col("name_clean"), " ")))),
            Text.tokenSet(first(col("mention_norm"))))).cast("double") /
            greatest(size(Text.tokenSet(first(col("mention_norm")))), lit(1)))
            .as("corrects_tokens"))
    }

    // ---- hard filters (P3-P7) ----
    val filtered0 = hard.foldLeft(scored0)((df, f) => df.filter(f.pred))

    // ---- popularity-sorted cut + pos/es normalization (O1/O2, F5/F6) ----
    val wPop = Window.partitionBy(col("mid"))
      .orderBy(
        (if (cfg.cutByRelevance) col("es_raw") else col("popularity_norm")).desc,
        (if (cfg.cutByRelevance) col("popularity_norm") else col("es_raw")).desc,
        col("id").asc, col("name_clean").asc)
    val wMention = Window.partitionBy(col("mid"))
    val cut = filtered0
      .withColumn("pos", row_number().over(wPop))
      .filter(col("pos") <= cfg.limit)
      .withColumn("n_hits", count(lit(1)).over(wMention))
      .withColumn("pos_score", col("pos").cast("double") / col("n_hits"))
      .withColumn("es_score",
        if (cfg.normalizeScore) col("es_raw") / max(col("es_raw")).over(wMention)
        else col("es_raw")) // normalize_score=false: raw score (elastic.py:99)
      // fat name columns + mention sets only touch post-cut rows
      .join(namesFat, Seq("name_row_id"))
      .join(mentionsB(mentionsD), Seq("mid", "mention_norm"))

    val feat = cut.select(col("*") +: similarityFeatures: _*)
    val out =
      if (cfg.computeAmbiguity) feat.join(ambiguity, Seq("mid"), "left")
      else feat.withColumn("ambiguity_mention", lit(null).cast("double"))
        .withColumn("corrects_tokens", lit(null).cast("double"))
    (out, mentionsD)
  }
}
