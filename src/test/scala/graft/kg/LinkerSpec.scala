package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stages 7-9 — lookup candidate generation + the 18-feature scoring
  * contract (`lookup_retriever.py:278-302`), field-by-field goldens. */
class LinkerSpec extends SparkSpec {
  import spark.implicits._

  private val N = 200
  private lazy val world = {
    val dump = Fixtures.dumpLines(spark, N)
    val parsed = ParseEntities.parse(dump)
    val claims = ParseEntities.claims(parsed)
    val objects = ParseEntities.objects(claims)
    val items = ParseEntities.items(parsed, claims,
      ParseEntities.subclassClosure(objects)).cache()
    val names = NameIndex.names(items).cache()
    (items, NameIndex.tables(items, names,
      NameIndex.postings(names).cache(), NameIndex.postings3g(names).cache(),
      NameIndex.postingsPair(names).cache()))
  }
  private lazy val items = world._1
  private lazy val index = world._2

  /** `fuzzyExpansions` on both phase-1 venues, (in-driver, distributed):
    * a vocab count > 0 forces the distributed gram + delete joins. */
  private def expansionVenues(md: org.apache.spark.sql.DataFrame,
                              p3: org.apache.spark.sql.DataFrame,
                              tokenDf: org.apache.spark.sql.DataFrame) = {
    def exps(driverMax: Long) =
      Linker.fuzzyExpansions(md, p3, tokenDf, LinkerConfig(fuzzy = true),
        vocabDriverMax = driverMax)
        .select("mtok", "token").as[(String, String)].collect().toSet
    (exps(20000L), exps(0L))
  }

  private def mentionsOf(ms: String*) =
    ms.toSeq.toDF("surface")
      .select(graft.core.Text.cleanStr(col("surface")).as("mention_norm"))

  test("exact label lookup: entity ranks first with perfect scores") {
    val label = items.filter(col("entity") === "Q100000")
      .select(col("labels")("en")).first().getString(0)
    val out = Linker.lookup(spark, mentionsOf(label), index,
      LinkerConfig(limit = 1000)).cache()
    val best = out.orderBy((col("ed_score") + col("jaccard_score")).desc).first()
    assert(best.getAs[String]("id") == "Q100000")
    assert(best.getAs[Double]("ed_score") == 1.0)
    assert(best.getAs[Double]("jaccard_score") == 1.0)
    assert(best.getAs[Double]("jaccardNgram_score") == 1.0)
    // candidate object shape: all 18 reference fields + mention_norm/rank
    val cols = out.columns.toSet
    val expected = Set("id", "name", "description", "types", "kind", "NERtype",
      "explicit_types", "extended_types", "ambiguity_mention", "corrects_tokens",
      "ntoken_mention", "ntoken_entity", "length_mention", "length_entity",
      "popularity", "pos_score", "es_score", "ed_score", "jaccard_score",
      "jaccardNgram_score")
    assert(expected.subsetOf(cols))
  }

  test("feature golden: scores match hand-computed reference formulae") {
    // mention "alderton" vs city label "Alderton" (exact single token)
    val out = Linker.lookup(spark, mentionsOf("Alderton"), index,
      LinkerConfig(limit = 50)).cache()
    val city = out.filter(col("name") === "Alderton").first()
    assert(city.getAs[Double]("ed_score") == 1.0)
    assert(city.getAs[Int]("ntoken_mention") == 1)
    assert(city.getAs[Int]("length_mention") == 8)
    assert(city.getAs[Int]("ntoken_entity") == 1)
    assert(city.getAs[Int]("length_entity") == 8)
    // "City of Alderton" alias row is a separate entity-variant; A7 dedup
    // keeps only ONE row for the city entity (the best ed+jac variant)
    val cityId = city.getAs[String]("id")
    assert(out.filter(col("id") === cityId).count() == 1)
  }

  test("pos_score = rank/N over popularity-desc order (elastic.py:98)") {
    val out = Linker.lookup(spark, mentionsOf("Alderton"), index,
      LinkerConfig(limit = 1000)).cache()
    val rows = out.select("rank", "pos_score", "popularity").collect()
    val n = rows.length // A7 dedup keeps all ranks distinct per entity here
    // ranks are 1..n and pos_score = rank / #hits before dedup
    rows.foreach { r =>
      assert(r.getAs[Double]("pos_score") > 0.0 && r.getAs[Double]("pos_score") <= 1.0)
    }
    // popularity non-increasing in rank
    val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("popularity"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("es_score normalized to [0,1] with max 1 per mention (elastic.py:99)") {
    val out = Linker.lookup(spark, mentionsOf("Alderton", "Springfield"), index,
      LinkerConfig(limit = 100)).cache()
    val perMention = out.groupBy("mention_norm").agg(max("es_score").as("m"))
      .select("m").as[Double].collect()
    perMention.foreach(m => assert(math.abs(m - 1.0) < 1e-9))
  }

  test("fuzzy: one-edit misspelling finds the entity via 3-gram postings") {
    val out = Linker.lookup(spark, mentionsOf("Aldertn"), index,
      LinkerConfig(limit = 1000, fuzzy = true)).cache()
    val names = out.select("name").as[String].collect()
    assert(names.contains("Alderton"), s"got: ${names.take(10).mkString(",")}")
    // non-fuzzy must NOT find it (token mismatch)
    val strict = Linker.lookup(spark, mentionsOf("Aldertn"), index,
      LinkerConfig(limit = 1000, fuzzy = false))
    assert(!strict.select("name").as[String].collect().contains("Alderton"))
  }

  test("hard filters: kind / NERtype / extended_types restrict candidates") {
    val byKind = Linker.lookup(spark, mentionsOf("City"), index,
      LinkerConfig(limit = 50, kind = Some("type")))
    assert(byKind.select("kind").distinct().as[String].collect().toSeq == Seq("type"))

    val byNer = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, nerTypes = Seq("LOC")))
    assert(byNer.select("NERtype").distinct().as[String].collect().toSeq == Seq("LOC"))

    val byExt = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, extendedTypes = Seq("Q2221906")))
    byExt.select("extended_types").as[Seq[String]].collect()
      .foreach(ts => assert(ts.contains("Q2221906")))
  }

  test("soft filtering penalizes instead of excluding") {
    val hard = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, types = Seq("Q515")))
    val soft = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, types = Seq("Q515"), softFiltering = true))
    assert(soft.count() >= hard.count())
  }

  test("soft filtering golden: should-boosts 2.0/1.5/1.2 and penalties ×0.1/×0.2") {
    // es_raw = (idf_sum + boosts) × penalties, es_score = es_raw / max per
    // mention; the city rows match all three filters (boost 4.7, no
    // penalty), the university rows only extendedTypes (boost 1.2, ×0.1
    // for missing Q515), the "City" type row is LOC without Q515
    val out = Linker.lookup(spark, mentionsOf("Alderton", "City of Alderton"), index,
      LinkerConfig(limit = 50, nerTypes = Seq("LOC"), types = Seq("Q515"),
        extendedTypes = Seq("Q2221906"), softFiltering = true)).cache()
    val got = out.select("mention_norm", "id", "es_score", "rank")
      .as[(String, String, Double, Int)].collect()
      .map { case (m, id, es, r) => (m, id) -> (es, r) }.toMap
    val expected = Map(
      ("alderton", "Q100008") -> (1.0, 1),
      ("alderton", "Q100015") -> (0.042026898900696295, 3),
      ("city of alderton", "Q100028") -> (0.3967778802121931, 1),
      ("city of alderton", "Q100008") -> (1.0, 35),
      ("city of alderton", "Q100035") -> (0.01459463319087774, 33),
      ("city of alderton", "Q100015") -> (0.034574339947035564, 47),
      ("city of alderton", "Q515") -> (0.02385028315663386, 49))
    expected.foreach { case (k, (es, rank)) =>
      val (gotEs, gotRank) = got.getOrElse(k, fail(s"$k missing"))
      assert(math.abs(gotEs - es) < 1e-12 && gotRank == rank,
        s"$k: got ($gotEs, $gotRank), expected ($es, $rank)")
    }
    assert(got.keys.groupBy(_._1).map { case (m, ks) => m -> ks.size } ==
      Map("alderton" -> 2, "city of alderton" -> 48))
  }

  test("ambiguity_mention: exact-label share of distinct candidate ids (A5)") {
    val out = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 1000)).cache()
    val amb = out.select("ambiguity_mention").distinct().as[Double].head()
    val nIds = out.select("id").distinct().count().toDouble
    val nExact = out.filter(lower(col("name")) === "springfield")
      .select("id").distinct().count().toDouble
    assert(math.abs(amb - nExact / nIds) < 1e-9)
    val ct = out.select("corrects_tokens").distinct().as[Double].head()
    assert(ct == 1.0) // the token "springfield" appears in candidate labels
  }

  test("types enrichment: [{id, name}] structs with kind='type' labels (J5)") {
    val out = Linker.lookup(spark, mentionsOf("Alderton"), index,
      LinkerConfig(limit = 50)).cache()
    val typed = out.select(explode(col("types")).as("t"))
      .select(col("t.id").as("tid"), col("t.name").as("tname"))
      .as[(String, String)].collect()
    assert(typed.nonEmpty, "city candidates carry P31 types")
    // city entities are P31 Q515 whose label is "city" in the fixture KG
    val labels = items.filter(col("kind") === "type")
      .select(col("entity"), col("labels")("en")).as[(String, String)]
      .collect().toMap
    typed.foreach { case (tid, tname) =>
      assert(tname == labels.getOrElse(tid, tid),
        s"type $tid should be named ${labels.getOrElse(tid, tid)}, got $tname")
    }
    assert(typed.exists { case (tid, tname) => tname != tid },
      "at least one type id must resolve to a label")
  }

  test("forced ids (_check_ids): missing id appended with pos=es=1, rank after main") {
    val forced = items
      .filter(!lower(col("labels")("en")).contains("springfield") &&
        col("kind") === "entity")
      .select("entity").as[String].head()
    val base = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50)).cache()
    assert(!base.filter(col("id") === forced).isEmpty == false) // not in base
    val out = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, ids = Seq(forced))).cache()
    val row = out.filter(col("id") === forced).first()
    assert(row.getAs[Double]("pos_score") == 1.0)
    assert(row.getAs[Double]("es_score") == 1.0)
    val maxMain = base.agg(max("rank")).first().getInt(0)
    assert(row.getAs[Int]("rank") == maxMain + 1)
    // same 18-feature shape, real similarity features
    assert(row.getAs[Double]("ed_score") >= 0.0 && row.getAs[Double]("ed_score") <= 1.0)
    // an id already in the match set is NOT duplicated
    val present = base.orderBy(col("rank")).select("id").as[String].head()
    val out2 = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, ids = Seq(present)))
    assert(out2.filter(col("id") === present).count() == 1)
  }

  test("forced ids: one plan on every run, rows pinned") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // executed operators of every query of one lookup, by node name (codegen
    // stage ids dropped); a `range` query named `sentinel` marks the end of
    // a run, since the listener bus delivers events in order
    val events = new java.util.concurrent.LinkedBlockingQueue[Option[Map[String, Int]]]()
    def nodes(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.nodeName.replaceAll(" \\(\\d+\\)$", "") +:
        (other.children ++ other.subqueries).flatMap(nodes)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        events.put(if (qe.analyzed.output.map(_.name) == Seq("sentinel")) None
          else Some(nodes(qe.executedPlan).groupBy(identity).map { case (k, v) => k -> v.size }))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val absent = items.filter(!lower(col("labels")("en")).contains("springfield") &&
        col("kind") === "entity")
      .select("entity").as[String].take(2).toSeq
    val cfg = LinkerConfig(ids = absent.reverse :+ "Q100000")
    val ms = mentionsOf("Springfield", "Alderton", "Cora Ashford")
    spark.listenerManager.register(listener)
    val runs = try (1 to 5).map { _ =>
      val rows = Linker.lookup(spark, ms, index, cfg).collect().map(_.toString).sorted.toSeq
      spark.range(1).toDF("sentinel").collect()
      val ops = Iterator.continually(events.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && e.isDefined).flatMap(_.get)
        .foldLeft(Map.empty[String, Int]) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0) + n) }
      (rows, ops)
    } finally spark.listenerManager.unregister(listener)
    // the pinned rows: count and MD5 of the sorted rendered rows
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(runs.head._1.mkString("\n").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert((runs.head._1.size, digest) == (19, "d8acbdf8d0bd8e0132969e758b4ed25e"))
    assert(runs.map(_._1).distinct.size == 1, "rows differ between runs")
    assert(runs.map(_._2).distinct.size == 1,
      s"executed operators differ between runs: ${runs.map(_._2.get("Exchange"))}")
  }

  test("normalize_score=false denormalizes popularity and keeps raw es (F7)") {
    val norm = Linker.lookup(spark, mentionsOf("Alderton"), index,
      LinkerConfig(limit = 20)).cache()
    val denorm = Linker.lookup(spark, mentionsOf("Alderton"), index,
      LinkerConfig(limit = 20, normalizeScore = false)).cache()
    val maxPop = index.maxPopularity.get
    val n = norm.select("id", "popularity").as[(String, Double)].collect().toMap
    val d = denorm.select("id", "popularity").as[(String, Double)].collect().toMap
    n.foreach { case (id, p) => assert(math.abs(d(id) - p * maxPop) < 1e-9) }
    // raw es: per-mention max no longer forced to 1 (idf sums exceed 1 here)
    val maxEs = denorm.agg(max("es_score")).first().getDouble(0)
    assert(maxEs > 1.0)
  }

  test("fuzzy short-token fallback: zero-shared-gram edits are found (SymSpell deletes)") {
    // 'oak' → 'oxk' (lev 1, len 3: AUTO allows 1 edit) shares NO 3-gram;
    // 'throne' → 'thxonx' (lev 2, len 6) shares none either — both only
    // reachable through the delete-neighborhood join
    val mini = Seq(
      ("Q1", Map("en" -> "Oak"), "a tree"),
      ("Q2", Map("en" -> "Throne"), "a chair"),
      ("Q3", Map("en" -> "Maple"), "another tree")
    ).toDF("entity", "labels", "description")
      .withColumn("aliases", typedLit(Map.empty[String, Seq[String]]))
      .withColumn("ner_types", typedLit(Seq.empty[String]))
      .withColumn("p31", typedLit(Seq.empty[String]))
      .withColumn("p279", typedLit(Seq.empty[String]))
      .withColumn("explicit_types", typedLit(Seq.empty[String]))
      .withColumn("extended_types", typedLit(Seq.empty[String]))
      .withColumn("kind", lit("entity"))
      .withColumn("popularity", lit(1))
    val nm = NameIndex.names(mini)
    val idx2 = NameIndex.tables(mini, nm, NameIndex.postings(nm), NameIndex.postings3g(nm),
      NameIndex.postingsPair(nm))
    val out = Linker.lookup(spark, mentionsOf("Oxk", "Thxonx"), idx2,
      LinkerConfig(limit = 10, fuzzy = true)).cache()
    val found = out.select("mention_norm", "id").as[(String, String)].collect().toSet
    assert(found.contains(("oxk", "Q1")), s"got $found")
    assert(found.contains(("thxonx", "Q2")), s"got $found")
    // both phase-1 venues: the in-driver SymSpell and the distributed
    // delete join
    val (driver, dist) = expansionVenues(
      Linker.distinctMentions(mentionsOf("Oxk", "Thxonx")), idx2.postings3g, idx2.tokenStats.get)
    for (pair <- Seq(("oxk", "oak"), ("thxonx", "throne"))) {
      assert(driver.contains(pair), s"driver: $driver")
      assert(dist.contains(pair), s"distributed: $dist")
    }
    assert(driver == dist, s"paths diverge: $driver vs $dist")
  }

  test("forced ids append in REQUESTED order, not id order") {
    val absent = items
      .filter(!lower(col("labels")("en")).contains("springfield") &&
        col("kind") === "entity")
      .select("entity").as[String].take(2).toSeq
    // request in descending-id order — ranks must follow the request
    val req = absent.sorted.reverse
    val out = Linker.lookup(spark, mentionsOf("Springfield"), index,
      LinkerConfig(limit = 50, ids = req)).cache()
    val forcedRows = out.filter(col("id").isin(req: _*))
      .select("id", "rank").as[(String, Int)].collect().sortBy(_._2)
    assert(forcedRows.map(_._1).toSeq == req,
      s"ranks should follow requested order $req, got ${forcedRows.toSeq}")
  }

  test("fuzzy gram prune keeps repeat-gram pairs (driver ≡ distributed)") {
    // 'aaaaaaaaaa' vs 'aaaaaaaaab': lev=1, d=2, but only ONE distinct
    // shared 3-gram — a distinct-gram count would wrongly prune it; the
    // positional (multiset) bound keeps it. Verified on BOTH phase-1
    // paths: the in-driver SymSpell and the distributed gram+delete join.
    // 'a𝒳bcd' vs 'abcd': one edit in code points (d=1 at length 5), two
    // in UTF-16 units — both paths must count code points.
    val mini = Seq(
      ("Q1", Map("en" -> "aaaaaaaaaa"), "repeats"),
      ("Q2", Map("en" -> "bbbbbbcccc"), "control"),
      ("Q3", Map("en" -> "abcd"), "code points")
    ).toDF("entity", "labels", "description")
      .withColumn("aliases", typedLit(Map.empty[String, Seq[String]]))
      .withColumn("ner_types", typedLit(Seq.empty[String]))
      .withColumn("p31", typedLit(Seq.empty[String]))
      .withColumn("p279", typedLit(Seq.empty[String]))
      .withColumn("explicit_types", typedLit(Seq.empty[String]))
      .withColumn("extended_types", typedLit(Seq.empty[String]))
      .withColumn("kind", lit("entity"))
      .withColumn("popularity", lit(1))
    val nm = NameIndex.names(mini)
    val p3 = NameIndex.postings3g(nm)
    val tokenDf = NameIndex.tokenStats(NameIndex.postings(nm))
    val md = Linker.distinctMentions(mentionsOf("aaaaaaaaab", "bbbbbbccxc", "a𝒳bcd"))
    val (driver, dist) = expansionVenues(md, p3, tokenDf)
    assert(driver.contains(("aaaaaaaaab", "aaaaaaaaaa")), s"driver: $driver")
    assert(dist.contains(("aaaaaaaaab", "aaaaaaaaaa")), s"distributed: $dist")
    assert(driver.contains(("a𝒳bcd", "abcd")), s"driver: $driver")
    assert(dist.contains(("a𝒳bcd", "abcd")), s"distributed: $dist")
    assert(driver == dist, s"paths diverge: $driver vs $dist")
  }

  test("fuzzy expansions on a random vocabulary: driver ≡ distributed (non-BMP)") {
    // 1,500 tokens of 3-12 code points over an alphabet with a 2-byte and
    // a non-BMP character; mentions are vocab tokens with 1-2 random edits
    // or random tokens, so every length class meets both blockings
    val alphabet = "abcdeø𝒳".codePoints().toArray
    val rnd = new scala.util.Random(1500)
    def randomToken(len: Int): String =
      new String(Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))), 0, len)
    val vocab = Seq.fill(1500)(randomToken(3 + rnd.nextInt(10))).distinct
    def mutate(t: String): String = {
      val cps = t.codePoints().toArray.toBuffer
      (0 to rnd.nextInt(2)).foreach { _ =>
        val i = rnd.nextInt(cps.size)
        rnd.nextInt(3) match {
          case 0 => cps.remove(i)
          case 1 => cps.insert(i, alphabet(rnd.nextInt(alphabet.length)))
          case _ => cps(i) = alphabet(rnd.nextInt(alphabet.length))
        }
      }
      new String(cps.toArray, 0, cps.size)
    }
    val mentions = Seq.fill(700)(
      if (rnd.nextInt(4) == 0) randomToken(3 + rnd.nextInt(10))
      else mutate(vocab(rnd.nextInt(vocab.size))))
    val names = vocab.zipWithIndex.toDF("name_clean", "name_row_id")
      .withColumn("name_tokens", graft.core.Text.tokenSet(col("name_clean")))
    val p3 = NameIndex.postings3g(names).localCheckpoint()
    val tokenDf = NameIndex.tokenStats(NameIndex.postings(names)).localCheckpoint()
    val md = Linker.distinctMentions(mentions.toDF("mention_norm")).localCheckpoint()
    val (driver, dist) = expansionVenues(md, p3, tokenDf)
    assert(driver.size > 500, s"too few expansions to compare: ${driver.size}")
    assert(driver.exists { case (m, t) => m.contains("𝒳") && t.contains("𝒳") })
    assert(driver == dist,
      s"driver-only ${(driver -- dist).take(5)}, distributed-only ${(dist -- driver).take(5)}")
  }

  /** Two memoized runs and one re-run, each under the same memo key. */
  private def memoRoundTrip(): Unit = {
    val memoDir = java.nio.file.Files.createTempDirectory("linkmemo").toString + "/memo"
    val cfg = LinkerConfig(limit = 20, cutByRelevance = true, computeAmbiguity = false)
    val m1 = mentionsOf("Alderton", "Xqzj Vvkp")
    val first = Linker.linkTop1Memoized(spark, m1, index, cfg, 0.5, memoDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(first.nonEmpty, "Alderton must link")
    // run 2 over overlapping + new mentions, against the REAL names (so the
    // same index fingerprint and memo key) but EMPTY postings: nothing can
    // be generated, so the memoized mention can only resolve through the
    // memo — proof that candidate generation was skipped for it. The
    // no-link mention is memoized too (cached empty response) and must NOT
    // reappear.
    val emptyIdx = NameIndex.tables(items, index.names,
      index.postings.filter(lit(false)), index.postings3g.filter(lit(false)),
      index.postingsPair.get.filter(lit(false)))
    val m2 = mentionsOf("Alderton", "Xqzj Vvkp", "Springfield")
    val second = Linker.linkTop1Memoized(spark, m2, emptyIdx, cfg, 0.5, memoDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(second.get("alderton") == first.get("alderton"),
      s"memoized link must survive an index-free run: $second vs $first")
    assert(!second.contains("xqzj vvkp"))
    // determinism: re-running with the REAL index changes nothing
    val third = Linker.linkTop1Memoized(spark, m2, index, cfg, 0.5, memoDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(third.get("alderton") == first.get("alderton"))
  }

  test("persisted lookup memo: second run skips generation for memoized mentions") {
    // the memo tables are each read by two plans; beside a GC loop, a lazy
    // checkpoint of one shows as "non-existent accumulator" errors (not on
    // every run, hence 3 repetitions)
    val errors = schedulerErrorsUnderGc((1 to 3).foreach(_ => memoRoundTrip()))
      .filter(_.contains("non-existent accumulator"))
    assert(errors.isEmpty, s"${errors.size} accumulator errors, first: ${errors.take(1)}")
  }

  test("memo auto-invalidates when the index content changes") {
    val memoDir = java.nio.file.Files.createTempDirectory("linkmemo-inv")
      .toString + "/memo"
    val cfg = LinkerConfig(limit = 20, cutByRelevance = true, computeAmbiguity = false)
    val m = mentionsOf("Alderton")
    val first = Linker.linkTop1Memoized(spark, m, index, cfg, 0.5, memoDir)
      .collect()
    assert(first.nonEmpty, "Alderton must link on the original index")
    // a REBUILT (here: emptied) index has a different content fingerprint,
    // so the memoized row must be IGNORED — regeneration against the new
    // index finds nothing. (Pre-r4 the memo key covered only the config,
    // and this returned the stale link.)
    val emptyNames = index.names.filter(lit(false)).localCheckpoint(eager = false)
    val rebuilt = NameIndex.tables(items, emptyNames,
      index.postings.filter(lit(false)), index.postings3g.filter(lit(false)),
      index.postingsPair.get.filter(lit(false)))
    val second = Linker.linkTop1Memoized(spark, m, rebuilt, cfg, 0.5, memoDir)
      .collect()
    assert(second.isEmpty,
      s"stale memo rows served after an index rebuild: ${second.mkString}")
  }

  test("memo compaction: duplicates collapse, maxRows bounds the table") {
    val memoDir = java.nio.file.Files.createTempDirectory("linkmemo-cmp")
      .toString + "/memo"
    val cfg = LinkerConfig(limit = 20, cutByRelevance = true, computeAmbiguity = false)
    val m = mentionsOf("Alderton", "Springfield")
    // two runs under two DIFFERENT configs → two batch dirs, two cfg_keys
    Linker.linkTop1Memoized(spark, m, index, cfg, 0.5, memoDir).collect()
    Linker.linkTop1Memoized(spark, m, index, cfg.copy(limit = 10), 0.5, memoDir)
      .collect()
    val raw = spark.read.option("recursiveFileLookup", "true").parquet(memoDir)
    assert(raw.select("cfg_key").distinct().count() == 2)
    // materialize the expected count BEFORE the rewrite deletes raw's files
    val expected = raw.dropDuplicates("cfg_key", "mention_norm").count()
    val deduped = Linker.compactMemo(spark, memoDir)
    assert(deduped == expected)
    val bounded = Linker.compactMemo(spark, memoDir, maxRows = 1)
    assert(bounded == 1, s"compaction must bound the memo (got $bounded)")
    // a bounded memo only costs recomputation: the run still links
    val after = Linker.linkTop1Memoized(spark, m, index, cfg, 0.5, memoDir)
      .collect().map(_.getString(0)).toSet
    assert(after.contains("alderton"))
  }

  test("pipeline linking: a two-token mention with one edit in EVERY token links") {
    // Pipeline.run's linker config: minimum_should_match counts a fuzzy
    // expansion as a match, so a candidate reached only through
    // misspelled tokens still clears the two-token bound
    val cfg = Pipeline.LinkConfig
    val label = items.filter(col("entity") === "Q100173")
      .select(col("labels")("en")).first().getString(0)
    assert(label == "Borealis Industries", s"fixture drifted: $label")
    val links = Linker.linkTop1(spark, mentionsOf("Borelis Indusries"), index,
      cfg, Pipeline.MinLinkScore).collect()
    assert(links.map(_.getString(1)).toSeq == Seq("Q100173"), s"got: ${links.mkString(",")}")
  }

  test("memo key: changing any one LinkerConfig field changes it; Seqs by content") {
    val base = LinkerConfig()
    val variants = Seq(
      base.copy(limit = 7), base.copy(fuzzy = true), base.copy(kind = Some("entity")),
      base.copy(nerTypes = Seq("PERS")), base.copy(types = Seq("Q5")),
      base.copy(extendedTypes = Seq("Q5")), base.copy(language = Some("en")),
      base.copy(softFiltering = true),
      base.copy(hotTokenDf = 5L), base.copy(commonTokenDf = 9L),
      base.copy(minShouldMatch = true), base.copy(cutByRelevance = true),
      base.copy(computeAmbiguity = false), base.copy(ids = Seq("Q1")),
      base.copy(normalizeScore = false))
    // variant i changes field i alone, and the variants cover every field:
    // a field added to LinkerConfig fails here until it gets a variant
    def changed(c: LinkerConfig): Seq[Int] =
      c.productIterator.zip(base.productIterator).zipWithIndex
        .collect { case ((a, b), i) if a != b => i }.toSeq
    assert(variants.map(changed) == (0 until base.productArity).map(Seq(_)))
    val key = Linker.memoKey(base, 1.2, 7L)
    variants.zip(base.productElementNames.toSeq).foreach { case (v, field) =>
      assert(Linker.memoKey(v, 1.2, 7L) != key, s"changing $field kept the key")
    }
    assert(Linker.memoKey(base, 1.3, 7L) != key && Linker.memoKey(base, 1.2, 8L) != key)
    assert(Linker.memoKey(base.copy(ids = List("Q1", "Q2")), 1.2, 7L) ==
      Linker.memoKey(base.copy(ids = Vector("Q1", "Q2")), 1.2, 7L))
  }

  test("salting path yields identical candidates to the unsalted join") {
    // no index hot-token set, so each config's hotTokenDf picks the tokens
    val noHot = index.copy(hotTokens = None)
    def run(hotTokenDf: Long) = Linker.lookup(spark,
      mentionsOf("Alderton", "Springfield"), noHot,
      LinkerConfig(limit = 100, hotTokenDf = hotTokenDf))
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("mention_norm", "id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val (base, salted) = (run(Long.MaxValue), run(1L))
    assert(!plan(base).contains("salt"), plan(base))
    assert(plan(salted).contains("salt"), s"salt column missing from the plan:\n${plan(salted)}")
    assert(rows(base) == rows(salted))
  }
}
