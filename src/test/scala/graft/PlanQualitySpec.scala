package graft

import graft.kg._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan assertions — the plans we ship are the plans we want
  * (broadcasts where a side is small, pushdown reaching the scan, wide
  * whole-stage-codegen spans), not just the first plan that passed. */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("retrieval $in joins broadcast the request-id side (J1)") {
    val items = Fixtures.dumpLines(spark, 50)
      .transform(ParseEntities.parse)
      .select(col("e.id").as("entity"), lit(Array("Q5")).as("p31"),
        lit(Array.empty[String]).as("p279"))
    val plan = planOf(Retrieval.getTypes(items, Seq("Q100000").toDF("entity")))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join:\n$plan")
  }

  test("parquet scan gets filter pushdown + column pruning") {
    val dir = Files.createTempDirectory("plan-pq").toString
    Fixtures.pages(spark, 50, 100).write.parquet(s"$dir/pages")
    val q = spark.read.parquet(s"$dir/pages")
      .filter(col("lang") === "en").select("url", "lang")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<url:string,lang:string>"),
      s"columns not pruned:\n$scan")
  }

  test("extraction + detection stay in one codegen'd narrow stage") {
    // over a parquet-backed table (the production shape) — the generator's
    // typed map would split the span in-memory
    val dir = Files.createTempDirectory("plan-ex").toString
    Fixtures.pages(spark, 20, 50).write.parquet(s"$dir/pages")
    val df = spark.read.parquet(s"$dir/pages")
      .select(col("url"), ExtractText.extract(col("html")).as("t"))
    val plan = planOf(df)
    // "*(n)" prefixes mark whole-stage-codegen'd operators in toString
    assert(plan.contains("*(1) Project"), s"extraction Project not codegen'd:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("salted candidate join exchanges on (token, salt), not token alone") {
    val names = Seq(("Q1", "alpha beta", 1L), ("Q2", "alpha gamma", 2L))
      .toDF("id", "name_clean", "name_row_id")
      .withColumn("name_tokens", graft.core.Text.tokenSet(col("name_clean")))
    val postings = NameIndex.postings(names)
    val mentions = Seq("alpha beta").toDF("surface")
      .select(graft.core.Text.cleanStr(col("surface")).as("mention_norm"))
    val mentionsD = Linker.distinctMentions(mentions)
    val tokenDf = postings.groupBy("token").agg(count(lit(1)).as("df"))
    val salted = Linker.exactTokenMatches(spark, mentionsD, postings, tokenDf,
      commonDf = 100, cfg = LinkerConfig(hotTokenDf = 1L))
    val plan = planOf(salted)
    assert(plan.contains("salt"), s"salt column missing from join plan:\n$plan")
  }

  test("flagship lookup plan: no cartesian products, no driver collects") {
    val dump = Fixtures.dumpLines(spark, 100)
    val parsed = ParseEntities.parse(dump)
    val claims = ParseEntities.claims(parsed)
    val objects = ParseEntities.objects(claims)
    val items = ParseEntities.items(parsed, claims, ParseEntities.subclassClosure(objects))
    val names = NameIndex.names(items)
    val idx = NameIndex.tables(items, names, NameIndex.postings(names),
      NameIndex.postings3g(names), NameIndex.postingsPair(names))
    val out = Linker.lookup(spark, Seq("alderton").toDF("mention_norm"), idx,
      LinkerConfig(limit = 10))
    val plan = planOf(out)
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }

  test("precomputed pairStats remove the pair-table re-aggregation from the linking plan") {
    val items = Seq(("Q1", "garen ashford"), ("Q2", "lina ashford"))
      .toDF("entity", "name")
      .select(col("entity"), lit("e").as("kind"), map(lit("en"), col("name")).as("labels"),
        lit(1L).as("popularity"))
    val names = Seq(("Q1", "garen ashford", "e"), ("Q2", "lina ashford", "e"))
      .toDF("id", "name_clean", "kind")
      .withColumn("name_tokens", graft.core.Text.tokenSet(col("name_clean")))
      .withColumn("name_row_id", monotonically_increasing_id())
      .withColumn("ner_type", lit("PERS"))
      .withColumn("explicit_types", typedLit(Seq.empty[String]))
      .withColumn("extended_types", typedLit(Seq.empty[String]))
      .withColumn("languages", typedLit(Seq("en")))
      .withColumn("popularity_norm", lit(0.5))
      .withColumn("name", col("name_clean"))
      .withColumn("description", lit(""))
      .withColumn("types_text", lit(""))
      .withColumn("ntoken", lit(2)).withColumn("length", lit(10))
      .withColumn("name_grams", graft.core.Text.ngramSet(col("name_clean"), 3))
    val dir = Files.createTempDirectory("plan-pair").toString
    NameIndex.postingsPair(names).write.parquet(s"$dir/pp")
    val pairTable = spark.read.parquet(s"$dir/pp")
    val mentions = Seq("garen ashford").toDF("mention_norm")
    val cfg = LinkerConfig(minShouldMatch = true, cutByRelevance = true,
      computeAmbiguity = false)
    val idx = NameIndex.tables(items, names, NameIndex.postings(names),
      NameIndex.postings3g(names), pairTable)
    val plan = planOf(Linker.linkTop1(spark, mentions, idx, cfg, 0.0))
    val withStats = s"$dir/pp".r.findAllIn(plan).size
    assert(withStats == 1,
      s"pair table should be scanned exactly once with precomputed stats: $withStats")
  }

  test("bucketed postings table joins with NO exchange on the index side") {
    // The cluster-scale design (NameIndex scaladoc): persist the posting
    // tables bucketed by token so repeated linking runs shuffle only the
    // mention side. No persistent metastore in this sandbox, so the shape
    // is proven with a session-local bucketed saveAsTable: the second
    // (and every later) join must plan exactly ONE Exchange — the mention
    // side — while the bucketed index side is scanned shuffle-free.
    val names = Seq(("Q1", "alpha beta", 1L), ("Q2", "gamma beta", 2L))
      .toDF("id", "name_clean", "name_row_id")
      .withColumn("name_tokens", graft.core.Text.tokenSet(col("name_clean")))
    val dir = Files.createTempDirectory("plan-bucket").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force SMJ
      NameIndex.postings(names).write
        .bucketBy(8, "token").sortBy("token")
        .option("path", s"$dir/postings_bkt")
        .saveAsTable("postings_bkt")
      NameIndex.postings(names).write.parquet(s"$dir/postings_plain")
      val mentions = Linker.distinctMentions(Seq("alpha", "beta gamma").toDF("mention_norm"))
        .select(col("mention_norm"), explode(col("mention_tokens")).as("token"))
      def exchangesOf(index: org.apache.spark.sql.DataFrame): (Int, String) = {
        val plan = planOf(mentions.join(index, Seq("token"))
          .select("mention_norm", "name_row_id"))
        ("Exchange".r.findAllIn(plan).size, plan)
      }
      val (exPlain, _) = exchangesOf(spark.read.parquet(s"$dir/postings_plain"))
      val (exBkt, planBkt) = exchangesOf(spark.table("postings_bkt"))
      assert(planBkt.contains("SortMergeJoin"), s"expected a sort-merge join:\n$planBkt")
      // plain: mention-side distinct + mention join side + INDEX join side;
      // bucketed: the index-side Exchange disappears — the scan's bucket
      // layout already satisfies the join's distribution requirement
      assert(exBkt == exPlain - 1,
        s"bucketed index side must not re-shuffle (plain=$exPlain, bucketed=$exBkt):\n$planBkt")
      assert(planBkt.contains("SelectedBucketsCount") || planBkt.contains("Bucketed: true"),
        s"scan should be bucket-aware:\n$planBkt")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS postings_bkt")
    }
  }

  /** HintErrorLogger WARN messages logged while `body` runs. */
  private def hintWarnings(body: => Unit): Seq[String] =
    capturedLogs("org.apache.spark.sql.catalyst.analysis.HintErrorLogger",
      org.apache.logging.log4j.Level.WARN)(body)

  test("linking leaves no broadcast hint outside a join (no HintErrorLogger WARN)") {
    assert(hintWarnings(broadcast(spark.range(3)).count()).nonEmpty,
      "the capture must see a stray hint")
    val dump = Fixtures.dumpLines(spark, 200)
    val parsed = ParseEntities.parse(dump)
    val claims = ParseEntities.claims(parsed)
    val objects = ParseEntities.objects(claims)
    val items = ParseEntities.items(parsed, claims, ParseEntities.subclassClosure(objects))
    val names = NameIndex.names(items).localCheckpoint(eager = true)
    val idx = NameIndex.tables(items, names, NameIndex.postings(names),
      NameIndex.postings3g(names), NameIndex.postingsPair(names))
    val mentions = Seq("borelis indusries", "alderton").toDF("mention_norm")
    val cfg = Pipeline.LinkConfig
    val warnings = hintWarnings {
      Linker.linkTop1(spark, mentions, idx, cfg, Pipeline.MinLinkScore).collect()
      Linker.fuzzyExpansions(Linker.distinctMentions(mentions), idx.postings3g,
        idx.tokenStats.get, cfg).count()
    }
    assert(warnings.isEmpty, s"stray hints:\n${warnings.mkString("\n")}")
  }

  test("triple extraction plan: endpoint semi-joins guard the pair product") {
    val links = Seq(("p1", "Q1"), ("p1", "Q2"), ("p1", "Q9"))
      .toDF("url", "qid")
    val kg = Seq(("Q1", "P17", "Q2")).toDF("subj", "pred", "obj")
    val plan = planOf(Triples.extract(links, kg))
    assert(plan.contains("LeftSemi"),
      s"endpoint semi-joins missing before the per-page pair join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }
}
