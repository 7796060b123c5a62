package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Entity-endpoint parity (J1 family + J2 + J10 + A13) — fixtures per
  * FIXTURES.md §6, incl. unknown ids ⇒ absent keys. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val N = 200
  private lazy val world = {
    val dump = Fixtures.dumpLines(spark, N)
    val parsed = ParseEntities.parse(dump)
    val claims = ParseEntities.claims(parsed)
    val objects = ParseEntities.objects(claims).cache()
    val literals = ParseEntities.literals(claims).cache()
    val items = ParseEntities.items(parsed, claims,
      ParseEntities.subclassClosure(objects)).cache()
    (items, objects, literals)
  }
  private lazy val (items, objects, literals) = world

  private def ids(xs: String*) = xs.toSeq.toDF("entity")

  test("getTypes: requested entities only; unknown ids absent") {
    val out = Retrieval.getTypes(items, ids("Q100008", "Q999999")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("entity") == "Q100008")
    assert(out.head.getAs[scala.collection.Seq[String]]("p31").toSeq == Seq("Q515"))
  }

  test("getObjects re-nests {obj -> [preds]} like the Mongo doc") {
    val out = Retrieval.getObjects(objects, ids("Q100008")).collect()
    assert(out.length == 1)
    val m = out.head.getAs[Map[String, scala.collection.Seq[String]]]("objects")
    assert(m.exists { case (obj, preds) => obj.startsWith("Q200") && preds.toSeq == Seq("P17") })
  }

  test("getLiterals two-level nesting {DATATYPE -> {pred -> [values]}}") {
    val out = Retrieval.getLiterals(literals, ids("Q100008")).collect()
    assert(out.length == 1)
    val m = out.head.getAs[Map[String, Map[String, scala.collection.Seq[String]]]]("literals")
    assert(m.contains("STRING") && m("STRING").contains("P625"))
    assert(m.contains("NUMBER") && m("NUMBER")("P1082").head.startsWith("+"))
  }

  test("getPredicates: per-pair predicate list (J2)") {
    val pairs = Seq(("Q100008", objects.filter(col("subj") === "Q100008" &&
      col("pred") === "P17").select("obj").as[String].head())).toDF("subj", "obj")
    val out = Retrieval.getPredicates(objects, pairs).collect()
    assert(out.length == 1 && out.head.getAs[scala.collection.Seq[String]]("predicates").toSeq == Seq("P17"))
    // non-adjacent pair → no row
    val none = Retrieval.getPredicates(objects,
      Seq(("Q100008", "Q100009")).toDF("subj", "obj"))
    assert(none.count() == 0)
  }

  test("getSameas + getLabels shapes") {
    val s = Retrieval.getSameas(items, ids("Q100000")).first()
    assert(s.getAs[String]("wikidata").endsWith("Q100000"))
    val l = Retrieval.getLabels(items, ids("Q100000")).first()
    assert(l.getAs[Map[String, String]]("labels").contains("en"))
  }

  test("bow: overlap score |text∩bow| / |text| (bow_retriever.py:134-141)") {
    val bow = Retrieval.entityBow(items)
    val label = items.filter(col("entity") === "Q100008")
      .select(col("labels")("en")).as[String].head()
    val texts = Seq(("Q100008", s"once $label appeared nowhere")).toDF("entity", "text")
    val out = Retrieval.getBowScores(bow, texts).first()
    // text bow tokens: {alderton, appeared, nowhere} ("once" is an NLTK
    // stopword); overlap = the label token → 1/3
    assert(math.abs(out.getAs[Double]("bow_score") - 1.0 / 3.0) < 1e-9)
  }

  test("bow: possessives keep the stem (PTB contraction split approximation)") {
    // NLTK word_tokenize splits "world's" → ["world", "'s"]; the
    // reference's isalnum filter then keeps "world". Apostrophe-as-
    // boundary reproduces that; "don't" → don/t (both stopwords) → gone.
    import graft.core.Text
    val out = Seq("the world's don't Zanzibar").toDF("s")
      .select(Text.bowTokens(col("s")).as("b")).as[Seq[String]].head()
    assert(out == Seq("world", "zanzibar"), s"got $out")
  }

  test("summary: top-k predicates by count, asc and desc (A13)") {
    val desc5 = Retrieval.summary(objects, 5).as[(String, Long)].collect()
    assert(desc5.length == 5)
    assert(desc5.map(_._2).toSeq == desc5.map(_._2).sortBy(-_).toSeq)
    val asc1 = Retrieval.summary(objects, 1, asc = true).first()
    assert(asc1.getLong(1) <= desc5.last._2)
  }

  test("columnAnalysis: NE/LIT taxonomy per column (column_analysis.py:58-73)") {
    val cells = Seq(
      ("c1", "2021-01-02"), ("c1", "1999-12-31"), ("c1", "not a date"),
      ("c2", "12"), ("c2", "3.4"), ("c2", "56"),
      ("c3", "Alderton"), ("c3", "Springfield"), ("c3", "nowhere town"),
      ("c4", "plain words"), ("c4", "more words"), ("c4", "12")
    ).toDF("col_id", "value")
    val gaz = Seq(("alderton", "LOC"), ("springfield", "LOC"))
      .toDF("name_clean", "ner_type")
    val out = Retrieval.columnAnalysis(cells, Some(gaz)).collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    assert(out("c1") == ("LIT", "DATE", "DATE"))
    assert(out("c2") == ("LIT", "NUMBER", "NUMBER"))
    assert(out("c3") == ("NE", "LOCATION", "LOCATION"))
    assert(out("c4") == ("LIT", "STRING", "STRING"))
    // without a gazetteer every column is LIT
    val noGaz = Retrieval.columnAnalysis(cells).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(noGaz("c3") == "LIT")
  }

  test("getLabels envelope: kind/NERtype/url/description + lang narrowing") {
    val l = Retrieval.getLabels(items, ids("Q100000"), lang = Some("en")).first()
    assert(l.getAs[String]("url") == "https://www.wikidata.org/wiki/Q100000")
    assert(l.getAs[String]("kind") != null)
    assert(l.getAs[Map[String, String]]("labels").keySet == Set("en"))
    // category narrowing on kind
    val none = Retrieval.getLabels(items, ids("Q100000"), category = Some("type"))
    assert(none.count() == 0 ||
      none.select("kind").as[String].collect().forall(_ == "type"))
  }

  test("scoped summaries: per-entity rows, entity $in narrowing, asc/desc") {
    val all = Retrieval.objectsSummary(objects, None, k = 5)
      .as[(String, String, Long)].collect()
    assert(all.length == 5)
    assert(all.map(_._3).toSeq == all.map(_._3).sortBy(-_).toSeq)
    val scoped = Retrieval.objectsSummary(objects, Some(ids("Q100008")), k = 10)
      .as[(String, String, Long)].collect()
    assert(scoped.nonEmpty && scoped.forall(_._1 == "Q100008"))
    val lits = Retrieval.literalsSummary(literals, Some(ids("Q100008")), k = 3, asc = true)
      .as[(String, String, Long)].collect()
    assert(lits.forall(_._1 == "Q100008"))
    assert(lits.map(_._3).toSeq == lits.map(_._3).sorted.toSeq)
  }

  test("classifyMentions: gazetteer majority NERtype, OTHERS fallback (N1)") {
    val mentions = Seq("alderton", "unknown thing").toDF("mention_norm")
    val gaz = Seq(("alderton", "LOC"), ("alderton", "LOC"), ("alderton", "ORG"))
      .toDF("name_clean", "ner_type")
    val out = DetectMentions.classifyMentions(mentions, gaz).collect()
      .map(r => (r.getString(0), r.getAs[String]("ner_class"))).toMap
    assert(out("alderton") == "LOC")   // majority 2-1
    assert(out("unknown thing") == "OTHERS")
  }
}
