package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stage-3 parsing vs the `parse_data` semantics
  * (`scripts/parse_wikidata_dump_parallel.py:942-1106`), driven by the
  * synthetic dump fixtures. */
class ParseEntitiesSpec extends SparkSpec {
  import spark.implicits._

  private val N = 200
  private lazy val dump = Fixtures.dumpLines(spark, N)
  private lazy val parsed = ParseEntities.parse(dump).cache()
  private lazy val claims = ParseEntities.claims(parsed).cache()
  private lazy val objects = ParseEntities.objects(claims).cache()
  private lazy val literals = ParseEntities.literals(claims).cache()
  private lazy val closure = ParseEntities.subclassClosure(objects).cache()
  private lazy val items = ParseEntities.items(parsed, claims, closure).cache()

  test("every dump line parses (no nulls from the variant schema)") {
    assert(parsed.count() ==
      Fixtures.Classes.size + Fixtures.Predicates.size + Fixtures.Countries.size + N)
  }

  test("objects: wikibase-item claims → (subj, pred, obj)") {
    // country claim of the first city entity (slot 8): P17 → its country
    val cityRows = objects.filter(col("subj") === "Q100008" && col("pred") === "P17")
      .select("obj").as[String].collect()
    assert(cityRows.length == 1 && cityRows.head.startsWith("Q200"))
    // P279 edges from the taxonomy are present
    assert(objects.filter(col("pred") === "P279" && col("subj") === "Q515" &&
      col("obj") === "Q486972").count() == 1)
  }

  test("literals: datatype taxonomy + get_value extraction (F13)") {
    val cityLits = literals.filter(col("subj") === "Q100008").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    // globe-coordinate → "lat,lon" string, NUMBER for quantity amount
    assert(cityLits.exists { case (p, v, d) =>
      p == "P625" && d == "STRING" && v.matches("[0-9.]+,[0-9.]+") })
    assert(cityLits.exists { case (p, v, d) =>
      p == "P1082" && d == "NUMBER" && v.startsWith("+") })
    // person: time datatype → DATETIME, raw "+19xx-…" kept as string
    val person = literals.filter(col("subj") === "Q100000" && col("pred") === "P569")
      .select("value", "datatype").as[(String, String)].collect()
    assert(person.length == 1 && person.head._2 == "DATETIME" &&
      person.head._1.startsWith("+19") && person.head._1.endsWith("Z"))
    // external-id → STRING via bare-string variant extraction
    val xid = literals.filter(col("subj") === "Q100000" && col("pred") === "P214")
      .select("value").as[String].collect()
    assert(xid.sameElements(Array("xid-0")))
  }

  test("skip rules: no-datavalue snaks and skip datatypes are dropped") {
    // Specimen entities carry P997/P998/P999 odd claims — none may survive
    assert(claims.filter(col("pid").isin("P997", "P998", "P999")).count() == 0)
    // but their geo-shape / math / musical-notation / tabular-data literals do
    val spec = literals.join(items.filter(col("kind") === "entity")
      .filter(col("description") === "chain instance with odd claims")
      .select(col("entity").as("subj")), Seq("subj"))
    assert(spec.select("datatype").distinct().as[String].collect().toSet ==
      Set("GEOSHAPE", "MATH", "MUSICAL_NOTATION", "TABULAR_DATA"))
  }

  test("kind precedence: type > predicate > disambiguation > entity") {
    val kinds = items.select("entity", "kind").as[(String, String)].collect().toMap
    assert(kinds("Q515") == "type")        // has P279
    assert(kinds("P31") == "predicate")
    assert(kinds("Q100000") == "entity")   // person
    val disambig = items.filter(col("kind") === "disambiguation")
      .select("entity").as[String].collect()
    assert(disambig.nonEmpty) // the planted Q4167410 instances
  }

  test("popularity = max(#sitelinks, 1)") {
    val pops = items.select("entity", "popularity").as[(String, Int)].collect().toMap
    assert(pops("Q2001") == 8)   // countries: 8 sitelinks
    assert(pops.values.forall(_ >= 1)) // 0-sitelink entities floor to 1
  }

  test("ner_types via seed trees: PERS / LOC / ORG / OTHERS") {
    val ner = items.select("entity", "ner_types").as[(String, Seq[String])]
      .collect().toMap
    assert(ner("Q100000") == Seq("PERS"))        // P31 Q5
    assert(ner("Q100008") == Seq("LOC"))         // city under geo tree
    assert(ner("Q100012") == Seq("ORG"))         // business under org tree
    assert(ner("Q2001") == Seq("LOC"))           // country: subtracted from ORG, still geo
    // university: edInst subtracted from geo tree → ORG only
    assert(ner("Q100015") == Seq("ORG"))
    // dish: food subtracted from geo → OTHERS
    assert(ner("Q100018") == Seq("OTHERS"))
  }

  test("extended_types = explicit ∪ ancestors via closure") {
    val ext = items.filter(col("entity") === "Q100008")
      .select("extended_types").as[Seq[String]].head()
    assert(ext.contains("Q515") && ext.contains("Q486972") &&
      ext.contains("Q2221906") && ext.contains("Q35120"))
  }

  test("urls: enwiki title with underscores; wikidata url always present") {
    val u = items.filter(col("entity") === "Q100000")
      .select("urls.wikidata", "urls.wikipedia").as[(String, String)].head()
    assert(u._1 == "https://www.wikidata.org/wiki/Q100000")
    assert(u._2.startsWith("https://en.wikipedia.org/wiki/") && !u._2.contains(" "))
  }

  test("items golden: kind, ner_types order and type lists per entity") {
    // (kind, ner_types, p31, p279, explicit_types, extended_types) of the
    // fixture dump's entities: every kind, two-class ner_types in claim order
    val expected = Map(
      "Q515" -> ("type", Seq("LOC"), Seq(), Seq("Q486972"), Seq("Q486972"),
        Seq("Q2221906", "Q35120", "Q486972")),
      "Q2385804" -> ("type", Seq("ORG", "LOC"), Seq(), Seq("Q2221906", "Q43229"),
        Seq("Q2221906", "Q43229"), Seq("Q2221906", "Q35120", "Q43229")),
      "Q9101" -> ("type", Seq("OTHERS"), Seq(), Seq("Q9102", "Q9103"),
        Seq("Q9102", "Q9103"), Seq("Q35120", "Q9102", "Q9103", "Q9104")),
      "P31" -> ("predicate", Seq(), Seq(), Seq(), Seq(), Seq()),
      "Q100039" -> ("disambiguation", Seq("OTHERS"), Seq("Q4167410"), Seq(),
        Seq("Q4167410"), Seq("Q35120", "Q4167410")),
      "Q100000" -> ("entity", Seq("PERS"), Seq("Q5"), Seq(), Seq("Q5"), Seq("Q35120", "Q5")),
      "Q100008" -> ("entity", Seq("LOC"), Seq("Q515"), Seq(), Seq("Q515"),
        Seq("Q2221906", "Q35120", "Q486972", "Q515")),
      "Q100012" -> ("entity", Seq("ORG"), Seq("Q4830453"), Seq(), Seq("Q4830453"),
        Seq("Q35120", "Q43229", "Q4830453")),
      "Q100015" -> ("entity", Seq("ORG"), Seq("Q3918"), Seq(), Seq("Q3918"),
        Seq("Q2221906", "Q2385804", "Q35120", "Q3918", "Q43229")),
      "Q100018" -> ("entity", Seq("OTHERS"), Seq("Q746549"), Seq(), Seq("Q746549"),
        Seq("Q2095", "Q35120", "Q746549")),
      "Q2001" -> ("entity", Seq("LOC"), Seq("Q6256"), Seq(), Seq("Q6256"),
        Seq("Q2221906", "Q35120", "Q6256")))
    val got = items.filter(col("entity").isin(expected.keys.toSeq: _*))
      .select("entity", "kind", "ner_types", "p31", "p279", "explicit_types",
        "extended_types")
      .as[(String, String, Seq[String], Seq[String], Seq[String], Seq[String], Seq[String])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6, r._7)).toMap
    assert(got == expected)
  }

  test("NerSeeds.seeds equals the tree minus subtracted-trees definition") {
    // the reference definition: tree(root) = descendants ∪ root; a seed set
    // is its root's tree left-anti the union of its overlap roots' trees
    def tree(cl: org.apache.spark.sql.DataFrame, root: String) =
      cl.filter(col("ancestor") === root).select(col("child").as("qid"))
        .union(Seq(root).toDF("qid")).distinct()
    def subtracted(cl: org.apache.spark.sql.DataFrame, root: String, minus: Seq[String]) =
      tree(cl, root).join(minus.map(tree(cl, _)).reduce(_ union _).distinct(),
        Seq("qid"), "left_anti")
    def check(cl: org.apache.spark.sql.DataFrame): Unit = {
      val seeds = NerSeeds.seeds(cl)
      def set(c: String) = seeds.filter(col(c)).select("qid").as[String].collect().toSet
      def ref(root: String, minus: Seq[String]) =
        subtracted(cl, root, minus).as[String].collect().toSet
      assert(set("is_geo") == ref(NerSeeds.GeoRoot, NerSeeds.GeoSubtract))
      assert(set("is_org") == ref(NerSeeds.OrgRoot, NerSeeds.OrgSubtract))
      assert(seeds.count() == (set("is_geo") ++ set("is_org")).size) // one row per qid
    }
    // synthetic: neither root is the child of any closure row (each reaches
    // its set through its self-row only); X1 is under the geo root and
    // under a geo subtract root (food); X2 under both roots; X3 under both
    // roots and an org subtract root (country); X4 under neither root
    check(Seq(
      ("Q2095", NerSeeds.GeoRoot), ("X1", "Q2095"), ("X1", NerSeeds.GeoRoot),
      ("X2", NerSeeds.GeoRoot), ("X2", NerSeeds.OrgRoot),
      ("Q6256", NerSeeds.GeoRoot), ("X3", "Q6256"), ("X3", NerSeeds.GeoRoot),
      ("X3", NerSeeds.OrgRoot), ("X4", "Q35120")).toDF("child", "ancestor"))
    check(closure)
  }

  test("closure: chain depth 5, diamond, cycle all terminate correctly") {
    val cl = closure.as[(String, String)].collect().toSet
    assert(cl.contains(("Q9001", "Q9005")))       // chain transitively closed
    assert(cl.contains(("Q9001", "Q35120")))
    assert(cl.contains(("Q9101", "Q9104")))       // diamond both paths
    assert(cl.contains(("Q9201", "Q9201")))       // cycle closes on itself
    assert(cl.contains(("Q9201", "Q9202")) && cl.contains(("Q9202", "Q9201")))
  }
}
