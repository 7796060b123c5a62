package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stage-6 name index vs `scripts/indexing.py` semantics. */
class NameIndexSpec extends SparkSpec {
  import spark.implicits._

  private val N = 200
  private lazy val tables: StageOutputsLite = {
    val dump = Fixtures.dumpLines(spark, N)
    val parsed = ParseEntities.parse(dump)
    val claims = ParseEntities.claims(parsed)
    val objects = ParseEntities.objects(claims)
    val items = ParseEntities.items(parsed, claims,
      ParseEntities.subclassClosure(objects)).cache()
    StageOutputsLite(items, NameIndex.names(items).cache())
  }
  case class StageOutputsLite(items: org.apache.spark.sql.DataFrame,
                              names: org.apache.spark.sql.DataFrame)

  test("dotAbbreviations matches the reference generator (indexing.py:50-66)") {
    val got = Seq("John Fitzgerald Kennedy").toDF("n")
      .select(NameIndex.dotAbbreviations(col("n"))).first()
      .getSeq[String](0)
    assert(got.toSeq == Seq("J. Fitzgerald Kennedy", "J. F. Kennedy"))
    // 2-token
    val got2 = Seq("Cora Ashford").toDF("n")
      .select(NameIndex.dotAbbreviations(col("n"))).first().getSeq[String](0)
    assert(got2.toSeq == Seq("C. Ashford"))
    // 1-token → none
    val got1 = Seq("Cher").toDF("n")
      .select(NameIndex.dotAbbreviations(col("n"))).first().getSeq[String](0)
    assert(got1.isEmpty)
  }

  test("PERS entities get abbreviation alias rows; label wins over alias") {
    val p0 = tables.names.filter(col("id") === "Q100000").cache()
    val label = tables.items.filter(col("entity") === "Q100000")
      .select(col("labels")("en")).first().getString(0)
    // label row present, not alias
    val labelRow = p0.filter(col("name") === label).collect()
    assert(labelRow.length == 1 && !labelRow.head.getAs[Boolean]("is_alias"))
    // abbreviation rows present as aliases (3-token name → 2 abbrevs)
    val abbrevs = p0.filter(col("is_alias")).select("name").as[String].collect().toSet
    assert(Fixtures.dotAbbrevs(label).toSet.subsetOf(abbrevs))
  }

  test("popularity_norm = round(pop/max_pop, 2) (indexing.py:266-270)") {
    val maxPop = tables.items.agg(max("popularity")).first().getInt(0).toDouble
    val rows = tables.names.select(col("id"), col("popularity_norm")).distinct()
      .join(tables.items.select(col("entity").as("id"), col("popularity")), Seq("id"))
      .as[(String, Double, Int)].collect()
    rows.foreach { case (_, norm, pop) =>
      assert(math.abs(norm - math.rint(pop / maxPop * 100) / 100) < 1e-9)
    }
    assert(rows.exists(_._2 == 1.0)) // the max-popularity entity
  }

  test("ntoken/length computed on the original-cased name (indexing.py:330-336)") {
    val r = tables.names.filter(col("id") === "Q100015" && !col("is_alias")).first()
    val name = r.getAs[String]("name") // "University of <city>"
    assert(r.getAs[Int]("ntoken") == name.split(" ").length)
    assert(r.getAs[Int]("length") == name.length)
  }

  test("postings: one row per (token, name_row); 3-gram postings cover fuzzies") {
    val p = NameIndex.postings(tables.names)
    assert(p.count() == p.distinct().count())
    // city "Springfield"-free small-N world: check a known token resolves
    val tok = p.join(tables.names, Seq("name_row_id"))
      .filter(col("token") === "university").select("id").distinct().count()
    assert(tok >= 1)
    val p3 = NameIndex.postings3g(tables.names)
    assert(p3.filter(col("gram") === "uni").count() >= 1)
  }

  test("types_text = P31 ++ P279 space-joined (indexing.py:263-264)") {
    val t = tables.names.filter(col("id") === "Q515").select("types_text")
      .distinct().as[String].head()
    assert(t == "Q486972") // City has only P279 Q486972
    val c = tables.names.filter(col("id") === "Q100008").select("types_text")
      .distinct().as[String].head()
    assert(c == "Q515")
  }
}
