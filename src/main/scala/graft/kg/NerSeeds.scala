package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage 5 — ORG / LOC seed sets for NER-type classification.
  *
  * The reference fetches these trees over SPARQL (`wdt:P279*` from root
  * QIDs) and subtracts overlap trees
  * (`scripts/parse_wikidata_dump_parallel.py:1135-1183`). We derive the
  * identical sets from our own materialized P279 closure — no network, and
  * the set-difference (T1) becomes a filter on one aggregation.
  */
object NerSeeds {

  val OrgRoot = "Q43229" // organization
  val OrgSubtract: Seq[String] = Seq(
    "Q6256",     // country
    "Q515",      // city
    "Q5119",     // capital
    "Q15916867", // administrative territory
    "Q17350442", // family
    "Q623109",   // sports league
    "Q8436"      // venue
  )

  val GeoRoot = "Q2221906" // geographic location
  val GeoSubtract: Seq[String] = Seq(
    "Q2095",    // food
    "Q2385804", // educational institution
    "Q327333",  // government agency
    "Q484652",  // international organization
    "Q12143"    // time zone
  )

  /** The LOC/ORG seed table `(qid, is_geo, is_org)`: one row per QID in
    * the geolocation or the organization seed set. A seed set is the P279*
    * tree under its root (descendants ∪ root, the SPARQL
    * `backward_properties=[279]` tree query) minus the trees under its
    * overlap roots: organization_subclass minus seven (:1155-1164),
    * geolocation_subclass minus five (:1167-1182). One filtered
    * aggregation over the closure; the roots' self-rows put a root that is
    * absent from the closure in its own tree. */
  def seeds(closure: DataFrame): DataFrame = {
    val spark = closure.sparkSession
    import spark.implicits._
    val roots = (Seq(GeoRoot, OrgRoot) ++ GeoSubtract ++ OrgSubtract).distinct
    def under(rs: Seq[String]) = bool_or(col("ancestor").isin(rs: _*))
    closure.select("child", "ancestor").filter(col("ancestor").isin(roots: _*))
      .union(roots.toDF("child").select(col("child"), col("child").as("ancestor")))
      .groupBy(col("child").as("qid"))
      .agg((under(Seq(GeoRoot)) && !under(GeoSubtract)).as("is_geo"),
        (under(Seq(OrgRoot)) && !under(OrgSubtract)).as("is_org"))
      .filter(col("is_geo") || col("is_org"))
  }
}
