package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stages 10-11 — canonicalization + triple materialization.
  *
  * Canonicalization (north rule; no reference counterpart — the reference
  * dedups per entity id only, A7): equivalence edges (P460 "said to be the
  * same as" / sameas links) → connected components → every linked QID
  * replaced by its component's min QID (deterministic lexicographic-on-
  * (length,value) QID order = numeric order for equal-width ids; we order
  * by (length(qid), qid) so Q99 < Q100).
  *
  * Triple emission (distant-supervision form): for every page, the pairs
  * of canonicalized entities linked on that page are joined against the
  * KG edge table `objects(subj, pred, obj)`; a KG edge between two
  * co-mentioned entities is emitted as an extracted triple with
  * provenance (source_url). This reproduces the reference's emitted-edge
  * semantics (`objects` collection → normalized (subj,pred,obj),
  * `parse_wikidata_dump_parallel.py:1070-1075,1101`) grounded in text.
  */
object Triples {

  /** (node, canon) mapping from equivalence edges; nodes not in any edge
    * are implicitly their own canon (handle with left join + coalesce). */
  def canonMap(equivEdges: DataFrame): DataFrame = {
    // connectedComponents min-label is lexicographic on the label type; to
    // get numeric-QID min ("Q99" < "Q100") remap qid → zero-padded sort key
    val pad = (c: org.apache.spark.sql.Column) =>
      concat(lpad(length(c).cast("string"), 4, "0"), c)
    val padded = equivEdges.select(pad(col("src")).as("src"), pad(col("dst")).as("dst"))
    graft.graph.Canonicalize.connectedComponents(padded)
      .select(substring(col("node"), 5, 1000000).as("qid"),
        substring(col("component"), 5, 1000000).as("canon"))
  }

  /** Replace ids by their canonical representative. */
  def canonicalize(links: DataFrame, canon: DataFrame, idCol: String): DataFrame =
    links
      .join(canon.withColumnRenamed("qid", idCol), Seq(idCol), "left")
      .withColumn(idCol, coalesce(col("canon"), col(idCol)))
      .drop("canon")

  /** Per-page entity pairs × KG edges → extracted triples.
    *
    * Skew guards (a hub/listing page with k linked entities would emit k²
    * pairs into the join):
    *  1. each side is SEMI-JOINED against the KG edge endpoints first — a
    *     linked entity that never appears as a subject (resp. object) of
    *     any KG edge cannot contribute a triple and never enters the pair
    *     product (cuts k before squaring);
    *  2. pages keeping more than maxQidsPerPage distinct qids after the
    *     endpoint cut are truncated deterministically (qid asc) — a page
    *     linking 10³+ KG entities is a listing/index page whose
    *     co-mention signal is noise; the cap bounds the worst page at
    *     maxQidsPerPage² pairs (documented coverage cut, logged by count
    *     in the lineage rows like every stage).
    *
    * @param pageLinks (url, qid) distinct linked entities per page
    * @param kgObjects (subj, pred, obj) KG edge table */
  def extract(pageLinks: DataFrame, kgObjects: DataFrame,
              maxQidsPerPage: Int = 256): DataFrame = {
    val subjSide = pageLinks.join(
      kgObjects.select(col("subj").as("qid")).distinct(), Seq("qid"), "left_semi")
    val objSide = pageLinks.join(
      kgObjects.select(col("obj").as("qid")).distinct(), Seq("qid"), "left_semi")
    def capped(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url")).orderBy(col("qid"))
      df.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= maxQidsPerPage).drop("_rk")
    }
    val a = capped(subjSide).select(col("url"), col("qid").as("subj"))
    val b = capped(objSide).select(col("url"), col("qid").as("obj"))
    val pairs = a.join(b, Seq("url")).filter(col("subj") =!= col("obj"))
    pairs
      .join(kgObjects, Seq("subj", "obj"))
      .select(col("subj"), col("pred"), col("obj"), col("url").as("source_url"))
      .distinct()
  }
}
