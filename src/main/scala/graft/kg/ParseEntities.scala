package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Stage 3 — Wikidata-style dump parsing into the four core tables
  * (items / objects / literals / types), re-realizing the reference's
  * `parse_data` (`scripts/parse_wikidata_dump_parallel.py:942-1106`) as one
  * declarative Catalyst DAG instead of its reader→splitter→N-processors→
  * writer thread choreography.
  *
  * The dump is JSONL; claim `datavalue.value` is polymorphic in real
  * Wikidata (bare string for string datatypes, object for item/time/
  * quantity/coords/monolingual), so the claims schema types it as Spark 4
  * VARIANT and extracts per-datatype with `try_variant_get` — keeping the
  * whole parse inside codegen, no UDFs.
  *
  * Determinism deviations from the reference (documented, necessary for a
  * distributed engine):
  *  - `explicit_types` / `extended_types` are emitted **sorted** (the
  *    reference materializes a Python set, i.e. arbitrary order).
  *  - null claim-qids are dropped from the P31/P279 type lists (the
  *    reference appends None when a snak has no datavalue-id).
  *  - wikipedia-url fallback uses the lexicographically smallest sitelink
  *    key (the reference takes dict-insertion order).
  */
object ParseEntities {

  /** `DATATYPES_MAPPINGS` — `parse_wikidata_dump_parallel.py:624-637`. */
  val DatatypesMappings: Map[String, String] = Map(
    "external-id" -> "STRING",
    "quantity" -> "NUMBER",
    "globe-coordinate" -> "STRING",
    "string" -> "STRING",
    "monolingualtext" -> "STRING",
    "commonsMedia" -> "STRING",
    "time" -> "DATETIME",
    "url" -> "STRING",
    "geo-shape" -> "GEOSHAPE",
    "math" -> "MATH",
    "musical-notation" -> "MUSICAL_NOTATION",
    "tabular-data" -> "TABULAR_DATA"
  )

  /** Skip rules — `check_skip` (:689-695) + entity-schema (:1066). */
  val SkipDatatypes: Seq[String] =
    Seq("wikibase-lexeme", "wikibase-form", "wikibase-sense", "entity-schema")

  /** Subset of the Wikidata dump schema consumed by parse_data. */
  val dumpSchema: DataType = DataType.fromDDL(
    """id string, type string,
      |labels map<string, struct<language: string, value: string>>,
      |aliases map<string, array<struct<language: string, value: string>>>,
      |descriptions map<string, struct<language: string, value: string>>,
      |sitelinks map<string, struct<site: string, title: string>>,
      |claims map<string, array<struct<
      |  mainsnak: struct<property: string, datatype: string,
      |                   datavalue: struct<value: variant, type: string>>,
      |  rank: string>>>""".stripMargin.replace("\n", " ")
  )

  /** JSONL line filter + parse (S2: drop wrapper lines / short lines, keep
    * Q/P ids — `extract_type_hierarchy.py:131-152`). Input: one `line`
    * column. Output: parsed entity struct column `e` + raw retained. */
  def parse(dumpLines: DataFrame): DataFrame =
    dumpLines
      .filter(length(col("line")) >= 10)
      .select(from_json(regexp_replace(col("line"), ",\\s*$", ""), dumpSchema).as("e"))
      .filter(col("e.id").isNotNull && col("e.id").rlike("^[QP][0-9]+$"))

  /** Exploded claims: one row per (entity, pid, claim-position) with the
    * entity's dump type, the datatype, the VARIANT value and the value's
    * entity id (`$.id`, null for literal values); skip rules applied. The
    * one claims decoder: `objects`, `literals` and the type claims of
    * `items` all read it. */
  def claims(parsed: DataFrame): DataFrame =
    parsed
      .select(col("e.id").as("entity"), col("e.type").as("entity_type"),
        explode(col("e.claims")).as(Seq("pid", "arr")))
      .select(col("entity"), col("entity_type"), col("pid"),
        posexplode(col("arr")).as(Seq("pos", "claim")))
      .select(
        col("entity"), col("entity_type"), col("pid"), col("pos"),
        col("claim.mainsnak.datatype").as("datatype"),
        col("claim.mainsnak.datavalue.value").as("value"))
      .filter(col("value").isNotNull && !col("datatype").isin(SkipDatatypes: _*))
      .withColumn("value_id", try_variant_get(col("value"), "$.id", "string"))

  /** Normalized entity→entity edge table `(subj, pred, obj)` — the
    * reference's `objects` map `{obj→[pred]}` (:1057-1075) flattened. This
    * IS the KG triple table. */
  def objects(claimsDf: DataFrame): DataFrame =
    claimsDf
      .filter(col("datatype").isin("wikibase-item", "wikibase-property"))
      .select(col("entity").as("subj"), col("pid").as("pred"), col("value_id").as("obj"))
      .filter(col("obj").isNotNull)

  /** The (child, ancestor) closure of the P279 edges of `objects` — the
    * reference's `transitive_closure` (:846-868) over the subclass-of
    * hierarchy, read by `items` (extended types, NER seeds). */
  def subclassClosure(objectsDf: DataFrame): DataFrame =
    graft.graph.TypeClosure.closure(objectsDf.filter(col("pred") === "P279")
      .select(col("subj").as("child"), col("obj").as("parent")))

  /** Per-datatype literal value extraction — `get_value` (:697-715):
    * globe-coordinate → "lat,lon"; quantity → amount; monolingual → text;
    * time → time; else the raw (string) value. */
  def literalValue(value: Column, datatype: Column): Column =
    when(datatype === "globe-coordinate",
      concat_ws(",",
        try_variant_get(value, "$.latitude", "string"),
        try_variant_get(value, "$.longitude", "string")))
      .when(datatype === "quantity", try_variant_get(value, "$.amount", "string"))
      .when(datatype === "monolingualtext", try_variant_get(value, "$.text", "string"))
      .when(datatype === "time", try_variant_get(value, "$.time", "string"))
      .otherwise(try_variant_get(value, "$", "string"))

  /** Normalized literal table `(subj, pred, value, datatype)` where
    * datatype is the 7-value storage taxonomy (:1076-1082 flattened). */
  def literals(claimsDf: DataFrame): DataFrame = {
    val mapped = DatatypesMappings.foldRight(lit(null).cast("string")) {
      case ((k, v), els) => when(col("datatype") === k, lit(v)).otherwise(els)
    }
    claimsDf
      .withColumn("storage_datatype", mapped)
      .filter(col("storage_datatype").isNotNull &&
        !col("datatype").isin("wikibase-item", "wikibase-property"))
      .select(
        col("entity").as("subj"), col("pid").as("pred"),
        literalValue(col("value"), col("datatype")).as("value"),
        col("storage_datatype").as("datatype"))
      .filter(col("value").isNotNull)
  }

  /** The `items` table — one row per entity with kind / ner_types /
    * popularity / urls / explicit+extended types, per
    * `parse_data` (:942-1106).
    *
    * @param claimsDf `claims(parsed)`: the P31/P279 claims of `item`
    *                entities are its type claims.
    * @param closure (child, ancestor) transitive P279 closure used for
    *                extended_types (reference `transitive_closure`,
    *                :846-868) and for the LOC/ORG seeds (`NerSeeds.seeds`,
    *                replacing the reference's SPARQL fetch, :1135-1183).
    */
  def items(parsed: DataFrame, claimsDf: DataFrame, closure: DataFrame): DataFrame = {
    val base = parsed.select(
      col("e.id").as("entity"),
      coalesce(col("e.descriptions")("en")("value"), lit("")).as("description"),
      transform_values(coalesce(col("e.labels"),
        expr("map()").cast("map<string, struct<language: string, value: string>>")),
        (_, v) => v("value")).as("labels"),
      transform_values(coalesce(col("e.aliases"),
        expr("map()").cast("map<string, array<struct<language: string, value: string>>>")),
        (_, v) => array_distinct(transform(v, a => a("value")))).as("aliases"),
      coalesce(col("e.sitelinks"),
        expr("map()").cast("map<string, struct<site: string, title: string>>")).as("sitelinks"),
      map_contains_key(col("e.claims"), "P279").as("has_p279"))

    // popularity = max(#sitelinks, 1)  (:950-951)
    val popularity = greatest(size(map_keys(col("sitelinks"))), lit(1))

    // urls (:1036-1055); deterministic fallback = min sitelink key
    val wikipedia = when(map_contains_key(col("sitelinks"), "enwiki"),
        concat(lit("https://en.wikipedia.org/wiki/"),
          translate(col("sitelinks")("enwiki")("title"), " ", "_")))
      .when(size(map_keys(col("sitelinks"))) > 0, {
        val k = array_min(map_keys(col("sitelinks")))
        concat(lit("https://"), split(k, "wiki").getItem(0),
          lit(".wikipedia.org/wiki/"),
          translate(element_at(col("sitelinks"), k)("title"), " ", "_"))
      })
      .otherwise(lit(""))

    val withBase = base.select(
      col("entity"), col("description"), col("labels"),
      col("aliases"), popularity.as("popularity"), col("has_p279"),
      struct(
        concat(lit("https://www.wikidata.org/wiki/"), col("entity")).as("wikidata"),
        wikipedia.as("wikipedia")).as("urls"))

    // type claims (P31/P279 of item entities, :992-994) → p31/p279 lists,
    // ner_types, explicit/extended types
    val typeClaims = claimsDf
      .filter(col("entity_type") === "item" && col("pid").isin("P31", "P279") &&
        col("value_id").isNotNull)
      .select(col("entity"), col("pid"), col("pos"), col("value_id").as("qid"))
    val nerClassed = typeClaims
      .join(broadcast(NerSeeds.seeds(closure)), Seq("qid"), "left")
      .withColumn("ner", // :1002-1016
        when(col("qid") === "Q5", "PERS")
          .when(coalesce(col("is_geo"), lit(false)), "LOC")
          .when(coalesce(col("is_org"), lit(false)), "ORG")
          .otherwise("OTHERS"))
      // P31 claims precede P279 in the reference's iteration order
      .withColumn("ord", when(col("pid") === "P31", 0).otherwise(1) * 1000000 + col("pos"))

    val typeAgg = nerClassed.groupBy("entity").agg(
      // first-occurrence-distinct = Counter insertion order (:1017-1025)
      array_distinct(transform(
        array_sort(collect_list(struct(col("ord"), col("ner")))),
        s => s("ner"))).as("ner_types"),
      array_sort(collect_set(col("qid"))).as("explicit_types"),
      array_sort(collect_set(when(col("pid") === "P31", col("qid")))).as("p31"),
      array_sort(collect_set(when(col("pid") === "P279", col("qid")))).as("p279"))

    // extended = explicit ∪ ancestors(explicit) via the closure (:1027-1033)
    val exploded = typeAgg.select(col("entity"), explode(col("explicit_types")).as("etype"))
    val anc = exploded
      .join(closure.select(col("child").as("etype"), col("ancestor")), Seq("etype"), "left")
      .groupBy("entity")
      .agg(array_sort(array_distinct(flatten(collect_list(
        filter(array(col("etype"), col("ancestor")), x => x.isNotNull))))).as("extended_types"))

    withBase
      .join(typeAgg, Seq("entity"), "left")
      .join(anc, Seq("entity"), "left")
      .select(
        col("entity"),
        (xxhash64(col("entity")) .bitwiseAND(lit(Long.MaxValue))).as("id_entity"),
        col("description"), col("labels"), col("aliases"),
        coalesce(col("p31"), array().cast("array<string>")).as("p31"),
        coalesce(col("p279"), array().cast("array<string>")).as("p279"),
        col("popularity"),
        // kind precedence: type > predicate > disambiguation > entity
        // (:968-982); a null p31 falls through to the next branch, matching
        // the reference's .get() defaults
        when(col("has_p279"), "type")
          .when(col("entity").startsWith("P"), "predicate")
          .when(array_contains(col("p31"), "Q4167410"), "disambiguation")
          .otherwise("entity").as("kind"),
        coalesce(col("ner_types"), array().cast("array<string>")).as("ner_types"),
        col("urls"),
        coalesce(col("explicit_types"), array().cast("array<string>")).as("explicit_types"),
        coalesce(col("extended_types"), array().cast("array<string>")).as("extended_types"))
  }
}
