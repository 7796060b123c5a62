package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Similarity, Text}

/** Retrieval parity layer — the batch Dataset equivalents of the
  * reference's entity endpoints (`app/api/routes/entity.py` →
  * `lamapi/retrievers` (`*_retriever.py`)). Each takes the request id list as
  * a DataFrame (`entity` column) and broadcast-joins it against the core
  * tables (J1: `find({"entity":{"$in":[…]}})` → broadcast inner join;
  * unknown ids ⇒ absent rows, exactly like the Mongo cursor).
  */
object Retrieval {

  private def req(ids: DataFrame): DataFrame =
    broadcast(ids.select(col("entity")).distinct())

  /** /entity/types — (entity, p31, p279) (`types_retriever.py:11-28`). */
  def getTypes(items: DataFrame, ids: DataFrame): DataFrame =
    items.join(req(ids), Seq("entity")).select(col("entity"), col("p31"), col("p279"))

  /** /entity/objects — re-nested `{obj → [pred]}` per entity
    * (`objects_retriever.py:11-34`; nesting `parse…py:1070-1075`). */
  def getObjects(objects: DataFrame, ids: DataFrame): DataFrame =
    objects.withColumnRenamed("subj", "entity")
      .join(req(ids), Seq("entity"))
      .groupBy(col("entity"), col("obj"))
      .agg(array_sort(collect_set(col("pred"))).as("preds"))
      .groupBy(col("entity"))
      .agg(map_from_entries(collect_list(struct(col("obj"), col("preds"))))
        .as("objects"))

  /** /entity/literals — `{DATATYPE → {pred → [values]}}`
    * (`literals_retriever.py`; nesting `parse…py:1076-1082`). */
  def getLiterals(literals: DataFrame, ids: DataFrame): DataFrame =
    literals.withColumnRenamed("subj", "entity")
      .join(req(ids), Seq("entity"))
      .groupBy(col("entity"), col("datatype"), col("pred"))
      .agg(array_sort(collect_set(col("value"))).as("values"))
      .groupBy(col("entity"), col("datatype"))
      .agg(map_from_entries(collect_list(struct(col("pred"), col("values"))))
        .as("by_pred"))
      .groupBy(col("entity"))
      .agg(map_from_entries(collect_list(struct(col("datatype"), col("by_pred"))))
        .as("literals"))

  /** /entity/labels — the reference envelope
    * (`labels_retriever.py:20-45`): per entity {kind, NERtype, url,
    * description, labels, aliases}, with optional `lang` narrowing (labels
    * and aliases reduced to that language when present) and `category`
    * narrowing (the reference's `query["category"]` filter — realized on
    * `kind`, the field our items carry for it).
    * NERtype = first observed ner type, as the index stores it. */
  def getLabels(items: DataFrame, ids: DataFrame,
                lang: Option[String] = None, category: Option[String] = None,
                kgUrl: String = "https://www.wikidata.org/wiki/"): DataFrame = {
    val base = items.join(req(ids), Seq("entity"))
    val filtered = category.map(c => base.filter(col("kind") === c)).getOrElse(base)
    val (labelsCol, aliasesCol) = lang match {
      case Some(l) =>
        (when(col("labels")(l).isNotNull,
           map(lit(l), col("labels")(l))).otherwise(col("labels")),
         when(col("aliases")(l).isNotNull,
           map(lit(l), col("aliases")(l))).otherwise(col("aliases")))
      case None => (col("labels"), col("aliases"))
    }
    filtered.select(
      col("entity"), col("kind"),
      when(size(col("ner_types")) > 0, col("ner_types").getItem(0)).as("NERtype"),
      concat(lit(kgUrl), col("entity")).as("url"),
      col("description"),
      labelsCol.as("labels"), aliasesCol.as("aliases"))
  }

  /** /entity/sameas — wikidata/wikipedia urls (`sameas_retriever.py`). */
  def getSameas(items: DataFrame, ids: DataFrame): DataFrame =
    items.join(req(ids), Seq("entity"))
      .select(col("entity"), col("urls.wikidata").as("wikidata"),
        col("urls.wikipedia").as("wikipedia"))

  /** /entity/predicates — for (subj, obj) pairs, the predicates connecting
    * them (J2, `predicates_retriever.py:53-76`): normalized-triple inner
    * join instead of the reference's map-membership probe. */
  def getPredicates(objects: DataFrame, pairs: DataFrame): DataFrame =
    objects.join(broadcast(pairs.select(col("subj"), col("obj")).distinct()),
        Seq("subj", "obj"))
      .groupBy(col("subj"), col("obj"))
      .agg(array_sort(collect_set(col("pred"))).as("predicates"))

  /** Entity bag-of-words table: cleaned, alnum-only, stopword-free token
    * set of label+aliases+description (engine-defined composition — the
    * reference's `items_vectors2` blobs are precomputed elsewhere; the
    * tokenizer semantics are `bow_retriever.py:30-38`). */
  def entityBow(items: DataFrame): DataFrame =
    items.select(col("entity"),
      Text.bowTokens(concat_ws(" ",
        col("labels")("en"),
        array_join(coalesce(col("aliases")("en"), array().cast("array<string>")), " "),
        col("description"))).as("bow"))

  /** /bow — per (text, entity) overlap score
    * `|text_tokens ∩ bow| / |text_tokens|` (`bow_retriever.py:93-142`). */
  def getBowScores(bow: DataFrame, texts: DataFrame): DataFrame = {
    val t = texts.select(col("entity"), Text.bowTokens(col("text")).as("text_tokens"))
    bow.join(broadcast(t), Seq("entity"))
      .select(col("entity"),
        (size(array_intersect(col("text_tokens"), col("bow"))).cast("double") /
          greatest(size(col("text_tokens")), lit(1))).as("bow_score"))
  }

  /** /summary — predicate frequency summaries, top-k by count
    * (A13, `summary_retriever.py:11-21`; the summary table itself is
    * `groupBy(pred).count` — the reference assumes it pre-built). */
  def summary(edges: DataFrame, k: Int, asc: Boolean = false): DataFrame = {
    val counts = edges.groupBy(col("pred")).agg(count(lit(1)).as("count"))
    val sorted = if (asc) counts.orderBy(col("count").asc, col("pred"))
                 else counts.orderBy(col("count").desc, col("pred"))
    sorted.limit(k)
  }

  /** Per-entity-scoped summary (`summary_retriever.py:5-22`): the summary
    * rows are (entity, pred, count); an `entities` list narrows to those
    * subjects (`{"entity": {"$in": …}}`), then rank by count asc/desc and
    * cut to k — ties broken deterministically by (entity, pred). */
  private def scopedSummary(edges: DataFrame, entities: Option[DataFrame],
                            k: Int, asc: Boolean): DataFrame = {
    val base = entities match {
      case Some(e) => edges.join(broadcast(
        e.select(col("entity").as("subj")).distinct()), Seq("subj"), "left_semi")
      case None => edges
    }
    val counts = base.groupBy(col("subj").as("entity"), col("pred"))
      .agg(count(lit(1)).as("count"))
    val sorted =
      if (asc) counts.orderBy(col("count").asc, col("entity"), col("pred"))
      else counts.orderBy(col("count").desc, col("entity"), col("pred"))
    sorted.limit(k)
  }

  /** /summary/objects — over the entity→entity edge table. */
  def objectsSummary(objects: DataFrame, entities: Option[DataFrame] = None,
                     k: Int = 10, asc: Boolean = false): DataFrame =
    scopedSummary(objects, entities, k, asc)

  /** /summary/literals — over the entity→literal edge table. */
  def literalsSummary(literals: DataFrame, entities: Option[DataFrame] = None,
                      k: Int = 10, asc: Boolean = false): DataFrame =
    scopedSummary(literals.select(col("subj"), col("pred")), entities, k, asc)

  /** lamAPI NERtype → column-classifier NE class
    * (`column_analysis.py:58-59` taxonomy). */
  val NeClassOf: Map[String, String] = Map(
    "PERS" -> "PERSON", "ORG" -> "ORGANIZATION", "LOC" -> "LOCATION",
    "OTHERS" -> "OTHER")

  /** Literal cascade label → column-classifier LIT class
    * (`column_analysis.py:60` taxonomy: NUMBER / DATE / STRING). */
  val LitClassOf: Map[String, String] = Map(
    "FLOAT" -> "NUMBER", "INTEGER" -> "NUMBER",
    "DATE" -> "DATE", "DATETIME" -> "DATE", "TIME" -> "DATE")

  /** /column-analysis (N2): per column the NE/LIT tag, classification and
    * datatype of `column_analysis.py:58-87`. The reference delegates
    * per-cell typing to an external ML classifier; our deterministic
    * replacement votes per cell:
    *  - a cell whose cleaned value exactly matches a gazetteer surface
    *    (the name index) votes NE(class of the surface's NERtype);
    *  - otherwise it votes LIT(mapped literal-cascade label).
    * Column tag/classification = the majority cell vote (count desc, then
    * classification asc — deterministic).
    * @param gazetteer optional (name_clean, ner_type) surface table; when
    *                  absent every cell votes LIT. */
  def columnAnalysis(cells: DataFrame,
                     gazetteer: Option[DataFrame] = None): DataFrame = {
    val litClass = LitClassOf.foldRight(lit("STRING")) { case ((k, v), els) =>
      when(col("label") === k, lit(v)).otherwise(els)
    }
    val neClass = NeClassOf.foldRight(lit("OTHER")) { case ((k, v), els) =>
      when(col("ner_type") === k, lit(v)).otherwise(els)
    }
    val labeled = cells
      .withColumn("label", graft.functions.Literals.classify(col("value")))
      .withColumn("clean", graft.core.Text.cleanStr(col("value")))
    val voted = gazetteer match {
      case Some(g) =>
        // one ner_type per surface: the gazetteer majority rule
        val surface = DetectMentions.majorityNerType(g)
          .withColumnRenamed("name_clean", "clean")
        labeled.join(surface, Seq("clean"), "left")
          .withColumn("tag", when(col("ner_type").isNotNull, "NE").otherwise("LIT"))
          .withColumn("classification",
            when(col("ner_type").isNotNull, neClass).otherwise(litClass))
      case None =>
        labeled.withColumn("tag", lit("LIT"))
          .withColumn("classification", litClass)
    }
    voted.groupBy(col("col_id"), col("tag"), col("classification"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("col_id"))
          .orderBy(col("n").desc, col("classification"))))
      .filter(col("rk") === 1)
      .select(col("col_id"), col("tag"), col("classification"),
        col("classification").as("datatype"), col("n"))
  }
}
