package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One detected mention with character offsets into the source text.
  * Invariant (property-tested): `text.substring(start, end) == surface`. */
case class Mention(surface: String, start: Int, end: Int)

/** Stage 2 — batched, deterministic mention detection.
  *
  * The reference uses spaCy NER (`lamapi/recognizers/ner_recognizer.py`),
  * which is model-version-dependent; per SURVEY.md §2.10/N1 we must own the
  * detector to keep byte-stable P/R. Rule set (frozen):
  *
  *  - a mention is a maximal run of capitalized tokens
  *    `[A-Z][A-Za-z0-9'.-]*`, where single lowercase connector tokens
  *    {of, de, la, the, and} are allowed INSIDE the run but not at its
  *    edges;
  *  - runs longer than `MaxTokens` tokens are discarded (not split): a
  *    8-capitalized-word run is headline noise, not an entity label;
  *  - single tokens shorter than 2 characters are discarded.
  *
  * Implemented as a compiled-regex Scala UDF returning
  * `array<struct<surface,start,end>>` — a UDF (not column exprs) because
  * Spark's regexp functions expose no match offsets, and the offsets are a
  * north-rule lineage requirement. The UDF is applied once per page in the
  * same stage as extraction (no extra shuffle); candidate generation then
  * dedups mentions before any join (C1 batch semantics), so the UDF cost is
  * O(corpus), not O(mentions × index).
  */
object DetectMentions {

  private val Connectors = Seq("of", "de", "la", "the", "and")
  val MaxTokens = 6

  private val CapToken = "[A-Z][A-Za-z0-9'.\\-]*"
  private val RunPattern = java.util.regex.Pattern.compile(
    s"$CapToken(?:[ ](?:(?:${Connectors.mkString("|")})[ ])?$CapToken)*")

  /** Pure scanner — also the single-threaded oracle used by the P/R
    * harness, so pipeline and oracle share one definition. */
  def scan(text: String): Seq[Mention] = {
    if (text == null || text.isEmpty) return Seq.empty
    val m = RunPattern.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    while (m.find()) {
      val surface = m.group()
      val ntok = surface.count(_ == ' ') + 1
      val ok = ntok <= MaxTokens && (ntok > 1 || surface.length >= 2)
      if (ok) out += Mention(surface, m.start(), m.end())
    }
    out.toSeq
  }

  private val detectUdf = udf((text: String) => scan(text))

  /** text column → array<struct<surface,start,end>> of mentions. */
  def detect(text: Column): Column = detectUdf(text)

  /** pages(url, text, …) → exploded mention table
    * (url, surface, start, end, mention_norm). */
  def mentions(pages: DataFrame, textCol: String = "text"): DataFrame =
    pages
      .select(col("url"), explode(detect(col(textCol))).as("m"))
      .select(
        col("url"), col("m.surface").as("surface"),
        col("m.start").as("start"), col("m.end").as("end"),
        graft.core.Text.cleanStr(col("m.surface")).as("mention_norm"))

  /** pages(url, html, …) → the mention table of their extracted text
    * (stages 1-2: [[ExtractText.extract]] then [[mentions]]). */
  def ofPages(pages: DataFrame): DataFrame =
    mentions(pages.withColumn("extracted_text", ExtractText.extract(col("html"))),
      "extracted_text")

  /** The gazetteer majority rule: one row per surface, (name_clean,
    * ner_type) with the surface's most frequent ner_type (count desc,
    * then ner_type asc — deterministic; a null ner_type competes unless
    * the caller filters it out).
    * @param gazetteer (name_clean, ner_type) — e.g. NameIndex.names. */
  def majorityNerType(gazetteer: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name_clean")).orderBy(col("cnt").desc, col("ner_type"))
    gazetteer.groupBy(col("name_clean"), col("ner_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("name_clean"), col("ner_type"))
  }

  /** Per-mention NER classification (N1's missing half — the reference
    * attaches a spaCy class to each mention, `ner_recognizer.py:14-26`).
    * Deterministic gazetteer rule instead of a model: a mention whose
    * normalized surface exactly matches an index surface takes that
    * surface's majority NERtype (majority = count desc, NERtype asc);
    * unmatched mentions are OTHERS — the lamAPI NERtype taxonomy
    * (PERS/LOC/ORG/OTHERS), so the output can drive lookup's ner_type
    * filter directly (the reference's NER→lookup composition).
    * @param gazetteer (name_clean, ner_type) — e.g. NameIndex.names. */
  def classifyMentions(mentions: DataFrame, gazetteer: DataFrame): DataFrame = {
    val surface = majorityNerType(gazetteer.filter(col("ner_type").isNotNull))
      .withColumnRenamed("name_clean", "mention_norm")
    mentions.join(surface, Seq("mention_norm"), "left")
      .withColumn("ner_class", coalesce(col("ner_type"), lit("OTHERS")))
      .drop("ner_type")
  }
}
