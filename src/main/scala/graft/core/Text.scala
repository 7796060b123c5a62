package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization primitives.
  *
  * Semantics mirror the reference's `lamapi/utils.py:43-45` (`clean_str`:
  * lowercase + collapse all whitespace runs to single spaces) and the ES
  * whitespace+lowercase analyzer of
  * `scripts/index_confs/kg_schema.json:8-17`. Everything downstream
  * (similarity scores, posting lists, dedup keys) is built on these, so the
  * definitions here are the single source of truth.
  *
  * All functions are pure Column expressions (whole-stage-codegen friendly);
  * no UDFs in the hot path.
  */
object Text {

  /** lowercase + trim + collapse whitespace runs to a single space.
    * Bit-exact contract: `clean_str("  A\t b\nc ") == "a b c"`.
    */
  def cleanStr(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokenizer over a cleaned string (ES whitespace analyzer).
    * Empty input → empty array (not array("")). */
  def tokens(c: Column): Column = {
    val cleaned = cleanStr(c)
    when(cleaned === "", array().cast("array<string>"))
      .otherwise(split(cleaned, " "))
  }

  /** Distinct token set (order-insensitive), for set-semantics scores.
    * Native Catalyst expression (TextSetExprs) — one generated call per
    * row instead of a 4-expression chain; bit-equivalence with the column
    * formulation is property-tested in TextSetExprsSpec. */
  def tokenSet(c: Column): Column = graft.functions.TextSetExprs.tokenSet(c)

  /** Distinct character n-gram set over all tokens of a string — the shape
    * fed to the 3-gram Jaccard score (`lamapi/utils.py:55-68`) and the
    * fuzzy-match posting list. Native expression; see tokenSet. */
  def ngramSet(c: Column, n: Int): Column =
    graft.functions.TextSetExprs.ngramSet(c, n)

  /** n-grams of one token: substring windows; len<n ⇒ the token itself.
    * NOTE reference keeps words with len==n as a single gram too (window
    * count = len-n+1 = 1), which this reproduces.
    */
  def tokenNgrams(t: Column, n: Int): Column =
    when(length(t) < n, array(t)).otherwise(
      transform(sequence(lit(1), length(t) - lit(n - 1)), i => substring(t, i, n))
    )

  // substring(Column, Column, Column) overload shim: functions.substring takes
  // Ints, so route through expr-free Column API.
  private def substring(str: Column, pos: Column, len: Int): Column =
    str.substr(pos, lit(len))

  /** Vendored NLTK English stopword list (public, nltk_data corpora/stopwords).
    * Reference tokenizer semantics: `lamapi/retrievers/bow_retriever.py:30-38`
    * (lowercase, drop non-alphanumeric tokens, drop English stopwords). */
  val EnglishStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't",
    "won", "won't", "wouldn", "wouldn't"
  )

  /** BoW token set: cleaned tokens, alphanumeric-only, stopwords removed,
    * sorted distinct — `bow_retriever.py:30-38`. */
  def bowTokens(c: Column): Column = {
    // punctuation AND apostrophes → token boundaries (≈ NLTK
    // word_tokenize + isalnum): the Penn Treebank tokenizer splits
    // possessives/contractions ("world's" → ["world","'s"], "don't" →
    // ["do","n't"]) and the reference's isalnum() check then drops the
    // apostrophe-carrying part — so the stem ("world") survives. Treating
    // the apostrophe as a boundary reproduces that: "world's" → "world"
    // + "s" (stopword), "don't" → "don" + "t" (both stopwords). Known
    // divergence: "o'brien"-class names (one PTB token, dropped by the
    // reference's isalnum) here yield "brien" — rarer than possessives,
    // accepted.
    val alnum = tokens(regexp_replace(lower(c), "[^a-z0-9]+", " "))
    array_sort(array_distinct(array_except(alnum, lit(EnglishStopwords.toArray))))
  }

  /** `ntoken` index-time feature (`scripts/indexing.py:330-336`); its
    * `length` sibling is Spark's own `length`. */
  def ntoken(c: Column): Column = size(tokens(c))
}
