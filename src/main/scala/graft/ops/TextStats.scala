package graft.ops

import graft.core.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * All are deterministic pure Column expressions — they run inside
  * whole-stage codegen, shuffle nothing, and scale linearly with input
  * (embarrassingly parallel per-row map work; at 100 TB the only knob is
  * input split size).
  */
object TextStats {

  /** Distinct high-frequency marker words per language. Scoring is
    * set-based (number of DISTINCT markers present) so the semantics are
    * reproducible in plain SQL for the oracle. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "du", "ich", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "es" -> Seq("que", "de", "no", "la", "el", "es", "y", "en", "lo", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "que", "je", "pas")
  )

  /** Rule-based language ID:
    *  1. CJK-dominant text (≥10% CJK chars) → "zh"
    *  2. else argmax over per-language distinct-marker counts,
    *     lexicographically-smallest language code breaking ties
    *  3. all-zero → "und"
    * Deterministic, SQL-expressible (mirrored in SparkEntry.oracleSql).
    */
  def langId(text: Column): Column = {
    val cjkCount = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val toks = Text.tokenSet(text)
    val scores = Markers.map { case (lang, ms) =>
      lang -> size(array_intersect(toks, lit(ms.toArray)))
    }
    val best = greatest(scores.map(_._2): _*)
    // first-match-wins in Markers order (de,en,es,fr) = lexicographic tie-break
    val chain = scores.reverse.foldLeft(lit("und")) { case (els, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(els)
    }
    when(cjkCount * 10 >= length(text), lit("zh")).otherwise(chain)
  }

  /** Heuristic quality score ∈ [0,1]: mean of
    *  - length score   min(n_chars/500, 1)
    *  - alpha ratio    letters+spaces / chars
    *  - stopword hit   min(distinct-english-stopwords-present / 4, 1)
    * Deterministic arithmetic; SQL-mirrored in the oracle. */
  def qualityScore(text: Column): Column = {
    val n = greatest(length(text), lit(1)).cast("double")
    val lenScore = least(n / 500.0, lit(1.0))
    val alpha = length(regexp_replace(lower(text), "[^a-z ]", "")).cast("double") / n
    val stops = size(array_intersect(Text.tokenSet(text),
      lit(Text.EnglishStopwords.toArray))).cast("double")
    val stopScore = least(stops / 4.0, lit(1.0))
    round((lenScore + alpha + stopScore) / 3.0, 6)
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = Text.ntoken(text)

  /** BPE-ish subword proxy count: runs of letters, runs of digits, and each
    * remaining non-space symbol count as one token — a cheap, deterministic
    * stand-in for a real BPE vocab (same regex class semantics in Java and
    * the SQL oracle). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Content fingerprint: md5 of the whitespace/case-normalized text.
    * Stable across engines (md5 is md5) → usable as an exact-dedup and
    * shard-assignment key at any scale. */
  def fingerprint(text: Column): Column = md5(Text.cleanStr(text))

  /** Word n-gram shingles (distinct, sorted) — the unit for near-dup
    * detection (MinHash / Jaccard). Native Catalyst expression
    * (TextSetExprs); bit-equivalence with the column formulation is
    * property-tested in TextSetExprsSpec. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextSetExprs.shingles(text, n)

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS algorithm, public): hash every k-word shingle, slide a
    * window of w consecutive hashes, keep each window's minimum — any two
    * documents sharing a run of ≥ k+w−1 words are GUARANTEED to share a
    * fingerprint, while only ~2/(w+1) of hashes are kept. Output: sorted
    * distinct fingerprint set. md5 is the rolling unit so the exact same
    * computation is SQL-expressible for the DuckDB oracle (md5 is md5 in
    * every engine — no engine-defined hashing, full hash-match gate).
    * Texts shorter than one window contribute their global minimum.
    * Scale: pure per-row map work; dedup/clustering on the fingerprints
    * is then an exact groupBy like Dedup.exact. */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    graft.functions.TextSetExprs.winnow(text, k, w)
}
