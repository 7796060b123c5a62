package graft.core

import graft.SparkSpec
import graft.functions.TextSetExprs
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Bit-equivalence of the native text-set functions vs the
  * Column-expression definitions they replace, on both the interpreted
  * and the generated-code evaluation path, over adversarial input
  * (whitespace runs, case, CJK, combining marks, astral plane) plus a
  * seeded random corpus. */
class TextSetExprsSpec extends SparkSpec {
  import spark.implicits._

  // the ORIGINAL column-expression definitions (frozen copies)
  private def tokensCol(c: org.apache.spark.sql.Column) = {
    val cleaned = lower(trim(regexp_replace(c, "\\s+", " ")))
    when(cleaned === "", array().cast("array<string>")).otherwise(split(cleaned, " "))
  }
  private def tokenSetCol(c: org.apache.spark.sql.Column) =
    array_sort(array_distinct(tokensCol(c)))
  private def ngramSetCol(c: org.apache.spark.sql.Column, n: Int) = {
    def tokenNgrams(t: org.apache.spark.sql.Column) =
      when(length(t) < n, array(t)).otherwise(
        transform(sequence(lit(1), length(t) - lit(n - 1)),
          i => t.substr(i, lit(n))))
    array_sort(array_distinct(flatten(transform(tokensCol(c), t => tokenNgrams(t)))))
  }
  private def shinglesCol(c: org.apache.spark.sql.Column, n: Int) = {
    val toks = tokensCol(c)
    val grams = when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    array_sort(array_distinct(grams))
  }

  /** Adversarial fixed cases + 400 seeded random compositions. */
  private lazy val corpus: Seq[String] = {
    val pieces = Array("alpha", "Beta", "GAMMA", " ", "\t", "\n", "\r", "",
      "", "  ", "", "Ää", "ÉLAN", "中文字", "😀🎉x", "á", "ß", "İstanbul",
      "a", "ab", "abc", "x.y-z'", "0123456789", "ALPHA  beta\tGamma")
    val fixed = Seq("", " ", "   ", "\t\n\r", "a", "one two three four",
      "repeated repeated repeated", "中文 字 中文", "😀 😀🎉 x")
    val rnd = new scala.util.Random(42)
    val random = (0 until 400).map { _ =>
      (0 until (1 + rnd.nextInt(6))).map(_ => pieces(rnd.nextInt(pieces.length)))
        .mkString
    }
    fixed ++ random
  }

  private def check(name: String,
                    nat: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                    ref: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
    test(s"$name: native expression ≡ column expressions") {
      // keyed by the input string: equal inputs give equal outputs
      val input = corpus.toDF("s")
      assertSameOnBothPaths(input.select(col("s"), ref(col("s"))),
        input.select(col("s"), nat(col("s"))))
    }

  private def winnowCol(c: org.apache.spark.sql.Column, k: Int, w: Int) = {
    val toks = tokensCol(c)
    val sh = when(size(toks) < k, array(concat_ws(" ", toks))).otherwise(
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    val hs = transform(sh, s => md5(s))
    val wins = when(size(hs) < w, array(array_min(hs))).otherwise(
      transform(sequence(lit(0), size(hs) - w),
        i => array_min(slice(hs, i + 1, lit(w)))))
    array_sort(array_distinct(wins))
  }

  check("tokenSet", TextSetExprs.tokenSet, tokenSetCol)
  check("winnow(3,4)", c => TextSetExprs.winnow(c, 3, 4), c => winnowCol(c, 3, 4))
  check("winnow(2,3)", c => TextSetExprs.winnow(c, 2, 3), c => winnowCol(c, 2, 3))

  test("winnowing guarantee: docs sharing a run of >= k+w-1 words share a fingerprint") {
    val shared = "quick brown foxes jump over lazy dogs today" // 8 words >= 3+4-1
    val a = s"prefix words here $shared and then something else"
    val b = s"totally different opening $shared closing remarks differ"
    val df = Seq(a, b).toDF("s")
      .select(TextSetExprs.winnow(col("s"), 3, 4).as("fp"))
    val Array(fa, fb) = df.collect().map(_.getSeq[String](0).toSet)
    assert(fa.intersect(fb).nonEmpty)
  }
  check("ngramSet(3)", c => TextSetExprs.ngramSet(c, 3), c => ngramSetCol(c, 3))
  check("ngramSet(2)", c => TextSetExprs.ngramSet(c, 2), c => ngramSetCol(c, 2))
  check("shingles(3)", c => TextSetExprs.shingles(c, 3), c => shinglesCol(c, 3))
  check("shingles(2)", c => TextSetExprs.shingles(c, 2), c => shinglesCol(c, 2))

  test("sortedOverlapCount ≡ size(array_intersect) on sorted set pairs") {
    // pair every corpus string with its successor; compare on token sets,
    // 3-gram sets and 2-shingle sets (all sorted distinct by construction)
    val pairs = corpus.zip(corpus.drop(1) :+ corpus.head).zipWithIndex
      .map { case ((x, y), i) => (i, x, y) }.toDF("i", "x", "y")
    for ((name, f) <- Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        ("tokenSet", TextSetExprs.tokenSet),
        ("ngramSet3", c => TextSetExprs.ngramSet(c, 3)),
        ("shingles2", c => TextSetExprs.shingles(c, 2))))
      withClue(s"$name: ") {
        assertSameOnBothPaths(
          pairs.select(col("i"), size(array_intersect(f(col("x")), f(col("y"))))),
          pairs.select(col("i"), TextSetExprs.sortedOverlapCount(f(col("x")), f(col("y")))))
      }
  }

  test("deleteSet ≡ brute-force code-point deletions on both paths") {
    // random strings over 1-, 2-, 3- and 4-byte characters (a non-BMP
    // emoji and letter, a combining mark), the empty string included
    val alphabet = Array("a", "b", " ", "ß", "\u0301", "中", "😀", "𝒳")
    val rnd = new scala.util.Random(7)
    val strs = ("" +: Seq.fill(150)(
      Seq.fill(rnd.nextInt(7))(alphabet(rnd.nextInt(alphabet.length))).mkString)).distinct
    // every way to drop ≤ d code-point positions, sorted in binary UTF-8
    // order like array_sort
    def brute(s: String, d: Int): Seq[String] = {
      val cps = s.codePoints().toArray
      (0 to math.min(d, cps.length)).flatMap(cps.indices.combinations).map { drop =>
        val keep = cps.indices.filterNot(drop.contains).map(cps).toArray
        new String(keep, 0, keep.length)
      }.distinct.sortWith((x, y) =>
        UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)) < 0)
    }
    val input = strs.toDF("s")
    for (d <- 0 to 2) withClue(s"d=$d: ") {
      assertSameOnBothPaths(strs.map(s => (s, brute(s, d))).toDF("s", "keys"),
        input.select(col("s"), TextSetExprs.deleteSet(col("s"), lit(d))))
    }
  }

  test("whole-stage codegen keeps the span (no eval fallback in plan)") {
    val dir = java.nio.file.Files.createTempDirectory("tse").toString
    Seq("alpha beta gamma").toDF("s").write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
      .select(TextSetExprs.ngramSet(col("s"), 3).as("g"))
    // doGenCode via static helper ⇒ the Project stays codegen'd ("*(n)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }
}
