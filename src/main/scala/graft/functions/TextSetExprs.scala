package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native static helpers for the tokenizer primitives (SURVEY.md
  * §4.4: "custom expressions, perf-only") — each replaces a chain of 4-7
  * interpreted higher-order-function expressions with ONE generated call
  * into a static helper, so the surrounding whole-stage-codegen span stays
  * intact and the per-row work is a single tight JVM loop.
  *
  * Semantics are BIT-IDENTICAL to the Column-expression definitions in
  * `core/Text` / `ops/TextStats` (property-tested in TextSetExprsSpec over
  * random unicode input):
  *  - clean_str = lower(trim(regexp_replace(s, "\\s+", " "))) — Java regex
  *    \s is exactly {TAB, LF, VT, FF, CR, SPACE}, all single UTF-8 bytes,
  *    so the collapse runs byte-level; trim strips 0x20 only (StringTrim);
  *    lower is UTF8String.toLowerCase (the Lower expression's own impl);
  *  - n-gram windows step CODE POINTS (UTF8String.substring), matching
  *    the substring/length Column semantics;
  *  - ordering is UTF8String's binary comparison — exactly array_sort's.
  */
object TextSetHelper {

  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0b || b == 0x0c || b == 0x0d

  /** regexp_replace(s, "\\s+", " ") → trim → toLowerCase, byte-level. */
  def cleanStr(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out = new Array[Byte](bytes.length)
    var i = 0; var o = 0
    while (i < bytes.length) {
      if (isWs(bytes(i))) {
        out(o) = 0x20; o += 1
        while (i < bytes.length && isWs(bytes(i))) i += 1
      } else { out(o) = bytes(i); o += 1; i += 1 }
    }
    // trim ASCII space only (StringTrim semantics)
    var lo = 0; var hi = o
    while (lo < hi && out(lo) == 0x20) lo += 1
    while (hi > lo && out(hi - 1) == 0x20) hi -= 1
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(out, lo, hi)).toLowerCase
  }

  private def splitTokens(cleaned: UTF8String): Array[UTF8String] =
    if (cleaned.numBytes() == 0) Array.empty
    else cleaned.split(UTF8String.fromString(" "), -1)

  private def sortedDistinct(set: java.util.TreeSet[UTF8String]): ArrayData = {
    val arr = new Array[Any](set.size)
    val it = set.iterator(); var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Text.tokenSet: sorted distinct whitespace tokens of clean_str. */
  def tokenSet(s: UTF8String): ArrayData = {
    val set = new java.util.TreeSet[UTF8String]()
    splitTokens(cleanStr(s)).foreach(set.add)
    sortedDistinct(set)
  }

  /** Text.ngramSet: sorted distinct char n-grams over all tokens
    * (token shorter than n ⇒ the token itself). */
  def ngramSet(s: UTF8String, n: Int): ArrayData = {
    val set = new java.util.TreeSet[UTF8String]()
    splitTokens(cleanStr(s)).foreach { t =>
      val len = t.numChars()
      if (len < n) set.add(t)
      else {
        var i = 0
        while (i <= len - n) { set.add(t.substring(i, i + n)); i += 1 }
      }
    }
    sortedDistinct(set)
  }

  /** TextStats.winnowFingerprints: positional k-shingles → md5 hex →
    * sliding-window (w) minima → sorted distinct. Single pass with a
    * monotonic deque for the window minima — the Column formulation
    * re-evaluates the hash array per window (O(n²·k)). md5 hex matches
    * Spark's `md5` (and DuckDB's) byte-for-byte. */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = wordShingles(s, k).map { sh =>
      md.reset()
      val d = md.digest(sh.getBytes)
      val hex = new StringBuilder(32)
      d.foreach(b => hex.append(f"${b & 0xff}%02x"))
      UTF8String.fromString(hex.toString)
    }
    val set = new java.util.TreeSet[UTF8String]()
    if (hs.length < w) set.add(hs.reduce((a, b) => if (a.compareTo(b) <= 0) a else b))
    else {
      // monotonic deque of indices, increasing hash values
      val dq = new java.util.ArrayDeque[Int]()
      var i = 0
      while (i < hs.length) {
        while (!dq.isEmpty && hs(dq.peekLast).compareTo(hs(i)) >= 0) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst <= i - w) dq.pollFirst()
        if (i >= w - 1) set.add(hs(dq.peekFirst))
        i += 1
      }
    }
    sortedDistinct(set)
  }

  /** Positional word k-shingles of clean_str, in order (fewer than k
    * tokens ⇒ one shingle = the whole cleaned string, even when empty). */
  private def wordShingles(s: UTF8String, k: Int): Array[UTF8String] = {
    val toks = splitTokens(cleanStr(s))
    val space = UTF8String.fromString(" ")
    if (toks.length < k) Array(UTF8String.concatWs(space, toks: _*))
    else Array.tabulate(toks.length - k + 1)(i =>
      UTF8String.concatWs(space, toks.slice(i, i + k): _*))
  }

  /** TextStats.shingles: sorted distinct word n-shingles (see
    * [[wordShingles]]). */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val set = new java.util.TreeSet[UTF8String]()
    wordShingles(s, n).foreach(set.add)
    sortedDistinct(set)
  }

  /** Merge-scan |A ∩ B| over two sorted distinct UTF8String arrays. */
  def sortedOverlapCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** The SymSpell delete neighbourhood (public algorithm): `s` and every
    * variant with up to `d` CODE POINTS deleted. Two strings within
    * Levenshtein distance d share a key when one side holds deletes up to
    * d and the other probes with deletes up to d. */
  def deletes(s: String, d: Int): Set[String] = {
    var cur = Set(s); var all = Set(s)
    for (_ <- 1 to d) {
      cur = cur.flatMap { x =>
        val cps = x.codePoints().toArray
        cps.indices.map(i => new String(cps, 0, i) + new String(cps, i + 1, cps.length - i - 1))
      }
      all ++= cur
    }
    all
  }

  /** [[deletes]] as a sorted distinct array. */
  def deleteSet(s: UTF8String, d: Int): ArrayData = {
    val set = new java.util.TreeSet[UTF8String]()
    deletes(s.toString, d).foreach(x => set.add(UTF8String.fromString(x)))
    sortedDistinct(set)
  }
}

/** md5-based signature primitives (MinHash / SimHash) — the hash unit is
  * CHOSEN to be engine-neutral, exactly like [[TextSetHelper.winnow]]: a
  * signature derived from md5 hex prefixes is bit-reproducible in DuckDB
  * SQL (`('0x'||substr(md5(x),1,K))::BIGINT`), so the LSH gate queries get
  * FULL hash oracles instead of rows-only checks, while the per-row cost
  * stays ONE md5 per element + a few long multiplications.
  *
  * MinHash: h = first 40 md5 bits; perm i value = (Aᵢ·h + Bᵢ) mod 2⁴⁰
  * (universal-hash family; Aᵢ < 2²² odd so Aᵢ·h + Bᵢ < 2⁶² never
  * overflows a signed 64-bit lane in EITHER engine); signature =
  * per-perm minima over the element set.
  *
  * SimHash: h = first 60 md5 bits (60, not 64: 15 hex chars keep the
  * value positive in a BIGINT on both engines); bit b of the signature is
  * set iff a strict majority of element hashes have bit b set. 60 splits
  * evenly into 4/5/6/10/12 Manku blocks.
  */
object SigHelper {

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  val Mod40: Long = 1L << 40

  /** splitmix64 finalizer — deterministic perm-constant derivation. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Aᵢ: odd, < 2²² (so Aᵢ·h < 2⁶² for 40-bit h). */
  def permA(n: Int): Array[Long] =
    Array.tabulate(n)(i => (mix(i.toLong) & ((1L << 22) - 1)) | 1L)
  /** Bᵢ: < 2⁴⁰. */
  def permB(n: Int): Array[Long] =
    Array.tabulate(n)(i => mix(i.toLong + 1000L) & (Mod40 - 1))

  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def perms(n: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(n, k => (permA(k), permB(k)))

  /** First 40 bits of md5(s) = ('0x'||substr(md5(s),1,10))::BIGINT. */
  def md5Bits40(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) | ((d(2) & 0xffL) << 16) |
      ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
  }

  /** First 60 bits of md5(s) = ('0x'||substr(md5(s),1,15))::BIGINT. */
  def md5Bits60(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  def minhash(arr: ArrayData, numPerms: Int): ArrayData = {
    val (a, b) = perms(numPerms)
    val sig = Array.fill[Long](numPerms)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = md5Bits40(arr.getUTF8String(i))
      var j = 0
      while (j < numPerms) {
        val v = (a(j) * h + b(j)) % Mod40
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def simhash60(arr: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = md5Bits60(arr.getUTF8String(i))
      var b = 0
      while (b < 60) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) > n) sig |= 1L << b; b += 1 }
    sig
  }
}

/** Each function is one `StaticInvoke` of a helper method above: Spark
  * derives both the generated code (a call to the object's static
  * forwarder, so the whole-stage-codegen span stays intact) and the
  * interpreted eval from the same declaration. Int parameters are
  * literals except `deleteSet`'s per-row edit budget; with
  * `returnNullable = false` a result is null exactly when an input is
  * null. */
object TextSetExprs {
  private val StringSet = ArrayType(StringType, containsNull = false)

  private def invoke(helper: Class[_], dataType: DataType, method: String,
                     args: Column*): Column =
    GraftExpressionBridge.column(StaticInvoke(helper, dataType, method,
      args.map(GraftExpressionBridge.expression), returnNullable = false))

  private def textSet(method: String, args: Column*): Column =
    invoke(TextSetHelper.getClass, StringSet, method, args: _*)

  def tokenSet(c: Column): Column = textSet("tokenSet", c)
  def ngramSet(c: Column, n: Int): Column = textSet("ngramSet", c, lit(n))
  def shingles(c: Column, n: Int): Column = textSet("shingles", c, lit(n))
  def winnow(c: Column, k: Int, w: Int): Column = textSet("winnow", c, lit(k), lit(w))
  /** Sorted distinct delete neighbourhood of `c` with up to `d` code points
    * removed (see [[TextSetHelper.deletes]]); `d` may vary per row. */
  def deleteSet(c: Column, d: Column): Column = textSet("deleteSet", c, d)
  /** array<string> → array<long> MinHash signature (see [[SigHelper]]). */
  def minhash(c: Column, numPerms: Int): Column =
    invoke(SigHelper.getClass, ArrayType(LongType, containsNull = false), "minhash",
      c, lit(numPerms))
  /** array<string> → 60-bit SimHash signature (see [[SigHelper]]). */
  def simhash60(c: Column): Column =
    invoke(SigHelper.getClass, LongType, "simhash60", c)
  /** |A ∩ B| of two SORTED DISTINCT string arrays (as tokenSet / ngramSet /
    * shingles produce — binary UTF8String order) via a single merge scan:
    * no per-row hash set, no materialized intersection array.
    * Bit-identical to size(array_intersect(a, b)) for such inputs
    * (verified in TextSetExprsSpec); the candidate-scoring stage evaluates
    * it on every post-cut candidate pair, where array_intersect's per-row
    * allocation was the hot path. */
  def sortedOverlapCount(a: Column, b: Column): Column =
    invoke(TextSetHelper.getClass, IntegerType, "sortedOverlapCount", a, b)
}
