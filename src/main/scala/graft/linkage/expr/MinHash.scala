package graft.linkage.expr

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash near-dup kernel, written as static methods so both the
  * interpreted `eval` and the whole-stage-codegen paths of the Catalyst
  * expressions in [[Expressions]] call the same code. One document's
  * work is a set build over its own text, so it runs here in straight
  * code, once per row: no per-shingle rows, no aggregation.
  *
  * Every value is bit-identical to the Spark SQL pipeline it replaces
  * (MinHashKernelSpec keeps that pipeline as its oracle):
  *
  *  - [[shingles]]: `split(trim(text), "\\s+")` word n-grams joined by
  *    one space (fewer than n tokens: the whole trimmed text), each
  *    hashed with `xxhash64`, distinct and sorted ascending. `trim`
  *    strips only spaces, and the split keeps the empty token a leading
  *    or trailing tab/newline run leaves. A null text is one null gram,
  *    whose `xxhash64` is the hash seed 42.
  *  - [[signature]]: standard k-hash MinHash, slot i = min over the set
  *    of `xxhash64(seed, i, shingle)`; or one-permutation hashing, one
  *    `xxhash64(seed, shingle)` per shingle, range-binned by `pmod(h, k)`,
  *    per-bin min, each empty bin taking the next filled bin's value
  *    cyclically plus its distance t (rotation densification; the sum
  *    overflows exactly where Spark's ANSI `+` throws).
  *  - [[bands]]: LSH band b of r rows = `xxhash64(b, concat_ws(",",
  *    slots b·r until b·r+r))`.
  *  - [[sortedJaccard]]: |A∩B| / |A∪B| of two sorted distinct sets by one
  *    merge — the same integer quotient as a union-count verify;
  *    [[sortedJaccardAbove]] is it as `[j]` when j passes a threshold.
  */
object MinHash {

  /** Spark's hash seed: `xxhash64(x)` is XXH64 of x under seed 42. */
  private val SparkSeed = 42L

  /** Sorted distinct xxhash64 word-`n`-gram set of `text`. */
  def shingles(text: UTF8String, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(shingleSet(text, n))

  /** Tokenizes the decoded string exactly as Spark's `split` does, so
    * malformed UTF-8 (decoded to U+FFFD, re-encoded in each gram) hashes
    * the same bytes as the SQL pipeline. */
  private def shingleSet(text: UTF8String, n: Int): Array[Long] = {
    if (text == null) return Array(SparkSeed)
    val t = text.trim()
    val toks = t.toString.split("\\s+", -1)
    if (toks.length < n) return Array(XXH64.hashUTF8String(t, SparkSeed))
    sortedDistinct(Array.tabulate(toks.length - n + 1) { g =>
      XXH64.hashUTF8String(
        UTF8String.fromString(toks.slice(g, g + n).mkString(" ")), SparkSeed)
    })
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < a.length) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  /** MinHash signature (k = `numHashes` slots) of a shingle array. Slots
    * are minima, so the input need not be sorted or distinct. An empty
    * set has no filled bin to densify from and yields an empty array;
    * [[shingles]] never returns one. */
  def signature(shingles: ArrayData, numHashes: Int, seed: Long,
                oph: Boolean): ArrayData = {
    val s = shingles.toLongArray()
    UnsafeArrayData.fromPrimitiveArray(
      if (oph) ophSignature(s, numHashes, seed)
      else standardSignature(s, numHashes, seed))
  }

  private def standardSignature(s: Array[Long], k: Int,
                                seed: Long): Array[Long] = {
    if (s.isEmpty) return Array.emptyLongArray
    val base = XXH64.hashLong(seed, SparkSeed)
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val hi = XXH64.hashInt(i, base)
      var m = Long.MaxValue
      var j = 0
      while (j < s.length) {
        val h = XXH64.hashLong(s(j), hi)
        if (h < m) m = h
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  private def ophSignature(s: Array[Long], k: Int, seed: Long): Array[Long] = {
    if (s.isEmpty) return Array.emptyLongArray
    val base = XXH64.hashLong(seed, SparkSeed)
    val mins = Array.fill(k)(Long.MaxValue)
    val filled = new Array[Boolean](k)
    var j = 0
    while (j < s.length) {
      val h = XXH64.hashLong(s(j), base)
      val bin = java.lang.Math.floorMod(h, k.toLong).toInt
      if (!filled(bin) || h < mins(bin)) { mins(bin) = h; filled(bin) = true }
      j += 1
    }
    // densify from the right: next(j) = first filled bin at or after j,
    // wrapping to the first filled bin
    val sig = new Array[Long](k)
    var first = 0
    while (!filled(first)) first += 1
    var next = first
    var b = k - 1
    while (b >= 0) {
      if (filled(b)) next = b
      val t = if (next >= b) next - b else next - b + k
      sig(b) = java.lang.Math.addExact(mins(next), t.toLong)
      b -= 1
    }
    sig
  }

  /** LSH band buckets of a signature: `bands` buckets of `rows` slots
    * each (a band past the signature's end hashes fewer slots). */
  def bands(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(rows * 21)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var i = b * rows
      val end = math.min(n, i + rows)
      while (i < end) {
        if (i > b * rows) sb.append(',')
        sb.append(sig.getLong(i))
        i += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(b) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET,
        bytes.length, XXH64.hashInt(b, SparkSeed))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The verify's value: `[j]` when j = [[sortedJaccard]] is at least
    * `threshold`, else `[]` (see [[SortedJaccardAbove]]). */
  def sortedJaccardAbove(a: ArrayData, b: ArrayData,
                         threshold: Double): ArrayData = {
    val j = sortedJaccard(a, b)
    UnsafeArrayData.fromPrimitiveArray(
      if (j >= threshold) Array(j) else Array.emptyDoubleArray)
  }

  /** Exact Jaccard |A∩B| / |A∪B| of two ascending distinct shingle
    * arrays; 0.0 when both are empty. */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na.toLong + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
