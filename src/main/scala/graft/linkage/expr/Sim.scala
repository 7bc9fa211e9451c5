package graft.linkage.expr

import java.text.Normalizer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** String-similarity / normalization kernels, written as static methods so
  * both interpreted `nullSafeEval` and whole-stage-codegen paths of the
  * Catalyst expressions in [[Expressions]] call the same code.
  *
  * Semantics are pinned to the reference's python `textdistance` library
  * (used via recordlinkage at /root/reference/households/matching.py:480–491
  * and directly at matching.py:110–247):
  *
  *  - jaroWinkler: Winkler prefix bonus (weight 0.1, prefix capped at 4) is
  *    applied ONLY when the plain Jaro score exceeds 0.7 — verified against
  *    the calibration exemplars at matching.py:25–31 ("205 GARDEN ST APT 5F"
  *    vs "…5J" → 0.9472 requires jaro("5F","5J")=2/3 to get NO bonus, while
  *    "…GARDEN STREET" vs "…GAREDN ST" → 0.9666 requires jw("STREET","ST")
  *    = 0.8222 i.e. bonus WITH no minimum-length rule).
  *  - jaroWinkler("", "") = 1, jaroWinkler("", x) = 0 (textdistance; the
  *    address comparator overrides the former to 0 — matching.py:71–77).
  *  - hammingSim: textdistance `hamming.normalized_similarity` with
  *    truncate=False: mismatches over zip_longest, normalized by max length;
  *    both-empty → 1 (matching.py:100–103).
  */
object Sim {

  // Reusable per-thread scratch for the char path's Jaro match flags:
  // per-call array allocation was measurable GC pressure at 32 executor
  // threads (the ASCII kernel keeps its own scratch, below).
  private val scratch = new ThreadLocal[Array[Boolean]] {
    override def initialValue(): Array[Boolean] = new Array[Boolean](256)
  }
  private def flags(n: Int): Array[Boolean] = {
    var a = scratch.get()
    if (a.length < n) { a = new Array[Boolean](n); scratch.set(a) }
    else java.util.Arrays.fill(a, 0, n, false)
    a
  }

  /** Per-thread scratch of the bit-parallel Jaro kernel. `rows` holds one
    * ⌈l2/64⌉-word match bitvector per ASCII byte value (row `b` at
    * `b * words`: bit j set iff s2(j) == b); `claimed` marks the s2
    * positions already matched; `order` collects the matched s1 bytes in
    * s1 order. Invariant: `rows` is all-zero between calls — each call
    * zeroes the words it set before it returns, so a later call with a
    * different s2 (or a different row stride) never reads a stale bit. */
  private final class JaroScratch {
    var rows = new Array[Long](128 * 8)
    var claimed = new Array[Long](8)
    var order = new Array[Byte](512)
  }
  private val jaroScratch = new ThreadLocal[JaroScratch] {
    override def initialValue(): JaroScratch = new JaroScratch
  }

  /** Jaro over raw UTF-8 bytes — valid when both operands are pure ASCII
    * (one byte = one char). All linkage fields are ASCII by construction
    * (NormalizeAscii), so this is the hot path; general strings fall back
    * to the char implementation, which is also this kernel's test oracle.
    *
    * Bit-parallel form of the scan in [[jaro]]: for each i, the free
    * positions of s2 holding b1(i) are `row(b1(i)) & ~claimed`; masked to
    * the window [i−w, i+w], their lowest set bit is exactly the first
    * free match the scan would take, so matches, the floor-divided
    * transpositions (set bits of `claimed` walked in order against
    * `order`) and the final double are bit-identical. Cost: O(l2) to
    * build and clear the rows, then at most ⌈(2w+1)/64⌉+1 word operations
    * per s1 byte — O(l1·⌈l2/64⌉) instead of the scan's O(l1·window). */
  private def jaroAsciiBytes(b1: Array[Byte], l1: Int,
                             b2: Array[Byte], l2: Int): Double = {
    val s = jaroScratch.get()
    val words = (l2 + 63) >>> 6
    if (s.claimed.length < words) {
      s.rows = new Array[Long](128 * words); s.claimed = new Array[Long](words)
    }
    if (s.order.length < l1) s.order = new Array[Byte](l1)
    val rows = s.rows; val claimed = s.claimed; val order = s.order
    var j = 0
    while (j < l2) { rows(b2(j) * words + (j >>> 6)) |= 1L << j; j += 1 }
    java.util.Arrays.fill(claimed, 0, words, 0L)

    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    // past l2 + window the window lies beyond s2: nothing left to match
    val iEnd = math.min(l1, l2 + window)
    var matches = 0
    var i = 0
    while (i < iEnd) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      val row = b1(i) * words
      var k = lo >>> 6
      val kHi = hi >>> 6
      var free = rows(row + k) & ~claimed(k) & (-1L << lo)
      while (free == 0L && k < kHi) { k += 1; free = rows(row + k) & ~claimed(k) }
      if (free != 0L &&
          (k << 6) + java.lang.Long.numberOfTrailingZeros(free) <= hi) {
        claimed(k) |= free & -free
        order(matches) = b1(i)
        matches += 1
      }
      i += 1
    }

    var halfTrans = 0
    var m = 0
    var k = 0
    while (m < matches) {
      var c = claimed(k)
      while (c != 0L) {
        if (b2((k << 6) + java.lang.Long.numberOfTrailingZeros(c)) != order(m))
          halfTrans += 1
        m += 1
        c &= c - 1
      }
      k += 1
    }
    j = 0
    while (j < l2) { rows(b2(j) * words + (j >>> 6)) = 0L; j += 1 }

    if (matches == 0) return 0.0
    val t = halfTrans / 2
    (matches.toDouble / l1 + matches.toDouble / l2 +
      (matches - t).toDouble / matches) / 3.0
  }

  @inline private def isAscii(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** UTF8String entry point used by the Catalyst expressions: ASCII byte
    * fast path (no String/char[] materialization), char fallback. */
  def jaroWinklerUtf8(a: UTF8String, b: UTF8String): Double = {
    val ab = a.getBytes; val bb = b.getBytes
    if (isAscii(ab, 0, ab.length) && isAscii(bb, 0, bb.length)) {
      val l1 = ab.length; val l2 = bb.length
      if (l1 == 0 && l2 == 0) return 1.0
      if (l1 == 0 || l2 == 0) return 0.0
      if (a.equals(b)) return 1.0
      val j = jaroAsciiBytes(ab, l1, bb, l2)
      if (j > 0.7) {
        val maxP = math.min(4, math.min(l1, l2))
        var p = 0
        while (p < maxP && ab(p) == bb(p)) p += 1
        if (p > 0) j + p * 0.1 * (1.0 - j) else j
      } else j
    } else jaroWinkler(a.toString, b.toString)
  }

  def hammingSimUtf8(a: UTF8String, b: UTF8String): Double = {
    val ab = a.getBytes; val bb = b.getBytes
    if (isAscii(ab, 0, ab.length) && isAscii(bb, 0, bb.length)) {
      val l1 = ab.length; val l2 = bb.length
      val mx = math.max(l1, l2)
      if (mx == 0) return 1.0
      val mn = math.min(l1, l2)
      var d = mx - mn
      var i = 0
      while (i < mn) { if (ab(i) != bb(i)) d += 1; i += 1 }
      1.0 - d.toDouble / mx
    } else hammingSim(a.toString, b.toString)
  }

  private val Space = UTF8String.fromString(" ")

  @inline private def field(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) UTF8String.EMPTY_UTF8 else r.getUTF8String(i)

  /** Composite address comparator, reference matching.py:64–249 (the
    * FRIL-style matchStreetName logic) over two addr structs in
    * [[graft.linkage.Schemas.addrStruct]] field order; a null field reads
    * as empty. Each distinct comparison runs once, and only on the branch
    * that reads it: the street-street and value-value Jaro-Winkler are
    * each computed once although three and two terms use them. Arithmetic
    * follows the reference term by term, so scores are bit-identical to a
    * Column-tree port of the same lines (AddressDistanceSpec keeps that
    * tree as its oracle). */
  def addressDistance(a: InternalRow, b: InternalRow): Double = {
    val a1 = field(a, 5); val a2 = field(b, 5)
    // empty → 0 / identical → 1 short-circuits (matching.py:71–83)
    if (a1.numBytes == 0 || a2.numBytes == 0) return 0.0
    if (a1 == a2) return 1.0
    val n1 = field(a, 0); val n2 = field(b, 0)
    val s1 = field(a, 1); val s2 = field(b, 1)
    val x1 = field(a, 2); val x2 = field(b, 2)
    val p1 = field(a, 3); val p2 = field(b, 3)
    val v1 = field(a, 4); val v2 = field(b, 4)
    val hasN1 = n1.numBytes > 0; val hasN2 = n2.numBytes > 0
    val hasS1 = s1.numBytes > 0; val hasS2 = s2.numBytes > 0
    val hasX1 = x1.numBytes > 0; val hasX2 = x2.numBytes > 0
    val hasP1 = p1.numBytes > 0; val hasP2 = p2.numBytes > 0
    val hasV1 = v1.numBytes > 0; val hasV2 = v2.numBytes > 0
    def jw(l: UTF8String, r: UTF8String): Double = jaroWinklerUtf8(l, r)

    // weight shift on second-level presence (matching.py:85–98)
    val noSecond = !hasP1 && !hasP2 && !hasV1 && !hasV2
    val wNumber = if (noSecond) 0.5 else 0.3
    val wStreet = 0.5
    val wSecondary = if (noSecond) 0.0 else 0.2

    // number: normalized hamming when both present (matching.py:100–103)
    val numberScore =
      if (hasN1 && hasN2) wNumber * hammingSimUtf8(n1, n2) else 0.0

    // street-name block (matching.py:105–175)
    val maxScoreStr =
      if (hasS1 && hasS2) {
        val jw12 = jw(s1, s2)
        // textdistance short-circuit: the suffix part counts only when
        // the street part is nonzero (matching.py:109–115)
        val perfect =
          if (hasX1 && hasX2 && jw12 * 0.8 != 0.0) jw12 * 0.8 + jw(x1, x2) * 0.2
          else 0.0
        val drop1 = if (hasX1) jw(UTF8String.concatWs(Space, s1, x1), s2) else 0.0
        val drop2 = if (hasX2) jw(UTF8String.concatWs(Space, s2, x2), s1) else 0.0
        val ignoreSuffix = jw12 * (if (!hasX1 && !hasX2) 1.0 else 0.7)
        math.max(math.max(math.max(perfect, drop1), drop2), ignoreSuffix)
      } else {
        // one/both streets missing: test each street against the other's
        // suffix (matching.py:137–162; the addr1-only branch at 163–172
        // is dead code in the reference and is not reproduced)
        val m1 =
          if (hasS1 && hasX2)
            math.max(jw(UTF8String.concatWs(Space, s1, x1), x2) * 0.7,
              jw(s1, x2) * 0.7)
          else 0.0
        val m2 =
          if (hasS2 && hasX1)
            math.max(jw(UTF8String.concatWs(Space, s2, x2), x1) * 0.7,
              jw(s2, x1) * 0.7)
          else 0.0
        math.max(m1, m2)
      }
    val streetScore = math.max(maxScoreStr, 0.0) * wStreet

    // second-level block (matching.py:177–241)
    val secondaryScore =
      if ((hasP1 && hasP2) || (hasV1 && hasV2)) {
        val pv1 = UTF8String.concat(p1, v1); val pv2 = UTF8String.concat(p2, v2)
        val sec =
          if (hasV1 && hasV2) {
            val jwv = jw(v1, v2)
            val secPerfect =
              if (hasP1 && hasP2) jwv * 0.8 + jw(p1, p2) * 0.2 else 0.0
            val secDrop1 =
              if (hasP1) jw(UTF8String.concatWs(Space, p1, v1), v2) else 0.0
            val secDrop2 =
              if (hasP2) jw(UTF8String.concatWs(Space, p2, v2), v1) else 0.0
            val secAdj = if (!hasP1 && !hasP2) 1.0 else 0.7
            math.max(math.max(math.max(secPerfect, secDrop1), secDrop2),
              jwv * secAdj)
          } else {
            val secV1 =
              if (hasV1) math.max(jw(pv1, p2) * 0.6, jw(v1, p2) * 0.6) else 0.0
            val secV2 =
              if (hasV2) math.max(jw(pv2, p1) * 0.6, jw(v2, p1) * 0.6) else 0.0
            math.max(secV1, secV2)
          }
        math.max(sec, jw(pv1, pv2) * 0.8)
      } else 0.0

    // whole-string floor (matching.py:245–248)
    val base = numberScore + streetScore
    val wholeString = jw(a1, a2) * (wNumber + wStreet) * 0.6
    math.max(base, wholeString) + secondaryScore * wSecondary
  }

  /** The scoring prefilter's value: `[d]` when d = [[addressDistance]]
    * exceeds `threshold`, else `[]` (see [[AddressDistanceAbove]]). */
  def addressDistanceAbove(a: InternalRow, b: InternalRow,
                           threshold: Double): ArrayData = {
    val d = addressDistance(a, b)
    UnsafeArrayData.fromPrimitiveArray(
      if (d > threshold) Array(d) else Array.emptyDoubleArray)
  }

  /** NFKD-normalize, drop non-ASCII, trim, upper-case — exactly the
    * reference's `clean_string` (utils/data_reader.py:108–114:
    * `unicodedata.normalize("NFKD", s).encode("ascii","ignore").strip().upper()`).
    * Python bytes.strip() trims ASCII whitespace \t\n\v\f\r and space.
    */
  def normalizeAscii(s: String): String = {
    if (s == null) return null
    val n = Normalizer.normalize(s, Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) {
      val c = n.charAt(i)
      if (c < 128) sb.append(Character.toUpperCase(c))
      i += 1
    }
    // trim ASCII whitespace (space, \t..\r) from both ends, like bytes.strip()
    var from = 0
    var to = sb.length
    while (from < to && isAsciiSpace(sb.charAt(from))) from += 1
    while (to > from && isAsciiSpace(sb.charAt(to - 1))) to -= 1
    sb.substring(from, to)
  }

  @inline private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Plain Jaro similarity (textdistance parity). */
  def jaro(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m = flags(l1 + l2) // [0,l1) = s1 flags, [l1,l1+l2) = s2 flags
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m(l1 + j) && s1.charAt(i) == s2.charAt(j)) {
          m(i) = true; m(l1 + j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: matched chars out of order, halved
    var k = 0
    var halfTrans = 0
    i = 0
    while (i < l1) {
      if (m(i)) {
        while (!m(l1 + k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) halfTrans += 1
        k += 1
      }
      i += 1
    }
    // textdistance parity: `trans_count //= 2` — integer FLOOR division
    // (an odd out-of-order count rounds down; verified against DuckDB's
    // implementation on e.g. "old anvil" vs "Brand#14" → t=1, not 1.5)
    val t = halfTrans / 2
    (matches.toDouble / l1 + matches.toDouble / l2 +
      (matches - t).toDouble / matches) / 3.0
  }

  /** Jaro-Winkler, textdistance parity: bonus iff jaro > 0.7, prefix ≤ 4,
    * weight 0.1. */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j > 0.7) {
      val maxP = math.min(4, math.min(s1.length, s2.length))
      var p = 0
      while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
      if (p > 0) j + p * 0.1 * (1.0 - j) else j
    } else j
  }

  /** Normalized Hamming similarity, textdistance parity
    * (truncate=False: length difference counts as mismatches). */
  def hammingSim(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    val mx = math.max(l1, l2)
    if (mx == 0) return 1.0
    val mn = math.min(l1, l2)
    var d = mx - mn
    var i = 0
    while (i < mn) {
      if (s1.charAt(i) != s2.charAt(i)) d += 1
      i += 1
    }
    1.0 - d.toDouble / mx
  }

  private val metaphoneCodec = {
    val m = new org.apache.commons.codec.language.Metaphone
    m.setMaxCodeLen(8)
    m
  }

  /** Metaphone signature (p-sig blocking schema,
    * example-schema/blocking-schema/p-sig.json signatureSpecs[1]).
    * commons-codec Metaphone; non-alpha stripped first (codec requirement).
    */
  def metaphone(s: String): String = {
    if (s == null) return null
    val letters = s.filter(c => Character.isLetter(c))
    if (letters.isEmpty) "" else metaphoneCodec.metaphone(letters)
  }
}
