package graft.linkage.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-document text kernel, written as static methods so both the
  * interpreted `eval` and the whole-stage-codegen paths of
  * [[TextFeatures]] call the same code. One pass over a document's text
  * yields its quality features, its language guess and (for an n-gram
  * size n ≥ 1) its Gopher repetition signals: no per-token rows, no
  * aggregation, no join back to the document.
  *
  * Every value is bit-identical to the Spark SQL pipeline it replaces
  * (TextKernelSpec keeps that pipeline as its oracle):
  *
  *  - tokens: `split(trim(text), "\\s+")`, and none when the trimmed text
  *    is empty. `trim` strips only spaces, and the split keeps the empty
  *    token a leading or trailing tab/newline run leaves. Malformed UTF-8
  *    is decoded to U+FFFD first, as Spark's `split` does.
  *  - `n_tokens`, `ttr` (distinct / all tokens), `mean_word_len`
  *    ((chars − (tokens − 1)) / tokens), `punct_ratio` (chars other than
  *    ASCII letters, digits and `\s` over `length(text)`),
  *    `stopword_ratio` (English profile hits / tokens), each 0.0 when its
  *    denominator is 0, and `quality_score`: the five band weights summed
  *    left to right and rounded HALF_UP to 4 places.
  *  - profile hits: tokens whose Spark `lower` is in a profile, counted
  *    per profile. `lower` is the session's (ICU case mapping by default
  *    in Spark 4.1, `spark.sql.icu.caseMappings.enabled`), so `İ` lowers
  *    to `i̇`, not `i`.
  *  - `lang_guess`: `zh` when more than half of `length(text)` is
  *    U+4E00–U+9FFF, else the profile with the most hits (earliest
  *    alphabetically on ties), else `und`.
  *  - repetition (n ≥ 1): `dup_word_frac` = 1 − distinct / all tokens;
  *    over the word n-grams (joined by one space, none when there are
  *    fewer than n tokens), `dup_ngram_char_frac` is the character mass
  *    (count × length) of grams occurring more than once over the total,
  *    `top_ngram` the most frequent gram (count ties: the greatest gram
  *    in UTF-8 byte order; "" without grams) and `top_ngram_frac` its
  *    mass over the total; fractions rounded HALF_UP to 6 places. With
  *    n = 0 these four fields are null and not computed.
  *
  * A null text has null `n_tokens`, zero features and hits, quality
  * 0.2 (only the punctuation band holds) and `und` (ANSI `size(null)`).
  */
object TextKernel {

  /** Stopword profiles (top function words), in tie-break order. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu",
      "mit", "den"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it",
      "for"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que", "de",
      "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que",
      "pour"))

  private val Langs: Array[UTF8String] =
    Stopwords.map(p => UTF8String.fromString(p._1)).toArray
  private val En = Stopwords.indexWhere(_._1 == "en")
  private val Zh = UTF8String.fromString("zh")
  private val Und = UTF8String.fromString("und")

  /** Lowered stopword → bit i set when it is in profile i. */
  private val profileMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    Stopwords.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach(w => m.put(w, m.getOrDefault(w, 0) | (1 << i)))
    }
    m
  }
  // lowering never shortens a string, so a longer token hits no profile
  private val MaxStopword = Stopwords.flatMap(_._2).map(_.length).max

  // the doubles are nullable, as the Column pipelines this replaced
  // typed them, so a cached or written result keeps its schema
  private def d(name: String) = StructField(name, DoubleType)
  private def i(name: String) = StructField(name, IntegerType, nullable = false)

  /** The struct [[TextFeatures]] returns for an n-gram size: the
    * repetition fields are null only without one (n < 1). */
  def schema(ngram: Int): StructType = StructType(
    Seq(StructField("n_tokens", IntegerType), d("punct_ratio"), d("ttr"),
      d("mean_word_len"), d("stopword_ratio"), d("quality_score")) ++
    Stopwords.map(p => i(s"hits_${p._1}")) ++
    Seq(StructField("lang_guess", StringType, nullable = false),
      d("dup_word_frac"), d("dup_ngram_char_frac"),
      StructField("top_ngram", StringType, nullable = ngram < 1),
      d("top_ngram_frac")))

  /** The fields of every [[schema]], in order. */
  val Schema: StructType = schema(0)

  private val Hits = Schema.fieldIndex(s"hits_${Stopwords.head._1}")
  private val Lang = Schema.fieldIndex("lang_guess")
  private val Rep = Schema.fieldIndex("dup_word_frac")

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  private def isAsciiAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Spark's HALF_UP `round` of a double. */
  private def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Profile bits of one token: its Spark `lower` looked up. */
  private def profiles(tok: String, icuLower: Boolean): Int = {
    var ascii = true
    var upper = false
    var k = 0
    while (k < tok.length) {
      val c = tok.charAt(k)
      if (c >= 0x80) ascii = false
      else if (c >= 'A' && c <= 'Z') upper = true
      k += 1
    }
    if (tok.codePointCount(0, tok.length) > MaxStopword) 0
    else {
      val lowered =
        if (!ascii) CollationSupport.Lower.exec(UTF8String.fromString(tok),
          CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower).toString
        else if (upper) tok.toLowerCase(java.util.Locale.ROOT)
        else tok
      profileMask.getOrDefault(lowered, 0)
    }
  }

  /** Tokens of the decoded text `s`: `split(trim(s), "\\s+", -1)`. */
  private def tokens(s: String): Array[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == e) return Array.empty[String]
    val out = Array.newBuilder[String]
    var start = b
    var k = b
    while (k < e) {
      if (isSpace(s.charAt(k))) {
        out += s.substring(start, k)
        while (k < e && isSpace(s.charAt(k))) k += 1
        start = k
      } else k += 1
    }
    out += s.substring(start, e)
    out.result()
  }

  /** UTF-8 byte order of two valid strings: their code point order. */
  private def utf8Compare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val x = a.codePointAt(i)
      val y = b.codePointAt(j)
      if (x != y) return Integer.compare(x, y)
      i += Character.charCount(x)
      j += Character.charCount(y)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The [[schema]] row of one document; `ngram` ≥ 1 adds the
    * repetition fields over word `ngram`-grams. */
  def features(text: UTF8String, ngram: Int, icuLower: Boolean): InternalRow = {
    val row = new GenericInternalRow(Schema.length)
    if (text == null) {
      row.setNullAt(0)
      var f = 1
      while (f < 5) { row.setDouble(f, 0.0); f += 1 }
      row.setDouble(5, 0.2)
      Stopwords.indices.foreach(p => row.setInt(Hits + p, 0))
      row.update(Lang, Und)
      if (ngram > 0) setRepetition(row, 0, 0, 0L, 0L, "", 0L)
      else (Rep until Schema.length).foreach(row.setNullAt)
      return row
    }
    val s = text.toString
    // whole-text character classes
    var kept = 0
    var cjk = 0
    var k = 0
    while (k < s.length) {
      val c = s.charAt(k)
      if (isAsciiAlnum(c) || isSpace(c)) kept += 1
      else if (c >= '\u4e00' && c <= '\u9fff') cjk += 1
      k += 1
    }
    val nChar = text.numChars()
    val toks = tokens(s)
    val nTok = toks.length
    val distinct = new java.util.HashSet[String](nTok * 2)
    val hits = new Array[Int](Stopwords.size)
    k = 0
    while (k < nTok) {
      distinct.add(toks(k))
      var mask = profiles(toks(k), icuLower)
      var p = 0
      while (mask != 0) {
        if ((mask & 1) != 0) hits(p) += 1
        mask >>>= 1
        p += 1
      }
      k += 1
    }
    val nUniq = distinct.size
    // quality features
    val punctRatio = if (nChar > 0) (nChar - kept).toDouble / nChar else 0.0
    val ttr = if (nTok > 0) nUniq.toDouble / nTok else 0.0
    val meanWordLen =
      if (nTok > 0) (nChar - (nTok - 1)).toDouble / nTok else 0.0
    val stopRatio = if (nTok > 0) hits(En).toDouble / nTok else 0.0
    val score =
      (if (nTok >= 10 && nTok <= 5000) 0.3 else 0.0) +
      (if (ttr >= 0.2 && ttr <= 0.95) 0.25 else 0.0) +
      (if (punctRatio < 0.2) 0.2 else 0.0) +
      (if (meanWordLen >= 2.0 && meanWordLen <= 12.0) 0.15 else 0.0) +
      (if (stopRatio > 0.02) 0.1 else 0.0)
    row.setInt(0, nTok)
    row.setDouble(1, punctRatio)
    row.setDouble(2, ttr)
    row.setDouble(3, meanWordLen)
    row.setDouble(4, stopRatio)
    row.setDouble(5, round(score, 4))
    // language guess
    var best = 0
    var p = 0
    while (p < hits.length) {
      row.setInt(Hits + p, hits(p))
      if (hits(p) > hits(best)) best = p
      p += 1
    }
    row.update(Lang,
      if (cjk * 2 > nChar) Zh else if (hits(best) > 0) Langs(best) else Und)
    // repetition
    if (ngram <= 0) (Rep until Schema.length).foreach(row.setNullAt)
    else {
      var total = 0L
      var dup = 0L
      var top = ""
      var topCnt = 0L
      if (nTok >= ngram) {
        val counts = new java.util.HashMap[String, Array[Int]](nTok * 2)
        val sb = new java.lang.StringBuilder
        var g = 0
        while (g + ngram <= nTok) {
          sb.setLength(0)
          var w = g
          while (w < g + ngram) {
            if (w > g) sb.append(' ')
            sb.append(toks(w))
            w += 1
          }
          val gram = sb.toString
          val c = counts.get(gram)
          if (c == null) counts.put(gram, Array(1)) else c(0) += 1
          g += 1
        }
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          val gram = en.getKey
          val cnt = en.getValue()(0).toLong
          val mass = cnt * gram.codePointCount(0, gram.length)
          total += mass
          if (cnt > 1) dup += mass
          if (topCnt == 0L || cnt > topCnt ||
              (cnt == topCnt && utf8Compare(gram, top) > 0)) {
            top = gram
            topCnt = cnt
          }
        }
      }
      setRepetition(row, nTok, nUniq, total, dup, top, topCnt)
    }
    row
  }

  private def setRepetition(row: GenericInternalRow, nTok: Int, nUniq: Int,
                            total: Long, dup: Long, top: String,
                            topCnt: Long): Unit = {
    row.setDouble(Rep,
      round(if (nTok > 0) 1.0 - nUniq.toDouble / nTok else 0.0, 6))
    row.setDouble(Rep + 1,
      round(if (total > 0) dup.toDouble / total else 0.0, 6))
    row.update(Rep + 2, UTF8String.fromString(top))
    row.setDouble(Rep + 3, round(if (total > 0)
      (topCnt * top.codePointCount(0, top.length)).toDouble / total
      else 0.0, 6))
  }
}
