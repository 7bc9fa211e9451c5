package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.data.TextAnalysis
import graft.data.TextAnalysis.{wordNgrams, wsTokens}
import graft.linkage.expr.{TextFeatures, TextKernel}

/** Pins the per-document text kernel (expr.TextKernel: quality features,
  * stopword-profile hits and language guess, Gopher repetition signals)
  * bit for bit — through the DataFrame operators that project it, its
  * generated code and its interpreted `eval` — to the Spark SQL
  * pipelines it replaced, kept here as its oracles: the quality Column
  * tree with `filter` HOF stopword counts, the token explode +
  * conditional-sum + join-back language guess and its per-row
  * `array_sort` form, and the gram explode + two aggregates + join-back
  * repetition signals. */
class TextKernelSpec extends AnyFunSuite with SparkFixture {

  // ---------- the Column oracles ----------

  private val profiles = TextKernel.Stopwords.toMap
  private val langs = TextKernel.Stopwords.map(_._1)

  private def langHits(tokens: Column, lang: String): Column =
    size(filter(tokens, t => t.isin(profiles(lang).map(s => lit(s): Any): _*)))

  private def cjkMajority(text: Column): Column =
    length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) * 2 > length(text)

  private def oracleQuality(docs: DataFrame): DataFrame = {
    val text = col("text")
    val toks = wsTokens(text)
    val nTok = size(toks)
    val nChar = length(text)
    val punct = nChar - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))
    val ttr = when(nTok > 0,
      size(array_distinct(toks)).cast("double") / nTok).otherwise(0.0)
    val meanWordLen = when(nTok > 0,
      (nChar - (nTok - 1)).cast("double") / nTok).otherwise(0.0)
    val stopRatio = when(nTok > 0,
      langHits(transform(toks, lower(_)), "en").cast("double") / nTok)
      .otherwise(0.0)
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio",
        when(nChar > 0, punct.cast("double") / nChar).otherwise(0.0))
      .withColumn("ttr", ttr)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score",
        round(
          (when(nTok.between(10, 5000), 0.3).otherwise(0.0)) +
          (when(col("ttr").between(0.2, 0.95), 0.25).otherwise(0.0)) +
          (when(col("punct_ratio") < 0.2, 0.2).otherwise(0.0)) +
          (when(col("mean_word_len").between(2.0, 12.0), 0.15)
            .otherwise(0.0)) +
          (when(col("stopword_ratio") > 0.02, 0.1).otherwise(0.0)), 4))
  }

  /** (doc_id, hits per profile…, lang_guess): token explode, codegen'd
    * conditional sums, join back. */
  private def oracleLangGuessDf(docs: DataFrame): DataFrame = {
    val tok = lower(col("_tok"))
    val hitSums = langs.map(l =>
      sum(when(tok.isin(profiles(l).map(x => x: Any): _*), 1).otherwise(0))
        .as(s"_h_$l"))
    val hits = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("_tok"))
      .groupBy(col("doc_id")).agg(hitSums.head, hitSums.tail: _*)
    val h = langs.map(l => coalesce(col(s"_h_$l"), lit(0)))
    def wins(i: Int): Column =
      (i + 1 until langs.size).map(j => h(i) >= h(j))
        .reduceOption(_ && _).getOrElse(lit(true))
    val best = (0 until langs.size - 1)
      .foldRight(lit(langs.last): Column) { (i, acc) =>
        when(wins(i), lit(langs(i))).otherwise(acc)
      }
    docs.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id") +: h :+
        when(cjkMajority(col("text")), lit("zh"))
          .when(greatest(h: _*) > 0, best)
          .otherwise(lit("und")).as("lang_guess"): _*)
  }

  /** The per-row form: stable descending sort of (hits, lang) structs. */
  private def oracleLangGuess(text: Column): Column = {
    val toks = transform(wsTokens(text), t => lower(t))
    val scored = array(langs.map(l =>
      struct(langHits(toks, l).as("hits"), lit(l).as("lang"))): _*)
    val best = element_at(array_sort(scored, (a, b) =>
      when(a.getField("hits") > b.getField("hits"), -1)
        .when(a.getField("hits") < b.getField("hits"), 1)
        .otherwise(0)), 1)
    when(cjkMajority(text), lit("zh"))
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  private def oracleRepetition(docs: DataFrame, n: Int): DataFrame = {
    val toks = wsTokens(col("text"))
    val base = docs.select(col("doc_id"),
      size(toks).as("_n_tok"), size(array_distinct(toks)).as("_n_uniq"),
      when(size(toks) >= n, wordNgrams(toks, size(toks), n))
        .otherwise(array().cast("array<string>")).as("_grams"))
    val gramCounts = base
      .select(col("doc_id"), explode(col("_grams")).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val mass = col("cnt") * length(col("gram"))
    val perDoc = gramCounts.groupBy(col("doc_id")).agg(
      sum(mass).as("_total_mass"),
      sum(when(col("cnt") > 1, mass).otherwise(0L)).as("_dup_mass"),
      max_by(col("gram"), struct(col("cnt"), col("gram"))).as("top_ngram"),
      max(struct(col("cnt"), col("gram"))).getField("cnt").as("_top_cnt"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(when(col("_n_tok") > 0,
          lit(1.0) - col("_n_uniq").cast("double") / col("_n_tok"))
          .otherwise(0.0), 6).as("dup_word_frac"),
        round(when(col("_total_mass") > 0,
          col("_dup_mass").cast("double") / col("_total_mass"))
          .otherwise(0.0), 6).as("dup_ngram_char_frac"),
        coalesce(col("top_ngram"), lit("")).as("top_ngram"),
        round(when(col("_total_mass") > 0,
          (col("_top_cnt") * length(col("top_ngram"))).cast("double") /
            col("_total_mass")).otherwise(0.0), 6).as("top_ngram_frac"))
  }

  // ---------- the seeded corpus ----------

  private val Null = Option.empty[Array[Byte]]
  private def utf8(s: String) = Some(s.getBytes("UTF-8"))
  private def bytes(xs: Int*) = Some(xs.map(_.toByte).toArray)

  /** (doc_id, raw text bytes): the edge cases, then seeded random docs
    * mixing stopwords of every profile in every case, non-ASCII words,
    * CJK, punctuation and every \s whitespace byte. Raw bytes so
    * malformed UTF-8 is a case. */
  private lazy val texts: Seq[(Long, Option[Array[Byte]])] = {
    val rnd = new scala.util.Random(1616L)
    val vocab = Seq("the", "The", "THE", "a", "A", "and", "of", "to", "is",
      "der", "Die", "das", "UND", "nicht", "le", "la", "LA", "les", "est",
      "el", "los", "y", "que", "de", "Por", "cat", "sat", "mat", "house",
      "straße", "naïve", "über", "İt", "İS", "ΣΟΦΟΣ", "ΟΔΟΣ", "日本語", "中文",
      "你好", "😀", "ａ", "x,", "end.", "--", "42", "(a)", "e-mail")
    val seps = Seq(" ", " ", " ", " ", "  ", "\t", "\n", " \t ", "\r\n",
      "\u000b", "\f")
    val edge = Seq(Null, utf8(""), utf8("   "), utf8(" \t "), utf8("\t"),
      utf8("\tThe cat and the dog sat on a mat in the house"),
      utf8("the cat and the dog sat on a mat in the house\n"),
      utf8("  the cat  "), utf8("solo"), utf8("one two"),
      utf8("你好 世界 这是 中文 文本 测试 the and"),
      utf8("中文 the and of to in is that it for a"),
      utf8("你好世界 ab"), utf8("İT İS THE İN İ"), utf8("İt is the İn"),
      utf8("ΣΊΣΥΦΟΣ ΟΔΟΣ der DIE Das ΣΟΦΟΣ"), utf8("ÜND und Und UND"),
      utf8("ＴＨＥ the"), utf8("Hello, world! 42 times."),
      utf8("a a a a a a a a a a a a"), utf8("a b a b c"),
      utf8("a b a c a b a c"), utf8("w x y z"),
      utf8("ａ 😀 ａ 😀"), utf8("ａ b ａ b 😀 b 😀 b"),
      utf8("le la les et est un une des que pour el la los y es"),
      utf8("la que un de la que"), utf8("der die und the and"),
      bytes('t', 'h', 'e', ' ', 0xC3, ' ', 'c', 'a', 't'),
      bytes(0xFF, ' ', 'u', 'n', 'd', ' ', 'd', 'e', 'r'),
      bytes('a', ' ', 0xED, 0xA0, 0x80, ' ', 'b', ' ', 'a', ' ', 'b'),
      bytes('x', ' ', 0xF0, ' ', ' '), bytes(0xE4, 0xB8, ' ', 'a'),
      bytes(0xE4, 0xB8, 0xAD, 0xE4, 0xB8, ' ', 0xC3),
      utf8(Seq.fill(9)("the").mkString(" ")),
      utf8(Seq.fill(10)("the").mkString(" ")),
      utf8(Seq.fill(5001)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val random = (0 until 500).map { _ =>
      val n = rnd.nextInt(if (rnd.nextInt(10) == 0) 300 else 40)
      val words = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val body = words.map(w => w + seps(rnd.nextInt(seps.size))).mkString
      val lead = Seq("", "", "", " ", "  ", "\t", "\n ")(rnd.nextInt(7))
      utf8(lead + body.dropRight(rnd.nextInt(2)))
    }
    (edge ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private def utf8Of(t: Option[Array[Byte]]): UTF8String =
    t.map(UTF8String.fromBytes).orNull

  private def label(id: Long): String =
    s"doc $id ${texts(id.toInt)._2.map(b => new String(b, "UTF-8").take(40))}"

  /** RDD-backed (doc_id, text): keeps projections on the codegen path
    * (ConvertToLocalRelation would evaluate a local relation interpreted). */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(texts, 4).toDF("doc_id", "bin")
      .select(col("doc_id"), col("bin").cast("string").as("text"))
  }

  private def icu: Boolean =
    spark.conf.get(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key).toBoolean

  /** The kernel's rows under interpreted `eval` and under the generated
    * code of an unsafe projection (no interpreted fallback), per text. */
  private def kernelRows(n: Int): Seq[(Long, InternalRow, InternalRow)] = {
    val generated = GenerateUnsafeProjection.generate(
      Seq(TextFeatures(BoundReference(0, StringType, nullable = true), n,
        icu)))
    texts.map { case (id, t) =>
      val interpreted = TextFeatures(Literal(utf8Of(t), StringType), n, icu)
        .eval().asInstanceOf[InternalRow]
      val gen = generated(InternalRow(utf8Of(t))).getStruct(0,
        TextKernel.Schema.length).copy()
      (id, interpreted, gen)
    }
  }

  private def field(r: InternalRow, name: String): Any = {
    val i = TextKernel.Schema.fieldIndex(name)
    if (r.isNullAt(i)) null
    else TextKernel.Schema(i).dataType match {
      case StringType => r.getUTF8String(i).toString
      case org.apache.spark.sql.types.IntegerType => r.getInt(i)
      case _ => r.getDouble(i)
    }
  }

  /** Doubles compared by their bits, everything else by equality. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.doubleToLongBits(x) ==
      java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  private def byId(df: DataFrame, fields: Seq[String]): Map[Long, Seq[Any]] =
    df.select(col("doc_id") +: fields.map(col): _*).collect()
      .map((r: Row) => r.getLong(0) -> fields.indices.map(i => r.get(i + 1)))
      .toMap

  private def check(want: Map[Long, Seq[Any]], fields: Seq[String],
                    forms: (String, Map[Long, Seq[Any]])*): Unit = {
    assert(want.size == texts.size)
    texts.foreach { case (id, _) =>
      forms.foreach { case (form, got) =>
        fields.indices.foreach { i =>
          assert(same(got(id)(i), want(id)(i)),
            s"$form ${fields(i)}: ${got(id)(i)} vs ${want(id)(i)}, ${label(id)}")
        }
      }
    }
  }

  private def fromKernel(n: Int, fields: Seq[String])
      : (Map[Long, Seq[Any]], Map[Long, Seq[Any]]) = {
    val rows = kernelRows(n)
    (rows.map(r => r._1 -> fields.map(field(r._2, _))).toMap,
      rows.map(r => r._1 -> fields.map(field(r._3, _))).toMap)
  }

  // ---------- properties ----------

  test("quality features ≡ Column oracle (operator, codegen, interpreted)") {
    val fields = TextAnalysis.QualityFields
    val want = byId(oracleQuality(docs), fields)
    val (interpreted, generated) = fromKernel(0, fields)
    check(want, fields,
      "qualityFeatures" -> byId(TextAnalysis.qualityFeatures(docs), fields),
      "eval" -> interpreted, "codegen" -> generated)
    // the corpus reaches every band edge and the null/zero-token rows
    val scores = want.values.map(_(5)).toSet
    assert(scores.size >= 6, s"quality scores: $scores")
    assert(want(0L).head == null && want(1L).head == 0)
  }

  test("language guess ≡ join-back and per-row oracles, hits included") {
    val fields = langs.map(l => s"hits_$l") :+ "lang_guess"
    val want = byId(oracleLangGuessDf(docs).toDF("doc_id" +: fields: _*),
      fields)
    val perRow = byId(docs.select(col("doc_id"),
      oracleLangGuess(col("text")).as("lang_guess")), Seq("lang_guess"))
    val feats = TextAnalysis.withTextFeatures(docs, "text")
      .select(col("doc_id") +: fields.map(f =>
        col(TextAnalysis.Prefix + f).as(f)): _*)
    val (interpreted, generated) = fromKernel(0, fields)
    check(want, fields, "withTextFeatures" -> byId(feats, fields),
      "eval" -> interpreted, "codegen" -> generated)
    check(want.map { case (id, v) => id -> Seq(v.last) }, Seq("lang_guess"),
      "per-row oracle" -> perRow,
      "langGuessDf" -> byId(TextAnalysis.langGuessDf(docs), Seq("lang_guess")))
    val guesses = want.values.map(_.last).groupBy(identity).map {
      case (g, gs) => g -> gs.size }
    assert(Seq("de", "en", "es", "fr", "zh", "und").forall(guesses.contains),
      s"guesses: $guesses")
  }

  test("repetition signals ≡ Column oracle for n = 1, 2, 3") {
    val fields = Seq("dup_word_frac", "dup_ngram_char_frac", "top_ngram",
      "top_ngram_frac")
    Seq(1, 2, 3).foreach { n =>
      val want = byId(oracleRepetition(docs, n), fields)
      val (interpreted, generated) = fromKernel(n, fields)
      check(want, fields,
        s"repetitionFeatures n=$n" ->
          byId(TextAnalysis.repetitionFeatures(docs, n), fields),
        s"eval n=$n" -> interpreted, s"codegen n=$n" -> generated)
      if (n == 2) {
        // the top gram's count tie breaks in UTF-8 byte order: 😀 (U+1F600)
        // sorts after ａ (U+FF41) there, before it in UTF-16
        val tie = texts.find(_._2.exists(b =>
          new String(b, "UTF-8") == "ａ b ａ b 😀 b 😀 b")).get._1
        assert(want(tie)(2) == "😀 b")
      }
    }
    // without an n-gram size the repetition fields are not computed
    val (skipped, _) = fromKernel(0, fields)
    assert(skipped.values.forall(_.forall(_ == null)))
  }
}
