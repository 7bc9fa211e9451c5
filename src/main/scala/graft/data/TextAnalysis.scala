package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language ID (stopword-profile
  * heuristic), quality scoring, tokenization (whitespace + BPE-ish regex),
  * and document fingerprinting. Pure Column expressions — codegen'd,
  * shuffle-free (per-row projections).
  */
object TextAnalysis {

  // ---------- tokenization ----------

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column =
    when(trim(text) === "", array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** BPE-ish pre-tokenizer: letter runs, digit runs, or single
    * non-alnum-non-space chars (GPT-2-style pre-tokenization shape). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(wsTokens(text))
  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  /** n-grams of a token array via iterated zip_with against shifted
    * slices — O(n·k) per doc (transform(sequence, i => element_at(toks,
    * i+j)) is O(n²): element_at walks the array per index). concat (not
    * concat_ws) so the null padding of the shorter slice nulls out
    * incomplete grams, which are then filtered. */
  private[graft] def wordNgrams(toks: Column, cnt: Column, n: Int): Column = {
    val joined = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(cnt - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(joined, g => g.isNotNull)
  }

  // ---------- language ID ----------

  /** Tiny per-language stopword profiles (top function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it",
      "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu",
      "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que",
      "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que", "de",
      "por"))

  /** Per-language hit count: |tokens ∩ stopwords(lang)| weighted by
    * occurrence. */
  def langHits(tokens: Column, lang: String): Column =
    size(filter(tokens, t =>
      t.isin(stopwords(lang).map(s => lit(s): Any): _*)))

  /** DataFrame-level language ID: adds `lang_guess` with the exact
    * [[langGuess]] semantics (argmax stopword hits, earliest-alphabetical
    * tie-break, CJK ratio routes to "zh", no hits → "und").
    *
    * Plan shape for the hot path: [[langGuess]]'s per-row `filter` HOFs
    * run interpreted (HOF lambdas are excluded from whole-stage codegen
    * — measured 3.4 s at sf0.1); this explodes tokens and counts the four
    * profiles as codegen'd conditional sums, shuffling only (id, 4 ints).
    */
  def langGuessDf(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val tok = lower(col("_tok"))
    val hitSums = langs.map(l =>
      sum(when(tok.isin(stopwords(l).map(x => x: Any): _*), 1).otherwise(0))
        .as(s"_h_$l"))
    val hits = docs
      .select(col(idCol), explode(wsTokens(col(textCol))).as("_tok"))
      .groupBy(col(idCol)).agg(hitSums.head, hitSums.tail: _*)
    val joined = docs.join(hits, Seq(idCol), "left") // 0-token docs drop out
    val h = langs.map(l => coalesce(col(s"_h_$l"), lit(0)))
    // argmax with earliest-alphabetical tie-break — identical to the
    // stable descending sort in langGuess (first among equal hits wins)
    def wins(i: Int): Column =
      (i + 1 until langs.size).map(j => h(i) >= h(j))
        .reduceOption(_ && _).getOrElse(lit(true))
    val best = (0 until langs.size - 1)
      .foldRight(lit(langs.last): Column) { (i, acc) =>
        when(wins(i), lit(langs(i))).otherwise(acc)
      }
    val cjk = length(regexp_replace(col(textCol), "[^\\u4e00-\\u9fff]", ""))
    joined
      .withColumn("lang_guess",
        when(cjk * 2 > length(col(textCol)), lit("zh"))
          .when(greatest(h: _*) > 0, best)
          .otherwise(lit("und")))
      .drop(langs.map(l => s"_h_$l"): _*)
  }

  /** Argmax language guess; "und" (undetermined) when no profile hits.
    * A CJK ratio check routes ideographic text to "zh" first.
    * Per-row Column form — convenient for single expressions; the HOFs
    * inside run interpreted, so batch scoring should use [[langGuessDf]].
    */
  def langGuess(text: Column): Column = {
    val toks = transform(wsTokens(text), t => lower(t))
    val scored = array(stopwords.keys.toSeq.sorted.map(l =>
      struct(langHits(toks, l).as("hits"), lit(l).as("lang"))): _*)
    val best = element_at(array_sort(scored, (a, b) =>
      when(a.getField("hits") > b.getField("hits"), -1)
        .when(a.getField("hits") < b.getField("hits"), 1)
        .otherwise(0)), 1)
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    when(cjk * 2 > length(text), lit("zh"))
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  // ---------- quality scoring ----------

  /** Heuristic quality features + a composite score in [0,1]:
    * length band, type-token ratio, punctuation ratio, mean word length
    * band, stopword presence. */
  def qualityFeatures(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
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

  /** Gopher-style repetition signals per document (the published
    * quality heuristics a boilerplate/spam filter keys on):
    *
    *   - dup_word_frac: 1 − |distinct words| / |words|
    *   - dup_ngram_char_frac: gram-character mass sitting in n-grams
    *     that occur more than once, over total gram-character mass
    *   - top_ngram / top_ngram_frac: the single most frequent n-gram
    *     (count ties broken by lexicographically GREATEST gram — the
    *     max of the (count, gram) struct, deterministic) and its share
    *     of gram-character mass
    *
    * Plan shape: explode word n-grams (duplicates KEPT — multiplicity
    * is the signal) → partial-agg count per (doc, gram) → one per-doc
    * aggregate with max_by on the (count, gram) struct. Two shuffles of
    * small rows, everything codegen'd; fractions rounded to 6 so the
    * cross-engine oracle can't diverge on FP division ulps. Docs with
    * fewer than n tokens get 0 fractions and an empty top gram. */
  def repetitionFeatures(docs: DataFrame, n: Int = 2,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val toks = wsTokens(col(textCol))
    val base = docs.select(col(idCol),
      size(toks).as("_n_tok"), size(array_distinct(toks)).as("_n_uniq"),
      when(size(toks) >= n, wordNgrams(toks, size(toks), n))
        .otherwise(array().cast("array<string>")).as("_grams"))
    val gramCounts = base
      .select(col(idCol), explode(col("_grams")).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val mass = col("cnt") * length(col("gram"))
    val perDoc = gramCounts.groupBy(col(idCol)).agg(
      sum(mass).as("_total_mass"),
      sum(when(col("cnt") > 1, mass).otherwise(0L)).as("_dup_mass"),
      max_by(col("gram"), struct(col("cnt"), col("gram"))).as("top_ngram"),
      max(struct(col("cnt"), col("gram"))).getField("cnt").as("_top_cnt"))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
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

  // ---------- TF-IDF ----------

  /** Top-k TF-IDF terms per selected doc. Document frequency is computed
    * over the WHOLE corpus (one distinct+groupBy over exploded terms —
    * map-side partial aggregation, 8-byte-ish term rows); term
    * frequencies and ranking only for the docs matching `select` (push
    * the sample down before the per-doc work). tfidf =
    * (cnt/n_tok) · ln(N/df), rounded to 6 — ranking happens ON the
    * rounded value so cross-engine ulp noise in ln cannot reorder ties.
    * Window is per-doc (bounded partitions), never global. */
  def tfIdfTopTerms(docs: DataFrame, select: Column, k: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text",
                    totalDocs: Option[Long] = None): DataFrame = {
    // `totalDocs` lets a caller that knows the corpus size (or can count
    // it from parquet footers) skip a count() over `docs` — which, when
    // `docs` carries a repartition or other non-trivial lineage, is a
    // full extra pass, not a metadata read (optimization guide §1.4).
    val n = totalDocs.getOrElse(docs.count())
    val terms = docs.select(col(idCol),
      explode(wsTokens(lower(col(textCol)))).as("term"))
    val dfreq = terms.select(idCol, "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val sampled = terms.filter(select)
    val lens = sampled.groupBy(idCol).agg(count(lit(1)).as("n_tok"))
    val tf = sampled.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val scored = tf.join(dfreq, "term").join(lens, idCol)
      .withColumn("tfidf", round(
        (col("cnt").cast("double") / col("n_tok")) *
          log(lit(n.toDouble) / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rank"))
  }

  // ---------- fingerprinting ----------

  /** Winnowing-style fingerprint: minimum of rolling k-gram hashes —
    * stable under text reordering-free edits; plus a full-content hash.
    * `hash` defaults to xxhash64 (codegen'd, 8-byte — the at-scale
    * choice); pass `md5` for a cross-engine-checkable variant (the
    * q_fingerprints oracle runs the same md5 min-gram in DuckDB).
    *
    * Plan shape — MEASURED, and the opposite of the minhash lesson: the
    * per-gram hash does run as an interpreted HOF lambda here, but an
    * explode + partial-min-agg + join-back restructure (the shape that
    * won minhash 12.4 s → 9.2 s) LOST at sf0.1 for both hash choices
    * (xxh64 0.67 s row-form vs 0.81 s exploded; md5 0.74 vs 0.94).
    * Minhash does k=64 hashes per exploded row — hoisting them into
    * codegen pays for its shuffle; fingerprinting does ONE, and the
    * added (id, hash) shuffle + agg + join-back costs more than the
    * interpreter overhead it removes. Zero-shuffle per-row projection
    * is the right 100-TB shape for a 1-hash/gram op. */
  def fingerprints(docs: DataFrame, textCol: String = "text",
                   k: Int = 5,
                   hash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = wsTokens(col(textCol))
    val cnt = size(toks)
    val grams = when(cnt >= k,
      transform(wordNgrams(toks, cnt, k), g => hash(g)))
      .otherwise(array(hash(col(textCol))))
    docs
      .withColumn("content_hash", hash(col(textCol)))
      .withColumn("min_gram_fp", array_min(grams))
      .withColumn("max_gram_fp", array_max(grams))
  }
}
