package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.linkage.expr.{TextKernel, functions => gf}

/** Text analysis for training-data curation: language ID (stopword-profile
  * heuristic), quality scoring, repetition signals, tokenization
  * (whitespace + BPE-ish regex), TF-IDF and document fingerprinting.
  * Language ID, quality and repetition are per-row projections of one
  * codegen'd kernel pass over each text (expr.TextKernel); the rest are
  * Column expressions.
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

  // ---------- the per-document kernel ----------

  /** Prefix of the kernel's columns in a [[withTextFeatures]] frame. */
  private[graft] val Prefix = "_tf_"

  /** The columns [[qualityFeatures]] adds, in order. */
  val QualityFields: Seq[String] = Seq("n_tokens", "punct_ratio", "ttr",
    "mean_word_len", "stopword_ratio", "quality_score")

  /** `docs` plus every [[TextKernel]] field as a `_tf_<field>` column,
    * `ngram` ≥ 1 adding the repetition signals. One Generate over
    * `inline(array(text_features(text)))`: the kernel runs once per row,
    * and a filter on one of its fields stays above the Generate. (Over a
    * plain projection of the struct, filter pushdown would copy the whole
    * kernel call into the Filter and run it twice per row.) */
  private[graft] def withTextFeatures(docs: DataFrame, textCol: String,
                                      ngram: Int = 0): DataFrame =
    docs.select(col("*"),
      inline(array(gf.text_features(col(textCol), ngram)))
        .as(TextKernel.Schema.fieldNames.toSeq.map(Prefix + _)))

  /** `cols` of a [[withTextFeatures]] frame, then the kernel `fields`
    * under their own names; a field named like one of `cols` replaces
    * it in place, as `withColumn` does. */
  private[graft] def selectFeatures(feats: DataFrame, cols: Seq[String],
                                    fields: Seq[String]): DataFrame = {
    def named(c: String) = col("`" + c.replace("`", "``") + "`")
    feats.select(cols.map(c =>
      if (fields.contains(c)) col(Prefix + c).as(c) else named(c)) ++
      fields.filterNot(cols.contains).map(f => col(Prefix + f).as(f)): _*)
  }

  // ---------- language ID ----------

  /** Adds `lang_guess`: the stopword profile with the most hits among the
    * lowered whitespace tokens (earliest-alphabetical tie-break), "zh"
    * first when more than half the characters are CJK ideographs, "und"
    * (undetermined) when no profile hits. The id column comes first, then
    * the other columns of `docs`. A per-row projection of the text
    * kernel: no token rows, no shuffle, and each row gets its own guess
    * whatever ids it shares. */
  def langGuessDf(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    selectFeatures(withTextFeatures(docs, textCol),
      idCol +: docs.columns.toSeq.filterNot(_ == idCol), Seq("lang_guess"))

  // ---------- quality scoring ----------

  /** Heuristic quality features + a composite score in [0,1]:
    * length band, type-token ratio, punctuation ratio, mean word length
    * band, stopword presence ([[QualityFields]], see [[TextKernel]]). A
    * per-row projection of the text kernel. */
  def qualityFeatures(docs: DataFrame, textCol: String = "text"): DataFrame =
    selectFeatures(withTextFeatures(docs, textCol), docs.columns.toSeq,
      QualityFields)

  /** Gopher-style repetition signals per document (the published
    * quality heuristics a boilerplate/spam filter keys on):
    *
    *   - dup_word_frac: 1 − |distinct words| / |words|
    *   - dup_ngram_char_frac: gram-character mass sitting in n-grams
    *     that occur more than once, over total gram-character mass
    *   - top_ngram / top_ngram_frac: the single most frequent n-gram
    *     (count ties broken by the lexicographically GREATEST gram,
    *     deterministic) and its share of gram-character mass
    *
    * Duplicate grams are kept (multiplicity is the signal); fractions are
    * rounded to 6 so the cross-engine oracle can't diverge on FP division
    * ulps. Docs with fewer than n tokens get 0 fractions and an empty top
    * gram; an n below 1 counts single words. A per-row projection of the
    * text kernel: no gram rows, no shuffle, one row out per row in. */
  def repetitionFeatures(docs: DataFrame, n: Int = 2,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val fields = Seq("dup_word_frac", "dup_ngram_char_frac", "top_ngram",
      "top_ngram_frac")
    withTextFeatures(docs, textCol, math.max(n, 1))
      .select(col(idCol) +: fields.map(f => col(Prefix + f).as(f)): _*)
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
