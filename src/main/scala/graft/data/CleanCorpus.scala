package graft.data

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus cleaning pipeline — the composition the individual
  * data ops exist for: exact dedup → MinHash near-dup dedup → benchmark
  * decontamination (optional) → repetition ceiling (optional) → quality
  * filter → language filter → PII redaction (optional), with per-stage
  * survivor counts. Each stage is
  * the library operator (Dedup / Decontaminate / TextAnalysis / Redact),
  * so every plan-shape property those carry (join-back exact dedup,
  * banded LSH + exact verify, broadcast benchmark grams, codegen'd
  * quality/lang/redact projections) holds for the composed run.
  * Survivor policy is deterministic: exact groups keep the minimum id;
  * near-dup pairs drop the LARGER id of every qualifying pair (so a
  * chain a~b~c keeps only a).
  *
  * The optional stages are DOC-LOCAL (each document is judged against a
  * fixed benchmark set / its own text only), and they run AFTER the
  * near-dup stage, so [[cleanIncremental]]'s full-run-equivalence
  * contract is untouched: the near-dup prev side stays the exact
  * survivors, and doc-local verdicts commute with the increment split.
  */
object CleanCorpus {

  case class Config(
      lang: Option[String] = Some("en"),
      minQuality: Double = 0.5,
      minhash: Dedup.MinHashConfig =
        Dedup.MinHashConfig(jaccardThreshold = 0.8, oph = true),
      /** benchmark/eval docs (benchIdCol, textCol) — when set, docs
        * sharing any `decontNgram`-gram with a benchmark doc are
        * dropped (Decontaminate; benchmark grams broadcast) */
      benchmarks: Option[DataFrame] = None,
      decontNgram: Int = 13,
      benchIdCol: String = "bench_id",
      /** scrub emails/SSNs/cards/phones/IPs from surviving text
        * (Redact.redactText in place — schema unchanged) */
      redactPii: Boolean = false,
      /** Gopher-style repetition ceiling — when set, docs whose
        * duplicated-`repNgram`-gram character mass exceeds this
        * fraction are dropped (TextAnalysis.repetitionFeatures) */
      maxDupNgramFrac: Option[Double] = None,
      repNgram: Int = 2)

  case class StageCounts(input: Long, afterExact: Long, afterNearDup: Long,
                         afterQuality: Long, afterLang: Long,
                         afterDecontaminate: Option[Long] = None,
                         redactedDocs: Option[Long] = None,
                         afterRepetition: Option[Long] = None) {
    def toJson: String =
      s"""{"input":$input,"after_exact_dedup":$afterExact,""" +
      s""""after_neardup":$afterNearDup,""" +
      afterDecontaminate.map(n => s""""after_decontaminate":$n,""")
        .getOrElse("") +
      afterRepetition.map(n => s""""after_repetition":$n,""")
        .getOrElse("") +
      s""""after_quality":$afterQuality,"after_lang":$afterLang""" +
      redactedDocs.map(n => s""","redacted_docs":$n""").getOrElse("") +
      "}"
  }

  /** Doc-local stage tail shared by [[clean]] and [[cleanIncremental]]:
    * optional decontamination → optional repetition ceiling → quality
    * floor → language pin → optional redaction. Returns (persisted
    * cleaned frame, afterDecontaminate, afterRepetition, afterQuality,
    * afterLang, redactedDocs). `nearDeduped` must be persisted by the
    * caller (this tail consumes it several times when options are on).
    *
    * The optional stage outputs are localCheckpoint'd, NOT persisted:
    * each downstream stage references its input subtree 2–4× (dedup
    * anti-join + report, repetition base + counts + semi-join, lang
    * base + hits, redact audit), so with plain persists the LOGICAL
    * tree multiplies ~50× across the tail — measured a 1.25 GB plan
    * string whose mere rendering OOM'd an 8 GB driver, plus minutes of
    * optimizer walk over duplicated subtrees. Checkpointing truncates
    * the lineage at each stage boundary, keeping every downstream plan
    * anchored on a flat scan. The checkpoint blocks are released before
    * return (cleaned is materialized first); a later lost block of
    * `cleaned` therefore cannot recompute through the released stage —
    * the same documented trade the near-dup sink makes. */
  private def finishStages(nearDeduped: DataFrame, cfg: Config,
                           idCol: String, textCol: String)
      : (DataFrame, Option[Long], Option[Long], Long, Long,
         Option[Long]) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // 3. benchmark decontamination (optional; benchmark grams broadcast)
    val decont = cfg.benchmarks
      .map(bench => Decontaminate.decontaminate(nearDeduped, bench,
        cfg.decontNgram, idCol = idCol, textCol = textCol,
        benchIdCol = cfg.benchIdCol, benchTextCol = textCol)
        .localCheckpoint())
      .getOrElse(nearDeduped)
    val nDecont = cfg.benchmarks.map(_ => decont.count())
    // 3b. repetition ceiling (optional, Gopher-style): drop docs whose
    //     duplicated-n-gram character mass exceeds the threshold
    val repOk = cfg.maxDupNgramFrac
      .map(t => decont.join(
        TextAnalysis.repetitionFeatures(decont, cfg.repNgram, idCol,
            textCol)
          .filter(col("dup_ngram_char_frac") <= t).select(idCol),
        Seq(idCol), "left_semi").localCheckpoint())
      .getOrElse(decont)
    val nRep = cfg.maxDupNgramFrac.map(_ => repOk.count())
    // 4. quality floor (codegen'd feature projection, no shuffle)
    val scored = TextAnalysis.qualityFeatures(repOk, textCol)
      .filter(col("quality_score") >= cfg.minQuality)
    // 5. language pin — langGuessDf's explode + conditional-sum plan
    //    (codegen), NOT the per-row langGuess Column whose HOF lambdas
    //    run interpreted (measured 3.4 s vs 0.6 s at sf0.1); in the
    //    composed full-corpus pipeline this is the hot path. The quality
    //    survivors are counted by an observer on langGuessDf's output
    //    (one row per scored doc, zero-token docs included), not on
    //    `scored`, which langGuessDf reads twice.
    val qualityObs = Observation()
    val pinned = cfg.lang
      .map(l => TextAnalysis.langGuessDf(scored, idCol, textCol)
        .observe(qualityObs, count(lit(1)).as("n"))
        .filter(col("lang_guess") === l).drop("lang_guess"))
      .getOrElse(scored)
    // 6. PII redaction in place (schema unchanged; row count unchanged);
    //    the audit count of docs whose text the scrubber changed is
    //    observed in the projection that still holds both texts
    val redactObs = Observation()
    val cleaned = (if (cfg.redactPii) {
      val cols = pinned.columns.map(c =>
        if (c == textCol) col("_redacted").as(textCol) else col(c))
      pinned.withColumn("_redacted", Redact.redactText(col(textCol)))
        .observe(redactObs, coalesce(sum(when(col("_redacted") =!=
          col(textCol), 1L).otherwise(0L)), lit(0L)).as("n"))
        .select(cols: _*)
    } else pinned).persist(lvl)
    // one action builds `cleaned` and reports both observed counts
    val nLang = cleaned.count()
    def observed(o: Observation): Long = o.get("n").asInstanceOf[Long]
    val nQuality = cfg.lang.map(_ => observed(qualityObs)).getOrElse(nLang)
    val nRedacted = if (cfg.redactPii) Some(observed(redactObs)) else None
    // release the stage checkpoints (cleaned is materialized above and
    // every audit count is done — nothing reads them again)
    import org.apache.spark.sql.graftbridge.DatasetBridge
    cfg.maxDupNgramFrac.foreach(_ => DatasetBridge.releaseCheckpoint(repOk))
    cfg.benchmarks.foreach(_ => DatasetBridge.releaseCheckpoint(decont))
    (cleaned, nDecont, nRep, nQuality, nLang, nRedacted)
  }

  /** Returns (cleaned docs with quality columns attached, stage counts,
    * the ids of the exact-dedup survivors — the store a later
    * [[cleanIncremental]] dedups against). Both DataFrames are persisted
    * and materialized (caller-owned handles); unpersist when done.
    * Interior fan-out caches are released here. */
  def clean(docs: DataFrame, cfg: Config = Config(),
            idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, StageCounts, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nIn = docs.count()

    // 1. exact dedup: keep each group's min-id representative; the narrow
    //    keeper ids are cached by the same action that materializes exact
    val keepers = Dedup.exact(docs, idCol, textCol)
      .filter(col(idCol) === col("keeper")).select(idCol).persist(lvl)
    val exact = docs.join(keepers, Seq(idCol), "left_semi").persist(lvl)
    val nExact = exact.count()

    // 2. near-dup dedup: drop the larger id of every verified pair
    val pairs = Dedup.minHashNearDups(exact, cfg.minhash, idCol, textCol)
    val drops = pairs.select(col("id_b").as(idCol)).distinct()
    val nearDeduped = exact.join(drops, Seq(idCol), "left_anti").persist(lvl)
    val nNear = nearDeduped.count()
    pairs.unpersist(blocking = false)
    exact.unpersist(blocking = false)

    val (cleaned, nDecont, nRep, nQuality, nLang, nRedacted) =
      finishStages(nearDeduped, cfg, idCol, textCol)
    nearDeduped.unpersist(blocking = false)

    (cleaned, StageCounts(nIn, nExact, nNear, nQuality, nLang,
      nDecont, nRedacted, nRep), keepers)
  }

  /** Incremental clean — the daily-append mode: clean ONLY `newDocs`
    * against the previous run's EXACT-survivor corpus, with survivors
    * provably equal to a full `clean(prev ∪ new)` rerun (CleanCorpusSpec
    * proves it across two increments):
    *
    *   clean(prev ∪ new).cleaned
    *     == clean(prev).cleaned ∪ cleanIncremental(prevExact, new).cleaned
    *
    * `prevExactSurvivors` must be the previous cumulative EXACT-stage
    * survivor set (docs that survived exact dedup, BEFORE the near-dup/
    * quality stages — CleanCorpusMain persists their ids per run as
    * exact_survivor_ids). Post-near-dup or post-quality sets are NOT
    * sufficient: the full run's drop-the-larger-id near-dup policy drops
    * a new doc that pairs with an exact-survivor even when that survivor
    * itself later dies at near-dup or quality, so the incremental run
    * must see every exact survivor to reproduce the decision.
    *
    * Precondition (enforced): every new id is GREATER than every
    * previous id — the append-only id discipline under which
    * keep-the-smallest policies decide identically in both orders.
    *
    * Returns (newly cleaned docs, stage counts for the new slice, the
    * new docs that survived exact dedup — append their ids to the
    * cumulative exact-survivor store for the next increment). The first
    * two mirror [[clean]]; all three DataFrames are caller-owned
    * (cleaned is persisted — unpersist when done). */
  def cleanIncremental(prevExactSurvivors: DataFrame, newDocs: DataFrame,
                       cfg: Config = Config(),
                       idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, StageCounts, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nIn = newDocs.count()
    val bounds = prevExactSurvivors.agg(max(col(idCol))).collect().head
    val newMin = newDocs.agg(min(col(idCol))).collect().head
    if (!bounds.isNullAt(0) && !newMin.isNullAt(0)) {
      val ordered = (bounds.get(0), newMin.get(0)) match {
        case (a: Number, b: Number) => a.longValue() < b.longValue()
        case (a, b) => s"$a" < s"$b"
      }
      require(ordered,
        s"append-only id discipline violated: max previous id " +
          s"${bounds.get(0)} >= min new id ${newMin.get(0)}")
    }

    // 1. exact: keep each NEW group's min id, then drop any new doc whose
    //    text already exists among previous exact survivors (its keeper
    //    is the smaller previous id — exactly the full run's outcome)
    val newKeepers = Dedup.exact(newDocs, idCol, textCol)
      .filter(col(idCol) === col("keeper")).select(idCol)
    val prevHashes = prevExactSurvivors
      .select(xxhash64(col(textCol)).as("text_hash")).distinct()
    val exact = newDocs.join(newKeepers, Seq(idCol), "left_semi")
      .join(prevHashes,
        xxhash64(col(textCol)) === col("text_hash"), "left_anti")
      .persist(lvl)
    val nExact = exact.count()

    // 2. near-dup: pairs touching a new doc; the larger id of every pair
    //    is always the new side (id discipline), matching the full run's
    //    drop-the-larger policy
    val pairs = IncrementalDedup.incrementalNearDupPairs(
      prevExactSurvivors, exact, cfg.minhash, idCol, textCol)
    val drops = pairs.select(col("id_b").as(idCol)).distinct()
    val nearDeduped = exact.join(drops, Seq(idCol), "left_anti").persist(lvl)
    val nNear = nearDeduped.count()
    pairs.unpersist(blocking = false)

    // 3.–6. doc-local tail, identical to clean(): each new doc is judged
    // against the fixed benchmark set / its own text only, so the
    // verdicts commute with the increment split and full-run
    // equivalence is preserved
    val (cleaned, nDecont, nRep, nQuality, nLang, nRedacted) =
      finishStages(nearDeduped, cfg, idCol, textCol)
    nearDeduped.unpersist(blocking = false)

    (cleaned, StageCounts(nIn, nExact, nNear, nQuality, nLang,
      nDecont, nRedacted, nRep), exact)
  }
}

/** CLI driver:
  *
  *   spark-submit --class graft.data.CleanCorpusMain <jar> \
  *     --input <documents parquet[,more,…]> --output <dir> \
  *     [--min-quality 0.5] [--lang en|none] [--neardup-jaccard 0.8]
  *     [--no-oph]
  *     [--benchmarks <eval-set parquet with (bench_id, text)>]
  *     [--decont-ngram 13] [--redact]
  *     [--max-dup-ngram-frac 0.3] [--rep-ngram 2]
  *     [--previous <earlier run's output dir> \
  *      --previous-input <the raw inputs that run (cumulatively) covered>]
  *
  * `--benchmarks` switches on benchmark decontamination (docs sharing
  * any --decont-ngram-gram with an eval doc are dropped); `--redact`
  * scrubs emails/SSNs/cards/phones/IPs from surviving text in place;
  * `--max-dup-ngram-frac` drops docs whose duplicated-n-gram character
  * mass exceeds the given fraction (Gopher-style repetition ceiling).
  *
  * Full mode writes `<output>/cleaned` (parquet, original columns +
  * quality features), `<output>/exact_survivor_ids` (the cumulative
  * exact-dedup survivor ids — the handle future increments dedup
  * against) and `<output>/stats.json` (per-stage survivor counts).
  *
  * `--previous` is the daily-append mode (CleanCorpus.cleanIncremental):
  * ONLY --input's new docs are cleaned, against the previous run's
  * exact-survivor corpus (reconstructed as --previous-input semi-joined
  * with --previous/exact_survivor_ids — ids are tiny; the raw corpus
  * stays wherever it lives). `cleaned` holds the NEW survivors only
  * (append it to the corpus downstream); exact_survivor_ids is written
  * CUMULATIVE, so the next increment passes this run's --output as its
  * --previous and a path list covering all raw inputs so far as its
  * --previous-input. New doc ids must all exceed previous ids
  * (append-only discipline, enforced).
  */
object CleanCorpusMain {
  import graft.linkage.Cli

  def main(args: Array[String]): Unit =
    Cli.main("graft-clean-corpus", args,
      options = Set("output", "input", "lang", "min-quality",
        "neardup-jaccard", "benchmarks", "decont-ngram",
        "max-dup-ngram-frac", "rep-ngram", "previous", "previous-input"),
      flags = Set("no-oph", "redact"))(run)

  private def readMulti(spark: SparkSession, paths: String): DataFrame =
    spark.read.parquet(paths.split(",").map(_.trim).filter(_.nonEmpty): _*)

  def run(spark: SparkSession,
          opts: Map[String, String]): CleanCorpus.StageCounts = {
    val out = Cli.required(opts, "output")
    val docs = readMulti(spark, Cli.required(opts, "input"))
    val lang = opts.getOrElse("lang", "en") match {
      case "none" => None
      case l => Some(l)
    }
    val cfg = CleanCorpus.Config(
      lang = lang,
      minQuality = opts.getOrElse("min-quality", "0.5").toDouble,
      minhash = Dedup.MinHashConfig(
        jaccardThreshold = opts.getOrElse("neardup-jaccard", "0.8").toDouble,
        oph = !opts.contains("no-oph")),
      benchmarks = opts.get("benchmarks").map(p => spark.read.parquet(p)),
      decontNgram = opts.getOrElse("decont-ngram", "13").toInt,
      redactPii = opts.contains("redact"),
      maxDupNgramFrac = opts.get("max-dup-ngram-frac").map(_.toDouble),
      repNgram = opts.getOrElse("rep-ngram", "2").toInt)

    val counts = opts.get("previous") match {
      case Some(prev) =>
        // the cumulative exact_survivor_ids write below unions a LAZY scan
        // of $prev/exact_survivor_ids (ADVICE r05)
        Cli.requireOutputDiffers(spark, prev, out)
        val prevIds = spark.read.parquet(s"$prev/exact_survivor_ids")
        val prevRaw = readMulti(spark,
          Cli.required(opts, "previous-input"))
        val prevSurv = prevRaw.join(prevIds, Seq("doc_id"), "left_semi")
        val (cleaned, counts, newExact) =
          CleanCorpus.cleanIncremental(prevSurv, docs, cfg)
        cleaned.write.mode("overwrite").parquet(s"$out/cleaned")
        cleaned.unpersist(blocking = false)
        prevIds.select(col("doc_id"))
          .unionByName(newExact.select(col("doc_id")))
          .write.mode("overwrite").parquet(s"$out/exact_survivor_ids")
        newExact.unpersist(blocking = false)
        counts
      case None =>
        val (cleaned, counts, exactIds) = CleanCorpus.clean(docs, cfg)
        cleaned.write.mode("overwrite").parquet(s"$out/cleaned")
        cleaned.unpersist(blocking = false)
        exactIds.write.mode("overwrite").parquet(s"$out/exact_survivor_ids")
        exactIds.unpersist(blocking = false)
        counts
    }
    graft.linkage.TableIO.writeFile(spark, s"$out/stats.json", counts.toJson)
    println(s"[graft] clean-corpus: ${counts.toJson}")
    counts
  }
}
