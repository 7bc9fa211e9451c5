package graft.data

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.linkage.Stages
import graft.linkage.Stages.counted

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
  * near-dup stage, so the daily-append mode's full-run equivalence
  * ([[clean]] with `previous`) is untouched: the near-dup previous side
  * stays the exact survivors, and doc-local verdicts commute with the
  * increment split.
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
    def toJson: String = graft.linkage.TableIO.jsonObject(Seq(
      Some("input" -> input), Some("after_exact_dedup" -> afterExact),
      Some("after_neardup" -> afterNearDup),
      afterDecontaminate.map("after_decontaminate" -> _),
      afterRepetition.map("after_repetition" -> _),
      Some("after_quality" -> afterQuality), Some("after_lang" -> afterLang),
      redactedDocs.map("redacted_docs" -> _)).flatten: _*).toString
  }

  /** Cleans `docs` and hands the result to `write`: (cleaned docs with
    * quality columns attached, the ids of the exact-dedup survivors — the
    * store a later increment dedups against). Returns the stage counts
    * once `write` has returned.
    *
    * Two cuts and one write. The exact stage is built first, as an eager
    * local checkpoint with the input and exact counts observed on its
    * build; the MinHash kernel relation is the second cut, its observed
    * row count sizing the hot-bucket cap ([[Dedup.kernelCut]]; the cap's
    * stats pass runs only when the corpus is large enough for a bucket to
    * cross it). Everything after — candidates, verify, the near-dup
    * anti-join, the text kernel, redaction — is the LAZY `cleaned` plan:
    * `write` runs it once, and the near-dup, repetition, quality, language
    * and redaction counts are observed on that action. (With
    * `benchmarks`, decontamination reads its input twice, so the near-dup
    * output is a third cut.) `write` must run one action over `cleaned`
    * (clean fails loudly when a count was not observed) and may read the
    * exact ids beside it: both read only built cuts. Every cut is
    * released when clean returns or fails, so no handle outlives `write`
    * and the caller owns no cache.
    *
    * `previous` is the daily-append mode: `docs` are the NEW docs, cleaned
    * against the previous run's EXACT-survivor corpus, with survivors
    * equal to a full rerun (IncrementalDedupSpec proves it across two
    * increments):
    *
    *   clean(prev ∪ new).cleaned
    *     == clean(prev).cleaned ∪ clean(new, previous = prevExact).cleaned
    *
    * `previous` must be the cumulative EXACT-stage survivor set (docs
    * that survived exact dedup, BEFORE the near-dup/quality stages —
    * CleanCorpusMain persists their ids per run as exact_survivor_ids).
    * Post-near-dup or post-quality sets are NOT sufficient: the full
    * run's drop-the-larger-id near-dup policy drops a new doc that pairs
    * with an exact survivor even when that survivor itself later dies at
    * near-dup or quality. Every new id must be GREATER than every
    * previous id — the append-only discipline under which keep-the-
    * smallest policies decide identically in both orders; it is checked
    * before any stage runs. The counts and the exact ids then cover the
    * new docs only (append the ids to the cumulative store). */
  def clean(docs: DataFrame, cfg: Config = Config(),
            idCol: String = "doc_id", textCol: String = "text",
            previous: Option[DataFrame] = None)
           (write: (DataFrame, DataFrame) => Unit): StageCounts =
    clean(docs, cfg, idCol, textCol, previous, _ => ())(write)

  /** [[clean]] with the cuts' test seam ([[Stages]]). */
  private[graft] def clean(docs: DataFrame, cfg: Config, idCol: String,
                           textCol: String, previous: Option[DataFrame],
                           drill: DataFrame => Unit)
                          (write: (DataFrame, DataFrame) => Unit)
      : StageCounts = {
    val above = previous.flatMap(Dedup.previousMaxId(_, docs, idCol))
    val stages = new Stages(drill)
    stages.releasing {
      // 1. exact dedup: keep each group's min-id representative (the
      //    keeper ids of Dedup.exact's join-back, semi-joined to the docs).
      //    A new doc whose text a previous exact survivor holds goes first:
      //    its keeper is that smaller previous id, as in the full run (a
      //    whole text group goes at once, so the new keepers are unchanged)
      val inputObs = Observation()
      def fresh(df: DataFrame) = previous.fold(df)(p => df.join(
        p.select(xxhash64(col(textCol)).as("_prev_hash")).distinct(),
        xxhash64(col(textCol)) === col("_prev_hash"), "left_anti"))
      val keepers = Dedup.exact(fresh(docs), idCol, textCol)
        .filter(col(idCol) === col("keeper")).select(idCol)
      val (exact, nExact) = stages.checkpoint(
        fresh(counted(docs, inputObs)).join(keepers, Seq(idCol), "left_semi"))
      // the input count sits below the semi-join: AQE drops it with its
      // branch when no doc has a keeper (every new doc is a copy of a
      // previous text, or every id is null), and only then is the input
      // counted by a query of its own
      val nInput = Stages.observed(inputObs)
        .fold(docs.count())(_.getAs[Long]("n"))

      // 2. near-dup dedup: drop the larger id of every verified pair (with
      //    a previous corpus, always the new side)
      val pairs = Dedup.kernelCut(exact, previous, above, cfg.minhash,
        idCol, textCol, stages)
      val drops = pairs.select(col("id_b").as(idCol)).distinct()
      val nearObs = Observation()
      val nearDeduped = exact.join(drops, Seq(idCol), "left_anti")

      // doc-local tail: each doc is judged against the fixed benchmark
      // set / its own text only, so the verdicts commute with the
      // increment split.
      // 3. benchmark decontamination (optional; benchmark grams
      //    broadcast). It reads its input twice (the report beside the
      //    anti-join), so the near-dup survivors are a cut here, with
      //    their count observed on its build.
      val decontObs = Observation()
      val (decont, nNearCut) = cfg.benchmarks match {
        case Some(bench) =>
          val (nd, n) = stages.checkpoint(nearDeduped)
          (counted(Decontaminate.decontaminate(nd, bench, cfg.decontNgram,
            idCol = idCol, textCol = textCol, benchIdCol = cfg.benchIdCol,
            benchTextCol = textCol), decontObs), Some(n))
        case None => (counted(nearDeduped, nearObs), None)
      }
      // 4–7. repetition ceiling (optional, Gopher-style), quality floor,
      //    language pin, PII redaction (optional): ONE narrow stage over
      //    `decont`. One text-kernel pass per doc gives every field the
      //    filters read (TextAnalysis.withTextFeatures: a Generate, so no
      //    filter copies the kernel call). Each stage's survivors are
      //    counted by an observer on the rows that reach the next filter,
      //    and the redaction audit count in the projection that still
      //    holds both texts; the write that builds `cleaned` reports them
      //    all
      val repNgram = cfg.maxDupNgramFrac.fold(0)(_ => math.max(cfg.repNgram, 1))
      val feats = TextAnalysis.withTextFeatures(decont, textCol, repNgram)
      def f(name: String) = col(TextAnalysis.Prefix + name)
      val repObs = Observation()
      val repOk = cfg.maxDupNgramFrac
        .map(t => counted(feats.filter(f("dup_ngram_char_frac") <= t), repObs))
        .getOrElse(feats)
      val scored = repOk.filter(f("quality_score") >= cfg.minQuality)
      val qualityObs = Observation()
      val pinned = cfg.lang
        .map(l => counted(scored, qualityObs).filter(f("lang_guess") === l))
        .getOrElse(scored)
      // the document columns (the id first under a language pin, as the
      // lang stage's old join-back ordered them), then the quality features
      val docCols = decont.columns.toSeq
      val kept = TextAnalysis.selectFeatures(pinned,
        if (cfg.lang.isDefined) idCol +: docCols.filterNot(_ == idCol)
        else docCols,
        TextAnalysis.QualityFields)
      val redactObs = Observation()
      val cleaned = if (cfg.redactPii) {
        val cols = kept.columns.map(c =>
          if (c == textCol) col("_redacted").as(textCol) else col(c))
        kept.withColumn("_redacted", Redact.redactText(col(textCol)))
          .observe(redactObs, coalesce(sum(when(col("_redacted") =!=
            col(textCol), 1L).otherwise(0L)), lit(0L)).as("n"))
          .select(cols: _*)
      } else kept
      val langObs = Observation()
      write(counted(cleaned, langObs), exact.select(idCol))

      def n(o: Observation) = Stages.observedCount(o)
      val nLang = n(langObs)
      StageCounts(nInput, nExact, nNearCut.getOrElse(n(nearObs)),
        cfg.lang.fold(nLang)(_ => n(qualityObs)), nLang,
        cfg.benchmarks.map(_ => n(decontObs)),
        if (cfg.redactPii) Some(n(redactObs)) else None,
        cfg.maxDupNgramFrac.map(_ => n(repObs)))
    }
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
  * against) and `<output>/stats.json` (per-stage survivor counts). The
  * first two are CleanCorpus.clean's writer, run side by side; stats.json
  * follows once both have returned, so a run that fails writes none.
  *
  * `--previous` is the daily-append mode (CleanCorpus.clean's
  * `previous`): ONLY --input's new docs are cleaned, against the previous
  * run's exact-survivor corpus (reconstructed as --previous-input
  * semi-joined with --previous/exact_survivor_ids — ids are tiny; the raw
  * corpus stays wherever it lives). `cleaned` holds the NEW survivors
  * only (append it to the corpus downstream); exact_survivor_ids is
  * written CUMULATIVE, so the next increment passes this run's --output
  * as its --previous and a path list covering all raw inputs so far as
  * its --previous-input. New doc ids must all exceed previous ids
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
          opts: Map[String, String]): CleanCorpus.StageCounts =
    run(spark, opts, _ => ())

  /** [[run]] with the cuts' test seam (CleanCorpus.clean's `drill`). */
  private[graft] def run(spark: SparkSession, opts: Map[String, String],
                         drill: DataFrame => Unit): CleanCorpus.StageCounts = {
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

    // the cumulative exact_survivor_ids write below unions a LAZY scan of
    // $prev/exact_survivor_ids (ADVICE r05)
    val prevIds = opts.get("previous").map { prev =>
      Cli.requireOutputDiffers(spark, prev, out)
      spark.read.parquet(s"$prev/exact_survivor_ids").select(col("doc_id"))
    }
    val previous = prevIds.map(ids =>
      readMulti(spark, Cli.required(opts, "previous-input"))
        .join(ids, Seq("doc_id"), "left_semi"))
    // `cleaned` is the one query that runs the near-dup and text stages;
    // the exact ids read a built cut, so the two writes run side by side.
    // The stage counts exist once both have returned
    val counts = CleanCorpus.clean(docs, cfg, "doc_id", "text", previous,
        drill) { (cleaned, exactIds) =>
      graft.linkage.Actions.together(
        () => cleaned.write.mode("overwrite").parquet(s"$out/cleaned"),
        () => prevIds.fold(exactIds)(_.unionByName(exactIds))
          .write.mode("overwrite").parquet(s"$out/exact_survivor_ids"))
    }
    graft.linkage.TableIO.writeFile(spark, s"$out/stats.json", counts.toJson)
    println(s"[graft] clean-corpus: ${counts.toJson}")
    counts
  }
}
