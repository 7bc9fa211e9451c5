package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: remove (or flag) training documents that
  * share word n-grams with an evaluation/benchmark set — the standard
  * n-gram-overlap hygiene pass of public LLM training pipelines
  * (GPT-3/PaLM-style 13-gram collision checks).
  *
  * Scale shape: both sides reduce to DISTINCT (id, gram-hash) pairs —
  * 8-byte xxhash64 keys from the MinHash shingle kernel
  * ([[Dedup.explodedShingles]]: each doc's set is built per row), never
  * gram strings — and meet in ONE equi-join. The benchmark side is an eval
  * set, orders of magnitude smaller than a training corpus, so its gram
  * relation is BROADCAST by default: the 100-TB scan never shuffles, each
  * task probes an in-memory hash set of benchmark grams (flip
  * `broadcastBench` off for a benchmark set that genuinely doesn't fit a
  * broadcast — the join degrades to a shuffled hash join on 8-byte
  * keys). Short documents fall back to a whole-text gram, exactly like
  * the near-dup shingle sets.
  */
object Decontaminate {

  /** Contamination evidence: one row per (training doc, benchmark doc)
    * pair sharing >= `minHits` distinct n-grams, with the shared count.
    * Columns: idCol, benchIdCol, shared_grams.
    *
    * Shuffle discipline: the corpus-side gram relation is never
    * shuffled — each doc's grams are deduplicated inside its own row by
    * the shingle kernel and stream straight into the broadcast join; the
    * (doc, bench, gram) dedup runs AFTER it, over only the matching rows
    * (tiny). The corpus scan therefore reaches the join with zero
    * exchanges; the benchmark side (an eval set) is hashed once per
    * executor. */
  def contaminationReport(docs: DataFrame, bench: DataFrame,
                          n: Int = 13, minHits: Long = 1L,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          benchIdCol: String = "bench_id",
                          benchTextCol: String = "text",
                          broadcastBench: Boolean = true): DataFrame = {
    val docGrams = Dedup.explodedShingles(docs, idCol, textCol, n)
    val bg = Dedup.explodedShingles(bench, benchIdCol, benchTextCol, n)
    val benchGrams = if (broadcastBench) broadcast(bg) else bg
    docGrams.join(benchGrams, "shingle")
      .select(col(idCol), col(benchIdCol), col("shingle")).distinct()
      .groupBy(col(idCol), col(benchIdCol))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minHits)
  }

  /** Training docs with every row contaminated against ANY benchmark doc
    * removed (the production pass). One gram hit with minHits = 1 —
    * the conservative default of the published pipelines. */
  def decontaminate(docs: DataFrame, bench: DataFrame,
                    n: Int = 13, minHits: Long = 1L,
                    idCol: String = "doc_id", textCol: String = "text",
                    benchIdCol: String = "bench_id",
                    benchTextCol: String = "text",
                    broadcastBench: Boolean = true): DataFrame = {
    val bad = contaminationReport(docs, bench, n, minHits, idCol, textCol,
      benchIdCol, benchTextCol, broadcastBench)
      .select(col(idCol)).distinct()
    docs.join(bad, Seq(idCol), "left_anti")
  }
}
