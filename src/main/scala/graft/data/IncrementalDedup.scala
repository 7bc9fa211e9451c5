package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Daily-append near-dup dedup — the dedup family's analog of the
  * linkage engine's Pipeline.incremental (VERDICT r04 #4): new docs are
  * signed and bucketed, candidates are restricted to pairs TOUCHING at
  * least one new doc (old-old pairs are never regenerated — signatures
  * and verification are deterministic, so the previous run's pairs are
  * final), and the exact-Jaccard verify builds shingle sets only for new
  * docs plus the old docs candidates actually touch
  * ([[CleanCorpus.cleanIncremental]] is the caller). Previous buckets
  * are recomputed from `prevDocs` by the same per-doc MinHash kernel as
  * the full run ([[Dedup.minHashDocs]]) — one linear projection over the
  * corpus, no joins, never a corpus × corpus candidate stage.
  *
  * Equivalence vs a full recompute has the same one documented divergence
  * as the linkage increment: a (band, bucket) that crosses the hot-bucket
  * cap only AFTER the increment keeps the pairs found while it was under
  * the cap — matches are never retracted. The cap itself is evaluated
  * over the COMBINED corpus size, exactly like a full run.
  */
object IncrementalDedup {

  /** Verified near-dup pairs (id_a < id_b, exact jaccard ≥ threshold)
    * with at least one NEW side. Returned persisted (caller unpersists). */
  def incrementalNearDupPairs(prevDocs: DataFrame, newDocs: DataFrame,
                              cfg: Dedup.MinHashConfig =
                                Dedup.MinHashConfig(),
                              idCol: String = "doc_id",
                              textCol: String = "text")
      : DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // new docs' (id, shingles, buckets): their buckets feed the
    // candidate join, their shingle sets the verify
    val newMh = Dedup.minHashDocs(newDocs, cfg, idCol, textCol).persist(lvl)
    val newBuckets = Dedup.bucketRows(newMh, idCol)
    val prevBuckets = Dedup.bucketRows(
      Dedup.minHashDocs(prevDocs, cfg, idCol, textCol), idCol)

    // hot-bucket cap over the COMBINED relation: `all` is the complete
    // corpus bucket relation (every doc contributes exactly `bands`
    // rows), so the ratio capBuckets sizes the cap from the same stats
    // pass the guard already runs — identical to a full run's cap.
    //
    // localCheckpoint (lazy) instead of persist — `all` is referenced by
    // the stats pass, the candidate join AND (through candIds →
    // prevTouched → the verify shingles) the whole verify tree, so with
    // plain persist the LOGICAL plan duplicated the full previous-corpus
    // signature pipeline multiplicatively (measured: a 3.2 M-char
    // physical plan for q_neardup_incremental; every action and every
    // AQE re-optimization walked it — job walls of 0.3 s over 7 ms of
    // tasks). The checkpoint truncates lineage at the materialization
    // the stats pass performs anyway.
    val all = prevBuckets.unionByName(newBuckets)
      .localCheckpoint(eager = false)
    val keptOpt = Dedup.capBuckets(all, cfg.capRatio, cfg.minBucketCap,
      cfg.maxBucketCap, cfg.bands, "minhash-lsh-incremental")
    val kept = keptOpt.getOrElse(all)
    // steady state (no bucket over cap): every newBuckets row appears in
    // `all` by construction, so the kept-side semi-join is the identity —
    // keep the caller's plan free of it (one fewer join + exchange)
    val keptNew = keptOpt.map(k =>
      newBuckets.join(k.select(col("band"), col("bucket"), col(idCol)),
        Seq("band", "bucket", idCol), "left_semi")).getOrElse(newBuckets)

    // pairs touching >= 1 new doc; least/greatest + dedup collapses the
    // two join orders of new-new pairs
    val l = keptNew.select(col("band"), col("bucket"),
      col(idCol).as("new_id"))
    val r = kept.select(col("band").as("band_r"),
      col("bucket").as("bucket_r"), col(idCol).as("other_id"))
    // lazy localCheckpoint (not persist): cands is re-referenced by
    // candIds (twice) and the verify join — each reference would embed
    // the full candidate-join lineage in the verify plan (the same
    // multiplicative plan-girth term as `all` above)
    val cands = l.join(r, col("band") === col("band_r") &&
        col("bucket") === col("bucket_r") &&
        col("new_id") =!= col("other_id"))
      .select(least(col("new_id"), col("other_id")).as("id_a"),
        greatest(col("new_id"), col("other_id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(eager = false)

    // exact verify: shingle sets for new docs + ONLY the prev docs that
    // appear in candidates (O(new × neighborhood), never the corpus)
    val candIds = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol))).distinct()
    val prevTouched = prevDocs.join(candIds, Seq(idCol), "left_semi")
    val shingles = newMh.select(col(idCol), col("shingles"))
      .unionByName(prevTouched.select(col(idCol),
        gf.minhash_shingles(col(textCol), cfg.shingleSize).as("shingles")))
      .localCheckpoint(eager = false)
    val out = Dedup.verifyPairs(cands, shingles, idCol, cfg.jaccardThreshold)
      .persist(lvl)
    out.count()
    newMh.unpersist(blocking = false)
    // checkpointed intermediates: Dataset.unpersist would not free their
    // blocks (see DatasetBridge) — release them now that `out` is
    // materialized; `out` itself stays a recompute-free persisted handle
    val rel = org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint _
    rel(all); rel(cands); rel(shingles)
    out
  }
}
