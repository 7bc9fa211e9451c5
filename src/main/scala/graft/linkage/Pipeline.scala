package graft.linkage

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end linkage pipeline (reference flagship `households.py`
  * lifecycle, SURVEY.md §3.1):
  *
  *   transcripts ──fold──▶ records ──block──▶ candidate pairs
  *     ──score──▶ matches ──CC──▶ clusters ──▶ outputs + metrics
  *
  * Shuffle inventory (each deliberate): #1 fold groupBy(conv_id);
  * #2 candidate self-join on blocking keys (salted + capped); #3 pair
  * attribute joins on conv_id; #4..k CC rounds (checkpointed);
  * #k+1 cluster aggregation. Node ids inside CC are xxhash64(conv_id)
  * (collision odds n²/2⁶⁴ — negligible below ~10⁹ records; swap for a
  * 128-bit id at full 10¹² scale).
  *
  * Records, candidate pairs, scored pairs and clusters are each built
  * once, as their own query, into a serialized local checkpoint
  * ([[Stages.checkpoint]]), so no later query carries the fold's plan (or any
  * other stage's): with persisted relations, whose plans every
  * downstream query re-embeds, the link-dense tail rendered plans past
  * 100k characters.
  */
object Pipeline {

  case class Config(
      ccOptions: Cluster.Options = Cluster.Options(),
      /** exact-address mode (matching.py:401–402, 333–335): block on
        * [zip, full text]; candidate links ARE the matches, no scoring. */
      exactAddresses: Boolean = false,
      /** pre-computed matched pairs (households.py --pairsfile): skip
        * blocking + scoring entirely. `.csv` → the reference's own format
        * (headerless two-column, households.py:92–93 / matching.py:305);
        * otherwise parquet, whose id_a/id_b columns are selected BY NAME
        * (round 2 trusted positional column order). Full runs only. */
      pairsFile: Option[String] = None,
      /** Runaway-conversation guard (Fold.fold maxTurns): > 0 keeps only
        * the maxTurns lowest-turn_idx turns per conversation before the
        * fold, bounding the per-conversation aggregation buffer a
        * pathological agent loop would otherwise blow up. Truncation
        * BREAKS the per-turn equality invariant for the truncated
        * conversations by design — default off. */
      maxTurns: Int = 0)

  case class Result(
      /** The folded records without `turns` (the table LinkageMain
        * writes; no stage downstream of the fold reads the turn arrays,
        * which are only the caller's input regrouped by conversation);
        * on an incremental run, the previous records ∪ the new ones, in
        * the [[piiCols]] shape. */
      records: DataFrame,
      candidatePairs: DataFrame,
      matchedPairs: DataFrame,
      /** (conv_id, cluster_id), one row per record: the exploded members
        * of the checkpointed [[clusters]]. */
      labeledRecords: DataFrame,
      clusters: DataFrame,
      metrics: DataFrame,
      /** The run's OWN folded records (piiCols shape) and newly found
        * matches — what an append-only store (LinkageStream's delta logs)
        * writes per batch, O(new) rows where `records`/`matchedPairs` are
        * the O(corpus) cumulative views of an incremental run. On a full
        * run the delta is the result itself. */
      deltaRecords: DataFrame,
      deltaMatches: DataFrame,
      /** The stage checkpoints the run built (records, candidate pairs,
        * scored pairs, clusters, and an incremental run's new records).
        * Every DataFrame of the Result reads them; callers release them
        * via [[unpersist]] once done, after which those DataFrames are
        * unusable (a checkpoint has no lineage to recompute from). A run
        * that fails releases them itself before the failure propagates. */
      checkpoints: Seq[RDD[_]]) {
    def unpersist(): Unit = checkpoints.foreach(_.unpersist(blocking = false))
  }

  /** PII record columns every stage downstream of fold actually consumes
    * (blocking: household_zip/addr/family_name; scoring: family_name/
    * phone_number/addr; outputs: those + given_name/DOB/sex passthrough).
    * This is the COMMON schema across both documented records sources —
    * Fold.fold output (which adds turns + timestamp ts_min/ts_max) and
    * the records table LinkageMain writes (no turns). */
  val piiCols: Seq[String] = Seq("conv_id", "given_name", "family_name",
    "DOB", "sex", "phone_number", "household_zip", "addr")

  /** Blocking passes: exact mode blocks on [zip, full text]. */
  private def passes(cfg: Config): Seq[Blocking.Pass] =
    if (cfg.exactAddresses) Blocking.exactPasses else Blocking.defaultPasses

  def run(spark: SparkSession, transcripts: DataFrame,
          cfg: Config = Config()): Result =
    run(spark, transcripts, cfg, _ => ())

  private[graft] def run(spark: SparkSession, transcripts: DataFrame,
                         cfg: Config, drill: DataFrame => Unit): Result = {
    val stages = new Stages(drill)
    stages.releasingOnFailure {
      val (records, nRecords) = stages.checkpoint(
        Fold.fold(transcripts, cfg.maxTurns).drop("turns"))
      val (pairs, nPairs) = stages.checkpoint(cfg.pairsFile match {
        case Some(path) => loadPairs(spark, path)
        case None => Candidates.candidates(records, passes(cfg),
          nRecords = Some(nRecords))
      })
      link(spark, cfg, records, pairs, nPairs, None,
        records.select(piiCols.map(col): _*), stages) {
        nScored => Seq(
          "records" -> nRecords,
          "candidate_pairs" -> nPairs,
          "scored_pairs_past_addr_prefilter" -> nScored)
      }
    }
  }

  /** --pairsfile loader (households.py:92–93): `.csv` is the reference's
    * headerless two-column format (matching.py:305 reads index_col=[0,1],
    * header=None — column position IS the format); anything else is
    * parquet with id_a/id_b selected by name. */
  private[linkage] def loadPairs(spark: SparkSession, path: String)
      : DataFrame =
    if (path.endsWith(".csv")) {
      val raw = spark.read.option("header", "false").csv(path)
      require(raw.columns.length == 2,
        s"pairs CSV $path must have exactly 2 columns " +
          s"(reference format, matching.py:305); found ${raw.columns.length}")
      raw.toDF("id_a", "id_b")
    } else {
      val p = spark.read.parquet(path)
      require(p.columns.contains("id_a") && p.columns.contains("id_b"),
        s"pairs parquet $path must carry id_a and id_b columns; " +
          s"found [${p.columns.mkString(", ")}]")
      p.select("id_a", "id_b")
    }

  /** The linkage tail both entry points share, everything after the
    * checkpointed candidate pairs: score them into a checkpoint (exact
    * mode and a pairs file link the candidates as they are,
    * matching.py:333–335), union `previous` matches, CC over
    * xxhash64(conv_id) node ids (collision odds n²/2⁶⁴) with singletons
    * keeping their own id, and build the clusters checkpoint, each
    * cluster named by its min(conv_id); the labelled records are the
    * clusters' exploded members.
    *
    * Metrics: `counts` names the caller's leading metric rows, given the
    * scored pairs' count. Every count but matched_pairs is observed on
    * its checkpoint's build; matched_pairs, when it is not itself a
    * checkpoint, is counted in one job beside the clusters build
    * ([[Actions.together]]). The metric rows keep their order: the
    * caller's, matched_pairs, clusters. */
  private def link(spark: SparkSession, cfg: Config, records: DataFrame,
                   pairs: DataFrame, nPairs: Long,
                   previous: Option[DataFrame], deltaRecords: DataFrame,
                   stages: Stages)
                  (counts: Long => Seq[(String, Long)]): Result = {
    val (scored, nScored) =
      if (cfg.pairsFile.isDefined || cfg.exactAddresses) (pairs, nPairs)
      // the kernel runs where the pairs stream past the broadcast
      // attribute sides, one task per pairs partition; AQE sized the
      // pairs build by bytes (2 tasks at link-dense scale), and scoring
      // costs ~100x more CPU per byte, so spread the pairs over the cores
      else stages.checkpoint(Scoring.scorePairs(records,
        pairs.repartition(spark.sparkContext.defaultParallelism)))
    val newMatches = if (scored eq pairs) pairs else Scoring.matches(scored)
    // no overlap to dedup across the union in practice — incremental
    // candidates always touch a new record, previous matches never do —
    // but keep the belt: a caller-supplied previousMatches overlapping
    // the increment must not double-count
    val matched = previous.fold(newMatches)(
      _.unionByName(newMatches).dropDuplicates("id_a", "id_b"))

    val labels = Cluster.connectedComponents(spark,
      matched.select(xxhash64(col("id_a")).as("a"),
        xxhash64(col("id_b")).as("b")), cfg.ccOptions)
    // members are sorted, so members[0] is the cluster's min(conv_id)
    val clustersPlan = Output.clusters(Cluster.labelRecords(
        records.withColumn("node_id", xxhash64(col("conv_id"))), labels))
      .withColumn("cluster_id", col("members")(0))
    // the clusters build, the longer of the two, is submitted first;
    // matched rides along so both actions return a (relation, count).
    // The clusters checkpoint is the labels' one reader, so they go
    // once it is built, or once the build has failed.
    val Seq((clusters, nClusters), (_, nMatched)) =
      try Actions.together(
        () => stages.checkpoint(clustersPlan),
        () => (matched, if (matched eq pairs) nPairs else matched.count()))
      finally labels.unpersist(false)
    val labeled = clusters.select(explode(col("members")).as("conv_id"),
      col("cluster_id"))

    import spark.implicits._
    val metrics = (counts(nScored) ++ Seq("matched_pairs" -> nMatched,
      "clusters" -> nClusters)).toDF("metric", "value")
    Result(records, pairs, matched, labeled, clusters, metrics,
      deltaRecords, newMatches, stages.all)
  }

  /** Incremental linkage — the daily-increment path a 100-TB deployment
    * needs: fold ONLY the new transcripts, generate candidates restricted
    * to pairs touching a new record, score only those, and run CC over
    * the union of previous matches and new matches. Old-old pairs are
    * never refolded or rescored (scoring is deterministic, so their
    * matches are `previousMatches` verbatim); the whole increment costs
    * O(new × blocked-neighborhood), not O(corpus²). Exact mode links the
    * new exact-blocked pairs unscored, like a full exact run; the
    * full-run-only pairsFile is refused.
    *
    * Equivalence: labels equal a full run over the combined corpus, with
    * one documented divergence — a block that crosses the 2% cap only
    * AFTER the increment keeps the matches found while it was under the
    * cap (a full run drops the whole block). Matches found are never
    * retracted, which is the behavior an append-only deployment wants.
    *
    * `existingRecords` is the previous run's folded records in any shape
    * that carries the [[piiCols]]: Result.records, the records table
    * LinkageMain writes (read back with TableIO.read, as `--previous`
    * does), or a stream's records log; it is projected to [[piiCols]]
    * before the union, so the shapes interoperate.
    * `previousMatches` is the previous run's matched pairs. */
  def incremental(spark: SparkSession, existingRecords: DataFrame,
                  previousMatches: DataFrame, newTranscripts: DataFrame,
                  cfg: Config = Config()): Result =
    incremental(spark, existingRecords, previousMatches, newTranscripts,
      cfg, _ => ())

  private[graft] def incremental(spark: SparkSession,
                                 existingRecords: DataFrame,
                                 previousMatches: DataFrame,
                                 newTranscripts: DataFrame, cfg: Config,
                                 drill: DataFrame => Unit): Result = {
    require(cfg.pairsFile.isEmpty,
      "pairsFile is a full-run-only mode: the incremental path does not " +
        "bypass blocking")
    val stages = new Stages(drill)
    stages.releasingOnFailure {
      val (newRecords, nNew) = stages.checkpoint(
        Fold.fold(newTranscripts, cfg.maxTurns).select(piiCols.map(col): _*))
      val (all, nAll) = stages.checkpoint(
        existingRecords.select(piiCols.map(col): _*).unionByName(newRecords))
      val (pairs, nPairs) = stages.checkpoint(
        Candidates.incrementalCandidates(all, nAll, newRecords, passes(cfg)))
      link(spark, cfg, all, pairs, nPairs, Some(previousMatches), newRecords,
        stages) {
        _ => Seq(
          "new_records" -> nNew,
          "records" -> nAll,
          "incremental_candidate_pairs" -> nPairs)
      }
    }
  }

  /** Pairwise P/R/F1 vs an answer key, restricted to labeled pairs at the
    * same blocking key (north rule; reference hh_score.py:50–58).
    * Truth = intra-cluster pairs from the key that share ≥1 blocking key.
    */
  def pairwiseF1(records: DataFrame, matched: DataFrame,
                 answerKey: DataFrame,
                 passes: Seq[Blocking.Pass] = Blocking.defaultPasses)
      : (Double, Double, Double) = {
    val keyed = Blocking.keyedAll(records, passes)
    val l = keyed.toDF("pass", "block_key", "id_a")
    val r = keyed.toDF("pass_b", "block_key_b", "id_b")
    val sameBlock = l.join(r,
        col("pass") === col("pass_b") &&
        col("block_key") === col("block_key_b") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val ka = answerKey.select(col("conv_id").as("id_a"),
      col("cluster_id").as("ca"))
    val kb = answerKey.select(col("conv_id").as("id_b"),
      col("cluster_id").as("cb"))
    val truth = sameBlock.join(ka, Seq("id_a")).join(kb, Seq("id_b"))
      .filter(col("ca") === col("cb"))
      .select("id_a", "id_b")

    val tp = matched.join(truth, Seq("id_a", "id_b"), "left_semi").count()
    val predicted = matched.count()
    val actual = truth.count()
    val precision = if (predicted == 0) 1.0 else tp.toDouble / predicted
    val recall = if (actual == 0) 1.0 else tp.toDouble / actual
    val f1 = if (precision + recall == 0) 0.0
             else 2 * precision * recall / (precision + recall)
    (precision, recall, f1)
  }
}
