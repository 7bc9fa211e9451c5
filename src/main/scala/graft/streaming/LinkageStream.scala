package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.linkage.{Pipeline, TableIO}

/** Continuous record linkage: a foreachBatch sink that links every
  * micro-batch of NEW conversations against the accumulated corpus via
  * [[Pipeline.incremental]] — the streaming composition of the engine's
  * ingest and daily-append paths, so a deployment can keep clusters
  * current without ever re-scoring the full corpus.
  *
  * Store layout v2 (`storeDir/`) — delta logs + one generational table:
  *
  *   records_log/batch=<id>/    the batch's OWN folded records (piiCols)
  *   matches_log/batch=<id>/    the batch's NEWLY found matched pairs
  *   g0/, g1/                   alternating GENERATIONS of clusters only
  *   _state.json                {"version":2,"gen":<g>,"batch":<id>}
  *
  * The pointer is committed by TableIO.writeFile (tmp + rename, so it
  * becomes visible atomically) and read by TableIO.readJson.
  *
  * records and matched_pairs are append-only in CONTENT (a conversation
  * folds once; a found match is never retracted), so each batch appends
  * exactly its O(batch) delta to the two logs — v1 rewrote all three
  * cumulative tables per trigger, an O(corpus) write per batch, the
  * scale-killer VERDICT r04 flagged. Only clusters, whose labels can
  * change on every batch, keeps the generational rewrite.
  *
  * Consistency and exactly-once ride on the committed pointer:
  *  - log partitions are named by BATCH ID and every reader (including
  *    the next batch's own incremental inputs) filters
  *    batch <= state.batch, so partially written / uncommitted partitions
  *    are invisible — partition pruning makes the filter free;
  *  - a foreachBatch replay after a crash re-OVERWRITES its own two
  *    partitions (same deterministic input → same content) and the other
  *    clusters generation, then flips the pointer — idempotent;
  *  - a replay AFTER the flip is detected by `batch <= state.batch` and
  *    skipped — exactly-once table commits on at-least-once delivery.
  *  Because appends land in fresh partition directories, no batch ever
  *  writes a path its own inputs are lazily reading (the self-overwrite
  *  class v1's generation flip existed to dodge for all three tables —
  *  now only clusters needs it).
  *
  * Contract (same as Pipeline.incremental): a conversation arrives
  * WHOLLY within one micro-batch (append-only corpus of complete
  * conversations). Batch a raw turn stream by conversation before it
  * reaches the sink.
  */
object LinkageStream {

  /** Bumped when the store layout changes. v1 (no version field in
    * _state.json) kept cumulative records/matched_pairs per generation. */
  val StoreVersion = 2

  case class StoreState(gen: Int, batch: Long)

  /** Start the sink. `turns` is a streaming DataFrame of transcript
    * turns (conv_id, turn_idx, role, text, tool, ts). `once = true`
    * processes everything currently available and stops
    * (Trigger.AvailableNow — the scheduled-job deployment shape: each
    * invocation links whatever arrived since the last, then exits). */
  def linkageSink(turns: DataFrame, storeDir: String, checkpointDir: String,
                  cfg: Pipeline.Config = Pipeline.Config(),
                  once: Boolean = false): StreamingQuery = {
    val writer = turns.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        linkBatch(batch, id, storeDir, cfg)
        ()
      }
    (if (once)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** One micro-batch step (what the sink invokes; exposed for
    * deterministic testing and for driving the store in batch jobs).
    * Returns false when the batch was a skipped replay or empty.
    * Writes O(batch) rows to the two delta logs and rewrites only the
    * clusters table (see object doc). */
  def linkBatch(batch: DataFrame, batchId: Long, storeDir: String,
                cfg: Pipeline.Config = Pipeline.Config()): Boolean = {
    // the sink runs Pipeline.run for the FIRST batch and incremental for
    // the rest — pairsFile exists only on the full-run path, so it is
    // refused rather than left to make matching depend on arrival batch
    require(cfg.pairsFile.isEmpty,
      "pairsFile is unsupported in the continuous sink")
    val spark = batch.sparkSession
    val st = readState(spark, storeDir)
    st.foreach { s =>
      if (batchId == s.batch) return false // in-flight replay, committed
      // ids below the committed pointer mean the stream's CHECKPOINT was
      // reset against a kept store: skipping would silently discard
      // every batch until ids catch up — fail loudly instead
      require(batchId > s.batch,
        s"batch id $batchId is behind the store's committed ${s.batch} " +
          s"($storeDir): streaming checkpoint was reset against an " +
          "existing store — resume with the original checkpoint dir or " +
          "point the sink at a fresh store")
    }
    if (batch.isEmpty) return false // nothing to link, nothing to commit
    val (result, nextGen) = st match {
      case None => (Pipeline.run(spark, batch, cfg), 0)
      case Some(s) =>
        (Pipeline.incremental(spark,
          readLog(spark, s"$storeDir/records_log", s.batch),
          readLog(spark, s"$storeDir/matches_log", s.batch), batch, cfg),
          1 - s.gen)
    }
    // delta rows for the logs: the batch's own records (piiCols on both
    // paths, so the log schema does not depend on arrival order) and new
    // matches; idempotent per-batch partitions: a replay overwrites its
    // own dirs
    result.deltaRecords.write.mode("overwrite")
      .parquet(s"$storeDir/records_log/batch=$batchId")
    result.deltaMatches.write.mode("overwrite")
      .parquet(s"$storeDir/matches_log/batch=$batchId")
    // the clusters are written from their cache BEFORE the refresh: the
    // cached plan reads records_log, and refreshByPath drops every cache
    // whose plan reads the path, so a write after it would rebuild the
    // clusters from lineage, an O(corpus) step on every trigger
    TableIO.write(result.clusters, s"$storeDir/g$nextGen/clusters")
    // new partition dirs dodge the self-overwrite class, but the session
    // FileStatusCache may still hold the roots' pre-append listings
    spark.catalog.refreshByPath(s"$storeDir/records_log")
    spark.catalog.refreshByPath(s"$storeDir/matches_log")
    result.unpersist()
    writeState(spark, storeDir, StoreState(nextGen, batchId))
    true
  }

  /** Committed log view: partitions at or below the committed batch
    * pointer (partition-pruned filter), partition column dropped. */
  private def readLog(spark: SparkSession, root: String,
                      upTo: Long): DataFrame =
    spark.read.parquet(root)
      .filter(col("batch") <= upTo)
      .drop("batch")

  /** The current cumulative clusters / records / matched_pairs.
    *
    * records/matches are APPEND-ONLY logs: the returned plans stay valid
    * indefinitely (new partitions are simply not in the committed
    * filter). clusters reads the generation the pointer names AT CALL
    * TIME, and that generation's directory is REWRITTEN two committed
    * batches later — a clusters DataFrame held across batches can hit
    * missing files or a mixed snapshot. Materialize within the window,
    * or pass snapshot = true to localCheckpoint the result (eager,
    * lineage-free — survives any number of generation flips; release it
    * with DatasetBridge.releaseCheckpoint when done). */
  def currentClusters(spark: SparkSession, storeDir: String,
                      snapshot: Boolean = false): DataFrame = {
    val st = requireState(spark, storeDir)
    val df = TableIO.read(spark, s"$storeDir/g${st.gen}/clusters")
    if (snapshot) df.localCheckpoint() else df
  }
  def currentRecords(spark: SparkSession, storeDir: String): DataFrame =
    readLog(spark, s"$storeDir/records_log",
      requireState(spark, storeDir).batch)
  def currentMatches(spark: SparkSession, storeDir: String): DataFrame =
    readLog(spark, s"$storeDir/matches_log",
      requireState(spark, storeDir).batch)

  private def requireState(spark: SparkSession,
                           storeDir: String): StoreState =
    readState(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no linkage store at $storeDir"))

  private[graft] def readState(spark: SparkSession,
                               storeDir: String): Option[StoreState] =
    TableIO.readJson(spark, s"$storeDir/_state.json").map { node =>
      // fail LOUDLY on a malformed pointer: path(..).asInt() defaults of
      // a partial file would silently point reads at the wrong
      // generation and re-admit committed batches
      require(node.has("gen") && node.has("batch"),
        s"corrupt linkage-store pointer $storeDir/_state.json: '$node'")
      val version = node.path("version").asInt(1)
      require(version == StoreVersion,
        s"linkage store $storeDir is layout v$version, engine supports " +
          s"v$StoreVersion — point the sink at a fresh store")
      StoreState(node.get("gen").asInt(), node.get("batch").asLong())
    }

  private def writeState(spark: SparkSession, storeDir: String,
                         st: StoreState): Unit =
    TableIO.writeJson(spark, s"$storeDir/_state.json", TableIO.jsonObject(
      "version" -> StoreVersion, "gen" -> st.gen, "batch" -> st.batch))
}

/** spark-submit surface for the continuous-linkage sink:
  *
  *   spark-submit --class graft.streaming.LinkageStreamMain <jar> \
  *     --source <dir of incoming transcript parquet files> \
  *     --store <linkage store dir> --checkpoint <dir> [--once]
  *     [--max-turns <n>]
  *
  * The file source picks up parquet files of transcript turns as they
  * land under --source. `--once` processes everything currently
  * available and exits (Trigger.AvailableNow) — the cron/Airflow
  * deployment shape: each invocation links the files that arrived since
  * the previous one, resuming from the same checkpoint; without it the
  * query runs until killed. Same conversation-wholeness contract as
  * [[LinkageStream.linkageSink]]. */
object LinkageStreamMain {
  import graft.linkage.Cli

  def main(args: Array[String]): Unit =
    Cli.main("graft-linkage-stream", args,
      options = Set("source", "store", "checkpoint", "max-turns"),
      flags = Set("once"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val turns = spark.readStream
      .schema(graft.linkage.Schemas.transcripts)
      .parquet(Cli.required(opts, "source"))
    // the runaway-conversation fold guard matters MOST on a long-running
    // stream — one looping agent conversation in a drop would otherwise
    // blow the fold's aggregation buffer on every retry of its batch
    val cfg = Pipeline.Config(
      maxTurns = opts.get("max-turns").map(_.toInt).getOrElse(0))
    val q = LinkageStream.linkageSink(turns,
      Cli.required(opts, "store"), Cli.required(opts, "checkpoint"),
      cfg, once = opts.contains("once"))
    q.awaitTermination()
  }
}
