package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.data.Dedup
import graft.linkage.{Cli, TableIO}
import graft.linkage.expr.{functions => gf}

/** Streaming NEAR-dup dedup (batch analog: Dedup.minHashNearDups). A
  * foreachBatch loop keeps
  * a persisted MinHash signature store; every micro-batch is deduped
  * against everything already admitted plus itself, and survivors'
  * signatures are appended.
  *
  * Streaming trade (documented, deliberate): duplicate detection uses
  * the SIGNATURE-estimated Jaccard (fraction of agreeing slots, ±1/√k ≈
  * 0.12 at k=64) rather than the batch path's exact shingle-set verify —
  * exact verification would need every stored document's shingles, i.e.
  * the corpus itself, inside the stream. Run Dedup.minHashNearDups over
  * the admitted corpus in batch when exact precision matters; the
  * streaming gate is the recall-oriented first pass.
  *
  * Store layout (v2 — the at-scale shape, VERDICT r04 #1):
  *
  *   storePath/sigs/band=<b>/shard=<s>/…parquet   (bucket, doc_id, sig)
  *   storePath/_store_meta.json                   layout + minhash config
  *
  * The meta is written once, atomically, by TableIO.writeFile and read
  * by TableIO.readJson; the sigs dir is compacted by
  * TableIO.compactPartitions ([[compactStore]]).
  *
  * One row PER BAND per admitted doc, PARTITIONED BY (band, shard) with
  * shard = bucket mod `shards` — the writeIvfIndex cells pattern. A
  * micro-batch collects its own (band, shard) set (bounded by
  * bands×shards regardless of batch size) and reads ONLY those store
  * partitions; nothing ever scans or re-buckets the whole store
  * (the v1 layout re-derived every band bucket of every stored doc on
  * every trigger — O(store) compute + IO per batch). The price is the
  * signature duplicated ×bands in store rows (write amplification);
  * the win is per-trigger IO that scales with the BATCH's bucket
  * footprint, not the corpus. A new store gets `DefaultShards`; an
  * existing store keeps the shard count its meta records. Partitions a
  * batch does not touch are never opened.
  *
  * The store holds ADMITTED docs only — a dropped near-dup never lands
  * in it — so it is the stream's gate state, not a signature index of
  * the corpus: batch dedup (Dedup.minHashNearDups, with or without a
  * previous corpus) re-signs its input instead of reading it.
  *
  * Delivery semantics: survivors append to the caller's out path
  * at-least-once (foreachBatch replays after a crash). The store append
  * itself is replay-safe for RESULTS — a replayed batch anti-joins its
  * own earlier rows out of the pruned store view (see nearDupBatch), so
  * it recomputes identical survivors; the duplicate signature rows a
  * replay appends are content-identical and candidates dedup on
  * (cand, other), so decisions never change. Dedup the out path
  * downstream when exactly-once matters (or front it with the
  * committed-pointer pattern LinkageStream uses).
  */
object NearDupStream {

  /** Bumped when the store layout or bucket derivation changes. */
  val StoreVersion = 2

  /** Store partition fan-out: partitions = bands × shards. */
  val DefaultShards = 16

  case class StoreMeta(version: Int, numHashes: Int, bands: Int,
                       shingleSize: Int, seed: Long, oph: Boolean,
                       shards: Int)

  private def readStoreMeta(spark: SparkSession,
                            storePath: String): Option[StoreMeta] = {
    val metaPath = s"$storePath/_store_meta.json"
    TableIO.readJson(spark, metaPath) match {
      case None =>
        // a store dir with data but no meta is a pre-v2 (flat) layout:
        // its flat (doc_id, sig) rows carry no band partitions, so reading
        // it as v2 would silently see an empty store and re-admit dups
        val fs = TableIO.fileSystem(spark, storePath)
        val root = new org.apache.hadoop.fs.Path(storePath)
        require(!fs.exists(root) || fs.listStatus(root)
            .forall(_.getPath.getName.contains("_store_meta.json")),
          s"$storePath exists without _store_meta.json — a v1 flat " +
            "signature store; point the stream at a fresh store dir")
        None
      case Some(n) =>
        require(Seq("version", "numHashes", "bands", "shingleSize", "seed",
          "oph", "shards").forall(n.has),
          s"corrupt store meta $metaPath: '$n'")
        val meta = StoreMeta(n.get("version").asInt, n.get("numHashes").asInt,
          n.get("bands").asInt, n.get("shingleSize").asInt,
          n.get("seed").asLong, n.get("oph").asBoolean, n.get("shards").asInt)
        require(meta.version == StoreVersion,
          s"store $storePath is layout v${meta.version}, engine supports " +
            s"v$StoreVersion")
        Some(meta)
    }
  }

  /** Meta of a NEW store: the caller's minhash config, DefaultShards. */
  private def writeStoreMeta(spark: SparkSession, storePath: String,
                             cfg: Dedup.MinHashConfig): Unit =
    TableIO.writeJson(spark, s"$storePath/_store_meta.json",
      TableIO.jsonObject("version" -> StoreVersion,
        "numHashes" -> cfg.numHashes, "bands" -> cfg.bands,
        "shingleSize" -> cfg.shingleSize, "seed" -> cfg.seed,
        "oph" -> cfg.oph, "shards" -> DefaultShards))

  /** A config mismatch against the store silently computes foreign
    * buckets/signatures and re-admits every duplicate — refuse loudly. */
  private def requireCompatible(meta: StoreMeta,
                                cfg: Dedup.MinHashConfig): Unit =
    require(meta.numHashes == cfg.numHashes && meta.bands == cfg.bands &&
      meta.shingleSize == cfg.shingleSize && meta.seed == cfg.seed &&
      meta.oph == cfg.oph,
      s"minhash config mismatch vs store meta: store has " +
        s"(numHashes=${meta.numHashes}, bands=${meta.bands}, " +
        s"shingleSize=${meta.shingleSize}, seed=${meta.seed}, " +
        s"oph=${meta.oph}); caller passed (numHashes=${cfg.numHashes}, " +
        s"bands=${cfg.bands}, shingleSize=${cfg.shingleSize}, " +
        s"seed=${cfg.seed}, oph=${cfg.oph})")

  /** The store's on-disk schema for a given id type — supplied explicitly
    * on every read so schema inference never opens a parquet footer in an
    * unmatched partition (it also skips the per-batch inference pass). */
  private def storeSchema(idCol: String,
                          idType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("bucket", LongType),
      StructField(idCol, idType),
      StructField("sig", ArrayType(LongType)),
      StructField("band", IntegerType),
      StructField("shard", IntegerType)))
  }

  /** Every store row. meta is written BEFORE the first sigs append
    * (crash-ordering contract) — a replay between the two reads an empty
    * store, so a missing sigs dir must mean "no rows", not path-not-found
    * (ADVICE r05: the stream failed on every replay of that window
    * otherwise). */
  private def readStore(spark: SparkSession, storePath: String,
                        idCol: String,
                        idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    val schema = storeSchema(idCol, idType)
    if (TableIO.fileSystem(spark, storePath).exists(
        new org.apache.hadoop.fs.Path(s"$storePath/sigs")))
      spark.read.schema(schema).parquet(s"$storePath/sigs")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Predicate selecting the given (band, shard) partitions. The terms
    * form a balanced OR tree: a left-deep reduce at bands×shards terms
    * (512 at bands=32) overflows the Column→Expression converter's
    * recursion. */
  private def inPartitions(parts: Seq[(Int, Int)]): Column = {
    def orAll(cs: Seq[Column]): Column =
      if (cs.length == 1) cs.head
      else { val (a, b) = cs.splitAt(cs.length / 2); orAll(a) || orAll(b) }
    if (parts.isEmpty) lit(false)
    else orAll(parts.map { case (b, s) =>
      col("band") === b && col("shard") === s })
  }

  /** Pruned store view for a batch's (band, shard) footprint. The filter
    * is a disjunction over PARTITION columns only — bounded by
    * bands×shards terms — so the scan lists and reads matched partition
    * directories exclusively (NearDupStreamSpec proves it by planting a
    * poison file in an untouched partition). */
  private def prunedStore(spark: SparkSession, storePath: String,
                          idCol: String,
                          idType: org.apache.spark.sql.types.DataType,
                          touched: Seq[(Int, Int)]): DataFrame =
    readStore(spark, storePath, idCol, idType).filter(inPartitions(touched))

  /** All admitted doc ids (deduped): reconcile/audit entry point. */
  private def storedIds(spark: SparkSession, storePath: String,
                        idCol: String,
                        idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    require(readStoreMeta(spark, storePath).isDefined,
      s"no signature store at $storePath")
    readStore(spark, storePath, idCol, idType).select(col(idCol))
  }

  /** (band, bucket) rows gain their store partition: shard = bucket mod
    * `shards`. */
  private def withShard(buckets: DataFrame, shards: Int): DataFrame =
    buckets.withColumn("shard",
      pmod(col("bucket"), lit(shards.toLong)).cast("int"))

  /** (band, shard, bucket, id, sig) store rows: sharded bucket rows with
    * their doc's signature attached. */
  private def bucketRows(sharded: DataFrame, sigs: DataFrame,
                        idCol: String): DataFrame =
    sharded.join(sigs.select(col(idCol), col("sig")), Seq(idCol))
      .select(col("band"), col("shard"), col("bucket"), col(idCol),
        col("sig"))

  /** Append store rows, clustered by their target partition before the
    * partitionBy write: without the clustering every writer task emits
    * one file per (band, shard) value it holds — measured ~10k files PER
    * BATCH at bands×shards = 256 and 32 shuffle partitions (the
    * small-files pathology that dominates trigger wall as the store
    * ages). With it, each (band, shard) lands in exactly one task → at
    * most one file per touched partition per append. */
  private def appendStore(rows: DataFrame, storePath: String): Unit =
    rows.repartition(col("band"), col("shard"))
      .write.mode("append").partitionBy("band", "shard")
      .parquet(s"$storePath/sigs")

  /** Per-partition file compaction for the (band, shard) store
    * ([[TableIO.compactPartitions]] over `sigs/`) — run on a schedule for
    * long-lived streams: every append adds at most one file per touched
    * partition. Returns the number of partitions rewritten. */
  def compactStore(spark: SparkSession, storePath: String,
                   maxFilesPerPartition: Int = 8): Int = {
    require(readStoreMeta(spark, storePath).isDefined,
      s"no signature store at $storePath")
    TableIO.compactPartitions(spark, s"$storePath/sigs", maxFilesPerPartition)
  }

  /** One micro-batch step (exactly what the foreachBatch sink invokes;
    * exposed for deterministic testing). Returns the batch's survivors
    * — docs that are near-dups neither of any stored doc nor of a
    * smaller-id doc in the same batch — and appends their signatures'
    * bucket rows to `storePath`. Only store partitions matching the
    * batch's own (band, shard) footprint are read. */
  def nearDupBatch(batch: DataFrame, storePath: String,
                   cfg: Dedup.MinHashConfig =
                     Dedup.MinHashConfig(oph = true),
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val spark = batch.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sigs = Dedup.docSignatures(batch, cfg, idCol, textCol).persist(lvl)
    sigs.count()
    val idType = batch.schema(idCol).dataType

    val meta = readStoreMeta(spark, storePath)
    meta.foreach(requireCompatible(_, cfg))
    val batchBuckets = withShard(Dedup.lshBuckets(sigs, cfg, idCol),
      meta.fold(DefaultShards)(_.shards)).persist(lvl)
    // the batch's partition footprint — bounded by bands×shards values
    // however large the batch, so the driver collect stays tiny
    val touched = batchBuckets.select(col("band"), col("shard")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

    // pruned store rows relevant to this batch, minus the batch's own
    // ids: a crash between the store append and the checkpoint commit
    // re-delivers the batch, and without the anti-join its own earlier
    // rows would mark every doc a self-duplicate (survivors == empty,
    // the batch silently lost from the out path). The anti-join restores
    // the pre-append view, so a replay recomputes identical survivors.
    val storeRows = meta match {
      case None => None
      case Some(_) =>
        Some(prunedStore(spark, storePath, idCol, idType, touched)
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          .persist(lvl))
    }

    // candidates: batch × pruned store (any stored doc beats a batch
    // doc) plus batch-internal smaller-id pairs — thin (cand, other)
    // rows only; signatures re-attach after the distinct so no sig
    // array crosses the dedup exchange
    val l = batchBuckets.select(col("band"), col("shard"), col("bucket"),
      col(idCol).as("cand_id"))
    val storedCands = storeRows.map { sr =>
      l.join(sr.select(col("band"), col("shard"), col("bucket"),
          col(idCol).as("other_id")),
        Seq("band", "shard", "bucket"))
        .select("cand_id", "other_id")
    }
    val batchCands = l.join(
        batchBuckets.select(col("band").as("band_r"),
          col("shard").as("shard_r"), col("bucket").as("bucket_r"),
          col(idCol).as("other_id")),
        col("band") === col("band_r") && col("shard") === col("shard_r") &&
          col("bucket") === col("bucket_r") &&
          col("other_id") < col("cand_id"))
      .select("cand_id", "other_id")
    val cands = storedCands.map(_.unionByName(batchCands))
      .getOrElse(batchCands).distinct()

    // signature-estimated Jaccard = fraction of agreeing slots; the
    // other side's sig comes from the PRUNED store subset (small,
    // persisted) or the batch's own signatures — never a store scan
    val otherSigs = storeRows
      .map(_.select(col(idCol).as("other_id"), col("sig").as("sig_b"))
        .dropDuplicates("other_id"))
      .map(_.unionByName(
        sigs.select(col(idCol).as("other_id"), col("sig").as("sig_b"))))
      .getOrElse(
        sigs.select(col(idCol).as("other_id"), col("sig").as("sig_b")))
    val est = cands
      .join(sigs.select(col(idCol).as("cand_id"), col("sig").as("sig_a")),
        "cand_id")
      .join(otherSigs, "other_id")
      // codegen'd slot-agreement kernel (expr.SigAgreement) — the
      // aggregate(zip_with(..)) HOF form ran interpreted per candidate
      .withColumn("est_jaccard",
        gf.sig_agreement(col("sig_a"), col("sig_b")).cast("double") /
          cfg.numHashes)
    val dropped = est.filter(col("est_jaccard") >= cfg.jaccardThreshold)
      .select(col("cand_id").as(idCol)).distinct()

    // survivors must stop depending on the store path BEFORE the append:
    // refreshByPath below invalidates every cache over that path, and a
    // lazy recompute after the append would find the batch's own
    // signatures in the store and drop the whole batch as
    // self-duplicates (measured: batch 2 returned empty). localCheckpoint
    // is eager and lineage-free, so the returned frame is inert.
    val survivors = batch.join(dropped, Seq(idCol), "left_anti")
      .localCheckpoint()
    // meta BEFORE the first data append: a crash between them leaves a
    // valid empty store, whereas data-without-meta would read as a v1
    // layout and refuse to start
    if (meta.isEmpty) writeStoreMeta(spark, storePath, cfg)
    appendStore(bucketRows(
      batchBuckets.join(survivors.select(idCol), Seq(idCol), "left_semi"),
      sigs, idCol), storePath)
    spark.catalog.refreshByPath(s"$storePath/sigs")
    sigs.unpersist(blocking = false)
    batchBuckets.unpersist(blocking = false)
    storeRows.foreach(_.unpersist(blocking = false))
    survivors
  }

  /** foreachBatch sink: admitted (near-dup-free) docs land in
    * `outPath`, signatures accumulate in `storePath`, progress is
    * checkpointed. `docs` is a streaming DataFrame with (doc_id, text).
    * `once = true` drains everything currently available and stops
    * (Trigger.AvailableNow — the scheduled-job deployment shape). */
  def nearDupSink(docs: DataFrame, storePath: String, outPath: String,
                  checkpointDir: String,
                  cfg: Dedup.MinHashConfig = Dedup.MinHashConfig(oph = true),
                  once: Boolean = false)
      : StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val survivors = nearDupBatch(batch, storePath, cfg)
        survivors.write.mode("append").parquet(outPath)
        // survivors is localCheckpoint()'d — Dataset.unpersist() only
        // talks to the CacheManager and never frees checkpoint blocks,
        // so a long-running stream would accumulate one checkpointed
        // batch per trigger (the leak class measured to degrade CC
        // 4 s → 55 s). Release the backing RDD explicitly.
        DatasetBridge.releaseCheckpoint(survivors)
        ()
      }
    (if (once)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer)
      .start()
  }

  /** Batch reconcile job closing the stream's documented estimated-vs-
    * exact gap: re-runs the EXACT shingle-set Jaccard over the corpus the
    * stream processed and diffs it against the store's admit/drop
    * decisions.
    *
    * Candidate generation here is DECOUPLED from the stream's banding
    * (ADVICE r04): reconcile re-buckets at MAX-RECALL banding
    * (bands = numHashes, r = 1 — any shared signature slot makes a
    * candidate), not the stream's coarser bands. With the stream's own
    * bands a pair the stream's banding never collided on would produce
    * identical buckets here and be missed identically — the banding-miss
    * false_admit class would be structurally undetectable. At r = 1 the
    * residual miss probability for a pair with exact Jaccard s is
    * (1-s)^numHashes (slot agreement ≈ s per slot): ≤ 1e-33 at the 0.7
    * default threshold with k = 64. The price is candidate volume — slot
    * collisions scale with pairwise similarity, so a mutually-similar
    * corpus approaches all-pairs verification. That is the audit's cost
    * model by design: run it per-partition/per-sample at corpus scale.
    * The oversized-bucket cap is intentionally OFF here for the same
    * reason (a capped audit silently under-reports).
    *
    * Emits one row per disagreement:
    *
    *  - `false_admit`: both docs were admitted, but their exact Jaccard
    *    ≥ threshold — a duplicate the estimate let through (id_a, id_b,
    *    exact jaccard);
    *  - `false_drop`: a dropped doc whose exact Jaccard vs EVERY admitted
    *    doc is < threshold — the estimate over-fired (id_a = dropped doc,
    *    id_b = its closest admitted doc or null, jaccard = that best
    *    exact value or 0).
    *
    * `corpus` is the full (id, text) set that passed through the stream
    * (admitted docs live in outPath, but reconcile needs dropped texts
    * too — the ingest source itself). Drop decisions are judged against
    * the ADMITTED set only: a doc dropped transitively against another
    * doc that was itself dropped in the same batch can flag as
    * false_drop — by construction such chains only occur when the
    * estimate fired twice, so the flag is the right signal to re-ingest.
    *
    * The result is localCheckpoint()'d (interior fan-out caches are
    * released before returning); free it with
    * DatasetBridge.releaseCheckpoint when done. */
  def reconcileStore(storePath: String, corpus: DataFrame,
                     cfg: Dedup.MinHashConfig =
                       Dedup.MinHashConfig(oph = true),
                     idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val spark = corpus.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // max-recall banding for the audit (see scaladoc): signatures are
    // bands-independent, so only the BUCKETING legs change granularity;
    // the hot-bucket cap is OFF — a capped audit under-reports silently
    val auditCfg = cfg.copy(bands = cfg.numHashes, capRatio = 1.0)
    // both fan out to several joins inside the one materializing action:
    // without the persists the store scan + distinct re-runs four times
    // and the corpus scan three (the measured minhash-fan-out lesson)
    val admittedIds = storedIds(spark, storePath, idCol,
        corpus.schema(idCol).dataType)
      .distinct().persist(lvl)
    val corpusP = corpus.persist(lvl)
    val admitted = corpusP.join(admittedIds, Seq(idCol), "left_semi")
    val dropped = corpusP.join(admittedIds, Seq(idCol), "left_anti")

    // exact near-dup pairs among admitted docs = duplicates that got in
    val admitPairs = Dedup.minHashNearDups(admitted, auditCfg, idCol, textCol)
    val falseAdmits = admitPairs
      .select(col("id_a"), col("id_b"), col("jaccard"),
        lit("false_admit").as("kind"))

    // dropped docs vs admitted: LSH candidates + exact verify, then keep
    // docs whose best exact Jaccard never reaches the threshold
    val mh = Dedup.minHashDocs(corpusP, auditCfg, idCol, textCol).persist(lvl)
    val buckets = Dedup.bucketRows(mh, idCol)
    val dB = buckets.join(admittedIds, Seq(idCol), "left_anti")
      .select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val aB = buckets.join(admittedIds, Seq(idCol), "left_semi")
      .select(col("band").as("band_r"), col("bucket").as("bucket_r"),
        col(idCol).as("id_b"))
    val cands = dB.join(aB, col("band") === col("band_r") &&
        col("bucket") === col("bucket_r"))
      .select("id_a", "id_b").distinct()
    val best = Dedup.verifyPairs(cands, mh, idCol)
      .groupBy(col("id_a"))
      .agg(max(struct(col("jaccard"), col("id_b"))).as("b"))
      .select(col("id_a"), col("b.id_b").as("id_b"),
        col("b.jaccard").as("jaccard"))
    val falseDrops = dropped.select(col(idCol).as("id_a"))
      .join(best, Seq("id_a"), "left")
      .filter(col("jaccard").isNull ||
        col("jaccard") < cfg.jaccardThreshold)
      .select(col("id_a"), col("id_b"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        lit("false_drop").as("kind"))

    val out = falseAdmits.unionByName(falseDrops).localCheckpoint()
    admitPairs.unpersist(blocking = false)
    mh.unpersist(blocking = false)
    admittedIds.unpersist(blocking = false)
    corpusP.unpersist(blocking = false)
    out
  }
}

/** Streaming near-dup gate CLI — the deployment shape of
  * [[NearDupStream.nearDupSink]] (the near-dup twin of
  * LinkageStreamMain):
  *
  *   spark-submit --class graft.streaming.NearDupStreamMain <jar> \
  *     --source <landing dir of (doc_id, text) parquet> \
  *     --store <signature store dir> --output <admitted-docs dir> \
  *     --checkpoint <dir> [--once] [--compact <maxFilesPerPartition>]
  *     [--jaccard 0.7] [--num-hashes 64] [--bands 16]
  *     [--shingle-size 3] [--seed 42] [--no-oph]
  *
  * The file source picks up parquet files of documents as they land
  * under --source. `--once` drains everything currently available and
  * exits (Trigger.AvailableNow) — each cron/Airflow invocation dedups
  * the files that arrived since the previous one, resuming from the
  * same checkpoint. `--compact N` runs
  * [[NearDupStream.compactStore]] after the stream stops (pair it with
  * --once; a long-lived stream should schedule compaction separately).
  * The minhash knobs MUST match the store's meta on an existing store
  * (mismatches are refused loudly). */
object NearDupStreamMain {

  def main(args: Array[String]): Unit =
    Cli.main("graft-neardup-stream", args,
      options = minHashOptions ++
        Set("store", "source", "output", "checkpoint", "compact"),
      flags = Set("once", "no-oph"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.types._
    val store = Cli.required(opts, "store")
    val cfg = minHashConfig(opts)
    val docs = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(Cli.required(opts, "source"))
    val q = NearDupStream.nearDupSink(docs, store,
      Cli.required(opts, "output"), Cli.required(opts, "checkpoint"),
      cfg, once = opts.contains("once"))
    q.awaitTermination()
    opts.get("compact").foreach { n =>
      val rewritten = NearDupStream.compactStore(spark, store, n.toInt)
      println(s"[graft] compacted $rewritten store partitions at $store")
    }
  }

  /** The MinHashConfig options both near-dup store CLIs accept, besides
    * the --no-oph flag. */
  private[streaming] val minHashOptions =
    Set("num-hashes", "bands", "shingle-size", "jaccard", "seed")

  /** The MinHashConfig those options and --no-oph give. */
  private[streaming] def minHashConfig(opts: Map[String, String])
      : Dedup.MinHashConfig =
    Dedup.MinHashConfig(
      numHashes = opts.getOrElse("num-hashes", "64").toInt,
      bands = opts.getOrElse("bands", "16").toInt,
      shingleSize = opts.getOrElse("shingle-size", "3").toInt,
      jaccardThreshold = opts.getOrElse("jaccard", "0.7").toDouble,
      seed = opts.getOrElse("seed", "42").toLong,
      oph = !opts.contains("no-oph"))
}

/** Batch reconcile CLI over a streaming near-dup signature store:
  *
  *   spark-submit --class graft.streaming.ReconcileMain <jar> \
  *     --store <signature store parquet> --corpus <docs parquet> \
  *     --output <dir> [--jaccard 0.7] [--num-hashes 64] [--bands 16]
  *     [--shingle-size 3] [--seed 42] [--no-oph]
  *
  * Runs [[NearDupStream.reconcileStore]] (exact-Jaccard verify of the
  * stream's estimated admit/drop decisions), writes `<output>/diffs`
  * (id_a, id_b, jaccard, kind) and prints the false-admit / false-drop
  * counts. The minhash config MUST match the one the stream ran with —
  * every MinHashConfig knob is exposed so a non-default stream can be
  * reconciled (mismatched bands/shingles would silently compute the
  * wrong candidate set and Jaccard domain). */
object ReconcileMain {

  def main(args: Array[String]): Unit =
    Cli.main("graft-reconcile", args,
      options = NearDupStreamMain.minHashOptions ++
        Set("output", "corpus", "store"),
      flags = Set("no-oph"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): (Long, Long) = {
    val out = Cli.required(opts, "output")
    val cfg = NearDupStreamMain.minHashConfig(opts)
    val corpus = spark.read.parquet(Cli.required(opts, "corpus"))
    val diffs = NearDupStream.reconcileStore(
      Cli.required(opts, "store"), corpus, cfg)
    diffs.write.mode("overwrite").parquet(s"$out/diffs")
    val counts = diffs.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    DatasetBridge.releaseCheckpoint(diffs)
    val fa = counts.getOrElse("false_admit", 0L)
    val fd = counts.getOrElse("false_drop", 0L)
    println(s"[graft] reconcile: false_admits=$fa false_drops=$fd")
    (fa, fd)
  }
}
