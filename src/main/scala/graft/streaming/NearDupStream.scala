package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.data.Dedup
import graft.linkage.{Cli, TableIO}

/** Streaming NEAR-dup dedup with the batch semantics of
  * Dedup.minHashNearDups: a foreachBatch loop keeps a persisted store of
  * every document it has seen, and each micro-batch is the full run's
  * self-join with one side restricted to the batch (the framing of
  * "Highly Efficient String Similarity Search and Join over Compressed
  * Indexes", ICDE 2022). Candidates are the batch × store and in-batch
  * pairs sharing a (band, bucket); each is verified EXACTLY, by merging
  * the two sorted shingle arrays (Dedup.verifyPairs); and the batch doc
  * of every verified pair is dropped — the larger id of an in-batch
  * pair, the batch side of a batch × store pair, so a stored doc beats a
  * batch doc whatever the ids. Under append-only ids that is the full
  * run's rule, and the stream's cumulative survivors are the input minus
  * `distinct(id_b)` of one minHashNearDups over all batches: a doc that
  * near-duplicates only a dropped doc is dropped too, because the store
  * holds dropped docs as well. The one divergence is the hot-bucket cap,
  * which the stream never applies: its candidate join is batch × bucket,
  * linear in a bucket's stored rows rather than quadratic, so a capped
  * full run can keep docs the stream drops (NearDupStreamSpec exercises
  * it). A bucket's stored rows stay bounded under floods because a doc
  * dropped at Jaccard 1.0 is not stored (see nearDupBatch).
  *
  * Store layout (v3):
  *
  *   storePath/buckets/band=<b>/shard=<s>/…parquet   (bucket, doc_id)
  *   storePath/shingles/shard=<s>/…parquet           (doc_id, shingles)
  *   storePath/_store_meta.json                      layout + minhash config
  *
  * Both tables hold one entry per doc the stream has seen, admitted or
  * dropped, except exact shingle-set copies: one bucket row per band,
  * partitioned by (band, shard = bucket mod `shards`), and one sorted
  * shingle array, partitioned by shard = xxhash64(id) mod `shards`. A
  * micro-batch collects its own (band, shard) footprint (bounded by
  * bands×shards however large the batch) and reads ONLY those bucket
  * partitions, then the shingle shards its stored candidates hash to.
  * Partitions a batch does not touch are never opened, but the shingle
  * pruning is per id shard: once a batch's stored candidates span about
  * `shards` ids it reads every shard, so per-trigger shingle IO scales
  * with the store (only the candidates' rows reach the verify join). A
  * new store gets `DefaultShards`; an existing store
  * keeps the shard count its meta records. The meta is written once,
  * atomically, by TableIO.writeFile and read by TableIO.readJson; both
  * tables are compacted by TableIO.compactPartitions ([[compactStore]]).
  *
  * Delivery semantics: survivors append to the caller's out path
  * at-least-once (foreachBatch replays after a crash). The store append
  * itself is replay-safe for RESULTS — a replayed batch anti-joins its
  * own earlier rows out of the bucket view, and reads shingle rows of
  * stored candidates only (see nearDupBatch), so it recomputes identical
  * survivors; the duplicate rows a replay appends
  * are content-identical, candidates are distinct pairs, and a verified
  * pair seen twice drops the same id, so decisions never change. Dedup
  * the out path downstream when exactly-once matters (or front it with
  * the committed-pointer pattern LinkageStream uses).
  */
object NearDupStream {

  /** Bumped when the store layout or bucket derivation changes. */
  val StoreVersion = 3

  /** Store partition fan-out: bucket partitions = bands × shards, shingle
    * partitions = shards. */
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
        // it as a partitioned store would silently see an empty store and
        // re-admit dups
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
        // a v2 store holds admitted docs' signatures only: no shingle
        // arrays to verify against, and no dropped docs
        require(meta.version == StoreVersion,
          s"store $storePath is layout v${meta.version}, engine supports " +
            s"v$StoreVersion; point the stream at a fresh store dir")
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
    * buckets/shingles and re-admits every duplicate — refuse loudly. */
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

  /** The store's two tables: directory name, partition columns, and the
    * on-disk schema for a given id type. The schema is supplied explicitly
    * on every read so schema inference never opens a parquet footer in an
    * unmatched partition (it also skips the per-batch inference pass). */
  private case class Table(dir: String, partitions: Seq[String],
                           schema: StructField => StructType)

  private val Buckets = Table("buckets", Seq("band", "shard"), id =>
    StructType(Seq(StructField("bucket", LongType), id,
      StructField("band", IntegerType), StructField("shard", IntegerType))))

  private val Shingles = Table("shingles", Seq("shard"), id =>
    StructType(Seq(id, StructField("shingles", ArrayType(LongType)),
      StructField("shard", IntegerType))))

  /** The rows of `table` in the partitions `parts` selects. The meta is
    * written BEFORE the first append (crash-ordering contract) — a replay
    * between the two reads an empty store, so a missing table dir must
    * mean "no rows", not path-not-found (ADVICE r05: the stream failed on
    * every replay of that window otherwise). `parts` is a predicate over
    * partition columns only, so the scan lists and reads matched
    * partition directories exclusively (NearDupStreamSpec proves it by
    * planting a poison file in an untouched partition of each table). */
  private def readTable(spark: SparkSession, storePath: String, table: Table,
                        idCol: String, idType: DataType,
                        parts: Column): DataFrame = {
    val schema = table.schema(StructField(idCol, idType))
    val path = s"$storePath/${table.dir}"
    if (TableIO.fileSystem(spark, storePath).exists(
        new org.apache.hadoop.fs.Path(path)))
      spark.read.schema(schema).parquet(path).filter(parts)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Append rows to `table`, clustered by their target partition before
    * the partitionBy write: without the clustering every writer task
    * emits one file per partition value it holds — measured ~10k files
    * PER BATCH at bands×shards = 256 and 32 shuffle partitions (the
    * small-files pathology that dominates trigger wall as the store
    * ages). With it, each partition lands in exactly one task → at most
    * one file per touched partition per append. */
  private def append(rows: DataFrame, storePath: String,
                     table: Table): Unit = {
    val path = s"$storePath/${table.dir}"
    rows.repartition(table.partitions.map(col): _*)
      .write.mode("append").partitionBy(table.partitions: _*).parquet(path)
    rows.sparkSession.catalog.refreshByPath(path)
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

  /** A doc's shingle shard: xxhash64(id) mod `shards`. */
  private def idShard(id: Column, shards: Int): Column =
    pmod(xxhash64(id), lit(shards.toLong)).cast("int")

  /** Per-partition file compaction of both store tables
    * ([[TableIO.compactPartitions]] over `buckets/` and `shingles/`) —
    * run on a schedule for long-lived streams: every append adds at most
    * one file per touched partition. Returns the number of partitions
    * rewritten. */
  def compactStore(spark: SparkSession, storePath: String,
                   maxFilesPerPartition: Int = 8): Int = {
    require(readStoreMeta(spark, storePath).isDefined,
      s"no near-dup store at $storePath")
    Seq(Buckets, Shingles).map(t => TableIO.compactPartitions(spark,
      s"$storePath/${t.dir}", maxFilesPerPartition)).sum
  }

  /** One micro-batch step (exactly what the foreachBatch sink invokes;
    * exposed for deterministic testing). Returns the batch's survivors
    * — the batch minus the batch doc of every verified near-dup pair
    * among the batch and the store — and appends the shingle array and
    * bucket rows of every batch doc but those dropped at Jaccard 1.0 to
    * `storePath`. Only bucket partitions matching the batch's own
    * (band, shard) footprint and shingle shards holding a stored
    * candidate are read. `cfg`'s cap fields are not used (see the object
    * doc).
    *
    * The result is localCheckpoint()'d: `unpersist()` does NOT free its
    * blocks; release it with `DatasetBridge.releaseCheckpoint(result)`
    * once every consumer has materialized it. */
  def nearDupBatch(batch: DataFrame, storePath: String,
                   cfg: Dedup.MinHashConfig =
                     Dedup.MinHashConfig(oph = true),
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val spark = batch.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val idType = batch.schema(idCol).dataType
    val meta = readStoreMeta(spark, storePath)
    meta.foreach(requireCompatible(_, cfg))
    val shards = meta.fold(DefaultShards)(_.shards)

    // the kernel relation (id, shingles, buckets) feeds the footprint,
    // both candidate legs, the verify and both appends
    val mh = Dedup.minHashDocs(batch, cfg, idCol, textCol).persist(lvl)
    val buckets = Dedup.bucketRows(mh, idCol).withColumn("shard",
      pmod(col("bucket"), lit(shards.toLong)).cast("int"))
    // the batch's partition footprint — bounded by bands×shards values
    // however large the batch, so the driver collect stays tiny
    val touched = buckets.select(col("band"), col("shard")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

    // stored candidates (stored_id, batch_id) from the pruned bucket
    // partitions, minus the batch's own ids: a crash between the store
    // append and the checkpoint commit re-delivers the batch, and without
    // the anti-join its own earlier rows would mark every doc a
    // self-duplicate (survivors == empty, the batch silently lost from
    // the out path). The anti-join restores the pre-append view, so a
    // replay recomputes identical survivors.
    val batchIds = batch.select(col(idCol))
    val stored = meta.map { _ =>
      readTable(spark, storePath, Buckets, idCol, idType,
          inPartitions(touched))
        .join(batchIds, Seq(idCol), "left_anti")
        .select(col("band"), col("shard"), col("bucket"),
          col(idCol).as("stored_id"))
        .join(buckets.select(col("band"), col("shard"), col("bucket"),
          col(idCol).as("batch_id")), Seq("band", "shard", "bucket"))
        .select("stored_id", "batch_id").distinct()
        .persist(lvl)
    }
    // the stored candidates' shingle arrays: the id shards they hash to
    // (at most `shards` values) are read, and only the candidates' rows
    // cross the verify shuffle
    val storedShingles = stored.map { sc =>
      val ids = sc.select(col("stored_id").as(idCol)).distinct()
      val needed = ids.select(idShard(col(idCol), shards)).distinct()
        .collect().map(_.getInt(0)).toSeq
      readTable(spark, storePath, Shingles, idCol, idType,
          col("shard").isin(needed: _*))
        .join(ids, Seq(idCol), "left_semi")
        .select(col(idCol), col("shingles"))
    }

    // the full run's pairs restricted to those touching the batch: the
    // batch's self-join (smaller id first) plus batch × store with the
    // STORED doc first, so a stored doc beats a batch doc whatever the
    // ids (under append-only ids both legs are the smaller-id rule)
    val pairs = stored.map(_.select(col("stored_id").as("id_a"),
        col("batch_id").as("id_b")))
      .foldLeft(Dedup.lshCandidates(buckets, idCol))(_.unionByName(_))
    val shingles = storedShingles
      .foldLeft(mh.select(col(idCol), col("shingles")))(_.unionByName(_))
    // every dropped batch doc with its best verified Jaccard. Survivors
    // and the store appends must stop depending on the store path BEFORE
    // the first append: an append invalidates every cache over its path,
    // and a recompute would re-read the store. localCheckpoint is eager
    // and lineage-free, so both derive from an inert relation.
    val dropped = Dedup.verifyPairs(pairs, shingles, idCol,
        cfg.jaccardThreshold)
      .groupBy(col("id_b").as(idCol)).agg(max(col("jaccard")).as("_j"))
      .localCheckpoint()
    val survivors = batch.join(dropped, Seq(idCol), "left_anti")
      .localCheckpoint()
    // a doc dropped at Jaccard 1.0 has the shingle set, hence the buckets
    // and every near-dup relation, of a partner that stays stored (a
    // stored doc, or a smaller in-batch id that is stored or is itself
    // such a copy), so storing it changes no decision — and skipping it
    // keeps a flood of identical docs at one stored copy instead of a
    // bucket that grows, and is joined against, with every copy
    val copies = dropped.filter(col("_j") >= 1.0).select(col(idCol))
    def kept(rows: DataFrame) = rows.join(copies, Seq(idCol), "left_anti")
    // meta BEFORE the first data append: a crash between them leaves a
    // valid empty store, whereas data-without-meta would read as a v1
    // layout and refuse to start. Shingles BEFORE buckets: every bucket
    // row's doc then has its array, whatever crash comes between.
    if (meta.isEmpty) writeStoreMeta(spark, storePath, cfg)
    append(kept(mh).select(col(idCol), col("shingles"),
      idShard(col(idCol), shards).as("shard")), storePath, Shingles)
    append(kept(buckets), storePath, Buckets)
    DatasetBridge.releaseCheckpoint(dropped)
    mh.unpersist(blocking = false)
    stored.foreach(_.unpersist(blocking = false))
    survivors
  }

  /** foreachBatch sink: admitted (near-dup-free) docs land in
    * `outPath`, every doc's shingles and buckets accumulate in
    * `storePath`, progress is checkpointed. `docs` is a streaming
    * DataFrame with (doc_id, text). `once = true` drains everything
    * currently available and stops (Trigger.AvailableNow — the
    * scheduled-job deployment shape). */
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
        // a long-running stream would otherwise accumulate one
        // checkpointed batch per trigger (the leak class measured to
        // degrade CC 4 s → 55 s)
        DatasetBridge.releaseCheckpoint(survivors)
        ()
      }
    (if (once)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer)
      .start()
  }
}

/** Streaming near-dup gate CLI — the deployment shape of
  * [[NearDupStream.nearDupSink]] (the near-dup twin of
  * LinkageStreamMain):
  *
  *   spark-submit --class graft.streaming.NearDupStreamMain <jar> \
  *     --source <landing dir of (doc_id, text) parquet> \
  *     --store <near-dup store dir> --output <admitted-docs dir> \
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
      options = Set("num-hashes", "bands", "shingle-size", "jaccard", "seed",
        "store", "source", "output", "checkpoint", "compact"),
      flags = Set("once", "no-oph"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val store = Cli.required(opts, "store")
    val cfg = Dedup.MinHashConfig(
      numHashes = opts.getOrElse("num-hashes", "64").toInt,
      bands = opts.getOrElse("bands", "16").toInt,
      shingleSize = opts.getOrElse("shingle-size", "3").toInt,
      jaccardThreshold = opts.getOrElse("jaccard", "0.7").toDouble,
      seed = opts.getOrElse("seed", "42").toLong,
      oph = !opts.contains("no-oph"))
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
}
