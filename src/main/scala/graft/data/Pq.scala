package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.linkage.TableIO
import graft.linkage.expr.{functions => gf}

/** Product quantization for embedding ANN at corpus scales where raw
  * vectors dominate the scan cost (training-data pipeline op; companion
  * to [[Ann]]).
  *
  * A 64-dim float32 embedding is 256 bytes/row; its PQ code at M=8
  * subspaces is 8 bytes/row — a 32× smaller scan for the candidate pass.
  * At 100 TB of embeddings the ADC sweep touches ~3 TB of codes (and
  * with the IVF-PQ index, only the probed partitions of that), while the
  * full vectors are read once more for just the refine candidates.
  *
  * Design (the FAISS IVF-PQ family, re-expressed as Catalyst plans):
  *  - codebooks: M per-subspace k-means quantizers (K entries each),
  *    trained on the same capped deterministic sample as the IVF coarse
  *    quantizer ([[Ann.trainingSample]]);
  *  - encode: one codegen'd kernel ([[graft.linkage.expr.PqEncodeExpr]])
  *    → array<int> of M sub-centroid ids — no per-row HOFs;
  *  - search: per-QUERY lookup table (M·K sub-distances, computed once
  *    per query before the candidate join), then an O(M) table-lookup
  *    asymmetric distance per candidate ([[graft.linkage.expr.PqAdcExpr]]);
  *  - refine: exact cosine over the full vectors of only the top
  *    `refine` ADC candidates (vectors never enter the candidate sweep,
  *    and never cross an exchange — candidate ids broadcast back).
  *
  * Codes are encoded against RAW vectors, not IVF residuals (FAISS
  * `by_residual=false`): one global codebook serves every cell, appends
  * need no per-cell state, and the ADC math stays cross-engine checkable
  * (q_ann_pq_fixed value-oracles encode + LUT + ADC + ranking end-to-end
  * in DuckDB). Residual encoding buys recall at equal code size but ties
  * every code to its cell's centroid generation — the wrong trade for an
  * append-heavy corpus store.
  */
object Pq {

  /** K ≤ 256 keeps a code slot byte-sized on disk (parquet dictionary
    * pages); lloydIters/seed mirror [[Ann.IvfConfig]]. */
  case class PqConfig(numSubspaces: Int = 8, codebookSize: Int = 256,
                      lloydIters: Int = 3, seed: Long = 13L)

  /** Contiguous subspace slices; the first dims % M subspaces take the
    * extra dimension when M doesn't divide dims. Returns (offset, len)
    * per subspace. */
  private[graft] def subspaceSlices(dims: Int, m: Int): Array[(Int, Int)] = {
    require(m > 0 && m <= dims, s"numSubspaces $m out of range for dims $dims")
    val base = dims / m
    val extra = dims % m
    val out = new Array[(Int, Int)](m)
    var off = 0
    var i = 0
    while (i < m) {
      val len = base + (if (i < extra) 1 else 0)
      out(i) = (off, len)
      off += len
      i += 1
    }
    out
  }

  /** Train the M per-subspace codebooks: Lloyd over the sliced, capped,
    * deterministic sample (the subspace slice of exactly the rows
    * [[Ann.trainingSample]] picks). Driver holds M·K·(dims/M) doubles —
    * the full codebook tensor is dims·K doubles (128 KB at K=256,
    * dims=64), corpus-size-independent. */
  def trainCodebooks(corpus: DataFrame, cfg: PqConfig = PqConfig(),
                     idCol: String = "vec_id"): Array[Array[Array[Double]]] = {
    val dims = corpus.select(size(col("embedding")).as("d")).head.getInt(0)
    val slices = subspaceSlices(dims, cfg.numSubspaces)
    val sample = Ann.trainingSample(
        corpus.select(col(idCol), col("embedding")), cfg.codebookSize, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      slices.map { case (off, len) =>
        val sub = sample.select(col(idCol),
          slice(col("embedding"), off + 1, len).as("embedding"))
        // deterministic init per subspace: the K rows with smallest
        // xxhash64(id) — same rule as Ann.trainCentroids, so the whole
        // tensor is reproducible from (corpus, cfg)
        val init = sub
          .withColumn("h", xxhash64(col(idCol)))
          .orderBy(col("h")).limit(cfg.codebookSize)
          .select(col("embedding")).collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        Ann.lloyd(sub, init, cfg.lloydIters)
      }
    } finally sample.unpersist(blocking = false)
  }

  /** PQ-encode a corpus: (id, code) with code = array<int> of M
    * sub-centroid ids. One codegen'd projection, no shuffle. */
  def encode(corpus: DataFrame, codebooks: Array[Array[Array[Double]]],
             idCol: String = "vec_id"): DataFrame =
    corpus.select(col(idCol),
      gf.pq_encode(col("embedding"), codebooks).as("code"))

  /** ADC top-k over a coded corpus: per query, LUT once, then an O(M)
    * lookup distance per candidate; ranked ascending (adc, id). The
    * candidate sweep touches only (id, code) — never a vector. */
  def adcTopK(codes: DataFrame, queries: DataFrame, k: Int,
              codebooks: Array[Array[Array[Double]]],
              idCol: String = "vec_id"): DataFrame = {
    val kk = codebooks.headOption.map(_.length).getOrElse(0)
    val q = queries.select(col("query_id"),
      gf.pq_lut(col("embedding"), codebooks).as("lut"))
    val scored = codes.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        gf.pq_adc(col("lut"), col("code"), kk).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("adc"), col("rank"))
  }

  /** Exact-cosine re-rank of (query_id, id) candidate pairs: vectors
    * stay columnar-pruned until here, candidates ride as a broadcast.
    * `joinCols` lets an index-backed caller include the partition column
    * so the broadcast join also drives dynamic partition pruning. */
  private def refineExact(vectors: DataFrame, cands: DataFrame,
                          queries: DataFrame, k: Int,
                          idCol: String,
                          joinCols: Seq[String] = Seq.empty): DataFrame = {
    val qv = queries.select(col("query_id"), col("embedding").as("q_emb"))
    val onCols = if (joinCols.nonEmpty) joinCols else Seq(idCol)
    val scored = vectors
      .join(broadcast(cands), onCols)
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", Ann.cosine(col("embedding"), col("q_emb")))
      .select(col("query_id"), col(idCol), col("cos")) // narrow pre-window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("cos"), col("rank"))
  }

  // ---------- persisted IVF-PQ index ----------

  /** Bumped whenever the cell layout, code semantics, or sidecar shapes
    * change. */
  val IndexVersion = 1

  /** Build and persist the IVF-PQ index: `<path>/cells` is parquet
    * PARTITIONED BY the coarse centroid, holding (id, code, embedding) —
    * parquet's columnar layout means the ADC sweep's (id, code)
    * projection never reads the embedding bytes, while the refine step
    * reads (id, embedding) for just the probed partitions. Sidecars:
    * the coarse quantizer (centroids.json, [[Ann]] format), the PQ
    * codebook tensor (pq_codebooks.json), and a config fingerprint
    * (ivfpq_meta.json) that readers/appenders validate. */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
                      ivfCfg: Ann.IvfConfig = Ann.IvfConfig(),
                      pqCfg: PqConfig = PqConfig(),
                      idCol: String = "vec_id"): Unit = {
    val ivf = Ann.sized(ivfCfg, corpus)
    val centroids = Ann.trainCentroids(corpus, ivf, idCol)
    val codebooks = trainCodebooks(corpus, pqCfg, idCol)
    Ann.assign(corpus, centroids)
      .select(col("centroid"), col(idCol),
        gf.pq_encode(col("embedding"), codebooks).as("code"),
        col("embedding"))
      .write.mode("overwrite").partitionBy("centroid")
      .parquet(s"$path/cells")
    val spark = corpus.sparkSession
    Ann.writeCentroids(spark, path, centroids)
    TableIO.writeJsonLines(spark, s"$path/pq_codebooks.json",
      codebooks.toSeq.zipWithIndex.flatMap { case (cb, m) =>
        cb.toSeq.zipWithIndex.map { case (v, k) =>
          TableIO.jsonObject("sub" -> m, "k" -> k, "vec" -> v)
        }
      })
    TableIO.writeJson(spark, s"$path/ivfpq_meta.json", TableIO.jsonObject(
      "version" -> IndexVersion, "nCentroids" -> centroids.length,
      "numSubspaces" -> codebooks.length,
      "codebookSize" -> codebooks.headOption.map(_.length).getOrElse(0),
      "dims" -> centroids.headOption.map(_.length).getOrElse(0),
      "seed" -> ivf.seed, "pqSeed" -> pqCfg.seed))
  }

  /** Codebook sidecar reader (driver-side; M·K rows). */
  def readPqCodebooks(spark: SparkSession, path: String)
      : Array[Array[Array[Double]]] =
    TableIO.readJsonLines(spark, s"$path/pq_codebooks.json")
      .getOrElse(throw new IllegalArgumentException(
        s"$path/pq_codebooks.json missing"))
      .groupBy(_.get("sub").asLong)
      .toArray.sortBy(_._1)
      .map(_._2.sortBy(_.get("k").asLong)
        .map(n => TableIO.doubles(n.get("vec"))).toArray)

  /** Meta-first validation (checked BEFORE the sidecars are read, so a
    * plain-IVF dir or pre-stamp layout refuses loudly instead of dying
    * on a missing sidecar path), then shape checks against the loaded
    * quantizers. Returns (centroids, codebooks). */
  private def loadValidated(spark: SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val meta = TableIO.readJson(spark, s"$path/ivfpq_meta.json").getOrElse(
      throw new IllegalArgumentException(s"$path/ivfpq_meta.json missing — " +
        "not an IVF-PQ index (plain IVF indexes carry ivf_meta.json; " +
        "rebuild with writeIvfPqIndex)"))
    def field(key: String) = meta.path(key).asLong
    require(field("version") == IndexVersion,
      s"index version ${field("version")} != supported " +
        s"$IndexVersion ($path)")
    val centroids = Ann.readIvfCentroids(spark, path)
    val codebooks = readPqCodebooks(spark, path)
    require(field("nCentroids") == centroids.length,
      s"coarse quantizer mismatch at $path")
    require(field("numSubspaces") == codebooks.length &&
        codebooks.forall(_.length == field("codebookSize")),
      s"PQ codebook shape mismatch at $path")
    val dims = field("dims")
    require(centroids.forall(_.length == dims) &&
        codebooks.map(_.head.length).sum == dims,
      s"dims mismatch: meta says $dims ($path)")
    (centroids, codebooks)
  }

  /** Append new vectors: coarse-assign + PQ-encode with the PERSISTED
    * quantizers (both immutable once built; [[Ann.ivfDrift]]-style
    * rebuild judgement applies to the coarse side, and a codebook only
    * drifts if the per-subspace value distribution does). Only touched
    * partitions gain files; compaction rides [[Ann.compactIvfIndex]]'s
    * layout contract (same cells/ dir shape). */
  def appendToIvfPqIndex(newVectors: DataFrame, path: String,
                         idCol: String = "vec_id"): Unit = {
    val spark = newVectors.sparkSession
    val (centroids, codebooks) = loadValidated(spark, path)
    Ann.assign(newVectors, centroids)
      .select(col("centroid"), col(idCol),
        gf.pq_encode(col("embedding"), codebooks).as("code"),
        col("embedding"))
      .write.mode("append").partitionBy("centroid")
      .parquet(s"$path/cells")
    spark.catalog.refreshByPath(s"$path/cells")
  }

  /** Per-partition file compaction after append bursts
    * ([[TableIO.compactPartitions]] over `cells/`), behind IVF-PQ
    * validation. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
                        maxFilesPerPartition: Int = 8): Int = {
    loadValidated(spark, path)
    TableIO.compactPartitions(spark, s"$path/cells", maxFilesPerPartition)
  }

  /** Serve top-k from a persisted IVF-PQ index. Per query batch:
    *  1. probe — top-nProbe coarse centroids (codegen kernel, broadcast);
    *  2. ADC sweep — scan ONLY (id, code) of ONLY the probed partitions
    *     (dynamic partition pruning from the broadcast probe set +
    *     parquet column pruning: the vectors' bytes are never read);
    *  3. refine — exact cosine over the full vectors of the top `refine`
    *     candidates per query, read by a second pruned scan, re-ranked
    *     to top-k.
    * At 10⁹ rows × nProbe/k cells probed, step 2 reads ~nProbe/k × M
    * bytes/row and step 3 touches `refine × |queries|` vectors — the
    * only full vectors the query ever materializes. */
  def ivfPqTopKIndexed(spark: SparkSession, path: String,
                       queries: DataFrame, k: Int, nProbe: Int = 4,
                       refine: Int = 50,
                       idCol: String = "vec_id"): DataFrame = {
    val (centroids, codebooks) = loadValidated(spark, path)
    val kk = codebooks.headOption.map(_.length).getOrElse(0)
    val cells = spark.read.parquet(s"$path/cells")
    // LUT in its own select BELOW the explode: inlined beside explode()
    // it would land in the Project above the Generate and re-evaluate
    // once per probe row (the measured md5-next-to-explode trap)
    val qWithLut = queries.select(col("query_id"), col("embedding"),
      gf.pq_lut(col("embedding"), codebooks).as("lut"))
    val qLut = qWithLut.select(col("query_id"), col("lut"),
      explode(Ann.nearestCentroids(col("embedding"), centroids, nProbe))
        .as("centroid"))
      // comparison filter above the explode: what PartitionPruning's
      // selectivity walk needs to fire DPP (see Ann.probeCells)
      .filter(col("centroid") >= 0)
    val sweep = cells.select(col("centroid"), col(idCol), col("code"))
      .join(broadcast(qLut), Seq("centroid"))
      .select(col("query_id"), col("centroid"), col(idCol),
        gf.pq_adc(col("lut"), col("code"), kk).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col(idCol))
    // carry the candidate's CENTROID into the refine join (ADVICE r05):
    // joining the vector scan on (centroid, id) — centroid being the
    // cells table's partition column — lets dynamic partition pruning
    // drop every unprobed partition from the refine scan too. The r05
    // shape joined on the non-partition id alone, so step 3 re-scanned
    // the embedding column of EVERY index partition, contradicting the
    // "second pruned scan" contract (PqSpec now pins both pruned scans).
    val cands = sweep.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= math.max(k, refine))
      .select(col("query_id"), col("centroid"), col(idCol))
    refineExact(cells.select(col("centroid"), col(idCol), col("embedding")),
      cands, queries, k, idCol, joinCols = Seq("centroid", idCol))
  }
}
