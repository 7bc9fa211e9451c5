package graft.linkage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point for the full linkage pipeline (north-rule
  * deployment surface; the reference's `households.py` CLI analog):
  *
  *   spark-submit --class graft.linkage.LinkageMain <jar> \
  *     --input <transcripts parquet/TableIO dir> \
  *     --output <dir> \
  *     [--checkpoint <dir>]       CC round checkpoints (resumable)
  *     [--exact-addresses]        exact mode (matching.py:401–402)
  *     [--pairsfile <parquet>]    pre-computed matched pairs
  *     [--secret <hex>]           emit household CLKs (garble stage)
  *     [--testrun]                emit the scoring files
  *     [--max-turns <n>]          runaway-conversation guard: keep only
  *                                the n lowest-turn_idx turns per
  *                                conversation (bounds the fold buffer;
  *                                breaks per-turn equality for truncated
  *                                conversations by design)
  *     [--previous <dir>]         daily-append mode: link --input against
  *                                the records/matched_pairs of an earlier
  *                                run's output dir (Pipeline.incremental —
  *                                O(new × neighborhood), labels equal a
  *                                full recompute)
  *     [--householddef <csv>]     household definitions file: skip
  *                                inference, CLK-encode the given
  *                                households (households.py -d)
  *     [--synthetic <nConvs>]     generate a synthetic corpus instead of
  *                                reading --input
  *
  * Writes TableIO-layout tables under --output: records, matched_pairs,
  * clusters, mapping, metrics (+ household_clks, scoring files). Order:
  * the pipeline builds each stage output (records, candidate pairs,
  * matches, clusters) once into a local checkpoint and counts its
  * metric rows on those builds; then every output is written side by
  * side from the checkpoints; they are released once the last writer has
  * returned.
  * Cluster sizing (partitions, AQE) comes from spark-submit conf; set
  * spark.sql.adaptive.advisoryPartitionSizeInBytes low (8m) — scoring is
  * CPU-bound, not byte-bound (see BASELINE.md).
  */
object LinkageMain {

  /** --householddef (households.py:39–44, 322–323, 404–407): the user
    * supplies household definitions (HOUSEHOLD_PII_HEADERS csv:
    * family_name, phone_number, household_street_address, household_zip,
    * record_ids) — inference is skipped entirely; the definitions are
    * CLK-encoded with the households subkey and the metadata records
    * households_inferred = false. */
  def householdDefFlow(spark: SparkSession, defPath: String, out: String,
                       secret: Option[String]): Long = {
    val hhPii = Extract.readCsvAllStrings(spark, defPath)
      .withColumn("cluster_id", col("record_ids"))
    val n = hhPii.count()
    secret.foreach { s =>
      val clks = Garble.householdClks(hhPii, s)
      Garble.writeClksJson(
        clks.withColumnRenamed("cluster_id", "conv_id"),
        s"$out/household_clks")
    }
    Extract.writeMetadata(spark, Map(
      "number_of_households" -> n.toString,
      "households_inferred" -> "false"), s"$out/households_metadata.json")
    n
  }

  def main(args: Array[String]): Unit =
    Cli.main("graft-linkage", args,
      options = Set("input", "output", "checkpoint", "pairsfile", "secret",
        "max-turns", "previous", "householddef", "synthetic"),
      flags = Set("exact-addresses", "testrun"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val out = opts.getOrElse("output",
      throw new IllegalArgumentException("--output required"))
    // a bad secret must fail before any input is read or table written
    opts.get("secret").foreach(Garble.validateSecret)

    opts.get("householddef").foreach { defPath =>
      val n = householdDefFlow(spark, defPath, out, opts.get("secret"))
      println(s"[graft] household definitions encoded: households=$n")
      return
    }

    val transcripts = opts.get("synthetic") match {
      case Some(n) => SynthTranscripts.transcripts(spark,
        SynthTranscripts.Config(nConvs = n.toInt)).toDF
      case None =>
        val in = opts.getOrElse("input",
          throw new IllegalArgumentException("--input or --synthetic required"))
        if (new java.io.File(s"$in/data").isDirectory ||
            in.endsWith("/data")) TableIO.read(spark, in)
        else spark.read.parquet(in)
    }

    val cfg = Pipeline.Config(
      ccOptions = Cluster.Options(checkpointDir = opts.get("checkpoint")),
      exactAddresses = opts.contains("exact-addresses"),
      pairsFile = opts.get("pairsfile"),
      maxTurns = opts.get("max-turns").map(_.toInt).getOrElse(0))
    // --previous <outdir of an earlier run>: daily-append mode. Fold and
    // score ONLY the new transcripts, candidates restricted to pairs
    // touching a new record, CC over previous ∪ new matches — labels
    // provably equal a full recompute (IncrementalSpec); the increment
    // costs O(new × blocked-neighborhood), not O(corpus²).
    val result = opts.get("previous") match {
      case Some(prev) =>
        // every relation of the result reads a checkpoint (matched_pairs
        // is the previous ∪ new matches cut), so no write below reads
        // prev's tables. The guard stays so that the previous generation
        // survives: daily appends alternate output dirs (or snapshot
        // generations)
        Cli.requireOutputDiffers(spark, prev, out)
        val prevRecords = TableIO.read(spark, s"$prev/records")
        val prevMatches = TableIO.read(spark, s"$prev/matched_pairs")
        Pipeline.incremental(spark, prevRecords, prevMatches, transcripts, cfg)
      case None => Pipeline.run(spark, transcripts, cfg)
    }

    try writeOutputs(spark, opts, out, result)
    finally result.unpersist() // release the run's stage checkpoints
  }

  /** Every table and file of a linkage run. None of them reads another,
    * and every checkpoint they read is materialized by the time `result`
    * is returned, so they are written side by side
    * ([[Actions.together]]): the four tables, mapping_csv,
    * households_metadata.json, and the --testrun files and household
    * CLKs when asked for. This returns, or throws the first failure,
    * only once every writer has returned, so the caller's unpersist
    * never races a write. */
  private def writeOutputs(spark: SparkSession, opts: Map[String, String],
                           out: String, result: Pipeline.Result): Unit = {
    val metrics = result.metrics.collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // household position i is the i-th cluster by cluster_id: mapping_csv
    // row i (which ResolveMain --hhsourcefile numbers by scan order) and
    // household CLK i both follow that order. The CLKs are encoded at full
    // parallelism over the global sort, and writeClksJson streams its
    // partitions in index order. The single-file CSV sorts inside its one
    // write task: after coalesce(1) a global sort would run there too,
    // behind a sampling job and a range shuffle. The multi-job outputs are
    // submitted first: jobs are scheduled in submission order.
    val writers: Seq[() => Unit] =
      Option.when(opts.contains("testrun")) { () =>
        val (perMember, perHousehold) = Output.scoringFiles(result.clusters)
        TableIO.write(perMember, s"$out/hh_pos_patids")
        TableIO.write(perHousehold, s"$out/household_pos_pid")
      }.toSeq ++
      opts.get("secret").map { secret => () =>
        val clks = Garble.householdClks(
          result.clusters.orderBy(col("cluster_id")), secret)
        Garble.writeClksJson(
          clks.withColumnRenamed("cluster_id", "conv_id"), s"$out/household_clks")
        ()
      } ++ Seq(
      // comma-joined ids only at the CSV edge (households.py:268–276 shape)
      () => result.clusters.select(col("cluster_id"),
          concat_ws(",", col("members")).as("record_ids"), col("size"))
        .coalesce(1).sortWithinPartitions("cluster_id")
        .write.mode("overwrite").option("header", "true")
        .csv(s"$out/mapping_csv"),
      () => TableIO.write(TableIO.bySize(result.clusters), s"$out/clusters"),
      () => TableIO.write(TableIO.bySize(result.records), s"$out/records"),
      () => TableIO.write(TableIO.bySize(result.matchedPairs),
        s"$out/matched_pairs"),
      // a handful of local rows
      () => TableIO.write(result.metrics.coalesce(1), s"$out/metrics"),
      // households metadata document (households.py:370–390 analog)
      () => Extract.writeMetadata(spark, Map(
        "number_of_households" -> metrics.toMap.apply("clusters").toString,
        "households_inferred" -> "true"), s"$out/households_metadata.json"))
    Actions.together(writers: _*)
    println(s"[graft] linkage complete: " +
      metrics.map { case (k, v) => s"$k=$v" }.mkString(", "))
  }
}
