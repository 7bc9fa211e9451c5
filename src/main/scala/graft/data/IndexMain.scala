package graft.data

import org.apache.spark.sql.SparkSession
import graft.linkage.Cli

/** spark-submit surface for the persisted ANN indexes — the deployment
  * shape of the [[Ann]]/[[Pq]] serving path (build once offline, query
  * from batch jobs, append from ingest, compact/drift on a schedule).
  *
  *   build:   --mode build --input emb.parquet --index /idx
  *            [--pq] [--ncentroids N] [--nprobe P] [--subspaces M]
  *            [--codebook-size K]
  *   query:   --mode query --index /idx --queries q.parquet --output out
  *            [--pq] [--k K] [--nprobe P] [--refine R]
  *   append:  --mode append --index /idx --input new.parquet [--pq]
  *   compact: --mode compact --index /idx [--pq] [--max-files F]
  *   drift:   --mode drift --index /idx        (flat IVF only: the PQ
  *            index shares the coarse quantizer, so drift is measured on
  *            a flat index over the same corpus; codebook drift only
  *            follows per-subspace value-distribution shift)
  *
  * Input parquet needs (vec_id, embedding); queries parquet needs
  * (query_id, embedding). Query output is parquet (query_id, vec_id,
  * cos, rank).
  */
object IndexMain {
  /** Testable core: runs one mode against a provided session and returns
    * the status line that `main` prints. */
  def run(spark: SparkSession, opts: Map[String, String]): String = {
    val mode = Cli.required(opts, "mode")
    val index = Cli.required(opts, "index")
    val pq = opts.contains("pq")
    mode match {
      case "build" =>
        val input = spark.read.parquet(Cli.required(opts, "input"))
        val ivfCfg = Ann.IvfConfig(
          nCentroids = opts.get("ncentroids").map(_.toInt).getOrElse(0),
          nProbe = opts.get("nprobe").map(_.toInt).getOrElse(4))
        if (pq)
          Pq.writeIvfPqIndex(input, index, ivfCfg, Pq.PqConfig(
            numSubspaces = opts.get("subspaces").map(_.toInt).getOrElse(8),
            codebookSize =
              opts.get("codebook-size").map(_.toInt).getOrElse(256)))
        else Ann.writeIvfIndex(input, index, ivfCfg)
        s"[graft] ${if (pq) "IVF-PQ" else "IVF"} index built at " +
          s"$index: ${input.count()} vectors"
      case "query" =>
        val queries = spark.read.parquet(Cli.required(opts, "queries"))
        val out = Cli.required(opts, "output")
        val k = opts.get("k").map(_.toInt).getOrElse(10)
        val nProbe = opts.get("nprobe").map(_.toInt).getOrElse(4)
        val result =
          if (pq)
            Pq.ivfPqTopKIndexed(spark, index, queries, k, nProbe,
              refine = opts.get("refine").map(_.toInt).getOrElse(5 * k))
          else Ann.ivfTopKIndexed(spark, index, queries, k, nProbe)
        result.write.mode("overwrite").parquet(out)
        s"[graft] wrote top-$k for " +
          s"${queries.select("query_id").distinct().count()} queries to $out"
      case "append" =>
        val input = spark.read.parquet(Cli.required(opts, "input"))
        if (pq) Pq.appendToIvfPqIndex(input, index)
        else Ann.appendToIvfIndex(input, index)
        s"[graft] appended ${input.count()} vectors to $index"
      case "compact" =>
        val maxFiles = opts.get("max-files").map(_.toInt).getOrElse(8)
        val n =
          if (pq) Pq.compactIvfPqIndex(spark, index, maxFiles)
          else Ann.compactIvfIndex(spark, index, maxFiles)
        s"[graft] compacted $n cell partitions at $index"
      case "drift" =>
        require(!pq, "--mode drift applies to the flat IVF index " +
          "(the IVF-PQ coarse quantizer is shared; measure drift there)")
        val d = Ann.ivfDrift(spark, index)
        f"[graft] assignment drift $d%.4f stamped into " +
          s"$index/ivf_meta.json (rebuild guidance: >0.15)"
      case other =>
        throw new IllegalArgumentException(
          s"unknown --mode $other (build|query|append|compact|drift)")
    }
  }

  def main(args: Array[String]): Unit =
    Cli.main("graft-index", args,
        options = Set("mode", "index", "input", "ncentroids", "nprobe",
          "subspaces", "codebook-size", "queries", "output", "k", "refine",
          "max-files"),
        flags = Set("pq")) { (spark, opts) =>
      println(run(spark, opts))
    }
}
