package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.linkage.{Pipeline, SynthTranscripts}

/** Continuous-linkage soak (VERDICT r04 #6): drive N batches through the
  * delta-log store and measure per-trigger wall against the growing
  * corpus — the number that tells a deployment how trigger latency
  * scales as the store ages. Results land in BASELINE.md.
  *
  *   sbt -batch "runMain graft.streaming.LinkageSoakMain
  *     --workdir /tmp/soak [--convs 20000] [--batches 10]"
  *
  * Batches split the synthetic corpus by conversation hash, so a
  * conversation is whole within its batch (the sink's contract) while
  * garble families routinely span batches — every trigger performs real
  * cross-batch matching. Per-trigger output: wall seconds, cumulative
  * records, rows appended to the two delta logs (the O(batch) bound),
  * and the cluster count.
  */
object LinkageSoak {

  case class Trigger(batch: Int, wallSec: Double, batchConvs: Long,
                     cumRecords: Long, recordsAppended: Long,
                     matchesAppended: Long, clusters: Long)

  def run(spark: SparkSession, workDir: String, nConvs: Int,
          nBatches: Int): Seq[Trigger] = {
    val store = s"$workDir/store"
    val all = SynthTranscripts.transcripts(spark,
        SynthTranscripts.Config(seed = 42L, nConvs = nConvs,
          days = math.max(20, nConvs / 500))).toDF
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    all.count()
    val bucket = pmod(xxhash64(col("conv_id")), lit(nBatches.toLong))
    val out = (0 until nBatches).map { i =>
      val batch = all.filter(bucket === i)
      val nBatchConvs = batch.select("conv_id").distinct().count()
      val t0 = System.nanoTime()
      LinkageStream.linkBatch(batch, i.toLong, store)
      val wall = (System.nanoTime() - t0) / 1e9
      val rec = spark.read.parquet(s"$store/records_log/batch=$i").count()
      val mat = spark.read.parquet(s"$store/matches_log/batch=$i").count()
      val cum = LinkageStream.currentRecords(spark, store).count()
      val clusters = LinkageStream.currentClusters(spark, store).count()
      val t = Trigger(i, wall, nBatchConvs, cum, rec, mat, clusters)
      println(f"[graft-soak] batch=$i%d wall=${t.wallSec}%.2fs " +
        f"batchConvs=$nBatchConvs%d cumRecords=$cum%d " +
        f"recAppended=$rec%d matAppended=$mat%d clusters=$clusters%d")
      t
    }
    all.unpersist(blocking = false)
    out
  }
}

object LinkageSoakMain {
  import graft.linkage.Cli

  def main(args: Array[String]): Unit = {
    // bench-comparable sizing: SparkConf picks spark.* system properties
    // up, so the env knob rides into Cli.session's builder
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").foreach(p =>
      System.setProperty("spark.sql.shuffle.partitions", p))
    Cli.main("graft-linkage-soak", args,
        options = Set("workdir", "convs", "batches")) { (spark, opts) =>
      val triggers = LinkageSoak.run(spark, Cli.required(opts, "workdir"),
        opts.getOrElse("convs", "20000").toInt,
        opts.getOrElse("batches", "10").toInt)
      val js = triggers.map(t =>
        f"""{"batch":${t.batch},"wall_sec":${t.wallSec}%.2f,""" +
        s""""batch_convs":${t.batchConvs},"cum_records":${t.cumRecords},""" +
        s""""rec_appended":${t.recordsAppended},""" +
        s""""mat_appended":${t.matchesAppended},""" +
        s""""clusters":${t.clusters}}""").mkString("[", ",", "]")
      println(s"""[graft-soak-summary] {"triggers":$js}""")
    }
  }
}
