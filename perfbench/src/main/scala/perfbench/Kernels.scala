package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.linkage.Scoring
import graft.linkage.expr.Sim

/** Kernel-level measurements outside any Spark job. */
object Kernels {

  /** Single-thread `Sim.jaroWinklerUtf8` cost on the workload's own
    * street pairs (up to 2000 candidate pairs, both sides). */
  def jwNsPerPair(spark: SparkSession, records: DataFrame,
                  pairs: DataFrame): Double = {
    val street = records.select(col("conv_id"), col("addr.street").as("s"))
    val sample = pairs.orderBy("id_a", "id_b").limit(2000)
      .join(street.toDF("id_a", "sa"), "id_a")
      .join(street.toDF("id_b", "sb"), "id_b")
      .select("sa", "sb").collect()
      .map(r => (UTF8String.fromString(r.getString(0)),
        UTF8String.fromString(r.getString(1))))
    if (sample.isEmpty) return 0.0
    var sink = 0.0
    def pass(): Unit = sample.foreach { case (a, b) =>
      sink += Sim.jaroWinklerUtf8(a, b)
    }
    val warmEnd = System.nanoTime() + 300000000L
    while (System.nanoTime() < warmEnd) pass()
    // best of five ~0.1 s windows
    val perPair = (1 to 5).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 100000000L) { pass(); n += sample.length }
      (System.nanoTime() - t0).toDouble / n
    }.min
    if (sink < 0) println(sink) // keeps the loop observable
    perPair
  }

  /** Scoring over the same materialized pairs in a local[1] and a
    * local[4] session (broadcast joins off, as at scale; the JVM is warm
    * from the traced run): wall ratio of one execution each. Stops each
    * session it starts. */
  def speedup1to4(dir: String, session: Int => SparkSession): Double = {
    def wall(cores: Int): Double = {
      val s = session(cores)
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        val records = s.read.parquet(s"$dir/records")
        val pairs = s.read.parquet(s"$dir/pairs")
        Workload.timed(Scoring.scorePairs(records, pairs)
          .write.format("noop").mode("overwrite").save())._2
      } finally s.stop()
    }
    wall(1) / wall(4)
  }
}
