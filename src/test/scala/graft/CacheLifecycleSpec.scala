package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.linkage._

/** Cache hygiene (VERDICT r02 #2): library operators must not strand
  * persisted blocks the caller can't release. Positions/scoringFiles cache
  * nothing at all; operators that DO persist internally (minhash fan-out,
  * CC rounds, Pipeline stages) must release everything except handles the
  * caller can see — and releasing those must leave the session clean.
  * BASELINE.md documents the blast radius of getting this wrong (CC at
  * 55 s instead of 4 s under leaked-block memory pressure). */
class CacheLifecycleSpec extends AnyFunSuite with SparkFixture {

  // suites share one session; start each scenario from a clean slate
  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("Positions.withPosition caches nothing") {
    clearAll()
    import spark.implicits._
    val df = (1 to 100).map(i => (f"c$i%03d", i)).toDF("conv_id", "v")
    val out = Positions.withPosition(df, col("conv_id"), "pos")
    val rows = out.orderBy("pos").collect()
    assert(rows.length == 100)
    assert(rows.map(_.getString(0)).toSeq == (1 to 100).map(i => f"c$i%03d"))
    assert(rows.map(_.getLong(2)).toSeq == (0L until 100L))
    assert(persisted == 0)
  }

  test("Output.scoringFiles leaves no cached blocks after materialization") {
    clearAll()
    import spark.implicits._
    // the clusters shape: 7 clusters, each named by its members[0]
    val clusters = (1 to 50).groupBy(_ % 7).values.toSeq
      .map(is => is.sorted.map(i => f"c$i%03d"))
      .map(m => (m.head, m)).toDF("cluster_id", "members")
    val (perMember, perHousehold) = Output.scoringFiles(clusters)
    assert(perMember.collect().length == 50)
    assert(perHousehold.collect().length == 7)
    assert(persisted == 0)
  }

  test("Dedup.minHashNearDups releases internals; caller owns the result") {
    clearAll()
    import spark.implicits._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every checkpointed RDD the pipeline's queries scan
    def scanned(p: SparkPlan): Seq[Int] = p match {
      case r: RDDScanExec => Seq(r.rdd.id)
      case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
      case s: QueryStageExec => scanned(s.plan)
      case i: InMemoryTableScanExec => scanned(i.relation.cachedPlan)
      case _ => p.children.flatMap(scanned)
    }
    val rdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = scanned(qe.executedPlan).foreach(rdds.add)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    val docs = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta doc$i"))
      .toDF("doc_id", "text")
    // a full run, and the daily-append form over the same 40 docs
    Seq(None, Some(docs.filter(col("doc_id") < 20))).foreach { previous =>
      rdds.clear()
      val next = previous.fold(docs)(_ => docs.filter(col("doc_id") >= 20))
      spark.listenerManager.register(listener)
      val out = try graft.data.Dedup.minHashNearDups(next,
          previous = previous) finally {
        org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      // the per-doc (id, shingles, buckets) relation is the one checkpoint
      assert(rdds.size == 1, s"checkpoints scanned: $rdds")
      out.collect()
      assert(persisted == 1, "exactly the returned handle stays cached")
      out.unpersist(true)
      assert(persisted == 0)
    }
  }

  test("connectedComponents releases round state; caller owns the labels") {
    clearAll()
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val labels = Cluster.connectedComponents(spark, edges)
    labels.collect()
    assert(persisted == 1, "only the returned labels stay cached")
    labels.unpersist(true)
    assert(persisted == 0)
  }

  test("Pipeline.run exposes every cache handle; Result.unpersist clears") {
    clearAll()
    val transcripts = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 7L, nConvs = 120, days = 5)).toDF
    val result = Pipeline.run(spark, transcripts)
    result.clusters.collect()
    // the incremental entry point builds its handles in the same tail
    val inc = Pipeline.incremental(spark, result.records,
      result.matchedPairs, SynthTranscripts.transcripts(spark,
        SynthTranscripts.Config(seed = 8L, nConvs = 40, days = 5)).toDF
        .withColumn("conv_id", concat(lit("n"), col("conv_id"))))
    inc.clusters.collect()
    inc.unpersist()
    result.unpersist()
    assert(persisted == 0)
  }
}
