package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._
import graft.streaming.LinkageStream

/** Continuous linkage sink: per-micro-batch incremental linkage against
  * an alternating-generation store must equal a full recompute over
  * everything streamed so far, and committed batches must be replay-safe
  * (the restart path of a foreachBatch checkpoint). */
class LinkageStreamSpec extends AnyFunSuite with SparkFixture {

  private lazy val dir = tempDir("linkstream")

  // THREE batches split by seed-conversation so garbles often cross batch
  // boundaries (cross-batch matches required) — and so the store walks
  // g0 → g1 → back over g0: the third batch re-overwrites a generation
  // this session already wrote AND read, the in-session overwrite class
  // FileStatusCache staleness bites on
  private lazy val (all, t1, t2, t3) = {
    val all = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 7L, nConvs = 250)).cache()
    val seedId = regexp_extract(col("conv_id"), "^(c\\d+)", 1)
    val bucket = pmod(xxhash64(seedId), lit(3))
    val t1 = all.filter(bucket === 0 || col("conv_id").contains("~")).collect()
    val t2 = all.filter(bucket === 1 && !col("conv_id").contains("~")).collect()
    val t3 = all.filter(bucket === 2 && !col("conv_id").contains("~")).collect()
    assert(t2.nonEmpty && t3.nonEmpty)
    (all, t1, t2, t3)
  }

  test("streamed batches converge to the full-recompute clusters") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[Turn]
    val q = LinkageStream.linkageSink(input.toDF(), s"$dir/store",
      s"$dir/ckpt")
    try {
      input.addData(t1.toSeq)
      q.processAllAvailable()
      input.addData(t2.toSeq)
      q.processAllAvailable()
      input.addData(t3.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // three non-empty batches → pointer at g0 again (0 → 1 → 0)
    assert(LinkageStream.readState(spark, s"$dir/store").get.gen == 0)

    val full = Pipeline.run(spark, all.toDF)
    val ca = full.clusters.select(col("cluster_id"), col("members"))
    val cb = LinkageStream.currentClusters(spark, s"$dir/store")
      .select(col("cluster_id"), col("members"))
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"full=${ca.count()} streamed=${cb.count()}")
    // snapshot = true returns the same rows through an eager,
    // generation-flip-proof copy
    val snap = LinkageStream.currentClusters(spark, s"$dir/store",
      snapshot = true)
    assert(snap.count() == cb.count())
    org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(snap)

    // the records schema is the common piiCols shape from the FIRST
    // batch on (no wider-then-narrower flip as the store ages)
    assert(LinkageStream.currentRecords(spark, s"$dir/store")
      .columns.toSeq == Pipeline.piiCols)

    // DELTA LOGS: batch N appends exactly its own conversations to
    // records_log — O(batch) rows, never the cumulative corpus (the v1
    // layout rewrote O(corpus) per trigger)
    val logCounts = (0 to 2).map(i =>
      spark.read.parquet(s"$dir/store/records_log/batch=$i").count())
    val convCounts = Seq(t1, t2, t3).map(_.map(_.conv_id).distinct.length)
    assert(logCounts.map(_.toInt) == convCounts,
      s"per-batch log rows $logCounts != per-batch conversations $convCounts")
    assert(LinkageStream.currentRecords(spark, s"$dir/store").count() ==
      convCounts.sum)
    // matches accumulate across the three partitions with no losses
    assert(LinkageStream.currentMatches(spark, s"$dir/store").count() ==
      full.matchedPairs.count())
    full.unpersist()

    // replay safety: re-linking the in-flight (committed) batch id is a
    // no-op; an id BEHIND the pointer means a reset checkpoint against a
    // kept store — refused loudly instead of silently dropping batches
    val st0 = LinkageStream.readState(spark, s"$dir/store").get
    // the pointer's commit window: a crash between delete and rename
    // leaves only the complete tmp, which IS the committed pointer — the
    // replay checks below run against it
    val fs = TableIO.fileSystem(spark, dir)
    val ptr = new org.apache.hadoop.fs.Path(s"$dir/store/_state.json")
    fs.rename(ptr, ptr.suffix(".tmp"))
    assert(LinkageStream.readState(spark, s"$dir/store").get == st0)
    val replayed = LinkageStream.linkBatch(
      all.toDF.limit(10), st0.batch, s"$dir/store")
    assert(!replayed, "committed batch id must be skipped")
    assert(LinkageStream.readState(spark, s"$dir/store").get == st0,
      "replay must not move the store pointer")
    val e = intercept[IllegalArgumentException] {
      LinkageStream.linkBatch(all.toDF.limit(10), st0.batch - 1, s"$dir/store")
    }
    assert(e.getMessage.contains("checkpoint"))
    // an empty batch commits nothing
    assert(!LinkageStream.linkBatch(
      all.toDF.limit(0), st0.batch + 100, s"$dir/store"))
    assert(LinkageStream.readState(spark, s"$dir/store").get == st0)
    // a truncated tmp beside an intact pointer was never committed
    fs.rename(ptr.suffix(".tmp"), ptr)
    val partial = fs.create(ptr.suffix(".tmp"), true)
    partial.write("""{"version":2,"gen""".getBytes("UTF-8")); partial.close()
    assert(LinkageStream.readState(spark, s"$dir/store").get == st0)
    // the full-run-only pairs-file mode is refused up front (it would make
    // matching semantics depend on arrival batch)
    intercept[IllegalArgumentException] {
      LinkageStream.linkBatch(all.toDF.limit(10), st0.batch + 101,
        s"$dir/store", Pipeline.Config(pairsFile = Some(s"$dir/pairs.csv")))
    }
  }

  test("exact-mode triggers converge to one exact full run") {
    import spark.implicits._
    val exact = Pipeline.Config(exactAddresses = true)
    val store = s"$dir/exactstore"
    Seq(t1, t2, t3).zipWithIndex.foreach { case (t, i) =>
      assert(LinkageStream.linkBatch(t.toSeq.toDF(), i.toLong, store, exact))
    }
    val full = Pipeline.run(spark, all.toDF, exact)
    val ca = full.clusters.select(col("cluster_id"), col("members"))
    val cb = LinkageStream.currentClusters(spark, store)
      .select(col("cluster_id"), col("members"))
    assert(ca.filter(size(col("members")) > 1).count() > 0,
      "exact mode linked nothing: the comparison would be vacuous")
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"full=${ca.count()} streamed=${cb.count()}")
    full.unpersist()
    all.unpersist()
  }

  test("soak: per-trigger log writes stay O(batch) as the store grows") {
    val triggers = graft.streaming.LinkageSoak.run(spark,
      s"$dir/soak", nConvs = 500, nBatches = 5)
    assert(triggers.length == 5)
    // the delta-log regression bound: every trigger appends exactly its
    // own conversations to records_log — never the cumulative corpus
    triggers.foreach(t =>
      assert(t.recordsAppended == t.batchConvs,
        s"batch ${t.batch} appended ${t.recordsAppended} rows for " +
          s"${t.batchConvs} convs"))
    // appended volume is flat across the soak (equal-hash batches) even
    // though the store grows ~5x — the O(corpus)-write regression class
    val appended = triggers.map(_.recordsAppended.toDouble)
    assert(appended.max <= 2.5 * appended.min,
      s"per-trigger append volume grew with the store: $appended")
    assert(triggers.map(_.cumRecords) == triggers.map(_.cumRecords).sorted)
    assert(triggers.last.cumRecords == triggers.map(_.recordsAppended).sum)
  }

  test("a trigger writes its clusters from their cache, not from lineage") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val all = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 17L, nConvs = 150)).toDF.cache()
    val half = pmod(xxhash64(col("conv_id")), lit(2))
    val store = s"$dir/cachedwrite"
    assert(LinkageStream.linkBatch(all.filter(half === 0), 0L, store))
    // the second trigger is incremental: its cached clusters read
    // records_log, the path the trigger refreshes after appending to it.
    // A clusters write that rebuilds the dropped cache runs the cluster
    // aggregation's stages as jobs of the write's own query, whose call
    // site is TableIO.write's.
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val jobQueries = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobQueries.add(id.toLong))
    }
    org.apache.spark.graftbridge.Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(LinkageStream.linkBatch(all.filter(half === 1), 1L, store))
      org.apache.spark.graftbridge.Bus.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val writeJobs = jobQueries.asScala.toSeq
      .filter(q => String.valueOf(sites.get(q)).contains("TableIO.scala"))
    assert(writeJobs.size == 1,
      s"${writeJobs.size} jobs in the clusters write's query")
    all.unpersist()
  }

  test("v1 stores are refused loudly") {
    val batch = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 21L, nConvs = 20)).toDF
    // a v1 pointer carries no version stamp — exactly what a pre-v2
    // deployment left behind
    val store = s"$dir/v1store"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(store), spark.sparkContext.hadoopConfiguration)
    val o = fs.create(
      new org.apache.hadoop.fs.Path(s"$store/_state.json"), true)
    o.write("""{"gen":0,"batch":5}""".getBytes("UTF-8")); o.close()

    val e = intercept[IllegalArgumentException] {
      LinkageStream.linkBatch(batch, 6L, store)
    }
    assert(e.getMessage.contains("v1") &&
      e.getMessage.contains("fresh store"), e.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/records_log")),
      "a refused batch must leave the store untouched")
  }

  test("LinkageStreamMain --once: scheduled-job shape over a file source") {
    import spark.implicits._
    val cfg = SynthTranscripts.Config(seed = 13L, nConvs = 120)
    val all = SynthTranscripts.transcripts(spark, cfg).toDF.cache()
    val seedId = regexp_extract(col("conv_id"), "^(c\\d+)", 1)
    val inB2 = pmod(xxhash64(seedId), lit(2)) === 0
    val t1 = all.filter(!inB2 || col("conv_id").contains("~"))
    val t2 = all.filter(inB2 && !col("conv_id").contains("~"))

    // drop 1: only t1 has landed; the main processes it and EXITS
    t1.write.mode("overwrite").parquet(s"$dir/src/drop1")
    graft.streaming.LinkageStreamMain.run(spark, Map(
      "source" -> s"$dir/src/*", "store" -> s"$dir/cli_store",
      "checkpoint" -> s"$dir/cli_ckpt", "once" -> "true"))
    val n1 = graft.streaming.LinkageStream
      .currentRecords(spark, s"$dir/cli_store").count()
    assert(n1 > 0)

    // drop 2: more files land; a SECOND invocation resumes from the
    // same checkpoint and links only the new conversations
    t2.write.mode("overwrite").parquet(s"$dir/src/drop2")
    graft.streaming.LinkageStreamMain.run(spark, Map(
      "source" -> s"$dir/src/*", "store" -> s"$dir/cli_store",
      "checkpoint" -> s"$dir/cli_ckpt", "once" -> "true"))

    val full = Pipeline.run(spark, all)
    val ca = full.clusters.select(col("cluster_id"), col("members"))
    val cb = graft.streaming.LinkageStream
      .currentClusters(spark, s"$dir/cli_store")
      .select(col("cluster_id"), col("members"))
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"full=${ca.count()} scheduled-CLI=${cb.count()}")
    full.unpersist()
    all.unpersist()
  }
}
