package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** The linkage tail: the metric counts observed on the stage checkpoint
  * builds (scored pairs below the match filter on the matches build,
  * matched_pairs as a cut's own count), and LinkageMain's outputs written
  * side by side through [[Actions.together]], each table from as many
  * tasks as its stored bytes need. */
class LinkageTailSpec extends AnyFunSuite with SparkFixture {

  private val synth = SynthTranscripts.Config(seed = 5L, nConvs = 150)
  private lazy val transcripts =
    SynthTranscripts.transcripts(spark, synth).toDF.cache()

  // suites share one session; start each scenario from a clean slate
  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def helperThreads: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == "graft-actions" && t.isAlive)
  }

  private def metricsOf(r: Pipeline.Result): Seq[(String, Long)] =
    r.metrics.collect().toSeq.map(row => row.getString(0) -> row.getLong(1))

  test("Actions.together: results in order, failures after every action") {
    assert(Actions.together(() => 1, () => 2, () => 3) == Seq(1, 2, 3))
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException] {
      Actions.together(
        () => { Thread.sleep(300); finished.incrementAndGet() },
        () => throw new IllegalStateException("first"),
        () => throw new IllegalArgumentException("second"),
        () => { Thread.sleep(300); finished.incrementAndGet() })
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(finished.get == 2, "threw before the other actions returned")
    assert(helperThreads.isEmpty)
    // the caller's active session follows into the helper threads
    SparkSession.setActiveSession(spark)
    assert(Actions.together(() => SparkSession.getActiveSession) ==
      Seq(Some(spark)))
  }

  test("Result.metrics equals independent counts of the returned relations") {
    clearAll()
    def check(r: Pipeline.Result, leading: Seq[(String, DataFrame)]): Unit = {
      val want = (leading ++ Seq("matched_pairs" -> r.matchedPairs,
        "clusters" -> r.clusters)).map { case (k, df) => k -> df.count() }
      assert(metricsOf(r) == want)
      r.unpersist()
    }
    val scored = Pipeline.run(spark, transcripts)
    check(scored, Seq("records" -> scored.records,
      "candidate_pairs" -> scored.candidatePairs,
      "scored_pairs_past_addr_prefilter" ->
        Scoring.scorePairs(scored.records, scored.candidatePairs)))

    val exact = Pipeline.run(spark, transcripts,
      Pipeline.Config(exactAddresses = true))
    check(exact, Seq("records" -> exact.records,
      "candidate_pairs" -> exact.candidatePairs,
      "scored_pairs_past_addr_prefilter" -> exact.candidatePairs))

    import spark.implicits._
    val pairsDir = tempDir("tailpairs")
    Seq(("c1", "c3"), ("c2", "c4"), ("c3", "c5")).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(pairsDir)
    val fromFile = Pipeline.run(spark, transcripts,
      Pipeline.Config(pairsFile = Some(pairsDir)))
    check(fromFile, Seq("records" -> fromFile.records,
      "candidate_pairs" -> fromFile.candidatePairs,
      "scored_pairs_past_addr_prefilter" -> fromFile.candidatePairs))

    val base = Pipeline.run(spark, transcripts)
    val later = SynthTranscripts.transcripts(spark,
        synth.copy(seed = 6L, nConvs = 60)).toDF
      .withColumn("conv_id", concat(lit("n"), col("conv_id")))
    val inc = Pipeline.incremental(spark, base.records, base.matchedPairs,
      later)
    check(inc, Seq("new_records" -> Fold.fold(later),
      "records" -> inc.records,
      "incremental_candidate_pairs" -> inc.candidatePairs))
    base.unpersist()
    clearAll()
  }

  test("every job of LinkageMain.run carries the caller's local properties") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stray = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val p = e.properties
        if (p == null || p.getProperty("graft.tail.span") != "entry" ||
            p.getProperty("spark.jobGroup.id") != "graft-tail")
          stray.add(s"job ${e.jobId}: ${e.stageInfos.map(_.name)}")
      }
    }
    val out = tempDir("tailprops")
    org.apache.spark.graftbridge.Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-tail", "linkage tail spec")
    sc.setLocalProperty("graft.tail.span", "entry")
    try {
      LinkageMain.run(spark, Map("synthetic" -> "150", "output" -> out,
        "testrun" -> "true", "secret" -> "0123456789abcdef0123456789abcdef"))
      org.apache.spark.graftbridge.Bus.drain(sc)
    } finally {
      sc.setLocalProperty("graft.tail.span", null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get > 0)
    assert(stray.isEmpty, s"jobs without the caller's properties: $stray")
  }

  test("LinkageMain.run writes each table by the bytes it holds") {
    clearAll()
    val out = tempDir("tailfiles")
    LinkageMain.run(spark, Map("synthetic" -> "150", "output" -> out))
    val metrics = TableIO.read(spark, s"$out/metrics").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each far below one advisory partition size (64m) at this scale
    Seq("metrics" -> metrics.size.toLong, "records" -> metrics("records"),
      "clusters" -> metrics("clusters"),
      "matched_pairs" -> metrics("matched_pairs")).foreach { case (t, n) =>
      val snap = TableIO.readJson(spark, s"$out/$t/_snapshot.json")
        .getOrElse(fail(s"$t: no snapshot"))
      val files = new java.io.File(s"$out/$t/data").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1 && snap.get("num_files").asInt == 1,
        s"$t written as $files files")
      assert(snap.get("row_count").asLong == n, s"$t: $snap")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("an unwritable output fails the run after every other writer") {
    clearAll()
    val out = tempDir("tailfail")
    // a regular file where the clusters table directory must go
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/clusters"),
      "not a directory")
    val e = intercept[Exception] {
      LinkageMain.run(spark, Map("synthetic" -> "150", "output" -> out,
        "testrun" -> "true"))
    }
    // thrown only once no writer's job is still running
    org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(chain.exists(_.contains(s"$out/clusters")), chain.mkString("\n"))
    Seq("metrics/_snapshot.json", "records/_snapshot.json",
      "matched_pairs/_snapshot.json", "mapping_csv/_SUCCESS",
      "households_metadata.json", "hh_pos_patids/_snapshot.json",
      "household_pos_pid/_snapshot.json").foreach { f =>
      assert(new java.io.File(s"$out/$f").exists(), s"$f not written")
    }
    assert(helperThreads.isEmpty, s"helper threads alive: $helperThreads")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
