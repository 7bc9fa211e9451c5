package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** End-to-end fixture test mirroring the reference's synthetic harness
  * (testing-and-tuning/, hh_score.py): deterministic corpus + answer key →
  * full pipeline → pairwise F1 ≥ 0.99 on labeled pairs at the same
  * blocking keys (north rule), plus the per-turn text-equality invariant.
  */
class LinkagePipelineSpec extends AnyFunSuite with SparkFixture {

  private val cfg = SynthTranscripts.Config(seed = 42L, nConvs = 600)
  private lazy val transcripts =
    SynthTranscripts.transcripts(spark, cfg).toDF.cache()
  private lazy val answerKey =
    SynthTranscripts.answerKey(spark, cfg).toDF.cache()

  test("per-turn text equality invariant under (conv_id, turn_idx) order") {
    val records = Fold.fold(transcripts)
    // re-explode the folded turns and compare with the source, per turn
    val reassembled = records.select(col("conv_id"),
        explode(col("turns")).as("t"))
      .select(col("conv_id"), col("t.turn_idx").as("turn_idx"),
        col("t.role").as("role"), col("t.text").as("text"),
        col("t.tool").as("tool"), col("t.ts").as("ts"))
    val src = transcripts.select("conv_id", "turn_idx", "role", "text",
      "tool", "ts")
    assert(reassembled.exceptAll(src).isEmpty &&
      src.exceptAll(reassembled).isEmpty)
    // turn order inside the fold is strictly increasing turn_idx
    val bad = records.select(
      forall(zip_with(col("turns"), slice(col("turns"), 2, 100000),
        (a, b) => a.getField("turn_idx") < b.getField("turn_idx")),
        x => x).as("ok"))
      .filter(!col("ok")).count()
    assert(bad == 0)
  }

  test("fold maxTurns cap truncates deterministically by turn_idx") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val turns = (0 until 50).map(i =>
      ("conv_big", i, if (i % 2 == 0) "user" else "assistant",
        s"text $i", "", ts0))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val rec = Fold.fold(turns, maxTurns = 10).head()
    val kept = rec.getSeq[org.apache.spark.sql.Row](
      rec.fieldIndex("turns"))
    assert(kept.size == 10)
    assert(kept.map(_.getInt(0)) == (0 until 10))
    // default: everything kept
    assert(Fold.fold(turns).head()
      .getSeq[org.apache.spark.sql.Row](rec.fieldIndex("turns")).size == 50)
  }

  test("fold survives conversations with zero user turns (ANSI mode)") {
    import spark.implicits._
    // under Spark 4 ANSI, element_at on the empty user-turn array would
    // throw INVALID_ARRAY_INDEX; the fold must instead derive ""
    val ts0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val noUser = Seq(
      ("conv_nouser", 0, "assistant", "hello there", "", ts0),
      ("conv_nouser", 1, "tool", "result", "search", ts0))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val rec = Fold.fold(noUser)
      .select("conv_id", "family_name", "given_name").head()
    assert(rec.getString(1) == "" && rec.getString(2) == "")
  }

  test("fold derives blocking-stable fields for garbled duplicates") {
    val records = Fold.fold(transcripts).cache()
    // a seed and its garble share household_zip (same-day jitter)
    val pairs = records.select(col("conv_id"), col("household_zip"))
      .filter(col("conv_id").contains("~"))
      .withColumn("seed_id", regexp_extract(col("conv_id"), "^(c\\d+)~", 1))
      .join(records.select(col("conv_id").as("seed_id"),
        col("household_zip").as("seed_zip")), Seq("seed_id"))
    assert(pairs.filter(col("household_zip") =!= col("seed_zip")).count() == 0)
    // family_name (first user turn) survives garbling after normalization
    val fn = records.select(col("conv_id"), col("family_name"))
      .filter(col("conv_id").contains("~"))
      .withColumn("seed_id", regexp_extract(col("conv_id"), "^(c\\d+)~", 1))
      .join(records.select(col("conv_id").as("seed_id"),
        col("family_name").as("seed_fn")), Seq("seed_id"))
    assert(fn.filter(col("family_name") =!= col("seed_fn")).count() == 0)
  }

  test("end-to-end pairwise F1 >= 0.99 at identical blocking keys") {
    val result = Pipeline.run(spark, transcripts)
    val (p, r, f1) = Pipeline.pairwiseF1(
      result.records, result.matchedPairs, answerKey)
    info(f"precision=$p%.4f recall=$r%.4f f1=$f1%.4f")
    assert(f1 >= 0.99, f"F1 $f1%.4f below 0.99 (p=$p%.4f r=$r%.4f)")

    // cluster sanity: empty-text convs end up singletons
    val emptyConvs = result.records
      .filter(col("addr.full") === "").select("conv_id")
    val emptyInBigClusters = result.labeledRecords
      .join(emptyConvs, Seq("conv_id"), "left_semi")
      .groupBy("cluster_id").count().filter(col("count") > 1)
    assert(emptyInBigClusters.count() == 0)
  }

  test("near-miss negatives (same first turn, different body) rejected") {
    val result = Pipeline.run(spark, transcripts)
    val nearMiss = result.labeledRecords
      .filter(col("conv_id").endsWith("!n"))
      .select(col("conv_id"), col("cluster_id"))
    // every near-miss conv must be its own singleton cluster
    val joined = result.labeledRecords.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"))
      .join(nearMiss, Seq("cluster_id"), "left_semi")
    assert(joined.filter(col("n") > 1).count() == 0)
  }

  test("Pipeline runs one SQL execution per stage cut, and nothing else") {
    transcripts.count() // the input cache is filled outside the budget
    val pairsDir = s"${tempDir("budgetpairs")}/pairs"
    def runs(what: String, cuts: Int, roundWrites: Int = 0)(
        run: => Pipeline.Result): Pipeline.Result = {
      val (result, executions) = sqlExecutions(run)
      info(s"$what: ${executions.size} SQL executions")
      // every execution is a cut's build or, with a CC checkpoint dir, a
      // round's parquet write: no head, count or collect
      val (built, written) =
        executions.partition(_.startsWith("localCheckpoint"))
      assert(built.size == cuts && written.size == roundWrites &&
        written.forall(_.contains("Cluster.scala")),
        s"$what: ${executions.mkString("; ")}")
      assert(result.checkpoints.size == cuts)
      result
    }
    // records, candidate pairs, matches, clusters
    val scored = runs("score mode", 4)(Pipeline.run(spark, transcripts))
    scored.matchedPairs.write.parquet(pairsDir)
    // the candidate links are the matches: no matches cut
    runs("exact mode", 3)(Pipeline.run(spark, transcripts,
      Pipeline.Config(exactAddresses = true))).unpersist()
    runs("pairs file", 3)(Pipeline.run(spark, transcripts,
      Pipeline.Config(pairsFile = Some(pairsDir)))).unpersist()
    // LinkageMain --checkpoint: CC writes round 0 as parquet and finishes
    // from it into a labels cut, which the clusters build reads
    runs("--checkpoint", 5, roundWrites = 1)(Pipeline.run(spark, transcripts,
      Pipeline.Config(ccOptions = Cluster.Options(
        Some(tempDir("budgetcc")))))).unpersist()
    // new records, all records, candidate pairs, matches, previous ∪ new
    // matches, clusters
    val later = SynthTranscripts.transcripts(spark,
        cfg.copy(seed = 43L, nConvs = 100)).toDF
      .withColumn("conv_id", concat(lit("n"), col("conv_id")))
    runs("incremental", 6)(Pipeline.incremental(spark, scored.records,
      scored.matchedPairs, later)).unpersist()
    scored.unpersist()
  }

  test("LinkageMain.run stays within its Spark job budget") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val out = tempDir("budget")
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      LinkageMain.run(spark, Map("synthetic" -> "150", "output" -> out))
      org.apache.spark.graftbridge.Bus.drain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"${jobs.get} Spark jobs")
    // the run took 19 jobs on local[4] when this budget was set; the
    // rest is headroom for AQE replanning
    assert(jobs.get <= 26, s"${jobs.get} Spark jobs, budget 26")
  }
}
