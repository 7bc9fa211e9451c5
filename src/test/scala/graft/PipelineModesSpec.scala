package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** Pipeline variants: exact-address mode, pairsfile bypass, testrun
  * scoring files (households.py --exact_addresses / --pairsfile /
  * --testrun). */
class PipelineModesSpec extends AnyFunSuite with SparkFixture {

  private val cfg = SynthTranscripts.Config(seed = 7L, nConvs = 200,
    typoProb = 0.0) // garbles are normalization-invariant only
  private lazy val transcripts =
    SynthTranscripts.transcripts(spark, cfg).toDF.cache()

  test("exact-address mode clusters normalization-identical conversations") {
    val result = Pipeline.run(spark, transcripts,
      Pipeline.Config(exactAddresses = true))
    // with typoProb=0 every garble normalizes to the seed's full text →
    // exact [zip, full] blocking links them all
    val key = SynthTranscripts.answerKey(spark, cfg).toDF
    val (p, r, f1) = Pipeline.pairwiseF1(result.records,
      result.matchedPairs, key, Blocking.exactPasses)
    info(f"exact mode: p=$p%.4f r=$r%.4f f1=$f1%.4f")
    assert(f1 >= 0.99)
  }

  test("exact-address mode does NOT link typo'd garbles") {
    val typoCfg = cfg.copy(typoProb = 1.0, seed = 11L)
    val t = SynthTranscripts.transcripts(spark, typoCfg).toDF
    val result = Pipeline.run(spark, t,
      Pipeline.Config(exactAddresses = true))
    val fuzzy = Pipeline.run(spark, t, Pipeline.Config())
    // fuzzy scoring links strictly more garbles than exact equality
    assert(result.matchedPairs.count() < fuzzy.matchedPairs.count())
  }

  test("pairsfile bypasses blocking and scoring") {
    import spark.implicits._
    val dir = tempDir("pairs")
    Seq(("c1", "c3"), ("c2", "c4")).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(dir)
    val result = Pipeline.run(spark, transcripts,
      Pipeline.Config(pairsFile = Some(dir)))
    assert(result.matchedPairs.count() == 2)
    val labeled = result.labeledRecords
      .select("conv_id", "cluster_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labeled("c1") == labeled("c3"))
    assert(labeled("c2") == labeled("c4"))
    assert(labeled("c1") != labeled("c2"))
  }

  test("pairsfile accepts the reference's headerless CSV (matching.py:305)") {
    val base = tempDir("pairscsv")
    val csv = s"$base/pairs.csv"
    // reference format: header=None, two positional columns
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "c1,c3\nc2,c4\n")
    val result = Pipeline.run(spark, transcripts,
      Pipeline.Config(pairsFile = Some(csv)))
    assert(result.matchedPairs.count() == 2)
    val labeled = result.labeledRecords
      .select("conv_id", "cluster_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labeled("c1") == labeled("c3"))
    assert(labeled("c2") == labeled("c4"))
  }

  test("pairsfile parquet selects id_a/id_b BY NAME, not position") {
    import spark.implicits._
    val dir = tempDir("pairsnamed")
    // column order deliberately scrambled + an extra column: positional
    // toDF would mislabel these (round-2 bug)
    Seq((0.9, "c3", "c1"), (0.8, "c4", "c2"))
      .toDF("score", "id_b", "id_a")
      .write.mode("overwrite").parquet(dir)
    val result = Pipeline.run(spark, transcripts,
      Pipeline.Config(pairsFile = Some(dir)))
    val pairs = result.matchedPairs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("c1", "c3"), ("c2", "c4")))
  }

  test("householddef: definitions file bypasses inference (households -d)") {
    import graft.linkage.{Extract, LinkageMain}
    val base = tempDir("hhdef")
    val defCsv = s"$base/households.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(defCsv),
      "family_name,phone_number,household_street_address,household_zip,record_ids\n" +
      "SMITH,5551234,1 MAIN ST,02139,\"p1,p2\"\n" +
      "KING,5559999,2 ELM AVE,02140,p3\n")
    val out = s"$base/out"
    val n = LinkageMain.householdDefFlow(spark, defCsv, out,
      Some("0123456789abcdef0123456789abcdef"))
    assert(n == 2)
    assert(Garble.readClks(spark, s"$out/household_clks").count() == 2)
    val meta = Extract.readMetadata(spark, s"$out/households_metadata.json")
    assert(meta("households_inferred") == "false")
    assert(meta("number_of_households") == "2")
  }

  test("LinkageMain --previous: daily-append CLI equals a full recompute") {
    val base = tempDir("lmprev")
    val synthCfg = SynthTranscripts.Config(seed = 7L, nConvs = 300)
    val all = SynthTranscripts.transcripts(spark, synthCfg).toDF.cache()
    // split so garbles and their seeds often land in DIFFERENT batches
    // (cross-boundary matches must still be found by the increment)
    val seedId = regexp_extract(col("conv_id"), "^(c\\d+)", 1)
    val inT2 = pmod(xxhash64(seedId), lit(3)) === 0
    val t1 = all.filter(!inT2 || col("conv_id").contains("~"))
    val t2 = all.filter(inT2 && !col("conv_id").contains("~"))
    t1.write.mode("overwrite").parquet(s"$base/t1")
    t2.write.mode("overwrite").parquet(s"$base/t2")
    LinkageMain.run(spark, Map(
      "input" -> s"$base/t1", "output" -> s"$base/runA"))
    LinkageMain.run(spark, Map(
      "input" -> s"$base/t2", "previous" -> s"$base/runA",
      "output" -> s"$base/runAB"))
    val full = Pipeline.run(spark, all)
    val ca = full.clusters.select(col("cluster_id"), col("members"))
    val cb = TableIO.read(spark, s"$base/runAB/clusters")
      .select(col("cluster_id"), col("members"))
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"full=${ca.count()} incremental-CLI=${cb.count()}")
    // the metrics table LinkageMain writes holds the five incremental
    // rows, and its clusters count is the clusters table's row count and
    // the metadata's household count
    val metrics = TableIO.read(spark, s"$base/runAB/metrics").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(metrics.map(_._1).sorted.toSeq == Seq("clusters",
      "incremental_candidate_pairs", "matched_pairs", "new_records",
      "records"))
    val nClusters = metrics.toMap.apply("clusters")
    assert(nClusters == cb.count())
    assert(Extract.readMetadata(spark,
      s"$base/runAB/households_metadata.json")("number_of_households") ==
      nClusters.toString)
    full.unpersist()
    all.unpersist()
    // in-place append is the self-overwrite hazard class — refused
    val e = intercept[IllegalArgumentException] {
      LinkageMain.run(spark, Map("input" -> s"$base/t2",
        "previous" -> s"$base/runA", "output" -> s"$base/runA"))
    }
    assert(e.getMessage.contains("differ"))
  }

  test("LinkageMain refuses a short --secret before reading or caching") {
    val out = tempDir("badsecret")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      LinkageMain.run(spark, Map("synthetic" -> "60", "output" -> out,
        "secret" -> "0123456789abcdef"))
    }
    assert(!new java.io.File(s"$out/records").exists())
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("household CLK i and mapping_csv row i belong to --testrun position i") {
    val out = tempDir("hhclks")
    val secret = "0123456789abcdef0123456789abcdef"
    // 10k conversations at a 256k advisory partition size: AQE sizes the
    // clusters build by bytes, and LinkageMain writes the clusters as one
    // file per advisory size of their stored bytes, so at the default 64m
    // it writes one file, which would leave the order under test
    // unexercised
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getOption(advisory)
    spark.conf.set(advisory, "256k")
    try LinkageMain.run(spark, Map("synthetic" -> "10000", "output" -> out,
      "testrun" -> "true", "secret" -> secret))
    finally before.fold(spark.conf.unset(advisory))(spark.conf.set(advisory, _))
    val clusters = TableIO.read(spark, s"$out/clusters")
    // the clusters span several partitions: their hash order is not the
    // cluster_id order the positions follow
    assert(clusters.inputFiles.length > 1)
    val clkOf = Garble.householdClks(clusters, secret)
      .select(col("cluster_id"), base64(col("clk"))).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // household_pos_pid: (household_position, representative id), and a
    // cluster's id is its representative's
    val repAt = TableIO.read(spark, s"$out/household_pos_pid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val written = Garble.readClks(spark, s"$out/household_clks")
      .select(col("record_index"), base64(col("clk"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(written.size == repAt.size && repAt.size == clkOf.size)
    val misplaced = repAt.count { case (i, rep) => written(i) != clkOf(rep) }
    assert(misplaced == 0, s"$misplaced of ${repAt.size} CLKs out of place")
    // ResolveMain --hhsourcefile numbers mapping_csv rows by scan order
    val mapped = Positions.withScanPosition(
        spark.read.option("header", "true").csv(s"$out/mapping_csv"),
        "household_position")
      .select(col("household_position"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val shifted = repAt.count { case (i, rep) => !mapped.get(i).contains(rep) }
    assert(mapped.size == repAt.size && shifted == 0,
      s"$shifted of ${repAt.size} mapping_csv rows out of household order")
  }

  test("max-turns bounds a runaway mega-conversation's fold") {
    import spark.implicits._
    // one synthetic agent loop at 50k turns next to normal conversations:
    // unbounded fold materializes all 50k turns in ONE aggregation
    // buffer; maxTurns=20 keeps only the 20 lowest turn_idx rows
    val mega = (0 until 50000).map(i =>
      ("mega", i, if (i % 2 == 0) "user" else "assistant",
        s"loop iteration $i", "", java.sql.Timestamp.valueOf(
          "2026-01-01 00:00:00")))
    val normal = (0 until 5).flatMap(c => (0 until 4).map(i =>
      (s"conv$c", i, "user", s"hello $c $i", "",
        java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))))
    val t = (mega ++ normal)
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val isMega = col("conv_id") === "mega"
    val folded = Fold.fold(t, 20)
    // truncation is deterministic: the LOWEST turn_idx rows survive
    val kept = folded.filter(isMega)
      .select(transform(col("turns"), x => x.getField("turn_idx")))
      .head().getSeq[Int](0)
    assert(kept == (0 until 20), s"unexpected truncation window: $kept")
    val fullMega = Fold.fold(t).filter(isMega)
      .select(size(col("turns"))).head().getInt(0)
    assert(fullMega == 50000)
    // normal conversations are untouched by the guard
    assert(folded.filter(!isMega)
      .select(size(col("turns"))).collect().forall(_.getInt(0) == 4))

    // the pipeline's records are that bounded fold: the mega record's
    // derived columns are Fold.fold(t, 20)'s and — the documented
    // invariant breakage — differ from the unbounded run's
    val bounded = Pipeline.run(spark, t, Pipeline.Config(maxTurns = 20))
    val full = Pipeline.run(spark, t, Pipeline.Config())
    val derived = bounded.records.columns.map(col).toSeq
    def megaOf(records: org.apache.spark.sql.DataFrame) =
      records.filter(isMega).select(derived: _*).head()
    assert(megaOf(bounded.records) == megaOf(folded))
    assert(megaOf(full.records) == megaOf(Fold.fold(t)))
    assert(megaOf(bounded.records) != megaOf(full.records))
    val normalBounded = bounded.records.filter(!isMega).select(derived: _*)
    val normalFull = full.records.filter(!isMega).select(derived: _*)
    assert(normalBounded.exceptAll(normalFull).isEmpty &&
      normalFull.exceptAll(normalBounded).isEmpty)
    bounded.unpersist(); full.unpersist()
  }

  test("testrun scoring files have the reference shape") {
    import spark.implicits._
    // the clusters shape: cluster_id is the representative members[0]
    val clusters = Seq(("a", Seq("a", "b")), ("c", Seq("c")))
      .toDF("cluster_id", "members")
    val (perMember, perHousehold) = Output.scoringFiles(clusters)
    // positions are long now (scale-safe assignment; int overflows at
    // cluster counts past 2^31)
    val pm = perMember.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pm == Set((0L, "a"), (0L, "b"), (1L, "c")))
    val ph = perHousehold.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ph == Set((0L, "a"), (1L, "c")))
  }
}
