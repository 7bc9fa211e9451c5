package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** Incremental linkage: folding + scoring only the increment must yield
  * labels identical to a full recompute over the combined corpus —
  * including matches that CROSS the increment boundary (a garbled
  * duplicate arriving after its seed). */
class IncrementalSpec extends AnyFunSuite with SparkFixture {

  test("incremental(T1 then +T2) == full(T1 ∪ T2)") {
    val cfg = SynthTranscripts.Config(seed = 7L, nConvs = 400)
    val transcripts =
      SynthTranscripts.transcripts(spark, cfg).toDF.cache()
    // split by seed-conversation hash so garbles and their seeds often
    // land in DIFFERENT increments (cross-boundary matches required);
    // garble ids look like "c123~g1" — split on the seed part
    val seedId = regexp_extract(col("conv_id"), "^(c\\d+)", 1)
    val inT2 = pmod(xxhash64(seedId), lit(3)) === 0
    val t1 = transcripts.filter(!inT2 ||
      col("conv_id").contains("~")) // seeds mostly in T1...
    val t2 = transcripts.filter(inT2 && !col("conv_id").contains("~"))
    assert(t2.select("conv_id").distinct().count() > 0)

    val full = Pipeline.run(spark, transcripts)
    val first = Pipeline.run(spark, t1)
    val inc = Pipeline.incremental(spark,
      first.records, first.matchedPairs, t2)

    // identical cluster CONTENTS (cluster ids are min conv_id per
    // cluster in both paths, so the labeled sets compare directly)
    val a = full.labeledRecords.select("conv_id", "cluster_id")
    val b = inc.labeledRecords.select("conv_id", "cluster_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"full=${a.count()} inc=${b.count()} " +
        s"diff=${a.exceptAll(b).take(5).mkString(",")}")
    // and the matched pair sets agree
    val ma = full.matchedPairs.select("id_a", "id_b")
    val mb = inc.matchedPairs.select("id_a", "id_b")
    assert(ma.exceptAll(mb).isEmpty && mb.exceptAll(ma).isEmpty)
    // the increment only scored pairs touching a new record
    val newIds = Fold.fold(t2).select(col("conv_id")).collect()
      .map(_.getString(0)).toSet
    val touchingNew = inc.candidatePairs.collect().forall(r =>
      newIds.contains(r.getString(0)) || newIds.contains(r.getString(1)))
    assert(touchingNew, "incremental candidates regenerated old-old pairs")
  }

  test("every documented existingRecords shape feeds incremental") {
    // ADVICE r02: round 2 only worked when existingRecords came from
    // Result.records (which then still carried turns + timestamp ts_min/
    // ts_max); the written records table (no turns) and a day-string-ts
    // record shape threw AnalysisException in the strict unionByName.
    // incremental now projects both sides to the common piiCols schema
    // first.
    val cfg = SynthTranscripts.Config(seed = 23L, nConvs = 150)
    val transcripts = SynthTranscripts.transcripts(spark, cfg).toDF.cache()
    val t1 = transcripts.filter(pmod(xxhash64(col("conv_id")), lit(3)) =!= 0)
    val t2 = transcripts.filter(pmod(xxhash64(col("conv_id")), lit(3)) === 0)
    val first = Pipeline.run(spark, t1)
    val expected = Pipeline.incremental(spark,
      first.records, first.matchedPairs, t2)
      .labeledRecords.select("conv_id", "cluster_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // shape 1: the records table LinkageMain writes (Result.records as
    // it is, without turns), read back as --previous reads it
    val dir = tempDir("incshape")
    TableIO.write(first.records, s"$dir/records")
    val fromTable = Pipeline.incremental(spark,
      TableIO.read(spark, s"$dir/records"), first.matchedPairs, t2)
      .labeledRecords.select("conv_id", "cluster_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fromTable == expected)

    // shape 2: day-string ts_min/ts_max — the piiCols projection drops
    // the difference before the union
    val streamShaped = first.records
      .withColumn("ts_min", date_format(col("ts_min"), "yyyy-MM-dd"))
      .withColumn("ts_max", date_format(col("ts_max"), "yyyy-MM-dd"))
    val fromStream = Pipeline.incremental(spark,
      streamShaped, first.matchedPairs, t2)
      .labeledRecords.select("conv_id", "cluster_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fromStream == expected)
  }

  test("exact mode: incremental(T1 then +T2) == exact full(T1 ∪ T2)") {
    import spark.implicits._
    val exact = Pipeline.Config(exactAddresses = true)
    val synth = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 5L, nConvs = 200, typoProb = 0.0)).toDF
    // one [zip, full text] block across the increment boundary whose two
    // records differ in family name (first user turn) and phone (tool
    // signature): exact mode links them unscored; the fuzzy score (addr
    // 1.0, family name and phone far apart) stays below 0.85
    val ts = java.sql.Timestamp.valueOf("2025-03-01 10:00:00")
    def planted(id: String, roles: Seq[String], tool: String) =
      roles.zip(Seq("kkkk", "mmmm nnnn", "bbbb")).zipWithIndex.map {
        case ((role, text), i) =>
          (id, i, role, text, if (role == "tool") tool else "", ts)
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val p1 = planted("p1", Seq("user", "tool", "assistant"), "search")
    val p2 = planted("p2", Seq("assistant", "tool", "user"), "weather")
    val inT2 = pmod(xxhash64(col("conv_id")), lit(3)) === 0
    val t1 = synth.filter(!inT2).unionByName(p1)
    val t2 = synth.filter(inT2).unionByName(p2)

    val full = Pipeline.run(spark, t1.unionByName(t2), exact)
    val first = Pipeline.run(spark, t1, exact)
    val inc = Pipeline.incremental(spark,
      first.records, first.matchedPairs, t2, exact)
    val a = full.labeledRecords.select("conv_id", "cluster_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = inc.labeledRecords.select("conv_id", "cluster_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a("p1") == a("p2"), "exact full run must link the planted pair")
    val diff = a.toSet diff b.toSet
    assert(diff.isEmpty && a.keySet == b.keySet, s"diff=${diff.take(5)}")
    Seq(full, first, inc).foreach(_.unpersist())
  }

  test("incremental refuses the full-run-only modes") {
    val t = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 3L, nConvs = 20)).toDF
    val pairs = intercept[IllegalArgumentException] {
      Pipeline.incremental(spark, t, t, t,
        Pipeline.Config(pairsFile = Some("pairs.parquet")))
    }
    assert(pairs.getMessage.contains("pairsFile"))
  }
}
