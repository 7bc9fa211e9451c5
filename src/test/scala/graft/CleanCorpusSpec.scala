package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{CleanCorpus, CleanCorpusMain, Dedup}

/** Corpus-cleaning composition: exact dups collapse to the min id,
  * near-dups drop the larger id, junk and off-language docs filtered,
  * per-stage counts accurate, and the CLI main writes the artifacts. */
class CleanCorpusSpec extends AnyFunSuite with SparkFixture {

  private val en = "the quick brown fox jumps over the lazy dog and then " +
    "the small cat walks into the old house where the people are"
  private val en2 = "a different story is told here with many common words " +
    "that should be kept because the quality of this text is just fine"

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (0L, en),                                   // keeper
      (1L, en),                                   // exact dup of 0
      (2L, en2),                                  // keeper
      (3L, en2.replace("different", "changed")),  // near-dup of 2
      (4L, "x"),                                  // junk: too short
      (5L, "der schnelle braune fuchs springt und dann geht die kleine " +
        "katze in das alte haus wo die leute sind und bleiben dort lange"),
      (6L, "the weather today is quite nice and many people are walking " +
        "outside in the park near the river with their happy children")
    ).toDF("doc_id", "text")
  }

  test("clean(): stagewise survivors and deterministic keep policy") {
    spark.catalog.clearCache() // isolate the strand-check from prior suites
    val (cleaned, counts, exactIds) = CleanCorpus.clean(corpus,
      CleanCorpus.Config(
        lang = Some("en"), minQuality = 0.5,
        minhash = Dedup.MinHashConfig(jaccardThreshold = 0.6, bands = 32)))
    // both handles come back fully cached: the exact ids by the action
    // that counted the exact stage, not by a pass of their own
    assert(spark.sparkContext.getRDDStorageInfo
      .count(i => i.numCachedPartitions == i.numPartitions) == 2)
    val ids = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 drops as exact dup, 3 as near-dup, 4 as junk, 5 as German
    assert(ids == Set(0L, 2L, 6L), s"survivors: $ids")
    // the exact stage's survivors, ids only: every doc but the exact dup
    assert(exactIds.columns.toSeq == Seq("doc_id"))
    assert(exactIds.collect().map(_.getLong(0)).toSet ==
      Set(0L, 2L, 3L, 4L, 5L, 6L))
    assert(counts.input == 7)
    assert(counts.afterExact == 6)     // -1 (exact dup)
    assert(counts.afterNearDup == 5)   // -3 (near dup)
    assert(counts.afterQuality == 4)   // -4 (junk)
    assert(counts.afterLang == 3)      // -5 (German)
    // quality features ride along on the survivors
    assert(cleaned.columns.contains("quality_score"))
    cleaned.unpersist()
    exactIds.unpersist()
    // interior caches released
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clean() must not strand cached blocks")
  }

  test("optional stages: benchmark decontamination and PII redaction") {
    import spark.implicits._
    spark.catalog.clearCache()
    val w6 = "the weather today is quite nice and many people are walking " +
      "outside in the park near the river with their happy children"
    val docs = Seq(
      (0L, en),                                   // contaminated vs bench
      (2L, en2 + " contact me me@example.com"),   // survives, PII scrubbed
      (6L, w6),                                   // survives untouched
      (8L, Seq.fill(10)("spam").mkString(" "))    // repetition ceiling
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "over the lazy dog"))
      .toDF("bench_id", "text")
    val (cleaned, counts, exactIds) = CleanCorpus.clean(docs,
      CleanCorpus.Config(
        lang = Some("en"), minQuality = 0.5,
        minhash = Dedup.MinHashConfig(jaccardThreshold = 0.6, bands = 32),
        benchmarks = Some(bench), decontNgram = 3, redactPii = true,
        maxDupNgramFrac = Some(0.3)))
    val rows = cleaned.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(2L, 6L), s"survivors: ${rows.keySet}")
    assert(counts.afterNearDup == 4)
    assert(counts.afterDecontaminate == Some(3L))
    assert(counts.afterRepetition == Some(2L))
    assert(counts.afterLang == 2)
    assert(counts.redactedDocs == Some(1L))
    assert(rows(2L).contains("[EMAIL]") &&
      !rows(2L).contains("me@example.com"), s"not scrubbed: ${rows(2L)}")
    assert(rows(6L) == w6, "redaction must not touch clean text")
    assert(counts.toJson.contains("\"after_decontaminate\":3") &&
      counts.toJson.contains("\"after_repetition\":2") &&
      counts.toJson.contains("\"redacted_docs\":1"))
    cleaned.unpersist()
    exactIds.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "optional stages must not strand cached blocks")
  }

  test("observed audit counts: nothing to redact, zero-token docs") {
    import spark.implicits._
    spark.catalog.clearCache()
    // no PII anywhere: the redaction observer sums over rows that all
    // compare equal, and must report 0
    val (c1, counts1, e1) = CleanCorpus.clean(corpus, CleanCorpus.Config(
      minhash = Dedup.MinHashConfig(jaccardThreshold = 0.6, bands = 32),
      redactPii = true))
    assert(counts1.redactedDocs == Some(0L))
    assert(counts1.toJson.contains("\"redacted_docs\":0"))
    assert(counts1.afterQuality == 4 && counts1.afterLang == 3)
    c1.unpersist(); e1.unpersist()
    // a zero-token doc passes a zero quality floor and is a quality
    // survivor (langGuessDf keeps it as "und"), then fails the pin
    val docs = corpus.unionByName(Seq((9L, "   ")).toDF("doc_id", "text"))
    val (c2, counts2, e2) = CleanCorpus.clean(docs, CleanCorpus.Config(
      minQuality = 0.0,
      minhash = Dedup.MinHashConfig(jaccardThreshold = 0.6, bands = 32)))
    assert(counts2.afterNearDup == 6)
    assert(counts2.afterQuality == 6, s"${counts2.toJson}")
    assert(counts2.afterLang == 3, s"${counts2.toJson}")
    c2.unpersist(); e2.unpersist()
  }

  test("CleanCorpusMain writes cleaned parquet + stats.json") {
    val dir = tempDir("cleancorpus")
    corpus.write.mode("overwrite").parquet(s"$dir/in")
    val counts = CleanCorpusMain.run(spark, Map(
      "input" -> s"$dir/in", "output" -> s"$dir/out",
      "neardup-jaccard" -> "0.6"))
    assert(counts.afterLang == 3)
    val written = spark.read.parquet(s"$dir/out/cleaned")
    assert(written.count() == 3)
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out/stats.json"))
    assert(stats.contains("\"input\":7"))
    assert(stats.contains("\"after_lang\":3"))

    // optional-stage flags wire through: a benchmark overlapping doc 0/1
    // (and 6's near-dup family: none) plus --redact
    import spark.implicits._
    Seq((100L, "over the lazy dog")).toDF("bench_id", "text")
      .write.mode("overwrite").parquet(s"$dir/bench")
    val counts2 = CleanCorpusMain.run(spark, Map(
      "input" -> s"$dir/in", "output" -> s"$dir/out2",
      "neardup-jaccard" -> "0.6", "benchmarks" -> s"$dir/bench",
      "decont-ngram" -> "3", "redact" -> "true"))
    assert(counts2.afterDecontaminate == Some(4L)) // doc 0 contaminated
    assert(counts2.afterLang == 2)
    assert(counts2.redactedDocs == Some(0L))
    val stats2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out2/stats.json"))
    assert(stats2.contains("\"after_decontaminate\":4"))
    assert(stats2.contains("\"redacted_docs\":0"))
  }
}
