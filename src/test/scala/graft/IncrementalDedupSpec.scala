package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{CleanCorpus, Dedup}

/** Daily-append dedup: the CleanCorpus --previous mode must equal full
  * recomputes over the combined corpus, across TWO increments, including
  * near-dup chains whose pairs span increment boundaries. */
class IncrementalDedupSpec extends AnyFunSuite with SparkFixture {

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  /** Three slices with ascending ids. Chains cross slices: doc i (slice
    * 1) ~ doc 1000+i (slice 2) ~ doc 2000+i (slice 3) via cumulative
    * one-word garbles; slice 3 also carries an exact copy of a slice-1
    * doc and a low-quality junk doc to exercise every clean stage. */
  private lazy val (d1, d2, d3) = {
    import spark.implicits._
    val rnd = new scala.util.Random(4321)
    val base = (0 until 30).map { i =>
      (100L + i, Array.fill(40)(words(rnd.nextInt(words.length)))
        .mkString(" "))
    }
    val g1 = base.take(10).map { case (id, text) =>
      val t = text.split(" "); t(5) = "garbleone"
      (1000L + id, t.mkString(" "))
    }
    val g2 = base.take(10).map { case (id, text) =>
      val t = text.split(" "); t(5) = "garbleone"; t(29) = "garbletwo"
      (2000L + id, t.mkString(" "))
    }
    val extras3 = Seq(
      (2500L, base(20)._2),                  // exact dup of a slice-1 doc
      (2501L, "tiny low quality junk junk junk junk junk junk junk junk"))
    (base.toDF("doc_id", "text"),
      (g1 ++ base.drop(20).map { case (id, t) => (900L + id, t + " novel") })
        .toDF("doc_id", "text"),
      (g2 ++ extras3).toDF("doc_id", "text"))
  }

  private val cfg = Dedup.MinHashConfig(bands = 32, jaccardThreshold = 0.6)

  test("incremental pairs plan stays lineage-cut (no multiplicative girth)") {
    // r05 shipped a 3.2M-char physical plan for the incremental path —
    // `all`/`cands`/`exploded` each re-embedded the full previous-corpus
    // signature pipeline per downstream reference, and every action/AQE
    // re-optimization walked it (the driver bench WARNed on
    // maxPlanStringLength). r06 cuts lineage at those fan-out points with
    // lazy localCheckpoints; this pins the cut so a regression trips a
    // test, not a log line.
    val out = Dedup.minHashNearDups(d2, cfg, previous = Some(d1))
    val len = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).length
    out.unpersist(blocking = false)
    assert(len < 200000,
      s"incremental verify plan re-inflated to $len chars — a fan-out " +
        "point lost its lineage cut (the minHashDocs localCheckpoint)")
  }

  test("incremental hot-bucket cap is sized from the combined corpus") {
    // 30 identical flood docs on EACH side share every band bucket: 30
    // rows per bucket stays under the cap (floor lowered to 50 for test
    // scale) in either slice alone, but the combined 60 exceed it — an
    // increment that sized the cap from its own slice would admit the
    // flood pairs a full run drops. The previous flood ids sit below the
    // new slice's (append-only id rule)
    val capCfg = cfg.copy(minBucketCap = 50)
    def flood(from: Long) = spark.range(30).select(
      (col("id") + from).as("doc_id"),
      lit("flood of identical tokens repeated here").as("text"))
    def isFlood(id: Long) = (id >= 500L && id < 530L) || id >= 6000L
    val prev = d1.unionByName(flood(500L))
    val next = d2.unionByName(flood(6000L))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val inc = Dedup.minHashNearDups(next, capCfg, previous = Some(prev))
    val incPairs = pairSet(inc)
    assert(!incPairs.exists { case (a, b) => isFlood(a) || isFlood(b) },
      s"flood pairs must be dropped by the combined-corpus cap: $incPairs")
    (0 until 10).foreach { i =>
      assert(incPairs.contains((100L + i, 1100L + i)),
        s"planted cross-slice pair $i lost to an unrelated cap")
    }

    val full = Dedup.minHashNearDups(prev.unionByName(next), capCfg)
    val newIds = next.select("doc_id").collect().map(_.getLong(0)).toSet
    val fullNew = pairSet(full).filter { case (a, b) =>
      newIds(a) || newIds(b) }
    assert(incPairs == fullNew,
      s"missing=${fullNew -- incPairs} extra=${incPairs -- fullNew}")
    inc.unpersist(); full.unpersist()
  }

  test("incremental == full clean with ALL optional stages on") {
    import spark.implicits._
    // benchmark window cut from a slice-1 doc whose text also lives in
    // slice 2 (base.drop(20) + " novel") — contamination must hit BOTH
    // increments identically to the full run
    val window = d1.filter(col("doc_id") === 120L).head().getString(1)
      .split(" ").take(6).mkString(" ")
    val bench = Seq((9000L, window)).toDF("bench_id", "text")
    val rnd = new scala.util.Random(99)
    val filler = Array.fill(30)(words(rnd.nextInt(words.length)))
      .mkString(" ")
    val p2 = d2.unionByName(Seq(
      (1950L, s"please reach me at bob@corp.io soon $filler"))
      .toDF("doc_id", "text"))
    val ccfg = CleanCorpus.Config(lang = None, minhash = cfg,
      benchmarks = Some(bench), decontNgram = 3,
      maxDupNgramFrac = Some(0.5), redactPii = true)
    val all = d1.unionByName(p2).unionByName(d3)

    val (full, fullCounts, _) = cleanWritten(all, ccfg)
    val fullRows = full.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fullCounts.afterDecontaminate.get < fullCounts.afterNearDup,
      "benchmark must contaminate at least one doc")
    assert(fullCounts.redactedDocs.get >= 1L,
      "the planted email doc must be scrubbed")

    // incremental replay: full clean of slice 1, then two increments.
    // localCheckpoint between increments breaks the compounding lineage
    // (the CLI path breaks it by writing parquet) — without it the
    // increment-2 plan tree is big enough that merely RENDERING its
    // explain string OOMs the test JVM
    val (c1, _, ids1) = cleanWritten(d1, ccfg)
    val exact1 = d1.join(ids1, Seq("doc_id"), "left_semi").localCheckpoint()
    val (c2, _, ids2) = cleanWritten(p2, ccfg, previous = Some(exact1))
    val exact12 = exact1.unionByName(p2.join(ids2, Seq("doc_id"), "left_semi"))
      .localCheckpoint()
    val (c3, _, _) = cleanWritten(d3, ccfg, previous = Some(exact12))
    val incRows = (c1.select("doc_id", "text").collect() ++
      c2.select("doc_id", "text").collect() ++
      c3.select("doc_id", "text").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    assert(incRows.keySet == fullRows.keySet,
      s"missing=${fullRows.keySet -- incRows.keySet} " +
        s"extra=${incRows.keySet -- fullRows.keySet}")
    incRows.foreach { case (id, text) =>
      assert(text == fullRows(id), s"doc $id text diverged")
    }
    assert(incRows.get(1950L).exists(t =>
      t.contains("[EMAIL]") && !t.contains("bob@corp.io")),
      s"increment must scrub the planted email: ${incRows.get(1950L)}")
    assert(!incRows.contains(120L), "windowed doc must be contaminated")
  }

  test("CleanCorpus --previous over 2 increments == one full clean") {
    import spark.implicits._
    val ccfg = CleanCorpus.Config(
      minhash = cfg.copy(jaccardThreshold = 0.6))
    val all123 = d1.unionByName(d2).unionByName(d3)

    val (fullCleaned, fullCounts, fullExact) = cleanWritten(all123, ccfg)
    val fullIds = fullCleaned.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val fullExactIds = fullExact.collect().map(_.getLong(0)).toSet

    val tmp = tempDir("cleaninc")
    Seq(d1, d2, d3).zipWithIndex.foreach { case (df, i) =>
      df.write.mode("overwrite").parquet(s"$tmp/in${i + 1}")
    }
    // run 1: full clean of slice 1
    graft.data.CleanCorpusMain.run(spark, Map(
      "input" -> s"$tmp/in1", "output" -> s"$tmp/out1",
      "neardup-jaccard" -> "0.6", "lang" -> "none"))
    // increments 2 and 3 via --previous
    graft.data.CleanCorpusMain.run(spark, Map(
      "input" -> s"$tmp/in2", "output" -> s"$tmp/out2",
      "previous" -> s"$tmp/out1", "previous-input" -> s"$tmp/in1",
      "neardup-jaccard" -> "0.6", "lang" -> "none"))
    graft.data.CleanCorpusMain.run(spark, Map(
      "input" -> s"$tmp/in3", "output" -> s"$tmp/out3",
      "previous" -> s"$tmp/out2",
      "previous-input" -> s"$tmp/in1,$tmp/in2",
      "neardup-jaccard" -> "0.6", "lang" -> "none"))

    val incIds = Seq("out1", "out2", "out3").flatMap(o =>
      spark.read.parquet(s"$tmp/$o/cleaned").select("doc_id")
        .collect().map(_.getLong(0))).toSet
    // full clean() runs with lang=Some("en") by default in Config — the
    // CLI runs above pinned lang none both sides, so compare none-vs-none
    val (fullNone, _, _) = cleanWritten(all123, ccfg.copy(lang = None))
    val fullNoneIds = fullNone.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(incIds == fullNoneIds,
      s"missing=${fullNoneIds -- incIds} extra=${incIds -- fullNoneIds}")

    // cumulative exact-survivor store covers all three slices minus the
    // exact duplicate
    val exactIds = spark.read.parquet(s"$tmp/out3/exact_survivor_ids")
      .collect().map(_.getLong(0)).toSet
    assert(!exactIds.contains(2500L), "exact dup must not survive")
    assert(exactIds.contains(2501L), "junk doc survives EXACT stage")
    // and equals one full run's exact stage over all three slices
    assert(exactIds == fullExactIds)
    // full mode writes the same ids its own exact stage kept
    val exact1Ids = spark.read.parquet(s"$tmp/out1/exact_survivor_ids")
      .collect().map(_.getLong(0)).toSet
    val d1Ids = d1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact1Ids == fullExactIds.intersect(d1Ids))

    // id-discipline violation is refused loudly
    val e = intercept[IllegalArgumentException] {
      cleanWritten(Seq((1L, "way too small id")).toDF("doc_id", "text"),
        ccfg, previous = Some(d2))
    }
    assert(e.getMessage.contains("append-only"))
    assert(fullCounts.input == 62) // 30 + 20 + 12
  }

  test("append-only id check orders ids as Spark does, before any stage") {
    import spark.implicits._
    val ccfg = CleanCorpus.Config(lang = None, minhash = cfg)
    val text = "alpha bravo charlie delta echo foxtrot golf hotel"
    // Spark orders strings by UTF-8 bytes: U+FF21 (EF BC A1) sorts below
    // U+1F600 (F0 9F 98 80), while Java's UTF-16 order puts U+1F600's
    // surrogate pair (D83D …) first — a previous "😀" and a new "Ａ"
    // break the rule
    val prevS = Seq(("\uD83D\uDE00", text)).toDF("doc_id", "text")
    val newS = Seq(("\uFF21", s"$text india")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    val cached = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      cleanWritten(newS, ccfg, previous = Some(prevS))
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size == cached,
      "refused after the exact stage had cached its keepers")
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(newS, cfg, previous = Some(prevS))
    }
    // numbers compare by value: a previous 1.9 and a new 1.95 keep the
    // rule, and the cross-increment near-dup pair is found (the larger id
    // passes the candidate filter above 1.9) and drops the new doc
    val prevD = Seq((1.9, text)).toDF("doc_id", "text")
    val newD = Seq((1.95, s"$text india")).toDF("doc_id", "text")
    val (_, counts, ids) = cleanWritten(newD, ccfg, previous = Some(prevD))
    assert(ids.collect().map(_.getDouble(0)).toSeq == Seq(1.95))
    assert(counts.afterExact == 1 && counts.afterNearDup == 0,
      counts.toJson)
  }
}
