package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.NearDupStream

/** Streaming near-dup dedup over the bucketed (v2) signature store:
  * batch-2 docs that near-duplicate stored batch-1 docs (or smaller ids
  * in their own batch) are refused; the store accumulates bucket rows
  * for admitted docs only, PARTITIONED BY (band, shard); and a
  * micro-batch provably reads ONLY the store partitions its own bucket
  * footprint touches (poison-file proof). */
class NearDupStreamSpec extends AnyFunSuite with SparkFixture {

  private def doc(seed: Int): String =
    (0 until 40).map(i => s"tok${(i * 7 + seed * 13) % 97}").mkString(" ")

  private lazy val dir = tempDir("neardupstream")

  test("micro-batches dedup against the persisted store and themselves") {
    import spark.implicits._
    val store = s"$dir/store"
    val b1 = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3)))
      .toDF("doc_id", "text")
    val s1 = NearDupStream.nearDupBatch(b1, store)
    assert(s1.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    s1.unpersist()
    // the meta's commit window: a crash between delete and rename leaves
    // only the complete tmp, and the next batch must still read the store
    val fs = graft.linkage.TableIO.fileSystem(spark, store)
    val meta = new org.apache.hadoop.fs.Path(s"$store/_store_meta.json")
    fs.rename(meta, meta.suffix(".tmp"))

    val b2 = Seq(
      (10L, doc(1).replaceFirst("tok20", "EDITED")), // near-dup of stored 1
      (11L, doc(7)),                                 // novel
      (12L, doc(2)),                                 // exact copy of stored 2
      (13L, doc(7).replaceFirst("tok90", "EDITED"))  // near-dup of 11 (same batch)
    ).toDF("doc_id", "text")
    val s2 = NearDupStream.nearDupBatch(b2, store)
    assert(s2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "10/12 must lose to the store, 13 to its smaller in-batch sibling")
    s2.unpersist()

    // the store holds bucket rows for admitted docs only — one row per
    // band per doc, partitioned by (band, shard)
    val rows = spark.read.parquet(s"$store/sigs")
    assert(rows.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 11L))
    val cfg = graft.data.Dedup.MinHashConfig(oph = true)
    assert(rows.count() == 4L * cfg.bands, "one store row per band per doc")
    assert(rows.columns.toSet ==
      Set("band", "shard", "bucket", "doc_id", "sig"))
    // a config mismatched against the store meta is refused loudly — also
    // with a truncated tmp beside the intact meta
    fs.rename(meta.suffix(".tmp"), meta)
    val partial = fs.create(meta.suffix(".tmp"), true)
    partial.write("""{"version":2,"numH""".getBytes("UTF-8")); partial.close()
    val e = intercept[IllegalArgumentException] {
      NearDupStream.nearDupBatch(b2, store,
        cfg.copy(seed = 99L))
    }
    assert(e.getMessage.contains("mismatch"))
  }

  test("a batch reads ONLY its matched store partitions (poison proof)") {
    import spark.implicits._
    val store = s"$dir/prunestore"
    val cfg = graft.data.Dedup.MinHashConfig(oph = true)
    // seeds chosen off the doc() construction's cyclic-shift aliases:
    // doc(a) and doc(b) share 40 - min(85Δ mod 97, 97 - 85Δ mod 97)
    // tokens (Δ = b - a), so e.g. Δ=16 is a ~0.85-Jaccard near-dup —
    // 60..62 are mutually ≤ 0.52, doc(64) is ≤ 0.26 against all three
    val b1 = (0 until 3).map(i => (i.toLong, doc(i + 60))).toDF("doc_id", "text")
    NearDupStream.nearDupBatch(b1, store, cfg).unpersist()

    // compute batch 2's (band, shard) footprint with the same library
    // calls the batch step uses, then poison a partition OUTSIDE it
    val b2 = Seq((100L, doc(61).replaceFirst("tok", "EDITEDtok")),
      (101L, doc(64))).toDF("doc_id", "text")
    val sigs2 = graft.data.Dedup.minHashSignaturesOPH(
      graft.data.Dedup.explodedShingles(b2, "doc_id", "text",
        cfg.shingleSize), cfg)
    val touched = graft.data.Dedup.lshBuckets(sigs2, cfg)
      .withColumn("shard", pmod(col("bucket"),
        lit(NearDupStream.DefaultShards.toLong)).cast("int"))
      .select("band", "shard").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val poison = (0 until cfg.bands).iterator
      .flatMap(b => (0 until NearDupStream.DefaultShards).map(s => (b, s)))
      .find(!touched.contains(_))
    assert(poison.isDefined, "footprint covered every partition — widen shards")
    val (pb, ps) = poison.get
    val poisonDir = new java.io.File(s"$store/sigs/band=$pb/shard=$ps")
    poisonDir.mkdirs()
    val poisonFile = new java.io.File(poisonDir, "part-00000-poison.parquet")
    val w = new java.io.FileOutputStream(poisonFile)
    w.write("this is not a parquet file".getBytes("UTF-8"))
    w.close()
    spark.catalog.refreshByPath(s"$store/sigs")

    // the batch must succeed — its pruned scan never opens the poison —
    // and still catch 100 (near-dup of stored doc 1) while admitting 101
    val s2 = NearDupStream.nearDupBatch(b2, store, cfg)
    assert(s2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(101L))
    s2.unpersist()

    // control: an UNPRUNED scan of the same store trips over the poison,
    // proving the file would have been read absent partition pruning
    spark.catalog.refreshByPath(s"$store/sigs")
    intercept[Exception] {
      spark.read.parquet(s"$store/sigs")
        .filter(col("bucket").isNotNull).count()
    }
    poisonFile.delete()
    spark.catalog.refreshByPath(s"$store/sigs")
  }

  test("v1 flat stores are refused") {
    import spark.implicits._
    val cfg = graft.data.Dedup.MinHashConfig(oph = true)
    val docs = Seq((1L, doc(40)), (2L, doc(41))).toDF("doc_id", "text")
    val sigs = graft.data.Dedup.minHashSignaturesOPH(
      graft.data.Dedup.explodedShingles(docs, "doc_id", "text",
        cfg.shingleSize), cfg)
    sigs.write.mode("overwrite").parquet(s"$dir/v1store")

    val e = intercept[IllegalArgumentException] {
      NearDupStream.nearDupBatch(docs, s"$dir/v1store", cfg)
    }
    assert(e.getMessage.contains("v1") &&
      e.getMessage.contains("fresh store"), e.getMessage)
  }

  test("foreachBatch sink admits exactly the non-duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = NearDupStream.nearDupSink(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/sinkstore", s"$dir/sinkout", s"$dir/sinkckpt")
    try {
      input.addData((100L, doc(50)), (101L, doc(51)))
      q.processAllAvailable()
      input.addData((102L, doc(50).replaceFirst("tok63", "EDITED")),
        (103L, doc(52)))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(s"$dir/sinkout")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(100L, 101L, 103L),
      s"102 duplicates stored 100; admitted: $admitted")
  }

  test("reconcile catches a borderline drop (estimate ≥ t, exact < t)") {
    import spark.implicits._
    import graft.data.Dedup
    val cfg = Dedup.MinHashConfig(oph = true, jaccardThreshold = 0.7)

    // deterministic search for a doc pair whose SIGNATURE-estimated
    // Jaccard crosses the 0.7 gate while the exact shingle Jaccard stays
    // below it — the ±1/√k estimator noise the streaming trade documents
    def exactJac(a: String, b: String): Double = {
      def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
      val (sa, sb) = (sh(a), sh(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val base = doc(30)
    val toks = base.split(" ")
    // edit m well-spread tokens starting at offset o: exact Jaccard lands
    // ≈ (38-3m)/(38+3m); m=3 sits at ≈0.62 < t where the ±1/√k estimator
    // noise can still push the signature estimate over t for SOME (o, m)
    val combos = for (m <- 2 to 4; o <- 0 until 12) yield (m, o)
    val variants = combos.map { case (m, o) =>
      val pos = (0 until m).map(j => (o + 11 * j) % toks.length).toSet
      toks.zipWithIndex.map { case (t, i) =>
        if (pos(i)) s"ED$i" else t
      }.mkString(" ")
    }
    // ONE batched signature pass over base + all variants
    val varDf = ((0L, base) +: variants.zipWithIndex.map {
      case (v, i) => (i + 1L, v)
    }).toDF("doc_id", "text")
    val sigMap = Dedup.minHashSignaturesOPH(
      Dedup.explodedShingles(varDf, "doc_id", "text", cfg.shingleSize), cfg)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(i: Long): Double =
      sigMap(0L).zip(sigMap(i)).count { case (x, y) => x == y }.toDouble /
        cfg.numHashes
    val borderline = variants.zipWithIndex.find { case (v, i) =>
      est(i + 1L) >= cfg.jaccardThreshold &&
        exactJac(base, v) < cfg.jaccardThreshold
    }
    assert(borderline.isDefined,
      "no borderline variant in the deterministic search window — widen it")
    val edited = borderline.get._1

    val store = s"$dir/reconcilestore"
    val s1 = NearDupStream.nearDupBatch(
      Seq((1L, base)).toDF("doc_id", "text"), store, cfg)
    assert(s1.count() == 1)
    val s2 = NearDupStream.nearDupBatch(
      Seq((2L, edited)).toDF("doc_id", "text"), store, cfg)
    assert(s2.count() == 0, "the estimate should (wrongly) drop doc 2")

    val corpus = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val rec = NearDupStream.reconcileStore(store, corpus, cfg)
    val diffs = rec.collect()
    val falseDrops = diffs.filter(_.getString(3) == "false_drop")
    assert(falseDrops.length == 1 && falseDrops.head.getLong(0) == 2L,
      s"reconcile missed the borderline drop: ${diffs.mkString(";")}")
    assert(falseDrops.head.getDouble(2) < cfg.jaccardThreshold)
    assert(!diffs.exists(_.getString(3) == "false_admit"))
    org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(rec)

    // CLI wrapper over the same store
    val cdir = s"$dir/reccorpus"
    corpus.write.mode("overwrite").parquet(cdir)
    val (fa, fd) = graft.streaming.ReconcileMain.run(spark, Map(
      "store" -> store, "corpus" -> cdir, "output" -> s"$dir/recout",
      "jaccard" -> cfg.jaccardThreshold.toString))
    assert(fa == 0L && fd == 1L)
    val persisted = spark.read.parquet(s"$dir/recout/diffs").collect()
    assert(persisted.length == 1 && persisted.head.getString(3) == "false_drop")
  }

  test("reconcile catches a BANDING miss the stream's own LSH cannot") {
    import spark.implicits._
    import graft.data.Dedup
    // STANDARD signatures here, not OPH: slot agreement equals the exact
    // Jaccard (s ≈ 0.73 → band-miss ≈ (1-s⁴)¹⁶ ≈ 0.5%), whereas OPH's
    // rotation densification on short docs correlates slots and pushes
    // agreement toward 0.9 — banding misses become ~1e-5-rare and the
    // deterministic search below would need millions of candidates
    val cfg = Dedup.MinHashConfig(oph = false, jaccardThreshold = 0.7)

    // deterministic search for a TRUE near-dup pair (exact Jaccard ≥ t)
    // that shares NO (band, bucket) at the stream's bands=16 — the
    // banding-miss false_admit class: the stream admits both (no
    // candidate is ever formed), and a reconcile that re-used the
    // stream's banding would reproduce the identical miss (ADVICE r04).
    // m=2 well-spread edits on a 40-token doc give exact ≈ 32/44 = 0.727;
    // per-variant P(no band collision) ≈ (1-s^4)^16 ≈ 1% — search many
    // bases × offsets in ONE batched signature pass.
    def exactJac(a: String, b: String): Double = {
      def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
      val (sa, sb) = (sh(a), sh(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val cases = for (b <- 0 until 40; o <- 0 until 20; sp <- Seq(13, 17))
      yield (b, o, sp)
    val pairs = cases.zipWithIndex.map { case ((b, o, sp), i) =>
      val baseText = doc(b + 300)
      val toks = baseText.split(" ")
      val pos = Set(o, (o + sp) % toks.length)
      val edited = toks.zipWithIndex.map { case (t, j) =>
        if (pos(j)) s"ZX$j$sp" else t
      }.mkString(" ")
      (i, baseText, edited)
    }
    val allDocs = pairs.flatMap { case (i, b, e) =>
      Seq((i * 2L, b), (i * 2L + 1L, e))
    }.toDF("doc_id", "text")
    val buckets = Dedup.lshBuckets(Dedup.docSignatures(
        allDocs, cfg.copy(oph = false), "doc_id", "text"), cfg)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getLong(2))).toSet).toMap
    val miss = pairs.find { case (i, b, e) =>
      exactJac(b, e) >= cfg.jaccardThreshold &&
        buckets(i * 2L).intersect(buckets(i * 2L + 1L)).isEmpty
    }
    assert(miss.isDefined,
      "no banding-missed pair in the search window — widen it")
    val (_, baseText, editedText) = miss.get

    val store = s"$dir/bandmissstore"
    val s1 = NearDupStream.nearDupBatch(
      Seq((1L, baseText)).toDF("doc_id", "text"), store, cfg)
    assert(s1.count() == 1)
    val s2 = NearDupStream.nearDupBatch(
      Seq((2L, editedText)).toDF("doc_id", "text"), store, cfg)
    assert(s2.count() == 1,
      "the banding miss must ADMIT doc 2 — no candidate pair forms")
    s1.unpersist(); s2.unpersist()

    val corpus = Seq((1L, baseText), (2L, editedText)).toDF("doc_id", "text")
    val rec = NearDupStream.reconcileStore(store, corpus, cfg)
    val diffs = rec.collect()
    val falseAdmits = diffs.filter(_.getString(3) == "false_admit")
    assert(falseAdmits.length == 1,
      s"max-recall reconcile missed the banding miss: ${diffs.mkString(";")}")
    assert(falseAdmits.head.getDouble(2) >= cfg.jaccardThreshold)
    org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(rec)
  }

  test("appends write one file per touched partition; compactStore bounds them") {
    import spark.implicits._
    val store = s"$dir/compactstore"
    val cfg = graft.data.Dedup.MinHashConfig(oph = true)
    // 6 append bursts of novel docs → up to 6 files in a hot partition
    for (b <- 0 until 6) {
      val batch = (0 until 8)
        .map(i => (b * 100L + i, doc(b * 31 + i * 7 + 1000)))
        .toDF("doc_id", "text")
      NearDupStream.nearDupBatch(batch, store, cfg).unpersist()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(store), spark.sparkContext.hadoopConfiguration)
    def partFiles(): Map[String, Int] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$store/sigs"), true)
      val counts = scala.collection.mutable.Map.empty[String, Int]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val part = f.getPath.getParent.toString
          counts(part) = counts.getOrElse(part, 0) + 1
        }
      }
      counts.toMap
    }
    val before = partFiles()
    // clustered writes: no partition ever exceeds one file per append
    assert(before.values.max <= 6, s"files/partition: ${before.values.max}")
    assert(before.values.max > 2, "test needs a multi-file partition")
    val idsBefore = spark.read.parquet(s"$store/sigs")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

    val rewritten = NearDupStream.compactStore(spark, store,
      maxFilesPerPartition = 2)
    assert(rewritten > 0)
    val after = partFiles()
    assert(after.values.max <= 2,
      s"compaction left ${after.values.max} files in a partition")
    // content is preserved and the store still serves dedup decisions
    val idsAfter = spark.read.parquet(s"$store/sigs")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idsAfter == idsBefore)
    val dupe = Seq((9999L, doc(1000))).toDF("doc_id", "text") // copy of 0
    val s = NearDupStream.nearDupBatch(dupe, store, cfg)
    assert(s.count() == 0, "post-compaction store must still refuse dups")
    s.unpersist()
    // a second pass is a no-op
    assert(NearDupStream.compactStore(spark, store,
      maxFilesPerPartition = 2) == 0)
  }

  test("NearDupStreamMain --once: scheduled-job shape over a file source") {
    import spark.implicits._
    import graft.streaming.NearDupStreamMain
    val base = s"$dir/cli"
    // drop 1: three novel docs land; the main drains them and EXITS
    Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/src/drop1")
    NearDupStreamMain.run(spark, Map(
      "source" -> s"$base/src/*", "store" -> s"$base/store",
      "output" -> s"$base/out", "checkpoint" -> s"$base/ckpt",
      "once" -> "true"))
    assert(spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // drop 2 lands: a near-dup of stored 1, a novel doc, and an exact
    // copy of stored 2 — a SECOND invocation resumes from the same
    // checkpoint, admits only the novel doc, and compacts afterwards
    Seq((10L, doc(1).replaceFirst("tok20", "EDITED")),
        (11L, doc(8)), (12L, doc(2))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/src/drop2")
    NearDupStreamMain.run(spark, Map(
      "source" -> s"$base/src/*", "store" -> s"$base/store",
      "output" -> s"$base/out", "checkpoint" -> s"$base/ckpt",
      "once" -> "true", "compact" -> "1"))
    assert(spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 11L),
      "second invocation must admit only the novel doc")
    // config mismatch against the store meta is refused through the CLI
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      NearDupStreamMain.run(spark, Map(
        "source" -> s"$base/src/*", "store" -> s"$base/store",
        "output" -> s"$base/out", "checkpoint" -> s"$base/ckpt2",
        "once" -> "true", "seed" -> "99"))
    }
    assert(e.getMessage.contains("mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("mismatch")))
  }
}
