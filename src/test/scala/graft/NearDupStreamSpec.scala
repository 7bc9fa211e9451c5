package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Dedup
import graft.linkage.TableIO
import graft.streaming.NearDupStream

/** Streaming near-dup dedup over the v3 store: every doc's bucket rows,
  * PARTITIONED BY (band, shard), and its sorted shingle array, sharded by
  * id. A micro-batch drops the larger id of every exactly verified pair
  * among itself and the store — the full run's rule, so the stream's
  * survivors over a sequence of batches equal one Dedup.minHashNearDups
  * over their concatenation — and provably reads ONLY the store
  * partitions its own footprint touches (poison-file proof). */
class NearDupStreamSpec extends AnyFunSuite with SparkFixture {

  private def doc(seed: Int): String =
    (0 until 40).map(i => s"tok${(i * 7 + seed * 13) % 97}").mkString(" ")

  /** `text` with the tokens at `positions` replaced by fresh ones. */
  private def edit(text: String, tag: String, positions: Int*): String =
    text.split(" ").zipWithIndex.map { case (t, i) =>
      if (positions.contains(i)) s"$tag$i" else t
    }.mkString(" ")

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** The ids `nearDupBatch` admits; its result is released after. */
  private def admitted(batch: DataFrame, store: String,
                       cfg: Dedup.MinHashConfig =
                         Dedup.MinHashConfig(oph = true)): Set[Long] = {
    val s = NearDupStream.nearDupBatch(batch, store, cfg)
    try ids(s) finally releaseCheckpoint(s)
  }

  private lazy val dir = tempDir("neardupstream")

  test("micro-batches dedup against the persisted store and themselves") {
    import spark.implicits._
    val store = s"$dir/store"
    val b1 = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3)))
      .toDF("doc_id", "text")
    assert(admitted(b1, store) == Set(1L, 2L, 3L))
    // the meta's commit window: a crash between delete and rename leaves
    // only the complete tmp, and the next batch must still read the store
    val fs = TableIO.fileSystem(spark, store)
    val meta = new org.apache.hadoop.fs.Path(s"$store/_store_meta.json")
    fs.rename(meta, meta.suffix(".tmp"))

    val b2 = Seq(
      (10L, doc(1).replaceFirst("tok20", "EDITED")), // near-dup of stored 1
      (11L, doc(7)),                                 // novel
      (12L, doc(2)),                                 // exact copy of stored 2
      (13L, edit(doc(7), "EDITED", 20))              // near-dup of 11 (same batch)
    ).toDF("doc_id", "text")
    assert(admitted(b2, store) == Set(11L),
      "10/12 must lose to the store, 13 to its smaller in-batch sibling")

    // the store holds every doc seen, dropped near-dups too, but not 12,
    // an exact copy of stored 2: one bucket row per band per doc,
    // partitioned by (band, shard), and one shingle array per doc,
    // partitioned by shard
    val cfg = Dedup.MinHashConfig(oph = true)
    val all = Set(1L, 2L, 3L, 10L, 11L, 13L)
    val buckets = spark.read.parquet(s"$store/buckets")
    assert(ids(buckets.select("doc_id").distinct()) == all)
    assert(buckets.count() == all.size.toLong * cfg.bands,
      "one bucket row per band per doc")
    assert(buckets.columns.toSet == Set("band", "shard", "bucket", "doc_id"))
    val shingles = spark.read.parquet(s"$store/shingles")
    assert(ids(shingles) == all && shingles.count() == all.size)
    assert(shingles.columns.toSet == Set("shard", "doc_id", "shingles"))
    // a config mismatched against the store meta is refused loudly — also
    // with a truncated tmp beside the intact meta
    fs.rename(meta.suffix(".tmp"), meta)
    val partial = fs.create(meta.suffix(".tmp"), true)
    partial.write("""{"version":3,"numH""".getBytes("UTF-8")); partial.close()
    val e = intercept[IllegalArgumentException] {
      NearDupStream.nearDupBatch(b2, store,
        cfg.copy(seed = 99L))
    }
    assert(e.getMessage.contains("mismatch"))
  }

  test("a stored doc beats a batch doc with a smaller id") {
    import spark.implicits._
    val store = s"$dir/orderstore"
    assert(admitted(Seq((100L, doc(700))).toDF("doc_id", "text"), store) ==
      Set(100L))
    // 5 near-duplicates stored 100 (one edit, J ≈ 0.85): 100 is already
    // in the out path, so 5 must go although its id is smaller
    val b2 = Seq((5L, edit(doc(700), "S", 10)), (6L, doc(703)))
      .toDF("doc_id", "text")
    assert(admitted(b2, store) == Set(6L))
  }

  test("a flood of identical docs over several triggers stores one copy") {
    import spark.implicits._
    val store = s"$dir/floodstore"
    val cfg = Dedup.MinHashConfig(oph = true)
    val admittedPerTrigger = (0 until 3).map { t =>
      admitted((1L to 4L).map(i => (t * 10L + i, doc(800)))
        .toDF("doc_id", "text"), store, cfg)
    }
    assert(admittedPerTrigger == Seq(Set(1L), Set.empty[Long], Set.empty[Long]))
    // copies dropped at Jaccard 1.0 are not stored, so the flood's
    // buckets keep one row per band and later copies join one stored row
    val buckets = spark.read.parquet(s"$store/buckets")
    assert(ids(buckets) == Set(1L) && buckets.count() == cfg.bands)
    assert(spark.read.parquet(s"$store/shingles").count() == 1L)
  }

  test("a batch reads ONLY its matched store partitions (poison proof)") {
    import spark.implicits._
    val store = s"$dir/prunestore"
    val cfg = Dedup.MinHashConfig(oph = true)
    val shards = NearDupStream.DefaultShards
    // seeds chosen off the doc() construction's cyclic-shift aliases:
    // doc(a) and doc(b) share 40 - min(85Δ mod 97, 97 - 85Δ mod 97)
    // tokens (Δ = b - a), so e.g. Δ=16 is a ~0.85-Jaccard near-dup —
    // 60..62 are mutually ≤ 0.52, doc(64) is ≤ 0.26 against all three
    val b1 = (0 until 3).map(i => (i.toLong, doc(i + 60))).toDF("doc_id", "text")
    admitted(b1, store, cfg)

    // batch 2's (band, shard) footprint, computed with the library calls
    // the batch step uses; poison a bucket partition OUTSIDE it
    val b2 = Seq((100L, doc(61).replaceFirst("tok", "EDITEDtok")),
      (101L, doc(64))).toDF("doc_id", "text")
    val touched = Dedup.bucketRows(
        Dedup.minHashDocs(b2, cfg, "doc_id", "text"), "doc_id")
      .select(col("band"), pmod(col("bucket"), lit(shards.toLong))
        .cast("int"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val (pb, ps) = (0 until cfg.bands).iterator
      .flatMap(b => (0 until shards).map(s => (b, s)))
      .find(!touched.contains(_))
      .getOrElse(fail("footprint covered every partition — widen shards"))
    // ... and a shingle shard no stored doc hashes to, so no stored
    // candidate can need it
    val storedShards = b1.select(pmod(xxhash64(col("doc_id")),
      lit(shards.toLong)).cast("int")).collect().map(_.getInt(0)).toSet
    val sx = (0 until shards).find(!storedShards(_)).get
    val poisons = Seq(s"$store/buckets/band=$pb/shard=$ps",
        s"$store/shingles/shard=$sx").map { d =>
      new java.io.File(d).mkdirs()
      val f = new java.io.File(d, "part-00000-poison.parquet")
      val w = new java.io.FileOutputStream(f)
      w.write("this is not a parquet file".getBytes("UTF-8"))
      w.close()
      f
    }
    Seq("buckets", "shingles").foreach(t =>
      spark.catalog.refreshByPath(s"$store/$t"))

    // the batch must succeed — its pruned scans never open a poison —
    // and still catch 100 (near-dup of stored doc 1, verified against its
    // stored shingles) while admitting 101
    assert(admitted(b2, store, cfg) == Set(101L))

    // control: an UNPRUNED scan of either table trips over its poison,
    // proving the file would have been read absent partition pruning
    Seq("buckets", "shingles").foreach { t =>
      spark.catalog.refreshByPath(s"$store/$t")
      intercept[Exception] {
        spark.read.parquet(s"$store/$t").filter(col("doc_id").isNotNull)
          .count()
      }
    }
    poisons.foreach(_.delete())
    Seq("buckets", "shingles").foreach(t =>
      spark.catalog.refreshByPath(s"$store/$t"))
  }

  test("v1 flat stores are refused") {
    import spark.implicits._
    val cfg = Dedup.MinHashConfig(oph = true)
    val docs = Seq((1L, doc(40)), (2L, doc(41))).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignaturesOPH(
      Dedup.explodedShingles(docs, "doc_id", "text", cfg.shingleSize), cfg)
    sigs.write.mode("overwrite").parquet(s"$dir/v1store")

    val e = intercept[IllegalArgumentException] {
      NearDupStream.nearDupBatch(docs, s"$dir/v1store", cfg)
    }
    assert(e.getMessage.contains("v1") &&
      e.getMessage.contains("fresh store"), e.getMessage)
  }

  test("v2 signature stores are refused") {
    import spark.implicits._
    val cfg = Dedup.MinHashConfig(oph = true)
    val store = s"$dir/v2store"
    // a v2 store: admitted docs' (bucket, doc_id, sig) rows under sigs/,
    // with a meta that matches the caller's config in everything but the
    // layout version
    TableIO.writeJson(spark, s"$store/_store_meta.json",
      TableIO.jsonObject("version" -> 2, "numHashes" -> cfg.numHashes,
        "bands" -> cfg.bands, "shingleSize" -> cfg.shingleSize,
        "seed" -> cfg.seed, "oph" -> cfg.oph,
        "shards" -> NearDupStream.DefaultShards))
    Seq((7L, 1L, Seq(1L, 2L), 0, 7)).toDF("bucket", "doc_id", "sig", "band",
        "shard")
      .write.partitionBy("band", "shard").parquet(s"$store/sigs")

    val docs = Seq((1L, doc(40)), (2L, doc(41))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NearDupStream.nearDupBatch(docs, store, cfg)
    }
    assert(e.getMessage.contains("v2") &&
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
    val admitted = ids(spark.read.parquet(s"$dir/sinkout"))
    assert(admitted == Set(100L, 101L, 103L),
      s"102 duplicates stored 100; admitted: $admitted")
  }

  test("stream survivors over batches ≡ one full run over their concatenation") {
    import spark.implicits._
    // a chain a~b~c spread over batches 1-3: J(a,b) = J(b,c) = 32/44 ≈
    // 0.73 (two well-spread edits of a 40-token doc each), J(a,c) = 26/50
    // = 0.52. The full run drops b (pair a,b) AND c (pair b,c): c's only
    // near-dup is itself dropped, so the stream must keep dropped docs in
    // its store to agree.
    val a = doc(500)
    val b = edit(a, "CHb", 5, 20)
    val c = edit(b, "CHc", 12, 30)
    // batch 5 floods one family: six copies of a novel doc share every
    // (band, bucket), the capped full run's trigger below
    val batches = Seq(
      Seq((1L, a), (2L, doc(501)), (3L, doc(502)),
        (4L, edit(doc(502), "X", 7))),          // in-batch near-dup of 3
      Seq((10L, b), (11L, doc(503)), (12L, doc(501))), // 12 copies stored 2
      Seq((20L, c), (21L, doc(504)), (22L, edit(doc(503), "Y", 9, 33))),
      Seq((30L, doc(505)), (31L, edit(doc(504), "Z", 2)), (32L, doc(506))),
      (40L until 46L).map(i => (i, doc(507))) :+ ((46L, doc(508))))
    val cfg = Dedup.MinHashConfig(oph = true, capRatio = 0.02,
      minBucketCap = 3, maxBucketCap = 3)

    // the stream, batch by batch, with the capped config: it never caps
    val store = s"$dir/equivstore"
    val streamed = batches.flatMap(bs =>
      admitted(bs.toDF("doc_id", "text"), store, cfg)).toSet

    // one full run over the concatenation: survivors = input − id_b
    val all = batches.flatten.toDF("doc_id", "text")
    def fullRun(c: Dedup.MinHashConfig): Set[Long] = {
      val pairs = Dedup.minHashNearDups(all, c)
      try ids(all) -- pairs.select("id_b").collect().map(_.getLong(0))
      finally pairs.unpersist()
    }
    val uncapped = fullRun(cfg.copy(capRatio = 1.0))
    assert(streamed == uncapped,
      s"stream-only ${streamed -- uncapped}, full-run-only ${uncapped -- streamed}")
    assert(uncapped(1L) && !uncapped(10L) && !uncapped(20L),
      "the chain keeps a and drops b and c")
    assert(!uncapped(4L) && !uncapped(12L) && !uncapped(22L) &&
      !uncapped(31L), "the planted near-dups are dropped")
    assert(uncapped(40L) && (41L until 46L).forall(!uncapped(_)))

    // the one divergence: the capped full run drops the flood's hot
    // buckets (6 rows > cap 3) and so keeps every copy, while the stream,
    // whose batch × bucket join needs no cap, drops all but the first
    val capped = fullRun(cfg)
    assert(streamed.subsetOf(capped))
    assert((41L until 46L).forall(i => capped(i) && !streamed(i)),
      s"capped-run survivors $capped")
  }

  test("a borderline pair (estimate ≥ t, exact < t) is admitted") {
    import spark.implicits._
    val cfg = Dedup.MinHashConfig(oph = true, jaccardThreshold = 0.7)

    // deterministic search for a doc pair whose SIGNATURE-estimated
    // Jaccard crosses the 0.7 gate while the exact shingle Jaccard stays
    // below it: a gate on the ±1/√k estimate drops the second doc, the
    // exact verify admits it
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
      edit(base, "ED", (0 until m).map(j => (o + 11 * j) % toks.length): _*)
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

    val store = s"$dir/borderlinestore"
    assert(admitted(Seq((1L, base)).toDF("doc_id", "text"), store, cfg) ==
      Set(1L))
    assert(admitted(Seq((2L, borderline.get._1)).toDF("doc_id", "text"),
      store, cfg) == Set(2L), "exact Jaccard < t: doc 2 is no near-dup")
  }

  test("appends write one file per touched partition; compactStore bounds them") {
    import spark.implicits._
    val store = s"$dir/compactstore"
    val cfg = Dedup.MinHashConfig(oph = true)
    // 6 append bursts of novel docs → up to 6 files in a hot partition
    for (b <- 0 until 6) {
      val batch = (0 until 8)
        .map(i => (b * 100L + i, doc(b * 31 + i * 7 + 1000)))
        .toDF("doc_id", "text")
      admitted(batch, store, cfg)
    }
    val fs = TableIO.fileSystem(spark, store)
    val tables = Seq("buckets", "shingles")
    // parquet files per leaf partition dir, per table
    def partFiles(table: String): Map[String, Int] =
      TableIO.listFilesRecursive(fs,
          new org.apache.hadoop.fs.Path(s"$store/$table"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .groupBy(_.getPath.getParent.toString).view.mapValues(_.size).toMap
    def storedIds(table: String): Set[Long] =
      ids(spark.read.parquet(s"$store/$table").select("doc_id").distinct())
    val idsBefore = tables.map(storedIds)
    tables.foreach { t =>
      val before = partFiles(t)
      // clustered writes: no partition ever exceeds one file per append
      assert(before.values.max <= 6, s"$t files/partition: ${before.values.max}")
      assert(before.values.max > 2, s"$t: test needs a multi-file partition")
    }

    val rewritten = NearDupStream.compactStore(spark, store,
      maxFilesPerPartition = 2)
    assert(rewritten > 0)
    tables.foreach { t =>
      val after = partFiles(t)
      assert(after.values.max <= 2,
        s"compaction left ${after.values.max} files in a $t partition")
    }
    // content is preserved and the store still serves dedup decisions
    assert(tables.map(storedIds) == idsBefore)
    val dupe = Seq((9999L, doc(1000))).toDF("doc_id", "text") // copy of 0
    assert(admitted(dupe, store, cfg).isEmpty,
      "post-compaction store must still refuse dups")
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
    assert(ids(spark.read.parquet(s"$base/out")) == Set(1L, 2L, 3L))

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
    assert(ids(spark.read.parquet(s"$base/out")) == Set(1L, 2L, 3L, 11L),
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
