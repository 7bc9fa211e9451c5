package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Ann

/** Persisted IVF index: build-once/query-many parity with the in-memory
  * path, and the at-scale property that matters — queries read ONLY the
  * probed cell partitions (dynamic partition pruning from the broadcast
  * probe set). */
class IvfIndexSpec extends AnyFunSuite with SparkFixture {

  private lazy val dir = tempDir("ivfidx")

  private lazy val corpus = {
    import spark.implicits._
    // deterministic 64-dim embeddings in 4 well-separated lobes
    (0L until 400L).map { i =>
      val lobe = (i % 4).toInt
      val v = Array.tabulate(64) { d =>
        val base = if (d / 16 == lobe) 1.0f else 0.0f
        base + 0.01f * (((i * 31 + d * 7) % 13) - 6)
      }
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  private lazy val queries = corpus.filter(col("vec_id") < 4)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private val cfg = Ann.IvfConfig(nCentroids = 8, nProbe = 2)
  private lazy val indexReady: Unit = Ann.writeIvfIndex(corpus, dir, cfg)

  test("indexed top-k ≡ in-memory ivfTopK (same centroids, same results)") {
    indexReady
    val mem = Ann.ivfTopK(corpus, queries, k = 5, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val idx = Ann.ivfTopKIndexed(spark, dir, queries, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(idx == mem, s"indexed result diverged: ${idx diff mem}")
    assert(idx.nonEmpty)
    // each query's nearest neighbor set comes from its own lobe
    val top1 = Ann.ivfTopKIndexed(spark, dir, queries, k = 1, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    top1.foreach { case (q, hit) =>
      assert(hit % 4 == q % 4, s"query $q matched cross-lobe vector $hit")
    }
  }

  test("appended vectors are found without rebuilding the quantizer") {
    indexReady
    import spark.implicits._
    // a new vector sitting exactly on lobe-2's prototype
    val novel = Seq((9999L,
      Array.tabulate(64)(d => if (d / 16 == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    Ann.appendToIvfIndex(novel, dir)
    val q = novel.select(col("vec_id").as("query_id"), col("embedding"))
    val top1 = Ann.ivfTopKIndexed(spark, dir, q, k = 1, nProbe = 2)
      .collect()
    assert(top1.length == 1 && top1.head.getLong(1) == 9999L,
      s"appended vector not retrieved: ${top1.mkString}")
  }

  test("index queries prune unprobed cell partitions (DPP in the plan)") {
    indexReady
    val centroids = Ann.readIvfCentroids(spark, dir)
    assert(centroids.length == 8 && centroids.forall(_.length == 64))
    val plan = Ann.ivfTopKIndexed(spark, dir, queries, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the cells scan:\n$plan")
  }

  test("probe side stays kernel-shaped at a √n-sized quantizer " +
      "(no literal centroid trees, no interpreted HOFs)") {
    // 1k centroids × 64 dims — the shape where the old unrolled
    // planeLit + aggregate(zip_with(..)) form put ~0.5 MiB of literal
    // doubles in the plan and evaluated them in the interpreter
    val big = Array.tabulate(1000, 64)((c, d) => ((c * 64 + d) % 7) * 0.1)
    val probed = queries.select(col("query_id"),
      Ann.nearestCentroids(col("embedding"), big, 4).as("probes"))
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("zip_with") && !plan.contains("aggregate("),
      s"interpreted HOFs back on the probe side:\n$plan")
    assert(plan.length < 20000,
      s"probe plan ballooned (${plan.length} chars) — literal centroid " +
        "tree is back")
    // the kernel executes (codegen path) and returns nProbe indices
    val rows = probed.collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getSeq[Int](1).length == 4))
    // parity with the sorted-struct semantics: ascending (L2, index)
    val emb = corpus.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    def l2(c: Array[Double]): Double =
      emb.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = big.zipWithIndex.map { case (c, i) => (l2(c), i) }
      .sortBy(identity).take(4).map(_._2).toSeq
    val got = probed.filter(col("query_id") === 0)
      .head().getSeq[Int](1)
    assert(got == expect, s"kernel order diverged: $got vs $expect")
  }

  test("append/read refuse an index whose meta stamp mismatches") {
    indexReady
    import spark.implicits._
    // clone the index, then tamper the fingerprint
    val dir2 = tempDir("ivfidx2")
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles.foreach(f =>
          cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    cp(new java.io.File(dir), new java.io.File(dir2))
    // the stamp's commit window: with only the complete tmp left by a
    // crash between delete and rename, the index still serves — and a
    // truncated tmp beside the intact stamp is ignored
    val expected = Ann.ivfTopKIndexed(spark, dir, queries, k = 5, nProbe = 2)
      .collect().toSet
    val fs = graft.linkage.TableIO.fileSystem(spark, dir2)
    val meta = new org.apache.hadoop.fs.Path(s"$dir2/ivf_meta.json")
    fs.rename(meta, meta.suffix(".tmp"))
    assert(Ann.ivfTopKIndexed(spark, dir2, queries, k = 5, nProbe = 2)
      .collect().toSet == expected)
    fs.rename(meta.suffix(".tmp"), meta)
    val partial = fs.create(meta.suffix(".tmp"), true)
    partial.write("""{"version":1,"nCen""".getBytes("UTF-8")); partial.close()
    assert(Ann.ivfTopKIndexed(spark, dir2, queries, k = 5, nProbe = 2)
      .collect().toSet == expected)
    // NIO rewrites below would trip the copied Hadoop .crc sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir2/.ivf_meta.json.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/ivf_meta.json"),
      s"""{"version":${Ann.IndexVersion},"nCentroids":8,"dims":32,"seed":11}""")
    val novel = Seq((7777L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(novel, dir2)
    }
    assert(e1.getMessage.contains("dims"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir2/ivf_meta.json"),
      s"""{"version":99,"nCentroids":8,"dims":64,"seed":11}""")
    val e2 = intercept[IllegalArgumentException] {
      Ann.ivfTopKIndexed(spark, dir2, queries, k = 1)
    }
    assert(e2.getMessage.contains("version"))
    // a missing stamp (pre-stamp index) also fails loudly
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir2/ivf_meta.json"))
    val e3 = intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(novel, dir2)
    }
    assert(e3.getMessage.contains("ivf_meta"))
  }

  test("append bursts compact to bounded files/partition; drift stamped") {
    indexReady
    import spark.implicits._
    // six appends of lobe-3 vectors: the touched partitions accumulate
    // one small file per append on top of the build's files
    (0 until 6).foreach { j =>
      val v = Seq((20000L + j,
        Array.tabulate(64)(d => if (d / 16 == 3) 1.0f else 0.002f * j)))
        .toDF("vec_id", "embedding")
      Ann.appendToIvfIndex(v, dir)
    }
    def filesPerPartition: Map[String, Int] =
      new java.io.File(s"$dir/cells").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("centroid="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = filesPerPartition
    assert(before.values.exists(_ > 3),
      s"append burst should exceed the file threshold: $before")
    val q = queries.limit(2)
    val preCompact = Ann.ivfTopKIndexed(spark, dir, q, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

    val compacted = Ann.compactIvfIndex(spark, dir, maxFilesPerPartition = 3)
    assert(compacted > 0)
    val after = filesPerPartition
    assert(after.values.forall(_ <= 3),
      s"files/partition still above bound after compaction: $after")
    // untouched partitions keep their exact file sets; results unchanged
    val postCompact = Ann.ivfTopKIndexed(spark, dir, q, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(postCompact == preCompact, "compaction changed query results")
    assert(Ann.compactIvfIndex(spark, dir, maxFilesPerPartition = 3) == 0,
      "second compaction must be a no-op")

    // drift: warm-start retrain assignment shift, stamped into the meta
    val drift = Ann.ivfDrift(spark, dir)
    assert(drift >= 0.0 && drift <= 1.0, s"drift out of range: $drift")
    val meta = spark.read.json(s"$dir/ivf_meta.json").collect().head
    assert(meta.getAs[Double]("drift") == drift)
    assert(meta.getAs[Double]("driftSample") > 0)
    // the stamp preserved the fingerprint (reads still validate)
    assert(Ann.readIvfCentroids(spark, dir).length == 8)
    Ann.ivfTopKIndexed(spark, dir, q, k = 1, nProbe = 2).collect()
  }

  test("probe kernel survives NaN embeddings (array_sort-parity order)") {
    import spark.implicits._
    // NaN distances make every `<` comparison false: the selection loop
    // must fall back to lowest-unused-index (the NaN-last, index-ascending
    // order of the sorted-struct form), not crash on used(-1)
    val centroids = Array.tabulate(4, 8)((c, d) => if (d == c) 1.0 else 0.0)
    val rows = Seq(
      (1L, Array.fill(8)(Float.NaN)),            // all-NaN vector
      (2L, Array.tabulate(8)(d => if (d == 2) 1.0f else 0.0f))) // clean
      .toDF("vec_id", "embedding")
    val got = rows.select(col("vec_id"),
      Ann.nearestCentroids(col("embedding"), centroids, 3).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(0, 1, 2), s"NaN fallback order: ${got(1L)}")
    assert(got(2L).head == 2, s"clean row mis-assigned: ${got(2L)}")
  }

  test("quantizer trains on a bounded deterministic sample") {
    import spark.implicits._
    // 3000 rows ≫ cap = 256·nCentroids = 512 at nCentroids = 2
    val big = (0L until 3000L).map { i =>
      val lobe = (i % 2).toInt
      (i, Array.tabulate(64)(d =>
        (if (d / 32 == lobe) 1.0f else 0.0f) +
          0.01f * (((i * 17 + d * 3) % 11) - 5)))
    }.toDF("vec_id", "embedding")
    val n = Ann.trainingSample(big, 2, "vec_id").count()
    // hash-mod sampling is expectation-bounded (no orderBy+limit funnel);
    // allow binomial slack over the 512 target
    assert(n > 0 && n <= (512 * 1.3).toInt,
      s"training sample not bounded: $n rows for cap 512")
    assert(Ann.trainingSample(big, 2, "vec_id").count() == n, "nondeterministic")
    // centroids from the sample still separate the lobes
    val cents = Ann.trainCentroids(big, Ann.IvfConfig(nCentroids = 2))
    val qs = big.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top1 = Ann.ivfTopK(big, qs, k = 1,
      Ann.IvfConfig(nCentroids = 2, nProbe = 1)).collect()
    assert(top1.length == 2 &&
      top1.forall(r => r.getLong(1) % 2 == r.getLong(0) % 2),
      s"sampled-quantizer IVF lost lobe separation: ${top1.mkString}")
    assert(cents.length == 2)
  }
}
