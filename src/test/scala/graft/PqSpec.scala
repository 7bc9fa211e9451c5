package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{Ann, Pq}

/** Product quantization: kernel exactness against a plain-Scala
  * reference, and on the served index path refine-equals-brute-force,
  * trained-codebook recall, and
  * the two at-scale plan properties of the persisted IVF-PQ index —
  * the ADC sweep reads only (id, code) columns, and only the probed
  * partitions (column pruning + DPP). */
class PqSpec extends AnyFunSuite with SparkFixture {

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

  /** Fixed codebooks from the first 4 data rows, M=4 × 16 dims. */
  private lazy val fixedCb: Array[Array[Array[Double]]] = {
    val rows = corpus.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Array.tabulate(4)(m => rows.map(_.slice(m * 16, m * 16 + 16)))
  }

  /** The persisted IVF-PQ index over the corpus (8 cells, M=4, K=8) —
    * the production serving path ([[graft.data.IndexMain]] --pq). */
  private lazy val index = {
    val dir = tempDir("ivfpq")
    Pq.writeIvfPqIndex(corpus, dir, Ann.IvfConfig(nCentroids = 8),
      Pq.PqConfig(numSubspaces = 4, codebookSize = 8))
    dir
  }

  test("encode kernel ≡ plain-Scala argmin per subspace (lowest-k ties)") {
    val vecs = corpus.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val got = Pq.encode(corpus, fixedCb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got.size == vecs.size)
    vecs.foreach { case (id, v) =>
      val expect = (0 until 4).map { m =>
        val sub = v.slice(m * 16, m * 16 + 16)
        fixedCb(m).zipWithIndex.map { case (c, k) =>
          (sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, k)
        }.minBy(identity)._2
      }
      assert(got(id) == expect, s"code diverged for vec $id")
    }
    // the codebook rows themselves encode to their own index in every
    // subspace (distance 0 beats everything in a separated corpus)
    (0 until 4).foreach(k => assert(got(k.toLong) == Seq.fill(4)(k)))
  }

  test("ADC ≡ exact L2² to the reconstructed vector; refine ≡ brute force") {
    // adc(q, code) must equal the L2² between q and the concatenation of
    // the code's sub-centroids, accumulated subspace-by-subspace
    val adcRows = Pq.adcTopK(Pq.encode(corpus, fixedCb), queries,
      k = 400, fixedCb).collect()
    val codes = Pq.encode(corpus, fixedCb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val qVecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    adcRows.take(200).foreach { r =>
      val (q, id, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val expect = (0 until 4).map { m =>
        val sub = qVecs(q).slice(m * 16, m * 16 + 16)
        sub.zip(fixedCb(m)(codes(id)(m)))
          .map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum
      assert(math.abs(adc - expect) < 1e-9,
        s"adc diverged for ($q, $id): $adc vs $expect")
    }
    // served with every cell probed and refine covering the whole corpus,
    // the exact re-rank IS brute force — identical (query, id, rank)
    // triples
    val refined = Pq.ivfPqTopKIndexed(spark, index, queries, k = 5,
      nProbe = 8, refine = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Ann.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(refined == brute, s"refine≡brute violated: ${refined diff brute}")
  }

  test("trained codebooks: deterministic, and ADC+refine keeps recall") {
    val cfg = Pq.PqConfig(numSubspaces = 4, codebookSize = 8)
    val cb1 = Pq.trainCodebooks(corpus, cfg)
    val cb2 = Pq.trainCodebooks(corpus, cfg)
    assert(cb1.length == 4 && cb1.forall(_.length == 8) &&
      cb1.forall(_.forall(_.length == 16)))
    assert(cb1.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq,
      "codebook training is nondeterministic")
    // the index serves these codebooks; recall@5 of its refined search
    // (every cell probed, refine=40) vs brute force
    assert(Pq.readPqCodebooks(spark, index).flatten.flatten.toSeq ==
      cb1.flatten.flatten.toSeq, "the index does not serve the trained codebooks")
    val brute = Ann.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.ivfPqTopKIndexed(spark, index, queries, k = 5, nProbe = 8,
      refine = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.9, s"refined PQ recall collapsed: $recall")
  }

  test("subspace slicing covers uneven dims") {
    assert(Pq.subspaceSlices(10, 3).toSeq == Seq((0, 4), (4, 3), (7, 3)))
    assert(Pq.subspaceSlices(64, 8).toSeq ==
      (0 until 8).map(i => (i * 8, 8)))
  }

  test("IVF-PQ index: sweep scans only (id, code) of probed partitions; " +
      "refine ≡ flat index results") {
    val served = Pq.ivfPqTopKIndexed(spark, index, queries, k = 5,
      nProbe = 8, refine = 400)
    val plan = served.queryExecution.executedPlan.toString
    // DPP: the cells scans are pruned by the broadcast probe set
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the cells scan:\n$plan")
    // column pruning: the ADC sweep's scan reads code but NEVER the
    // embedding bytes (the 32× scan-size win PQ exists for); the refine
    // scan reads embedding but no code
    val schemas = plan.split("ReadSchema:").drop(1).map(_.takeWhile(_ != '\n'))
    assert(schemas.exists(s => s.contains("code") && !s.contains("embedding")),
      s"ADC sweep scan still reads vectors:\n${schemas.mkString("\n")}")
    // r06 (ADVICE r05): BOTH cells scans must be partition-pruned — the
    // refine join carries the candidate's centroid, so the vector re-read
    // touches probed partitions only, not every partition's embeddings
    assert(plan.split("dynamicpruning").length - 1 >= 2,
      s"refine scan not partition-pruned (need DPP on sweep AND refine):\n$plan")
    assert(schemas.exists(s => s.contains("embedding") && !s.contains("code")),
      s"refine scan schema unexpected:\n${schemas.mkString("\n")}")
    // with every cell probed and refine covering the corpus, serving
    // equals brute force exactly
    val got = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Ann.bruteForceTopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == brute, s"full-probe IVF-PQ ≠ brute force: ${got diff brute}")
    // narrow probing still finds each query's own lobe
    val top1 = Pq.ivfPqTopKIndexed(spark, index, queries, k = 1,
      nProbe = 2, refine = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    top1.foreach { case (q, hit) =>
      assert(hit % 4 == q % 4, s"query $q matched cross-lobe vector $hit")
    }
  }

  test("IVF-PQ append + meta refusal") {
    import spark.implicits._
    val dir = tempDir("ivfpq2")
    Pq.writeIvfPqIndex(corpus, dir,
      Ann.IvfConfig(nCentroids = 8, nProbe = 2),
      Pq.PqConfig(numSubspaces = 4, codebookSize = 8))
    val novel = Seq((9999L,
      Array.tabulate(64)(d => if (d / 16 == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    Pq.appendToIvfPqIndex(novel, dir)
    val q = novel.select(col("vec_id").as("query_id"), col("embedding"))
    val top1 = Pq.ivfPqTopKIndexed(spark, dir, q, k = 1, nProbe = 2,
      refine = 10).collect()
    assert(top1.length == 1 && top1.head.getLong(1) == 9999L,
      s"appended vector not retrieved: ${top1.mkString}")
    // version tamper → loud refusal
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/.ivfpq_meta.json.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ivfpq_meta.json"),
      """{"version":99,"nCentroids":8,"numSubspaces":4,"codebookSize":8,""" +
        """"dims":64,"seed":11,"pqSeed":13}""")
    val e = intercept[IllegalArgumentException] {
      Pq.ivfPqTopKIndexed(spark, dir, q, k = 1)
    }
    assert(e.getMessage.contains("version"))
    // a plain-IVF index is not silently served as IVF-PQ
    val ivfDir = tempDir("ivfplain")
    Ann.writeIvfIndex(corpus, ivfDir, Ann.IvfConfig(nCentroids = 8))
    val e2 = intercept[IllegalArgumentException] {
      Pq.ivfPqTopKIndexed(spark, ivfDir, q, k = 1)
    }
    assert(e2.getMessage.contains("ivfpq_meta"))
  }
}
