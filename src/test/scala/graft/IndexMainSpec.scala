package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{Ann, IndexMain, Pq}

/** IndexMain CLI: the spark-submit lifecycle over the persisted ANN
  * indexes — build → query → append → compact → drift for the flat IVF
  * index, and build → query → append → compact for IVF-PQ. Each mode is
  * checked against the library call it fronts. */
class IndexMainSpec extends AnyFunSuite with SparkFixture {

  private lazy val base = tempDir("idxcli")

  private lazy val corpusReady: Unit = {
    import spark.implicits._
    val corpus = (0L until 400L).map { i =>
      val lobe = (i % 4).toInt
      val v = Array.tabulate(64) { d =>
        val base = if (d / 16 == lobe) 1.0f else 0.0f
        base + 0.01f * (((i * 31 + d * 7) % 13) - 6)
      }
      (i, v)
    }.toDF("vec_id", "embedding")
    corpus.write.parquet(s"$base/emb")
    corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .write.parquet(s"$base/queries")
  }

  test("flat IVF lifecycle: build, query ≡ library, append, compact, drift") {
    corpusReady
    val idx = s"$base/ivf"
    val built = IndexMain.run(spark, Map(
      "mode" -> "build", "input" -> s"$base/emb", "index" -> idx,
      "ncentroids" -> "8", "nprobe" -> "2"))
    assert(built.contains("IVF index built") && built.contains("400 vectors"))

    val out = s"$base/ivf-out"
    IndexMain.run(spark, Map(
      "mode" -> "query", "index" -> idx, "queries" -> s"$base/queries",
      "output" -> out, "k" -> "5", "nprobe" -> "2"))
    val cli = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val lib = Ann.ivfTopKIndexed(spark, idx,
        spark.read.parquet(s"$base/queries"), k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(cli == lib && cli.nonEmpty, s"CLI diverged: ${cli diff lib}")

    import spark.implicits._
    Seq((9999L, Array.tabulate(64)(d => if (d / 16 == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$base/novel")
    assert(IndexMain.run(spark, Map(
      "mode" -> "append", "index" -> idx, "input" -> s"$base/novel"))
      .contains("appended 1 vectors"))

    assert(IndexMain.run(spark, Map(
      "mode" -> "compact", "index" -> idx, "max-files" -> "1"))
      .startsWith("[graft] compacted"))
    // compaction must not lose the appended vector
    spark.read.parquet(s"$base/novel")
      .select(col("vec_id").as("query_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$base/novelq")
    val top1 = Ann.ivfTopKIndexed(spark, idx,
      spark.read.parquet(s"$base/novelq"), k = 1, nProbe = 2).collect()
    assert(top1.length == 1 && top1.head.getLong(1) == 9999L)

    val drift = IndexMain.run(spark, Map("mode" -> "drift", "index" -> idx))
    assert(drift.contains("assignment drift"))
    assertThrows[IllegalArgumentException] {
      IndexMain.run(spark,
        Map("mode" -> "drift", "index" -> idx, "pq" -> "true"))
    }
  }

  test("IVF-PQ lifecycle: build, query ≡ library, append, compact") {
    corpusReady
    val idx = s"$base/ivfpq"
    val built = IndexMain.run(spark, Map(
      "mode" -> "build", "input" -> s"$base/emb", "index" -> idx,
      "pq" -> "true", "ncentroids" -> "8", "nprobe" -> "2",
      "subspaces" -> "8", "codebook-size" -> "16"))
    assert(built.contains("IVF-PQ index built"))

    val out = s"$base/pq-out"
    IndexMain.run(spark, Map(
      "mode" -> "query", "index" -> idx, "queries" -> s"$base/queries",
      "output" -> out, "pq" -> "true", "k" -> "5", "nprobe" -> "2",
      "refine" -> "25"))
    val cli = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val lib = Pq.ivfPqTopKIndexed(spark, idx,
        spark.read.parquet(s"$base/queries"), k = 5, nProbe = 2, refine = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(cli == lib && cli.nonEmpty, s"CLI diverged: ${cli diff lib}")

    import spark.implicits._
    Seq((9998L, Array.tabulate(64)(d => if (d / 16 == 1) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$base/novelpq")
    assert(IndexMain.run(spark, Map(
      "mode" -> "append", "index" -> idx, "input" -> s"$base/novelpq",
      "pq" -> "true")).contains("appended 1 vectors"))
    assert(IndexMain.run(spark, Map(
      "mode" -> "compact", "index" -> idx, "pq" -> "true",
      "max-files" -> "1")).startsWith("[graft] compacted"))
    spark.read.parquet(s"$base/novelpq")
      .select(col("vec_id").as("query_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$base/novelpqq")
    val top1 = Pq.ivfPqTopKIndexed(spark, idx,
      spark.read.parquet(s"$base/novelpqq"), k = 1, nProbe = 2, refine = 5)
      .collect()
    assert(top1.length == 1 && top1.head.getLong(1) == 9998L)

    assertThrows[IllegalArgumentException] {
      IndexMain.run(spark, Map("mode" -> "nope", "index" -> idx))
    }
  }
}
