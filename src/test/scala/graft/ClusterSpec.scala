package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.{Cluster, Stages, TableIO}

/** Connected components: known graphs, singleton semantics
  * (households.py:247–249), GraphX cross-check, checkpoint resume. Every
  * labelling runs three ways — pure star rounds (finish ceiling 0), the
  * default local finish, and the lazy finish under a bound on the edge
  * rows — and all must return the same labels. */
class ClusterSpec extends AnyFunSuite with SparkFixture {

  private def collected(labels: DataFrame): Map[Any, Any] = {
    val m = labels.collect().map(r => r.get(0) -> r.get(1)).toMap
    DatasetBridge.releaseCheckpoint(labels)
    m
  }

  /** Labels of `edges` at each finish ceiling, and bounded by their row
    * count (the lazy path, which persists nothing), asserted equal; the
    * first is returned. */
  private def ccAt(edges: DataFrame,
                   ceilings: Seq[Long] = Seq(0L, Cluster.LocalFinishEdges))
      : Map[Any, Any] = {
    val bound = edges.count()
    val runs = ceilings.map { c =>
      s"ceiling $c" -> collected(Cluster.connectedComponents(spark, edges,
        Cluster.Options(), None, new Stages(), c))
    } :+ {
      val lazyLabels = Cluster.connectedComponents(spark, edges,
        Cluster.Options(), Some(bound))
      assert(lazyLabels.storageLevel == StorageLevel.NONE)
      s"bound $bound" -> collected(lazyLabels)
    }
    runs.tail.foreach { case (how, m) =>
      assert(m == runs.head._2,
        s"$how: ${(m.toSet diff runs.head._2.toSet).take(5)} differ " +
          s"from pure star rounds")
    }
    runs.head._2
  }

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ccAt(edges.toDF("a", "b")).map { case (k, v) =>
      k.asInstanceOf[Long] -> v.asInstanceOf[Long] }
  }

  test("two components + chain") {
    // chain 1-2-3-4, pair 10-11
    val labels = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(labels(2L) == 1L && labels(3L) == 1L && labels(4L) == 1L)
    assert(labels(11L) == 10L)
    assert(!labels.contains(1L) || labels(1L) == 1L)
  }

  test("star graph with high-degree hub") {
    val labels = cc((2L to 200L).map(i => (100L, i)) :+ (1L, 100L))
    assert((2L to 200L).forall(i => labels.getOrElse(i, i) == 1L))
  }

  test("duplicate and reversed edges collapse") {
    val labels = cc(Seq((5L, 6L), (6L, 5L), (5L, 6L), (6L, 7L)))
    assert(labels(6L) == 5L && labels(7L) == 5L)
  }

  test("matches GraphX ConnectedComponents on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (0 until 500).map(_ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val ours = cc(edges)
    val gx = org.apache.spark.graphx.Graph
      .fromEdgeTuples(spark.sparkContext.parallelize(edges), 0)
    val gxLabels = org.apache.spark.graphx.lib.ConnectedComponents
      .run(gx).vertices.collect().toMap
    // same partition: nodes grouped identically (labels may differ)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    def groupOf(m: Map[Long, Long], n: Long) = m.getOrElse(n, n)
    val oursGroups = nodes.groupBy(groupOf(ours, _)).values
      .map(_.toSet).toSet
    val gxGroups = nodes.groupBy(n => gxLabels(n)).values
      .map(_.toSet).toSet
    assert(oursGroups == gxGroups)
  }

  test("string node ids cluster identically (the >10⁹-records id domain)") {
    import spark.implicits._
    // same topology as "two components + chain", over conv_id strings —
    // every per-round op (greatest/least/min/join/distinct) is
    // type-generic, so no hashing to 64-bit is required
    val edges = Seq(("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("x10", "x11"))
      .toDF("a", "b")
    val labels = ccAt(edges)
    assert(Seq("c2", "c3", "c4").forall(labels(_) == "c1"))
    assert(labels("x11") == "x10")
    // and over real matched pairs: conv_id-string nodes give the same
    // record clusters as the xxhash64 node ids Pipeline uses
    val t = linkage.SynthTranscripts.transcripts(spark,
      linkage.SynthTranscripts.Config(seed = 11L, nConvs = 150, days = 5)).toDF
    val run = linkage.Pipeline.run(spark, t)
    def clusters(node: Column => Column): Set[Set[String]] = {
      val edges = run.matchedPairs
        .select(node(col("id_a")).as("a"), node(col("id_b")).as("b"))
      ccAt(edges)
      val labels = Cluster.connectedComponents(spark, edges)
      val members = Cluster.labelRecords(
          run.records.select(col("conv_id"), node(col("conv_id")).as("node_id")),
          labels)
        .groupBy("cluster_id").agg(collect_set(col("conv_id")))
        .collect().map(_.getSeq[String](1).toSet).toSet
      DatasetBridge.releaseCheckpoint(labels)
      members
    }
    val hashed = clusters(xxhash64(_))
    assert(hashed.exists(_.size > 1), "no multi-record cluster to compare")
    assert(clusters(identity) == hashed)
    run.unpersist()
  }

  test("resume from checkpoint reproduces identical labels") {
    import spark.implicits._
    val dir = tempDir("cc-ckpt")
    val edges = (1L to 50L).map(i => (i, i + 1L)) ++ Seq((200L, 201L))
    val df = edges.toDF("a", "b")
    val full = Cluster.connectedComponents(spark, df,
      Cluster.Options(checkpointDir = Some(dir)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // second run finds the state from the completed run and resumes
    // from the final round — labels must be identical. The state is left
    // in its commit window (only the complete tmp, as after a crash
    // between delete and rename): the run must still resume, reading
    // round 0's files rather than rewriting them
    val fs = TableIO.fileSystem(spark, dir)
    val statePath = new org.apache.hadoop.fs.Path(s"$dir/_cc_state.json")
    def round0(): Set[String] = new java.io.File(s"$dir/iter_0").list().toSet
    val round0Files = round0()
    fs.rename(statePath, statePath.suffix(".tmp"))
    val resumed = Cluster.connectedComponents(spark, df,
      Cluster.Options(checkpointDir = Some(dir)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == resumed)
    assert(round0() == round0Files, "the run re-initialised instead of resuming")
    // a truncated tmp beside the intact state is ignored
    fs.rename(statePath.suffix(".tmp"), statePath)
    val partial = fs.create(statePath.suffix(".tmp"), true)
    partial.write("""{"last_completed_it""".getBytes("UTF-8")); partial.close()
    // and a partial-state resume: rewind the state to iter 0 (keeping the
    // input fingerprint intact), keep round files → resume mid-computation
    val state = new java.io.File(s"$dir/_cc_state.json")
    // drop hadoop LocalFileSystem's checksum sidecar before tampering
    new java.io.File(s"$dir/._cc_state.json.crc").delete()
    val stateTxt = java.nio.file.Files.readString(state.toPath)
    java.nio.file.Files.writeString(state.toPath,
      stateTxt.replaceAll(""""last_completed_iter":\s*\d+""",
        "\"last_completed_iter\": 0"))
    val midResumed = Cluster.connectedComponents(spark, df,
      Cluster.Options(checkpointDir = Some(dir)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == midResumed)
  }

  test("resume against a checkpoint from DIFFERENT edges re-inits fresh") {
    import spark.implicits._
    val dir = tempDir("cc-stale")
    val first = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    Cluster.connectedComponents(spark, first,
      Cluster.Options(checkpointDir = Some(dir))).count()
    // same checkpoint dir, different input: the stored fingerprint must
    // not match, so the run re-inits instead of emitting stale clusters
    val second = Seq((10L, 11L), (12L, 13L)).toDF("a", "b")
    val labels = Cluster.connectedComponents(spark, second,
      Cluster.Options(checkpointDir = Some(dir)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(11L -> 10L, 10L -> 10L, 13L -> 12L, 12L -> 12L))
  }

  // The local finish against pure star rounds (ccAt) on seeded graphs:
  // many small components, a long chain, a huge hub, string ids, and a
  // graph that crosses a small ceiling only after star rounds ran.

  test("local finish = star rounds: random graphs over 5 seeds") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 400 * seed
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(ccAt(edges.toDF("a", "b")).nonEmpty)
    }
  }

  test("local finish = star rounds: chain of length 1000") {
    import spark.implicits._
    // node ids shuffled along the path, so the minimum sits mid-chain
    val ids = new scala.util.Random(3).shuffle((0L until 1001L).toVector)
    val labels = ccAt(ids.zip(ids.tail).toDF("a", "b"))
    assert(labels.size == 1001 && labels.values.toSet == Set(0L))
  }

  test("local finish = star rounds: star with 10⁵ leaves") {
    import spark.implicits._
    val hub = 50000L // mid-range hub: half the leaves are smaller
    val labels = ccAt((0L to 100000L).filter(_ != hub).map(l => (hub, l))
      .toDF("a", "b"))
    assert(labels.size == 100001 && labels.values.toSet == Set(0L))
  }

  test("local finish = star rounds: string ids") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(600)((f"n${rnd.nextInt(800)}%03d",
        f"n${rnd.nextInt(800)}%03d"))
      .filter { case (a, b) => a != b }
    assert(ccAt(edges.toDF("a", "b")).nonEmpty)
  }

  test("local finish = star rounds: ceiling crossed after star rounds") {
    import spark.implicits._
    // 3000 random edges over 300 nodes: above the 500-edge ceiling at the
    // start, while the fixpoint has at most nodes − 1 = 299 edges, so at
    // least one star round runs before the finish takes over
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(3000)((rnd.nextInt(300).toLong,
        rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }.distinct
    val ceiling = 500L
    val labels = ccAt(edges.toDF("a", "b"),
      Seq(0L, ceiling, Cluster.LocalFinishEdges))
    assert(edges.size > ceiling && labels.size - 1 <= ceiling)
  }

  // The bounded call: the lazy finish only at or below the ceiling and
  // without a checkpoint dir; the rounds (a checkpointed result) otherwise.

  test("bounded finish: duplicate rows and self-loops, no distinct") {
    import spark.implicits._
    // 8 is only ever in a self-loop, so it is no node of the edge set
    val labels = ccAt(Seq((5L, 6L), (6L, 5L), (5L, 6L), (6L, 7L), (7L, 7L),
      (8L, 8L), (7L, 6L), (2L, 9L), (9L, 2L), (9L, 9L)).toDF("a", "b"))
    assert(labels == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 2L -> 2L, 9L -> 2L))
  }

  test("bounded finish: an empty edge set under bound 0") {
    import spark.implicits._
    assert(ccAt(Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("a bound above the ceiling takes the rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(3000)((rnd.nextInt(300).toLong,
        rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val want = ccAt(edges)
    val n = edges.count()
    Seq(Cluster.connectedComponents(spark, edges, Cluster.Options(),
          Some(n), new Stages(), 500L),
        Cluster.connectedComponents(spark, edges, Cluster.Options(),
          Some(Cluster.LocalFinishEdges + 1))).foreach { labels =>
      assert(DatasetBridge.backingRdd(labels).isDefined,
        "the rounds' labels come back as a checkpoint")
      assert(collected(labels) == want)
    }
  }

  test("a bound with a checkpoint dir still writes round 0") {
    import spark.implicits._
    val dir = tempDir("cc-bounded")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = Cluster.connectedComponents(spark, edges,
      Cluster.Options(checkpointDir = Some(dir)), Some(3L))
    assert(collected(labels) == ccAt(edges))
    assert(new java.io.File(s"$dir/iter_0").isDirectory)
    assert(new java.io.File(s"$dir/_cc_state.json").isFile)
  }
}
