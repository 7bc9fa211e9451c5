package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.SparkException
import org.apache.spark.graftbridge.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Dedup
import graft.linkage.{Cluster, Stages, TableIO}

/** Connected components and near-dup clusters built through [[Stages]]:
  * each path runs a pinned number of SQL executions (each star round
  * exactly one, its signature observed on its build), and every cut they
  * build fails loudly when its blocks are lost, leaving nothing behind. */
class ClusterCutsSpec extends AnyFunSuite with SparkFixture {

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def edges(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("a", "b")
  }

  private val small = Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 5L), (5L, 6L))
  private def chain(n: Long): Seq[(Long, Long)] = (0L until n - 1).map(i =>
    (i, i + 1))

  /** Connected components over cuts of a fresh [[Stages]] with `drill`. */
  private def cc(e: DataFrame, opts: Cluster.Options = Cluster.Options(),
                 bound: Option[Long] = None,
                 ceiling: Long = Cluster.LocalFinishEdges)
                (drill: DataFrame => Unit): DataFrame = {
    val stages = new Stages(drill)
    stages.releasingOnFailure(
      Cluster.connectedComponents(spark, e, opts, bound, stages, ceiling))
  }

  private lazy val docs = {
    import spark.implicits._
    val words = Array("the", "and", "of", "river", "house", "garden",
      "morning", "people", "story", "market", "winter", "letter", "window")
    val rnd = new scala.util.Random(8)
    val base = (0 until 40).map(i => (i.toLong,
      Array.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")))
    val near = base.take(10).map { case (i, t) =>
      (1000L + i, t.split(" ").updated(9, "changed").mkString(" ")) }
    (base ++ near :+ (2000L -> base.head._2)).toDF("doc_id", "text")
  }

  private def nearDups(drill: DataFrame => Unit): DataFrame =
    Dedup.nearDupClusters(docs, Dedup.MinHashConfig(bands = 32,
      jaccardThreshold = 0.6), "doc_id", "text", Cluster.Options(), drill)

  test("each CC path and nearDupClusters run their pinned SQL executions") {
    def executions(what: String, want: Int)(run: => DataFrame): DataFrame = {
      val (labels, started) = sqlExecutions(run)
      info(s"$what: ${started.size} SQL executions")
      assert(started.size == want, s"$what: ${started.mkString("; ")}")
      labels
    }
    def checked(labels: DataFrame, want: Map[Long, Long]): Unit = {
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      DatasetBridge.releaseCheckpoint(labels)
      assert(got == want)
    }
    val smallLabels = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 4L -> 4L, 5L -> 4L, 6L -> 4L)
    // bounded below the ceiling: the labels' reader runs the finish
    checked(executions("bounded", 0)(
      Cluster.connectedComponents(spark, edges(small), Cluster.Options(),
        Some(small.size.toLong))), smallLabels)
    // unbounded below the ceiling: round 0 and the labels, both cuts
    checked(executions("unbounded", 2)(
      Cluster.connectedComponents(spark, edges(small))), smallLabels)

    // pure star rounds on a 300-node chain: round 0, one execution per
    // star round, the labels. The chain takes 10 rounds, the last one
    // confirming the fixpoint.
    val chainLabels = (0L until 300L).map(_ -> 0L).toMap
    val cuts = new AtomicInteger
    checked(executions("300-chain, ceiling 0", 12)(
      cc(edges(chain(300)), ceiling = 0L)(_ => cuts.incrementAndGet())),
      chainLabels)
    assert(cuts.get == 12, "every execution is a cut's build")
    // with a checkpoint dir: round 0 and each round written as parquet
    // (the signature observed on the write), then the labels cut
    val dir = tempDir("cc-executions")
    checked(executions("300-chain, ceiling 0, checkpoint dir", 12)(
      cc(edges(chain(300)), Cluster.Options(Some(dir)), ceiling = 0L)(
        _ => ())), chainLabels)
    val state = TableIO.readJson(spark, s"$dir/_cc_state.json").get
    assert(state.get("last_completed_iter").asInt == 10)

    val clusters = executions("nearDupClusters", 3)(nearDups(_ => ()))
    val groups = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    DatasetBridge.releaseCheckpoint(clusters)
    assert(groups.size == 51 && groups(2000L) == 0L && groups(1003L) == 3L)
  }

  /** For each of the `cuts` cuts `build` makes: build with that cut's
    * blocks removed right after its build, then read the result. The
    * read (or the build) must fail with a SparkException naming the lost
    * block's RDD and leave no persistent RDD behind; an undrilled build
    * makes exactly `cuts` cuts. */
  private def drill(what: String, cuts: Int)(
      build: (DataFrame => Unit) => DataFrame): Unit = {
    val built = new AtomicInteger
    val undrilled = build(_ => built.incrementAndGet())
    undrilled.collect()
    DatasetBridge.releaseCheckpoint(undrilled)
    assert(built.get == cuts, s"$what: cuts built")
    val keep = persistentRdds
    (0 until cuts).foreach { k =>
      val seen = new AtomicInteger
      val lost = new AtomicReference[Option[Int]](None)
      val e = intercept[SparkException] {
        val r = build { cp =>
          if (seen.getAndIncrement() == k) {
            val rdd = DatasetBridge.backingRdd(cp).get.id
            lost.set(Some(rdd))
            Bus.dropRddBlocks(rdd)
          }
        }
        try r.collect() finally DatasetBridge.releaseCheckpoint(r)
      }
      val rdd = lost.get.getOrElse(fail(s"$what: cut $k was never built"))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(chain.exists(_.contains(s"rdd_${rdd}_")),
        s"$what, cut $k: the failure does not name RDD $rdd:\n" +
          chain.mkString("\n"))
      assert(persistentRdds == keep,
        s"$what, cut $k: left RDDs ${persistentRdds -- keep}")
    }
  }

  test("lost-block drill: CC's round and labels cuts fail loudly") {
    // round 0, four star rounds, the labels
    drill("ceiling 0", 6)(cc(edges(chain(8)), ceiling = 0L))
    // round 0, the labels
    drill("default ceiling", 2)(cc(edges(small)))
    // the rounds are parquet: only the labels are a cut
    drill("bounded, checkpoint dir", 1)(cc(edges(small),
      Cluster.Options(Some(tempDir("cc-drill"))), Some(small.size.toLong)))
  }

  test("lost-block drill: nearDupClusters' cuts fail loudly") {
    // the kernel relation, the verified pairs, the result
    drill("nearDupClusters", 3)(nearDups)
  }
}
