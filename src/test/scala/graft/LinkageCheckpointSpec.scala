package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkException
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._
import graft.streaming.LinkageStream

/** The linkage stage checkpoints (records, candidate pairs, matches,
  * clusters; an incremental run's new records, all records and previous ∪
  * new matches too): every query after a stage starts from the
  * checkpoint, so the linkage paths' plans stay bounded, and a checkpoint
  * whose blocks are lost fails the run loudly. */
class LinkageCheckpointSpec extends AnyFunSuite with SparkFixture {

  private val synth = SynthTranscripts.Config(seed = 11L, nConvs = 300,
    dupFrac = 0.9, maxDupsPerSeed = 8, sharedFirstTurnFrac = 0.3)
  private lazy val transcripts =
    SynthTranscripts.transcripts(spark, synth).toDF.cache()
  // whole conversations on either side, garble families across both
  private val later = pmod(xxhash64(col("conv_id")), lit(3)) === 0

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Per SQL execution of `body`: the longest physical plan description
    * Spark rendered for it (at its start and at each AQE re-plan), and
    * the node count of its analyzed plan, subqueries included; plus the
    * number of "Truncated the string representation of a plan" warnings
    * logged meanwhile. */
  private case class Plans(rendered: Map[Long, Int], analyzed: Seq[Int],
                           truncations: Int)

  private def plansOf(body: => Unit): Plans = {
    val sc = spark.sparkContext
    val rendered = new ConcurrentHashMap[Long, Int]
    val analyzed = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          rendered.merge(s.executionId, s.physicalPlanDescription.length,
            (a, b) => math.max(a, b))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          rendered.merge(u.executionId, u.physicalPlanDescription.length,
            (a, b) => math.max(a, b))
        case _ =>
      }
    }
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        analyzed.add(qe.analyzed.collectWithSubqueries { case p => p }.size)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val truncations = new AtomicInteger
    val appender = TruncationLog.attach(truncations)
    Bus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try {
      body
      Bus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
      TruncationLog.detach(appender)
    }
    Plans(rendered.asScala.toMap, analyzed.asScala.toSeq, truncations.get)
  }

  private def checkBounded(what: String, p: Plans, maxRendered: Int,
                           maxAnalyzed: Int): Unit = {
    info(s"$what: ${p.rendered.size} executions, longest rendered plan " +
      s"${p.rendered.values.max} chars, largest analyzed plan " +
      s"${p.analyzed.max} nodes")
    assert(p.truncations == 0, s"$what: plan strings were truncated")
    val long = p.rendered.filter(_._2 > maxRendered)
    assert(long.isEmpty, s"$what: executions rendering > $maxRendered: $long")
    assert(p.analyzed.max <= maxAnalyzed,
      s"$what: analyzed plans ${p.analyzed.sorted.reverse.take(5)}")
  }

  test("the truncation-warning capture sees a plan truncation warning") {
    // the gate below counts these warnings: show that the capture works,
    // once the session has set up Spark's logging
    spark.sparkContext
    val n = new AtomicInteger
    val appender = TruncationLog.attach(n)
    try org.apache.logging.log4j.LogManager.getLogger(TruncationLog.Logger)
      .warn(s"${TruncationLog.Marker} since it was too long.")
    finally TruncationLog.detach(appender)
    assert(n.get == 1)
  }

  test("linkage plans stay bounded: full, --previous and a stream trigger") {
    val in = tempDir("plangate")
    transcripts.filter(!later).write.parquet(s"$in/t1")
    transcripts.filter(later).write.parquet(s"$in/t2")
    val before = persistentRdds
    // Measured in this spec's session (local[4], 300 link-dense seeds):
    // the longest rendered plans are 22.3k chars (full run), 22.0k
    // (--previous) and 18.3k (trigger); the largest analyzed plans 45, 34
    // and 34 nodes. The bounds leave about 2x headroom. Before the stage
    // checkpoints, every downstream query re-embedded the plans of the
    // persisted stages: the metric counts rendered past 100k chars
    // (truncated) and the CC input about 50k.
    val maxRendered = 40000
    val maxAnalyzed = 100
    val full = plansOf(LinkageMain.run(spark,
      Map("input" -> s"$in/t1", "output" -> s"$in/o1")))
    checkBounded("LinkageMain.run", full, maxRendered, maxAnalyzed)
    val previous = plansOf(LinkageMain.run(spark, Map("input" -> s"$in/t2",
      "output" -> s"$in/o2", "previous" -> s"$in/o1")))
    checkBounded("LinkageMain.run --previous", previous, maxRendered,
      maxAnalyzed)

    val store = s"$in/store"
    assert(LinkageStream.linkBatch(transcripts.filter(!later), 0L, store))
    val trigger = plansOf(assert(LinkageStream.linkBatch(
      transcripts.filter(later), 1L, store)))
    checkBounded("LinkageStream.linkBatch (incremental)", trigger,
      maxRendered, maxAnalyzed)
    assert(persistentRdds == before, "the linkage runs left checkpoints")
  }

  /** For each of the `cuts` checkpoints `pipeline` builds: run it with
    * that checkpoint's blocks removed right after its build, then read
    * every relation of its result. The run must fail with a
    * SparkException naming the lost block's RDD, and a run that fails
    * before returning leaves no persistent RDD behind; an undrilled run
    * builds exactly `cuts` checkpoints. */
  private def drill(cuts: Int)(
      pipeline: (DataFrame => Unit) => Pipeline.Result): Unit = {
    val built = new AtomicInteger
    pipeline(_ => built.incrementAndGet()).unpersist()
    assert(built.get == cuts)
    // after the undrilled run: any input cache it filled stays
    val keep = persistentRdds
    (0 until cuts).foreach { k =>
      val seen = new AtomicInteger
      val lost = new AtomicReference[Option[Int]](None)
      val e = intercept[SparkException] {
        val r = pipeline { cp =>
          if (seen.getAndIncrement() == k) {
            val rdd = DatasetBridge.backingRdd(cp).get.id
            lost.set(Some(rdd))
            Bus.dropRddBlocks(rdd)
          }
        }
        try Seq(r.records, r.candidatePairs, r.matchedPairs,
            r.labeledRecords, r.clusters, r.metrics, r.deltaRecords,
            r.deltaMatches).foreach(_.collect())
        finally r.unpersist()
      }
      val rdd = lost.get.getOrElse(fail(s"cut $k was never built"))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(chain.exists(_.contains(s"rdd_${rdd}_")),
        s"cut $k: the failure does not name RDD $rdd:\n${chain.mkString("\n")}")
      assert(persistentRdds == keep,
        s"cut $k: the failed run left RDDs ${persistentRdds -- keep}")
    }
  }

  test("lost-block drill: every Pipeline.run checkpoint fails loudly") {
    // records, candidate pairs, matches, clusters
    drill(4)(Pipeline.run(spark, transcripts, Pipeline.Config(), _))
  }

  test("lost-block drill: every Pipeline.incremental checkpoint fails loudly") {
    val base = Pipeline.run(spark, transcripts.filter(!later))
    // new records, all records, candidate pairs, matches, previous ∪ new
    // matches, clusters
    drill(6)(Pipeline.incremental(spark, base.records, base.matchedPairs,
      transcripts.filter(later), Pipeline.Config(), _))
    base.unpersist()
  }

  /** Two append-only slices of English-like documents (planted exact
    * copies, one-word near copies, email addresses) and a benchmark set
    * cut from a slice-1 doc, as parquet under `dir`: in1, in2, bench. */
  private def cleanInputs(dir: String): Unit = {
    import spark.implicits._
    val words = Array("the", "and", "of", "to", "in", "is", "that", "for",
      "river", "house", "garden", "morning", "people", "story", "market",
      "winter", "letter", "window", "table", "friend", "music", "city")
    val rnd = new scala.util.Random(5)
    val base = (0 until 120).map(i => (i.toLong,
      Array.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")))
    val near = base.take(30).map { case (i, t) =>
      (1000L + i, t.split(" ").updated(9, "changed").mkString(" ")) }
    val copies = base.slice(30, 40).map { case (i, t) => (2000L + i, t) }
    val mail = base.slice(40, 50).map { case (i, t) =>
      (3000L + i, s"$t write to person$i@example.org") }
    val docs = (base ++ near ++ copies ++ mail).toDF("doc_id", "text")
    docs.filter(col("doc_id") < 1500L).write.parquet(s"$dir/in1")
    docs.filter(col("doc_id") >= 1500L).write.parquet(s"$dir/in2")
    Seq((1L, base(3)._2.split(" ").slice(4, 20).mkString(" ")))
      .toDF("bench_id", "text").write.parquet(s"$dir/bench")
  }

  private def allOptions(dir: String): Map[String, String] = Map(
    "benchmarks" -> s"$dir/bench", "max-dup-ngram-frac" -> "0.3",
    "redact" -> "true")

  test("clean-corpus plans stay bounded: every option, full and --previous") {
    val dir = tempDir("cleangate")
    cleanInputs(dir)
    val before = persistentRdds
    // Measured in this spec's session (local[4], 170 docs): the longest
    // rendered plans are 23.2k chars (full run) and 22.0k (--previous);
    // the largest analyzed plans 32 and 38 nodes. The linkage bounds leave
    // about 1.7x and 2.6x headroom. With persisted stages the full
    // all-options run took 11 executions and failed this gate: 7
    // truncation warnings and plans at the 100k cap (90 analyzed nodes).
    val maxRendered = 40000
    val maxAnalyzed = 100
    val full = plansOf(graft.data.CleanCorpusMain.run(spark, allOptions(dir) ++
      Map("input" -> s"$dir/in1", "output" -> s"$dir/o1")))
    checkBounded("CleanCorpusMain.run", full, maxRendered, maxAnalyzed)
    val previous = plansOf(graft.data.CleanCorpusMain.run(spark,
      allOptions(dir) ++ Map("input" -> s"$dir/in2", "output" -> s"$dir/o2",
        "previous" -> s"$dir/o1", "previous-input" -> s"$dir/in1")))
    checkBounded("CleanCorpusMain.run --previous", previous, maxRendered,
      maxAnalyzed)
    assert(persistentRdds == before, "the clean runs left checkpoints")
  }

  /** For each of the `cuts` cuts `CleanCorpusMain.run` builds with `opts`:
    * run it with that cut's blocks removed right after its build. The run
    * must fail with a SparkException naming the lost block's RDD, write no
    * stats.json, and leave no persistent RDD behind; an undrilled run
    * builds exactly `cuts` cuts. */
  private def cleanDrill(cuts: Int, dir: String,
                         opts: Map[String, String]): Unit = {
    val built = new AtomicInteger
    graft.data.CleanCorpusMain.run(spark,
      opts + ("output" -> s"$dir/undrilled"), _ => built.incrementAndGet())
    assert(built.get == cuts)
    val keep = persistentRdds
    (0 until cuts).foreach { k =>
      val out = s"$dir/drill$k"
      val seen = new AtomicInteger
      val lost = new AtomicReference[Option[Int]](None)
      val e = intercept[SparkException] {
        graft.data.CleanCorpusMain.run(spark, opts + ("output" -> out), cp =>
          if (seen.getAndIncrement() == k) {
            val rdd = DatasetBridge.backingRdd(cp).get.id
            lost.set(Some(rdd))
            Bus.dropRddBlocks(rdd)
          })
      }
      val rdd = lost.get.getOrElse(fail(s"cut $k was never built"))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(chain.exists(_.contains(s"rdd_${rdd}_")),
        s"cut $k: the failure does not name RDD $rdd:\n${chain.mkString("\n")}")
      assert(!new java.io.File(s"$out/stats.json").exists(),
        s"cut $k: a failed run wrote stats.json")
      assert(persistentRdds == keep,
        s"cut $k: the failed run left RDDs ${persistentRdds -- keep}")
    }
  }

  test("lost-block drill: every CleanCorpusMain.run cut fails loudly") {
    val dir = tempDir("cleandrill")
    cleanInputs(dir)
    // exact stage, MinHash kernel relation
    cleanDrill(2, s"$dir/full", Map("input" -> s"$dir/in1"))
    // the near-dup survivors decontamination reads are the third cut
    cleanDrill(3, s"$dir/all", allOptions(dir) + ("input" -> s"$dir/in1"))
    graft.data.CleanCorpusMain.run(spark,
      Map("input" -> s"$dir/in1", "output" -> s"$dir/o1"))
    // the daily append: the kernel relation covers previous ∪ new
    cleanDrill(2, s"$dir/inc", Map("input" -> s"$dir/in2",
      "previous" -> s"$dir/o1", "previous-input" -> s"$dir/in1"))
  }
}

/** A log4j appender counting Spark's plan-string truncation warnings. */
private object TruncationLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  val Logger = "org.apache.spark.sql.catalyst.util.StringUtils$PlanStringConcat"
  val Marker = "Truncated the string representation of a plan"

  private def context =
    LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(hits: AtomicInteger): AbstractAppender = {
    val a = new AbstractAppender("graft-plan-truncations", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (String.valueOf(e.getMessage.getFormattedMessage)
            .contains(Marker)) hits.incrementAndGet()
    }
    a.start()
    context.getConfiguration.getRootLogger.addAppender(a, Level.WARN, null)
    context.updateLoggers()
    a
  }

  def detach(a: AbstractAppender): Unit = {
    context.getConfiguration.getRootLogger.removeAppender(a.getName)
    context.updateLoggers()
    a.stop()
  }
}
