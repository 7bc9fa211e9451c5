package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Everything the benchmark learns from Spark itself, gathered by one
  * SparkListener it attaches to the session. Product code is untouched:
  * jobs are tied to the benchmark's spans through a local property the
  * benchmark sets around each call ([[Spans.span]]), and to product
  * modules through the source file named in the call site of the query
  * (or job) that ran them.
  *
  * Block accounting (cache_peak_mb) runs in every run; the job, stage
  * and task records are only kept while `recordJobs` is on (traced runs).
  */
final class Recorder extends SparkListener {
  import Recorder._

  @volatile var recordJobs = false
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val execSites = mutable.HashMap.empty[Long, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var before = Set.empty[String] // blocks of earlier windows
  private var blockBytes = 0L
  private var blockPeak = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if recordJobs => synchronized {
      execSites(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recordJobs) synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a query's jobs (broadcasts and AQE stages included) share the
      // call site of the action that started the query; plain RDD jobs
      // carry their own in the final stage's name
      val site = prop("spark.sql.execution.id")
        .flatMap(id => execSites.get(id.toLong))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, -1L,
        prop(Spans.Property).getOrElse(""), site, e.stageIds)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (recordJobs) synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recordJobs && e.taskInfo != null) synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
      if (!e.taskInfo.successful) s.failed += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize
                 else 0L
      if (!before.contains(key)) {
        blockBytes += size - blocks.getOrElse(key, 0L)
        blockPeak = math.max(blockPeak, blockBytes)
      }
      if (size == 0L) blocks.remove(key) else blocks(key) = size
    }
  }

  /** Start a new cache-peak window: blocks cached before it (an earlier
    * execution's, still being released) do not count in it. */
  def resetBlockPeak(): Unit = synchronized {
    before = blocks.keySet.toSet; blockBytes = 0L; blockPeak = 0L
  }
  def blockPeakBytes: Long = synchronized(blockPeak)

  def jobList: Seq[Job] = synchronized(jobs.values.toList)
  def stage(id: Int): Option[Stage] = synchronized(stages.get(id))
}

object Recorder {
  /** A job, the span it ran under, and its query's call site. */
  case class Job(id: Int, start: Long, var end: Long, span: String,
                 site: String, stages: Seq[Int])
  /** Task totals of one stage. */
  final class Stage(val id: Int) {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs = 0L
    var shuffleWrite = 0L
    var failed = 0
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
}

/** In-memory spans: name, start, end, parent, one run id. Every Spark job
  * started while a span is innermost carries the span's id in the
  * `perfbench.span` local property. */
final class Spans(spark: SparkSession, val runId: String) {
  import Spans.Span
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var next = 0

  def span[A](name: String)(f: => A): A = {
    next += 1
    val s = Span(s"$runId.$next", name, stack.headOption.map(_.id)
      .getOrElse(""), System.currentTimeMillis(), -1L)
    all += s
    stack = s :: stack
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Spans.Property)
    sc.setLocalProperty(Spans.Property, s.id)
    try f
    finally {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Spans.Property, outer)
    }
  }

  def list: Seq[Span] = all.toList
  def named(name: String): Seq[Span] = all.filter(_.name == name).toList
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toList
  def subtree(s: Span): Set[String] =
    children(s).flatMap(subtree).toSet + s.id

  /** One JSON line per span, written when the run ends. */
  def toJsonLines: Seq[String] = list.map(s =>
    s"""{"run":"$runId","id":"${s.id}","name":"${s.name}",""" +
      s""""parent":"${s.parent}","start_ms":${s.start},"end_ms":${s.end}}""")
}

object Spans {
  val Property = "perfbench.span"
  case class Span(id: String, name: String, parent: String, start: Long,
                  var end: Long)
}
