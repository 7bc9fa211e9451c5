package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import Recorder.Job
import Spans.Span

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** What one layer did: its time, its Spark work, and how that work was
  * spread. */
case class LayerStats(wallS: Double, selfS: Double, cpuS: Double, jobs: Int,
                      shuffleMb: Double, skew: Double, gapS: Double)

/** Per-layer tables of one traced run, from its spans and the jobs the
  * [[Recorder]] saw. */
final class Tracing(val spark: SparkSession, val rec: Recorder,
                    val spans: Spans, work: String) {
  import Tracing._

  /** Product layers, in pipeline order; `pipeline` is the entry point's
    * own orchestration (everything the other layers do not account for). */
  val Layers = Seq("fold", "candidates", "scoring", "cluster", "output",
    "stream", "dedup", "text", "pipeline")

  private def jobsIn(ids: Set[String]): Seq[Job] =
    rec.jobList.filter(j => ids.contains(j.span))

  def wallS(s: Span): Double = (s.end - s.start) / 1e3

  private def statsOf(jobs: Seq[Job], wallMs: Long, selfMs: Long,
                      gapMs: Long): LayerStats = {
    val stages = jobs.flatMap(_.stages).distinct.flatMap(rec.stage)
    val biggest = stages.filter(_.taskMs.nonEmpty)
      .sortBy(-_.taskMs.sum).headOption
    val skew = biggest.map { st =>
      val d = st.taskMs.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }.getOrElse(0.0)
    LayerStats(wallMs / 1e3, selfMs / 1e3, stages.map(_.cpuNs).sum / 1e9,
      jobs.size, stages.map(_.shuffleWrite).sum / 1048576.0, skew,
      gapMs / 1e3)
  }

  /** A span's layer: its wall, its self time (wall minus the time its
    * child spans of other layers cover; sub-stage spans such as
    * dedup/minhash stay part of their layer) and every job started under
    * it or its children; driver gap is the span time during which none
    * of those jobs ran. */
  def stats(s: Span): LayerStats = {
    val jobs = jobsIn(spans.subtree(s))
    val wall = s.end - s.start
    val kids = Stats.unionMs(spans.children(s)
      .filter(k => Layers.contains(k.name)).map(k => (k.start, k.end)))
    val busy = Stats.unionMs(jobs.map(j => (j.start, j.end)))
    statsOf(jobs, wall, wall - kids, wall - busy)
  }

  /** Per-layer table of staged spans (one span per named layer). */
  def fromSpans(names: Seq[String]): Map[String, LayerStats] =
    names.map(n => n -> stats(spans.named(n).head)).toMap

  /** Per-layer table of an opaque entry span: each job goes to the layer
    * of the product source file in its call site. A layer's wall is the
    * time any of its jobs ran; jobs of other files stay unattributed. */
  def fromAttribution(entry: Span): Map[String, LayerStats] =
    jobsIn(spans.subtree(entry)).groupBy(j => layerOf(j.site)).collect {
      case (Some(layer), jobs) =>
        val busy = Stats.unionMs(jobs.map(j => (j.start, j.end)))
        layer -> statsOf(jobs, busy, busy, 0L)
    }

  /** Time the jobs of `layer` ran within span `s`. */
  def layerBusyS(s: Span, layer: String): Double =
    Stats.unionMs(jobsIn(spans.subtree(s))
      .filter(j => layerOf(j.site).contains(layer))
      .map(j => (j.start, j.end))) / 1e3

  /** Generic metrics of every layer (0 where the workload does not run
    * it). `pipeline` is the traced entry span, with self time = entry
    * wall minus the self times of the other layers in `tab`. */
  def layerMetrics(tab: Map[String, LayerStats], rows: Map[String, Long])
      : Map[String, Double] = {
    val entry = stats(spans.named("entry").head)
    val unattributed = entry.wallS - tab.values.map(_.selfS).sum
    val all = tab + ("pipeline" -> entry.copy(selfS = unattributed))
    Layers.flatMap(l => generic(l, all.get(l), rows.getOrElse(l, 0L))).toMap ++ Map(
      "pipeline.unattributed_s" -> unattributed,
      "spark.cpu_util" -> entry.cpuS /
        (entry.wallS * spark.sparkContext.defaultParallelism),
      "spark.tasks_failed" -> rec.jobList.flatMap(_.stages).distinct
        .flatMap(rec.stage).map(_.failed).sum.toDouble)
  }

  /** The eight generic metrics of one layer (0 when it did not run). */
  def generic(l: String, s: Option[LayerStats], rows: Long)
      : Seq[(String, Double)] = {
    val z = s.getOrElse(LayerStats(0, 0, 0, 0, 0, 0, 0))
    Seq(s"$l.wall_s" -> z.wallS, s"$l.self_s" -> z.selfS,
      s"$l.task_cpu_s" -> z.cpuS, s"$l.jobs" -> z.jobs.toDouble,
      s"$l.shuffle_mb" -> z.shuffleMb, s"$l.skew" -> z.skew,
      s"$l.driver_gap_s" -> z.gapS, s"$l.rows_out" -> rows.toDouble)
  }

  /** Link-dense: keeps the staged records/pairs for the 1→4 core
    * scoring leg, which runs after this session ends; returns their dir. */
  def speedupInputs(records: DataFrame, pairs: DataFrame): String = {
    records.select("conv_id", "family_name", "phone_number", "addr")
      .write.parquet(s"$work/speedup/records")
    pairs.write.parquet(s"$work/speedup/pairs")
    speedupDir = Some(s"$work/speedup")
    s"$work/speedup"
  }
  var speedupDir: Option[String] = None
}

object Tracing {
  /** Product source file → layer. */
  private val FileLayer = Map(
    "Fold" -> "fold",
    "Blocking" -> "candidates", "Candidates" -> "candidates",
    "Scoring" -> "scoring", "Sim" -> "scoring", "Expressions" -> "scoring",
    "Cluster" -> "cluster",
    "Output" -> "output", "TableIO" -> "output", "LinkageMain" -> "output",
    "LinkageStream" -> "stream",
    "Dedup" -> "dedup",
    "TextAnalysis" -> "text", "Redact" -> "text")
  private val SiteFile = """([A-Za-z0-9_$]+)\.scala:\d+""".r

  def layerOf(site: String): Option[String] =
    SiteFile.findFirstMatchIn(site).flatMap(m => FileLayer.get(m.group(1)))
}
