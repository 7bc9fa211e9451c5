package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, one Spark session on
  * local[<cores>].
  *
  *   Main --workload <link-dense|clean-corpus> --seed <n>
  *        --seconds <s> --trace <0|1> --root <checkout dir>
  *
  * Prints a table of every metric it measured, then, as its last stdout
  * line, the result object: end-to-end metrics with --trace 0, per-layer
  * metrics with --trace 1. Exits 1 when an output check failed.
  */
object Main {

  /** End-to-end metrics every workload reports (the result line). */
  val EndToEnd = Seq("setup_s" -> "s", "warmup_s" -> "s", "wall_s" -> "s",
    "cache_peak_mb" -> "MB")

  /** Per-layer metrics every traced run reports, with units; a layer a
    * workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = {
    val generic = Seq("wall_s" -> "s", "self_s" -> "s", "task_cpu_s" -> "s",
      "jobs" -> "count", "shuffle_mb" -> "MB", "skew" -> "ratio",
      "driver_gap_s" -> "s", "rows_out" -> "rows")
    val layers = Seq("fold", "candidates", "scoring", "cluster", "output",
      "stream", "dedup", "text", "pipeline")
    layers.flatMap(l => generic.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "fold.plan_nodes" -> "count",
      "candidates.pairs_out" -> "pairs",
      "candidates.max_block_rows" -> "rows",
      "candidates.match_yield" -> "ratio",
      "scoring.cpu_us_per_pair" -> "us",
      "scoring.pairs_per_s" -> "pairs/s",
      "scoring.prefilter_pass_frac" -> "ratio",
      "scoring.plan_nodes" -> "count",
      "scoring.speedup_1to4" -> "ratio",
      "sim.jw_ns_per_pair" -> "ns",
      "cluster.edges_in" -> "edges",
      "cluster.components_nontrivial" -> "count",
      "pipeline.unattributed_s" -> "s",
      "output.bytes_written" -> "bytes",
      "output.files_written" -> "count",
      "output.clusters" -> "count",
      "output.pairwise_f1" -> "ratio") ++
      (0 until StreamLeg.Batches).flatMap(i => Seq(s"stream.trigger_s.$i" -> "s",
        s"stream.cc_s.$i" -> "s", s"stream.cc_edges_in.$i" -> "edges")) ++
      Seq(
      "stream.log_rows_appended" -> "rows",
      "stream.trigger_p50_s" -> "s",
      "stream.trigger_last_s" -> "s",
      "dedup.exact_s" -> "s",
      "dedup.minhash_s" -> "s",
      "dedup.lsh_candidates" -> "pairs",
      "dedup.verify_yield" -> "ratio",
      "text.quality_s" -> "s",
      "text.lang_s" -> "s",
      "spark.gc_s" -> "s",
      "spark.cpu_util" -> "ratio",
      "spark.peak_rss_mb" -> "MB",
      "spark.tasks_failed" -> "count",
      "trace.overhead_frac" -> "ratio")
  }

  /** Warm executions at least, untraced; a traced run makes one. */
  private val MinWarmRuns = 2

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.maxPlanStringLength", "100000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0.0" else x.toString

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = opts.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"--$k required"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val root = new File(arg("root")).getCanonicalPath
    val cores = Runtime.getRuntime.availableProcessors()
    val work = s"$root/.bench_build/work/${arg("workload")}-" +
      ProcessHandle.current().pid()
    val wl = Workload(arg("workload"), seed)

    val (spark, sessionS) = Workload.timed(session(cores, work))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    var attempted = 0
    var failedRuns = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val result = try {
      // set-up: session start + the median of three input generations
      val setups = (1 to 3).map(k => Workload.timed(wl.setup(spark,
        s"$work/in$k"))._2)
      val setupS = sessionS + Stats.median(setups)
      val (nItems, itemName) = wl.items(spark)

      /** One execution: (per-call walls, cache peak MB). */
      def once(i: Int, spans: Option[Spans]): Option[(Seq[Double], Double)] = {
        val out = s"$work/out$i"
        Recorder.drain(spark)
        rec.resetBlockPeak()
        attempted += 1
        val r = try {
          val walls = wl.execute(spark, out, spans)
          Recorder.drain(spark)
          val peak = rec.blockPeakBytes / 1048576.0
          val bad = wl.check(spark, out)
          failures ++= bad.map(m => s"execution $i: $m")
          if (bad.isEmpty) Some((walls, peak)) else None
        } catch {
          case e: Exception =>
            failures += s"execution $i threw: $e"
            None
        }
        if (r.isEmpty) failedRuns += 1
        if (!trace) deleteTree(new File(out))
        r
      }

      val warmup = once(0, None)
      val warm = scala.collection.mutable.ArrayBuffer.empty[(Seq[Double], Double)]
      var timedS = 0.0
      val minWarm = if (trace) 1 else MinWarmRuns
      while (failures.isEmpty &&
             (warm.size < minWarm || (!trace && timedS < seconds))) {
        once(warm.size + 1, None).foreach { w => warm += w; timedS += w._1.sum }
      }
      val wall = Stats.median(warm.map(_._1.sum).toSeq)
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("warmup_s", warmup.map(_._1.sum).getOrElse(0.0), "s"),
        ("wall_s", wall, "s"),
        ("cache_peak_mb", Stats.median(warm.map(_._2).toSeq), "MB"),
        (s"${itemName}_per_s", nItems / wall, s"$itemName/s")) ++
        wl.extraE2e ++ Seq(
        ("failed_frac", failedRuns.toDouble / attempted, "ratio"))
      println(s"# ${wl.name} seed=$seed cores=$cores $itemName=$nItems " +
        s"warm_runs=${warm.size} (median of each)")
      println(f"# setup session $sessionS%.3f s, inputs " +
        setups.map(x => f"$x%.3f").mkString(" ") + " s")
      println("# warm walls " + warm.map(w => f"${w._1.sum}%.3f").mkString(" ") + " s")
      e2e.foreach { case (n, v, u) => println(f"# e2e  $n%-16s ${num(v)}%s $u") }

      if (!trace || failures.nonEmpty)
        EndToEnd.map { case (n, u) =>
          n -> (e2e.find(_._1 == n).get._2, u) }
      else {
        val spans = new Spans(spark, s"${wl.name}-$seed")
        val t = new Tracing(spark, rec, spans, work)
        rec.recordJobs = true
        val gc0 = gcMs()
        val traced = once(warm.size + 1, Some(spans))
        val gcS = (gcMs() - gc0) / 1e3
        val layers = if (traced.isEmpty) Map.empty[String, Double] else {
          Recorder.drain(spark)
          try {
            val m = wl.layers(spark, s"$work/out${warm.size + 1}", t)
            Recorder.drain(spark)
            m
          } catch {
            case e: Exception =>
              failures += s"traced leg: $e"
              failedRuns += 1
              Map.empty[String, Double]
          }
        }
        rec.recordJobs = false
        val tracedWall = traced.map(_._1.sum).getOrElse(0.0)
        val out = new File(s"$root/.bench_build/traces")
        out.mkdirs()
        java.nio.file.Files.write(
          new File(out, s"${wl.name}-$seed.spans.jsonl").toPath,
          spans.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
        val speedup = t.speedupDir.map { d =>
          spark.stop()
          Kernels.speedup1to4(d, n => session(n, work))
        }.getOrElse(0.0)
        val all = PerLayer.map(_._1).map(_ -> 0.0).toMap ++ layers ++ Map(
          "scoring.speedup_1to4" -> speedup,
          "spark.gc_s" -> gcS,
          "spark.peak_rss_mb" -> peakRssMb(),
          "trace.overhead_frac" -> (tracedWall / wall - 1))
        val unknown = all.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        println(f"# traced wall ${num(tracedWall)}%s s vs untraced median " +
          f"${num(wall)}%s s")
        PerLayer.foreach { case (n, u) =>
          println(f"# layer $n%-32s ${num(all(n))}%s $u") }
        PerLayer.map { case (n, u) => n -> (all(n), u) }
      }
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      spark.stop()
      deleteTree(new File(work))
    }

    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val metrics = result.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failedRuns, "metrics": {$metrics}}""")
    System.out.flush()
    if (failures.nonEmpty) sys.exit(1)
  }
}
