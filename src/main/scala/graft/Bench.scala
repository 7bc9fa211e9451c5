package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.linkage._

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR plus the linkage pipeline on a synthetic transcript
  * corpus, and prints ONE JSON line.
  *
  * Env knobs:
  *   SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     local[N] parallelism (default 4)
  *   SPARK_GRAFT_BENCH_CONVS  linkage corpus seed-conv count (default 20000)
  *   SPARK_GRAFT_SCALING  "1" → also run the linkage bench at cpus/4 in a
  *                        fresh session and report scaling efficiency
  *                        (two parallelism levels stand in for two cluster
  *                        sizes in this sandbox — see BASELINE.md)
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(math.max(cpus, 8))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Pair scoring burns ~100x more CPU per byte than ordinary SQL, so
      // AQE's default 64MB byte-targeted coalescing starves cores (a 300MB
      // stage collapses to ~5 tasks). Target CPU, not IO: small advisory
      // size + small min partition size keep task count ≥ parallelism.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // cap plan-STRING rendering (log/UI only): deep composed trees
      // under the ~2 GB default can OOM just building an explain string
      .config("spark.sql.maxPlanStringLength", "100000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Force full materialization (count() would let Catalyst prune the
    * projections we want to measure). */
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  case class LinkageStats(records: Long, candidatePairs: Long,
                          matched: Long, clusters: Long,
                          tFold: Double, tCandidates: Double,
                          tScore: Double, tCluster: Double) {
    def total: Double = tFold + tCandidates + tScore + tCluster
    def pairsPerSec: Double =
      if (tScore > 0) candidatePairs / tScore else 0.0
    def turnsPerSec(turns: Long): Double = turns / total
  }

  /** Staged linkage run with materialization barriers so each stage's
    * wall time is attributable. A pilot run first warms JIT + codegen
    * caches — at bench corpus sizes cold-JVM compilation otherwise
    * dominates and reverses scaling comparisons (measured: the SAME
    * query converges 27 s → 7.5 s → 4.7 s → 4.4 s over four in-session
    * executions) — then best-total-of-3 measured runs (single samples
    * showed 3× stage-wall outliers from GC landing mid-stage). */
  def linkageBenchWarm(spark: SparkSession, nConvs: Int)
      : (LinkageStats, Long) = {
    linkageBench(spark, math.max(1000, nConvs / 10)) // warmup pilot
    Seq(linkageBench(spark, nConvs), linkageBench(spark, nConvs),
      linkageBench(spark, nConvs)).minBy(_._1.total)
  }

  def linkageBench(spark: SparkSession, nConvs: Int): (LinkageStats, Long) = {
    import org.apache.spark.storage.StorageLevel
    val cfg = SynthTranscripts.Config(seed = 42L, nConvs = nConvs,
      days = math.max(20, nConvs / 500))
    val transcripts = SynthTranscripts.transcripts(spark, cfg).toDF
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTurns = transcripts.count() // corpus generation outside timings

    // the product's stage cuts (Pipeline.run): each stage is built once
    // into a local checkpoint with its row count observed on that build,
    // so no later stage's plan carries an earlier one's
    val stages = new Stages()
    val stats = stages.releasing {
      val ((records, nRecords), tFold) =
        time(stages.checkpoint(Fold.fold(transcripts).drop("turns")))
      val ((pairs, nPairs), tCand) = time(stages.checkpoint(
        Candidates.candidates(records, Blocking.defaultPasses,
          nRecords = Some(nRecords))))
      val ((matched, nMatched), tScore) = time(stages.checkpoint(
        Scoring.matches(Scoring.scorePairs(records,
          pairs.repartition(spark.sparkContext.defaultParallelism)))))
      val (nClusters, tCc) = time {
        import org.apache.spark.sql.functions.{col, xxhash64}
        // bounded by the matches cut's count, as Pipeline.link calls it
        Cluster.connectedComponents(spark,
          matched.select(xxhash64(col("id_a")).as("a"),
            xxhash64(col("id_b")).as("b")),
          Cluster.Options(), Some(nMatched), stages, Cluster.LocalFinishEdges)
          .select("cluster_id").distinct().count()
      }
      LinkageStats(nRecords, nPairs, nMatched, nClusters,
        tFold, tCand, tScore, tCc)
    }
    transcripts.unpersist()
    (stats, nTurns)
  }

  /** Scaling kernel: score a FIXED materialized pair set, best-of-`reps`
    * (the BASELINE.json metric is candidate-pairs-scored/sec; full-
    * pipeline per-stage walls are too noisy at sandbox corpus sizes —
    * cache eviction + GC swamp a 4× core difference). */
  def scoringKernelBench(spark: SparkSession, nConvs: Int,
                         reps: Int = 3): (Long, Double) = {
    import org.apache.spark.storage.StorageLevel
    val cfg = SynthTranscripts.Config(seed = 42L, nConvs = nConvs,
      days = math.max(20, nConvs / 500))
    val transcripts = SynthTranscripts.transcripts(spark, cfg).toDF
    val records = Fold.fold(transcripts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    records.count()
    val pairs = Candidates.candidates(records, Blocking.defaultPasses)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    val times = (1 to reps).map { _ =>
      val (_, secs) = time(exec(Scoring.scorePairs(records, pairs)))
      secs
    }
    records.unpersist(); pairs.unpersist()
    (nPairs, times.min)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "20000").toInt
    val scaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"
    // the scaling kernel needs enough work to amortize per-stage fixed
    // costs — use its own corpus size, independent of the pipeline bench.
    // 200k convs ≈ 218k pairs: at the old 100k size the big config
    // finished in ~5 s and job-submit/stage-tail fixed costs kept 16
    // threads ~40% idle (vmstat), capping measured throughput at ~21k
    // pairs/s — which round 1–3 misread as a socket bandwidth ceiling;
    // the doubled kernel runs the same plan at 26k pairs/s on 16 threads
    val scalingConvs =
      sys.env.getOrElse("SPARK_GRAFT_SCALING_CONVS", "200000").toInt

    val skipQueries = sys.env.getOrElse("SPARK_GRAFT_SKIP_QUERIES", "0") == "1"
    // comma-separated allowlist for iterating on one query without paying
    // the full 45-query sweep; empty/unset = run everything
    val onlyQueries = sys.env.getOrElse("SPARK_GRAFT_ONLY_QUERIES", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    val spark = session(cpus)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlyQueries.isEmpty || onlyQueries(n) }
    // steady-state measurement, same methodology as linkageBenchWarm:
    // one untimed pass first — cold-JVM JIT of Spark internals otherwise
    // lands entirely on whichever queries run first (measured: the
    // alphabetically-first aggregation read 7.2 s cold vs 1.7 s warm)
    // TWO warmup passes: heavy generated code (minhash's 64-hash explode
    // tree) is still JIT-cold on its second in-session execution —
    // measured 27 s → 7.5 s → 4.7 s → 4.4 s over four runs — so one pass
    // leaves the timed rounds measuring the compiler, not the query.
    val warmups =
      if (sys.env.get("SPARK_GRAFT_QUERY_WARMUP").contains("0")) 0
      else sys.env.getOrElse("SPARK_GRAFT_QUERY_WARMUPS", "2").toInt
    // clear the cache between queries: operators that persist internal
    // fan-out points (minhash's exploded shingles/candidates) would
    // otherwise (a) leak blocks across the run until later stages hit
    // memory pressure (measured: CC at 55 s instead of 4 s), and (b) let
    // the timed pass cache-HIT the warmup pass's semantically-equal plans
    // and measure a read, not the compute
    if (!skipQueries) (1 to warmups).foreach { _ =>
      ordered.foreach { case (_, fn) =>
        try exec(fn(spark, sfDir)) catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    }
    // two timed rounds, best per query: single samples on this box swing
    // up to 10× when an OS flush or GC lands mid-query (measured the
    // same aggregation at 1.2 s and 11.8 s in back-to-back runs)
    def timedRound(): Map[String, Double] = ordered.map {
      case (name, fn) =>
        val t = try {
          val (_, secs) = time(exec(fn(spark, sfDir)))
          secs
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
        spark.catalog.clearCache()
        name -> t
    }.toMap
    val queryTimes = if (skipQueries) Seq.empty
    else {
      val (r1, r2) = (timedRound(), timedRound())
      ordered.map { case (name, _) =>
        val (a, b) = (r1(name), r2(name))
        name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
      }
    }
    val (stats, nTurns) = linkageBenchWarm(spark, nConvs)
    spark.stop()

    // optional scaling runs: the scoring kernel at cpus and cpus/4 in
    // paired fresh JVM-local sessions (two parallelism levels stand in
    // for two cluster sizes in this sandbox).
    // Cap the scaling pair at local[4] vs local[16]: the 17th–32nd
    // threads on this box are SMT siblings of the first 16 (shared
    // execution ports) plus all-core clock effects — per-node residuals
    // a 4N-node cluster comparison does not share; 4→16 stays on
    // physical cores and measures the plan's scaling. (The earlier
    // "~21k pairs/s bandwidth ceiling" rationale recorded here was a
    // kernel-size artifact — see scalingConvs above.)
    val bigCpus = math.min(cpus, 16)
    val scalingJson = if (scaling && bigCpus >= 4) {
      // interleave sessions (small, big, small, big) and keep the best
      // time per config — JIT warmth and thermal drift otherwise bias
      // whichever config runs last
      // broadcast disabled for the kernel: at 10¹²-turn scale neither join
      // side fits a broadcast, and the driver-side HashedRelation build is
      // serial — keeping it would charge a fixed serial cost that the
      // target-scale plan (shuffle join) does not have
      def kernelSession(n: Int): SparkSession = {
        val s = session(n)
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        s
      }
      // paired rounds: a round's two runs execute back-to-back so drift
      // largely cancels inside each ratio (taking best small and best
      // big INDEPENDENTLY measured 0.76–0.90 across identical builds).
      // Round 0 is a discarded JIT warmup — the big config's generated
      // scoring code is still compiling on its first session (measured:
      // big-config throughput climbs 22.9k → 26.5k across rounds in one
      // JVM). The published efficiency comes from the BEST-TOTAL of the
      // measured rounds — the round that ran fastest overall, i.e. the
      // least host-contended window, selected by a criterion independent
      // of the ratio itself (selecting the MAX ratio would bias a noisy
      // statistic upward; the same rule linkageBenchWarm uses). All
      // measured round ratios are published alongside as the spread.
      // clamp ≥ 2: one round would publish the discarded-by-design JIT
      // warmup (and 0 would crash minBy after the whole query bench ran)
      val nRounds = math.max(2,
        sys.env.getOrElse("SPARK_GRAFT_SCALING_ROUNDS", "4").toInt)
      val rounds = (0 until nRounds).map { _ =>
        val small = kernelSession(bigCpus / 4)
        val (_, ts) = scoringKernelBench(small, scalingConvs, reps = 2)
        small.stop()
        val big = kernelSession(bigCpus)
        val (np, tb) = scoringKernelBench(big, scalingConvs, reps = 2)
        big.stop()
        (np, ts, tb)
      }
      def effOf(ts: Double, tb: Double): Double = (ts / tb) / 4.0
      val measured = if (rounds.length > 1) rounds.tail else rounds
      val (nPairsB, tSmall, tBig) =
        measured.minBy { case (_, ts, tb) => ts + tb }
      val thrBig = nPairsB / tBig
      val thrSmall = nPairsB / tSmall
      val eff = effOf(tSmall, tBig)
      val spread = measured.map { case (_, ts, tb) => f"${effOf(ts, tb)}%.4f" }
        .mkString("[", ",", "]")
      f""","scaling":{"cpus_small":${bigCpus / 4},"cpus_big":$bigCpus,""" +
        f""""kernel_pairs":$nPairsB,""" +
        f""""pairs_per_sec_small":${thrSmall}%.1f,""" +
        f""""pairs_per_sec_big":${thrBig}%.1f,""" +
        f""""efficiency":${eff}%.4f,""" +
        f""""efficiency_rounds":$spread}"""
    } else ""

    val qs = queryTimes.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val totalQ = queryTimes.map(_._2).filter(_ >= 0).sum
    val total = totalQ + stats.total
    val linkage =
      f"""{"n_convs":$nConvs,"n_turns":$nTurns,""" +
      f""""records":${stats.records},"candidate_pairs":${stats.candidatePairs},""" +
      f""""matched_pairs":${stats.matched},"clusters":${stats.clusters},""" +
      f""""t_fold":${stats.tFold}%.3f,"t_candidates":${stats.tCandidates}%.3f,""" +
      f""""t_score":${stats.tScore}%.3f,"t_cluster":${stats.tCluster}%.3f,""" +
      f""""pairs_scored_per_sec":${stats.pairsPerSec}%.1f,""" +
      f""""turns_per_sec":${stats.turnsPerSec(nTurns)}%.1f}"""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""linkage":$linkage,"cpus":$cpus$scalingJson,"sf":"$sfDir"}""")
  }
}
