package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.data.{CleanCorpus, CleanCorpusMain, Dedup, TextAnalysis}
import graft.linkage._
import graft.streaming.LinkageStream

/** One workload: seeded inputs, the timed product entry point(s), the
  * output check, and the traced leg that yields its per-layer metrics. */
trait Workload {
  def name: String
  /** Generates the inputs from the seed and writes them under `dir`. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Input units processed per execution, with their name. */
  def items(spark: SparkSession): (Long, String)
  /** One execution of the product entry point(s) writing under `out`;
    * returns the wall seconds of each entry-point call. */
  def execute(spark: SparkSession, out: String, spans: Option[Spans])
      : Seq[Double]
  /** Output check, run outside the timed region; returns the failures. */
  def check(spark: SparkSession, out: String): Seq[String]
  /** Workload-specific end-to-end figures for the printed table. */
  def extraE2e: Seq[(String, Double, String)] = Nil
  /** After a traced execution into `out`: runs any staged leg under
    * `spans` and returns the per-layer table. */
  def layers(spark: SparkSession, out: String, t: Tracing): Map[String, Double]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "link-dense" => new LinkDense(seed)
    case "clean-corpus" => new CleanCorpusWl(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (link-dense, clean-corpus)")
  }

  /** Runs `f` with the product's own stdout lines sent to stderr, so the
    * benchmark's stdout stays its table and its result line. */
  def quiet[A](f: => A): A = Console.withOut(Console.err)(f)

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Expression nodes in the analyzed plan. */
  def planNodes(df: DataFrame): Long = {
    var n = 0L
    df.queryExecution.analyzed.foreach { p =>
      p.expressions.foreach(e => n += e.collect { case x => x }.size)
    }
    n
  }

  /** (files, bytes) under a directory, hidden and checksum files aside. */
  def filesUnder(dir: File): (Long, Long) = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty[File])
    kids.foldLeft((0L, 0L)) { case ((f, b), k) =>
      if (k.isDirectory) { val (f2, b2) = filesUnder(k); (f + f2, b + b2) }
      else if (k.getName.startsWith(".") || k.getName.startsWith("_")) (f, b)
      else (f + 1, b + k.length())
    }
  }
}

import Workload._

/** Forked or retried transcripts: scoring-heavy, full Pipeline/Output
  * tail through `LinkageMain.run`. */
final class LinkDense(seed: Long) extends Workload {
  val name = "link-dense"
  val seeds = 1000
  private val cfg = Inputs.denseConfig(seed, seeds)
  private var input = ""
  private var counts: Option[Map[String, Long]] = None
  private var f1 = Double.NaN

  def setup(spark: SparkSession, dir: String): Unit = {
    input = s"$dir/transcripts"
    SynthTranscripts.transcripts(spark, cfg).write.parquet(input)
  }

  def items(spark: SparkSession): (Long, String) =
    (spark.read.parquet(input).count(), "turns")

  def execute(spark: SparkSession, out: String, spans: Option[Spans])
      : Seq[Double] = {
    val call = () => quiet(LinkageMain.run(spark,
      Map("input" -> input, "output" -> out)))
    Seq(timed(spans.fold(call())(_.span("entry")(call())))._2)
  }

  private def metrics(spark: SparkSession, out: String): Map[String, Long] =
    TableIO.read(spark, s"$out/metrics").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def check(spark: SparkSession, out: String): Seq[String] = {
    val m = metrics(spark, out)
    if (f1.isNaN) {
      f1 = Pipeline.pairwiseF1(TableIO.read(spark, s"$out/records"),
        TableIO.read(spark, s"$out/matched_pairs"),
        SynthTranscripts.answerKey(spark, cfg).toDF())._3
    }
    val same = counts.forall(_ == m)
    if (counts.isEmpty) counts = Some(m)
    (if (f1 >= 0.99) Nil else Seq(f"pairwise_f1 $f1%.4f < 0.99")) ++
      (if (same) Nil else Seq(s"counts changed between runs: ${counts.get} vs $m"))
  }

  override def extraE2e: Seq[(String, Double, String)] =
    Seq(("pairwise_f1", f1, "ratio"))

  def layers(spark: SparkSession, out: String, t: Tracing)
      : Map[String, Double] = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val sp = t.spans
    val transcripts = spark.read.parquet(input)
    // the staged leg: each public call in its own span, materialized
    // inside it so its jobs are charged to it
    case class Staged(records: DataFrame, nRecords: Long, pairs: DataFrame,
                      nPairs: Long, scored: DataFrame, nScored: Long,
                      matched: DataFrame, nMatched: Long, labels: DataFrame,
                      nLabeled: Long, nClusters: Long)
    val st = sp.span("staged") {
      val (records, nRecords) = sp.span("fold") {
        val r = Fold.fold(transcripts).persist(lvl); (r, r.count())
      }
      val (pairs, nPairs) = sp.span("candidates") {
        val p = Candidates.candidates(records, Blocking.defaultPasses)
          .persist(lvl)
        (p, p.count())
      }
      val (scored, nScored, matched, nMatched) = sp.span("scoring") {
        val sc = Scoring.scorePairs(records, pairs).persist(lvl)
        val n = sc.count()
        val m = Scoring.matches(sc).persist(lvl)
        (sc, n, m, m.count())
      }
      val (labels, nLabeled) = sp.span("cluster") {
        val l = Cluster.connectedComponents(spark, matched.select(
          xxhash64(col("id_a")).as("a"), xxhash64(col("id_b")).as("b")))
        (l, l.count())
      }
      val nClusters = sp.span("output") {
        val labeled = Cluster.labelRecords(
          records.withColumn("node_id", xxhash64(col("conv_id"))), labels)
        val cl = Output.clusters(labeled).persist(lvl)
        TableIO.write(cl, s"$out/staged/clusters")
        TableIO.write(records.drop("turns"), s"$out/staged/records")
        TableIO.write(matched, s"$out/staged/matched_pairs")
        val n = cl.count()
        cl.unpersist(false)
        n
      }
      Staged(records, nRecords, pairs, nPairs, scored, nScored, matched,
        nMatched, labels, nLabeled, nClusters)
    }
    import st._

    // counts outside every span
    val nontrivial = labels.select("cluster_id").distinct().count()
    val maxBlock = Blocking.keyedAll(records, Blocking.defaultPasses)
      .groupBy("pass", "block_key").count().agg(max("count")).head().getLong(0)
    val jwNs = Kernels.jwNsPerPair(spark, records, pairs)
    val speedupDir = t.speedupInputs(records, pairs)
    // plan sizes over plain scans, so each counts only its own layer
    val foldNodes = planNodes(Fold.fold(transcripts))
    val scoringNodes = planNodes(Scoring.scorePairs(
      spark.read.parquet(s"$speedupDir/records"),
      spark.read.parquet(s"$speedupDir/pairs")))
    val entry = metrics(spark, out)
    val (files, bytes) = filesUnder(new File(out))
    val (stagedFiles, stagedBytes) = filesUnder(new File(s"$out/staged"))
    Seq(records, pairs, scored, matched, labels).foreach(_.unpersist(false))

    val tab = t.fromSpans(Seq("fold", "candidates", "scoring", "cluster",
      "output"))
    val rows = Map("fold" -> nRecords, "candidates" -> nPairs,
      "scoring" -> nMatched, "cluster" -> nLabeled, "output" -> nClusters)
    val scoring = t.stats(sp.named("scoring").head)
    val stream = StreamLeg.run(spark, input, s"$out/stream",
      TableIO.read(spark, s"$out/clusters"), t)
    t.layerMetrics(tab, rows + ("pipeline" -> entry("clusters"))) ++
      stream ++ Map(
      "fold.plan_nodes" -> foldNodes.toDouble,
      "candidates.pairs_out" -> nPairs.toDouble,
      "candidates.max_block_rows" -> maxBlock.toDouble,
      "candidates.match_yield" -> nMatched.toDouble / nPairs,
      "scoring.cpu_us_per_pair" -> scoring.cpuS * 1e6 / nPairs,
      "scoring.pairs_per_s" -> nPairs / scoring.wallS,
      "scoring.prefilter_pass_frac" -> nScored.toDouble / nPairs,
      "scoring.plan_nodes" -> scoringNodes.toDouble,
      "sim.jw_ns_per_pair" -> jwNs,
      "cluster.edges_in" -> nMatched.toDouble,
      "cluster.components_nontrivial" -> nontrivial.toDouble,
      "output.bytes_written" -> (bytes - stagedBytes).toDouble,
      "output.files_written" -> (files - stagedFiles).toDouble,
      "output.clusters" -> entry("clusters").toDouble,
      "output.pairwise_f1" -> f1)
  }
}

/** The continuous-linkage leg of the link-dense traced run: the same
  * transcripts split by conversation hash into K micro-batches (the
  * LinkageSoak shape), each linked by `LinkageStream.linkBatch` into a
  * fresh store under its own "trigger" span. */
object StreamLeg {
  val Batches = 3

  private def memberSets(df: DataFrame): Set[Seq[String]] =
    df.select("members").collect().map(_.getSeq[String](0)).toSet

  /** Runs the K triggers under a "stream" span, checks the sink's
    * contract — after the last trigger its clusters equal one full
    * `Pipeline.run` over the union of the batches (`reference`, the
    * clusters table `LinkageMain.run` wrote) — and returns the stream
    * layer's metrics. */
  def run(spark: SparkSession, input: String, store: String,
          reference: DataFrame, t: Tracing): Map[String, Double] = {
    val turns = spark.read.parquet(input)
      .withColumn("batch", Inputs.batchOf(Batches))
    val sp = t.spans
    val stream = sp.span("stream") {
      (0 until Batches).foreach { i =>
        val b = turns.filter(col("batch") === i).drop("batch")
        sp.span("trigger")(quiet(LinkageStream.linkBatch(b, i.toLong, store)))
      }
    }
    val clusters = LinkageStream.currentClusters(spark, store)
    val got = memberSets(clusters)
    val want = memberSets(reference)
    if (got != want) throw new IllegalStateException(
      s"stream clusters differ from a full run: ${got.size} vs " +
        s"${want.size} clusters, ${(got diff want).size} not in the full run")

    val cumEdges = {
      val per = spark.read.parquet(s"$store/matches_log").groupBy("batch")
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 until Batches).map(i => (0 to i).map(per.getOrElse(_, 0L)).sum)
    }
    val logRows = spark.read.parquet(s"$store/records_log").count() +
      cumEdges.last
    val trig = sp.named("trigger")
    val walls = trig.map(t.wallS)
    val own = t.fromAttribution(sp.named("stream").head).get("stream")
    trig.zipWithIndex.flatMap { case (s, i) =>
      Seq(s"stream.trigger_s.$i" -> t.wallS(s),
        s"stream.cc_s.$i" -> t.layerBusyS(s, "cluster"),
        s"stream.cc_edges_in.$i" -> cumEdges(i).toDouble)
    }.toMap ++ t.generic("stream", own, logRows) ++ Map(
      "stream.log_rows_appended" -> logRows.toDouble,
      "stream.trigger_p50_s" -> Stats.median(walls),
      "stream.trigger_last_s" -> walls.last)
  }
}

/** Training-corpus cleaning through `CleanCorpusMain.run` on seeded
  * English documents with planted exact copies, near copies, low-quality,
  * German and email-bearing documents. */
final class CleanCorpusWl(seed: Long) extends Workload {
  val name = "clean-corpus"
  val bases = 1500
  private var input = ""
  private var counts: Option[CleanCorpus.StageCounts] = None

  def setup(spark: SparkSession, dir: String): Unit = {
    input = s"$dir/docs"
    Inputs.docs(spark, seed, bases).write.parquet(input)
  }

  def items(spark: SparkSession): (Long, String) =
    (spark.read.parquet(input).count(), "docs")

  private var last: Option[CleanCorpus.StageCounts] = None

  def execute(spark: SparkSession, out: String, spans: Option[Spans])
      : Seq[Double] = {
    val call = () => quiet(CleanCorpusMain.run(spark,
      Map("input" -> input, "output" -> out, "redact" -> "true")))
    val (c, s) = timed(spans.fold(call())(_.span("entry")(call())))
    last = Some(c)
    Seq(s)
  }

  def check(spark: SparkSession, out: String): Seq[String] = {
    val c = last.get
    val nIn = spark.read.parquet(input).count()
    val exactExpected = nIn - Inputs.plantedExactCopies(seed, bases)
    val dupTexts = spark.read.parquet(s"$out/cleaned").groupBy("text").count()
      .filter(col("count") > 1).count()
    val same = counts.forall(_ == c)
    if (counts.isEmpty) counts = Some(c)
    Seq(
      (c.input == nIn) -> s"input ${c.input} != $nIn",
      (c.afterExact == exactExpected) ->
        s"after_exact_dedup ${c.afterExact} != $exactExpected",
      (dupTexts == 0) -> s"$dupTexts texts survive more than once",
      (c.afterLang > 0 && c.afterLang < c.afterQuality &&
        c.afterQuality < c.afterNearDup && c.redactedDocs.exists(_ > 0)) ->
        s"a stage had no work: ${c.toJson}",
      same -> s"stage counts changed between runs: ${counts.get.toJson} vs ${c.toJson}")
      .collect { case (false, msg) => msg }
  }

  def layers(spark: SparkSession, out: String, t: Tracing)
      : Map[String, Double] = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val sp = t.spans
    val cfg = CleanCorpus.Config()
    val docs = spark.read.parquet(input)
    // staged leg over the same public operators CleanCorpus composes
    val (exact, nearDeduped, nNear, nPairs) = sp.span("dedup") {
      val exact = sp.span("exact") {
        val keepers = Dedup.exact(docs).filter(col("doc_id") === col("keeper"))
          .select("doc_id")
        val e = docs.join(keepers, Seq("doc_id"), "left_semi").persist(lvl)
        e.count(); e
      }
      sp.span("minhash") {
        val pairs = Dedup.minHashNearDups(exact, cfg.minhash)
        val drops = pairs.select(col("id_b").as("doc_id")).distinct()
        val nd = exact.join(drops, Seq("doc_id"), "left_anti").persist(lvl)
        val nNear = nd.count()
        val n = pairs.count()
        pairs.unpersist(false)
        (exact, nd, nNear, n)
      }
    }
    val (nQuality, nLang) = sp.span("text") {
      val q = sp.span("quality") {
        val s = TextAnalysis.qualityFeatures(nearDeduped)
          .filter(col("quality_score") >= cfg.minQuality).persist(lvl)
        s.count(); s
      }
      val l = sp.span("lang") {
        TextAnalysis.langGuessDf(q).filter(col("lang_guess") === "en").count()
      }
      val n = q.count(); q.unpersist(false)
      (n, l)
    }
    // LSH candidates over the same exact survivors, outside every span
    val exploded = Dedup.explodedShingles(exact, n = cfg.minhash.shingleSize)
    val lsh = Dedup.lshCandidates(Dedup.lshBuckets(
      Dedup.minHashSignaturesOPH(exploded, cfg.minhash), cfg.minhash)).count()
    exact.unpersist(false); nearDeduped.unpersist(false)
    val tab = t.fromSpans(Seq("dedup", "text"))
    val c = last.get
    t.layerMetrics(tab, Map("dedup" -> nNear, "text" -> nLang,
      "pipeline" -> c.afterLang)) ++ Map(
      "dedup.exact_s" -> t.wallS(sp.named("exact").head),
      "dedup.minhash_s" -> t.wallS(sp.named("minhash").head),
      "dedup.lsh_candidates" -> lsh.toDouble,
      "dedup.verify_yield" -> nPairs.toDouble / math.max(1L, lsh),
      "text.quality_s" -> t.wallS(sp.named("quality").head),
      "text.lang_s" -> t.wallS(sp.named("lang").head))
  }
}
