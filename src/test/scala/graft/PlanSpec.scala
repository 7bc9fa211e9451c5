package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** Physical-plan quality gates (SURVEY.md §4): filters reach the parquet
  * scan, projection prunes columns, the scoring expression tree stays in
  * whole-stage codegen, small sides broadcast, and the candidate
  * self-join is a real equi-join on the blocking key (no cross product),
  * and each product layer's analyzed expression tree stays under a
  * node ceiling.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Expression nodes in the analyzed plan: the count perfbench reports
    * as `fold.plan_nodes` / `scoring.plan_nodes`. */
  private def planNodes(df: DataFrame): Long = {
    var n = 0L
    df.queryExecution.analyzed.foreach { p =>
      p.expressions.foreach(e => n += e.collect { case x => x }.size)
    }
    n
  }

  /** `df`'s rows as a LocalRelation, so a plan built on top of it counts
    * only its own layer's expressions. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  private lazy val transcripts = local(SynthTranscripts
    .transcripts(spark, SynthTranscripts.Config(nConvs = 50)).toDF)
  private lazy val records = local(Fold.fold(transcripts))
  private lazy val mixDocs = local(spark.range(30).select(
    col("id").as("doc_id"), element_at(array(lit("web"), lit("code"),
      lit("forum")), (col("id") % 3 + 1).cast("int")).as("source")))
  private lazy val docs = local(spark.range(20).select(
    col("id").as("doc_id"),
    concat(lit("mail a"), col("id"), lit("@x.org or call 555-123-4567"))
      .as("text")))

  // Plan-time cost gate: a Column builder whose derived vals re-inline
  // into every use grows exponentially (a rule-grammar address tagger
  // analyzed to 27,677 nodes for one column and 2.7M once scored, ~87 s
  // to plan one row). Ceilings are ~3x the measured count (95, 372,
  // 132, 33, 52, 21, 56, 7), so ordinary growth passes and a
  // re-inlining blowup fails here in seconds. The redaction ceiling
  // stays at its 24-node sizing with the prefilter in.
  Seq[(String, () => DataFrame, Long)](
    ("Fold.fold", () => Fold.fold(transcripts), 300L),
    ("Candidates.candidates",
      () => Candidates.candidates(records, Blocking.defaultPasses), 1200L),
    ("Scoring.scorePairs", () => Scoring.scorePairs(records,
      local(Candidates.candidates(records, Blocking.defaultPasses))),
      400L),
    ("Redact.redactText",
      () => docs.select(graft.data.Redact.redactText(col("text"))), 75L),
    ("TextAnalysis.qualityFeatures",
      () => graft.data.TextAnalysis.qualityFeatures(docs), 150L),
    ("Mix.sampleByDomain", () => graft.data.Mix.sampleByDomain(mixDocs,
      Map("code" -> 0.2, "forum" -> 0.05)), 65L),
    ("Mix.repeatByDomain", () => graft.data.Mix.repeatByDomain(mixDocs,
      Map("code" -> 2.5, "forum" -> 0.3)), 170L),
    // Positions hands back an RDD-backed frame, so this counts only the
    // projection above it
    ("Mix.epochOrder", () => graft.data.Mix.epochOrder(mixDocs, 1), 25L)
  ).foreach { case (name, df, ceiling) =>
    test(s"analyzed expression nodes stay bounded: $name") {
      val n = planNodes(df())
      info(s"$name: $n expression nodes (ceiling $ceiling)")
      assert(n <= ceiling, s"$name analyzes to $n expression nodes")
    }
  }

  test("scoring plan fingerprint: jaro_winkler call count") {
    // One address-kernel call and the fn and phone comparisons: the
    // comparator's own Jaro-Winkler calls live inside the kernel. A
    // kernel pushed into a filter or re-inlined (x2), a comparison moved
    // back into the plan, or a nondeterminism claim blocking pushdown
    // through the projection fails here.
    val exprs = Scoring.scorePairs(records,
        local(Candidates.candidates(records, Blocking.defaultPasses)))
      .queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val kernels = exprs.collect {
      case k: graft.linkage.expr.AddressDistanceAbove => k }
    val jws = exprs.collect { case j: graft.linkage.expr.JaroWinkler => j }
    assert(kernels.size == 1, s"${kernels.size} address kernel calls")
    assert(jws.size == 2 && jws.map(_.canonicalized).distinct.size == 2,
      s"${jws.size} jaro_winkler calls")
    assert(exprs.forall(_.deterministic),
      s"nondeterministic scoring expressions: ${exprs.filterNot(_.deterministic)}")
  }

  test("minHashNearDups plan fingerprint: one kernel pass per doc") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, ZipWith}
    import graft.data.Dedup
    import graft.linkage.expr.{MinHashShingles, SortedJaccardAbove}
    val cfg = Dedup.MinHashConfig(oph = true)
    val texts = spark.sparkContext.parallelize((0 until 60).map(i =>
      (i.toLong, s"alpha beta gamma delta doc${i % 20} epsilon zeta")), 4)
      .toDF("doc_id", "text")
    def exprsOf(df: DataFrame) = df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    // the per-doc projection — the pipeline's one checkpoint — builds
    // each doc's shingle set once and reads its buckets off it
    val mh = Dedup.minHashDocs(texts, cfg, "doc_id", "text")
    assert(exprsOf(mh).count(_.isInstanceOf[MinHashShingles]) == 1,
      mh.queryExecution.optimizedPlan.toString)
    // downstream of the checkpoint: posexplode → cap → candidates →
    // shingle-array joins → merge; no kernel re-run, no interpreted HOF,
    // no object aggregate, and one band posexplode
    val pairs = Dedup.nearDupPairs(mh.localCheckpoint(), 60L, cfg, "doc_id")
    pairs.collect()
    val exprs = exprsOf(pairs)
    assert(!exprs.exists(_.isInstanceOf[MinHashShingles]))
    assert(!exprs.exists(e => e.isInstanceOf[ArrayTransform] ||
      e.isInstanceOf[ArrayFilter] || e.isInstanceOf[ZipWith]),
      pairs.queryExecution.optimizedPlan.toString)
    val plan = planOf(pairs)
    assert(!plan.contains("ObjectHashAggregate"), plan)
    val Array(finalPlan, initialPlan) = plan.split("== Initial Plan ==")
    // both candidate-join sides read ONE shuffle of the exploded buckets
    val generates = "Generate posexplode".r.findAllIn(finalPlan).length
    assert(generates == 1, s"$generates band posexplodes:\n$finalPlan")
    // one sorted merge per candidate pair: the threshold is the verify
    // explode's cardinality, so no filter or join condition carries a
    // second copy of the kernel
    assert(exprs.count(_.isInstanceOf[SortedJaccardAbove]) == 1,
      pairs.queryExecution.optimizedPlan.toString)
    val merges = "sorted_jaccard".r.findAllIn(finalPlan).length
    assert(merges == 1, s"$merges sorted_jaccard calls:\n$finalPlan")
    // before AQE turns small sides into broadcasts: the band join's two
    // sides, the candidate distinct, and two per verify join (measured 7;
    // 60 docs cannot fill a bucket past the 5000-row cap, so the cap's
    // stats pass never runs and no cap is planned)
    val shuffles = """(?m)^[\s:|+-]*Exchange """.r.findAllIn(initialPlan).length
    info(s"$shuffles shuffle exchanges")
    assert(shuffles <= 7, s"$shuffles exchanges:\n$initialPlan")
  }

  test("text operators are per-row kernel projections: no shuffle") {
    import graft.data.TextAnalysis
    import graft.linkage.expr.TextFeatures
    Seq(
      "langGuessDf" -> TextAnalysis.langGuessDf(docs),
      "qualityFeatures" -> TextAnalysis.qualityFeatures(docs),
      "repetitionFeatures" -> TextAnalysis.repetitionFeatures(docs)
    ).foreach { case (name, df) =>
      val kernels = df.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case t: TextFeatures => t }))
      assert(kernels.size == 1, s"$name: ${kernels.size} text_features calls")
      val plan = planOf(df)
      assert(!plan.contains("Exchange"), s"$name shuffles:\n$plan")
    }
  }

  test("clean tail plan fingerprint: one kernel pass, one narrow stage") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Inline
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      ExchangeQueryStageExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.data.CleanCorpus
    import graft.linkage.expr.TextFeatures
    val texts = spark.sparkContext.parallelize((0 until 40).map(i =>
      (i.toLong, s"the cat $i and the dog sat on a mat in the house " +
        s"mail user$i@example.org")), 4).toDF("doc_id", "text")
    // the plan the writer receives, once its action has run
    var written: DataFrame = null
    CleanCorpus.clean(texts,
        CleanCorpus.Config(lang = Some("en"), redactPii = true)) {
      (cleaned, ids) =>
        cleaned.collect(); ids.collect()
        written = cleaned
    }
    val qe = written.queryExecution
    // the optimized plan the write ran calls the kernel once
    val logical = qe.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case t: TextFeatures => t }))
    assert(logical.size == 1, s"${logical.size} text_features calls:\n" +
      qe.optimizedPlan)
    // the executed plan from the near-dup survivors up (the anti-join, or
    // the stage that fed it once AQE dropped an empty drop side): no
    // shuffle, no aggregate, one Generate (the kernel's inline), one
    // kernel call
    def boundary(p: SparkPlan) =
      p.isInstanceOf[ExchangeQueryStageExec] || p.isInstanceOf[BaseJoinExec]
    def tail(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => tail(a.executedPlan)
      case b if boundary(b) => Seq(b)
      case s: QueryStageExec => s +: tail(s.plan)
      case _ => p +: p.children.flatMap(tail)
    }
    val nodes = tail(qe.executedPlan)
    val shown = qe.executedPlan.toString
    val tailNodes = nodes.filterNot(boundary)
    assert(nodes.count(boundary) == 1, shown)
    assert(!tailNodes.exists(p => p.isInstanceOf[Exchange] ||
      p.isInstanceOf[BaseAggregateExec]), shown)
    val generators = tailNodes.collect { case g: GenerateExec => g.generator }
    assert(generators.size == 1 && generators.head.isInstanceOf[Inline],
      shown)
    val kernels = tailNodes.flatMap(_.expressions.flatMap(_.collect {
      case t: TextFeatures => t }))
    assert(kernels.size == 1, shown)
  }

  test("parquet scan: predicate pushdown + column pruning") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]"), s"no pushdown in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double>"), s"no pruning in:\n$plan")
  }

  test("scoring stays inside whole-stage codegen") {
    import spark.implicits._
    val recs = Fold.fold(SynthTranscripts
      .transcripts(spark, SynthTranscripts.Config(nConvs = 50)).toDF)
    val pairs = Seq(("c1", "c2")).toDF("id_a", "id_b")
    val df = Scoring.scorePairs(recs, pairs)
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = planOf(df)
    assert(plan.contains("isFinalPlan=true"))
    // `*(n)` prefixes mark whole-stage-codegen'd operators; the operator
    // that evaluates the address kernel and the one that evaluates the
    // fn/phone jaro_winkler must each carry one
    def codegenLine(call: String) = {
      val line = plan.linesIterator.find(_.contains(call))
      assert(line.exists(_.contains("*(")),
        s"$call not codegen'd:\n${line.getOrElse(plan)}")
    }
    codegenLine("address_distance_above(")
    codegenLine("jaro_winkler(a_family_name")
    // the prefilter is the Generate's cardinality: no filter or join
    // condition may re-evaluate the kernel or a comparison (measured in
    // r06: a filter copy of the comparator doubled the scoring CPU and
    // sank into the join stage)
    val conditions = plan.linesIterator
      .filter(l => l.contains("Filter") || l.contains("Join")).toSeq
    assert(conditions.forall(l => !l.contains("address_distance_above") &&
      !l.contains("jaro_winkler")),
      s"a filter or join re-evaluates the comparator:\n" +
        conditions.mkString("\n"))
  }

  test("broadcast hint honored for small query side (ANN brute force)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = planOf(graft.data.Ann.bruteForceTopK(e, q, 3))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"no broadcast in:\n$plan")
  }

  test("candidate self-join is an equi-join on the blocking key") {
    val recs = Fold.fold(SynthTranscripts
      .transcripts(spark, SynthTranscripts.Config(nConvs = 50)).toDF)
    val plan = planOf(Candidates.candidates(recs, Blocking.defaultPasses))
    // hash-partitioned equi join (SMJ or SHJ), never a cartesian product
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      s"no equi-join operator in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in candidate join:\n$plan")
  }

  test("positions: row_number-identical values, no global window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 5000 shuffled keys across many partitions
    val df = spark.range(5000)
      .select(concat(lit("k"), format_string("%06d",
        pmod(col("id") * 2654435761L, lit(5000)))).as("conv_id"))
      .distinct()
      .repartition(16)
    val scalable = Positions.withPosition(df, col("conv_id"), "pos")
      .select("conv_id", "pos")
    val windowed = df.withColumn("pos",
      (row_number().over(Window.orderBy(col("conv_id"))) - 1).cast("long"))
    assert(scalable.exceptAll(windowed).isEmpty &&
      windowed.exceptAll(scalable).isEmpty)
    // the plan must not contain a Window at all (the single-partition
    // global sort was round 1's scale-killer at the output edges)
    assert(!planOf(scalable).contains("Window"),
      s"global window leaked into positions plan")
    // same for the output-edge consumer (the --testrun scoring files)
    val clusters = df.groupBy(substring(col("conv_id"), 1, 4))
      .agg(sort_array(collect_list(col("conv_id"))).as("members"))
      .withColumn("cluster_id", col("members")(0))
    val (perMember, perHousehold) = Output.scoringFiles(clusters)
    assert(!planOf(perMember).contains("Window"))
    assert(!planOf(perHousehold).contains("Window"))
  }

  test("fold is a single-shuffle aggregation (no window, no sort)") {
    val t = SynthTranscripts
      .transcripts(spark, SynthTranscripts.Config(nConvs = 50)).toDF
    val plan = planOf(Fold.fold(t))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, // hashpartition for agg (+AQE read) only
      s"fold shuffles too much ($exchanges exchanges):\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in fold:\n$plan")
  }
}
