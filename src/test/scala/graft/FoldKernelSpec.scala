package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.{Fold, SynthTranscripts, Turn}
import graft.linkage.expr.{functions => gf}

/** Pins the per-conversation fold kernel (expr.FoldKernel behind
  * `Fold.fold`) bit for bit, schema included, to the Spark SQL derivation
  * it replaced, kept here as its oracle: `filter`/`transform` HOFs over
  * the sorted turns, `regexp_replace` over `normalize_ascii` per turn, and
  * the joined text split again for the addr struct. Checked under
  * whole-stage codegen and with code generation off (interpreted `eval`),
  * under both settings of `spark.sql.icu.caseMappings.enabled`, with and
  * without the `maxTurns` bound. */
class FoldKernelSpec extends AnyFunSuite with SparkFixture {

  // ---------- the Column oracle ----------

  private def normText(c: Column): Column =
    regexp_replace(gf.normalize_ascii(c), "\\s+", " ")

  private def toolSig(c: Column): Column =
    regexp_replace(upper(c), "[^A-Z0-9]", "")

  private def addrStruct(fullText: Column, phone: Column): Column = {
    val toks = split(fullText, " ")
    val n = size(toks)
    struct(
      when(n >= 1, element_at(toks, 1)).otherwise(lit("")).as("number"),
      when(n >= 3,
        array_join(slice(toks, lit(2), greatest(n - 2, lit(0))), " "))
        .otherwise(lit("")).as("street"),
      when(n >= 2, element_at(toks, -1)).otherwise(lit("")).as("suffix"),
      when(phone =!= "", lit("TOOL")).otherwise(lit("")).as("prefix"),
      phone.as("value"),
      fullText.as("full"))
  }

  private def oracleFold(transcripts: DataFrame, maxTurns: Int): DataFrame = {
    val bounded =
      if (maxTurns <= 0) transcripts
      else transcripts
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))))
        .filter(col("_rk") <= maxTurns)
        .drop("_rk")
    val grouped = bounded.groupBy(col("conv_id")).agg(
      array_sort(collect_list(struct(col("turn_idx"), col("role"),
        col("text"), col("tool"), col("ts")))).as("turns"),
      min(col("ts")).as("ts_min"),
      max(col("ts")).as("ts_max"))
    val userTurns = filter(col("turns"), t => t.getField("role") === "user")
    val firstUser = coalesce(
      normText(try_element_at(userTurns, lit(1)).getField("text")), lit(""))
    val lastUser = coalesce(
      normText(try_element_at(userTurns, lit(-1)).getField("text")), lit(""))
    val toolSigCol = coalesce(
      array_join(
        array_sort(array_distinct(transform(
          filter(col("turns"), t => t.getField("tool") =!= ""),
          t => toolSig(t.getField("tool"))))),
        ""), lit(""))
    grouped
      .withColumn("family_name", firstUser)
      .withColumn("given_name", lastUser)
      .withColumn("phone_number", toolSigCol)
      .withColumn("full_text",
        array_join(
          filter(transform(col("turns"), t => normText(t.getField("text"))),
            s => s =!= ""),
          " "))
      .withColumn("household_zip", date_format(col("ts_min"), "yyyy-MM-dd"))
      .withColumn("DOB", date_format(col("ts_min"), "yyyy-MM-dd"))
      .withColumn("sex", element_at(col("turns"), 1).getField("role"))
      .withColumn("addr", addrStruct(col("full_text"), col("phone_number")))
      .drop("full_text")
  }

  // ---------- the conversations ----------

  private def ts(s: Int) = new Timestamp(1767225600000L + s * 1000L)

  /** (conv_id, [(role, text, tool)]) in turn order. */
  private val edge: Seq[(String, Seq[(String, String, String)])] = Seq(
    "no_user" -> Seq(("assistant", "Hello there", ""),
      ("tool", "result 42", "search")),
    "empty_null" -> Seq(("user", "", ""), ("assistant", null, null),
      ("user", null, ""), ("assistant", "", "python")),
    "first_user_null" -> Seq(("user", null, ""), ("user", "later words", "")),
    "tool_only" -> Seq(("tool", "", "search"), ("tool", "", "browser"),
      ("tool", "", "search")),
    "single" -> Seq(("user", "  one  ", "")),
    "single_null_role" -> Seq((null, "orphan turn", "calc")),
    "two_tokens" -> Seq(("user", "alpha", ""), ("assistant", "bravo", "")),
    "whitespace" -> Seq(("user", " \t lead\t\ttab  run \n\n newline\r\n", ""),
      ("assistant", "\t\n \u000b\f", ""),
      ("user", "mid\u000bvt\fff   end ", "web  tool")),
    "nfkd" -> Seq(("user", "Ｆｕｌｌｗｉｄｔｈ café naïve ﬁle ½ Ⅸ", ""),
      ("assistant", "東京 Ελλάδα Straße résumé", ""),
      ("user", "ǅemal Åsa ŉ", "")),
    "tools_case" -> Seq(("user", "tools please", "ß"),
      ("assistant", "ok", "ﬁle_search"), ("tool", "", "İstanbul"),
      ("tool", "", "ı-lookup"), ("tool", "", "straße"),
      ("tool", "", "get-weather"), ("tool", "", "GET_WEATHER"),
      ("tool", "", "!!!"), ("tool", "", null), ("user", "done", "")),
    "many" -> (0 until 12).map(i => (if (i % 3 == 0) "user" else "assistant",
      s"turn $i   words ${"x" * (i % 4)}", if (i % 5 == 0) s"tool$i" else "")))

  private lazy val transcripts: DataFrame = {
    import spark.implicits._
    val edgeTurns = edge.flatMap { case (id, turns) =>
      turns.zipWithIndex.map { case ((role, text, tool), i) =>
        Turn(id, i, role, text, tool, ts(i)) }
    }
    val synth = SynthTranscripts.transcripts(spark,
      SynthTranscripts.Config(seed = 11L, nConvs = 300)).collect().toSeq
    // RDD-backed, shuffled turn order: the fold must sort the turns itself
    spark.sparkContext.parallelize(
      new scala.util.Random(3).shuffle(edgeTurns ++ synth), 4)
      .toDF()
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codegenOff = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[String]("conv_id"))

  /** The kernel's fold equals the oracle's, row for row, under the
    * current session settings; returns the kernel's rows by conv_id. */
  private def check(maxTurns: Int, codegen: Boolean): Map[String, Row] = {
    val kernel = Fold.fold(transcripts, maxTurns)
    val oracle = oracleFold(transcripts, maxTurns)
    assert(kernel.schema == oracle.schema,
      s"\n${kernel.schema.treeString}\nvs\n${oracle.schema.treeString}")
    val got = sorted(kernel)
    val want = sorted(oracle)
    val (nGot, nWant) = (got.size, want.size)
    assert(nGot == nWant && nGot > edge.size)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n$g\nvs\n$w") }
    // the kernel ran on the path under test: a Generate inside whole-stage
    // codegen is printed with its codegen stage id
    val plan = kernel.queryExecution.executedPlan.toString
    val generated = "\\*\\(\\d+\\) Generate inline\\(array\\(fold_fields".r
      .findFirstIn(plan).isDefined
    assert(plan.contains("fold_fields") && generated == codegen, plan)
    got.map(r => r.getAs[String]("conv_id") -> r).toMap
  }

  for (icu <- Seq(true, false); codegen <- Seq(true, false)) {
    val mode = s"${if (codegen) "codegen" else "eval"}, icu case mapping $icu"
    test(s"Fold.fold ≡ the Column derivation ($mode)") {
      withConf((SQLConf.ICU_CASE_MAPPINGS_ENABLED.key -> icu.toString) +:
          (if (codegen) Nil else codegenOff): _*) {
        val rows = check(0, codegen)
        def field(id: String, f: String) = rows(id).getAs[Any](f)
        def addr(id: String) = rows(id).getAs[Row]("addr")
        // the corpus reaches the cases the oracle special-cases
        assert(field("no_user", "family_name") == "" &&
          field("no_user", "given_name") == "")
        assert(field("first_user_null", "family_name") == "" &&
          field("first_user_null", "given_name") == "LATER WORDS")
        assert(field("single_null_role", "sex") == null)
        assert(addr("single") == Row("ONE", "", "", "", "", "ONE"))
        assert(addr("two_tokens") == Row("ALPHA", "", "BRAVO", "", "", "ALPHA BRAVO"))
        assert(addr("tool_only") ==
          Row("", "", "", "TOOL", "BROWSERSEARCH", ""))
        assert(field("whitespace", "family_name") == "LEAD TAB RUN NEWLINE")
        assert(field("whitespace", "given_name") == "MID VT FF END")
        // `upper` maps ß to SS and ﬁ to FI, unlike a per-char ASCII upper
        assert(field("tools_case", "phone_number") ==
          "FILESEARCHGETWEATHERILOOKUPSSSTANBULSTRASSE")
      }
    }
  }

  test("Fold.fold ≡ the Column derivation under maxTurns, both code paths") {
    Seq(1, 2, 5).foreach { m =>
      val rows = check(m, codegen = true)
      withConf(codegenOff: _*)(check(m, codegen = false))
      assert(rows("many").getAs[collection.Seq[Row]]("turns").size == m)
    }
  }
}
