package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The `analyze` report driver — reference data_analysis.py:36–112 +
  * 175–197: the data_analysis aggregations, composed into the reference's
  * actual deliverable, a (stats, raw_values) JSON document pair, with the
  * PII-spill guards enforced INSIDE:
  *
  *  - min-count guard (data_analysis.py:91–104, top_N lower_limit=3):
  *    name/address/phone top-10s never include a value seen < 3 times —
  *    filtered in the DataFrame, not left to the caller;
  *  - <20%-dup guard (data_analysis.py:46–50): individual duplicate
  *    record ids are reported only when 0 < dups < 20% of unique ids.
  *
  * Every top-N is a TakeOrderedAndProject (global sort+limit — no
  * single-partition window); summaries are one multi-aggregate job over
  * all five PII fields. Deviations (SURVEY.md §7.5): length quantiles use
  * percentile_approx (accuracy 10k) instead of pandas' exact describe;
  * the duplicate-id dict is capped at `dupReportCap` rows driver-side
  * (the reference materializes it unbounded — a driver OOM at web scale).
  */
object Analyze {

  case class Config(
      topN: Int = 10,
      minCount: Long = 3,
      dupShareMax: Double = 0.2,
      dupReportCap: Int = 100000)

  /** Stats/raw_values as ordered nested maps (String, Long, Double,
    * ListMap, Seq are the only value shapes); render with [[toJson]]. */
  def analyze(df: DataFrame, cfg: Config = Config())
      : (ListMap[String, Any], ListMap[String, Any]) = {
    // case-insensitive column resolution (data_reader.py:117–125)
    def c(name: String): Column =
      col(df.columns.find(_.equalsIgnoreCase(name)).getOrElse(name))
    def nonBlank(x: Column): Column = x.isNotNull && trim(x) =!= ""
    // load_csv turns blanks into NaN, so "" is missing throughout
    def present(x: Column): Column = when(nonBlank(x), x)

    var stats = ListMap[String, Any]()
    var raw = ListMap[String, Any]()

    // --- record_id uniqueness + the <20% dup guard (lines 42–50) ---
    val idCounts = df.groupBy(c("record_id").as("record_id"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idRow = idCounts.agg(
      count(lit(1)).as("uniq"),
      count(when(col("cnt") > 1, 1)).as("dups"),
      coalesce(sum(col("cnt")), lit(0L)).as("rows")).head()
    val (uniq, dups, nRows) =
      (idRow.getLong(0), idRow.getLong(1), idRow.getLong(2))
    stats += ("number_of_rows" -> nRows)
    stats += ("total_unique_record_ids" -> uniq)
    stats += ("record_ids_with_duplicates" -> dups)
    if (dups > 0 && dups < uniq * cfg.dupShareMax) {
      val dupRows = idCounts.filter(col("cnt") > 1)
        .orderBy(col("cnt").desc, col("record_id"))
        .limit(cfg.dupReportCap).collect()
      raw += ("duplicate_record_ids" -> ListMap(dupRows.map(r =>
        r.get(0).toString -> r.getLong(1)): _*))
    }
    idCounts.unpersist()

    // --- DOB min/max/missing (+ century-parsed variant, lines 52–75) ---
    val dob = c("DOB")
    val dobRow = df.agg(
      min(present(dob)).as("min"),
      max(present(dob)).as("max"),
      coalesce(sum(when(nonBlank(dob), 0).otherwise(1)), lit(0L))
        .as("missing")).head()
    var dobStats = ListMap[String, Any](
      "min" -> Option(dobRow.getString(0)).getOrElse(""),
      "max" -> Option(dobRow.getString(1)).getOrElse(""),
      "missing" -> dobRow.getLong(2))
    val sample = df.filter(nonBlank(dob)).select(dob).head(1)
    if (sample.nonEmpty && !sample(0).getString(0).contains("-")) {
      // yymmdd with century inference (yymmdd_to_date, lines 115–126)
      val parsed = try_to_date(concat(
        when(substring(present(dob), 1, 1).isin("0", "1", "2"), "20")
          .otherwise("19"), present(dob)), "yyyyMMdd")
      val p = df.agg(
        date_format(min(parsed), "yyyy-MM-dd").as("mn"),
        date_format(max(parsed), "yyyy-MM-dd").as("mx")).head()
      dobStats += ("min_parsed" -> p.getString(0))
      dobStats += ("max_parsed" -> p.getString(1))
    }
    stats += ("dob" -> dobStats)

    // --- value distributions (lines 77–89) ---
    // value_counts drops NaN (pandas default): present(...)-wrapped
    // columns null out blanks and drop here; to_format columns are never
    // null (null → "" is a counted format, matching the reference)
    def topNMap(x: Column, n: Int, lower: Long = 1): ListMap[String, Any] = {
      val counted = df.filter(x.isNotNull)
        .groupBy(x.as("v")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= lower)
        .orderBy(col("cnt").desc, col("v"))
      val rows = (if (n > 0) counted.limit(n) else counted).collect()
      ListMap(rows.map(r =>
        Option(r.get(0)).map(_.toString).getOrElse("") -> r.getLong(1)): _*)
    }
    def format(x: Column): Column = // to_format (lines 129–136): null → ""
      regexp_replace(regexp_replace(coalesce(x, lit("")), "[0-9]", "#"),
        "[A-Za-z]", "X")

    stats += ("sex" -> topNMap(present(c("sex")), 0))
    stats += ("zip_format" -> topNMap(format(c("household_zip")), 0))
    stats += ("top_10_zip_codes" -> topNMap(present(c("household_zip")),
      cfg.topN))
    stats += ("phone_format" -> topNMap(format(c("phone_number")), 0))

    // PRIVATE report: min-count guard inside the query (lines 91–104)
    raw += ("top_10_given_names" ->
      topNMap(present(c("given_name")), cfg.topN, cfg.minCount))
    raw += ("top_10_family_names" ->
      topNMap(present(c("family_name")), cfg.topN, cfg.minCount))
    raw += ("top_10_addresses" ->
      topNMap(present(c("household_street_address")), cfg.topN, cfg.minCount))
    raw += ("top_10_phone_numbers" ->
      topNMap(present(c("phone_number")), cfg.topN, cfg.minCount))

    // --- field_summaries (lines 106–108 + summary(), 158–172):
    // missing / length-describe / char histogram per PII field ---
    val fields = Seq("given_name", "family_name",
      "household_street_address", "household_zip", "phone_number")
    val lenAggs = fields.flatMap { f =>
      val len = length(present(c(f))).cast("double")
      Seq(
        sum(when(nonBlank(c(f)), 0).otherwise(1)).as(s"${f}__missing"),
        count(len).as(s"${f}__count"),
        avg(len).as(s"${f}__mean"),
        stddev(len).as(s"${f}__std"),
        min(len).as(s"${f}__min"),
        percentile_approx(len, array(lit(0.25), lit(0.5), lit(0.75)),
          lit(10000)).as(s"${f}__q"),
        max(len).as(s"${f}__max"))
    }
    val lenRow = df.agg(lenAggs.head, lenAggs.tail: _*).head()
    def d(name: String): Any = lenRow.get(lenRow.fieldIndex(name)) match {
      case null => 0.0
      case v => v
    }
    val summaries = fields.map { f =>
      val q = lenRow.getSeq[Double](lenRow.fieldIndex(s"${f}__q"))
      val chars = df
        .select(explode(split(present(c(f)), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ch")).collect()
      f -> ListMap[String, Any](
        "missing" -> d(s"${f}__missing"),
        "length" -> ListMap[String, Any](
          "count" -> d(s"${f}__count"), "mean" -> d(s"${f}__mean"),
          "std" -> d(s"${f}__std"), "min" -> d(s"${f}__min"),
          "25%" -> (if (q == null) 0.0 else q(0)),
          "50%" -> (if (q == null) 0.0 else q(1)),
          "75%" -> (if (q == null) 0.0 else q(2)),
          "max" -> d(s"${f}__max")),
        "characters" -> ListMap(chars.map(r =>
          r.getString(0) -> r.getLong(1)): _*))
    }
    stats += ("field_summaries" -> ListMap(summaries: _*))
    (stats, raw)
  }

  /** Minimal ordered-JSON rendering (the reference json.dumps analog). */
  def toJson(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${toJson(x)}" }
        .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ", ", "]")
    case s: String => quote(s)
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  /** Write the pair as results_<source>.json.txt /
    * private_results_<source>.json.txt (data_analysis.py:188–197; the
    * timestamp in the name is replaced by the caller-supplied source tag —
    * deterministic runs, SURVEY.md §7.5). */
  def writeReports(df: DataFrame, outDir: String, source: String = "csv",
                   cfg: Config = Config()): (String, String) = {
    val (stats, raw) = analyze(df, cfg)
    val spark = df.sparkSession
    val statsPath = s"$outDir/results_$source.json.txt"
    val rawPath = s"$outDir/private_results_$source.json.txt"
    TableIO.writeFile(spark, statsPath, toJson(stats))
    TableIO.writeFile(spark, rawPath, toJson(raw))
    (statsPath, rawPath)
  }
}
