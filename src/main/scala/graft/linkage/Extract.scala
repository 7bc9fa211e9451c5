package graft.linkage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.linkage.expr.{functions => gf}

/** Extract/clean stage — reference `extract.py` + the config-driven source
  * mapping layer (utils/data_reader.py; SURVEY.md §2.2, §3.2).
  *
  * One declarative job: scan → per-field mapped/cleaned projection →
  * validation counters as `observe()` metrics (P5 — no second pass) →
  * seeded privacy shuffle (O1; the reference shuffles unseeded,
  * extract.py:134 — determinism is a documented deviation, §7.5).
  */
object Extract {

  /** Reference HEADER (extract.py:26–35). */
  val Header: Seq[String] = Seq("record_id", "given_name", "family_name",
    "DOB", "sex", "phone_number", "household_street_address",
    "household_zip")

  /** Per-field source spec (data_reader.py:13–44 DATA_DICTIONARY +
    * validate.py rules): one or more source columns (list-valued keys
    * concatenated with " ", data_reader.py:140–152), optional default,
    * optional value-mapping rules, optional date format. */
  case class FieldSpec(
      sources: Seq[String] = Nil,
      default: Option[String] = None,
      valueMap: Map[String, String] = Map.empty,
      dateFormat: Option[String] = None)

  case class TranslationConfig(fields: Map[String, FieldSpec])

  /** Translation-config validation (utils/validate.py:14–32): reject
    * malformed configs BEFORE extraction instead of silently defaulting.
    * Returns the issue list (empty = valid):
    *  - unknown target fields (not in HEADER) — typos in a config would
    *    otherwise be ignored and the field silently blank;
    *  - a mapped field with neither sources nor a default
    *    ("no target column or default value specified for field: X");
    *  - DOB mapped without a date ingest format
    *    ("No date ingest format specified"). */
  def validateConfig(conf: TranslationConfig): Seq[String] = {
    val unknown = conf.fields.keys.filterNot(Header.contains).toSeq.sorted
      .map(f => s"unknown field: $f")
    val missing = Header.filterNot(_ == "record_id").flatMap { f =>
      conf.fields.get(f) match {
        case Some(spec) if spec.sources.nonEmpty || spec.default.nonEmpty =>
          None
        case _ =>
          Some(s"no target column or default value specified for field: $f")
      }
    }
    val dateFmt = conf.fields.get("DOB") match {
      case Some(spec) if spec.sources.nonEmpty && spec.dateFormat.isEmpty =>
        Seq("No date ingest format specified")
      case _ => Nil
    }
    unknown ++ missing ++ dateFmt
  }

  /** Dictionary names the reference's configs use for three HEADER fields
    * (DATA_DICTIONARY, data_reader.py:13–44). */
  private val DictAliases = Map(
    "phone" -> "phone_number",
    "address" -> "household_street_address",
    "zip" -> "household_zip")

  /** Python strftime → java.time pattern for the subset the reference's
    * configs use (date_format, e.g. "%m/%d/%Y"). */
  private[linkage] def strftimeToJava(fmt: String): String =
    fmt.replace("%Y", "yyyy").replace("%y", "yy")
      .replace("%m", "MM").replace("%d", "dd")
      .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")

  /** Parse a REFERENCE-SHAPED translation config
    * (testing-and-tuning/sample_conf.json): top-level `date_format`
    * (strftime), `translation_map` with string-or-list source columns per
    * dictionary name (phone/address/zip aliases resolved to HEADER
    * names), nested `default_values` and `value_mapping_rules`.
    *
    * Keys of default_values / value_mapping_rules may be a dictionary
    * name (target-level rule) or a SOURCE column name; the reference
    * applies source-column rules before concatenation — with one
    * approximation: a default/mapping keyed on one member of a
    * multi-column source is attached to the whole target field here
    * (documented; the sample configs only use it for blank-ish
    * sentinels, which behave identically). */
  def readTranslationConf(spark: SparkSession,
                          path: String): TranslationConfig = {
    val root = TableIO.parseJson(Cli.readText(spark, path))
    val tm = root.path("translation_map")
    val dateFmt = Option(root.get("date_format")).map(n =>
      strftimeToJava(n.asText()))

    import scala.jdk.CollectionConverters._
    def fieldOf(dictName: String): String =
      DictAliases.getOrElse(dictName, dictName)
    // sources per target field
    val sources: Map[String, Seq[String]] = tm.properties().asScala
      .filterNot(e => Seq("default_values", "value_mapping_rules")
        .contains(e.getKey))
      .map { e =>
        val srcs =
          if (e.getValue.isArray) e.getValue.elements().asScala
            .map(_.asText()).toSeq
          else Seq(e.getValue.asText())
        fieldOf(e.getKey) -> srcs
      }.toMap
    def targetOf(key: String): Option[String] = {
      val direct = fieldOf(key)
      if (Header.contains(direct)) Some(direct)
      else sources.collectFirst {
        case (f, srcs) if srcs.exists(_.equalsIgnoreCase(key)) => f
      }
    }
    val defaults: Map[String, String] =
      tm.path("default_values").properties().asScala.flatMap { e =>
        targetOf(e.getKey).map(_ -> e.getValue.asText())
      }.toMap
    val valueMaps: Map[String, Map[String, String]] =
      tm.path("value_mapping_rules").properties().asScala
        .flatMap { e =>
          targetOf(e.getKey).map { f =>
            f -> e.getValue.properties().asScala
              .map(r => r.getKey -> r.getValue.asText()).toMap
          }
        }
        .groupBy(_._1).map { case (f, ms) =>
          f -> ms.map(_._2).reduce(_ ++ _)
        }
    val fields = (sources.keySet ++ defaults.keySet ++ valueMaps.keySet)
      .map { f =>
        f -> FieldSpec(
          sources = sources.getOrElse(f, Nil),
          default = defaults.get(f),
          valueMap = valueMaps.getOrElse(f, Map.empty),
          dateFormat = if (f == "DOB") dateFmt else None)
      }.toMap
    TranslationConfig(fields)
  }

  /** Case-insensitive source column resolution (map_key,
    * data_reader.py:117–125). */
  private def resolve(df: DataFrame, name: String): Option[Column] =
    df.columns.find(_.equalsIgnoreCase(name)).map(col)

  /** Cleaning per target field (extract.py:87–102;
    * data_reader.py:108–114). */
  private def cleaned(field: String, c: Column,
                      spec: FieldSpec): Column = field match {
    case "phone_number" =>
      regexp_replace(trim(c), "[^0-9]", "") // clean_phone
    case "household_zip" => trim(c) // clean_zip
    case "DOB" => // clean_dob_fromstr
      spec.dateFormat match {
        case Some(fmt) => // try_to_date: unparseable → "" even under ANSI
          coalesce(date_format(try_to_date(c, fmt), "yyyy-MM-dd"), lit(""))
        case None => trim(c)
      }
    case "record_id" | "sex" => trim(c)
    case _ => gf.normalize_ascii(c) // names/addresses: clean_string
  }

  /** Build the mapped+cleaned projection for one field. */
  private def fieldColumn(df: DataFrame, field: String,
                          spec: FieldSpec): Column = {
    val srcCols = spec.sources.flatMap(resolve(df, _))
    val raw: Column =
      if (srcCols.isEmpty) lit(spec.default.getOrElse(""))
      else if (srcCols.size == 1) srcCols.head
      else concat_ws(" ", srcCols: _*) // multi-column concat (P7)
    val defaulted = spec.default match {
      case Some(d) =>
        when(raw.isNull || trim(raw) === "", lit(d)).otherwise(raw)
      case None => coalesce(raw, lit("")) // empty-string nulls (P12)
    }
    // value-mapping rewrite (P6): ONE CaseWhen over the original value —
    // the reference applies a single dict lookup per value
    // (data_reader.py value_mapping_rules), so a rule's output must never
    // feed a later rule (A→B, B→C maps A to B, not C), and Map iteration
    // order must not matter (rules keyed on distinct `from` values commute)
    val mapped =
      if (spec.valueMap.isEmpty) defaulted
      else {
        val rules = spec.valueMap.toSeq.sortBy(_._1)
        rules.tail
          .foldLeft(when(defaulted === rules.head._1, lit(rules.head._2))) {
            case (acc, (from, to)) => acc.when(defaulted === from, lit(to))
          }
          .otherwise(defaulted)
      }
    cleaned(field, mapped, spec).as(field)
  }

  /** The extraction query. `observe` carries the validation report (P5:
    * null / blank / non-ascii / unmapped counts per field) — read it from
    * the listener or via df.observedMetrics after an action. */
  def extract(source: DataFrame, conf: TranslationConfig,
              shuffleSeed: Long = 42L): DataFrame = {
    val cols = Header.map(f =>
      fieldColumn(source, f, conf.fields.getOrElse(f, FieldSpec())))
    val projected = source.select(cols: _*)
    val validations = Header.flatMap { f =>
      Seq(
        sum(when(col(f) === "", 1).otherwise(0)).as(s"${f}_blank"),
        sum(when(col(f).rlike("[^\\x00-\\x7F]"), 1).otherwise(0))
          .as(s"${f}_non_ascii"))
    }
    projected
      .observe("extract_validation", validations.head, validations.tail: _*)
      .orderBy(rand(shuffleSeed)) // privacy shuffle, seeded (O1)
  }

  /** Reference timestamp format (definitions.py TIMESTAMP_FMT). */
  val TimestampFmt = "yyyyMMdd'T'HHmmss"

  /** extract.py write_data + write_metadata (262–287): the timestamped
    * pii-<ts>.csv / metadata-<ts>.json pair. `creationTime` is
    * caller-injected (the reference stamps datetime.now(); deterministic
    * runs, §7.5) and the content-hash run id replaces uuid1. Returns the
    * timestamp used in both names — garble's newest-source discovery
    * ([[readLatestPii]]) asserts the pair matches. */
  def writePii(df: DataFrame, dir: String,
               creationTime: java.time.LocalDateTime): String = {
    val ts = creationTime.format(
      java.time.format.DateTimeFormatter.ofPattern(TimestampFmt))
    df.select(Header.map(col): _*)
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$dir/pii-$ts.csv")
    writeMetadata(df.sparkSession,
      metadata(df) + ("creation_date" -> creationTime.format(
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss"))),
      s"$dir/metadata-$ts.json")
    ts
  }

  /** garble.py:82–110: resolve the NEWEST pii-<ts>.csv under `dir`, load
    * it all-string, and assert its metadata sibling's creation_date
    * matches the file's timestamp (the reference's staleness guard). */
  def readLatestPii(spark: SparkSession, dir: String)
      : (DataFrame, Map[String, String]) = {
    val path = TableIO.latestTimestampedPath(spark, dir, "pii-")
      .getOrElse(throw new IllegalArgumentException(s"no pii-* under $dir"))
    val ts = path.split("/").last.stripPrefix("pii-").stripSuffix(".csv")
    val meta = readMetadata(spark, s"$dir/metadata-$ts.json")
    val metaTs = meta.getOrElse("creation_date", "")
      .replace("-", "").replace(":", "")
    require(ts == metaTs,
      s"Metadata creation date does not match pii file timestamp " +
        s"($metaTs vs $ts)")
    (readCsvAllStrings(spark, path), meta)
  }

  /** S2: csv scan with everything forced to string and empty-string nulls
    * (households.py:131–142 semantics). */
  def readCsvAllStrings(spark: SparkSession, path: String): DataFrame = {
    val header = spark.read.option("header", "true").csv(path).schema
    val allStrings = StructType(header.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    val df = spark.read.option("header", "true").schema(allStrings).csv(path)
    df.select(df.columns.map(c => coalesce(col(c), lit("")).as(c)): _*)
  }

  /** S6: run metadata document (extract.py:262–271) — deterministic run id
    * (content hash replaces uuid1, deviation §7.5). */
  def metadata(df: DataFrame): Map[String, String] = {
    val n = df.count()
    val contentHash = df
      .agg(coalesce(bit_xor(xxhash64(Header.map(col): _*)), lit(0L)))
      .head().getLong(0)
    Map(
      "number_of_records" -> n.toString,
      "run_id" -> java.lang.Long.toHexString(contentHash))
  }

  def writeMetadata(spark: SparkSession, meta: Map[String, String],
                    path: String): Unit =
    TableIO.writeJson(spark, path,
      TableIO.jsonObject(meta.toSeq.sortBy(_._1): _*))

  def readMetadata(spark: SparkSession, path: String): Map[String, String] =
    parseMetadata(Cli.readText(spark, path))

  /** The flat `"key": "value"` string pairs of a run-metadata document,
    * found at any nesting depth: the one reader for the engine's own
    * metadata files and for the metadata member of an agent's zip
    * (validate_metadata.py:34–46), which is input from outside the
    * program and keeps this tolerance. */
  def parseMetadata(txt: String): Map[String, String] =
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
}
