package graft.linkage

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Thin spark-submit wrappers completing the reference's five-executable
  * surface (VERDICT r02 "What's missing" #1). The library stages all
  * existed (Extract/Garble/lambdaBlocks/Resolve); these mains only parse
  * argv, wire files through them, and write reference-shaped artifacts:
  *
  *   ExtractMain — extract.py:289–309  (csv → pii-<ts>.csv + metadata)
  *   GarbleMain  — garble.py:160–164   (pii → per-schema CLKs + zip)
  *   BlockMain   — block.py:55–59      (CLKs → garbled_blocked.zip)
  *   ResolveMain — linkid_to_patid.py:189–191 (links zips → id CSVs)
  *
  * (households.py's analog is LinkageMain.)
  */
private[graft] object Cli {
  /** `--key value` for each of `options`, bare `--flag` for each of
    * `flags`; any other argument, a `--key` the main does not read
    * included, is refused. */
  private def parse(args: Array[String], options: Set[String],
                    flags: Set[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val key = if (args(i).startsWith("--")) args(i).drop(2) else ""
      if (flags.contains(key)) {
        m(key) = "true"; i += 1
      } else if (options.contains(key) && i + 1 < args.length) {
        m(key) = args(i + 1); i += 2
      } else if (options.contains(key))
        throw new IllegalArgumentException(s"--$key needs a value")
      else if (key.nonEmpty)
        throw new IllegalArgumentException(s"unknown option --$key")
      else throw new IllegalArgumentException(s"unexpected arg: ${args(i)}")
    }
    m.toMap
  }

  /** Every CLI main's body: parse argv against the main's value
    * `options` and `flags` BEFORE building the session (a bad argv fails
    * without spinning up a cluster session), then run, and stop the
    * session even when `run` throws. Returns `run`'s result. */
  def main[T](name: String, args: Array[String],
              options: Set[String] = Set.empty,
              flags: Set[String] = Set.empty)
             (run: (SparkSession, Map[String, String]) => T): T = {
    val opts = parse(args, options, flags)
    val spark = session(name)
    try run(spark, opts)
    finally spark.stop()
  }

  private def session(name: String): SparkSession = {
    val builder = SparkSession.builder()
      .appName(name)
      .config("spark.sql.session.timeZone", "UTC")
      // plan-STRING rendering cap: composed pipelines (CleanCorpus with
      // every optional stage) reference persisted subtrees several times
      // each, and the default ~2 GB cap let a single AQE explain-string
      // render OOM an 8 GB driver. Affects only log/UI strings.
      .config("spark.sql.maxPlanStringLength", "100000")
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key,
      throw new IllegalArgumentException(s"--$key required"))

  /** Daily-append guard shared by the `--previous` mains: the
    * incremental result reads the previous run's tables lazily, so
    * writing them back to the same dir would overwrite files a running
    * plan is still reading. Compared Hadoop-qualified, not via
    * java.io.File: the same store spelled with and without a scheme
    * (hdfs://nn/store vs /store) is one path to the FileSystem but two
    * distinct local-File canonical strings (ADVICE r04). */
  def requireOutputDiffers(spark: SparkSession, previous: String,
                           output: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def qual(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).makeQualified(hp).toString
    }
    require(qual(previous) != qual(output),
      s"--output must differ from --previous ($previous): the incremental " +
        "run reads the previous tables lazily and overwriting them " +
        "mid-read corrupts the cumulative store")
  }

  def readText(spark: SparkSession, path: String): String = {
    val in = TableIO.fileSystem(spark, path)
      .open(new org.apache.hadoop.fs.Path(path))
    val txt = scala.io.Source.fromInputStream(in).mkString
    in.close()
    txt
  }
}

/** extract.py analog: CSV source + reference-shaped translation config →
  * cleaned, validated, shuffled pii-<ts>.csv + metadata-<ts>.json pair.
  *
  *   spark-submit --class graft.linkage.ExtractMain <jar> \
  *     --input <source csv> --output <dir> \
  *     [--conf <translation json>] [--seed <n>] [--verbose]
  */
object ExtractMain {
  def main(args: Array[String]): Unit =
    Cli.main("graft-extract", args,
      options = Set("input", "output", "conf", "seed"),
      flags = Set("verbose"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): String = {
    val in = Cli.required(opts, "input")
    val out = Cli.required(opts, "output")
    val conf = opts.get("conf")
      .map(p => Extract.readTranslationConf(spark, p))
      .getOrElse(Extract.TranslationConfig(
        // CSV dictionary (data_reader.py:35–44): identity column names
        Extract.Header.map(f => f -> Extract.FieldSpec(Seq(f))).toMap))
    val issues = Extract.validateConfig(conf)
    if (opts.contains("verbose")) {
      if (issues.isEmpty) println("No issues found in csv extraction config")
      else {
        println(s"Found ${issues.length} issues in csv extraction config:")
        issues.foreach(i => println(s"\t- $i"))
      }
    }
    val source = Extract.readCsvAllStrings(spark, in)
    val seed = opts.get("seed").map(_.toLong).getOrElse(42L)
    val pii = Extract.extract(source, conf, seed)
    val ts = Extract.writePii(pii, out, java.time.LocalDateTime.now())
    println(s"[graft] extract complete: pii-$ts.csv")
    ts
  }
}

/** garble.py analog: newest pii under --piidir (or explicit --input csv),
  * one CLK table per *.json schema under --schemadir, metadata with
  * garble_time, everything zipped.
  *
  *   spark-submit --class graft.linkage.GarbleMain <jar> \
  *     --schemadir <dir> --secretfile <file> --output <dir> \
  *     (--piidir <temp-data dir> | --input <pii csv>)
  *
  * CLKs are the anonlink blakeHash strategy (keyed blake2b + HKDF field
  * keys from the whole households/individuals subkey, crypto.ClkCrypto).
  */
object GarbleMain {
  def main(args: Array[String]): Unit =
    Cli.main("graft-garble", args, options = Set("output", "secretfile",
      "input", "piidir", "schemadir"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): Seq[String] = {
    val out = Cli.required(opts, "output")
    val secret = Cli.readText(spark,
      Cli.required(opts, "secretfile")).trim
    val (pii, meta) = opts.get("input") match {
      case Some(p) =>
        val df = Extract.readCsvAllStrings(spark, p)
        (df, Extract.metadata(df))
      case None =>
        Extract.readLatestPii(spark, Cli.required(opts, "piidir"))
    }
    val records = pii.withColumn("conv_id", col("record_id"))
    val garbleTime = java.time.LocalDateTime.now().format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    val dirs = Garble.garbleFlow(records,
      Cli.required(opts, "schemadir"), secret, out, meta, garbleTime)
    // the ClkCrypto caveat, surfaced at the CLI (VERDICT r04 #7): the
    // blake2b/HKDF primitives are RFC-vector-tested, but byte parity of
    // the CLK COMPOSITION (field keys → bigrams → k bit indices) with
    // anonlink/clkhash has no offline ground-truth vector — a user about
    // to exchange zips with a real CODI linkage agent must know
    println("[graft] NOTE: CLKs use RFC-vector-tested blake2b/HKDF " +
      "primitives, but the CLK composition is NOT certified " +
      "byte-compatible with anonlink/clkhash — cross-validate against the " +
      "agent's clkhash output before exchanging encodings (SURVEY.md §7.5)")
    println(s"[graft] garble complete: ${dirs.size} schema(s) → $out.zip")
    dirs
  }
}

/** block.py analog: λ-fold block keys for every CLK table under
  * --clkpath, packaged as garbled_blocked.zip (block.py:49–52 shape:
  * one blocked member per CLK input).
  *
  *   spark-submit --class graft.linkage.BlockMain <jar> \
  *     --clkpath <dir of CLK tables> --output <dir> \
  *     [--schemafile <lambda.json>]
  *
  * Record identity inside a blocked file is the record's 0-based position
  * in its CLK table (scan order — the same positional identity anonlink's
  * blocking output uses).
  */
object BlockMain {
  private[linkage] case class LambdaParams(lambda: Int = 3, bfLen: Int = 64,
                                           k: Int = 5, seed: Int = 0)

  private[linkage] def readLambdaSchema(spark: SparkSession,
                                        path: String): LambdaParams = {
    val cfg = TableIO.parseJson(Cli.readText(spark, path)).path("config")
    LambdaParams(
      lambda = cfg.path("Lambda").asInt(3),
      bfLen = cfg.path("bf-len").asInt(64),
      k = cfg.path("K").asInt(5),
      seed = cfg.path("random_state").asInt(0))
  }

  def main(args: Array[String]): Unit = Cli.main("graft-block", args,
    options = Set("clkpath", "output", "schemafile"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val clkPath = Cli.required(opts, "clkpath")
    val out = Cli.required(opts, "output")
    val p = opts.get("schemafile")
      .map(readLambdaSchema(spark, _)).getOrElse(LambdaParams())

    val fs = TableIO.fileSystem(spark, clkPath)
    val clkTables = fs.listStatus(new org.apache.hadoop.fs.Path(clkPath))
      .toSeq.filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    require(clkTables.nonEmpty, s"no CLK table dirs under $clkPath")

    clkTables.foreach { dir =>
      // Garble.readClks yields the wire-positional (record_index, clk)
      // pairs — array order for the single-doc wire format, scan order
      // (single-file-guarded) for legacy JSONL tables
      val indexed = Garble.readClks(spark, dir.toString)
        .withColumnRenamed("record_index", "conv_id")
      val blocks = Garble.lambdaBlocks(indexed,
          lambda = p.lambda, k = p.k, seed = p.seed)
        .withColumnRenamed("conv_id", "record_index")
      blocks.write.mode("overwrite").json(s"$out/blocked/${dir.getName}")
    }
    Garble.zipDirectory(spark, s"$out/blocked", s"$out/garbled_blocked.zip")
    println(s"[graft] block complete: ${clkTables.size} CLK table(s) → " +
      s"$out/garbled_blocked.zip")
  }
}

/** data_analysis.py analog: PII profiling reports over a pii CSV.
  *
  *   spark-submit --class graft.linkage.AnalyzeMain <jar> \
  *     --csv <pii csv> --output <dir> [--source <tag>]
  *
  * Writes results_<source>.json.txt (aggregate stats) and
  * private_results_<source>.json.txt (PII-bearing top-10s) — the
  * reference's two-file split (data_analysis.py:179–197).
  */
object AnalyzeMain {
  def main(args: Array[String]): Unit = Cli.main("graft-analyze", args,
    options = Set("csv", "output", "source"))(run)

  def run(spark: SparkSession, opts: Map[String, String]): (String, String) = {
    val df = Extract.readCsvAllStrings(spark, Cli.required(opts, "csv"))
    val out = Analyze.writeReports(df, Cli.required(opts, "output"),
      source = opts.getOrElse("source", "csv"))
    println(s"[graft] Wrote aggregate results to ${out._1}")
    println(s"[graft] Wrote PRIVATE results to ${out._2}")
    out
  }
}

/** validate_metadata.py analog: diff the metadata member of the garbled
  * source zip against the linkage agent's results zip.
  *
  *   spark-submit --class graft.linkage.ValidateMetadataMain <jar> \
  *     --source <garbled zip> --linkage <results zip> [--verbose]
  *
  * Prints "Validation Successful/Failed" with the issue count
  * (validate_metadata.py:73–85); returns the issue list for callers.
  * The linkage zip's nested input_system_metadata keys are picked up by
  * [[Extract.parseMetadata]], the one flat string-pair reader.
  */
object ValidateMetadataMain {
  def main(args: Array[String]): Unit = {
    val issues = Cli.main("graft-validate-metadata", args,
      options = Set("source", "linkage"), flags = Set("verbose"))(run)
    if (issues.nonEmpty) sys.exit(1)
  }

  def run(spark: SparkSession, opts: Map[String, String]): Seq[String] = {
    def meta(path: String): Map[String, String] =
      Resolve.metadataFromZip(spark, path).getOrElse {
        println(s"WARNING: could not find metadata file in $path")
        Map.empty
      }
    val source = meta(Cli.required(opts, "source"))
    val linkage = meta(Cli.required(opts, "linkage"))
    val issues = Resolve.metadataDiff(source, linkage)
    if (issues.nonEmpty) {
      println(s"Validation Failed: \nFound ${issues.length} issues")
      if (opts.contains("verbose")) issues.foreach(i => println("\t" + i))
    } else println(s"Validation Successful: Found ${issues.length} issues")
    issues
  }
}

/** linkid_to_patid.py analog: translate the linkage agent's LINK_ID /
  * HOUSEHOLD_ID zips back to local record ids.
  *
  *   spark-submit --class graft.linkage.ResolveMain <jar> \
  *     --output <dir> \
  *     [--sourcefile <pii csv> --linkszip <zip>]        → linkid_to_patid.csv
  *     [--hhsourcefile <hh csv> --hhlinkszip <zip>]     → householdid_to_patid.csv
  *     [--metadata <local metadata json>] [--force]
  *
  * Positions are the reference's: 0-based data-row index in the SOURCE
  * FILE (the joins are [[Resolve.linkIds]] / [[Resolve.householdIds]]).
  */
object ResolveMain {
  def main(args: Array[String]): Unit =
    Cli.main("graft-resolve", args, options = Set("output", "metadata",
      "sourcefile", "linkszip", "hhsourcefile", "hhlinkszip"),
      flags = Set("force"))(run)

  /** One header-bearing CSV file; the row count is observed on the write
    * itself, not by re-running the join. */
  private def writeCsv(df: DataFrame, path: String): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    rows.get("rows").asInstanceOf[Long]
  }

  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val out = Cli.required(opts, "output")
    val force = opts.contains("force")

    // metadata gate (translate_linkids, linkid_to_patid.py:159,185)
    for (metaPath <- opts.get("metadata"); zip <- opts.get("linkszip")) {
      val expected = Extract.readMetadata(spark, metaPath)
      Resolve.metadataFromZip(spark, zip) match {
        case Some(actual) => Resolve.gate(expected, actual, force)
        case None =>
          require(force, s"no metadata member found in $zip (use --force)")
      }
    }

    for (src <- opts.get("sourcefile"); zip <- opts.get("linkszip")) {
      val n = writeCsv(Resolve.linkIds(Resolve.readZipMemberCsv(spark, zip),
        Extract.readCsvAllStrings(spark, src)), s"$out/linkid_to_patid_csv")
      println(s"[graft] wrote linkid_to_patid ($n rows)")
    }

    for (src <- opts.get("hhsourcefile"); zip <- opts.get("hhlinkszip")) {
      val n = writeCsv(Resolve.householdIds(
          Resolve.readZipMemberCsv(spark, zip),
          Extract.readCsvAllStrings(spark, src)),
        s"$out/householdid_to_patid_csv")
      println(s"[graft] wrote householdid_to_patid ($n rows)")
    }
  }
}
