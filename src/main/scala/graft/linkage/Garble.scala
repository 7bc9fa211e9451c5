package graft.linkage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Garble + block stages — reference `garble.py` / `block.py`: CLK
  * Bloom encodings per schema, λ-fold blocking keys, zip
  * packaging. The anonlink subprocess boundary collapses into in-engine
  * Catalyst expressions (SURVEY.md §2.8, §7.5).
  */
object Garble {

  /** Secret validation (garble.py:48–60): hex, ≥ 32 chars. */
  def validateSecret(secret: String): String = {
    require(secret.matches("[0-9a-fA-F]+"),
      "Secret must be in hexadecimal format")
    require(secret.length >= 32, "Secret smaller than minimum security level")
    secret
  }

  /** HMAC-SHA256 subkey derivation (derive_subkey.py:5–10),
    * context ∈ {individuals, households}. */
  def deriveSubkey(secret: String, context: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(context.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Schema validation: refuse the insecure doubleHash variant
    * (garble.py:128–133). */
  case class ClkSchema(fields: Seq[String], hashType: String = "blakeHash")
  def validateSchema(schema: ClkSchema): ClkSchema = {
    require(schema.hashType != "doubleHash",
      "doubleHash is insecure and not supported (garble.py:128–133)")
    schema
  }

  /** Individual CLKs: one 4096-bit encoding per record over the schema
    * fields (garble.py:135–145 / name-sex-dob-addr schema) — the anonlink
    * "blakeHash" strategy: HKDF-SHA256 per-field keys from the whole
    * subkey + keyed blake2b-512 per bigram (crypto.ClkCrypto;
    * RFC-vector-tested primitives). */
  def clks(records: DataFrame, schema: ClkSchema, secret: String,
           context: String = "individuals"): DataFrame = {
    validateSchema(schema)
    val subkey = deriveSubkey(validateSecret(secret), context)
    records.select(col("conv_id"),
      gf.clk_encode_blake(subkey, schema.fields.map(col): _*).as("clk"))
  }

  /** Household CLKs from cluster representatives
    * (households.py:308–334 analog), encoded like [[clks]] under the
    * households subkey. */
  def householdClks(clusters: DataFrame, secret: String): DataFrame = {
    val subkey = deriveSubkey(validateSecret(secret), "households")
    clusters.select(col("cluster_id"),
      gf.clk_encode_blake(subkey,
        col("family_name"), col("phone_number"),
        col("household_street_address"), col("household_zip")).as("clk"))
  }

  /** CLK JSON sink (S8): ONE file holding ONE JSON document
    * {"clks": ["<base64>", …]} — the reference's literal wire shape
    * (garble.py writes a single json doc; validate_clks does
    * json.load(f) then len(data["clks"]), garble.py:63–74), so this
    * export is parseable by the reference consumer as-is.
    *
    * Single-file/single-doc is load-bearing, not a convenience: the CLK
    * wire format is positional (no record id — downstream blocking and
    * the linkage agent identify a record by its index in the array), so
    * the array order must equal the pii source-row order end to end.
    * The encode runs at FULL parallelism and is materialized first (a
    * driver-funnelled plan would run the whole blake2b CLK hash on one
    * core); the driver then streams the
    * cached partitions out in partition-index order, one partition in
    * memory at a time. The export is driver-IO-bound BY the wire format
    * itself — the reference consumer is a single-node agent doing
    * json.load; scale the linkage, not this export. Spark's base64 is
    * MIME-chunked (CRLF every 76 chars); the chunking is stripped so the
    * emitted strings are plain single-line base64 — raw CRLF inside a
    * JSON string literal would not be valid JSON. Returns the number of
    * CLKs written. */
  def writeClksJson(clksDf: DataFrame, path: String): Long = {
    val spark = clksDf.sparkSession
    val b64 = clksDf.select(
      regexp_replace(base64(col("clk")), "[\\r\\n]", "").as("clks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    b64.count()
    val fs = TableIO.fileSystem(spark, path)
    val dirPath = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    // member file named after the table dir: zipDirectory flattens member
    // names, so per-schema dirs must yield distinct entries in the zip
    val out = new java.io.BufferedOutputStream(fs.create(
      new org.apache.hadoop.fs.Path(dirPath, s"${dirPath.getName}.json"),
      true), 1 << 20)
    out.write("""{"clks": [""".getBytes("UTF-8"))
    val it = b64.toLocalIterator() // partition-index order = source order
    var written = 0L
    while (it.hasNext) {
      if (written > 0) out.write(',')
      out.write('"')
      out.write(it.next().getString(0).getBytes("UTF-8"))
      out.write('"')
      written += 1
    }
    out.write("]}".getBytes("UTF-8"))
    out.close()
    b64.unpersist(blocking = false)
    written
  }

  /** Read a CLK table back as (record_index, clk) with record_index the
    * record's 0-based wire position — the positional identity blocking
    * and LINK_ID resolution key on. Handles both layouts:
    *  - the wire format [[writeClksJson]] emits (one {"clks": [...]}
    *    document): positions come from the ARRAY order, exact by
    *    construction;
    *  - legacy JSONL tables (one {"clks": "<b64>"} object per line):
    *    positions are scan order, well-defined only over ONE file —
    *    multi-part scans order splits by size, not name, so sharded
    *    foreign tables are refused rather than silently mis-numbered. */
  def readClks(spark: SparkSession, dir: String): DataFrame = {
    val fs = TableIO.fileSystem(spark, dir)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    require(dataFiles.length == 1,
      s"CLK table $dir has ${dataFiles.length} data files; positional " +
        "record identity needs exactly one (re-export with writeClksJson)")
    val raw = spark.read.json(dataFiles.head.getPath.toString)
    raw.schema("clks").dataType match {
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        raw.select(posexplode(col("clks")).as(Seq("record_index", "b64")))
          .select(col("record_index").cast("long"),
            unbase64(col("b64")).as("clk"))
      case _ =>
        Positions.withScanPosition(
            raw.select(unbase64(col("clks")).as("clk")), "record_index")
          .select(col("record_index"), col("clk"))
    }
  }

  /** λ-fold block keys (block.py:41–44 + lambda.json): (conv_id,
    * block_key) with Λ keys per record, exploded. */
  def lambdaBlocks(clksDf: DataFrame, lambda: Int = 3, k: Int = 5,
                   seed: Int = 0): DataFrame =
    clksDf.select(col("conv_id"),
      explode(gf.lambda_fold_keys(col("clk"), lambda, 64, k, seed))
        .as("block_key"))

  /** Parse a linkage-schema JSON document: {"fields": ["family_name",…],
    * "hashType": "blakeHash"} (the anonlink-schema analog the multi-schema
    * flow iterates over). */
  def readSchema(spark: SparkSession, path: String): ClkSchema = {
    val txt = Cli.readText(spark, path)
    val fields = """"fields"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    val hashType = """"hashType"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("blakeHash")
    // the reference refuses ANY schema file mentioning doubleHash
    // (garble.py:128–133) before hashing a single record
    require(!txt.contains("doubleHash"),
      s"schema uses doubleHash, which is insecure: $path")
    ClkSchema(fields, hashType)
  }

  /** Multi-schema garble flow (garble.py:82–157): iterate every *.json
    * schema under `schemaDir`, CLK-encode the records once per schema
    * into `outDir/<schema-name>/`, stamp `garble_time` into the metadata
    * document (written alongside), validate the number of CLKs each
    * table was written with against metadata.number_of_records
    * (validate_clks, garble.py:63–74),
    * and package everything into `<outDir>.zip`. `garbleTime` is
    * caller-injected (the reference stamps datetime.now(); deterministic
    * runs are a documented deviation, SURVEY.md §7.5). Returns the list
    * of written CLK table paths. */
  def garbleFlow(records: DataFrame, schemaDir: String, secret: String,
                 outDir: String, metadata: Map[String, String],
                 garbleTime: String): Seq[String] = {
    val spark = records.sparkSession
    val fs = TableIO.fileSystem(spark, schemaDir)
    val schemaPaths = fs.listStatus(
        new org.apache.hadoop.fs.Path(schemaDir)).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".json")).sortBy(_.getName)
    require(schemaPaths.nonEmpty, s"no *.json schema under $schemaDir")
    val expected = metadata.get("number_of_records").map(_.toLong)
    val clkDirs = schemaPaths.map { p =>
      val schema = readSchema(spark, p.toString)
      val dir = s"$outDir/${p.getName.stripSuffix(".json")}"
      val written = writeClksJson(clks(records, schema, secret), dir)
      expected.foreach(e => require(written == e,
        s"Expected $e in $dir, found $written"))
      dir
    }
    Extract.writeMetadata(spark,
      metadata + ("garble_time" -> garbleTime), s"$outDir/metadata.json")
    zipDirectory(spark, outDir, s"$outDir.zip")
    clkDirs
  }

  /** S7: zip packaging (driver-side java.util.zip, garble.py:151–157) —
    * bundles the shard files under `dir` into one zip. */
  def zipDirectory(spark: SparkSession, dir: String, zipPath: String): Unit = {
    val fs = TableIO.fileSystem(spark, dir)
    val out = new java.util.zip.ZipOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(zipPath), true))
    val files = TableIO.listFilesRecursive(fs,
      new org.apache.hadoop.fs.Path(dir)).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    files.foreach { path =>
      out.putNextEntry(new java.util.zip.ZipEntry(path.getName))
      val in = fs.open(path)
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      out.closeEntry()
    }
    out.close()
  }
}
