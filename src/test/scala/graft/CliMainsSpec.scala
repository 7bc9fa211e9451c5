package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** CLI parity mains (extract.py / garble.py / block.py /
  * linkid_to_patid.py executables): one end-to-end chained run writing
  * reference-shaped artifacts at every stage. */
class CliMainsSpec extends AnyFunSuite with SparkFixture {

  private lazy val base = tempDir("cli")
  private def write(path: String, content: String): String = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, content)
    path
  }

  test("Cli.main fails a bad argv before building a session") {
    var ran = false
    intercept[IllegalArgumentException] {
      Cli.main("graft-bad-argv", Array("stray")) { (_, _) => ran = true }
    }
    // a session built first would be the shared one, stopped by the
    // wrapper's finally
    assert(!ran && !spark.sparkContext.isStopped)
    // an option the main does not read (--buckets was removed; a typo
    // such as --checkpont alike) is refused, not silently ignored
    val e = intercept[IllegalArgumentException] {
      LinkageMain.main(Array("--buckets", "8"))
    }
    assert(e.getMessage.contains("--buckets"))
    assert(!spark.sparkContext.isStopped)
  }

  test("ExtractMain: conf-mapped CSV → pii-<ts>.csv + metadata pair") {
    // reference-shaped source (faker-sample style) + sample_conf shape
    write(s"$base/source.csv",
      "record_id,First Name,Last Name,DateOfBirth,Telephone Number," +
        "Address Street,Address Detail,Zip\n" +
      "p1,Ana,García,02/29/2000,(555) 123-4567,205 Garden St,Apt 5F,02139\n" +
      "p2,Bob,Smith,01/15/1999,555.999.0000,1 Main St,N/A,02140\n")
    write(s"$base/conf.json",
      """{
        "date_format": "%m/%d/%Y",
        "translation_map": {
          "record_id": "record_id",
          "given_name": "First Name",
          "family_name": "Last Name",
          "DOB": "DateOfBirth",
          "phone": "Telephone Number",
          "address": ["Address Street", "Address Detail"],
          "zip": "Zip",
          "default_values": { "sex": "F" },
          "value_mapping_rules": { "sex": { "Female": "F", "Male": "M" } }
        }
      }""")
    val ts = ExtractMain.run(spark, Map(
      "input" -> s"$base/source.csv", "conf" -> s"$base/conf.json",
      "output" -> s"$base/temp-data", "verbose" -> "true"))
    val (pii, meta) = Extract.readLatestPii(spark, s"$base/temp-data")
    assert(meta("number_of_records") == "2")
    assert(pii.columns.toSeq == Extract.Header)
    val rows = pii.collect().map(r =>
      r.getString(0) -> Extract.Header.zipWithIndex.map { case (h, i) =>
        h -> r.getString(i) }.toMap).toMap
    // clean_string'd names (NFKD → ascii → upper), digits-only phone,
    // reformatted DOB, defaulted sex, concatenated address
    assert(rows("p1")("given_name") == "ANA")
    assert(rows("p1")("family_name") == "GARCIA")
    assert(rows("p1")("phone_number") == "5551234567")
    assert(rows("p1")("DOB") == "2000-02-29")
    assert(rows("p1")("sex") == "F")
    assert(rows("p1")("household_street_address") == "205 GARDEN ST APT 5F")
    assert(ts.nonEmpty)
  }

  test("GarbleMain: newest pii → per-schema CLKs + metadata + zip") {
    write(s"$base/secret.txt", "0123456789abcdef0123456789abcdef\n")
    write(s"$base/schemas/name-dob.json",
      """{"fields": ["given_name", "family_name", "DOB"],
         "hashType": "blakeHash"}""")
    // every run prints the uncertified-composition caveat (VERDICT r04
    // #7): capture the CLI's stdout
    val buf = new java.io.ByteArrayOutputStream()
    val dirs = Console.withOut(new java.io.PrintStream(buf)) {
      GarbleMain.run(spark, Map(
        "piidir" -> s"$base/temp-data",
        "schemadir" -> s"$base/schemas",
        "secretfile" -> s"$base/secret.txt",
        "output" -> s"$base/garbled"))
    }
    assert(buf.toString.contains("NOT certified byte-compatible"),
      s"missing crypto-interop caveat in CLI output:\n$buf")
    assert(dirs.size == 1)
    val clks = Garble.readClks(spark, dirs.head).collect()
      .map(_.getAs[Array[Byte]]("clk"))
    // two records, each a 4096-bit CLK
    assert(clks.length == 2 && clks.forall(_.length == 512))
    val meta = Extract.readMetadata(spark, s"$base/garbled/metadata.json")
    assert(meta.contains("garble_time"))
    assert(meta("number_of_records") == "2")
    assert(new java.io.File(s"$base/garbled.zip").exists())
  }

  test("BlockMain: CLK tables → garbled_blocked.zip (block.py:49-52 shape)") {
    BlockMain.run(spark, Map(
      "clkpath" -> s"$base/garbled",
      "output" -> s"$base/blockout"))
    assert(new java.io.File(s"$base/blockout/garbled_blocked.zip").exists())
    val blocks = spark.read.json(s"$base/blockout/blocked/name-dob")
    // Λ=3 block keys per record, record identity = CLK scan position
    assert(blocks.count() == 2 * 3)
    assert(blocks.columns.toSet == Set("block_key", "record_index"))
    assert(blocks.select("record_index").distinct().count() == 2)
  }

  test("garble→block positional identity: record_index i IS pii row i") {
    import org.apache.spark.sql.functions._
    // a many-partition pii source exercises the order-preservation chain:
    // pii row order → single-file CLK write order → scan-position index
    import spark.implicits._
    val n = 500
    val piiCsv = s"$base/posid/pii.csv"
    write(piiCsv,
      "record_id,given_name,family_name,DOB,sex,phone_number," +
        "household_street_address,household_zip\n" +
        (0 until n).map(i =>
          s"p$i,G$i,FAM$i,2000-01-0${i % 9 + 1},F,555000$i,$i MAIN ST,0$i")
          .mkString("\n") + "\n")
    write(s"$base/posid/schemas/name.json",
      """{"fields": ["given_name", "family_name"], "hashType": "blakeHash"}""")
    write(s"$base/posid/secret.txt", "0123456789abcdef0123456789abcdef\n")
    GarbleMain.run(spark, Map(
      "input" -> piiCsv,
      "schemadir" -> s"$base/posid/schemas",
      "secretfile" -> s"$base/posid/secret.txt",
      "output" -> s"$base/posid/garbled"))
    BlockMain.run(spark, Map(
      "clkpath" -> s"$base/posid/garbled",
      "output" -> s"$base/posid/blockout"))
    // independently recompute each record's expected block keys from the
    // pii file directly (same secret/schema), keyed by row position
    val secret = "0123456789abcdef0123456789abcdef"
    val pii = Extract.readCsvAllStrings(spark, piiCsv)
    val expected = Positions.withScanPosition(pii, "record_index")
      .withColumn("conv_id", col("record_index"))
    val expectedClks = Garble.clks(expected,
      Garble.ClkSchema(Seq("given_name", "family_name"), "blakeHash"), secret)
    val expectedKeys = Garble.lambdaBlocks(expectedClks)
      .select(col("conv_id").cast("long").as("record_index"),
        col("block_key"))
    val got = spark.read.json(s"$base/posid/blockout/blocked/name")
      .select(col("record_index"), col("block_key"))
    assert(got.count() == n * 3)
    val diff = got.exceptAll(expectedKeys).count() +
      expectedKeys.exceptAll(got).count()
    assert(diff == 0,
      "blocked record_index diverged from pii row order — the positional " +
        "identity a zip consumer resolves against")
  }

  test("BlockMain refuses a sharded CLK table (positional identity guard)") {
    // a multi-part table read back would number records by split size,
    // not member order — BlockMain must fail loudly, not mis-map
    import spark.implicits._
    Seq("QUJD", "REVG").toDF("clks").repartition(2)
      .write.mode("overwrite").json(s"$base/shardedclk/tab")
    val parts = new java.io.File(s"$base/shardedclk/tab")
      .listFiles.count(f => f.isFile && f.getName.startsWith("part-"))
    assert(parts == 2, "setup: expected a 2-part table")
    val e = intercept[IllegalArgumentException] {
      BlockMain.run(spark, Map(
        "clkpath" -> s"$base/shardedclk",
        "output" -> s"$base/shardedout"))
    }
    assert(e.getMessage.contains("data files"))
  }

  test("ResolveMain: agent zips → linkid/householdid CSVs (file positions)") {
    import scala.jdk.CollectionConverters._
    def zipWithCsv(zipPath: String, member: String, csv: String): Unit = {
      val out = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(zipPath))
      out.putNextEntry(new java.util.zip.ZipEntry(member))
      out.write(csv.getBytes("UTF-8")); out.closeEntry(); out.close()
    }
    // pii source: positions are 0-based data-row order in THIS file
    write(s"$base/resolve/pii.csv",
      "record_id,given_name,family_name,DOB,sex,phone_number," +
        "household_street_address,household_zip\n" +
      "pA,X,Y,2000-01-01,F,1,1 A ST,0\n" +
      "pB,X,Y,2000-01-02,M,2,2 B ST,0\n" +
      "pC,X,Y,2000-01-03,F,3,3 C ST,0\n")
    zipWithCsv(s"$base/resolve/links.zip", "links.csv",
      "LINK_ID,position\nL9,2\nL7,0\n")
    // household pii: HOUSEHOLD_PII_HEADERS shape with comma-joined ids
    write(s"$base/resolve/hh.csv",
      "family_name,phone_number,household_street_address,household_zip," +
        "record_ids\n" +
      "Y,1,1 A ST,0,\"pA,pB\"\n" +
      "Y,3,3 C ST,0,pC\n")
    zipWithCsv(s"$base/resolve/hhlinks.zip", "hh_links.csv",
      "HOUSEHOLD_ID,household_position\nH1,0\nH2,1\n")

    // no unzipped copy of a link file outlives the run
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def linkCopies: Int =
      tmp.listFiles().count(_.getName.startsWith("graft-links"))
    val copiesBefore = linkCopies
    ResolveMain.run(spark, Map(
      "sourcefile" -> s"$base/resolve/pii.csv",
      "linkszip" -> s"$base/resolve/links.zip",
      "hhsourcefile" -> s"$base/resolve/hh.csv",
      "hhlinkszip" -> s"$base/resolve/hhlinks.zip",
      "output" -> s"$base/resolve/out"))
    assert(linkCopies == copiesBefore)

    val links = spark.read.option("header", "true")
      .csv(s"$base/resolve/out/linkid_to_patid_csv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(links == Map("L9" -> "pC", "L7" -> "pA"))
    val hh = spark.read.option("header", "true")
      .csv(s"$base/resolve/out/householdid_to_patid_csv")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(hh == Set(("H1", "pA"), ("H1", "pB"), ("H2", "pC")))
  }

  test("garble → block → resolve round trip under a path with a blank") {
    // every CLI file access resolves paths with Hadoop Path; a
    // java.net.URI lookup rejects the blank with URISyntaxException
    val dir = s"$base/run dir"
    write(s"$dir/secret.txt", "0123456789abcdef0123456789abcdef\n")
    write(s"$dir/schemas/name-dob.json",
      """{"fields": ["given_name", "family_name", "DOB"],
         "hashType": "blakeHash"}""")
    write(s"$dir/pii.csv",
      "record_id,given_name,family_name,DOB,sex,phone_number," +
        "household_street_address,household_zip\n" +
      "pA,ANA,GARCIA,2000-02-29,F,1,1 A ST,0\n" +
      "pB,BOB,SMITH,1999-01-15,M,2,2 B ST,0\n")
    val dirs = Console.withOut(new java.io.ByteArrayOutputStream()) {
      GarbleMain.run(spark, Map("input" -> s"$dir/pii.csv",
        "schemadir" -> s"$dir/schemas", "secretfile" -> s"$dir/secret.txt",
        "output" -> s"$dir/garbled"))
    }
    assert(dirs.size == 1 && new java.io.File(s"$dir/garbled.zip").exists())
    assert(Garble.readClks(spark, dirs.head).count() == 2)
    BlockMain.run(spark, Map("clkpath" -> s"$dir/garbled",
      "output" -> s"$dir/blockout"))
    assert(new java.io.File(s"$dir/blockout/garbled_blocked.zip").exists())
    // the agent's answer: the run's metadata and its links, zipped
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$dir/links.zip"))
    zip.putNextEntry(new java.util.zip.ZipEntry("metadata.json"))
    zip.write(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/garbled/metadata.json")))
    zip.closeEntry()
    zip.putNextEntry(new java.util.zip.ZipEntry("links.csv"))
    zip.write("LINK_ID,position\nL1,1\nL0,0\n".getBytes("UTF-8"))
    zip.closeEntry(); zip.close()
    ResolveMain.run(spark, Map("metadata" -> s"$dir/garbled/metadata.json",
      "linkszip" -> s"$dir/links.zip", "sourcefile" -> s"$dir/pii.csv",
      "output" -> s"$dir/resolved"))
    val links = spark.read.option("header", "true")
      .csv(s"$dir/resolved/linkid_to_patid_csv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(links == Map("L0" -> "pA", "L1" -> "pB"))
  }

  test("CLK export is ONE reference-parseable JSON document") {
    import spark.implicits._
    // the wire shape garble.py's validate_clks json.load()s: a single
    // {"clks": [...]} doc, plain single-line base64, array order = source
    // row order
    val recs = Seq(("r0", "AAA"), ("r1", "BBB"), ("r2", "CCC"))
      .toDF("conv_id", "given_name")
    val clks = Garble.clks(recs,
      Garble.ClkSchema(Seq("given_name")), "0123456789abcdef0123456789abcdef")
    Garble.writeClksJson(clks, s"$base/wire/clktab")
    val files = new java.io.File(s"$base/wire/clktab")
      .listFiles.filter(_.isFile).filterNot(_.getName.startsWith("."))
    assert(files.length == 1 && files.head.getName == "clktab.json")
    // a strict JSON parser (jackson ~ python json.load) must accept it
    val txt = new String(java.nio.file.Files.readAllBytes(
      files.head.toPath), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    assert(node.has("clks") && node.get("clks").isArray &&
      node.get("clks").size() == 3)
    val arr = (0 until 3).map(node.get("clks").get(_).asText())
    assert(arr.forall(s => !s.contains("\n") && !s.contains("\r")),
      "base64 entries must be single-line (raw CRLF is invalid JSON)")
    // round-trip: array order == source order == readClks record_index
    val back = Garble.readClks(spark, s"$base/wire/clktab")
      .orderBy("record_index").collect()
      .map(r => r.getAs[Array[Byte]]("clk").toSeq)
    val direct = clks.collect().map(r => r.getAs[Array[Byte]]("clk").toSeq)
    assert(back.toSeq == direct.toSeq, "wire order diverged from source order")
  }

  test("AnalyzeMain: pii csv → aggregate + private report files") {
    write(s"$base/an/pii.csv",
      "record_id,given_name,family_name,DOB,sex,phone_number," +
        "household_street_address,household_zip\n" +
      "pA,X,Y,2000-01-01,F,5551111111,1 A ST,02139\n" +
      "pB,X,Y,2000-01-02,M,5552222222,2 B ST,02139\n" +
      "pC,X,Y,2000-01-03,F,5553333333,3 C ST,02140\n")
    val (statsPath, rawPath) = AnalyzeMain.run(spark, Map(
      "csv" -> s"$base/an/pii.csv",
      "output" -> s"$base/analyzeout"))
    def slurp(p: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    val stats = slurp(statsPath)
    assert(stats.contains("\"number_of_rows\": 3"))
    assert(stats.contains("total_unique_record_ids"))
    assert(slurp(rawPath).contains("top_10_family_names"))
  }

  test("ValidateMetadataMain: agreeing zips pass, disagreeing ones listed") {
    def zipWithMeta(zipPath: String, json: String): Unit = {
      val out = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(zipPath))
      out.putNextEntry(new java.util.zip.ZipEntry("metadata.json"))
      out.write(json.getBytes("UTF-8")); out.closeEntry(); out.close()
    }
    new java.io.File(s"$base/vm").mkdirs()
    zipWithMeta(s"$base/vm/src.zip", """{"number_of_records": "2"}""")
    zipWithMeta(s"$base/vm/agree.zip",
      """{"input_system_metadata": {"number_of_records": "2"}}""")
    zipWithMeta(s"$base/vm/clash.zip",
      """{"input_system_metadata": {"number_of_records": "7"}}""")
    assert(ValidateMetadataMain.run(spark, Map(
      "source" -> s"$base/vm/src.zip",
      "linkage" -> s"$base/vm/agree.zip")).isEmpty)
    val issues = ValidateMetadataMain.run(spark, Map(
      "source" -> s"$base/vm/src.zip",
      "linkage" -> s"$base/vm/clash.zip", "verbose" -> "true"))
    assert(issues.exists(_.contains("number_of_records")))
  }

  test("ResolveMain metadata gate blocks mismatched runs unless forced") {
    write(s"$base/gate/meta.json", """{"number_of_records": "99"}""")
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$base/gate/links.zip"))
    out.putNextEntry(new java.util.zip.ZipEntry("metadata.json"))
    out.write("""{"number_of_records": "2"}""".getBytes("UTF-8"))
    out.closeEntry()
    out.putNextEntry(new java.util.zip.ZipEntry("links.csv"))
    out.write("LINK_ID,position\n".getBytes("UTF-8"))
    out.closeEntry(); out.close()
    val opts = Map(
      "metadata" -> s"$base/gate/meta.json",
      "linkszip" -> s"$base/gate/links.zip",
      "output" -> s"$base/gate/out")
    intercept[IllegalArgumentException] { ResolveMain.run(spark, opts) }
    ResolveMain.run(spark, opts + ("force" -> "true")) // forced: no throw
  }
}
