package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage._

/** Extract / garble / block / resolve / analyze stage semantics. */
class StagesSpec extends AnyFunSuite with SparkFixture {

  test("extract: mapping, defaults, value maps, cleaning, seeded shuffle") {
    import spark.implicits._
    val src = Seq(
      ("p1", "José", "Mañana", "01/15/1980", "Male", "(555) 123-4567",
        "123 Main St", " 02139 "),
      ("p2", "", "  smith ", "bad-date", "F", "555.999.0000",
        "9 Elm Ave", "02140"))
      .toDF("PatID", "First", "LAST", "Birth", "Gender", "Phone",
        "Addr", "Zip")
    val conf = Extract.TranslationConfig(Map(
      "record_id" -> Extract.FieldSpec(Seq("patid")),
      "given_name" -> Extract.FieldSpec(Seq("first")),
      "family_name" -> Extract.FieldSpec(Seq("last")),
      "DOB" -> Extract.FieldSpec(Seq("birth"),
        dateFormat = Some("MM/dd/yyyy")),
      "sex" -> Extract.FieldSpec(Seq("gender"),
        valueMap = Map("Male" -> "M", "Female" -> "F"), default = Some("U")),
      "phone_number" -> Extract.FieldSpec(Seq("phone")),
      "household_street_address" -> Extract.FieldSpec(Seq("addr")),
      "household_zip" -> Extract.FieldSpec(Seq("zip"))))
    val out = Extract.extract(src, conf)
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    val p1 = rows("p1"); val p2 = rows("p2")
    assert(p1.getString(1) == "JOSE") // NFKD fold
    assert(p1.getString(2) == "MANANA")
    assert(p1.getString(3) == "1980-01-15") // date reformat
    assert(p1.getString(4) == "M") // value map
    assert(p1.getString(5) == "5551234567") // digits only
    assert(p1.getString(7) == "02139") // zip trim
    assert(p2.getString(3) == "") // unparseable date → ""
    assert(p2.getString(2) == "SMITH")
    // seeded shuffle is deterministic
    val again = Extract.extract(src, conf).collect().map(_.getString(0))
    assert(out.collect().map(_.getString(0)).toSeq ==
      again.toSeq)
    // metadata: content-hash run id is stable
    assert(Extract.metadata(out) == Extract.metadata(Extract.extract(src, conf)))
  }

  test("value mapping is a single dict lookup, not a rewrite cascade") {
    import spark.implicits._
    // overlapping rules A→B, B→C: the reference applies ONE lookup per
    // value, so A maps to B (never cascades to C) and B maps to C —
    // regardless of Map iteration order
    val src = Seq(("r1", "A"), ("r2", "B"), ("r3", "X"))
      .toDF("PatID", "Gender")
    val conf = Extract.TranslationConfig(Map(
      "record_id" -> Extract.FieldSpec(Seq("patid")),
      "sex" -> Extract.FieldSpec(Seq("gender"),
        valueMap = Map("A" -> "B", "B" -> "C"))))
    val out = Extract.extract(src, conf).select("record_id", "sex")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("r1" -> "B", "r2" -> "C", "r3" -> "X"))
  }

  test("garble: secret validation, subkey derivation, clk determinism") {
    intercept[IllegalArgumentException](Garble.validateSecret("xyz"))
    intercept[IllegalArgumentException](Garble.validateSecret("abc123"))
    val secret = "0123456789abcdef0123456789abcdef"
    assert(Garble.validateSecret(secret) == secret)
    val k1 = Garble.deriveSubkey(secret, "individuals")
    val k2 = Garble.deriveSubkey(secret, "households")
    assert(k1 != k2 && k1.length == 64)
    intercept[IllegalArgumentException](
      Garble.validateSchema(Garble.ClkSchema(Seq("x"), "doubleHash")))

    import spark.implicits._
    val recs = Seq(("c1", "SMITH", "BROWSER", "HELLO WORLD", "2025-01-01"),
      ("c2", "SMYTH", "BROWSER", "HELLO WORLD", "2025-01-01"))
      .toDF("conv_id", "family_name", "phone_number",
        "household_street_address", "household_zip")
    val schema = Garble.ClkSchema(Seq("family_name", "phone_number",
      "household_street_address", "household_zip"))
    val c1 = Garble.clks(recs, schema, secret).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val c2 = Garble.clks(recs, schema, secret).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(java.util.Arrays.equals(c1("c1"), c2("c1"))) // deterministic
    assert(!java.util.Arrays.equals(c1("c1"), c1("c2"))) // distinct
    // different secret → different clks
    val other = Garble.clks(recs, schema,
      "ffffffffffffffffffffffffffffffff").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(!java.util.Arrays.equals(c1("c1"), other("c1")))
  }

  test("CLKs key on the whole subkey, not a 32-bit prefix of it") {
    import spark.implicits._
    def clk(df: org.apache.spark.sql.DataFrame): Seq[Byte] =
      df.head().getAs[Array[Byte]]("clk").toSeq
    def sharePrefix(a: String, b: String, context: String): Boolean =
      Garble.deriveSubkey(a, context).take(8) ==
        Garble.deriveSubkey(b, context).take(8)
    // individuals: these two secrets' subkeys share their first 8 hex
    // digits, the 32-bit seed an earlier encoder keyed every CLK on
    val (i1, i2) = ("00000000000000000000000000001d1d",
      "0000000000000000000000000000397e")
    assert(sharePrefix(i1, i2, "individuals"))
    val rec = Seq(("c1", "SMITH", "12 MAIN ST"))
      .toDF("conv_id", "family_name", "household_street_address")
    val schema = Garble.ClkSchema(Seq("family_name",
      "household_street_address"))
    assert(clk(Garble.clks(rec, schema, i1)) !=
      clk(Garble.clks(rec, schema, i2)))
    // households: the same for the households subkey
    val (h1, h2) = ("000000000000000000000000000072a0",
      "00000000000000000000000000011aea")
    assert(sharePrefix(h1, h2, "households"))
    val hh = Seq(("k1", "SMITH", "5551234", "12 MAIN ST", "02139"))
      .toDF("cluster_id", "family_name", "phone_number",
        "household_street_address", "household_zip")
    assert(clk(Garble.householdClks(hh, h1)) !=
      clk(Garble.householdClks(hh, h2)))
  }

  test("lambda blocks put near-identical records in a shared block") {
    import spark.implicits._
    val recs = Seq(("a", "JOHN SMITH 42 OAK STREET"),
      ("b", "JON SMITH 42 OAK STREET"),
      ("c", "COMPLETELY DIFFERENT TEXT HERE"))
      .toDF("conv_id", "household_street_address")
    val clks = Garble.clks(recs,
      Garble.ClkSchema(Seq("household_street_address")),
      "0123456789abcdef0123456789abcdef")
    val blocks = Garble.lambdaBlocks(clks).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byId = blocks.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byId("a").intersect(byId("b")).nonEmpty, "a/b share a block")
    assert(byId("a").size == 3)
  }

  test("resolve: metadata gate + positional link translation") {
    import spark.implicits._
    // positions index SOURCE rows, so the pii is not in record_id order;
    // the links' columns are taken by position, whatever their header
    val pii = Seq("r2", "r1", "r3").toDF("record_id")
    val links = Seq((101L, 0), (102L, 2)).toDF("LINK_ID", "PII_POSITION")
    val out = Resolve.linkIds(links, pii).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(101L -> "r2", 102L -> "r3"))

    val meta = Map("number_of_records" -> "3", "run_id" -> "aa")
    assert(Resolve.metadataDiff(meta, meta).isEmpty)
    val bad = meta.updated("number_of_records", "4")
    assert(Resolve.metadataDiff(meta, bad).nonEmpty)
    intercept[IllegalArgumentException](Resolve.gate(meta, bad))
    Resolve.gate(meta, bad, force = true) // forced passes
  }

  test("household links fan out record_ids (J5)") {
    import spark.implicits._
    // mapping_csv shape; household positions are its scan-order rows
    val hh = Seq(("k1", "d", 1), ("k0", "a,b,c", 3))
      .toDF("cluster_id", "record_ids", "size")
    val links = Seq((7L, 1), (9L, 0))
      .toDF("HOUSEHOLD_ID", "HOUSEHOLD_POSITION")
    val out = Resolve.householdIds(links, hh).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((7L, "a"), (7L, "b"), (7L, "c"), (9L, "d")))
  }

  test("timestamped pii/metadata pair + newest-source discovery") {
    import spark.implicits._
    val dir = tempDir("pii")
    val mk = (id: String) => Seq((id, "A", "B", "", "M", "1", "2 X ST", "Z"))
      .toDF("record_id", "given_name", "family_name", "DOB", "sex",
        "phone_number", "household_street_address", "household_zip")
    val t1 = java.time.LocalDateTime.of(2026, 8, 16, 10, 0, 0)
    val t2 = java.time.LocalDateTime.of(2026, 8, 16, 12, 30, 5)
    Extract.writePii(mk("old"), dir, t1)
    val ts2 = Extract.writePii(mk("new"), dir, t2)
    assert(ts2 == "20260816T123005")
    val (df, meta) = Extract.readLatestPii(spark, dir)
    assert(df.select("record_id").head().getString(0) == "new")
    assert(meta("number_of_records") == "1")
    // staleness guard: creation_date disagreeing with the file stamp
    Extract.writeMetadata(spark,
      meta + ("creation_date" -> "2026-08-16T12:30:06"),
      s"$dir/metadata-$ts2.json")
    intercept[IllegalArgumentException](Extract.readLatestPii(spark, dir))
  }

  test("multi-schema garble flow: per-schema CLKs, garble_time, zip") {
    import spark.implicits._
    val base = tempDir("garble")
    val schemaDir = s"$base/schemas"; val outDir = s"$base/output"
    new java.io.File(schemaDir).mkdirs()
    def w(name: String, body: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$schemaDir/$name"), body)
    w("name-dob.json",
      """{"fields": ["family_name", "given_name"], "hashType": "blakeHash"}""")
    w("addr.json",
      """{"fields": ["household_street_address"], "hashType": "blakeHash"}""")
    val records = Seq(("c1", "SMITH", "ANA", "1 MAIN ST"),
      ("c2", "KING", "BEN", "2 ELM AVE"))
      .toDF("conv_id", "family_name", "given_name",
        "household_street_address")
    val secret = "0123456789abcdef0123456789abcdef"
    val meta = Map("number_of_records" -> "2")
    val clkDirs = Garble.garbleFlow(records, schemaDir, secret, outDir,
      meta, garbleTime = "2026-08-16T00:00:00")
    assert(clkDirs.size == 2)
    clkDirs.foreach(d => assert(Garble.readClks(spark, d).count() == 2))
    val metaBack = Extract.readMetadata(spark, s"$outDir/metadata.json")
    assert(metaBack("garble_time") == "2026-08-16T00:00:00")
    assert(metaBack("number_of_records") == "2")
    assert(new java.io.File(s"$outDir.zip").length() > 0)
    // a doubleHash schema in the directory aborts the whole flow
    w("bad.json", """{"fields": ["sex"], "hashType": "doubleHash"}""")
    intercept[IllegalArgumentException](
      Garble.garbleFlow(records, schemaDir, secret, s"$base/out2", meta,
        "2026-08-16T00:00:00"))
    // row-count validation trips when metadata disagrees
    new java.io.File(s"$schemaDir/bad.json").delete()
    intercept[IllegalArgumentException](
      Garble.garbleFlow(records, schemaDir, secret, s"$base/out3",
        Map("number_of_records" -> "5"), "2026-08-16T00:00:00"))
  }

  test("config validation rejects malformed translation configs") {
    import graft.linkage.Extract.{FieldSpec, TranslationConfig}
    // the v2 data dictionary (utils/data_reader.py) with a DOB format
    val good = Map(
      "record_id" -> FieldSpec(Seq("patid")),
      "given_name" -> FieldSpec(Seq("pat_firstname")),
      "family_name" -> FieldSpec(Seq("pat_lastname")),
      "DOB" -> FieldSpec(Seq("birth_date"), dateFormat = Some("yyyy-MM-dd")),
      "sex" -> FieldSpec(Seq("sex")),
      "phone_number" -> FieldSpec(Seq("primary_phone")),
      "household_street_address" ->
        FieldSpec(Seq("address_street", "address_detail")),
      "household_zip" -> FieldSpec(Seq("address_zip5")))
    assert(Extract.validateConfig(TranslationConfig(good)).isEmpty)
    val issues = Extract.validateConfig(TranslationConfig(Map(
      "given_nam" -> FieldSpec(Seq("first")), // typo → unknown field
      "DOB" -> FieldSpec(Seq("birth_date")), // no date format
      "sex" -> FieldSpec()))) // neither sources nor default
    assert(issues.exists(_.contains("unknown field: given_nam")))
    assert(issues.contains("No date ingest format specified"))
    assert(issues.exists(_.contains("for field: sex")))
    assert(issues.exists(_.contains("for field: family_name")))
  }

  test("analyze report: structure, century parse, and PII guards") {
    import spark.implicits._
    // 10 records; record_id r1 duplicated (1 dup < 20% of 9 uniques);
    // SMITH appears 3x (reportable), JONES 2x (guarded out); yymmdd DOBs
    val rows = Seq(
      ("r1", "AL", "SMITH", "450102", "M", "5551234", "1 MAIN ST", "02139"),
      ("r1", "BO", "SMITH", "561130", "F", "5551235", "2 ELM AVE", "02139"),
      ("r2", "CY", "SMITH", "290704", "M", "", "3 OAK RD", "02140"),
      ("r3", "DI", "JONES", "121212", "F", "5550000", "4 MAIN ST", "02141"),
      ("r4", "ED", "JONES", "", "M", "5550001", "5 ELM AVE", "02139"),
      ("r5", "FLO", "MILLER", "991231", "F", "5550002", "6 OAK RD", "02142"),
      ("r6", "GUS", "BAKER", "000229", "M", "5550003", "7 MAIN ST", "02139"),
      ("r7", "HAL", "CLARK", "750615", "M", "5550004", "8 ELM AVE", "02143"),
      ("r8", "IVY", "DAVIS", "850101", "F", "5550005", "9 OAK RD", "02139"),
      ("r9", "JAN", "EVANS", "200505", "F", "5550006", "10 MAIN ST", "02144"))
      .toDF("record_id", "given_name", "family_name", "DOB", "sex",
        "phone_number", "household_street_address", "household_zip")
    val (stats, raw) = Analyze.analyze(rows)
    assert(stats("number_of_rows") == 10L)
    assert(stats("total_unique_record_ids") == 9L)
    assert(stats("record_ids_with_duplicates") == 1L)
    // dup guard passes (1 < 0.2*9): the dup id is reported with its count
    assert(raw("duplicate_record_ids") ==
      scala.collection.immutable.ListMap("r1" -> 2L))
    // century inference: 99→1999, 00→2000, 29→2029, 12→2012
    val dob = stats("dob").asInstanceOf[Map[String, Any]]
    assert(dob("missing") == 1L)
    assert(dob("min_parsed") == "1945-01-02")
    assert(dob("max_parsed") == "2029-07-04")
    // min-count guard: SMITH (3x) reported, JONES (2x) suppressed
    val fams = raw("top_10_family_names").asInstanceOf[Map[String, Any]]
    assert(fams == scala.collection.immutable.ListMap("SMITH" -> 3L))
    // formats masked
    val zf = stats("zip_format").asInstanceOf[Map[String, Any]]
    assert(zf.keySet == Set("#####"))
    val summaries = stats("field_summaries").asInstanceOf[Map[String, Any]]
    assert(summaries.keySet.size == 5)
    val phone = summaries("phone_number").asInstanceOf[Map[String, Any]]
    assert(phone("missing") == 1L)
    // and the dup guard FAILS when dups >= 20% of uniques
    val dupHeavy = rows.unionByName(rows.limit(4))
    val (_, rawHeavy) = Analyze.analyze(dupHeavy)
    assert(!rawHeavy.contains("duplicate_record_ids"))
    // empty input analyzes to an all-zero report, not an NPE
    val (emptyStats, emptyRaw) = Analyze.analyze(rows.limit(0))
    assert(emptyStats("number_of_rows") == 0L)
    assert(emptyStats("total_unique_record_ids") == 0L)
    assert(!emptyRaw.contains("duplicate_record_ids"))
    // reports render to valid-shape JSON documents
    val dir = tempDir("analyze")
    val (sp, rp) = Analyze.writeReports(rows, dir)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(sp))
      .startsWith("{\"number_of_rows\": 10"))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(rp))
      .contains("duplicate_record_ids"))
  }

  test("zip roundtrip: clk json sink → zip → zip-member csv scan") {
    import spark.implicits._
    val dir = tempDir("graft-zip")
    // write a small csv shard then zip it and read back through Resolve
    Seq((1, "a"), (2, "b")).toDF("LINK_ID", "position")
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/links")
    Garble.zipDirectory(spark, s"$dir/links", s"$dir/links.zip")
    val back = Resolve.readZipMemberCsv(spark, s"$dir/links.zip")
    assert(back.count() == 2 &&
      back.columns.toSeq == Seq("LINK_ID", "position"))
    // metadata member discovery inside an archive (get_metadata analog):
    // none in the links zip; present after adding one
    assert(Resolve.metadataFromZip(spark, s"$dir/links.zip").isEmpty)
    Extract.writeMetadata(spark,
      Map("number_of_records" -> "2", "run_id" -> "abc"),
      s"$dir/withmeta/metadata-20260816.json")
    Garble.zipDirectory(spark, s"$dir/withmeta", s"$dir/withmeta.zip")
    assert(Resolve.metadataFromZip(spark, s"$dir/withmeta.zip")
      .contains(Map("number_of_records" -> "2", "run_id" -> "abc")))
  }
}
