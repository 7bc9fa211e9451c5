package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.crypto.{Blake2b, ClkCrypto, Hkdf}

/** Crypto primitives behind the CLK encoder (Garble.clks):
  * BLAKE2b against the RFC 7693 appendix-A vector, HKDF-SHA256 against
  * RFC 5869 appendix-A test cases 1 and 3, plus structural invariants of
  * the clkhash-style blakeHash CLK composition. */
class CryptoSpec extends AnyFunSuite with SparkFixture {

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // Ground truth for every BLAKE2b case: CPython hashlib.blake2b (the
  // exact primitive clkhash calls), generated offline:
  //   blake2b(b"abc"), blake2b(b""), blake2b(b"ab",key=b"k1",salt=b"0"),
  //   blake2b(b" J",key=bytes(range(64)),salt=b"3"),
  //   blake2b(b"hello",digest_size=32), blake2b(bytes([0x5a]*1000)).
  test("BLAKE2b-512 matches RFC 7693 / hashlib: abc + empty") {
    assert(hex(Blake2b.hash("abc".getBytes("UTF-8"))) ==
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d1" +
      "7d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
    assert(hex(Blake2b.hash(Array.emptyByteArray)) ==
      "786a02f742015903c6c6fd852552d272912f4740e15847618a86e217f71f5419" +
      "d25e1031afee585313896444934eb04b903a685b1448b755d56f701afe9be2ce")
  }

  test("BLAKE2b keyed+salted+sized match hashlib.blake2b") {
    // keyed MAC with salt — the exact call shape of the CLK encoder
    assert(hex(Blake2b.hash("ab".getBytes, key = "k1".getBytes,
      salt = "0".getBytes)) ==
      "214d35a668057c556de5e27a05034966755a3dad98b56d66d5276e5747049be5" +
      "4b7399cd0657c6c4b2c5d26140414666d317c49d8c0a70d62075bfafb9d48d05")
    // 64-byte key (a full HKDF field key) + bigram " J"
    assert(hex(Blake2b.hash(" J".getBytes,
      key = Array.tabulate[Byte](64)(_.toByte), salt = "3".getBytes)) ==
      "2c3c1cdf4f9762b8e4f0e529fe3fc6238589770c4b09f2da1e8c9f5759088f7a" +
      "af55bcf08b26b7ec0fdff620ac43fe0c00dd49a20b69015f697ca5f01d72ed7d")
    // digest_size feeds the param block (not a prefix of the 64-byte hash)
    assert(hex(Blake2b.hash("hello".getBytes, digestLen = 32)) ==
      "324dcf027dd4a30a932c441f365a25e86b173defa4b8e58948253471b81b72cf")
    // multi-block input (1000 bytes > 7 blocks)
    assert(hex(Blake2b.hash(Array.fill[Byte](1000)(0x5a))) ==
      "2e45ee4afddb1cf5e52042db3c7ef5cf6f7f4bc39614877cef4c98bb8bd7049b" +
      "32ca5b56bd7323e1cbd79b2af78947a67c8982085079f37747dd4e573a54770b")
  }

  test("HKDF-SHA256 matches RFC 5869 A.1 (basic)") {
    val ikm = unhex("0b" * 22)
    val salt = unhex("000102030405060708090a0b0c")
    val info = unhex("f0f1f2f3f4f5f6f7f8f9")
    val prk = Hkdf.extract(salt, ikm)
    assert(hex(prk) ==
      "077709362c2e32df0ddc3f0dc47bba6390b6c73bb50f9c3122ec844ad7c2b3e5")
    val okm = Hkdf.expand(prk, info, 42)
    assert(hex(okm) ==
      "3cb25f25faacd57a90434f64d0362f2a2d2d0a90cf1a5a4c5db02d56ecc4c5bf" +
      "34007208d5b887185865")
  }

  test("HKDF-SHA256 matches RFC 5869 A.3 (zero-length salt and info)") {
    val ikm = unhex("0b" * 22)
    val okm = Hkdf.derive(ikm, Array.emptyByteArray, Array.emptyByteArray, 42)
    assert(hex(okm) ==
      "8da4e775a563c18f715f802a063c5a31b8a11f5c5ee1879ec3454e5f3c738d2d" +
      "9d201395faa4b61a96c8")
  }

  test("blakeHash CLK: deterministic, key-sensitive, density sane") {
    def popcount(clk: Array[Byte]): Int =
      clk.map(b => Integer.bitCount(b & 0xff)).sum
    val fields = Array("JOHN", "SMITH", "1970-01-01")
    val keysA = ClkCrypto.fieldKeys("0123456789abcdef0123456789abcdef", 3)
    val keysB = ClkCrypto.fieldKeys("fedcba9876543210fedcba9876543210", 3)
    // per-field keys are 64 bytes and pairwise distinct
    assert(keysA.forall(_.length == 64))
    assert(keysA.map(_.toSeq).distinct.length == 3)
    val a1 = ClkCrypto.encode(fields, keysA)
    val a2 = ClkCrypto.encode(fields, keysA)
    val b = ClkCrypto.encode(fields, keysB)
    assert(a1.toSeq == a2.toSeq, "same secret → same CLK")
    assert(a1.toSeq != b.toSeq, "different secret → different CLK")
    assert(a1.length == 4096 / 8)
    // ~k=30 bits per bigram, 20 bigrams, minus collisions: a loose band
    val bits = popcount(a1)
    assert(bits > 250 && bits < 650, s"CLK density off: $bits bits")
    // a one-character typo moves few bits relative to an unrelated record
    val typo = ClkCrypto.encode(Array("JOHM", "SMITH", "1970-01-01"), keysA)
    val other = ClkCrypto.encode(Array("XIOMARA", "GUTIERREZ", "1944-12-30"),
      keysA)
    def hamming(x: Array[Byte], y: Array[Byte]): Int =
      x.zip(y).map { case (p, q) => Integer.bitCount((p ^ q) & 0xff) }.sum
    assert(hamming(a1, typo) < hamming(a1, other),
      "near-duplicate must stay closer in Hamming space than a stranger")
    // empty fields contribute nothing
    assert(ClkCrypto.encode(Array("", null, ""), keysA).forall(_ == 0))
  }

  test("exact CLKs flow through Spark and λ-fold blocking end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val recs = Seq(
      ("c1", "SMITH", "5551234", "12 MAIN ST", "2025-01-01"),
      ("c2", "SMITH", "5551234", "12 MAIN ST", "2025-01-01"),
      ("c3", "JONES", "5559999", "99 ELM AVE", "2025-02-02"))
      .toDF("conv_id", "family_name", "phone_number",
        "household_street_address", "household_zip")
    val schema = graft.linkage.Garble.ClkSchema(
      Seq("family_name", "phone_number", "household_street_address"))
    val clks = graft.linkage.Garble.clks(recs, schema,
      "0123456789abcdef0123456789abcdef")
    val rows = clks.orderBy("conv_id").collect()
    assert(rows.length == 3)
    val c1 = rows(0).getAs[Array[Byte]]("clk")
    val c2 = rows(1).getAs[Array[Byte]]("clk")
    assert(c1.toSeq == c2.toSeq, "identical PII → identical exact CLK")
    // identical CLKs must share all λ-fold block keys
    val blocks = graft.linkage.Garble.lambdaBlocks(clks)
      .groupBy("block_key").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).count()
    assert(blocks >= 3, "duplicate records must collide in λ blocks")
  }
}
