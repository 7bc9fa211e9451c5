package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.Scoring
import graft.linkage.expr.{AddressDistanceAbove, Sim, functions => gf}

/** Pins the composite address comparator to the reference's own published
  * calibration exemplars (matching.py:25–31) — the strongest available
  * parity evidence, since those four numbers exercise the weight shift,
  * the suffix max-of-variants, the secondary-unit scoring and the
  * whole-string floor at once — and pins the scalar kernel bit for bit to
  * a Column-tree port of the same reference lines, kept here as its
  * oracle. */
class AddressDistanceSpec extends AnyFunSuite with SparkFixture {

  private type Addr = (String, String, String, String, String, String)

  private def addr(number: String, street: String, suffix: String,
                   prefix: String, value: String, full: String): Addr =
    (number, street, suffix, prefix, value, full)

  private def row(a: Addr): InternalRow =
    InternalRow.fromSeq(a.productIterator
      .map(f => UTF8String.fromString(f.asInstanceOf[String])).toSeq)

  private def score(a: Addr, b: Addr): Double =
    Sim.addressDistance(row(a), row(b))

  private val garden205 =
    addr("205", "GARDEN", "ST", "", "", "205 GARDEN ST")
  private val garden206 =
    addr("206", "GARDEN", "ST", "", "", "206 GARDEN ST")
  private val garedn205 =
    addr("205", "GAREDN", "ST", "", "", "205 GAREDN ST")
  private val gardenStreet205 =
    addr("205", "GARDEN", "STREET", "", "", "205 GARDEN STREET")
  private val apt5F =
    addr("205", "GARDEN", "ST", "APT", "5F", "205 GARDEN ST APT 5F")
  private val apt5J =
    addr("205", "GARDEN", "ST", "APT", "5J", "205 GARDEN ST APT 5J")

  test("matching.py:26 — 205 vs 206 GARDEN ST → 0.8333") {
    assert(math.abs(score(garden205, garden206) - 0.8333) < 5e-4)
  }
  test("matching.py:27 — GARDEN vs GAREDN → 0.98444") {
    assert(math.abs(score(garden205, garedn205) - 0.98444) < 5e-5)
  }
  test("matching.py:28 — GARDEN STREET vs GAREDN ST → 0.9666") {
    assert(math.abs(score(gardenStreet205, garedn205) - 0.9666) < 1e-3)
  }
  test("matching.py:29 — APT 5F vs APT 5J → 0.9472") {
    assert(math.abs(score(apt5F, apt5J) - 0.9472) < 5e-4)
  }
  test("matching.py:71–83 — empty→0 (even both), identical→1") {
    val empty = addr("", "", "", "", "", "")
    assert(score(empty, empty) == 0.0)
    assert(score(empty, garden205) == 0.0)
    assert(score(garden205, garden205) == 1.0)
  }
  test("symmetry") {
    assert(math.abs(score(garden205, garedn205) -
      score(garedn205, garden205)) < 1e-12)
    assert(math.abs(score(apt5F, apt5J) - score(apt5J, apt5F)) < 1e-12)
  }

  /** matching.py:64–249 as a Column tree, structurally 1:1 with the
    * reference — the form the scoring layer used before the kernel. */
  private def oracle(a: Column, b: Column): Column = {
    def jw(l: Column, r: Column): Column = gf.jaro_winkler(l, r)
    val a1 = a.getField("full")
    val a2 = b.getField("full")
    val n1 = a.getField("number"); val n2 = b.getField("number")
    val s1 = a.getField("street"); val s2 = b.getField("street")
    val x1 = a.getField("suffix"); val x2 = b.getField("suffix")
    val p1 = a.getField("prefix"); val p2 = b.getField("prefix")
    val v1 = a.getField("value");  val v2 = b.getField("value")

    val noSecond = p1 === "" && p2 === "" && v1 === "" && v2 === ""
    val wNumber = when(noSecond, 0.5).otherwise(0.3)
    val wStreet = lit(0.5)
    val wSecondary = when(noSecond, 0.0).otherwise(0.2)

    val numberScore =
      when(n1 =!= "" && n2 =!= "", wNumber * gf.hamming_sim(n1, n2))
        .otherwise(0.0)

    val jw12 = jw(s1, s2)
    val bothStreet = s1 =!= "" && s2 =!= ""
    val perfect = when(x1 =!= "" && x2 =!= "",
        when(jw12 * 0.8 =!= 0.0, jw12 * 0.8 + jw(x1, x2) * 0.2)
          .otherwise(0.0))
      .otherwise(0.0)
    val drop1 = when(x1 =!= "", jw(concat_ws(" ", s1, x1), s2)).otherwise(0.0)
    val drop2 = when(x2 =!= "", jw(concat_ws(" ", s2, x2), s1)).otherwise(0.0)
    val adjustment = when(x1 === "" && x2 === "", 1.0).otherwise(0.7)
    val ignoreSuffix = jw12 * adjustment
    val streetBoth = greatest(perfect, drop1, drop2, ignoreSuffix)

    val m1 = when(s1 =!= "" && x2 =!= "",
      greatest(jw(concat_ws(" ", s1, x1), x2) * 0.7, jw(s1, x2) * 0.7))
      .otherwise(0.0)
    val m2 = when(s2 =!= "" && x1 =!= "",
      greatest(jw(concat_ws(" ", s2, x2), x1) * 0.7, jw(s2, x1) * 0.7))
      .otherwise(0.0)
    val streetMissing = greatest(m1, m2)

    val maxScoreStr = when(bothStreet, streetBoth).otherwise(streetMissing)
    val streetScore = greatest(maxScoreStr, lit(0.0)) * wStreet

    val secondCond = (p1 =!= "" && p2 =!= "") || (v1 =!= "" && v2 =!= "")
    val bothValues = v1 =!= "" && v2 =!= ""
    val secPerfect = when(p1 =!= "" && p2 =!= "",
      jw(v1, v2) * 0.8 + jw(p1, p2) * 0.2).otherwise(0.0)
    val secDrop1 = when(p1 =!= "", jw(concat_ws(" ", p1, v1), v2)).otherwise(0.0)
    val secDrop2 = when(p2 =!= "", jw(concat_ws(" ", p2, v2), v1)).otherwise(0.0)
    val secAdj = when(p1 === "" && p2 === "", 1.0).otherwise(0.7)
    val secBoth = greatest(secPerfect, secDrop1, secDrop2, jw(v1, v2) * secAdj)
    val secV1 = when(v1 =!= "",
      greatest(jw(concat(p1, v1), p2) * 0.6, jw(v1, p2) * 0.6)).otherwise(0.0)
    val secV2 = when(v2 =!= "",
      greatest(jw(concat(p2, v2), p1) * 0.6, jw(v2, p1) * 0.6)).otherwise(0.0)
    val secOne = greatest(secV1, secV2)
    val secCombined = jw(concat(p1, v1), concat(p2, v2)) * 0.8
    val secondaryScore = when(secondCond,
      greatest(when(bothValues, secBoth).otherwise(secOne), secCombined))
      .otherwise(0.0)

    val base = numberScore + streetScore
    val wholeString = jw(a1, a2) * (wNumber + wStreet) * 0.6
    val score = greatest(base, wholeString) + secondaryScore * wSecondary

    when(a1 === "" || a2 === "", 0.0)
      .when(a1 === a2, 1.0)
      .otherwise(score)
  }

  /** Seeded pairs: every empty/non-empty combination of the six fields on
    * both sides, identical `full` over differing parts, streets of
    * 63/64/65/128+ bytes (the kernel's word boundaries), non-ASCII
    * fields, and random near copies over small alphabets. */
  private def propertyPairs(): Seq[(Addr, Addr)] = {
    val rnd = new scala.util.Random(20261019L)
    def str(alphabet: String, n: Int): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    def mutate(s: String, alphabet: String): String =
      if (s.isEmpty) s else {
        val c = s.toCharArray
        (0 to rnd.nextInt(3)).foreach { _ =>
          c(rnd.nextInt(c.length)) = alphabet(rnd.nextInt(alphabet.length))
        }
        if (rnd.nextInt(4) == 0 && c.length > 1) {
          val i = rnd.nextInt(c.length - 1)
          val t = c(i); c(i) = c(i + 1); c(i + 1) = t
        }
        new String(c)
      }
    def fields(a: Addr): Seq[String] =
      a.productIterator.map(_.asInstanceOf[String]).toSeq
    def toAddr(f: Seq[String]): Addr = (f(0), f(1), f(2), f(3), f(4), f(5))
    def near(a: Addr, alphabet: String): Addr =
      toAddr(fields(a).map(f =>
        if (rnd.nextInt(3) == 0) mutate(f, alphabet) else f))

    val baseA = Seq("205", "GARDEN", "ST", "TOOL", "WEBSEARCH",
      "205 GARDEN ST TOOL WEBSEARCH")
    val baseB = Seq("206", "GAREDN", "STREET", "TOOL", "WEBSERCH",
      "206 GAREDN STREET TOOL WEBSERCH")
    val masks = for (ma <- 0 until 64; mb <- 0 until 64) yield {
      def pick(base: Seq[String], m: Int) =
        toAddr(base.indices.map(i => if ((m >> i & 1) == 1) base(i) else ""))
      (pick(baseA, ma), pick(baseB, mb))
    }
    val sameFull = (0 until 200).map { _ =>
      val full = str("AB ", 1 + rnd.nextInt(20))
      (toAddr(Seq.fill(5)(str("ABC", rnd.nextInt(6))) :+ full),
        toAddr(Seq.fill(5)(str("ABC", rnd.nextInt(6))) :+ full))
    }
    val longStreets = for {
      len <- Seq(62, 63, 64, 65, 127, 128, 129, 200, 300)
      alphabet <- Seq("AB", "ABCDEFGH", "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ")
      _ <- 0 until 6
    } yield {
      val s = str(alphabet, len)
      val a = addr(str("0123", 3), s, str("STRE", rnd.nextInt(4)),
        if (rnd.nextBoolean()) "TOOL" else "", str("WXYZ", rnd.nextInt(8)),
        str("AB ", 1 + rnd.nextInt(40)))
      (a, near(a.copy(_2 = mutate(s, alphabet)), alphabet))
    }
    val nonAscii = Seq("GÄRDEN", "ÜBER", "STRAßE", "中文路", "É", "ÅB", "naïve")
    val unicode = (0 until 300).map { _ =>
      def f() = if (rnd.nextInt(3) == 0) ""
        else if (rnd.nextBoolean()) nonAscii(rnd.nextInt(nonAscii.length))
        else str("ABÄ", 1 + rnd.nextInt(6))
      val a = toAddr(Seq.fill(5)(f()) :+ (f() + "X"))
      (a, if (rnd.nextBoolean()) toAddr(Seq.fill(5)(f()) :+ (f() + "Y"))
        else near(a, "AÄB"))
    }
    val random = (0 until 3000).map { _ =>
      val alphabet = if (rnd.nextBoolean()) "AB" else "ABCDE 12"
      def f() = if (rnd.nextInt(10) < 3) "" else str(alphabet, 1 + rnd.nextInt(12))
      val a = toAddr(Seq.fill(6)(f()))
      (a, if (rnd.nextBoolean()) near(a, alphabet) else toAddr(Seq.fill(6)(f())))
    }
    masks ++ sameFull ++ longStreets ++ unicode ++ random
  }

  test("kernel ≡ Column-tree oracle, bit for bit (seeded property)") {
    import spark.implicits._
    val pairs = propertyPairs()
    val addrType = graft.linkage.Schemas.addrStruct
    def asStruct(c: String) = struct(addrType.fieldNames.toSeq.zipWithIndex
      .map { case (f, i) => col(s"$c._${i + 1}").as(f) }: _*)
    // an RDD source keeps both columns on the codegen path
    // (ConvertToLocalRelation would evaluate them interpreted)
    val df = spark.sparkContext.parallelize(pairs.zipWithIndex, 4)
      .map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
      .select(col("i"), asStruct("a").as("a"), asStruct("b").as("b"))
    val got = df.select(col("i"), oracle(col("a"), col("b")),
        gf.address_distance_above(col("a"), col("b"), -1.0))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getSeq[Double](2)))
      .toMap
    assert(got.size == pairs.size)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val (want, codegen) = got(i)
      val direct = Sim.addressDistance(row(a), row(b))
      val interpreted = AddressDistanceAbove(Literal(row(a), addrType),
        Literal(row(b), addrType), -1.0).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert(codegen.size == 1 && interpreted.numElements() == 1)
      assert(bits(direct) == bits(want) && bits(codegen.head) == bits(want) &&
        bits(interpreted.getDouble(0)) == bits(want),
        s"pair $i $a vs $b: oracle $want, kernel $direct, " +
          s"codegen ${codegen.head}, interpreted ${interpreted.getDouble(0)}")
      val passed = Sim.addressDistanceAbove(row(a), row(b), Scoring.AddrThreshold)
      assert(passed.numElements() == (if (want > Scoring.AddrThreshold) 1 else 0))
    }
    // the property reaches the comparator's interesting range
    val scores = got.values.map(_._1)
    assert(scores.count(_ > Scoring.AddrThreshold) > 100 &&
      scores.count(s => s > 0.0 && s < 1.0) > 1000)
  }
}
