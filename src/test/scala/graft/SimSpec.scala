package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.linkage.expr.Sim

/** textdistance-parity goldens (reference matching.py:25–31 exemplars and
  * the ""-handling rules at matching.py:71–83). */
class SimSpec extends AnyFunSuite {
  private def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean =
    math.abs(a - b) < eps

  test("jaro basics") {
    assert(Sim.jaro("", "") == 1.0)
    assert(Sim.jaro("", "X") == 0.0)
    assert(Sim.jaro("X", "") == 0.0)
    assert(Sim.jaro("ABC", "ABC") == 1.0)
    assert(approx(Sim.jaro("GARDEN", "GAREDN"), (1.0 + 1.0 + 5.0 / 6) / 3))
    assert(approx(Sim.jaro("STREET", "ST"), (2.0 / 6 + 1.0 + 1.0) / 3))
    assert(approx(Sim.jaro("5F", "5J"), (0.5 + 0.5 + 1.0) / 3))
    // odd out-of-order count floors: t = 3 // 2 = 1 (textdistance/DuckDB
    // parity — matched chars d,a,n vs a,n,d are all out of order)
    assert(approx(Sim.jaro("old anvil", "Brand#14"),
      (3.0 / 9 + 3.0 / 8 + 2.0 / 3) / 3))
  }

  test("jaro-winkler: boost only above 0.7, prefix capped at 4") {
    // 0.944… > 0.7 → boost with prefix GAR (3)
    val jGarden = (1.0 + 1.0 + 5.0 / 6) / 3
    assert(approx(Sim.jaroWinkler("GARDEN", "GAREDN"),
      jGarden + 3 * 0.1 * (1 - jGarden)))
    // jaro("5F","5J") = 2/3 ≤ 0.7 → NO boost (pins the 0.9472 exemplar)
    assert(approx(Sim.jaroWinkler("5F", "5J"), 2.0 / 3))
    // jaro("STREET","ST") = 0.7778 > 0.7 → boost even though len(ST)=2
    val jStreet = (2.0 / 6 + 1.0 + 1.0) / 3
    assert(approx(Sim.jaroWinkler("STREET", "ST"),
      jStreet + 2 * 0.1 * (1 - jStreet)))
    assert(Sim.jaroWinkler("", "") == 1.0)
    assert(Sim.jaroWinkler("", "ABC") == 0.0)
  }

  test("hamming normalized similarity (truncate=False)") {
    assert(approx(Sim.hammingSim("205", "206"), 2.0 / 3))
    assert(Sim.hammingSim("205", "205") == 1.0)
    assert(Sim.hammingSim("", "") == 1.0)
    assert(approx(Sim.hammingSim("12", "1234"), 0.5))
    assert(Sim.hammingSim("", "99") == 0.0)
  }

  test("normalizeAscii: NFKD fold, ascii-ignore, strip, upper") {
    assert(Sim.normalizeAscii("  héllo wörld  ") == "HELLO WORLD")
    assert(Sim.normalizeAscii("Ångström") == "ANGSTROM")
    assert(Sim.normalizeAscii("日本語abc") == "ABC")
    assert(Sim.normalizeAscii("\t a b \n") == "A B")
    assert(Sim.normalizeAscii("") == "")
  }

  test("metaphone produces stable non-empty sigs for alpha strings") {
    assert(Sim.metaphone("SMITH") == Sim.metaphone("SMITH"))
    assert(Sim.metaphone("SMITH").nonEmpty)
    assert(Sim.metaphone("12 34") == "")
  }

  test("properties: symmetry, range, identity (seeded random corpus)") {
    val rnd = new scala.util.Random(42)
    def rs(): String = {
      val n = rnd.nextInt(25)
      (0 until n).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    }
    (0 until 500).foreach { _ =>
      val a = rs(); val b = rs()
      val jw = Sim.jaroWinkler(a, b)
      assert(jw >= 0.0 && jw <= 1.0)
      assert(approx(jw, Sim.jaroWinkler(b, a)))
      assert(Sim.jaroWinkler(a, a) == 1.0)
      val h = Sim.hammingSim(a, b)
      assert(h >= 0.0 && h <= 1.0)
      assert(approx(h, Sim.hammingSim(b, a)))
    }
  }

  test("bit-parallel ASCII kernel is bit-identical to the scalar char path") {
    // jaroWinklerUtf8 takes the byte kernel on ASCII operands; the char
    // path (Sim.jaroWinkler) is the oracle. Covers 64-bit word edges,
    // 1–3-letter alphabets (heavy transpositions), l1 << l2 and l1 >> l2,
    // shared 0–4-char prefixes, all 128 ASCII bytes, a > 10k-char pair,
    // and long/short calls interleaved on one thread (stale scratch rows
    // from a long call would corrupt the next short one).
    val rnd = new scala.util.Random(20261019)
    val alphabets = Seq("A", "AB", "ABC",
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ 0123456789",
      (0 until 128).map(_.toChar).mkString)
    def rs(n: Int, alpha: String): String =
      Array.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    // a near copy: a shared prefix of exactly p chars (when the alphabet
    // allows a different next char), then swaps, substitutions and indels
    def related(a: String, alpha: String): String = {
      val p = math.min(rnd.nextInt(5), a.length)
      val sb = new StringBuilder(a.drop(p))
      (0 until 1 + rnd.nextInt(1 + sb.length / 8)).foreach { _ =>
        if (sb.nonEmpty) {
          val q = rnd.nextInt(sb.length)
          rnd.nextInt(4) match {
            case 0 if q + 1 < sb.length =>
              val c = sb(q); sb(q) = sb(q + 1); sb(q + 1) = c
            case 1 => sb(q) = alpha(rnd.nextInt(alpha.length))
            case 2 => sb.deleteCharAt(q)
            case _ => sb.insert(q, alpha(rnd.nextInt(alpha.length)))
          }
        }
      }
      if (p < a.length && sb.nonEmpty && alpha.length > 1)
        while (sb(0) == a(p)) sb(0) = alpha(rnd.nextInt(alpha.length))
      a.take(p) + sb
    }
    var checked = 0
    def check(a: String, b: String): Unit = {
      val want = Sim.jaroWinkler(a, b)
      val got = Sim.jaroWinklerUtf8(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want),
        s"kernel $got != scalar $want for lengths " +
          s"${a.length}/${b.length}: '${a.take(80)}' vs '${b.take(80)}'")
      checked += 1
    }
    val lengths = Seq(0, 1, 2, 5, 63, 64, 65, 127, 128, 129, 1000, 1100)
    for (l1 <- lengths; l2 <- lengths; alpha <- alphabets) {
      val a = rs(l1, alpha)
      check(a, rs(l2, alpha))
      val b = related(a, alpha)
      check(a, b); check(b, a)
      check(rs(1 + rnd.nextInt(8), alpha), a) // short after long
    }
    (0 until 20000).foreach { n =>
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      val l = if (n % 50 == 0) 900 + rnd.nextInt(300) else rnd.nextInt(200)
      val a = rs(l, alpha)
      check(a, if (rnd.nextBoolean()) related(a, alpha)
               else rs(rnd.nextInt(200), alpha))
    }
    // a runaway conversation's full text against a near copy, a short
    // field and a transposed copy; then short calls on the same thread
    val letters = alphabets(3)
    val huge = rs(12000, letters)
    check(huge, related(huge, letters))
    check(huge, rs(37, letters)); check(rs(37, letters), huge)
    check(huge, huge.drop(6000) + huge.take(6000))
    (0 until 100).foreach(_ => check(rs(rnd.nextInt(70), letters),
      rs(rnd.nextInt(70), letters)))
    assert(checked > 20000)
  }
}
