package graft

import org.scalatest.funsuite.AnyFunSuite
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
}
