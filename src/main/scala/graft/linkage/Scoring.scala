package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Pairwise scoring (reference matching.py:473–564 + the composite
  * address comparator, matching.py:64–249 — a faithful port of the
  * FRIL-style matchStreetName logic as a pure Column expression tree, so
  * the whole thing stays inside whole-stage codegen).
  *
  * Thresholds/weights verbatim (matching.py:15–24): address prefilter
  * STRICT > 0.95 before the weighted sum, total STRICT > 0.85 with
  * weights fn 0.25 / phone 0.2 / addr 0.55 (zip never scored — all
  * candidates block on it).
  *
  * The two-projection structure mirrors the reference's predicate
  * ordering (matching.py:540→548): addr score is computed and filtered
  * first; fn/phone Jaro-Winkler only run on survivors.
  */
object Scoring {

  val MatchThreshold = 0.85
  val FnWeight = 0.25
  val PhoneWeight = 0.2
  val AddrWeight = 0.55
  val AddrThreshold = 0.95

  private def jw(a: Column, b: Column): Column = gf.jaro_winkler(a, b)

  /** matching.py:64–249, structurally 1:1. `a`/`b` are addr structs
    * (number, street, suffix, prefix, value, full).
    *
    * `streetJw`: optional pre-computed jaro_winkler(a.street, b.street).
    * The tree references that comparison THREE times (the `perfect`
    * branch's condition AND value, plus `ignoreSuffix`), and CaseWhen
    * branch values are excluded from Spark's subexpression elimination,
    * so inline it is evaluated up to 3× per pair. On this corpus the
    * street fields average ~370 chars; the bit-parallel kernel costs
    * O(l1·⌈l2/64⌉) word operations, and one street jw measures 4.0–7.2
    * µs single-threaded against 57–59 µs of scoring CPU per pair for the
    * whole tree (perfbench link-dense seed 1, two traced runs on a shared
    * 4-vCPU box: `sim.jw_ns_per_pair`, `scoring.cpu_us_per_pair`), so the
    * two repeats would add ~14–24% to the scoring CPU.
    * Callers that project pairs (scorePairs) hoist the comparison into
    * its own opaque column and pass it here; the default None keeps
    * this function a self-contained 1:1 port (exemplar specs). Values
    * are identical either way — it is the same jw on the same fields. */
  def addressDistance(a: Column, b: Column,
                      streetJw: Option[Column] = None): Column = {
    val a1 = a.getField("full")
    val a2 = b.getField("full")
    val n1 = a.getField("number"); val n2 = b.getField("number")
    val s1 = a.getField("street"); val s2 = b.getField("street")
    val x1 = a.getField("suffix"); val x2 = b.getField("suffix")
    val p1 = a.getField("prefix"); val p2 = b.getField("prefix")
    val v1 = a.getField("value");  val v2 = b.getField("value")

    // weight shift on second-level presence (matching.py:85–98)
    val noSecond = p1 === "" && p2 === "" && v1 === "" && v2 === ""
    val wNumber = when(noSecond, 0.5).otherwise(0.3)
    val wStreet = lit(0.5)
    val wSecondary = when(noSecond, 0.0).otherwise(0.2)

    // number: normalized hamming when both present (matching.py:100–103)
    val numberScore =
      when(n1 =!= "" && n2 =!= "", wNumber * gf.hamming_sim(n1, n2))
        .otherwise(0.0)

    // street-name block (matching.py:105–175)
    val jw12 = streetJw.getOrElse(jw(s1, s2))
    val bothStreet = s1 =!= "" && s2 =!= ""
    val perfect = when(x1 =!= "" && x2 =!= "",
        // textdistance short-circuit: score only adds suffix part when
        // street part is nonzero (matching.py:109–115 `if max_score_str`)
        when(jw12 * 0.8 =!= 0.0, jw12 * 0.8 + jw(x1, x2) * 0.2)
          .otherwise(0.0))
      .otherwise(0.0)
    val drop1 = when(x1 =!= "", jw(concat_ws(" ", s1, x1), s2)).otherwise(0.0)
    val drop2 = when(x2 =!= "", jw(concat_ws(" ", s2, x2), s1)).otherwise(0.0)
    val adjustment = when(x1 === "" && x2 === "", 1.0).otherwise(0.7)
    val ignoreSuffix = jw12 * adjustment
    val streetBoth = greatest(perfect, drop1, drop2, ignoreSuffix)

    // one/both streets missing: test street against other's suffix
    // (matching.py:137–162; the addr1-only branch at 163–172 is dead code
    // in the reference — `not addr1["street"] … and addr1["street"]` —
    // and is intentionally not reproduced)
    val m1 = when(s1 =!= "" && x2 =!= "",
      greatest(jw(concat_ws(" ", s1, x1), x2) * 0.7, jw(s1, x2) * 0.7))
      .otherwise(0.0)
    val m2 = when(s2 =!= "" && x1 =!= "",
      greatest(jw(concat_ws(" ", s2, x2), x1) * 0.7, jw(s2, x1) * 0.7))
      .otherwise(0.0)
    val streetMissing = greatest(m1, m2)

    val maxScoreStr = when(bothStreet, streetBoth).otherwise(streetMissing)
    val streetScore = greatest(maxScoreStr, lit(0.0)) * wStreet

    // second-level block (matching.py:177–241)
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
    // whole-string floor (matching.py:245–248). NOTE: do not try to gate
    // the full-text jw behind `when(base >= (wN+wS)*0.6, …)` — CaseWhen
    // branch values are excluded from Spark's subexpression elimination,
    // so `base` (the big street tree) gets re-evaluated per occurrence
    // and the "optimization" measured ~40% slower.
    val wholeString = jw(a1, a2) * (wNumber + wStreet) * 0.6
    val score = greatest(base, wholeString) + secondaryScore * wSecondary

    // empty → 0 / identical → 1 short-circuits (matching.py:71–83)
    when(a1 === "" || a2 === "", 0.0)
      .when(a1 === a2, 1.0)
      .otherwise(score)
  }

  /** Fetch pair attributes (J7: two hash joins on conv_id) and compute
    * the address prefilter, then the weighted sum. `records` must carry
    * conv_id, family_name, phone_number, addr. */
  def scorePairs(records: DataFrame, pairs: DataFrame): DataFrame = {
    // The narrow pairs relation broadcasts (AQE picks this up at runtime)
    // so the fat attribute side streams in place for the a-side join; the
    // b-side join then shuffles the joined rows once. Do NOT pre-shuffle
    // attrs here — measured slower: it forces an exchange of the wide
    // structs that the broadcast plan avoids entirely.
    val attrs = records.select(
      col("conv_id"), col("family_name"), col("phone_number"), col("addr"))
    val a = attrs.toDF(attrs.columns.map("a_" + _): _*)
    val b = attrs.toDF(attrs.columns.map("b_" + _): _*)
    val joined = pairs
      .join(a, col("id_a") === col("a_conv_id"))
      .join(b, col("id_b") === col("b_conv_id"))

    // stage 1: address score + strict prefilter (matching.py:540).
    // addr_score is wrapped in gf.opaque (r06) — without it the
    // optimizer pushes the prefilter below this projection, substituting
    // the FULL composite comparator tree into the filter (and sinking it
    // into the join stage), AND CollapseProject
    // inlines the tree again into total_score: addressDistance evaluated
    // twice per pair (event logs on the 218k-pair scaling kernel:
    // ~108 CPU-s of comparator work in the filter copy + ~90 CPU-s in
    // the projection's own). Opaque pins ONE evaluation here; the filter
    // and total_score read the column.
    // The street comparison is hoisted into its own opaque column so
    // the comparator tree's three references read ONE evaluation (see
    // addressDistance's streetJw doc); opaque on both columns keeps
    // CollapseProject from re-inlining either.
    val withAddr = joined
      .withColumn("_street_jw",
        gf.opaque(jw(col("a_addr").getField("street"),
          col("b_addr").getField("street"))))
      .withColumn("addr_score",
        gf.opaque(addressDistance(col("a_addr"), col("b_addr"),
          streetJw = Some(col("_street_jw")))))
      .filter(col("addr_score") > AddrThreshold)
      .drop("_street_jw")

    // stage 2: remaining comparators + weighted sum (matching.py:542–548)
    withAddr
      .withColumn("fn_score", jw(col("a_family_name"), col("b_family_name")))
      .withColumn("phone_score",
        jw(col("a_phone_number"), col("b_phone_number")))
      .withColumn("total_score",
        col("fn_score") * FnWeight + col("phone_score") * PhoneWeight +
          col("addr_score") * AddrWeight)
      .select("id_a", "id_b", "fn_score", "phone_score", "addr_score",
        "total_score")
  }

  /** Accepted matches: strict > 0.85 (matching.py:548). */
  def matches(scored: DataFrame): DataFrame =
    scored.filter(col("total_score") > MatchThreshold).select("id_a", "id_b")
}
