package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Pairwise scoring (reference matching.py:473–564 + the composite
  * address comparator, matching.py:64–249 — written once as the plain
  * Scala kernel [[graft.linkage.expr.Sim.addressDistance]], called through
  * one codegen'd expression so scoring stays inside whole-stage codegen).
  *
  * Thresholds/weights verbatim (matching.py:15–24): address prefilter
  * STRICT > 0.95 before the weighted sum, total STRICT > 0.85 with
  * weights fn 0.25 / phone 0.2 / addr 0.55 (zip never scored — all
  * candidates block on it).
  *
  * The two stages mirror the reference's predicate ordering
  * (matching.py:540→548): addr score is computed and filtered first;
  * fn/phone Jaro-Winkler only run on survivors.
  */
object Scoring {

  val MatchThreshold = 0.85
  val FnWeight = 0.25
  val PhoneWeight = 0.2
  val AddrWeight = 0.55
  val AddrThreshold = 0.95

  private def jw(a: Column, b: Column): Column = gf.jaro_winkler(a, b)

  /** Fetch pair attributes (J7: two hash joins on conv_id) and compute
    * the address prefilter, then the weighted sum. `records` must carry
    * conv_id, family_name, phone_number, addr. */
  def scorePairs(records: DataFrame, pairs: DataFrame): DataFrame = {
    // The narrow pairs relation broadcasts (AQE picks this up at runtime)
    // so the fat attribute side streams in place for the a-side join; the
    // b-side join then shuffles the joined rows once. Do NOT pre-shuffle
    // attrs here — measured slower: it forces an exchange of the wide
    // structs that the broadcast plan avoids entirely. Over Pipeline's
    // checkpointed inputs the planner broadcasts both attribute sides
    // instead while they are small (link-dense: 5.4k records), and the
    // pairs stream in place (Pipeline.link spreads them over the cores).
    val attrs = records.select(
      col("conv_id"), col("family_name"), col("phone_number"), col("addr"))
    val a = attrs.toDF(attrs.columns.map("a_" + _): _*)
    val b = attrs.toDF(attrs.columns.map("b_" + _): _*)
    val joined = pairs
      .join(a, col("id_a") === col("a_conv_id"))
      .join(b, col("id_b") === col("b_conv_id"))

    // stage 1: address score + strict prefilter (matching.py:540). The
    // kernel yields [d] only when d passes, and the explode keeps those
    // pairs: the prefilter is the Generate's cardinality, which the
    // optimizer can neither push below the projection nor re-inline, so
    // the comparator runs once per pair. The kernel sits directly inside
    // explode(): over an attribute input InferFiltersFromGenerate would
    // add a size(...) > 0 filter, pushed below with the kernel substituted.
    val withAddr = joined.withColumn("addr_score", explode(
      gf.address_distance_above(col("a_addr"), col("b_addr"), AddrThreshold)))

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
