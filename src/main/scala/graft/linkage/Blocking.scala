package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking-key derivation (reference matching.py:390–470 + the p-sig
  * frequency guard, example-schema/blocking-schema/p-sig.json).
  *
  * Two blocking passes, exactly the reference's
  * (matching.py:401–405, non-exact mode):
  *   pass A: [household_zip, addr.street, addr.number]
  *   pass B: [household_zip, family_name]
  * Exact mode: [household_zip, addr.full] (matching.py:402).
  *
  * Each pass yields (pass, block_key, conv_id) with rows lacking an
  * address filtered out first ("" == "" must not match,
  * matching.py:410–418).
  */
object Blocking {

  /** Field separator inside a concatenated block key: \u0001 cannot
    * survive clean_string normalization into any blocked field, so
    * distinct key tuples can never collide into one block (street=AB/
    * number=C vs street=A/number=BC). Written as an escape — a literal
    * control byte here was invisible to review. The reference blocks on
    * column tuples (matching.py:401–405), which can't collide. */
  val KeySep = "\u0001"

  case class Pass(name: String, keys: Seq[String])

  val defaultPasses: Seq[Pass] = Seq(
    Pass("zip_street_number",
      Seq("household_zip", "addr.street", "addr.number")),
    Pass("zip_family_name", Seq("household_zip", "family_name")))

  val exactPasses: Seq[Pass] = Seq(
    Pass("zip_address", Seq("household_zip", "addr.full")))

  def blockKey(keys: Seq[String]): Column =
    concat_ws(KeySep, keys.map(col): _*)

  /** (pass, block_key, conv_id) for ALL passes in one scan: each record
    * explodes into one row per pass. One relation → one downstream
    * count-aggregate and one pair join instead of a per-pass plan union
    * (Candidates.candidates). */
  def keyedAll(records: DataFrame, passes: Seq[Pass]): DataFrame =
    records
      .filter(col("addr.full") =!= "")
      .select(col("conv_id"), explode(array(passes.map(p =>
        struct(lit(p.name).as("pass"),
          blockKey(p.keys).as("block_key"))): _*)).as("pb"))
      .select(col("pb.pass").as("pass"),
        col("pb.block_key").as("block_key"), col("conv_id"))
}
