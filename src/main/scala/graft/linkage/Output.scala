package graft.linkage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster assembly + reference-shaped outputs (households.py:182–283;
  * SURVEY.md §2.4 A8/A9).
  *
  * Deviation (SURVEY.md §7.5): the reference picks the household's display
  * row by shuffled first-visit (households.py:226–249, deliberately
  * nondeterministic); we take min_by(conv_id) — deterministic, cluster
  * contents identical.
  */
object Output {

  /** One row per cluster: sorted members, representative fields, size
    * (A8/A9). `labeled` = records + cluster_id.
    *
    * Scale note: the members list is the reference's own output shape
    * (households.py:268–276) and is naturally bounded by household size;
    * a degenerate giant component would make one fat row here — upstream
    * the 2% block cap and the 0.95 addr prefilter are what keep
    * components household-sized. */
  def clusters(labeled: DataFrame): DataFrame =
    labeled.groupBy(col("cluster_id"))
      .agg(
        sort_array(collect_list(col("conv_id"))).as("members"),
        count(lit(1)).as("size"),
        min_by(
          struct(col("family_name"), col("phone_number"),
            col("addr").getField("full").as("household_street_address"),
            col("household_zip")),
          col("conv_id")).as("rep"))
      .select(col("cluster_id"), col("members"), col("size"),
        col("rep.family_name"), col("rep.phone_number"),
        col("rep.household_street_address"), col("rep.household_zip"))

  /** --testrun scoring files (households.py:261–265, 345–347) from the
    * [[clusters]] rows, whose `cluster_id` is the representative
    * `members[0]`: `hh_pos_patids` = (household_position, pid) one row
    * per member; `household_pos_pid` = (household_position, pid) one row
    * per household with the representative's id. Positions follow
    * `cluster_id` order, like mapping_csv and the household CLKs. */
  def scoringFiles(clusters: DataFrame): (DataFrame, DataFrame) = {
    val hh = Positions.withPosition(
      clusters.select(col("cluster_id"), col("members")), col("cluster_id"),
      "household_position")
    val perMember = hh.select(col("household_position"),
      explode(col("members")).as("pid"))
    val perHousehold = hh.select(col("household_position"),
      col("cluster_id").as("pid"))
    (perMember, perHousehold)
  }
}
