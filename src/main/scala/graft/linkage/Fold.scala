package graft.linkage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Fold transcript turns into one linkage record per conversation
  * (SURVEY.md §1.3). One shuffle: groupBy(conv_id) with the turns
  * collected and sorted by turn_idx inside the aggregation —
  * `array_sort(collect_list(struct(turn_idx, …)))` keeps the per-turn
  * text-equality invariant under stable (conv_id, turn_idx) order without
  * a window (no second shuffle, no global sort).
  *
  * The record's linkage fields (the reference's PII roles, extract.py:26–35;
  * mapping table in SURVEY.md §1.3) come from one codegen'd pass of
  * [[expr.FoldKernel]] over each conversation's sorted turns, read through
  * one `inline(array(fold_fields(turns)))` Generate so the kernel runs once
  * per record. Normalization is the reference's clean_string
  * (NFKD→ascii→trim→upper, data_reader.py:108–114) plus whitespace
  * collapse: transcript texts are multi-word free text where the run
  * length of spaces is noise, unlike the reference's single-line PII. The
  * block-only date fields are `date_format` of the first turn's time.
  */
object Fold {

  /** turns array column must be sorted structs with fields
    * (turn_idx, role, text, tool, ts).
    *
    * Scale note: collect_list per conv_id is the right shape while
    * conversations are human-sized, but ONE pathological conversation
    * (a runaway agent loop with millions of turns) materializes in a
    * single aggregation buffer — the same hazard class as a
    * mega-duplicate group in exact dedup. `maxTurns > 0` bounds it:
    * only the maxTurns lowest turn_idx rows per conversation survive
    * (deterministic truncation via filter-after-rank, no fat buffer —
    * the rank window partitions by conv_id, so no global sort). Default
    * off: truncation breaks the per-turn equality invariant by design. */
  def fold(transcripts: DataFrame, maxTurns: Int = 0): DataFrame = {
    val bounded =
      if (maxTurns <= 0) transcripts
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("conv_id"))
          .orderBy(col("turn_idx"))
        transcripts
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= maxTurns)
          .drop("_rk")
      }
    val turnStruct = struct(
      col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"))
    val day = date_format(col("ts_min"), "yyyy-MM-dd")
    bounded
      .groupBy(col("conv_id"))
      .agg(
        array_sort(collect_list(turnStruct)).as("turns"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"))
      .select(col("*"), inline(array(gf.fold_fields(col("turns")))))
      .select(col("conv_id"), col("turns"), col("ts_min"), col("ts_max"),
        col("family_name"), col("given_name"), col("phone_number"),
        day.as("household_zip"), day.as("DOB"), col("sex"), col("addr"))
  }
}
