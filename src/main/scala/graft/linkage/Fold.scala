package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Fold transcript turns into one linkage record per conversation
  * (SURVEY.md §1.3). One shuffle: groupBy(conv_id) with the turns
  * collected and sorted by turn_idx inside the aggregation —
  * `array_sort(collect_list(struct(turn_idx, …)))` keeps the per-turn
  * text-equality invariant under stable (conv_id, turn_idx) order without
  * a window (no second shuffle, no global sort).
  *
  * Field derivation mirrors the reference's PII roles (extract.py:26–35;
  * mapping table in SURVEY.md §1.3). Normalization = the reference's
  * clean_string (NFKD→ascii→trim→upper, data_reader.py:108–114) plus
  * whitespace collapse — transcript texts are multi-word free text where
  * run-length of spaces is noise, unlike the reference's single-line PII.
  */
object Fold {

  /** clean_string + whitespace collapse. */
  def normText(c: Column): Column =
    regexp_replace(gf.normalize_ascii(c), "\\s+", " ")

  /** Normalized tool signature: upper, alnum-only (clean_phone analog —
    * extract.py:87–90 keeps digits of phones; tools are idents). */
  def toolSig(c: Column): Column =
    regexp_replace(upper(c), "[^A-Z0-9]", "")

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
    val grouped = bounded
      .groupBy(col("conv_id"))
      .agg(
        array_sort(collect_list(turnStruct)).as("turns"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"))
    derive(grouped)
  }

  /** Derivation from (conv_id, turns, ts_min, ts_max). */
  private def derive(grouped: DataFrame): DataFrame = {
    val userTurns = filter(col("turns"), t => t.getField("role") === "user")
    // try_element_at, not element_at: under ANSI mode (on in Spark 4) a
    // conversation with zero user-role turns would throw
    // INVALID_ARRAY_INDEX and kill the whole fold job; try_element_at
    // nulls out and the coalesce folds it to "".
    val firstUser = coalesce(
      normText(try_element_at(userTurns, lit(1)).getField("text")), lit(""))
    val lastUser = coalesce(
      normText(try_element_at(userTurns, lit(-1)).getField("text")), lit(""))
    val toolSigCol = coalesce(
      array_join(
        array_sort(array_distinct(transform(
          filter(col("turns"), t => t.getField("tool") =!= ""),
          t => toolSig(t.getField("tool"))))),
        ""), lit(""))

    val withBasics = grouped
      .withColumn("family_name", firstUser)
      .withColumn("given_name", lastUser)
      .withColumn("phone_number", toolSigCol)
      .withColumn("full_text",
        // join per-turn normalized texts; drop empty turns' contribution
        array_join(
          filter(transform(col("turns"), t => normText(t.getField("text"))),
            s => s =!= ""),
          " "))
      .withColumn("household_zip", date_format(col("ts_min"), "yyyy-MM-dd"))
      .withColumn("DOB", date_format(col("ts_min"), "yyyy-MM-dd"))
      .withColumn("sex", element_at(col("turns"), 1).getField("role"))

    withBasics
      .withColumn("addr", addrStruct(col("full_text"), col("phone_number")))
      .drop("full_text")
  }

  /** addr_parse analog (matching.py:34–59): leading token → number,
    * body → street, trailing token → suffix; tool-call signature plays
    * the occupancy (prefix/value) role — weights shift exactly like
    * second-level addresses do (matching.py:85–98). Fields in
    * [[Schemas.addrStruct]] order, which the scoring kernel reads. */
  def addrStruct(fullText: Column, phone: Column): Column = {
    val toks = split(fullText, " ")
    val n = size(toks)
    struct(
      when(n >= 1, element_at(toks, 1)).otherwise(lit("")).as("number"),
      when(n >= 3,
        array_join(slice(toks, lit(2), greatest(n - 2, lit(0))), " "))
        .otherwise(lit("")).as("street"),
      when(n >= 2, element_at(toks, -1)).otherwise(lit("")).as("suffix"),
      when(phone =!= "", lit("TOOL")).otherwise(lit("")).as("prefix"),
      phone.as("value"),
      fullText.as("full"))
  }
}
