package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.linkage.Turn

/** Structured-Streaming ingest for transcripts.
  *
  * The reference is purely batch (SURVEY.md §2.10) — this is the
  * *incremental ingest* path a 10¹²-turn deployment needs: turns arrive as
  * a stream, are folded per conversation with event-time state, and
  * completed conversations are emitted downstream to the batch linkage
  * pipeline (Fold-compatible record shape).
  *
  * Mechanics: watermark on `ts` bounds state; `flatMapGroupsWithState`
  * keyed by conv_id accumulates turns and emits a conversation once the
  * event-time watermark passes its last turn's ts + `gap` (event-time
  * timeout — deterministic, and no busy-triggering: a processing-time
  * timeout makes the micro-batch loop self-trigger continuously while any
  * state is pending).
  */
object TranscriptStream {

  case class ConvState(turns: List[Turn])
  case class FoldedConv(conv_id: String, n_turns: Int,
                        first_user_text: String, tool_sig: String,
                        full_text: String, day: String,
                        last_user_text: String, first_role: String)

  /** Fold a completed conversation exactly like the batch Fold stage
    * (normalization shared via Sim). */
  def foldConv(convId: String, turns: Seq[Turn]): FoldedConv = {
    import graft.linkage.expr.Sim
    val sorted = turns.sortBy(_.turn_idx)
    def norm(s: String): String =
      Sim.normalizeAscii(s).replaceAll("\\s+", " ")
    val userTexts = sorted.filter(_.role == "user").map(t => norm(t.text))
    val firstUser = userTexts.headOption.getOrElse("")
    val lastUser = userTexts.lastOption.getOrElse("")
    val toolSig = sorted.map(_.tool).filter(_.nonEmpty)
      .map(t => t.toUpperCase.replaceAll("[^A-Z0-9]", ""))
      .distinct.sorted.mkString("")
    val full = sorted.map(t => norm(t.text)).filter(_.nonEmpty)
      .mkString(" ")
    val day = new java.text.SimpleDateFormat("yyyy-MM-dd") {
      setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    }.format(sorted.map(_.ts.getTime).min)
    FoldedConv(convId, sorted.size, firstUser, toolSig, full, day,
      lastUser, sorted.head.role)
  }

  /** Completed-conversation stream → the EXACT batch linkage record
    * shape (Fold.fold minus the turns array): the address-struct
    * derivation is the shared Fold.addrStruct Column tree, so records
    * folded incrementally can feed Pipeline.incremental directly. */
  def toRecords(folded: Dataset[FoldedConv]): DataFrame = {
    folded.toDF()
      .select(
        col("conv_id"),
        col("day").as("ts_min"), // day-granularity stand-ins: the batch
        col("day").as("ts_max"), // fold keeps full timestamps, linkage
        col("first_user_text").as("family_name"), // only uses the day
        col("last_user_text").as("given_name"),
        col("tool_sig").as("phone_number"),
        col("day").as("household_zip"),
        col("day").as("DOB"),
        col("first_role").as("sex"),
        graft.linkage.Fold.addrStruct(col("full_text"), col("tool_sig"))
          .as("addr"))
  }

  /** Streaming fold: turns stream → completed-conversation stream. A
    * conversation closes when the event-time watermark passes its latest
    * turn's ts + `gapMs`. */
  def foldStream(turns: Dataset[Turn],
                 gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 minutes")
      : Dataset[FoldedConv] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, FoldedConv](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (convId: String, rows: Iterator[Turn],
         state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(foldConv(convId, st.turns))
          } else {
            val prev = state.getOption.map(_.turns).getOrElse(Nil)
            val all = prev ++ rows.toList
            state.update(ConvState(all))
            val lastTs = all.map(_.ts.getTime).max
            // timeout must sit beyond the current watermark
            val target = math.max(lastTs + gapMs,
              state.getCurrentWatermarkMs() + 1)
            state.setTimeoutTimestamp(target)
            Iterator.empty
          }
      }
  }

  /** Streaming exact dedup (the ingest leg of the dedup family, batch
    * analog Dedup.exact): emit each distinct document text once, keyed by
    * its 64-bit content hash. dropDuplicatesWithinWatermark bounds the
    * dedup state by event time — at 10¹²-doc scale an unbounded distinct
    * state is the OOM; the watermark makes the state window explicit
    * (re-ingesting a duplicate after the window re-emits it, which the
    * downstream batch dedup catches). `docs` needs (ts, text). */
  def dedupStream(docs: DataFrame,
                  watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", xxhash64(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")
}
