package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.Turn
import graft.streaming.TranscriptStream

/** Structured-Streaming fold: turns arrive incrementally; conversations
  * emit after idle timeout; folded fields match the batch Fold semantics. */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def turn(c: String, i: Int, role: String, text: String,
                   tool: String = ""): Turn =
    Turn(c, i, role, text, tool,
      new java.sql.Timestamp(1735689600000L + i * 60000L))

  test("streaming fold emits completed conversations with batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Turn]
    val query = TranscriptStream.foldStream(input.toDS(),
        gapMs = 60 * 1000L)
      .writeStream.format("memory").queryName("folded")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        turn("s1", 0, "user", "  Héllo   World "),
        turn("s1", 1, "assistant", "hi there"),
        turn("s1", 2, "tool", "result x", "web-search"))
      query.processAllAvailable()
      // advance the event-time watermark past s1's close (ts+gap):
      // a turn one day later moves the watermark to +1d − 10min
      input.addData(turn("s2", 1500, "user", "much later conv"))
      query.processAllAvailable()
      // timeouts fire at the start of the batch AFTER the watermark moves
      input.addData(turn("s3", 1501, "user", "nudge"))
      query.processAllAvailable()
      val out = spark.table("folded").collect()
        .map(r => r.getString(0) -> r).toMap
      assert(out.contains("s1"), s"s1 not emitted: ${out.keys}")
      val s1 = out("s1")
      assert(s1.getInt(1) == 3)
      assert(s1.getString(2) == "HELLO WORLD") // batch normalization parity
      assert(s1.getString(3) == "WEBSEARCH")
      assert(s1.getString(5) == "2025-01-01")
    } finally query.stop()
  }

  test("streaming fold records == batch fold records (shared derivation)") {
    import spark.implicits._
    val turns = Seq(
      turn("c1", 0, "user", "  Héllo   World "),
      turn("c1", 1, "assistant", "hi there"),
      turn("c1", 2, "tool", "result x", "web-search"),
      turn("c1", 3, "user", "thanks a lot"),
      turn("c2", 0, "assistant", "opener"), // zero user turns
      turn("c2", 1, "tool", "r", "db.query"),
      turn("c3", 0, "user", "single"))
    val cols = Seq("conv_id", "family_name", "given_name", "phone_number",
      "household_zip", "DOB", "sex", "addr")
    val batch = graft.linkage.Fold.fold(turns.toDF())
      .select(cols.head, cols.tail: _*)
    val streamed = TranscriptStream.toRecords(
      turns.groupBy(_.conv_id).map { case (c, ts) =>
        TranscriptStream.foldConv(c, ts)
      }.toSeq.toDS())
      .select(cols.head, cols.tail: _*)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      s"batch=${batch.collect().mkString("|")}\n" +
        s"stream=${streamed.collect().mkString("|")}")
  }

  test("streaming exact dedup emits each distinct text once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val docs = input.toDF().toDF("ts", "text", "doc_id")
    val query = TranscriptStream.dedupStream(docs)
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      def ts(m: Int) = new java.sql.Timestamp(1735689600000L + m * 60000L)
      input.addData(
        (ts(0), "alpha doc", 1L), (ts(1), "beta doc", 2L),
        (ts(2), "alpha doc", 3L), // duplicate within the watermark window
        (ts(3), "gamma doc", 4L))
      query.processAllAvailable()
      input.addData((ts(4), "alpha doc", 5L), (ts(5), "delta doc", 6L))
      query.processAllAvailable()
      val texts = spark.table("deduped").collect().map(_.getString(1))
      assert(texts.sorted.toSeq ==
        Seq("alpha doc", "beta doc", "delta doc", "gamma doc"))
    } finally query.stop()
  }
}
