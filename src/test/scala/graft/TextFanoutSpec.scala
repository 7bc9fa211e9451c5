package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sizing rule behind the text readers' scan fan-out (Queries.tText). */
class TextFanoutSpec extends AnyFunSuite {

  private val maxSplit = 128L << 20 // spark.sql.files.maxPartitionBytes
  private val parallelism = 4

  test("unknown size (Long.MaxValue) never fans out") {
    assert(Queries.textFanout(Long.MaxValue, maxSplit, parallelism).isEmpty)
    assert(Queries.textFanout(Long.MaxValue, 1L, parallelism).isEmpty)
  }

  test("a small single-split file fans out, capped at the parallelism") {
    // 584 KB (documents.parquet at sf0.1): one scan split, 18 × 32 KB
    assert(Queries.textFanout(584L << 10, maxSplit, parallelism)
      .contains(parallelism))
    // 64 KB: two 32 KB tasks, below the cap
    assert(Queries.textFanout(64L << 10, maxSplit, parallelism).contains(2))
    // below one 32 KB task: nothing to split
    assert(Queries.textFanout(1000L, maxSplit, parallelism).isEmpty)
    assert(Queries.textFanout(0L, maxSplit, parallelism).isEmpty)
  }

  test("a file of at least maxSplit × parallelism keeps its scan splits") {
    val big = maxSplit * parallelism
    assert(Queries.textFanout(big, maxSplit, parallelism).isEmpty)
    assert(Queries.textFanout(big + 1, maxSplit, parallelism).isEmpty)
    // one byte short of a full last split still rounds up to 4 splits
    assert(Queries.textFanout(big - 1, maxSplit, parallelism).isEmpty)
  }
}
