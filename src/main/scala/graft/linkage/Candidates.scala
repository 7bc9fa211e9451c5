package graft.linkage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Candidate-pair generation: blocked self-join per pass, `id_a < id_b`
  * pair dedup, cross-pass union+distinct (reference J1/U1,
  * matching.py:390–470; SURVEY.md §2.3/§2.7).
  *
  * Scale levers (SURVEY.md §4, §7.4.5):
  *  - oversized-block cap: blocks holding more than
  *    max(minBlockCap, ratioMax·N) records are dropped entirely — the
  *    reference's own 2% frequency guard (p-sig.json "filter": max 0.02).
  *  - salted triangle self-join for blocks above saltThreshold: rows get
  *    salt s = xxhash64(conv_id) mod S; each row is replicated into the S
  *    buckets {sorted(s, t) : t}, pairs join on (block_key, bucket) with
  *    the bucket required to equal the pair's own sorted salt pair, so
  *    every pair appears exactly once and the max join-partition size
  *    drops by ~S.
  *  - AQE skew-join stays on as the runtime backstop.
  */
object Candidates {

  case class Config(
      ratioMax: Double = 0.02,   // p-sig "filter" ratio
      minBlockCap: Long = 50,    // floor so tiny corpora keep their blocks
      /** Target max rows per join bucket. r06: 4096 → 256 — join WORK
        * per bucket is quadratic in its rows, so a 4096-row bucket is an
        * ~8M-comparison single task (measured: 1.26 s straggler tasks vs
        * 0.37 s median in the pair-join stage; the whole candidates
        * stage 1.9 s → 1.2 s at 256 with identical pairs). 256 rows ≈
        * 32k comparisons per bucket — fine-grained at any scale; the
        * `salts` ceiling bounds the replication cost for mega-blocks. */
      saltThreshold: Long = 256,
      salts: Int = 16)           // ceiling on per-block salt count

  /** Pairs (id_a < id_b) from all passes over the records.
    *
    * ONE plan for all passes: the passes' keys are exploded into a single
    * (pass, block_key, conv_id) relation, block sizes come from one
    * hash-aggregate (the post-cap counts side is tiny → AQE broadcasts
    * it back, so the fat side shuffles only for the pair join), and every
    * block goes through the same triangle join with an ADAPTIVE salt
    * count ceil(n / saltThreshold) — 1 for ordinary blocks (degenerates
    * to the plain a<b self-join), up to `salts` for hot ones. Both join
    * children are the same subplan, so Spark reuses one Exchange for the
    * two sides. Round 2 ran a per-pass small/big two-branch union that
    * recomputed keying+counts four times (~10 small shuffles, measured
    * ~4.5 s of the sf0.1 linkage wall); this shape is 3 exchanges total
    * and is also the 100-TB plan: no branch cliff at saltThreshold, skew
    * handled per-block, AQE as backstop. */
  def candidates(records: DataFrame, passes: Seq[Blocking.Pass],
                 cfg: Config = Config(),
                 nRecords: Option[Long] = None): DataFrame =
    saltedPairs(cappedBlocks(records, nRecords.getOrElse(records.count()),
      passes, cfg)._1, cfg)
      .dropDuplicates("id_a", "id_b")

  /** Incremental candidates: pairs where AT LEAST ONE side is a new
    * record — the increment path's blocking stage. Old-old pairs are
    * never regenerated (scoring is deterministic, so their matches are
    * already in the previous run's output). Block sizes and the 2% cap
    * are evaluated over ALL records, exactly like a full run; a<b
    * normalization dedups the two join orders and new-new pairs. */
  def incrementalCandidates(allRecords: DataFrame, nAll: Long,
                            newRecords: DataFrame,
                            passes: Seq[Blocking.Pass],
                            cfg: Config = Config()): DataFrame = {
    // same unified single-relation shape as candidates(): block sizes
    // over ALL records, exactly like a full run, then one new×all join
    val (keptAll, blocks) = cappedBlocks(allRecords, nAll, passes, cfg)
    val keptNew = Blocking.keyedAll(newRecords, passes)
      .join(blocks, Seq("pass", "block_key"), "left_semi")
    val l = keptNew.select(col("pass"), col("block_key"),
      col("conv_id").as("new_id"))
    val r = keptAll.select(col("pass").as("pass_r"),
      col("block_key").as("bk_r"), col("conv_id").as("other_id"))
    l.join(r, col("pass") === col("pass_r") &&
        col("block_key") === col("bk_r") &&
        col("new_id") =!= col("other_id"))
      .select(least(col("new_id"), col("other_id")).as("id_a"),
        greatest(col("new_id"), col("other_id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** The 2% block cap both generators share: keys `records` under every
    * pass in one relation, sizes each (pass, block_key) block with one
    * hash-aggregate and keeps the blocks of at most
    * max(minBlockCap, ratioMax·N) records, N = `nRecords` (the
    * pipelines pass the count of their persisted records; `candidates`
    * counts only when its caller holds none). Returns (kept keyed rows
    * with their block size `n`, kept blocks with `n`). */
  private def cappedBlocks(records: DataFrame, nRecords: Long,
                           passes: Seq[Blocking.Pass],
                           cfg: Config): (DataFrame, DataFrame) = {
    val cap = math.max(cfg.minBlockCap,
      (cfg.ratioMax * nRecords).toLong)
    val keyed = Blocking.keyedAll(records, passes)
    val blocks = keyed.groupBy("pass", "block_key")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= cap)
    (keyed.join(blocks, Seq("pass", "block_key")), blocks)
  }

  /** Adaptive triangle-salted self-join over (pass, block_key) with the
    * block size `n` already attached. Each row gets salt
    * h(conv_id) mod s where s = min(ceil(n/saltThreshold), salts), and
    * is replicated into the s sorted buckets {(min(salt,t), max(salt,t))};
    * pairs join on (pass, block_key, bucket) and are kept only in the
    * bucket equal to their own sorted salt pair, so every a<b pair
    * appears exactly once. s == 1 (the common case) replicates nothing
    * and the bucket filter is trivially true — identical to the plain
    * blocked self-join. Both join children reference the same `replicated`
    * plan, so the shuffle Exchange is planned once and reused. */
  private def saltedPairs(kept: DataFrame, cfg: Config): DataFrame = {
    val replicated = kept
      .withColumn("s", least(
        ceil(col("n").cast("double") / cfg.saltThreshold),
        lit(cfg.salts.toLong)).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("conv_id")), col("s")).cast("int"))
      .withColumn("other", explode(sequence(lit(0), col("s") - 1)))
      .select(col("pass"), col("block_key"),
        least(col("salt"), col("other")).as("b_lo"),
        greatest(col("salt"), col("other")).as("b_hi"),
        col("conv_id"), col("salt"))
    replicated.as("l").join(replicated.as("r"),
        col("l.pass") === col("r.pass") &&
        col("l.block_key") === col("r.block_key") &&
        col("l.b_lo") === col("r.b_lo") && col("l.b_hi") === col("r.b_hi") &&
        col("l.conv_id") < col("r.conv_id"))
      // count each pair once: only in the bucket equal to its salt pair
      .filter(col("l.b_lo") === least(col("l.salt"), col("r.salt")) &&
        col("l.b_hi") === greatest(col("l.salt"), col("r.salt")))
      .select(col("l.conv_id").as("id_a"), col("r.conv_id").as("id_b"))
  }
}
