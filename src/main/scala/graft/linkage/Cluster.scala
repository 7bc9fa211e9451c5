package graft.linkage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive closure: distributed connected components replacing the
  * reference's driver-side BFS (households.py:152–169; SURVEY.md §2.9).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond") implemented purely as
  * DataFrame groupBy/join rounds — no collect_list, so hub nodes never
  * materialize a neighbor array; skew is absorbed by the aggregation
  * (partial min) + AQE. Converges in O(log n) rounds.
  *
  * Lineage is truncated each round. With a checkpoint dir the round state
  * is written to reliable storage (`iter_k/` parquet + `_cc_state.json`),
  * so a killed job resumes from the last completed round (north-rule
  * resumability); without one, localCheckpoint() is used.
  */
object Cluster {

  case class Options(
      checkpointDir: Option[String] = None,
      maxIter: Int = 50)

  /** edges: (id_a, id_b), undirected, self-loop-free. The id columns may
    * be ANY orderable type — longs are the cheap default, but string
    * conv_ids work unchanged (every per-round op is greatest/least/min/
    * join/distinct) — the collision-free domain for the >10⁹-records
    * scale where Pipeline's 64-bit xxhash64(conv_id) ids (collision odds
    * n²/2⁶⁴) start risking collisions.
    * Returns (id, cluster_id) for every node APPEARING IN EDGES; callers
    * attach singletons via [[labelRecords]].
    *
    * Cache lifecycle: each round is lazily localCheckpoint()'d — the
    * LOGICAL plan of a round references the previous round ~8× (largeStar
    * and smallStar each fan out their input), so without per-round
    * lineage truncation the plan tree grows exponentially and analysis
    * OOMs by round ~10 (measured). The convergence-signature action is
    * the round's single materializing job (round 2's eager checkpoint +
    * signature ran two), and the previous round's checkpoint blocks are
    * released via DatasetBridge as soon as the next is materialized —
    * round 2's Dataset-level unpersist never freed them, leaking every
    * round for the session. The returned labels are materialized into a
    * CacheManager persist (callers unpersist when done) and all round
    * state is released before returning. */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          opts: Options = Options()): DataFrame = {
    // fingerprint of the INPUT edge set, written into _cc_state.json with
    // every round: resuming against a checkpoint dir whose state was
    // computed from different edges must fall back to a fresh init, not
    // silently emit the previous input's clusters
    val inputSig: Option[(Long, Long)] =
      opts.checkpointDir.map(_ => signature(normalize(edges)))
    var (cur, startIter) = opts.checkpointDir match {
      case Some(dir) => resumeOrInit(spark, edges, dir, inputSig.get)
      case None => (normalize(edges), 0)
    }
    // a resumed state is already parquet-backed; re-checkpointing it would
    // overwrite the very files being read (self-overwrite ⇒ FILE_NOT_EXIST)
    if (startIter == 0) {
      cur = cur.localCheckpoint(eager = false)
    }
    var converged = false
    var iter = startIter
    var prevSig = signature(cur) // materializes the lazy checkpoint
    while (!converged && iter < opts.maxIter) {
      val ls = largeStar(cur)
      val ss = smallStar(ls)
      val next = persistRound(spark, ss, opts, iter, inputSig)
      val sig = signature(next) // the round's one materializing job
      converged = sig == prevSig
      prevSig = sig
      org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(cur)
      cur = next
      iter += 1
    }
    require(converged, s"CC did not converge in ${opts.maxIter} rounds")
    // fixpoint edges are (node -> component-min root); roots map to
    // selves. At a VERIFIED fixpoint no lo can also appear as a hi:
    // (a→r) and (r→r') together are not stable under largeStar (N(r)
    // would re-point a at r'), so the r05 anti-join that guarded the
    // roots union provably dropped nothing — one join fewer (r06).
    val nodeToRoot = cur.select(col("hi").as("id"), col("lo").as("cluster_id"))
    val roots = cur.select(col("lo").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    val labels = nodeToRoot.unionByName(roots)
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count() // materialize before releasing the final round state
    org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(cur)
    labels
  }

  /** Undirected edge set as (hi, lo) with hi > lo, deduped. */
  private def normalize(edges: DataFrame): DataFrame = {
    val a = edges.columns(0)
    val b = edges.columns(1)
    edges
      .select(greatest(col(a), col(b)).as("hi"),
        least(col(a), col(b)).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
  }

  /** large-star: ∀u, m = min(N(u) ∪ {u}); emit (v, m) ∀ v ∈ N(u), v > u.
    *
    * The trailing distinct looks removable (smallStar's groupBy/min is
    * duplicate-blind and the round ends in its own distinct) but is NOT:
    * it is the Exchange both smallStar consumers (the groupBy(hi) AND
    * the join probe side) share via ReuseExchange. Dropping it was
    * measured in r06 at 4× the whole q_neardup_clusters wall — the
    * largeStar union+agg+join subtree re-executed once per consumer per
    * round instead of once per round. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
      .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
  }

  /** small-star on (hi, lo) edges: ∀u, m = min(N_lo(u));
    * emit (v, m) ∀ v ∈ N_lo(u) ∪ {u}, v ≠ m. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("hi").agg(min(col("lo")).as("m"))
    val reattached = edges.join(mins, "hi")
      .select(col("lo").as("node"), col("m"))
    val self = mins.select(col("hi").as("node"), col("m"))
    reattached.unionByName(self)
      .filter(col("node") =!= col("m"))
      .select(greatest(col("node"), col("m")).as("hi"),
        least(col("node"), col("m")).as("lo"))
      .distinct()
  }

  /** Cheap fixpoint signature: (count, xor of pair hashes) — xor is
    * order-independent and can't overflow under ANSI mode. */
  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L)).as("h"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  private def persistRound(spark: SparkSession, df: DataFrame,
                           opts: Options, iter: Int,
                           inputSig: Option[(Long, Long)]): DataFrame =
    opts.checkpointDir match {
      case Some(dir) if iter >= 0 =>
        val path = s"$dir/iter_$iter"
        df.write.mode("overwrite").parquet(path)
        writeState(spark, dir, iter, inputSig.getOrElse((0L, 0L)))
        // a resumed run may overwrite a path cached by the session-shared
        // FileStatusCache — drop the stale listing before re-reading
        spark.catalog.refreshByPath(path)
        spark.read.parquet(path)
      case _ =>
        // lazy localCheckpoint: truncates the exponentially-fanning
        // lineage; the convergence signature right after is the round's
        // single materializing job. Truncation means a lost block is not
        // recomputable — local-mode semantics; reliable deployments pass
        // checkpointDir and get parquet-backed rounds instead.
        df.localCheckpoint(eager = false)
    }

  private def writeState(spark: SparkSession, dir: String, iter: Int,
                         sig: (Long, Long)): Unit =
    Extract.writeRaw(spark,
      s"""{"last_completed_iter": $iter, """ +
        s""""edges_count": ${sig._1}, "edges_hash": ${sig._2}}""",
      s"$dir/_cc_state.json")

  private def stateField(txt: String, key: String): Option[Long] =
    (""""""" + key + """"\s*:\s*(-?\d+)""").r
      .findFirstMatchIn(txt).map(_.group(1).toLong)

  /** Resume from the last completed round iff state exists AND its stored
    * input-edges fingerprint matches the current input — otherwise the
    * checkpoint belongs to a different run and we must init fresh. State
    * files without a fingerprint (pre-fingerprint format) never match. */
  private def resumeOrInit(spark: SparkSession, edges: DataFrame,
                           dir: String,
                           inputSig: (Long, Long)): (DataFrame, Int) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val statePath = new org.apache.hadoop.fs.Path(s"$dir/_cc_state.json")
    if (fs.exists(statePath)) {
      val txt = Cli.readText(spark, statePath.toString)
      val iter = stateField(txt, "last_completed_iter")
        .map(_.toInt).getOrElse(-1)
      val sigMatches =
        stateField(txt, "edges_count").contains(inputSig._1) &&
          stateField(txt, "edges_hash").contains(inputSig._2)
      if (sigMatches && iter >= 0 && fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/iter_$iter"))) {
        return (spark.read.parquet(s"$dir/iter_$iter"), iter + 1)
      }
    }
    (normalize(edges), 0)
  }

  /** Attach labels to all records; nodes without edges become their own
    * cluster (singleton semantics, households.py:247–249). */
  def labelRecords(records: DataFrame, labels: DataFrame,
                   idCol: String = "node_id"): DataFrame =
    records.join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
}
