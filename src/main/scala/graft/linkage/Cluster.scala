package graft.linkage

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Transitive closure: distributed connected components replacing the
  * reference's driver-side BFS (households.py:152–169; SURVEY.md §2.9).
  *
  * Algorithm: the hybrid of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SoCC 2014) — star rounds while the graph is
  * big, then a local finish.
  *  - Rounds: alternating large-star / small-star, implemented purely as
  *    DataFrame groupBy/join rounds — no collect_list, so hub nodes never
  *    materialize a neighbor array; skew is absorbed by the aggregation
  *    (partial min) + AQE. Each round leaves only (node → smaller
  *    neighbour) edges; they converge in O(log n) rounds.
  *  - Local finish: once the edge count that every convergence
  *    `signature` already returns is at or below [[LocalFinishEdges]],
  *    one task runs union-find over what is left ([[localFinish]]). The
  *    finish is the last step of every run; only a graph whose fixpoint
  *    is still above the ceiling (more than 2²⁰ non-root nodes) reads
  *    its labels off the star fixpoint instead. Both label a node with its component's
  *    minimum id, so the labels do not depend on where the switch
  *    happens (ClusterSpec runs every case both ways).
  *  - Ceiling sizing: an absolute edge count, sized for one task — not a
  *    ratio, and not an option. At 2²⁰ random long edges (1.33M nodes,
  *    local[4]) the finish task ran 2.6–3.1 s next to Spark's 67 MB
  *    sort buffer; its flat arrays are 50 MB and its boxed ids ~21 MB
  *    (from the array sizes). The whole CC call took 4.4 s there, and
  *    pure star rounds on the same graph 60 s.
  *
  * Lineage is truncated each round. With a checkpoint dir the round state
  * is written to reliable storage (`iter_k/` parquet + `_cc_state.json`),
  * so a killed job resumes from the last completed round (north-rule
  * resumability); without one, localCheckpoint() is used. The finish
  * reads such a round: when no round ran because the input was already
  * small, the input edge set is first written as round 0, so a killed
  * finish resumes from it too.
  *
  * A caller that knows an upper bound on its edge rows (the row count of
  * a stage cut, as `Pipeline` does) skips all of that when the bound is
  * at or below the ceiling and there is no checkpoint dir: the finish is
  * returned as a lazy plan over the caller's edges, and the query that
  * reads the labels runs it (the linkage clusters build, so CC adds no
  * query of its own).
  */
object Cluster {

  case class Options(checkpointDir: Option[String] = None)

  /** Star rounds after which a CC that has neither converged nor shrunk
    * to the finish ceiling fails. */
  private val MaxRounds = 50

  /** Edge count at or below which CC finishes in one task (see the
    * object doc for how it is sized). */
  val LocalFinishEdges: Long = 1L << 20

  /** Storage of the engine's local checkpoints: CC's lazy rounds and the
    * linkage stage outputs (Pipeline). Serialized rows, spilled to disk
    * under memory pressure: compact for the text-heavy records, which a
    * columnar cache would encode column by column. Fixed, not an option;
    * the disk level is what a local checkpoint requires anyway. */
  private[linkage] val CheckpointLevel: StorageLevel =
    StorageLevel.MEMORY_AND_DISK_SER

  /** edges: (id_a, id_b), undirected, self-loop-free. The id columns may
    * be ANY orderable type whose values compare by value (every atomic
    * type but binary) — longs are the cheap default, but string conv_ids
    * work unchanged (every per-round op is greatest/least/min/join/
    * distinct, and the finish takes its order from Spark's sort) — the
    * collision-free domain for the >10⁹-records scale where Pipeline's
    * 64-bit xxhash64(conv_id) ids (collision odds n²/2⁶⁴) start risking
    * collisions.
    * Returns (id, cluster_id) for every node APPEARING IN EDGES, labelled
    * with its component's minimum id; callers attach singletons via
    * [[labelRecords]].
    *
    * `maxEdges`, when given, bounds the number of edge ROWS (duplicates
    * and self-loops included). At or below [[LocalFinishEdges]], without
    * a checkpoint dir, the labels are the local finish as a lazy plan over
    * `edges`, marked for broadcast: no round runs and nothing is
    * persisted or executed here; each action over the labels runs the
    * finish again, so read them once (inside a cut's build, say). Rows
    * beyond the bound fail that action loudly. Over the ceiling, with a
    * checkpoint dir, or without a bound, the rounds below run.
    *
    * Cache lifecycle of the rounds: each round is lazily
    * localCheckpoint()'d — the LOGICAL plan of a round references the
    * previous round ~8× (largeStar and smallStar each fan out their
    * input), so without per-round lineage truncation the plan tree grows
    * exponentially and analysis OOMs by round ~10 (measured). The
    * convergence-signature action is the round's single materializing
    * job, and the previous round's checkpoint blocks are released via
    * DatasetBridge as soon as the next is materialized (a Dataset-level
    * unpersist never frees them). The labels are then materialized into
    * a CacheManager persist (callers unpersist when done; on the lazy
    * path above that unpersist is a no-op) and all round state is
    * released before returning. */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          opts: Options = Options(),
                          maxEdges: Option[Long] = None): DataFrame =
    connectedComponents(spark, edges, opts, maxEdges, LocalFinishEdges)

  /** [[connectedComponents]] with the finish ceiling as a parameter: a
    * test seam (0 = pure star rounds), not an option. */
  private[graft] def connectedComponents(spark: SparkSession,
                                         edges: DataFrame, opts: Options,
                                         maxEdges: Option[Long],
                                         finishEdges: Long): DataFrame =
    maxEdges match {
      // the finish task emits at most 2·finishEdges labels (32 MB of long
      // ids at the ceiling), so a join against them broadcasts them rather
      // than shuffling its other side: without the hint the clusters build
      // shuffled the records before AQE turned the join into a broadcast
      case Some(n) if n <= finishEdges && opts.checkpointDir.isEmpty =>
        broadcast(localFinish(oriented(edges), n.toInt))
      case _ => rounds(spark, edges, opts, finishEdges)
    }

  /** The star rounds, then the local finish (or the fixpoint's labels),
    * materialized into a persist the caller releases. */
  private def rounds(spark: SparkSession, edges: DataFrame, opts: Options,
                     finishEdges: Long): DataFrame = {
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
      cur = cur.localCheckpoint(eager = false, CheckpointLevel)
    }
    var converged = false
    var iter = startIter
    var prevSig = signature(cur) // materializes the lazy checkpoint
    while (prevSig._1 > finishEdges && !converged && iter < MaxRounds) {
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
    val finish = prevSig._1 <= finishEdges
    require(finish || converged,
      s"CC did not converge in $MaxRounds rounds")
    // with a checkpoint dir the finish reads a persisted round: iter == 0
    // means no round ran and nothing was resumed, so write the input
    // edge set as round 0 first
    if (finish && opts.checkpointDir.isDefined && iter == 0) {
      val persisted = persistRound(spark, cur, opts, iter, inputSig)
      org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(cur)
      cur = persisted
    }
    val labels = (if (finish) localFinish(cur, prevSig._1.toInt)
                  else starLabels(cur))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count() // materialize before releasing the final round state
    org.apache.spark.sql.graftbridge.DatasetBridge.releaseCheckpoint(cur)
    labels
  }

  /** Labels of a star-round FIXPOINT: its edges are (node → component-min
    * root) and roots map to selves. At a VERIFIED fixpoint no lo can also
    * appear as a hi: (a→r) and (r→r') together are not stable under
    * largeStar (N(r) would re-point a at r'), so the r05 anti-join that
    * guarded the roots union provably dropped nothing (r06). */
  private def starLabels(fixpoint: DataFrame): DataFrame = {
    val nodeToRoot = fixpoint.select(col("hi").as("id"),
      col("lo").as("cluster_id"))
    val roots = fixpoint.select(col("lo").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    nodeToRoot.unionByName(roots)
  }

  /** The local finish: union-find over at most `nEdges` (hi, lo) edge
    * rows in one task, emitting (id, component-min) for every node —
    * exactly what the star rounds would converge to. Duplicate rows only
    * repeat a union; `nEdges` sizes the arrays.
    *
    * The order comes from Spark: the task reads its edges sorted by lo
    * under the id column's own ordering, and numbers nodes densely in
    * order of first appearance, lo before hi. A component's minimum m is
    * the lo of every edge it is in, and every edge of the component
    * without m has a larger lo, so m is the first of its component to be
    * numbered. Linking every union under the smaller dense index then
    * keeps m the root. The structure is flat: an open-addressing table
    * (id slot → dense index) and parent/id arrays indexed by dense id. */
  private def localFinish(edges: DataFrame, nEdges: Int): DataFrame = {
    val schema = StructType(Seq(edges.schema("hi").copy(name = "id"),
      edges.schema("lo").copy(name = "cluster_id")))
    edges.repartition(1).sortWithinPartitions("lo")
      .mapPartitions(rows => unionFind(rows, nEdges))(Encoders.row(schema))
  }

  private def unionFind(rows: Iterator[Row], nEdges: Int): Iterator[Row] = {
    val maxNodes = 2 * nEdges
    // power of two ≥ 2·maxNodes: load factor ≤ ½ for linear probing
    val mask = Integer.highestOneBit(math.max(4 * maxNodes - 1, 1)) - 1
    val slotId = new Array[AnyRef](mask + 1)
    val slotIdx = new Array[Int](mask + 1)
    val ids = new Array[AnyRef](maxNodes)
    val parent = new Array[Int](maxNodes)
    var n = 0
    def indexOf(id: AnyRef): Int = {
      val h = id.hashCode * 0x9E3779B9
      var s = (h ^ (h >>> 16)) & mask
      while (slotId(s) != null && slotId(s) != id) s = (s + 1) & mask
      if (slotId(s) == null) {
        if (n == maxNodes) throw new IllegalStateException(
          s"CC local finish: more than $maxNodes nodes, so more than the " +
            s"$nEdges edge rows its bound allows")
        slotId(s) = id; slotIdx(s) = n; ids(n) = id; parent(n) = n; n += 1
      }
      slotIdx(s)
    }
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val lo = find(indexOf(r.get(1).asInstanceOf[AnyRef]))
      val hi = find(indexOf(r.get(0).asInstanceOf[AnyRef]))
      if (lo < hi) parent(hi) = lo else if (hi < lo) parent(lo) = hi
    }
    Iterator.range(0, n).map(i => Row(ids(i), ids(find(i))))
  }

  /** Undirected edge rows as (hi, lo) with hi > lo; self-loops dropped,
    * duplicates kept. */
  private def oriented(edges: DataFrame): DataFrame = {
    val a = edges.columns(0)
    val b = edges.columns(1)
    edges
      .select(greatest(col(a), col(b)).as("hi"),
        least(col(a), col(b)).as("lo"))
      .filter(col("hi") =!= col("lo"))
  }

  /** Undirected edge set as (hi, lo) with hi > lo, deduped. */
  private def normalize(edges: DataFrame): DataFrame =
    oriented(edges).distinct()

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
        df.localCheckpoint(eager = false, CheckpointLevel)
    }

  private def writeState(spark: SparkSession, dir: String, iter: Int,
                         sig: (Long, Long)): Unit =
    TableIO.writeJson(spark, s"$dir/_cc_state.json", TableIO.jsonObject(
      "last_completed_iter" -> iter, "edges_count" -> sig._1,
      "edges_hash" -> sig._2))

  /** Resume from the last completed round iff state exists AND its stored
    * input-edges fingerprint matches the current input — otherwise the
    * checkpoint belongs to a different run and we must init fresh. State
    * files without a fingerprint (pre-fingerprint format) never match. */
  private def resumeOrInit(spark: SparkSession, edges: DataFrame,
                           dir: String,
                           inputSig: (Long, Long)): (DataFrame, Int) = {
    val resumable = TableIO.readJson(spark, s"$dir/_cc_state.json")
      .flatMap { st =>
        def field(key: String) = Option(st.get(key)).map(_.asLong)
        if (field("edges_count").contains(inputSig._1) &&
            field("edges_hash").contains(inputSig._2))
          field("last_completed_iter").map(_.toInt)
        else None
      }
      .filter(iter => iter >= 0 && TableIO.fileSystem(spark, dir)
        .exists(new org.apache.hadoop.fs.Path(s"$dir/iter_$iter")))
    resumable match {
      case Some(iter) => (spark.read.parquet(s"$dir/iter_$iter"), iter + 1)
      case None => (normalize(edges), 0)
    }
  }

  /** Attach labels to all records; nodes without edges become their own
    * cluster (singleton semantics, households.py:247–249). */
  def labelRecords(records: DataFrame, labels: DataFrame,
                   idCol: String = "node_id"): DataFrame =
    records.join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
}
