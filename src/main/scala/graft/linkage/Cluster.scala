package graft.linkage

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *  - Local finish: once the edge count each round's signature observes
  *    is at or below [[LocalFinishEdges]], one task runs union-find over
  *    what is left ([[localFinish]]). The finish is the last step of
  *    every run; only a graph whose fixpoint is still above the ceiling
  *    (more than 2²⁰ non-root nodes) reads its labels off the star
  *    fixpoint instead. Both label a node with its component's minimum
  *    id, so the labels do not depend on where the switch happens
  *    (ClusterSpec runs every case both ways).
  *  - Ceiling sizing: an absolute edge count, sized for one task — not a
  *    ratio, and not an option. At 2²⁰ random long edges (1.33M nodes,
  *    local[4]) the finish task ran 2.6–3.1 s next to Spark's 67 MB
  *    sort buffer; its flat arrays are 50 MB and its boxed ids ~21 MB
  *    (from the array sizes). The whole CC call took 4.4 s there, and
  *    pure star rounds on the same graph 60 s.
  *
  * Every round, round 0 (the deduplicated input) included, is a cut of
  * the caller's [[Stages]], built as its own query with its convergence
  * signature (edge count, xor of edge hashes) observed on that build,
  * and the labels are one more cut. With a checkpoint dir the rounds are
  * written to reliable storage instead (`iter_k/` parquet, the signature
  * observed on the write, + `_cc_state.json`), so a killed job resumes
  * from the last completed round (north-rule resumability) and a killed
  * finish from the round it reads.
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
    * `edges`, marked for broadcast: no round runs and nothing is built
    * or executed here; each action over the labels runs the finish again,
    * so read them once (inside a cut's build, say). Rows beyond the bound
    * fail that action loudly. Over the ceiling, with a checkpoint dir, or
    * without a bound, the rounds below run.
    *
    * Cache lifecycle of the rounds: each round is a cut — the LOGICAL plan
    * of a round references the previous round ~8× (largeStar and
    * smallStar each fan out their input), so without per-round lineage
    * truncation the plan tree grows exponentially and analysis OOMs by
    * round ~10 (measured). A round's cut is dropped once the next one is
    * built, so at most two rounds are held at a time, and the last once
    * the labels cut is built. The labels cut is returned: release it as
    * a checkpoint (through `DatasetBridge`; there is nothing to release
    * on the lazy path). A run that fails releases every cut it built. */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          opts: Options = Options(),
                          maxEdges: Option[Long] = None): DataFrame = {
    val stages = new Stages()
    stages.releasingOnFailure(connectedComponents(spark, edges, opts,
      maxEdges, stages, LocalFinishEdges))
  }

  /** [[connectedComponents]] over the caller's cuts: the rounds and the
    * labels are cuts of `stages`, which owns the labels once this returns
    * and releases every cut if the caller's run fails. `finishEdges` is
    * the finish ceiling as a test seam (0 = pure star rounds), not an
    * option. */
  private[graft] def connectedComponents(spark: SparkSession,
                                         edges: DataFrame, opts: Options,
                                         maxEdges: Option[Long],
                                         stages: Stages,
                                         finishEdges: Long): DataFrame =
    maxEdges match {
      // the finish task emits at most 2·finishEdges labels (32 MB of long
      // ids at the ceiling), so a join against them broadcasts them rather
      // than shuffling its other side: without the hint the clusters build
      // shuffled the records before AQE turned the join into a broadcast
      case Some(n) if n <= finishEdges && opts.checkpointDir.isEmpty =>
        broadcast(localFinish(oriented(edges), n.toInt))
      case _ => rounds(spark, edges, opts, stages, finishEdges)
    }

  /** A built round: its edges, their signature, and its number. */
  private case class Round(edges: DataFrame, sig: (Long, Long), iter: Int)

  /** The star rounds, then the local finish (or the fixpoint's labels),
    * as a cut of `stages`. */
  private def rounds(spark: SparkSession, edges: DataFrame, opts: Options,
                     stages: Stages, finishEdges: Long): DataFrame = {
    // round 0's signature is the fingerprint of the INPUT edge set,
    // written into _cc_state.json with every round: resuming against a
    // checkpoint dir whose state was computed from different edges must
    // fall back to a fresh init, not silently emit the previous input's
    // clusters
    val (first, input) = opts.checkpointDir
      .flatMap(resume(spark, edges, _))
      .getOrElse {
        val r0 = round(spark, normalize(edges), 0, None, opts, stages)
        (r0, r0.sig)
      }
    var cur = first
    var converged = false
    while (cur.sig._1 > finishEdges && !converged && cur.iter < MaxRounds) {
      val next = round(spark, smallStar(largeStar(cur.edges)), cur.iter + 1,
        Some(input), opts, stages)
      converged = next.sig == cur.sig
      stages.drop(cur.edges)
      cur = next
    }
    val finish = cur.sig._1 <= finishEdges
    require(finish || converged,
      s"CC did not converge in $MaxRounds rounds")
    val labels = stages.cut(
      if (finish) localFinish(cur.edges, cur.sig._1.toInt)
      else starLabels(cur.edges))
    stages.drop(cur.edges)
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

  /** Convergence signature of (hi, lo) edges: (count, xor of pair
    * hashes) — xor is order-independent and can't overflow under ANSI
    * mode. A round observes it on its build; only a resume reads one
    * with an action of its own ([[signature]]). */
  private val signatureCols = Seq(count(lit(1)).as("n"),
    coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L)).as("h"))

  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(signatureCols.head, signatureCols.tail: _*).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Round `iter`'s edges, built once with their signature observed on
    * that build: a cut of `stages`, or with a checkpoint dir `iter_<iter>`
    * parquet committed by its `_cc_state.json` (whose input fingerprint
    * is `input`, or this round's own signature for round 0). A round is
    * built from the previous one, never from its own files, so no write
    * overwrites what it reads. */
  private def round(spark: SparkSession, df: DataFrame, iter: Int,
                    input: Option[(Long, Long)], opts: Options,
                    stages: Stages): Round = {
    val o = Observation()
    val signed = df.observe(o, signatureCols.head, signatureCols.tail: _*)
    def observed(built: DataFrame) = Round(built,
      Stages.observed(o).fold((0L, 0L))(r => (r.getLong(0), r.getLong(1))),
      iter)
    opts.checkpointDir match {
      case Some(dir) =>
        val path = s"$dir/iter_$iter"
        signed.write.mode("overwrite").parquet(path)
        // a resumed run may overwrite a path cached by the session-shared
        // FileStatusCache — drop the stale listing before re-reading
        spark.catalog.refreshByPath(path)
        val r = observed(spark.read.parquet(path))
        writeState(spark, dir, iter, input.getOrElse(r.sig))
        r
      case None => observed(stages.cut(signed))
    }
  }

  private def writeState(spark: SparkSession, dir: String, iter: Int,
                         sig: (Long, Long)): Unit =
    TableIO.writeJson(spark, s"$dir/_cc_state.json", TableIO.jsonObject(
      "last_completed_iter" -> iter, "edges_count" -> sig._1,
      "edges_hash" -> sig._2))

  /** The last completed round and the input fingerprint, iff state
    * exists AND its stored input-edges fingerprint matches the current
    * input — otherwise the checkpoint belongs to a different run and we
    * must init fresh. State files without a fingerprint (pre-fingerprint
    * format) never match. Only a dir with state pays for fingerprinting
    * the input up front; a fresh run observes it on round 0's write. */
  private def resume(spark: SparkSession, edges: DataFrame, dir: String)
      : Option[(Round, (Long, Long))] =
    TableIO.readJson(spark, s"$dir/_cc_state.json").flatMap { st =>
      def field(key: String) = Option(st.get(key)).map(_.asLong)
      val input = signature(normalize(edges))
      field("last_completed_iter").map(_.toInt)
        .filter(iter => field("edges_count").contains(input._1) &&
          field("edges_hash").contains(input._2) && iter >= 0 &&
          TableIO.fileSystem(spark, dir)
            .exists(new org.apache.hadoop.fs.Path(s"$dir/iter_$iter")))
        .map { iter =>
          val done = spark.read.parquet(s"$dir/iter_$iter")
          (Round(done, signature(done), iter), input)
        }
    }

  /** Attach labels to all records; nodes without edges become their own
    * cluster (singleton semantics, households.py:247–249). */
  def labelRecords(records: DataFrame, labels: DataFrame,
                   idCol: String = "node_id"): DataFrame =
    records.join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
}
