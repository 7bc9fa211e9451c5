package graft.linkage

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Success, Try}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

/** The stage cuts of one run, in build order: the one way a multi-stage
  * run (the linkage pipeline, the corpus cleaner, the near-dup kernels)
  * cuts a stage. A run's body goes through [[releasingOnFailure]] (its
  * result hands the cuts to the caller) or [[releasing]] (nothing
  * outlives the run): if it throws, every cut built so far (the one whose
  * build failed included) is released before the failure propagates.
  * `drill` sees each cut right after its build: a test seam for removing
  * its blocks there, not an option. */
private[graft] final class Stages(drill: DataFrame => Unit = _ => ()) {
  private val built = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]

  def all: Seq[RDD[_]] = built.toArray(Array.empty[RDD[_]]).toSeq

  /** A stage output built once, as its own query, into an eager local
    * checkpoint at [[Cluster.CheckpointLevel]]; returned with its row
    * count, observed on that build. Every later query starts from the
    * checkpoint's `LogicalRDD` leaf instead of re-embedding the plan that
    * built it (a persisted relation's `InMemoryRelation` carries its whole
    * plan into every query that reads it). A lost block is not
    * recomputable: the read fails with a SparkException naming the
    * checkpointed RDD. The backing RDD is recorded before the build job
    * runs, so a failed build's blocks are released too. */
  def checkpoint(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val cp = DatasetBridge.localCheckpoint(Stages.counted(df, rows),
      Cluster.CheckpointLevel, built.add)
    drill(cp)
    (cp, Stages.observedCount(rows))
  }

  def release(): Unit = all.foreach(_.unpersist(blocking = false))

  def releasingOnFailure[A](body: => A): A =
    try body
    catch {
      case t: Throwable =>
        release()
        throw t
    }

  def releasing[A](body: => A): A = try body finally release()
}

private[graft] object Stages {

  /** `df` with its rows counted by `o`, as "n", on the action that runs
    * it. */
  def counted(df: DataFrame, o: Observation): DataFrame =
    df.observe(o, count(lit(1)).as("n"))

  /** The row `o` reported, once the action that ran it has returned;
    * None when that query ended without reaching it (AQE drops a branch
    * from its final plan once a stage above it turns out empty, and the
    * branch's observations with it). Spark completes an observation from
    * its listener bus after the query ends, so it may land just after the
    * action returns: it is awaited for a bounded time. One that no query
    * ran fails loudly instead of blocking forever, as `Observation.get`
    * would. */
  def observed(o: Observation): Option[Row] = {
    Try(Await.ready(o.future, 60.seconds))
    o.future.value match {
      case Some(Success(r)) => Some(r).filter(_.length > 0)
      case _ => throw new IllegalStateException(
        s"observation ${o.name} did not fire: no query that holds it ran")
    }
  }

  /** The count `o` observed as "n", for a count in its query's final
    * stage (no exchange above it) on the plan's spine (nothing but unary
    * nodes, or the kept side of an anti-join, between it and the root).
    * AQE replaces a subtree by an empty relation only once a stage it ran
    * came out empty, and for such a count that stage lies below it, so a
    * dropped count counted no row. A count in a map stage may be dropped
    * after counting rows (the stage's own filters or joins left its output
    * empty): read it with [[observed]]. */
  def observedCount(o: Observation): Long =
    observed(o).fold(0L)(_.getAs[Long]("n"))
}
