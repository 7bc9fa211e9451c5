package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session

  private val tempDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh temp directory, deleted recursively after the suite. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  /** [[graft.data.CleanCorpus.clean]] with a writer that writes both of
    * its outputs as parquet under a fresh temp directory: (cleaned, stage
    * counts, exact-survivor ids), read back. */
  def cleanWritten(docs: org.apache.spark.sql.DataFrame,
                   cfg: graft.data.CleanCorpus.Config,
                   previous: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, graft.data.CleanCorpus.StageCounts,
        org.apache.spark.sql.DataFrame) = {
    val dir = tempDir("clean")
    val counts = graft.data.CleanCorpus.clean(docs, cfg,
        previous = previous) { (cleaned, ids) =>
      cleaned.write.parquet(s"$dir/cleaned")
      ids.write.parquet(s"$dir/exact_ids")
    }
    (spark.read.parquet(s"$dir/cleaned"), counts,
      spark.read.parquet(s"$dir/exact_ids"))
  }

  /** `body`'s result, and the descriptions of the SQL executions it
    * starts. */
  def sqlExecutions[A](body: => A): (A, Seq[String]) = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.Bus.drain(sc)
    sc.addSparkListener(listener)
    val result = try {
      val a = body
      org.apache.spark.graftbridge.Bus.drain(sc)
      a
    } finally sc.removeSparkListener(listener)
    (result, started.toArray(Array.empty[String]).toSeq)
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(d =>
      new scala.reflect.io.Directory(d.toFile).deleteRecursively())
    finally super.afterAll()
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // cap plan-STRING rendering: deep composed-pipeline trees
      // (CleanCorpus all-options) OOM'd the heap merely rendering an
      // AQE explain string under the ~2 GB default
      .config("spark.sql.maxPlanStringLength", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
