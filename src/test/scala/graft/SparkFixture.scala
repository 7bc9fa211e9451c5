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
