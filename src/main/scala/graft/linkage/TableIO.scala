package graft.linkage

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-like table layout over Parquet (SURVEY.md §7.6: no Iceberg
  * runtime jar exists in this sandbox — verified /opt/spark/jars).
  * Every table write produces:
  *   <path>/data/…parquet        (optionally partitioned)
  *   <path>/_snapshot.json       (row count, schema, file list — the
  *                                manifest/snapshot pointer)
  * giving the north rule's per-partition lineage/metrics + resumability
  * hooks; a real Iceberg catalog can be swapped in behind this interface
  * on a real cluster.
  */
object TableIO {

  /** The snapshot's row_count is observed on the write itself: no
    * read-back pass over the files just written. */
  def write(df: DataFrame, path: String,
            partitionBy: Seq[String] = Nil): Unit = {
    val rows = Observation()
    val w = df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite")
    val withPart = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*)
                   else w
    withPart.parquet(s"$path/data")
    writeSnapshot(df, path, rows.get("rows").asInstanceOf[Long])
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/data")

  /** S10 analog (garble.py:82–93): resolve the newest timestamped table
    * under `dir` by lexicographic name (names carry sortable stamps,
    * e.g. pii-YYYYMMDD-HHMMSS). */
  def latestTimestampedPath(spark: SparkSession, dir: String,
                            prefix: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) return None
    val names = fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
    if (names.isEmpty) None else Some(s"$dir/${names.max}")
  }

  private def writeSnapshot(df: DataFrame, path: String,
                            count: Long): Unit = {
    val spark = df.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val files = listParquet(fs, dataPath)
    // the session-shared FileStatusCache may hold the PREVIOUS overwrite's
    // listing for this path — a later read of the table in this session
    // would otherwise see stale files (or FILE_NOT_EXIST)
    spark.catalog.refreshByPath(s"$path/data")
    val filesJson = files.map(f =>
      s"""{"path": "${f._1}", "bytes": ${f._2}}""").mkString("[", ",", "]")
    val schemaJson = df.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      s"""{"row_count": $count, "num_files": ${files.size},
         |"schema": "$schemaJson",
         |"files": $filesJson}""".stripMargin
    Extract.writeRaw(spark, json, s"$path/_snapshot.json")
  }

  private def listParquet(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path)
      : Seq[(String, Long)] = {
    val it = fs.listFiles(dir, true)
    val buf = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        buf += ((f.getPath.toString, f.getLen))
    }
    buf.result()
  }
}
