package graft.linkage

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.internal.SQLConf
import scala.jdk.CollectionConverters._

/** The engine's on-disk state format. Tables are an Iceberg-like layout
  * over Parquet (SURVEY.md §7.6: no Iceberg runtime jar exists in this
  * sandbox — verified /opt/spark/jars). Every table write produces:
  *   <path>/data/…parquet        (optionally partitioned)
  *   <path>/_snapshot.json       (row count, schema, file list — the
  *                                manifest/snapshot pointer)
  * giving the north rule's per-partition lineage/metrics + resumability
  * hooks; a real Iceberg catalog can be swapped in behind this interface
  * on a real cluster.
  *
  * Small state files (store pointers and metas, index sidecars, CC
  * checkpoints, snapshots) go through ONE writer, [[writeFile]], and one
  * driver-side Jackson reader, [[readJson]]/[[readJsonLines]]: every file
  * becomes visible atomically, the way Delta Lake commits table state.
  * Partitioned stores that grow by appends share one compactor,
  * [[compactPartitions]].
  */
object TableIO {

  private val Json = new ObjectMapper()

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

  /** `table` coalesced to one partition per advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) of the stored
    * bytes of the checkpoint it reads, never to more partitions than it
    * has: each write task costs tens of ms to start, whatever it holds.
    * A table that is no checkpoint (or projection of one) is returned as
    * it is. */
  def bySize(table: DataFrame): DataFrame =
    DatasetBridge.scannedRdd(table).fold(table) { rdd =>
      val advisory =
        SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val n = math.max(1L,
        (DatasetBridge.storedBytes(rdd) + advisory - 1) / advisory)
      if (n < rdd.getNumPartitions) table.coalesce(n.toInt) else table
    }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/data")

  /** S10 analog (garble.py:82–93): resolve the newest timestamped table
    * under `dir` by lexicographic name (names carry sortable stamps,
    * e.g. pii-YYYYMMDD-HHMMSS). */
  def latestTimestampedPath(spark: SparkSession, dir: String,
                            prefix: String): Option[String] = {
    val fs = fileSystem(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) return None
    val names = fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
    if (names.isEmpty) None else Some(s"$dir/${names.max}")
  }

  private[graft] def fileSystem(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeSnapshot(df: DataFrame, path: String,
                            count: Long): Unit = {
    val spark = df.sparkSession
    val files = listParquet(fileSystem(spark, path), new Path(s"$path/data"))
    // the session-shared FileStatusCache may hold the PREVIOUS overwrite's
    // listing for this path — a later read of the table in this session
    // would otherwise see stale files (or FILE_NOT_EXIST)
    spark.catalog.refreshByPath(s"$path/data")
    writeJson(spark, s"$path/_snapshot.json", jsonObject(
      "row_count" -> count, "num_files" -> files.size,
      "schema" -> df.schema.json,
      "files" -> files.map { case (f, bytes) =>
        jsonObject("path" -> f, "bytes" -> bytes)
      }.asJava))
  }

  private def listParquet(fs: FileSystem, dir: Path): Seq[(String, Long)] =
    listFilesRecursive(fs, dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.toString, f.getLen))

  /** Every file under `dir`, depth first in listing order: the files and
    * order `fs.listFiles(dir, true)` yields, through plain `listStatus`
    * calls. `listFiles` wraps each file in a LocatedFileStatus, which on
    * the local file system without Hadoop native IO forks `ls -ld` per
    * file to read its permissions. */
  private[graft] def listFilesRecursive(fs: FileSystem,
                                        dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap(s =>
      if (s.isDirectory) listFilesRecursive(fs, s.getPath) else Seq(s))

  // ---------- small state files ----------

  /** The one small-file writer (any Hadoop scheme). The content is
    * written and closed as `<path>.tmp`, then the old file is deleted and
    * the tmp renamed over it: a crash mid-write leaves the previous file
    * intact, and a crash between delete and rename leaves a complete tmp
    * that [[readJson]] falls back to. fs.create(overwrite) in place
    * would truncate first, and a partial pointer or meta bricks a store
    * whose data is intact. */
  def writeFile(spark: SparkSession, path: String, content: String): Unit = {
    val fs = fileSystem(spark, path)
    val dst = new Path(path)
    val tmp = new Path(s"$path.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"rename failed: $tmp -> $dst")
  }

  def writeJson(spark: SparkSession, path: String, node: JsonNode): Unit =
    writeFile(spark, path, Json.writeValueAsString(node) + "\n")

  /** One JSON document per line (the centroids/codebook sidecars). */
  def writeJsonLines(spark: SparkSession, path: String,
                     nodes: Seq[JsonNode]): Unit =
    writeFile(spark, path,
      nodes.map(Json.writeValueAsString).mkString("", "\n", "\n"))

  /** A JSON object with its keys in the given order. Values: boxed
    * numbers and booleans, strings, `Array[Double]`, Java lists and
    * other JSON nodes. */
  def jsonObject(fields: (String, Any)*): ObjectNode = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    Json.valueToTree[ObjectNode](m)
  }

  /** Parse one JSON document — also the parser for the JSON inputs the
    * program is given (translation conf, lambda schema). */
  def parseJson(txt: String): JsonNode = Json.readTree(txt)

  /** A file written by [[writeFile]], parsed; None when it was never
    * committed. `<path>.tmp` is read only when the main file is missing:
    * then a crash hit the delete→rename window and the complete tmp IS
    * the committed file. A tmp beside the main file, or a lone tmp that
    * does not parse (the file's first write crashed mid-way), is not. */
  def readJson(spark: SparkSession, path: String): Option[JsonNode] =
    committed(spark, path)(parseJson)

  /** [[readJson]] for a one-document-per-line file. */
  def readJsonLines(spark: SparkSession, path: String)
      : Option[Seq[JsonNode]] =
    committed(spark, path)(_.linesIterator.filter(_.trim.nonEmpty)
      .map(parseJson).toVector)

  private def committed[T](spark: SparkSession, path: String)(
      parse: String => T): Option[T] = {
    val fs = fileSystem(spark, path)
    if (fs.exists(new Path(path))) Some(parse(Cli.readText(spark, path)))
    else if (fs.exists(new Path(s"$path.tmp")))
      scala.util.Try(parse(Cli.readText(spark, s"$path.tmp"))).toOption
    else None
  }

  /** A JSON array of numbers. */
  def doubles(node: JsonNode): Array[Double] =
    node.elements().asScala.map(_.asDouble).toArray

  // ---------- partition compaction ----------

  /** Per-partition file compaction of a `k=v`-partitioned parquet dir that
    * grows by appends: each append adds at most one file per touched
    * partition, so a hot partition accumulates small files and its read
    * cost creeps with file count, not data size. Rewrites only the leaf
    * partitions holding more than `maxFilesPerPartition` parquet files,
    * as one file each, by dynamic partition overwrite; every other
    * partition keeps its files byte-identical. The rows are read from
    * exactly the partitions the write replaces, so they are
    * localCheckpoint()'d first (the self-overwrite rule) and released
    * after. Returns the number of partitions rewritten. */
  def compactPartitions(spark: SparkSession, dir: String,
                        maxFilesPerPartition: Int): Int = {
    val fs = fileSystem(spark, dir)
    // (leaf dir, partition columns from the root down)
    def overfull(p: Path, cols: Seq[String]): Seq[(Path, Seq[String])] = {
      val (dirs, files) = fs.listStatus(p).toSeq.partition(_.isDirectory)
      val parts = dirs.map(_.getPath).filter(_.getName.contains("="))
      val here =
        if (cols.nonEmpty && parts.isEmpty &&
            files.count(_.getPath.getName.endsWith(".parquet")) >
              maxFilesPerPartition) Seq((p, cols))
        else Nil
      here ++ parts.flatMap(d => overfull(d, cols :+ d.getName.split("=")(0)))
    }
    val over = overfull(new Path(dir), Nil)
    if (over.isEmpty) return 0
    val cols = over.head._2
    // basePath: the partition columns come back from the leaf paths; one
    // task per partition → one file per partition
    val rows = spark.read.option("basePath", dir)
      .parquet(over.map(_._1.toString): _*)
      .repartition(cols.map(col): _*)
      .localCheckpoint()
    val prevMode = spark.conf.get(
      "spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      rows.write.mode("overwrite").partitionBy(cols: _*).parquet(dir)
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    DatasetBridge.releaseCheckpoint(rows)
    spark.catalog.refreshByPath(dir)
    over.length
  }
}
