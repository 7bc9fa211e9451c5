package graft.linkage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resolve stage — reference `linkid_to_patid.py`: metadata gate, LINK_ID
  * → record-id positional join, household link fan-out (SURVEY.md §3.3).
  * [[ResolveMain]] is the CLI over it.
  */
object Resolve {

  /** J8: metadata key-wise diff (validate_metadata.py:49–70). Returns the
    * discrepancy report (empty = clean). */
  def metadataDiff(a: Map[String, String],
                   b: Map[String, String]): Seq[String] = {
    val keys = (a.keySet ++ b.keySet).toSeq.sorted
    keys.flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) if x == y => None
        case (Some(x), Some(y)) => Some(s"$k: '$x' != '$y'")
        case (Some(_), None) => Some(s"$k: missing from right")
        case (None, Some(_)) => Some(s"$k: missing from left")
        case _ => None
      }
    }
  }

  /** Metadata gate (linkid_to_patid.py:159,185): abort unless clean or
    * forced. */
  def gate(expected: Map[String, String], actual: Map[String, String],
           force: Boolean = false): Unit = {
    val diff = metadataDiff(expected, actual)
    require(force || diff.isEmpty,
      s"metadata verification failed:\n${diff.mkString("\n")}")
  }

  /** get_metadata (validate_metadata.py:34–46): locate the metadata
    * member inside a garbled/linkage zip by name. Zero members → None
    * (the reference warns and returns None); more than one → first in
    * archive order, like the reference. Parsed by
    * [[Extract.parseMetadata]], as ValidateMetadataMain and ResolveMain's
    * own --metadata file are. */
  def metadataFromZip(spark: SparkSession,
                      zipPath: String): Option[Map[String, String]] = {
    val fs = TableIO.fileSystem(spark, zipPath)
    val zin = new java.util.zip.ZipInputStream(
      fs.open(new org.apache.hadoop.fs.Path(zipPath)))
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (entry.getName.contains("metadata")) {
          return Some(Extract.parseMetadata(
            scala.io.Source.fromInputStream(zin).mkString))
        }
        entry = zin.getNextEntry
      }
      None
    } finally zin.close()
  }

  /** S9: read the CSV inside a linkage-agent zip (the last `.csv`
    * member, as the reference's unzip-then-read does). The driver reads
    * the member's lines into a Dataset for a normal csv parse: nothing is
    * unpacked to disk, so no copy of the link file outlives the run. */
  def readZipMemberCsv(spark: SparkSession, zipPath: String): DataFrame = {
    val fs = TableIO.fileSystem(spark, zipPath)
    val zin = new java.util.zip.ZipInputStream(
      fs.open(new org.apache.hadoop.fs.Path(zipPath)))
    var lines: Option[Seq[String]] = None
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (entry.getName.endsWith(".csv")) {
          val reader = new java.io.BufferedReader(
            new java.io.InputStreamReader(zin, "UTF-8"))
          lines = Some(Iterator.continually(reader.readLine())
            .takeWhile(_ != null).toVector)
        }
        entry = zin.getNextEntry
      }
    } finally zin.close()
    require(lines.isDefined, s"no CSV member found in $zipPath")
    import spark.implicits._
    spark.read.option("header", "true").csv(lines.get.toDS())
  }

  /** The links' first two columns under the given names, whatever their
    * header says (the agent's CSVs are read by position,
    * linkid_to_patid.py:84–90). */
  private def firstTwo(df: DataFrame, names: (String, String)): DataFrame =
    df.select(col(df.columns(0)).as(names._1),
      col(df.columns(1)).as(names._2))

  /** J4 (linkid_to_patid.py:84–90): the agent's (LINK_ID, position) links
    * → (LINK_ID, PATID), ordered by LINK_ID. A position is the 0-based
    * data-row index in the SOURCE FILE `pii` was read from (the +1 header
    * offset of linkid_to_patid.py:88 collapses to equal 0-based indices),
    * so `pii` is numbered in scan order, not key order. */
  def linkIds(links: DataFrame, pii: DataFrame): DataFrame =
    firstTwo(links, ("LINK_ID", "position"))
      .withColumn("position", col("position").cast("long"))
      .join(Positions.withScanPosition(pii, "position"), Seq("position"))
      .select(col("LINK_ID"), col("record_id").as("PATID"))
      .orderBy(col("LINK_ID"))

  /** J5 (linkid_to_patid.py:114–131): the agent's (HOUSEHOLD_ID,
    * household_position) links → one (HOUSEHOLD_ID, PATID) row per member
    * of the household's comma-joined `record_ids` (split + explode),
    * ordered by both. Positions are scan-order rows of `hhPii`, as in
    * [[linkIds]]. */
  def householdIds(hhLinks: DataFrame, hhPii: DataFrame): DataFrame =
    firstTwo(hhLinks, ("HOUSEHOLD_ID", "household_position"))
      .withColumn("household_position",
        col("household_position").cast("long"))
      .join(Positions.withScanPosition(hhPii, "household_position"),
        Seq("household_position"))
      .select(col("HOUSEHOLD_ID"),
        explode(split(col("record_ids"), ",")).as("PATID"))
      .orderBy(col("HOUSEHOLD_ID"), col("PATID"))
}
