package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.{Cli, TableIO}

/** The `_snapshot.json` manifest TableIO writes next to every table. */
class TableIOSpec extends AnyFunSuite with SparkFixture {

  private def parquetFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).map(f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0).sum

  test("_snapshot.json row_count and num_files match the written table") {
    import spark.implicits._
    val base = tempDir("tableio")
    val rows = (0 until 500).map(i => (i.toLong, s"k${i % 7}"))
      .toDF("id", "key").repartition(3)
    def check(path: String, expectedRows: Long): Unit = {
      // Jackson, not a regex: the snapshot must be valid JSON
      val snap = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Cli.readText(spark, s"$path/_snapshot.json"))
      assert(snap.get("row_count").asLong == expectedRows, s"$path: $snap")
      assert(TableIO.read(spark, path).count() == expectedRows)
      assert(snap.get("num_files").asLong ==
        parquetFiles(new java.io.File(s"$path/data")), s"$path: $snap")
      assert(snap.get("files").size == snap.get("num_files").asInt)
      // the listing walk records exactly what Hadoop's recursive
      // listFiles yields, in its order, partition directories included
      val it = TableIO.fileSystem(spark, path)
        .listFiles(new org.apache.hadoop.fs.Path(s"$path/data"), true)
      val listed = Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next()).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.toString, f.getLen)).toSeq
      val recorded = (0 until snap.get("files").size).map { i =>
        val f = snap.get("files").get(i)
        (f.get("path").asText, f.get("bytes").asLong)
      }
      assert(recorded == listed, s"$path: $snap")
    }
    TableIO.write(rows, s"$base/plain")
    check(s"$base/plain", 500)
    TableIO.write(rows, s"$base/parted", partitionBy = Seq("key"))
    check(s"$base/parted", 500)
    TableIO.write(rows.filter($"id" < 0), s"$base/empty")
    check(s"$base/empty", 0)
    // a second write to the same path in one session: the snapshot counts
    // the new table, not the files of the first write
    TableIO.write(rows.filter($"id" < 120), s"$base/plain")
    check(s"$base/plain", 120)
    // a table path holding a quote is escaped in the snapshot's file list
    TableIO.write(rows, s"$base/quo\"te")
    check(s"$base/quo\"te", 500)
  }
}
