package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.linkage.{Cli, TableIO}

/** The `_snapshot.json` manifest TableIO writes next to every table. */
class TableIOSpec extends AnyFunSuite with SparkFixture {

  private def field(json: String, key: String): Long =
    (""""""" + key + """"\s*:\s*(\d+)""").r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(fail(s"no $key in $json"))

  private def parquetFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).map(f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0).sum

  test("_snapshot.json row_count and num_files match the written table") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("tableio").toString
    val rows = (0 until 500).map(i => (i.toLong, s"k${i % 7}"))
      .toDF("id", "key").repartition(3)
    def check(path: String, expectedRows: Long): Unit = {
      val snap = Cli.readText(spark, s"$path/_snapshot.json")
      assert(field(snap, "row_count") == expectedRows, s"$path: $snap")
      assert(TableIO.read(spark, path).count() == expectedRows)
      assert(field(snap, "num_files") ==
        parquetFiles(new java.io.File(s"$path/data")), s"$path: $snap")
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
  }
}
