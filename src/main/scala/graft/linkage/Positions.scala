package graft.linkage

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scalable global position assignment (W2 semantics, reference
  * households.py:190–193 / linkid_to_patid.py:84–90).
  *
  * `row_number().over(Window.orderBy(k))` moves EVERY row to one
  * partition — fine for the reference's single process, a scale-killer on
  * a cluster (round 1 used it at four output edges; the "Moving all data
  * to a single partition" WARN was visible in the bench tail).
  *
  * Scale-safe equivalent for a total order: range-partition by the key,
  * sort within partitions, then `zipWithIndex` on the pinned physical
  * RDD. `.rdd` materializes the range exchange once (AQE runs the shuffle
  * eagerly), so zipWithIndex's internal count job and the downstream
  * consumption read the SAME shuffle output — the nondeterministic
  * range-boundary sampling can't diverge between the two. Nothing is
  * cached: the only extra cost is one count job over shuffle-local
  * metadata, the only driver-side data one count per partition.
  */
object Positions {

  /** Adds 0-based `posCol` dense positions in ascending `order`, equal to
    * `row_number().over(Window.orderBy(order)) - 1`. `order` must be a
    * total order (unique key) for the result to be well-defined — the
    * same requirement the reference's positional files have. */
  def withPosition(df: DataFrame, order: Column, posCol: String): DataFrame = {
    val spark = df.sparkSession
    val arranged = df
      .repartitionByRange(order)
      .sortWithinPartitions(order)
    val schema = StructType(
      arranged.schema.fields :+ StructField(posCol, LongType, nullable = false))
    // .rdd pins the physical plan: the range exchange executes here, and
    // both zipWithIndex jobs (partition counts, then the indexed map)
    // read its shuffle files — identical partitioning, no recompute.
    val indexed = arranged.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(indexed, schema)
  }

  /** 0-based SOURCE-ORDER positions — the reference's positional identity
    * is literally "row index within the file" (linkid_to_patid.py:88–90
    * indexes pii file lines), so the resolve compat edge must number rows
    * in scan order, not key order. Scan order is well-defined for a
    * single CSV file (partitions cover contiguous byte ranges in order)
    * and for sorted-name shards; zipWithIndex preserves it. No sort, no
    * shuffle, no caching. */
  def withScanPosition(df: DataFrame, posCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(
      df.schema.fields :+ StructField(posCol, LongType, nullable = false))
    val indexed = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(indexed, schema)
  }
}
