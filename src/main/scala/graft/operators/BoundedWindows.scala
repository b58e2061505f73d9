package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded windows: a window partition can be a large share of a table
  * (one dominant source of a crawl, one event type, all events), and a
  * window sorts each partition in one task. These helpers split every
  * partition by a bucket column, work inside each (partition, bucket)
  * window, and combine the buckets through a table that is
  * bucket-sized or sample-sized — never corpus-sized.
  */
private[operators] object BoundedWindows {

  /** `df` plus `out`: the running sum of `weight` (the row included) over
    * each `partition` in (`bucket`, `order`) order, where `order` is a
    * total order within a bucket. Computed as an in-bucket window plus the
    * bucket's offset, the weight of the partition's buckets before it;
    * the offsets table has one row per (partition, bucket), so it is small
    * by construction and broadcast. Columns come back key-first (`partition`,
    * `bucket`), as a join on them returns them.
    */
  def runningSum(
      df: DataFrame, partition: Seq[String], bucket: String, order: Seq[Column],
      weight: String, out: String): DataFrame = {
    val keys = partition :+ bucket
    val inBucket = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val acrossBuckets = Window.partitionBy(partition.map(col): _*).orderBy(bucket)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = df.groupBy(keys.map(col): _*).agg(sum(weight).as("__bt"))
      .withColumn("__off", sum("__bt").over(acrossBuckets) - col("__bt"))
      .drop("__bt")
    df.withColumn(out, sum(weight).over(inBucket))
      .join(broadcast(offsets), keys)
      .withColumn(out, col(out) + col("__off"))
      .drop("__off")
  }

  /** The top `k` rows of each `group` in `order` (a total order), numbered
    * 1..k in a long `rn` column. The group's top k lie among the top k of
    * its (group, `bucket`) windows, so those are taken first and the final
    * window sorts at most k rows per bucket, not the whole group; the row
    * numbers equal a single window's over the group.
    */
  def topK(
      df: DataFrame, group: String, bucket: Column, order: Seq[Column],
      k: Int): DataFrame = {
    val inBucket = Window.partitionBy(col(group), col("__b")).orderBy(order: _*)
    val inGroup = Window.partitionBy(group).orderBy(order: _*)
    df.withColumn("__b", bucket)
      .withColumn("__rn0", row_number().over(inBucket)).filter(col("__rn0") <= k)
      .withColumn("rn", row_number().over(inGroup).cast("long")).filter(col("rn") <= k)
      .drop("__b", "__rn0")
  }
}
