package graft

/** The spec session comes from [[GraftSession.local]], so specs plan under
  * the same SQL configs that Verify checks and Bench times.
  */
class GraftSessionSpec extends SparkSpec {
  test("the spec session carries every benched SQL config") {
    assert(spark.sparkContext.master === "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"
    ).foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }
}
