package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main, the specs and the
  * forked test child get their session here, so what Verify checks, what
  * the specs assert and what Bench times are planned under the same SQL
  * configs.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else the host's available processors. */
  val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Let AQE size post-shuffle partitions by bytes (advisory 64MB)
      // instead of defending the session's parallelism: at fixture scale
      // this collapses near-empty reducers into a few right-sized ones
      // (fixed task overhead dominates small shuffles); at 100 TB the same
      // rule yields full parallelism because partitions are byte-bound.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry INT64 TIMESTAMP(NANOS), which Spark 4.x
      // refuses without this flag (FIXTURES.md caveat 1); Tables.events
      // rebuilds the timestamp from the long value.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every streaming query logs that AQE is off for it, once or twice per
    // start; AQE stays on for the batch rows sharing this session
    Seq("org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    GraftExtensions.install(spark)
    spark
  }
}
