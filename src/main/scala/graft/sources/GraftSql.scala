package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry point: registers every fixture table as a temp view (events
  * with the normalized timestamp) and runs Spark SQL — the engine's
  * second query surface next to the DSL. Any query expressible in the
  * DSL is expressible here; the physical plans are identical because both
  * compile to the same Catalyst logical plans.
  */
object GraftSql {

  // registration is idempotent per (session, dir): each re-registration
  // re-reads 10 parquet footers, so repeated SQL-surface calls memoize it
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()

  /** Register all fixture tables under their canonical names (once per
    * session + fixture dir). The memo key is added only AFTER every view
    * registers: if a loader throws (e.g. an unreadable fixture), the
    * session is NOT marked registered, so the next call retries from
    * scratch instead of running SQL against a half-registered catalog —
    * a partially-poisoned session is worse than a repeated footer read.
    */
  def registerFixtures(spark: SparkSession, sfDir: String): Unit = {
    val key = (System.identityHashCode(spark), sfDir)
    if (!registered.contains(key)) {
      Tables.tpch.foreach(n => Tables.load(spark, sfDir, n).createOrReplaceTempView(n))
      Tables.events(spark, sfDir).createOrReplaceTempView("events")
      Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
      Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")
      registered.add(key)
    }
  }

  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    registerFixtures(spark, sfDir)
    spark.sql(query)
  }
}
