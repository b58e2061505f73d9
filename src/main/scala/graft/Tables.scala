package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture table loaders.
  *
  * All driver fixtures are single parquet files `<dir>/<name>.parquet`
  * (see TESTDATA.md / FIXTURES.md). Loading goes through `spark.read.parquet`
  * so Catalyst column pruning + filter pushdown apply automatically; each
  * fixture's schema is inferred once per session and file identity.
  *
  * `events.parquet` has shipped with two physical encodings of `ts` across
  * driver rounds: INT64 TIMESTAMP(NANOS) — which Spark 4.x reads as
  * LongType nanos under `spark.sql.legacy.parquet.nanosAsLong=true`
  * (FIXTURES.md caveat 1) — and TIMESTAMP(MICROS, isAdjustedToUTC=false),
  * which reads as TIMESTAMP_NTZ. [[events]] normalizes EITHER encoding to
  * one canonical shape (`ts` NTZ + `ts_ns` long); every consumer (batch,
  * SQL views, streaming staging, Kafka dressing) goes through it, so a
  * fixture re-encode degrades to green, not to a crash or a silent
  * unit error. Integer arithmetic only (`div 1000`) — double division
  * would lose precision above 2^53 ns.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftExtensions.install(spark)
    val path = s"$dir/$name.parquet"
    fileSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
  }

  /** Per session, each fixture's schema by file identity (absolute path,
    * size, mtime): a read without a schema runs one schema-inference job,
    * so the first [[load]] of a fixture in a session infers it and every
    * later one reads with `.schema(...)`. The sessions are held weakly, and
    * a session whose reader settings differ (say
    * `spark.sql.legacy.parquet.nanosAsLong`) infers its own. A missing
    * path gets no schema, so the read fails as Spark reports it.
    */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, Long, Long), StructType]]()

  private def fileSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    if (!java.nio.file.Files.exists(p)) None
    else {
      val a = java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      val known = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => scala.collection.concurrent.TrieMap.empty))
      Some(known.getOrElseUpdate((p.toString, a.size, a.lastModifiedTime.toMillis),
        spark.read.parquet(path).schema))
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Events with `ts` normalized from INT64-nanos to a microsecond
    * TIMESTAMP_NTZ; raw nanos kept as `ts_ns`. Requires the session to
    * have `spark.sql.legacy.parquet.nanosAsLong=true`.
    *
    * NTZ, not TimestampType: the other fixture timestamps (orders,
    * lineitem) read as NTZ, DuckDB's TIMESTAMP is naive, and parquet
    * written from NTZ carries isAdjustedToUTC=false — so every timestamp
    * the engine emits compares as a naive wall-clock value, with no
    * tz-awareness mismatch in the driver's hash compare. Time arithmetic
    * (gaps, sessions) uses the exact integer `ts_ns` column instead of
    * instant-only functions like unix_micros.
    */
  /** Fan a scan out to the session's full parallelism before HEAVY per-row
    * compute. The fixtures are single-row-group parquet files — an
    * unsplittable scan, so per-row work before the first shuffle runs on
    * one core. Measured at sf0.1 the extra shuffle pays for itself ONLY
    * when the per-row work is very heavy (SRP signatures: 32 plane
    * projections × 64 dims per row, −30%; the all-pairs cosine kernel);
    * for everything lighter — plain scans/aggs (q1), per-row text stats,
    * even the shingle-explode pipelines whose joins re-shuffle anyway —
    * the fixed cost of 32 extra tasks loses. Applied per-pipeline on
    * measurement, never blanket in `load`. On a cluster, sources arrive in
    * many splits and the same call is a cheap rebalance.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Eager localCheckpoint at MEMORY_AND_DISK_SER — the pinning
    * primitive every operator should use instead of bare
    * `localCheckpoint(true)`. Serialized blocks hold compact UnsafeRow
    * bytes (one byte[] per batch) where the deserialized default holds
    * per-row object graphs: an order of magnitude fewer long-lived heap
    * objects, so pinned state stops competing with shuffle/aggregation
    * memory under GC pressure — the machine-state sensitivity that made
    * byte-identical code measure 2.5× apart across rounds (NOTES_r14).
    * The deser cost on re-read is one codegen'd copy per batch; every
    * pinned table in this repo is model-sized or read O(1) times.
    */
  def pin(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case _: TimestampNTZType | _: TimestampType =>
        // NTZ carries no instant, so unix_micros() rejects it
        // (DATATYPE_MISMATCH); decompose the wall-clock value into
        // date/time parts instead — tz- and DST-independent, all
        // codegen'd builtins. date_part('SECOND') keeps the fractional
        // seconds as DECIMAL(8,6), exact at micro precision.
        raw.withColumn("ts", col("ts").cast(TimestampNTZType))
          .withColumn("ts_ns",
            (unix_date(col("ts").cast(DateType)) * lit(86400000000L) +
              hour(col("ts")) * lit(3600000000L) +
              minute(col("ts")) * lit(60000000L) +
              expr("CAST(date_part('SECOND', ts) * 1000000 AS BIGINT)")) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other (expected INT64 nanos, " +
            "TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
}

/** Aggregate helpers that make double-valued aggregates deterministic and
  * hence hash-comparable against a DuckDB oracle.
  *
  * A plain `sum(double)` depends on accumulation order (Spark partial/final
  * aggregation vs DuckDB's scan order), so the last few ulps differ run to
  * run. [[dsum]] scales each value to integer MICROS (`round(v*1e6)` as
  * long) and sums 64-bit integers — exact, associative (order-independent
  * across any partitioning), and measured ~2× faster than the previous
  * DECIMAL(18,6) contract (integer hash-agg vs BigDecimal boxing; sum of
  * decimal(18,6) promotes past precision 18 off the compact-long
  * representation). Rounding is identical cross-engine: both Spark and
  * DuckDB round the same IEEE product, ties away from zero.
  *
  * Range contract: exact while |Σ round(v·1e6)| < 2^63 (≈9.2e12 in value
  * units) — far beyond the fixtures; for extreme-scale sums use
  * [[dsumWide]] (decimal path, unbounded to 1e22). ANSI mode (Spark 4
  * default) makes a long overflow loud, never a silent wraparound.
  */
object Det {
  private val dec = DecimalType(18, 6)
  private val M = 1000000.0

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(round(c * lit(M)).cast(LongType)).cast(DoubleType) / lit(M)

  /** Deterministic average: exact micros sum (as double) / count. */
  def davg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dsum(c) / count(lit(1))

  /** Wide (decimal) variant for sums beyond the 2^63-micros range. */
  def dsumWide(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(dec)).cast(DoubleType)

  /** Oracle-side SQL for [[dsum]]. */
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST(ROUND(($e)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0"

  /** Oracle-side SQL for [[davg]]. */
  def davgSql(e: String): String =
    s"${dsumSql(e)}/COUNT(*)"
}
