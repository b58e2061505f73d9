package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift tolerance at the ingest boundary (round-9 postmortem: the
  * driver re-encoded `events.ts` from INT64 TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) and 40 queries crashed or went
  * silently wrong). These specs pin the contract that BOTH physical
  * encodings normalize to one canonical shape through [[Tables.events]],
  * and that the streaming tier — which stages through the same loader —
  * cannot diverge from batch under either encoding.
  */
class DriftSpec extends SparkSpec {

  /** Write a fixture dir whose events.parquet (a directory — the loaders
    * read it identically) re-encodes `ts` in the OTHER unit: a plain
    * INT64 nanos column, which the session reads back as LongType —
    * byte-identical to what the TIMESTAMP(NANOS) encoding looks like
    * under `nanosAsLong`, so it exercises the Long branch of the loader.
    */
  private lazy val nanosDir: String = {
    val dir = tempDir("graft_drift_nanos_")
    val ev = Tables.events(spark, sf0001)
    ev.select(
      col("event_id"), col("ts_ns").as("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the streaming/SQL paths also load the other tables from the dir
    (Tables.tpch ++ Seq("documents", "embeddings")).foreach { n =>
      Tables.load(spark, sf0001, n).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir.toString
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("event_id"), col("ts").cast(StringType), col("ts_ns"))
      .orderBy("event_id")
      .collect().map(_.mkString("|")).toSeq

  test("Tables.events normalizes INT64-nanos and TIMESTAMP_NTZ-micros identically") {
    val fromNtz = Tables.events(spark, sf0001)
    val fromNanos = Tables.events(spark, nanosDir)
    assert(fromNtz.schema("ts").dataType == TimestampNTZType)
    assert(fromNanos.schema("ts").dataType == TimestampNTZType)
    assert(fromNtz.schema("ts_ns").dataType == LongType)
    assert(fromNanos.schema("ts_ns").dataType == LongType)
    val a = canon(fromNtz)
    val b = canon(fromNanos)
    assert(a.nonEmpty && a == b)
  }

  test("ts_ns is exact micros*1000 of the NTZ wall clock (no tz/DST shift)") {
    // reconstruct the NTZ timestamp from ts_ns and compare to the loaded ts:
    // any session-timezone dependence in the decomposition would break this
    val ev = Tables.events(spark, sf0001)
    val bad = ev.filter(
      timestamp_micros(expr("ts_ns div 1000")).cast(TimestampNTZType) =!= col("ts"))
    assert(bad.count() == 0)
  }

  test("a windowed streaming query is batch-equal under BOTH encodings") {
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast(TimestampNTZType).as("hour_start"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
      .orderBy("event_type", "hour_start")
      .collect().map(_.mkString("|")).toSeq
    def streamed(dir: String) =
      streaming.StreamingOps.hourlyCountsStreaming(spark, dir)
        .select(col("event_type"), col("hour_start"), col("n"), col("sum_value"))
        .collect().map(_.mkString("|")).toSeq
    assert(streamed(sf0001) == batch)
    assert(streamed(nanosDir) == batch)
  }

  test("an unsupported ts encoding fails loud, not silently wrong") {
    val dir = tempDir("graft_drift_bad_")
    Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts").cast(StringType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, dir.toString)
    }
    assert(e.getMessage.contains("unsupported physical type"))
  }

  test("a fixture's schema is inferred once per session and file identity") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(op: => Any): Int = {
      org.apache.spark.SpecAccess.drainListenerBus(sc)
      jobs.set(0)
      op
      org.apache.spark.SpecAccess.drainListenerBus(sc)
      jobs.get
    }
    Seq(sf0001, nanosDir).foreach(Tables.events(spark, _))
    sc.addSparkListener(listener)
    try {
      // later loads read with the known schema, and the ts dispatch still
      // sees each file's own encoding
      assert(jobsOf {
        assert(Tables.load(spark, sf0001, "events").schema("ts").dataType == TimestampNTZType)
        assert(Tables.load(spark, nanosDir, "events").schema("ts").dataType == LongType)
        Seq(sf0001, nanosDir).foreach(d =>
          assert(Tables.events(spark, d).schema("ts").dataType == TimestampNTZType))
      } == 0)
      // another session infers its own
      assert(jobsOf(Tables.load(spark.newSession(), sf0001, "events")) > 0)
    } finally sc.removeSparkListener(listener)
  }
}
