package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Streaming tier: batch-equivalence of the windowed agg and the stateful
  * mapGroupsWithState path.
  */
class StreamingSpec extends SparkSpec {

  test("streaming hourly agg equals batch aggregation over the same data") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("hour_start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val streamed = rows(StreamingOps.hourlyCountsStreaming(spark, sf0001))
    val batch = rows(Tables.events(spark, sf0001)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n")))
    assert(streamed.sameElements(batch))
    assert(batch.nonEmpty)
  }

  test("streaming sliding windows equal the batch sliding window() aggregation") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("win_start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val streamed = rows(StreamingOps.slidingCountsStreaming(spark, sf0001))
    val batch = rows(Tables.events(spark, sf0001)
      .groupBy(col("event_type"), window(col("ts"), "2 hours", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("window.start").as("win_start"), col("n")))
    assert(streamed.sameElements(batch))
    assert(batch.nonEmpty)
    // every event lands in exactly size/slide = 4 windows
    val total = Tables.events(spark, sf0001).count()
    assert(streamed.map(_._3).sum == 4 * total)
  }

  test("flatMapGroupsWithState emits one sequenced record per input event") {
    val out = StreamingOps.runningUserSeq(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batchCounts = Tables.events(spark, sf0001)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == batchCounts.values.sum, "must emit 1 row per input event")
    val perUser = out.groupBy(_._1)
    batchCounts.foreach { case (u, n) =>
      val seqs = perUser(u).map(_._3).sorted
      assert(seqs.sameElements(1L to n), s"user $u sequence gap: ${seqs.take(5)}")
    }
  }

  test("stateful mapGroupsWithState totals are BIT-equal to the batch Det sums") {
    val stateful = StreamingOps.statefulUserTotals(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(stateful == batch) // integer-micros state ⇒ exact equality
    assert(batch.nonEmpty)
  }

  test("transformWithState totals equal the mapGroupsWithState totals (and batch)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val tws = rows(StreamingOps.statefulUserTotalsTws(spark, sf0001))
    val mgws = rows(StreamingOps.statefulUserTotals(spark, sf0001))
    assert(tws == mgws) // two stateful APIs, one integer-micros contract
    assert(tws.nonEmpty)
  }

  test("stateful totals survive a kill-and-restart from checkpoint (RocksDB recovery)") {
    // exactly-once recovery: run the stateful query over HALF the input,
    // let it terminate (the "kill"), land the second half, and START A NEW
    // QUERY from the same checkpoint. The restart must resume from
    // recovered RocksDB state + source offsets — processing ONLY the new
    // file — and still produce the batch answer over the full input.
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    import scala.jdk.CollectionConverters._
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val work = tempDir("graft_restart_")
    val feed = java.nio.file.Files.createDirectory(work.resolve("feed"))
    val ckpt = work.resolve("ckpt").toString
    val out = work.resolve("out").toString
    val ev = Tables.events(session, sf0001).selectExpr(
      "event_id", "user_id", "CAST(ROUND(value * 1000000.0, 0) AS LONG) AS vmic")
    val schema = ev.schema
    def addHalf(half: Int): Unit = {
      val tmp = work.resolve(s"h$half")
      ev.filter(pmod(col("event_id"), lit(2)) === half).coalesce(1)
        .write.parquet(tmp.toString)
      val ls = java.nio.file.Files.list(tmp)
      val part = try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      finally ls.close()
      java.nio.file.Files.move(part, feed.resolve(s"half$half.parquet"))
    }
    def run(): Long = { // returns input rows this query instance processed
      val totals = session.readStream.schema(schema).parquet(feed.toString)
        .selectExpr("user_id", "vmic").as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long)], st: GroupState[(Long, Long)]) =>
            val (n0, s0) = st.getOption.getOrElse((0L, 0L))
            var n = n0; var s = s0
            rows.foreach { case (_, v) => n += 1; s += v }
            st.update((n, s))
            (user, n, s)
        }.toDF("user_id", "n_events", "sum_micros")
      val q = totals.writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            StreamingOps.writeBatch(df, out, complete = false, batchId)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    val half0 = ev.filter(pmod(col("event_id"), lit(2)) === 0).count()
    val half1 = ev.filter(pmod(col("event_id"), lit(2)) === 1).count()
    addHalf(0)
    assert(run() == half0)
    addHalf(1)
    // the restarted instance reads ONLY the new file — recovered state, no replay
    assert(run() == half1)
    // Update-mode sink: last-writer-wins per user across batch ids
    val got = session.read.parquet(out)
      .withColumn("batch", col("batch").cast("long")) // partition col infers as int
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("batch"), r.getAs[Long]("n_events"), r.getAs[Long]("sum_micros")))
      .groupBy(_._1).map { case (u, rs) => u -> { val m = rs.maxBy(_._2); (m._3, m._4) } }
    val expect = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("vmic").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect) // integer-micros state ⇒ exact equality across the restart
    assert(expect.nonEmpty)
    LocalFiles.deleteRecursively(work)
  }

  test("streaming session windows equal the batch session_window aggregation") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start").cast("string"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val streamed = rows(StreamingOps.sessionWindowStreaming(spark, sf0001))
    val batch = rows(Tables.events(spark, sf0001)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value")))
    assert(streamed.sameElements(batch)) // merging-window state ≡ batch sessions
    assert(batch.nonEmpty)
  }

  test("timer-closed sessions (incl. state-store open tail) equal session_window") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start").cast("string"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val timers = rows(StreamingOps.sessionWindowTimers(spark, sf0001))
    val merging = rows(StreamingOps.sessionWindowStreaming(spark, sf0001))
    assert(timers.sameElements(merging)) // two stateful shapes, one answer
    // the fixture must genuinely exercise the open-tail path: at least one
    // user's last session ends within the gap of stream end, so its timer
    // never fires and the row can only come from the state-store read
    val ev = Tables.events(spark, sf0001)
    val maxTs = ev.agg(max(col("ts_ns"))).collect()(0).getLong(0)
    val openUsers = ev.groupBy("user_id").agg(max(col("ts_ns")).as("last"))
      .filter(col("last") > lit(maxTs - 1800000000000L))
      .count()
    assert(openUsers > 0)
  }

  test("stream-static enrichment join equals the batch dim join") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val streamed = key(StreamingOps.enrichWithStatic(spark, sf0001))
    val batch = key(Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, sf0001), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"), col("value")))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(StreamingOps.viewClickJoin(spark, sf0001))
    val ev = Tables.events(spark, sf0001)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val batch = key(v.join(c,
      col("user_id") === col("cu") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS")))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream LEFT OUTER join: closed windows equal the batch left join, nulls live") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val streamed = key(StreamingOps.viewClickLeftOuterJoin(spark, sf0001))
    val ev = Tables.events(spark, sf0001)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    // the adjudicable cutoff is the query's FINAL WATERMARK =
    // least(max view ts, max click ts) — the per-type filter sits below
    // each EventTimeWatermark node (see viewClickLeftOuterJoin scaladoc)
    val wm = ev.filter(col("event_type").isin("view", "click"))
      .groupBy("event_type").agg(max(expr("ts_ns div 1000")).as("m"))
      .agg(min(col("m"))).head().getLong(0)
    val batch = key(v.join(c,
      col("user_id") === col("cu") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS"),
      "left")
      .filter(col("view_ts") + expr("INTERVAL 2 HOURS")
        < timestamp_micros(lit(wm)).cast("timestamp_ntz")))
    assert(streamed == batch)
    // the OUTER path must be exercised: unmatched views with null click_id
    assert(streamed.exists(_._3 == -1L))
    assert(streamed.exists(_._3 != -1L))
  }

  test("streaming CDC upsert equals the batch replay of the three ordered merges") {
    val df = SparkEntry.queries("stream_upsert_merge")(spark, sf0001)

    // Independent batch formulation: apply the same three key-overlapping
    // update batches as chained last-writer-wins anti-joins. If the stream
    // collapsed the feed into one batch, merge's key-uniqueness check
    // throws (b0 and b1 overlap on doc_id ∈ [200, 300)); if it reordered
    // batches, those keys would come back labeled b0 and this compare
    // fails — so equality here pins both the batching AND the order.
    val docs = Tables.documents(spark, sf0001)
    val b0 = docs.filter(col("doc_id") < 300)
      .withColumn("source", lit("b0")).withColumn("n_chars", col("n_chars") + 1L)
    val b1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
      .withColumn("source", lit("b1")).withColumn("n_chars", col("n_chars") + 2L)
    val b2 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
      .unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000000L))
      .withColumn("source", lit("b2")).withColumn("n_chars", col("n_chars") + 3L)
    val applied = Seq(b0, b1, b2).foldLeft(docs) { (acc, b) =>
      b.unionByName(acc.join(b.select("doc_id"), Seq("doc_id"), "left_anti"))
    }
    val expected = applied.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang", "source")
    assert(df.except(expected).count() === 0L)
    assert(expected.except(df).count() === 0L)
    assert(df.count() === expected.count())
    // every batch label survives into the final state
    assert(df.filter(col("source").isin("b0", "b1", "b2"))
      .select("source").distinct().count() === 3L)
  }

  test("streaming CMS heavy hitters equal the batch-built sketch's estimates") {
    import graft.functions.CountMinSketch
    val streamed = SparkEntry.queries("stream_heavy_hitters")(spark, sf0001).cache()
    try {
      // CMS never under-counts — the structural guarantee, on every row.
      assert(streamed.filter(!col("never_under")).count() === 0L)
      // Batch twin: identical pipeline, sketch built without streaming.
      // Merge associativity+commutativity says batch boundaries can't
      // change a single cell, so the estimates must be BIT-equal.
      val toks = Tables.events(spark, sf0001)
        .select(col("user_id").cast("string").as("token"))
      val sketch = toks.agg(CountMinSketch.sketchAgg(
        CountMinSketch.buckets(col("token"))).as("cms"))
      val batch = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(10)
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("n_exact"),
          CountMinSketch.estimate(col("cms"), col("token")).as("cms_est"))
        .withColumn("never_under", col("cms_est") >= col("n_exact"))
      assert(streamed.except(batch).count() === 0L)
      assert(batch.except(streamed).count() === 0L)
      assert(streamed.count() === batch.count())
    } finally streamed.unpersist()
  }

  test("streaming SRP dedup == batch tier, with planted cross-batch pairs") {
    import spark.implicits._
    // deterministic base vectors; ids 1 and 6 share one (1%4=1 vs 6%4=2 —
    // found only via the CROSS-batch index probe), ids 2 and 14 share
    // another (both mod 2 — found via the within-batch self-join)
    def vec(seed: Long): Array[Float] = {
      var s = seed
      Array.fill(64) {
        s ^= s << 13; s ^= s >>> 7; s ^= s << 17
        (s % 1000) / 1000.0f
      }
    }
    val shared1 = vec(101); val shared2 = vec(202)
    val rows = (1L to 16L).map { id =>
      val v = id match {
        case 1L | 6L => shared1
        case 2L | 14L => shared2
        case _ => vec(id * 7919L)
      }
      (id, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val batch = graft.operators.Similarity
      .srpNearDupPairs(emb, "vec_id", "embedding", 0.9, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = graft.streaming.StreamingOps
      .streamSrpDedup(spark, emb, threshold = 0.9, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.contains((1L, 6L)), "cross-batch probe path must fire")
    assert(streamed.contains((2L, 14L)), "within-batch path must fire")
  }

  test("stream rolling DAU reconciles with the batch windowed-HLL row") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val stream = rows("stream_rolling_dau")
    val batch = rows("rolling_active_users_check")
    assert(stream.sameElements(batch),
      "streaming sketch-state result must match the batch windowed-HLL row")
    assert(stream.forall(_._3), "every day must sit within the tolerance contract")
    assert(stream.length == 30)
  }

  test("stream PSI drift: non-negative per hour, events fully accounted") {
    val out = graft.streaming.StreamingOps.streamPsiDrift(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // PSI contributions (p−q)·ln(p/q) are pointwise ≥ 0, so every hourly
    // sum of quantized contributions must be ≥ −10 (10 buckets × the
    // half-micro floor rounding) and realistically ≥ 0
    assert(out.nonEmpty)
    assert(out.forall(_._2 >= -10L), "PSI must be non-negative up to rounding")
    assert(out.exists(_._2 > 0L), "fixture hours must show some drift")
    // every event lands in exactly one hour
    val total = Tables.events(spark, sf0001).count()
    assert(out.map(_._1).sum == total)
  }

  test("stream_cusum_alert agrees with the batch changepoint detector row-for-row") {
    val stream = SparkEntry.queries("stream_cusum_alert")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.get(2).toString.take(10), r.getLong(3))).toSeq
    val batch = SparkEntry.queries("events_cusum_changepoint")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.get(2).toString.take(10), r.getLong(3))).toSeq
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("stream_scd2_enrich: events pick the dimension version valid at their event time") {
    val df = SparkEntry.queries("stream_scd2_enrich")(spark, sf0001).cache()
    try {
      // exactly one dim version matches per event (intervals partition time)
      val purchases = Tables.events(spark, sf0001)
        .filter(col("event_type") === "purchase").count()
      assert(df.count() === purchases)
      // events after the cutoff carry the #2 version, before it the v1
      val tagged = df.join(
        Tables.events(spark, sf0001).select(col("event_id"), col("ts")), "event_id")
      val cut = to_timestamp(lit("2024-01-15 00:00:00")).cast("timestamp_ntz")
      assert(tagged.filter(col("ts") >= cut &&
        !col("segment_pit").endsWith("#2")).count() === 0L)
      assert(tagged.filter(col("ts") < cut &&
        col("segment_pit").endsWith("#2")).count() === 0L)
      // both versions actually fire on the fixture
      assert(df.filter(col("segment_pit").endsWith("#2")).count() > 0L)
      assert(df.filter(!col("segment_pit").endsWith("#2")).count() > 0L)
    } finally df.unpersist()
  }

  test("streaming rows run no more Spark jobs than their pinned counts") {
    val rows = Seq("stream_user_totals", "stream_hourly_agg", "stream_session_timers",
      "kafka_wire_parse")
    def run(row: String): Unit = SparkEntry.queries(row)(spark, sf0001).collect()
    // a first run stages each row's fixture; the counts cover the replay
    // from a published stage, which is what every later run does
    rows.foreach(run)
    val counts = rows.map(r => r -> jobsRunBy(run(r)).size)
    info(counts.map { case (r, n) => s"$r=$n" }.mkString(" "))
    // the sink output is re-read with the stream's schema: no inference job
    val pinned = Map("stream_user_totals" -> 6, "stream_hourly_agg" -> 5,
      "stream_session_timers" -> 7, "kafka_wire_parse" -> 5)
    counts.foreach { case (r, n) =>
      assert(n <= pinned(r), s"$r ran $n Spark jobs, pinned at most ${pinned(r)}")
    }
  }
}
