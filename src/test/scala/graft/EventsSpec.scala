package graft

import org.apache.spark.sql.functions._

/** Semantics of the time-series resample + forward-fill operator. */
class EventsSpec extends SparkSpec {

  test("events_resample_ffill: contiguous hourly grid per user, ffill carries last observed value") {
    val df = SparkEntry.queries("events_resample_ffill")(spark, sf0001).cache()
    try {
      // 1. The grid is gap-free: per user, row count == hours between min and max + 1.
      val grid = df.groupBy("user_id")
        .agg(
          count(lit(1)).as("rows"),
          (unix_timestamp(max("hour_start")) - unix_timestamp(min("hour_start"))).as("spanSec"))
        .withColumn("expected", col("spanSec") / 3600 + 1)
      assert(grid.filter(col("rows") =!= col("expected")).count() === 0L)

      // 2. Observed rows pass their value through; the first row of every user is observed
      //    (grid starts at the first activity), so value_ffill is never null.
      assert(df.filter(col("value_ffill").isNull).count() === 0L)

      // 3. Forward fill: on a gap row, value_ffill equals the previous row's value_ffill.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("hour_start")
      val gaps = df
        .withColumn("prev", lag("value_ffill", 1).over(w))
        .filter(col("observed") === 0)
      assert(gaps.count() > 0L, "fixture must contain at least one gap hour")
      assert(gaps.filter(col("value_ffill") =!= col("prev")).count() === 0L)
    } finally df.unpersist()
  }

  test("q_group_topk: partial-aggregate plan (no Window), equals the window formulation") {
    val df = SparkEntry.queries("q_group_topk")(spark, sf0001)

    // The whole point of the aggregator: no Window node, and the aggregate
    // is split partial/merge so each map task forwards at most k rows/group.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"top-k must not plan a window sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")

    // Semantics witness: identical rows to the naive ROW_NUMBER plan.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").desc)
    val naive = Tables.events(spark, sf0001)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("event_type", "rank", "event_id", "value")
    assert(df.except(naive).count() === 0L)
    assert(naive.except(df).count() === 0L)
    assert(df.count() === naive.count())
  }

  test("events_funnel: stages shrink monotonically, gaps bounded by the 24 h window") {
    val rows = SparkEntry.queries("events_funnel")(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("1_view", "2_click", "3_purchase"))
    val Seq(v, c, p) = rows.map(r => (r.getLong(1), r.getLong(2))).toSeq
    // Funnel can only narrow, and every stage must fire on the fixture.
    assert(v._1 >= c._1 && c._1 >= p._1)
    assert(p._1 > 0L, "fixture must drive at least one user through all stages")
    // View stage has no gap by definition; later stages have strictly
    // positive per-user gaps, each below the 24 h qualification window.
    assert(v._2 === 0L)
    for ((n, gap) <- Seq(c, p)) {
      assert(gap > 0L)
      assert(gap <= n * 86400000000L)
    }
    // Stage-1 cardinality is just the distinct viewers.
    val viewers = Tables.events(spark, sf0001)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(v._1 === viewers)
  }

  test("events_decayed_sum: first row per user is its own value; decay bounded by the raw window sum") {
    val df = SparkEntry.queries("events_decayed_sum")(spark, sf0001).cache()
    try {
      val base = Tables.events(spark, sf0001)
        .filter(col("user_id") < 40)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 1000000.0 + 0.5).cast("long").as("v_mic"),
          expr("ts_ns div 1000").as("ts_us"))
      assert(df.count() === base.count())

      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val joined = base
        .withColumn("rn", row_number().over(w))
        .withColumn("win_sum", sum("v_mic").over(w.rowsBetween(-15, 0)))
        .join(df, Seq("user_id", "event_id"))
      // A user's first event has no history: the score IS its value.
      assert(joined.filter(col("rn") === 1)
        .filter(col("decayed_mic") =!= col("v_mic")).count() === 0L)
      // Every row: own value <= score <= undecayed 16-row window sum.
      assert(joined.filter(col("decayed_mic") < col("v_mic")).count() === 0L)
      assert(joined.filter(col("decayed_mic") > col("win_sum")).count() === 0L)
    } finally df.unpersist()
  }

  test("events_retention_cohort: day-0 is the full cohort, retention never exceeds it") {
    val df = SparkEntry.queries("events_retention_cohort")(spark, sf0001).cache()
    try {
      // Offset 0 is the cohort's own first-activity day: everyone is active.
      val day0 = df.filter(col("day_offset") === 0)
      assert(day0.filter(col("n_active") =!= col("cohort_size")).count() === 0L)
      assert(day0.filter(col("retention_ppm") =!= 1000000L).count() === 0L)
      // A cell can never retain more users than the cohort holds.
      assert(df.filter(col("n_active") > col("cohort_size")).count() === 0L)
      // Cohorts partition the user base exactly once.
      val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
      val cohortTotal = df.select("cohort_day", "cohort_size").distinct()
        .agg(sum("cohort_size")).first().getLong(0)
      assert(cohortTotal === users)
    } finally df.unpersist()
  }

  test("events_attribution: purchases and revenue fully partitioned across channels") {
    val df = SparkEntry.queries("events_attribution")(spark, sf0001).cache()
    try {
      val purchases = Tables.events(spark, sf0001)
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)), sum(floor(col("value") * 1000000.0 + 0.5).cast("long")))
        .first()
      // Attribution is a partition of the purchase set, not a sample.
      assert(df.agg(sum("n_purchases")).first().getLong(0) === purchases.getLong(0))
      assert(df.agg(sum("revenue_mic")).first().getLong(0) === purchases.getLong(1))
      // Both branches of the lookback gate fire on the fixture.
      val channels = df.select("channel").collect().map(_.getString(0)).toSet
      assert(channels.contains("organic"))
      assert(channels.exists(_.startsWith("ch")))
    } finally df.unpersist()
  }

  test("q_mad_outliers: groups cover the table, MAD positive, outliers are a minority") {
    val df = SparkEntry.queries("q_mad_outliers")(spark, sf0001).cache()
    try {
      val total = df.agg(sum("n")).first().getLong(0)
      assert(total === Tables.events(spark, sf0001).count())
      assert(df.filter(col("mad_micros") <= 0).count() === 0L)
      // 3×MAD on a continuous-valued fixture: some but few outliers
      assert(df.filter(col("n_outliers") <= 0).count() === 0L)
      assert(df.filter(col("n_outliers") * 5 > col("n")).count() === 0L)
    } finally df.unpersist()
  }

  /** Any unpartitioned window in the plan must run over a pre-aggregated
    * (bucket-totals) subtree, never the raw event rows — the single-task
    * global sort is confined to the hours-sized offsets table. */
  private def assertGlobalWindowsPreAggregated(
      df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val unpartitioned = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.nonEmpty, "expected an offsets window in the plan")
    unpartitioned.foreach { w =>
      val aggBelow = w.child.collect { case a: Aggregate => a }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window must sit over bucket totals, not raw rows:\n$w")
    }
  }

  test("q_global_running_sum: two-phase prefix scan equals the naive global window") {
    // plan assert on an uncached invocation (cache() swaps in InMemoryRelation)
    assertGlobalWindowsPreAggregated(
      SparkEntry.queries("q_global_running_sum")(spark, sf0001))
    val df = SparkEntry.queries("q_global_running_sum")(spark, sf0001).cache()
    try {
      import org.apache.spark.sql.expressions.Window
      val naive = Tables.events(spark, sf0001)
        .select(col("user_id"), col("event_id"),
          round(col("value") * lit(1000000.0)).cast("long").as("m"),
          col("ts"))
        .withColumn("rm", sum(col("m")).over(
          Window.orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("user_id") < 20)
        .select(col("event_id"),
          (col("rm").cast("double") / lit(1000000.0)).as("running_value"))
      assert(df.count() === naive.count())
      assert(df.join(naive, Seq("event_id", "running_value")).count() === df.count())
    } finally df.unpersist()
  }

  test("events_max_concurrency: decomposed sweep line equals the naive per-type window") {
    val df = SparkEntry.queries("events_max_concurrency")(spark, sf0001).cache()
    try {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(spark, sf0001)
        .select(col("event_type"), col("ts"), col("event_id"))
      val deltas = ev
        .select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"),
          col("event_id"))
        .unionAll(ev.select(col("event_type"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
          lit(-1L).as("delta"), col("event_id")))
      val conc = deltas.withColumn("c", sum(col("delta")).over(
        Window.partitionBy("event_type")
          .orderBy(col("t"), col("delta"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val naive = conc.groupBy("event_type")
        .agg(max(col("c")).as("max_concurrency"))
      val naivePeak = conc.join(naive, Seq("event_type"))
        .filter(col("c") === col("max_concurrency"))
        .groupBy("event_type", "max_concurrency")
        .agg(min(col("t")).as("peak_time"))
      assert(df.count() === naivePeak.count())
      assert(df.join(naivePeak,
        Seq("event_type", "max_concurrency", "peak_time")).count() === df.count())
      // Sweep-line sanity: concurrency peaks at >= 1 (every event overlaps itself)
      assert(df.filter(col("max_concurrency") < 1).count() === 0L)
    } finally df.unpersist()
  }

  test("HLL sketches survive parquet persistence: stored-state union == live union") {
    // the incremental-distinct story: per-day sketches are STORED (binary
    // parquet column), later batches' sketches union against them without
    // re-reading raw ids — estimate must be identical to the live union
    val ev = Tables.events(spark, sf0001)
    val byDay = ev.groupBy(expr("ts_ns div 86400000000000").as("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    def unionEstimate(df: org.apache.spark.sql.DataFrame): Long = df
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = false)).as("e"))
      .collect()(0).getLong(0)
    val live = unionEstimate(byDay)
    val dir = tempDir("graft_hll_").toString
    byDay.write.mode("overwrite").parquet(dir)
    val persisted = unionEstimate(spark.read.parquet(dir))
    assert(persisted === live)
    // and the estimate is a real count, not a degenerate zero
    val exact = ev.agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(math.abs(persisted - exact).toDouble / exact <= 0.15)
  }

  test("audience_overlap_kmv: small sets are exact; estimator tracks true overlap") {
    // the exact branch (combined set < k) on the sf0.001 fixture: every
    // pair's inter/union_est must equal the true set sizes
    val ev = Tables.events(spark, sf0001)
    val seg = ev.filter(col("value") >= 100)
      .select("event_type", "user_id").distinct()
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val rows = SparkEntry.queries("audience_overlap_kmv")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(rows.nonEmpty)
    rows.foreach { case (ta, tb, interEst, unionEst, aNotB, bNotA) =>
      assert(interEst == (seg(ta) & seg(tb)).size.toLong, s"exact-branch inter $ta/$tb")
      assert(unionEst == (seg(ta) | seg(tb)).size.toLong, s"exact-branch union $ta/$tb")
      assert(aNotB == (seg(ta) -- seg(tb)).size.toLong, s"exact-branch A\\B $ta/$tb")
      assert(bNotA == (seg(tb) -- seg(ta)).size.toLong, s"exact-branch B\\A $ta/$tb")
    }
    // estimator branch at sf0.01 (segments > k=64): inter_est within 50%
    // of truth — a gross-breakage gate, not a tightness claim (k=64 KMV
    // RSE is ~13% on the union and compounding on the intersection)
    val sf001 = "/root/testdata/sf0.01"
    val ev2 = Tables.events(spark, sf001)
    val seg2 = ev2.filter(col("value") >= 100)
      .select("event_type", "user_id").distinct()
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    SparkEntry.queries("audience_overlap_kmv")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4), r.getLong(5)))
      .foreach { case (ta, tb, nComb, interEst) =>
        assert(nComb >= 64L, "sf0.01 must exercise the estimator branch")
        val exact = (seg2(ta) & seg2(tb)).size.toDouble
        assert(math.abs(interEst - exact) / exact <= 0.5,
          s"$ta/$tb est $interEst vs exact $exact")
      }
  }

  test("cusumChangepoint: planted level shift peaks at the shift day, exact BIGINT lattice") {
    // type A: days 1-4 at 2 events/day, days 5-8 at 8/day. Daily counts
    // c = [2,2,2,2,8,8,8,8], n = 8, T = 40; dev = c*8 - 40 = [-24 x4, +24 x4];
    // cumsum = -24,-48,-72,-96,-72,-48,-24,0 -> peak |S| = 96 at day 4.
    import spark.implicits._
    val rows = for {
      day <- 1 to 8
      i <- 1 to (if (day <= 4) 2 else 8)
    } yield ("A", java.sql.Timestamp.valueOf(f"2024-01-0$day 10:0$i:00"))
    val ev = rows.toDF("event_type", "ts")
    val out = graft.operators.EventsOps.cusumChangepoint(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "A")
    assert(r.getLong(1) === 8L)
    assert(r.getTimestamp(2).toString.startsWith("2024-01-04"))
    assert(r.getLong(3) === 96L)
  }

  test("events_cum_distinct_types: monotone per user, ends at the exact distinct count") {
    val df = SparkEntry.queries("events_cum_distinct_types")(spark, sf0001).cache()
    try {
      // final value per user == exact COUNT(DISTINCT event_type)
      val last = df.groupBy("user_id").agg(max("n_types_seen").as("got"))
      val exact = Tables.events(spark, sf0001)
        .groupBy("user_id").agg(countDistinct("event_type").as("want"))
      assert(last.join(exact, "user_id")
        .filter(col("got") =!= col("want")).count() === 0L)
      // starts at 1 (the first event always introduces a new type)
      assert(df.filter(col("n_types_seen") < 1L).count() === 0L)
    } finally df.unpersist()
  }

  test("events_ab_test: arms partition the user base; z2 is non-negative and finite") {
    val r = SparkEntry.queries("events_ab_test")(spark, sf0001).collect().head
    val (n0, c0, n1, c1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(n0 + n1 === users)
    assert(c0 <= n0 && c1 <= n1)
    assert(c0 + c1 > 0L && c0 + c1 < n0 + n1, "conversion must be non-degenerate")
    val (conv0, conv1, z2) = (r.getLong(4), r.getLong(5), r.getLong(6))
    assert(conv0 >= 0L && conv0 <= 1000000L && conv1 >= 0L && conv1 <= 1000000L)
    assert(z2 >= 0L)
    // hand-check the z2 arithmetic from the exact counts
    val p0 = c0.toDouble / n0; val p1 = c1.toDouble / n1
    val pp = (c0 + c1).toDouble / (n0 + n1)
    val want = math.floor((p0 - p1) * (p0 - p1) /
      (pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)) * 1000000.0 + 0.5).toLong
    assert(z2 === want)
  }
}
