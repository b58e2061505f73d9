package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-table operators: windows/analytics (SURVEY.md §2.5 W1), distinct
  * counting, JSON prop extraction (§2.6), and time-bucketed aggregation —
  * the batch face of hustle's append-only event model (§2.7).
  *
  * Scale notes: all window functions partition by `user_id` (high
  * cardinality → even shuffle); time-bucket aggregations pre-aggregate
  * map-side via HashAggregate. `distinct_exact` is a two-stage exact
  * distinct; `distinct_approx` is the HLL path that replaces it at 100 TB.
  */
object EventsOps {

  /** `events` with `session_id`: per user, in (ts, event_id) order, the
    * running count of 30-minute-gap session starts (a user's first event,
    * or one more than 30 minutes after the previous).
    */
  private def withGapSessions(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = expr("ts_ns div 1000") -
      lag(expr("ts_ns div 1000"), 1).over(order)
    events
      .withColumn("new_session",
        when(gapUs > 1800000000L || lag(col("ts"), 1).over(order).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The as-of rows: every purchase (user_id, purchase_id) with the view
    * [[AsOfJoin.asOf]] matches in `direction` within `tolerance`, and
    * `gap_us`, computed from the purchase's `ts_us` and the view's `v.ts`.
    * All times are integer microseconds; views are pre-aggregated to one
    * row per (user_id, ts_us) with the max view_id, so ties resolve
    * identically on both engines.
    */
  private def purchaseAsOfView(
      events: DataFrame, direction: String, tolerance: Option[Column],
      gapUs: Column): DataFrame = {
    val ev = events.withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts_us").agg(max("event_id").as("view_id"))
    AsOfJoin.asOf(purchases, views, "user_id", "ts_us", "ts_us", Seq("view_id"), "v",
        direction, tolerance)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("v.view_id").as("view_id"), gapUs.as("gap_us"))
      .orderBy("user_id", "purchase_id")
  }

  /** Oracle `v` and `p` of the as-of rows: [[purchaseAsOfView]]'s views
    * and purchases.
    */
  private val asOfInputsCte =
    """WITH v AS (SELECT user_id, epoch_us(ts) AS vts, CAST(MAX(event_id) AS BIGINT) AS view_id
      |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |p AS (SELECT user_id, event_id, epoch_us(ts) AS pts
      |      FROM events WHERE event_type = 'purchase')""".stripMargin

  /** Oracle of `q_session_window` and its stream twins: 30-minute gap
    * sessions (a gap of exactly 30 minutes starts a new one) replayed with
    * LAG and a running sum.
    */
  private[graft] val GapSessionOracle =
    """WITH marked AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN epoch_us(ts) -
      |        LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
      |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, MIN(ts) AS session_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Oracle of `events_cusum_changepoint` and its stream twin: the
    * earliest peak of the division-cleared CUSUM per type.
    */
  private[graft] val CusumOracle =
    """WITH dc AS (
      |  SELECT event_type, DATE_TRUNC('day', ts) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(c) AS BIGINT) AS t FROM dc GROUP BY 1),
      |cum AS (
      |  SELECT dc.event_type, dc.day,
      |    CAST(SUM(dc.c * tot.n - tot.t) OVER (PARTITION BY dc.event_type
      |      ORDER BY dc.day) AS BIGINT) AS s_k,
      |    tot.n
      |  FROM dc JOIN tot ON tot.event_type = dc.event_type),
      |pk AS (
      |  SELECT event_type, day, s_k, n,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ABS(s_k) DESC, day) AS rk
      |  FROM cum)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS cp_day,
      |  CAST(ABS(s_k) AS BIGINT) AS cusum_peak
      |FROM pk WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** Oracle of `rolling_active_users_check` and its stream twin: exact
    * rolling 7-day distinct users per day, every estimate within tolerance.
    */
  private[graft] val RollingDauOracle =
    """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events),
      |cover AS (SELECT unnest(range(day, day + 7)) AS day, user_id FROM du),
      |days AS (SELECT DISTINCT day FROM du),
      |ex AS (SELECT c.day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_exact
      |  FROM cover c JOIN days d ON d.day = c.day GROUP BY 1)
      |SELECT CAST(day AS BIGINT) AS day, n_exact, TRUE AS within_tol
      |FROM ex ORDER BY day""".stripMargin

  /** Oracle of `events_sessionize_agg` and its stream twin: per type and
    * hour, the event count and micros-exact value sum.
    */
  private[graft] val HourlyAggOracle =
    """SELECT event_type, DATE_TRUNC('hour', ts) AS hour_start,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY event_type, hour_start""".stripMargin

  val queries: Seq[Q] = Seq(
    // ---- exact COUNT(DISTINCT) — bench headline ----
    Q(
      "distinct_exact",
      "SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events",
    ) { (s, d) =>
      Tables.events(s, d).agg(countDistinct(col("user_id")).as("n_users"))
    },

    // ---- approx_count_distinct (HLL++) — engine-specific sketch, so the
    // oracle can't reproduce the exact value: rows-only check BY DESIGN;
    // its oracle-checked accuracy contract is the `distinct_approx_check`
    // row below (estimate within 3×rsd of the exact count) ----
    Q.rowsOnly("distinct_approx") { (s, d) =>
      Tables.events(s, d)
        .agg(approx_count_distinct(col("user_id"), 0.05).as("n_users_approx"))
    },

    // ---- the sketch's ACCURACY CONTRACT, oracle-checked: the HLL estimate
    // must land within 3×rsd of the exact count (which the oracle also
    // verifies exactly). This is how an engine-specific sketch still gets a
    // hard driver-checkable guarantee rather than a rows-only wave-through ----
    Q(
      "distinct_approx_check",
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
        |  TRUE AS within_3rsd FROM events""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .agg(
          countDistinct(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("approx"))
        .select(col("n_users_exact"),
          (abs(col("approx") - col("n_users_exact")).cast("double")
            / col("n_users_exact") <= 0.15).as("within_3rsd"))
    },

    // ---- the same HLL contract PER GROUP (the shape a 100 TB rollup
    // actually uses — one sketch per dimension value, merged map-side) ----
    Q(
      "distinct_approx_by_type_check",
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_3rsd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast("double")
            / col("n_exact") <= 0.15).as("within_3rsd"))
        .orderBy("event_type")
    },

    // ---- the INCREMENTAL distinct pattern: per-partition DataSketches
    // HLL sketches (the persistable state a 100 TB pipeline stores per
    // day/partition instead of raw ids), merged at query time with
    // hll_union_agg. Two contracts: the merged estimate lands within
    // tolerance of exact, and merging the SAME corpus sketched under two
    // different partitionings (by day vs by event_type) yields the
    // IDENTICAL estimate — union state is a function of the item set,
    // not the split (the property that makes stored sketches composable) ----
    Q(
      "distinct_hll_partitioned_check",
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol, TRUE AS merge_invariant FROM events""".stripMargin,
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val byDay = ev.groupBy(expr("ts_ns div 86400000000000").as("day"))
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val byType = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val eDay = byDay.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("e_day"))
      val eType = byType.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("e_type"))
      ev.agg(countDistinct(col("user_id")).as("n_exact"))
        .crossJoin(broadcast(eDay)).crossJoin(broadcast(eType))
        .select(col("n_exact"),
          (abs(col("e_day") - col("n_exact")).cast("double")
            / col("n_exact") <= 0.15).as("within_tol"),
          (col("e_day") === col("e_type")).as("merge_invariant"))
    },

    // ---- rolling 7-day active users from windowed HLL-sketch union:
    // the DAU/WAU curve, where exact rolling COUNT(DISTINCT) is the
    // classic scale-killer (each day re-scans a week of raw ids) and the
    // answer is per-day sketches + a frame union over the DAY-LEVEL
    // table (tiny by construction — one row per day, so the global
    // window is model-sized). Contract: every day's estimate within
    // tolerance of exact, exact replayed via the explode(sequence)
    // day-coverage trick (equi joins only, 7× linear) ----
    Q(
      "rolling_active_users_check",
      RollingDauOracle,
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val du = ev.select(expr("ts_ns div 86400000000000").as("day"),
        col("user_id")).distinct()
      val byDay = du.groupBy("day").agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val w = Window.orderBy("day").rangeBetween(-6, 0)
      val est = byDay.select(col("day"),
        hll_sketch_estimate(
          hll_union_agg(col("sk"), allowDifferentLgConfigK = false).over(w))
          .as("est"))
      val days = du.select("day").distinct()
      val exact = du
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id"))
        .join(days, "day")
        .groupBy("day").agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, "day")
        .select(col("day"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double")
            / col("n_exact") <= 0.15).as("within_tol"))
        .orderBy("day")
    },

    // ---- audience set algebra via KMV (bottom-k) sketches: distinct-user
    // INTERSECTION, UNION and both DIFFERENCES (A\B, B\A) between segment
    // pairs — the set operations HLL cannot deliver without
    // inclusion-exclusion error blowup. Difference numerators are
    // (side-below-τ − both-below-τ) over the shared τ.
    // Segment = users with a value≥100 event of each type; sketch = the
    // k=64 smallest md5-derived user hashes per segment (a window top-k
    // here; the skew-safe 100 TB form is a partial bottom-k aggregate);
    // for each pair, τ = k-th smallest of the combined sketch set,
    // D_union = (k−1)·2⁶⁰/τ, J = |both-sketch hashes ≤ τ|/k,
    // D_inter = J·D_union — with the exact small-set branch when the
    // combined set never fills k. Every step is deterministic integer /
    // IEEE arithmetic, so the ORACLE REPLAYS THE SKETCH HASH-EXACTLY
    // (not an accuracy waiver); sf0.001 exercises the exact branch,
    // sf0.01/0.1 the estimator branch ----
    Q(
      "audience_overlap_kmv",
      """WITH seg AS (SELECT DISTINCT event_type, user_id FROM events WHERE value >= 100),
        |h AS (SELECT event_type, user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM seg),
        |sk AS (SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
        |    FROM h) WHERE rn <= 64),
        |sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM sk GROUP BY 1),
        |prs AS (SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM sz a JOIN sz b ON a.event_type < b.event_type),
        |comb AS (
        |  SELECT p.ta, p.tb, s.h FROM prs p JOIN sk s ON s.event_type = p.ta
        |  UNION
        |  SELECT p.ta, p.tb, s.h FROM prs p JOIN sk s ON s.event_type = p.tb),
        |rc AS (SELECT ta, tb, h,
        |    ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn FROM comb),
        |st AS (SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_comb,
        |    MAX(CASE WHEN rn = 64 THEN h END) AS tau FROM rc GROUP BY 1, 2),
        |ir AS (SELECT p.ta, p.tb, sa.h
        |  FROM prs p JOIN sk sa ON sa.event_type = p.ta
        |            JOIN sk sb ON sb.event_type = p.tb AND sb.h = sa.h),
        |ia AS (SELECT ir.ta, ir.tb, CAST(COUNT(*) AS BIGINT) AS n_is,
        |    CAST(SUM(CASE WHEN ir.h <= st.tau THEN 1 ELSE 0 END) AS BIGINT) AS ik
        |  FROM ir JOIN st USING (ta, tb) GROUP BY 1, 2),
        |am AS (SELECT p.ta, p.tb,
        |    CAST(SUM(CASE WHEN s.h <= st.tau THEN 1 ELSE 0 END) AS BIGINT) AS ak
        |  FROM prs p JOIN sk s ON s.event_type = p.ta
        |  JOIN st ON st.ta = p.ta AND st.tb = p.tb GROUP BY 1, 2),
        |bm AS (SELECT p.ta, p.tb,
        |    CAST(SUM(CASE WHEN s.h <= st.tau THEN 1 ELSE 0 END) AS BIGINT) AS bk
        |  FROM prs p JOIN sk s ON s.event_type = p.tb
        |  JOIN st ON st.ta = p.ta AND st.tb = p.tb GROUP BY 1, 2)
        |SELECT st.ta, st.tb, sa.n AS n_a, sb.n AS n_b, st.n_comb,
        |  CASE WHEN st.n_comb < 64 THEN COALESCE(ia.n_is, 0)
        |    ELSE CAST(FLOOR((COALESCE(ia.ik, 0) / 64.0)
        |      * (63.0 * 1152921504606846976.0 / CAST(st.tau AS DOUBLE)) + 0.5) AS BIGINT)
        |  END AS inter_est,
        |  CASE WHEN st.n_comb < 64 THEN st.n_comb
        |    ELSE CAST(FLOOR(63.0 * 1152921504606846976.0 / CAST(st.tau AS DOUBLE) + 0.5) AS BIGINT)
        |  END AS union_est,
        |  CASE WHEN st.n_comb < 64 THEN sa.n - COALESCE(ia.n_is, 0)
        |    ELSE CAST(FLOOR(((am.ak - COALESCE(ia.ik, 0)) / 64.0)
        |      * (63.0 * 1152921504606846976.0 / CAST(st.tau AS DOUBLE)) + 0.5) AS BIGINT)
        |  END AS a_not_b_est,
        |  CASE WHEN st.n_comb < 64 THEN sb.n - COALESCE(ia.n_is, 0)
        |    ELSE CAST(FLOOR(((bm.bk - COALESCE(ia.ik, 0)) / 64.0)
        |      * (63.0 * 1152921504606846976.0 / CAST(st.tau AS DOUBLE)) + 0.5) AS BIGINT)
        |  END AS b_not_a_est
        |FROM st LEFT JOIN ia USING (ta, tb)
        |JOIN am USING (ta, tb) JOIN bm USING (ta, tb)
        |JOIN sz sa ON sa.event_type = st.ta JOIN sz sb ON sb.event_type = st.tb
        |ORDER BY st.ta, st.tb""".stripMargin,
    ) { (s, d) =>
      val k = 64
      val kNum = 63.0 * 1152921504606846976.0 // (k−1)·2⁶⁰, exact in double
      val seg = Tables.events(s, d).filter(col("value") >= 100)
        .select(col("event_type"), col("user_id")).distinct()
      val hashed = seg.select(col("event_type"), col("user_id"),
        graft.functions.TextFunctions.tokenHash60(col("user_id").cast("string")).as("h"))
      val wT = Window.partitionBy("event_type").orderBy(col("h"), col("user_id"))
      // pin the sketch ONCE: it is model-sized (≤ k rows per segment) but
      // its lineage is the full events scan + distinct + window, and SEVEN
      // downstream branches (sz, prs, comb×2, ir×2, the two difference
      // numerators) would each replay that scan — measured 2.45 s → the
      // pinned form re-reads ~320 rows instead
      val sk = hashed.withColumn("rn", row_number().over(wT))
        .filter(col("rn") <= k).select(col("event_type"), col("h"))
        .transform(graft.Tables.pin)
      val sz = sk.groupBy("event_type").agg(count(lit(1)).as("n"))
      val prs = sz.select(col("event_type").as("ta"))
        .join(sz.select(col("event_type").as("tb")), col("ta") < col("tb"))
      val comb = prs.join(sk.withColumnRenamed("event_type", "ta"), "ta")
        .select("ta", "tb", "h")
        .unionByName(prs.join(sk.withColumnRenamed("event_type", "tb"), "tb")
          .select("ta", "tb", "h"))
        .distinct()
      val wc = Window.partitionBy("ta", "tb").orderBy("h")
      val st = comb.withColumn("rn", row_number().over(wc))
        .groupBy("ta", "tb").agg(
          count(lit(1)).as("n_comb"),
          max(when(col("rn") === k, col("h"))).as("tau"))
      val ir = prs
        .join(sk.select(col("event_type").as("ta"), col("h")), Seq("ta"))
        .join(sk.select(col("event_type").as("tb"), col("h")), Seq("tb", "h"))
      val ia = ir.join(st, Seq("ta", "tb"))
        .groupBy("ta", "tb").agg(
          count(lit(1)).as("n_is"),
          sum(when(col("h") <= col("tau"), lit(1L)).otherwise(lit(0L))).as("ik"))
      // per-side below-τ sketch counts: the set-DIFFERENCE estimators'
      // numerators are (side-below-τ − both-below-τ)
      def sideK(side: String, as: String) = prs
        .join(sk.select(col("event_type").as(side), col("h")), Seq(side))
        .join(st.select("ta", "tb", "tau"), Seq("ta", "tb"))
        .groupBy("ta", "tb").agg(
          sum(when(col("h") <= col("tau"), lit(1L)).otherwise(lit(0L))).as(as))
      val am = sideK("ta", "ak")
      val bm = sideK("tb", "bk")
      val dUnion = lit(kNum) / col("tau").cast("double")
      val ikC = coalesce(col("ik"), lit(0L))
      val isC = coalesce(col("n_is"), lit(0L))
      st.join(ia, Seq("ta", "tb"), "left")
        .join(am, Seq("ta", "tb")).join(bm, Seq("ta", "tb"))
        .join(sz.select(col("event_type").as("ta"), col("n").as("n_a")), "ta")
        .join(sz.select(col("event_type").as("tb"), col("n").as("n_b")), "tb")
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_comb"),
          when(col("n_comb") < k, isC)
            .otherwise(floor((ikC / lit(64.0))
              * dUnion + lit(0.5)).cast("long")).as("inter_est"),
          when(col("n_comb") < k, col("n_comb"))
            .otherwise(floor(dUnion + lit(0.5)).cast("long")).as("union_est"),
          when(col("n_comb") < k, col("n_a") - isC)
            .otherwise(floor(((col("ak") - ikC) / lit(64.0))
              * dUnion + lit(0.5)).cast("long")).as("a_not_b_est"),
          when(col("n_comb") < k, col("n_b") - isC)
            .otherwise(floor(((col("bk") - ikC) / lit(64.0))
              * dUnion + lit(0.5)).cast("long")).as("b_not_a_est"))
        .orderBy("ta", "tb")
    },

    // ---- W1: row_number ranking, keep top-3 per user — bench headline ----
    Q(
      "window_rank",
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS BIGINT) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("user_id", "rn")
    },

    // ---- W1: lag — inter-event gap per user, exact integer microseconds ----
    Q(
      "q_window_lag",
      """SELECT user_id, event_id, gap_us FROM (
        |  SELECT user_id, event_id,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |WHERE gap_us IS NOT NULL ORDER BY user_id, event_id""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          (expr("ts_ns div 1000") - lag(expr("ts_ns div 1000"), 1).over(w)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .orderBy("user_id", "event_id")
    },

    // ---- W1: running sum per user ----
    Q(
      "q_window_running_sum",
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events WHERE user_id < 50 ORDER BY user_id, event_id""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("running_value"))
        .orderBy("user_id", "event_id")
    },

    // ---- §2.7: tumbling 1-hour aggregation — bench headline ----
    Q(
      "events_sessionize_agg",
      HourlyAggOracle,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
        .orderBy("event_type", "hour_start")
    },

    // ---- time-series resample + gap fill: per user, the last observed
    // value of each active hour, re-gridded to EVERY hour between the
    // user's first and last activity, missing hours forward-filled. The
    // grid explode is per-row (no shuffle beyond the hourly pre-agg) and
    // the fill is one bounded-frame window — both linear. Deterministic:
    // "last in hour" = max (ts, event_id) struct, value passes through
    // untouched so the double hashes exactly ----
    Q(
      "events_resample_ffill",
      """WITH hourly AS (
        |  SELECT user_id, hour_start, value AS v FROM (
        |    SELECT user_id, DATE_TRUNC('hour', ts) AS hour_start, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id < 30) WHERE rn = 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(MIN(hour_start), MAX(hour_start), INTERVAL 1 HOUR)) AS hour_start
        |  FROM hourly GROUP BY user_id),
        |j AS (SELECT g.user_id, g.hour_start, h.v
        |      FROM grid g LEFT JOIN hourly h
        |        ON h.user_id = g.user_id AND h.hour_start = g.hour_start)
        |SELECT user_id, hour_start,
        |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour_start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
        |  CAST(v IS NOT NULL AS INTEGER) AS observed
        |FROM j ORDER BY user_id, hour_start""".stripMargin,
    ) { (s, d) =>
      val hourly = Tables.events(s, d)
        .filter(col("user_id") < 30)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour_start"))
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("v"))
      val grid = hourly.groupBy("user_id")
        .agg(min("hour_start").as("h0"), max("hour_start").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
            .as("hour_start"))
      val wf = Window.partitionBy("user_id").orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour_start"), "left")
        .select(col("user_id"), col("hour_start"),
          last(col("v"), ignoreNulls = true).over(wf).as("value_ffill"),
          col("v").isNotNull.cast("int").as("observed"))
        .orderBy("user_id", "hour_start")
    },

    // ---- W1: remaining window-function surface — ntile, dense_rank,
    // first/last value over the full partition frame ----
    Q(
      "q_window_funcs_misc",
      """SELECT user_id, event_id,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
        |  FIRST_VALUE(event_id) OVER w AS first_ev,
        |  LAST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ev
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).cast("long").as("quartile"),
          dense_rank().over(w).cast("long").as("drank"),
          first(col("event_id")).over(w).as("first_ev"),
          last(col("event_id")).over(wFull).as("last_ev"))
        .orderBy("user_id", "event_id")
    },

    // ---- W1: distribution-position window functions — percent_rank and
    // cume_dist as integer ppm (micros-quantized: both are exact rational
    // values rank/(n−1) and rank/n, so ppm floors are engine-identical) ----
    Q(
      "q_window_dist",
      """SELECT user_id, event_id,
        |  CAST(FLOOR(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS prank_ppm,
        |  CAST(FLOOR(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cdist_ppm
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          floor(percent_rank().over(w) * 1000000).cast("long").as("prank_ppm"),
          floor(cume_dist().over(w) * 1000000).cast("long").as("cdist_ppm"))
        .orderBy("user_id", "event_id")
    },

    // ---- batch sessionization: 30-min-gap sessions via window marker ----
    Q(
      "q_sessionize_gap",
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) -
        |        LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_session,
        |    event_id
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    ) { (s, d) =>
      withGapSessions(Tables.events(s, d))
        .groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
        .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "session_id")
    },

    // ---- native session_window (Spark's gap-based session operator);
    // oracle derives identical sessions via lag/cumsum SQL. Spark's
    // session_window is half-open [start, start+gap): a gap of EXACTLY the
    // configured 30 min starts a new session, hence `>=` in the oracle ----
    Q(
      "q_session_window",
      GapSessionOracle,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },

    // ---- exact interpolated percentiles per group (the approx_percentile
    // sketch is the 100 TB path — rows-only variant below) ----
    Q(
      "q_percentile",
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))
        .orderBy("event_type")
    },
    // Scalar projections (not the raw array) so the harness can sort/compare
    // the rows-only output deterministically. Rows-only BY DESIGN
    // (engine-specific sketch); its oracle-checked accuracy contract is
    // the `q_percentile_approx_check` row (approx within rank tolerance
    // of the exact percentile, both computed by the oracle too).
    Q.rowsOnly("q_percentile_approx") { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("p_approx"))
        .select(col("event_type"),
          element_at(col("p_approx"), 1).as("p50_approx"),
          element_at(col("p_approx"), 2).as("p95_approx"))
        .orderBy("event_type")
    },

    // ---- the sketch's ACCURACY CONTRACT, oracle-checked (same pattern as
    // distinct_approx_check): approx_percentile(accuracy=1000) guarantees
    // rank error ≤ 1/1000; the contract asserts the estimate lies between
    // the exact quantiles at rank ± 0.01 (10× slack), alongside exact p50/
    // p95 the oracle recomputes — a hard driver-checkable bound on an
    // engine-specific sketch value ----
    Q(
      "q_percentile_approx_check",
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95,
        |  TRUE AS p50_in_eps, TRUE AS p95_in_eps
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          expr("percentile(value, array(0.49, 0.51, 0.94, 0.96))").as("bounds"),
          expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("pa"))
        .select(col("event_type"), col("p50"), col("p95"),
          element_at(col("pa"), 1).between(
            element_at(col("bounds"), 1), element_at(col("bounds"), 2)).as("p50_in_eps"),
          element_at(col("pa"), 2).between(
            element_at(col("bounds"), 3), element_at(col("bounds"), 4)).as("p95_in_eps"))
        .orderBy("event_type")
    },

    // ---- value histogram: fixed-width buckets via exact FLOOR division
    // (bit-identical bucketing cross-engine) ----
    Q(
      "q_histogram",
      """SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / 10.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")
    },

    // ---- deterministic stddev/variance: exact decimal sums of x and x²,
    // then the closed form in IEEE double — order-independent, unlike
    // stddev_samp's streaming accumulation ----
    Q(
      "q_stddev",
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  sqrt(((CAST(SUM(CAST(ROUND((value*value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0)
        |        - (CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0)
        |          * (CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0) / COUNT(*))
        |       / (COUNT(*) - 1)) AS stddev_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (s, d) =>
      val s1 = Det.dsum(col("value"))
      val s2 = Det.dsum(col("value") * col("value"))
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sqrt((s2 - s1 * s1 / count(lit(1))) / (count(lit(1)) - 1)).as("stddev_v"))
        .orderBy("event_type")
    },

    // ---- §2.6: JSON prop extraction from the events.props string ----
    Q(
      "q_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(sum(k).as("sum_k"), max(k).as("max_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // ---- VARIANT semi-structured access (Spark 4): nested JSON (planted
    // deterministically — objects, arrays, mixed types) parsed ONCE to
    // the binary VARIANT encoding, then typed-path extraction with
    // variant_get. The 100 TB contract: props land AS VARIANT at ingest
    // and every later query pays typed binary access, never a per-query
    // string re-parse (what get_json_object costs in q_json_extract).
    // Oracle = DuckDB JSON path extraction over the same planted text ----
    Q(
      "q_variant_extract",
      """WITH j AS (SELECT event_type,
        |    '{"u":{"id":' || CAST(user_id AS VARCHAR)
        |      || ',"tags":["t' || CAST(user_id % 5 AS VARCHAR)
        |      || '"]},"k":' || CAST(json_extract_string(props, '$.k') AS VARCHAR)
        |      || '}' AS js
        |  FROM events)
        |SELECT event_type,
        |  json_extract_string(js, '$.u.tags[0]') AS tag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(json_extract_string(js, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COUNT(DISTINCT CAST(json_extract_string(js, '$.u.id') AS BIGINT)) AS BIGINT)
        |    AS n_users
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    ) { (s, d) =>
      val js = concat(
        lit("""{"u":{"id":"""), col("user_id").cast("string"),
        lit(""","tags":["t"""), pmod(col("user_id"), lit(5)).cast("string"),
        lit(""""]},"k":"""), get_json_object(col("props"), "$.k"), lit("}"))
      Tables.events(s, d)
        .select(col("event_type"), parse_json(js).as("v"))
        .select(col("event_type"),
          variant_get(col("v"), "$.u.tags[0]", "string").as("tag"),
          variant_get(col("v"), "$.u.id", "bigint").as("uid"),
          variant_get(col("v"), "$.k", "bigint").as("k"))
        .groupBy("event_type", "tag")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("uid")).as("n_users"))
        .orderBy("event_type", "tag")
    },

    // ---- as-of join: for each purchase, the latest view by the same user
    // at-or-before it (the point-in-time feature-backfill primitive; see
    // operators.AsOfJoin for the single-shuffle union-trick plan). All
    // comparisons in integer microseconds; views pre-aggregated to one row
    // per (user, ts) so tie resolution is identical on both sides. Oracle
    // uses DuckDB's native ASOF LEFT JOIN ----
    Q(
      "q_asof_join",
      s"""$asOfInputsCte
        |SELECT p.user_id, p.event_id AS purchase_id, v.view_id,
        |  p.pts - v.vts AS gap_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.pts >= v.vts
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    ) { (s, d) =>
      purchaseAsOfView(Tables.events(s, d), "backward", None, col("ts_us") - col("v.ts"))
    },

    // ---- FORWARD as-of join: each purchase gets the EARLIEST view at or
    // after it ("what did they look at next") — the reversed-scan form of
    // the same union + window kernel, no DuckDB native support so the
    // oracle is the explicit rank-1-candidate formulation ----
    Q(
      "q_asof_join_forward",
      s"""$asOfInputsCte,
        |j AS (SELECT p.user_id, p.event_id, v.view_id, v.vts,
        |        ROW_NUMBER() OVER (PARTITION BY p.user_id, p.event_id
        |          ORDER BY v.vts) AS rn
        |      FROM p JOIN v ON v.user_id = p.user_id AND v.vts >= p.pts)
        |SELECT p.user_id, p.event_id AS purchase_id, j.view_id,
        |  j.vts - p.pts AS gap_us
        |FROM p LEFT JOIN j ON j.user_id = p.user_id
        |  AND j.event_id = p.event_id AND j.rn = 1
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    ) { (s, d) =>
      purchaseAsOfView(Tables.events(s, d), "forward", None, col("v.ts") - col("ts_us"))
    },

    // ---- NEAREST as-of join with a 6-hour tolerance: each purchase gets
    // the closest view either side, equidistant ties to the earlier view
    // (merge_asof's rule), matches beyond the tolerance null out. Oracle
    // ranks the in-tolerance candidates by (|gap|, backward-first) ----
    Q(
      "q_asof_join_nearest",
      s"""$asOfInputsCte,
        |j AS (SELECT p.user_id, p.event_id, v.view_id, v.vts,
        |        ROW_NUMBER() OVER (PARTITION BY p.user_id, p.event_id
        |          ORDER BY abs(v.vts - p.pts),
        |            CASE WHEN v.vts <= p.pts THEN 0 ELSE 1 END) AS rn
        |      FROM p JOIN v ON v.user_id = p.user_id
        |        AND abs(v.vts - p.pts) <= 21600000000)
        |SELECT p.user_id, p.event_id AS purchase_id, j.view_id,
        |  j.vts - p.pts AS gap_us
        |FROM p LEFT JOIN j ON j.user_id = p.user_id
        |  AND j.event_id = p.event_id AND j.rn = 1
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    ) { (s, d) =>
      purchaseAsOfView(Tables.events(s, d), "nearest", Some(lit(21600000000L)),
        col("v.ts") - col("ts_us"))
    },

    // ---- value-distribution stats per event type ----
    Q(
      "q_event_stats",
      """SELECT event_type,
        |  MIN(value) AS min_v, MAX(value) AS max_v,
        |  CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_v,
        |  CAST(SUM(CAST(ROUND((value)*1000000.0, 0) AS BIGINT)) AS DOUBLE)/1000000.0/COUNT(*) AS avg_v,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          min("value").as("min_v"), max("value").as("max_v"),
          Det.dsum(col("value")).as("sum_v"),
          Det.davg(col("value")).as("avg_v"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },

    // ---- funnel conversion: first view → first qualifying click within
    // 24 h → first qualifying purchase within 24 h of that click, per user.
    // Each stage is one key-partitioned join + MIN aggregate on user_id
    // (linear, no windows over the full table); the per-stage outputs are
    // 1-row aggregates combined by UNION (no scalar cross joins). Gaps
    // are BIGINT micros so the stage sums are order-independent ----
    Q(
      "events_funnel",
      """WITH v AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS vts
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS cts, MIN(v.vts) AS vts
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.vts
        |    AND epoch_us(e.ts) <= v.vts + 86400000000
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS pts, MIN(c.cts) AS cts
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.cts
        |    AND epoch_us(e.ts) <= c.cts + 86400000000
        |  GROUP BY e.user_id)
        |SELECT stage, n_users, sum_gap_us FROM (
        |  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(0 AS BIGINT) AS sum_gap_us FROM v
        |  UNION ALL
        |  SELECT '2_click', CAST(COUNT(*) AS BIGINT),
        |         CAST(COALESCE(SUM(cts - vts), 0) AS BIGINT) FROM c
        |  UNION ALL
        |  SELECT '3_purchase', CAST(COUNT(*) AS BIGINT),
        |         CAST(COALESCE(SUM(pts - cts), 0) AS BIGINT) FROM p)
        |ORDER BY stage""".stripMargin,
    ) { (s, d) =>
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val twoH = 86400000000L
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("vts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts_us") > col("vts") && col("ts_us") <= col("vts") + twoH)
        .groupBy("user_id").agg(min("ts_us").as("cts"), min("vts").as("vts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts_us") > col("cts") && col("ts_us") <= col("cts") + twoH)
        .groupBy("user_id").agg(min("ts_us").as("pts"), min("cts").as("cts"))
      v.agg(count(lit(1)).as("n_users"), lit(0L).as("sum_gap_us"))
        .select(lit("1_view").as("stage"), col("n_users"), col("sum_gap_us"))
        .unionAll(c
          .agg(count(lit(1)).as("n_users"),
            coalesce(sum(col("cts") - col("vts")), lit(0L)).as("sum_gap_us"))
          .select(lit("2_click").as("stage"), col("n_users"), col("sum_gap_us")))
        .unionAll(p
          .agg(count(lit(1)).as("n_users"),
            coalesce(sum(col("pts") - col("cts")), lit(0L)).as("sum_gap_us"))
          .select(lit("3_purchase").as("stage"), col("n_users"), col("sum_gap_us")))
        .orderBy("stage")
    },

    // ---- exponentially decayed activity score: per user, over the (ts,
    // id)-ordered event sequence, Σ_{k=0..15} v[i−k] // 2^k — a
    // recency-halved rolling sum on the integer-micros lattice. The
    // bounded 16-lag frame makes the recursion a FIXED expression (no
    // running state), one window sort per user partition, and integer
    // division term-by-term keeps both engines bit-identical ----
    Q(
      "events_decayed_sum",
      "WITH v AS (\n" +
        "  SELECT user_id, event_id,\n" +
        "    CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_mic,\n" +
        "    epoch_us(ts) AS ts_us\n" +
        "  FROM events WHERE user_id < 40)\n" +
        "SELECT user_id, event_id,\n" +
        (0 until 16).map { k =>
          s"  COALESCE(LAG(v_mic, $k) OVER (PARTITION BY user_id " +
            s"ORDER BY ts_us, event_id), 0) // ${1L << k}"
        }.mkString("", " +\n", " AS decayed_mic\n") +
        "FROM v ORDER BY user_id, event_id",
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val lags = (0 until 16).map(k =>
        coalesce(lag(col("v_mic"), k).over(w), lit(0L)).as(s"l$k"))
      Tables.events(s, d)
        .filter(col("user_id") < 40)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 1000000.0 + 0.5).cast("long").as("v_mic"),
          expr("ts_ns div 1000").as("ts_us"))
        .select(Seq(col("user_id"), col("event_id")) ++ lags: _*)
        .withColumn("decayed_mic",
          expr((0 until 16).map(k => s"(l$k DIV ${1L << k})").mkString(" + ")))
        .select("user_id", "event_id", "decayed_mic")
        .orderBy("user_id", "event_id")
    },

    // ---- cohort retention matrix: users grouped by first-activity day,
    // counted on each later activity day. (user, day) is pre-distinct'd
    // so the matrix cell is a plain COUNT (no COUNT DISTINCT shuffle);
    // cohort assignment is one groupBy(user) MIN + a key-partitioned join
    // back — two linear shuffles on high-cardinality keys, and the
    // day-level matrix output is bounded by span², independent of row
    // count. Retention ratio in integer ppm (BIGINT division) so the
    // compare is exact ----
    Q(
      "events_retention_cohort",
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id),
        |m AS (SELECT f.cohort_day,
        |        CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
        |        CAST(COUNT(*) AS BIGINT) AS n_active
        |      FROM a JOIN f ON f.user_id = a.user_id GROUP BY 1, 2),
        |s AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |      FROM f GROUP BY 1)
        |SELECT CAST(m.cohort_day AS TIMESTAMP) AS cohort_day, m.day_offset,
        |  m.n_active, s.cohort_size,
        |  (m.n_active * 1000000) // s.cohort_size AS retention_ppm
        |FROM m JOIN s ON s.cohort_day = m.cohort_day
        |ORDER BY cohort_day, day_offset""".stripMargin,
    ) { (s, d) =>
      val a = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val f = a.groupBy("user_id").agg(min("day").as("cohort_day"))
      val m = a.join(f, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = f.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
      m.join(sizes, "cohort_day")
        .select(col("cohort_day").cast("timestamp_ntz").as("cohort_day"),
          col("day_offset"), col("n_active"), col("cohort_size"),
          expr("(n_active * 1000000) div cohort_size").as("retention_ppm"))
        .orderBy("cohort_day", "day_offset")
    },

    // ---- last-touch attribution: each purchase credits the user's most
    // recent click within a 3-day lookback, else 'organic'. ONE linear
    // window pass (last ignoreNulls over the per-user event sequence)
    // instead of the purchases×clicks range join — the formulation that
    // survives 100 TB: no pair table, the shuffle is the user_id
    // partition it would need anyway, and ties resolve on the same
    // (ts_us, event_id) total order in both engines. Channel = campaign
    // bucket from the click's JSON props ----
    Q(
      "events_attribution",
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS rev_mic,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |lc AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
        |      OVER w AS cts,
        |    LAST_VALUE(CASE WHEN event_type = 'click'
        |        THEN 'ch' || CAST(k % 10 AS VARCHAR) END IGNORE NULLS)
        |      OVER w AS cch
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CASE WHEN cts IS NOT NULL AND cts >= ts_us - 259200000000
        |         THEN cch ELSE 'organic' END AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(rev_mic) AS BIGINT) AS revenue_mic
        |FROM lc WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    ) { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"),
          floor(col("value") * 1000000.0 + 0.5).cast("long").as("rev_mic"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val clickTs = when(col("event_type") === "click", col("ts_us"))
      val clickCh = when(col("event_type") === "click",
        concat(lit("ch"), (col("k") % 10).cast("string")))
      ev
        .withColumn("cts", last(clickTs, ignoreNulls = true).over(w))
        .withColumn("cch", last(clickCh, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("cts").isNotNull && col("cts") >= col("ts_us") - 259200000000L,
            col("cch")).otherwise(lit("organic")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"), sum("rev_mic").as("revenue_mic"))
        .orderBy("channel")
    },

    // ---- robust outlier detection: per-group lower-median + MAD (median
    // absolute deviation) on the integer-micros lattice, flagging values
    // beyond 3×MAD — the data-cleaning gate that survives heavy-tailed
    // value distributions where mean/stddev break. Medians are DISCRETE
    // order statistics (rn = (n+1) DIV 2 in a (v, id) total order), so
    // both engines pick the identical element — no interpolation, no
    // double arithmetic. Exact medians need one per-group sort each; at
    // 100 TB the approx_percentile sketch path (q_percentile_approx)
    // replaces them, same trade as q_percentile ----
    Q(
      "q_mad_outliers",
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_mic
        |  FROM events),
        |med AS (
        |  SELECT event_type, v_mic AS med_micros FROM (
        |    SELECT event_type, v_mic,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY v_mic, event_id) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS n
        |    FROM v) WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT v.event_type, v.event_id, m.med_micros,
        |         ABS(v.v_mic - m.med_micros) AS d_mic
        |  FROM v JOIN med m ON m.event_type = v.event_type),
        |mad AS (
        |  SELECT event_type, d_mic AS mad_micros FROM (
        |    SELECT event_type, d_mic,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY d_mic, event_id) AS rn,
        |      COUNT(*) OVER (PARTITION BY event_type) AS n
        |    FROM dev) WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(d.med_micros) AS med_micros,
        |  MIN(ma.mad_micros) AS mad_micros,
        |  CAST(SUM(CASE WHEN d.d_mic > 3 * ma.mad_micros
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad ma ON ma.event_type = d.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    ) { (s, d) =>
      val v = Tables.events(s, d).select(
        col("event_type"), col("event_id"),
        floor(col("value") * 1000000.0 + 0.5).cast("long").as("v_mic"))
      val wAll = Window.partitionBy("event_type")
      val med = v
        .withColumn("rn",
          row_number().over(wAll.orderBy("v_mic", "event_id")))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("event_type"), col("v_mic").as("med_micros"))
      val dev = v.join(med, "event_type")
        .select(col("event_type"), col("event_id"), col("med_micros"),
          abs(col("v_mic") - col("med_micros")).as("d_mic"))
      val mad = dev
        .withColumn("rn",
          row_number().over(wAll.orderBy("d_mic", "event_id")))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("event_type"), col("d_mic").as("mad_micros"))
      dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          min(col("med_micros")).as("med_micros"),
          min(col("mad_micros")).as("mad_micros"),
          sum(when(col("d_mic") > lit(3L) * col("mad_micros"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    },

    // ---- per-group top-k WITHOUT a window sort: a size-k partial
    // aggregate (functions.TopKAggregator) keeps ≤ k rows per group per
    // map task, so the shuffle carries k·groups·partitions tuples instead
    // of the whole table. The oracle states the SEMANTICS via the naive
    // ROW_NUMBER window — the plans differ (that is the point), the
    // results must not. EventsSpec asserts the plan has no Window node ----
    Q(
      "q_group_topk",
      """SELECT event_type, rank, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id DESC) AS BIGINT) AS rank
        |  FROM events)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    ) { (s, d) =>
      val topk = udaf(new graft.functions.TopKAggregator(5))
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(topk(col("value"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(
          col("event_type"),
          (col("pos") + 1L).cast("long").as("rank"),
          col("t._2").as("event_id"),
          col("t._1").as("value"))
        .orderBy("event_type", "rank")
    },

    // ---- GLOBAL running sum as a distributed two-phase prefix scan.
    // A single empty-partition window (`SUM() OVER (ORDER BY …)`) drags
    // the whole table through ONE task — the classic scale killer. The
    // scalable decomposition: (1) within-bucket running sums, bucketed
    // by a DETERMINISTIC time grain (hour) so no range-sampling is
    // involved; (2) per-bucket totals, cumulated over the tiny
    // (one-row-per-hour) totals table; (3) offsets broadcast-joined
    // back. Exact because prefix sums are associative over contiguous
    // ordered buckets; deterministic because sums run on the integer
    // micros lattice. At 100 TB the per-hour partitions are still
    // bounded (hour grain ↔ data rate), and the offsets table stays
    // hours-sized — the recursion trivially nests (day→hour) if not.
    // The oracle states the SEMANTICS via the naive global window; the
    // plans differ (that is the point), the results must not.
    // EventsSpec asserts the plan has no empty-partition window over
    // the event table itself ----
    Q(
      "q_global_running_sum",
      """WITH r AS (
        |  SELECT user_id, event_id,
        |    SUM(CAST(ROUND(value*1000000.0, 0) AS BIGINT)) OVER (
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
        |  FROM events)
        |SELECT event_id, CAST(rm AS DOUBLE)/1000000.0 AS running_value
        |FROM r WHERE user_id < 20 ORDER BY event_id""".stripMargin,
    ) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * lit(1000000.0)).cast("long").as("m"),
          date_trunc("hour", col("ts")).as("b"))
      BoundedWindows.runningSum(ev, Seq(), "b", Seq(col("ts"), col("event_id")), "m", "rm")
        .filter(col("user_id") < 20)
        .select(col("event_id"),
          (col("rm").cast("double") / lit(1000000.0)).as("running_value"))
        .orderBy("event_id")
    },

    // ---- max concurrency via sweep line, same two-phase scan per
    // event_type: each event opens a half-open [ts, ts+30 min) interval;
    // +1/−1 deltas, running-summed in (t, delta, event_id) order (closes
    // sort before opens at a shared instant, so touching intervals never
    // overlap). A plain per-type window is skewed at scale — event_type
    // is low-cardinality — so the running sum is decomposed over
    // (event_type, hour) buckets exactly like q_global_running_sum; the
    // offsets table is types×hours-sized. Peak time = earliest instant
    // attaining the max (two-step agg + tiny broadcast join back) ----
    Q(
      "events_max_concurrency",
      """WITH deltas AS (
        |  SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL 30 MINUTE, -1, event_id FROM events),
        |conc AS (
        |  SELECT event_type, t,
        |    SUM(delta) OVER (PARTITION BY event_type
        |      ORDER BY t, delta, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM deltas),
        |m AS (SELECT event_type, CAST(MAX(c) AS BIGINT) AS max_concurrency
        |      FROM conc GROUP BY event_type)
        |SELECT m.event_type, m.max_concurrency, MIN(conc.t) AS peak_time
        |FROM conc JOIN m ON conc.event_type = m.event_type
        |  AND conc.c = m.max_concurrency
        |GROUP BY m.event_type, m.max_concurrency
        |ORDER BY m.event_type""".stripMargin,
    ) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"))
      val deltas = ev
        .select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"),
          col("event_id"))
        .unionAll(ev.select(col("event_type"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
          lit(-1L).as("delta"), col("event_id")))
        .withColumn("b", date_trunc("hour", col("t")))
      val conc = BoundedWindows.runningSum(deltas, Seq("event_type"), "b",
        Seq(col("t"), col("delta"), col("event_id")), "delta", "c")
        .select(col("event_type"), col("t"), col("c"))
      val maxes = conc.groupBy("event_type")
        .agg(max(col("c")).as("max_concurrency"))
      conc.join(broadcast(maxes), Seq("event_type"))
        .filter(col("c") === col("max_concurrency"))
        .groupBy("event_type", "max_concurrency")
        .agg(min(col("t")).as("peak_time"))
        .orderBy("event_type")
    },

    // ---- OHLC downsampling: per (event_type, hour) open/high/low/close
    // value bars — ONE partial-aggregable groupBy; open/close picked by
    // min/max over (ts, event_id, v) structs (event_id unique → total
    // order; value never drives the comparison). Values on the integer
    // micros lattice so the bar is hash-exact cross-engine ----
    Q(
      "events_ohlc_bars",
      """WITH e AS (
        |  SELECT event_type, DATE_TRUNC('hour', ts) AS hour_start, ts, event_id,
        |    CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_mic
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
        |      ORDER BY ts, event_id) AS rna,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
        |      ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM e)
        |SELECT event_type, hour_start,
        |  MAX(CASE WHEN rna = 1 THEN v_mic END) AS open_mic,
        |  MAX(v_mic) AS high_mic, MIN(v_mic) AS low_mic,
        |  MAX(CASE WHEN rnd = 1 THEN v_mic END) AS close_mic,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v_mic) AS BIGINT) AS vol_mic
        |FROM r GROUP BY event_type, hour_start
        |ORDER BY event_type, hour_start""".stripMargin,
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("v_mic"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .groupBy("event_type", "hour_start")
        .agg(
          min(struct(col("ts"), col("event_id"), col("v_mic")))
            .getField("v_mic").as("open_mic"),
          max(col("v_mic")).as("high_mic"),
          min(col("v_mic")).as("low_mic"),
          max(struct(col("ts"), col("event_id"), col("v_mic")))
            .getField("v_mic").as("close_mic"),
          count(lit(1)).as("n"),
          sum(col("v_mic")).as("vol_mic"))
        .orderBy("event_type", "hour_start")
    },

    // ---- clickstream path analysis: entry path = first 3 event types of
    // each 30-min-gap session, counted across sessions, top 20. The
    // per-session collect is session-bounded; the path groupBy runs over
    // one row per session; output is bounded by the type-alphabet ----
    Q(
      "events_top_paths",
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN epoch_us(ts) -
        |        LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked),
        |paths AS (
        |  SELECT user_id, session_id,
        |    array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 3), '>') AS path
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    ) { (s, d) =>
      withGapSessions(Tables.events(s, d))
        .groupBy("user_id", "session_id")
        .agg(array_join(
          transform(
            slice(array_sort(collect_list(
              struct(col("ts"), col("event_id"), col("event_type")))), 1, 3),
            _.getField("event_type")),
          ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },

    // ---- first-order Markov transition matrix over per-user event
    // sequences: P(next type | current type) in integer micros — the
    // behavioral fingerprint behind events_top_paths' path mining (paths
    // enumerate, this summarizes). One lag window per user (key-
    // partitioned, linear) + a type²-sized aggregate; the pair counts
    // feed both the totals and the rescore through ONE runtime exchange
    // (AQE ReusedExchange, verified) ----
    Q(
      "events_markov_transitions",
      """WITH seq AS (SELECT user_id, event_type AS cur,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pairs AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS t FROM pairs GROUP BY 1)
        |SELECT p.cur, p.nxt, p.n,
        |  CAST(FLOOR(p.n * 1000000.0 / t.t + 0.5) AS BIGINT) AS p_micros
        |FROM pairs p JOIN tot t ON t.cur = p.cur
        |ORDER BY p.cur, p.nxt""".stripMargin,
    ) { (s, d) =>
      val seq = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("cur"),
          lead(col("event_type"), 1).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
            .as("nxt"))
      val pairs = seq.filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("cur").agg(sum(col("n")).as("t"))
      pairs.join(tot, "cur")
        .select(col("cur"), col("nxt"), col("n"),
          floor(col("n") * 1000000.0 / col("t") + 0.5).cast("long").as("p_micros"))
        .orderBy("cur", "nxt")
    },

    // ---- SEASONAL baseline profile: per (event_type, hour-of-day), the
    // mean hourly count across the span's days plus how many individual
    // day-hours broke the 2-sigma band — the diurnal-profile complement
    // of the trailing-window gate below (that one asks "is this hour
    // unusual vs the last 24 observed", this one "vs the same hour on
    // other days"). Same cleared-of-division z² algebra: with S=Σc, Q=Σc²
    // over the n day-hours sharing the slot, (c·n−S)² > 4·(Q·n−S²) —
    // pure BIGINT, hash-exact cross-engine; the published mean is integer
    // micros. Aggregate-first: day-hour counts bound rows by time span;
    // the profile side and the join's detail side canonicalize to the
    // same subtree, so AQE reuses ONE exchange at runtime (executed-plan
    // ReusedExchange verified — the pagerank discipline, faster than an
    // eager checkpoint) ----
    Q(
      "events_seasonal_profile",
      """WITH hc AS (
        |  SELECT event_type, DATE_TRUNC('day', ts) AS d,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |prof AS (
        |  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c*c) AS BIGINT) AS q
        |  FROM hc GROUP BY 1, 2)
        |SELECT p.event_type, p.hod, p.n AS n_obs,
        |  CAST(FLOOR(p.s * 1000000.0 / p.n + 0.5) AS BIGINT) AS mean_micros,
        |  CAST(SUM(CASE WHEN (h.c*p.n - p.s)*(h.c*p.n - p.s)
        |    > 4*(p.q*p.n - p.s*p.s) THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM prof p JOIN hc h ON h.event_type = p.event_type AND h.hod = p.hod
        |GROUP BY 1, 2, 3, 4 ORDER BY p.event_type, p.hod""".stripMargin,
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"),
          hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("c"))
      val prof = hc.groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("q"))
      prof.join(hc, Seq("event_type", "hod"))
        .groupBy(col("event_type"), col("hod"), col("n").as("n_obs"),
          floor(col("s") * 1000000.0 / col("n") + 0.5).cast("long")
            .as("mean_micros"))
        .agg(sum(when(
          (col("c") * col("n") - col("s")) * (col("c") * col("n") - col("s"))
            > lit(4) * (col("q") * col("n") - col("s") * col("s")),
          lit(1L)).otherwise(lit(0L))).as("n_anomalies"))
        .orderBy("event_type", "hod")
    },

    // ---- trailing-window anomaly gate on the hourly series: flag hours
    // whose count deviates from the trailing-24-observation mean by more
    // than 2 sigma. Aggregate FIRST (hourly counts per type — rows bound
    // by time span, not event volume), window over the tiny series
    // second. The z² test is cleared of divisions/sqrt: with S=Σc, Q=Σc²
    // over n trailing rows, (c−S/n)² > 4·(Q/n−S²/n²) ⟺
    // (c·n−S)² > 4·(Q·n−S²) — pure BIGINT, hash-exact cross-engine ----
    Q(
      "events_hourly_anomaly",
      """WITH hc AS (
        |  SELECT event_type, DATE_TRUNC('hour', ts) AS hour_start,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, hour_start, c,
        |    SUM(c) OVER tw AS s, COUNT(c) OVER tw AS n, SUM(c*c) OVER tw AS q
        |  FROM hc
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour_start
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_start, c, CAST(n AS BIGINT) AS trailing_n
        |FROM w
        |WHERE n >= 12 AND (c*n - s)*(c*n - s) > 4*(q*n - s*s)
        |ORDER BY event_type, hour_start""".stripMargin,
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("c"))
      val tw = Window.partitionBy("event_type").orderBy("hour_start")
        .rowsBetween(-24, -1)
      hc.select(col("event_type"), col("hour_start"), col("c"),
          sum(col("c")).over(tw).as("s"),
          count(col("c")).over(tw).as("n"),
          sum(col("c") * col("c")).over(tw).as("q"))
        .filter(col("n") >= 12 &&
          (col("c") * col("n") - col("s")) * (col("c") * col("n") - col("s")) >
            lit(4) * (col("q") * col("n") - col("s") * col("s")))
        .select(col("event_type"), col("hour_start"), col("c"),
          col("n").as("trailing_n"))
        .orderBy("event_type", "hour_start")
    },

    // ---- CUSUM mean-shift changepoint over the per-type DAILY count
    // series: the classic offline change detector (peak of the cumulative
    // deviation from the series mean marks where the level shifts).
    // CLEARED OF DIVISION: against mean T/n the running sum of
    // (c_d − T/n) scaled by n is S_k = Σ(c_d·n − T) — pure BIGINT,
    // hash-exact; the reported peak day is the EARLIEST day attaining
    // max |S_k| (row_number tie-break). Aggregate-first discipline:
    // daily counts bound rows by the time span × type alphabet, the
    // window runs over that tiny series, never over raw events ----
    Q(
      "events_cusum_changepoint",
      CusumOracle,
    ) { (s, d) =>
      cusumChangepoint(Tables.events(s, d))
    },

    // ---- A/B experiment readout: users hash-split into two arms, arm
    // conversion = users with ≥1 purchase / arm users, and the two-
    // proportion z² statistic — the launch-gate analysis every event
    // pipeline ships. All counts exact BIGINT; conversion and z² are
    // FIXED-SHAPE double expressions over them (micros-quantized), so
    // the readout is engine-identical. One scan → per-user flags →
    // 2-row arm aggregate; z² > 3.84 ⇔ p < .05 (1 dof) ----
    Q(
      "events_ab_test",
      """WITH u AS (SELECT user_id,
        |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(conv) AS BIGINT) AS c FROM u GROUP BY arm),
        |w AS (SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        |    MAX(CASE WHEN arm = 0 THEN c END) AS c0,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        |    MAX(CASE WHEN arm = 1 THEN c END) AS c1
        |  FROM a)
        |SELECT n0, c0, n1, c1,
        |  CAST(FLOOR(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS conv0_mic,
        |  CAST(FLOOR(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS conv1_mic,
        |  CAST(FLOOR(
        |    (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    * (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    / (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
        |       * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |       * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS z2_mic
        |FROM w""".stripMargin,
    ) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") >= 150,
          1L).otherwise(0L)).as("conv"))
        .select(
          pmod(graft.functions.TextFunctions.tokenHash60(
            concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)).as("arm"),
          col("conv"))
      val a = u.groupBy("arm").agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val w = a.agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 0, col("c"))).as("c0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 1, col("c"))).as("c1"))
      def D(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        c.cast("double")
      val p0 = D(col("c0")) / D(col("n0"))
      val p1 = D(col("c1")) / D(col("n1"))
      val pp = D(col("c0") + col("c1")) / D(col("n0") + col("n1"))
      w.select(col("n0"), col("c0"), col("n1"), col("c1"),
        floor(p0 * 1000000.0 + 0.5).cast("long").as("conv0_mic"),
        floor(p1 * 1000000.0 + 0.5).cast("long").as("conv1_mic"),
        floor((p0 - p1) * (p0 - p1)
          / (pp * (lit(1.0) - pp)
            * (lit(1.0) / D(col("n0")) + lit(1.0) / D(col("n1"))))
          * 1000000.0 + 0.5).cast("long").as("z2_mic"))
    },

    // ---- running DISTINCT count over a window (feature-discovery curve:
    // how many distinct event types has each user touched so far, at
    // every event). Windows can't do COUNT(DISTINCT) directly — the
    // standard decomposition is a FIRST-OCCURRENCE flag (row_number over
    // (user, type) = 1) followed by a running sum, two key-partitioned
    // linear windows on the same (user → user,type) exchange family ----
    Q(
      "events_cum_distinct_types",
      """WITH f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events)
        |SELECT user_id, ts, event_id,
        |  CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_types_seen
        |FROM f ORDER BY user_id, ts, event_id""".stripMargin,
    ) { (s, d) =>
      val firstSeen = when(row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id")))
        === 1, 1L).otherwise(0L)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          firstSeen.as("first_seen"))
        .select(col("user_id"), col("ts"), col("event_id"),
          sum(col("first_seen")).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("n_types_seen"))
        .orderBy("user_id", "ts", "event_id")
    },
  )

  /** CUSUM mean-shift changepoint over each type's DAILY count series
    * (see the `events_cusum_changepoint` registration for the full
    * contract): one row per event_type with the earliest day attaining
    * the peak |cumulative deviation| from the series mean, on the
    * division-cleared BIGINT lattice (S_k = Σ(c_d·n − T), exact). Input
    * needs `event_type` and `ts` columns. Cost: one event-level
    * aggregate, then windows over the day×type-bounded series only.
    */
  def cusumChangepoint(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cusumPeaks(events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c")))

  /** [[cusumChangepoint]]'s scan over a daily count series `dc`
    * (`event_type`, `day`, `c`), however it was counted — the streaming
    * monitor counts it from a stream.
    */
  private[graft] def cusumPeaks(
      dc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = dc.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("t"))
    val cum = dc.join(tot, "event_type")
      .select(col("event_type"), col("day"), col("n"),
        sum(col("c") * col("n") - col("t"))
          .over(Window.partitionBy("event_type").orderBy("day"))
          .as("s_k"))
    cum
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("s_k")).desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("day").as("cp_day"), abs(col("s_k")).as("cusum_peak"))
      .orderBy("event_type")
  }
}
