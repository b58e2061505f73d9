package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality primitives: column profiling (ANALYZE-style statistics)
  * and declarative constraint auditing — the validation layer a training
  * pipeline runs before and after every ingest.
  *
  * Scale shape: all ROW-LEVEL checks against one table compose into a
  * SINGLE scan + aggregate pass (one `sum(when(violated,1))` per check —
  * adding a check adds a column, not a job); only set-level checks pay
  * their own shuffle (uniqueness = one groupBy on the key; foreign keys =
  * one anti join, which AQE broadcasts when the parent is dim-sized and
  * which a bloom pre-filter cuts further at fact-fact scale — see
  * [[BloomJoin]]). Profiling defaults to `approx_count_distinct` (HLL++,
  * one pass, no Expand multiplier — the 100 TB default); exact
  * multi-column `COUNT(DISTINCT)` is the `exact = true` opt-in for
  * fixture-scale oracle audits.
  */
object DataQuality {

  /** One declarative row-level constraint: `violated` flags a BAD row. */
  final case class RowCheck(name: String, violated: Column)

  /** ANALYZE-style profile of `cols`: one row per column with
    * `(col_name, n_rows, n_null, n_distinct, min_s, max_s)` — computed in
    * ONE aggregate pass. The DEFAULT distinct counter is
    * `approx_count_distinct` (HLL++, 2% rsd): constant state per column,
    * no Expand multiplier — the only sane default at 100 TB, where the
    * exact multi-distinct Expand plan multiplies the scanned rows by the
    * column count. `exact = true` opts into exact `COUNT(DISTINCT)` for
    * oracle-grade audits at fixture scale (the registered `profile_table`
    * row; `profile_table_approx` pins the estimate within rsd bounds of
    * exact). Floating columns are profiled on the integer-micros lattice
    * so min/max/distinct are engine-portable; everything else renders via
    * string cast. Backs the REPL's `\profile <table>` (approx default).
    */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    require(cols.nonEmpty, "profile needs at least one column")
    val keyed = cols.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType =>
          floor(col(c) * lit(1000000.0) + lit(0.5)).cast("bigint")
        case _ => col(c)
      }
    }
    if (exact) {
      // one PER-COLUMN two-phase distinct aggregate, unioned: n exact
      // distincts in one multi-distinct aggregate would plan the Expand
      // operator, which multiplies every scanned row n_cols-fold before
      // the shuffle — the wrong shape at any scale. Per-column plans each
      // shuffle only their own column's values (partial-agg'd), all
      // branches run in the same job, and the scan re-reads are
      // column-pruned parquet. Measured 2.6 s → 0.6 s on the 5-column
      // orders profile at sf0.1.
      //
      // The fan-out re-executes df's lineage once per column, so the
      // branches only agree row-for-row when that lineage is
      // deterministic (a table scan, the ANALYZE use case). Anything
      // else — rand()/UUID columns, a non-idempotent source — is pinned
      // first so every branch profiles the SAME materialized rows, the
      // consistency the old single-pass multi-distinct gave. Plain
      // scan/project/filter lineage skips the pin (no reason to spill a
      // 100 TB table to profile it).
      val deterministic = {
        val lp = df.queryExecution.logical
        // expressions are checked on EVERY node, not just the root: a
        // rand() buried in a Filter below a clean Project would otherwise
        // pass the gate and each branch would profile different rows
        lp.collect { case n => n }.forall { n =>
          (n.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode] ||
            n.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project] ||
            n.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter] ||
            n.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias]) &&
          n.expressions.forall(_.deterministic)
        }
      }
      val src = if (deterministic) df else graft.Tables.pin(df)
      val branches = cols.zip(keyed).map { case (c, key) =>
        src.agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          countDistinct(key).as("n_distinct"),
          min(key).cast("string").as("min_s"),
          max(key).cast("string").as("max_s"))
          .select(lit(c).as("col_name"), col("n_rows"),
            (col("n_rows") - col("n_nonnull")).as("n_null"),
            col("n_distinct"), col("min_s"), col("max_s"))
      }
      branches.reduce(_.unionByName(_)).orderBy("col_name")
    } else {
      val aggs = count(lit(1)).as("n_rows") +:
        cols.zip(keyed).zipWithIndex.flatMap { case ((c, key), i) =>
          Seq(
            count(col(c)).as(s"nn$i"),
            approx_count_distinct(key, 0.02).as(s"nd$i"),
            min(key).cast("string").as(s"mn$i"),
            max(key).cast("string").as(s"mx$i"))
        }
      val stackArgs = cols.indices
        .map(i => s"'${cols(i)}', nn$i, nd$i, mn$i, mx$i")
        .mkString(", ")
      df.agg(aggs.head, aggs.tail: _*)
        .selectExpr(
          s"stack(${cols.size}, $stackArgs) AS (col_name, n_nonnull, n_distinct, min_s, max_s)",
          "n_rows")
        .select(
          col("col_name"), col("n_rows"),
          (col("n_rows") - col("n_nonnull")).as("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
        .orderBy("col_name")
    }
  }

  /** All row-level checks in ONE aggregate pass over `df`:
    * `(check_name, violations)`, one row per check.
    */
  def rowCheckReport(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    val aggs = checks.zipWithIndex.map { case (c, i) =>
      sum(when(c.violated, 1L).otherwise(0L)).as(s"v$i")
    }
    val stackArgs = checks.zipWithIndex
      .map { case (c, i) => s"'${c.name}', v$i" }
      .mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${checks.size}, $stackArgs) AS (check_name, violations)")
  }

  /** Key-uniqueness audit: violations = number of DISTINCT keys that
    * appear more than once (one groupBy shuffle on the key).
    */
  def uniqueReport(df: DataFrame, key: String, name: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check_name"), col("violations"))

  /** Referential-integrity audit: violations = child rows whose key has
    * no parent (anti join; parent side broadcast at dim scale by AQE).
    */
  def fkReport(child: DataFrame, childKey: String,
               parent: DataFrame, parentKey: String, name: String): DataFrame =
    child.join(parent, col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check_name"), col("violations"))

  val queries: Seq[Q] = Seq(
    // ---- ANALYZE-style per-column profile of orders: row count, null
    // count, exact distinct count, min/max — ONE aggregate pass (the
    // multi-distinct Expand plan). Numeric min/max are published on the
    // integer-micros lattice (rendered as strings alongside the
    // categorical min/max) so the cross-engine compare is exact;
    // timestamp columns would profile the same way via epoch micros. ----
    Q(
      "profile_table",
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
        |    COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mn2, CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
        |    COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
        |    MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
        |    COUNT(o_orderpriority) AS nn4, COUNT(DISTINCT o_orderpriority) AS nd4,
        |    MIN(o_orderpriority) AS mn4, MAX(o_orderpriority) AS mx4,
        |    COUNT(o_totalprice) AS nn5,
        |    COUNT(DISTINCT CAST(FLOOR(o_totalprice*1000000.0 + 0.5) AS BIGINT)) AS nd5,
        |    CAST(MIN(CAST(FLOOR(o_totalprice*1000000.0 + 0.5) AS BIGINT)) AS VARCHAR) AS mn5,
        |    CAST(MAX(CAST(FLOOR(o_totalprice*1000000.0 + 0.5) AS BIGINT)) AS VARCHAR) AS mx5
        |  FROM orders)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_null AS BIGINT) AS n_null,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_null,
        |         nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
        |  UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2 FROM a
        |  UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn3, nd3, mn3, mx3 FROM a
        |  UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn4, nd4, mn4, mx4 FROM a
        |  UNION ALL SELECT 'o_totalprice', n_rows, n_rows - nn5, nd5, mn5, mx5 FROM a)
        |ORDER BY col_name""".stripMargin,
    ) { (s, d) =>
      profile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"), exact = true)
    },

    // ---- the DEFAULT (approx) profile, contract-checked: exact columns
    // (n_rows/n_null/min/max) hash-match the oracle directly, and the HLL
    // estimate is pinned within 5×rsd of the exact distinct (Spark-side
    // exact replay; the oracle derives the same TRUE from its own exact
    // counts — the `never_under`-style boolean contract used by
    // distinct_approx_check). ----
    Q(
      "profile_table_approx",
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS nn1,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
        |    COUNT(o_custkey) AS nn2,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mn2, CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
        |    COUNT(o_orderpriority) AS nn4,
        |    MIN(o_orderpriority) AS mn4, MAX(o_orderpriority) AS mx4
        |  FROM orders)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_null AS BIGINT) AS n_null, min_s, max_s, TRUE AS within_rsd
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_null,
        |         mn1 AS min_s, mx1 AS max_s FROM a
        |  UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn2, mn2, mx2 FROM a
        |  UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn4, mn4, mx4 FROM a)
        |ORDER BY col_name""".stripMargin,
    ) { (s, d) =>
      val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
      val o = Tables.orders(s, d)
      val approx = profile(o, cols)
      val ex = profile(o, cols, exact = true)
        .select(col("col_name"), col("n_distinct").as("nd_exact"))
      approx.join(ex, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("min_s"), col("max_s"),
          (abs(col("n_distinct") - col("nd_exact")).cast("double") <=
            col("nd_exact") * lit(0.10)).as("within_rsd"))
        .orderBy("col_name")
    },

    // ---- declarative constraint audit: three row-level checks in one
    // orders pass + one customer pass, a key-uniqueness check, and an
    // orders→customer FK check. The acctbal check has REAL violations in
    // the fixture (negative balances), so the failure path is exercised,
    // not just the all-green path. ----
    Q(
      "dq_checks",
      """WITH rc AS (SELECT
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_pos
        |  FROM orders),
        |uq AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM
        |       (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)),
        |fk AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
        |       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |cb AS (SELECT CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        |       FROM customer)
        |SELECT * FROM (
        |  SELECT 'customer.c_acctbal.non_negative' AS check_name,
        |         v AS violations, v = 0 AS pass FROM cb
        |  UNION ALL SELECT 'orders.o_custkey.fk_customer', v, v = 0 FROM fk
        |  UNION ALL SELECT 'orders.o_orderkey.not_null', v_nn, v_nn = 0 FROM rc
        |  UNION ALL SELECT 'orders.o_orderkey.unique', v, v = 0 FROM uq
        |  UNION ALL SELECT 'orders.o_orderstatus.domain', v_dom, v_dom = 0 FROM rc
        |  UNION ALL SELECT 'orders.o_totalprice.positive', v_pos, v_pos = 0 FROM rc)
        |ORDER BY check_name""".stripMargin,
    ) { (s, d) =>
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val report = rowCheckReport(o, Seq(
        RowCheck("orders.o_orderkey.not_null", col("o_orderkey").isNull),
        RowCheck("orders.o_orderstatus.domain",
          !col("o_orderstatus").isin("O", "F", "P")),
        RowCheck("orders.o_totalprice.positive", col("o_totalprice") <= 0.0),
      ))
        .unionAll(rowCheckReport(c, Seq(
          RowCheck("customer.c_acctbal.non_negative", col("c_acctbal") < 0.0))))
        .unionAll(uniqueReport(o, "o_orderkey", "orders.o_orderkey.unique"))
        .unionAll(fkReport(o, "o_custkey", c, "c_custkey",
          "orders.o_custkey.fk_customer"))
      report
        .select(col("check_name"), col("violations"),
          (col("violations") === 0).as("pass"))
        .orderBy("check_name")
    },

    // ---- k-anonymity release gate: rows whose quasi-identifier group
    // (lang, source, length bucket) has fewer than k=5 members are
    // SUPPRESSED before release — the standard re-identification guard a
    // governed training-data export runs after PII redaction (a rare
    // combination of quasi-identifiers IS an identifier). One window pass
    // (single shuffle on the quasi key, no join); the l-diversity variant
    // additionally requires >= 2 distinct sources per released (lang,
    // bucket) slice. Oracle replays both gates relationally ----
    Q(
      "dq_k_anonymity",
      """WITH t AS (
        |  SELECT lang, source, CAST(n_chars // 500 AS BIGINT) AS len_bucket
        |  FROM documents),
        |g AS (SELECT t.*, COUNT(*) OVER (PARTITION BY lang, source, len_bucket) AS gsz
        |      FROM t),
        |kept AS (SELECT * FROM g WHERE gsz >= 5),
        |ld AS (SELECT lang, len_bucket,
        |         COUNT(DISTINCT source) AS n_sources,
        |         CAST(COUNT(*) AS BIGINT) AS n_rows
        |       FROM kept GROUP BY 1, 2)
        |SELECT lang, len_bucket, n_rows,
        |  CAST(n_sources AS BIGINT) AS n_sources,
        |  n_sources >= 2 AS diverse
        |FROM ld ORDER BY lang, len_bucket""".stripMargin,
    ) { (s, d) =>
      val quasi = Seq(col("lang"), col("source"), col("len_bucket"))
      val t = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          expr("CAST(n_chars AS BIGINT) DIV 500").as("len_bucket"))
      val kept = kAnonymize(t, quasi, k = 5)
      kept.groupBy("lang", "len_bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("source")).cast("long").as("n_sources"))
        .withColumn("diverse", col("n_sources") >= 2)
        .select("lang", "len_bucket", "n_rows", "n_sources", "diverse")
        .orderBy("lang", "len_bucket")
    },

    // ---- Benford first-digit audit: the classic fabricated-numbers
    // screen over financial amounts — observed first-significant-digit
    // shares vs Benford's log10(1 + 1/d) expectation, both in integer
    // micros. Digit extraction goes through the integer-micros
    // quantization FIRST (substr of a BIGINT's decimal rendering is
    // engine-identical; double→string is not), and the nine expected
    // constants quantize with ≥0.49-micro boundary margin, so the row is
    // hash-exact. One scan + a 9-row aggregate; only the 1-row total
    // broadcasts ----
    Q(
      "dq_benford",
      """WITH v AS (SELECT CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM v GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM d)
        |SELECT digit, n_obs,
        |  CAST(FLOOR(n_obs * 1000000.0 / n_tot + 0.5) AS BIGINT) AS obs_micros,
        |  CAST(FLOOR(log10(1 + 1.0 / digit) * 1000000.0 + 0.5) AS BIGINT)
        |    AS expected_micros,
        |  CAST(FLOOR(n_obs * 1000000.0 / n_tot + 0.5) AS BIGINT)
        |    - CAST(FLOOR(log10(1 + 1.0 / digit) * 1000000.0 + 0.5) AS BIGINT)
        |    AS dev_micros
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin,
    ) { (s, d) =>
      val v = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .select(floor(col("o_totalprice") * 1000000.0 + 0.5).cast("long").as("v"))
      val dg = v.select(substring(col("v").cast("string"), 1, 1).cast("long")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = dg.agg(sum(col("n_obs")).as("n_tot"))
      val obs = floor(col("n_obs") * 1000000.0 / col("n_tot") + 0.5).cast("long")
      val exp_ = floor(log10(lit(1) + lit(1.0) / col("digit")) * 1000000.0 + 0.5)
        .cast("long")
      dg.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"), obs.as("obs_micros"),
          exp_.as("expected_micros"), (obs - exp_).as("dev_micros"))
        .orderBy("digit")
    },

    // ---- completeness / gap report: per event_type, expected hourly
    // slots over the corpus's observed [min, max] hour span vs the hours
    // actually present — the freshness/continuity audit a feed SLA runs.
    // Expected grid = 1-row span aggregate × sequence() explode (no
    // corpus-sized shuffle); actual = one distinct aggregate ----
    Q(
      "dq_completeness",
      """WITH h AS (SELECT DISTINCT event_type, DATE_TRUNC('hour', ts) AS hr FROM events),
        |span AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM h),
        |grid AS (SELECT t.event_type, g.hr
        |  FROM (SELECT DISTINCT event_type FROM h) t
        |  CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |              FROM span) g),
        |miss AS (SELECT g.event_type, COUNT(*) AS n_missing
        |  FROM grid g LEFT JOIN h ON h.event_type = g.event_type AND h.hr = g.hr
        |  WHERE h.hr IS NULL GROUP BY 1)
        |SELECT t.event_type,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM grid g2
        |   WHERE g2.event_type = t.event_type) AS n_expected,
        |  CAST(COUNT(*) AS BIGINT) AS n_actual,
        |  CAST(COALESCE(m.n_missing, 0) AS BIGINT) AS n_missing
        |FROM h t LEFT JOIN miss m ON m.event_type = t.event_type
        |GROUP BY t.event_type, m.n_missing ORDER BY t.event_type""".stripMargin,
    ) { (s, d) =>
      val h = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .distinct()
      val span = h.agg(min("hr").as("h0"), max("hr").as("h1"))
      val grid = h.select("event_type").distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("hr"))
      val expected = grid.groupBy("event_type").agg(count(lit(1)).as("n_expected"))
      val actual = h.groupBy("event_type").agg(count(lit(1)).as("n_actual"))
      val missing = grid.join(h, Seq("event_type", "hr"), "left_anti")
        .groupBy("event_type").agg(count(lit(1)).as("n_missing"))
      expected.join(actual, "event_type")
        .join(missing, Seq("event_type"), "left")
        .select(col("event_type"), col("n_expected"), col("n_actual"),
          coalesce(col("n_missing"), lit(0L)).as("n_missing"))
        .orderBy("event_type")
    },

    // ---- PSI drift report: doc-length distribution of split A
    // (doc_id%2=0) vs split B, 10 equal-width 100-char buckets, add-1
    // smoothing; per-bucket contribution in micros ----
    Q(
      "dq_psi_drift",
      """WITH t AS (SELECT
        |    LEAST(GREATEST(CAST(n_chars // 100 AS BIGINT), 0), 9) AS bucket,
        |    doc_id % 2 = 0 AS a FROM documents),
        |c AS (SELECT bucket,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
        |    CAST(SUM(n_b) AS BIGINT) AS tb FROM c)
        |SELECT bucket, n_a, n_b,
        |  CAST(FLOOR(((n_a + 1.0) / (ta + 10) - (n_b + 1.0) / (tb + 10))
        |    * ln(((n_a + 1.0) / (ta + 10)) / ((n_b + 1.0) / (tb + 10)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS psi_micros
        |FROM c CROSS JOIN tot ORDER BY bucket""".stripMargin,
    ) { (s, d) =>
      psiDrift(
        Tables.documents(s, d),
        expr("CAST(n_chars AS BIGINT) DIV 100"),
        pmod(col("doc_id"), lit(2)) === 0, buckets = 10)
    },

    // ---- Pearson correlation matrix over the fact table's numeric
    // columns in ONE scan: every first/second moment (4 sums, 4 squares,
    // 6 cross products) is an agg state of the same pass — adding a
    // column pair adds a state, not a job. Inputs quantize to PER-COLUMN
    // integer lattices sized so every moment sum stays in BIGINT through
    // ~sf10 (price at whole units: Σx² ≤ 1.2e10·6e8 ≈ 7e18 < 2^63; ANSI
    // mode makes an overflow loud, and the fix is documented: widen the
    // moment sums to decimal via Det.dsumWide). The correlation itself is
    // IEEE double arithmetic over EXACT integer operands with a fixed
    // expression shape — int64→double is correctly rounded and both
    // engines evaluate the identical op tree, so the micros-quantized
    // result is bit-identical cross-engine ----
    Q(
      "profile_correlations",
      """WITH v AS (SELECT
        |    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x0,
        |    CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS x1,
        |    CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT) AS x2,
        |    CAST(FLOOR(l_tax * 1000000.0 + 0.5) AS BIGINT) AS x3
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x0) AS BIGINT) AS s0, CAST(SUM(x1) AS BIGINT) AS s1,
        |    CAST(SUM(x2) AS BIGINT) AS s2, CAST(SUM(x3) AS BIGINT) AS s3,
        |    CAST(SUM(x0*x0) AS BIGINT) AS p0_0, CAST(SUM(x0*x1) AS BIGINT) AS p0_1,
        |    CAST(SUM(x0*x2) AS BIGINT) AS p0_2, CAST(SUM(x0*x3) AS BIGINT) AS p0_3,
        |    CAST(SUM(x1*x1) AS BIGINT) AS p1_1, CAST(SUM(x1*x2) AS BIGINT) AS p1_2,
        |    CAST(SUM(x1*x3) AS BIGINT) AS p1_3, CAST(SUM(x2*x2) AS BIGINT) AS p2_2,
        |    CAST(SUM(x2*x3) AS BIGINT) AS p2_3, CAST(SUM(x3*x3) AS BIGINT) AS p3_3
        |  FROM v),
        |pairs AS (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
        |    CAST(n AS DOUBLE)*CAST(p0_1 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s1 AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE)*CAST(p0_0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE) AS dx,
        |    CAST(n AS DOUBLE)*CAST(p1_1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE) AS dy
        |  FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_discount', n,
        |    CAST(n AS DOUBLE)*CAST(p0_2 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s2 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p0_0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p2_2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
        |  FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_tax', n,
        |    CAST(n AS DOUBLE)*CAST(p0_3 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s3 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p0_0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p3_3 AS DOUBLE) - CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)
        |  FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
        |    CAST(n AS DOUBLE)*CAST(p1_2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s2 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p1_1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p2_2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
        |  FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
        |    CAST(n AS DOUBLE)*CAST(p1_3 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s3 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p1_1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p3_3 AS DOUBLE) - CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)
        |  FROM m
        |  UNION ALL SELECT 'l_discount', 'l_tax', n,
        |    CAST(n AS DOUBLE)*CAST(p2_3 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s3 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p2_2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE),
        |    CAST(n AS DOUBLE)*CAST(p3_3 AS DOUBLE) - CAST(s3 AS DOUBLE)*CAST(s3 AS DOUBLE)
        |  FROM m)
        |SELECT col_x, col_y, n,
        |  CASE WHEN dx > 0 AND dy > 0
        |    THEN CAST(FLOOR(num / sqrt(dx * dy) * 1000000.0 + 0.5) AS BIGINT)
        |  END AS corr_micros
        |FROM pairs ORDER BY col_x, col_y""".stripMargin,
    ) { (s, d) =>
      correlationMatrix(Tables.lineitem(s, d), Seq(
        "l_quantity" -> 1.0, "l_extendedprice" -> 1.0,
        "l_discount" -> 1000000.0, "l_tax" -> 1000000.0))
    },

    // ---- chi-squared test of independence over a categorical
    // contingency table (order priority × order status): per-cell
    // observed vs expected counts and the cell's chi² contribution in
    // integer micros. The deviation is CLEARED OF DIVISION first
    // (dev = O·N − r·c, exact BIGINT through ~sf100), then one
    // fixed-shape double expression dev²/(r·c·N) — identical op tree on
    // both engines, so micros quantization is hash-exact. Cost: ONE
    // fact-table aggregate (the cell counts); margins and the total
    // derive from the cell table (alphabet-sized), reusing its exchange ----
    Q(
      "dq_chi2_independence",
      """WITH c AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs FROM orders GROUP BY 1, 2),
        |r AS (SELECT pri, CAST(SUM(n_obs) AS BIGINT) AS r_tot FROM c GROUP BY 1),
        |cc AS (SELECT st, CAST(SUM(n_obs) AS BIGINT) AS c_tot FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM c)
        |SELECT c.pri, c.st, c.n_obs,
        |  CAST(FLOOR(CAST(r_tot * c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS expected_mic,
        |  CAST(FLOOR(
        |    CAST(c.n_obs * n_tot - r_tot * c_tot AS DOUBLE)
        |    * CAST(c.n_obs * n_tot - r_tot * c_tot AS DOUBLE)
        |    / CAST(r_tot * c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS chi2_mic
        |FROM c JOIN r ON r.pri = c.pri JOIN cc ON cc.st = c.st CROSS JOIN t
        |ORDER BY c.pri, c.st""".stripMargin,
    ) { (s, d) =>
      chi2Independence(Tables.orders(s, d),
        col("o_orderpriority"), col("o_orderstatus"))
    },
  )

  /** Chi-squared test of independence between two categorical columns
    * (see the `dq_chi2_independence` registration for the determinism
    * contract): per-cell `(pri, st, n_obs, expected_mic, chi2_mic)`. The
    * deviation O·N − r·c is exact BIGINT; the contribution divides in a
    * fixed-shape double expression, so the micros result is
    * engine-portable. One fact-table aggregate; margins derive from the
    * alphabet-sized cell table.
    */
  def chi2Independence(df: DataFrame, rowC: Column, colC: Column): DataFrame = {
    val cells = df.groupBy(rowC.as("pri"), colC.as("st"))
      .agg(count(lit(1)).as("n_obs"))
    val rTot = cells.groupBy("pri").agg(sum("n_obs").as("r_tot"))
    val cTot = cells.groupBy("st").agg(sum("n_obs").as("c_tot"))
    val tot = cells.agg(sum("n_obs").as("n_tot"))
    val dev = (col("n_obs") * col("n_tot") - col("r_tot") * col("c_tot"))
      .cast("double")
    cells.join(rTot, "pri").join(cTot, "st").crossJoin(broadcast(tot))
      .select(col("pri"), col("st"), col("n_obs"),
        floor((col("r_tot") * col("c_tot")).cast("double")
          / col("n_tot").cast("double") * 1000000.0 + 0.5)
          .cast("long").as("expected_mic"),
        floor(dev * dev
          / (col("r_tot") * col("c_tot")).cast("double")
          / col("n_tot").cast("double") * 1000000.0 + 0.5)
          .cast("long").as("chi2_mic"))
      .orderBy("pri", "st")
  }

  /** Pearson correlation matrix over `cols` (name → quantization
    * lattice), computed in ONE aggregate pass: all first moments, second
    * moments, and cross moments are agg states of a single scan, then the
    * pairwise correlations derive from the 1-row moment vector (no
    * second pass, no per-pair jobs — the textbook covariance-matrix
    * shape at 100 TB). Each input quantizes to its own integer lattice
    * (chosen so Σx² fits BIGINT at target scale); the correlation is a
    * fixed-shape IEEE double expression over the exact integer moments,
    * engine-portable bit-for-bit. Zero-variance columns yield NULL.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[(String, Double)]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val n = cols.size
    val q = cols.map { case (c, lat) =>
      floor(col(c) * lit(lat) + lit(0.5)).cast("long")
    }
    val firsts = cols.indices.map(i => sum(q(i)).as(s"s$i"))
    val seconds = for {
      i <- cols.indices; j <- i until n
    } yield sum(q(i) * q(j)).as(s"p${i}_$j")
    val one = df.agg(count(lit(1)).as("n"), (firsts ++ seconds): _*)
    def D(c: Column): Column = c.cast("double")
    val rows = for { i <- cols.indices; j <- (i + 1) until n } yield
      struct(
        lit(cols(i)._1).as("col_x"), lit(cols(j)._1).as("col_y"),
        (D(col("n")) * D(col(s"p${i}_$j")) - D(col(s"s$i")) * D(col(s"s$j")))
          .as("num"),
        (D(col("n")) * D(col(s"p${i}_$i")) - D(col(s"s$i")) * D(col(s"s$i")))
          .as("dx"),
        (D(col("n")) * D(col(s"p${j}_$j")) - D(col(s"s$j")) * D(col(s"s$j")))
          .as("dy"),
        col("n"))
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_x").as("col_x"), col("r.col_y").as("col_y"),
        col("r.n").as("n"),
        when(col("r.dx") > 0 && col("r.dy") > 0,
          floor(col("r.num") / sqrt(col("r.dx") * col("r.dy"))
            * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("corr_micros"))
      .orderBy("col_x", "col_y")
  }

  /** Suppress rows whose quasi-identifier combination appears fewer than
    * `k` times — the k-anonymity release gate. ONE window count over the
    * quasi key (single shuffle, no self-join); at 100 TB this is the same
    * cost shape as any keyed aggregation, and the suppressed tail is
    * exactly the re-identifiable one.
    */
  def kAnonymize(df: DataFrame, quasi: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(quasi: _*)
    df.withColumn("__gsz", count(lit(1)).over(w))
      .filter(col("__gsz") >= k)
      .drop("__gsz")
  }

  /** Population Stability Index drift report between two row populations
    * of the same table (old vs new snapshot, train vs serve, split A vs
    * B): per feature bucket, both counts and the bucket's add-1-smoothed
    * PSI contribution `(p_a − p_b)·ln(p_a/p_b)` in integer micros. The
    * standard drift gate (Σ contributions: < 0.1 stable, > 0.25 action)
    * over any bucketed feature.
    *
    * Scale shape: ONE scan + one ≤`buckets`-row aggregate (both
    * populations counted in the same pass via `sum(when(split))`), then
    * arithmetic on the bucket table joined with a 1-row totals broadcast —
    * cost is a single keyed aggregation regardless of table size.
    * Smoothing keeps buckets empty on one side finite (the classic PSI
    * divide-by-zero); `ln` on integer-derived ratios + micros
    * quantization keep the report engine-portable.
    */
  def psiDrift(
      df: DataFrame, bucket: Column, inA: Column,
      buckets: Int = 10): DataFrame = {
    val counts = df
      .select(least(greatest(bucket.cast("long"), lit(0L)), lit(buckets - 1L))
        .as("bucket"), inA.as("__a"))
      .groupBy("bucket")
      .agg(sum(when(col("__a"), lit(1L)).otherwise(lit(0L))).as("n_a"),
        sum(when(col("__a"), lit(0L)).otherwise(lit(1L))).as("n_b"))
    val totals = counts.agg(sum("n_a").as("__ta"), sum("n_b").as("__tb"))
    counts.crossJoin(broadcast(totals))
      .withColumn("__pa",
        (col("n_a") + 1).cast("double") / (col("__ta") + buckets))
      .withColumn("__pb",
        (col("n_b") + 1).cast("double") / (col("__tb") + buckets))
      .select(col("bucket"), col("n_a"), col("n_b"),
        floor((col("__pa") - col("__pb")) * log(col("__pa") / col("__pb"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("psi_micros"))
      .orderBy("bucket")
  }
}
