package graft.operators

import graft.{Q, Tables}
import graft.sources.Catalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance (Kimball): a dimension
  * row is never overwritten — an attribute change CLOSES the current
  * version (`to_batch` stamped, `is_current` dropped) and opens a new
  * one, so every historical join can pick the version valid at its
  * as-of batch.
  *
  * The whole apply is ONE [[Catalog.merge]] call on a surrogate key
  * `sk = key·10 + from_batch`: close-outs hit existing sks (updates),
  * new versions/entities carry fresh sks (inserts) — so SCD2 inherits
  * merge's file-granular copy-on-write (only files holding a changed
  * key's current version are rewritten) and its manifest-log atomicity.
  * Change detection is null-safe attribute comparison against the
  * current version; a batch row whose attributes are UNCHANGED is a
  * no-op (no row churn, no file rewrite — the property that keeps a
  * daily full-snapshot feed from rewriting a 100 TB dimension daily).
  *
  * Validity is tracked as integer batch numbers on the micros-free
  * lattice (an event-time variant would stamp epoch micros the same
  * way); `to_batch = 9999` marks the open version.
  */
object Scd2 {

  val OpenBatch = 9999

  /** The merge-ready delta for one SCD2 batch: close-out rows (existing
    * sk, `to_batch` = `batchNo`, `is_current` = false) plus new-version
    * rows (fresh sk, open validity). `dim` must carry `sk`, `key`,
    * `attrs`, `from_batch`, `to_batch`, `is_current`; `batch` carries
    * `key` + `attrs`, at most one row per key. Unchanged batch rows
    * produce NOTHING.
    */
  def scd2Updates(dim: DataFrame, batch: DataFrame, key: String,
                  attrs: Seq[String], batchNo: Int): DataFrame = {
    require(batchNo > 0 && batchNo < 10, s"sk = key*10+batch encoding needs 0<batch<10, got $batchNo")
    val cur = dim.filter(col("is_current"))
    val j = batch.as("b")
      .join(cur.as("c"), col(s"b.$key") === col(s"c.$key"), "left")
    val differs = attrs
      .map(a => !(col(s"b.$a") <=> col(s"c.$a")))
      .reduce(_ || _)
    val changedOrNew = j.filter(col(s"c.$key").isNull || differs)
    val closeOuts = changedOrNew
      .filter(col(s"c.$key").isNotNull)
      .select(
        (col("c.sk") +: (col(s"c.$key").as(key) +: attrs.map(a => col(s"c.$a").as(a))) :+
          col("c.from_batch") :+ lit(batchNo).as("to_batch") :+
          lit(false).as("is_current")): _*)
    val newVersions = changedOrNew
      .select(
        ((col(s"b.$key") * 10 + batchNo).as("sk") +:
          (col(s"b.$key").as(key) +: attrs.map(a => col(s"b.$a").as(a))) :+
          lit(batchNo).as("from_batch") :+ lit(OpenBatch).as("to_batch") :+
          lit(true).as("is_current")): _*)
    closeOuts.unionByName(newVersions)
  }

  /** DuckDB replay of the fixture SCD2 build (v1 = all customers at batch
    * 0; batch 1 = segment moves + unchanged re-statements + new
    * entities), ending in `final(k, seg, bal, from_batch, to_batch,
    * is_current)` — shared by [[queries]]' oracle strings.
    */
  private val scd2FinalCtes: String =
    """cust AS (SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(FLOOR(c_acctbal*1000000.0 + 0.5) AS BIGINT) AS bal FROM customer),
      |batch AS (
      |  SELECT k, 'MOVED#1' AS seg, bal FROM cust WHERE k % 5 = 2
      |  UNION ALL SELECT k, seg, bal FROM cust WHERE k % 7 = 3 AND k % 5 <> 2
      |  UNION ALL SELECT k + 1000000, seg, bal FROM cust WHERE k % 11 = 5),
      |changed AS (
      |  SELECT b.k, b.seg, b.bal FROM batch b JOIN cust c ON c.k = b.k
      |  WHERE b.seg <> c.seg OR b.bal <> c.bal),
      |fresh AS (
      |  SELECT b.k, b.seg, b.bal FROM batch b
      |  WHERE NOT EXISTS (SELECT 1 FROM cust c WHERE c.k = b.k)),
      |final AS (
      |  SELECT k, seg, bal, 0 AS from_batch,
      |    CASE WHEN k IN (SELECT k FROM changed) THEN 1 ELSE 9999 END AS to_batch,
      |    k NOT IN (SELECT k FROM changed) AS is_current
      |  FROM cust
      |  UNION ALL SELECT k, seg, bal, 1, 9999, TRUE FROM changed
      |  UNION ALL SELECT k, seg, bal, 1, 9999, TRUE FROM fresh)""".stripMargin

  /** Build the fixture SCD2 dimension (v1 insert + batch-1 apply) in
    * `cat` under `tableName`; shared by the registered queries.
    */
  private def buildFixtureDim(s: org.apache.spark.sql.SparkSession, d: String,
                              cat: Catalog, tableName: String): Unit = {
    val cust = Tables.customer(s, d).select(
      col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") * 1000000.0 + 0.5).cast("long").as("bal"))
    val dim0 = cust.select(
      (col("k") * 10).as("sk"), col("k"), col("seg"), col("bal"),
      lit(0).as("from_batch"), lit(OpenBatch).as("to_batch"),
      lit(true).as("is_current"))
    cat.create(tableName, dim0.schema)
    cat.insert(tableName, dim0)
    val batch = cust.filter(col("k") % 5 === 2).withColumn("seg", lit("MOVED#1"))
      .unionByName(cust.filter(col("k") % 7 === 3 && col("k") % 5 =!= 2))
      .unionByName(cust.filter(col("k") % 11 === 5)
        .withColumn("k", col("k") + 1000000L))
    // merge evaluates the delta (the change-detection join) once
    cat.merge(tableName,
      scd2Updates(cat.table(tableName), batch, "k", Seq("seg", "bal"), batchNo = 1), "sk")
  }

  val queries: Seq[Q] = Seq(
    // ---- SCD2 apply on the customer dimension: batch 1 moves ~20% of
    // keys to a new segment (change → close + reopen), re-states ~11%
    // unchanged (must be a pure no-op), and introduces ~9% new entities.
    // The oracle replays change detection + the version algebra from the
    // fixture; the result profiles every (validity, currency, class)
    // stratum with key ranges and exact balance sums. ----
    Q(
      "catalog_scd2",
      s"""WITH $scd2FinalCtes
        |SELECT from_batch, to_batch, is_current,
        |  CASE WHEN seg = 'MOVED#1' THEN 'moved' ELSE 'orig' END AS seg_class,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(MIN(k) AS BIGINT) AS min_key,
        |  CAST(MAX(k) AS BIGINT) AS max_key,
        |  CAST(SUM(bal) AS BIGINT) AS total_bal
        |FROM final GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    ) { (s, d) =>
      val cat = new Catalog(s, CatalogOps.tempWarehouse())
      buildFixtureDim(s, d, cat, "dim_scd2")
      cat.table("dim_scd2")
        .groupBy(
          col("from_batch"), col("to_batch"), col("is_current"),
          when(col("seg") === "MOVED#1", "moved").otherwise("orig").as("seg_class"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          min(col("k")).as("min_key"),
          max(col("k")).as("max_key"),
          sum(col("bal")).as("total_bal"))
        .orderBy("from_batch", "to_batch", "is_current", "seg_class")
    },

    // ---- point-in-time (as-of) dimension join: each fact row joins the
    // dimension VERSION valid at its own batch (from ≤ b < to), never the
    // current one — the feature-store correctness rule that prevents
    // leakage of future attribute values into training examples. The
    // join is an equi join on the key with a residual validity filter;
    // fan-out is bounded by versions-per-key (≤ 2 here, small always),
    // so it shuffles exactly like a plain key join at 100 TB. Facts at
    // batch 0 must see pre-move segments, facts at batch 1 the moved
    // ones; the per-(batch, class) revenue profile proves both. ----
    Q(
      "catalog_scd2_asof",
      s"""WITH $scd2FinalCtes,
        |facts AS (SELECT o_custkey AS k, CAST(o_orderkey % 2 AS INT) AS b,
        |            CAST(FLOOR(o_totalprice*1000000.0 + 0.5) AS BIGINT) AS price
        |          FROM orders),
        |pit AS (SELECT f.b, f.k, f.price,
        |          CASE WHEN v.seg = 'MOVED#1' THEN 'moved' ELSE 'orig' END AS seg_class
        |        FROM facts f JOIN final v
        |          ON v.k = f.k AND v.from_batch <= f.b AND f.b < v.to_batch)
        |SELECT b, seg_class, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_custs,
        |  CAST(SUM(price) AS BIGINT) AS revenue_micros
        |FROM pit GROUP BY b, seg_class ORDER BY b, seg_class""".stripMargin,
    ) { (s, d) =>
      val cat = new Catalog(s, CatalogOps.tempWarehouse())
      buildFixtureDim(s, d, cat, "dim_pit")
      val dim = cat.table("dim_pit")
      val facts = Tables.orders(s, d).select(
        col("o_custkey").as("fk"),
        (col("o_orderkey") % 2).cast("int").as("b"),
        floor(col("o_totalprice") * 1000000.0 + 0.5).cast("long").as("price"))
      facts.join(dim,
          col("k") === col("fk") &&
            col("from_batch") <= col("b") && col("b") < col("to_batch"))
        .groupBy(
          col("b"),
          when(col("seg") === "MOVED#1", "moved").otherwise("orig").as("seg_class"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("k")).as("n_custs"),
          sum(col("price")).as("revenue_micros"))
        .orderBy("b", "seg_class")
    },
  )
}
