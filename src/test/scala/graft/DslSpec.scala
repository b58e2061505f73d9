package graft

import graft.dsl.Hustle._
import org.apache.spark.sql.functions._

/** DSL → DataFrame compilation semantics (the reference's `select`). */
class DslSpec extends SparkSpec {

  private lazy val lineitem = GTable("lineitem", Tables.lineitem(spark, sf0001))
  private lazy val orders = GTable("orders", Tables.orders(spark, sf0001))
  private lazy val customer = GTable("customer", Tables.customer(spark, sf0001))

  test("implicit GROUP BY: aggregates + plain columns → groupBy") {
    val got = select(lineitem("l_returnflag"), h_sum(lineitem("l_quantity")), h_count())()
    assert(got.columns.toSeq == Seq("l_returnflag", "sum_l_quantity", "count"))
    val expected = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag").agg(sum("l_quantity"), count(lit(1)))
    assert(got.count() == expected.count())
  }

  test("no aggregates → plain projection, no grouping") {
    val got = select(lineitem("l_orderkey"), lineitem("l_quantity"))()
    assert(got.count() == Tables.lineitem(spark, sf0001).count())
  }

  test("aggregates only → global aggregation, single row") {
    val got = select(h_sum(lineitem("l_quantity")), h_max(lineitem("l_extendedprice")))()
    assert(got.count() == 1)
  }

  test("per-table where is applied to the right table before the join") {
    val got = select(
      customer("c_name"), orders("o_totalprice"))(
      where = Seq(customer("c_mktsegment") === "BUILDING", orders("o_totalprice") > 100000.0),
      join = Some((customer("c_custkey"), orders("o_custkey"))))
    val expected = Tables.customer(spark, sf0001).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, sf0001).filter(col("o_totalprice") > 100000.0),
        col("c_custkey") === col("o_custkey"))
    assert(got.count() == expected.count())
    assert(got.count() > 0)
  }

  test("predicate combinators & | ~ work and stay single-table") {
    val p = (lineitem("l_quantity") > 30.0) & ~(lineitem("l_discount") > 0.05)
    val got = select(lineitem("l_orderkey"))(where = Seq(p))
    val expected = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") > 30.0 && !(col("l_discount") > 0.05))
    assert(got.count() == expected.count())
    assertThrows[IllegalArgumentException] {
      (lineitem("l_quantity") > 30.0) & (orders("o_totalprice") > 10.0)
    }
  }

  test("order_by desc + limit compiles to top-k (TakeOrderedAndProject)") {
    val got = select(orders("o_orderkey"), orders("o_totalprice"))(
      orderBy = Seq(orders("o_totalprice")), desc = true, limit = Some(5))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    val top = got.collect().map(_.getDouble(1))
    assert(top.sameElements(top.sorted(Ordering[Double].reverse)))
  }

  test("distinct dedups") {
    val got = select(lineitem("l_returnflag"))(distinct = true)
    assert(got.count() == 3)
  }

  test("star projects all columns") {
    val got = select(lineitem.star: _*)()
    assert(got.columns.length == Tables.lineitem(spark, sf0001).columns.length)
  }

  test("nest= materializes the result as a catalog table") {
    val cat = new graft.sources.Catalog(spark,
      tempDir("graft_nest_").toString)
    val got = select(lineitem("l_returnflag"), h_sum(lineitem("l_quantity")))(
      nest = Some((cat, "flag_totals")))
    assert(cat.tables().contains("flag_totals"))
    assert(got.count() == 3)
    assert(cat.table("flag_totals").count() == 3)
  }

  test("order_by accepts aggregate result columns by name (hustle semantics)") {
    val got = select(lineitem("l_returnflag"), h_sum(lineitem("l_quantity")))(
      orderByNames = Seq("sum_l_quantity"), desc = true)
      .collect().map(_.getDouble(1))
    assert(got.length == 3)
    assert(got.sameElements(got.sortBy(-_)), "not sorted by the aggregate")
  }

  test("where filter is pushed down to the parquet scan") {
    val got = select(lineitem("l_orderkey"))(
      where = Seq(lineitem("l_quantity") > 30.0))
    val physical = got.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("l_quantity"))
  }
}
