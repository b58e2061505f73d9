package graft

import graft.plans.SmallSortStrategy
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The one-task sort of a small, measured input: fewer jobs, the same
  * rows as the same session without the strategy, and Spark's plan above
  * the bound, over an unmaterialized input and under a limit.
  */
class SmallSortSpec extends SparkSpec {

  /** [[run]], planned by the same session without the strategy (`df` is
    * built first: `Tables.load` installs it).
    */
  private def runWithout(df: DataFrame): (Seq[org.apache.spark.sql.Row], Int, String) = {
    val methods = spark.experimental
    val before = methods.extraStrategies
    methods.extraStrategies = before.filterNot(_ == SmallSortStrategy)
    try run(df) finally methods.extraStrategies = before
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val before = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** A fresh groupBy result (a new DataFrame per call: a collected
    * DataFrame keeps its final adaptive plan) with a nullable sort key.
    */
  private def grouped(): DataFrame =
    Tables.events(spark, sf0001)
      .groupBy((col("user_id") % 17).as("g"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
      .withColumn("k", when(col("g") % 4 === 0, lit(null)).otherwise(col("g") % 3))

  /** Rows, jobs and the final (post-action) plan of one sorted read: the
    * adaptive plan's current plan, without its initial one.
    */
  private def run(df: DataFrame): (Seq[org.apache.spark.sql.Row], Int, String) = {
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsRunBy { rows = df.collect().toSeq }.size
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (rows, jobs, plan.toString)
  }

  private val orders: Seq[Seq[Column]] = Seq(
    Seq(col("g")),
    Seq(col("g").desc),
    Seq(col("k").asc_nulls_first, col("g").desc),
    Seq(col("k").asc_nulls_last, col("n").desc, col("g")),
    Seq(col("k").desc_nulls_first, col("mx"), col("g")),
    Seq(col("k").desc_nulls_last, col("g").asc))

  test("a groupBy + orderBy sorts in one task: 2 jobs, not 4, and the same rows") {
    orders.foreach { o =>
      val (rows, jobs, plan) = run(grouped().orderBy(o: _*))
      val (want, wantJobs, wantPlan) = runWithout(grouped().orderBy(o: _*))
      val which = o.mkString(", ")
      assert(rows.nonEmpty && rows == want, which)
      assert(jobs === 2, which)
      assert(wantJobs === 4, which)
      assert(plan.contains("Coalesce 1") && !plan.contains("rangepartitioning"), plan)
      assert(wantPlan.contains("rangepartitioning"), wantPlan)
    }
  }

  test("above advisoryPartitionSizeInBytes the final plan keeps the range exchange") {
    val (rows, _, plan) = withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1") {
      run(grouped().orderBy(col("g")))
    }
    assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce 1"), plan)
    assert(rows == run(grouped().orderBy(col("g")))._1)
  }

  test("a sort straight over a scan is planned as before: 3 jobs") {
    def scanSort() = Tables.events(spark, sf0001)
      .select(col("event_id"), col("value")).orderBy(col("value").desc, col("event_id"))
    val (rows, jobs, plan) = run(scanSort())
    val (want, wantJobs, _) = runWithout(scanSort())
    assert(rows == want)
    assert(jobs === 3 && wantJobs === 3)
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("a local relation sorts in one task, with the same rows") {
    import spark.implicits._
    def local() = Seq((3L, "c"), (1L, null), (2L, "a"), (5L, "a")).toDF("id", "s")
      .orderBy(col("s").desc_nulls_last, col("id"))
    val df = local()
    assert(df.queryExecution.executedPlan.toString.contains("Coalesce 1"))
    assert(df.collect().toSeq == runWithout(local())._1)
  }

  test("orderBy + limit still plans as TakeOrderedAndProject") {
    val (rows, _, plan) = run(grouped().orderBy(col("g").desc).limit(5))
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Coalesce 1"), plan)
    assert(rows == runWithout(grouped().orderBy(col("g").desc).limit(5))._1)
  }

  test("install is idempotent: one strategy after two calls") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == SmallSortStrategy) === 1)
  }
}
