package graft

/** Dev probe: print the formatted physical plan of registered queries
  * (`runMain graft.ExplainProbe <sfDir> <name>[,<name>...]`) — the
  * plan-audit loop (pushdown/broadcast/exchange shapes) without writing a
  * spec first. Sibling of [[StressScale]]; not part of the driver
  * contract.
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val spark = GraftSession.local()
    // "exec" as a third arg: materialize first (noop sink) and print the
    // POST-EXECUTION adaptive plan — the only place AQE decisions
    // (ReusedExchange, AQEShuffleRead coalescing, runtime join swaps)
    // are visible; the default pre-execution dump shows isFinalPlan=false
    val execMode = args.length > 2 && args(2) == "exec"
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      println(s"==== $n ====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (execMode) df.write.format("noop").mode("overwrite").save()
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
