package graft

import graft.plans.SmallSortStrategy
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's `SparkSessionExtensions` entry point — the idiomatic
  * deployment path for custom Catalyst expressions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects every graft SQL function into each new session's registry at
  * construction time (works with spark-submit, the thrift server, and
  * Connect servers alike — anywhere the session is built from conf rather
  * than code), and adds the planner's [[graft.plans.SmallSortStrategy]].
  * A session built without it gets the same functions and strategy from
  * [[GraftExtensions.install]], which graft calls on every session it
  * builds or reads through.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => SmallSortStrategy)

    // arity-checked at resolution so a wrong-arity call surfaces as an
    // analysis error, not an IndexOutOfBoundsException from the builder
    def fn(name: String, arity: Int, usage: String)
        (builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        exprs => {
          if (exprs.length != arity)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> name, "expectedNum" -> arity.toString,
                "actualNum" -> exprs.length.toString, "docroot" -> ""))
          builder(exprs)
        }))

    fn("cosine_similarity", 2,
      "cosine_similarity(a, b) - cosine of two array<float|double> vectors") {
      exprs => plans.CosineSimilarity(exprs(0), exprs(1))
    }
    fn("token_hash60", 1,
      "token_hash60(s) - first 60 bits of md5(s) as a bigint (engine-portable)") {
      exprs => plans.TokenHash60(exprs.head)
    }
    fn("rolling_token_hash", 1,
      "rolling_token_hash(s) - polynomial rolling hash over space-split tokens") {
      exprs => plans.RollingTokenHash(exprs.head)
    }
    fn("redact_pii", 1,
      "redact_pii(s) - emails/IPv4s/phone-shaped numbers replaced by typed placeholders") {
      exprs =>
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
        functions.TextFunctions.PiiPatterns.foldLeft(exprs.head) {
          case (e, (re, tag)) => RegExpReplace(e, Literal(re), Literal(tag))
        }
    }
  }
}

object GraftExtensions {
  /** The sessions [[install]] has run on (weak: a dropped session goes). */
  private val installed = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  /** Give `spark` what `spark.sql.extensions=graft.GraftExtensions` would
    * have given it at construction — every graft SQL function, arity
    * checked, and the planner strategy — once per session; later calls
    * are a set-membership check. `GraftSession.local`, `Tables.load`, the
    * `Catalog` constructor and `Hustle.select` call it, so a session graft
    * did not build plans graft's reads and resolves graft's SQL functions
    * the same way from their first use.
    */
  def install(spark: SparkSession): Unit =
    if (!installed.contains(spark)) installed.synchronized {
      if (!installed.contains(spark)) {
        val ext = new SparkSessionExtensions
        new GraftExtensions()(ext)
        org.apache.spark.sql.graft.Bridge.applyExtensions(ext, spark)
        val methods = spark.experimental
        if (!methods.extraStrategies.contains(SmallSortStrategy))
          methods.extraStrategies = methods.extraStrategies :+ SmallSortStrategy
        installed.add(spark)
      }
    }
}
