package graft.dsl

import graft.sources.{Catalog, CatalogSql, GraftSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

/** Result dump / CLI (SURVEY.md §2.1 S7): the reference's pretty-printed
  * result table and one-shot SQL runner.
  *
  * `dump` renders a bounded prefix via `take(n)` — dump is inherently a
  * driver-side operation on a bounded prefix (the only sanctioned
  * `collect`-shaped call in the library); unbounded results go through
  * sinks, not dump.
  */
object Dump {

  /** First `n` rows as an aligned text table (header, rule, rows). */
  def dump(df: DataFrame, n: Int = 20): String = {
    val header = df.columns.toSeq
    val rows = df.take(n).toSeq
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString))
    val widths = header.indices
      .map(i => (header(i).length +: rows.map(_(i).length)).max)
    def line(vals: Seq[String]) = vals.zip(widths)
      .map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val rule = widths.map("-" * _).mkString("+-", "-+-", "-+")
    (Seq(rule, line(header), rule) ++ rows.map(line) :+ rule).mkString("\n")
  }

  /** True when `sql` is an INCOMPLETE statement — parseable only by
    * reading past end of input (e.g. an unclosed parenthesis or a
    * trailing comma). Distinct from invalid SQL, which fails mid-input
    * and should execute-and-report rather than buffer.
    */
  private def incompleteSql(spark: SparkSession, sql: String): Boolean =
    try { spark.sessionState.sqlParser.parsePlan(sql); false }
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        Option(e.getMessage).exists(_.contains("end of input"))
      case _: Exception => false
    }

  /** Interactive REPL over the SQL surface. Statements may span lines: a
    * line is executed immediately when it is complete on its own (a
    * trailing `;` always completes); a line that parses as incomplete
    * (unclosed paren, trailing operator, ...) opens a buffer that
    * accumulates until a `;`-terminated or otherwise-complete line.
    * Meta commands, recognized between statements only, are listed by
    * `\help`. With a `warehouse` bound, every statement runs through
    * [[graft.sources.CatalogSql.exec]] and every meta command's table
    * name resolves through [[graft.sources.CatalogSql.table]], so the
    * catalog's tables and views (time travel included) read as they do
    * there, beside the fixture views; without one, statements are plain
    * Spark SQL over the fixture views. I/O is injected so specs can drive
    * it; [[main]] wires stdin/stdout.
    */
  def repl(
      spark: SparkSession, sfDir: String,
      lines: Iterator[String], out: String => Unit, limit: Int = 20,
      warehouse: Option[String] = None): Unit = {
    GraftSql.registerFixtures(spark, sfDir)
    // command-first, one per line — the shape a line-completion hook
    // (rlwrap, jline) consumes directly
    val helpText = Seq(
      "\\d                     list tables and views",
      "\\d <table>             nested schema tree",
      "\\schema <table>        DDL-style column list",
      "\\profile <table>       per-column stats (one aggregate pass)",
      "\\explain [mode] <sql>  plan; mode: formatted|extended|codegen|cost",
      "\\history <table>       manifest log of the bound warehouse",
      "\\restore <table> <v>   restore table to version v (new version)",
      "\\timing                toggle per-statement wall-clock",
      "\\help                  this listing",
      "\\q                     quit",
    ).mkString("\n")
    out(s"graft on $sfDir — \\help lists commands, \\q quits")
    lazy val cat: Option[Catalog] = warehouse.map(new Catalog(spark, _))
    def withCat(f: Catalog => Unit): Unit =
      cat.fold(out("error: no warehouse bound — set SPARK_GRAFT_WAREHOUSE or pass one"))(f)
    // with a warehouse bound, statements and table names go through the
    // catalog's SQL surface; without one, through plain Spark SQL
    def table(t: String): DataFrame = cat.fold(spark.table(t))(CatalogSql.table(spark, _, t))
    var done = false
    var timing = false
    val buf = new StringBuilder
    def exec(sql: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val rendered = dump(cat.fold(spark.sql(sql))(CatalogSql.exec(spark, _, sql)), limit)
        val dt = (System.nanoTime() - t0) / 1e9
        out(if (timing) rendered + f"\nTime: $dt%.3f s" else rendered)
      } catch { case e: Exception => out(s"error: ${e.getMessage}") }
    }
    while (!done && lines.hasNext) {
      val raw = lines.next().trim
      val terminated = raw.endsWith(";")
      val line = raw.stripSuffix(";").trim
      if (buf.nonEmpty) { // mid-statement: accumulate until complete
        buf.append('\n').append(line)
        val stmt = buf.toString
        if (terminated || !incompleteSql(spark, stmt)) { buf.clear(); exec(stmt) }
      } else if (line.nonEmpty) try line.split("\\s+", 2) match {
        case Array("\\q") => done = true
        case Array("\\timing") =>
          timing = !timing
          out(s"Timing is ${if (timing) "on" else "off"}.")
        case Array("\\d") =>
          out((spark.catalog.listTables().collect().map(_.name) ++
            cat.toSeq.flatMap(c => c.tables() ++ c.views())).distinct.sorted.mkString("\n"))
        case Array("\\d", t) => out(table(t).schema.treeString.stripLineEnd)
        case Array("\\schema", t) =>
          // DDL-style column list (name TYPE [NOT NULL]) — the catalog's
          // declared-schema view, vs \d's nested treeString
          out(table(t).schema.fields.map(f =>
            s"  ${f.name} ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
            .mkString(s"$t (\n", ",\n", "\n)"))
        case Array("\\profile", t) =>
          // ANALYZE-style per-column stats (null/distinct/min/max), one
          // aggregate pass — see operators.DataQuality.profile
          val df = table(t)
          // atomic columns only — nested/binary have no portable order
          val cols = df.schema.fields.toSeq.collect { case f if (f.dataType match {
            case _: ArrayType | _: MapType | _: StructType | BinaryType => false
            case _ => true
          }) => f.name }
          out(dump(graft.operators.DataQuality.profile(df, cols), cols.size))
        case Array("\\history", t) => withCat { c =>
          // DESCRIBE HISTORY over the manifest log of the bound warehouse
          out(c.history(t).map { case (v, op, nf) =>
            f"  v$v%-4d $op%-24s $nf%4d files" }
            .mkString(s"$t history (HEAD v${c.currentVersion(t)})\n", "\n", ""))
        }
        case Array("\\restore", arg) => withCat { c =>
          arg.split("\\s+") match {
            case Array(t, v) if v.forall(_.isDigit) =>
              val nv = c.restoreVersion(t, v.toInt)
              out(s"$t restored to v$v as new version v$nv")
            case _ => out("usage: \\restore <table> <version>")
          }
        }
        case Array("\\help") => out(helpText)
        case Array("\\explain", arg) =>
          // default FormattedMode is the proof surface for the engine's
          // two inherited optimizations: a pruned parquet scan prints its
          // `PushedFilters:` and `PartitionFilters:` lines there; the
          // other EXPLAIN modes (extended/codegen/cost — same set as the
          // SQL `EXPLAIN <MODE>` statement) select via a leading word
          val modes = Set("formatted", "extended", "codegen", "cost")
          val (mode, sql) = arg.split("\\s+", 2) match {
            case Array(m, rest) if modes(m.toLowerCase) => (m.toLowerCase, rest)
            case _ => ("formatted", arg)
          }
          // with a warehouse, the router's EXPLAIN: it binds the catalog's
          // names and refuses to run a command
          out(cat.fold(spark.sql(sql).queryExecution.explainString(ExplainMode.fromString(mode)))(
            CatalogSql.exec(spark, _, s"EXPLAIN ${mode.toUpperCase} $sql").head().getString(0))
            .stripLineEnd)
        case _ if !terminated && incompleteSql(spark, line) =>
          buf.append(line) // open a multi-line statement
        case _ => exec(line)
      } catch { case e: Exception => out(s"error: ${e.getMessage}") }
    }
    if (!done && buf.nonEmpty) exec(buf.toString) // EOF flushes a pending statement
  }

  /** CLI: with a SQL argument, one-shot dump
    * (`runMain graft.dsl.Dump "<sql>" [sfDir] [n]`); with no arguments,
    * the interactive [[repl]] on stdin
    * (`sfDir` via SPARK_GRAFT_SF_DIR, default sf0.001).
    */
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val n = if (args.length > 2) args(2).toInt else 20
    val spark = graft.GraftSession.local()
    try {
      if (args.nonEmpty)
        println(dump(GraftSql.sql(spark, sfDir, args(0)), n))
      else
        repl(spark, sfDir,
          Iterator.continually(scala.io.StdIn.readLine("graft> "))
            .takeWhile(_ != null),
          println(_), n, warehouse = sys.env.get("SPARK_GRAFT_WAREHOUSE"))
    } finally spark.stop()
  }
}
