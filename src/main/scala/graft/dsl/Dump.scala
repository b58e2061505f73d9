package graft.dsl

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * Meta commands, recognized between statements only: `\d` (list
    * tables), `\d <table>` (schema), `\timing` (toggle per-statement
    * wall-clock), `\q` (quit). I/O is injected so specs can drive it;
    * [[main]] wires stdin/stdout.
    */
  def repl(
      spark: SparkSession, sfDir: String,
      lines: Iterator[String], out: String => Unit, limit: Int = 20,
      warehouse: Option[String] = None): Unit = {
    graft.sources.GraftSql.registerFixtures(spark, sfDir)
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
    lazy val cat: Option[graft.sources.Catalog] =
      warehouse.map(new graft.sources.Catalog(spark, _))
    def withCat(f: graft.sources.Catalog => Unit): Unit = cat match {
      case Some(c) =>
        try f(c) catch { case e: Exception => out(s"error: ${e.getMessage}") }
      case None =>
        out("error: no warehouse bound — set SPARK_GRAFT_WAREHOUSE or pass one")
    }
    var done = false
    var timing = false
    val buf = new StringBuilder
    // catalog-table view names WE registered: the set that must be swept
    // when a table disappears (DROP TABLE here, or dropped externally) —
    // a stale view would keep resolving over deleted files, and a catalog
    // table that shadowed a same-named fixture view (e.g. 'events') would
    // keep shadowing it forever
    var catViews = Set.empty[String]
    def syncCatalogViews(c: graft.sources.Catalog): Unit = {
      val cur = c.tables().toSet ++ c.views().toSet
      val stale = catViews.diff(cur)
      stale.foreach(spark.catalog.dropTempView(_))
      if (stale.exists(graft.sources.GraftSql.fixtureNames.contains))
        graft.sources.GraftSql.refreshFixtures(spark, sfDir)
      // tables + catalog VIEWS (fixpoint-resolved SQL text) in one pass
      graft.sources.CatalogSql.registerAll(spark, c)
      catViews = cur
    }
    def exec(sql: String): Unit = {
      val t0 = System.nanoTime()
      try {
        // DDL/DML commands route to the bound warehouse via CatalogSql
        // (CREATE/INSERT/MERGE/DELETE/ALTER/DROP as text); everything
        // else stays plain Spark SQL over the registered views, with the
        // catalog's tables also visible when a warehouse is bound
        val df = cat match {
          case Some(c) if graft.sources.CatalogSql.isCommand(sql) =>
            val r = graft.sources.CatalogSql.exec(spark, c, sql)
            syncCatalogViews(c) // commands can create or drop tables
            r
          case Some(c) =>
            syncCatalogViews(c)
            spark.sql(sql)
          case None => spark.sql(sql)
        }
        val rendered = dump(df, limit)
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
      } else if (line.nonEmpty) {
        if (line == "\\q") done = true
        else if (line == "\\timing") {
          timing = !timing
          out(s"Timing is ${if (timing) "on" else "off"}.")
        } else if (line == "\\d")
          out(spark.catalog.listTables().collect().map(_.name).sorted.mkString("\n"))
        else if (line.startsWith("\\d "))
          try out(spark.table(line.drop(3).trim).schema.treeString.stripLineEnd)
          catch { case e: Exception => out(s"error: ${e.getMessage}") }
        else if (line.startsWith("\\schema ")) {
          // DDL-style column list (name TYPE [NOT NULL]) — the catalog's
          // declared-schema view, vs \d's nested treeString
          val t = line.drop(8).trim
          try out(spark.table(t).schema.fields.map(f =>
            s"  ${f.name} ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
            .mkString(s"$t (\n", ",\n", "\n)"))
          catch { case e: Exception => out(s"error: ${e.getMessage}") }
        }
        else if (line.startsWith("\\profile ")) {
          // ANALYZE-style per-column stats (null/distinct/min/max), one
          // aggregate pass — see operators.DataQuality.profile
          val t = line.drop(9).trim
          try {
            val df = spark.table(t)
            // atomic columns only — nested/binary have no portable order
            val cols = df.schema.fields.collect {
              case f if !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
                !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
                !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
                f.dataType != org.apache.spark.sql.types.BinaryType => f.name
            }.toSeq
            out(dump(graft.operators.DataQuality.profile(df, cols), cols.size))
          } catch { case e: Exception => out(s"error: ${e.getMessage}") }
        }
        else if (line.startsWith("\\history ")) withCat { c =>
          // DESCRIBE HISTORY over the manifest log of the bound warehouse
          val t = line.drop(9).trim
          out(c.history(t).map { case (v, op, nf) =>
            f"  v$v%-4d $op%-24s $nf%4d files" }
            .mkString(s"$t history (HEAD v${c.currentVersion(t)})\n", "\n", ""))
        }
        else if (line.startsWith("\\restore ")) withCat { c =>
          line.drop(9).trim.split("\\s+") match {
            case Array(t, v) if v.forall(_.isDigit) =>
              val nv = c.restoreVersion(t, v.toInt)
              out(s"$t restored to v$v as new version v$nv")
            case _ => out("usage: \\restore <table> <version>")
          }
        }
        else if (line == "\\help") out(helpText)
        else if (line.startsWith("\\explain "))
          // default FormattedMode is the proof surface for the engine's
          // two inherited optimizations: a pruned parquet scan prints its
          // `PushedFilters:` and `PartitionFilters:` lines there; the
          // other EXPLAIN modes (extended/codegen/cost — same set as the
          // SQL `EXPLAIN <MODE>` statement) select via a leading word
          try {
            cat.foreach(syncCatalogViews) // catalog tables explainable too
            val arg = line.drop(9).trim.stripSuffix(";")
            val modes = Set("formatted", "extended", "codegen", "cost")
            val (mode, sql) = arg.split("\\s+", 2) match {
              case Array(m, rest) if modes(m.toLowerCase) => (m.toLowerCase, rest)
              case _ => ("formatted", arg)
            }
            out(spark.sql(sql).queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString(mode))
              .stripLineEnd)
          } catch { case e: Exception => out(s"error: ${e.getMessage}") }
        else if (!terminated && incompleteSql(spark, line))
          buf.append(line) // open a multi-line statement
        else exec(line)
      }
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
        println(dump(graft.sources.GraftSql.sql(spark, sfDir, args(0)), n))
      else
        repl(spark, sfDir,
          Iterator.continually(scala.io.StdIn.readLine("graft> "))
            .takeWhile(_ != null),
          println(_), n, warehouse = sys.env.get("SPARK_GRAFT_WAREHOUSE"))
    } finally spark.stop()
  }
}
