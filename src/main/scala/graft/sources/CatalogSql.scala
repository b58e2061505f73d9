package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace, FieldName, RelationTimeTravel, UnresolvedAlias, UnresolvedAttribute, UnresolvedFunctionName, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.catalog.LanguageSQL
import org.apache.spark.sql.catalyst.expressions.{CheckConstraint, ConstraintCharacteristic, EqualTo, Literal, SubqueryExpression, TableConstraint}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StringType, StructField, StructType}

/** SQL text surface for the warehouse [[Catalog]]: CREATE / CTAS / CREATE
  * VIEW / INSERT / UPDATE / DELETE / MERGE / ALTER / TRUNCATE / DROP /
  * VACUUM / OPTIMIZE / DESCRIBE [HISTORY] / SHOW TABLES / SHOW CREATE
  * TABLE / ANALYZE / SHOW STATS / EXPLAIN / SELECT routed to the
  * catalog's versioned-COW table operations. The reference exposed its catalog through a programmatic
  * DSL only; this closes the "DDL as text" gap so a SQL-speaking client
  * can drive the warehouse end-to-end.
  *
  * Division of labor: Spark's own parser parses every standard statement
  * once, and this router dispatches on the logical plan node it returns
  * (`CreateTable`, `MergeIntoTable`, `DeleteFromTable`, ...), reading the
  * node's fields — column definitions with their DEFAULT and CHECK text,
  * predicates and SET assignments as Catalyst expressions handed over as
  * Columns, source queries as parsed plans. A node field graft does not
  * implement (`INSERT OVERWRITE`, `IF NOT EXISTS`, `USING`, ...) is an
  * unsupported statement. Graft owns only the verbs Spark's grammar lacks
  * or reads as something else: CLONE, ERASE, VACUUM, OPTIMIZE, DESCRIBE
  * HISTORY, bare ANALYZE TABLE, SHOW STATS, REFRESH / DROP MATERIALIZED
  * VIEW and COPY INTO / TO. Queries run as Spark's parsed plans in which
  * each catalog table and view name — `VERSION AS OF` / `TIMESTAMP AS OF`
  * on a table included — is bound to the catalog's plan for it before
  * analysis: one grammar, no statement text rewritten, and a statement
  * reads only the tables it names. Other names (the fixture views) are
  * Spark's to resolve.
  *
  * MERGE takes an equi-key ON clause with either the ANSI upsert-all form
  * (`WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` →
  * [[Catalog.merge]]) or the general conditional multi-action form —
  * `WHEN MATCHED [AND <cond>] THEN UPDATE SET * | DELETE` (repeatable) plus
  * `WHEN NOT MATCHED [AND <cond>] THEN INSERT *` →
  * [[Catalog.mergeConditional]], both file-granular copy-on-write. The
  * source is a subquery or a table.
  */
object CatalogSql {

  // graft's own verbs, matched before Spark's parser runs: its grammar
  // lacks them, or reads them as something else (`DESCRIBE HISTORY t`
  // parses as DESCRIBE of a column named t in a table named HISTORY)
  private val CloneStmt = """(?is)^CREATE\s+TABLE\s+(\w+)\s+(?:SHALLOW\s+)?CLONE\s+(\w+)\s*$""".r
  private val Erase = """(?is)^ERASE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*$""".r
  private val Vacuum = """(?is)^VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?\s*$""".r
  private val Optimize =
    """(?is)^OPTIMIZE\s+(\w+)(?:\s+FILES\s+(\d+))?(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,]+?)\s*\)|\s+WHERE\s+(.+?))?\s*$""".r
  private val History = """(?is)^DESCRIBE\s+HISTORY\s+(\w+)\s*$""".r
  private val Analyze = """(?is)^ANALYZE\s+TABLE\s+(\w+)\s*$""".r
  private val ShowStats = """(?is)^SHOW\s+STATS\s+(?:FOR\s+)?(\w+)\s*$""".r
  private val RefreshMView = """(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$""".r
  private val DropMView = """(?is)^DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$""".r
  private val CopyInto =
    """(?is)^COPY\s+INTO\s+(\w+)\s+FROM\s+'([^']+)'(?:\s+FORMAT\s+(\w+))?(?:\s+WITH\s+QUARANTINE\s+(\w+))?\s*$""".r
  private val CopyTo = """(?is)^COPY\s+(\w+)\s+TO\s+'([^']+)'(?:\s+FORMAT\s+(\w+))?\s*$""".r

  /** True when the statement is one of the catalog COMMANDS this router
    * owns, as opposed to a query.
    */
  def isCommand(statement: String): Boolean =
    scala.util.Try(route(SparkSession.active, clean(statement))).toOption.exists(_.isRight)

  /** Register the catalog's persisted SQL functions as session temp
    * functions, before a statement is analyzed. Native SQL UDF
    * registration analyzes AND inlines the body at call sites, so
    * persisted functions stay inside whole-stage codegen.
    */
  private def registerFunctions(spark: SparkSession, cat: Catalog): Unit =
    cat.functions().foreach { f =>
      try spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $f ${cat.functionSql(f)}")
      catch { case _: Exception => () } // invalid defs error when referenced
    }

  /** Parse a time-travel timestamp literal: ISO-8601 instant
    * (`2026-08-15T00:00:00Z`) or the SQL `yyyy-MM-dd HH:mm:ss[.fff]`
    * form, interpreted as UTC (the engine's session timezone).
    */
  private def parseTravelTs(s: String): java.time.Instant = {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    val t = s.trim
    Iterator[String => Instant](
      Instant.parse(_),
      x => LocalDateTime.parse(x.replace(' ', 'T')).toInstant(ZoneOffset.UTC),
      // bare DATE literal (Delta accepts it): midnight UTC
      x => LocalDate.parse(x).atStartOfDay.toInstant(ZoneOffset.UTC))
      .flatMap(p => scala.util.Try(p(t)).toOption).nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse TIMESTAMP AS OF '$t' — accepted forms: " +
          "ISO-8601 instant (2026-08-15T00:00:00Z), " +
          "'yyyy-MM-dd HH:mm:ss[.fff]' (UTC), or 'yyyy-MM-dd' " +
          "(midnight UTC)"))
  }

  /** `plan` with each one-part relation name it reads — subqueries and
    * CTE bodies included — that no enclosing WITH defines replaced by the
    * plan `f(name, travel)` returns, if any; `travel` is the `VERSION AS
    * OF` / `TIMESTAMP AS OF` node around the name.
    */
  private def mapNames(plan: LogicalPlan, ctes: Set[String] = Set.empty)(
      f: (String, Option[RelationTimeTravel]) => Option[LogicalPlan]): LogicalPlan = {
    def named(p: LogicalPlan, travel: Option[RelationTimeTravel]): Option[LogicalPlan] = p match {
      case UnresolvedRelation(Seq(n), _, _) if !ctes.exists(_.equalsIgnoreCase(n)) => f(n, travel)
      case _ => None
    }
    plan match {
      // CTE bodies are not children of the WITH node: a body sees the CTEs
      // before it (and itself when recursive), the child sees them all
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(_._1)
        w.copy(child = mapNames(w.child, ctes ++ names)(f),
          cteRelations = w.cteRelations.zipWithIndex.map { case ((n, body, depth), i) =>
            val seen = names.take(if (w.allowRecursion) i + 1 else i)
            (n, mapNames(body, ctes ++ seen)(f).asInstanceOf[SubqueryAlias], depth)
          })
      case tt: RelationTimeTravel => named(tt.relation, Some(tt)).getOrElse(tt)
      case u: UnresolvedRelation => named(u, None).getOrElse(u)
      case p => p.mapChildren(mapNames(_, ctes)(f)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(mapNames(s.plan, ctes)(f))
      }
    }
  }

  /** The catalog table or view `name` names, in its stored spelling (SQL
    * names are case-insensitive).
    */
  private def catalogName(cat: Catalog, name: String): Option[String] =
    (Iterator(name) ++ (cat.tables() ++ cat.views()).iterator.filter(_.equalsIgnoreCase(name)))
      .find(n => cat.exists(n) || cat.viewExists(n))

  /** Bind each catalog name in `plan` under its own name, as Spark would
    * resolve a temp view: a table to its head snapshot's plan, or with
    * `VERSION AS OF` / `TIMESTAMP AS OF` to that snapshot
    * ([[Catalog.tableAt]] / [[Catalog.tableAsOf]]); a view to its stored
    * text, parsed, bound the same way and analyzed on its own. `path` is
    * the chain of views being bound (or defined): a name on it again is a
    * cycle. Every other name is left for Spark to resolve (and reject).
    */
  private def bind(spark: SparkSession, cat: Catalog, plan: LogicalPlan,
      path: List[String]): LogicalPlan = mapNames(plan) { (name, travel) =>
    if (path.exists(_.equalsIgnoreCase(name))) throw new IllegalArgumentException(
      s"view cycle: ${(path :+ name).mkString(" -> ")}")
    // a view has no versions: its time travel is left for Spark to reject
    catalogName(cat, name).filter(t => travel.isEmpty || cat.exists(t)).map { t =>
      val df = travel match {
        case None if cat.exists(t) => cat.table(t)
        case None => Bridge.ofRows(spark,
          bind(spark, cat, spark.sessionState.sqlParser.parsePlan(cat.viewSql(t)), path :+ t))
        case Some(tt) => tt.version match {
          case Some(v) => cat.tableAt(t, v.toInt)
          case None => cat.tableAsOf(t, parseTravelTs(tt.timestamp.get match {
            case l: Literal if l.dataType.isInstanceOf[StringType] => l.value.toString
            case e => e.sql
          }))
        }
      }
      SubqueryAlias(t, df.queryExecution.analyzed)
    }
  }

  /** Run a parsed query with the catalog's functions registered and its
    * names bound; `path` as in [[bind]].
    */
  private def query(spark: SparkSession, cat: Catalog, plan: LogicalPlan,
      path: List[String] = Nil): DataFrame = {
    registerFunctions(spark, cat)
    Bridge.ofRows(spark, bind(spark, cat, plan, path))
  }

  /** The relation `name` as a statement's FROM binds it: a catalog table
    * or view, else whatever the session resolves (a fixture view).
    */
  def table(spark: SparkSession, cat: Catalog, name: String): DataFrame =
    query(spark, cat, UnresolvedRelation(spark.sessionState.sqlParser.parseMultipartIdentifier(name)))

  /** A plan that only reads: no command, statement or directory write. */
  private def isQuery(plan: LogicalPlan): Boolean = !plan.exists(n =>
    n.isInstanceOf[Command] || n.isInstanceOf[ParsedStatement] || n.isInstanceOf[InsertIntoDir])

  /** ANSI INSERT binds columns POSITIONALLY (a bare VALUES row has no
    * names): rename to the schema of `t` when arities match. A narrower
    * select keeps its names so [[Catalog.insert]] can fill declared
    * defaults for the omitted columns.
    */
  private def positional(cat: Catalog, t: String, df: DataFrame): DataFrame = {
    val names = cat.schema(t).fieldNames.toSeq
    if (df.columns.length == names.length) df.toDF(names: _*) else df
  }

  private def status(spark: SparkSession, op: String, tbl: String, n: Long): DataFrame = {
    import spark.implicits._
    Seq((op, tbl, n)).toDF("op", "table", "rows")
  }

  private def clean(statement: String): String = statement.trim.stripSuffix(";").trim

  /** Execute one statement; returns the result rows for a query, or a
    * one-row `(op, table, rows)` status for a command.
    */
  def exec(spark: SparkSession, cat: Catalog, statement: String): DataFrame =
    route(spark, clean(statement)).fold(query(spark, cat, _), _(cat))

  /** The one router behind [[exec]] and [[isCommand]]: graft's verbs
    * first, then the node Spark's parser returns. A query comes back as
    * its parsed plan (Left), a command as the catalog action it runs
    * (Right); everything else throws the unsupported-statement error.
    */
  private def route(spark: SparkSession,
      stmt: String): Either[LogicalPlan, Catalog => DataFrame] = {
    import spark.implicits._
    def unsupported(cause: Throwable = null): Nothing = throw new IllegalArgumentException(
      "unsupported statement (expected CREATE TABLE [AS] / CREATE [OR REPLACE] VIEW " +
        "/ INSERT INTO / DELETE FROM / UPDATE / MERGE INTO / ALTER TABLE " +
        "/ TRUNCATE TABLE / DROP TABLE / DROP VIEW / VACUUM / OPTIMIZE " +
        "/ DESCRIBE [HISTORY] / SHOW TABLES / SHOW CREATE TABLE / SHOW STATS " +
        s"/ ANALYZE TABLE / EXPLAIN / SELECT): ${stmt.take(80)}", cause)
    def need(ok: Boolean): Unit = if (!ok) unsupported()
    // the one-part name an identifier node carries
    def name(p: LogicalPlan): String = (p match {
      case u: UnresolvedIdentifier => u.nameParts
      case u: UnresolvedRelation => u.multipartIdentifier
      case u: UnresolvedTable => u.multipartIdentifier
      case u: UnresolvedTableOrView => u.multipartIdentifier
      case u: UnresolvedFunctionName => u.multipartIdentifier
      case _ => Nil
    }) match { case Seq(n) => n; case _ => unsupported() }
    def field(f: FieldName): String = f.name match { case Seq(n) => n; case _ => unsupported() }
    // an unnamed CHECK (<expr>): its original text
    def check(c: TableConstraint): String = c match {
      case k: CheckConstraint if k.userProvidedName == null &&
          k.userProvidedCharacteristic == ConstraintCharacteristic.empty => k.condition
      case _ => unsupported()
    }
    // the constraints of a table spec that has no other clause (USING,
    // OPTIONS, LOCATION, COMMENT, TBLPROPERTIES, ...)
    def constraints(spec: TableSpecBase): Seq[TableConstraint] = spec match {
      case s: UnresolvedTableSpec if s.copy(constraints = Nil) == UnresolvedTableSpec(
          Map.empty, None, OptionList(Nil), None, None, None, None, external = false, Nil) =>
        s.constraints
      case s: TableSpec if s == TableSpec(
          Map.empty, None, Map.empty, None, None, None, None, external = false, Nil) => Nil
      case _ => unsupported()
    }
    def run(f: Catalog => DataFrame) = Right(f)
    def done(op: String, t: String)(n: Catalog => Long) =
      Right((cat: Catalog) => status(spark, op, t, n(cat)))
    def did(op: String, t: String)(f: Catalog => Unit) = done(op, t) { cat => f(cat); 0L }
    // CREATE ... AS <query>: a table of the query's schema holding its rows
    def createAs(cat: Catalog, t: String, q: LogicalPlan): Long = {
      val df = query(spark, cat, q)
      cat.create(t, df.schema)
      cat.insert(t, df)
    }

    stmt match {
      case CloneStmt(dst, src) => done("clone", dst)(_.cloneTable(src, dst).toLong)
      case Erase(t, cond) => done("erase", t)(_.eraseWhere(t, expr(cond)))
      case Vacuum(t, n, unit) =>
        val hours = "HOURS".equalsIgnoreCase(unit)
        done(if (hours) "vacuum_hours" else "vacuum", t) { cat =>
          if (hours) cat.vacuumRetainHours(t, n.toLong)
          else cat.vacuum(t, Option(n).map(_.toInt).getOrElse(1))
          cat.versions(t).size.toLong
        }
      case Optimize(t, files, zcols, cond) =>
        val n = Option(files).map(_.toInt)
        if (zcols != null) did("optimize_zorder", t)(_.compactZOrder(t,
          zcols.split(",").toSeq.map(_.trim).filter(_.nonEmpty), n.getOrElse(8)))
        else if (cond != null) did("optimize_where", t)(_.compactWhere(t, expr(cond), n.getOrElse(1)))
        else did("optimize", t)(_.compact(t, n.getOrElse(1)))
      case History(t) => run(_.history(t).toDF("version", "operation", "n_files"))
      case Analyze(t) => run(_.analyze(t))
      case ShowStats(t) => run { cat =>
        // `stale` flags stats computed against an older snapshot than the
        // current head — the signal to re-ANALYZE after DML
        cat.statsOf(t).getOrElse(throw new IllegalArgumentException(
          s"no statistics for $t — run ANALYZE TABLE $t first"))
          .withColumn("stale",
            col("analyzed_version") < lit(cat.currentVersion(t)))
      }
      case RefreshMView(v) => done("refresh_materialized_view", v) { cat =>
        // full recompute of the stored definition into a fresh snapshot
        // (truncate + insert = two manifest commits, an honest refresh
        // history; the programmatic rollForward tier is the incremental
        // path for aggregate-shaped views). A failed recompute must not
        // leave the view empty: roll back to the pre-refresh snapshot.
        val df = query(spark, cat,
          spark.sessionState.sqlParser.parsePlan(cat.materializedViewSql(v)))
        val pre = cat.currentVersion(v)
        cat.truncate(v)
        try cat.insert(v, df)
        catch { case e: Throwable => cat.restoreVersion(v, pre); throw e }
      }
      case DropMView(v) => did("drop_materialized_view", v) { cat =>
        cat.dropMaterializedViewDef(v)
        cat.drop(v)
      }
      case CopyInto(t, path, fmt, quarantine) => done("copy_into", t) { cat =>
        val fmtName = Option(fmt).map(_.toLowerCase).getOrElse("parquet")
        require(quarantine == null || fmtName == "csv" || fmtName == "avro",
          s"WITH QUARANTINE is a csv/avro-decoder clause, got format $fmtName")
        fmtName match {
          case "csv" if quarantine != null =>
            cat.insertCsvQuarantine(t, quarantine, path)._1
          case "csv" => cat.insertCsv(t, path)
          case "json" => cat.insertJson(t, path)
          case "orc" => cat.insertOrc(t, path)
          case "avro" if quarantine != null =>
            cat.insertAvroQuarantine(t, quarantine, path)._1
          case "avro" => cat.insertAvro(t, path)
          case "parquet" =>
            cat.insert(t, spark.read.schema(cat.schema(t)).parquet(path))
          case other => throw new IllegalArgumentException(
            s"COPY INTO format must be csv/json/orc/avro/parquet, got $other")
        }
      }
      case CopyTo(t, path, fmt) => done("copy_to", t) { cat =>
        val df = cat.table(t)
        Option(fmt).map(_.toLowerCase).getOrElse("parquet") match {
          case "csv" =>
            df.write.mode("overwrite")
              .option("header", "true").option("escape", "\"").csv(path)
            // export audit: count what actually landed, read back with the
            // declared schema (not what the source query claimed).
            // multiLine: the writer quotes embedded newlines correctly;
            // without it the reader splits them into spurious records.
            spark.read.options(Map(
              "header" -> "true", "escape" -> "\"", "multiLine" -> "true"))
              .schema(df.schema).csv(path).count()
          case "avro" =>
            AvroCodec.writeAvro(df, path)
            AvroCodec.readAvro(spark, path, df.schema).count()
          case f @ ("json" | "orc" | "parquet") =>
            df.write.mode("overwrite").format(f).save(path)
            spark.read.schema(df.schema).format(f).load(path).count()
          case other => throw new IllegalArgumentException(
            s"COPY TO format must be csv/json/orc/avro/parquet, got $other")
        }
      }
      case _ =>
        val plan = try spark.sessionState.sqlParser.parsePlan(stmt)
          catch {
            // the parser's NON_LAST_*_CLAUSE_OMIT_CONDITION: say why, as
            // Catalog.mergeConditional does
            case e: ParseException if Option(e.getCondition).exists(_.startsWith("NON_LAST_")) =>
              throw new IllegalArgumentException("only the last WHEN [NOT] MATCHED clause may " +
                "omit its AND condition (an unconditional clause makes later ones unreachable)", e)
            case e: ParseException => unsupported(e)
          }
        plan match {
          case c: CreateTableAsSelect =>
            need(c.partitioning.isEmpty && c.writeOptions.isEmpty && !c.ignoreIfExists &&
              constraints(c.tableSpec).isEmpty)
            val t = name(c.name)
            done("create_as", t)(createAs(_, t, c.query))
          case c: CreateTable =>
            val cols = c.columns
            need(!c.ignoreIfExists && cols.map(_.name.toLowerCase).distinct.size == cols.size &&
              cols.forall(d => d.comment.isEmpty && d.generationExpression.isEmpty &&
                d.identityColumnSpec.isEmpty))
            val checks = constraints(c.tableSpec).map(check)
            val part = c.partitioning.map(p => (p.name, p.references.toSeq.map(_.fieldNames.toSeq))) match {
              case Seq() => None
              case Seq(("identity", Seq(Seq(p)))) => Some(p)
              case _ => unsupported()
            }
            // a column's DEFAULT is kept as its original SQL text
            val schema = StructType(cols.map(d => StructField(d.name, d.dataType, d.nullable,
              d.defaultValue.fold(Metadata.empty)(v =>
                new MetadataBuilder().putString(Catalog.DefaultKey, v.originalSQL).build()))))
            val t = name(c.name)
            did("create", t) { cat =>
              cat.create(t, schema, part)
              checks.foreach(cat.addCheck(t, _))
            }
          case m: CreateMaterializedViewAsSelect =>
            need(m.columns.isEmpty && m.partitioning.isEmpty && !m.ifNotExists &&
              constraints(m.tableSpec).isEmpty)
            val v = name(m.name)
            done("create_materialized_view", v) { cat =>
              // definition + backing table in one statement: materialize now,
              // serve the snapshot at table-scan cost until REFRESH re-runs it
              val n = createAs(cat, v, m.query)
              cat.defineMaterializedView(v, m.originalText)
              n
            }
          case v: CreateView =>
            need(v.userSpecifiedColumns.isEmpty && v.comment.isEmpty && v.collation.isEmpty &&
              v.properties.isEmpty && !v.allowExisting)
            val n = name(v.child)
            did("create_view", n) { cat =>
              // analyze now: reject an invalid or cyclic definition loudly
              query(spark, cat, v.query, path = List(n))
              cat.createView(n, v.originalText.get, orReplace = v.replace)
            }
          case i: InsertIntoStatement =>
            need(i.partitionSpec.isEmpty && i.userSpecifiedCols.isEmpty && !i.overwrite &&
              !i.ifPartitionNotExists && !i.byName)
            val t = name(i.table)
            // the row count comes back from the insert itself (parquet-footer
            // metadata of the files it wrote) — recounting the source would
            // re-execute it, which both doubles the work and can report a
            // DIFFERENT number for nondeterministic sources
            done("insert", t)(cat => cat.insert(t, positional(cat, t, query(spark, cat, i.query))))
          case o: OverwriteByExpression => // INSERT INTO t REPLACE WHERE <cond> <query>
            need(o.writeOptions.isEmpty && !o.isByName)
            val t = name(o.table)
            done("replace_where", t)(cat => cat.replaceWhere(t, Bridge.column(o.deleteExpr),
              positional(cat, t, query(spark, cat, o.query))))
          case d: DeleteFromTable => // no WHERE: the condition is TRUE
            val t = name(d.table)
            done("delete", t)(_.deleteRows(t, Bridge.column(d.condition)))
          case u: UpdateTable =>
            val t = name(u.table)
            val set = u.assignments.map(a => a.key match {
              case k: UnresolvedAttribute if k.nameParts.size == 1 =>
                (k.nameParts.head, Bridge.column(a.value))
              case _ => unsupported()
            })
            // no WHERE → every row matches (SQL semantics)
            done("update", t)(_.updateRows(t, u.condition.map(Bridge.column).getOrElse(lit(true)), set))
          // MERGE on one equi-key: the ANSI upsert-all form goes to
          // Catalog.merge, every other clause list to Catalog.mergeConditional
          case m: MergeIntoTable =>
            def aliased(p: LogicalPlan): (String, LogicalPlan) = p match {
              case s: SubqueryAlias => (s.alias, s.child)
              case r => (name(r), r)
            }
            val (ta, target) = aliased(m.targetTable)
            val (sa, source) = aliased(m.sourceTable)
            val t = name(target)
            need(m.notMatchedBySourceActions.isEmpty)
            val matched = m.matchedActions.map {
              case a: UpdateStarAction => Catalog.MatchedClause(a.condition.map(Bridge.column), delete = false)
              case a: DeleteAction => Catalog.MatchedClause(a.condition.map(Bridge.column), delete = true)
              case _ => unsupported()
            }
            val inserts = m.notMatchedActions.map {
              case a: InsertStarAction => a.condition.map(Bridge.column)
              case _ => unsupported()
            }
            val on = m.mergeCondition match {
              case eq: EqualTo => Seq(eq.left, eq.right).collect {
                case a: UnresolvedAttribute if a.nameParts.size == 2 => (a.nameParts.head, a.nameParts(1))
              }
              case _ => Nil
            }
            done("merge", t) { cat =>
              val (tk, sk) = on match {
                case Seq((lq, lk), (rq, rk)) if lq.equalsIgnoreCase(ta) && rq.equalsIgnoreCase(sa) => (lk, rk)
                case Seq((lq, lk), (rq, rk)) if lq.equalsIgnoreCase(sa) && rq.equalsIgnoreCase(ta) => (rk, lk)
                case _ => throw new IllegalArgumentException(
                  s"MERGE ON must equate the target and source keys, got ${m.mergeCondition.sql}")
              }
              // SQL identifiers are case-insensitive everywhere else in this
              // router (the alias match above included) — the key-name check
              // must be too, and the key handed to the catalog is resolved to
              // its canonical declared-schema spelling
              require(tk.equalsIgnoreCase(sk),
                s"MERGE routes to a single-key upsert; key must share a name on both sides ($tk vs $sk)")
              val key = cat.schema(t).fieldNames.find(_.equalsIgnoreCase(tk))
                .getOrElse(throw new IllegalArgumentException(s"MERGE key $tk not in schema of $t"))
              val src = query(spark, cat, source)
              if (m.withSchemaEvolution) {
                val have = cat.schema(t).fieldNames.map(_.toLowerCase).toSet
                src.schema.fields.filterNot(f => have(f.name.toLowerCase))
                  .foreach(f => cat.addColumn(t, f.name, f.dataType, "NULL"))
              }
              // the ANSI upsert-all form keeps its dedicated path
              if (matched == Seq(Catalog.MatchedClause(None, delete = false)) && inserts == Seq(None)) {
                val (u, i) = cat.merge(t, src, key); u + i
              } else {
                val (u, d, i) = cat.mergeConditional(t, src, key, matched, inserts, ta, sa); u + d + i
              }
            }
          case a: AddColumns =>
            need(a.columnsToAdd.forall(c =>
              c.path.isEmpty && c.nullable && c.comment.isEmpty && c.position.isEmpty))
            val t = name(a.table)
            did("add_column", t)(cat => a.columnsToAdd.foreach(c =>
              cat.addColumn(t, c.colName, c.dataType, c.default.fold("NULL")(_.originalSQL))))
          case a: AddCheckConstraint =>
            val c = check(a.checkConstraint)
            // the node's child filters the table by the negated check
            val t = name(a.child.collectLeaves().head)
            did("add_check", t)(_.addCheck(t, c))
          case r: RenameColumn =>
            val (t, from) = (name(r.table), field(r.column))
            did("rename_column", t)(_.renameColumn(t, from, r.newName))
          case a: AlterColumns => a.specs match {
            case Seq(s) if s.newDataType.isDefined &&
                s == AlterColumnSpec(s.column, s.newDataType, None, None, None, None, false) =>
              val (t, c) = (name(a.table), field(s.column))
              did("alter_column", t)(_.widenColumn(t, c, s.newDataType.get))
            case _ => unsupported()
          }
          case tr: TruncateTable =>
            val t = name(tr.table)
            did("truncate", t)(_.truncate(t))
          case d: DropTable =>
            need(!d.ifExists && !d.purge)
            val t = name(d.child)
            did("drop", t) { cat =>
              require(!cat.materializedViewExists(t),
                s"$t is a materialized view — use DROP MATERIALIZED VIEW $t")
              cat.drop(t)
            }
          case d: DropView =>
            need(!d.ifExists)
            val v = name(d.child)
            did("drop_view", v)(_.dropView(v))
          case s: ShowTables =>
            need(s.namespace == CurrentNamespace && s.pattern.isEmpty)
            run { cat =>
              val mvs = cat.materializedViews().toSet
              val ts = cat.tables().map(t =>
                (t, if (mvs(t)) "materialized_view" else "table",
                  cat.partitionColumn(t).getOrElse(""), cat.currentVersion(t)))
              val vs = cat.views().map(v => (v, "view", "", 0))
              (ts ++ vs).toDF("name", "kind", "partitioned_by", "version")
            }
          case s: ShowCreateTable =>
            need(!s.asSerde)
            val t = name(s.child)
            run { cat =>
              val cols = cat.schema(t).fields.map { f =>
                val nn = if (f.nullable) "" else " NOT NULL"
                s"  ${f.name} ${f.dataType.sql}$nn${cat.defaultOf(f).fold("")(d => s" DEFAULT $d")}"
              } ++ cat.checks(t).map(c => s"  CHECK ($c)")
              val part = cat.partitionColumn(t)
                .map(p => s"\nPARTITIONED BY ($p)").getOrElse("")
              Seq(s"CREATE TABLE $t (\n${cols.mkString(",\n")}\n)$part").toDF("ddl")
            }
          case d: DescribeRelation =>
            need(d.partitionSpec.isEmpty && !d.isExtended)
            val t = name(d.relation)
            run { cat =>
              cat.schema(t).fields.toSeq.map(f => (f.name, f.dataType.sql,
                if (cat.partitionColumn(t).contains(f.name)) "partition" else "",
                cat.defaultOf(f).orNull)).toDF("column", "type", "role", "dflt")
            }
          case s: ShowPartitions =>
            need(s.pattern.isEmpty)
            val t = name(s.table)
            run(_.partitions(t).sorted.toDF("partition"))
          case f: CreateUserDefinedFunction =>
            need(f.language == LanguageSQL && f.comment.isEmpty && f.isDeterministic.isEmpty &&
              f.containsSQL.isEmpty && !f.ignoreIfExists)
            val fn = name(f.child)
            val rt = f.returnTypeText
            val returns = if (f.isTableFunc) " RETURNS TABLE" + (if (rt.isEmpty) "" else s" ($rt)")
              else if (rt.isEmpty) "" else s" RETURNS $rt"
            val body = f.exprText.orElse(f.queryText).getOrElse(unsupported())
            val defText = s"(${f.inputParamText.getOrElse("")})$returns RETURN $body"
            did("create_function", fn) { cat =>
              require(f.replace || !cat.functionExists(fn), s"function $fn already exists")
              // a function is registered per session, where catalog names are
              // not bound: a body that reads one is a view's job
              val parser = spark.sessionState.sqlParser
              val plan = f.queryText.map(parser.parsePlan).getOrElse(
                Project(Seq(UnresolvedAlias(parser.parseExpression(body))), OneRowRelation()))
              mapNames(plan) { (t, _) =>
                catalogName(cat, t).foreach(c => throw new IllegalArgumentException(
                  s"function $fn reads the catalog ${if (cat.exists(c)) "table" else "view"} $c; " +
                    "a function body may not read catalog tables or views — define a view instead"))
                None
              }
              // validate NOW: the native registration parses and analyzes the
              // parameter list, RETURNS clause and body before anything persists
              spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $fn $defText")
              cat.defineFunction(fn, defText, orReplace = true)
            }
          case d: DropFunction =>
            need(!d.ifExists)
            val fn = name(d.child)
            did("drop_function", fn) { cat =>
              cat.dropFunction(fn)
              spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $fn")
            }
          case s: ShowFunctions =>
            need(s.namespace == CurrentNamespace && s.userScope && s.systemScope &&
              s.pattern.isEmpty)
            run(cat => cat.functions().map(f => (f, cat.functionSql(f))).toDF("name", "definition"))
          case e: ExplainCommand if isQuery(e.logicalPlan) =>
            // a bare EXPLAIN shows the formatted plan
            val mode = if (e.mode == SimpleMode) FormattedMode else e.mode
            run(cat => Seq(query(spark, cat, e.logicalPlan).queryExecution.explainString(mode))
              .toDF("plan"))
          case q if isQuery(q) => Left(q)
          case _ => unsupported()
        }
    }
  }
}
