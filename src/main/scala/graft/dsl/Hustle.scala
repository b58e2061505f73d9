package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The hustle-shaped query DSL (SURVEY.md §2.2–§2.5, §3.1), compiled onto
  * DataFrames so Catalyst supplies pushdown/pruning/join strategy.
  *
  * Reference surface being mirrored (public hustle API):
  * `select(*cols, where=, join=, order_by=, desc=, limit=, distinct=,
  * nest=)` with aggregates `h_sum/h_count/h_avg/h_min/h_max`, column
  * comparison operators building predicate trees, `&`/`|`/`~` combinators,
  * per-table `where` attribution, and **implicit GROUP BY**: when any
  * aggregate appears in the projection list, every non-aggregate projected
  * column becomes a grouping key — hustle's most distinctive semantic.
  */
object Hustle {

  /** A named table handle (hustle `Table`). */
  final case class GTable(name: String, df: DataFrame) {
    def apply(colName: String): TCol = TCol(this, colName)
    def star: Seq[Proj] = df.columns.toSeq.map(c => PlainCol(TCol(this, c)))
  }

  /** A column bound to its table — predicates built from it keep the
    * table attribution, which is how per-table `where` placement works.
    */
  final case class TCol(table: GTable, colName: String) {
    private[dsl] def col: Column = table.df(colName)

    def ===(v: Any): Pred = Pred(table, col === lit(v))
    def =!=(v: Any): Pred = Pred(table, col =!= lit(v))
    def <(v: Any): Pred = Pred(table, col < lit(v))
    def <=(v: Any): Pred = Pred(table, col <= lit(v))
    def >(v: Any): Pred = Pred(table, col > lit(v))
    def >=(v: Any): Pred = Pred(table, col >= lit(v))
    def in(vs: Any*): Pred = Pred(table, col.isin(vs: _*))
  }

  /** A single-table predicate tree (hustle restriction: a where expression
    * references exactly one table).
    */
  final case class Pred(table: GTable, cond: Column) {
    def &(other: Pred): Pred = combine(other, _ && _)
    def |(other: Pred): Pred = combine(other, _ || _)
    def unary_~ : Pred = Pred(table, !cond)
    private def combine(other: Pred, f: (Column, Column) => Column): Pred = {
      require(other.table.name == table.name,
        s"predicate mixes tables ${table.name} and ${other.table.name}; " +
          "pass one where-entry per table instead (hustle semantics)")
      Pred(table, f(cond, other.cond))
    }
  }

  /** Projection list entries: plain columns or aggregates (aggregates keep
    * their source table so aggregate-only selects still resolve it).
    */
  sealed trait Proj
  final case class PlainCol(c: TCol) extends Proj
  final case class AggCol(agg: Column, name: String, table: Option[GTable]) extends Proj

  import scala.language.implicitConversions
  implicit def tcolIsProj(c: TCol): Proj = PlainCol(c)

  // ---- the five reference aggregates ----
  def h_sum(c: TCol): Proj = AggCol(sum(c.col), s"sum_${c.colName}", Some(c.table))
  def h_count(): Proj = AggCol(count(lit(1)), "count", None)
  def h_avg(c: TCol): Proj = AggCol(avg(c.col), s"avg_${c.colName}", Some(c.table))
  def h_min(c: TCol): Proj = AggCol(min(c.col), s"min_${c.colName}", Some(c.table))
  def h_max(c: TCol): Proj = AggCol(max(c.col), s"max_${c.colName}", Some(c.table))

  /** The hustle `select`. Projections are positional varargs; everything
    * else is named, mirroring the reference's keyword arguments.
    *
    * Compilation: per-table `where` filters each table *before* any join
    * (reference semantics, and what hands Catalyst pushdown-ready scans);
    * `join` is the two-table equi-join on a column pair; implicit GROUP BY
    * kicks in when aggregates are present; `distinct`, `order_by`+`desc`,
    * `limit` map to their DataFrame counterparts (sort+limit compiles to
    * TakeOrderedAndProject — true distributed top-k; a sort of a small
    * aggregated result runs in one task, [[graft.plans.SmallSortStrategy]]).
    */
  def select(projections: Proj*)(
      where: Seq[Pred] = Seq.empty,
      join: Option[(TCol, TCol)] = None,
      orderBy: Seq[TCol] = Seq.empty,
      orderByNames: Seq[String] = Seq.empty, // result-column names (e.g. an
      // aggregate alias like "sum_qty") — hustle's order_by accepts any
      // projected column, not just source columns
      desc: Boolean = false,
      limit: Option[Int] = None,
      distinct: Boolean = false,
      nest: Option[(graft.sources.Catalog, String)] = None,
  ): DataFrame = {
    require(projections.nonEmpty, "select needs at least one projection")

    // 1. collect referenced tables (projection order, like the reference)
    val tables: Seq[GTable] = {
      val fromProj = projections.collect {
        case PlainCol(c) => c.table
        case AggCol(_, _, Some(t)) => t
      }
      val fromJoin = join.toSeq.flatMap(j => Seq(j._1.table, j._2.table))
      val fromWhere = where.map(_.table)
      (fromProj ++ fromJoin ++ fromWhere)
        .foldLeft(Vector.empty[GTable])((acc, t) =>
          if (acc.exists(_.name == t.name)) acc else acc :+ t)
    }

    // 2. per-table where, applied pre-join
    val filtered: Map[String, DataFrame] = tables.map { t =>
      val preds = where.filter(_.table.name == t.name).map(_.cond)
      t.name -> preds.foldLeft(t.df)((df, p) => df.filter(p))
    }.toMap

    // 3. join (hustle: exactly one two-table equi-join) or single table
    val base: DataFrame = join match {
      case Some((lc, rc)) =>
        filtered(lc.table.name).join(
          filtered(rc.table.name),
          filtered(lc.table.name)(lc.colName) === filtered(rc.table.name)(rc.colName))
      case None =>
        require(tables.size == 1,
          s"${tables.size} tables referenced but no join given")
        filtered(tables.head.name)
    }
    graft.GraftExtensions.install(base.sparkSession)

    // 4. implicit GROUP BY
    val aggs = projections.collect { case a: AggCol => a }
    val plains = projections.collect { case PlainCol(c) => c }
    var out =
      if (aggs.isEmpty) base.select(plains.map(c => base(c.colName)): _*)
      else {
        val aggCols = aggs.map(a => a.agg.as(a.name))
        if (plains.isEmpty) base.agg(aggCols.head, aggCols.tail: _*)
        else base.groupBy(plains.map(c => base(c.colName)): _*)
          .agg(aggCols.head, aggCols.tail: _*)
      }

    // 5. distinct / order_by / limit
    if (distinct) out = out.distinct()
    val sortNames = orderBy.map(_.colName) ++ orderByNames
    if (sortNames.nonEmpty) {
      val sortCols = sortNames.map(n => if (desc) out(n).desc else out(n))
      out = out.orderBy(sortCols: _*)
    }
    limit.foreach(n => out = out.limit(n))
    // nest=: materialize the result as a new catalog table (reference
    // semantics: the result IS a table, eagerly written)
    nest match {
      case Some((cat, name)) => cat.nest(name, out)
      case None => out
    }
  }
}
