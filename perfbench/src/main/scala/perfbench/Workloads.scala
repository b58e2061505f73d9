package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{Q, SparkEntry, Tables}
import graft.dsl.Hustle
import graft.dsl.Hustle._
import graft.sources.Catalog

/** A seeded workload: a sequence of cycles of ops read from the generated
  * plan, run by one closed-loop client.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Untimed: restores the state every window starts from; returns ops to
    * run (untimed, recorded for the checks) before the window's cycles.
    */
  def reset(): Seq[JsonNode] = Seq.empty
  protected def plan: JsonNode
  /** Cycle `i` of the generated plan: ops covering the workload's whole mix. */
  def cycle(i: Int): Option[Seq[JsonNode]] = {
    val cs = plan.get("cycles")
    if (i < cs.size) Some(Workload.array(cs.get(i))) else None
  }
  /** Warm wall time of one cycle on the reference host (4 cores). */
  def nominalCycleS: Double
  /** Runs one op; returns what the oracle checks for it inline (catalog
    * ops), or null when the output is checked after the windows.
    */
  def run(op: JsonNode, t: Tracer): Any
  /** Part of set-up, untimed: one pass over cycle 0, which runs every op
    * of the mix once, so the windows time warm ops. `untimed` runs an op
    * and logs (does not throw) its failure: the window records it again.
    */
  def prime(checks: Path, untimed: JsonNode => Unit): Unit = cycle(0).toSeq.flatten.foreach(untimed)
  /** Untimed, after the windows: writes what the oracles compare. */
  def check(outDir: Path, executed: Seq[Map[String, Any]]): Map[String, Any]
  /** Workload state at the end of a window (untimed). */
  def windowStats(): Map[String, Double] = Map.empty
  /** Extra per-layer numbers of the traced window. */
  def layerStats(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, inputs: String, plan: JsonNode, workDir: Path): Workload = name match {
    case "events_olap" => new EventsOlap(inputs, plan)
    case "catalog_ingest" => new CatalogIngest(inputs, plan, workDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Module of each registered query row, for the per-module split. */
  lazy val moduleOf: Map[String, String] = Seq(
    "relational" -> graft.operators.Relational.queries,
    "events" -> graft.operators.EventsOps.queries,
    "dedup" -> graft.operators.Dedup.queries,
    "similarity" -> graft.operators.Similarity.queries,
    "textops" -> graft.operators.TextOps.queries,
    "trainingdata" -> graft.operators.TrainingData.queries,
    "streaming" -> graft.streaming.StreamingOps.queries,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  lazy val rows: Map[String, Q] = SparkEntry.allQ.map(q => q.name -> q).toMap

  /** The noop-sink materialization `Bench` times: every projected column
    * is computed, nothing is collected.
    */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def array(n: JsonNode): Seq[JsonNode] = (0 until n.size).map(n.get)

  /** Drops what an op pinned (localCheckpoints) so later ops do not run
    * under its memory.
    */
  def unpin(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
}

/** Registered query rows and DSL templates over static inputs: outputs
  * depend only on the instance, so each distinct instance's output is
  * written once, while priming, for the oracle compare.
  */
abstract class StaticWorkload(inputs: String) extends Workload {
  protected var spark: SparkSession = _

  def runRow(name: String, t: Tracer): Any = {
    val q = Workload.rows(name)
    val module = Workload.moduleOf.getOrElse(name, "other")
    if (module == "streaming")
      t.span("streaming.replay")(Workload.materialize(q.run(spark, inputs)))
    else {
      val df = t.span(s"operators.build/$module")(q.run(spark, inputs))
      t.span(s"operators.exec/$module")(Workload.materialize(df))
    }
    null
  }

  def rebuild(op: JsonNode): DataFrame = Workload.rows(op.get("row").asText).run(spark, inputs)

  private val checked = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()

  /** Writes one instance's output for the oracle compare. */
  private def checkOne(outDir: Path, inst: String, op: JsonNode): Unit = {
    val kind = op.get("kind").asText
    val meta =
      if (kind == "dsl") Map("template" -> op.get("template").asText, "params" -> op.get("params"))
      else Map("oracle" -> Workload.rows(op.get("row").asText).oracle.orNull)
    val err = try {
      rebuild(op).coalesce(1).write.mode("overwrite").parquet(outDir.resolve(inst).toString)
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    checked.synchronized {
      checked(inst) = Map("instance" -> inst, "kind" -> kind, "error" -> err) ++ meta
    }
  }

  // Priming runs each instance once, three at a time, writing its output
  // where the checks read it: the inputs are static, so every op of an
  // instance computes the same output, and no separate check pass is needed.
  override def prime(checks: Path, untimed: JsonNode => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try cycle(0).toSeq.flatten
      .map(op => pool.submit(new Runnable {
        def run(): Unit = checkOne(checks, op.get("instance").asText, op)
      }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def check(outDir: Path, executed: Seq[Map[String, Any]]): Map[String, Any] = {
    executed.foreach { r =>
      val inst = r("instance").toString
      if (!checked.contains(inst)) checkOne(outDir, inst, r("op").asInstanceOf[JsonNode])
    }
    Map("manifest" -> checked.values.toSeq)
  }
}

final class EventsOlap(inputs: String, protected val plan: JsonNode)
    extends StaticWorkload(inputs) {
  private var tables: Map[String, GTable] = Map.empty
  val nominalCycleS = 5.0

  def setup(s: SparkSession): Unit = {
    spark = s
    tables = Map(
      "events" -> GTable("events", Tables.events(s, inputs)),
      "lineitem" -> GTable("lineitem", Tables.lineitem(s, inputs)),
      "orders" -> GTable("orders", Tables.orders(s, inputs)),
      "customer" -> GTable("customer", Tables.customer(s, inputs)),
      "part" -> GTable("part", Tables.part(s, inputs)))
  }

  def run(op: JsonNode, t: Tracer): Any = op.get("kind").asText match {
    case "dsl" =>
      val df = t.span("dsl.select")(Templates.build(op.get("template").asText, op.get("params"), tables))
      t.span("dsl.exec")(Workload.materialize(df))
      null
    case _ => runRow(op.get("row").asText, t)
  }

  override def rebuild(op: JsonNode): DataFrame =
    if (op.get("kind").asText == "dsl")
      Templates.build(op.get("template").asText, op.get("params"), tables)
    else super.rebuild(op)
}

/** DSL templates: each mirrors one oracle SQL string in `oracle.py`. */
object Templates {
  private def at(d: LocalDate) = d.atStartOfDay

  def build(name: String, p: JsonNode, t: Map[String, GTable]): DataFrame = {
    val (ev, li, or, cu, pa) =
      (t("events"), t("lineitem"), t("orders"), t("customer"), t("part"))
    def s(k: String) = p.get(k).asText
    def d(k: String) = p.get(k).asDouble
    name match {
      case "t01_events_filter" =>
        Hustle.select(ev("event_id"), ev("user_id"), ev("value"))(
          where = Seq(ev("event_type") === s("et") & ev("value") > d("v")),
          orderBy = Seq(ev("event_id")), limit = Some(100))
      case "t02_type_counts" =>
        Hustle.select(ev("event_type"), h_count(), h_sum(ev("value")))(
          where = Seq(ev("user_id") < p.get("u").asLong), orderBy = Seq(ev("event_type")))
      case "t03_user_top" =>
        Hustle.select(ev("user_id"), h_count(), h_max(ev("value")))(
          where = Seq(ev("event_type") === s("et")),
          orderByNames = Seq("count", "user_id"), desc = true, limit = Some(20))
      case "t04_pricing_summary" =>
        Hustle.select(li("l_returnflag"), li("l_linestatus"), h_sum(li("l_quantity")),
          h_avg(li("l_extendedprice")), h_count())(
          where = Seq(li("l_shipdate") <= at(LocalDate.parse(s("day")))),
          orderBy = Seq(li("l_returnflag"), li("l_linestatus")))
      case "t05_segment_revenue" =>
        val y = p.get("year").asInt
        Hustle.select(cu("c_nationkey"), h_sum(or("o_totalprice")), h_count())(
          where = Seq(cu("c_mktsegment") === s("seg"),
            or("o_orderdate") >= at(LocalDate.of(y, 1, 1)) &
              or("o_orderdate") < at(LocalDate.of(y + 1, 1, 1))),
          join = Some((or("o_custkey"), cu("c_custkey"))), orderBy = Seq(cu("c_nationkey")))
      case "t06_brand_qty" =>
        Hustle.select(pa("p_brand"), h_count(), h_sum(li("l_quantity")))(
          where = Seq(pa("p_type") === s("ptype") & pa("p_size") < p.get("size").asInt),
          join = Some((li("l_partkey"), pa("p_partkey"))), orderBy = Seq(pa("p_brand")))
      case "t07_user_events" =>
        val users = Workload.array(p.get("users")).map(_.asLong)
        Hustle.select(ev("event_id"), ev("ts"), ev("event_type"))(
          where = Seq(ev("user_id").in(users: _*)), orderBy = Seq(ev("event_id")))
      case "t08_type_range" =>
        val day = p.get("day").asInt
        Hustle.select(ev("event_type"), h_min(ev("value")), h_max(ev("value")), h_count())(
          where = Seq(ev("ts") >= at(LocalDate.of(2024, 1, day)) &
            ev("ts") < at(LocalDate.of(2024, 1, day + 5))),
          orderBy = Seq(ev("event_type")))
    }
  }
}

/** Writes beside reads on a day-partitioned catalog table: the seeded log
  * of inserts, merges, deletes and compactions, interleaved with
  * partition-pruned DSL reads over `Catalog.table` and time-travel reads
  * over `Catalog.tableAt`. Each window starts from a fresh table holding
  * the base rows, replays cycle 0 untimed and then times cycles 1, 2, ...,
  * so every window times the table in the same states.
  */
final class CatalogIngest(inputs: String, protected val plan: JsonNode, workDir: Path)
    extends Workload with AdaptiveSparkPlanHelper {
  private val table = "ev"
  val nominalCycleS = 3.5
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("day", StringType)))
  private var spark: SparkSession = _
  private var batches: Map[Int, java.util.List[Row]] = Map.empty
  private var cat: Catalog = _
  private var warehouse: Path = _
  private var resets = 0
  // version after each write of the current window, the base insert first
  private val versions = scala.collection.mutable.ArrayBuffer[Int]()
  private var filesRead, rowsScanned, resultRows, reads = 0L
  private var baseFiles = (0L, 0L)

  def setup(s: SparkSession): Unit = {
    spark = s
    val js = Json.read(s"$inputs/catalog_batches.json")
    batches = js.fieldNames.asScala.map { b =>
      b.toInt -> Workload.array(js.get(b)).map { r =>
        Row(r.get(0).asLong, r.get(1).asLong, r.get(2).asText, r.get(3).asDouble, r.get(4).asText)
      }.asJava
    }.toMap
    fresh()
  }

  override def reset(): Seq[JsonNode] = { fresh(); cycle(0).toSeq.flatten }

  private def fresh(): Unit = {
    resets += 1
    warehouse = workDir.resolve(s"warehouse-$resets")
    cat = new Catalog(spark, warehouse.toString)
    cat.create(table, schema, Some("day"))
    cat.insert(table, frame(0))
    versions.clear()
    versions += cat.currentVersion(table)
    filesRead = 0; rowsScanned = 0; resultRows = 0; reads = 0
    baseFiles = treeStats(warehouse)
  }

  private def frame(b: Int): DataFrame = spark.createDataFrame(batches(b), schema)

  private def readRows(df: DataFrame, t: Tracer, pruned: Boolean): Seq[Seq[Any]] = {
    val rows = t.span("catalog.scan")(df.collect()).toSeq.map(_.toSeq)
    if (t.on && pruned) { // untimed: files and rows the pruned scans actually read
      val scans = collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      filesRead += scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      rowsScanned += scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      resultRows += rows.size
      reads += 1
    }
    rows
  }

  def run(op: JsonNode, t: Tracer): Any = {
    val kind = op.get("kind").asText
    val result = kind match {
      case "insert" =>
        Seq(t.span("catalog.insert")(cat.insert(table, frame(op.get("batch").asInt))))
      case "merge" =>
        val (m, n) = t.span("catalog.merge")(cat.merge(table, frame(op.get("batch").asInt), "event_id"))
        Seq(m, n)
      case "delete" =>
        val cond = col("day") === op.get("day").asText &&
          col("event_type") === op.get("event_type").asText &&
          col("value") > op.get("min_value").asDouble
        Seq(t.span("catalog.delete")(cat.deleteRows(table, cond)))
      case "compact" =>
        t.span("catalog.compact")(cat.compact(table))
        Seq.empty
      case "read" =>
        val tb = GTable(table, t.span("catalog.table")(cat.table(table)))
        val df = t.span("dsl.select")(Hustle.select(
          tb("event_type"), h_count(), h_sum(tb("value")), h_max(tb("value")))(
          where = Seq(tb("day") === op.get("day").asText), orderBy = Seq(tb("event_type"))))
        readRows(df, t, pruned = true)
      case "read_at" =>
        val v = versions(math.max(0, versions.size - op.get("back").asInt))
        val tb = GTable(table, t.span("catalog.table")(cat.tableAt(table, v)))
        val df = t.span("dsl.select")(Hustle.select(
          tb("event_type"), h_count(), h_sum(tb("value")))(orderBy = Seq(tb("event_type"))))
        readRows(df, t, pruned = false)
    }
    if (Set("insert", "merge", "delete", "compact")(kind)) versions += cat.currentVersion(table)
    result
  }

  private def treeStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  /** Warehouse footprint and table state at the end of the window. */
  override def windowStats(): Map[String, Double] = {
    val live = cat.table(table).count()
    val (files, bytes) = treeStats(warehouse)
    val all = {
      val s = Files.walk(warehouse)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    Map("live_rows" -> live.toDouble, "files" -> files.toDouble, "data_bytes" -> bytes.toDouble,
      "stored_bytes_per_row" -> all.toDouble / math.max(1L, live),
      "versions" -> cat.currentVersion(table).toDouble,
      "live_files" -> cat.history(table).lastOption.map(_._3.toDouble).getOrElse(0.0))
  }

  override def layerStats(): Map[String, Double] = {
    val (f, b) = treeStats(warehouse)
    val st = windowStats()
    Map(
      "catalog.versions" -> st("versions"),
      "catalog.live_files" -> st("live_files"),
      "catalog.files_written" -> (f - baseFiles._1).toDouble,
      "catalog.bytes_written" -> (b - baseFiles._2).toDouble,
      "catalog.files_read_per_read" -> filesRead.toDouble / math.max(1L, reads),
      "catalog.rows_scanned_per_result_row" -> rowsScanned.toDouble / math.max(1L, resultRows))
  }

  def check(outDir: Path, executed: Seq[Map[String, Any]]): Map[String, Any] = {
    val err = try {
      cat.table(table).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve("final_table").toString)
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    Map("final_error" -> err)
  }
}
