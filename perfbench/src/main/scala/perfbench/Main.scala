package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM.
  *
  * Usage: `perfbench.Main --workload <name> --inputs <dir> --out <dir>
  * --seconds <s> --trace <0|1> --setups <k> --cpus <n>`
  *
  * 1. Set up `setups` times (session and inputs); all but the last
  *    session are stopped again, so this part of the set-up time is a
  *    median. Then warm up once by priming: run the plan's first cycle
  *    untimed (static workloads write each op's output for the checks).
  * 2. One untraced window: after the workload's untimed reset, a single
  *    closed-loop client runs whole cycles of the seeded plan, about
  *    `seconds` worth (see `cyclesPerWindow`). Every cycle holds the
  *    workload's whole op mix.
  * 3. With `--trace 1`, a second window on the same inputs with spans and
  *    listeners on, which gives the per-layer numbers, and a third,
  *    untraced one; the difference between the last two is the tracing
  *    overhead.
  * 4. Untimed checks: each workload writes what its oracles still need.
  *
  * Everything is written to `<out>/results.json` (and `<out>/spans.json`).
  */
object Main {
  /** The SQL configs of `graft.Bench.buildSession`. */
  def sqlConfs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val launchS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val inputs = opts("inputs")
    val out = Paths.get(opts("out"))
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val setups = opts("setups").toInt
    val cpus = opts("cpus")
    val work = out.resolve("work")
    Files.createDirectories(work)
    val wl = Workload(opts("workload"), inputs, Json.read(s"$inputs/plan.json"), work)

    val confs = sqlConfs(cpus) ++ Seq(
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString) ++
      (if (trace) Seq("spark.sql.queryExecutionListeners" -> classOf[PhaseListener].getName)
       else Seq.empty)
    def session(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cpus]")
      confs.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    var spark: SparkSession = null
    // priming ops: a failure here shows again, recorded, when the window
    // runs the same op
    def untimed(op: JsonNode): Unit = {
      try wl.run(op, new Tracer(false))
      catch { case e: Exception => note(s"untimed op failed: ${e.getClass.getName}: ${e.getMessage}") }
      Workload.unpin(spark)
    }

    val setupS = (1 to setups).map { k =>
      val t0 = System.nanoTime()
      spark = session()
      val tSession = System.nanoTime()
      wl.setup(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      note(f"setup $k: session ${(tSession - t0) / 1e9}%.2f s, inputs ${(System.nanoTime() - tSession) / 1e9}%.2f s")
      if (k < setups) spark.stop()
      dt
    }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble

    def runOp(op: JsonNode, t: Tracer, id: String): Map[String, Any] = {
      val kind = op.get("kind").asText
      if (t.on) spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val (result, err) =
        try (t.inOp(id)(t.span(s"op/$kind")(wl.run(op, t))), None)
        catch { case e: Throwable => (null, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val ms = (System.nanoTime() - t0) / 1e6
      Workload.unpin(spark) // untimed
      Map("id" -> id, "op" -> op, "kind" -> kind,
        "instance" -> Option(op.get("instance")).map(_.asText).getOrElse(kind),
        "ms" -> ms, "error" -> err, "result" -> result)
    }

    // A window runs a fixed number of whole cycles: `seconds` over the
    // workload's nominal warm cycle time on the reference host (4 cores),
    // so every run and every commit times the same work. Cycle 0 primes the
    // process; every window runs cycles 1, 2, ..., so windows compare.
    val cyclesPerWindow = math.max(1, math.ceil(seconds / wl.nominalCycleS).toInt)

    def window(tag: String, traced: Boolean): (Map[String, Any], Tracer, SparkProbe) = {
      val recs = ArrayBuffer[Map[String, Any]]()
      // untimed and untraced, but recorded: the checks replay them
      wl.reset().foreach(op => recs += runOp(op, new Tracer(false), s"$tag.pre${recs.size}") +
        ("timed" -> false))
      System.gc()
      val t = new Tracer(traced)
      val probe = new SparkProbe
      if (traced) {
        spark.sparkContext.addSparkListener(probe)
        Probe.reset(t)
        Probe.active = true
      }
      val (cpu0, gc0, t0) = (os.getProcessCpuTime, gcMs(), System.nanoTime())
      (1 to cyclesPerWindow).foreach { c =>
        val ops = wl.cycle(c).getOrElse(throw new IllegalStateException(s"plan has no cycle $c"))
        ops.foreach(op => recs += runOp(op, t, s"$tag.op${recs.size}") + ("timed" -> true))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, gc) = ((os.getProcessCpuTime - cpu0) / 1e9, gcMs() - gc0)
      if (traced) {
        PerfbenchAccess.drainListenerBus(spark.sparkContext)
        Probe.active = false
        spark.sparkContext.removeSparkListener(probe)
        t.resolve()
      }
      (Map("records" -> recs.toSeq, "wall_s" -> wall, "cycles" -> cyclesPerWindow,
        "cpu_s" -> cpu, "gc_ms" -> gc, "stats" -> wl.windowStats()), t, probe)
    }

    val checks = out.resolve("checks")
    Files.createDirectories(checks)
    val primeS = {
      val t0 = System.nanoTime()
      wl.prime(checks, untimed)
      Workload.unpin(spark)
      (System.nanoTime() - t0) / 1e9
    }
    note(f"primed in $primeS%.2f s")

    val loadStart = os.getSystemLoadAverage
    val (untraced, _, _) = window("w1", traced = false)
    val peakRssMb = vmHwmMb()
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"), "launch_s" -> launchS, "setup_s_each" -> setupS,
      "prime_s" -> primeS, "peak_rss_mb" -> peakRssMb, "untraced" -> untraced)

    if (trace) {
      val (traced, t, probe) = window("w2", traced = true)
      val layerStats = wl.layerStats()
      // the overhead baseline: an untraced window after the traced one, so
      // both ran their ops warm (the first window still warmed some up)
      val (after, _, _) = window("w3", traced = false)
      result("traced") = traced
      result("untraced_after") = after
      result("layers") = Layers.metrics(t, probe, traced, after, cpus.toInt) ++ layerStats
      result("streaming_events") = probe.progress.size
      Files.writeString(out.resolve("spans.json"), Json.write(t.toJson))
    }

    note(s"windows done")
    val executed = Seq("untraced", "traced", "untraced_after").flatMap(result.get)
      .flatMap(_.asInstanceOf[Map[String, Any]]("records").asInstanceOf[Seq[Map[String, Any]]])
    result("check") = wl.check(checks, executed)
    result("env") = Map(
      "cpus" -> cpus, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "load_avg_start" -> loadStart, "load_avg_end" -> os.getSystemLoadAverage,
      "spark_version" -> spark.version, "sql_confs" -> sqlConfs(cpus).toMap)
    Files.writeString(out.resolve("results.json"), Json.write(result))
    note("checks written")
    spark.stop()
  }

  def note(msg: String): Unit = System.err.println(s"[perfbench ${java.time.LocalTime.now}] $msg")

  /** Peak resident set size of this process so far (Linux `VmHWM`). */
  def vmHwmMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) -1.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** Per-layer metrics of a traced window. Span-based `*_ms` values are mean
  * self times per span (duration minus what child spans cover); Spark task
  * times and byte counts are totals over the window.
  */
object Layers {
  val modules = Seq("relational", "events", "dedup", "similarity", "textops", "trainingdata")

  def metrics(t: Tracer, p: SparkProbe, traced: Map[String, Any],
      untraced: Map[String, Any], cores: Int): Map[String, Double] = {
    val self = t.selfUs
    def spans(pred: String => Boolean) = t.spans.filter(s => pred(s.name))
    def meanSelfMs(pred: String => Boolean): Double = {
      val ss = spans(pred)
      if (ss.isEmpty) 0.0 else ss.map(s => self(s.id)).sum / ss.size / 1000.0
    }
    def named(n: String) = meanSelfMs(_ == n)
    val wallMs = traced("wall_s").asInstanceOf[Double] * 1000
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    m("dsl.select_ms") = named("dsl.select")
    m("dsl.calls") = spans(_ == "dsl.select").size
    m("dsl.exec_ms") = named("dsl.exec")
    val q = math.max(1L, Probe.queries.get)
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"catalyst.${ph}_ms") = Probe.phaseMs.getOrDefault(ph, 0.0) / q
    }
    m("catalyst.queries") = Probe.queries.get.toDouble
    m("operators.build_ms") = meanSelfMs(_.startsWith("operators.build/"))
    m("operators.exec_ms") = meanSelfMs(_.startsWith("operators.exec/"))
    modules.foreach { mod =>
      m(s"operators.$mod.build_ms") = named(s"operators.build/$mod")
      m(s"operators.$mod.exec_ms") = named(s"operators.exec/$mod")
    }
    val prog = p.progress.toSeq
    def dur(k: String): Double =
      if (prog.isEmpty) 0.0
      else prog.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / prog.size
    m("streaming.replay_ms") = named("streaming.replay")
    m("streaming.microbatches") = prog.size
    m("streaming.batch_ms") = dur("triggerExecution")
    m("streaming.add_batch_ms") = dur("addBatch")
    m("streaming.query_planning_ms") = dur("queryPlanning")
    m("streaming.wal_commit_ms") = dur("walCommit")
    m("streaming.state_rows") =
      if (prog.isEmpty) 0.0
      else prog.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).sum / prog.size
    Seq("insert", "merge", "delete", "compact", "table", "scan").foreach { k =>
      m(s"catalog.${k}_ms") = named(s"catalog.$k")
    }
    // table-state counts; CatalogIngest.layerStats fills them in
    Seq("versions", "live_files", "files_written", "bytes_written", "files_read_per_read",
      "rows_scanned_per_result_row").foreach(k => m(s"catalog.$k") = 0.0)
    m("spark.jobs") = p.jobs
    m("spark.job_ms") = named("spark.job")
    m("spark.stages") = p.stages
    m("spark.tasks") = p.tasks
    m("spark.empty_task_ratio") = p.emptyTasks.toDouble / math.max(1L, p.tasks)
    m("spark.task_run_ms") = p.runMs
    m("spark.task_cpu_ms") = p.cpuNs / 1e6
    m("spark.cpu_busy_ratio") = p.cpuNs / 1e6 / (wallMs * cores)
    m("spark.sched_delay_ms") = p.schedMs
    m("spark.task_deser_ms") = p.deserMs
    m("spark.gc_ms") = traced("gc_ms").asInstanceOf[Double]
    m("spark.shuffle_write_bytes") = p.shuffleW
    m("spark.shuffle_read_bytes") = p.shuffleR
    m("spark.spill_bytes") = p.spill
    m("spark.input_bytes") = p.inputBytes
    m("spark.peak_exec_mem_mb") = p.peakExecMem / 1048576.0
    // tracing overhead: traced minus untraced window on the same inputs
    def timed(w: Map[String, Any]) =
      w("records").asInstanceOf[Seq[Map[String, Any]]].filter(_("timed") == true)
    def p50(w: Map[String, Any]): Double = {
      val ms = timed(w).map(_("ms").asInstanceOf[Double]).sorted
      if (ms.isEmpty) 0.0 else ms(ms.size / 2)
    }
    def rate(w: Map[String, Any]): Double = timed(w).size / w("wall_s").asInstanceOf[Double]
    m("trace.spans") = t.spans.size
    m("trace.overhead_op_p50_ms") = p50(traced) - p50(untraced)
    m("trace.overhead_ops_per_s") = rate(traced) - rate(untraced)
    m.toMap
  }
}
