package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds. `parent` is -1 for
  * an op's root span; spans reported by listeners (Catalyst phases, Spark
  * jobs) get their parent by time containment when the window closes.
  */
final case class Span(id: Int, var parent: Int, var op: String, name: String,
    startUs: Double, endUs: Double) {
  def durUs: Double = endUs - startUs
}

/** Records spans around the benchmark's calls into each engine layer. When
  * tracing is off, `span` just runs its body.
  */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var op = ""
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000.0

  def nowUs: Double = t0Us + (System.nanoTime() - t0Nanos) / 1e3

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val start = nowUs
      // reserve the id; the span is filled in when it ends
      val id = synchronized { spans += null; spans.size - 1 }
      stack.push(id)
      try body
      finally {
        stack.pop()
        val s = Span(id, stack.headOption.getOrElse(-1), op, name, start, nowUs)
        synchronized { spans(id) = s }
      }
    }

  def inOp[T](opId: String)(body: => T): T = { op = opId; body }

  /** Adds a leaf span reported by a listener, parented by containment;
    * `op` is the op id when the listener knows it (a Spark job's group).
    */
  def external(name: String, startUs: Double, endUs: Double, op: String = ""): Unit =
    if (on && endUs >= startUs)
      synchronized { spans += Span(spans.size, -2, op, name, startUs, endUs) }

  /** Parents every listener-reported span under the innermost benchmark
    * span that contains its midpoint (ms-resolution listener clocks).
    */
  def resolve(): Unit = {
    val own = spans.filter(_.parent != -2).sortBy(_.startUs)
    spans.filter(_.parent == -2).foreach { s =>
      val mid = (s.startUs + s.endUs) / 2
      val hits = own.filter(o => o.startUs <= mid && mid <= o.endUs &&
        (s.op.isEmpty || o.op == s.op))
      if (hits.isEmpty) s.parent = -1
      else {
        val inner = hits.minBy(_.durUs)
        s.parent = inner.id
        s.op = inner.op
      }
    }
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover (clipped to the span).
    */
  def selfUs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Seq.empty)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (curA, curB) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.durUs - covered)
    }.toMap
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_us" -> s.startUs, "end_us" -> s.endUs))
}

/** Process-wide sink for listener callbacks; only records while a traced
  * window is open.
  */
object Probe {
  @volatile var tracer: Tracer = new Tracer(false)
  @volatile var active = false
  val queries = new java.util.concurrent.atomic.AtomicLong()
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def reset(t: Tracer): Unit = {
    tracer = t
    queries.set(0)
    phaseMs.clear()
  }
}

/** Catalyst phase times of every query execution, including those of
  * child sessions (registered through `spark.sql.queryExecutionListeners`).
  */
final class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Probe.active) {
    Probe.queries.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, p) =>
      Probe.phaseMs.merge(phase, p.durationMs.toDouble, (a: Double, b: Double) => a + b)
      Probe.tracer.external(s"catalyst.$phase", p.startTimeMs * 1000.0, p.endTimeMs * 1000.0)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Jobs, stages and task metrics, plus streaming progress events (which
  * reach the SparkContext's bus from child sessions as `onOtherEvent`).
  */
final class SparkProbe extends SparkListener {
  val jobStart = mutable.Map[Int, (Long, String)]()
  var jobs, stages, tasks, emptyTasks = 0L
  var runMs, cpuNs, schedMs, deserMs, shuffleW, shuffleR, spill, inputBytes = 0L
  var peakExecMem = 0L
  val progress = ArrayBuffer[StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    // the op id set as job group before each op; jobs of streaming child
    // sessions carry their query's own group and are placed by time alone
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.matches("w\\d+\\.op\\d+")).getOrElse("")
    jobStart(e.jobId) = (e.time, group)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      Probe.tracer.external("spark.job", t0 * 1000.0, e.time * 1000.0, group)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) emptyTasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      deserMs += m.executorDeserializeTime
      val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
      schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized { progress += p.progress }
    case _ =>
  }
}
