package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload. `metrics` holds the per-op layer
  * figures: layer-call times are always recorded (two clock reads per
  * call); scheduler, Catalyst and GC figures only in a traced run. */
final class OpRecord(val id: Int, val kind: String, val name: String,
                     val family: String) {
  var startMs = 0.0
  var ms = 0.0
  var ok = true
  var error: String = null
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def add(key: String, v: Double): Unit = metrics(key) = metrics.getOrElse(key, 0.0) + v

  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
    "family" -> family, "start_ms" -> startMs, "ms" -> ms, "ok" -> ok,
    "error" -> error, "metrics" -> metrics)
}

/** A span of the traced run: an op, a layer call inside it, or a Spark
  * job. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, op: Int, name: String,
                      start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "start" -> start, "end" -> end)
}

/** Runs a workload's ops one at a time on the calling thread and records
  * their latency and outcome. With `trace` on it also registers a
  * SparkListener and a QueryExecutionListener, tags every job with the op
  * id through a thread-local property, keeps all spans in memory, and
  * after each op waits for the listener bus to drain before it closes the
  * op's figures. The time spent in that bookkeeping is recorded as
  * `trace.overhead_ms`; it is outside the op's latency but inside the
  * run's wall clock. */
final class Recorder(spark: SparkSession, val trace: Boolean, cores: Int) {
  val ops: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer.empty
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val sc = spark.sparkContext
  private val spanSeq = new AtomicLong()
  private var current: OpRecord = null
  private var parentSpan: String = null

  // nanoTime → epoch ms, so listener event times and client spans share a clock
  private val epochAt0 = System.currentTimeMillis().toDouble
  private val nanoAt0 = System.nanoTime()
  def wallMs(nano: Long): Double = epochAt0 + (nano - nanoAt0) / 1e6

  private final class Agg {
    var jobs, stages, tasks, failed = 0L
    var runMs, cpuNs, shRead, shWrite, spill, inBytes, outBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
  }
  private val aggs = TrieMap.empty[Int, Agg]
  private val stageOp = TrieMap.empty[Int, Int]
  private val jobOpen = TrieMap.empty[Int, (Int, String, Double)]
  private val jobSpansDone = new ConcurrentLinkedQueue[Span]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()

  private def agg(op: Int): Agg = aggs.getOrElseUpdate(op, new Agg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).foreach { o =>
        val op = o.toInt
        agg(op).synchronized(agg(op).jobs += 1)
        e.stageIds.foreach(stageOp.put(_, op))
        jobOpen.put(e.jobId, (op, e.properties.getProperty("perfbench.span"), e.time.toDouble))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOpen.remove(e.jobId).foreach { case (op, parent, start) =>
        val a = agg(op)
        a.synchronized(a.jobSpans += ((start, e.time.toDouble)))
        jobSpansDone.add(Span(s"job-${e.jobId}", parent, op, "spark.job", start, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        val a = agg(op); a.synchronized(a.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val a = agg(op)
        a.synchronized {
          a.tasks += 1
          if (e.taskInfo != null && e.taskInfo.failed) a.failed += 1
          val m = e.taskMetrics
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.shRead += m.shuffleReadMetrics.totalBytesRead
            a.shWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.inBytes += m.inputMetrics.bytesRead
            a.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      qes.add(qe)
  }

  if (trace) {
    sc.addSparkListener(listener)
    attach(spark)
  }

  /** Fresh sessions get their own listener manager: register on each. */
  def attach(session: SparkSession): Unit =
    if (trace) session.listenerManager.register(qeListener)

  def close(): Unit = if (trace) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Time one op. A throw marks the op failed; it never escapes. */
  def run(kind: String, name: String, family: String = "")(body: => Unit): OpRecord = {
    val rec = new OpRecord(ops.size, kind, name, family)
    current = rec
    val opSpan = s"op-${rec.id}"
    parentSpan = opSpan
    val gc0 = if (trace) gcMs() else 0L
    val cg0 = if (trace) CodeGenerator.compileTime else 0L
    if (trace) {
      sc.setLocalProperty("perfbench.op", rec.id.toString)
      sc.setLocalProperty("perfbench.span", opSpan)
    }
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable =>
      rec.ok = false
      rec.error = e.toString.take(400)
    }
    val t1 = System.nanoTime()
    rec.startMs = wallMs(t0)
    rec.ms = (t1 - t0) / 1e6
    if (trace) {
      org.apache.spark.perfbench.Bus.drain(sc)
      closeTrace(rec, opSpan, wallMs(t0), wallMs(t1), gc0, cg0)
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.span", null)
      rec.metrics("trace.overhead_ms") = (System.nanoTime() - t1) / 1e6
    }
    current = null
    parentSpan = null
    ops += rec
    rec
  }

  /** Time one layer call inside the current op; `name` is the metric
    * (e.g. `commit.merge_ms`). Calls outside an op are not recorded. */
  def layer[T](name: String)(body: => T): T = {
    val rec = current
    if (rec == null) return body
    val outer = parentSpan
    val id = s"l-${spanSeq.incrementAndGet()}"
    if (trace) { sc.setLocalProperty("perfbench.span", id); parentSpan = id }
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      rec.add(name, (t1 - t0) / 1e6)
      if (trace) {
        spans += Span(id, outer, rec.id, name.stripSuffix("_ms"), wallMs(t0), wallMs(t1))
        sc.setLocalProperty("perfbench.span", outer)
        parentSpan = outer
      }
    }
  }

  /** Add a count or size to the current op's figures. */
  def note(name: String, v: Double): Unit = if (current != null) current.add(name, v)

  private def closeTrace(rec: OpRecord, opSpan: String, start: Double, end: Double,
                         gc0: Long, cg0: Long): Unit = {
    spans += Span(opSpan, null, rec.id, s"op.${rec.kind}", start, end)
    var s = jobSpansDone.poll()
    while (s != null) { spans += s; s = jobSpansDone.poll() }
    val a = aggs.remove(rec.id).getOrElse(new Agg)
    val wall = end - start
    val covered = Recorder.unionLength(a.jobSpans.toSeq, start, end)
    val m = rec.metrics
    m("spark.jobs") = a.jobs.toDouble
    m("spark.stages") = a.stages.toDouble
    m("spark.tasks") = a.tasks.toDouble
    m("spark.task_run_ms") = a.runMs.toDouble
    m("spark.task_cpu_ms") = a.cpuNs / 1e6
    m("spark.core_busy_ratio") = if (wall > 0) a.runMs / (wall * cores) else 0.0
    m("spark.driver_gap_ms") = math.max(0.0, wall - covered)
    m("spark.shuffle_read_bytes") = a.shRead.toDouble
    m("spark.shuffle_write_bytes") = a.shWrite.toDouble
    m("spark.spill_bytes") = a.spill.toDouble
    m("spark.input_bytes") = a.inBytes.toDouble
    m("spark.output_bytes") = a.outBytes.toDouble
    m("spark.failed_tasks") = a.failed.toDouble
    var an, opt, pl = 0.0
    var qe = qes.poll()
    while (qe != null) {
      val ph = qe.tracker.phases
      an += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
      opt += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
      pl += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
      qe = qes.poll()
    }
    m("sql.analysis_ms") = an
    m("sql.optimize_ms") = opt
    m("sql.plan_ms") = pl
    m("sql.codegen_ms") = (CodeGenerator.compileTime - cg0) / 1e6
    m("jvm.gc_ms") = (gcMs() - gc0).toDouble
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(_.toMap)
}

object Recorder {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { total += curE - curS; curS = s; curE = e }
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
