package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, aligned
  * with the millisecond timestamps Spark puts on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One recorded interval. `kind` is op, construct, execute or runner;
  * `name` says what ran (a rule key, "store", ...). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, var end: Double = Double.NaN,
    counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap())

/** Per-job record: its interval, the span that was open when it was
  * submitted, the merged intervals in which at least one of its tasks
  * ran, and summed task metrics. */
final class JobRec(val id: Int, val parent: Long, val start: Long) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
}

/** Codahale reservoir that also keeps the exact count and sum of what
  * it is given; swapped into Spark's codegen compile-time histogram so
  * compile milliseconds can be read as deltas. */
final class SummingReservoir(inner: Reservoir) extends Reservoir {
  val sum = new LongAdder
  val count = new LongAdder
  override def size(): Int = inner.size()
  override def update(value: Long): Unit = {
    sum.add(value); count.add(1); inner.update(value)
  }
  override def getSnapshot: Snapshot = inner.getSnapshot
}

object Codegen {
  /** Installs the summing reservoir once per JVM; None if Spark's
    * histogram has no reservoir field to swap. */
  lazy val reservoir: Option[SummingReservoir] = try {
    val h: Histogram =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    val r = new SummingReservoir(f.get(h).asInstanceOf[Reservoir])
    f.set(h, r)
    Some(r)
  } catch { case _: Exception => None }

  def compileMs: Double = reservoir.map(_.sum.sum().toDouble).getOrElse(0.0)
  def classes: Double = reservoir.map(_.count.sum().toDouble).getOrElse(0.0)
}

/** JVM-wide counters read around an interval. */
object JvmCounters {
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def snapshot(): Map[String, Double] = Map(
    "jit_ms" -> (if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime.toDouble else 0.0),
    "gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
    "codegen_ms" -> Codegen.compileMs,
    "codegen_classes" -> Codegen.classes)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}

/** Host noise: hypervisor steal jiffies (the `cpu` line of /proc/stat),
  * and the number of `cpuN` lines to normalise them by. */
object Steal {
  def read(): (Long, Int) = try {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).asScala
    val head = lines.head.trim.split("\\s+")
    val cpus = lines.count(l => l.startsWith("cpu") && l.length > 3 &&
      Character.isDigit(l.charAt(3)))
    (if (head.length > 8 && head(0) == "cpu") head(8).toLong else -1L, cpus)
  } catch { case _: Exception => (-1L, 0) }
}

/** The benchmark's tracer. Spans are opened around every call the
  * benchmark makes into graft; while a traced operation runs, a
  * SparkListener and a QueryExecutionListener record its jobs, task
  * metrics and Catalyst phase times. Everything stays in memory until
  * [[toMap]] is written at exit. With tracing off only the operation spans are
  * kept, and no listener is registered. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0L)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var open: List[Span] = Nil
  @volatile private var listening = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      val j = new JobRec(e.jobId, parent, e.time)
      j.stages = e.stageIds.size
      e.stageIds.foreach(stageJob(_) = j)
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val info = e.taskInfo
        j.tasks += 1
        if (info != null && info.finishTime > 0) {
          j.busy += ((info.launchTime, info.finishTime))
          if (info.failed || info.killed) j.m("failed_tasks") += 1
        }
        // metrics are null for some failed or killed tasks
        val tm = e.taskMetrics
        if (tm != null) {
          val m = j.m
          m("run_ms") += tm.executorRunTime
          m("cpu_ms") += tm.executorCpuTime / 1e6
          m("gc_ms") += tm.jvmGCTime
          if (info != null && info.finishTime > 0)
            m("delay_ms") += math.max(0L, info.finishTime - info.launchTime -
              tm.executorRunTime - tm.executorDeserializeTime -
              tm.resultSerializationTime - info.gettingResultTime)
          m("in_bytes") += tm.inputMetrics.bytesRead
          m("in_rows") += tm.inputMetrics.recordsRead
          m("out_bytes") += tm.outputMetrics.bytesWritten
          m("out_rows") += tm.outputMetrics.recordsWritten
          m("sh_w_bytes") += tm.shuffleWriteMetrics.bytesWritten
          m("sh_w_ms") += tm.shuffleWriteMetrics.writeTime / 1e6
          m("sh_r_bytes") += tm.shuffleReadMetrics.totalBytesRead
          m("fetch_wait_ms") += tm.shuffleReadMetrics.fetchWaitTime
          m("spill_disk") += tm.diskBytesSpilled
        }
      }
    }
  }

  /** Records the Catalyst phases of `qe` while listening. Executed
    * queries report through the listener; a built DataFrame's own
    * analysis, which runs while it is built, is read this way. */
  def phasesOf(qe: QueryExecution): Unit = if (listening) synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      if (phase != "parsing") plans += ((phase, p.startTimeMs, p.endTimeMs))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phasesOf(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phasesOf(qe)
  }

  /** Starts or stops recording. Stopping first drains the listener bus,
    * so every event of the operation just traced is in. */
  def listen(on: Boolean): Unit = if (on != listening) {
    if (on) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    } else {
      org.apache.spark.GraftBenchBus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    listening = on
  }

  /** Runs `body` as a child span of the innermost open span. While
    * listening, the span id rides a local property so each job records
    * the span that submitted it. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(-1L)
    val s = Span(ids.incrementAndGet(), parent, kind, name, Clock.nowMs)
    spans += s
    open = s :: open
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    if (listening) sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.end = Clock.nowMs
      open = open.tail
      if (listening) sc.setLocalProperty(Tracer.SpanKey, prevProp)
    }
  }

  def current: Option[Span] = open.headOption

  def toMap: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "counters" -> s.counters)).toSeq,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "parent" -> j.parent,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
        "tasks" -> j.tasks, "busy" -> Tracer.merge(j.busy.toSeq),
        "metrics" -> j.m)).toSeq,
      "plans" -> plans.map { case (p, a, b) =>
        Map("phase" -> p, "start" -> a, "end" -> b)
      }.toSeq)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Union of task intervals, as sorted disjoint [start, end] pairs. */
  def merge(iv: Seq[(Long, Long)]): Seq[Seq[Long]] = {
    val out = mutable.ArrayBuffer.empty[Array[Long]]
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last(1)) out.last(1) = math.max(out.last(1), b)
      else out += Array(a, b)
    }
    out.map(_.toSeq).toSeq
  }
}

/** Result files are written with the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(file: java.io.File, value: Any): Unit = mapper.writeValue(file, value)
}
