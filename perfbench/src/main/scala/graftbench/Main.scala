package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: boots the session, runs one workload's
  * warm-up pass, then a closed loop of its operations for the given
  * seconds, then writes the outputs the check compares and a result
  * file. `perfbench/run.py` drives it; see `perfbench/README.md`.
  *
  *   graftbench.Main --workload W --data DIR --out DIR --seconds S
  *     --trace 0|1 --cpus N --passes P
  */
object Main {
  def message(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(600)

  /** The session `graft.Bench` builds, so the configuration that is
    * benchmarked and checked here is the one graft's bench times. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops local checkpoints left by the last operation, as graft.Bench
    * does between queries, so storage holds one operation's state. */
  private def reclaim(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(graft.RddCheckpointAccess.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = false))

  private def peakRssKb(): Long = try {
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = new File(opt("out"))
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    out.mkdirs()
    if (traced) Codegen.reservoir

    val jvmStart = JvmCounters.snapshot()
    val b0 = System.nanoTime()
    val spark = session(cpus)
    val bootMs = (System.nanoTime() - b0) / 1e6
    val jvmBooted = JvmCounters.snapshot()
    val tracer = new Tracer(spark)
    val work = new File(out, "work")
    val w: Workload = opt("workload") match {
      case "pack_sweep" =>
        new QueryWorkload(spark, data, work, tracer, QueryWorkload.packRules)
      case "corpus_curate" =>
        new QueryWorkload(spark, data, work, tracer, QueryWorkload.corpusOps)
      case "alert_run" => new AlertRun(spark, data, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val p0 = System.nanoTime()
    w.prepare()
    val prepareMs = (System.nanoTime() - p0) / 1e6

    // set-up: the untimed warm-up pass
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    val jvmWarm0 = JvmCounters.snapshot()
    val u0 = System.nanoTime()
    w.passOps.foreach { op =>
      try tracer.span("warmup", op)(w.run(op))
      catch { case NonFatal(e) => warmErrors(op) = message(e) }
      reclaim(spark)
    }
    val warmupMs = (System.nanoTime() - u0) / 1e6
    val setupCounters = JvmCounters.delta(jvmStart, jvmBooted).map {
      case (k, v) => k -> (v + JvmCounters.delta(jvmWarm0,
        JvmCounters.snapshot())(k))
    }

    // the timed closed loop: the next operation starts when the last
    // one returns, for the given seconds and at least the given passes
    // (the timings are taken from those). A traced run traces every
    // other operation, flipping parity each pass, so every operation is
    // seen both traced and untraced
    val n = w.passOps.size
    val minOps = opt("passes").toInt * n
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val (steal0, cpuLines) = Steal.read()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minOps) {
      val op = w.passOps(i % n)
      val pass = i / n
      val tr = traced && (i % n + pass) % 2 == 1
      tracer.listen(tr)
      val c0 = JvmCounters.snapshot()
      val s0 = Steal.read()._1
      var err: Option[String] = None
      val o0 = System.nanoTime()
      val opSpan = tracer.span("op", op) {
        try w.run(op) catch { case NonFatal(e) => err = Some(message(e)) }
        tracer.current.get
      }
      val wallMs = (System.nanoTime() - o0) / 1e6
      val s1 = Steal.read()._1
      tracer.listen(false)
      if (tr) opSpan.counters ++= JvmCounters.delta(c0, JvmCounters.snapshot())
      reclaim(spark)
      ops += Map("i" -> i, "name" -> op, "pass" -> pass, "traced" -> tr,
        "span" -> opSpan.id, "wall_ms" -> wallMs, "error" -> err,
        "steal_jiffies" -> (if (s0 >= 0 && s1 >= 0) s1 - s0 else -1L))
      i += 1
    }
    val windowMs = (System.nanoTime() - t0) / 1e6
    val steal1 = Steal.read()._1
    val rssKb = peakRssKb()

    // the output check's inputs, written untimed in the same session
    val outputs = w.writeOutputs(new File(out, "outputs"))
    val oracle = graft.SparkEntry.oracleSql
    val extras = if (traced) w.tracedExtras() else Map.empty[String, Any]

    val result = Map(
      "workload" -> opt("workload"), "cpus" -> cpus, "traced" -> traced,
      "boot_ms" -> bootMs, "prepare_ms" -> prepareMs, "warmup_ms" -> warmupMs,
      "setup_counters" -> setupCounters, "warmup_errors" -> warmErrors,
      "ops_per_pass" -> n, "window_ms" -> windowMs, "ops" -> ops.toSeq,
      "steal" -> Map("start" -> steal0, "end" -> steal1, "cpu_lines" -> cpuLines),
      "peak_rss_kb" -> rssKb,
      "outputs" -> outputs.map { case (k, e) =>
        Map("key" -> k, "error" -> e, "oracle" -> oracle.get(k)) },
      "records" -> w.records, "traced_extras" -> extras)
    Json.write(new File(out, "result.json"), result)
    if (traced) Json.write(new File(out, "trace.json"), tracer.toMap)
    spark.stop()
  }
}
