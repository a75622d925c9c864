package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CorpusPipeline, Dedup, SparkEntry, Tables}
import graft.engine._

/** One benchmark workload: the operations of one pass, in order, and
  * how each runs. Every call into graft sits inside a tracer span. */
abstract class Workload(val spark: SparkSession, val data: String,
    val work: File, val tracer: Tracer) {
  def passOps: IndexedSeq[String]

  /** Input preparation that is not part of set-up (landing tables). */
  def prepare(): Unit = ()

  def run(op: String): Unit

  /** Untimed, after the timed passes: writes every output the check
    * compares under `dir`, one directory per oracle key, and returns
    * the keys with the error of each output that could not be written. */
  def writeOutputs(dir: File): Seq[(String, Option[String])] = Nil

  /** Workload records for the result file. */
  def records: Map[String, Any] = Map()

  /** Extra measurements made only in traced runs, after timing. */
  def tracedExtras(): Map[String, Any] = Map()

  protected def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}

/** Operations that are `SparkEntry.queries` keys, each constructed,
  * planned and executed to the noop sink. `CorpusPipeline.run` is the
  * one non-key operation: it materializes eagerly, so all its work is
  * construction. */
class QueryWorkload(spark: SparkSession, data: String, work: File,
    tracer: Tracer, val passOps: IndexedSeq[String])
    extends Workload(spark, data, work, tracer) {
  import QueryWorkload.PipelineRun

  private val census = mutable.ArrayBuffer.empty[CorpusPipeline.Census]

  def run(op: String): Unit = op match {
    case PipelineRun =>
      val (_, c) = tracer.span("construct", op)(CorpusPipeline.run(spark, data))
      census += c
    case key =>
      val df = tracer.span("construct", key)(SparkEntry.queries(key)(spark, data))
      tracer.phasesOf(df.queryExecution)
      tracer.span("execute", key)(noop(df))
  }

  override def writeOutputs(dir: File): Seq[(String, Option[String])] =
    passOps.distinct.map { op =>
      val key = if (op == PipelineRun) "q_corpus_pipeline" else op
      val err = try {
        val df =
          if (op == PipelineRun) CorpusPipeline.run(spark, data)._1
          else SparkEntry.queries(key)(spark, data)
        df.write.mode("overwrite").parquet(new File(dir, key).getPath)
        None
      } catch { case e: Exception => Some(Main.message(e)) }
      key -> err
    }

  override def records: Map[String, Any] = Map("census" -> census.map(c =>
    Map("ingested" -> c.ingested, "quality" -> c.quality,
      "deduped" -> c.deduped, "capped" -> c.capped)).toSeq)

  override def tracedExtras(): Map[String, Any] =
    if (!passOps.exists(_.startsWith("q_dedup"))) Map()
    else {
      val candidates =
        Dedup.lshCandidates(Dedup.minhashSignatures(spark, data)).count()
      val pairs = Dedup.lshPairs(spark, data).count()
      Map("lsh_candidates" -> candidates, "lsh_pairs" -> pairs)
    }
}

object QueryWorkload {
  val PipelineRun = "CorpusPipeline.run"

  /** A fixed sample of the pack rules: every 15th `q_pack_*` key in
    * sorted order (6 of 88), spread over the packs and independent of
    * the seed. All 88 do not fit a run's time budget: a run is a fresh
    * JVM, and its first pass over all of them takes ~45 s on 4 cores. */
  def packRules: IndexedSeq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("q_pack_")).toIndexedSeq
      .sorted.zipWithIndex.collect { case (k, i) if i % 15 == 0 => k }

  val corpusOps: IndexedSeq[String] = IndexedSeq(PipelineRun,
    "q_corpus_curation", "q_dedup_clusters", "q_dedup_lsh_pairs",
    "q_dedup_containment", "q_dedup_exact", "q_minhash_signatures",
    "q_quality_score", "q_lang_id")
}

/** The SnowAlert heartbeat: each operation is one scheduled cycle over
  * the next 6-hour window of the date-partitioned events. A cycle runs
  * `Runner.runAlerts` (three rules, one suppression, correlation, a
  * memory handler) and then upserts the cycle's alerts into a parquet
  * alert store with `RuleEngine.mergeIntoStore`; the next cycle reads
  * that store back. */
class AlertRun(spark: SparkSession, data: String, work: File,
    tracer: Tracer) extends Workload(spark, data, work, tracer) {
  import AlertRun._

  /** A pass is three cycles, 18 hours of the heartbeat. */
  val passOps: IndexedSeq[String] = IndexedSeq.fill(3)("cycle")
  private var events: DataFrame = _
  private var cycle = 0
  private val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def storeDir(k: Int) = new File(work, s"store_${(k + 2) % 2}").getPath

  /** Lands the events by date and starts the store empty, so every
    * cycle, the first included, upserts into a stored table. */
  override def prepare(): Unit = {
    val landed = new File(work, "events_by_date").getPath
    Tables.writePartitionedEvents(spark, data, landed)
    events = Tables.partitionedEvents(spark, landed)
    RuleEngine.mergeAlerts(RuleEngine.runAlertRule(events.limit(0), Rules.head,
      col("event_id"), "1970-01-01 00:00:00", "1970-01-01 00:00:00", 0L))
      .write.mode("overwrite").parquet(storeDir(-1))
  }

  def run(op: String): Unit = {
    // every call consumes a cycle number, so timed operation i is cycle
    // (warm-up cycles + i) even when an earlier cycle threw
    val k = cycle
    cycle += 1
    val (from, to, alertTimeS) = window(k)
    val buffer = s"graftbench-cycle-$k"
    val log = RunLog.newRun()
    val result = tracer.span("runner", "runAlerts") {
      Runner.runAlerts(Tables.timeWindow(events, from, to), Rules,
        col("event_id"), Seq(Suppression), Seq(new MemorySink(buffer)),
        RunConfig(from, to, alertTimeS, defaultHandler = "memory"), log)
    }
    val sent = MemorySink.drain(buffer).size
    // a cycle's alert set upserts into the store the previous cycle wrote
    val upsert = tracer.span("construct", "store") {
      RuleEngine.mergeIntoStore(spark.read.parquet(storeDir(k - 1)), result.store)
    }
    tracer.span("execute", "store") {
      upsert.write.mode("overwrite").parquet(storeDir(k))
    }
    result.store.unpersist(blocking = false)
    result.handlerResults.unpersist(blocking = false)
    val entries = log.entries
    cycles += Map("cycle" -> k, "from" -> from, "to" -> to,
      "alert_time_s" -> alertTimeS, "sent" -> sent,
      "dispatch_rows" -> entries.filter(_.query_name == "alert_dispatch")
        .map(_.inserted).sum,
      "error_rows" -> entries.count(_.error.isDefined),
      "store" -> storeDir(k))
  }

  override def records: Map[String, Any] = Map("cycles" -> cycles.toSeq)
}

object AlertRun {
  private val Start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  private val Fmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def window(k: Int): (String, String, Long) = {
    val from = Start.plusHours(6L * k)
    val to = from.plusHours(6L)
    (from.format(Fmt), to.format(Fmt), to.toEpochSecond(java.time.ZoneOffset.UTC))
  }

  private def userKey: Column = concat_ws("", lit("user:"), col("user_id"))

  /** `perfbench/oracle.py` holds the DuckDB twin of these rules and the
    * suppression; change both together. */
  private def rule(name: String, eventType: String, minValue: Double,
      highAbove: Double): AlertRule = AlertRule(
    name = name, queryId = s"bench_$name", title = s"Benchmark rule $name",
    predicate = col("event_type") === eventType && col("value") > minValue,
    actor = userKey, target = userKey, action = col("event_type"),
    description = concat_ws("", userKey, lit(s" $eventType band "),
      floor(col("value") / 100.0).cast("long")),
    severity = when(col("value") > highAbove, "high").otherwise("medium"),
    eventTime = col("ts"), eventData = col("props"))

  val Rules: Seq[AlertRule] = Seq(
    rule("high_value_error", "error", 80.0, 250.0),
    rule("large_purchase", "purchase", 100.0, 300.0),
    rule("costly_signup", "signup", 150.0, 400.0))

  val Suppression: SuppressionRule = SuppressionRule("medium_purchases",
    alerts => alerts.filter(col("query_name") === "large_purchase" &&
      col("severity") === "medium").select(col("alert_id")))
}
