package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, lit}

/** One per-stage metadata row, mirroring the reference's run records
  * (src/runners/helpers/db.py record_metadata: QUERY_NAME, START_TIME,
  * END_TIME, DURATION, ROW_COUNT{INSERTED,UPDATED,SUPPRESSED,PASSED},
  * ERROR) that feed the snowalert_query_rule_run_errors-style
  * monitoring rules. */
final case class RunMetadataRow(
    run_id: String,
    query_name: String,
    start_time_ms: Long,
    end_time_ms: Long,
    duration_s: Double,
    inserted: Long,
    updated: Long,
    suppressed: Long,
    passed: Long,
    error: Option[String])

/** Accumulates per-stage run metadata on the driver (metadata is tiny —
  * one row per rule per run — the data-plane work stays distributed;
  * only the final counts come back, exactly like the reference's
  * runner). `toDF` exposes the log as a queryable DataFrame so the
  * reference's monitoring rules (rules over metadata tables) can run on
  * it like on any other source. */
class RunLog(val runId: String) { // non-final: specs override flush to
  // plant post-terminal-action failures (Runner's degradation scope)
  private val rows = mutable.ArrayBuffer.empty[RunMetadataRow]

  def record(
      queryName: String,
      startMs: Long,
      endMs: Long,
      inserted: Long = 0L,
      updated: Long = 0L,
      suppressed: Long = 0L,
      passed: Long = 0L,
      error: Option[String] = None): Unit = synchronized {
    rows += RunMetadataRow(runId, queryName, startMs, endMs,
      (endMs - startMs) / 1000.0, inserted, updated, suppressed, passed,
      error)
  }

  /** Run an alert/violation rule stage, recording its INSERTED row
    * count. Errors are recorded with zero counts, matching
    * record_metadata's ERROR path, and rethrown. */
  def insert(queryName: String, observed: Boolean = false)(
      stage: => DataFrame): DataFrame =
    counted(queryName, observed, Seq(count(lit(1)).as("inserted")))(stage)

  /** Run a suppression stage. SUPPRESSED counts only the rows THIS rule
    * matched (suppression_rule == queryName), mirroring the reference
    * runner's per-rule updated-row count; earlier rules' hits are not
    * re-attributed. PASSED is the rows still unsuppressed after this
    * stage. */
  def suppress(queryName: String, observed: Boolean = false)(
      stage: => DataFrame): DataFrame =
    counted(queryName, observed, Seq(
      count_if(col("suppression_rule") === queryName).as("suppressed"),
      count_if(!col("suppressed")).as("passed")))(stage)

  // A stage's counts are one list of named aggregates over its output,
  // taken one of two ways. Eager: one aggregate action now, which
  // re-executes the stage's whole subplan when the composed pipeline
  // later runs. Observed: a CollectMetrics node (Dataset.observe)
  // computes the counts as a side channel of the pipeline's ONE
  // terminal action, so at 100 TB no rule's event scan runs twice; call
  // flush() after that action to resolve the rows. Datasets analyze
  // eagerly, so a broken rule (missing column etc.) throws inside
  // `stage` in either mode and records its ERROR row here.
  private val pendingObs = mutable.ArrayBuffer
    .empty[(String, Long, org.apache.spark.sql.Observation)]

  private def counted(queryName: String, observed: Boolean,
      counts: Seq[Column])(stage: => DataFrame): DataFrame = {
    val t0 = System.currentTimeMillis()
    try {
      val df = stage
      if (observed) {
        val obs = org.apache.spark.sql.Observation(s"${runId}_$queryName")
        synchronized { pendingObs += ((queryName, t0, obs)) }
        df.observe(obs, counts.head, counts.tail: _*)
      } else {
        val r = df.agg(counts.head, counts.tail: _*).head()
        recordCounts(queryName, t0,
          r.getValuesMap[Any](r.schema.fieldNames.toSeq))
        df
      }
    } catch {
      case e: Exception =>
        record(queryName, t0, System.currentTimeMillis(),
          error = Some(String.valueOf(e.getMessage)))
        throw e
    }
  }

  private def recordCounts(
      queryName: String, t0: Long, m: Map[String, Any]): Unit = {
    def n(k: String) = m.getOrElse(k, 0L).asInstanceOf[Long]
    record(queryName, t0, System.currentTimeMillis(),
      inserted = n("inserted"), suppressed = n("suppressed"),
      passed = n("passed"))
  }

  /** Drop pending observations WITHOUT recording rows — for the
    * degraded per-rule isolation path: when the fused plan's terminal
    * action failed, its observed metrics can never be delivered (flush
    * would record a noise "metrics never observed" row per stage);
    * the degraded re-run records each stage's real row instead. */
  def discardPending(): Unit = synchronized(pendingObs.clear())

  /** Resolve all observed stages into metadata rows. Must run after the
    * pipeline's terminal action (metric delivery is asynchronous —
    * bounded wait per stage). A stage whose subplan never executed is
    * recorded as an error row rather than blocking forever. */
  def flush(timeoutMs: Long = 30000): Unit = {
    val toFlush = synchronized {
      val t = pendingObs.toSeq
      pendingObs.clear()
      t
    }
    toFlush.foreach { case (name, t0, obs) =>
      // Observation.get blocks until the observed action's metrics are
      // delivered (asynchronously, shortly after the action) — bound it
      // so a never-executed stage records an error instead of hanging
      // blocking{} lets the global EC spawn a compensating thread, so a
      // timed-out stage (its get never completes) parks a thread without
      // starving the pool's fixed parallelism
      val m: Map[String, Any] =
        try {
          scala.concurrent.Await.result(
            scala.concurrent.Future(
              scala.concurrent.blocking(obs.get))(
              scala.concurrent.ExecutionContext.global),
            scala.concurrent.duration.Duration(timeoutMs, "ms"))
        } catch {
          case _: java.util.concurrent.TimeoutException => Map.empty
        }
      if (m.isEmpty)
        record(name, t0, System.currentTimeMillis(),
          error = Some("metrics never observed"))
      else recordCounts(name, t0, m)
    }
  }

  def entries: Seq[RunMetadataRow] = synchronized(rows.toSeq)

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.toDF()
  }
}

object RunLog {
  def newRun(): RunLog = new RunLog(java.util.UUID.randomUUID().toString)
}
