package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A suppression rule: selects the alert_ids to squelch from the
  * current alert set (ref: alert_suppressions_runner.py — each rule is
  * a SELECT of alert ids; matched alerts are flagged with the rule
  * name, the rest marked not-suppressed). */
final case class SuppressionRule(
    name: String,
    selectIds: DataFrame => DataFrame)

final case class RunConfig(
    fromTs: String,
    toTsExclusive: String,
    alertTimeS: Long,
    correlationGapMinutes: Int = 60,
    defaultHandler: String = "console")

/** The reference's end-to-end runner loop (src/runners/run_alerts.py:
  * alert queries → merge → suppressions → correlation → handler
  * dispatch, each stage recording run metadata) composed as ONE
  * declarative pipeline over DataFrames. Everything except the final
  * dispatch stays inside Catalyst; per-stage counts are the only
  * driver-side values.
  *
  * Failure isolation mirrors the reference's error contract
  * (alert_queries_runner.py create_alerts wraps EACH rule in its own
  * try/except — a broken rule records a metadata ERROR row and the run
  * CONTINUES; the reference's own regression run_violations.py:28-46
  * plants a `1/0` rule and asserts the healthy rule's rows still land
  * with the broken rule's run record carrying the error). Here the
  * fast path still fuses every rule into one scan-shared plan; rules
  * whose frames fail to CONSTRUCT (analysis errors: missing column,
  * bad type) are dropped per-rule with an ERROR row. If the fused
  * terminal action fails at RUNTIME (a rule's projection throws
  * mid-task: bad regex, malformed cast, divide-by-zero), the run
  * degrades to per-rule isolation — each surviving rule is probed with
  * its own action (failing rules record ERROR rows), and the pipeline
  * re-runs on the healthy set with eager per-stage metadata. The
  * degraded path scans each rule's events individually — the
  * correctness-over-scan-sharing trade the reference's per-rule loop
  * makes on EVERY run, paid here only when a rule is actually broken.
  */
object Runner {

  /** Marker for a failure of the fused TERMINAL action only. The
    * degraded per-rule path must fire for exactly this case: a rule's
    * projection throwing mid-task inside the shared plan. Failures in
    * later stages (log flush, dispatch recordStatus) happen AFTER the
    * observed metadata rows were flushed and the side-effecting
    * dispatch already ran — degrading there would duplicate every
    * rule's metadata row and re-send every alert, so those propagate
    * unwrapped. */
  private final class FusedPlanFailure(cause: Throwable)
    extends Exception(cause)

  final case class AlertRunResult(
      alerts: DataFrame,
      store: DataFrame,
      handlerResults: Dataset[HandlerResult])

  /** Literal-only rule: analysis-safe on any event frame; yields the
    * alert schema with zero rows (the all-rules-broken fallback). */
  private def emptyAlerts(
      events: DataFrame, idCol: Column, cfg: RunConfig): DataFrame =
    RuleEngine.runAlertRule(
      events.limit(0),
      AlertRule(name = "__no_live_rules", queryId = "", title = "",
        predicate = lit(false), actor = lit(""), target = lit(""),
        action = lit(""), description = lit(""), severity = lit(""),
        eventTime = lit("1970-01-01 00:00:00").cast("timestamp"),
        eventData = lit("{}")),
      idCol, cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS)

  /** Run the full alert pipeline. Returned `alerts` are the live
    * (non-suppressed) alerts with correlation ids and the per-handler
    * `handled` results joined on; `store` is the full merged alert set
    * with suppression flags — the reference's results.alerts table. */
  def runAlerts(
      events: DataFrame,
      rules: Seq[AlertRule],
      idCol: Column,
      suppressions: Seq[SuppressionRule],
      sinks: Seq[AlertSink],
      cfg: RunConfig,
      log: RunLog): AlertRunResult =
    // 1. each alert rule over the shared time window (ref:
    //    alert_queries_runner.main loops rule views), isolated per rule
    isolated(rules, log)(_.name,
      r => RuleEngine.runAlertRule(
        events, r, idCol, cfg.fromTs, cfg.toTsExclusive, cfg.alertTimeS),
      emptyAlerts(events, idCol, cfg)) { (alerts, observed) =>
      pipeline(alerts, suppressions, sinks, cfg, log, observed)
    }

  /** The rule isolation both runners share. Each rule is constructed
    * through an observed insert stage: an analysis-broken rule throws
    * there (Datasets analyze eagerly), which records its ERROR
    * metadata row; the rule drops out and the run continues. Stage
    * counts for healthy rules ride the plan via observe(), so the ONE
    * terminal action inside `downstream` executes every rule's scan
    * exactly once; the eager count-per-stage alternative would scan
    * each rule's input twice — a real cost at 100 TB. The union of the
    * constructed rules (or `empty`, when none survived) feeds
    * `downstream`.
    *
    * If that terminal action fails (a FusedPlanFailure: a rule's
    * projection threw at RUNTIME inside the fused plan) the pending
    * observations can never resolve — they are discarded — and each
    * constructed rule is probed with its own action: the broken rule
    * records its ERROR row (ref: per-rule try/except), everyone else
    * records real counts, and `downstream` re-runs on the survivors
    * with eager per-stage metadata. Rules that already failed
    * construction keep their first ERROR row (one metadata row per rule
    * per run, like the reference). The probe must evaluate EVERY
    * column, not just count rows — a bare count() lets column pruning
    * skip the very projection that threw (the bomb would re-enter the
    * pipeline and fail it again downstream). Materialize.frame stores
    * full rows, so a broken projection throws inside its own probe and
    * healthy rules re-enter the pipeline pre-materialized. A second
    * terminal failure (e.g. a broken sink set) is final and surfaces
    * its real cause, not the marker. */
  private def isolated[R, T](rules: Seq[R], log: RunLog)(
      name: R => String, frame: R => DataFrame, empty: => DataFrame)(
      downstream: (DataFrame, Boolean) => T): T = {
    def attempt(frames: Seq[DataFrame], observed: Boolean)
        : Either[Throwable, T] =
      try Right(downstream(
        if (frames.isEmpty) empty else frames.reduce(_.unionByName(_)),
        observed))
      catch { case f: FusedPlanFailure => Left(f.getCause) }
    val constructed = rules.flatMap { r =>
      try Some(r -> log.insert(name(r), observed = true)(frame(r)))
      catch { case NonFatal(_) => None } // ERROR row already recorded
    }
    attempt(constructed.map(_._2), observed = true).getOrElse {
      log.discardPending()
      val survivors = constructed.flatMap { case (r, _) =>
        try Some(log.insert(name(r))(graft.Materialize.frame(frame(r))))
        catch { case NonFatal(_) => None }
      }
      attempt(survivors, observed = false).fold(e => throw e, identity)
    }
  }

  /** The suppression rules over a frame keyed on `key`, first matching
    * rule wins (ref: alert_suppressions_runner runs each rule's UPDATE
    * in its own try/except — a broken suppression records an ERROR row
    * and is skipped, the set passes through unflagged by it). */
  private def suppressAll(frame: DataFrame, key: String,
      rules: Seq[SuppressionRule], log: RunLog, observed: Boolean)
      : DataFrame =
    rules.foldLeft(RuleEngine.unsuppressed(frame)) { (acc, rule) =>
      try log.suppress(rule.name, observed)(
        RuleEngine.suppressOnKey(acc, rule.selectIds(acc), key, rule.name))
      catch { case NonFatal(_) => acc } // ERROR row recorded; skip
    }

  /** merge → suppress → correlate → dispatch over an assembled alert
    * set, with per-stage metadata either observed (fast path: metrics
    * ride the plan, one terminal action) or eager (degraded path: one
    * action per stage, each stage individually isolable). */
  private def pipeline(
      alerts: DataFrame,
      suppressions: Seq[SuppressionRule],
      sinks: Seq[AlertSink],
      cfg: RunConfig,
      log: RunLog,
      observed: Boolean): AlertRunResult = {

    // 2. merge/dedup (ref: MERGE_ALERTS)
    val merged =
      log.insert("alert_merge", observed)(RuleEngine.mergeAlerts(alerts))

    // 3. suppression rules — the run's results table: read by
    //    correlate + returned
    val suppressed =
      suppressAll(merged, "alert_id", suppressions, log, observed)

    // 4. correlation over the live (non-suppressed) alerts (ref:
    //    alert_processor processes unsuppressed alerts)
    val live = RuleEngine.correlate(
      suppressed.filter(!col("suppressed")), cfg.correlationGapMinutes)

    // 5. handler fan-out on live alerts + per-handler results joined
    //    back (ref: alert_dispatcher.main + record_status). Dispatch is
    //    side-effecting and AT-LEAST-ONCE, like the reference's poll
    //    loop: the eager persist+count makes the common path single-send,
    //    but cache eviction, task retry, or speculation can re-run a
    //    partition and re-invoke send — external handlers must dedupe on
    //    (alert_id, handler), which every HandlerResult carries.
    val results = Dispatcher.dispatch(live, sinks, cfg.defaultHandler)
    // THE fused-plan materialization: persist() eagerly optimizes the
    // cached plan (a bomb projection over a folded-local input can
    // throw right there, at plan time) and count() executes rules →
    // merge → suppress → correlate → dispatch once, delivering every
    // observed stage metric as a side channel. ANY failure in this
    // region is the fused-plan failure the caller degrades on; the
    // caches are released first. suppressed is persisted so the later
    // recordStatus/store consumers re-read the cache, not the scans.
    try {
      suppressed.persist()
      results.persist()
      results.count()
    } catch {
      case NonFatal(e) =>
        results.unpersist(blocking = false)
        suppressed.unpersist(blocking = false)
        throw new FusedPlanFailure(e)
    }
    // post-terminal failures (flush, recordStatus) propagate WITHOUT
    // degradation — but must not strand the pass-1 caches, which on
    // success stay persisted for the returned frames' consumers
    try {
      log.flush()
      val handled = log.insert("alert_dispatch") {
        Dispatcher.recordStatus(live, results)
      }
      AlertRunResult(handled, suppressed, results)
    } catch {
      case NonFatal(e) =>
        results.unpersist(blocking = false)
        suppressed.unpersist(blocking = false)
        throw e
    }
  }

  /** Literal-only violation rule over an empty input: the violation
    * schema with zero rows (the all-rules-broken fallback). */
  private def emptyViolations(anyInput: DataFrame): DataFrame =
    RuleEngine.runViolationRule(
      anyInput.limit(0),
      ViolationRule(name = "__no_live_rules", queryId = "", title = "",
        predicate = lit(false), target = lit(""), owner = lit(""),
        severity = lit(""), day = lit("1970-01-01").cast("date")))

  /** The violation runner loop (ref: violation_queries_runner.py +
    * violation_suppressions_runner.py): each rule's grouped input →
    * identity-hashed violations → suppression flags. Like runAlerts,
    * stage counts ride the plan via observe(); the returned results
    * table is materialized ONCE (that materialization is the terminal
    * action resolving every stage metric), so no rule input is scanned
    * twice for metadata. Failure isolation mirrors run_violations.py's
    * invalid-rule regression: a rule broken at analysis OR runtime
    * yields an ERROR metadata row while every other rule's violations
    * land. */
  def runViolations(
      ruleInputs: Seq[(ViolationRule, DataFrame)],
      suppressions: Seq[SuppressionRule],
      log: RunLog): DataFrame = {
    require(ruleInputs.nonEmpty, "runViolations needs at least one rule")

    val out = isolated(ruleInputs, log)(_._1.name,
      { case (rule, grouped) => RuleEngine.runViolationRule(grouped, rule) },
      emptyViolations(ruleInputs.head._2)) { (violations, observed) =>
      val flagged = suppressAll(violations, "id", suppressions, log, observed)
      // the terminal action resolving every observed stage metric; its
      // failure is marked so ONLY it (a rule's projection throwing
      // mid-task) can trigger degradation
      try flagged.transform(graft.Materialize.frame)
      catch { case NonFatal(e) => throw new FusedPlanFailure(e) }
    }
    // flush OUTSIDE the degradation scope (a flush-time failure after a
    // successful terminal action must propagate, not duplicate every
    // rule's metadata via a re-run); no-op on the degraded path, whose
    // pending observations were discarded and rows recorded eagerly
    log.flush()
    out
  }
}
