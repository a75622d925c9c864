package graft

import java.nio.file.{Files, Paths}

/** Headline benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits ONE JSON line — to stdout AND to a bare
  * file (default BENCH.json, override SPARK_GRAFT_BENCH_OUT) so the
  * driver can parse it without sbt's log prefixes (round-1 parse
  * failure). Queries execute via the no-op writer, which computes every
  * column (a bare count() would let Catalyst prune the projections we
  * mean to measure); the session is warmed with one untimed query so
  * per-query numbers aren't polluted by JVM/codegen/parquet-footer
  * warm-up. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    // A failed query must NOT be timed as a near-zero success: its
    // error is captured and emitted in an "errors" object so the
    // headline total can't silently flatter a broken refactor.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Hypervisor-steal counter (Harness.steal). Shared hosts suffer
    // hour-scale neighbor-steal storms that inflate random query blocks
    // 2-40x with zero plan change; sampling the counter around the run
    // (and around each query) makes a BENCH reading self-adjudicating — a
    // judge can separate "regression" from "storm window" without a
    // manual control run. -1 = counter unreadable.
    val perQuerySteal =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def runOnce(name: String): Double = {
      // Trace output (plan rendering can be KBs of string work) is
      // emitted strictly AFTER the elapsed-time capture so trace mode
      // never inflates the recorded numbers.
      var traced: Option[org.apache.spark.sql.DataFrame] = None
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        traced = Some(df)
      } catch {
        case e: Throwable =>
          // full diagnostic belongs in the BENCH.json FILE (bounded only
          // against pathological megabyte messages); stdout gets a count.
          errors(name) = String.valueOf(e.getMessage).take(4000)
      }
      val el = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE")) {
        System.err.println(f"[trace] $name $el%.3f")
        traced.foreach(df => System.err.println(s"[plan] $name\n" +
          df.queryExecution.executedPlan.toString.take(8000)))
      }
      el
    }
    // Best-of with convergence: the first run of a query pays one-time
    // whole-stage-codegen compilation (hundreds of ms to seconds of
    // javac/janino work, independent of data volume), and on sub-second
    // queries the C2 JIT tax routinely outlasts run two as well
    // (measured: the as-of argmax at 6.8/0.98/0.77/0.66 s on runs 1-4 —
    // data-independent warm-up, not data cost). The comparison is
    // defined over the steady-state data-bound cost, so after the two
    // base runs a query keeps re-running ONLY while it is visibly still
    // warming — run1 was >1.3x the current best and each extra run
    // still improves the best by >8% — bounded at 4 extras. A steady
    // query pays zero extra runs; a warming one converges in 1-3. This
    // subsumes the old one-shot steal arbitration: a burst that
    // polluted run1 shows the same still-improving signature and gets
    // re-measured. (DuckDB baseline numbers are single cold runs — the
    // asymmetry is noted in BASELINE.md.)
    def run(name: String): Double = {
      val a = runOnce(name)
      var best = math.min(a, runOnce(name))
      var extra = 0
      var improving = best > 0.15 && a > best * 1.3
      while (improving && extra < 4) {
        val c = runOnce(name)
        improving = c < best * 0.92
        if (c < best) best = c
        extra += 1
      }
      best
    }

    if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit = {
            val i = s.stageInfo
            // absent for a stage that never ran a task (e.g. skipped)
            val m = Option(i.taskMetrics)
            def v(f: org.apache.spark.executor.TaskMetrics => Long): Long =
              m.fold(-1L)(f)
            // spill + shuffle volumes ride the trace line so a scale run
            // can check §5 spill hygiene without the UI (trace mode only;
            // the timed path and the JSON contract are untouched)
            System.err.println(s"[stage] ${i.stageId} " +
              s"${i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)} ms " +
              s"tasks=${i.numTasks} " +
              s"spillM=${v(_.memoryBytesSpilled)} spillD=${v(_.diskBytesSpilled)} " +
              s"shW=${v(_.shuffleWriteMetrics.bytesWritten)} " +
              s"shR=${v(_.shuffleReadMetrics.totalBytesRead)} " +
              s"${i.name.split("\n")(0).take(60)}")
          }
        })

    try runOnce("q_agg_pushdown") // session warm-up, untimed
    finally errors.remove("q_agg_pushdown")

    // dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those queries
    // (the emitted total then covers the subset — not comparable to a
    // full-suite BENCH.json, which is why the driver never sets it)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val stealStart = Harness.steal()
    val wallStart = System.nanoTime()
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n))).map { n =>
      val s0 = Harness.steal()
      val r = n -> run(n)
      val s1 = Harness.steal()
      if (s0 >= 0 && s1 >= 0) perQuerySteal(n) = s1 - s0
      Harness.reclaim(spark)
      r
    }
    val wallS = (System.nanoTime() - wallStart) / 1e9
    val stealEnd = Harness.steal()
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":" + Harness.jsonString(v) }
      .mkString("{", ",", "}")
    // the headline total covers SUCCESSFUL queries only — a failed
    // query's near-zero elapsed time must not flatter the comparison
    // (its name is in `errors`, which makes the run non-comparable)
    val total = results.collect {
      case (k, v) if !errors.contains(k) => v
    }.sum
    // Steal block (additions-only; existing fields untouched). pct is
    // steal relative to whole-host CPU capacity over the timed section
    // (jiffies are 100 Hz summed across all host CPUs, so the divisor
    // is the host's cpuN count, not the JVM's processor count), the same
    // normalization tools/bench_pair.py uses for its calm-gate budget.
    val hostCpus = Harness.readStat()._2
    val stealJ = Harness.stealBetween(stealStart, stealEnd)
    val stealPct =
      if (stealJ >= 0 && wallS > 0 && hostCpus > 0)
        stealJ / (wallS * 100.0 * hostCpus) * 100.0
      else -1.0
    val stealQs = perQuerySteal.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val stealBlock =
      s""""steal":{"start":$stealStart,"end":$stealEnd,"jiffies":$stealJ,""" +
      s""""wall_s":${fmt(wallS)},"host_cpus":$hostCpus,"pct":${fmt(stealPct)},""" +
      s""""per_query":$stealQs}"""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir",$stealBlock}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    Files.writeString(Paths.get(out), json + "\n")
    // The driver captures only the LAST ~2000 chars of sbt stdout; the
    // full per-query map (~140 queries, ~5 kB) overflows that window and
    // the line's head — "metric"/"value" — is lost, so the driver's JSON
    // parse fails (BENCH_r05..r07 all carry parsed:null). Print a compact
    // line instead: headline total + the slowest queries that fit, with a
    // pointer at the committed BENCH.json holding the complete map.
    val slowest = results.filterNot { case (k, _) => errors.contains(k) }
      .sortBy(-_._2).take(40)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Errors must not balloon the stdout line either (round-11 regression:
    // 49 × ~200-char error strings blew past the 2 kB tail and the whole
    // round's bench record parsed as null). stdout carries only the error
    // COUNT and the first failing key; full strings live in the file.
    val errCompact =
      if (errors.isEmpty) "{\"count\":0}"
      else s"""{"count":${errors.size},"first":${Harness.jsonString(errors.head._1)}}"""
    // stdout carries only the steal SUMMARY (two numbers) — the per-query
    // map lives in the file; the driver's ~2 kB stdout tail must not
    // overflow (the round-5..7 parse-failure class).
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$slowest,"errors":$errCompact,"sf":"$sfDir","full":"$out","steal_jiffies":$stealJ,"steal_pct":${fmt(stealPct)}}"""
    // scalastyle:off println
    println(compact)
    // scalastyle:on println
    spark.stop()
  }
}
