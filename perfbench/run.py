#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the benchmark's JVM program from source with sbt (into `target/` and
`.bench_build/`); later runs reuse the build while the sources are
unchanged. A run generates its inputs from the seed, starts one JVM
that sets up a session, runs an untimed warm-up pass and then a closed
loop of the workload's operations for S seconds, writes the outputs
the check needs, and exits. The outputs are then checked against
DuckDB. The last line of stdout is one JSON object: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Everything else the
run measured, including host noise, goes to
`.bench_build/reports/<workload>-seed<N>-trace<T>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402

# inputs per workload, in rows; see README.md for why these sizes
WORKLOADS = {
    "pack_sweep": {"region": 5, "nation": 25, "customer": 15_000,
                   "supplier": 1_000, "events": 100_000},
    "alert_run": {"events": 100_000},
    "corpus_curate": {"documents": 500},
}
# timed passes per run. corpus_curate mixes nine operations of different
# cost: with four samples of each, its latency median falls inside one
# operation's samples instead of on the edge between two, and the
# median pass is robust to a stall of the host during one pass
PASSES = {"pack_sweep": 2, "alert_run": 2, "corpus_curate": 4}
# a fixed, pre-touched heap: with a growable one, the peak RSS follows
# GC timing rather than the program
HEAP = ["-Xms2g", "-Xmx2g"]
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, to reuse a build only while
    the sources are unchanged."""
    h = hashlib.sha256()
    files = [os.path.join(root, p) for p in
             ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties")]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, bdir):
    stamp = source_stamp(root)
    launcher = os.path.join(bdir, "launcher.args")
    stamp_file = os.path.join(bdir, "launcher.stamp")
    if os.path.exists(launcher) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return launcher
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}",
           f"-Djava.io.tmpdir={tmp}", "compile", "writeLauncher"]
    with open(os.path.join(bdir, "build.log"), "w") as log:
        rc = run_group(cmd, BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                       stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (rc {rc}); see {bdir}/build.log")
    shutil.copy(os.path.join(root, "perfbench", "target", "launcher.args"), launcher)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launcher


def read_steal():
    """(steal jiffies, number of cpuN lines) from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            lines = fh.read().splitlines()
        head = lines[0].split()
        cpus = sum(1 for ln in lines if ln.startswith("cpu") and ln[3:4].isdigit())
        return (int(head[8]) if head[0] == "cpu" and len(head) > 8 else -1), cpus
    except OSError:
        return -1, 0


def steal_pct(jiffies, seconds, cpu_lines):
    """Steal as a share of host CPU capacity (jiffies are 1/100 s summed
    over the cpuN lines)."""
    if jiffies < 0 or seconds <= 0 or cpu_lines <= 0:
        return None
    return 100.0 * jiffies / (seconds * 100.0 * cpu_lines)


def verdicts_for(args, root, data_dir, run_dir, result):
    """Check verdicts, and the set of timed operation indexes they fail."""
    ops = result["ops"]
    if args.workload == "alert_run":
        cycles = result["records"]["cycles"]
        verdicts = oracle.check_alert_run(root, data_dir, cycles)
        done = {c["cycle"] for c in cycles}
        warm = result["ops_per_pass"]
        failed = set()
        for o in ops:
            k = warm + o["i"]
            if k not in done or not verdicts.get(f"cycle:{k}", (False,))[0]:
                failed.add(o["i"])
        if not verdicts["store"][0]:
            failed.update(o["i"] for o in ops)
        return verdicts, failed
    verdicts = oracle.check_queries(root, data_dir, os.path.join(run_dir, "out", "outputs"),
                                    result["outputs"])
    key_of = {"CorpusPipeline.run": "q_corpus_pipeline"}
    failed = {o["i"] for o in ops
              if not verdicts.get(key_of.get(o["name"], o["name"]), (False,))[0]}
    return verdicts, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check.py", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {part: {m["name"]: m["unit"] for m in spec[part]}
             for part in ("end_to_end", "per_layer")}
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    launcher = build(root, bdir)

    run_dir = os.path.join(bdir, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    load_avg = os.getloadavg()
    steal0, cpu_lines = read_steal()
    t0 = time.monotonic()

    data_dir = os.path.join(run_dir, "data")
    manifest = gen.generate(data_dir, args.seed, WORKLOADS[args.workload])
    cpus = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = [java, f"@{launcher}", *HEAP, f"-Djava.io.tmpdir={tmp}",
           "graftbench.Main", "--workload", args.workload, "--data", data_dir,
           "--out", os.path.join(run_dir, "out"), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", str(cpus),
           "--passes", str(PASSES[args.workload])]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, env=env, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "out", "result.json")) as fh:
        result = json.load(fh)

    verdicts, failed = verdicts_for(args, root, data_dir, run_dir, result)
    ops = result["ops"]
    for o in ops:
        if o["error"]:
            failed.add(o["i"])
    attempted = len(ops)
    correct = not failed and all(v[0] for v in verdicts.values())
    # timings come from the workload's first timed passes, which every
    # run has: a fixed set of operations at the same point of JVM
    # warm-up, however fast the host ran; operations after them count
    # only in attempted/failed and in the report
    n = result["ops_per_pass"]
    passes = PASSES[args.workload]
    timed = ops[:passes * n]
    walls = [o["wall_ms"] for o in timed]
    pass_ms = statistics.median(
        [sum(o["wall_ms"] for o in timed[k * n:(k + 1) * n]) for k in range(passes)])
    steal1, _ = read_steal()
    elapsed = time.monotonic() - t0

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "inputs": manifest["tables"],
        "host": {"loadavg_start": load_avg, "cpu_lines": cpu_lines,
                 "steal_jiffies": steal1 - steal0 if steal0 >= 0 else None,
                 "steal_pct": steal_pct(steal1 - steal0, elapsed, cpu_lines)},
        "timings": {"boot_ms": result["boot_ms"], "prepare_ms": result["prepare_ms"],
                    "warmup_ms": result["warmup_ms"], "window_ms": result["window_ms"],
                    "pass_ms": pass_ms},
        "percentiles": {q: stats.percentile(walls, q) for q in (0.5, 0.75)},
        "highest_ten_beyond": stats.highest_valid(walls),
        "ops": [{k: o[k] for k in ("i", "name", "pass", "traced", "wall_ms",
                                   "error", "steal_jiffies")} for o in ops],
        "checks": {k: {"ok": v[0], "detail": v[1]} for k, v in verdicts.items()},
        "failed_ops": sorted(failed), "warmup_errors": result["warmup_errors"],
        "records": result["records"], "fail_ratio": len(failed) / attempted,
    }

    if args.trace:
        with open(os.path.join(run_dir, "out", "trace.json")) as fh:
            tr = json.load(fh)
        analysed = trace.analyse(result, tr)
        cycles = {c["cycle"]: c for c in result["records"].get("cycles", [])}
        warm = result["ops_per_pass"]
        traced_cycles = [cycles[warm + a["op"]["i"]] for a in analysed
                         if warm + a["op"]["i"] in cycles] if cycles else []
        census = result["records"].get("census") or []
        extras = result["traced_extras"]

        def cyc(f):
            return sum(f(c) for c in traced_cycles) / len(traced_cycles) \
                if traced_cycles else 0.0

        metrics = trace.per_layer_metrics(result, analysed, {
            "dispatch.sent": cyc(lambda c: c["sent"]),
            "dispatch.failed": cyc(lambda c: c["dispatch_rows"] - c["sent"]),
            "runlog.error_rows": cyc(lambda c: c["error_rows"]),
            "curate.keep_ratio": census[-1]["capped"] / census[-1]["ingested"]
            if census else 0.0,
            "dedup.candidate_yield": extras["lsh_pairs"] / extras["lsh_candidates"]
            if extras.get("lsh_candidates") else 0.0,
            "trace.overhead_pct": trace.overhead_pct(ops),
            "fail_ratio": report["fail_ratio"],
        })
        report["self_time_max_error_ms"] = max(
            (abs(sum(a["layers"].values()) - (a["span"]["end"] - a["span"]["start"]))
             for a in analysed), default=0.0)
        report["layers_per_op"] = [{"name": a["op"]["name"], "wall_ms": a["op"]["wall_ms"],
                                    **a["layers"]} for a in analysed]
        out_metrics = {k: {"value": v, "unit": units["per_layer"][k]}
                       for k, v in metrics.items()}
        report["layer_table"] = trace.layer_markdown(
            args.workload, args.seed, result, analysed,
            metrics["trace.overhead_pct"])
    else:
        values = {
            "setup_s": (result["boot_ms"] + result["warmup_ms"]) / 1000.0,
            "pass_s": pass_ms / 1000.0,
            "op_p50_ms": stats.percentile(walls, 0.5)["value"],
            "op_p75_ms": stats.percentile(walls, 0.75)["value"],
            "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
        }
        out_metrics = {k: {"value": v, "unit": units["end_to_end"][k]}
                       for k, v in values.items()}
    report["metrics"] = out_metrics

    os.makedirs(os.path.join(bdir, "reports"), exist_ok=True)
    with open(os.path.join(bdir, "reports",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(report, fh, indent=1)
    if args.trace:
        shutil.copy(os.path.join(run_dir, "out", "trace.json"),
                    os.path.join(bdir, "reports", f"{args.workload}-spans.json"))
        with open(os.path.join(bdir, "reports", f"{args.workload}-layers.md"), "w") as fh:
            fh.write(report["layer_table"])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failed), "metrics": out_metrics}))


if __name__ == "__main__":
    main()
